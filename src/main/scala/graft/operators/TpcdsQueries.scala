package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.engine.{Engine, Rows, Status}

/** TPC-DS sampler (r14 verdict task 8): five representative TPC-DS
  * query SHAPES run through `Engine.sql` as dialect text — the
  * grouping/window combinations TPC-H never touches. TPC-DS is a
  * public benchmark specification; the texts are the official shapes
  * adapted to the synthetic star (no date_dim/item/store tables —
  * orders plays the date dimension via its o_orderdate, part plays
  * item, customer plays the demographics side, and the two sales
  * "channels" of q51 are l_returnflag slices of lineitem), with the
  * oracle gate's determinism conventions (money as DECIMAL so sums
  * are exact at any order; avg-of-money spelled sum/count; windowed
  * averages spelled sum-over/count-over so neither engine's decimal
  * avg enters).
  *
  * Shapes covered:
  *  - q3  — date-dim star with GROUP BY expression keys
  *  - q7  — multi-way star, four averages over demographic filters
  *  - q34 — HAVING count-band inside a derived table, joined back
  *  - q51 — running window over an aggregate, FULL OUTER JOIN of two
  *    channels, cross-channel cumulative comparison
  *  - q89 — windowed category mean, deviation filter (spelled in
  *    exact decimal arithmetic)
  *
  * Scale notes: every shape is a star join (comma joins desugar to
  * keyed inner joins, Catalyst pushes the equi-conjuncts), windows
  * partition by bounded keys (item/brand/category — never an empty
  * PARTITION BY), and the q51 full join shuffles both channel legs on
  * the same (item, d) key. */
object TpcdsQueries extends QueryPack {

  // declared BEFORE the oracles map that interpolates them — object
  // vals initialize in declaration order, so a forward reference
  // here silently interpolates null into every oracle
  private val EXT = "CAST(l_extendedprice AS DECIMAL(12,2))"
  private val DISC = "CAST(l_discount AS DECIMAL(4,2))"

  private def freshEngine(s: SparkSession): Engine =
    new Engine(s, Files.createTempDirectory("graft-tpcds-root").toString)

  private def require(r: graft.engine.Result, what: String): Unit =
    r match {
      case Status(false, msg) => sys.error(s"$what failed: $msg")
      case _ => ()
    }

  /** Attach the synthetic star with oracle-parity typing (same
    * conventions as TpchQueries.attachAll: money DECIMAL(12,2),
    * rates DECIMAL(4,2), dates as ns longs with time coercion). */
  private def attach(eng: Engine, s: SparkSession, d: String): Unit = {
    def money(c: String) = col(c).cast("decimal(12,2)").as(c)
    def rate(c: String) = col(c).cast("decimal(4,2)").as(c)
    def ns(c: String) = (col(c).cast("long") * 1000000000L).as(c)
    eng.attachTable("lineitem", Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      col("l_quantity"), money("l_extendedprice"),
      rate("l_discount"), rate("l_tax"),
      col("l_returnflag"), ns("l_shipdate")),
      timeCols = Set("l_shipdate"))
    eng.attachTable("orders", Tables.orders(s, d).select(
      col("o_orderkey"), col("o_custkey"), ns("o_orderdate"),
      col("o_orderpriority")), timeCols = Set("o_orderdate"))
    eng.attachTable("customer", Tables.customer(s, d).select(
      col("c_custkey"), col("c_name"), col("c_mktsegment")))
    eng.attachTable("part", Tables.part(s, d).select(
      col("p_partkey"), col("p_brand"), col("p_type"), col("p_size")))
  }

  private def tpcds(name: String, sql: String)
      : (SparkSession, String) => DataFrame = (s, d) => {
    val eng = freshEngine(s)
    eng.script(s"create scope tpcds_$name; use tpcds_$name")
      .foreach(require(_, s"$name ddl"))
    attach(eng, s, d)
    eng.sql(sql) match {
      case Rows(df) => df
      case other => sys.error(s"$name select failed: $other")
    }
  }

  protected val entries: Map[String, Query] = Map(
    // q3: the date-dim star — brand revenue for one calendar month
    // across all years; GROUP BY carries the year() EXPRESSION key
    "q412_tpcds_q3" -> tpcds("q3",
      "select year(o_orderdate) as d_year, p_brand as brand, " +
        "tofloat(sum(l_extendedprice * (1 - l_discount))) as sum_agg " +
        "from orders, lineitem, part " +
        "where l_orderkey = o_orderkey and l_partkey = p_partkey " +
        "and p_size = 3 and month(o_orderdate) = 11 " +
        "group by year(o_orderdate), p_brand " +
        "order by d_year, sum_agg desc, brand"),
    // q7: multi-way star with four demographic-filtered averages
    // (avg-of-money spelled sum/count on both engines)
    "q413_tpcds_q7" -> tpcds("q7",
      "select p_brand as item_id, " +
        "avg(l_quantity) as agg1, " +
        "tofloat(sum(l_extendedprice)) / count(*) as agg2, " +
        "tofloat(sum(l_discount)) / count(*) as agg3, " +
        "tofloat(sum(l_tax)) / count(*) as agg4 " +
        "from lineitem, orders, customer, part " +
        "where l_orderkey = o_orderkey and o_custkey = c_custkey " +
        "and l_partkey = p_partkey and c_mktsegment = 'BUILDING' " +
        "and year(o_orderdate) = 1996 " +
        "group by p_brand order by p_brand limit 100"),
    // q34: the count-band ticket analysis — lines-per-order counted
    // in a derived table, banded by HAVING, joined back to customer
    "q414_tpcds_q34" -> tpcds("q34",
      "select c_name, ticket, cnt from " +
        "(select o_custkey as ck, o_orderkey as ticket, " +
        "  count(*) as cnt from orders, lineitem " +
        "  where o_orderkey = l_orderkey " +
        "  and o_orderpriority <> '1-URGENT' " +
        "  group by o_custkey, o_orderkey " +
        "  having count(*) between 5 and 7) dn, customer " +
        "where ck = c_custkey " +
        "order by c_name, cnt desc, ticket"),
    // q51: cumulative channel comparison — per-item daily revenue per
    // channel (returnflag slices), running sum via window, FULL OUTER
    // JOIN of the channels, keep days where the web channel's
    // cumulative revenue exceeds the store channel's
    "q415_tpcds_q51" -> tpcds("q51",
      "with store as (select l_partkey as item, l_shipdate as d, " +
        "  sum(l_extendedprice) as rev from lineitem " +
        "  where l_returnflag = 'A' group by l_partkey, l_shipdate), " +
        "web as (select l_partkey as item, l_shipdate as d, " +
        "  sum(l_extendedprice) as rev from lineitem " +
        "  where l_returnflag = 'N' group by l_partkey, l_shipdate), " +
        "sc as (select item, d, sum(rev) over (partition by item " +
        "  order by d) as cume from store), " +
        "wc as (select item, d, sum(rev) over (partition by item " +
        "  order by d) as cume from web) " +
        "select wc.item as item, wc.d as d, " +
        "tofloat(wc.cume) as web_cume, tofloat(sc.cume) as store_cume " +
        "from wc full outer join sc " +
        "on wc.item = sc.item and wc.d = sc.d " +
        "where wc.cume > sc.cume " +
        "order by item, d limit 100"),
    // q89: windowed category deviation — monthly brand×type sales vs
    // the category's mean month, deviation > 10% kept. The mean and
    // the 10% test are EXACT decimal arithmetic (sum-over/count-over
    // and 10·|s·n − tot| > tot), so neither engine's avg enters.
    "q416_tpcds_q89" -> tpcds("q89",
      "with m as (select p_brand as brand, p_type as cat, " +
        "  month(o_orderdate) as moy, " +
        "  sum(l_extendedprice) as sum_sales " +
        "  from lineitem, orders, part " +
        "  where l_orderkey = o_orderkey and l_partkey = p_partkey " +
        "  and year(o_orderdate) = 1996 " +
        "  group by p_brand, p_type, month(o_orderdate)), " +
        "a as (select brand, cat, moy, sum_sales, " +
        "  sum(sum_sales) over (partition by brand, cat) as tot, " +
        "  count(*) over (partition by brand, cat) as nm from m) " +
        "select brand, cat, moy, tofloat(sum_sales) as sum_sales, " +
        "round(tofloat(tot) / nm, 6) as avg_monthly " +
        "from a where 10 * abs(sum_sales * nm - tot) > tot " +
        "order by brand, cat, moy limit 100"),
    // ── the grouping-grid shapes (r15 verdict task 6) ───────────────
    // TPC-DS's distinctive ROLLUP-with-GROUPING() family: subtotal
    // grids where GROUPING() both labels the hierarchy level
    // (lochierarchy) and keys the rank's partition (rank WITHIN the
    // parent level). One Expand per rollup — the subtotal rows ride
    // the same single aggregate, never a second scan.
    //
    // q36 shape: gross-margin hierarchy — margin over
    // rollup(category, brand), ranked within each hierarchy level.
    // parent_cat is NULL exactly on the subtotal/grand rows, so the
    // rank partitions are (leaf level × category), (subtotal level),
    // (grand) — the official query's CASE-keyed partitioning.
    "q419_tpcds_q36" -> tpcds("q36",
      "with g as (select " +
        "  tofloat(sum(l_extendedprice * l_discount)) as profit, " +
        "  tofloat(sum(l_extendedprice)) as rev, " +
        "  p_type, p_brand, " +
        "  grouping(p_type) + grouping(p_brand) as lochierarchy, " +
        "  case when grouping(p_brand) = 0 then p_type end " +
        "    as parent_cat " +
        "from lineitem, part where l_partkey = p_partkey " +
        "group by rollup(p_type, p_brand)) " +
        "select lochierarchy, " +
        "coalesce(p_type, 'ALL') as category, " +
        "coalesce(p_brand, 'ALL') as brand, " +
        "round(profit / rev, 6) as gross_margin, " +
        "rank() over (partition by lochierarchy, parent_cat " +
        "  order by profit / rev) as rank_within_parent " +
        "from g order by lochierarchy desc, category, brand"),
    // q67 shape: rollup-over-window — the widest grid (category,
    // brand, year), then rank the grid rows within each category by
    // sales. The year key is an EXPRESSION, pre-computed in a base
    // CTE because rollup lists are plain fields (dialect rule); the
    // rollup then runs over the CTE's columns. Rank ties share a
    // rank (no tiebreaker — NULL ordering conventions differ between
    // engines, equal ranks don't).
    "q420_tpcds_q67" -> tpcds("q67",
      "with base as (select p_type, p_brand, " +
        "  year(o_orderdate) as d_year, l_quantity " +
        "  from lineitem, orders, part " +
        "  where l_orderkey = o_orderkey and l_partkey = p_partkey), " +
        "s as (select p_type, p_brand, d_year, " +
        "  sum(toint(l_quantity)) as sumsales " +
        "  from base group by rollup(p_type, p_brand, d_year)), " +
        "r as (select p_type, p_brand, d_year, sumsales, " +
        "  rank() over (partition by p_type " +
        "    order by sumsales desc) as rk from s) " +
        "select coalesce(p_type, 'ALL') as category, " +
        "coalesce(p_brand, 'ALL') as brand, " +
        "coalesce(d_year, 0) as d_year, sumsales, rk " +
        "from r where rk <= 3 " +
        "order by category, rk, brand, d_year"),
    // q86 shape: date-filtered revenue rollup ranked desc within the
    // parent — the q36 grid over a one-year star slice, ordered by
    // the level-aware key
    "q421_tpcds_q86" -> tpcds("q86",
      "with g as (select " +
        "  tofloat(sum(l_extendedprice)) as total_sum, " +
        "  p_type, p_brand, " +
        "  grouping(p_type) + grouping(p_brand) as lochierarchy, " +
        "  case when grouping(p_brand) = 0 then p_type end " +
        "    as parent_cat " +
        "from lineitem, orders, part " +
        "where l_orderkey = o_orderkey and l_partkey = p_partkey " +
        "and year(o_orderdate) = 1996 " +
        "group by rollup(p_type, p_brand)) " +
        "select round(total_sum, 2) as total_sum, " +
        "coalesce(p_type, 'ALL') as category, " +
        "coalesce(p_brand, 'ALL') as brand, lochierarchy, " +
        "rank() over (partition by lochierarchy, parent_cat " +
        "  order by total_sum desc) as rank_within_parent " +
        "from g order by lochierarchy desc, category, brand")
  )

  val oracles: Map[String, String] = Map(
    "q412_tpcds_q3" ->
      s"""SELECT year(o_orderdate) AS d_year, p_brand AS brand,
        |  CAST(sum($EXT * (1 - $DISC)) AS DOUBLE) AS sum_agg
        | FROM orders, lineitem, part
        | WHERE l_orderkey = o_orderkey AND l_partkey = p_partkey
        |  AND p_size = 3 AND month(o_orderdate) = 11
        | GROUP BY year(o_orderdate), p_brand
        | ORDER BY d_year, sum_agg DESC, brand""".stripMargin,
    "q413_tpcds_q7" ->
      s"""SELECT p_brand AS item_id,
        |  avg(l_quantity) AS agg1,
        |  CAST(sum($EXT) AS DOUBLE) / count(*) AS agg2,
        |  CAST(sum($DISC) AS DOUBLE) / count(*) AS agg3,
        |  CAST(sum(CAST(l_tax AS DECIMAL(4,2))) AS DOUBLE) / count(*)
        |    AS agg4
        | FROM lineitem, orders, customer, part
        | WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_partkey = p_partkey AND c_mktsegment = 'BUILDING'
        |  AND year(o_orderdate) = 1996
        | GROUP BY p_brand ORDER BY p_brand LIMIT 100""".stripMargin,
    "q414_tpcds_q34" ->
      """SELECT c_name, ticket, cnt FROM
        | (SELECT o_custkey AS ck, o_orderkey AS ticket,
        |   CAST(count(*) AS BIGINT) AS cnt FROM orders, lineitem
        |  WHERE o_orderkey = l_orderkey
        |   AND o_orderpriority <> '1-URGENT'
        |  GROUP BY o_custkey, o_orderkey
        |  HAVING count(*) BETWEEN 5 AND 7) dn, customer
        | WHERE ck = c_custkey
        | ORDER BY c_name, cnt DESC, ticket""".stripMargin,
    "q415_tpcds_q51" ->
      s"""WITH store AS (SELECT l_partkey AS item, l_shipdate AS d,
        |   sum($EXT) AS rev FROM lineitem
        |  WHERE l_returnflag = 'A' GROUP BY l_partkey, l_shipdate),
        | web AS (SELECT l_partkey AS item, l_shipdate AS d,
        |   sum($EXT) AS rev FROM lineitem
        |  WHERE l_returnflag = 'N' GROUP BY l_partkey, l_shipdate),
        | sc AS (SELECT item, d, sum(rev) OVER (PARTITION BY item
        |   ORDER BY d) AS cume FROM store),
        | wc AS (SELECT item, d, sum(rev) OVER (PARTITION BY item
        |   ORDER BY d) AS cume FROM web)
        | SELECT wc.item AS item, epoch_us(wc.d) * 1000 AS d,
        |  CAST(wc.cume AS DOUBLE) AS web_cume,
        |  CAST(sc.cume AS DOUBLE) AS store_cume
        | FROM wc FULL OUTER JOIN sc
        |  ON wc.item = sc.item AND wc.d = sc.d
        | WHERE wc.cume > sc.cume
        | ORDER BY item, d LIMIT 100""".stripMargin,
    "q416_tpcds_q89" ->
      s"""WITH m AS (SELECT p_brand AS brand, p_type AS cat,
        |   month(o_orderdate) AS moy, sum($EXT) AS sum_sales
        |  FROM lineitem, orders, part
        |  WHERE l_orderkey = o_orderkey AND l_partkey = p_partkey
        |   AND year(o_orderdate) = 1996
        |  GROUP BY p_brand, p_type, month(o_orderdate)),
        | a AS (SELECT brand, cat, moy, sum_sales,
        |   sum(sum_sales) OVER (PARTITION BY brand, cat) AS tot,
        |   count(*) OVER (PARTITION BY brand, cat) AS nm FROM m)
        | SELECT brand, cat, CAST(moy AS BIGINT) AS moy,
        |  CAST(sum_sales AS DOUBLE) AS sum_sales,
        |  round(CAST(tot AS DOUBLE) / nm, 6) AS avg_monthly
        | FROM a WHERE 10 * abs(sum_sales * nm - tot) > tot
        | ORDER BY brand, cat, moy LIMIT 100""".stripMargin,
    // grouping-grid shapes: DuckDB runs ROLLUP + GROUPING() natively
    // — same text modulo the oracle-typing conventions (tofloat →
    // CAST AS DOUBLE, BIGINT casts on grid/rank outputs)
    "q419_tpcds_q36" ->
      s"""WITH g AS (SELECT
        |   CAST(sum($EXT * $DISC) AS DOUBLE) AS profit,
        |   CAST(sum($EXT) AS DOUBLE) AS rev,
        |   p_type, p_brand,
        |   CAST(GROUPING(p_type) + GROUPING(p_brand) AS BIGINT)
        |     AS lochierarchy,
        |   CASE WHEN GROUPING(p_brand) = 0 THEN p_type END
        |     AS parent_cat
        |  FROM lineitem, part WHERE l_partkey = p_partkey
        |  GROUP BY ROLLUP(p_type, p_brand))
        | SELECT lochierarchy, coalesce(p_type, 'ALL') AS category,
        |  coalesce(p_brand, 'ALL') AS brand,
        |  round(profit / rev, 6) AS gross_margin,
        |  CAST(rank() OVER (PARTITION BY lochierarchy, parent_cat
        |    ORDER BY profit / rev) AS BIGINT) AS rank_within_parent
        | FROM g
        | ORDER BY lochierarchy DESC, category, brand""".stripMargin,
    "q420_tpcds_q67" ->
      s"""WITH base AS (SELECT p_type, p_brand,
        |   year(o_orderdate) AS d_year, l_quantity
        |  FROM lineitem, orders, part
        |  WHERE l_orderkey = o_orderkey AND l_partkey = p_partkey),
        | s AS (SELECT p_type, p_brand, d_year,
        |   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sumsales
        |  FROM base GROUP BY ROLLUP(p_type, p_brand, d_year)),
        | r AS (SELECT p_type, p_brand, d_year, sumsales,
        |   CAST(rank() OVER (PARTITION BY p_type
        |     ORDER BY sumsales DESC) AS BIGINT) AS rk FROM s)
        | SELECT coalesce(p_type, 'ALL') AS category,
        |  coalesce(p_brand, 'ALL') AS brand,
        |  CAST(coalesce(d_year, 0) AS BIGINT) AS d_year, sumsales, rk
        | FROM r WHERE rk <= 3
        | ORDER BY category, rk, brand, d_year""".stripMargin,
    "q421_tpcds_q86" ->
      s"""WITH g AS (SELECT
        |   CAST(sum($EXT) AS DOUBLE) AS total_sum,
        |   p_type, p_brand,
        |   CAST(GROUPING(p_type) + GROUPING(p_brand) AS BIGINT)
        |     AS lochierarchy,
        |   CASE WHEN GROUPING(p_brand) = 0 THEN p_type END
        |     AS parent_cat
        |  FROM lineitem, orders, part
        |  WHERE l_orderkey = o_orderkey AND l_partkey = p_partkey
        |   AND year(o_orderdate) = 1996
        |  GROUP BY ROLLUP(p_type, p_brand))
        | SELECT round(total_sum, 2) AS total_sum,
        |  coalesce(p_type, 'ALL') AS category,
        |  coalesce(p_brand, 'ALL') AS brand, lochierarchy,
        |  CAST(rank() OVER (PARTITION BY lochierarchy, parent_cat
        |    ORDER BY total_sum DESC) AS BIGINT) AS rank_within_parent
        | FROM g
        | ORDER BY lochierarchy DESC, category, brand""".stripMargin
  )
}
