package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.engine.{Engine, Rows, Status}

/** The remaining 16 official TPC-H query shapes (q1, q3, q5–q16, q18,
  * q19) run through `Engine.sql` as dialect text — with the correlated
  * quartet + q2 + q22 already in [[EngineQueries]] (q384–q390), this
  * makes all 22 TPC-H queries engine-green. The texts are the official
  * shapes adapted ONLY where the synthetic schema lacks a column or
  * table (no partsupp → lineitem plays the supply table; no
  * l_commitdate/l_receiptdate → the l_discount/l_tax pair plays the
  * "late" predicate; no l_shipmode/o_comment/p_container → the
  * return-flag/priority/type columns play the categorical role), plus
  * the oracle gate's determinism conventions (money columns attach as
  * DECIMAL so every revenue sum is EXACT at any aggregation order —
  * the engine sums decimals natively and `tofloat` casts the result;
  * DuckDB applies the identical casts; avg-of-money is spelled
  * sum/count on both sides so neither engine's avg rounding enters).
  *
  * Scale notes: every query is the classic star-join shape — comma
  * joins desugar to inner joins whose equi-conjuncts Catalyst pushes
  * down (PLANS.md shows keyed joins, zero cartesian for the quartet;
  * the sweep reuses the same machinery), aggregates combine map-side,
  * and the only driver-side values are the uncorrelated scalars each
  * official text contains (one bounded row apiece). */
object TpchQueries extends QueryPack {

  private def freshEngine(s: SparkSession): Engine =
    new Engine(s, Files.createTempDirectory("graft-tpch-root").toString)

  private def require(r: graft.engine.Result, what: String): Unit =
    r match {
      case Status(false, msg) => sys.error(s"$what failed: $msg")
      case _ => ()
    }

  /** Attach the full TPC-H-ish star with oracle-parity typing: money
    * as DECIMAL(12,2), rates as DECIMAL(4,2), dates as ns longs with
    * time-literal coercion declared. */
  private def attachAll(eng: Engine, s: SparkSession, d: String): Unit = {
    def money(c: String) = col(c).cast("decimal(12,2)").as(c)
    def rate(c: String) = col(c).cast("decimal(4,2)").as(c)
    def ns(c: String) = (col(c).cast("long") * 1000000000L).as(c)
    eng.attachTable("lineitem", Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      col("l_linenumber").cast("long").as("l_linenumber"),
      col("l_quantity"), money("l_extendedprice"),
      rate("l_discount"), rate("l_tax"),
      col("l_returnflag"), col("l_linestatus"), ns("l_shipdate")),
      timeCols = Set("l_shipdate"))
    eng.attachTable("orders", Tables.orders(s, d).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      money("o_totalprice"), ns("o_orderdate"), col("o_orderpriority")),
      timeCols = Set("o_orderdate"))
    eng.attachTable("customer", Tables.customer(s, d).select(
      col("c_custkey"), col("c_name"), col("c_nationkey"),
      money("c_acctbal"), col("c_mktsegment")))
    eng.attachTable("supplier", Tables.supplier(s, d).select(
      col("s_suppkey"), col("s_name"), col("s_nationkey"),
      money("s_acctbal")))
    eng.attachTable("part", Tables.part(s, d).select(
      col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
      col("p_size"), money("p_retailprice")))
    eng.attachTable("nation", Tables.nation(s, d))
    eng.attachTable("region", Tables.region(s, d))
  }

  /** Run one dialect statement against a fresh fully-attached engine. */
  private def tpch(name: String, sql: String)
      : (SparkSession, String) => DataFrame = (s, d) => {
    val eng = freshEngine(s)
    eng.script(s"create scope tpch_$name; use tpch_$name")
      .foreach(require(_, s"$name ddl"))
    attachAll(eng, s, d)
    eng.sql(sql) match {
      case Rows(df) => df
      case other => sys.error(s"$name select failed: $other")
    }
  }

  protected val entries: Map[String, Query] = Map(
    // q1 pricing summary — the iconic aggregate; decimal-exact money
    // sums, avg-of-money as sum/count (determinism note above)
    "q392_tpch_q1" -> tpch("q1",
      "select l_returnflag, l_linestatus, " +
        "sum(l_quantity) as sum_qty, " +
        "tofloat(sum(l_extendedprice)) as sum_base_price, " +
        "tofloat(sum(l_extendedprice * (1 - l_discount))) " +
        "  as sum_disc_price, " +
        "tofloat(sum(l_extendedprice * (1 - l_discount) * " +
        "  (1 + l_tax))) as sum_charge, " +
        "avg(l_quantity) as avg_qty, " +
        "tofloat(sum(l_extendedprice)) / count(*) as avg_price, " +
        "tofloat(sum(l_discount)) / count(*) as avg_disc, " +
        "count(*) as count_order " +
        "from lineitem where l_shipdate <= '1998-09-02' " +
        "group by l_returnflag, l_linestatus " +
        "order by l_returnflag, l_linestatus"),
    // q3 shipping priority (o_shippriority → o_orderpriority;
    // l_orderkey added to ORDER BY for a total order under LIMIT)
    "q393_tpch_q3" -> tpch("q3",
      "select l_orderkey, " +
        "tofloat(sum(l_extendedprice * (1 - l_discount))) as revenue, " +
        "o_orderdate, o_orderpriority " +
        "from customer, orders, lineitem " +
        "where c_mktsegment = 'BUILDING' " +
        "and c_custkey = o_custkey and l_orderkey = o_orderkey " +
        "and o_orderdate < '1997-03-15' and l_shipdate > '1997-03-15' " +
        "group by l_orderkey, o_orderdate, o_orderpriority " +
        "order by revenue desc, o_orderdate, l_orderkey limit 10"),
    // q5 local supplier volume — six-table comma join with the
    // customer-nation = supplier-nation twist
    "q394_tpch_q5" -> tpch("q5",
      "select n_name, " +
        "tofloat(sum(l_extendedprice * (1 - l_discount))) as revenue " +
        "from customer, orders, lineitem, supplier, nation, region " +
        "where c_custkey = o_custkey and l_orderkey = o_orderkey " +
        "and l_suppkey = s_suppkey and c_nationkey = s_nationkey " +
        "and s_nationkey = n_nationkey and n_regionkey = r_regionkey " +
        "and r_name = 'ASIA' and o_orderdate >= '1996-01-01' " +
        "and o_orderdate < '1997-01-01' " +
        "group by n_name order by revenue desc, n_name"),
    // q6 forecasting revenue change — pure scan-side predicate work
    "q395_tpch_q6" -> tpch("q6",
      "select tofloat(sum(l_extendedprice * l_discount)) as revenue " +
        "from lineitem " +
        "where l_shipdate >= '1996-01-01' and l_shipdate < '1997-01-01' " +
        "and l_discount between 0.03 and 0.05 and l_quantity < 24"),
    // q7 volume shipping — derived table over a SELF-joined nation
    // pair (n1/n2) with the symmetric OR
    "q396_tpch_q7" -> tpch("q7",
      "select supp_nation, cust_nation, l_year, " +
        "tofloat(sum(volume)) as revenue from ( " +
        "  select n1.n_name as supp_nation, n2.n_name as cust_nation, " +
        "    year(l_shipdate) as l_year, " +
        "    l_extendedprice * (1 - l_discount) as volume " +
        "  from supplier, lineitem, orders, customer, " +
        "    nation n1, nation n2 " +
        "  where s_suppkey = l_suppkey and o_orderkey = l_orderkey " +
        "  and c_custkey = o_custkey " +
        "  and s_nationkey = n1.n_nationkey " +
        "  and c_nationkey = n2.n_nationkey " +
        "  and ((n1.n_name = 'NATION_1' and n2.n_name = 'NATION_2') " +
        "    or (n1.n_name = 'NATION_2' and n2.n_name = 'NATION_1')) " +
        "  and l_shipdate >= '1996-01-01' " +
        "  and l_shipdate <= '1997-12-31' " +
        ") as shipping " +
        "group by supp_nation, cust_nation, l_year " +
        "order by supp_nation, cust_nation, l_year"),
    // q8 national market share — eight-table comma join, case-sum
    // ratio (exact decimal sums on both sides → identical doubles)
    "q397_tpch_q8" -> tpch("q8",
      "select o_year, " +
        "round(tofloat(sum(case when nat = 'NATION_2' then volume " +
        "  else 0 end)) / tofloat(sum(volume)), 6) as mkt_share " +
        "from ( " +
        "  select year(o_orderdate) as o_year, " +
        "    l_extendedprice * (1 - l_discount) as volume, " +
        "    n2.n_name as nat " +
        "  from part, supplier, lineitem, orders, customer, " +
        "    nation n1, nation n2, region " +
        "  where p_partkey = l_partkey and s_suppkey = l_suppkey " +
        "  and l_orderkey = o_orderkey and o_custkey = c_custkey " +
        "  and c_nationkey = n1.n_nationkey " +
        "  and n1.n_regionkey = r_regionkey and r_name = 'ASIA' " +
        "  and s_nationkey = n2.n_nationkey " +
        "  and o_orderdate >= '1996-01-01' " +
        "  and o_orderdate <= '1997-12-31' " +
        "  and p_type = 'STANDARD' " +
        ") as all_nations group by o_year order by o_year"),
    // q9 product type profit (ps_supplycost·qty → p_retailprice:
    // profit stays decimal-exact)
    "q398_tpch_q9" -> tpch("q9",
      "select nat, o_year, tofloat(sum(amount)) as sum_profit from ( " +
        "  select n_name as nat, year(o_orderdate) as o_year, " +
        "    l_extendedprice * (1 - l_discount) - p_retailprice " +
        "      as amount " +
        "  from part, supplier, lineitem, orders, nation " +
        "  where s_suppkey = l_suppkey and p_partkey = l_partkey " +
        "  and o_orderkey = l_orderkey and s_nationkey = n_nationkey " +
        "  and p_name like '%red%' " +
        ") as profit group by nat, o_year " +
        "order by nat, o_year desc"),
    // q10 returned item reporting — top-20 revenue losers
    "q399_tpch_q10" -> tpch("q10",
      "select c_custkey, c_name, " +
        "tofloat(sum(l_extendedprice * (1 - l_discount))) as revenue, " +
        "tofloat(c_acctbal) as acctbal, n_name " +
        "from customer, orders, lineitem, nation " +
        "where c_custkey = o_custkey and l_orderkey = o_orderkey " +
        "and o_orderdate >= '1996-10-01' " +
        "and o_orderdate < '1997-01-01' " +
        "and l_returnflag = 'R' and c_nationkey = n_nationkey " +
        "group by c_custkey, c_name, c_acctbal, n_name " +
        "order by revenue desc, c_custkey limit 20"),
    // q11 important stock (partsupp → lineitem): HAVING against an
    // uncorrelated scalar over the same join
    "q400_tpch_q11" -> tpch("q11",
      "select l_partkey, tofloat(sum(l_extendedprice)) as part_value " +
        "from lineitem, supplier, nation " +
        "where l_suppkey = s_suppkey and s_nationkey = n_nationkey " +
        "and n_name = 'NATION_5' " +
        "group by l_partkey " +
        "having sum(l_extendedprice) > ( " +
        "  select sum(l_extendedprice) * 0.0001 " +
        "  from lineitem, supplier, nation " +
        "  where l_suppkey = s_suppkey and s_nationkey = n_nationkey " +
        "  and n_name = 'NATION_5') " +
        "order by part_value desc, l_partkey"),
    // q12 shipping modes and order priority (l_shipmode →
    // l_returnflag; late ⇒ l_discount > l_tax)
    "q401_tpch_q12" -> tpch("q12",
      "select l_returnflag, " +
        "sum(case when o_orderpriority = '1-URGENT' " +
        "  or o_orderpriority = '2-HIGH' then 1 else 0 end) " +
        "  as high_line_count, " +
        "sum(case when o_orderpriority <> '1-URGENT' " +
        "  and o_orderpriority <> '2-HIGH' then 1 else 0 end) " +
        "  as low_line_count " +
        "from orders, lineitem " +
        "where o_orderkey = l_orderkey " +
        "and l_returnflag in ('A', 'N') and l_discount > l_tax " +
        "and l_shipdate >= '1996-01-01' and l_shipdate < '1997-01-01' " +
        "group by l_returnflag order by l_returnflag"),
    // q13 customer distribution — LEFT JOIN with a compound ON
    // (o_comment NOT LIKE → o_orderpriority NOT LIKE), re-grouped
    // through a derived table
    "q402_tpch_q13" -> tpch("q13",
      "select c_count, count(*) as custdist from ( " +
        "  select c_custkey as ck, count(o_orderkey) as c_count " +
        "  from customer left join orders " +
        "    on c_custkey = o_custkey " +
        "    and o_orderpriority not like '3%' " +
        "  group by c_custkey " +
        ") as c_orders " +
        "group by c_count order by custdist desc, c_count desc"),
    // q14 promotion effect — LIKE inside CASE, exact-sum ratio
    "q403_tpch_q14" -> tpch("q14",
      "select round(100.00 * tofloat(sum(case " +
        "  when p_type like 'PROMO%' " +
        "  then l_extendedprice * (1 - l_discount) else 0 end)) / " +
        "  tofloat(sum(l_extendedprice * (1 - l_discount))), 6) " +
        "  as promo_revenue " +
        "from lineitem, part " +
        "where l_partkey = p_partkey " +
        "and l_shipdate >= '1996-09-01' and l_shipdate < '1996-10-01'"),
    // q16 parts/supplier relationship (partsupp → lineitem):
    // count(distinct) + NOT IN subquery + NOT LIKE + IN list
    "q405_tpch_q16" -> tpch("q16",
      "select p_brand, p_type, p_size, " +
        "count(distinct l_suppkey) as supplier_cnt " +
        "from lineitem, part " +
        "where p_partkey = l_partkey " +
        "and p_brand <> 'Brand#1' and p_type not like 'PROMO%' " +
        "and p_size in (1, 4, 7, 10, 14, 23, 25, 45) " +
        "and l_suppkey not in (select s_suppkey from supplier " +
        "  where s_name like '%00001%') " +
        "group by p_brand, p_type, p_size " +
        "order by supplier_cnt desc, p_brand, p_type, p_size"),
    // q18 large volume customers — IN over a GROUP BY + HAVING
    // subquery (threshold 150: this corpus tops out at 458/order)
    "q406_tpch_q18" -> tpch("q18",
      "select c_name, c_custkey, o_orderkey, o_orderdate, " +
        "tofloat(o_totalprice) as total_price, " +
        "sum(l_quantity) as sum_qty " +
        "from customer, orders, lineitem " +
        "where o_orderkey in (select l_orderkey from lineitem " +
        "  group by l_orderkey having sum(l_quantity) > 150) " +
        "and c_custkey = o_custkey and o_orderkey = l_orderkey " +
        "group by c_name, c_custkey, o_orderkey, o_orderdate, " +
        "  o_totalprice " +
        "order by total_price desc, o_orderkey limit 100"),
    // q19 discounted revenue — the OR-of-AND-blocks join predicate
    // (each disjunct carries the equi key; Catalyst's CNF conversion
    // extracts it, so the plan is a keyed join + residual OR)
    "q407_tpch_q19" -> tpch("q19",
      "select tofloat(sum(l_extendedprice * (1 - l_discount))) " +
        "  as revenue " +
        "from lineitem, part where " +
        "(p_partkey = l_partkey and p_brand = 'Brand#1' " +
        "  and p_size between 1 and 5 " +
        "  and l_quantity between 1 and 11) " +
        "or (p_partkey = l_partkey and p_brand = 'Brand#2' " +
        "  and p_size between 1 and 10 " +
        "  and l_quantity between 10 and 20) " +
        "or (p_partkey = l_partkey and p_brand = 'Brand#3' " +
        "  and p_size between 1 and 15 " +
        "  and l_quantity between 20 and 30)"),
    // q15 top supplier — CREATE VIEW + the view twice (once in the
    // comma FROM, once under the uncorrelated MAX scalar)
    "q404_tpch_q15" -> ((s, d) => {
      val eng = freshEngine(s)
      eng.script("create scope tpch_q15; use tpch_q15")
        .foreach(require(_, "q15 ddl"))
      attachAll(eng, s, d)
      require(eng.sql("create view revenue0 as " +
        "select l_suppkey as supplier_no, " +
        "tofloat(sum(l_extendedprice * (1 - l_discount))) " +
        "  as total_revenue " +
        "from lineitem " +
        "where l_shipdate >= '1996-01-01' and l_shipdate < '1996-04-01' " +
        "group by l_suppkey"), "q15 view")
      eng.sql("select s_suppkey, s_name, total_revenue " +
        "from supplier, revenue0 " +
        "where s_suppkey = supplier_no " +
        "and total_revenue = (select max(total_revenue) from revenue0) " +
        "order by s_suppkey") match {
        case Rows(df) => df
        case other => sys.error(s"q15 select failed: $other")
      }
    })
  )

  private val EXT = "CAST(l_extendedprice AS DECIMAL(12,2))"
  private val DISC = "CAST(l_discount AS DECIMAL(4,2))"
  private val TAX = "CAST(l_tax AS DECIMAL(4,2))"

  val oracles: Map[String, String] = Map(
    "q392_tpch_q1" ->
      s"""SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum($EXT) AS DOUBLE) AS sum_base_price,
        |  CAST(sum($EXT * (1 - $DISC)) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum($EXT * (1 - $DISC) * (1 + $TAX)) AS DOUBLE)
        |    AS sum_charge,
        |  avg(l_quantity) AS avg_qty,
        |  CAST(sum($EXT) AS DOUBLE) / count(*) AS avg_price,
        |  CAST(sum($DISC) AS DOUBLE) / count(*) AS avg_disc,
        |  CAST(count(*) AS BIGINT) AS count_order
        | FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        | GROUP BY l_returnflag, l_linestatus
        | ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q393_tpch_q3" ->
      s"""SELECT l_orderkey,
        |  CAST(sum($EXT * (1 - $DISC)) AS DOUBLE) AS revenue,
        |  epoch_us(o_orderdate) * 1000 AS o_orderdate, o_orderpriority
        | FROM customer, orders, lineitem
        | WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1997-03-15'
        |  AND l_shipdate > TIMESTAMP '1997-03-15'
        | GROUP BY l_orderkey, o_orderdate, o_orderpriority
        | ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"""
        .stripMargin,
    "q394_tpch_q5" ->
      s"""SELECT n_name,
        |  CAST(sum($EXT * (1 - $DISC)) AS DOUBLE) AS revenue
        | FROM customer, orders, lineitem, supplier, nation, region
        | WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        | GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q395_tpch_q6" ->
      s"""SELECT CAST(sum($EXT * $DISC) AS DOUBLE) AS revenue
        | FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.05
        |  AND l_quantity < 24""".stripMargin,
    "q396_tpch_q7" ->
      s"""SELECT supp_nation, cust_nation, l_year,
        |  CAST(sum(volume) AS DOUBLE) AS revenue
        | FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |   year(l_shipdate) AS l_year,
        |   $EXT * (1 - $DISC) AS volume
        |  FROM supplier, lineitem, orders, customer,
        |   nation n1, nation n2
        |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |   AND c_custkey = o_custkey
        |   AND s_nationkey = n1.n_nationkey
        |   AND c_nationkey = n2.n_nationkey
        |   AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |   AND l_shipdate >= TIMESTAMP '1996-01-01'
        |   AND l_shipdate <= TIMESTAMP '1997-12-31'
        | ) AS shipping
        | GROUP BY supp_nation, cust_nation, l_year
        | ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q397_tpch_q8" ->
      s"""SELECT o_year,
        |  round(CAST(sum(CASE WHEN nat = 'NATION_2' THEN volume
        |    ELSE 0 END) AS DOUBLE) / CAST(sum(volume) AS DOUBLE), 6)
        |   AS mkt_share
        | FROM (
        |  SELECT year(o_orderdate) AS o_year,
        |   $EXT * (1 - $DISC) AS volume, n2.n_name AS nat
        |  FROM part, supplier, lineitem, orders, customer,
        |   nation n1, nation n2, region
        |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |   AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        |   AND c_nationkey = n1.n_nationkey
        |   AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |   AND s_nationkey = n2.n_nationkey
        |   AND o_orderdate >= TIMESTAMP '1996-01-01'
        |   AND o_orderdate <= TIMESTAMP '1997-12-31'
        |   AND p_type = 'STANDARD'
        | ) AS all_nations GROUP BY o_year ORDER BY o_year"""
        .stripMargin,
    "q398_tpch_q9" ->
      s"""SELECT nat, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
        | FROM (
        |  SELECT n_name AS nat, year(o_orderdate) AS o_year,
        |   $EXT * (1 - $DISC)
        |    - CAST(p_retailprice AS DECIMAL(12,2)) AS amount
        |  FROM part, supplier, lineitem, orders, nation
        |  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
        |   AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        |   AND p_name LIKE '%red%'
        | ) AS profit GROUP BY nat, o_year
        | ORDER BY nat, o_year DESC""".stripMargin,
    "q399_tpch_q10" ->
      s"""SELECT c_custkey, c_name,
        |  CAST(sum($EXT * (1 - $DISC)) AS DOUBLE) AS revenue,
        |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal,
        |  n_name
        | FROM customer, orders, lineitem, nation
        | WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1996-10-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        | GROUP BY c_custkey, c_name, c_acctbal, n_name
        | ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q400_tpch_q11" ->
      s"""SELECT l_partkey, CAST(sum($EXT) AS DOUBLE) AS part_value
        | FROM lineitem, supplier, nation
        | WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |  AND n_name = 'NATION_5'
        | GROUP BY l_partkey
        | HAVING sum($EXT) > (
        |  SELECT sum($EXT) * 0.0001 FROM lineitem, supplier, nation
        |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |   AND n_name = 'NATION_5')
        | ORDER BY part_value DESC, l_partkey""".stripMargin,
    "q401_tpch_q12" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |   OR o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
        |   AND o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS low_line_count
        | FROM orders, lineitem
        | WHERE o_orderkey = l_orderkey
        |  AND l_returnflag IN ('A', 'N')
        |  AND CAST(l_discount AS DECIMAL(4,2)) >
        |   CAST(l_tax AS DECIMAL(4,2))
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        | GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q402_tpch_q13" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
        |  SELECT c_custkey AS ck,
        |   CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders
        |   ON c_custkey = o_custkey
        |   AND o_orderpriority NOT LIKE '3%'
        |  GROUP BY c_custkey
        | ) AS c_orders
        | GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""
        .stripMargin,
    "q403_tpch_q14" ->
      s"""SELECT round(100.00 * CAST(sum(CASE
        |   WHEN p_type LIKE 'PROMO%'
        |   THEN $EXT * (1 - $DISC) ELSE 0 END) AS DOUBLE) /
        |  CAST(sum($EXT * (1 - $DISC)) AS DOUBLE), 6)
        |   AS promo_revenue
        | FROM lineitem, part
        | WHERE l_partkey = p_partkey
        |  AND l_shipdate >= TIMESTAMP '1996-09-01'
        |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin,
    "q404_tpch_q15" ->
      s"""WITH revenue0 AS (
        |  SELECT l_suppkey AS supplier_no,
        |   CAST(sum($EXT * (1 - $DISC)) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |   AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        | SELECT s_suppkey, s_name, total_revenue
        | FROM supplier, revenue0
        | WHERE s_suppkey = supplier_no
        |  AND total_revenue = (SELECT max(total_revenue) FROM revenue0)
        | ORDER BY s_suppkey""".stripMargin,
    "q405_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        | FROM lineitem, part
        | WHERE p_partkey = l_partkey
        |  AND p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (1, 4, 7, 10, 14, 23, 25, 45)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |   WHERE s_name LIKE '%00001%')
        | GROUP BY p_brand, p_type, p_size
        | ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""
        .stripMargin,
    "q406_tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |  epoch_us(o_orderdate) * 1000 AS o_orderdate,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
        |   AS total_price,
        |  sum(l_quantity) AS sum_qty
        | FROM customer, orders, lineitem
        | WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |   GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
        |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        | GROUP BY c_name, c_custkey, o_orderkey, o_orderdate,
        |  o_totalprice
        | ORDER BY total_price DESC, o_orderkey LIMIT 100"""
        .stripMargin,
    "q407_tpch_q19" ->
      s"""SELECT CAST(sum($EXT * (1 - $DISC)) AS DOUBLE) AS revenue
        | FROM lineitem, part WHERE
        |  (p_partkey = l_partkey AND p_brand = 'Brand#1'
        |   AND p_size BETWEEN 1 AND 5
        |   AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_partkey = l_partkey AND p_brand = 'Brand#2'
        |   AND p_size BETWEEN 1 AND 10
        |   AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_partkey = l_partkey AND p_brand = 'Brand#3'
        |   AND p_size BETWEEN 1 AND 15
        |   AND l_quantity BETWEEN 20 AND 30)""".stripMargin
  )
}
