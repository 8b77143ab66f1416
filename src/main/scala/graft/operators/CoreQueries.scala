package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Core relational operator coverage (SURVEY.md §2.1–§2.8).
  *
  * Each entry mirrors one reader/operator of the reference engine
  * (toschoo/nowdb, see file:line cites) re-expressed as a declarative
  * DataFrame program so Catalyst gets pushdown/pruning/join-selection
  * for free.
  *
  * Oracle-parity conventions (the driver hash-compares against DuckDB):
  *  - Sums of doubles are order-dependent in the last ulps, so any
  *    aggregated double goes through an exact DECIMAL(18,4) cast before
  *    SUM (deterministic in both engines) and back to double after.
  *  - Computed integers are cast to BIGINT on both sides (Spark `year`
  *    returns int, DuckDB returns bigint).
  *  - Transcendental results (ln/trig/stddev) are rounded to 6/4 dp —
  *    libm vs java.lang.Math may differ in the final ulp.
  */
object CoreQueries extends QueryPack {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 4))
  /** Deterministic double sum: exact decimal sum, then back to double. */
  private def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** Deterministic double sum via scaled 64-bit integers: round to
    * 4 dp fixed-point, sum exactly in long, divide back. Same
    * order-independence guarantee as [[dsum]] but ~3× faster — Spark's
    * decimal sum buffer (input precision + 10 > 18 digits) falls off
    * the long-backed fast path into per-row java.math.BigDecimal,
    * while this stays in primitive long the whole way. Overflow bound:
    * 2⁶³/10⁴ ≈ 9.2e14 per group sum — and Spark's default ANSI mode
    * makes exceeding it a LOUD ARITHMETIC_OVERFLOW, never a silent
    * wrap; groups past the bound should use [[dsum]] (decimal,
    * unbounded). */
  private def lsum(c: Column): Column =
    sum(round(c * lit(10000)).cast("long")) / lit(10000.0)

  protected val entries: Map[String, Query] = Map(
    // ── Scans / readers (SURVEY §2.1) ────────────────────────────────
    // FULLSCAN (reader.c:1100-1131): full scan + filter; Catalyst pushes
    // both predicates into the parquet scan (PushedFilters).
    "q02_fullscan_filter" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_quantity") > 30 && col("l_discount") <= 0.05)
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount")
    }),
    // SEARCH (reader.c:1133-1294): exact-key lookup → pushed-down
    // equality predicate (parquet row-group stats prune).
    "q03_point_lookup" -> ((s, d) => {
      Tables.customer(s, d)
        .filter(col("c_custkey") === 42L)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    }),
    // FRANGE (reader.c:1296-1308): index range scan → time-range filter,
    // mirrors period-based file pruning (fun/expr.c:1578-1631).
    "q04_range_scan" -> ((s, d) => {
      Tables.orders(s, d)
        .filter(col("o_orderdate").between(
          lit("1996-01-01").cast("timestamp"),
          lit("1996-12-31 23:59:59").cast("timestamp")))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    }),
    // KRANGE (reader.c:1310-1322): keys-only scan = GROUP BY w/o
    // aggregates ⇒ distinct. Hash-aggregate, no index needed.
    "q05_distinct_keys" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select("l_returnflag", "l_linestatus").distinct()
    }),
    // CRANGE (reader.c:1324-1336): count per key without page reads.
    "q06_count_by_key" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
    }),
    // MRANGE (reader.c:1338-1359): IN-list over indexed column.
    "q07_in_list" -> ((s, d) => {
      Tables.part(s, d)
        .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#34"))
        .select("p_partkey", "p_brand", "p_size", "p_retailprice")
    }),
    // COUNT (reader.c:1361-1380): O(1) count(*) — Spark answers from
    // parquet footer metadata, no scan.
    "q08_count_star" -> ((s, d) =>
      Tables.lineitem(s, d).agg(count(lit(1)).as("cnt"))),
    // SEQ (reader.c:1664-1698): physical union of sub-readers.
    "q09_union_all" -> ((s, d) => {
      val c = Tables.customer(s, d)
        .select(col("c_custkey").as("key"), col("c_name").as("name"))
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey").as("key"), col("s_name").as("name"))
      c.unionAll(sup)
    }),

    // ── Projection / predicates / expressions (SURVEY §2.2) ─────────
    // Projection + arithmetic + CASE WHEN (expr.c:2380-2415).
    "q10_projection_case" -> ((s, d) => {
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax"))).as("charge"),
        when(col("l_quantity") < 10, "small")
          .when(col("l_quantity") < 30, "mid")
          .otherwise("big").as("bucket"))
    }),
    // Boolean ops AND/OR/NOT (expr.h:465-473).
    "q11_bool_filter" -> ((s, d) => {
      Tables.events(s, d)
        .filter((col("event_type") === "click" || col("event_type") === "view")
          && !(col("value") < 10.0))
        .select("event_id", "user_id", "event_type", "value")
    }),
    // Math fns: log(natural) abs ceil floor round (expr.h:431-435).
    "q12_math_fns" -> ((s, d) => {
      Tables.part(s, d).select(
        col("p_partkey"),
        round(log(col("p_retailprice")), 6).as("ln_price"),
        abs(col("p_retailprice") - 1000.0).as("abs_diff"),
        ceil(col("p_retailprice")).as("ceil_price"),
        floor(col("p_retailprice")).as("floor_price"),
        pow(col("p_size").cast("double"), 2.0).as("size_sq"),
        (col("p_partkey") % 7L).as("key_mod"))
    }),
    // Trig fns (expr.h:436-447).
    "q13_trig_fns" -> ((s, d) => {
      Tables.part(s, d).select(
        col("p_partkey"),
        round(sin(col("p_retailprice") / 1000.0), 6).as("sin_v"),
        round(cos(col("p_retailprice") / 1000.0), 6).as("cos_v"),
        round(atan(col("p_retailprice") / 1000.0), 6).as("atan_v"),
        round(tanh(col("p_retailprice") / 1000.0), 6).as("tanh_v"))
    }),
    // Time parts (expr.h:479-490): wday is Mon=1..Sun=0 in the
    // reference (sql.tex:1082-1127) — Spark dayofweek is Sun=1, so -1.
    "q14_time_parts" -> ((s, d) => {
      Tables.orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("mday"),
        (dayofweek(col("o_orderdate")) - 1).cast("long").as("wday"),
        dayofyear(col("o_orderdate")).cast("long").as("yday"))
    }),
    // Conversions tofloat/toint (expr.h:414-418). Spark's double→long
    // cast truncates toward zero (oracle uses trunc to match).
    "q15_conversions" -> ((s, d) => {
      Tables.lineitem(s, d).select(
        col("l_orderkey"),
        col("l_extendedprice").cast("long").as("price_int"),
        col("l_quantity").cast("string").as("qty_str"),
        col("l_linenumber").cast("double").as("line_f"))
    }),
    // COALESCE / NULLIF / IS NULL (expr.h:463-473, COAL expr.c:1275).
    "q16_null_funcs" -> ((s, d) => {
      Tables.events(s, d).select(
        col("event_id"),
        coalesce(nullif(col("event_type"), lit("error")), lit("none"))
          .as("etype"),
        when(col("value") > 50, col("value")).otherwise(lit(null))
          .isNull.as("low_val"))
    }),

    // ── Aggregation (SURVEY §2.4) ────────────────────────────────────
    // Flagship: TPC-H-Q1-shaped pricing summary (map-side partial agg,
    // 6-group result — classic hash aggregate).
    "q01_pricing_summary" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          lsum(col("l_quantity")).as("sum_qty"),
          lsum(col("l_extendedprice")).as("sum_base_price"),
          lsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_disc_price"),
          (lsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (lsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),
    // min/max/spread (fun.c:385-404): spread = max − min.
    "q17_minmax_spread" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          (max(col("l_quantity")) - min(col("l_quantity"))).as("spread_qty"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"))
    }),
    // Ungrouped aggregates over the whole table (cursor.c:705-724).
    "q18_global_agg" -> ((s, d) => {
      Tables.orders(s, d).agg(
        count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("sum_price"),
        (dsum(col("o_totalprice")) / count(col("o_totalprice")))
          .as("avg_price"),
        min(col("o_orderdate")).as("first_order"),
        max(col("o_orderdate")).as("last_order"))
    }),
    // stddev: reference is sample stddev (fun.c:412-421). Rounded —
    // Welford merge order perturbs last ulps.
    "q19_stddev" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_linestatus"))
        .agg(round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(stddev_samp(col("l_extendedprice")), 2).as("sd_price"))
    }),
    // median: exact (fun.c:485-556 buffers+sorts; we use exact
    // percentile, not approx — same two-middle interpolation).
    "q20_median" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(median(col("l_quantity")).as("med_qty"))
    }),
    // product (fun.c:383-384): per-order product of (1-discount); group
    // sizes ≤ 7 so the double product is stable to rounding at 6 dp.
    "q21_product" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") <= 100L)
        .groupBy(col("l_orderkey"))
        .agg(round(product(lit(1.0) - col("l_discount")), 6).as("keep_frac"),
          count(lit(1)).as("n_items"))
    }),
    // mode (fun.h:33 — TREE class, unimplemented in the reference; we
    // implement it). Deterministic tie-break: smallest value wins, same
    // formulation on the oracle side.
    "q22_mode" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_quantity")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("l_quantity").asc)
        .limit(1).select(col("l_quantity").as("mode_qty"))
    }),

    // ── Grouping + ordering + limit (SURVEY §2.5, §2.7) ──────────────
    "q23_group_order_limit" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
        .limit(5)
    }),
    // Top-k with deterministic tie-break (reference lacks LIMIT —
    // superset, sql.tex:2769-2771).
    "q24_topk" -> ((s, d) => {
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    }),

    // ── Joins (SURVEY §2.3: designed edge↔vertex join form) ──────────
    // Edge-join: edge.origin → vertex PK (sql.tex:2291-2368). orders is
    // the stamped "edge", customer the vertex; dimension is broadcast.
    "q25_edge_join" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "inner")
        .filter(col("o_totalprice") > 100000.0)
        .select(col("o_orderkey"), col("c_name"), col("c_mktsegment"),
          col("o_totalprice"))
    }),
    // Two-sided edge join (origin + destin): lineitem → part, supplier.
    "q26_edge_join_both" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      val sup = Tables.supplier(s, d)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .filter(col("l_quantity") >= 49.0)
        .select(col("l_orderkey"), col("l_linenumber"), col("p_name"),
          col("s_name"), col("l_quantity"))
    }),
    // Multi-join + aggregate (TPC-H Q5 shape): revenue per nation.
    "q27_join_agg_nation" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      val sup = Tables.supplier(s, d)
      val n = Tables.nation(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .filter(c("c_nationkey") === sup("s_nationkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(lsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
    }),
    // Semi-join (EXISTS).
    "q28_semi_join" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(col("o_totalprice") > 200000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    }),
    // Anti-join (NOT EXISTS): customers with no big-ticket order.
    "q29_anti_join" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(col("o_totalprice") > 400000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }),
    // Left outer join with null-handling.
    "q30_left_join" -> ((s, d) => {
      val n = Tables.nation(s, d)
      val c = Tables.customer(s, d)
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
      n.join(c, n("n_nationkey") === c("c_nationkey"), "left")
        .select(col("n_name"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"))
    }),

    // ── Set operations (SURVEY §2.8 — superset; reference has none) ──
    // Parts never shipped in bulk (quantity ≥ 49).
    "q31_except" -> ((s, d) => {
      val p = Tables.part(s, d).select(col("p_partkey").as("key"))
      val li = Tables.lineitem(s, d).filter(col("l_quantity") >= 49.0)
        .select(col("l_partkey").as("key"))
      p.except(li)
    }),
    "q32_intersect" -> ((s, d) => {
      val c = Tables.customer(s, d).select(col("c_custkey").as("key"))
      val o = Tables.orders(s, d).select(col("o_custkey").as("key"))
      c.intersect(o)
    })
  )

  val oracles: Map[String, String] = Map(
    "q02_fullscan_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        | l_discount FROM lineitem
        | WHERE l_quantity > 30 AND l_discount <= 0.05""".stripMargin,
    "q03_point_lookup" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
        | WHERE c_custkey = 42""".stripMargin,
    "q04_range_scan" ->
      """SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice FROM orders
        | WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
        |   AND TIMESTAMP '1996-12-31 23:59:59'""".stripMargin,
    "q05_distinct_keys" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q06_count_by_key" ->
      "SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY l_returnflag",
    "q07_in_list" ->
      """SELECT p_partkey, p_brand, p_size, p_retailprice FROM part
        | WHERE p_brand IN ('Brand#12','Brand#23','Brand#34')""".stripMargin,
    "q08_count_star" -> "SELECT count(*) AS cnt FROM lineitem",
    "q09_union_all" ->
      """SELECT c_custkey AS key, c_name AS name FROM customer
        | UNION ALL
        | SELECT s_suppkey AS key, s_name AS name FROM supplier""".stripMargin,
    "q10_projection_case" ->
      """SELECT l_orderkey, l_linenumber,
        | l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge,
        | CASE WHEN l_quantity < 10 THEN 'small'
        |      WHEN l_quantity < 30 THEN 'mid' ELSE 'big' END AS bucket
        | FROM lineitem""".stripMargin,
    "q11_bool_filter" ->
      """SELECT event_id, user_id, event_type, value FROM events
        | WHERE (event_type = 'click' OR event_type = 'view')
        |   AND NOT (value < 10.0)""".stripMargin,
    "q12_math_fns" ->
      """SELECT p_partkey,
        | round(ln(p_retailprice), 6) AS ln_price,
        | abs(p_retailprice - 1000.0) AS abs_diff,
        | CAST(ceil(p_retailprice) AS BIGINT) AS ceil_price,
        | CAST(floor(p_retailprice) AS BIGINT) AS floor_price,
        | pow(CAST(p_size AS DOUBLE), 2.0) AS size_sq,
        | p_partkey % 7 AS key_mod
        | FROM part""".stripMargin,
    "q13_trig_fns" ->
      """SELECT p_partkey,
        | round(sin(p_retailprice / 1000.0), 6) AS sin_v,
        | round(cos(p_retailprice / 1000.0), 6) AS cos_v,
        | round(atan(p_retailprice / 1000.0), 6) AS atan_v,
        | round((exp(2*(p_retailprice / 1000.0)) - 1)
        |     / (exp(2*(p_retailprice / 1000.0)) + 1), 6) AS tanh_v
        | FROM part""".stripMargin,
    "q14_time_parts" ->
      """SELECT o_orderkey,
        | CAST(year(o_orderdate) AS BIGINT) AS y,
        | CAST(month(o_orderdate) AS BIGINT) AS m,
        | CAST(day(o_orderdate) AS BIGINT) AS mday,
        | CAST(dayofweek(o_orderdate) AS BIGINT) AS wday,
        | CAST(dayofyear(o_orderdate) AS BIGINT) AS yday
        | FROM orders""".stripMargin,
    "q15_conversions" ->
      """SELECT l_orderkey,
        | CAST(trunc(l_extendedprice) AS BIGINT) AS price_int,
        | CAST(l_quantity AS VARCHAR) AS qty_str,
        | CAST(l_linenumber AS DOUBLE) AS line_f
        | FROM lineitem""".stripMargin,
    "q16_null_funcs" ->
      """SELECT event_id,
        | coalesce(nullif(event_type, 'error'), 'none') AS etype,
        | (CASE WHEN value > 50 THEN value ELSE NULL END) IS NULL AS low_val
        | FROM events""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | sum(CAST(round(l_quantity * 10000) AS BIGINT)) / 10000.0 AS sum_qty,
        | sum(CAST(round(l_extendedprice * 10000) AS BIGINT)) / 10000.0 AS sum_base_price,
        | sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS sum_disc_price,
        | sum(CAST(round(l_quantity * 10000) AS BIGINT)) / 10000.0 / count(*) AS avg_qty,
        | sum(CAST(round(l_discount * 10000) AS BIGINT)) / 10000.0 / count(*) AS avg_disc,
        | count(*) AS count_order
        | FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q17_minmax_spread" ->
      """SELECT l_returnflag,
        | min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        | max(l_quantity) - min(l_quantity) AS spread_qty,
        | min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
        | FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q18_global_agg" ->
      """SELECT count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |   / count(o_totalprice) AS avg_price,
        | min(o_orderdate) AS first_order, max(o_orderdate) AS last_order
        | FROM orders""".stripMargin,
    "q19_stddev" ->
      """SELECT l_linestatus,
        | round(stddev_samp(l_quantity), 4) AS sd_qty,
        | round(stddev_samp(l_extendedprice), 2) AS sd_price
        | FROM lineitem GROUP BY l_linestatus""".stripMargin,
    "q20_median" ->
      """SELECT l_returnflag,
        | CAST(median(l_quantity) AS DOUBLE) AS med_qty
        | FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q21_product" ->
      """SELECT l_orderkey,
        | round(product(1.0 - l_discount), 6) AS keep_frac,
        | count(*) AS n_items
        | FROM lineitem WHERE l_orderkey <= 100
        | GROUP BY l_orderkey""".stripMargin,
    "q22_mode" ->
      """SELECT l_quantity AS mode_qty FROM (
        |  SELECT l_quantity, count(*) AS cnt FROM lineitem
        |  GROUP BY l_quantity ORDER BY cnt DESC, l_quantity ASC LIMIT 1
        | )""".stripMargin,
    "q23_group_order_limit" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        | FROM lineitem GROUP BY l_returnflag, l_linestatus
        | ORDER BY l_returnflag, l_linestatus LIMIT 5""".stripMargin,
    "q24_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        | ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q25_edge_join" ->
      """SELECT o_orderkey, c_name, c_mktsegment, o_totalprice
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | WHERE o_totalprice > 100000.0""".stripMargin,
    "q26_edge_join_both" ->
      """SELECT l_orderkey, l_linenumber, p_name, s_name, l_quantity
        | FROM lineitem
        | JOIN part ON l_partkey = p_partkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | WHERE l_quantity >= 49.0""".stripMargin,
    "q27_join_agg_nation" ->
      """SELECT n_name,
        | sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS revenue
        | FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        | WHERE c_nationkey = s_nationkey
        | GROUP BY n_name""".stripMargin,
    "q28_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        | WHERE EXISTS (SELECT 1 FROM orders
        |   WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)""".stripMargin,
    "q29_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        | WHERE NOT EXISTS (SELECT 1 FROM orders
        |   WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)""".stripMargin,
    "q30_left_join" ->
      """SELECT n_name, coalesce(n_cust, 0) AS n_cust
        | FROM nation LEFT JOIN (
        |   SELECT c_nationkey, count(*) AS n_cust FROM customer
        |   GROUP BY c_nationkey) c ON n_nationkey = c_nationkey""".stripMargin,
    "q31_except" ->
      """SELECT p_partkey AS key FROM part
        | EXCEPT SELECT l_partkey AS key FROM lineitem
        |   WHERE l_quantity >= 49.0""".stripMargin,
    "q32_intersect" ->
      """SELECT c_custkey AS key FROM customer
        | INTERSECT SELECT o_custkey AS key FROM orders""".stripMargin
  )
}
