package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** OLAP analytics superset: multi-level grouping (ROLLUP/CUBE), window
  * analytics (running totals, lag, gaps), histograms, exact moment
  * statistics (corr/covar from decimal sums), per-group top-k, and
  * pivot. The reference's surface stops at flat GROUP BY + ORDER BY
  * (SURVEY §2.5–§2.7); these are the standard analytics a user of any
  * OLAP engine expects, built on Spark's native rollup/cube/Window/
  * pivot operators so Catalyst keeps partial aggregation and pushdown.
  *
  * Determinism: every aggregated double rides an exact DECIMAL cast
  * before SUM (see CoreQueries scaladoc); derived statistics (corr,
  * covariance) are then computed from those exact sums in a spelled-out
  * double formula identical on both engines, so the driver's
  * hash-compare holds bit-for-bit.
  */
object AnalyticsQueries extends QueryPack {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 4))
  private def dsum(c: Column): Column = sum(dec(c)).cast("double")

  protected val entries: Map[String, Query] = Map(
    // ROLLUP: (flag, status), (flag), () subtotal levels in one pass —
    // Spark expands to a union of grouping sets with partial aggs.
    "q91_rollup" -> ((s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))),
    // CUBE over two independent dimensions (all 4 grouping sets).
    "q92_cube" -> ((s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("revenue"))),
    // Window analytics per customer ordered by time: running revenue
    // (exact decimal prefix sum), previous price, day gap since the
    // previous order. One shuffle on o_custkey, one sort per partition.
    "q93_window_running" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val prevDate = lag(col("o_orderdate"), 1).over(w)
      Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        sum(dec(col("o_totalprice")))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_rev"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        datediff(to_date(col("o_orderdate")), to_date(prevDate))
          .cast("long").as("gap_days"))
    }),
    // Fixed-width histogram: floor-bin on the double itself (identical
    // IEEE divide+floor both engines), count/min/max/sum per bin.
    "q94_histogram" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(floor(col("o_totalprice") / lit(25000.0)).cast("long")
          .as("bin"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"),
          dsum(col("o_totalprice")).as("total"))),
    // Pearson correlation + sample covariance per group, computed from
    // exact decimal power sums — a double-accumulated corr() is
    // partition-order dependent; this one is reproducible anywhere.
    "q95_corr" -> ((s, d) => {
      val x = dec(col("l_quantity"))
      val y = dec(col("l_extendedprice"))
      Tables.fanout(s, d, "lineitem", Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_quantity"),
            col("l_extendedprice")))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(x).cast("double").as("sx"), sum(y).cast("double").as("sy"),
          sum(x * x).cast("double").as("sxx"),
          sum(y * y).cast("double").as("syy"),
          sum(x * y).cast("double").as("sxy"))
        .select(col("l_returnflag"), col("n").cast("long").as("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))), 6)
            .as("corr_qty_price"),
          round((col("sxy") - col("sx") * col("sy") / col("n")) /
            (col("n") - 1), 4).as("covar_samp"))
    }),
    // Top-3 orders by price per priority class: rank inside the
    // window, filter — TakeOrdered-per-group shape, never a global sort.
    "q96_topk_per_group" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"), row_number().over(w).cast("long").as("rk"))
        .filter(col("rk") <= 3)
    }),
    // Pivot: event counts per user cohort × event type (wide form).
    "q97_pivot" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(pmod(col("user_id"), lit(100L)).as("cohort"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)),
    // Per-group OLS regression (slope/intercept/R²) from the same
    // exact decimal power sums as q95 — one aggregation pass, then a
    // spelled-out double formula shared verbatim with the oracle.
    "q98_regression" -> ((s, d) => {
      val x = dec(col("l_quantity"))
      val y = dec(col("l_extendedprice"))
      Tables.fanout(s, d, "lineitem", Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_quantity"),
            col("l_extendedprice")))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(x).cast("double").as("sx"), sum(y).cast("double").as("sy"),
          sum(x * x).cast("double").as("sxx"),
          sum(x * y).cast("double").as("sxy"),
          sum(y * y).cast("double").as("syy"))
        .withColumn("cxy", col("n") * col("sxy") - col("sx") * col("sy"))
        .withColumn("cxx", col("n") * col("sxx") - col("sx") * col("sx"))
        .withColumn("cyy", col("n") * col("syy") - col("sy") * col("sy"))
        .select(col("l_returnflag"), col("n").cast("long").as("n"),
          round(col("cxy") / col("cxx"), 6).as("slope"),
          round((col("sy") - col("cxy") / col("cxx") * col("sx")) /
            col("n"), 6).as("intercept"),
          round(col("cxy") * col("cxy") / (col("cxx") * col("cyy")), 6)
            .as("r2"))
    }),
    // Decile bands over a deterministic total order, WITHOUT a global
    // sort or single-partition ntile window: range-repartition +
    // per-partition row_number + partition-count offsets gives each
    // row its exact global rank (Rank.distributedRank), and SQL ntile
    // is a pure function of (rank, N): the first N mod 10 deciles get
    // ⌈N/10⌉ rows, the rest ⌊N/10⌋. N itself is a broadcast scalar.
    // Same hashes as the ntile() form, but every stage is distributed.
    "q99_ntile_bands" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_totalprice"), col("o_orderkey"))
      val ranked = Rank.distributedRank(
        o, Seq(col("o_totalprice").asc, col("o_orderkey").asc), s,
        withTotal = true) // N rides the rank's own size table — no
                          // second scan of orders just for count(*)
      val qq = call_function("div", col("n_total"), lit(10L)) // ⌊N/10⌋
      val rr = col("n_total") % 10L                     // big deciles
      val cut = rr * (qq + 1L)                          // rows in them
      val ceilDiv = (a: Column, b: Column) =>
        call_function("div", a - 1L, b) + 1L
      ranked
        .select(col("o_totalprice"),
          when(col("rk") <= cut, ceilDiv(col("rk"), qq + 1L))
            .otherwise(rr + ceilDiv(col("rk") - cut, qq))
            .cast("long").as("decile"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n"), min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"),
          dsum(col("o_totalprice")).as("band_total"))
    }),
    // RFM customer scoring (recency/frequency/monetary with fixed
    // value bands — band thresholds, not quantiles, so no global
    // ranking is needed): one shuffle on o_custkey, integer day
    // arithmetic, decimal-exact monetary. The dataset-max date rides
    // in as a broadcast scalar (crossJoin of a 1-row aggregate).
    // Column profile (ANALYZE-style data profiling): per numeric
    // lineitem column — count, nulls, exact distinct, min, max — in
    // ONE scan: Spark expands the multi-countDistinct into a single
    // Expand + aggregate pipeline (the oracle needs a UNION of five
    // scans for the same answer). n_distinct == n exposes key
    // candidates; this is the first query every pipeline runs against
    // an unfamiliar 100-TB table, and the single-pass plan is what
    // makes it affordable there.
    "q154_column_profile" -> ((s, d) => {
      // fanned out post-scan (Tables.fanout): the 5-column multi-
      // distinct Expand aggregate is row-local compute that a
      // single-rowgroup source serializes on one core (r15 profile:
      // 2.2 s in a 3-task stage)
      val li = Tables.fanout(s, d, "lineitem", Tables.lineitem(s, d)
        .select("l_orderkey", "l_quantity", "l_extendedprice",
          "l_discount", "l_tax"))
      val cols = Seq("l_orderkey", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax")
      val aggs = cols.flatMap { c =>
        Seq(count(col(c)).as(s"cnt_$c"),
          countDistinct(col(c)).as(s"nd_$c"),
          min(col(c)).cast("double").as(s"mn_$c"),
          max(col(c)).cast("double").as(s"mx_$c"))
      }
      val n = li.agg(count(lit(1)).as("n_rows"), aggs: _*)
      n.select(explode(array(cols.map(c => struct(
          lit(c).as("column_name"), col("n_rows"),
          (col("n_rows") - col(s"cnt_$c")).as("n_null"),
          col(s"nd_$c").as("n_distinct"),
          col(s"mn_$c").as("min_v"), col(s"mx_$c").as("max_v"))): _*))
          .as("p"))
        .select(col("p.column_name"), col("p.n_rows"), col("p.n_null"),
          col("p.n_distinct"), col("p.min_v"), col("p.max_v"))
    }),
    // Referential-integrity audit: orphan-FK counts over the schema's
    // four edges in one result — the join-quality gate before trusting
    // any enrichment at scale. Each edge is a distinct-key anti-join
    // (left_anti on the parent PK), counted; the child side aggregates
    // to its distinct FK values FIRST, so the anti-join runs on key
    // sets, not row sets.
    "q155_fk_audit" -> ((s, d) => {
      def orphans(child: DataFrame, fk: String, parent: DataFrame,
                  pk: String, edge: String): DataFrame = {
        val fks = child.select(col(fk).as("k")).filter(col("k").isNotNull)
          .distinct()
        fks.join(parent.select(col(pk).as("k")), Seq("k"), "left_anti")
          .agg(count(lit(1)).as("n_orphan_keys"))
          .crossJoin(fks.agg(count(lit(1)).as("n_fk_keys")))
          .select(lit(edge).as("fk_edge"), col("n_fk_keys"),
            col("n_orphan_keys"))
      }
      orphans(Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey", "orders->customer")
        .unionAll(orphans(Tables.lineitem(s, d), "l_orderkey",
          Tables.orders(s, d), "o_orderkey", "lineitem->orders"))
        .unionAll(orphans(Tables.lineitem(s, d), "l_partkey",
          Tables.part(s, d), "p_partkey", "lineitem->part"))
        .unionAll(orphans(Tables.lineitem(s, d), "l_suppkey",
          Tables.supplier(s, d), "s_suppkey", "lineitem->supplier"))
    }),
    // Winsorized robust statistics per event type: clamp values at the
    // exact [p05, p95] percentiles (ROUNDED to 6 places first, so both
    // engines clamp against identical constants — the raw interpolated
    // doubles differ in the last ulps), then the clamped mean and clamp
    // tallies. This is the outlier-robust normalization step before
    // value-based quality gates. The percentile pass buffers each
    // type's values like exact median (q20) — for very large groups
    // the scale path is q88's sketch + one exact boundary-rank
    // refinement (the q99 pattern); the clamp pass itself streams
    // through a broadcast join, no second wide shuffle.
    "q143_winsorize" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"), col("value"))
      val bounds = ev.groupBy(col("event_type"))
        .agg(round(percentile(col("value"), lit(0.05)), 6).as("lo"),
          round(percentile(col("value"), lit(0.95)), 6).as("hi"))
      ev.join(broadcast(bounds), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), max(col("lo")).as("lo"),
          max(col("hi")).as("hi"),
          round(avg(greatest(col("lo"), least(col("hi"), col("value")))),
            6).as("wins_mean"),
          sum(when(col("value") < col("lo"), 1L).otherwise(0L))
            .as("n_clamped_lo"),
          sum(when(col("value") > col("hi"), 1L).otherwise(0L))
            .as("n_clamped_hi"))
    }),
    "q139_rfm" -> ((s, d) => {
      val usPerDay = 86400000000L
      val o = Tables.orders(s, d).select(col("o_custkey"),
        // parquet ms-timestamps read as TIMESTAMP_NTZ; the session
        // timezone is pinned UTC, so the NTZ→TZ cast is the identity
        // on the instant and unix_micros matches DuckDB's epoch_us
        call_function("div",
          unix_micros(col("o_orderdate").cast("timestamp")),
          lit(usPerDay)).as("day"),
        col("o_totalprice"))
      val maxDay = o.agg(max(col("day")).as("max_day"))
      val per = o.groupBy(col("o_custkey"))
        .agg(max(col("day")).as("last_day"),
          count(lit(1)).as("frequency"),
          sum(col("o_totalprice").cast(DecimalType(18, 4)))
            .as("monetary_d"))
        .crossJoin(broadcast(maxDay))
        .withColumn("recency_days", col("max_day") - col("last_day"))
      val rScore = when(col("recency_days") <= 90, 5L)
        .when(col("recency_days") <= 180, 4L)
        .when(col("recency_days") <= 365, 3L)
        .when(col("recency_days") <= 730, 2L).otherwise(1L)
      val fScore = when(col("frequency") >= 20, 5L)
        .when(col("frequency") >= 15, 4L)
        .when(col("frequency") >= 10, 3L)
        .when(col("frequency") >= 5, 2L).otherwise(1L)
      val mScore = when(col("monetary_d") >= 2000000, 5L)
        .when(col("monetary_d") >= 1500000, 4L)
        .when(col("monetary_d") >= 1000000, 3L)
        .when(col("monetary_d") >= 500000, 2L).otherwise(1L)
      per.select(col("o_custkey").as("custkey"), col("recency_days"),
          col("frequency"),
          col("monetary_d").cast("string").cast("double").as("monetary"),
          rScore.as("r_score"), fScore.as("f_score"), mScore.as("m_score"),
          (rScore * 100 + fScore * 10 + mScore).as("rfm_segment"))
    }),
    // CDC snapshot diff: reconcile two snapshots of a PK'd table into
    // the insert/update/delete/unchanged change set — the standard
    // warehouse reconciliation op (one PK full outer join; at 100 TB
    // both snapshots bucket on the PK so the join co-locates without a
    // shuffle, sources/Layouts.scala). Change detection compares one
    // md5-60 ROW FINGERPRINT per side, not columns pairwise — O(1) per
    // row however wide the table, and the fingerprint scan is the only
    // full-payload read. Snapshot B derives deterministically from A
    // (doc_id%23=5 deleted, %17=3 re-sourced, %29=7 cloned to a
    // shifted id), so the oracle rebuilds the identical B.
    "q265_snapshot_diff" -> ((s, d) => {
      def fp(df: DataFrame, n: String): DataFrame =
        df.select(col("doc_id"),
          Dedup.md5Hash60(concat_ws("|", col("text"), col("lang"),
            col("source"), col("n_chars").cast("string"))).as(n))
      val a = Tables.documents(s, d)
      val bBase = a.filter(pmod(col("doc_id"), lit(23L)) =!= 5L)
        .withColumn("source",
          when(pmod(col("doc_id"), lit(17L)) === 3L, lit("migrated"))
            .otherwise(col("source")))
      val bIns = a.filter(pmod(col("doc_id"), lit(29L)) === 7L)
        .withColumn("doc_id", col("doc_id") + lit(10000000L))
        .withColumn("source", lit("backfill"))
      fp(a, "fa").join(fp(bBase.unionByName(bIns), "fb"),
          Seq("doc_id"), "full_outer")
        .select(when(col("fa").isNull, lit("insert"))
            .when(col("fb").isNull, lit("delete"))
            .when(col("fa") =!= col("fb"), lit("update"))
            .otherwise(lit("unchanged")).as("change_type"),
          col("doc_id"))
        .groupBy(col("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("doc_id")).as("id_checksum"))
    }),
    // Benford first-digit audit over order totals (Newcomb 1881 /
    // Benford 1938 — the fraud/synthetic-data smell test: organic
    // monetary amounts follow P(d)=log10(1+1/d); flat or spiky digit
    // histograms flag generated or truncated data). First digit comes
    // from the CENTS INTEGER rendered as a string — never from
    // log10(value), whose float boundary at exact powers of ten
    // misclassifies, and never from double→string casts, which differ
    // by engine. Per-digit z-score (obs−np)/√(np(1−p)) — |z|>3 on a
    // big table = investigate. One count agg; 9 rows of state.
    "q282_benford_audit" -> ((s, d) => {
      val cents = Tables.orders(s, d)
        .select(round(col("o_totalprice") * 100.0).cast("long")
          .as("cents"))
        .filter(col("cents") > 0L)
      val dig = cents
        .select(substring(col("cents").cast("string"), 1, 1)
          .cast("long").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
      val tot = dig.agg(sum(col("n_obs")).as("n"))
      dig.crossJoin(broadcast(tot))
        .select(col("digit"), col("n_obs"), col("n"),
          (log(lit(1.0) + lit(1.0) / col("digit").cast("double"))
            / log(lit(10.0))).as("p"))
        .select(col("digit"), col("n_obs"),
          round(col("n").cast("double") * col("p"), 4).as("expected"),
          round((col("n_obs").cast("double")
              - col("n").cast("double") * col("p"))
            / sqrt(col("n").cast("double") * col("p")
              * (lit(1.0) - col("p"))), 4).as("z_score"))
    }),
    // Simpson's-paradox audit (Simpson 1951): Pearson r of
    // (discount, quantity) inside every return-flag stratum vs the
    // pooled corpus — a sign flip between the stratum and the pool is
    // the aggregation-reversal every per-segment dashboard must warn
    // about before anyone trusts the pooled trend. Moments ride the
    // q95 exact-DECIMAL discipline; each r is one fixed-order double
    // expression over exact sums. Per-group state: five decimals.
    "q294_simpson_audit" -> ((s, d) => {
      val dec = DecimalType(18, 4)
      val li = Tables.fanout(s, d, "lineitem",
        Tables.lineitem(s, d).select(col("l_returnflag"),
          col("l_discount").cast(dec).as("x"),
          col("l_quantity").cast(dec).as("y")))
      def moments(df: DataFrame, keys: Seq[String]): DataFrame = {
        val g = if (keys.isEmpty) df.groupBy() else
          df.groupBy(keys.map(col): _*)
        g.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      }
      def r(pfx: String): org.apache.spark.sql.Column =
        round((col(s"${pfx}n").cast("double")
            * col(s"${pfx}sxy").cast("double")
          - col(s"${pfx}sx").cast("double")
            * col(s"${pfx}sy").cast("double"))
        / sqrt((col(s"${pfx}n").cast("double")
            * col(s"${pfx}sxx").cast("double")
          - col(s"${pfx}sx").cast("double")
            * col(s"${pfx}sx").cast("double"))
          * (col(s"${pfx}n").cast("double")
              * col(s"${pfx}syy").cast("double")
            - col(s"${pfx}sy").cast("double")
              * col(s"${pfx}sy").cast("double"))), 6)
      val pooled = moments(li, Nil).select(col("n").as("pn"),
        col("sx").as("psx"), col("sy").as("psy"),
        col("sxy").as("psxy"), col("sxx").as("psxx"),
        col("syy").as("psyy"))
      moments(li, Seq("l_returnflag")).crossJoin(broadcast(pooled))
        .select(col("l_returnflag"), col("n"),
          r("").as("r_group"), r("p").as("r_pooled"))
        .select(col("l_returnflag"), col("n"), col("r_group"),
          col("r_pooled"),
          (col("r_group") * col("r_pooled") < 0.0).as("sign_reversed"))
    }),
    // Arbitrary GROUPING SETS (the general form behind q91's ROLLUP /
    // q92's CUBE): per-flag, per-status, the cross, and the grand
    // total in ONE pass — Catalyst expands the sets into a single
    // Expand + aggregate, so the fact table is scanned once, not four
    // times. The set id is derived from the NULLed-out keys with a
    // CASE (both key columns are non-null in the data), so the oracle
    // needs no engine-specific grouping_id() function.
    "q298_grouping_sets" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_gs")
      s.sql("""SELECT l_returnflag, l_linestatus,
        | CAST(CASE WHEN l_returnflag IS NULL THEN 2 ELSE 0 END
        |  + CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END
        |  AS BIGINT) AS gid,
        | count(*) AS n,
        | CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
        |  AS BIGINT) AS qty_cents
        | FROM lineitem_gs
        | GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
        |  (l_returnflag, l_linestatus), ())""".stripMargin)
    }),
    // Rolling 24-hour windowed sum per user via a RANGE (event-time
    // interval) frame — the time-based frame q93's ROWS-based running
    // totals can't express: each event sums everything in
    // [ts−24h, ts] regardless of row count. The frame rides the exact
    // ns-long stamp (never a float time axis); values accumulate in
    // integer cents so the in-frame sum is exact; the window is
    // user-partitioned. Reported per user: events, peak rolling sum
    // and its stamp (earliest on ties).
    "q299_rolling_range_window" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("ts"),
        round(col("value") * 100.0).cast("long").as("cents"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        .rangeBetween(-86400000000000L, Window.currentRow)
      val rolled = ev.withColumn("roll", sum(col("cents")).over(w))
      val peak = rolled.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          max(col("roll")).as("peak_cents"))
      rolled.join(peak, Seq("user_id"))
        .filter(col("roll") === col("peak_cents"))
        .groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"),
          max(col("peak_cents")).as("peak_cents"),
          min(col("ts")).as("peak_ts"))
    }),
    // Market-basket association rules (Agrawal & Srikant 1994
    // support/confidence/lift): part pairs co-purchased in the same
    // order, support ≥ 3 baskets, ranked by lift = N·c_xy/(c_x·c_y) —
    // the data-mining classic the co-occurrence machinery (q70)
    // counts but never scores. Baskets are ≤7 items so the in-basket
    // pair fan-out is bounded (≤21 per order, the q70 shape, no
    // self-join of the fact table at scale beyond the basket-keyed
    // equi-join); lift is micro-rounded for an integer-exact top-20.
    "q301_basket_rules" -> ((s, d) => {
      // NOT fanned out (r15 A/B: 1.83 s raw vs 3.11 s fanned — the
      // pair self-join pipeline loses more to the extra exchange
      // stages than the scan fanout returns)
      val bi = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val n = bi.select(col("o")).distinct().agg(count(lit(1)).as("n"))
      val cx = bi.groupBy(col("p")).agg(count(lit(1)).as("c"))
      val pairs = bi.select(col("o"), col("p").as("x"))
        .join(bi.select(col("o"), col("p").as("y")), Seq("o"))
        .filter(col("x") < col("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("cxy"))
        .filter(col("cxy") >= 3L)
      pairs
        .join(cx.select(col("p").as("x"), col("c").as("cx")), Seq("x"))
        .join(cx.select(col("p").as("y"), col("c").as("cy")), Seq("y"))
        .crossJoin(broadcast(n))
        .select(col("x"), col("y"), col("cxy"), col("cx"), col("cy"),
          round(col("n").cast("double") * col("cxy")
            / (col("cx") * col("cy")).cast("double") * 1e6)
            .cast("long").as("lm"))
        .orderBy(col("lm").desc, col("x").asc, col("y").asc)
        .limit(20)
        .select(col("x").as("part_x"), col("y").as("part_y"),
          col("cxy").as("support"),
          round(col("cxy").cast("double") / col("cx").cast("double"),
            6).as("confidence_xy"),
          round(col("lm").cast("double") / 1e6, 6).as("lift"))
    }),
    // EXACT per-group quantiles (p50/p90/p99 of doc length per
    // source) WITHOUT a per-group window: one global
    // Rank.distributedRank over (source, value, id) — a total order,
    // so ranks within a source are contiguous — minus each source's
    // broadcast start offset gives the within-source rank; the
    // percentile_disc index ((n_s−1)·p) DIV 100 + 1 then selects the
    // quantile row by an equi-ish join against the 3-row p grid.
    // This is the operator approx_percentile replaces at scale when
    // exactness is negotiable — here it is NOT (dedup thresholds and
    // contract SLAs cite exact percentiles), and the rank path costs
    // one range exchange regardless of group skew, where a
    // PARTITION BY source window serializes each hot source through
    // one task. Integer values, integer indices — nothing to drift.
    "q328_source_quantiles" -> ((s, d) => {
      import s.implicits._
      val base = Tables.documents(s, d).select(col("source"),
        col("n_chars").cast("long").as("v"), col("doc_id"))
      val ranked = Rank.distributedRank(base,
        Seq(col("source").asc, col("v").asc, col("doc_id").asc), s)
      val counts = base.groupBy(col("source"))
        .agg(count(lit(1)).as("ns"))
      val off = counts.as("a")
        .join(broadcast(counts.as("b")),
          col("b.source") < col("a.source"), "left")
        .groupBy(col("a.source").as("source"), col("a.ns").as("ns"))
        .agg(coalesce(sum(col("b.ns")), lit(0L)).as("off"))
      val grid = Seq(50L, 90L, 99L).toDF("p")
      ranked.join(broadcast(off), Seq("source"))
        .select(col("source"), col("ns"),
          (col("rk") - col("off")).as("lrk"), col("v"))
        .join(broadcast(grid),
          col("lrk") === expr("((ns - 1) * p) DIV 100") + 1L)
        .select(col("source"), col("p"), col("ns").as("n_docs"),
          col("v").as("q_value"))
    }),
    // Columnar-encoding advisor: per column of lineitem, the two
    // quantities a parquet/ORC writer's encoding choice hangs on —
    // distinct count (dictionary viability) and run count in the
    // table's natural (l_orderkey, l_linenumber) order (RLE
    // viability) — plus the rule-based advice (runs·4 ≤ n → rle;
    // distinct·100 ≤ n → dict; else plain). At 100 TB this is the
    // audit that sizes an index/layout migration before paying for
    // it. Adjacent-row compares come from ONE distributedRank +
    // rank+1 self-join (all 5 columns in the same pass — never a
    // window or a per-column scan); distinct counts are one Expand
    // aggregate. Integer outputs only.
    "q336_encoding_advisor" -> ((s, d) => {
      val cs = Seq("l_returnflag", "l_linestatus", "l_suppkey",
        "l_partkey", "l_quantity")
      // NOT fanned out (r15 A/B: 2.07 s raw vs 3.20 s fanned — the
      // rank+join+Expand pipeline pays more in extra-stage tasks
      // than the decode parallelism returns at this corpus size)
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_returnflag"), col("l_linestatus"), col("l_suppkey"),
        col("l_partkey"), col("l_quantity"))
      val ranked = Rank.distributedRank(li,
        Seq(col("l_orderkey").asc, col("l_linenumber").asc), s)
      val nxt = ranked.select((col("rk") - 1L).as("rk")
        +: cs.map(c => col(c).as(c + "__n")): _*)
      val chg = ranked.join(nxt, Seq("rk"))
        .agg(sum(when(col(cs.head) =!= col(cs.head + "__n"), 1L)
            .otherwise(0L)).as("chg_" + cs.head),
          cs.tail.map(c => sum(when(col(c) =!= col(c + "__n"), 1L)
            .otherwise(0L)).as("chg_" + c)): _*)
      val nd = li.agg(count(lit(1)).as("n"),
        cs.map(c => countDistinct(col(c)).as("nd_" + c)): _*)
      nd.crossJoin(broadcast(chg))
        .select(col("n"), explode(array(cs.map(c =>
          struct(lit(c).as("column_name"),
            col("nd_" + c).as("n_distinct"),
            (col("chg_" + c) + 1L).as("n_runs"))): _*)).as("m"))
        .select(col("m.column_name").as("column_name"),
          col("n").as("n_rows"), col("m.n_distinct").as("n_distinct"),
          col("m.n_runs").as("n_runs"),
          when(col("m.n_runs") * 4L <= col("n"), lit("rle"))
            .when(col("m.n_distinct") * 100L <= col("n"), lit("dict"))
            .otherwise(lit("plain")).as("advice"))
    }),
    // Order-free table fingerprint: Σ md5-60(canonical row string)
    // over exact DECIMAL — the replication/migration validation
    // primitive (compare source and copy without moving either; any
    // single-row perturbation flips the sum). Commutative by
    // construction, so it needs no sort at any scale — one map-side
    // hash + one agg per table; the four fingerprints union into one
    // 4-row result. Key columns only (integers + strings — doubles
    // and timestamps render engine-specifically and stay out of the
    // canonical string by design). Shape rules (r10 driver red):
    // every leg is coalesce'd to '∅' so a NULL key column renders
    // identically in both engines (Spark concat_ws SKIPS NULLs,
    // DuckDB || PROPAGATES them — coalesce removes the divergence
    // class), and the emitted checksum is the exact Σ reduced mod
    // 2⁶¹−1 as a BIGINT — still order-free and perturbation-
    // sensitive, but out of the unbounded-DECIMAL(38,0) rendering
    // class (see COVERAGE.md hashed-output shape audit).
    "q337_table_checksum" -> ((s, d) => {
      val dec38 = DecimalType(38, 0)
      val mersenne61 = lit("2305843009213693951").cast(dec38)
      def fp(name: String, df: DataFrame, ks: Seq[Column]) =
        df.select(Dedup.md5Hash60(concat_ws("|",
            ks.map(c => coalesce(c.cast("string"), lit("∅"))): _*))
            .as("h"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("h").cast(dec38)).as("s"))
          .select(lit(name).as("table_name"), col("n_rows"),
            (col("s") % mersenne61).cast("long").as("checksum"))
      // lineitem/orders/events fanned out post-scan (Tables.fanout):
      // the per-row md5 over the concat'd key string is the whole
      // cost and a single-rowgroup source serializes it (documents
      // arrives fanned from its loader)
      fp("lineitem", Tables.fanout(s, d, "lineitem",
          Tables.lineitem(s, d).select(col("l_orderkey"),
            col("l_linenumber"), col("l_suppkey"),
            col("l_returnflag"))),
          Seq(col("l_orderkey"), col("l_linenumber"),
            col("l_suppkey"), col("l_returnflag")))
        .unionAll(fp("orders", Tables.fanout(s, d, "orders",
          Tables.orders(s, d).select(col("o_orderkey"),
            col("o_custkey"), col("o_orderstatus"))),
          Seq(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"))))
        .unionAll(fp("documents", Tables.documents(s, d),
          Seq(col("doc_id"), col("lang"), col("source"),
            col("n_chars"))))
        .unionAll(fp("events", Tables.fanout(s, d, "events",
          Tables.events(s, d).select(col("event_id"),
            col("user_id"), col("event_type"))),
          Seq(col("event_id"), col("user_id"), col("event_type"))))
    }),
    // Driver-environment divergence probe: q337's order-free
    // fingerprint DECOMPOSED per column — one (item, n, residue) row
    // per key column of the four checksummed tables plus the four
    // gate-feature expressions over documents.text, each residue the
    // Σ md5-60(coalesce(value,'∅')) reduced mod 2⁶¹−1. When a
    // cross-engine hash mismatch appears only in one environment
    // (the r10 q331/q337 story), the red ROWS here name exactly
    // which column or text expression renders differently instead of
    // leaving the whole-table hash to be guessed at. One scan + one
    // multi-column agg per table; output is column-count-sized.
    "q368_parity_probe" -> ((s, d) => {
      val dec38 = DecimalType(38, 0)
      val m61 = lit("2305843009213693951").cast(dec38)
      def probe(df: DataFrame, table: String,
          cs: Seq[(String, Column)]): DataFrame = {
        val hashed = df.select(cs.map { case (n, c) =>
          Dedup.md5Hash60(coalesce(c.cast("string"), lit("∅")))
            .cast(dec38).as(n) }: _*)
        val agged = hashed.agg(count(lit(1)).as("n_rows"),
          cs.map { case (n, _) => sum(col(n)).as(n) }: _*)
        agged.select(explode(array(cs.map { case (n, _) =>
            struct(lit(s"$table.$n").as("item"),
              col("n_rows").as("n"),
              (col(n) % m61).cast("long").as("residue")) }: _*))
            .as("r"))
          .select(col("r.item").as("item"), col("r.n").as("n"),
            col("r.residue").as("residue"))
      }
      // size()-based features must be null-guarded before hashing:
      // Spark's legacy size(NULL) = -1 (a non-NULL string "-1" that
      // dodges the coalesce) while DuckDB's len(NULL) is NULL → '∅' —
      // an unguarded NULL text would permanently redden exactly the
      // probe built to isolate divergences (q367's nn() rule)
      val (nw0, nc, stp0, punct, _) = CurationQueries.gateFeats
      val nw = when(col("text").isNotNull, nw0)
      val stp = when(col("text").isNotNull, stp0)
      // each probed table is fanned out post-scan (Tables.fanout):
      // the per-CELL md5+conv is the whole cost of this query, and a
      // single-rowgroup source serializes it through one core
      // (measured: 2.6 s single-task lineitem stage at sf0.1)
      probe(Tables.fanout(s, d, "lineitem", Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_linenumber"),
              col("l_suppkey"), col("l_returnflag"))), "lineitem",
          Seq("l_orderkey" -> col("l_orderkey"),
            "l_linenumber" -> col("l_linenumber"),
            "l_suppkey" -> col("l_suppkey"),
            "l_returnflag" -> col("l_returnflag")))
        .unionAll(probe(Tables.fanout(s, d, "orders",
            Tables.orders(s, d).select(col("o_orderkey"),
              col("o_custkey"), col("o_orderstatus"))), "orders",
          Seq("o_orderkey" -> col("o_orderkey"),
            "o_custkey" -> col("o_custkey"),
            "o_orderstatus" -> col("o_orderstatus"))))
        .unionAll(probe(Tables.fanout(s, d, "events",
            Tables.events(s, d).select(col("event_id"),
              col("user_id"), col("event_type"))), "events",
          Seq("event_id" -> col("event_id"),
            "user_id" -> col("user_id"),
            "event_type" -> col("event_type"))))
        .unionAll(probe(Tables.fanout(s, d, "documents",
            Tables.documents(s, d).select(col("doc_id"), col("lang"),
              col("source"), col("n_chars"), col("text")),
            rowsPerTask = 128),
          "documents",
          Seq("doc_id" -> col("doc_id"), "lang" -> col("lang"),
            "source" -> col("source"), "n_chars" -> col("n_chars"),
            "feat_n_words" -> nw, "feat_n_chars" -> nc,
            "feat_n_stop" -> stp, "feat_n_punct" -> punct)))
    }),
    // Merkle-style bucket diff: q337's order-free fingerprint applied
    // PER BUCKET to two table versions, so a 100 TB replica check
    // ships 64 checksums instead of re-reading either side; only
    // differing buckets are re-scanned. v2 is a deterministic
    // change-set of v1 (drop every 97th doc, touch every 101st), and
    // the output is the per-bucket triage a sync engine acts on:
    // row deltas (adds/drops) vs silent content drift (equal counts,
    // different checksum). Two scans + two 64-row aggs, one 64-row
    // join — nothing grows with the table but the scan itself.
    "q349_bucket_diff" -> ((s, d) => {
      val dec38 = DecimalType(38, 0)
      def sums(df: DataFrame, tag: String) =
        df.groupBy(pmod(col("doc_id"), lit(64L)).as("bucket"))
          .agg(count(lit(1)).as("n_" + tag),
            sum(Dedup.md5Hash60(concat_ws("|",
              col("doc_id").cast("string"), col("lang"), col("source"),
              col("n_chars").cast("string"))).cast(dec38))
              .cast(dec38).as("cs_" + tag))
      val v1 = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
      val v2 = v1.filter(col("doc_id") % 97L =!= 0L)
        .withColumn("n_chars",
          when(col("doc_id") % 101L === 0L, col("n_chars") + 1L)
            .otherwise(col("n_chars")))
      sums(v1, "v1").join(sums(v2, "v2"), Seq("bucket"), "full_outer")
        .filter(col("cs_v1").isNull || col("cs_v2").isNull ||
          col("cs_v1") =!= col("cs_v2"))
        .select(col("bucket"),
          coalesce(col("n_v1"), lit(0L)).as("n_v1"),
          coalesce(col("n_v2"), lit(0L)).as("n_v2"),
          (coalesce(col("n_v2"), lit(0L))
            - coalesce(col("n_v1"), lit(0L))).as("delta_rows"),
          (coalesce(col("n_v1"), lit(0L))
              === coalesce(col("n_v2"), lit(0L))).as("content_drift"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q154_column_profile" -> Seq("l_orderkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax").map { c =>
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           | count(*) - count($c) AS n_null,
           | count(DISTINCT $c) AS n_distinct,
           | CAST(min($c) AS DOUBLE) AS min_v,
           | CAST(max($c) AS DOUBLE) AS max_v FROM lineitem""".stripMargin
      }.mkString("\n UNION ALL\n"),
    "q155_fk_audit" -> Seq(
        ("orders->customer", "o_custkey", "orders", "c_custkey",
          "customer"),
        ("lineitem->orders", "l_orderkey", "lineitem", "o_orderkey",
          "orders"),
        ("lineitem->part", "l_partkey", "lineitem", "p_partkey", "part"),
        ("lineitem->supplier", "l_suppkey", "lineitem", "s_suppkey",
          "supplier")).map { case (edge, fk, child, pk, parent) =>
        s"""SELECT '$edge' AS fk_edge,
           | (SELECT count(DISTINCT $fk) FROM $child
           |   WHERE $fk IS NOT NULL) AS n_fk_keys,
           | (SELECT count(*) FROM (
           |   SELECT DISTINCT $fk AS k FROM $child WHERE $fk IS NOT NULL)
           |   WHERE k NOT IN (SELECT $pk FROM $parent)) AS n_orphan_keys
           |""".stripMargin
      }.mkString("\n UNION ALL\n"),
    "q143_winsorize" ->
      """WITH b AS (SELECT event_type,
        |   round(quantile_cont(value, 0.05), 6) AS lo,
        |   round(quantile_cont(value, 0.95), 6) AS hi
        |  FROM events GROUP BY 1)
        | SELECT e.event_type, count(*) AS n, max(b.lo) AS lo,
        |  max(b.hi) AS hi,
        |  round(avg(greatest(b.lo, least(b.hi, e.value))), 6)
        |    AS wins_mean,
        |  CAST(sum(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clamped_lo,
        |  CAST(sum(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clamped_hi
        | FROM events e JOIN b USING (event_type)
        | GROUP BY e.event_type""".stripMargin,
    "q139_rfm" ->
      """WITH o AS (SELECT o_custkey,
        |   epoch_us(o_orderdate) // 86400000000 AS day, o_totalprice
        |  FROM orders),
        | mx AS (SELECT max(day) AS max_day FROM o),
        | per AS (SELECT o_custkey, max(day) AS last_day,
        |   count(*) AS frequency,
        |   sum(CAST(o_totalprice AS DECIMAL(18,4))) AS monetary_d
        |  FROM o GROUP BY o_custkey),
        | s AS (SELECT o_custkey, mx.max_day - last_day AS recency_days,
        |   frequency, monetary_d FROM per, mx),
        | sc AS (SELECT *,
        |   CASE WHEN recency_days <= 90 THEN 5
        |    WHEN recency_days <= 180 THEN 4
        |    WHEN recency_days <= 365 THEN 3
        |    WHEN recency_days <= 730 THEN 2 ELSE 1 END AS r_score,
        |   CASE WHEN frequency >= 20 THEN 5 WHEN frequency >= 15 THEN 4
        |    WHEN frequency >= 10 THEN 3 WHEN frequency >= 5 THEN 2
        |    ELSE 1 END AS f_score,
        |   CASE WHEN monetary_d >= 2000000 THEN 5
        |    WHEN monetary_d >= 1500000 THEN 4
        |    WHEN monetary_d >= 1000000 THEN 3
        |    WHEN monetary_d >= 500000 THEN 2 ELSE 1 END AS m_score
        |  FROM s)
        | SELECT o_custkey AS custkey, recency_days, frequency,
        |  CAST(CAST(monetary_d AS VARCHAR) AS DOUBLE) AS monetary,
        |  CAST(r_score AS BIGINT) AS r_score,
        |  CAST(f_score AS BIGINT) AS f_score,
        |  CAST(m_score AS BIGINT) AS m_score,
        |  CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT)
        |    AS rfm_segment
        | FROM sc""".stripMargin,
    "q91_rollup" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        | FROM lineitem
        | GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "q92_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |   AS revenue
        | FROM orders
        | GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,
    "q93_window_running" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
        |   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS DOUBLE) AS running_rev,
        | lag(o_totalprice, 1)
        |   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |   AS prev_price,
        | CAST(date_diff('day',
        |   CAST(lag(o_orderdate, 1) OVER (PARTITION BY o_custkey
        |     ORDER BY o_orderdate, o_orderkey) AS DATE),
        |   CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days
        | FROM orders""".stripMargin,
    "q94_histogram" ->
      """SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin,
        | CAST(count(*) AS BIGINT) AS n,
        | min(o_totalprice) AS lo, max(o_totalprice) AS hi,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        | FROM orders GROUP BY 1""".stripMargin,
    "q95_corr" ->
      """WITH sums AS (SELECT l_returnflag,
        |   CAST(count(*) AS DOUBLE) AS n,
        |   CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
        |   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |     AS sy,
        |   CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(28,4))
        |     * CAST(l_quantity AS DECIMAL(10,4))) AS DOUBLE) AS sxx,
        |   CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DECIMAL(28,4))
        |     * CAST(l_extendedprice AS DECIMAL(10,4))) AS DOUBLE) AS syy,
        |   CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(28,4))
        |     * CAST(l_extendedprice AS DECIMAL(10,4))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        | SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  round((n * sxy - sx * sy) /
        |    sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        |    AS corr_qty_price,
        |  round((sxy - sx * sy / n) / (n - 1), 4) AS covar_samp
        | FROM sums""".stripMargin,
    "q98_regression" ->
      """WITH sums AS (SELECT l_returnflag,
        |   CAST(count(*) AS DOUBLE) AS n,
        |   CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
        |   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |     AS sy,
        |   CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(28,4))
        |     * CAST(l_quantity AS DECIMAL(10,4))) AS DOUBLE) AS sxx,
        |   CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(28,4))
        |     * CAST(l_extendedprice AS DECIMAL(10,4))) AS DOUBLE) AS sxy,
        |   CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DECIMAL(28,4))
        |     * CAST(l_extendedprice AS DECIMAL(10,4))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag),
        | m AS (SELECT l_returnflag, n, sx, sy,
        |   n * sxy - sx * sy AS cxy, n * sxx - sx * sx AS cxx,
        |   n * syy - sy * sy AS cyy
        |  FROM sums)
        | SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  round(cxy / cxx, 6) AS slope,
        |  round((sy - cxy / cxx * sx) / n, 6) AS intercept,
        |  round(cxy * cxy / (cxx * cyy), 6) AS r2
        | FROM m""".stripMargin,
    "q99_ntile_bands" ->
      """WITH r AS (SELECT o_totalprice,
        |   CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey)
        |     AS BIGINT) AS decile
        |  FROM orders)
        | SELECT decile, count(*) AS n, min(o_totalprice) AS lo,
        |  max(o_totalprice) AS hi,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS band_total
        | FROM r GROUP BY decile""".stripMargin,
    "q96_topk_per_group" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        | CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |   row_number() OVER (PARTITION BY o_orderpriority
        |     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin,
    "q97_pivot" ->
      """SELECT user_id % 100 AS cohort,
        | CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT)
        |   AS click,
        | CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT)
        |   AS error,
        | CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
        |   AS BIGINT) AS purchase,
        | CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT)
        |   AS signup,
        | CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT)
        |   AS view
        | FROM events GROUP BY 1""".stripMargin,
    // snapshot B rebuilt by the same deterministic derivation, change
    // classes from the same md5-60 row fingerprints
    "q265_snapshot_diff" -> {
      val h60 = DedupQueries.md5Hex60Sql
      s"""WITH b AS (
        |  SELECT doc_id, text, lang,
        |   CASE WHEN doc_id % 17 = 3 THEN 'migrated' ELSE source END
        |    AS source, n_chars
        |  FROM documents WHERE doc_id % 23 <> 5
        |  UNION ALL
        |  SELECT doc_id + 10000000, text, lang, 'backfill', n_chars
        |  FROM documents WHERE doc_id % 29 = 7),
        | ha AS (SELECT doc_id, md5(text || '|' || lang || '|'
        |   || source || '|' || CAST(n_chars AS VARCHAR)) AS m
        |  FROM documents),
        | fa AS (SELECT doc_id, ($h60) AS fa FROM ha),
        | hb AS (SELECT doc_id, md5(text || '|' || lang || '|'
        |   || source || '|' || CAST(n_chars AS VARCHAR)) AS m FROM b),
        | fb AS (SELECT doc_id, ($h60) AS fb FROM hb),
        | j AS (SELECT coalesce(fa.doc_id, fb.doc_id) AS doc_id,
        |   fa.fa, fb.fb
        |  FROM fa FULL OUTER JOIN fb ON fa.doc_id = fb.doc_id)
        | SELECT CASE WHEN fa IS NULL THEN 'insert'
        |   WHEN fb IS NULL THEN 'delete'
        |   WHEN fa <> fb THEN 'update'
        |   ELSE 'unchanged' END AS change_type,
        |  count(*) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
        | FROM j GROUP BY 1""".stripMargin
    },
    "q282_benford_audit" ->
      """WITH cents AS (SELECT CAST(round(o_totalprice * 100.0)
        |    AS BIGINT) AS cents
        |  FROM orders WHERE round(o_totalprice * 100.0) > 0),
        | dig AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1)
        |    AS BIGINT) AS digit, count(*) AS n_obs
        |  FROM cents GROUP BY 1),
        | tot AS (SELECT sum(n_obs) AS n FROM dig),
        | p AS (SELECT digit, n_obs, n,
        |   ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) AS p
        |  FROM dig CROSS JOIN tot)
        | SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
        |  round(CAST(n AS DOUBLE) * p, 4) AS expected,
        |  round((CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * p)
        |    / sqrt(CAST(n AS DOUBLE) * p * (1.0 - p)), 4) AS z_score
        | FROM p""".stripMargin,
    "q294_simpson_audit" ->
      """WITH li AS (SELECT l_returnflag,
        |   CAST(l_discount AS DECIMAL(18,4)) AS x,
        |   CAST(l_quantity AS DECIMAL(18,4)) AS y FROM lineitem),
        | g AS (SELECT l_returnflag, count(*) AS n, sum(x) AS sx,
        |   sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx,
        |   sum(y * y) AS syy FROM li GROUP BY 1),
        | p AS (SELECT count(*) AS pn, sum(x) AS psx, sum(y) AS psy,
        |   sum(x * y) AS psxy, sum(x * x) AS psxx,
        |   sum(y * y) AS psyy FROM li),
        | rr AS (SELECT g.l_returnflag, g.n,
        |   round((CAST(g.n AS DOUBLE) * CAST(g.sxy AS DOUBLE)
        |     - CAST(g.sx AS DOUBLE) * CAST(g.sy AS DOUBLE))
        |    / sqrt((CAST(g.n AS DOUBLE) * CAST(g.sxx AS DOUBLE)
        |      - CAST(g.sx AS DOUBLE) * CAST(g.sx AS DOUBLE))
        |     * (CAST(g.n AS DOUBLE) * CAST(g.syy AS DOUBLE)
        |      - CAST(g.sy AS DOUBLE) * CAST(g.sy AS DOUBLE))), 6)
        |    AS r_group,
        |   round((CAST(p.pn AS DOUBLE) * CAST(p.psxy AS DOUBLE)
        |     - CAST(p.psx AS DOUBLE) * CAST(p.psy AS DOUBLE))
        |    / sqrt((CAST(p.pn AS DOUBLE) * CAST(p.psxx AS DOUBLE)
        |      - CAST(p.psx AS DOUBLE) * CAST(p.psx AS DOUBLE))
        |     * (CAST(p.pn AS DOUBLE) * CAST(p.psyy AS DOUBLE)
        |      - CAST(p.psy AS DOUBLE) * CAST(p.psy AS DOUBLE))), 6)
        |    AS r_pooled
        |  FROM g CROSS JOIN p)
        | SELECT l_returnflag, CAST(n AS BIGINT) AS n, r_group,
        |  r_pooled, r_group * r_pooled < 0.0 AS sign_reversed
        | FROM rr""".stripMargin,
    "q298_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(CASE WHEN l_returnflag IS NULL THEN 2 ELSE 0 END
        |  + CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END
        |  AS BIGINT) AS gid,
        | count(*) AS n,
        | CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
        |  AS BIGINT) AS qty_cents
        | FROM lineitem
        | GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
        |  (l_returnflag, l_linestatus), ())""".stripMargin,
    "q299_rolling_range_window" ->
      """WITH ev AS (SELECT user_id, epoch_ns(ts) AS t,
        |   CAST(round("value" * 100.0) AS BIGINT) AS cents
        |  FROM events),
        | rolled AS (SELECT user_id, t,
        |   CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY t
        |    RANGE BETWEEN 86400000000000 PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS roll
        |  FROM ev),
        | peak AS (SELECT user_id, count(*) AS n_events,
        |   max(roll) AS peak_cents FROM rolled GROUP BY 1)
        | SELECT r.user_id, CAST(max(p.n_events) AS BIGINT)
        |   AS n_events,
        |  CAST(max(p.peak_cents) AS BIGINT) AS peak_cents,
        |  CAST(min(r.t) AS BIGINT) AS peak_ts
        | FROM rolled r JOIN peak p ON r.user_id = p.user_id
        | WHERE r.roll = p.peak_cents
        | GROUP BY 1""".stripMargin,
    "q301_basket_rules" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS o,
        |   l_partkey AS p FROM lineitem),
        | n AS (SELECT count(DISTINCT o) AS n FROM bi),
        | cx AS (SELECT p, count(*) AS c FROM bi GROUP BY 1),
        | pairs AS (SELECT a.p AS x, b.p AS y, count(*) AS cxy
        |  FROM bi a JOIN bi b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        | top AS (SELECT pairs.x, pairs.y, cxy, gx.c AS cx,
        |   gy.c AS cy,
        |   CAST(round(CAST(n.n AS DOUBLE) * cxy
        |     / CAST(gx.c * gy.c AS DOUBLE) * 1e6) AS BIGINT) AS lm
        |  FROM pairs JOIN cx gx ON pairs.x = gx.p
        |   JOIN cx gy ON pairs.y = gy.p CROSS JOIN n
        |  ORDER BY lm DESC, pairs.x, pairs.y LIMIT 20)
        | SELECT x AS part_x, y AS part_y,
        |  CAST(cxy AS BIGINT) AS support,
        |  round(CAST(cxy AS DOUBLE) / CAST(cx AS DOUBLE), 6)
        |   AS confidence_xy,
        |  round(CAST(lm AS DOUBLE) / 1e6, 6) AS lift
        | FROM top""".stripMargin,
    "q328_source_quantiles" ->
      """WITH b AS (SELECT source, CAST(n_chars AS BIGINT) AS v,
        |   doc_id FROM documents),
        | r AS (SELECT source, v,
        |   CAST(row_number() OVER (PARTITION BY source
        |     ORDER BY v, doc_id) AS BIGINT) AS lrk,
        |   CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS ns
        |  FROM b),
        | p AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS p)
        | SELECT source, p, ns AS n_docs, v AS q_value
        | FROM r JOIN p ON lrk = ((ns - 1) * p) // 100 + 1""".stripMargin,
    "q336_encoding_advisor" ->
      """WITH b AS (SELECT l_returnflag, l_linestatus, l_suppkey,
        |   l_partkey, l_quantity,
        |   lead(l_returnflag) OVER w AS n_rf,
        |   lead(l_linestatus) OVER w AS n_ls,
        |   lead(l_suppkey) OVER w AS n_sk,
        |   lead(l_partkey) OVER w AS n_pk,
        |   lead(l_quantity) OVER w AS n_qt
        |  FROM lineitem
        |  WINDOW w AS (ORDER BY l_orderkey, l_linenumber)),
        | chg AS (SELECT
        |   CAST(sum(CASE WHEN n_rf IS NOT NULL
        |     AND n_rf <> l_returnflag THEN 1 ELSE 0 END) AS BIGINT)
        |    AS c_rf,
        |   CAST(sum(CASE WHEN n_ls IS NOT NULL
        |     AND n_ls <> l_linestatus THEN 1 ELSE 0 END) AS BIGINT)
        |    AS c_ls,
        |   CAST(sum(CASE WHEN n_sk IS NOT NULL
        |     AND n_sk <> l_suppkey THEN 1 ELSE 0 END) AS BIGINT)
        |    AS c_sk,
        |   CAST(sum(CASE WHEN n_pk IS NOT NULL
        |     AND n_pk <> l_partkey THEN 1 ELSE 0 END) AS BIGINT)
        |    AS c_pk,
        |   CAST(sum(CASE WHEN n_qt IS NOT NULL
        |     AND n_qt <> l_quantity THEN 1 ELSE 0 END) AS BIGINT)
        |    AS c_qt
        |  FROM b),
        | nd AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(count(DISTINCT l_returnflag) AS BIGINT) AS d_rf,
        |   CAST(count(DISTINCT l_linestatus) AS BIGINT) AS d_ls,
        |   CAST(count(DISTINCT l_suppkey) AS BIGINT) AS d_sk,
        |   CAST(count(DISTINCT l_partkey) AS BIGINT) AS d_pk,
        |   CAST(count(DISTINCT l_quantity) AS BIGINT) AS d_qt
        |  FROM lineitem),
        | m AS (
        |  SELECT 'l_returnflag' AS column_name, d_rf AS n_distinct,
        |    c_rf + 1 AS n_runs FROM nd, chg
        |  UNION ALL SELECT 'l_linestatus', d_ls, c_ls + 1
        |   FROM nd, chg
        |  UNION ALL SELECT 'l_suppkey', d_sk, c_sk + 1 FROM nd, chg
        |  UNION ALL SELECT 'l_partkey', d_pk, c_pk + 1 FROM nd, chg
        |  UNION ALL SELECT 'l_quantity', d_qt, c_qt + 1
        |   FROM nd, chg)
        | SELECT column_name, n AS n_rows, n_distinct, n_runs,
        |  CASE WHEN n_runs * 4 <= n THEN 'rle'
        |   WHEN n_distinct * 100 <= n THEN 'dict'
        |   ELSE 'plain' END AS advice
        | FROM m, nd""".stripMargin,
    "q337_table_checksum" -> {
      val h60 = DedupQueries.md5Hex60Sql
      def leg(c: String) = s"coalesce(CAST($c AS VARCHAR), '∅')"
      s"""WITH lh AS (SELECT md5(${leg("l_orderkey")} || '|'
        |    || ${leg("l_linenumber")} || '|'
        |    || ${leg("l_suppkey")} || '|'
        |    || ${leg("l_returnflag")}) AS m FROM lineitem),
        | oh AS (SELECT md5(${leg("o_orderkey")} || '|'
        |    || ${leg("o_custkey")} || '|'
        |    || ${leg("o_orderstatus")}) AS m FROM orders),
        | dh AS (SELECT md5(${leg("doc_id")} || '|'
        |    || ${leg("lang")} || '|' || ${leg("source")} || '|'
        |    || ${leg("n_chars")}) AS m FROM documents),
        | eh AS (SELECT md5(${leg("event_id")} || '|'
        |    || ${leg("user_id")} || '|'
        |    || ${leg("event_type")}) AS m FROM events)
        | SELECT 'lineitem' AS table_name,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum($h60) % 2305843009213693951 AS BIGINT)
        |   AS checksum FROM lh
        | UNION ALL SELECT 'orders', CAST(count(*) AS BIGINT),
        |  CAST(sum($h60) % 2305843009213693951 AS BIGINT) FROM oh
        | UNION ALL SELECT 'documents', CAST(count(*) AS BIGINT),
        |  CAST(sum($h60) % 2305843009213693951 AS BIGINT) FROM dh
        | UNION ALL SELECT 'events', CAST(count(*) AS BIGINT),
        |  CAST(sum($h60) % 2305843009213693951 AS BIGINT) FROM eh"""
        .stripMargin
    },
    "q368_parity_probe" -> {
      val h60 = DedupQueries.md5Hex60Sql
      def item(table: String, name: String, e: String) =
        s"""SELECT '$table.$name' AS item,
           |  CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum($h60) % 2305843009213693951 AS BIGINT)
           |   AS residue
           | FROM (SELECT md5(coalesce(CAST($e AS VARCHAR), '∅'))
           |    AS m FROM $table)""".stripMargin
      val stops = "('a','the','of','and','in','to','is')"
      val items = Seq(
        item("lineitem", "l_orderkey", "l_orderkey"),
        item("lineitem", "l_linenumber", "l_linenumber"),
        item("lineitem", "l_suppkey", "l_suppkey"),
        item("lineitem", "l_returnflag", "l_returnflag"),
        item("orders", "o_orderkey", "o_orderkey"),
        item("orders", "o_custkey", "o_custkey"),
        item("orders", "o_orderstatus", "o_orderstatus"),
        item("events", "event_id", "event_id"),
        item("events", "user_id", "user_id"),
        item("events", "event_type", "event_type"),
        item("documents", "doc_id", "doc_id"),
        item("documents", "lang", "lang"),
        item("documents", "source", "source"),
        item("documents", "n_chars", "n_chars"),
        item("documents", "feat_n_words",
          "CAST(len(string_split(text, ' ')) AS BIGINT)"),
        item("documents", "feat_n_chars",
          "CAST(length(text) AS BIGINT)"),
        item("documents", "feat_n_stop",
          "CAST(len(list_filter(string_split(text, ' '), " +
            s"x -> x IN $stops)) AS BIGINT)"),
        item("documents", "feat_n_punct",
          "CAST(length(text) - length(regexp_replace(text, " +
            "'[^a-z0-9 ]', '', 'g')) AS BIGINT)"))
      items.mkString("", "\n UNION ALL\n", "")
    },
    "q349_bucket_diff" -> {
      val h60 = DedupQueries.md5Hex60Sql
      s"""WITH v1 AS (SELECT doc_id, lang, source,
        |   CAST(n_chars AS BIGINT) AS n_chars FROM documents),
        | v2 AS (SELECT doc_id, lang, source,
        |   CASE WHEN doc_id % 101 = 0 THEN n_chars + 1
        |    ELSE n_chars END AS n_chars
        |  FROM v1 WHERE doc_id % 97 <> 0),
        | h1 AS (SELECT doc_id % 64 AS bucket,
        |   md5(CAST(doc_id AS VARCHAR) || '|' || lang || '|'
        |    || source || '|' || CAST(n_chars AS VARCHAR)) AS m
        |  FROM v1),
        | h2 AS (SELECT doc_id % 64 AS bucket,
        |   md5(CAST(doc_id AS VARCHAR) || '|' || lang || '|'
        |    || source || '|' || CAST(n_chars AS VARCHAR)) AS m
        |  FROM v2),
        | a1 AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_v1,
        |   CAST(sum($h60) AS DECIMAL(38,0)) AS cs_v1
        |  FROM h1 GROUP BY 1),
        | a2 AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_v2,
        |   CAST(sum($h60) AS DECIMAL(38,0)) AS cs_v2
        |  FROM h2 GROUP BY 1)
        | SELECT COALESCE(a1.bucket, a2.bucket) AS bucket,
        |  COALESCE(n_v1, 0) AS n_v1, COALESCE(n_v2, 0) AS n_v2,
        |  COALESCE(n_v2, 0) - COALESCE(n_v1, 0) AS delta_rows,
        |  COALESCE(n_v1, 0) = COALESCE(n_v2, 0) AS content_drift
        | FROM a1 FULL OUTER JOIN a2 ON a1.bucket = a2.bucket
        | WHERE cs_v1 IS NULL OR cs_v2 IS NULL OR cs_v1 <> cs_v2""".stripMargin
    }
  )
}
