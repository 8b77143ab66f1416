package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Behavioral / event-log analytics over the `events` stream table —
  * the workloads a time-series engine's users actually run on stamped
  * edges (SURVEY §1.1: "edges are the time-series"): semi-structured
  * payload extraction, cohort retention, interval concurrency
  * (sweep-line), and gap-based activity islands.
  *
  * `ts` is an ns-since-epoch long (Tables scaladoc); arithmetic stays
  * in exact integer µs/day space so every oracle compare is
  * bit-stable. One shuffle per query (on the analysis key), window
  * sorts run inside the keyed partitions.
  */
object BehaviorQueries extends QueryPack {

  /** epoch µs from the ns-long stamp. Exact integral divide
    * (IntegralDivide) — the double `/` rounds above 2^53, and epoch-ns
    * is ~1.7e18. All testdata stamps are post-epoch so truncation =
    * floor = DuckDB's epoch_us on the TIMESTAMP_NS read. */
  private def us(c: org.apache.spark.sql.Column) =
    call_function("div", c, lit(1000L))
  private val usPerDay = 86400000000L

  protected val entries: Map[String, Query] = Map(
    // Out-of-order depth accounting: how far events arrive behind the
    // per-user event-time high-water mark, using insertion order
    // (event_id) as the arrival axis — THE diagnostic that sizes a
    // streaming watermark (EventStreams scaladoc: withWatermark must
    // exceed the observed disorder or late rows drop). depth =
    // running max(ts) − ts over arrival order, all exact integer µs;
    // one keyed window shuffle on user_id, then a per-type rollup.
    "q149_disorder" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          us(col("ts")).as("t"))
        .withColumn("depth", max(col("t")).over(w) - col("t"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("depth") > 0L, 1L).otherwise(0L)).as("n_late"),
          max(col("depth")).as("max_depth_us"),
          round(sum(when(col("depth") > 0L, col("depth")).otherwise(0L))
            .cast("double") /
            greatest(sum(when(col("depth") > 0L, 1L).otherwise(0L)),
              lit(1L)), 6).as("avg_late_depth_us"))
    }),
    // Last-touch attribution: for every purchase, the event type that
    // immediately preceded it in the user's stream — the simplest
    // attribution model, and a family (credit assignment over event
    // sequences) none of the other behavioral queries cover. One
    // lag() tap inside the user window, then a tiny rollup with the
    // purchase total broadcast back for the share.
    "q171_attribution" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
      val touches = Tables.events(s, d)
        .select(col("user_id"), us(col("ts")).as("t"), col("event_id"),
          col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("event_type") === "purchase" &&
          col("prev_type").isNotNull)
        .groupBy(col("prev_type"))
        .agg(count(lit(1)).as("n_purchases"))
      val total = touches.agg(sum(col("n_purchases")).as("tot"))
      touches.crossJoin(broadcast(total))
        .select(col("prev_type"), col("n_purchases"),
          round(col("n_purchases").cast("double") / col("tot"), 6)
            .as("share"))
    }),
    // Time-to-convert: per converting user, µs from first 'view' to
    // the first 'purchase' AFTER it, rolled up to a distribution
    // summary (converters, median/max latency) — the metric behind
    // every funnel-latency dashboard, and the complement of q84's
    // step counts. One aggregate keyed on user_id (two conditional
    // mins — no window, no join); the exact-integer latencies make
    // the median land on exact half-integers, so no rounding exists
    // to disagree on.
    "q163_time_to_convert" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        col("event_type"), us(col("ts")).as("t"))
      val per = ev.groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("t")))
          .as("first_view"))
      val conv = ev.filter(col("event_type") === "purchase")
        .join(per.filter(col("first_view").isNotNull), "user_id")
        .filter(col("t") >= col("first_view"))
        .groupBy(col("user_id"))
        .agg(min(col("t") - col("first_view")).as("latency_us"))
      conv.agg(count(lit(1)).as("n_converters"),
        min(col("latency_us")).as("min_us"),
        percentile(col("latency_us"), lit(0.5)).as("median_us"),
        max(col("latency_us")).as("max_us"))
    }),
    // Top user journeys: the 20 most frequent 3-step event-type paths
    // — funnel DISCOVERY (q84 measures a known funnel; this finds the
    // candidates). Two lead() taps inside the per-user window build
    // the path k-grams in one keyed shuffle; the count is a tiny
    // (|types|³-bounded) aggregate; top-20 via TakeOrdered, no global
    // sort materializes.
    "q159_top_paths" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), us(col("ts")).as("t"), col("event_id"),
          col("event_type").as("s1"))
        .withColumn("s2", lead(col("s1"), 1).over(w))
        .withColumn("s3", lead(col("s1"), 2).over(w))
        .filter(col("s3").isNotNull)
        .groupBy(col("s1"), col("s2"), col("s3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("s1").asc, col("s2").asc,
          col("s3").asc)
        .limit(20)
    }),
    // Markov transition matrix over event types: per-user consecutive
    // event pairs (lead inside the user_id window), counted globally,
    // with row-normalized transition probabilities. The per-from
    // totals ride back via broadcast (event-type vocabulary is tiny
    // next to the event stream), so the events shuffle exactly once —
    // on user_id for the ordering window; everything after runs on
    // the (from, to) aggregate, which is |types|² rows no matter how
    // many events feed it.
    "q142_transitions" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
      val pairs = Tables.events(s, d)
        .select(col("user_id"), us(col("ts")).as("t"), col("event_id"),
          col("event_type").as("from_type"))
        .withColumn("to_type", lead(col("from_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = pairs.groupBy(col("from_type"))
        .agg(sum(col("n")).as("row_n"))
      pairs.join(broadcast(totals), Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n").cast("double") / col("row_n"), 6).as("p"))
    }),
    // Semi-structured payload: JSON path extraction from the props
    // string, aggregated per event type. get_json_object is codegen'd;
    // at scale the JSON never leaves the executor — only (type, k)
    // pairs shuffle into the partial aggregation.
    "q100_json_extract" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          round(sum(col("k")).cast("double") / count(lit(1)), 6)
            .as("avg_k"))),
    // Cohort retention: users bucketed by first-activity week, counted
    // per (cohort_week, active_week). Two aggregations, both keyed on
    // user_id first — the wide event set shuffles once on user_id,
    // then the small (user, week) set reshuffles on the cohort key.
    "q101_cohort_retention" -> ((s, d) => {
      val byUser = Tables.events(s, d)
        .select(col("user_id"),
          call_function("div",
            call_function("div", us(col("ts")), lit(usPerDay)), lit(7L))
            .as("week"))
        .groupBy(col("user_id"), col("week")).agg(count(lit(1)).as("n_ev"))
      val cohort = byUser.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort_week"))
      byUser.join(cohort, "user_id")
        .groupBy(col("cohort_week"), col("week"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          sum(col("n_ev")).as("n_events"))
    }),
    // Sweep-line concurrency: each event opens a 5-minute interval;
    // +1/-1 boundary points, running sum in time order, max per day.
    // The prefix sum is DISTRIBUTED (Rank.distributedPrefixSum): range
    // partition on (t, delta), local ROWS running sums, carry-in = Σ
    // delta of earlier partitions — no single-partition window. Ties
    // split across a range boundary are harmless: identical increments
    // produce the same multiset of partial sums either side of the
    // cut, and only max-per-day is kept. Ends sort before starts at
    // the same instant (delta asc), matching the oracle's ROWS frame.
    "q102_concurrency" -> ((s, d) => {
      val ev = Tables.events(s, d).select(us(col("ts")).as("t"))
      val pts = ev.select(col("t"), lit(1).as("delta"))
        .unionAll(ev.select((col("t") + 300000000L).as("t"),
          lit(-1).as("delta")))
      Rank.distributedPrefixSum(pts,
          Seq(col("t").asc, col("delta").asc), col("delta"), s)
        .select(call_function("div", col("t"), lit(usPerDay)).as("day"),
          col("run").as("conc"))
        .groupBy(col("day"))
        .agg(max(col("conc")).cast("long").as("peak_concurrency"))
    }),
    // Gap islands: per user, a >30-minute silence starts a new
    // activity burst. lag + conditional prefix sum inside the per-user
    // window — one shuffle on user_id, integer-exact everywhere.
    "q103_gap_islands" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
      val gap = 1800000000L // 30 min in µs
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), us(col("ts")).as("t"))
        .withColumn("new_island",
          when(col("t") - lag(col("t"), 1).over(w) > gap, 1)
            .otherwise(lit(0)))
        .withColumn("island",
          sum(col("new_island"))
            .over(w.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)))
        .groupBy(col("user_id"), col("island"))
        .agg(count(lit(1)).as("len"),
          call_function("div", max(col("t")) - min(col("t")),
            lit(60000000L)).as("span_min"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_islands"),
          max(col("len")).as("longest_island"),
          max(col("span_min")).as("longest_span_min"))
    }),
    // Per-user event-type sequences (first 20 events in time order) —
    // the sequence-dataset prep step for behavioral models. The
    // ordering is pinned by (t, event_id) so the concatenated string
    // is engine- and partitioning-stable; collect_list's arbitrary
    // arrival order is neutralized by sorting (t, id, type) structs
    // in-row before joining.
    "q116_event_sequences" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          us(col("ts")).as("t"))
        .withColumn("rk", row_number().over(w))
        .withColumn("n_events",
          count(lit(1)).over(Window.partitionBy(col("user_id"))))
        .filter(col("rk") <= 20)
        .groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"),
          array_join(transform(
            array_sort(collect_list(struct(col("t"), col("event_id"),
              col("event_type")))),
            e => e.getField("event_type")), " ").as("seq20"))
    }),
    // Kaplan–Meier survival curve (Kaplan & Meier 1958) for
    // days-until-first-error per user: death = first 'error' event,
    // users who never error are right-censored at their last event —
    // the churn/TTF estimator an event engine's users expect. S(t) =
    // Π_{s≤t}(1 − d_s/n_s) over the DAY grid (≤ span days, never
    // per-row): at-risk and death counts are exact integers, each
    // ln(1 − d/n) lands in micro-nats, the product is a cumulative
    // long sum over a ≤31-row broadcast triangle join, exp at the
    // end. greatest(n−d,1) pins the everyone-dies-on-the-last-day
    // corner to S=exp(ln(1/n)) on both engines instead of a −inf
    // overflow (identical arithmetic, documented bias only in that
    // degenerate final row).
    "q292_kaplan_meier" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        col("event_type"), us(col("ts")).as("t"))
      val life = ev.groupBy(col("user_id"))
        .agg(min(col("t")).as("t0"),
          min(when(col("event_type") === "error", col("t"))).as("te"),
          max(col("t")).as("tmax"))
        .select(col("user_id"), col("te").isNotNull.as("died"),
          call_function("div",
            coalesce(col("te"), col("tmax")) - col("t0"),
            lit(usPerDay)).as("dur"))
      val grid = life.groupBy(col("dur"))
        .agg(sum(when(col("died"), 1L).otherwise(0L)).as("dd"))
      val atRisk = life
        .join(broadcast(grid.select(col("dur").as("t")).distinct()),
          col("dur") >= col("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("n_risk"),
          sum(when(col("died") && col("dur") === col("t"), 1L)
            .otherwise(0L)).as("d"))
      val terms = atRisk.select(col("t"), col("n_risk"), col("d"),
        round(log(greatest(col("n_risk") - col("d"), lit(1L))
            .cast("double") / col("n_risk").cast("double")) * 1e6)
          .cast("long").as("lm"))
      terms.select(col("t").as("tt"))
        .join(broadcast(terms), col("t") <= col("tt"))
        .groupBy(col("tt"))
        .agg(max(when(col("t") === col("tt"), col("n_risk")))
            .as("n_risk"),
          max(when(col("t") === col("tt"), col("d"))).as("n_deaths"),
          sum(col("lm")).as("cl"))
        .select(col("tt").as("day"), col("n_risk"), col("n_deaths"),
          round(exp(col("cl").cast("double") / 1e6), 6)
            .as("survival"))
    }),
    // CUPED variance reduction (Deng et al. 2013, the industry A/B
    // standard): per-user pre-period (days 1–15) and post-period
    // (days 16–30) value sums; θ = cov(pre,post)/var(pre) and the
    // achievable variance reduction ρ² tell the experimenter how
    // much smaller the post-metric variance gets after regressing
    // out the pre-period covariate. Per-user sums go through
    // DECIMAL(18,4) then centi-unit longs (doubles never
    // accumulate), so the five moments are exact integers; the two
    // outputs are fixed-order doubles with an integer zero-variance
    // guard. Scales as two keyed aggs — per-user state is two longs.
    "q314_cuped" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(18, 4)
      val ev = Tables.events(s, d).select(col("user_id"),
        call_function("div", col("ts"), lit(86400000000000L))
          .as("db"), col("value"))
      val lo = ev.agg(min(col("db")).as("lo"))
      val per = ev.crossJoin(broadcast(lo))
        .groupBy(col("user_id"))
        .agg(
          round(sum(when(col("db") < col("lo") + 15L,
              col("value").cast(dec)).otherwise(lit(0).cast(dec)))
            .cast("double") * 100).cast("long").as("pre"),
          round(sum(when(col("db") >= col("lo") + 15L,
              col("value").cast(dec)).otherwise(lit(0).cast(dec)))
            .cast("double") * 100).cast("long").as("post"))
      val dg = org.apache.spark.sql.types.DecimalType(38, 0)
      per.agg(count(lit(1)).as("n"), sum(col("pre")).as("sp"),
          sum(col("post")).as("sq"),
          sum(col("pre") * col("pre")).as("spp"),
          sum(col("pre") * col("post")).as("spq"),
          sum(col("post") * col("post")).as("sqq"))
        .select(col("n").as("n_users"),
          // n·spp can pass 2^63 — the exact-equality guards run in
          // DECIMAL(38,0) (HUGEINT on the oracle side)
          when(col("n").cast(dg) * col("spp").cast(dg)
              === col("sp").cast(dg) * col("sp").cast(dg),
            lit(0.0))
          .otherwise(round(
            (col("n").cast("double") * col("spq").cast("double")
              - col("sp").cast("double") * col("sq").cast("double"))
            / (col("n").cast("double") * col("spp").cast("double")
              - col("sp").cast("double") * col("sp").cast("double")),
            6)).as("theta"),
          when(col("n").cast(dg) * col("spp").cast(dg)
              === col("sp").cast(dg) * col("sp").cast(dg)
              || col("n").cast(dg) * col("sqq").cast(dg)
              === col("sq").cast(dg) * col("sq").cast(dg),
            lit(0.0))
          .otherwise(round(
            (col("n").cast("double") * col("spq").cast("double")
              - col("sp").cast("double") * col("sq").cast("double"))
            * (col("n").cast("double") * col("spq").cast("double")
              - col("sp").cast("double") * col("sq").cast("double"))
            / ((col("n").cast("double") * col("spp").cast("double")
              - col("sp").cast("double") * col("sp").cast("double"))
              * (col("n").cast("double") * col("sqq").cast("double")
                - col("sq").cast("double") * col("sq").cast("double"))),
            6)).as("var_reduction"))
    }),
    // SCD Type-2 dimension build (Kimball's versioned-dimension
    // primitive): collapse each user's event_type change log into
    // dimension versions [valid_from, valid_to) with a per-user
    // version number — close a version when the ATTRIBUTE changes
    // (distinct from q103's gap/islands, which closes on inactivity).
    // Three steps, all keyed on user_id (never a global window):
    // change flags via lag, version ids via a running sum in the same
    // keyed exchange, version intervals via lead over the collapsed
    // frame. The graded output is the per-attribute rollup (version
    // counts, open versions, closed dwell in exact integer µs) so the
    // result stays bounded; the versioned frame itself is exactly
    // what an SCD2 MERGE would write at 100 TB — one shuffle wide.
    "q338_scd2_dimension" -> ((s, d) => {
      val wo = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
      val ev = Tables.events(s, d).select(col("user_id"),
        col("event_id"), us(col("ts")).as("t"), col("event_type"))
      val vers = ev
        .withColumn("chg",
          when(lag(col("event_type"), 1).over(wo).isNull
              || lag(col("event_type"), 1).over(wo) =!= col("event_type"),
            1L).otherwise(0L))
        .withColumn("version", sum(col("chg")).over(
          wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("version"), col("event_type"))
        .agg(min(col("t")).as("valid_from"),
          count(lit(1)).as("n_ev"))
      val dim = vers.withColumn("valid_to",
        lead(col("valid_from"), 1).over(
          Window.partitionBy(col("user_id")).orderBy(col("version"))))
      dim.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_versions"),
          sum(when(col("valid_to").isNull, 1L).otherwise(0L))
            .as("n_current"),
          sum(when(col("valid_to").isNotNull,
              col("valid_to") - col("valid_from")).otherwise(0L))
            .as("dwell_us"),
          sum(col("n_ev")).as("n_events"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q171_attribution" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_id,
        |   event_type FROM events),
        | seq AS (SELECT event_type,
        |   lag(event_type) OVER (PARTITION BY user_id
        |     ORDER BY t, event_id) AS prev_type
        |  FROM ev),
        | touches AS (SELECT prev_type, count(*) AS n_purchases
        |  FROM seq WHERE event_type = 'purchase'
        |   AND prev_type IS NOT NULL
        |  GROUP BY 1),
        | t AS (SELECT sum(n_purchases) AS tot FROM touches)
        | SELECT prev_type, n_purchases,
        |  round(n_purchases * 1.0 / t.tot, 6) AS share
        | FROM touches, t""".stripMargin,
    "q163_time_to_convert" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t
        |   FROM events),
        | fv AS (SELECT user_id,
        |   min(CASE WHEN event_type = 'view' THEN t END) AS first_view
        |  FROM ev GROUP BY 1),
        | conv AS (SELECT e.user_id,
        |   min(e.t - fv.first_view) AS latency_us
        |  FROM ev e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' AND fv.first_view IS NOT NULL
        |   AND e.t >= fv.first_view
        |  GROUP BY e.user_id)
        | SELECT count(*) AS n_converters, min(latency_us) AS min_us,
        |  quantile_cont(latency_us, 0.5) AS median_us,
        |  max(latency_us) AS max_us
        | FROM conv""".stripMargin,
    "q159_top_paths" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_id,
        |   event_type FROM events),
        | seq AS (SELECT event_type AS s1,
        |   lead(event_type, 1) OVER (PARTITION BY user_id
        |     ORDER BY t, event_id) AS s2,
        |   lead(event_type, 2) OVER (PARTITION BY user_id
        |     ORDER BY t, event_id) AS s3
        |  FROM ev)
        | SELECT s1, s2, s3, count(*) AS n FROM seq
        | WHERE s3 IS NOT NULL GROUP BY 1, 2, 3
        | ORDER BY n DESC, s1 ASC, s2 ASC, s3 ASC LIMIT 20""".stripMargin,
    "q149_disorder" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |   epoch_us(ts) AS t FROM events),
        | d AS (SELECT event_type,
        |   max(t) OVER (PARTITION BY user_id ORDER BY event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t
        |     AS depth
        |  FROM ev)
        | SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN depth > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_late,
        |  max(depth) AS max_depth_us,
        |  round(sum(CASE WHEN depth > 0 THEN depth ELSE 0 END) * 1.0
        |    / greatest(sum(CASE WHEN depth > 0 THEN 1 ELSE 0 END), 1),
        |    6) AS avg_late_depth_us
        | FROM d GROUP BY event_type""".stripMargin,
    "q142_transitions" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_id,
        |   event_type FROM events),
        | seq AS (SELECT event_type AS from_type,
        |   lead(event_type) OVER (PARTITION BY user_id
        |     ORDER BY t, event_id) AS to_type
        |  FROM ev),
        | pairs AS (SELECT from_type, to_type, count(*) AS n FROM seq
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        | tot AS (SELECT from_type, sum(n) AS row_n FROM pairs GROUP BY 1)
        | SELECT p.from_type, p.to_type, p.n,
        |  round((p.n * 1.0) / t.row_n, 6) AS p
        | FROM pairs p JOIN tot t USING (from_type)""".stripMargin,
    "q100_json_extract" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |   AS BIGINT) AS sum_k,
        | min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        | max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        | round(CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |   AS DOUBLE) / count(*), 6) AS avg_k
        | FROM events GROUP BY event_type""".stripMargin,
    "q101_cohort_retention" ->
      """WITH by_user AS (SELECT user_id,
        |   epoch_us(ts) // 86400000000 // 7 AS week, count(*) AS n_ev
        |  FROM events GROUP BY 1, 2),
        | cohort AS (SELECT user_id, min(week) AS cohort_week
        |  FROM by_user GROUP BY 1)
        | SELECT c.cohort_week, b.week,
        |  count(DISTINCT b.user_id) AS n_users,
        |  CAST(sum(b.n_ev) AS BIGINT) AS n_events
        | FROM by_user b JOIN cohort c USING (user_id)
        | GROUP BY 1, 2""".stripMargin,
    "q102_concurrency" ->
      """WITH pts AS (
        |  SELECT epoch_us(ts) AS t, 1 AS delta FROM events
        |  UNION ALL
        |  SELECT epoch_us(ts) + 300000000 AS t, -1 AS delta FROM events),
        | run AS (SELECT t // 86400000000 AS day,
        |   sum(delta) OVER (ORDER BY t, delta
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM pts)
        | SELECT day, CAST(max(conc) AS BIGINT) AS peak_concurrency
        | FROM run GROUP BY day""".stripMargin,
    "q103_gap_islands" ->
      """WITH t AS (SELECT user_id, event_id, epoch_us(ts) AS t
        |   FROM events),
        | flag AS (SELECT user_id, event_id, t,
        |   CASE WHEN t - lag(t) OVER (PARTITION BY user_id
        |     ORDER BY t, event_id) > 1800000000 THEN 1 ELSE 0 END AS ni
        |  FROM t),
        | isl AS (SELECT user_id, t,
        |   sum(ni) OVER (PARTITION BY user_id ORDER BY t, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM flag),
        | per AS (SELECT user_id, island, count(*) AS len,
        |   (max(t) - min(t)) // 60000000 AS span_min
        |  FROM isl GROUP BY 1, 2)
        | SELECT user_id, count(*) AS n_islands,
        |  max(len) AS longest_island,
        |  CAST(max(span_min) AS BIGINT) AS longest_span_min
        | FROM per GROUP BY user_id""".stripMargin,
    "q116_event_sequences" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |   epoch_us(ts) AS t,
        |   row_number() OVER (PARTITION BY user_id
        |     ORDER BY epoch_us(ts), event_id) AS rk,
        |   count(*) OVER (PARTITION BY user_id) AS n_events
        |  FROM events)
        | SELECT user_id, CAST(max(n_events) AS BIGINT) AS n_events,
        |  string_agg(event_type, ' ' ORDER BY t, event_id) AS seq20
        | FROM e WHERE rk <= 20 GROUP BY user_id""".stripMargin,
    "q292_kaplan_meier" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t
        |  FROM events),
        | life AS (SELECT user_id,
        |   min(CASE WHEN event_type = 'error' THEN t END)
        |    IS NOT NULL AS died,
        |   (coalesce(min(CASE WHEN event_type = 'error' THEN t END),
        |     max(t)) - min(t)) // 86400000000 AS dur
        |  FROM ev GROUP BY 1),
        | grid AS (SELECT DISTINCT dur AS t FROM life),
        | ar AS (SELECT g.t, count(*) AS n_risk,
        |   sum(CASE WHEN l.died AND l.dur = g.t THEN 1 ELSE 0 END)
        |    AS d
        |  FROM life l JOIN grid g ON l.dur >= g.t GROUP BY 1),
        | terms AS (SELECT t, n_risk, d,
        |   CAST(round(ln(CAST(greatest(n_risk - d, 1) AS DOUBLE)
        |     / CAST(n_risk AS DOUBLE)) * 1e6) AS BIGINT) AS lm
        |  FROM ar)
        | SELECT a.t AS day, CAST(max(a.n_risk) AS BIGINT) AS n_risk,
        |  CAST(max(a.d) AS BIGINT) AS n_deaths,
        |  round(exp(CAST(sum(b.lm) AS DOUBLE) / 1e6), 6) AS survival
        | FROM terms a JOIN terms b ON b.t <= a.t GROUP BY 1""".stripMargin,
    "q314_cuped" ->
      """WITH ev AS (SELECT user_id,
        |   epoch_ns(ts) // 86400000000000 AS db, "value"
        |  FROM events),
        | lo AS (SELECT min(db) AS lo FROM ev),
        | per AS (SELECT user_id,
        |   CAST(round(CAST(sum(CASE WHEN db < lo + 15
        |     THEN CAST("value" AS DECIMAL(18,4))
        |     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) * 100)
        |    AS BIGINT) AS pre,
        |   CAST(round(CAST(sum(CASE WHEN db >= lo + 15
        |     THEN CAST("value" AS DECIMAL(18,4))
        |     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) * 100)
        |    AS BIGINT) AS post
        |  FROM ev CROSS JOIN lo GROUP BY 1),
        | m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(pre) AS BIGINT) AS sp,
        |   CAST(sum(post) AS BIGINT) AS sq,
        |   CAST(sum(pre * pre) AS BIGINT) AS spp,
        |   CAST(sum(pre * post) AS BIGINT) AS spq,
        |   CAST(sum(post * post) AS BIGINT) AS sqq
        |  FROM per)
        | SELECT n AS n_users,
        |  CASE WHEN CAST(n AS HUGEINT) * spp = CAST(sp AS HUGEINT) * sp
        |  THEN 0.0
        |  ELSE round((CAST(n AS DOUBLE) * CAST(spq AS DOUBLE)
        |    - CAST(sp AS DOUBLE) * CAST(sq AS DOUBLE))
        |   / (CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
        |    - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)), 6) END
        |   AS theta,
        |  CASE WHEN CAST(n AS HUGEINT) * spp = CAST(sp AS HUGEINT) * sp
        |   OR CAST(n AS HUGEINT) * sqq = CAST(sq AS HUGEINT) * sq
        |  THEN 0.0
        |  ELSE round((CAST(n AS DOUBLE) * CAST(spq AS DOUBLE)
        |    - CAST(sp AS DOUBLE) * CAST(sq AS DOUBLE))
        |   * (CAST(n AS DOUBLE) * CAST(spq AS DOUBLE)
        |    - CAST(sp AS DOUBLE) * CAST(sq AS DOUBLE))
        |   / ((CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
        |     - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
        |    * (CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
        |     - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))), 6) END
        |   AS var_reduction
        | FROM m""".stripMargin,
    "q338_scd2_dimension" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS t,
        |   event_type FROM events),
        | m AS (SELECT user_id, t, event_id, event_type,
        |   CASE WHEN lag(event_type) OVER w IS NULL
        |     OR lag(event_type) OVER w <> event_type
        |    THEN 1 ELSE 0 END AS chg
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        | v AS (SELECT user_id, event_type, t,
        |   sum(chg) OVER (PARTITION BY user_id ORDER BY t, event_id)
        |    AS version
        |  FROM m),
        | vers AS (SELECT user_id, version, event_type,
        |   min(t) AS valid_from, CAST(count(*) AS BIGINT) AS n_ev
        |  FROM v GROUP BY 1, 2, 3),
        | dim AS (SELECT event_type, valid_from, n_ev,
        |   lead(valid_from) OVER (PARTITION BY user_id
        |     ORDER BY version) AS valid_to
        |  FROM vers)
        | SELECT event_type, CAST(count(*) AS BIGINT) AS n_versions,
        |  CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_current,
        |  CAST(sum(CASE WHEN valid_to IS NOT NULL
        |    THEN valid_to - valid_from ELSE 0 END) AS BIGINT)
        |   AS dwell_us,
        |  CAST(sum(n_ev) AS BIGINT) AS n_events
        | FROM dim GROUP BY event_type""".stripMargin
  )
}
