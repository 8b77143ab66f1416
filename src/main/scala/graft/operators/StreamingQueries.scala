package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.streaming.EventStreams

/** Batch-mode coverage of the streaming transformations. The exact
  * same `EventStreams` functions run incrementally under
  * `readStream`/`writeStream` (see EventStreamsSpec) — Spark's unified
  * batch/streaming model means the oracle-checked batch result IS the
  * streaming result once the watermark passes.
  */
object StreamingQueries extends QueryPack {

  private def ev(s: SparkSession, d: String): DataFrame =
    EventStreams.withEventTime(Tables.events(s, d))

  protected val entries: Map[String, Query] = Map(
    // Tumbling 1-day event-time windows per event_type.
    "q53_window_tumbling" -> ((s, d) =>
      EventStreams.tumblingAgg(ev(s, d), "1 day")),
    // Sliding 6h/3h windows with deterministic mean.
    "q54_window_sliding" -> ((s, d) =>
      EventStreams.slidingAgg(ev(s, d), "6 hours", "3 hours")),
    // Built-in gap-based session windows (2h gap) per user.
    "q55_session_window" -> ((s, d) =>
      EventStreams.sessionAgg(ev(s, d), "2 hours")),
    // Ordered-step funnel over the event stream (signup → click →
    // purchase), one shuffle for the whole chain.
    "q84_funnel" -> ((s, d) =>
      EventStreams.funnelCounts(Tables.events(s, d), "user_id",
        "event_type", "ts", Seq("signup", "click", "purchase"))),
    // Custom keyed-state sessionizer (flatMapGroupsWithState), batch
    // mode: same state logic the incremental stream runs.
    "q56_sessionize_stateful" -> ((s, d) => {
      val sp = s; import sp.implicits._
      EventStreams.sessionizeStateful(
        Tables.events(s, d).as[EventStreams.Event],
        gapMinutes = 120, emitOpen = true).toDF()
    }),
    // Stream-stream interval join: each click matched to same-user
    // views in the trailing 10 minutes, aggregated per user. In a
    // live stream the time bound + watermarks prune the join state to
    // the lag horizon.
    "q120_interval_join" -> ((s, d) => {
      val e = ev(s, d)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_utc"), col("event_id"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_utc"), col("event_id"))
      EventStreams.intervalJoin(clicks, views, "user_id", "ts_utc",
          "10 minutes")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("event_id")).as("n_clicks_matched"),
          countDistinct(col("r_event_id")).as("n_views_matched"))
    }),
    // Stream-static enrichment: events against the customer dimension
    // (broadcast into every micro-batch, zero streaming state).
    "q121_stream_enrich" -> ((s, d) => {
      val dim = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      EventStreams.enrichStream(Tables.events(s, d), dim,
          "user_id", "c_custkey")
        .groupBy(col("d_c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
    }),
    // Streaming exact dedup: an at-least-once feed (every third event
    // re-delivered) collapses back to exactly-once within the
    // watermark horizon. Re-deliveries are bit-identical rows, so the
    // arbitrary-survivor semantics of dropDuplicates cannot leak into
    // the aggregate.
    "q122_stream_dedup" -> ((s, d) => {
      val e = ev(s, d)
      val dup = e.unionAll(e.filter(col("event_id") % 3 === 0))
      EventStreams.dedupEvents(dup, "10 minutes")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
    }),
    // Rolling peak rate per user: max events in any trailing 5-minute
    // interval. The batch plan is an exact RANGE-frame window count
    // inside the user partition (one shuffle); the streaming twin
    // (EventStreams.peakRateStateful, mapGroupsWithState with a
    // horizon-evicted buffer) is spec-proven to emit the identical
    // result incrementally (EventStreamsSpec).
    "q133_peak_rate" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("t"))
        .rangeBetween(-300000000L, 0L)
      Tables.events(s, d)
        .select(col("user_id"),
          call_function("div", col("ts"), lit(1000L)).as("t"))
        .withColumn("cnt", count(lit(1)).over(w))
        .groupBy(col("user_id"))
        .agg(max(col("cnt")).as("peak_5min"),
          count(lit(1)).as("n_events"))
    }),
    // Per-day dominant users (exact heavy hitters, count > total/50)
    // via the windowed Misra–Gries sketch + exact verify. The sketch
    // pass is a mergeable-state streaming aggregation; the output is
    // exact by the MG guarantee (cap 64 ≥ denom 50).
    "q179_window_heavy_hitters" -> ((s, d) =>
      EventStreams.windowHeavyHitters(ev(s, d), "1 day",
        threshDenom = 50L, cap = 64)),
    // Streaming drift monitor: per tumbling day, JS divergence of the
    // window's event-type mix against a static reference mix — the
    // per-window twin of q245's corpus drift (a feed whose type mix
    // walks away from the reference is the first sign of an upstream
    // break). Production shape: the windowed count agg runs
    // incrementally (watermark-pruned state, q53's machinery); the
    // JS scoring joins each closed window against the broadcast
    // reference in foreachBatch (two chained aggs don't fit one
    // unified streaming query). Terms quantized to 1e-9 integer
    // units before the order-free type sum (q245's discipline).
    "q251_stream_drift" -> ((s, d) => {
      val win = ev(s, d)
        .groupBy(window(col("ts_utc"), "1 day").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("cw"))
        .select(col("w.start").as("w_start"), col("event_type"),
          col("cw"))
      val ref = Tables.events(s, d).groupBy(col("event_type"))
        .agg(count(lit(1)).as("cr"))
      val refTot = ref.agg(sum(col("cr")).cast("long").as("nr"))
      val winTot = win.groupBy(col("w_start"))
        .agg(sum(col("cw")).cast("long").as("nw"))
      val joined = winTot.crossJoin(broadcast(ref))
        .crossJoin(broadcast(refTot))
        .join(win, Seq("w_start", "event_type"), "left")
        .select(col("w_start"), col("nw"),
          coalesce(col("cw"), lit(0L)).as("cw"), col("cr"), col("nr"))
      val pa = col("cw").cast("double") / col("nw")
      val pb = col("cr").cast("double") / col("nr")
      val m = (pa + pb) / lit(2.0)
      joined.select(col("w_start"), col("nw"),
          round((when(col("cw") > 0, pa * log(pa / m))
            .otherwise(lit(0.0)) + pb * log(pb / m)) * 1e9)
            .cast("long").as("ti"))
        .groupBy(col("w_start"), col("nw"))
        .agg(round(sum(col("ti")).cast("double") / 2e9, 6)
          .as("js_vs_reference"))
        .select(col("w_start"), col("nw").as("n_events"),
          col("js_vs_reference"))
    })
  )

  private val gapUs = 7200000000L // 2 hours in µs

  val oracles: Map[String, String] = Map(
    "q179_window_heavy_hitters" ->
      """WITH e AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
        |    AS w_start, user_id FROM events),
        | d AS (SELECT w_start, user_id, count(*) AS cnt FROM e
        |  GROUP BY 1, 2),
        | t AS (SELECT w_start, CAST(sum(cnt) AS BIGINT) AS win_total
        |  FROM d GROUP BY 1)
        | SELECT d.w_start, d.user_id, d.cnt, t.win_total
        | FROM d JOIN t USING (w_start)
        | WHERE d.cnt > t.win_total // 50""".stripMargin,
    "q120_interval_join" ->
      """WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS t
        |   FROM events WHERE event_type = 'click'),
        | v AS (SELECT user_id, event_id AS r_event_id, epoch_us(ts) AS t
        |   FROM events WHERE event_type = 'view'),
        | j AS (SELECT c.user_id, c.event_id, v.r_event_id
        |  FROM c JOIN v ON c.user_id = v.user_id
        |   AND v.t >= c.t - 600000000 AND v.t <= c.t)
        | SELECT user_id, count(*) AS n_pairs,
        |  count(DISTINCT event_id) AS n_clicks_matched,
        |  count(DISTINCT r_event_id) AS n_views_matched
        | FROM j GROUP BY user_id""".stripMargin,
    "q121_stream_enrich" ->
      """SELECT c.c_mktsegment AS segment, count(*) AS n_events,
        |  count(DISTINCT e.user_id) AS n_users
        | FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        | GROUP BY c.c_mktsegment""".stripMargin,
    "q122_stream_dedup" ->
      """WITH u AS (
        |  SELECT event_id, event_type, user_id FROM events
        |  UNION ALL
        |  SELECT event_id, event_type, user_id FROM events
        |  WHERE event_id % 3 = 0),
        | d AS (SELECT DISTINCT event_id, event_type, user_id FROM u)
        | SELECT event_type, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users
        | FROM d GROUP BY event_type""".stripMargin,
    "q133_peak_rate" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS t FROM events),
        | c AS (SELECT user_id, count(*) OVER (PARTITION BY user_id
        |   ORDER BY t
        |   RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW) AS cnt
        |  FROM ev)
        | SELECT user_id, CAST(max(cnt) AS BIGINT) AS peak_5min,
        |  count(*) AS n_events
        | FROM c GROUP BY user_id""".stripMargin,
    "q84_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
        |   WHERE event_type = 'signup' GROUP BY user_id),
        | s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |   JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
        |   WHERE e.event_type = 'click' GROUP BY e.user_id),
        | s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |   JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
        |   WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        | SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step, 'signup' AS step_name,
        |   (SELECT count(*) FROM s1) AS users
        |  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3))""".stripMargin,
    "q251_stream_drift" ->
      """WITH ref AS (SELECT event_type, count(*) AS cr
        |   FROM events GROUP BY 1),
        | rt AS (SELECT CAST(sum(cr) AS BIGINT) AS nr FROM ref),
        | win AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
        |    AS w_start, event_type, count(*) AS cw
        |  FROM events GROUP BY 1, 2),
        | wt AS (SELECT w_start, CAST(sum(cw) AS BIGINT) AS nw
        |  FROM win GROUP BY 1),
        | g AS (SELECT wt.w_start, wt.nw, coalesce(win.cw, 0) AS cw,
        |   ref.cr, rt.nr
        |  FROM wt CROSS JOIN ref CROSS JOIN rt
        |  LEFT JOIN win ON win.w_start = wt.w_start
        |   AND win.event_type = ref.event_type),
        | terms AS (SELECT w_start, nw, CAST(round((
        |   CASE WHEN cw > 0 THEN (CAST(cw AS DOUBLE) / nw)
        |     * ln((CAST(cw AS DOUBLE) / nw)
        |       / ((CAST(cw AS DOUBLE) / nw
        |          + CAST(cr AS DOUBLE) / nr) / 2.0)) ELSE 0.0 END
        |   + (CAST(cr AS DOUBLE) / nr)
        |     * ln((CAST(cr AS DOUBLE) / nr)
        |       / ((CAST(cw AS DOUBLE) / nw
        |          + CAST(cr AS DOUBLE) / nr) / 2.0))) * 1e9)
        |   AS BIGINT) AS ti
        |  FROM g)
        | SELECT w_start, nw AS n_events,
        |  round(CAST(sum(ti) AS DOUBLE) / 2e9, 6) AS js_vs_reference
        | FROM terms GROUP BY 1, 2""".stripMargin,
    "q53_window_tumbling" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start,
        |  event_type,
        |  count(*) AS n,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
        |    AS DOUBLE) AS sum_value
        | FROM events GROUP BY 1, 2""".stripMargin,
    "q54_window_sliding" ->
      """WITH e AS (SELECT epoch_us(ts) AS t, event_type, value
        |   FROM events),
        | wins AS (SELECT
        |   make_timestamp((t // 10800000000) * 10800000000
        |     - k * 10800000000) AS w_start, event_type, value
        |  FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k) ks)
        | SELECT w_start, event_type, n,
        |  CAST((num - ((num % den + den) % den)) // den AS BIGINT)
        |    / 1000000.0 AS avg_value
        | FROM (SELECT w_start, event_type, count(*) AS n,
        |   CAST(sum(CAST(value AS DECIMAL(18,4))) * 2000000 AS HUGEINT)
        |     + count(*) AS num,
        |   CAST(2 * count(*) AS HUGEINT) AS den
        |  FROM wins GROUP BY 1, 2)""".stripMargin,
    "q55_session_window" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
        | marked AS (SELECT user_id, t,
        |   CASE WHEN lag(t) OVER w IS NULL
        |         OR t - lag(t) OVER w >= $gapUs THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        | sess AS (SELECT user_id, t, sum(ns) OVER (
        |   PARTITION BY user_id ORDER BY t
        |   ROWS UNBOUNDED PRECEDING) AS sid FROM marked)
        | SELECT user_id, make_timestamp(min(t)) AS session_start,
        |  make_timestamp(max(t) + $gapUs) AS session_end,
        |  count(*) AS n_events
        | FROM sess GROUP BY user_id, sid""".stripMargin,
    "q56_sessionize_stateful" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
        | marked AS (SELECT user_id, t,
        |   CASE WHEN lag(t) OVER w IS NULL
        |         OR t - lag(t) OVER w > $gapUs THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        | sess AS (SELECT user_id, t, sum(ns) OVER (
        |   PARTITION BY user_id ORDER BY t
        |   ROWS UNBOUNDED PRECEDING) AS sid FROM marked)
        | SELECT user_id, min(t) AS start_us, max(t) AS end_us,
        |  count(*) AS n_events
        | FROM sess GROUP BY user_id, sid""".stripMargin
  )
}
