package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Materialize
import graft.Materialize.{drop, hold}

/** Structured-Streaming superset of the reference's time-series model.
  *
  * NoWDB's "edges are time-series events" (SURVEY §2.9: stamped
  * append-only rows, period pruning, background sorters) maps to
  * Structured Streaming: `readStream` over an append-only source,
  * event-time windows + watermarks, and keyed state for custom
  * sessionization. Every transformation below is written against a
  * plain DataFrame so the SAME code runs in batch (the oracle-checked
  * queries) and incrementally in a stream — Spark's unified model.
  *
  * Scale: windowed aggregations shuffle on (window, key) with map-side
  * partial aggregation; state stores are per-key and pruned by
  * watermark, so 1000-executor state stays bounded by live keys, not
  * history.
  */
object EventStreams {

  /** events-table schema with `ts` as ns-since-epoch long (the
    * engine's exact time model; SURVEY §7.3). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** µs-precision event-time column derived from the ns long (exact
    * integral division — double `/` loses µs above 2^53 ns). */
  def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("ts_utc", graft.functions.NowFunctions.stampToTs(col("ts")))

  /** File-source stream over an events directory (parquet, append-only
    * — the streaming analog of NoWDB's pending-file ingestion). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    withEventTime(spark.readStream.schema(eventSchema).parquet(dir))

  /** Tumbling event-time window counts + exact value sums per
    * event_type. `watermark` bounds state/late data in streaming; pass
    * None for batch. Decimal sum keeps the result order-independent. */
  def tumblingAgg(events: DataFrame, width: String,
                  watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts_utc", w))
    src.groupBy(window(col("ts_utc"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double")
          .as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Sliding event-time windows (width/slide) with count and a
    * deterministic mean. The 6-dp mean is rounded in exact decimal
    * arithmetic — avg·10⁶ = floor((S₄·200 + n) / 2n) over the exact
    * fixed-point sum S₄ = sv·10⁴ — so the rounding decision never
    * rests on a double ulp (a plain `round(double, 6)` diverges
    * between engines when the mean lands within an ulp of a 5·10⁻⁷
    * boundary, which real data does hit). The floor is spelled out as
    * (num − pmod(num, den))/den in decimal(38,·): long arithmetic
    * would overflow past |Σvalue| ≈ 4.6e13 (ANSI abort), and native
    * integer division is truncating here but flooring in some DuckDB
    * versions — the explicit form means "round half toward +∞" holds
    * for BOTH engines at every sign and magnitude. */
  def slidingAgg(events: DataFrame, width: String, slide: String,
                 watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts_utc", w))
    val num = col("sv").cast(DecimalType(38, 4)) * lit(2000000L) + col("n")
    val den = (col("n") * lit(2L)).cast(DecimalType(38, 0))
    val mean6 = ((num - pmod(num, den)) / den).cast(DecimalType(38, 0))
    src.groupBy(window(col("ts_utc"), width, slide).as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).as("sv"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"),
        (mean6.cast("double") / lit(1000000.0)).as("avg_value"))
  }

  /** Built-in gap-based session windows per user: session start, end
    * (= last event + gap, Spark semantics) and event count. */
  def sessionAgg(events: DataFrame, gap: String,
                 watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts_utc", w))
    src.groupBy(session_window(col("ts_utc"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
  }

  // ---- custom keyed state: incremental sessionization ----

  case class Event(event_id: Long, ts: Long, user_id: Long,
                   event_type: String, value: Double, props: String)
  /** Open-session register: all times in µs since epoch. */
  case class SessionState(start: Long, last: Long, n: Long)
  case class Session(user_id: Long, start_us: Long, end_us: Long,
                     n_events: Long)

  /** flatMapGroupsWithState sessionizer. In streaming, closed sessions
    * are emitted when the event-time timeout (watermark past
    * last + gap) fires; `emitOpen=true` (batch mode) also flushes the
    * trailing open session, since batch runs the function exactly once
    * per key and no timeout will ever fire. */
  private def sessionize(gapUs: Long, emitOpen: Boolean)(
      user: Long, rows: Iterator[Event],
      state: GroupState[SessionState]): Iterator[Session] = {
    def close(s: SessionState) = Session(user, s.start, s.last, s.n)
    if (state.hasTimedOut) {
      val out = state.getOption.map(close).iterator
      state.remove()
      out
    } else {
      val evs = rows.map(e => e.ts / 1000L).toArray.sorted
      var out = List.empty[Session]
      var cur = state.getOption
      evs.foreach { t =>
        cur = cur match {
          case Some(s) if t - s.last <= gapUs =>
            Some(s.copy(last = math.max(s.last, t), n = s.n + 1))
          case Some(s) =>
            out ::= close(s); Some(SessionState(t, t, 1))
          case None => Some(SessionState(t, t, 1))
        }
      }
      cur.foreach { s =>
        if (emitOpen) out ::= close(s)
        else {
          state.update(s)
          state.setTimeoutTimestamp(s.last / 1000L + gapUs / 1000L)
        }
      }
      out.reverseIterator
    }
  }

  /** Typed entry: sessionize an event Dataset with a gap in minutes.
    * Batch (`emitOpen=true`) and streaming share the state logic. */
  def sessionizeStateful(events: Dataset[Event], gapMinutes: Int,
                         emitOpen: Boolean): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        sessionize(gapMinutes * 60_000_000L, emitOpen))
  }

  case class RateState(buf: Array[Long], peak: Long, total: Long)
  case class PeakRate(user_id: Long, peak_5min: Long, n_events: Long)

  /** Rolling peak rate: the max number of events inside any trailing
    * `windowUs` interval, per user. Keyed state is the event times
    * still inside the horizon of the newest seen event — anything
    * older can never fall in a future trailing window, so the buffer
    * is evicted as time advances and 1000-executor state stays
    * bounded by rate·horizon, not history. Peak is a monotone max
    * carried across batches; re-counting windows that end at buffered
    * events is idempotent. Batch mode (one invocation per key, empty
    * state) degenerates to the exact two-pointer sweep, which is how
    * q133 proves the state logic against a SQL oracle. Late events
    * below the horizon update the total but cannot re-open evicted
    * windows (watermark semantics). */
  private def peakRateFn(windowUs: Long)(
      user: Long, rows: Iterator[Event],
      state: GroupState[RateState]): PeakRate = {
    val prev = state.getOption
      .getOrElse(RateState(Array.emptyLongArray, 0L, 0L))
    val incoming = rows.map(_.ts / 1000L).toArray
    val merged = new Array[Long](prev.buf.length + incoming.length)
    System.arraycopy(prev.buf, 0, merged, 0, prev.buf.length)
    System.arraycopy(incoming, 0, merged, prev.buf.length, incoming.length)
    java.util.Arrays.sort(merged)
    var peak = prev.peak
    var l = 0
    var j = 0
    while (j < merged.length) {
      while (merged(l) < merged(j) - windowUs) l += 1
      if (j - l + 1 > peak) peak = j - l + 1
      j += 1
    }
    val total = prev.total + incoming.length
    val horizon =
      if (merged.isEmpty) Long.MinValue
      else merged(merged.length - 1) - windowUs
    state.update(RateState(merged.dropWhile(_ < horizon), peak, total))
    PeakRate(user, peak, total)
  }

  /** Typed entry: per-user rolling peak rate with a window in
    * minutes. Streaming runs it under Update mode (each batch emits
    * the running peak); batch runs the same state logic once per key. */
  def peakRateStateful(events: Dataset[Event],
                       windowMinutes: Int): Dataset[PeakRate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        peakRateFn(windowMinutes * 60000000L))
  }

  /** Funnel analysis: how many users performed `steps` strictly in
    * order (each step after the previous step's FIRST occurrence).
    * Built as a chain of min-aggregations and joins all keyed on the
    * user column — Catalyst reuses the hash partitioning across the
    * chain, so the whole funnel costs ONE shuffle of the events no
    * matter how many steps (no per-user event-list materialization,
    * which a collect_list formulation would need and hot users would
    * blow up). Output: (step, step_name, users), one row per step. */
  def funnelCounts(events: DataFrame, userCol: String, typeCol: String,
                   tsCol: String, steps: Seq[String]): DataFrame = Materialize {
    require(steps.nonEmpty, "funnel needs at least one step")
    val spark = events.sparkSession
    import spark.implicits._
    // each stage is both counted and the next stage's build side —
    // held so counting stage i doesn't re-run stages 1..i-1
    val first = hold(events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol).as("u")).agg(min(col(tsCol)).as("t")))
    val reached = steps.tail.scanLeft(first) { (prev, step) =>
      hold(events.filter(col(typeCol) === step)
        .select(col(userCol).as("u"), col(tsCol).as("ts2"))
        .join(prev, "u")
        .filter(col("ts2") > col("t"))
        .groupBy(col("u")).agg(min(col("ts2")).as("t")))
    }
    val counts = reached.map(_.count())
    reached.foreach(drop) // counts are taken
    steps.zipWithIndex.map { case (s, i) =>
      ((i + 1).toLong, s, counts(i))
    }.toDF("step", "step_name", "users")
  }

  /** Stream-stream interval join: each left event matched to right
    * events of the same `key` with right.time ∈ [left.time − maxLag,
    * left.time]. Both sides must be watermarked by the caller — the
    * time bound plus the watermarks let Spark prune join state, so
    * 1000-executor state holds only the lag horizon, not history.
    * Right columns come back `rightPrefix`ed. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   timeCol: String, maxLag: String,
                   rightPrefix: String = "r_"): DataFrame = {
    val r = right.select(right.columns.map(c =>
      col(c).as(s"$rightPrefix$c")): _*)
    left.join(r,
      col(key) === col(s"$rightPrefix$key") &&
        col(s"$rightPrefix$timeCol") >= col(timeCol) - expr(s"INTERVAL $maxLag") &&
        col(s"$rightPrefix$timeCol") <= col(timeCol))
  }

  /** Stream-static enrichment: join the live stream against a slow
    * dimension table. The static side is broadcast into every
    * micro-batch (no streaming state at all — the canonical shape for
    * attaching reference data to events at any throughput); re-plan on
    * dimension refresh is a micro-batch boundary, not a restart.
    * Works identically on batch frames. */
  def enrichStream(events: DataFrame, dim: DataFrame, eventKey: String,
                   dimKey: String, dimPrefix: String = "d_"): DataFrame = {
    val d = dim.select(dim.columns.map(c =>
      col(c).as(s"$dimPrefix$c")): _*)
    events.join(broadcast(d),
      col(eventKey) === col(s"$dimPrefix$dimKey"), "left")
  }

  /** Streaming exact dedup by event id: drops re-deliveries within
    * the watermark horizon, so state stays bounded (the streaming
    * face of the dedup suite — at-least-once ingestion becomes
    * exactly-once downstream). On a batch frame the same call is a
    * plain dropDuplicates (Spark rejects the within-watermark variant
    * outside streaming; with re-deliveries bit-identical the results
    * coincide once the watermark passes). */
  def dedupEvents(events: DataFrame, watermark: String): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts_utc", watermark)
        .dropDuplicatesWithinWatermark("event_id")
    else events.dropDuplicates("event_id")

  /** Per-window exact heavy hitters — "which users dominate each
    * day's traffic" (abuse/bot triage, per-window skew detection).
    * Two passes in the q130 sketch-then-verify shape, windowed:
    *
    *  1. a windowed aggregation reduces each window's item stream to
    *     one ≤`cap`-entry Misra–Gries summary plus the window total —
    *     MG state is mergeable, so this pass is a VALID incremental
    *     streaming aggregation (the same `groupBy(window).agg(mg)`
    *     runs under readStream; EventStreamsSpec proves batch parity);
    *  2. candidates join back against the item stream for an exact
    *     count — candidate sets are cap-bounded per window, so the
    *     join's build side stays tiny at any scale.
    *
    * The MG guarantee (every item with count > n/cap survives, cap ≥
    * threshDenom) makes the OUTPUT exact and partitioning-independent
    * even though the intermediate sketch is neither. Threshold uses
    * integer floor division to stay engine-reproducible. */
  def windowHeavyHitters(events: DataFrame, width: String,
                         threshDenom: Long, cap: Int): DataFrame = {
    require(cap >= threshDenom,
      s"cap $cap must be >= threshold denominator $threshDenom")
    val mg = graft.functions.Sketches.mgSketchAgg(events.sparkSession, cap)
    val byWin = events.select(window(col("ts_utc"), width).as("w"),
      col("user_id").cast("string").as("item"))
    val sk = byWin.groupBy(col("w"))
      .agg(mg(col("item")).as("mg"), count(lit(1)).as("win_total"))
      .select(col("w"), col("win_total"),
        explode(map_keys(col("mg"))).as("item"))
    byWin.join(sk, Seq("w", "item"))
      .groupBy(col("w"), col("item"), col("win_total"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > graft.functions.NowFunctions.intDiv(
        col("win_total"), lit(threshDenom)))
      .select(col("w.start").as("w_start"),
        col("item").cast("long").as("user_id"),
        col("cnt"), col("win_total"))
  }

  /** Streaming sink helper: append a windowed aggregation to parquet
    * with a checkpoint (exactly-once file sink). */
  def writeParquetStream(df: DataFrame, path: String, checkpoint: String) =
    df.writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .format("parquet").option("path", path)
}
