package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Time-series resampling and smoothing over the `events` stream —
  * the regularization steps a time-series engine's users run before
  * modeling (the reference's whole data model is stamped edges,
  * SURVEY §1.1; reference reader pipeline `reader.c` only ever scans
  * raw stamps, so these live in the query layer there too):
  * gap-filled resampling (LOCF), truncated exponential smoothing,
  * and per-series outlier flagging.
  *
  * Scale shape shared by all three: exactly one wide shuffle keyed on
  * the series key (`user_id` / `event_type`); window sorts run inside
  * those keyed partitions; scalar statistics travel back via
  * broadcast, never through a global window. Bin and time arithmetic
  * stays in exact integer µs so oracle compares are bit-stable; the
  * only doubles are the value aggregates, rounded to 6 places on
  * output (and, for q127's threshold, rounded BEFORE the compare so
  * both engines test against identical constants).
  */
object TimeSeriesQueries extends QueryPack {

  /** epoch µs from the ns-long stamp (exact IntegralDivide — see
    * BehaviorQueries scaladoc for why the double `/` is unsafe). */
  private def us(c: Column) = call_function("div", c, lit(1000L))

  private val binUs = 21600000000L // 6 h in µs

  protected val entries: Map[String, Query] = Map(
    // Gap-filled resample: per (user, 6h-bin) mean value, then a dense
    // bin grid per user (min..max observed bin) with missing bins
    // filled last-observation-carried-forward. The grid explode is
    // bounded by each user's own span (never a global calendar cross
    // join), and the LOCF window is keyed on user_id — the observed
    // aggregate subtree appears on both sides of the join, so the
    // (user_id, bin) exchange is computed once and reused
    // (ReusedExchange in the physical plan), not scanned twice.
    "q125_gap_fill" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        call_function("div", us(col("ts")), lit(binUs)).as("bin"),
        col("value"))
      val obs = ev.groupBy(col("user_id"), col("bin"))
        .agg(round(avg(col("value")), 6).as("v"), count(lit(1)).as("n"))
      val grid = obs.groupBy(col("user_id"))
        .agg(min(col("bin")).as("lo"), max(col("bin")).as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"))).as("bin"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(obs, Seq("user_id", "bin"), "left")
        .select(col("user_id"), col("bin"),
          last(col("v"), ignoreNulls = true).over(w).as("v_filled"),
          col("n").isNull.as("filled"))
    }),
    // Truncated EWMA (α=0.3 over the 20 most recent events per user):
    // the classic recursive EWMA is sequential, but truncating the
    // tail (weights below (1-α)^20 ≈ 8e-4 contribute nothing at 6
    // decimals) turns it into a bounded weighted mean — rank inside
    // the per-user window, weight by (1-α)^(rn-1), normalize by the
    // realized weight mass so short series stay exact.
    "q126_ewma" -> ((s, d) => {
      val wr = Window.partitionBy(col("user_id"))
        .orderBy(col("t").desc, col("event_id").desc)
      val wt = pow(lit(0.7), col("rn") - 1)
      Tables.events(s, d)
        .select(col("user_id"), us(col("ts")).as("t"),
          col("event_id"), col("value"))
        .withColumn("rn", row_number().over(wr))
        .filter(col("rn") <= 20)
        .groupBy(col("user_id"))
        .agg(round(sum(wt * col("value")) / sum(wt), 6).as("ewma20"),
          count(lit(1)).as("n_used"))
    }),
    // Linear-interpolation gap fill — the smooth complement to q125's
    // LOCF: missing bins take pv + (nv−pv)·(bin−pb)/(nb−pb) between
    // the bracketing observations. Same dense-grid join as q125; the
    // four bracketing columns are two forward and two backward
    // ignore-nulls window passes inside the user partition (one
    // shuffle total). The interpolation itself runs in EXACT integer
    // micro-units (scaled longs, explicit floor division via pmod) —
    // a plain double formula + round(6) hit engine-dependent
    // half-tie rounding on 1 row in 17k, so no double arithmetic is
    // allowed to reach the output except the final exact /1e6.
    "q131_interpolate" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        call_function("div", us(col("ts")), lit(binUs)).as("bin"),
        col("value"))
      val obs = ev.groupBy(col("user_id"), col("bin"))
        .agg(round(avg(col("value")), 6).as("v"))
      val grid = obs.groupBy(col("user_id"))
        .agg(min(col("bin")).as("lo"), max(col("bin")).as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"))).as("bin"))
      val back = Window.partitionBy(col("user_id")).orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = Window.partitionBy(col("user_id")).orderBy(col("bin"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val obsBin = when(col("v").isNotNull, col("bin"))
      // micro-unit longs: v has ≤6 decimals (rounded above), so
      // round(v·1e6) is the exact integer it denotes
      val pv6 = round(col("pv") * 1000000).cast("long")
      val nv6 = round(col("nv") * 1000000).cast("long")
      val num = (nv6 - pv6) * (col("bin") - col("pb"))
      // null-safe denominator: on observed rows pb = nb = bin; the
      // unused ELSE branch must still be evaluation-safe under
      // vectorized engines that don't short-circuit CASE
      val den = when(col("nb") === col("pb"), lit(null))
        .otherwise(col("nb") - col("pb"))
      // exact floor division: (num − pmod(num, den)) is divisible by
      // den and < 2^53, so even the double `/` is exact
      val fdv = (num - pmod(num, den)) / den
      grid.join(obs, Seq("user_id", "bin"), "left")
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
        .withColumn("pb", last(obsBin, ignoreNulls = true).over(back))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(fwd))
        .withColumn("nb", first(obsBin, ignoreNulls = true).over(fwd))
        .select(col("user_id"), col("bin"),
          when(col("v").isNotNull, col("v"))
            .otherwise((pv6.cast("double") + fdv) / 1000000.0)
            .as("v_interp"),
          col("v").isNotNull.as("observed"))
    }),
    // Weekend-effect lift per event type — the day-of-week companion
    // to q138's hour-of-day profile: weekend vs weekday event volume
    // and mean value, plus the lift ratio. Weekday derives from pure
    // integer µs arithmetic ((epoch_day + 4) mod 7, Sunday = 0 — no
    // engine dayofweek conventions to reconcile); value sums go
    // through the exact DECIMAL cast (the dsum idiom) so the means
    // divide identical numbers in both engines.
    "q169_weekend_effect" -> ((s, d) => {
      val dec4 = org.apache.spark.sql.types.DecimalType(18, 4)
      val wd = pmod(call_function("div", us(col("ts")),
        lit(86400000000L)) + 4, lit(7L))
      val we = wd.isin(0L, 6L)
      Tables.events(s, d)
        .select(col("event_type"), col("value"), we.as("is_we"))
        .groupBy(col("event_type"))
        .agg(sum(when(col("is_we"), 1L).otherwise(0L)).as("n_weekend"),
          sum(when(!col("is_we"), 1L).otherwise(0L)).as("n_weekday"),
          sum(when(col("is_we"), col("value").cast(dec4))
            .otherwise(lit(0).cast(dec4))).cast("double").as("s_we"),
          sum(when(!col("is_we"), col("value").cast(dec4))
            .otherwise(lit(0).cast(dec4))).cast("double").as("s_wd"))
        .select(col("event_type"), col("n_weekend"), col("n_weekday"),
          round(col("s_we") / col("n_weekend"), 6).as("weekend_mean"),
          round(col("s_wd") / col("n_weekday"), 6).as("weekday_mean"),
          round((col("s_we") / col("n_weekend")) /
            (col("s_wd") / col("n_weekday")), 6).as("lift"))
    }),
    // Hour-of-day seasonal profile per event type: the decomposition
    // step before anomaly detection on periodic series. Two tiny
    // aggregates (24×types rows); the per-type mean rides back via
    // broadcast so the seasonal delta needs no second wide shuffle.
    // Hour extraction is exact integer µs arithmetic.
    "q138_seasonal_profile" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        pmod(call_function("div", us(col("ts")), lit(3600000000L)),
          lit(24L)).as("hour"),
        col("value"))
      val byType = ev.groupBy(col("event_type"))
        .agg(avg(col("value")).as("type_mean"))
      ev.groupBy(col("event_type"), col("hour"))
        .agg(count(lit(1)).as("n_events"),
          avg(col("value")).as("hour_mean"))
        .join(broadcast(byType), Seq("event_type"))
        .select(col("event_type"), col("hour"), col("n_events"),
          round(col("hour_mean"), 6).as("hour_mean"),
          round(col("hour_mean") - col("type_mean"), 6)
            .as("seasonal_delta"))
    }),
    // PSI distribution drift (population stability index) — THE
    // production drift metric: value deciles fitted on the EARLY half
    // of the stream (split at the exact median µs stamp), both halves
    // binned against those edges, psi = Σ (pe−pl)·ln(pe/pl) with +1
    // Laplace smoothing so empty bands stay finite. Determinism: the
    // split point and decile edges are exact/rounded constants, the
    // ln argument is a ratio of exact INTEGER products, and the
    // 10-term psi sum goes through round-then-DECIMAL (the q150
    // pattern) so partition order can't change it. Shape: two tiny
    // per-type aggregates broadcast back; the events shuffle once for
    // the (type, band, half) counts.
    "q166_psi_drift" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(28, 12)
      val fr = array((1 to 9).map(i => lit(i / 10.0)): _*)
      val ev = Tables.events(s, d).select(col("event_type"),
        us(col("ts")).as("t"), col("value"))
      val medT = ev.agg(percentile(col("t"), lit(0.5)).as("mt"))
      val tagged = ev.crossJoin(broadcast(medT))
        .withColumn("half", when(col("t") <= col("mt"), lit("e"))
          .otherwise(lit("l")))
      val edges = tagged.filter(col("half") === "e")
        .groupBy(col("event_type"))
        .agg(transform(percentile(col("value"), fr),
          e => round(e, 6)).as("edges"))
      val banded = tagged.join(broadcast(edges), Seq("event_type"))
        .withColumn("band",
          size(filter(col("edges"), e => col("value") > e)))
      val counts = banded.groupBy(col("event_type"), col("band"))
        .agg(sum(when(col("half") === "e", 1L).otherwise(0L)).as("ce"),
          sum(when(col("half") === "l", 1L).otherwise(0L)).as("cl"))
      val totals = counts.groupBy(col("event_type"))
        .agg(sum(col("ce")).as("ne"), sum(col("cl")).as("nl"))
      val pe = (col("ce") + 1).cast("double") / (col("ne") + 10)
      val pl = (col("cl") + 1).cast("double") / (col("nl") + 10)
      val term = (pe - pl) * log(((col("ce") + 1) * (col("nl") + 10))
        .cast("double") / ((col("cl") + 1) * (col("ne") + 10)))
      counts.join(broadcast(totals), Seq("event_type"))
        .select(col("event_type"), col("ne"), col("nl"),
          round(term, 9).cast(dec).as("tm"))
        .groupBy(col("event_type"))
        .agg(max(col("ne")).as("n_early"), max(col("nl")).as("n_late"),
          round(sum(col("tm")).cast("double"), 6).as("psi"))
    }),
    // CUSUM drift detection (Page's test): S_i = max(0, S_{i-1} + d_i)
    // is sequential, but the running-min identity
    // S_i = C_i − min(0, min_{j≤i} C_j) (C = prefix sum of deviations)
    // turns it into two keyed window passes — fully distributed, no
    // recursion. Deviations are exact micro-unit longs against the
    // per-series mean; the alarm threshold is 3 rounded stddevs. One
    // wide shuffle on user_id; stats ride back via broadcast.
    "q137_cusum" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        us(col("ts")).as("t"), col("event_id"), col("value"))
      val st = ev.groupBy(col("user_id"))
        .agg(round(avg(col("value")), 6).as("mu"),
          round(stddev_samp(col("value")), 6).as("sd"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.join(broadcast(st), Seq("user_id"))
        .withColumn("d",
          round(col("value") * 1000000).cast("long") -
            round(col("mu") * 1000000).cast("long"))
        .withColumn("c", sum(col("d")).over(w))
        .withColumn("s",
          col("c") - least(lit(0L), min(col("c")).over(w)))
        .withColumn("thresh",
          lit(3L) * round(col("sd") * 1000000).cast("long"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("s") > col("thresh"), 1L).otherwise(0L))
            .as("n_alarm"),
          max(col("s")).as("max_s"))
    }),
    // Inter-arrival statistics per event type: mean gap and the
    // coefficient of variation — the point-process regularity test
    // (CV≈1 Poisson, CV≫1 bursty, CV≪1 periodic) that decides
    // whether rate-based alerting is even meaningful for a stream.
    // Gaps are exact integer µs from one lag() tap inside the
    // (type, user) arrival order. A direct stddev_samp is NOT
    // oracle-safe here: gaps are ~1e9, so rounding the stddev at 6
    // decimals sits below the double's ulp and the engines' different
    // accumulation orders would flip it — instead the moments are
    // exact sums (Σgap as long, Σgap² as DECIMAL — gap² overflows
    // BIGINT) and mean/CV derive through IDENTICAL expression trees
    // (the q95 exact-moment idiom).
    "q167_interarrival" -> ((s, d) => {
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val w = Window.partitionBy(col("event_type"), col("user_id"))
        .orderBy(col("t"), col("event_id"))
      val g = col("gap").cast(dec38)
      Tables.events(s, d)
        .select(col("event_type"), col("user_id"), col("event_id"),
          us(col("ts")).as("t"))
        .withColumn("gap", col("t") - lag(col("t"), 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("gap")).cast("double").as("sx"),
          sum(g * g).cast("double").as("sxx"))
        .select(col("event_type"), col("n").cast("long").as("n_gaps"),
          round(col("sx") / col("n"), 6).as("mean_gap_us"),
          round(sqrt((col("n") * col("sxx") - col("sx") * col("sx")) /
            (col("n") * (col("n") - 1))) / (col("sx") / col("n")), 6)
            .as("cv"))
    }),
    // Per-series z-score outliers: series statistics (mean, sample
    // stddev) come from one aggregate, are ROUNDED to 6 places (so
    // both engines threshold against identical constants — the raw
    // double aggregates differ in the last ulps between engines), and
    // rejoin the events via broadcast. No second shuffle of the
    // events: the fact side streams through the broadcast hash join
    // straight into the re-aggregation on the same key.
    "q127_anomaly_zscore" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"), col("value"))
      val st = ev.groupBy(col("event_type"))
        .agg(round(avg(col("value")), 6).as("mu"),
          round(stddev_samp(col("value")), 6).as("sd"),
          count(lit(1)).as("n"))
      ev.join(broadcast(st), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"), max(col("mu")).as("mu"),
          max(col("sd")).as("sd"),
          sum(when(abs(col("value") - col("mu")) > lit(2.0) * col("sd"),
            1L).otherwise(0L)).as("n_outliers"))
    }),
    // Theil–Sen robust trend per event_type (Theil 1950/Sen 1968:
    // median of pairwise slopes — up to 29% contamination cannot move
    // it, unlike q98's OLS). Full O(n²) pairs are out at any scale,
    // so this uses the disjoint-pair design (Siegel): pair event i
    // with event i+n/2 via an EQUI-join on (event_type, shifted id) —
    // no window, no self-cross; pairs whose partner falls in another
    // type or lands on an identical stamp drop out. Slopes in integer
    // micro-units/hour, exact median at the end.
    "q288_theil_sen" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"),
        col("event_type"), col("ts"), col("value"))
      val h = ev.agg((count(lit(1)) / 2).cast("long").as("h"))
      val a = ev.crossJoin(broadcast(h))
        .select(col("event_type"), (col("event_id") + col("h"))
          .as("pid"), col("ts").as("t1"), col("value").as("v1"))
      val b = ev.select(col("event_type"), col("event_id").as("pid"),
        col("ts").as("t2"), col("value").as("v2"))
      a.join(b, Seq("event_type", "pid"))
        .filter(col("t2") =!= col("t1"))
        .select(col("event_type"),
          round((col("v2") - col("v1"))
            / ((col("t2") - col("t1")).cast("double") / lit(3.6e12))
            * 1e6).cast("long").as("sm"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"),
          round(median(col("sm")) / 1e6, 6).as("ts_slope_per_hr"))
    }),
    // Seasonality strength per event_type: η² of the hour-of-day
    // profile (between-hour variance / total variance, the one-pass
    // ANOVA form Σ S_h²/c_h − S²/N over Q − S²/N) — "does this metric
    // actually have a daily cycle" before anyone fits q138's profile.
    // Sums and squares ride exact DECIMAL(18,4) products (the q95
    // moment discipline); per-hour ratio terms are micro-rounded
    // longs; 24 rows of state per series. Hour comes from exact ns
    // integer division, never float time math.
    "q293_seasonality_strength" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(18, 4)
      val ev = Tables.events(s, d).select(col("event_type"),
        (call_function("div", col("ts"), lit(3600000000000L)) % 24)
          .as("hr"),
        col("value"))
      val byHour = ev.groupBy(col("event_type"), col("hr"))
        .agg(count(lit(1)).as("ch"),
          sum(col("value").cast(dec)).as("sh"))
      val tot = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec)).as("s"),
          sum(col("value").cast(dec) * col("value").cast(dec)).as("q"))
      byHour.select(col("event_type"),
          round(col("sh").cast("double") * col("sh").cast("double")
            / col("ch").cast("double") * 1e6).cast("long").as("tm"))
        .groupBy(col("event_type"))
        .agg(sum(col("tm")).as("st"), count(lit(1)).as("n_hours"))
        .join(tot, Seq("event_type"))
        .select(col("event_type"), col("n"), col("n_hours"),
          round(((col("st").cast("double") / 1e6)
              - col("s").cast("double") * col("s").cast("double")
                / col("n").cast("double"))
            / (col("q").cast("double")
              - col("s").cast("double") * col("s").cast("double")
                / col("n").cast("double")), 6).as("eta2_hour"))
    }),
    // 10%-trimmed mean per event_type (the robust-location companion
    // to q283's MAD spread): exact interpolated P10/P90 thresholds
    // (Spark `percentile` ≡ DuckDB `quantile_cont`, the q166-edges
    // contract) broadcast back, mean of the kept middle from exact
    // DECIMAL sums. Two passes over the value column, thresholds are
    // 2 doubles per group.
    "q295_trimmed_mean" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(18, 4)
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("value"))
      val th = ev.groupBy(col("event_type"))
        .agg(percentile(col("value"), lit(0.1)).as("t10"),
          percentile(col("value"), lit(0.9)).as("t90"),
          count(lit(1)).as("n"),
          sum(col("value").cast(dec)).as("s"))
      ev.join(broadcast(th), Seq("event_type"))
        .filter(col("value") >= col("t10")
          && col("value") <= col("t90"))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"), count(lit(1)).as("n_kept"),
          round(max(col("s")).cast("double")
            / max(col("n")).cast("double"), 6).as("raw_mean"),
          round(sum(col("value").cast(dec)).cast("double")
            / count(lit(1)).cast("double"), 6).as("trimmed_mean"))
    }),
    // Fano factor / index of dispersion per event_type (var/mean of
    // per-hour arrival counts over the DENSE hour grid, empty hours
    // included — the Poisson-ness gauge: F≈1 memoryless arrivals,
    // F≫1 bursty, F≪1 regular). The grid is an exact integer
    // hour-index sequence exploded per type (span-bounded, never
    // per-event); counts/sums are all integers so variance is exact
    // until the final division.
    "q296_fano_dispersion" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        call_function("div", col("ts"), lit(3600000000000L)).as("hb"))
      val span = ev.agg(min(col("hb")).as("lo"), max(col("hb")).as("hi"))
      val counts = ev.groupBy(col("event_type"), col("hb"))
        .agg(count(lit(1)).as("c"))
      val grid = counts.select(col("event_type")).distinct()
        .crossJoin(broadcast(span))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"))).as("hb"))
      grid.join(counts, Seq("event_type", "hb"), "left")
        .select(col("event_type"),
          coalesce(col("c"), lit(0L)).as("c"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("k_bins"), sum(col("c")).as("sc"),
          sum(col("c") * col("c")).as("sc2"))
        .select(col("event_type"), col("k_bins"),
          round(col("sc").cast("double")
            / col("k_bins").cast("double"), 6).as("mean_per_bin"),
          round(((col("sc2").cast("double")
              - col("sc").cast("double") * col("sc").cast("double")
                / col("k_bins").cast("double"))
            / (col("k_bins") - 1L).cast("double"))
            / (col("sc").cast("double")
              / col("k_bins").cast("double")), 6).as("fano"))
    }),
    // Offline changepoint by binary segmentation, one split (the
    // argmax-SSE-gain complement to q137's online CUSUM alarm): daily
    // mean value per event_type in integer micro-units, then the
    // split day minimizing SSE_left+SSE_right via prefix sums over
    // the ≤span-days grid (a broadcast triangle join, never a
    // per-event window). Gain = SSE_total − best split cost; the
    // argmin tie-breaks on the earliest day. Candidate costs are
    // micro-rounded longs so the argmin is integer-exact.
    "q297_changepoint" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(18, 4)
      val daily = Tables.events(s, d)
        .select(col("event_type"),
          call_function("div", col("ts"), lit(86400000000000L))
            .as("db"), col("value"))
        .groupBy(col("event_type"), col("db"))
        .agg(round(sum(col("value").cast(dec)).cast("double")
            / count(lit(1)).cast("double") * 1e6).cast("long")
          .as("mu"))
      val idx = daily.withColumn("i", row_number().over(Window
        .partitionBy(col("event_type")).orderBy(col("db"))))
      val tot = idx.groupBy(col("event_type"))
        .agg(count(lit(1)).as("nd"), sum(col("mu")).as("st"),
          sum(col("mu") * col("mu")).as("qt"))
      val pre = idx.select(col("event_type"), col("i").as("j"),
          col("mu"))
        .join(idx.select(col("event_type"), col("i"), col("db")),
          Seq("event_type"))
        .filter(col("j") <= col("i"))
        .groupBy(col("event_type"), col("i"), col("db"))
        .agg(sum(col("mu")).as("sl"), sum(col("mu") * col("mu"))
          .as("ql"))
      val costs = pre.join(broadcast(tot), Seq("event_type"))
        .filter(col("i") >= 2L && col("i") < col("nd"))
        .select(col("event_type"), col("db"), col("nd"),
          round(((col("ql").cast("double")
              - col("sl").cast("double") * col("sl").cast("double")
                / col("i").cast("double"))
            + ((col("qt") - col("ql")).cast("double")
              - (col("st") - col("sl")).cast("double")
                * (col("st") - col("sl")).cast("double")
                / (col("nd") - col("i")).cast("double"))) / 1e6)
            .cast("long").as("cost"),
          round((col("qt").cast("double")
            - col("st").cast("double") * col("st").cast("double")
              / col("nd").cast("double")) / 1e6).cast("long")
            .as("sse_total"))
      costs.withColumn("rk", row_number().over(Window
          .partitionBy(col("event_type"))
          .orderBy(col("cost").asc, col("db").asc)))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("nd").as("n_days"),
          col("db").as("split_day"),
          round((col("sse_total") - col("cost")).cast("double") / 1e6,
            4).as("sse_gain_musq"))
    }),
    // Forecast-baseline evaluation: pinball loss at τ=0.9 and sMAPE
    // for the two baselines every real forecast must beat — naive
    // (yesterday's daily mean) and seasonal-naive (same weekday last
    // week) — the metric harness a forecasting engine ships before
    // any model. Daily means in integer micro-units; pinball terms
    // stay ×10-scaled integers (max(9e, −e), no division per row);
    // sMAPE terms are one guarded division per DAY (values positive
    // ⇒ denominator > 0), micro-rounded. Self-joins land on the
    // ≤span-days grid, never on events.
    "q302_forecast_eval" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(18, 4)
      val daily = Tables.events(s, d)
        .select(col("event_type"),
          call_function("div", col("ts"), lit(86400000000000L))
            .as("db"), col("value"))
        .groupBy(col("event_type"), col("db"))
        .agg(round(sum(col("value").cast(dec)).cast("double")
            / count(lit(1)).cast("double") * 1e6).cast("long")
          .as("mu"))
      val withF = daily
        .join(daily.select(col("event_type"), (col("db") + 1L)
          .as("db"), col("mu").as("f1")), Seq("event_type", "db"))
        .join(daily.select(col("event_type"), (col("db") + 7L)
          .as("db"), col("mu").as("f7")), Seq("event_type", "db"))
      withF.select(col("event_type"),
          (col("mu") - col("f1")).as("e1"),
          (col("mu") - col("f7")).as("e7"),
          col("mu"), col("f1"), col("f7"))
        .select(col("event_type"),
          greatest(col("e1") * 9L, -col("e1")).as("pb1"),
          greatest(col("e7") * 9L, -col("e7")).as("pb7"),
          round(abs(col("e1")).cast("double") * 2e6
            / (abs(col("mu")) + abs(col("f1"))).cast("double"))
            .cast("long").as("sm1"),
          round(abs(col("e7")).cast("double") * 2e6
            / (abs(col("mu")) + abs(col("f7"))).cast("double"))
            .cast("long").as("sm7"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          round(sum(col("pb1")).cast("double")
            / count(lit(1)).cast("double") / 1e7, 6)
            .as("pinball90_naive"),
          round(sum(col("pb7")).cast("double")
            / count(lit(1)).cast("double") / 1e7, 6)
            .as("pinball90_snaive"),
          round(sum(col("sm1")).cast("double")
            / count(lit(1)).cast("double") / 1e6, 6)
            .as("smape_naive"),
          round(sum(col("sm7")).cast("double")
            / count(lit(1)).cast("double") / 1e6, 6)
            .as("smape_snaive"))
    }),
    // Sample autocorrelation of the hourly arrival-count series per
    // event_type at lags 1, 2 and 24 (the Box–Jenkins identification
    // stat; lag-24 is the daily-cycle signature q293's between-hour
    // eta^2 can only aggregate, and the memorylessness complement to
    // q296's Fano factor). Pearson r over (c_t, c_{t+k}) pairs on the
    // DENSE hour grid (empty hours count 0, exactly q296's grid);
    // counts are integers so all five moments are exact longs, one
    // fixed-order double per (type, lag), and the zero-variance
    // corner is pinned to 0 by an integer equality on both engines.
    "q310_hourly_acf" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        call_function("div", col("ts"), lit(3600000000000L)).as("hb"))
      val span = ev.agg(min(col("hb")).as("lo"), max(col("hb")).as("hi"))
      val counts = ev.groupBy(col("event_type"), col("hb"))
        .agg(count(lit(1)).as("c"))
      val grid = counts.select(col("event_type")).distinct()
        .crossJoin(broadcast(span))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"))).as("hb"))
      val filled = grid.join(counts, Seq("event_type", "hb"), "left")
        .select(col("event_type"), col("hb"),
          coalesce(col("c"), lit(0L)).as("c"))
      val lags = s.range(1).select(
        explode(array(lit(1L), lit(2L), lit(24L))).as("lag"))
      val x = filled.crossJoin(broadcast(lags))
        .select(col("event_type"), col("lag"),
          (col("hb") + col("lag")).as("hb2"), col("c").as("cx"))
      val y = filled.select(col("event_type"), col("hb").as("hb2"),
        col("c").as("cy"))
      x.join(y, Seq("event_type", "hb2"))
        .groupBy(col("event_type"), col("lag"))
        .agg(count(lit(1)).as("n"), sum(col("cx")).as("sx"),
          sum(col("cy")).as("sy"),
          sum(col("cx") * col("cy")).as("sxy"),
          sum(col("cx") * col("cx")).as("sxx"),
          sum(col("cy") * col("cy")).as("syy"))
        .select(col("event_type"), col("lag"),
          col("n").as("n_pairs"),
          when(col("n") * col("sxx") === col("sx") * col("sx")
              || col("n") * col("syy") === col("sy") * col("sy"),
            lit(0.0))
          .otherwise(
            round((col("n").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double"))
            / sqrt((col("n").cast("double") * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double"))
              * (col("n").cast("double") * col("syy").cast("double")
                - col("sy").cast("double") * col("sy").cast("double"))),
              6)).as("acf"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q125_gap_fill" ->
      """WITH ev AS (SELECT user_id,
        |   epoch_us(ts) // 21600000000 AS bin, value FROM events),
        | obs AS (SELECT user_id, bin, round(avg(value), 6) AS v,
        |   count(*) AS n FROM ev GROUP BY 1, 2),
        | spans AS (SELECT user_id, min(bin) AS lo, max(bin) AS hi
        |   FROM obs GROUP BY 1),
        | grid AS (SELECT user_id,
        |   unnest(generate_series(lo, hi)) AS bin FROM spans)
        | SELECT g.user_id, g.bin,
        |  last_value(o.v IGNORE NULLS) OVER (PARTITION BY g.user_id
        |    ORDER BY g.bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS v_filled,
        |  (o.n IS NULL) AS filled
        | FROM grid g LEFT JOIN obs o
        |  ON g.user_id = o.user_id AND g.bin = o.bin""".stripMargin,
    "q131_interpolate" ->
      """WITH ev AS (SELECT user_id,
        |   epoch_us(ts) // 21600000000 AS bin, value FROM events),
        | obs AS (SELECT user_id, bin, round(avg(value), 6) AS v
        |   FROM ev GROUP BY 1, 2),
        | spans AS (SELECT user_id, min(bin) AS lo, max(bin) AS hi
        |   FROM obs GROUP BY 1),
        | grid AS (SELECT user_id,
        |   unnest(generate_series(lo, hi)) AS bin FROM spans),
        | j AS (SELECT g.user_id, g.bin, o.v FROM grid g LEFT JOIN obs o
        |   ON g.user_id = o.user_id AND g.bin = o.bin),
        | w AS (SELECT user_id, bin, v,
        |   last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |     ORDER BY bin
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |   last_value(CASE WHEN v IS NOT NULL THEN bin END IGNORE NULLS)
        |     OVER (PARTITION BY user_id ORDER BY bin
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
        |   first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |     ORDER BY bin
        |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |   first_value(CASE WHEN v IS NOT NULL THEN bin END IGNORE NULLS)
        |     OVER (PARTITION BY user_id ORDER BY bin
        |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
        |  FROM j)
        |, scaled AS (SELECT user_id, bin, v,
        |   CAST(round(pv * 1000000) AS BIGINT) AS pv6,
        |   CAST(round(nv * 1000000) AS BIGINT) AS nv6,
        |   pb, nullif(nb - pb, 0) AS den FROM w),
        | fd AS (SELECT user_id, bin, v, pv6,
        |   (nv6 - pv6) * (bin - pb) AS num, den FROM scaled)
        | SELECT user_id, bin,
        |  CASE WHEN v IS NOT NULL THEN v
        |   ELSE (pv6 + (num - ((num % den + den) % den)) / den)
        |     / 1000000.0 END AS v_interp,
        |  (v IS NOT NULL) AS observed
        | FROM fd""".stripMargin,
    "q126_ewma" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_id, value
        |   FROM events),
        | r AS (SELECT user_id, value, row_number() OVER (
        |   PARTITION BY user_id ORDER BY t DESC, event_id DESC) AS rn
        |  FROM ev)
        | SELECT user_id,
        |  round(sum(power(0.7, rn - 1) * value)
        |    / sum(power(0.7, rn - 1)), 6) AS ewma20,
        |  count(*) AS n_used
        | FROM r WHERE rn <= 20 GROUP BY user_id""".stripMargin,
    "q169_weekend_effect" ->
      """WITH ev AS (SELECT event_type, value,
        |   ((epoch_us(ts) // 86400000000) + 4) % 7 IN (0, 6) AS is_we
        |  FROM events),
        | m AS (SELECT event_type,
        |   CAST(sum(CASE WHEN is_we THEN 1 ELSE 0 END) AS BIGINT)
        |     AS n_weekend,
        |   CAST(sum(CASE WHEN NOT is_we THEN 1 ELSE 0 END) AS BIGINT)
        |     AS n_weekday,
        |   CAST(sum(CASE WHEN is_we THEN CAST(value AS DECIMAL(18,4))
        |     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS s_we,
        |   CAST(sum(CASE WHEN NOT is_we
        |     THEN CAST(value AS DECIMAL(18,4))
        |     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS s_wd
        |  FROM ev GROUP BY event_type)
        | SELECT event_type, n_weekend, n_weekday,
        |  round(s_we / n_weekend, 6) AS weekend_mean,
        |  round(s_wd / n_weekday, 6) AS weekday_mean,
        |  round((s_we / n_weekend) / (s_wd / n_weekday), 6) AS lift
        | FROM m""".stripMargin,
    "q138_seasonal_profile" ->
      """WITH ev AS (SELECT event_type,
        |   (epoch_us(ts) // 3600000000) % 24 AS hour, value
        |  FROM events),
        | bt AS (SELECT event_type, avg(value) AS type_mean FROM ev
        |  GROUP BY 1)
        | SELECT e.event_type, e.hour, count(*) AS n_events,
        |  round(avg(e.value), 6) AS hour_mean,
        |  round(avg(e.value) - max(bt.type_mean), 6) AS seasonal_delta
        | FROM ev e JOIN bt USING (event_type)
        | GROUP BY e.event_type, e.hour""".stripMargin,
    "q166_psi_drift" ->
      """WITH ev AS (SELECT event_type, epoch_us(ts) AS t, value
        |   FROM events),
        | mt AS (SELECT quantile_cont(t, 0.5) AS mt FROM ev),
        | tg AS (SELECT e.event_type, e.value,
        |   CASE WHEN e.t <= mt.mt THEN 'e' ELSE 'l' END AS half
        |  FROM ev e, mt),
        | ed AS (SELECT event_type, list_transform(
        |   quantile_cont(value,
        |     [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
        |   x -> round(x, 6)) AS edges
        |  FROM tg WHERE half = 'e' GROUP BY 1),
        | bd AS (SELECT t.event_type, t.half,
        |   len(list_filter(ed.edges, x -> t.value > x)) AS band
        |  FROM tg t JOIN ed USING (event_type)),
        | c AS (SELECT event_type, band,
        |   CAST(sum(CASE WHEN half = 'e' THEN 1 ELSE 0 END) AS BIGINT)
        |     AS ce,
        |   CAST(sum(CASE WHEN half = 'l' THEN 1 ELSE 0 END) AS BIGINT)
        |     AS cl
        |  FROM bd GROUP BY 1, 2),
        | tot AS (SELECT event_type, CAST(sum(ce) AS BIGINT) AS ne,
        |   CAST(sum(cl) AS BIGINT) AS nl
        |  FROM c GROUP BY 1),
        | terms AS (SELECT c.event_type, tot.ne, tot.nl,
        |   CAST(round(((c.ce + 1) * 1.0 / (tot.ne + 10)
        |      - (c.cl + 1) * 1.0 / (tot.nl + 10))
        |     * ln(((c.ce + 1) * (tot.nl + 10)) * 1.0
        |       / ((c.cl + 1) * (tot.ne + 10))), 9) AS DECIMAL(28,12))
        |     AS tm
        |  FROM c JOIN tot USING (event_type))
        | SELECT event_type, max(ne) AS n_early, max(nl) AS n_late,
        |  round(CAST(sum(tm) AS DOUBLE), 6) AS psi
        | FROM terms GROUP BY event_type""".stripMargin,
    "q137_cusum" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_id, value
        |   FROM events),
        | st AS (SELECT user_id, round(avg(value), 6) AS mu,
        |   round(stddev_samp(value), 6) AS sd FROM ev GROUP BY 1),
        | dev AS (SELECT e.user_id, e.t, e.event_id,
        |   CAST(round(e.value * 1000000) AS BIGINT)
        |     - CAST(round(st.mu * 1000000) AS BIGINT) AS d,
        |   CAST(3 * CAST(round(st.sd * 1000000) AS BIGINT) AS BIGINT)
        |     AS thresh
        |  FROM ev e JOIN st USING (user_id)),
        | cs AS (SELECT user_id, t, event_id, thresh,
        |   sum(d) OVER (PARTITION BY user_id ORDER BY t, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM dev),
        | sv AS (SELECT user_id, thresh,
        |   c - least(0, min(c) OVER (PARTITION BY user_id
        |     ORDER BY t, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
        |  FROM cs)
        | SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CASE WHEN s > thresh THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_alarm,
        |  CAST(max(s) AS BIGINT) AS max_s
        | FROM sv GROUP BY user_id""".stripMargin,
    "q167_interarrival" ->
      """WITH ev AS (SELECT event_type, user_id, event_id,
        |   epoch_us(ts) AS t FROM events),
        | g AS (SELECT event_type,
        |   t - lag(t) OVER (PARTITION BY event_type, user_id
        |     ORDER BY t, event_id) AS gap
        |  FROM ev),
        | m AS (SELECT event_type,
        |   CAST(count(*) AS DOUBLE) AS n,
        |   CAST(sum(gap) AS DOUBLE) AS sx,
        |   CAST(sum(CAST(gap AS DECIMAL(38,0))
        |     * CAST(gap AS DECIMAL(38,0))) AS DOUBLE) AS sxx
        |  FROM g WHERE gap IS NOT NULL GROUP BY event_type)
        | SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
        |  round(sx / n, 6) AS mean_gap_us,
        |  round(sqrt((n * sxx - sx * sx) / (n * (n - 1)))
        |    / (sx / n), 6) AS cv
        | FROM m""".stripMargin,
    "q127_anomaly_zscore" ->
      """WITH st AS (SELECT event_type, round(avg(value), 6) AS mu,
        |   round(stddev_samp(value), 6) AS sd, count(*) AS n
        |  FROM events GROUP BY 1)
        | SELECT e.event_type, max(st.n) AS n, max(st.mu) AS mu,
        |  max(st.sd) AS sd,
        |  CAST(sum(CASE WHEN abs(e.value - st.mu) > 2.0 * st.sd
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        | FROM events e JOIN st USING (event_type)
        | GROUP BY e.event_type""".stripMargin,
    "q288_theil_sen" ->
      """WITH h AS (SELECT count(*) // 2 AS h FROM events),
        | a AS (SELECT event_type, event_id + h AS pid,
        |   epoch_ns(ts) AS t1, "value" AS v1
        |  FROM events CROSS JOIN h),
        | b AS (SELECT event_type, event_id AS pid,
        |   epoch_ns(ts) AS t2, "value" AS v2 FROM events),
        | p AS (SELECT a.event_type,
        |   CAST(round((v2 - v1)
        |     / (CAST(t2 - t1 AS DOUBLE) / 3.6e12) * 1e6) AS BIGINT)
        |    AS sm
        |  FROM a JOIN b
        |   ON a.event_type = b.event_type AND a.pid = b.pid
        |  WHERE t2 <> t1)
        | SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(median(sm) / 1e6, 6) AS ts_slope_per_hr
        | FROM p GROUP BY 1""".stripMargin,
    "q293_seasonality_strength" ->
      """WITH ev AS (SELECT event_type,
        |   (epoch_ns(ts) // 3600000000000) % 24 AS hr, "value"
        |  FROM events),
        | byh AS (SELECT event_type, hr, count(*) AS ch,
        |   sum(CAST("value" AS DECIMAL(18,4))) AS sh
        |  FROM ev GROUP BY 1, 2),
        | tot AS (SELECT event_type, count(*) AS n,
        |   sum(CAST("value" AS DECIMAL(18,4))) AS s,
        |   sum(CAST("value" AS DECIMAL(18,4))
        |     * CAST("value" AS DECIMAL(18,4))) AS q
        |  FROM ev GROUP BY 1),
        | terms AS (SELECT event_type,
        |   CAST(round(CAST(sh AS DOUBLE) * CAST(sh AS DOUBLE)
        |     / CAST(ch AS DOUBLE) * 1e6) AS BIGINT) AS tm
        |  FROM byh),
        | st AS (SELECT event_type, CAST(sum(tm) AS BIGINT) AS st,
        |   count(*) AS n_hours FROM terms GROUP BY 1)
        | SELECT st.event_type, CAST(n AS BIGINT) AS n,
        |  CAST(n_hours AS BIGINT) AS n_hours,
        |  round(((CAST(st AS DOUBLE) / 1e6)
        |     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |       / CAST(n AS DOUBLE))
        |   / (CAST(q AS DOUBLE)
        |     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |       / CAST(n AS DOUBLE)), 6) AS eta2_hour
        | FROM st JOIN tot ON st.event_type = tot.event_type""".stripMargin,
    "q295_trimmed_mean" ->
      """WITH th AS (SELECT event_type,
        |   quantile_cont("value", 0.1) AS t10,
        |   quantile_cont("value", 0.9) AS t90,
        |   count(*) AS n,
        |   sum(CAST("value" AS DECIMAL(18,4))) AS s
        |  FROM events GROUP BY 1)
        | SELECT e.event_type, CAST(max(th.n) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  round(CAST(max(th.s) AS DOUBLE)
        |    / CAST(max(th.n) AS DOUBLE), 6) AS raw_mean,
        |  round(CAST(sum(CAST(e."value" AS DECIMAL(18,4))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS trimmed_mean
        | FROM events e JOIN th ON e.event_type = th.event_type
        | WHERE e."value" >= th.t10 AND e."value" <= th.t90
        | GROUP BY 1""".stripMargin,
    "q296_fano_dispersion" ->
      """WITH ev AS (SELECT event_type,
        |   epoch_ns(ts) // 3600000000000 AS hb FROM events),
        | span AS (SELECT min(hb) AS lo, max(hb) AS hi FROM ev),
        | cnt AS (SELECT event_type, hb, count(*) AS c
        |  FROM ev GROUP BY 1, 2),
        | grid AS (SELECT t.event_type, g.hb
        |  FROM (SELECT DISTINCT event_type FROM cnt) t,
        |   (SELECT unnest(generate_series(lo, hi)) AS hb
        |    FROM span) g),
        | filled AS (SELECT grid.event_type,
        |   coalesce(cnt.c, 0) AS c
        |  FROM grid LEFT JOIN cnt
        |   ON grid.event_type = cnt.event_type
        |    AND grid.hb = cnt.hb),
        | a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS k_bins,
        |   CAST(sum(c) AS BIGINT) AS sc,
        |   CAST(sum(c * c) AS BIGINT) AS sc2
        |  FROM filled GROUP BY 1)
        | SELECT event_type, k_bins,
        |  round(CAST(sc AS DOUBLE) / CAST(k_bins AS DOUBLE), 6)
        |   AS mean_per_bin,
        |  round(((CAST(sc2 AS DOUBLE)
        |     - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
        |       / CAST(k_bins AS DOUBLE))
        |    / CAST(k_bins - 1 AS DOUBLE))
        |   / (CAST(sc AS DOUBLE) / CAST(k_bins AS DOUBLE)), 6)
        |   AS fano
        | FROM a""".stripMargin,
    "q297_changepoint" ->
      """WITH daily AS (SELECT event_type,
        |   epoch_ns(ts) // 86400000000000 AS db,
        |   CAST(round(CAST(sum(CAST("value" AS DECIMAL(18,4)))
        |      AS DOUBLE) / CAST(count(*) AS DOUBLE) * 1e6)
        |    AS BIGINT) AS mu
        |  FROM events GROUP BY 1, 2),
        | idx AS (SELECT event_type, db, mu,
        |   CAST(row_number() OVER (PARTITION BY event_type
        |     ORDER BY db) AS BIGINT) AS i FROM daily),
        | tot AS (SELECT event_type, count(*) AS nd,
        |   CAST(sum(mu) AS BIGINT) AS st,
        |   CAST(sum(mu * mu) AS BIGINT) AS qt
        |  FROM idx GROUP BY 1),
        | pre AS (SELECT a.event_type, a.i, a.db,
        |   CAST(sum(b.mu) AS BIGINT) AS sl,
        |   CAST(sum(b.mu * b.mu) AS BIGINT) AS ql
        |  FROM idx a JOIN idx b
        |   ON a.event_type = b.event_type AND b.i <= a.i
        |  GROUP BY 1, 2, 3),
        | costs AS (SELECT p.event_type, p.db, t.nd,
        |   CAST(round(((CAST(ql AS DOUBLE)
        |      - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE)
        |        / CAST(p.i AS DOUBLE))
        |     + (CAST(t.qt - ql AS DOUBLE)
        |       - CAST(t.st - sl AS DOUBLE)
        |         * CAST(t.st - sl AS DOUBLE)
        |         / CAST(t.nd - p.i AS DOUBLE))) / 1e6) AS BIGINT)
        |    AS cost,
        |   CAST(round((CAST(t.qt AS DOUBLE)
        |     - CAST(t.st AS DOUBLE) * CAST(t.st AS DOUBLE)
        |       / CAST(t.nd AS DOUBLE)) / 1e6) AS BIGINT)
        |    AS sse_total
        |  FROM pre p JOIN tot t ON p.event_type = t.event_type
        |  WHERE p.i >= 2 AND p.i < t.nd),
        | best AS (SELECT event_type, nd, db, cost, sse_total,
        |   row_number() OVER (PARTITION BY event_type
        |    ORDER BY cost, db) AS rk FROM costs)
        | SELECT event_type, CAST(nd AS BIGINT) AS n_days,
        |  db AS split_day,
        |  round(CAST(sse_total - cost AS DOUBLE) / 1e6, 4)
        |   AS sse_gain_musq
        | FROM best WHERE rk = 1""".stripMargin,
    "q302_forecast_eval" ->
      """WITH daily AS (SELECT event_type,
        |   epoch_ns(ts) // 86400000000000 AS db,
        |   CAST(round(CAST(sum(CAST("value" AS DECIMAL(18,4)))
        |      AS DOUBLE) / CAST(count(*) AS DOUBLE) * 1e6)
        |    AS BIGINT) AS mu
        |  FROM events GROUP BY 1, 2),
        | wf AS (SELECT a.event_type, a.mu - b.mu AS e1,
        |   a.mu - c.mu AS e7, a.mu, b.mu AS f1, c.mu AS f7
        |  FROM daily a
        |   JOIN daily b ON a.event_type = b.event_type
        |    AND a.db = b.db + 1
        |   JOIN daily c ON a.event_type = c.event_type
        |    AND a.db = c.db + 7),
        | t AS (SELECT event_type,
        |   greatest(e1 * 9, -e1) AS pb1,
        |   greatest(e7 * 9, -e7) AS pb7,
        |   CAST(round(CAST(abs(e1) AS DOUBLE) * 2e6
        |     / CAST(abs(mu) + abs(f1) AS DOUBLE)) AS BIGINT) AS sm1,
        |   CAST(round(CAST(abs(e7) AS DOUBLE) * 2e6
        |     / CAST(abs(mu) + abs(f7) AS DOUBLE)) AS BIGINT) AS sm7
        |  FROM wf)
        | SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  round(CAST(sum(pb1) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 1e7, 6) AS pinball90_naive,
        |  round(CAST(sum(pb7) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 1e7, 6) AS pinball90_snaive,
        |  round(CAST(sum(sm1) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 1e6, 6) AS smape_naive,
        |  round(CAST(sum(sm7) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 1e6, 6) AS smape_snaive
        | FROM t GROUP BY 1""".stripMargin,
    "q310_hourly_acf" ->
      """WITH ev AS (SELECT event_type,
        |   epoch_ns(ts) // 3600000000000 AS hb FROM events),
        | span AS (SELECT min(hb) AS lo, max(hb) AS hi FROM ev),
        | cnt AS (SELECT event_type, hb, count(*) AS c
        |  FROM ev GROUP BY 1, 2),
        | grid AS (SELECT t.event_type, g.hb
        |  FROM (SELECT DISTINCT event_type FROM cnt) t,
        |   (SELECT unnest(generate_series(lo, hi)) AS hb
        |    FROM span) g),
        | filled AS (SELECT grid.event_type, grid.hb,
        |   coalesce(cnt.c, 0) AS c
        |  FROM grid LEFT JOIN cnt
        |   ON grid.event_type = cnt.event_type AND grid.hb = cnt.hb),
        | lags AS (SELECT unnest([1, 2, 24]) AS lag),
        | pairs AS (SELECT x.event_type, l.lag,
        |   x.c AS cx, y.c AS cy
        |  FROM filled x CROSS JOIN lags l
        |  JOIN filled y ON y.event_type = x.event_type
        |   AND y.hb = x.hb + l.lag),
        | m AS (SELECT event_type, lag, count(*) AS n,
        |   CAST(sum(cx) AS BIGINT) AS sx,
        |   CAST(sum(cy) AS BIGINT) AS sy,
        |   CAST(sum(cx * cy) AS BIGINT) AS sxy,
        |   CAST(sum(cx * cx) AS BIGINT) AS sxx,
        |   CAST(sum(cy * cy) AS BIGINT) AS syy
        |  FROM pairs GROUP BY 1, 2)
        | SELECT event_type, CAST(lag AS BIGINT) AS lag,
        |  CAST(n AS BIGINT) AS n_pairs,
        |  CASE WHEN n * sxx = sx * sx OR n * syy = sy * sy THEN 0.0
        |  ELSE round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |   / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |     * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) END
        |   AS acf
        | FROM m""".stripMargin
  )
}
