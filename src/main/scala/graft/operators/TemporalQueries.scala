package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.NowFunctions

/** As-of / range-join coverage over the events and lineitem tables.
  * DuckDB's native ASOF JOIN recomputes q76 independently; q77's
  * oracle is the plain theta join the binned plan must agree with. */
object TemporalQueries extends QueryPack {

  protected val entries: Map[String, Query] = Map(
    // For every click, the latest view of the same user at or before
    // it (the canonical as-of lookup over an event stream).
    "q76_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      // unique (key, time) on the right side — as-of determinism
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_id"))
      TemporalJoins.asofJoin(clicks, views, "user_id", "ts", "ts", "v_")
        .select(col("event_id").as("click_id"), col("v_view_id").as("view_id"),
          NowFunctions.intDiv(col("ts") - col("v_ts"), lit(1000000000L))
            .as("lag_s"))
    }),
    // Nearest-view lookup within ±30 min of each click (backward on
    // ties) — q76's sensor-fusion twin: a view 1 s in the future
    // beats one 20 min stale. Distance is emitted as |Δ| seconds +
    // a direction flag (signed division on negatives would hit
    // floor-vs-trunc divergence between engines). One shuffle: both
    // direction candidates ride the same (user; ts, side) sort.
    "q204_asof_nearest" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_id"))
      TemporalJoins.asofNearest(clicks, views, "user_id", "ts", "ts",
          tolerance = lit(1800000000000L), rightPrefix = "v_")
        .select(col("event_id").as("click_id"),
          col("v_view_id").as("view_id"),
          NowFunctions.intDiv(abs(col("ts") - col("v_ts")),
            lit(1000000000L)).as("dist_s"),
          when(col("v_ts") <= col("ts"), lit("b")).otherwise(lit("f"))
            .as("dir"))
    }),
    // Overlapping price bands × lineitem: per-band count and exact sum.
    // Bands overlap (4500 step, 7000 width), so no aligned-bucket
    // rewrite applies — this exercises the real interval-join path.
    "q77_range_join" -> ((s, d) => {
      val bands = s.range(0, 25).select(col("id").as("band_id"),
        (col("id") * 4500.0).as("lo"), (col("id") * 4500.0 + 7000.0).as("hi"))
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"))
      TemporalJoins.rangeJoinBinned(li, "l_extendedprice", bands,
          "lo", "hi", binWidth = 7000.0)
        .groupBy(col("i_band_id").as("band_id"))
        .agg(count(lit(1)).as("n"),
          (sum(round(col("l_extendedprice") * 10000).cast("long")) /
            10000.0).as("sum_price"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q76_asof_join" ->
      """WITH v AS (SELECT user_id, ts, max(event_id) AS view_id
        |   FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
        | c AS (SELECT user_id, ts, event_id FROM events
        |   WHERE event_type = 'click')
        | SELECT c.event_id AS click_id, v.view_id AS view_id,
        |  (epoch_ns(c.ts) - epoch_ns(v.ts)) // 1000000000 AS lag_s
        | FROM c ASOF JOIN v
        |   ON c.user_id = v.user_id AND c.ts >= v.ts""".stripMargin,
    // both direction candidates via DuckDB's two ASOF directions,
    // identical nearest/tie pick (db <= df → backward), ±30 min gate
    "q204_asof_nearest" ->
      """WITH v AS (SELECT user_id, ts, max(event_id) AS view_id
        |   FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
        | c AS (SELECT user_id, ts, event_id FROM events
        |   WHERE event_type = 'click'),
        | b AS (SELECT c.event_id, c.user_id, c.ts,
        |   v.ts AS bts, v.view_id AS bid
        |  FROM c ASOF LEFT JOIN v
        |   ON c.user_id = v.user_id AND c.ts >= v.ts),
        | f AS (SELECT c.event_id, v.ts AS fts, v.view_id AS fid
        |  FROM c ASOF LEFT JOIN v
        |   ON c.user_id = v.user_id AND c.ts <= v.ts),
        | j AS (SELECT b.event_id, b.ts, bts, bid, fts, fid
        |  FROM b JOIN f ON b.event_id = f.event_id),
        | p AS (SELECT event_id, ts,
        |   CASE WHEN fid IS NULL OR (bid IS NOT NULL AND
        |     epoch_ns(ts) - epoch_ns(bts)
        |       <= epoch_ns(fts) - epoch_ns(ts))
        |    THEN bid ELSE fid END AS view_id,
        |   CASE WHEN fid IS NULL OR (bid IS NOT NULL AND
        |     epoch_ns(ts) - epoch_ns(bts)
        |       <= epoch_ns(fts) - epoch_ns(ts))
        |    THEN epoch_ns(ts) - epoch_ns(bts)
        |    ELSE epoch_ns(fts) - epoch_ns(ts) END AS dist_ns,
        |   CASE WHEN fid IS NULL OR (bid IS NOT NULL AND
        |     epoch_ns(ts) - epoch_ns(bts)
        |       <= epoch_ns(fts) - epoch_ns(ts))
        |    THEN 'b' ELSE 'f' END AS dir
        |  FROM j WHERE bid IS NOT NULL OR fid IS NOT NULL)
        | SELECT event_id AS click_id, view_id,
        |  dist_ns // 1000000000 AS dist_s, dir
        | FROM p WHERE dist_ns <= 1800000000000""".stripMargin,
    "q77_range_join" ->
      """WITH bands AS (SELECT i AS band_id, i * 4500.0 AS lo,
        |   i * 4500.0 + 7000.0 AS hi
        |  FROM UNNEST(generate_series(0, 24)) AS t(i))
        | SELECT band_id, count(*) AS n,
        |  sum(CAST(round(l_extendedprice * 10000) AS BIGINT)) / 10000.0
        |    AS sum_price
        | FROM lineitem JOIN bands
        |   ON l_extendedprice >= lo AND l_extendedprice < hi
        | GROUP BY band_id""".stripMargin
  )
}
