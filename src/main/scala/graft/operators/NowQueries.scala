package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.{NowFunctions => F, NowAggregates => A}

/** NoWDB-semantics parity queries (SURVEY §2.2 expression set, §2.4
  * aggregate quirks, §4.3 custom items): the behaviors that differ
  * from ANSI SQL and therefore need explicit re-implementation.
  */
object NowQueries extends QueryPack {

  protected val entries: Map[String, Query] = Map(
    // wday: C tm_wday Sun=0..Sat=6; yday: 0-based (expr.c:2149-2155).
    "q33_wday_yday" -> ((s, d) => {
      Tables.orders(s, d).select(
        col("o_orderkey"),
        F.wday(col("o_orderdate")).as("wday"),
        F.yday(col("o_orderdate")).as("yday"))
    }),
    // Sub-second parts over ns stamps — cumulative within the second
    // (expr.c:2166-2184: tv_nsec/1e6, /1e3, raw).
    // (full-ns `nano` is unit-tested; DuckDB truncates parquet ns→µs on
    // read, so the oracle can only check the ms/µs parts.)
    "q34_subsecond" -> ((s, d) => {
      Tables.events(s, d).select(
        col("event_id"),
        F.milli(col("ts")).as("ms_part"),
        F.micro(col("ts")).as("us_part"))
    }),
    // integral: trapezoid area under (t, value) per user (fun.h:35,
    // sql.tex:1360-1378) — lag-window strips + exact decimal sum.
    "q35_integral" -> ((s, d) => {
      // µs-long stamps + exact decimal strips: bit-identical to the
      // oracle regardless of summation order (see integralExactUs).
      val ev = Tables.events(s, d)
        .withColumn("t_us",
          F.intDiv(col("ts") - pmod(col("ts"), lit(1000L)), lit(1000L)))
      A.integralExactUs(ev, Seq("user_id"), col("t_us"), col("value"),
          "area", tieBreak = Seq(col("event_id")))
        .select(col("user_id"), col("area"))
    }),
    // Empty-input parity: avg/median/stddev over zero rows ⇒ 0, not
    // NULL (fun.c:582-647).
    "q36_empty_aggs" -> ((s, d) => {
      Tables.lineitem(s, d).filter(col("l_quantity") > 1000.0).agg(
        A.avg0(col("l_quantity")).as("avg0"),
        A.median0(col("l_quantity")).as("med0"),
        A.stddev0(col("l_quantity")).as("sd0"),
        count(lit(1)).as("n"))
    }),
    // NoWDB `/` on two ints = integer quotient (expr.c:2232-2237 QUOT).
    "q37_intdiv_rem" -> ((s, d) => {
      Tables.part(s, d).select(
        col("p_partkey"),
        F.intDiv(col("p_partkey"), lit(7L)).as("key_div7"),
        F.rem(col("p_partkey"), lit(7L)).as("key_rem7"),
        F.intDiv(col("p_size").cast("long"), lit(3L)).as("size_div3"))
    }),
    // time bin + format — declared-only in the reference
    // (expr.c:2372-2374), native here via date_trunc/date_format.
    "q38_time_bin" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(F.timeBin("month", col("o_orderdate")).as("order_month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 4))).cast("double")
            .as("month_revenue"))
    }),
    // String ops — declared-only in the reference (expr.c:2425-2429):
    // substr, length, concat, pos.
    "q39_strings" -> ((s, d) => {
      Tables.customer(s, d).select(
        col("c_custkey"),
        substring(col("c_name"), 1, 8).as("name_pfx"),
        length(col("c_name")).cast("long").as("name_len"),
        concat(col("c_name"), lit("/"), col("c_mktsegment")).as("name_seg"),
        instr(col("c_name"), "0").cast("long").as("zero_pos"),
        upper(col("c_mktsegment")).as("seg_up"),
        lower(col("c_name")).as("name_lo"))
    }),
    // Time-point constants (expr.c:2358-2370) + stamp conversion:
    // SELECT-without-FROM in the reference (stmt.c:1398-1463).
    "q40_time_points" -> ((s, d) => {
      s.range(1).select(
        F.dawn.as("dawn"),
        F.dusk.as("dusk"),
        F.epochNs.as("epoch"),
        F.tsToStamp(to_timestamp(lit("2020-01-02 03:04:05")))
          .as("stamp_2020"),
        F.yearOfNs(F.tsToStamp(to_timestamp(lit("2020-01-02 03:04:05"))))
          .as("y2020"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q33_wday_yday" ->
      """SELECT o_orderkey,
        | CAST(dayofweek(o_orderdate) AS BIGINT) AS wday,
        | CAST(dayofyear(o_orderdate) - 1 AS BIGINT) AS yday
        | FROM orders""".stripMargin,
    "q34_subsecond" ->
      """SELECT event_id,
        | (epoch_ns(ts) % 1000000000) // 1000000 AS ms_part,
        | (epoch_ns(ts) % 1000000000) // 1000 AS us_part
        | FROM events""".stripMargin,
    "q35_integral" ->
      """SELECT user_id,
        |  coalesce(CAST(CAST(sum(strip) AS VARCHAR) AS DOUBLE)
        |    / 2000000.0, 0.0) AS area
        | FROM (
        |  SELECT user_id,
        |   (t_us - lag(t_us) OVER w) * (ydec + lag(ydec) OVER w) AS strip
        |  FROM (SELECT user_id, event_id,
        |          CAST(value AS DECIMAL(18,6)) AS ydec,
        |          epoch_us(ts) AS t_us FROM events)
        |  WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
        | ) GROUP BY user_id""".stripMargin,
    "q36_empty_aggs" ->
      """SELECT coalesce(avg(l_quantity), 0.0) AS avg0,
        | coalesce(CAST(median(l_quantity) AS DOUBLE), 0.0) AS med0,
        | coalesce(stddev_samp(l_quantity), 0.0) AS sd0,
        | count(*) AS n
        | FROM lineitem WHERE l_quantity > 1000.0""".stripMargin,
    "q37_intdiv_rem" ->
      """SELECT p_partkey,
        | p_partkey // 7 AS key_div7,
        | p_partkey % 7 AS key_rem7,
        | CAST(p_size AS BIGINT) // 3 AS size_div3
        | FROM part""".stripMargin,
    "q38_time_bin" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
        | count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |   AS month_revenue
        | FROM orders GROUP BY 1""".stripMargin,
    "q39_strings" ->
      """SELECT c_custkey,
        | substr(c_name, 1, 8) AS name_pfx,
        | CAST(length(c_name) AS BIGINT) AS name_len,
        | concat(c_name, '/', c_mktsegment) AS name_seg,
        | CAST(strpos(c_name, '0') AS BIGINT) AS zero_pos,
        | upper(c_mktsegment) AS seg_up,
        | lower(c_name) AS name_lo
        | FROM customer""".stripMargin,
    "q40_time_points" ->
      """SELECT CAST(-9223372036854775808 AS BIGINT) AS dawn,
        | CAST(9223372036854775807 AS BIGINT) AS dusk,
        | CAST(0 AS BIGINT) AS epoch,
        | epoch_ns(TIMESTAMP '2020-01-02 03:04:05') AS stamp_2020,
        | CAST(2020 AS BIGINT) AS y2020""".stripMargin
  )
}
