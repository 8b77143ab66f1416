package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Skew-mitigation coverage: the salted plans must produce EXACTLY the
  * rows of their unsalted equivalents — the DuckDB oracles compute the
  * plain GROUP BY / join, so any salting bug (lost salt partition,
  * double-counted dim row) hash-fails.
  *
  * l_quantity is integral-valued, so its double sum is exact and
  * order-independent — the salted two-phase reduce can't perturb it. */
object SkewQueries extends QueryPack {

  protected val entries: Map[String, Query] = Map(
    // Skew diagnosis: per candidate join/agg key, the population stats
    // that decide WHETHER to salt (q78/q79 are the mitigation; this is
    // the measurement): distinct keys, hottest key and its share, and
    // the max/avg skew factor. One groupBy per key column, then a
    // 1-row summary each — the per-key aggregates are the only wide
    // work, and they're exactly the aggregates the later salted run
    // would do anyway. Integer counts; ratios rounded once.
    "q164_skew_report" -> ((s, d) => {
      def report(df: DataFrame, keyCol: String): DataFrame = {
        val counts = df.groupBy(col(keyCol).as("k"))
          .agg(count(lit(1)).as("c"))
        counts.agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
            max(col("c")).as("max_cnt"),
            max(struct(col("c"), col("k"))).as("hot"))
          .select(lit(keyCol).as("key_col"), col("n_keys"), col("n_rows"),
            col("hot.k").cast("long").as("hottest_key"), col("max_cnt"),
            round(col("max_cnt") * col("n_keys").cast("double") /
              col("n_rows"), 6).as("skew_factor"),
            round(col("max_cnt").cast("double") / col("n_rows"), 6)
              .as("hot_share"))
      }
      val li = Tables.lineitem(s, d)
      report(li, "l_suppkey")
        .unionAll(report(li, "l_partkey"))
        .unionAll(report(li, "l_orderkey"))
        .unionAll(report(Tables.events(s, d), "user_id"))
    }),
    // two-phase salted aggregation == plain aggregation
    "q78_salted_agg" -> ((s, d) =>
      Skew.saltedSumCount(Tables.lineitem(s, d), "l_suppkey",
        "l_quantity", salts = 16)),
    // salted replicated-dim join == plain join (then a small agg so
    // the result is a stable few-hundred-row frame)
    "q79_salted_join" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_quantity"))
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"))
      Skew.saltedJoin(li, sup, "l_suppkey", "s_suppkey", salts = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q164_skew_report" -> Seq(
        ("l_suppkey", "lineitem"), ("l_partkey", "lineitem"),
        ("l_orderkey", "lineitem"), ("user_id", "events"))
      .map { case (k, t) =>
        s"""SELECT '$k' AS key_col, count(*) AS n_keys,
           | CAST(sum(c) AS BIGINT) AS n_rows,
           | (SELECT CAST(k AS BIGINT) FROM (
           |   SELECT $k AS k, count(*) AS c FROM $t GROUP BY 1)
           |   ORDER BY c DESC, k DESC LIMIT 1) AS hottest_key,
           | max(c) AS max_cnt,
           | round(max(c) * count(*) * 1.0 / sum(c), 6) AS skew_factor,
           | round(max(c) * 1.0 / sum(c), 6) AS hot_share
           |FROM (SELECT $k AS k, count(*) AS c FROM $t GROUP BY 1)
           |""".stripMargin
      }.mkString("\n UNION ALL\n"),
    "q78_salted_agg" ->
      """SELECT l_suppkey, sum(l_quantity) AS sum_l_quantity,
        |  count(*) AS n
        | FROM lineitem GROUP BY l_suppkey""".stripMargin,
    "q79_salted_join" ->
      """SELECT s_nationkey, count(*) AS n, sum(l_quantity) AS sum_qty
        | FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        | GROUP BY s_nationkey""".stripMargin
  )
}
