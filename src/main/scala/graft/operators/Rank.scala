package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize
import graft.Materialize.hold

/** Distributed global ranking without a single-partition window.
  *
  * Spark's `row_number().over(Window.orderBy(...))` (no PARTITION BY)
  * plans an `Exchange SinglePartition` — every row funnels through one
  * task, which is exactly the pattern the reference engine's reader
  * design avoids (one reader per file range,
  * reference `src/nowdb/reader/reader.c:1100-1380`). At 100-TB corpus
  * scale a vocabulary or score column has 10⁸⁺ rows; a global window
  * is a driver-era bottleneck.
  *
  * The classic fix (Spark's own RangePartitioner + zipWithIndex idiom,
  * also TeraSort's): range-repartition on the rank order, assign
  * per-partition row numbers, then add the cumulative count of all
  * earlier partitions. Only the #partitions-sized offset table is ever
  * single-partition.
  *
  * Correctness requires the sort order to be TOTAL (no ties): range
  * boundaries may split a tie group arbitrarily, so callers must
  * include a unique tiebreaker column in `order`.
  */
object Rank {

  /** Appends a 1-based global rank column `rk` ordered by `order`
    * (which must be a total order) — and, when `withTotal` is set, a
    * constant `n_total` column (the global row count, derived from
    * the same per-partition size table, so callers needing (rank, N)
    * pairs — e.g. exact ntile — don't re-scan the input for a
    * count). Parallelism follows spark.sql.shuffle.partitions.
    */
  def distributedRank(df: DataFrame, order: Seq[Column],
                      spark: SparkSession,
                      withTotal: Boolean = false): DataFrame = Materialize {
    val n = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // HOLD the ranged frame: spark_partition_id() is tagged
    // nondeterministic, which defeats ReuseExchange (`sameResult` is
    // false for two instances of this subplan), so without the cache
    // mark every consumer leg below — the window, the sizes table,
    // both sides of the triangle join — would rescan the input and
    // re-run the range exchange (measured: 4 scans + 4 exchanges,
    // ~2× wall on a corpus-sized input). The cache block is slim
    // (order keys + payload), spills to disk at scale, and is released
    // when the enclosing Materialize scope closes.
    val parted = hold(df.repartitionByRange(n, order: _*)
      .withColumn("__pid", spark_partition_id()))
    // Window partitioned by __pid: one task per range partition, full
    // cluster parallelism (the exchange it introduces is hash-by-pid,
    // not SinglePartition).
    val wp = Window.partitionBy(col("__pid")).orderBy(order: _*)
    val local = parted.withColumn("__lrk", row_number().over(wp))
    // Offsets: #partitions rows — bounded by cluster config, not data.
    // Cumulated via a triangle self-join (32×32 at most) rather than a
    // global window, so NO plan produced here contains an
    // Exchange SinglePartition feeding a Window (PlanQualitySpec
    // asserts exactly that).
    val sizes = parted.groupBy(col("__pid")).agg(count(lit(1)).as("__n"))
    val offsets =
      if (withTotal)
        cumulate(sizes).crossJoin(broadcast(
          sizes.agg(sum(col("__n")).cast("long").as("n_total"))))
      else cumulate(sizes)
    local.join(broadcast(offsets), "__pid")
      .withColumn("rk", (col("__off") + col("__lrk")).cast("long"))
      .drop("__pid", "__lrk", "__off")
  }

  /** Appends a running-sum column `run` of `value` in global `order`
    * (a total order) — the two-pass partitioned prefix sum: range
    * partition, local ROWS running sums, plus a carry-in equal to the
    * value total of all earlier partitions. Replaces the sequential
    * `sum().over(Window.orderBy(...))` global window.
    */
  def distributedPrefixSum(df: DataFrame, order: Seq[Column],
                           value: Column, spark: SparkSession,
                           withTotal: Boolean = false): DataFrame = Materialize {
    val n = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // held for the same ReuseExchange-defeat reason as
    // distributedRank above
    val parted = hold(df.repartitionByRange(n, order: _*)
      .withColumn("__pid", spark_partition_id()))
    val wp = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = parted.withColumn("__run", sum(value).over(wp))
    val sums = parted.groupBy(col("__pid")).agg(sum(value).as("__n"))
    // withTotal ⇒ a constant `total` column (global value sum) derived
    // from the SAME partition-sums frame — callers needing a fraction
    // of the total (budget cuts) would otherwise re-scan the input
    // with its full projection cost just to sum one column
    val offsets =
      if (withTotal)
        cumulate(sums).crossJoin(broadcast(
          sums.agg(sum(col("__n")).as("total"))))
      else cumulate(sums)
    local.join(broadcast(offsets), "__pid")
      .withColumn("run", col("__off") + col("__run"))
      .drop("__pid", "__run", "__off")
  }

  /** (pid, n) → (pid, off = Σ n over pid' < pid), via a triangle
    * self-join on the partition-count-sized frame (no window).
    */
  private def cumulate(sizes: DataFrame): DataFrame =
    sizes.as("a")
      .join(sizes.as("b"), col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid"))
      .agg(coalesce(sum(col("b.__n")), lit(0L)).as("__off"))
      .select(col("a.__pid").as("__pid"), col("__off"))
}
