package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** NoWDB-parity aggregates (reference: src/nowdb/fun/fun.c).
  *
  * The reference's empty-input conventions differ from SQL: `avg`,
  * `median` over zero rows and `stddev` over <2 rows yield 0, not NULL
  * (fun.c:582-647). The `*0` variants reproduce that exactly.
  */
object NowAggregates {

  /** avg, empty ⇒ 0 (fun.c:582-594). */
  def avg0(c: Column): Column = coalesce(avg(c), lit(0.0))
  /** exact median (two-middle mean), empty ⇒ 0 (fun.c:485-556, 596-605). */
  def median0(c: Column): Column = coalesce(median(c), lit(0.0))
  /** sample stddev, n<2 ⇒ 0 (fun.c:607-647). */
  def stddev0(c: Column): Column = coalesce(stddev_samp(c), lit(0.0))
  /** spread = max − min (fun.c:398-404). */
  def spread(c: Column): Column = max(c) - min(c)
  /** running product (fun.c:383-384). */
  def prod(c: Column): Column = product(c)

  /** `integral` (fun.h:35; semantics doc/manual/sql.tex:1360-1378):
    * trapezoid area under the (t, y) curve, t ascending within each
    * group. The reference buffers and never implemented the reduce; we
    * compute it distributed: per-row trapezoid strip via a lag window,
    * then a plain sum — one shuffle on the group keys, no driver-side
    * collection, scales to arbitrary group counts.
    *
    * @param tSec time expressed as double seconds (caller converts ns)
    * @param tieBreak extra ordering columns so equal timestamps get a
    *                 deterministic neighbor order (ties make the strip
    *                 sum order-dependent otherwise)
    */
  def integral(df: DataFrame, groupCols: Seq[String], tSec: Column,
               y: Column, out: String = "integral",
               tieBreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(tSec +: tieBreak: _*)
    val strip = (tSec - lag(tSec, 1).over(w)) *
      (y + lag(y, 1).over(w)) / lit(2.0)
    df.withColumn("_strip", strip)
      .groupBy(groupCols.map(col): _*)
      // exact decimal sum: strip addition order must not perturb ulps
      .agg(sum(col("_strip").cast(DecimalType(38, 6))).cast("double")
        .as(out))
  }

  /** integral over µs-long timestamps with fully exact arithmetic:
    * strip 2·area·1e6 = Δt_µs · (yᵢ + yᵢ₋₁) computed in decimal (one
    * value-level decimal cast, then integer×decimal — no double→decimal
    * rounding of intermediate products), summed exactly, converted to
    * double once at the end. Deterministic across engines and partition
    * orders — used by the differential-checked query. */
  def integralExactUs(df: DataFrame, groupCols: Seq[String], tUs: Column,
                      y: Column, out: String = "integral",
                      tieBreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(tUs +: tieBreak: _*)
    val ydec = y.cast(DecimalType(18, 6))
    val strip = (tUs - lag(tUs, 1).over(w)) * (ydec + lag(ydec, 1).over(w))
    df.withColumn("_strip", strip)
      .groupBy(groupCols.map(col): _*)
      .agg(coalesce(sum(col("_strip")).cast("double") / lit(2.0e6), lit(0.0))
        .as(out))
  }
}
