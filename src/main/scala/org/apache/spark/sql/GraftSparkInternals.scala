package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

/** Narrow bridge into Spark's `private[sql]` surface (the standard
  * ecosystem-library technique — Delta/Sedona ship the same kind of
  * shim), used by the recursive-CTE fixpoint (Engine.buildRecursiveCte),
  * which holds Spark's own `InternalRow`s in both of its tiers.
  *
  * `wrapInternal` wraps an already-materialized `InternalRow` RDD as a
  * fresh DataFrame with NO origin metadata. `Dataset.localCheckpoint`
  * preserves the origin plan's constraints and attribute ids in its
  * `LogicalRDD`. When the fixpoint's step projects a scanned column
  * verbatim, successive checkpointed legs then share
  * attribute ids and carry constraints referencing attributes outside
  * their own output — `Union.rewriteConstraints` faults on exactly
  * that (key-not-found, reproduced by DeepRecursionSpec's 999-round
  * ring). Wrapping the checkpointed bytes through
  * `internalCreateDataFrame` drops the poisoned metadata at zero row
  * cost; the public `createDataFrame(RDD[Row], schema)` alternative
  * would round-trip every row through external `Row` objects on every
  * downstream scan. */
object GraftSparkInternals {
  def wrapInternal(spark: classic.SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** A frame over rows the driver already holds, as a `LocalRelation`:
    * no job and no external-row conversion to build or scan it. */
  def localRelation(spark: classic.SparkSession, rows: Seq[InternalRow],
      schema: StructType): DataFrame =
    classic.Dataset.ofRows(spark,
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** Rows of `schema` projected onto the float-normalized values Spark
    * groups and joins on (-0.0 as 0.0, one NaN), so byte-equal
    * `UnsafeRow`s are exactly the rows Spark's `distinct` merges. */
  def floatNormalizer(schema: StructType): UnsafeProjection =
    UnsafeProjection.create(schema.fields.toSeq.zipWithIndex.map {
      case (f, i) => NormalizeFloatingNumbers.normalize(
        BoundReference(i, f.dataType, f.nullable))
    })
}
