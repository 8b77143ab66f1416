package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector primitives over `array<float|double>` columns.
  *
  * Pure higher-order built-in expressions (`zip_with`/`aggregate`) — no
  * UDF serialization, evaluated natively per row, safe at any scale.
  * The fold is sequential left-to-right, so results are deterministic
  * (important for the differential oracle).
  */
object VectorOps {

  /** Element-wise cast to double (float32 inputs promote once, up
    * front, instead of per-operation). */
  def toDoubleVec(v: Column): Column = transform(v, _.cast("double"))

  /** Dot product: Σ aᵢ·bᵢ (sequential fold — deterministic). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (interpreted HOF form — see [[nativeCosine]]
    * for the codegen'd hot-path variant; both are bit-identical). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Register the codegen'd [[CosineSim]] in the session and return a
    * cosine builder backed by it: one fused loop per row inside
    * whole-stage codegen instead of three interpreted folds. */
  def nativeCosine(spark: org.apache.spark.sql.SparkSession)
      : (Column, Column) => Column = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_cosine", exprs => CosineSim(exprs(0), exprs(1)), "built-in")
    (a, b) => call_function("graft_cosine", a, b)
  }

  /** Micro-unit quantization: each component → `round(x·1e6)` as a
    * long. The differential-oracle workhorse — integer sums are
    * order-free and bit-identical across engines, so dot products and
    * norms built on micro vectors hash-match DuckDB regardless of
    * parallelism. Identical quantization to the exploded
    * `round(col·1e6)::long` form the query pack uses, but kept in-row:
    * no posexplode, no join on the dimension index, no 10M-row hash
    * aggregate — the whole dot is one codegen'd fold per pair. */
  def microVec(v: Column): Column =
    transform(v, x => round(x.cast("double") * 1e6).cast("long"))

  /** Integer dot product over micro vectors: Σ aᵢ·bᵢ as a long. */
  def dotLong(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Register the codegen'd [[DotLong]] and return an integer-dot
    * builder backed by it: one fused loop per pair inside whole-stage
    * codegen instead of an interpreted zip_with+fold (bit-identical —
    * long addition is associative). */
  def nativeDotLong(spark: org.apache.spark.sql.SparkSession)
      : (Column, Column) => Column = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot_long", exprs => DotLong(exprs(0), exprs(1)), "built-in")
    (a, b) => call_function("graft_dot_long", a, b)
  }
}
