package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize
import graft.Materialize.{drop, hold}

/** Distributed TRAINING of a linear text classifier — the
  * quality/language screening model a curation pipeline fits on its
  * own corpus (fastText-style linear over hashed bag-of-words), in a
  * form whose training run is BIT-REPRODUCIBLE and therefore
  * differentially checkable against an independent engine:
  *
  * Batch perceptron (Rosenblatt's rule applied full-batch): per
  * iteration, every misclassified document contributes `y·x` to the
  * weight delta. The delta is a SUM of integer feature vectors — a
  * commutative, associative aggregation — so unlike SGD the result is
  * independent of row order and partitioning, and every engine that
  * sums the same integers gets the same model. Features are hashed
  * word counts (portable md5-derived buckets) plus a bias; weights,
  * margins, and updates all stay in exact int64.
  *
  * Scale shape: the feature frame (doc, bucket, count) is computed
  * once and persisted; each iteration is ONE margin aggregation
  * keyed by doc (map-side combined) and one delta aggregation keyed
  * by bucket. The model itself (dims+1 longs) is bounded driver
  * state broadcast back as a plan literal — the standard contract
  * for linear models (same bounded-scalar rule as
  * Graph.connectedComponents' convergence probe: O(dims), never
  * data-sized). Margin sums stay far inside int64: counts ≤ doc
  * length, weights bounded by iters · Σ|docs| · max-count. */
object Classifier {

  /** A completed training run: the miscl curve and the weight vector
    * snapshot AFTER each iteration (snaps(i) = weights leaving
    * iteration i+1). Bounded driver state: iters · (dims+1) longs. */
  private final case class Trained(curve: Vector[(Long, Long)],
                                   snaps: Vector[Array[Long]])

  /** Session-scoped training cache. The training run is
    * bit-reproducible (order-free integer updates), so identical
    * (key, dims) inputs yield identical models — re-running it per
    * query is pure waste (four suite queries train the same planted
    * model). Keyed by a caller-supplied corpus fingerprint + dims;
    * a run with more iterations subsumes shorter requests via the
    * per-iteration snapshots. */
  private val memo =
    new scala.collection.concurrent.TrieMap[(String, Int), Trained]()

  private def train(docs: DataFrame, idCol: String, textCol: String,
                    label: Column, dims: Int,
                    iters: Int): Trained = Materialize.scope {
    val bucket = pmod(Dedup.md5Hash60(col("word")), lit(dims.toLong))
    val feat = hold(docs
      .select(col(idCol).as("doc_id"), label.cast("long").as("y"),
        explode(split(col(textCol), " ")).as("word"))
      .select(col("doc_id"), col("y"), bucket.as("j"))
      .groupBy(col("doc_id"), col("y"), col("j"))
      .agg(count(lit(1)).as("c"))
      .unionAll(docs.select(col(idCol).as("doc_id"),
        label.cast("long").as("y"), lit(dims.toLong).as("j"),
        lit(1L).as("c"))))
    var w = Array.fill(dims + 1)(0L)
    val curve = Vector.newBuilder[(Long, Long)]
    val snaps = Vector.newBuilder[Array[Long]]
    for (it <- 1 to iters) {
      // margin per doc under the CURRENT model (weights ride the plan
      // as a literal array — no join for a dims-sized lookup)
      val margins = hold(feat
        .withColumn("t", col("c") *
          element_at(lit(w), (col("j") + 1).cast("int")))
        .groupBy(col("doc_id"), col("y"))
        .agg(sum(col("t")).as("m")))
      val miscl = margins.filter(col("y") * col("m") <= 0)
        .select(col("doc_id"), col("y"))
      curve += ((it.toLong, miscl.count()))
      // order-free integer delta; ≤ dims+1 rows back to the driver
      val delta = feat.join(miscl.select(col("doc_id")), Seq("doc_id"))
        .groupBy(col("j")).agg(sum(col("y") * col("c")).as("d"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      drop(margins)
      w = w.indices.map(j => w(j) + delta.getOrElse(j.toLong, 0L)).toArray
      snaps += w
    }
    Trained(curve.result(), snaps.result())
  }

  private def toFrame(spark: org.apache.spark.sql.SparkSession,
                      t: Trained, iters: Int): DataFrame = {
    import spark.implicits._
    val w = t.snaps(iters - 1)
    val rows =
      t.curve.take(iters).map { case (it, n) => ("miscl", it, 0L, n) } ++
        w.indices.map(j => ("w", iters.toLong, j.toLong, w(j)))
    rows.toDF("kind", "it", "j", "val")
  }

  /** Train `iters` full-batch perceptron passes; returns one tall
    * frame: ("miscl", it, 0, n) training-curve rows (misclassified
    * count measured with the weights ENTERING iteration `it`) and
    * ("w", iters, j, w_j) final-model rows for every bucket
    * 0..dims (dims = bias). `label` must evaluate to +1 / −1. */
  def batchPerceptron(docs: DataFrame, idCol: String, textCol: String,
                      label: Column, dims: Int,
                      iters: Int): DataFrame =
    toFrame(docs.sparkSession,
      train(docs, idCol, textCol, label, dims, iters), iters)

  /** Memoized [[batchPerceptron]]: `cacheKey` must fingerprint the
    * corpus (include the data dir — sf0.01 and sf0.1 must not
    * collide). A cached run with >= `iters` snapshots answers from
    * the driver without touching the cluster; a shorter request than
    * a cached longer run slices the matching iteration prefix (the
    * curve and snapshot semantics make the prefix exactly the
    * shorter training run). */
  def batchPerceptronCached(docs: => DataFrame, idCol: String,
                            textCol: String, label: => Column,
                            dims: Int, iters: Int, cacheKey: String,
                            spark: org.apache.spark.sql.SparkSession)
      : DataFrame = {
    val key = (cacheKey, dims)
    val t = memo.get(key).filter(_.snaps.length >= iters).getOrElse {
      val r = train(docs, idCol, textCol, label, dims, iters)
      memo.updateWith(key) {
        case Some(old) if old.snaps.length >= r.snaps.length => Some(old)
        case _ => Some(r)
      }
      r
    }
    toFrame(spark, t, iters)
  }

  /** Score documents with a fixed model (the apply half of the
    * train→apply loop): per doc, the exact integer margin under
    * `weights` and the sign prediction (margin > 0 → +1, else −1 —
    * the tie lands negative on BOTH sides of a differential check
    * because the margin itself is exact). Same hashed-count feature
    * map as [[batchPerceptron]]; one doc-keyed aggregation. */
  def scoreWith(docs: DataFrame, idCol: String, textCol: String,
                weights: Array[Long], dims: Int): DataFrame = {
    val bucket = pmod(Dedup.md5Hash60(col("word")), lit(dims.toLong))
    docs
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("word"))
      .select(col("doc_id"), bucket.as("j"))
      .groupBy(col("doc_id"), col("j")).agg(count(lit(1)).as("c"))
      .unionAll(docs.select(col(idCol).as("doc_id"),
        lit(dims.toLong).as("j"), lit(1L).as("c")))
      .withColumn("t", col("c") *
        element_at(lit(weights), (col("j") + 1).cast("int")))
      .groupBy(col("doc_id")).agg(sum(col("t")).as("margin"))
      .withColumn("pred",
        when(col("margin") > 0, 1L).otherwise(lit(-1L)))
  }
}
