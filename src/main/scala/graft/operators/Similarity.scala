package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize
import graft.Materialize.hold
import graft.functions.VectorOps._

/** Approximate / exact nearest-neighbor search over an embedding
  * column (`array<float|double>`).
  *
  * Scale design:
  *  - brute force = one scan + TakeOrderedAndProject (no shuffle of
  *    the corpus; the top-k heap merges per partition) — the exact
  *    baseline, linear in corpus size;
  *  - many-queries brute force broadcasts the query set so the corpus
  *    is still scanned once, never shuffled;
  *  - IVF: corpus pre-assigned to the nearest of `nlist` centroids
  *    (at 100 TB: write the table partitioned by `centroid_id`, so a
  *    probe prunes to nprobe/nlist of the data on disk); a query
  *    probes the `nprobe` closest centroid buckets only.
  */
object Similarity {

  /** Exact top-k by cosine against one literal query vector. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Double], k: Int): DataFrame = {
    val cos = nativeCosine(emb.sparkSession)
    val q = typedlit(query)
    emb.select(col(idCol).as("vec_id"),
        round(cos(toDoubleVec(col(vecCol)), q), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Exact top-k per query row: broadcast the (small) query set, scan
    * the corpus once, rank within each query. */
  def bruteForceTopKJoin(emb: DataFrame, queries: DataFrame,
                         idCol: String, vecCol: String,
                         qIdCol: String, qVecCol: String,
                         k: Int): DataFrame = {
    val corpus = emb.select(col(idCol).as("vec_id"),
      toDoubleVec(col(vecCol)).as("v"))
    val qs = queries.select(col(qIdCol).as("query_id"),
      toDoubleVec(col(qVecCol)).as("qv"))
    val cos = nativeCosine(emb.sparkSession)
    val scored = corpus.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cos(col("v"), col("qv")).as("cos_raw"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"),
        round(col("cos_raw"), 6).as("cosine"), col("rank"))
  }

  /** int8 scalar-quantized ANN: symmetric per-vector quantization
    * (scale 127/max|x|, the standard SQ8 rule), then an exact
    * integer dot-product scan with top-k per query. At 100 TB the
    * point is memory: 1 byte per dimension instead of 8 keeps the
    * corpus codes resident where raw floats spill, and the integer
    * dots are EXACT — no float accumulation order anywhere — so the
    * ranking is deterministic across partitionings and the oracle
    * reproduces it bit-for-bit (unlike float cosine, which needs the
    * round-at-output discipline of [[bruteForceTopKJoin]]). Queries
    * broadcast; corpus scanned once. */
  def quantizedTopK(emb: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String,
                    qIdCol: String, qVecCol: String,
                    k: Int): DataFrame = {
    def quantize(df: DataFrame, id: String, vec: String,
                 outId: String, outQ: String): DataFrame =
      df.select(col(id).as(outId),
          expr(s"transform($vec, x -> cast(x as double))").as("v"))
        .withColumn("mx", expr("array_max(transform(v, x -> abs(x)))"))
        .select(col(outId),
          expr("transform(v, x -> cast(round(127.0D * x / mx) as long))")
            .as(outQ))
    val corpus = quantize(emb, idCol, vecCol, "vec_id", "q")
    val qs = quantize(queries, qIdCol, qVecCol, "query_id", "qq")
    val scored = corpus.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        expr("aggregate(zip_with(q, qq, (a, b) -> a * b), 0L," +
          " (acc, x) -> acc + x)").as("dot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("dot"),
        col("rank").cast("long").as("rank"))
  }

  /** Per-class embedding centroids (the mean vector of each label
    * group) — the training step behind IVF coarse quantizers,
    * class prototypes, and embedding-drift monitoring. Emitted in
    * long form (label, dim, centroid): the per-dimension sums ride
    * ONE shuffle on (label, dim) with map-side partial aggregation,
    * and the decimal(18,9) accumulator makes the mean exact and
    * order-independent (a double sum would drift with partitioning).
    * At 100 TB: state is |labels|·dims accumulators, independent of
    * row count. */
  def classCentroids(emb: DataFrame, groupCol: String,
                     vecCol: String): DataFrame =
    emb.select(col(groupCol), posexplode(toDoubleVec(col(vecCol))))
      .select(col(groupCol), col("pos").cast("long").as("dim"),
        col("col").as("x"))
      .groupBy(col(groupCol), col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(org.apache.spark.sql.types.DecimalType(18, 9)))
          .as("sx"))
      .select(col(groupCol), col("dim"),
        round(col("sx").cast("double") / col("n"), 6).as("centroid"))

  /** Label-noise screening by centroid agreement: a vector whose
    * cosine to some OTHER label's centroid (exact decimal means,
    * [[classCentroids]]) exceeds the cosine to its own is a mislabel
    * suspect — the cheap first-pass dataset-QA gate before training
    * on labeled embeddings. Returns per-label suspect tallies.
    * Scale shape: centroids are |labels|·dim rows (tiny), pivoted to
    * vectors and broadcast; the corpus is scored in place against all
    * centroids (|labels| cosines per row, row-local), then one
    * aggregate per (vec, label) and one per label. The corpus never
    * shuffles with itself. Cosines are rounded to 6 places BEFORE the
    * own-vs-other comparison so both engines compare identical
    * constants. */
  def labelNoiseByCentroid(emb: DataFrame, idCol: String, vecCol: String,
                           labelCol: String): DataFrame = {
    val cents = classCentroids(emb, labelCol, vecCol)
      .groupBy(col(labelCol).as("clabel"))
      .agg(array_sort(collect_list(struct(col("dim"), col("centroid"))))
        .as("cs"))
      .select(col("clabel"),
        transform(col("cs"), s => s.getField("centroid")).as("cv"))
    val cos = nativeCosine(emb.sparkSession)
    val sims = emb.select(col(idCol).as("vec_id"),
        col(labelCol).as("vlabel"), toDoubleVec(col(vecCol)).as("v"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("vlabel"), col("clabel"),
        round(cos(col("v"), col("cv")), 6).as("c"))
    sims.groupBy(col("vec_id"), col("vlabel"))
      .agg(max(when(col("clabel") === col("vlabel"), col("c"))).as("own"),
        max(when(col("clabel") =!= col("vlabel"), col("c")))
          .as("best_other"))
      .groupBy(col("vlabel").as("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("best_other") > col("own"), 1L).otherwise(0L))
          .as("n_suspect"),
        round(sum(when(col("best_other") > col("own"), 1.0)
          .otherwise(0.0)) / count(lit(1)), 6).as("suspect_rate"))
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the `k` most cosine-similar corpus vectors carrying a
    * DIFFERENT label — the pairs that teach an embedding model the
    * most (easy negatives are already far away; the hard ones sit
    * just across the decision boundary). Same scale shape as
    * [[bruteForceTopKJoin]]: the query batch broadcasts, the corpus
    * is scored in place (never shuffled), the label filter prunes
    * BEFORE ranking, and the per-query rank window is keyed on
    * query_id. For corpus-sized query sets, mine per IVF bucket
    * instead (ivfSearchBatch with a label predicate).
    *
    * NULL-label rows (corpus or query side) are EXCLUDED, explicitly:
    * a row whose label is unknown cannot be certified a negative, and
    * serving it as one would poison the contrastive signal. This
    * makes the former implicit null-rejection of `=!=` a documented
    * contract rather than an accident. */
  def hardNegatives(emb: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    val corpus = emb.select(col(idCol).as("vec_id"),
      col(labelCol).as("label"), toDoubleVec(col(vecCol)).as("v"))
      .filter(col("label").isNotNull)
    val qs = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("q_label"), toDoubleVec(col(vecCol)).as("qv"))
      .filter(col("q_label").isNotNull)
    val cos = nativeCosine(emb.sparkSession)
    val scored = corpus.crossJoin(broadcast(qs))
      .filter(col("label") =!= col("q_label"))
      .select(col("query_id"), col("vec_id"), col("label"),
        cos(col("v"), col("qv")).as("cos_raw"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("label"),
        round(col("cos_raw"), 6).as("cosine"),
        col("rank").cast("long").as("rank"))
  }

  /** Johnson–Lindenstrauss random projection to `k` dimensions with a
    * deterministic ±1 sign matrix — the dimensionality-reduction step
    * before indexing/clustering huge embedding sets (JL lemma: ±1
    * entries preserve pairwise distances within ε at k = O(log n/ε²);
    * Achlioptas 2001, public result). Signs come from md5 parity of
    * "i_j" (sign = +1 iff the first hex digit is 0–7), so every engine
    * with an md5 builtin reproduces the matrix digit-for-digit — the
    * same differential-testability trick as [[Dedup.md5Hash60]]; the
    * per-element products are exact DECIMAL(18,9) sums (the q90
    * centroid pattern), so projections are bit-stable cross-engine.
    * The sign matrix is dims×k rows (a few KB) broadcast into the
    * exploded join — the corpus shuffles once, on (id, j) for the
    * component sums. Long-form output (id, j, proj). */
  def jlProject(emb: DataFrame, idCol: String, vecCol: String,
                k: Int): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    val flat = emb
      .select(col(idCol).as("id"), posexplode(toDoubleVec(col(vecCol))))
      .select(col("id"), col("pos").cast("long").as("i"), col("col").as("x"))
    // one-row dimension probe (vectors are uniform-width by contract);
    // deriving dims from flat.distinct() would cost a full corpus scan
    // + exchange just to learn a constant. NOTE this runs an eager
    // (tiny: LIMIT 1) Spark job at plan-construction time. Null
    // embeddings are skipped so a leading null row can't NPE the probe
    // or zero the sign-matrix width.
    val probe = emb.filter(col(vecCol).isNotNull)
      .select(size(toDoubleVec(col(vecCol))).as("d"))
      .limit(1).collect()
    // empty/all-null corpus → zero-dim sign matrix → empty
    // (correctly-typed) projection, instead of an out-of-bounds probe
    val dim = if (probe.isEmpty || probe(0).isNullAt(0)) 0
      else probe(0).getInt(0)
    val js = emb.sparkSession.range(k).select(col("id").as("j"))
    val signs = emb.sparkSession.range(dim).select(col("id").as("i"))
      .crossJoin(js)
      .select(col("i"), col("j"),
        when(substring(md5(concat_ws("_", col("i"), col("j"))), 1, 1)
            .isin("0", "1", "2", "3", "4", "5", "6", "7"),
          lit(1)).otherwise(lit(-1)).as("sgn"))
    flat.join(broadcast(signs), Seq("i"))
      .groupBy(col("id"), col("j"))
      .agg(sum(when(col("sgn") === 1, col("x").cast(dec))
        .otherwise(-col("x").cast(dec))).as("sx"))
      .select(col("id"), col("j"),
        round(col("sx").cast("double") / math.sqrt(k.toDouble), 6)
          .as("proj"))
  }

  /** Deterministic coarse quantizer: the first `nlist` vectors by id
    * serve as centroids (k-means refinement is an orthogonal,
    * pluggable improvement — the partition/probe plumbing is what
    * matters for scale). */
  def centroids(emb: DataFrame, idCol: String, vecCol: String,
                nlist: Int): DataFrame =
    emb.orderBy(col(idCol)).limit(nlist)
      .select(col(idCol).as("centroid_id"),
        toDoubleVec(col(vecCol)).as("cv"))

  /** Lloyd refinement of an initial centroid table (k-means with
    * cosine assignment): `iters` rounds of assign → exact elementwise
    * mean. Means are computed in DECIMAL so they are order- and
    * partitioning-independent — two runs on different cluster layouts
    * produce BIT-IDENTICAL centroids (the determinism rule every
    * sketch in this repo follows; double `avg` would drift with
    * summation order). A cell that loses all members keeps its
    * previous centroid. Each iteration is one corpus pass (broadcast
    * centroids) + one (cell, dim)-keyed aggregation — no all-pairs
    * work, scales like ivfAssign. */
  def kmeansRefine(emb: DataFrame, idCol: String, vecCol: String,
                   init: DataFrame, iters: Int): DataFrame = {
    val corpus = emb.select(col(idCol).as("vec_id"),
      toDoubleVec(col(vecCol)).as("v"))
    var cents = init
    for (_ <- 0 until iters) {
      val means = ivfAssign(corpus, "vec_id", "v", cents)
        .select(col("centroid_id"), posexplode(col("v")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg((sum(col("col").cast(
          org.apache.spark.sql.types.DecimalType(30, 15))) /
          count(lit(1))).cast("double").as("m"))
        .groupBy(col("centroid_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          e => e.getField("m")).as("cv_new"))
      cents = cents.join(means, Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          coalesce(col("cv_new"), col("cv")).as("cv"))
    }
    cents
  }

  /** [[kmeansRefine]] with the per-dimension mean computed from
    * INTEGER MICRO-UNITS: component = Σ round(x·10⁶) / (n·10⁶). Sums
    * of longs are order-free and the final division is one IEEE op on
    * exact integers, so the refined centroids are bit-identical not
    * just across partitionings but across ENGINES — the variant the
    * oracle-checked IVF queries use (a DECIMAL mean is Spark-exact
    * but DuckDB's decimal division rounds differently). Same shape
    * and cost as [[kmeansRefine]]. */
  def kmeansRefineMicro(emb: DataFrame, idCol: String, vecCol: String,
                        init: DataFrame, iters: Int): DataFrame = {
    val corpus = emb.select(col(idCol).as("vec_id"),
      toDoubleVec(col(vecCol)).as("v"))
    var cents = init
    for (_ <- 0 until iters) {
      val means = ivfAssign(corpus, "vec_id", "v", cents)
        .select(col("centroid_id"), posexplode(col("v")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(sum(round(col("col") * 1e6).cast("long")).as("sq"),
          count(lit(1)).as("n"))
        .select(col("centroid_id"), col("pos"),
          (col("sq").cast("double")
            / (col("n").cast("double") * lit(1e6))).as("m"))
        .groupBy(col("centroid_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          e => e.getField("m")).as("cv_new"))
      cents = cents.join(means, Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          coalesce(col("cv_new"), col("cv")).as("cv"))
    }
    cents
  }

  /** Memoized [[kmeansRefineMicro]] over a [[centroids]] seed: the
    * refined centroid table collected to the driver ONCE per
    * (cacheKey, nlist, iters) and replayed as a tiny local frame for
    * every later caller — the IVF query family shares one quantizer
    * build instead of re-running Lloyd per query (same lazy-training
    * discipline as Classifier.batchPerceptronCached). Safe because
    * kmeansRefineMicro is bit-deterministic (integer micro-unit
    * means), so the cached frame is the frame a fresh run would
    * produce; bounded because a quantizer is nlist × dim doubles.
    * `cacheKey` must fingerprint the corpus (include the data dir —
    * sf0.01 and sf0.1 must not collide). */
  private val centroidMemo = scala.collection.concurrent.TrieMap
    .empty[(String, Int, Int), Array[(Long, Seq[Double])]]

  def refinedCentroidsCached(emb: => DataFrame, idCol: String,
                             vecCol: String, nlist: Int, iters: Int,
                             cacheKey: String,
                             spark: SparkSession): DataFrame = {
    val data = centroidMemo.getOrElseUpdate((cacheKey, nlist, iters), {
      val seed = centroids(emb, idCol, vecCol, nlist)
      val refined =
        if (iters > 0) kmeansRefineMicro(emb, idCol, vecCol, seed, iters)
        else seed
      refined.collect().map(r =>
        (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
    })
    spark.createDataFrame(data.toIndexedSeq)
      .toDF("centroid_id", "cv")
  }

  /** Assign every vector to its nearest centroid (max cosine,
    * centroid_id as tie-break). Broadcast the centroid table; one pass
    * over the corpus, no shuffle. At scale, persist the result
    * partitioned by centroid_id. */
  def ivfAssign(emb: DataFrame, idCol: String, vecCol: String,
                cents: DataFrame): DataFrame = {
    val cos = nativeCosine(emb.sparkSession)
    val corpus = emb.select(col(idCol).as("vec_id"),
      toDoubleVec(col(vecCol)).as("v"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("centroid_id").asc)
    corpus.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("centroid_id"),
        cos(col("v"), col("cv")).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("v"), col("centroid_id"))
  }

  /** IVF probe: rank centroids against the query, brute-force only the
    * vectors assigned to the closest `nprobe` centroids. */
  def ivfSearch(assigned: DataFrame, cents: DataFrame,
                query: Seq[Double], nprobe: Int, k: Int): DataFrame = {
    val cos = nativeCosine(assigned.sparkSession)
    val q = typedlit(query)
    val probed = cents
      .select(col("centroid_id"), cos(col("cv"), q).as("csim"))
      .orderBy(col("csim").desc, col("centroid_id").asc)
      .limit(nprobe)
      .select("centroid_id")
    assigned.join(broadcast(probed), Seq("centroid_id"), "left_semi")
      .select(col("vec_id"), round(cos(col("v"), q), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Batch IVF probe: one probe pass for a whole (small, broadcast)
    * query set — centroid ranking, cell pruning, and candidate
    * scoring all stay per-query inside one DataFrame program, so a
    * 10k-query eval batch costs one corpus pass, not 10k. Excludes
    * each query's own vector (eval convention, matches
    * [[bruteForceTopKJoin]]). */
  def ivfSearchBatch(assigned: DataFrame, cents: DataFrame,
                     queries: DataFrame, qIdCol: String, qVecCol: String,
                     nprobe: Int, k: Int): DataFrame = {
    val cos = nativeCosine(assigned.sparkSession)
    val qs = queries.select(col(qIdCol).as("query_id"),
      toDoubleVec(col(qVecCol)).as("qv"))
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("centroid_id").asc)
    val probed = cents.crossJoin(broadcast(qs))
      .select(col("query_id"), col("qv"), col("centroid_id"),
        cos(col("cv"), col("qv")).as("csim"))
      .withColumn("rk", row_number().over(wp))
      .filter(col("rk") <= nprobe)
      .select(col("query_id"), col("qv"), col("centroid_id"))
    val wk = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("vec_id").asc)
    assigned.join(broadcast(probed), Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cos(col("v"), col("qv")).as("cos_raw"))
      .withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"),
        round(col("cos_raw"), 6).as("cosine"),
        col("rank").cast("long").as("rank"))
  }

  /** End-to-end IVF ANN: build + probe in one call (for the query
    * pack; real pipelines persist the assignment). */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              query: Seq[Double], nlist: Int, nprobe: Int,
              k: Int, refineIters: Int = 0): DataFrame = {
    val seed = centroids(emb, idCol, vecCol, nlist)
    val cents =
      if (refineIters > 0)
        kmeansRefineMicro(emb, idCol, vecCol, seed, refineIters)
      else seed
    val assigned = ivfAssign(emb, idCol, vecCol, cents)
    ivfSearch(assigned, cents, query, nprobe, k)
  }

  /** Greedy k-center coreset (Gonzalez's farthest-first traversal,
    * the classic 2-approximation): seed with the smallest id, then
    * repeat "pick the point farthest from its nearest chosen center"
    * k−1 times — the standard coverage-maximizing selection for data
    * pruning / coreset distillation (pick the k exemplars that cover
    * the embedding space, dense modes represented once).
    *
    * Scale shape: each selection step is one full scan — a row-local
    * min over ≤k BROADCAST center vectors, then a top-1 reduce
    * (TakeOrdered, per-partition heads merged) — so the loop is k−1
    * linear passes and the driver only ever holds the k chosen
    * vectors. Distances are EXACT integer L2² over round(x·10⁶)
    * fixed-point coordinates: no float accumulation order anywhere,
    * so the argmax (and the DuckDB oracle's) is bit-deterministic.
    * Ties: the smaller vec_id wins selection; a point assigns to the
    * earliest-selected of equally-near centers.
    *
    * Returns one row per center: selection rank, the center's id,
    * its cluster population, and the cluster radius (max L2² of its
    * members — rank-1's radius bounds the k-center objective).
    */
  def kCenterCoreset(emb: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame = Materialize {
    require(k >= 1, "k must be positive")
    val qv = hold(emb.select(col(idCol).as("vec_id"),
        transform(toDoubleVec(col(vecCol)),
          x => round(x * 1000000).cast("long")).as("q")))
    def d2To(center: Seq[Long]): Column =
      aggregate(zip_with(col("q"), typedlit(center),
        (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)
    // each selection step is ONE top-1 scan carrying the vector
    // along — a separate fetch-by-id would re-scan the corpus per
    // step (review finding)
    val seed = qv.orderBy(col("vec_id").asc).limit(1).head()
    val centers = scala.collection.mutable.ArrayBuffer(
      (seed.getLong(0), seed.getSeq[Long](1)))
    while (centers.length < k) {
      val mind = centers.map(c => d2To(c._2)).reduce(least(_, _))
      val far = qv.select(col("vec_id"), col("q"), mind.as("d"))
        .orderBy(col("d").desc, col("vec_id").asc).limit(1).head()
      centers += ((far.getLong(0), far.getSeq[Long](1)))
    }
    // assignment: one row-local array_min over (d², rank, id) structs
    // — struct ordering gives "min distance, tie → earliest center";
    // no join, the centers ride along as literals
    val slots = centers.zipWithIndex.map { case ((cid, cv), i) =>
      struct(d2To(cv).as("d"), lit(i + 1L).as("r"), lit(cid).as("cid"))
    }
    qv.select(col("vec_id"), array_min(array(slots.toSeq: _*)).as("p"))
      .select(col("p.r").as("center_rank"),
        col("p.cid").as("center_vec_id"), col("p.d").as("d"))
      .groupBy(col("center_rank"), col("center_vec_id"))
      .agg(count(lit(1)).as("n_points"), max(col("d")).as("max_d2"))
  }
}
