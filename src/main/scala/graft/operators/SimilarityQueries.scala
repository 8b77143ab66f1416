package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize.hold
import graft.Tables
import graft.functions.VectorOps

/** ANN similarity-search coverage over the embeddings table. The
  * DuckDB oracles recompute the exact same searches (including the
  * IVF bucket structure) from first principles via unnest + window
  * SQL, so both the plumbing and the math are differentially checked.
  */
object SimilarityQueries extends QueryPack {

  /** The shared IVF quantizer for the query pack: first-16-by-id seed
    * + ONE Lloyd round with integer-micro-unit means
    * ([[Similarity.kmeansRefineMicro]]) — refined enough that recall
    * numbers are honest (the raw first-n seed made the nprobe curves
    * measure a degenerate quantizer), and engine-exact so every
    * oracle recomputes the identical centroids. MEMOIZED per data dir
    * ([[Similarity.refinedCentroidsCached]]): the whole IVF family
    * shares one Lloyd run per dataset — bit-identical results (the
    * refinement is integer-exact) at one build's cost. */
  private def refined16(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    Similarity.refinedCentroidsCached(Tables.embeddings(s, d),
      "vec_id", "embedding", nlist = 16, iters = 1,
      cacheKey = s"$d:embeddings", s)

  /** The shared IVF ASSIGNMENT under [[refined16]] — i.e. the built
    * index. Materialized to parquet once per (app, dataset) and
    * re-read by every consumer (q47/q118/q157/q210/q211/q234/q236/
    * q258): at 100 TB the assignment IS a persisted table partitioned
    * by centroid_id (see Similarity's scaladoc); per-query re-assign
    * was a full corpus pass × 8 queries. Parquet, not a held frame:
    * the table outlives the scope of the query that builds it.
    * Assignment is deterministic (max-cosine, centroid_id tie-break
    * over bit-exact centroids), so the materialized table is
    * bit-identical to a fresh build. */
  private def assigned16(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    QueryPack.memoizedParquet(s, d, "graft-ivf16-")(
      Similarity.ivfAssign(Tables.embeddings(s, d), "vec_id",
        "embedding", refined16(s, d)))

  /** Memoized IVF quantizer + assignment table, exposed for the
    * bench's separately billed pre-build pass (r14 verdict task 6).
    * assigned16 forces refined16, so one row bills the family. */
  override def prebuilds: Map[String, (SparkSession, String) => Unit] =
    Map("build_ivf16_assign" -> ((s, d) => { assigned16(s, d); () }))

  protected val entries: Map[String, Query] = Map(
    // Hybrid retrieval: BM25 top-50 (lexical leg) + cosine top-50 of
    // the vec-0 query (vector leg), fused by reciprocal-rank fusion
    // rrf = Σ 1/(60+rank) — the standard score-free fusion whose
    // integer ranks make the result engine-reproducible (fused score
    // is two constant divisions summed in fixed order). The lexical
    // rank is computed by a 50-row broadcast self-join, NOT a global
    // window — candidate lists are k-bounded, so the whole fusion is
    // constant-size work regardless of corpus scale.
    "q180_hybrid_rrf" -> ((s, d) => {
      val lex50 = TextAnalysis.bm25TopK(Tables.documents(s, d),
        "doc_id", "text", Seq("data", "join", "spark", "query"),
        k1 = 1.5, b = 0.75, topK = 50)
      val lexRank = lex50.as("a").join(broadcast(lex50.as("b")),
          col("b.bm25") > col("a.bm25") ||
            (col("b.bm25") === col("a.bm25") &&
              col("b.doc_id") < col("a.doc_id")), "left")
        .groupBy(col("a.doc_id").as("doc_id"))
        .agg((count(col("b.doc_id")) + 1).as("rank_lex"))
      val emb = Tables.embeddings(s, d)
      val vecRank = Similarity.bruteForceTopKJoin(emb,
          emb.filter(col("vec_id") === 0L), "vec_id", "embedding",
          "vec_id", "embedding", k = 50)
        .select(col("vec_id").as("doc_id"),
          col("rank").cast("long").as("rank_vec"))
      lexRank.join(vecRank, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("rank_lex"), lit(0L)).as("rank_lex"),
          coalesce(col("rank_vec"), lit(0L)).as("rank_vec"),
          round(
            when(col("rank_lex").isNotNull,
              lit(1.0) / (col("rank_lex") + 60)).otherwise(lit(0.0)) +
            when(col("rank_vec").isNotNull,
              lit(1.0) / (col("rank_vec") + 60)).otherwise(lit(0.0)),
            6).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id").asc)
        .limit(20)
    }),
    // Exact brute-force top-10 cosine neighbors of vector 0.
    "q46_ann_bruteforce" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopKJoin(emb,
          emb.filter(col("vec_id") === 0L), "vec_id", "embedding",
          "vec_id", "embedding", k = 10)
        .select(col("vec_id"), col("cosine"), col("rank").cast("long")
          .as("rank"))
    }),
    // IVF(nlist=16, nprobe=4): centroid assignment + probe, top-10.
    // Uses the pack-shared memoized quantizer ([[refined16]]) — the
    // per-query Lloyd re-run was the r9 bench regression.
    "q47_ann_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0L)
        .select(col("embedding")).collect()(0)
        .getSeq[Float](0).map(_.toDouble)
      val cents = refined16(s, d)
      val assigned = assigned16(s, d)
      Similarity.ivfSearch(assigned, cents, q, nprobe = 4, k = 10)
    }),
    // Batch ANN: top-3 neighbors for each of the first 5 vectors.
    "q48_ann_batch" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopKJoin(emb,
          emb.filter(col("vec_id") < 5L), "vec_id", "embedding",
          "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("vec_id"), col("cosine"),
          col("rank").cast("long").as("rank"))
    }),
    // int8 scalar-quantized ANN (SQ8): top-3 integer-dot neighbors
    // for the first 5 queries — the memory-bounded corpus scan with
    // EXACT integer ranking (no float accumulation), oracle-matched
    // bit-for-bit.
    "q135_quantized_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 5L),
        "vec_id", "embedding", "vec_id", "embedding", k = 3)
    }),
    // Hard-negative mining: top-5 most-similar DIFFERENT-label
    // vectors per query — the contrastive-training pair generator
    // (Similarity.hardNegatives scaladoc for the scale shape).
    // Deterministic RANDOM negative sampling — the in-batch
    // complement to q147's hard negatives for contrastive training
    // pairs: every 50th doc draws 4 negatives from the corpus via
    // the arithmetic sample hash over (query-id, slot) mapped into a
    // dense 0..N-1 corpus index (Rank.distributedRank — no
    // single-partition window). Pure projections + one equi-join on
    // the index: at 100 TB this is a hash join against the corpus
    // index table, never a random-access lookup. Accidental
    // self-draws are filtered identically on both sides.
    "q203_negative_sampling" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val idx = Rank.distributedRank(docs, Seq(col("doc_id").asc), s)
        .select(col("doc_id").as("neg_doc_id"),
          (col("rk") - 1L).as("neg_idx"))
      val n = docs.agg(count(lit(1)).as("nd"))
      val draws = Tables.documents(s, d)
        .filter(col("doc_id") % 50 === 0).select(col("doc_id"))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), explode(sequence(lit(0L), lit(3L))).as("j"),
          col("nd"))
        .select(col("doc_id"), col("j"),
          pmod(graft.functions.Sketches.sampleHash(
            col("doc_id") * 4 + col("j")), col("nd")).as("neg_idx"))
      draws.join(idx, "neg_idx")
        .filter(col("neg_doc_id") =!= col("doc_id"))
        .select(col("doc_id"), col("j"), col("neg_doc_id"))
    }),
    "q147_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 5L),
        "vec_id", "embedding", "label", k = 5)
    }),
    // JL random projection 64→16 dims, deterministic md5-parity signs
    // (Similarity.jlProject scaladoc) — long-form (vec_id, j, proj),
    // every projection bit-identical to the oracle's recompute.
    // Input is fanned out post-scan (Tables.fanout): the projection's
    // 64×16 per-row dot products are the cost, and a single-rowgroup
    // source would serialize them through one core (measured 2.7 s in
    // ONE task at sf0.1; r15 profile).
    "q146_jl_projection" -> ((s, d) =>
      Similarity.jlProject(
          Tables.fanout(s, d, "embeddings", Tables.embeddings(s, d),
            rowsPerTask = 64),
          "vec_id", "embedding", k = 16)
        .select(col("id").as("vec_id"), col("j"), col("proj"))),
    // Pairwise-cosine histogram over a deterministic probe set (the
    // first 100 vectors, 4950 pairs): the embedding-space geometry
    // check — a distribution piled near 1.0 means collapsed
    // embeddings, near 0 means healthy spread — run before trusting
    // any similarity threshold. Binning happens on the ROUNDED cosine
    // so bin edges are identical constants in both engines; the probe
    // set is a broadcastable constant-size frame at any corpus scale.
    "q172_cosine_histogram" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 100L)
        .select(col("vec_id"),
          VectorOps.toDoubleVec(col("embedding")).as("v"))
      val cos = VectorOps.nativeCosine(s)
      val a = emb.as("a")
      val b = emb.as("b")
      a.join(broadcast(b), col("a.vec_id") < col("b.vec_id"))
        .select(round(cos(col("a.v"), col("b.v")), 6).as("c"))
        .select(least(lit(9L), floor((col("c") + 1.0) * 5.0)
          .cast("long")).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n_pairs"))
    }),
    // Quantization eval: recall@10 of the SQ8 integer index against
    // exact float brute force — the accept/reject gate on a
    // quantization config (q118's twin, measuring the OTHER recall
    // loss axis: code precision instead of probe pruning). Both
    // retrieval paths run their standard plans; the compare is a
    // per-query semi-join count.
    "q165_sq8_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 5L)
      val brute = Similarity.bruteForceTopKJoin(emb, qs, "vec_id",
          "embedding", "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("vec_id"))
      val quant = Similarity.quantizedTopK(emb, qs, "vec_id",
          "embedding", "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("vec_id"))
      val hits = quant.join(brute, Seq("query_id", "vec_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      qs.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).cast("long").as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)) / 10.0, 6)
            .as("recall_at_10"))
    }),
    // IVF index health: bucket population per centroid + balance
    // factor (n·nlist/total — 1.0 = perfectly even). Skewed buckets
    // are the failure mode that quietly kills IVF recall/latency at
    // scale, so this is the accept/reject gate on a quantizer before
    // building the full layout. Reuses the q47 assignment; counts are
    // one aggregate; the scalar total broadcasts back.
    "q157_ivf_balance" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val assigned = assigned16(s, d)
      val total = assigned.agg(count(lit(1)).as("n_total"))
      assigned.groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("n_vectors"))
        .crossJoin(broadcast(total))
        .select(col("centroid_id"), col("n_vectors"),
          round(col("n_vectors") * lit(16.0) / col("n_total"), 6)
            .as("balance"))
    }),
    // Embedding degeneracy audit: per label — zero vectors and the
    // squared-norm envelope, all in EXACT integer micro²-units
    // (xi = round(x·1e6); Σxi² ≤ 64·10¹² fits BIGINT), so the audit
    // has no doubles to drift. Zero/degenerate vectors poison cosine
    // ranking (0/0) and training batches alike; this is the cheap
    // pre-index gate.
    "q158_embedding_audit" -> ((s, d) => {
      val xi = round(col("col") * 1000000).cast("long")
      Tables.embeddings(s, d)
        .select(col("label"), col("vec_id"),
          posexplode(VectorOps.toDoubleVec(col("embedding"))))
        .select(col("label"), col("vec_id"), (xi * xi).as("x2"))
        .groupBy(col("label"), col("vec_id"))
        .agg(sum(col("x2")).as("ss"), count(lit(1)).as("dim"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vectors"),
          sum(when(col("ss") === 0L, 1L).otherwise(0L)).as("n_zero"),
          min(col("ss")).as("min_ss"), max(col("ss")).as("max_ss"),
          max(col("dim")).as("dim"))
    }),
    // Label-noise screening: per-label counts of vectors whose
    // rounded cosine to another label's centroid beats their own —
    // the mislabel-suspect gate (Similarity.labelNoiseByCentroid).
    "q148_label_noise" -> ((s, d) =>
      Similarity.labelNoiseByCentroid(Tables.embeddings(s, d),
        "vec_id", "embedding", "label")),
    // Per-label centroid vectors in long form (label, dim, centroid):
    // exact decimal per-dimension means, one shuffle.
    "q90_class_centroids" -> ((s, d) =>
      Similarity.classCentroids(Tables.embeddings(s, d), "label",
        "embedding")),
    // ANN quality eval: recall@10 of the IVF index against exact
    // brute force for a query batch — the accept/reject gate before
    // shipping an index config. One corpus pass for all queries
    // (batch probe); the oracle recomputes BOTH retrieval paths.
    "q118_recall_at_k" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5L)
      val brute = Similarity.bruteForceTopKJoin(emb, queries,
          "vec_id", "embedding", "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("vec_id"))
      val cents = refined16(s, d)
      val assigned = assigned16(s, d)
      val ivf = Similarity.ivfSearchBatch(assigned, cents, queries,
          "vec_id", "embedding", nprobe = 4, k = 10)
        .select(col("query_id"), col("vec_id"))
      val hits = ivf.join(brute, Seq("query_id", "vec_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      queries.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).cast("long").as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)) / 10.0, 6)
            .as("recall_at_10"))
    }),
    // SemDeDup (Abbas et al.): semantic dedup = cluster the embedding
    // space coarsely, then pairwise-cosine ONLY within each cluster
    // and drop every vector that has a smaller-id neighbor above the
    // threshold. The cluster stage is what makes the quadratic
    // tractable at scale: pair work is Σ |cluster|², and nlist grows
    // with the corpus so cluster sizes stay bounded — the pair join
    // is a shuffle-equi-join on centroid_id, never all-pairs. The
    // keep/drop rule (survive iff no smaller-id duplicate) is
    // order-free and engine-reproducible; the threshold compares the
    // ROUNDED cosine so both engines agree at the boundary. τ=0.3 is
    // calibrated to this corpus's geometry (max pair cosine ≈0.46,
    // p99 ≈0.29 — real SemDeDup corpora sit near 0.95+).
    "q210_semantic_dedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = refined16(s, d)
      val assigned = assigned16(s, d) // parquet-backed shared index
      val cos = VectorOps.nativeCosine(s)
      val a = assigned.select(col("centroid_id"),
        col("vec_id").as("va"), col("v").as("xa"))
      val b = assigned.select(col("centroid_id"),
        col("vec_id").as("vb"), col("v").as("xb"))
      val dropped = a.join(b, Seq("centroid_id"))
        .filter(col("va") < col("vb"))
        .filter(round(cos(col("xa"), col("xb")), 6) >= 0.3)
        .select(col("centroid_id"), col("vb").as("vec_id"))
        .distinct()
      assigned.groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("n_vecs"))
        .join(dropped.groupBy(col("centroid_id"))
          .agg(count(lit(1)).as("nd")), Seq("centroid_id"), "left")
        .select(col("centroid_id"), col("n_vecs"),
          coalesce(col("nd"), lit(0L)).as("n_dropped"),
          (col("n_vecs") - coalesce(col("nd"), lit(0L))).as("n_kept"))
    }),
    // Cluster-balanced diversity sampling (the DataComp/DoReMi-family
    // selection move): after coarse clustering, take ceil(√n) docs per
    // cluster by deterministic hash order — dense modes contribute
    // sublinearly, rare modes survive whole, and the pick is
    // reproducible across engines and runs (no RNG: Knuth-hash order,
    // vec_id tie-break). The per-cluster row_number window is bounded
    // because nlist scales with the corpus (same contract as IVF);
    // quotas are a broadcast of |nlist| rows.
    "q211_cluster_sample" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = refined16(s, d)
      val assigned = assigned16(s, d) // parquet-backed shared index
      val quota = assigned.groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("centroid_id"), col("n"),
          ceil(sqrt(col("n").cast("double"))).cast("long").as("quota"))
      val w = Window.partitionBy(col("centroid_id"))
        .orderBy(col("h"), col("vec_id"))
      val picked = assigned
        .select(col("centroid_id"), col("vec_id"),
          ((col("vec_id") * 2654435761L) % 1000000007L).as("h"))
        .withColumn("rk", row_number().over(w))
        .join(broadcast(quota), "centroid_id")
        .filter(col("rk") <= col("quota"))
      picked.groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("n_sampled"),
          min(col("vec_id")).as("first_pick"))
        .join(broadcast(quota), Seq("centroid_id"))
        .select(col("centroid_id"), col("n"), col("quota"),
          col("n_sampled"), col("first_pick"))
    }),
    // Greedy k-center coreset (farthest-first traversal) over the
    // embeddings: the k=4 exemplars that cover the space, with
    // cluster populations and radii. Selection is k−1 scan+top-1
    // passes over broadcast centers; distances are exact integer L2²
    // (fixed-point ×10⁶), so selection, assignment, and the oracle's
    // chained-CTE recomputation agree bit-for-bit.
    "q216_kcenter_coreset" -> ((s, d) =>
      Similarity.kCenterCoreset(Tables.embeddings(s, d), "vec_id",
        "embedding", k = 4)),
    // Margin-based bitext mining (Artetxe & Schwenk): across two
    // strata (label 0 = "source", label 1 = "target"), score each
    // cross pair by cosine relative to the mean of both endpoints'
    // k=4 nearest neighbors — margin = 2k·cos(x,y)/(Σtopk(x)+Σtopk(y))
    // — and keep each source's best target when the margin clears
    // 1.02. The margin criterion is THE published fix for hubness
    // (absolute-cosine mining drowns in hub vectors). Determinism:
    // cosines collapse to integer micro-units once (round ×10⁶), so
    // every rank, top-k sum, and the final margin (one int/int
    // division, rounded) is engine-exact. Scale shape: the stratum
    // cross product is the exact-verification form — production runs
    // the identical margin arithmetic on IVF shortlists (q47's
    // layout) with the query stratum batched and broadcast, the same
    // contract as q48's batch brute force.
    "q217_margin_bitext" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val a = emb.filter(col("label") === 0)
        .select(col("vec_id").as("src_id"),
          VectorOps.toDoubleVec(col("embedding")).as("xv"))
      val b = emb.filter(col("label") === 1)
        .select(col("vec_id").as("tgt_id"),
          VectorOps.toDoubleVec(col("embedding")).as("yv"))
      val cos = VectorOps.nativeCosine(s)
      val k = 4
      val pairs = hold(a.crossJoin(broadcast(b))
        .select(col("src_id"), col("tgt_id"),
          round(cos(col("xv"), col("yv")) * 1000000)
            .cast("long").as("ci")))
      val wx = Window.partitionBy(col("src_id"))
        .orderBy(col("ci").desc, col("tgt_id").asc)
      val sx = pairs.withColumn("rk", row_number().over(wx))
        .filter(col("rk") <= k)
        .groupBy(col("src_id")).agg(sum(col("ci")).as("sx"))
      val wy = Window.partitionBy(col("tgt_id"))
        .orderBy(col("ci").desc, col("src_id").asc)
      val sy = pairs.withColumn("rk", row_number().over(wy))
        .filter(col("rk") <= k)
        .groupBy(col("tgt_id")).agg(sum(col("ci")).as("sy"))
      val margins = pairs
        .join(broadcast(sx), "src_id").join(broadcast(sy), "tgt_id")
        .select(col("src_id"), col("tgt_id"), col("ci"),
          // sx+sy can cancel to 0 on degenerate corpora; Spark would
          // yield NULL while DuckDB yields ±inf — pin both to 0
          // (which the >= 1.02 gate then drops) for engine parity.
          when(col("sx") + col("sy") === 0, lit(0.0))
            .otherwise(round((col("ci") * (2 * k)).cast("double")
              / (col("sx") + col("sy")).cast("double"), 6))
            .as("margin"))
      val wbest = Window.partitionBy(col("src_id"))
        .orderBy(col("margin").desc, col("tgt_id").asc)
      margins.withColumn("rk", row_number().over(wbest))
        .filter(col("rk") === 1 && col("margin") >= 1.02)
        .select(col("src_id"), col("tgt_id"),
          round(col("ci") / 1000000.0, 6).as("cosine"), col("margin"))
    }),
    // Embedding OOD screen: per-label diagonal Mahalanobis distance
    // (per-dimension mean/variance, +1 regularizer) with a fixed 2·d
    // flag threshold — the cheap outlier gate run before training to
    // drop mis-embedded or out-of-distribution rows. Moments come
    // from EXACT integer sums of ×10⁶-quantized coordinates (one
    // label×dim-bounded agg), so mean/variance are single-operation
    // doubles both engines reproduce; the per-vector distance rounds
    // at 6 dp (q148's discipline). Shape: one explode + two keyed
    // aggs, moments broadcast back — no windows, no collect.
    "q221_ood_outliers" -> ((s, d) => {
      val dims = 16
      val flat = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          posexplode(VectorOps.toDoubleVec(col("embedding"))))
        .select(col("vec_id"), col("label"), col("pos").as("i"),
          round(col("col") * 1000000).cast("long").as("q"))
      val mom = flat.groupBy(col("label"), col("i"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("s"),
          sum(col("q") * col("q")).as("ss"))
        .select(col("label"), col("i"),
          (col("s").cast("double") / col("n")).as("mu"),
          ((col("ss").cast("double")
            - col("s").cast("double") * col("s").cast("double")
              / col("n")) / col("n")).as("v2"))
      val md = flat.join(broadcast(mom), Seq("label", "i"))
        .select(col("vec_id"), col("label"),
          ((col("q").cast("double") - col("mu"))
            * (col("q").cast("double") - col("mu"))
            / (col("v2") + 1.0)).as("t"))
        .groupBy(col("vec_id"), col("label"))
        .agg(round(sum(col("t")), 6).as("md"))
      md.groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("md") > 2.0 * dims, 1L).otherwise(0L))
            .as("n_out"),
          round(max(col("md")), 6).as("max_md"))
    }),
    // Multi-probe LSH (Lv et al.): probe the query's hyperplane
    // bucket PLUS every Hamming-1 neighbor (flip one sign bit) — the
    // published recall-vs-tables trade: one index, 1+bits probes.
    // Buckets are EXACT: md5-sign hyperplanes dotted against ×10⁶
    // integer coordinates (sign of an integer sum), so Spark and the
    // oracle agree bit-for-bit on every bucket and probe. Per query:
    // candidate counts at probe depth 0 vs 1 and whether the probed
    // best cosine equals the brute-force best — the recall evidence.
    // Scale: buckets = one explode + two keyed aggs (sign matrix is
    // a 256-row broadcast); probes explode the QUERY side only;
    // candidate join is bucket-equi, never all-pairs.
    "q225_multiprobe_lsh" -> ((s, d) => {
      val bits = 8
      val emb = Tables.embeddings(s, d)
      val flat = emb.select(col("vec_id"),
          posexplode(VectorOps.toDoubleVec(col("embedding"))))
        .select(col("vec_id"), col("pos").cast("long").as("i"),
          round(col("col") * 1000000).cast("long").as("q"))
      val signs = s.range(2).select(col("id").as("band"))
        .crossJoin(s.range(bits).select(col("id").as("j")))
        .crossJoin(s.range(16).select(col("id").as("i")))
        .select(col("band"), col("j"), col("i"),
          when(substring(md5(concat_ws("_", col("band"), col("j"),
              col("i"))), 1, 1)
            .isin("0", "1", "2", "3", "4", "5", "6", "7"), lit(1L))
            .otherwise(lit(-1L)).as("sgn"))
      val buckets = hold(flat.join(broadcast(signs), Seq("i"))
        .groupBy(col("vec_id"), col("band"), col("j"))
        .agg(sum(col("sgn") * col("q")).as("sd"))
        .groupBy(col("vec_id"), col("band"))
        .agg(sum(when(col("sd") > 0,
          expr("shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))"))
          .otherwise(0L)).as("bk")))
      val probes = buckets.filter(col("vec_id") < 8)
        .crossJoin(broadcast(s.range(bits + 1).select(col("id").as("pr"))))
        .select(col("vec_id").as("qid"), col("band"), col("pr"),
          when(col("pr") === 0, col("bk"))
            .otherwise(expr(
              "bk ^ shiftleft(CAST(1 AS BIGINT), CAST(pr - 1 AS INT))"))
            .as("bkp"))
      val cand = probes
        .join(buckets.select(col("vec_id").as("cid"), col("band"),
          col("bk").as("bkp")), Seq("band", "bkp"))
        .filter(col("cid") =!= col("qid"))
        .groupBy(col("qid"), col("cid"))
        .agg(min(col("pr")).as("minpr"))
      val v = emb.select(col("vec_id"),
        VectorOps.toDoubleVec(col("embedding")).as("v"))
      val cos = VectorOps.nativeCosine(s)
      val probeAgg = cand
        .join(v.select(col("vec_id").as("qid"), col("v").as("qv")), "qid")
        .join(v.select(col("vec_id").as("cid"), col("v").as("cv")), "cid")
        .select(col("qid"), col("minpr"),
          round(cos(col("qv"), col("cv")) * 1000000).cast("long")
            .as("ci"))
        .groupBy(col("qid"))
        .agg(sum(when(col("minpr") === 0, 1L).otherwise(0L))
          .as("n_cand0"),
          count(lit(1)).as("n_cand"), max(col("ci")).as("pci"))
      val exact = v
        .crossJoin(broadcast(v.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("v").as("qv"))))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"),
          round(cos(col("v"), col("qv")) * 1000000).cast("long")
            .as("ci"))
        .groupBy(col("qid")).agg(max(col("ci")).as("exact_best_ci"))
      exact.join(probeAgg, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_cand0"), lit(0L)).as("n_cand0"),
          coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          coalesce(col("pci"), lit(-1000001L)).as("probe_best_ci"),
          col("exact_best_ci"),
          (coalesce(col("pci"), lit(-1000001L))
            === col("exact_best_ci")).as("hit"))
    }),
    // Hubness audit (Radovanović et al.): in high dimensions a few
    // "hub" vectors appear in everyone's top-k — the pathology that
    // breaks absolute-cosine mining and motivates q217's margin.
    // Over a FIXED-SIZE hash-order sample (TakeOrdered 500 — a
    // fraction-of-corpus sample would make the all-pairs quadratic
    // in the corpus again; review finding), each vector's in-degree
    // in the sample's top-3 graph; output = the in-degree histogram —
    // a skewed tail is the hubness signature. Integer micro-cosines
    // make every rank exact; the zero-in-degree bucket is anchored
    // by a left join.
    // Quantizer-churn estimate: how many vectors change cells when
    // the seed quantizer is replaced by the Lloyd-refined one — the
    // REINDEX COST estimate a serving team reads before rolling a
    // retrained IVF index (churn ≈ fraction of the persisted layout
    // that must physically move; q258 tells you WHEN to retrain, this
    // tells you what the retrain costs). Per retained cell: stayers,
    // arrivals, departures; both assignments are one corpus×nlist
    // broadcast pass each, output nlist-bounded.
    "q262_quantizer_churn" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val seed = Similarity.centroids(emb, "vec_id", "embedding", 16)
      val a0 = Similarity.ivfAssign(emb, "vec_id", "embedding", seed)
        .select(col("vec_id"), col("centroid_id").as("c0"))
      val a1 = Similarity.ivfAssign(emb, "vec_id", "embedding",
          Similarity.kmeansRefineMicro(emb, "vec_id", "embedding",
            seed, iters = 1))
        .select(col("vec_id"), col("centroid_id").as("c1"))
      a0.join(a1, "vec_id")
        .groupBy(col("c1").as("centroid_id"))
        .agg(count(lit(1)).as("n_after"),
          sum(when(col("c0") === col("c1"), 1L).otherwise(0L))
            .as("n_stay"),
          sum(when(col("c0") =!= col("c1"), 1L).otherwise(0L))
            .as("n_arrived"))
        .select(col("centroid_id"), col("n_after"), col("n_stay"),
          col("n_arrived"),
          round(col("n_arrived").cast("double") / col("n_after"), 6)
            .as("churn_in_frac"))
    }),
    // Incremental IVF maintenance: assign an ARRIVING batch (q45's
    // mutated copies) to the EXISTING refined quantizer and compare
    // per-cell population growth and mean assigned cosine against the
    // base corpus — the staleness dashboard that decides when to
    // retrain a deployed index (a cell ballooning or its assignment
    // quality sagging = the quantizer no longer fits the data).
    // Means are exact-integer micro-cosine sums / counts; cells the
    // new batch misses report zeros, not NULLs. One assignment pass
    // per side against broadcast centroids, nlist-bounded output.
    "q258_ivf_maintenance" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = hold(refined16(s, d))
      val newBatch = emb
        .select(col("vec_id"),
          VectorOps.toDoubleVec(col("embedding")).as("embedding"))
        .filter(col("vec_id") % 2 === 0)
        .select((col("vec_id") + 10000L).as("vec_id"),
          concat(array(element_at(col("embedding"), 1) * lit(1.2)),
            slice(col("embedding"), 2, 63)).as("embedding"))
      val cos = VectorOps.nativeCosine(s)
      def quality(assigned: DataFrame) = assigned
        .join(broadcast(cents), "centroid_id")
        .select(col("centroid_id"),
          round(cos(col("v"), col("cv")) * 1e6).cast("long").as("ci"))
        .groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("n"), sum(col("ci")).as("sc"))
      val base = quality(assigned16(s, d)) // shared parquet index
        .select(col("centroid_id"), col("n").as("nb"),
          col("sc").as("scb"))
      val fresh = quality(
        Similarity.ivfAssign(newBatch, "vec_id", "embedding", cents))
        .select(col("centroid_id"), col("n").as("nn"),
          col("sc").as("scn"))
      base.join(fresh, Seq("centroid_id"), "full_outer")
        .select(col("centroid_id"),
          coalesce(col("nb"), lit(0L)).as("n_base"),
          coalesce(col("nn"), lit(0L)).as("n_new"),
          coalesce(col("scb"), lit(0L)).as("scb"),
          coalesce(col("scn"), lit(0L)).as("scn"))
        .select(col("centroid_id"), col("n_base"), col("n_new"),
          when(col("n_base") === 0, lit(0.0))
            .otherwise(round(col("n_new").cast("double")
              / col("n_base"), 6)).as("growth"),
          when(col("n_base") === 0, lit(0.0))
            .otherwise(round(col("scb").cast("double")
              / (col("n_base").cast("double") * 1e6), 6))
            .as("mean_cos_base"),
          when(col("n_new") === 0, lit(0.0))
            .otherwise(round(col("scn").cast("double")
              / (col("n_new").cast("double") * 1e6), 6))
            .as("mean_cos_new"))
    }),
    // Matryoshka truncation audit (Kusupati et al.: MRL embeddings
    // are served at truncated dimensionality to cut index cost —
    // before shipping a truncated index, measure how much retrieval
    // survives the cut): top-1 neighbor per query at full dim (16)
    // and truncated prefixes (8, 4), with a match-vs-full flag and
    // the achieved cosine. EVERYTHING rides exact integers: ×10⁶
    // coordinates, long dots and norms-squared per (dims, vec), and
    // the ranking key is the ×10⁶-rounded cosine — engine-exact ranks
    // (q217's discipline). Shape: one flat pass reused across the
    // 3-row dims grid; candidate work = query-batch × corpus keyed
    // aggs (q48's contract), never corpus × corpus; the (dims, query)
    // windows are 15 bounded groups.
    "q244_matryoshka" -> ((s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val flat = emb.select(col("vec_id"),
          posexplode(VectorOps.toDoubleVec(col("embedding"))))
        .select(col("vec_id"), col("pos").cast("long").as("i"),
          round(col("col") * 1000000).cast("long").as("q"))
      val dimsDf = Seq(16L, 8L, 4L).toDF("dims")
      val fd = hold(flat.crossJoin(broadcast(dimsDf))
        .filter(col("i") < col("dims")))
      val ss = fd.groupBy(col("dims"), col("vec_id"))
        .agg(sum(col("q") * col("q")).as("ss"))
      val qflat = fd.filter(col("vec_id") < 5)
        .select(col("dims"), col("vec_id").as("qid"), col("i"),
          col("q").as("qq"))
      val dots = fd.join(broadcast(qflat), Seq("dims", "i"))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy(col("dims"), col("qid"), col("vec_id"))
        .agg(sum(col("q") * col("qq")).as("dot"))
      val sc = dots
        .join(ss.select(col("dims"), col("vec_id"),
          col("ss").as("ssv")), Seq("dims", "vec_id"))
        .join(broadcast(ss.filter(col("vec_id") < 5)
          .select(col("dims"), col("vec_id").as("qid"),
            col("ss").as("ssq"))), Seq("dims", "qid"))
        .select(col("dims"), col("qid"), col("vec_id"),
          // all-zero truncated prefixes make a 0 norm: pin the
          // cosine to 0 instead of Spark-NULL/DuckDB-nan
          when(col("ssv") === 0 || col("ssq") === 0, lit(0L))
            .otherwise(round(col("dot").cast("double")
              / (sqrt(col("ssv").cast("double"))
                * sqrt(col("ssq").cast("double"))) * 1e6)
              .cast("long")).as("ci"))
      val w = Window.partitionBy(col("dims"), col("qid"))
        .orderBy(col("ci").desc, col("vec_id").asc)
      val top1 = sc.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("dims"), col("qid").as("query_id"),
          col("vec_id").as("top1_id"),
          round(col("ci") / 1000000.0, 6).as("cosine"))
      val full = top1.filter(col("dims") === 16)
        .select(col("query_id"), col("top1_id").as("full_id"))
      top1.join(broadcast(full), Seq("query_id"))
        .select(col("dims"), col("query_id"), col("top1_id"),
          col("cosine"),
          (col("top1_id") === col("full_id")).as("match_full"))
    }),
    "q243_hubness_audit" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val samp = hold(emb
        .select(col("vec_id"), VectorOps.toDoubleVec(col("embedding"))
          .as("v"),
          ((col("vec_id") * lit(2654435761L)) % lit(1000000007L))
            .as("h"))
        .orderBy(col("h").asc, col("vec_id").asc).limit(500)
        .select(col("vec_id"), col("v")))
      val cos = VectorOps.nativeCosine(s)
      val pairs = samp.select(col("vec_id").as("qid"), col("v").as("qv"))
        .crossJoin(broadcast(samp.select(col("vec_id").as("cid"),
          col("v").as("cv"))))
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          round(cos(col("qv"), col("cv")) * 1000000).cast("long")
            .as("ci"))
      val wq = Window.partitionBy(col("qid"))
        .orderBy(col("ci").desc, col("cid").asc)
      val indeg = pairs.withColumn("rk", row_number().over(wq))
        .filter(col("rk") <= 3)
        .groupBy(col("cid")).agg(count(lit(1)).as("indeg"))
      samp.select(col("vec_id").as("cid"))
        .join(indeg, Seq("cid"), "left")
        .select(coalesce(col("indeg"), lit(0L)).as("indeg"))
        .groupBy(col("indeg"))
        .agg(count(lit(1)).as("n_vecs"))
    }),
    // IVF nprobe tuning curve: recall@10 vs brute force at probe
    // depths 1/2/4/8 — the recall-vs-work frontier an ANN deployment
    // tunes against (probing d of 16 cells scans ≈ d/16 of the
    // corpus). One assignment pass and one brute-force baseline are
    // SHARED across the four probe depths (persisted); each depth
    // adds only its probe-cell filter + rank. The 4-row output is
    // anchored on a broadcast grid so a zero-recall depth still
    // reports.
    "q236_nprobe_sweep" -> ((s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5L)
      val brute = hold(Similarity.bruteForceTopKJoin(emb, queries,
          "vec_id", "embedding", "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("vec_id")))
      val cents = refined16(s, d)
      val assigned = assigned16(s, d) // parquet-backed shared index
      val runs = Seq(1, 2, 4, 8).map { np =>
        Similarity.ivfSearchBatch(assigned, cents, queries,
            "vec_id", "embedding", nprobe = np, k = 10)
          .select(lit(np.toLong).as("nprobe"), col("query_id"),
            col("vec_id"))
      }.reduce(_ unionAll _)
      val hits = runs
        .join(brute, Seq("query_id", "vec_id"), "left_semi")
        .groupBy(col("nprobe")).agg(count(lit(1)).as("h"))
      Seq(1L, 2L, 4L, 8L).toDF("nprobe")
        .join(hits, Seq("nprobe"), "left")
        .select(col("nprobe"),
          coalesce(col("h"), lit(0L)).as("n_hits"),
          round(coalesce(col("h"), lit(0L)) / 50.0, 6)
            .as("recall_at_10"))
    }),
    // Cluster-purity audit: label distribution inside each IVF
    // cluster — majority fraction + entropy, the standard clustering-
    // quality scan run before trusting cluster-balanced sampling
    // (q211) or SemDeDup (q210) with curation decisions. One
    // assignment pass + two keyed aggs; entropy from integer counts,
    // one log per (cluster, label) — engine-stable at 6 dp.
    "q234_cluster_purity" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = refined16(s, d)
      val assigned = assigned16(s, d)
        .join(emb.select(col("vec_id"), col("label")), "vec_id")
      val cl = assigned.groupBy(col("centroid_id"), col("label"))
        .agg(count(lit(1)).as("nl"))
      val tot = cl.groupBy(col("centroid_id"))
        .agg(sum(col("nl")).cast("long").as("n"))
      cl.join(broadcast(tot), "centroid_id")
        .groupBy(col("centroid_id"), col("n"))
        .agg(max(col("nl")).cast("long").as("n_majority"),
          round(-sum((col("nl").cast("double") / col("n"))
            * log(col("nl").cast("double") / col("n"))), 6)
            .as("entropy"))
        .select(col("centroid_id"), col("n"), col("n_majority"),
          round(col("n_majority").cast("double") / col("n"), 6)
            .as("purity"),
          col("entropy"))
    }),
    // Product quantization with asymmetric-distance scoring (Jégou
    // et al.): 4 subspaces × first-16-by-id codebooks, nearest-
    // codeword codes, per-query distance tables, ADC top-10 vs the
    // exact integer-L2² top-10 → recall@10 per query. EVERYTHING is
    // exact 64-bit integer arithmetic on ×10⁶ coordinates — codes,
    // tables, ranks, and the oracle agree bit-for-bit. The 100 TB
    // point is memory traffic: 4 bytes of code per vector instead of
    // 64 of floats, queries ride a 384-row broadcast table; the scan
    // is one equi-join + keyed agg, no all-pairs beyond the bounded
    // query batch. Sub-distances are IN-ROW integer algebra —
    // d² = ‖a‖² + ‖b‖² − 2a·b with the codegen'd DotLong over sliced
    // micro vectors (exactly the per-(sub,pos) squared-diff sum the
    // exploded form aggregated, by expansion) — so the former
    // 2M-row hash aggregate disappears entirely.
    "q226_pq_adc" -> ((s, d) => {
      import graft.functions.VectorOps.{microVec, nativeDotLong}
      val dot = nativeDotLong(s)
      val emb = Tables.embeddings(s, d)
      val mv = emb.select(col("vec_id"), microVec(col("embedding")).as("xm"))
      // 16 contiguous 4-dim subspaces (sub = i DIV 4 of the exploded
      // form); one row per (vector, subspace) with the sub-vector and
      // its squared norm precomputed
      val subs = hold(mv.select(col("vec_id"), posexplode(
          array((0 until 16).map(k => slice(col("xm"), k * 4 + 1, 4)): _*)))
        .select(col("vec_id"), col("pos").cast("long").as("sub"),
          col("col").as("v"))
        .withColumn("nv", dot(col("v"), col("v"))))
      val cb = subs.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cw"), col("sub"), col("v").as("cv"),
          col("nv").as("ncv"))
      val subDist = hold(subs.join(broadcast(cb), Seq("sub"))
        .select(col("vec_id"), col("sub"), col("cw"),
          (col("nv") + col("ncv") - lit(2L) * dot(col("v"), col("cv")))
            .as("d2")))
      val codes = subDist
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("d2"), col("cw"))).as("m"))
        .select(col("vec_id"), col("sub"), col("m.cw").as("cw"))
      val dtab = subDist.filter(col("vec_id") < 6)
        .select(col("vec_id").as("qid"), col("sub"), col("cw"),
          col("d2").as("qd2"))
      val approx = codes.join(broadcast(dtab), Seq("sub", "cw"))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy(col("qid"), col("vec_id"))
        .agg(sum(col("qd2")).as("ad"))
      val wa = Window.partitionBy(col("qid"))
        .orderBy(col("ad").asc, col("vec_id").asc)
      val atop = hold(approx.withColumn("rk", row_number().over(wa))
        .filter(col("rk") <= 10))
      // exact leg: full-width integer L2² per (query, vector) pair,
      // again via the norm/dot expansion — 6·n rows, zero aggregation
      val mvn = mv.withColumn("nx", dot(col("xm"), col("xm")))
      val ex = mvn.crossJoin(broadcast(mvn.filter(col("vec_id") < 6)
          .select(col("vec_id").as("qid"), col("xm").as("qm"),
            col("nx").as("nq"))))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          (col("nx") + col("nq") - lit(2L) * dot(col("xm"), col("qm")))
            .as("ed"))
      val we = Window.partitionBy(col("qid"))
        .orderBy(col("ed").asc, col("vec_id").asc)
      val etop = hold(ex.withColumn("rk", row_number().over(we))
        .filter(col("rk") <= 10))
      etop.groupBy(col("qid"))
        .agg(min(col("ed")).as("exact_best"))
        .join(atop.groupBy(col("qid")).agg(min(col("ad")).as("adc_best")),
          "qid")
        .join(etop.select(col("qid"), col("vec_id"))
          .join(atop.select(col("qid"), col("vec_id")),
            Seq("qid", "vec_id"))
          .groupBy(col("qid")).agg(count(lit(1)).as("r10")),
          Seq("qid"), "left")
        .select(col("qid"), coalesce(col("r10"), lit(0L)).as("recall10"),
          col("adc_best"), col("exact_best"))
    }),
    // Two-stage retrieve-then-rerank recall audit — the production
    // serving architecture q244's truncation ladder motivates: stage
    // 1 retrieves top-50 candidates by the CHEAP first-16-dims
    // cosine, stage 2 re-ranks only those 50 by the full-64-dim
    // cosine; recall@10 against the exact full-corpus top-10 says
    // whether the two-stage path is lossless (q244 asks "how good is
    // the prefix alone" — this asks "does a 50-candidate prefix
    // funnel lose anything AFTER the exact re-rank", the number that
    // actually sizes the candidate budget). Components quantized to
    // integer micro-units so dots and norms are exact longs; the only
    // doubles are √·√ and one division, identical IEEE ops in both
    // engines, so the rank windows (query-partitioned) agree exactly.
    // Dots stay IN-ROW (VectorOps.microVec/dotLong folds over the
    // array) instead of posexplode + join-on-dimension: the corpus ×
    // query pairing is one broadcast nested loop producing n·n/25
    // rows, not the n·n/25·64-row hash aggregate the exploded form
    // shuffled (5.4 s → sub-second at sf0.1; identical longs either
    // way since integer addition is order-free).
    "q290_two_stage_recall" -> ((s, d) => {
      import graft.functions.VectorOps._
      val dot = nativeDotLong(s) // codegen'd fused loop, zero alloc
      val mv = Tables.embeddings(s, d)
        .select(col("vec_id"), microVec(col("embedding")).as("xm"))
        .withColumn("xm16", slice(col("xm"), 1, 16)) // sliced ONCE
        .withColumn("nf", dot(col("xm"), col("xm")))
        .withColumn("n16", dot(col("xm16"), col("xm16")))
      val qs = mv.select(col("vec_id").as("qid"), col("xm").as("ym"),
          col("xm16").as("ym16"), col("nf").as("qnf"),
          col("n16").as("qn16"))
        .filter(col("qid") % 25L === 0L)
      // persisted: both top-k lineages (exact + two-stage) read it, and
      // the HOF dot folds are the query's dominant per-row cost —
      // computing them once instead of twice is a straight 2× on the
      // scan leg (160k pairs at sf0.1; n²/25 rows generally, the same
      // budget the brute-force family already carries)
      val scored = hold(mv.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          dot(col("xm"), col("ym")).as("df"),
          dot(col("xm16"), col("ym16")).as("d16"),
          col("nf"), col("n16"), col("qnf"), col("qn16"))
        .select(col("qid"), col("vec_id"),
          (col("df").cast("double")
            / (sqrt(col("nf").cast("double"))
              * sqrt(col("qnf").cast("double")))).as("cf"),
          (col("d16").cast("double")
            / (sqrt(col("n16").cast("double"))
              * sqrt(col("qn16").cast("double")))).as("c16")))
      def topBy(df: DataFrame, c: String, k: Int): DataFrame = df
        .withColumn("rk", row_number().over(Window
          .partitionBy(col("qid"))
          .orderBy(col(c).desc, col("vec_id").asc)))
        .filter(col("rk") <= k).drop("rk")
      val exact10 = topBy(scored, "cf", 10)
        .select(col("qid"), col("vec_id"))
      val twoStage10 = topBy(topBy(scored, "c16", 50), "cf", 10)
        .select(col("qid"), col("vec_id"))
      exact10
        .join(twoStage10.withColumn("hit", lit(1L)),
          Seq("qid", "vec_id"), "left")
        .groupBy(col("qid"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_common"))
        .select(col("qid"), col("n_common"),
          round(col("n_common").cast("double") / 10.0, 2)
            .as("recall_at_10"))
    }),
    // MMR diversified re-ranking (Carbonell & Goldstein 1998,
    // λ=0.7): greedily pick 5 of the query's top-20 cosine
    // candidates maximizing λ·rel − (1−λ)·max-sim-to-selected — the
    // result-diversification step between retrieval (q46/q290) and
    // presentation, and the per-query cousin of q216's corpus-level
    // k-center. Relevances and candidate-pair sims are micro-integer
    // cosines computed DISTRIBUTED (one broadcast-candidate join,
    // never corpus²); only the budget-bounded 20-row/380-pair
    // integer tables reach the driver, where the greedy runs in pure
    // long arithmetic (scores kept ×10 so λ needs no division) — the
    // argmax is integer-exact, ties break on vec_id, and the oracle
    // replays the identical five steps.
    "q300_mmr_rerank" -> ((s, d) => {
      import s.implicits._
      val flat = hold(Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), (col("pos") + 1).as("i"),
          round(col("col").cast("double") * 1e6).cast("long").as("xm")))
      val norms = flat.groupBy(col("vec_id"))
        .agg(sum(col("xm") * col("xm")).as("nrm"))
      val qv = flat.filter(col("vec_id") === 0L)
        .select(col("i"), col("xm").as("qm"))
      val qn = norms.filter(col("vec_id") === 0L)
        .select(col("nrm").as("qn"))
      val cand = flat.filter(col("vec_id") =!= 0L)
        .join(broadcast(qv), Seq("i"))
        .groupBy(col("vec_id")).agg(sum(col("xm") * col("qm"))
          .as("dot"))
        .join(norms, Seq("vec_id")).crossJoin(broadcast(qn))
        .select(col("vec_id"),
          round(col("dot").cast("double")
            / (sqrt(col("nrm").cast("double"))
              * sqrt(col("qn").cast("double"))) * 1e6).cast("long")
            .as("cq"))
        .orderBy(col("cq").desc, col("vec_id").asc).limit(20)
      val cf = flat.join(broadcast(cand.select(col("vec_id"))),
        Seq("vec_id"))
      val sims = cf.select(col("vec_id").as("iv"), col("i"),
          col("xm").as("xa"))
        .join(cf.select(col("vec_id").as("jv"), col("i"),
          col("xm").as("xb")), Seq("i"))
        .filter(col("iv") =!= col("jv"))
        .groupBy(col("iv"), col("jv"))
        .agg(sum(col("xa") * col("xb")).as("dot"))
        .join(broadcast(norms.select(col("vec_id").as("iv"),
          col("nrm").as("na"))), Seq("iv"))
        .join(broadcast(norms.select(col("vec_id").as("jv"),
          col("nrm").as("nb"))), Seq("jv"))
        .select(col("iv"), col("jv"),
          round(col("dot").cast("double")
            / (sqrt(col("na").cast("double"))
              * sqrt(col("nb").cast("double"))) * 1e6).cast("long")
            .as("sim"))
      val candArr = cand.collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val simMap = sims.collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      var remaining = candArr.toVector
      var selected = Vector.empty[(Long, Long, Long, Long)]
      for (step <- 1 to 5) {
        val best = remaining.map { case (v, cqv) =>
          val ms = if (selected.isEmpty) 0L
            else selected.map(sl => simMap.getOrElse((v, sl._2), 0L)).max
          (v, cqv, 7L * cqv - 3L * ms)
        }.minBy { case (v, _, sc) => (-sc, v) }
        selected :+= ((step.toLong, best._1, best._2, best._3))
        remaining = remaining.filterNot(_._1 == best._1)
      }
      selected.toDF("step", "vec_id", "cq", "sc")
        .select(col("step"), col("vec_id"),
          round(col("cq").cast("double") / 1e6, 6).as("relevance"),
          round(col("sc").cast("double") / 1e7, 6).as("mmr_score"))
    }),
    // Top principal direction of the embedding cloud by two exact
    // integer power iterations (matrix-free: v ← Xᵀ(Xv), rescaled to
    // ±1e6 by nonnegative integer division each round) — the
    // spectral audit behind "is this embedding space collapsing onto
    // one axis" (a dominant component with most of the mass is the
    // classic anisotropy / rogue-dimension symptom;
    // cf. Mu & Viswanath 2018 all-but-the-top). Components quantize
    // to milli-units first, so every dot product and accumulation is
    // a long and the loadings are bit-identical across engines — no
    // eigensolver library, just two keyed agg rounds over the
    // (n·dim)-row flat frame. Long bounds: |dot| ≤ dim·1e3·1e6,
    // |w| ≤ n·1e3·|dot| — holds through ~1e5 vectors; past that lift
    // the w accumulator to DECIMAL(38,0), same formula. Sign is
    // pinned by the all-positive start vector.
    "q321_spectral_audit" -> ((s, d) => {
      val flat = hold(Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").cast("long").as("i"),
          round(col("col").cast("double") * 1000).cast("long")
            .as("xq")))
      def step(v: DataFrame): DataFrame = {
        val dot = flat.join(broadcast(v), Seq("i"))
          .groupBy(col("vec_id"))
          .agg(sum(col("xq") * col("vv")).as("dt"))
        val w = flat.join(dot, Seq("vec_id"))
          .groupBy(col("i")).agg(sum(col("xq") * col("dt")).as("wi"))
        val m = w.agg(max(abs(col("wi"))).as("mx"))
        w.crossJoin(broadcast(m))
          .select(col("i"),
            when(col("wi") < 0,
              -expr("abs(wi) DIV ((mx DIV 1000000) + 1)"))
            .otherwise(expr("wi DIV ((mx DIV 1000000) + 1)"))
            .as("vv"))
      }
      val v0 = flat.select(col("i")).distinct()
        .withColumn("vv", lit(1000000L))
      val v2 = step(step(v0))
      v2.orderBy(abs(col("vv")).desc, col("i").asc).limit(8)
        .select(col("i").as("dim"), col("vv").as("loading"))
    }),
    // Contrastive hard-negative mining: for each query vector, the
    // top-3 highest-cosine vectors with a DIFFERENT label — the
    // standard batch-construction step for contrastive/embedding
    // training (the highest-similarity wrong-label examples are the
    // gradients that matter). One corpus pass against the broadcast
    // 5-query set, label filter row-local, rank per query. Cosines
    // are exact across engines with no quantization: float×float
    // products are exact in double and 64 such terms sum exactly
    // (≤2⁵³), so Σxy, the norms, and the division reproduce
    // bit-for-bit — the same determinism argument as q46/q48.
    "q326_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cos = VectorOps.nativeCosine(s)
      val qs = emb.filter(col("vec_id") < 5L)
        .select(col("vec_id").as("query_id"),
          col("label").as("qlabel"),
          VectorOps.toDoubleVec(col("embedding")).as("qv"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("c").desc, col("vec_id").asc)
      emb.select(col("vec_id"), col("label"),
          VectorOps.toDoubleVec(col("embedding")).as("v"))
        .crossJoin(broadcast(qs))
        .filter(col("label") =!= col("qlabel"))
        .select(col("query_id"), col("vec_id"),
          col("label").cast("long").as("neg_label"),
          cos(col("v"), col("qv")).as("c"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("vec_id"), col("neg_label"),
          round(col("c"), 6).as("cosine"),
          col("rank").cast("long").as("rank"))
    }),
    // Entropic optimal transport (Sinkhorn 1967 / Cuturi 2013)
    // between the label-0 and label-1 embedding clouds — the
    // distributional distance that respects GEOMETRY: q323's W₁
    // compares scalar histograms and q210's SemDeDup asks "are these
    // two points twins"; OT asks "how much work moves THIS corpus
    // slice onto THAT one", the number behind domain-shift budgeting
    // and mixture rebalancing in embedding space. Physical shape for
    // 100 TB: OT never runs on raw corpora — each side is a BOUNDED
    // representative set (here: 30 lowest-id vectors per label; in
    // production, IVF centroids or a stratified coreset, q216/q211),
    // so the kernel matrix is a ≤900-cell broadcast frame and every
    // Sinkhorn round is a keyed agg over it. Determinism: costs are
    // exact integer micro²-L2 (norm/dot expansion, DotLong); the one
    // transcendental — exp(−c·mn/Σc) — is quantized to a ×1e9 long
    // ONCE per cell; scaling vectors u, v are requantized to ×1e9
    // longs after every update (products stay < 2⁶³, cross-cell sums
    // ride DECIMAL(38,0) so they're order-free), and the unrolled
    // 3-round oracle replays the identical arithmetic. Outputs are
    // magnitude-rounded only (COVERAGE.md safe shape).
    "q365_sinkhorn_ot" -> ((s, d) => {
      import graft.functions.VectorOps.{microVec, nativeDotLong}
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val dot = nativeDotLong(s)
      val mv = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          microVec(col("embedding")).as("xm"))
        .withColumn("nx", dot(col("xm"), col("xm")))
      def side(lbl: Int, id: String) = mv.filter(col("label") === lbl)
        .orderBy(col("vec_id").asc).limit(30)
        .select(col("vec_id").as(id), col("xm").as(s"x$id"),
          col("nx").as(s"n$id"))
      val a = side(0, "i")
      val b = side(1, "j")
      val cost = hold(a.crossJoin(broadcast(b))
        .select(col("i"), col("j"),
          (col("ni") + col("nj") - lit(2L) * dot(col("xi"), col("xj")))
            .as("c")))
      val tot = cost.agg(count(lit(1)).as("mn"),
        sum(col("c").cast(dec)).as("cs"),
        countDistinct(col("i")).as("m"),
        countDistinct(col("j")).as("n"))
      val kern = hold(cost.crossJoin(broadcast(tot))
        .select(col("i"), col("j"), col("c"), col("m"), col("n"),
          round(exp(lit(-1.0) * col("c").cast("double")
              * col("mn").cast("double") / col("cs").cast("double"))
            * 1e9).cast("long").as("k")))
      var v = b.select(col("j")).withColumn("vs", lit(1000000000L))
      var u = a.select(col("i")).withColumn("us", lit(1000000000L))
      for (_ <- 1 to 3) {
        // cast to DECIMAL(38,0) BEFORE the multiply: the requantized
        // u/v scalings round(1e27/(m·S)) are unbounded when a kernel
        // row-sum S is small, so a long×long product could silently
        // wrap in non-ANSI Spark while DuckDB's BIGINT multiply
        // errors — the decimal product is exact in both engines
        // (DuckDB side rides HUGEINT)
        u = kern.join(broadcast(v), Seq("j"))
          .groupBy(col("i"), col("m"))
          .agg(sum(col("k").cast(dec) * col("vs").cast(dec)).as("si"))
          .select(col("i"), round(lit(1e27)
            / (col("m").cast("double") * col("si").cast("double")))
            .cast("long").as("us"))
        v = kern.join(broadcast(u), Seq("i"))
          .groupBy(col("j"), col("n"))
          .agg(sum(col("k").cast(dec) * col("us").cast(dec)).as("tj"))
          .select(col("j"), round(lit(1e27)
            / (col("n").cast("double") * col("tj").cast("double")))
            .cast("long").as("vs"))
      }
      kern.join(broadcast(u), Seq("i")).join(broadcast(v), Seq("j"))
        .select(col("m"), col("n"),
          round(col("us").cast("double") * col("k").cast("double")
            * col("vs").cast("double") * col("c").cast("double")
            / 1e27).cast("long").as("tq"),
          round(col("us").cast("double") * col("k").cast("double")
            * col("vs").cast("double") / 1e18).cast("long").as("mq"))
        .groupBy(col("m"), col("n"))
        .agg(sum(col("tq")).as("tsum"), sum(col("mq")).as("msum"))
        .select(col("m"), col("n"),
          round(col("tsum").cast("double") / 1e12, 6).as("ot_cost"),
          round(col("msum").cast("double") / 1e9, 6).as("mass"))
    }),
    // Simplified silhouette per IVF cell (Kaufman–Rousseeuw's s(i)
    // with centroid distances standing in for mean pairwise — the
    // O(n·k) form that's the only silhouette computable at corpus
    // scale): a = dist to own centroid, b = nearest OTHER centroid,
    // s = (b−a)/max(a,b). THE quantizer-quality gate for the shared
    // IVF index (q157 asks "are cells balanced", q234 "are cells
    // label-pure" — this asks "are cells GEOMETRICALLY tight", the
    // axis that predicts nprobe recall). Reuses the memoized
    // centroids + assignment (zero extra builds); distances are exact
    // integer micro²-L2 on ×1e6-quantized centroid coordinates, the
    // sqrt/div chain is correctly-rounded IEEE (identical in DuckDB),
    // and per-point s is micro-quantized before the per-cell mean so
    // the aggregate is order-free.
    "q366_silhouette" -> ((s, d) => {
      import graft.functions.VectorOps.{microVec, nativeDotLong}
      val dot = nativeDotLong(s)
      val mq = Tables.embeddings(s, d)
        .select(col("vec_id"), microVec(col("embedding")).as("xq"))
        .withColumn("nq", dot(col("xq"), col("xq")))
      val cents = refined16(s, d).select(col("centroid_id"),
          transform(col("cv"),
            x => round(x * 1e6).cast("long")).as("cq"))
        .withColumn("nc", dot(col("cq"), col("cq")))
      val own = assigned16(s, d)
        .select(col("vec_id"), col("centroid_id").as("own"))
      val ab = mq.join(own, Seq("vec_id"))
        .crossJoin(broadcast(cents))
        .select(col("vec_id"), col("own"), col("centroid_id"),
          (col("nq") + col("nc") - lit(2L) * dot(col("xq"), col("cq")))
            .as("dsq"))
        .groupBy(col("vec_id"), col("own"))
        .agg(min(when(col("centroid_id") === col("own"), col("dsq")))
          .as("a2"),
          min(when(col("centroid_id") =!= col("own"), col("dsq")))
            .as("b2"))
      ab.select(col("own"),
          when(greatest(col("a2"), col("b2")) <= 0L, lit(0L))
            .otherwise(round((sqrt(col("b2").cast("double"))
              - sqrt(col("a2").cast("double")))
              / greatest(sqrt(col("a2").cast("double")),
                sqrt(col("b2").cast("double"))) * 1e6).cast("long"))
            .as("sq"))
        .groupBy(col("own"))
        .agg(count(lit(1)).as("n_points"), sum(col("sq")).as("ssum"))
        .select(col("own").as("centroid_id"), col("n_points"),
          round(col("ssum").cast("double") / 1e6
            / col("n_points").cast("double"), 6).as("silhouette"))
    })
  )

  private val flatCte =
    """base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |   FROM embeddings),
      | flat AS (SELECT vec_id, i, v[i] AS x
      |   FROM base, UNNEST(generate_series(1, len(v))) AS t(i)),
      | norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm
      |   FROM flat GROUP BY vec_id)""".stripMargin

  /** IVF(nlist=16) coarse assignment recomputed from first principles
    * (centroids = first 16 vectors by id, max-cosine assignment,
    * centroid_id tie-break) — the shared oracle leg for the SemDeDup
    * and cluster-sampling queries; mirrors q47's structure. Requires
    * [[flatCte]] in the same WITH. */
  /** IVF(nlist=16) assignment recomputed from first principles with
    * the SAME one-round integer-micro-unit Lloyd refinement as
    * [[refined16]]: seed = first 16 vectors by id, assign to max-
    * cosine seed, per-dimension mean = sum(round(x*1e6) longs) /
    * (n*1e6) (order-free, engine-exact), empty cells keep their seed,
    * then the final assignment against the refined centroids.
    * Provides `asims` (every vector x refined centroid cosine) and
    * `assigned`. Requires [[flatCte]] in the same WITH. */
  private val assignCte =
    """seedc AS (SELECT vec_id AS centroid_id, i, x
      |   FROM flat WHERE vec_id < 16),
      | s0sims AS (SELECT f.vec_id, c.centroid_id,
      |    sum(f.x * c.x) / (max(nf.nrm) * max(nc.nrm)) AS sim
      |   FROM flat f
      |   JOIN seedc c ON f.i = c.i
      |   JOIN norms nf ON f.vec_id = nf.vec_id
      |   JOIN norms nc ON c.centroid_id = nc.vec_id
      |   GROUP BY f.vec_id, c.centroid_id),
      | assigned0 AS (SELECT vec_id, centroid_id FROM (
      |   SELECT vec_id, centroid_id,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY sim DESC, centroid_id) AS rk
      |   FROM s0sims) WHERE rk = 1),
      | cmeans AS (SELECT a.centroid_id, f.i,
      |    CAST(sum(CAST(round(f.x * 1e6) AS BIGINT)) AS DOUBLE)
      |      / (count(*) * 1e6) AS x
      |   FROM assigned0 a JOIN flat f ON a.vec_id = f.vec_id
      |   GROUP BY 1, 2),
      | cents1 AS (SELECT sc.centroid_id, sc.i,
      |    coalesce(m.x, sc.x) AS x
      |   FROM seedc sc LEFT JOIN cmeans m
      |    ON sc.centroid_id = m.centroid_id AND sc.i = m.i),
      | cnorms AS (SELECT centroid_id, sqrt(sum(x * x)) AS nrm
      |   FROM cents1 GROUP BY 1),
      | asims AS (SELECT f.vec_id, c.centroid_id,
      |    sum(f.x * c.x) / (max(nf.nrm) * max(cn.nrm)) AS sim
      |   FROM flat f
      |   JOIN cents1 c ON f.i = c.i
      |   JOIN norms nf ON f.vec_id = nf.vec_id
      |   JOIN cnorms cn ON c.centroid_id = cn.centroid_id
      |   GROUP BY f.vec_id, c.centroid_id),
      | assigned AS (SELECT vec_id, centroid_id FROM (
      |   SELECT vec_id, centroid_id,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY sim DESC, centroid_id) AS rk
      |   FROM asims) WHERE rk = 1)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q366_silhouette" ->
      s"""WITH $flatCte,
        | $assignCte,
        | fq AS (SELECT vec_id, i,
        |   CAST(round(x * 1e6) AS BIGINT) AS q FROM flat),
        | cq AS (SELECT centroid_id, i,
        |   CAST(round(x * 1e6) AS BIGINT) AS q FROM cents1),
        | d2 AS (SELECT fq.vec_id, cq.centroid_id,
        |   CAST(sum((fq.q - cq.q) * (fq.q - cq.q)) AS BIGINT) AS dsq
        |  FROM fq JOIN cq ON fq.i = cq.i GROUP BY 1, 2),
        | ab AS (SELECT d2.vec_id, a.centroid_id AS own,
        |   CAST(min(CASE WHEN d2.centroid_id = a.centroid_id
        |     THEN dsq END) AS BIGINT) AS a2,
        |   CAST(min(CASE WHEN d2.centroid_id <> a.centroid_id
        |     THEN dsq END) AS BIGINT) AS b2
        |  FROM d2 JOIN assigned a ON a.vec_id = d2.vec_id
        |  GROUP BY 1, 2),
        | sq AS (SELECT own,
        |   CASE WHEN greatest(a2, b2) <= 0 THEN CAST(0 AS BIGINT)
        |   ELSE CAST(round((sqrt(CAST(b2 AS DOUBLE))
        |     - sqrt(CAST(a2 AS DOUBLE)))
        |     / greatest(sqrt(CAST(a2 AS DOUBLE)),
        |       sqrt(CAST(b2 AS DOUBLE))) * 1e6) AS BIGINT)
        |   END AS sq FROM ab)
        | SELECT own AS centroid_id,
        |  CAST(count(*) AS BIGINT) AS n_points,
        |  round(CAST(sum(sq) AS DOUBLE) / 1e6
        |   / CAST(count(*) AS DOUBLE), 6) AS silhouette
        | FROM sq GROUP BY 1""".stripMargin,
    "q365_sinkhorn_ot" ->
      // unrolled 3-round Sinkhorn over the same ×1e9-quantized kernel;
      // every cross-cell sum rides HUGEINT (exact, order-free), every
      // u/v requantization is the identical round(1e27/(m·S)) op
      """WITH mb AS (SELECT vec_id, label,
        |   CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | mf AS (SELECT vec_id, label, i,
        |   CAST(round(v[i] * 1e6) AS BIGINT) AS q
        |  FROM mb, UNNEST(generate_series(1, len(v))) AS t(i)),
        | nrm AS (SELECT vec_id, label,
        |   CAST(sum(q * q) AS BIGINT) AS nx
        |  FROM mf GROUP BY 1, 2),
        | sa AS (SELECT vec_id AS i FROM nrm WHERE label = 0
        |  ORDER BY vec_id LIMIT 30),
        | sb AS (SELECT vec_id AS j FROM nrm WHERE label = 1
        |  ORDER BY vec_id LIMIT 30),
        | dots AS (SELECT fa.vec_id AS i, fb.vec_id AS j,
        |   CAST(sum(fa.q * fb.q) AS BIGINT) AS d
        |  FROM mf fa JOIN sa ON fa.vec_id = sa.i
        |  JOIN mf fb ON fb.i = fa.i
        |  JOIN sb ON fb.vec_id = sb.j
        |  GROUP BY 1, 2),
        | cost AS (SELECT dots.i, dots.j,
        |   na.nx + nb.nx - 2 * dots.d AS c
        |  FROM dots JOIN nrm na ON na.vec_id = dots.i
        |  JOIN nrm nb ON nb.vec_id = dots.j),
        | tot AS (SELECT CAST(count(*) AS BIGINT) AS mn,
        |   sum(c) AS cs,
        |   CAST(count(DISTINCT i) AS BIGINT) AS m,
        |   CAST(count(DISTINCT j) AS BIGINT) AS n FROM cost),
        | kern AS (SELECT i, j, c, m, n,
        |   CAST(round(exp(-1.0 * CAST(c AS DOUBLE)
        |     * CAST(mn AS DOUBLE) / CAST(cs AS DOUBLE)) * 1e9)
        |    AS BIGINT) AS k
        |  FROM cost CROSS JOIN tot),
        | u1 AS (SELECT i, CAST(round(1e27 / (CAST(m AS DOUBLE)
        |    * CAST(sum(CAST(k AS HUGEINT) * 1000000000) AS DOUBLE))) AS BIGINT) AS us
        |  FROM kern GROUP BY i, m),
        | v1 AS (SELECT j, CAST(round(1e27 / (CAST(n AS DOUBLE)
        |    * CAST(sum(CAST(k AS HUGEINT) * u1.us) AS DOUBLE))) AS BIGINT) AS vs
        |  FROM kern JOIN u1 ON u1.i = kern.i GROUP BY j, n),
        | u2 AS (SELECT kern.i, CAST(round(1e27 / (CAST(m AS DOUBLE)
        |    * CAST(sum(CAST(k AS HUGEINT) * v1.vs) AS DOUBLE))) AS BIGINT) AS us
        |  FROM kern JOIN v1 ON v1.j = kern.j GROUP BY kern.i, m),
        | v2 AS (SELECT kern.j, CAST(round(1e27 / (CAST(n AS DOUBLE)
        |    * CAST(sum(CAST(k AS HUGEINT) * u2.us) AS DOUBLE))) AS BIGINT) AS vs
        |  FROM kern JOIN u2 ON u2.i = kern.i GROUP BY kern.j, n),
        | u3 AS (SELECT kern.i, CAST(round(1e27 / (CAST(m AS DOUBLE)
        |    * CAST(sum(CAST(k AS HUGEINT) * v2.vs) AS DOUBLE))) AS BIGINT) AS us
        |  FROM kern JOIN v2 ON v2.j = kern.j GROUP BY kern.i, m),
        | v3 AS (SELECT kern.j, CAST(round(1e27 / (CAST(n AS DOUBLE)
        |    * CAST(sum(CAST(k AS HUGEINT) * u3.us) AS DOUBLE))) AS BIGINT) AS vs
        |  FROM kern JOIN u3 ON u3.i = kern.i GROUP BY kern.j, n),
        | cells AS (SELECT m, n,
        |   CAST(round(CAST(u3.us AS DOUBLE) * CAST(k AS DOUBLE)
        |     * CAST(v3.vs AS DOUBLE) * CAST(c AS DOUBLE) / 1e27)
        |    AS BIGINT) AS tq,
        |   CAST(round(CAST(u3.us AS DOUBLE) * CAST(k AS DOUBLE)
        |     * CAST(v3.vs AS DOUBLE) / 1e18) AS BIGINT) AS mq
        |  FROM kern JOIN u3 ON u3.i = kern.i
        |  JOIN v3 ON v3.j = kern.j)
        | SELECT m, n,
        |  round(CAST(sum(tq) AS DOUBLE) / 1e12, 6) AS ot_cost,
        |  round(CAST(sum(mq) AS DOUBLE) / 1e9, 6) AS mass
        | FROM cells GROUP BY 1, 2""".stripMargin,
    "q180_hybrid_rrf" ->
      s"""WITH $flatCte,
        | toks AS (SELECT doc_id,
        |   unnest(string_split(text, ' ')) AS w FROM documents),
        | dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        | st AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS tot
        |  FROM dl),
        | tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
        |  WHERE w IN ('data', 'join', 'spark', 'query') GROUP BY 1, 2),
        | dft AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        | bc AS (SELECT tf.doc_id,
        |   CAST(round(
        |     ln(1.0 + (CAST(st.n AS DOUBLE) - dft.df + 0.5)
        |       / (dft.df + 0.5))
        |     * (tf.tf * 2.5)
        |     / (tf.tf + 1.5 * (0.25 + 0.75 * ((dl.dl * st.n) / st.tot))),
        |    9) AS DECIMAL(28,12)) AS c
        |  FROM tf JOIN dft USING (w) JOIN dl USING (doc_id), st),
        | bm AS (SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS bm25
        |  FROM bc GROUP BY doc_id
        |  ORDER BY bm25 DESC, doc_id ASC LIMIT 50),
        | lex AS (SELECT doc_id, CAST(row_number() OVER (
        |   ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS rank_lex
        |  FROM bm),
        | dots AS (SELECT f.vec_id, sum(f.x * q.x) AS dp
        |  FROM flat f JOIN flat q ON f.i = q.i AND q.vec_id = 0
        |  WHERE f.vec_id <> 0 GROUP BY f.vec_id),
        | vr AS (SELECT d.vec_id AS doc_id, CAST(row_number() OVER (
        |   ORDER BY dp / (n.nrm * (SELECT nrm FROM norms nz
        |     WHERE nz.vec_id = 0)) DESC, d.vec_id ASC) AS BIGINT)
        |     AS rank_vec
        |  FROM dots d JOIN norms n ON d.vec_id = n.vec_id
        |  ORDER BY rank_vec LIMIT 50)
        | SELECT coalesce(lex.doc_id, vr.doc_id) AS doc_id,
        |  coalesce(rank_lex, 0) AS rank_lex,
        |  coalesce(rank_vec, 0) AS rank_vec,
        |  round(
        |   CASE WHEN rank_lex IS NOT NULL
        |     THEN CAST(1.0 AS DOUBLE) / (rank_lex + 60) ELSE 0.0 END +
        |   CASE WHEN rank_vec IS NOT NULL
        |     THEN CAST(1.0 AS DOUBLE) / (rank_vec + 60) ELSE 0.0 END,
        |   6) AS rrf
        | FROM lex FULL OUTER JOIN vr ON lex.doc_id = vr.doc_id
        | ORDER BY rrf DESC, doc_id ASC LIMIT 20""".stripMargin,
    "q135_quantized_ann" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |   FROM embeddings),
        | flat AS (SELECT vec_id, i, v[i] AS x
        |   FROM base, UNNEST(generate_series(1, len(v))) AS t(i)),
        | m AS (SELECT vec_id, max(abs(x)) AS mx FROM flat
        |   GROUP BY vec_id),
        | qz AS (SELECT f.vec_id, f.i,
        |   CAST(round(127 * f.x / m.mx) AS BIGINT) AS q
        |  FROM flat f JOIN m ON f.vec_id = m.vec_id),
        | dots AS (SELECT a.vec_id AS query_id, b.vec_id,
        |   CAST(sum(a.q * b.q) AS BIGINT) AS dot
        |  FROM qz a JOIN qz b ON a.i = b.i
        |   AND a.vec_id < 5 AND b.vec_id <> a.vec_id
        |  GROUP BY 1, 2),
        | ranked AS (SELECT query_id, vec_id, dot,
        |   CAST(row_number() OVER (PARTITION BY query_id
        |     ORDER BY dot DESC, vec_id) AS BIGINT) AS rank
        |  FROM dots)
        | SELECT query_id, vec_id, dot, rank
        | FROM ranked WHERE rank <= 3""".stripMargin,
    "q46_ann_bruteforce" ->
      s"""WITH $flatCte,
        | dots AS (SELECT f.vec_id, sum(f.x * q.x) AS dp
        |   FROM flat f JOIN flat q ON f.i = q.i AND q.vec_id = 0
        |   WHERE f.vec_id <> 0 GROUP BY f.vec_id),
        | scored AS (SELECT d.vec_id,
        |   dp / (n.nrm * (SELECT nrm FROM norms WHERE vec_id = 0)) AS c
        |  FROM dots d JOIN norms n ON d.vec_id = n.vec_id)
        | SELECT vec_id, round(c, 6) AS cosine,
        |  CAST(row_number() OVER (ORDER BY c DESC, vec_id) AS BIGINT)
        |    AS rank
        | FROM scored ORDER BY rank LIMIT 10""".stripMargin,
    "q47_ann_ivf" ->
      s"""WITH $flatCte,
        | $assignCte,
        | probed AS (SELECT centroid_id FROM asims
        |   WHERE vec_id = 0 ORDER BY sim DESC, centroid_id LIMIT 4),
        | cand AS (SELECT a.vec_id FROM assigned a
        |   JOIN probed p ON a.centroid_id = p.centroid_id)
        | SELECT s.vec_id, round(s.sim, 6) AS cosine
        | FROM (SELECT f.vec_id, sum(f.x * q.x) /
        |        (max(nf.nrm) * (SELECT nrm FROM norms WHERE vec_id = 0))
        |        AS sim
        |       FROM flat f
        |       JOIN flat q ON f.i = q.i AND q.vec_id = 0
        |       JOIN norms nf ON f.vec_id = nf.vec_id
        |       GROUP BY f.vec_id) s
        | JOIN cand USING (vec_id)
        | ORDER BY s.sim DESC, s.vec_id LIMIT 10""".stripMargin,
    "q48_ann_batch" ->
      s"""WITH $flatCte,
        | dots AS (SELECT q.vec_id AS query_id, f.vec_id, sum(f.x * q.x) AS dp
        |   FROM flat f JOIN flat q ON f.i = q.i AND q.vec_id < 5
        |   WHERE f.vec_id <> q.vec_id GROUP BY q.vec_id, f.vec_id),
        | scored AS (SELECT query_id, d.vec_id,
        |   dp / (nf.nrm * nq.nrm) AS c
        |  FROM dots d
        |  JOIN norms nf ON d.vec_id = nf.vec_id
        |  JOIN norms nq ON d.query_id = nq.vec_id),
        | ranked AS (SELECT query_id, vec_id, c,
        |   row_number() OVER (PARTITION BY query_id
        |     ORDER BY c DESC, vec_id) AS rk
        |  FROM scored)
        | SELECT query_id, vec_id, round(c, 6) AS cosine,
        |  CAST(rk AS BIGINT) AS rank
        | FROM ranked WHERE rk <= 3""".stripMargin,
    "q203_negative_sampling" ->
      """WITH idx AS (SELECT doc_id AS neg_doc_id,
        |   row_number() OVER (ORDER BY doc_id) - 1 AS neg_idx
        |  FROM documents),
        | n AS (SELECT count(*) AS nd FROM documents),
        | draws AS (SELECT doc_id, j,
        |   ((doc_id * 4 + j) % 1000000007) * 2654435761
        |     % 999999999989 % nd AS neg_idx
        |  FROM (SELECT doc_id FROM documents WHERE doc_id % 50 = 0),
        |   UNNEST(generate_series(0, 3)) AS t(j), n)
        | SELECT d.doc_id, CAST(d.j AS BIGINT) AS j, i.neg_doc_id
        | FROM draws d JOIN idx i ON d.neg_idx = i.neg_idx
        | WHERE i.neg_doc_id <> d.doc_id""".stripMargin,
    "q147_hard_negatives" ->
      s"""WITH $flatCte,
        | lab AS (SELECT vec_id, label FROM embeddings),
        | dots AS (SELECT q.vec_id AS query_id, f.vec_id,
        |   sum(f.x * q.x) AS dp
        |   FROM flat f JOIN flat q ON f.i = q.i AND q.vec_id < 5
        |   GROUP BY q.vec_id, f.vec_id),
        | scored AS (SELECT query_id, d.vec_id, lf.label,
        |   dp / (nf.nrm * nq.nrm) AS c
        |  FROM dots d
        |  JOIN norms nf ON d.vec_id = nf.vec_id
        |  JOIN norms nq ON d.query_id = nq.vec_id
        |  JOIN lab lf ON d.vec_id = lf.vec_id
        |  JOIN lab lq ON d.query_id = lq.vec_id
        |  WHERE lf.label <> lq.label),
        | ranked AS (SELECT query_id, vec_id, label, c,
        |   row_number() OVER (PARTITION BY query_id
        |     ORDER BY c DESC, vec_id) AS rk
        |  FROM scored)
        | SELECT query_id, vec_id, label, round(c, 6) AS cosine,
        |  CAST(rk AS BIGINT) AS rank
        | FROM ranked WHERE rk <= 5""".stripMargin,
    "q118_recall_at_k" ->
      s"""WITH $flatCte,
        | dots AS (SELECT q.vec_id AS query_id, f.vec_id, sum(f.x * q.x)
        |    AS dp
        |   FROM flat f JOIN flat q ON f.i = q.i AND q.vec_id < 5
        |   WHERE f.vec_id <> q.vec_id GROUP BY q.vec_id, f.vec_id),
        | scored AS (SELECT query_id, d.vec_id,
        |   dp / (nf.nrm * nq.nrm) AS c
        |  FROM dots d
        |  JOIN norms nf ON d.vec_id = nf.vec_id
        |  JOIN norms nq ON d.query_id = nq.vec_id),
        | brute AS (SELECT query_id, vec_id FROM (
        |   SELECT query_id, vec_id, row_number() OVER (
        |     PARTITION BY query_id ORDER BY c DESC, vec_id) AS rk
        |   FROM scored) WHERE rk <= 10),
        | $assignCte,
        | probed AS (SELECT vec_id AS query_id, centroid_id FROM (
        |   SELECT vec_id, centroid_id, row_number() OVER (
        |     PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rk
        |   FROM asims WHERE vec_id < 5) WHERE rk <= 4),
        | ivf AS (SELECT query_id, vec_id FROM (
        |   SELECT p.query_id, a.vec_id, row_number() OVER (
        |     PARTITION BY p.query_id ORDER BY s.c DESC, a.vec_id) AS rk
        |   FROM probed p
        |   JOIN assigned a ON a.centroid_id = p.centroid_id
        |   JOIN scored s ON s.query_id = p.query_id
        |    AND s.vec_id = a.vec_id
        |   WHERE a.vec_id <> p.query_id) WHERE rk <= 10),
        | hits AS (SELECT i.query_id, count(*) AS n_hits FROM ivf i
        |   JOIN brute b ON i.query_id = b.query_id
        |    AND i.vec_id = b.vec_id
        |  GROUP BY i.query_id)
        | SELECT q.vec_id AS query_id,
        |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  round(coalesce(h.n_hits, 0) / 10.0, 6) AS recall_at_10
        | FROM (SELECT vec_id FROM base WHERE vec_id < 5) q
        | LEFT JOIN hits h ON q.vec_id = h.query_id""".stripMargin,
    "q146_jl_projection" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |   FROM embeddings),
        | flat AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS i, v[i] AS x
        |  FROM base, UNNEST(generate_series(1, len(v))) AS t(i)),
        | dims AS (SELECT DISTINCT i FROM flat),
        | js AS (SELECT CAST(j AS BIGINT) AS j
        |  FROM UNNEST(generate_series(0, 15)) AS t(j)),
        | signs AS (SELECT i, j,
        |   CASE WHEN substring(md5(i || '_' || j), 1, 1) IN
        |     ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END AS sgn
        |  FROM dims, js),
        | p AS (SELECT f.vec_id, s.j,
        |   sum(CASE WHEN s.sgn = 1 THEN CAST(f.x AS DECIMAL(18,9))
        |     ELSE -CAST(f.x AS DECIMAL(18,9)) END) AS sx
        |  FROM flat f JOIN signs s ON f.i = s.i GROUP BY 1, 2)
        | SELECT vec_id, j, round(CAST(sx AS DOUBLE) / sqrt(16.0), 6)
        |   AS proj
        | FROM p""".stripMargin,
    "q172_cosine_histogram" ->
      s"""WITH $flatCte,
        | dots AS (SELECT a.vec_id AS va, b.vec_id AS vb,
        |   sum(a.x * b.x) AS dp
        |  FROM flat a JOIN flat b ON a.i = b.i
        |   AND a.vec_id < b.vec_id AND a.vec_id < 100 AND b.vec_id < 100
        |  GROUP BY 1, 2),
        | cs AS (SELECT round(dp / (na.nrm * nb.nrm), 6) AS c
        |  FROM dots d
        |  JOIN norms na ON d.va = na.vec_id
        |  JOIN norms nb ON d.vb = nb.vec_id)
        | SELECT CAST(least(9, floor((c + 1.0) * 5.0)) AS BIGINT) AS bin,
        |  count(*) AS n_pairs
        | FROM cs GROUP BY 1""".stripMargin,
    "q165_sq8_recall" ->
      s"""WITH $flatCte,
        | fdots AS (SELECT q.vec_id AS query_id, f.vec_id,
        |   sum(f.x * q.x) AS dp
        |  FROM flat f JOIN flat q ON f.i = q.i AND q.vec_id < 5
        |  WHERE f.vec_id <> q.vec_id GROUP BY q.vec_id, f.vec_id),
        | fscored AS (SELECT query_id, d.vec_id,
        |   dp / (nf.nrm * nq.nrm) AS c
        |  FROM fdots d
        |  JOIN norms nf ON d.vec_id = nf.vec_id
        |  JOIN norms nq ON d.query_id = nq.vec_id),
        | brute AS (SELECT query_id, vec_id FROM (
        |   SELECT query_id, vec_id, row_number() OVER (
        |     PARTITION BY query_id ORDER BY c DESC, vec_id) AS rk
        |   FROM fscored) WHERE rk <= 10),
        | m AS (SELECT vec_id, max(abs(x)) AS mx FROM flat GROUP BY 1),
        | qz AS (SELECT f.vec_id, f.i,
        |   CAST(round(127 * f.x / m.mx) AS BIGINT) AS q
        |  FROM flat f JOIN m ON f.vec_id = m.vec_id),
        | qdots AS (SELECT a.vec_id AS query_id, b.vec_id,
        |   CAST(sum(a.q * b.q) AS BIGINT) AS dot
        |  FROM qz a JOIN qz b ON a.i = b.i
        |   AND a.vec_id < 5 AND b.vec_id <> a.vec_id
        |  GROUP BY 1, 2),
        | quant AS (SELECT query_id, vec_id FROM (
        |   SELECT query_id, vec_id, row_number() OVER (
        |     PARTITION BY query_id ORDER BY dot DESC, vec_id) AS rk
        |   FROM qdots) WHERE rk <= 10),
        | hits AS (SELECT q.query_id, count(*) AS n_hits
        |  FROM quant q JOIN brute b
        |   ON q.query_id = b.query_id AND q.vec_id = b.vec_id
        |  GROUP BY q.query_id)
        | SELECT q.vec_id AS query_id,
        |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  round(coalesce(h.n_hits, 0) / 10.0, 6) AS recall_at_10
        | FROM (SELECT vec_id FROM base WHERE vec_id < 5) q
        | LEFT JOIN hits h ON q.vec_id = h.query_id""".stripMargin,
    "q157_ivf_balance" ->
      s"""WITH $flatCte,
        | $assignCte,
        | t AS (SELECT count(*) AS n_total FROM assigned)
        | SELECT centroid_id, count(*) AS n_vectors,
        |  round(count(*) * 16.0 / t.n_total, 6) AS balance
        | FROM assigned, t GROUP BY centroid_id, t.n_total""".stripMargin,
    "q158_embedding_audit" ->
      """WITH base AS (SELECT vec_id, label,
        |   CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | flat AS (SELECT vec_id, label,
        |   CAST(round(v[i] * 1000000) AS BIGINT) AS xi
        |  FROM base, UNNEST(generate_series(1, len(v))) AS t(i)),
        | per AS (SELECT label, vec_id, sum(xi * xi) AS ss,
        |   count(*) AS dim FROM flat GROUP BY 1, 2)
        | SELECT label, count(*) AS n_vectors,
        |  CAST(sum(CASE WHEN ss = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero,
        |  CAST(min(ss) AS BIGINT) AS min_ss,
        |  CAST(max(ss) AS BIGINT) AS max_ss, max(dim) AS dim
        | FROM per GROUP BY label""".stripMargin,
    "q148_label_noise" ->
      """WITH base AS (SELECT vec_id, label,
        |   CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | flat AS (SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS i,
        |   v[i] AS x
        |  FROM base, UNNEST(generate_series(1, len(v))) AS t(i)),
        | cent AS (SELECT label, i,
        |   round(CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE)
        |     / count(*), 6) AS c
        |  FROM flat GROUP BY 1, 2),
        | cnorm AS (SELECT label, sqrt(sum(c * c)) AS cn
        |  FROM cent GROUP BY 1),
        | vnorm AS (SELECT vec_id, sqrt(sum(x * x)) AS vn
        |  FROM flat GROUP BY 1),
        | dots AS (SELECT f.vec_id, f.label AS vlabel, ce.label AS clabel,
        |   sum(f.x * ce.c) AS dp
        |  FROM flat f JOIN cent ce ON f.i = ce.i GROUP BY 1, 2, 3),
        | sims AS (SELECT d.vec_id, d.vlabel, d.clabel,
        |   round(dp / (vn.vn * cn.cn), 6) AS c
        |  FROM dots d JOIN vnorm vn ON d.vec_id = vn.vec_id
        |  JOIN cnorm cn ON d.clabel = cn.label),
        | per AS (SELECT vec_id, vlabel,
        |   max(CASE WHEN clabel = vlabel THEN c END) AS own,
        |   max(CASE WHEN clabel <> vlabel THEN c END) AS best_other
        |  FROM sims GROUP BY 1, 2)
        | SELECT vlabel AS label, count(*) AS n,
        |  CAST(sum(CASE WHEN best_other > own THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_suspect,
        |  round(sum(CASE WHEN best_other > own THEN 1.0 ELSE 0.0 END)
        |    / count(*), 6) AS suspect_rate
        | FROM per GROUP BY 1""".stripMargin,
    "q90_class_centroids" ->
      """WITH flat AS (SELECT label, CAST(i - 1 AS BIGINT) AS dim,
        |   CAST(CAST(embedding AS DOUBLE[])[i] AS DECIMAL(18,9)) AS x
        |  FROM embeddings,
        |   UNNEST(generate_series(1, len(CAST(embedding AS DOUBLE[]))))
        |   AS t(i))
        | SELECT label, dim,
        |  round(CAST(sum(x) AS DOUBLE) / count(*), 6) AS centroid
        | FROM flat GROUP BY label, dim""".stripMargin,
    "q210_semantic_dedup" ->
      s"""WITH $flatCte,
        | $assignCte,
        | pairs AS (SELECT a.centroid_id, a.vec_id AS va,
        |    b.vec_id AS vb
        |   FROM assigned a JOIN assigned b
        |     ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id),
        | cosp AS (SELECT p.centroid_id, p.va, p.vb,
        |    round(sum(fa.x * fb.x) / (max(na.nrm) * max(nb.nrm)), 6)
        |      AS c
        |   FROM pairs p
        |   JOIN flat fa ON fa.vec_id = p.va
        |   JOIN flat fb ON fb.vec_id = p.vb AND fb.i = fa.i
        |   JOIN norms na ON na.vec_id = p.va
        |   JOIN norms nb ON nb.vec_id = p.vb
        |   GROUP BY 1, 2, 3),
        | dropped AS (SELECT DISTINCT centroid_id, vb AS vec_id
        |   FROM cosp WHERE c >= 0.3),
        | nv AS (SELECT centroid_id, count(*) AS n_vecs
        |   FROM assigned GROUP BY 1),
        | nd AS (SELECT centroid_id, count(*) AS nd
        |   FROM dropped GROUP BY 1)
        | SELECT nv.centroid_id, CAST(n_vecs AS BIGINT) AS n_vecs,
        |  CAST(coalesce(nd, 0) AS BIGINT) AS n_dropped,
        |  CAST(n_vecs - coalesce(nd, 0) AS BIGINT) AS n_kept
        | FROM nv LEFT JOIN nd USING (centroid_id)""".stripMargin,
    "q211_cluster_sample" ->
      s"""WITH $flatCte,
        | $assignCte,
        | quota AS (SELECT centroid_id, count(*) AS n,
        |    CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)
        |      AS quota
        |   FROM assigned GROUP BY 1),
        | ranked AS (SELECT centroid_id, vec_id,
        |    row_number() OVER (PARTITION BY centroid_id
        |      ORDER BY (vec_id * 2654435761) % 1000000007, vec_id)
        |      AS rk
        |   FROM assigned),
        | picked AS (SELECT r.centroid_id, r.vec_id
        |   FROM ranked r JOIN quota q ON r.centroid_id = q.centroid_id
        |   WHERE r.rk <= q.quota)
        | SELECT q.centroid_id, CAST(q.n AS BIGINT) AS n, q.quota,
        |  CAST(count(*) AS BIGINT) AS n_sampled,
        |  min(p.vec_id) AS first_pick
        | FROM quota q JOIN picked p ON q.centroid_id = p.centroid_id
        | GROUP BY q.centroid_id, q.n, q.quota""".stripMargin,
    "q216_kcenter_coreset" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |   FROM embeddings),
        | qf AS (SELECT vec_id, i,
        |   CAST(round(v[i] * 1000000) AS BIGINT) AS q
        |  FROM base, UNNEST(generate_series(1, len(v))) AS t(i)),
        | c1 AS (SELECT min(vec_id) AS cid FROM base),
        | d1 AS (SELECT p.vec_id,
        |   CAST(sum((p.q - c.q) * (p.q - c.q)) AS BIGINT) AS d
        |  FROM qf p JOIN c1 ON true JOIN qf c ON c.vec_id = c1.cid
        |   AND p.i = c.i
        |  GROUP BY p.vec_id),
        | c2 AS (SELECT vec_id AS cid FROM d1
        |  ORDER BY d DESC, vec_id LIMIT 1),
        | d2 AS (SELECT p.vec_id, least(d1.d,
        |   CAST(sum((p.q - c.q) * (p.q - c.q)) AS BIGINT)) AS d
        |  FROM qf p JOIN c2 ON true JOIN qf c ON c.vec_id = c2.cid
        |   AND p.i = c.i
        |  JOIN d1 ON d1.vec_id = p.vec_id
        |  GROUP BY p.vec_id, d1.d),
        | c3 AS (SELECT vec_id AS cid FROM d2
        |  ORDER BY d DESC, vec_id LIMIT 1),
        | d3 AS (SELECT p.vec_id, least(d2.d,
        |   CAST(sum((p.q - c.q) * (p.q - c.q)) AS BIGINT)) AS d
        |  FROM qf p JOIN c3 ON true JOIN qf c ON c.vec_id = c3.cid
        |   AND p.i = c.i
        |  JOIN d2 ON d2.vec_id = p.vec_id
        |  GROUP BY p.vec_id, d2.d),
        | c4 AS (SELECT vec_id AS cid FROM d3
        |  ORDER BY d DESC, vec_id LIMIT 1),
        | cent AS (SELECT 1 AS r, cid FROM c1
        |  UNION ALL SELECT 2, cid FROM c2
        |  UNION ALL SELECT 3, cid FROM c3
        |  UNION ALL SELECT 4, cid FROM c4),
        | dist AS (SELECT p.vec_id, ct.r, ct.cid,
        |   CAST(sum((p.q - cf.q) * (p.q - cf.q)) AS BIGINT) AS d
        |  FROM qf p CROSS JOIN cent ct
        |  JOIN qf cf ON cf.vec_id = ct.cid AND cf.i = p.i
        |  GROUP BY 1, 2, 3),
        | pick AS (SELECT vec_id, r, cid, d,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY d, r) AS rk
        |  FROM dist)
        | SELECT CAST(r AS BIGINT) AS center_rank, cid AS center_vec_id,
        |  count(*) AS n_points, CAST(max(d) AS BIGINT) AS max_d2
        | FROM pick WHERE rk = 1 GROUP BY 1, 2""".stripMargin,
    "q217_margin_bitext" ->
      """WITH base AS (SELECT vec_id, label,
        |   CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | flat AS (SELECT vec_id, label, i, v[i] AS x
        |  FROM base, UNNEST(generate_series(1, len(v))) AS t(i)),
        | nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS n
        |  FROM flat GROUP BY 1),
        | dots AS (SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
        |   sum(a.x * b.x) AS dp
        |  FROM flat a JOIN flat b ON a.i = b.i
        |   AND a.label = 0 AND b.label = 1
        |  GROUP BY 1, 2),
        | ci AS (SELECT src_id, tgt_id,
        |   CAST(round(dp / (na.n * nb.n) * 1000000) AS BIGINT) AS ci
        |  FROM dots JOIN nrm na ON na.vec_id = src_id
        |  JOIN nrm nb ON nb.vec_id = tgt_id),
        | sx AS (SELECT src_id, CAST(sum(ci) AS BIGINT) AS sx FROM (
        |   SELECT src_id, ci, row_number() OVER (PARTITION BY src_id
        |     ORDER BY ci DESC, tgt_id) AS rk FROM ci)
        |  WHERE rk <= 4 GROUP BY 1),
        | sy AS (SELECT tgt_id, CAST(sum(ci) AS BIGINT) AS sy FROM (
        |   SELECT tgt_id, ci, row_number() OVER (PARTITION BY tgt_id
        |     ORDER BY ci DESC, src_id) AS rk FROM ci)
        |  WHERE rk <= 4 GROUP BY 1),
        | m AS (SELECT c.src_id, c.tgt_id, c.ci,
        |   CASE WHEN sx.sx + sy.sy = 0 THEN 0.0
        |    ELSE round(CAST(8 * c.ci AS DOUBLE)
        |     / CAST(sx.sx + sy.sy AS DOUBLE), 6) END AS margin
        |  FROM ci c JOIN sx ON c.src_id = sx.src_id
        |  JOIN sy ON c.tgt_id = sy.tgt_id),
        | best AS (SELECT src_id, tgt_id, ci, margin,
        |   row_number() OVER (PARTITION BY src_id
        |     ORDER BY margin DESC, tgt_id) AS rk FROM m)
        | SELECT src_id, tgt_id, round(ci / 1000000.0, 6) AS cosine,
        |  margin
        | FROM best WHERE rk = 1 AND margin >= 1.02""".stripMargin,
    "q221_ood_outliers" ->
      """WITH base AS (SELECT vec_id, label,
        |   CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | flat AS (SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS i,
        |   CAST(round(v[i] * 1000000) AS BIGINT) AS q
        |  FROM base, UNNEST(generate_series(1, len(v))) AS t(i)),
        | mom AS (SELECT label, i, count(*) AS n,
        |   CAST(sum(q) AS BIGINT) AS s,
        |   CAST(sum(q * q) AS BIGINT) AS ss FROM flat GROUP BY 1, 2),
        | mo2 AS (SELECT label, i, CAST(s AS DOUBLE) / n AS mu,
        |   (CAST(ss AS DOUBLE)
        |    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n AS v2
        |  FROM mom),
        | md AS (SELECT vec_id, f.label,
        |   round(sum((CAST(q AS DOUBLE) - mu) * (CAST(q AS DOUBLE) - mu)
        |     / (v2 + 1.0)), 6) AS md
        |  FROM flat f JOIN mo2 m ON f.label = m.label AND f.i = m.i
        |  GROUP BY 1, 2)
        | SELECT label, count(*) AS n_vecs,
        |  CAST(sum(CASE WHEN md > 32.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_out,
        |  round(max(md), 6) AS max_md
        | FROM md GROUP BY 1""".stripMargin,
    "q262_quantizer_churn" ->
      // assignCte carries BOTH generations: assigned0 (seed) and
      // assigned (refined) — churn is one join over them
      s"""WITH $flatCte,
        | $assignCte,
        | j AS (SELECT a1.centroid_id AS centroid_id,
        |   CASE WHEN a0.centroid_id = a1.centroid_id
        |    THEN 1 ELSE 0 END AS stay
        |  FROM assigned0 a0 JOIN assigned a1
        |   ON a0.vec_id = a1.vec_id)
        | SELECT centroid_id, count(*) AS n_after,
        |  CAST(sum(stay) AS BIGINT) AS n_stay,
        |  CAST(sum(1 - stay) AS BIGINT) AS n_arrived,
        |  round(CAST(sum(1 - stay) AS DOUBLE) / count(*), 6)
        |    AS churn_in_frac
        | FROM j GROUP BY 1""".stripMargin,
    "q258_ivf_maintenance" ->
      s"""WITH $flatCte,
        | $assignCte,
        | bq AS (SELECT a.centroid_id,
        |   CAST(round(s.sim * 1e6) AS BIGINT) AS ci
        |  FROM assigned a JOIN asims s
        |   ON a.vec_id = s.vec_id AND a.centroid_id = s.centroid_id),
        | base_q AS (SELECT centroid_id, count(*) AS nb,
        |   CAST(sum(ci) AS BIGINT) AS scb FROM bq GROUP BY 1),
        | nb0 AS (SELECT vec_id + 10000 AS vec_id,
        |   list_concat([v[1] * 1.2], v[2:]) AS v
        |  FROM base WHERE vec_id % 2 = 0),
        | nflat AS (SELECT vec_id, i, v[i] AS x
        |  FROM nb0, UNNEST(generate_series(1, len(v))) AS t(i)),
        | nnorm AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm
        |  FROM nflat GROUP BY 1),
        | nsims AS (SELECT f.vec_id, c.centroid_id,
        |   sum(f.x * c.x) / (max(nf.nrm) * max(cn.nrm)) AS sim
        |  FROM nflat f JOIN cents1 c ON f.i = c.i
        |  JOIN nnorm nf ON f.vec_id = nf.vec_id
        |  JOIN cnorms cn ON c.centroid_id = cn.centroid_id
        |  GROUP BY 1, 2),
        | nassigned AS (SELECT vec_id, centroid_id, sim FROM (
        |   SELECT vec_id, centroid_id, sim, row_number() OVER (
        |     PARTITION BY vec_id ORDER BY sim DESC, centroid_id)
        |     AS rk FROM nsims) WHERE rk = 1),
        | new_q AS (SELECT centroid_id, count(*) AS nn,
        |   CAST(sum(CAST(round(sim * 1e6) AS BIGINT)) AS BIGINT)
        |     AS scn
        |  FROM nassigned GROUP BY 1),
        | j AS (SELECT coalesce(b.centroid_id, n.centroid_id)
        |    AS centroid_id,
        |   coalesce(nb, 0) AS n_base, coalesce(nn, 0) AS n_new,
        |   coalesce(scb, 0) AS scb, coalesce(scn, 0) AS scn
        |  FROM base_q b FULL OUTER JOIN new_q n
        |   ON b.centroid_id = n.centroid_id)
        | SELECT centroid_id, n_base, n_new,
        |  CASE WHEN n_base = 0 THEN 0.0
        |   ELSE round(CAST(n_new AS DOUBLE) / n_base, 6) END
        |    AS growth,
        |  CASE WHEN n_base = 0 THEN 0.0
        |   ELSE round(CAST(scb AS DOUBLE)
        |    / (CAST(n_base AS DOUBLE) * 1e6), 6) END AS mean_cos_base,
        |  CASE WHEN n_new = 0 THEN 0.0
        |   ELSE round(CAST(scn AS DOUBLE)
        |    / (CAST(n_new AS DOUBLE) * 1e6), 6) END AS mean_cos_new
        | FROM j""".stripMargin,
    "q244_matryoshka" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |   FROM embeddings),
        | mflat AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS i,
        |   CAST(round(v[i] * 1e6) AS BIGINT) AS q
        |  FROM base, UNNEST(generate_series(1, len(v))) AS t(i)),
        | dimsg AS (SELECT CAST(unnest([16, 8, 4]) AS BIGINT) AS dims),
        | fd AS (SELECT dims, vec_id, i, q
        |  FROM mflat CROSS JOIN dimsg WHERE i < dims),
        | ssq AS (SELECT dims, vec_id, CAST(sum(q * q) AS BIGINT) AS ss
        |  FROM fd GROUP BY 1, 2),
        | dots AS (SELECT f.dims, qf.vec_id AS qid, f.vec_id,
        |   CAST(sum(f.q * qf.q) AS BIGINT) AS dot
        |  FROM fd f JOIN fd qf ON f.dims = qf.dims AND f.i = qf.i
        |   AND qf.vec_id < 5 AND f.vec_id <> qf.vec_id
        |  GROUP BY 1, 2, 3),
        | sc AS (SELECT d.dims, d.qid, d.vec_id,
        |   CASE WHEN sv.ss = 0 OR sq.ss = 0 THEN 0
        |    ELSE CAST(round(CAST(dot AS DOUBLE)
        |      / (sqrt(CAST(sv.ss AS DOUBLE))
        |        * sqrt(CAST(sq.ss AS DOUBLE))) * 1e6) AS BIGINT)
        |    END AS ci
        |  FROM dots d
        |  JOIN ssq sv ON d.dims = sv.dims AND d.vec_id = sv.vec_id
        |  JOIN ssq sq ON d.dims = sq.dims AND d.qid = sq.vec_id),
        | top1 AS (SELECT dims, qid AS query_id, vec_id AS top1_id,
        |   round(ci / 1000000.0, 6) AS cosine
        |  FROM (SELECT *, row_number() OVER (PARTITION BY dims, qid
        |     ORDER BY ci DESC, vec_id) AS rk FROM sc) WHERE rk = 1),
        | fullt AS (SELECT query_id, top1_id AS full_id
        |  FROM top1 WHERE dims = 16)
        | SELECT t.dims, t.query_id, t.top1_id, t.cosine,
        |  t.top1_id = f.full_id AS match_full
        | FROM top1 t JOIN fullt f ON t.query_id = f.query_id"""
        .stripMargin,
    "q243_hubness_audit" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |   FROM embeddings
        |  ORDER BY (vec_id * 2654435761) % 1000000007, vec_id
        |  LIMIT 500),
        | flat AS (SELECT vec_id, i, v[i] AS x
        |  FROM base, UNNEST(generate_series(1, len(v))) AS t(i)),
        | nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS n
        |  FROM flat GROUP BY 1),
        | ci AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
        |   CAST(round(sum(fa.x * fb.x) / (na.n * nb.n) * 1000000)
        |    AS BIGINT) AS ci
        |  FROM base a JOIN base b ON a.vec_id <> b.vec_id
        |  JOIN flat fa ON fa.vec_id = a.vec_id
        |  JOIN flat fb ON fb.vec_id = b.vec_id AND fb.i = fa.i
        |  JOIN nrm na ON na.vec_id = a.vec_id
        |  JOIN nrm nb ON nb.vec_id = b.vec_id
        |  GROUP BY 1, 2, na.n, nb.n),
        | top3 AS (SELECT cid FROM (
        |   SELECT qid, cid, row_number() OVER (PARTITION BY qid
        |     ORDER BY ci DESC, cid) AS rk FROM ci) WHERE rk <= 3),
        | indeg AS (SELECT cid, CAST(count(*) AS BIGINT) AS indeg
        |  FROM top3 GROUP BY 1)
        | SELECT CAST(coalesce(i.indeg, 0) AS BIGINT) AS indeg,
        |  count(*) AS n_vecs
        | FROM base b LEFT JOIN indeg i ON b.vec_id = i.cid
        | GROUP BY 1""".stripMargin,
    "q236_nprobe_sweep" ->
      s"""WITH $flatCte,
        | dots AS (SELECT q.vec_id AS query_id, f.vec_id, sum(f.x * q.x)
        |    AS dp
        |   FROM flat f JOIN flat q ON f.i = q.i AND q.vec_id < 5
        |   WHERE f.vec_id <> q.vec_id GROUP BY q.vec_id, f.vec_id),
        | scored AS (SELECT query_id, d.vec_id,
        |   dp / (nf.nrm * nq.nrm) AS c
        |  FROM dots d
        |  JOIN norms nf ON d.vec_id = nf.vec_id
        |  JOIN norms nq ON d.query_id = nq.vec_id),
        | brute AS (SELECT query_id, vec_id FROM (
        |   SELECT query_id, vec_id, row_number() OVER (
        |     PARTITION BY query_id ORDER BY c DESC, vec_id) AS rk
        |   FROM scored) WHERE rk <= 10),
        | $assignCte,
        | nps AS (SELECT CAST(unnest([1, 2, 4, 8]) AS BIGINT) AS np),
        | probed AS (SELECT n.np, p.vec_id AS query_id, p.centroid_id
        |  FROM (SELECT vec_id, centroid_id, row_number() OVER (
        |     PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rk
        |   FROM asims WHERE vec_id < 5) p CROSS JOIN nps n
        |  WHERE p.rk <= n.np),
        | ivf AS (SELECT np, query_id, vec_id FROM (
        |   SELECT p.np, p.query_id, a.vec_id, row_number() OVER (
        |     PARTITION BY p.np, p.query_id
        |     ORDER BY s.c DESC, a.vec_id) AS rk
        |   FROM probed p
        |   JOIN assigned a ON a.centroid_id = p.centroid_id
        |   JOIN scored s ON s.query_id = p.query_id
        |    AND s.vec_id = a.vec_id
        |   WHERE a.vec_id <> p.query_id) WHERE rk <= 10),
        | hits AS (SELECT np, count(*) AS h FROM ivf i
        |  WHERE EXISTS (SELECT 1 FROM brute b
        |   WHERE b.query_id = i.query_id AND b.vec_id = i.vec_id)
        |  GROUP BY np)
        | SELECT n.np AS nprobe,
        |  CAST(coalesce(h.h, 0) AS BIGINT) AS n_hits,
        |  round(coalesce(h.h, 0) / 50.0, 6) AS recall_at_10
        | FROM nps n LEFT JOIN hits h ON h.np = n.np""".stripMargin,
    "q234_cluster_purity" ->
      s"""WITH $flatCte,
        | $assignCte,
        | lab AS (SELECT a.centroid_id, e.label
        |  FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id),
        | cl AS (SELECT centroid_id, label, count(*) AS nl
        |  FROM lab GROUP BY 1, 2),
        | tot AS (SELECT centroid_id, CAST(sum(nl) AS BIGINT) AS n
        |  FROM cl GROUP BY 1)
        | SELECT cl.centroid_id, max(tot.n) AS n,
        |  CAST(max(nl) AS BIGINT) AS n_majority,
        |  round(CAST(max(nl) AS DOUBLE) / max(tot.n), 6) AS purity,
        |  round(-sum((CAST(nl AS DOUBLE) / tot.n)
        |    * ln(CAST(nl AS DOUBLE) / tot.n)), 6) AS entropy
        | FROM cl JOIN tot ON cl.centroid_id = tot.centroid_id
        | GROUP BY cl.centroid_id""".stripMargin,
    "q225_multiprobe_lsh" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |   FROM embeddings),
        | flat AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS i, v[i] AS x,
        |   CAST(round(v[i] * 1000000) AS BIGINT) AS q
        |  FROM base, UNNEST(generate_series(1, len(v))) AS t(i)),
        | signs AS (SELECT band, j, i,
        |   CASE WHEN substring(md5(band || '_' || j || '_' || i), 1, 1)
        |     IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END
        |    AS sgn
        |  FROM UNNEST(generate_series(0, 1)) b(band),
        |   UNNEST(generate_series(0, 7)) jj(j),
        |   UNNEST(generate_series(0, 15)) ii(i)),
        | bsum AS (SELECT f.vec_id, s.band, s.j,
        |   CAST(sum(s.sgn * f.q) AS BIGINT) AS sd
        |  FROM flat f JOIN signs s ON f.i = s.i GROUP BY 1, 2, 3),
        | bkt AS (SELECT vec_id, band,
        |   CAST(sum(CASE WHEN sd > 0
        |     THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END)
        |    AS BIGINT) AS bk
        |  FROM bsum GROUP BY 1, 2),
        | probes AS (SELECT b.vec_id AS qid, b.band, pr,
        |   CASE WHEN pr = 0 THEN b.bk
        |    ELSE xor(b.bk, CAST(1 AS BIGINT) << CAST(pr - 1 AS INT))
        |   END AS bkp
        |  FROM bkt b, UNNEST(generate_series(0, 8)) p(pr)
        |  WHERE b.vec_id < 8),
        | cand AS (SELECT qid, c.vec_id AS cid,
        |   CAST(min(pr) AS BIGINT) AS minpr
        |  FROM probes JOIN bkt c
        |   ON c.band = probes.band AND c.bk = probes.bkp
        |  WHERE c.vec_id <> qid GROUP BY 1, 2),
        | nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS n
        |  FROM flat GROUP BY 1),
        | cci AS (SELECT cand.qid, cand.cid, cand.minpr,
        |   CAST(round(sum(fa.x * fb.x)
        |     / (na.n * nb.n) * 1000000) AS BIGINT) AS ci
        |  FROM cand
        |  JOIN flat fa ON fa.vec_id = cand.qid
        |  JOIN flat fb ON fb.vec_id = cand.cid AND fb.i = fa.i
        |  JOIN nrm na ON na.vec_id = cand.qid
        |  JOIN nrm nb ON nb.vec_id = cand.cid
        |  GROUP BY 1, 2, 3, na.n, nb.n),
        | pa AS (SELECT qid,
        |   CAST(sum(CASE WHEN minpr = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |     AS n_cand0,
        |   count(*) AS n_cand, max(ci) AS pci FROM cci GROUP BY 1),
        | eci AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
        |   CAST(round(sum(fa.x * fb.x)
        |     / (na.n * nb.n) * 1000000) AS BIGINT) AS ci
        |  FROM base q JOIN base c ON c.vec_id <> q.vec_id
        |  JOIN flat fa ON fa.vec_id = q.vec_id
        |  JOIN flat fb ON fb.vec_id = c.vec_id AND fb.i = fa.i
        |  JOIN nrm na ON na.vec_id = q.vec_id
        |  JOIN nrm nb ON nb.vec_id = c.vec_id
        |  WHERE q.vec_id < 8
        |  GROUP BY 1, 2, na.n, nb.n),
        | ex AS (SELECT qid, max(ci) AS exact_best_ci
        |  FROM eci GROUP BY 1)
        | SELECT ex.qid, CAST(coalesce(pa.n_cand0, 0) AS BIGINT)
        |   AS n_cand0,
        |  CAST(coalesce(pa.n_cand, 0) AS BIGINT) AS n_cand,
        |  CAST(coalesce(pa.pci, -1000001) AS BIGINT) AS probe_best_ci,
        |  ex.exact_best_ci,
        |  coalesce(pa.pci, -1000001) = ex.exact_best_ci AS hit
        | FROM ex LEFT JOIN pa ON ex.qid = pa.qid""".stripMargin,
    "q226_pq_adc" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |   FROM embeddings),
        | flat AS (SELECT vec_id, CAST((i - 1) // 4 AS BIGINT) AS sub,
        |   CAST((i - 1) % 4 AS BIGINT) AS pos,
        |   CAST(round(v[i] * 1000000) AS BIGINT) AS q
        |  FROM base, UNNEST(generate_series(1, len(v))) AS t(i)),
        | cb AS (SELECT vec_id AS cw, sub, pos, q AS cq FROM flat
        |  WHERE vec_id < 16),
        | sd AS (SELECT f.vec_id, f.sub, cb.cw,
        |   CAST(sum((f.q - cb.cq) * (f.q - cb.cq)) AS BIGINT) AS d2
        |  FROM flat f JOIN cb ON f.sub = cb.sub AND f.pos = cb.pos
        |  GROUP BY 1, 2, 3),
        | codes AS (SELECT vec_id, sub, cw FROM (
        |   SELECT vec_id, sub, cw, row_number() OVER (
        |     PARTITION BY vec_id, sub ORDER BY d2, cw) AS rk FROM sd)
        |  WHERE rk = 1),
        | dtab AS (SELECT vec_id AS qid, sub, cw, d2 AS qd2 FROM sd
        |  WHERE vec_id < 6),
        | approx AS (SELECT dtab.qid, codes.vec_id,
        |   CAST(sum(dtab.qd2) AS BIGINT) AS ad
        |  FROM codes JOIN dtab ON codes.sub = dtab.sub
        |   AND codes.cw = dtab.cw
        |  WHERE codes.vec_id <> dtab.qid GROUP BY 1, 2),
        | atop AS (SELECT qid, vec_id, ad FROM (
        |   SELECT qid, vec_id, ad, row_number() OVER (
        |     PARTITION BY qid ORDER BY ad, vec_id) AS rk FROM approx)
        |  WHERE rk <= 10),
        | exd AS (SELECT q.qid, f.vec_id,
        |   CAST(sum((f.q - q.qq) * (f.q - q.qq)) AS BIGINT) AS ed
        |  FROM flat f JOIN (SELECT vec_id AS qid, sub, pos, q AS qq
        |    FROM flat WHERE vec_id < 6) q
        |   ON f.sub = q.sub AND f.pos = q.pos
        |  WHERE f.vec_id <> q.qid GROUP BY 1, 2),
        | etop AS (SELECT qid, vec_id, ed FROM (
        |   SELECT qid, vec_id, ed, row_number() OVER (
        |     PARTITION BY qid ORDER BY ed, vec_id) AS rk FROM exd)
        |  WHERE rk <= 10),
        | hits AS (SELECT e.qid,
        |   CAST(count(*) AS BIGINT) AS r10
        |  FROM etop e JOIN atop a
        |   ON e.qid = a.qid AND e.vec_id = a.vec_id GROUP BY 1)
        | SELECT e.qid, CAST(coalesce(max(h.r10), 0) AS BIGINT)
        |   AS recall10,
        |  CAST(min(a.ad) AS BIGINT) AS adc_best,
        |  CAST(min(e.ed) AS BIGINT) AS exact_best
        | FROM etop e JOIN atop a ON a.qid = e.qid
        | LEFT JOIN hits h ON h.qid = e.qid
        | GROUP BY 1""".stripMargin,
    "q290_two_stage_recall" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        | flat AS (SELECT vec_id, i,
        |   CAST(round(v[i] * 1e6) AS BIGINT) AS xm
        |  FROM base, UNNEST(generate_series(1, len(v))) AS t(i)),
        | norms AS (SELECT vec_id, sum(xm * xm) AS nf,
        |   sum(CASE WHEN i <= 16 THEN xm * xm ELSE 0 END) AS n16
        |  FROM flat GROUP BY 1),
        | dots AS (SELECT q.vec_id AS qid, f.vec_id,
        |   sum(f.xm * q.xm) AS df,
        |   sum(CASE WHEN f.i <= 16 THEN f.xm * q.xm ELSE 0 END) AS d16
        |  FROM flat f JOIN flat q ON f.i = q.i AND q.vec_id % 25 = 0
        |  WHERE f.vec_id <> q.vec_id GROUP BY 1, 2),
        | scored AS (SELECT d.qid, d.vec_id,
        |   CAST(df AS DOUBLE) / (sqrt(CAST(n.nf AS DOUBLE))
        |    * sqrt(CAST(qn.nf AS DOUBLE))) AS cf,
        |   CAST(d16 AS DOUBLE) / (sqrt(CAST(n.n16 AS DOUBLE))
        |    * sqrt(CAST(qn.n16 AS DOUBLE))) AS c16
        |  FROM dots d JOIN norms n ON d.vec_id = n.vec_id
        |   JOIN norms qn ON d.qid = qn.vec_id),
        | tf AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
        |   row_number() OVER (PARTITION BY qid
        |     ORDER BY cf DESC, vec_id) AS rk FROM scored)
        |  WHERE rk <= 10),
        | cand AS (SELECT qid, vec_id, cf FROM (SELECT qid, vec_id,
        |   cf, row_number() OVER (PARTITION BY qid
        |     ORDER BY c16 DESC, vec_id) AS rk FROM scored)
        |  WHERE rk <= 50),
        | t16 AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
        |   row_number() OVER (PARTITION BY qid
        |     ORDER BY cf DESC, vec_id) AS rk FROM cand)
        |  WHERE rk <= 10)
        | SELECT tf.qid,
        |  CAST(sum(CASE WHEN t16.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_common,
        |  round(CAST(sum(CASE WHEN t16.vec_id IS NOT NULL
        |     THEN 1 ELSE 0 END) AS DOUBLE) / 10.0, 2) AS recall_at_10
        | FROM tf LEFT JOIN t16
        |  ON tf.qid = t16.qid AND tf.vec_id = t16.vec_id
        | GROUP BY 1""".stripMargin,
    "q300_mmr_rerank" -> {
      val steps = (2 to 5).map { k =>
        val sel = (1 until k).map(j => s"SELECT vec_id FROM p$j")
          .mkString(" UNION ALL ")
        s"""r$k AS (SELECT c.vec_id, c.cq, max(s.sim) AS ms
           |  FROM cand c JOIN simc s ON s.iv = c.vec_id
           |   AND s.jv IN ($sel)
           |  WHERE c.vec_id NOT IN ($sel) GROUP BY 1, 2),
           | p$k AS (SELECT vec_id, cq, 7 * cq - 3 * ms AS sc
           |  FROM r$k ORDER BY sc DESC, vec_id LIMIT 1)""".stripMargin
      }.mkString(",\n ")
      val out = (1 to 5).map(k =>
        s"""SELECT CAST($k AS BIGINT) AS step, vec_id,
           | round(CAST(cq AS DOUBLE) / 1e6, 6) AS relevance,
           | round(CAST(sc AS DOUBLE) / 1e7, 6) AS mmr_score
           | FROM p$k""".stripMargin).mkString("\n UNION ALL\n ")
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        | flat AS (SELECT vec_id, i,
        |   CAST(round(v[i] * 1e6) AS BIGINT) AS xm
        |  FROM base, UNNEST(generate_series(1, len(v))) AS t(i)),
        | norms AS (SELECT vec_id, sum(xm * xm) AS nrm
        |  FROM flat GROUP BY 1),
        | dots AS (SELECT f.vec_id, sum(f.xm * q.xm) AS dot
        |  FROM flat f JOIN flat q ON f.i = q.i AND q.vec_id = 0
        |  WHERE f.vec_id <> 0 GROUP BY 1),
        | cqt AS (SELECT d.vec_id,
        |   CAST(round(CAST(dot AS DOUBLE)
        |     / (sqrt(CAST(n.nrm AS DOUBLE))
        |       * sqrt(CAST(qn.nrm AS DOUBLE))) * 1e6) AS BIGINT)
        |    AS cq
        |  FROM dots d JOIN norms n ON d.vec_id = n.vec_id
        |   JOIN norms qn ON qn.vec_id = 0),
        | cand AS (SELECT vec_id, cq FROM cqt
        |  ORDER BY cq DESC, vec_id LIMIT 20),
        | simd AS (SELECT fa.vec_id AS iv, fb.vec_id AS jv,
        |   sum(fa.xm * fb.xm) AS dot
        |  FROM flat fa JOIN flat fb
        |   ON fa.i = fb.i AND fa.vec_id <> fb.vec_id
        |  WHERE fa.vec_id IN (SELECT vec_id FROM cand)
        |   AND fb.vec_id IN (SELECT vec_id FROM cand)
        |  GROUP BY 1, 2),
        | simc AS (SELECT s.iv, s.jv,
        |   CAST(round(CAST(dot AS DOUBLE)
        |     / (sqrt(CAST(na.nrm AS DOUBLE))
        |       * sqrt(CAST(nb.nrm AS DOUBLE))) * 1e6) AS BIGINT)
        |    AS sim
        |  FROM simd s JOIN norms na ON s.iv = na.vec_id
        |   JOIN norms nb ON s.jv = nb.vec_id),
        | r1 AS (SELECT vec_id, cq, CAST(0 AS BIGINT) AS ms
        |  FROM cand),
        | p1 AS (SELECT vec_id, cq, 7 * cq - 3 * ms AS sc
        |  FROM r1 ORDER BY sc DESC, vec_id LIMIT 1),
        | $steps
        | $out""".stripMargin
    },
    "q321_spectral_audit" ->
      // the same two unrolled integer power-iteration rounds; // on
      // nonnegative operands only (abs/max), so it equals Spark's DIV
      s"""WITH $flatCte,
        | fq AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS i,
        |   CAST(round(x * 1000) AS BIGINT) AS xq FROM flat),
        | v0 AS (SELECT DISTINCT i, CAST(1000000 AS BIGINT) AS vv
        |  FROM fq),
        | d1 AS (SELECT f.vec_id, CAST(sum(f.xq * v0.vv) AS BIGINT)
        |   AS dt
        |  FROM fq f JOIN v0 ON f.i = v0.i GROUP BY 1),
        | w1 AS (SELECT f.i, CAST(sum(f.xq * d1.dt) AS BIGINT) AS wi
        |  FROM fq f JOIN d1 USING (vec_id) GROUP BY 1),
        | m1 AS (SELECT max(abs(wi)) AS mx FROM w1),
        | v1 AS (SELECT i, CASE WHEN wi < 0
        |    THEN -(abs(wi) // ((mx // 1000000) + 1))
        |    ELSE wi // ((mx // 1000000) + 1) END AS vv FROM w1, m1),
        | d2 AS (SELECT f.vec_id, CAST(sum(f.xq * v1.vv) AS BIGINT)
        |   AS dt
        |  FROM fq f JOIN v1 ON f.i = v1.i GROUP BY 1),
        | w2 AS (SELECT f.i, CAST(sum(f.xq * d2.dt) AS BIGINT) AS wi
        |  FROM fq f JOIN d2 USING (vec_id) GROUP BY 1),
        | m2 AS (SELECT max(abs(wi)) AS mx FROM w2),
        | v2 AS (SELECT i, CASE WHEN wi < 0
        |    THEN -(abs(wi) // ((mx // 1000000) + 1))
        |    ELSE wi // ((mx // 1000000) + 1) END AS vv FROM w2, m2)
        | SELECT i AS dim, vv AS loading FROM v2
        | ORDER BY abs(vv) DESC, i LIMIT 8""".stripMargin,
    "q326_hard_negatives" ->
      s"""WITH $flatCte,
        | q AS (SELECT vec_id AS qid, label AS qlabel
        |   FROM embeddings WHERE vec_id < 5),
        | dots AS (SELECT f.vec_id, qf.vec_id AS qid,
        |    sum(f.x * qf.x) AS dp
        |   FROM flat f JOIN flat qf
        |     ON f.i = qf.i AND qf.vec_id < 5
        |   GROUP BY 1, 2),
        | scored AS (SELECT d.qid, d.vec_id,
        |    CAST(e.label AS BIGINT) AS neg_label,
        |    dp / (nf.nrm * nq.nrm) AS c
        |   FROM dots d
        |   JOIN norms nf ON d.vec_id = nf.vec_id
        |   JOIN norms nq ON d.qid = nq.vec_id
        |   JOIN embeddings e ON e.vec_id = d.vec_id
        |   JOIN q ON q.qid = d.qid
        |   WHERE e.label <> q.qlabel),
        | r AS (SELECT qid AS query_id, vec_id, neg_label, c,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY c DESC, vec_id) AS BIGINT) AS rank
        |   FROM scored)
        | SELECT query_id, vec_id, neg_label, round(c, 6) AS cosine,
        |  rank
        | FROM r WHERE rank <= 3""".stripMargin
  )
}
