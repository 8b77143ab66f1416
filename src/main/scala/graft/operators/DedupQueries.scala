package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize.{cut, hold}
import QueryPack.memoizedParquet
import graft.Tables
import graft.functions.VectorOps

/** Dedup operator coverage over the documents/embeddings tables.
  *
  * The driver corpus has no natural duplicates, so the near-dup queries
  * derive a deterministic corpus inside the query: the original
  * documents plus mutated copies (id+10000, three appended
  * out-of-vocabulary words → word-3-gram Jaccard ≈ (n−2)/(n+1) ≈ 0.85).
  *
  * RECALL ASSUMPTION (q42/q81/q85 vs their exact oracles): the DuckDB
  * oracles recompute the *exact* all-pairs sets, while the Spark side
  * generates candidates through MinHash-LSH (k=32, 16 bands × r=2),
  * whose recall is probabilistic in the corpus — a pair at exactly
  * J=tau=0.5 is missed with p=(1−0.25)¹⁶ ≈ 1%. The gate holds because
  * the pair spectrum is measured, not assumed: at sf0.01 every
  * qualifying pair has J ≥ 0.69 (miss ≤ 3e-5) and at sf0.1 J ≥ 0.6
  * with only 12 pairs under 0.7 (expected misses ≈ 5e-3 — and since
  * the MinHash seeds are fixed, recall is *deterministic* per corpus:
  * both shipped scale factors verify green, and reruns cannot flake).
  * New data with pairs sitting at the tau boundary would need wider
  * banding (more bands of r=2) or a rows-only carve-out like q43/q80.
  */
object DedupQueries extends QueryPack {

  /** docs ∪ near-duplicate mutations of their even-id half — ONE
    * definition of the planted-mutation scheme (id + 10000, three
    * appended OOV words), shared by the full corpus and the bounded
    * calibration sample so the two can never drift. */
  private def corpusFrom(docs: DataFrame): DataFrame =
    docs.unionAll(docs.filter(col("doc_id") % 2 === 0).select(
      (col("doc_id") + 10000L).as("doc_id"),
      concat(col("text"), lit(" zq0 zq1 zq2")).as("text")))

  private def corpus(s: SparkSession, d: String): DataFrame =
    corpusFrom(Tables.documents(s, d).select(col("doc_id"), col("text")))

  private val spanK = 8

  /** Tokenized docs + positioned word 8-grams over [[corpus]] —
    * shared by the span family (q377/q378 dup spans, q379
    * contamination spans). */
  private def docShingles(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val docs = corpus(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val sh = docs.filter(size(col("ws")) >= spanK)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(ws) - ${spanK - 1}), " +
          s"j -> array_join(slice(ws, j, $spanK), ' '))"))
        .as(Seq("i0", "sh")))
    (docs, sh)
  }

  /** Interval union per doc (gaps-and-islands): fuse marks
    * (doc_id, st, en) into maximal spans (doc_id, isl, s0, e0) — a
    * mark starts a new span iff it begins past every earlier mark's
    * end + 1, so touching marks fuse. Window partitions on the DOC,
    * never the corpus. */
  private[graft] def fuseSpans(marks: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("st"))
    marks
      .withColumn("pmax", max(col("en"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("nw", when(col("pmax").isNull
        || col("st") > col("pmax") + 1, 1L).otherwise(0L))
      .withColumn("isl", sum(col("nw"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("st")).as("s0"), max(col("en")).as("e0"))
  }

  /** The pre-materialization build plan behind [[dupSpans]] —
    * package-visible so PlanQualitySpec can assert on the REAL build
    * (the memoized parquet read would otherwise hide the shingle
    * semi join and fusion windows from the inspected plan — review
    * finding). */
  private[graft] def dupSpanBuild(s: SparkSession,
      d: String): DataFrame = {
    val (_, sh) = docShingles(s, d)
    val dup = sh.groupBy(col("sh"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select(col("sh"))
    val marks = sh.join(dup, Seq("sh"), "left_semi")
      .select(col("doc_id"), col("i0").cast("long").as("st"),
        (col("i0") + spanK - 1).cast("long").as("en"))
    fuseSpans(marks).select(col("doc_id"), col("s0"), col("e0"))
  }

  /** The ExactSubstr duplicated-span set (doc_id, s0, e0) shared by
    * q377 (audit) and q378 (removal): maximal runs of token positions
    * covered by word 8-grams occurring in ≥2 distinct docs — one
    * shingle-keyed shuffle + a semi join back + the per-doc fusion.
    * Deterministic (span membership is a set property of the corpus),
    * so it follows the stdPairs shared-leg discipline: materialized
    * to parquet once per (app, dataset) and re-read by both
    * consumers instead of re-running the shingle shuffle twice. */
  private def dupSpans(s: SparkSession, d: String): DataFrame =
    memoizedParquet(s, d, "graft-dupspans-")(dupSpanBuild(s, d))

  /** The STANDARD-PARAMETER LSH near-dup pair set over [[corpus]]
    * (shingleN=3, k=32, bands=16, τ=0.5) — six queries (q42, q81,
    * q153, q168, q260, q304) consume exactly this pair set, and each
    * used to rebuild the full MinHash pipeline from the raw corpus
    * (~2 s × 6 at sf0.1). Same shared-leg discipline as the memoized
    * perceptron trainer (TextQueries) and the graph family's
    * co-occurrence edge list (GraphQueries): materialized to parquet
    * once per (app, dataset) — the table outlives the scope of the
    * query that builds it — and re-read by every consumer. The pair set is
    * deterministic (exact-Jaccard verified, so LSH banding order
    * can't affect membership), hence the materialized table is
    * bit-identical to a fresh build and no oracle changes. */
  private def stdPairs(s: SparkSession, d: String): DataFrame =
    memoizedParquet(s, d, "graft-lshpairs-")(
      Dedup.minhashNearDupPairs(corpus(s, d), "doc_id", "text",
        shingleN = 3, k = 32, bands = 16, tau = 0.5))

  /** Near-dup clusters over [[stdPairs]] — the (doc_id, cluster_id)
    * labeling four of the six consumers need. Deterministic (min-label
    * components), memoized the same way. */
  private def stdClusters(s: SparkSession, d: String): DataFrame =
    memoizedParquet(s, d, "graft-lshclusters-")(
      Dedup.nearDupClusters(stdPairs(s, d)))

  /** The pack's three memoized shared tables, exposed for the bench's
    * separately billed pre-build pass (r14 verdict task 6 — q377's
    * suite wall swung 0.36→5.88 s depending on whether it paid the
    * span-set build). Clusters force pairs, listed after it so each
    * row bills only its own increment. */
  override def prebuilds: Map[String, (SparkSession, String) => Unit] =
    Map(
      "build_dup_spans" -> ((s, d) => { dupSpans(s, d); () }),
      // numbered so the bench's name-sorted pass runs pairs first
      // and the clusters row bills only its own increment
      "build_lsh1_pairs" -> ((s, d) => { stdPairs(s, d); () }),
      "build_lsh2_clusters" -> ((s, d) => { stdClusters(s, d); () }))

  private val corpusSql =
    """SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 10000 AS doc_id, text || ' zq0 zq1 zq2' AS text
      | FROM documents WHERE doc_id % 2 = 0""".stripMargin

  /** ABSOLUTE-BOUNDED calibration sample (q184/q185): the `CalibDocs`
    * base documents with the smallest md5(decimal id string), plus
    * their planted mutations. A fixed SIZE, not a fixed fraction —
    * the exact-Jaccard truth leg of a sketch calibration costs
    * O(sample²) candidate work, so an id-parity or modulus sample
    * (which keeps half the corpus) would grow linearly with corpus
    * size and turn "measure the sketch" into a corpus-scale dedup
    * run at 100 TB; hash-rank top-K keeps the measurement cost
    * constant forever. md5 of the id is the selection key because
    * DuckDB recomputes it bit-identically (md5(doc_id::VARCHAR)),
    * the rank cut is a TakeOrdered (never a full sort), and the
    * uniform hash makes the sample unbiased. Mutations are derived
    * FROM the sampled base docs, so every planted near-dup pair
    * enters or leaves the sample as a unit — the truth and sketch
    * legs always see whole pairs. */
  private val CalibDocs = 400

  private def calibCorpus(s: SparkSession, d: String): DataFrame = {
    // sample FIRST, then derive the planted mutations from the
    // sampled base docs — the same construction as corpus() applied
    // to the bounded sample. Pair-unit preservation holds BY
    // CONSTRUCTION (a mutation exists iff its base was sampled), for
    // any base-id range: no fold-by-threshold (which silently
    // misclassified ids ≥ 10000, e.g. ScaleGen replica corpora) and
    // no corpus-scale membership join.
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        md5(col("doc_id").cast("string")).as("hk"))
      .orderBy(col("hk"), col("doc_id")).limit(CalibDocs)
      .select(col("doc_id"), col("text"))
    corpusFrom(base)
  }

  /** DuckDB form of [[calibCorpus]] — standalone CTE pair yielding
    * the identical `corpus` rows. */
  private val calibCorpusSql =
    s"""samp AS (SELECT doc_id, text FROM documents
      |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $CalibDocs),
      | corpus AS (SELECT doc_id, text FROM samp
      |  UNION ALL SELECT doc_id + 10000 AS doc_id,
      |   text || ' zq0 zq1 zq2' AS text
      |  FROM samp WHERE doc_id % 2 = 0)""".stripMargin

  protected val entries: Map[String, Query] = Map(
    // Exact dedup: shuffle digests, keep min id. On the derived corpus
    // every text is still unique (mutations differ) — so run it on a
    // corpus that also duplicates some texts verbatim.
    // Survivor-quality regret: the min-id survivor policy (q81) is
    // the industry default because it's order-free — but is it
    // keeping the BEST copy? Per near-dup cluster: the survivor's
    // quality score vs the cluster's best, and the regret — the table
    // that decides whether to upgrade to quality-argmax survivors
    // (worth a second shuffle only if regret is material). Quality is
    // the rounded 6-dp gate score, so comparisons are engine-exact;
    // cluster recompute is q81's machinery.
    "q260_survivor_quality" -> ((s, d) => {
      val cor = corpus(s, d)
      val comp = stdClusters(s, d)
      val scored = cor.select(col("doc_id"),
        TextAnalysis.qualityExpr(col("text")).as("qs"))
      comp.join(scored, "doc_id")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          max(when(col("doc_id") === col("cluster_id"), col("qs")))
            .as("survivor_q"),
          max(col("qs")).as("best_q"))
        .select(col("cluster_id"), col("n_members"),
          col("survivor_q"), col("best_q"),
          round(col("best_q") - col("survivor_q"), 6).as("regret"),
          (col("best_q") > col("survivor_q")).as("suboptimal"))
    }),
    // Transitive decontamination: benchmark contamination propagates
    // through NEAR-DUP CLUSTERS, not just direct matches — if
    // benchmark doc A near-dups B and B near-dups C, C must be
    // flagged even when J(A,C) is below threshold (the documented
    // GPT-3/Llama decontamination gap: dropping only direct matches
    // leaves paraphrase chains in). Salt: two mutation generations
    // (+6 and +12 marker words) put A~B and B~C above τ=0.85 while
    // mid-length docs' A~C falls below it — chain-only linkage the
    // cluster pass must close. High τ keeps every true pair far up
    // the 16×2 LSH S-curve (miss ~1e-9), so the exact oracle's
    // recursive-reachability recompute matches deterministically.
    "q257_transitive_decontamination" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val mark6 = " zx1 zx2 zx3 zx4 zx5 zx6"
      val mark12 = mark6 + " zx7 zx8 zx9 zx10 zx11 zx12"
      val cor = docs
        .unionAll(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 20000L).as("doc_id"),
            concat(col("text"), lit(mark6)).as("text")))
        .unionAll(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 40000L).as("doc_id"),
            concat(col("text"), lit(mark12)).as("text")))
      val pairs = Dedup.minhashNearDupPairs(cor, "doc_id", "text",
        shingleN = 3, k = 32, bands = 16, tau = 0.85)
      val comp = hold(Dedup.nearDupClusters(pairs)) // read twice below
      val seeds = docs.filter(col("doc_id") % 29 === 0)
        .select(col("doc_id"))
      val cont = comp.join(seeds, Seq("doc_id"), "left_semi")
        .select(col("cluster_id")).distinct()
      comp.join(broadcast(cont), Seq("cluster_id"), "left_semi")
        .select(col("cluster_id"),
          when(col("doc_id") % 29 === 0 && col("doc_id") < 20000, 1L)
            .otherwise(0L).as("is_seed"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("is_seed")).as("n_seeds"),
          sum(lit(1L) - col("is_seed")).as("n_flagged"))
    }),
    // Deletion-sweep propagation (right-to-be-forgotten over a
    // deduped corpus): when source documents are deleted, every
    // exact-dup group whose SURVIVOR died must promote its next
    // member, and groups whose members all died must purge their
    // derived rows — the operational sweep any GDPR/takedown request
    // triggers against the q41 survivor map. Deletion list planted
    // (doc_id % 41), corpus salted with q41's copies so promotions
    // actually occur. One scan + one fingerprint-keyed agg; output
    // bounded by affected groups.
    "q252_deletion_sweep" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 20000L).as("doc_id"), col("text")))
      val g = corpus.select(md5(col("text")).as("fp"), col("doc_id"),
        (col("doc_id") % 41 === 0).as("deleted"))
      g.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("old_keep"),
          count(lit(1)).as("n_members"),
          sum(when(col("deleted"), 1L).otherwise(0L)).as("n_deleted"),
          coalesce(min(when(!col("deleted"), col("doc_id"))),
            lit(-1L)).as("new_keep"))
        .filter(col("n_deleted") > 0)
        .select(col("fp"), col("old_keep"), col("n_members"),
          col("n_deleted"), col("new_keep"),
          (col("new_keep") === -1L).as("fully_purged"),
          (col("new_keep") =!= col("old_keep")).as("survivor_changed"))
    }),
    "q41_dedup_exact" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val withCopies = docs.unionAll(
        docs.filter(col("doc_id") % 5 === 0).select(
          (col("doc_id") + 20000L).as("doc_id"), col("text")))
      Dedup.exact(withCopies, "doc_id", "text")
    }),
    // Streaming-safe incremental near-dup screen: one MICRO-BATCH of
    // arriving docs (bounded hash-rank sample of planted mutations —
    // micro-batches are fixed-size by nature, and the row-local
    // probe's interpreted in-row fold is priced per BATCH, never per
    // corpus) screened against the full static base index. The
    // incoming pipeline is map-only (row-local shingles → in-row
    // arithmetic minhash fold → band tuples) + one stream-static band
    // join + row-local verify — ZERO streaming state, so the same
    // function screens live micro-batches exactly-once (DedupSpec
    // proves batch⇌incremental parity). The oracle recomputes
    // shingles, signatures, buckets, candidates, and Jaccard
    // relationally — min over a set is fold-order-free.
    "q200_stream_neardup_screen" -> ((s, d) => {
      val batch = Tables.documents(s, d)
        .filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"),
          md5(col("doc_id").cast("string")).as("hk"))
        .orderBy(col("hk"), col("doc_id")).limit(500)
        // +1e9 offset (not the corpus() +10000 convention): batch ids
        // must never collide with REAL base ids on corpora whose id
        // domain exceeds 10000 (ScaleGen replicas start at 20000)
        .select((col("doc_id") + 1000000000L).as("doc_id"),
          concat(col("text"), lit(" zq0 zq1 zq2")).as("text"))
        // the global top-k LIMIT above collapses the batch to ONE
        // partition, and the band projection (shingle md5 × k minhash
        // folds per row) would run single-core on it (measured 1.9 s
        // in one task at sf0.1) — spread the survivors first
        .repartition(s.sparkContext.defaultParallelism)
      Dedup.streamNearDupScreen(batch,
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          "doc_id", "text", shingleN = 3, k = 8, bands = 4, tau = 0.5)
        .select(col("doc_new"), col("doc_base"), col("inter_sz"),
          col("union_sz"), round(col("jaccard"), 6).as("jaccard"))
    }),
    // MinHash(k=32) + LSH(16 bands × 2) + exact-Jaccard verify.
    "q42_dedup_minhash" -> ((s, d) =>
      stdPairs(s, d)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6)
          .as("jaccard"))),
    // SimHash near-dups, hamming ≤ 3. Feature hash = md5Hash60 (first
    // 15 md5 hex digits): the oracle recomputes the identical 60-bit
    // signatures digit-for-digit in DuckDB, so the whole sketch —
    // shingling, per-bit majorities, popcount verify — is
    // differentially checked, not rows-only. (Production callers
    // default to the cheaper xxhash64 family via simhashNearDupPairs;
    // DedupSpec proves the two variants find the same pair set here.)
    "q43_dedup_simhash" -> ((s, d) =>
      Dedup.simhashNearDupPairsFrom(
        Dedup.wordShingles(corpus(s, d), "doc_id", "text", 3)
          .select(col("doc_id"),
            Dedup.md5Hash60(col("shingle")).as("shingle")),
        maxHamming = 3, bits = 60)),
    // Chunk-level dedup: md5-fingerprint every 32-token/stride-16
    // sliding window (the q178 chunking geometry) and report
    // fingerprints appearing in MORE THAN ONE document — duplication
    // at retrieval-chunk granularity, which doc-level dedup misses
    // when a document EMBEDS another (the corpus mutations do exactly
    // that, so every full chunk of an even doc duplicates). Chunk
    // construction is row-local; one shuffle on the 16-byte digest.
    "q181_chunk_dedup" -> ((s, d) => {
      val chunks = corpus(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("w"),
          size(col("w")).cast("long").as("l"))
        .select(col("doc_id"), col("w"), col("l"),
          explode(sequence(lit(0L), greatest(lit(0L),
            graft.functions.NowFunctions.intDiv(
              col("l") - 32 + 15, lit(16L))))).as("cn"))
        .select(col("doc_id"), md5(array_join(slice(col("w"),
          (col("cn") * 16 + 1).cast("int"),
          least(lit(32L), col("l") - col("cn") * 16).cast("int")), " "))
          .as("fp"))
      chunks.groupBy(col("fp"))
        .agg(count(lit(1)).as("n_copies"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("first_doc"))
        .filter(col("n_docs") > 1)
    }),
    // Sketch calibration: precision/recall of SimHash banding against
    // EXACT Jaccard-≥0.7 ground truth, per hamming threshold 1..3 —
    // the measurement that picks a production hamming cutoff (how
    // much precision does each extra bit of tolerance spend for how
    // much recall?). h ≤ 3 < 4 chunks keeps the pigeonhole candidate
    // join EXHAUSTIVE at every grid point, so the numbers are exact
    // properties of the sketch, not of the bucketing. All ingredients
    // (md5-family simhash, exact Jaccard) are oracle-recomputable.
    "q184_simhash_calibration" -> ((s, d) => {
      // calibrate on the hash-rank bounded sample (calibCorpus): the
      // curve is a property of the SKETCH, not the corpus size, so a
      // fixed-size unbiased sample changes nothing methodologically
      // while capping the exact-truth leg at O(CalibDocs²) forever
      val c = calibCorpus(s, d)
      // ONE held shingle pass feeds both the SimHash leg and the exact
      // truth leg — re-shingling per leg would repeat the
      // tokenize+explode pass over the sample
      val sh = hold(Dedup.wordShingles(c, "doc_id", "text", 3)
        .select(col("doc_id"), Dedup.md5Hash60(col("shingle")).as("shingle")))
      val sim = Dedup.simhashNearDupPairsFrom(sh, maxHamming = 3, bits = 60)
      // truth feeds BOTH the corpus-wide count and the per-pair join —
      // held, or the whole exact-Jaccard pass runs twice
      val truth = hold(Dedup.ngramJaccardPairsFrom(sh, tau = 0.7)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("t")))
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      val grid = sim
        .join(truth, Seq("doc_a", "doc_b"), "left")
        .select(explode(sequence(greatest(col("hamming"), lit(1L)),
          lit(3L))).as("max_hamming"),
          coalesce(col("t"), lit(0L)).as("t"))
        .groupBy(col("max_hamming"))
        .agg(count(lit(1)).as("n_detected"), sum(col("t")).as("tp"))
      s.range(1, 4).select(col("id").as("max_hamming"))
        .join(grid, Seq("max_hamming"), "left")
        .crossJoin(broadcast(nTruth))
        .select(col("max_hamming"),
          coalesce(col("n_detected"), lit(0L)).as("n_detected"),
          coalesce(col("tp"), lit(0L)).as("tp"),
          col("n_truth"),
          round(when(coalesce(col("n_detected"), lit(0L)) > 0,
            coalesce(col("tp"), lit(0L)).cast("double") /
              col("n_detected")).otherwise(lit(0.0)), 6).as("precision"),
          round(coalesce(col("tp"), lit(0L)).cast("double") /
            col("n_truth"), 6).as("recall"))
    }),
    // LSH banding S-curve: empirical candidate recall of a k=8,
    // 4-band×2-row MinHash banding per Jaccard decile, against exact
    // pairs ≥ 0.5 — the measurement behind every "how many bands do I
    // need" decision. Uses the ARITHMETIC signature family, so the
    // DuckDB oracle recomputes the ACTUAL signatures, buckets, and
    // candidate set bit-for-bit: this is a differential check of the
    // LSH pipeline itself, not (like q42) of its verified output
    // under a recall assumption.
    "q185_lsh_scurve" -> ((s, d) => {
      // hash-rank bounded sample + one shared shingle pass (q184 note)
      val c = calibCorpus(s, d)
      val shl = hold(Dedup.wordShingles(c, "doc_id", "text", 3)
        .select(col("doc_id"), Dedup.md5Hash60(col("shingle")).as("shingle")))
      // signature frame feeds both sides of the bucket self-join
      val sig = hold(Dedup.minHashSignaturesArith(shl, k = 8))
      val cand = Dedup.lshCandidatePairsArith(sig, k = 8, bands = 4)
        .withColumn("hit", lit(1L))
      // truth feeds the bucket counts AND the join (q184 lifecycle)
      val truth = hold(Dedup.ngramJaccardPairsFrom(shl, tau = 0.5))
      truth.join(cand, Seq("doc_a", "doc_b"), "left")
        .select(least(floor(col("jaccard") * 10).cast("long"), lit(9L))
            .as("j_bucket"),
          coalesce(col("hit"), lit(0L)).as("hit"))
        .groupBy(col("j_bucket"))
        .agg(count(lit(1)).as("n_truth"), sum(col("hit")).as("n_caught"))
        .select(col("j_bucket"), col("n_truth"), col("n_caught"),
          round(col("n_caught").cast("double") / col("n_truth"), 6)
            .as("recall"))
    }),
    // ORACLE COUPLING (q168, and q153 below): the LSH candidate pass
    // is probabilistically recall-bounded, but the oracle computes
    // exact all-pairs Jaccard; equality holds because this fixture's
    // true pairs sit at J≈0.9, where 16-band×2-row recall is ~1-1e-9.
    // DedupSpec("LSH recall is 100% on the fixture corpus") pins this
    // so a fixture change fails loudly there, not flakily here.
    // Per-source near-dup rate: which sources ship the duplication —
    // the triage signal that decides WHERE to spend dedup effort (a
    // source at 40% near-dup gets a crawler fix; 0.1% gets a filter).
    // Pairs come from the standard LSH pipeline on the salted corpus;
    // mutation ids fold back to their base document before the
    // per-source rollup, so rates are in original-corpus terms.
    "q168_source_dup_rate" -> ((s, d) => {
      val pairs = stdPairs(s, d)
      // explode, not unionAll-of-two-selects: a union would evaluate
      // the whole LSH pair subtree twice when the caller runs unsealed
      val baseIds = pairs
        .select(explode(array(col("doc_a"), col("doc_b"))).as("id"))
        .select(when(col("id") >= 10000L, col("id") - 10000L)
          .otherwise(col("id")).as("doc_id"))
        .distinct()
      Tables.documents(s, d).select(col("doc_id"), col("source"))
        .join(baseIds.withColumn("dup", lit(1L)), Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("dup"), lit(0L))).as("n_near_dup"),
          round(sum(coalesce(col("dup"), lit(0L))).cast("double") /
            count(lit(1)), 6).as("dup_rate"))
    }),
    // Leakage-safe train/test split: assign documents to splits by
    // hashing their near-dup CLUSTER root, not their own id — so a
    // document and all its near-duplicates land in the SAME split and
    // the test set can never be contaminated by a training-set twin
    // (hash-of-doc_id splitting, q71, has exactly that leak on this
    // corpus: every mutation pair would split independently).
    // Composition: MinHash-LSH pairs → connected components → root =
    // cluster min id (own id when unclustered) → split by the q71
    // hash of the root. The oracle recomputes the full transitive
    // closure recursively, so cluster-atomicity of the split is
    // verified, not assumed.
    "q153_leakage_safe_split" -> ((s, d) => {
      val c = corpus(s, d)
      val clusters = stdClusters(s, d)
      c.select(col("doc_id")).join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("root"))
        .withColumn("split",
          when(pmod(col("root") * 2654435761L, lit(100L)) < 80,
            lit("train")).otherwise(lit("test")))
    }),
    // Containment dedup: ordered pairs where ≥90% of doc_a's word
    // 3-gram set appears in doc_b — catches doc-inside-doc duplication
    // (the corpus mutations contain their originals verbatim, so every
    // orig→mutated direction scores exactly 1.0; the reverse direction
    // only qualifies for long docs where sz/(sz+3) ≥ 0.9). Prefix-
    // filtered probe side, exact intersection verify.
    "q140_containment" -> ((s, d) =>
      // fanout tried and REVERTED (r16): the corpus union scans as 2
      // partitions and the shingle tokenize+hash burns ~1 s of cpu on
      // 2 cores (QueryProfile), but fanning it to 32 made the QUERY
      // slower relative to an untouched same-run control (q44):
      // control-normalized walls 1.61/1.64x raw vs 2.01/2.05x fanned
      // across two paired reps=5 rounds — the persisted 32-partition
      // shingle frame taxes every one of the pipeline's downstream
      // derivations (3 branches + window), the same multi-derivation
      // loss the r15 blanket corpus fanout measured. Absolute walls
      // disagreed between rounds (box drift ±80%); the paired ratio is
      // the credible signal.
      Dedup.containmentPairs(corpus(s, d), "doc_id", "text",
        n = 3, tau = 0.9)),
    // Duplicated-substring SPAN accounting (the ExactSubstr dedup of
    // Lee et al. 2021, "Deduplicating Training Data Makes Language
    // Models Better", re-expressed relationally): every word 8-gram
    // that occurs in ≥2 DISTINCT docs marks its 8 token positions as
    // duplicated; overlapping/adjacent marks fuse into MAXIMAL spans
    // per doc (the suffix-array byte ranges of the paper), and each
    // affected doc reports its span count, duplicated-token total and
    // duplicated fraction. The reference paper removes the spans;
    // this emits the audit that decides removal. 100 TB shape: one
    // shuffle on the shingle (at scale the 8-gram would be hashed —
    // the string key here keeps the oracle exact), the frequency
    // filter is a semi-join back to positions, and the span fusion is
    // a per-doc window (partition = doc, never corpus). No driver
    // loop, no all-pairs stage anywhere.
    "q377_dup_spans" -> ((s, d) => {
      val docs = corpus(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      val perDoc = dupSpans(s, d).groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_spans"),
          sum(col("e0") - col("s0") + 1).cast("long")
            .as("dup_tokens"))
      val tok = docs.select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"))
      perDoc.join(tok, Seq("doc_id"))
        .select(col("doc_id"), col("n_spans"), col("dup_tokens"),
          col("n_tokens"),
          graft.functions.NowFunctions.intDiv(
            col("dup_tokens") * 1000000L, col("n_tokens"))
            .as("dup_ppm"))
    }),
    // Duplicated-span REMOVAL — the operation ExactSubstr dedup
    // actually performs (q377 is its audit): every token inside a
    // maximal duplicated span is dropped and each affected doc's
    // surviving tokens are re-joined in order. Emitted per AFFECTED
    // doc (untouched docs pass through any pipeline unchanged —
    // shipping them would just re-copy the corpus): kept token count
    // and the cleaned text; a fully-duplicated doc survives as the
    // empty string (the paper's "remove the whole document" case
    // falls out of the same arithmetic). 100 TB shape: the span set
    // is the q377 build; coverage explodes spans back to positions
    // (output-bounded: ≤ corpus tokens), the keep-filter is one
    // (doc, pos)-keyed anti join, and the re-join is a per-doc
    // ordered aggregation.
    "q378_dup_span_removal" -> ((s, d) => {
      val docs = corpus(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      val spans = dupSpans(s, d)
      val affected = spans.select(col("doc_id")).distinct()
      // restrict the exploded positions to AFFECTED docs before the
      // anti join — without this the ordered re-join aggregates the
      // whole corpus and throws everything but the affected docs away
      // at the final join (review finding: the exact corpus-recopy
      // cost this operator is designed to avoid)
      val positions = docs.join(affected, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          posexplode(col("ws")).as(Seq("i", "w")))
      val covered = spans.select(col("doc_id"),
        explode(expr("sequence(s0, e0)")).as("pos"))
      val kept = positions
        .join(covered, positions("doc_id") === covered("doc_id") &&
          positions("i").cast("long") === covered("pos"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("kept_tokens"),
          expr("array_join(transform(array_sort(" +
            "collect_list(struct(i, w))), p -> p.w), ' ')")
            .as("clean_text"))
      affected
        .join(docs.select(col("doc_id"),
          size(col("ws")).cast("long").as("n_tokens")), Seq("doc_id"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
    }),
    // Span-level BENCHMARK DECONTAMINATION (the GPT-3 appendix-C /
    // FLAN n-gram-collision procedure at span granularity): a
    // designated EVAL set (base docs with doc_id % 97 = 0 — config,
    // like any benchmark registry) contributes its word 8-grams; a
    // TRAIN doc's position is contaminated iff its 8-gram appears in
    // the eval set, and contaminated positions fuse into maximal
    // spans (same islands as q377). Differs from q107 (doc-level
    // bloom screen) and q257 (transitive closure over near-dup
    // links): this is exact span accounting against a fixed eval
    // corpus — what you publish in a model card. 100 TB shape: eval
    // shingles are benchmark-sized (broadcastable in practice; the
    // semi join stays keyed either way), everything else is the q377
    // machinery.
    "q379_contamination_spans" -> ((s, d) => {
      val (docs, sh) = docShingles(s, d)
      val isEval = col("doc_id") % 97 === 0 && col("doc_id") < 10000L
      val evalSh = sh.filter(isEval).select(col("sh")).distinct()
      val marks = sh.filter(!isEval)
        .join(evalSh, Seq("sh"), "left_semi")
        .select(col("doc_id"), col("i0").cast("long").as("st"),
          (col("i0") + spanK - 1).cast("long").as("en"))
      val perDoc = fuseSpans(marks).groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_spans"),
          sum(col("e0") - col("s0") + 1).cast("long")
            .as("contam_tokens"))
      val tok = docs.select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"))
      perDoc.join(tok, Seq("doc_id"))
        .select(col("doc_id"), col("n_spans"), col("contam_tokens"),
          col("n_tokens"),
          graft.functions.NowFunctions.intDiv(
            col("contam_tokens") * 1000000L, col("n_tokens"))
            .as("contam_ppm"))
    }),
    // Exact word-bigram Jaccard, all pairs ≥ 0.5 via shingle equi-join.
    "q44_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(corpus(s, d), "doc_id", "text",
          n = 2, tau = 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6)
          .as("jaccard"))),
    // Near-dup clusters: MinHash pairs → connected components →
    // min-id cluster labels (the keep-one survivor). The oracle
    // recomputes components with a recursive reachability CTE over
    // the exact-Jaccard pair set, so transitive closure is verified.
    "q81_dedup_clusters" -> ((s, d) => stdClusters(s, d)),
    // Cluster-aware train/eval split (the leakage-free folding
    // WMT/FineWeb-style pipelines require): fold by KNUTH-HASHED
    // near-dup CLUSTER id, never by doc id, so near-duplicates can
    // never straddle a split — with the leakage audit run BOTH ways:
    // cluster folding must show 0 cross-fold near-dup pairs by
    // construction, while the naive doc-id folding of the same corpus
    // shows the positive leak count that motivates the operator
    // (q223's stratified k-fold balances sizes; this one guarantees
    // independence). Singleton docs are their own cluster.
    "q304_cluster_split" -> ((s, d) => {
      val cor = corpus(s, d)
      val pairs = stdPairs(s, d)
      val clusters = stdClusters(s, d)
      val M = 1000000007L
      def knuth(c: org.apache.spark.sql.Column) =
        pmod(pmod(c * lit(2654435761L), lit(M)), lit(5L))
      val folded = cor.select(col("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cid"))
        .select(col("doc_id"), col("cid"), knuth(col("cid")).as("fold"),
          knuth(col("doc_id")).as("fold_naive"))
      val leak = pairs
        .join(folded.select(col("doc_id").as("doc_a"),
          col("fold").as("fa"), col("fold_naive").as("na")),
          Seq("doc_a"))
        .join(folded.select(col("doc_id").as("doc_b"),
          col("fold").as("fb"), col("fold_naive").as("nb")),
          Seq("doc_b"))
        .agg(count(lit(1)).as("n_dup_pairs"),
          sum(when(col("fa") =!= col("fb"), 1L).otherwise(0L))
            .as("leak_cluster_split"),
          sum(when(col("na") =!= col("nb"), 1L).otherwise(0L))
            .as("leak_naive_split"))
      folded.groupBy(col("fold"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cid")).as("n_clusters"))
        .crossJoin(broadcast(leak))
    }),
    // Embedding near-dups: hyperplane-LSH buckets + exact cosine ≥ 0.99.
    // Derived corpus: one element of each even-id vector scaled ×1.2.
    "q45_dedup_embedding" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), VectorOps.toDoubleVec(col("embedding"))
          .as("embedding"))
      val mutated = emb.filter(col("vec_id") % 2 === 0).select(
        (col("vec_id") + 10000L).as("vec_id"),
        concat(array(element_at(col("embedding"), 1) * lit(1.2)),
          slice(col("embedding"), 2, 63)).as("embedding"))
      Dedup.embeddingNearDupPairs(emb.unionAll(mutated), "vec_id",
        "embedding", tau = 0.99, bands = 16, bitsPerBand = 8)
    }),
    // LSH candidate-pair budget WITHOUT running the pair join: per
    // band, Σ n·(n−1)/2 over bucket populations — the pre-join
    // estimate that tells a planner (and an operator author) whether
    // the band parameters will explode before any shuffle of pairs
    // happens (q197's pre-join cardinality signal, specialized to
    // LSH). One explode + two keyed aggs over the same row-local band
    // projection the streaming screen uses; integer-exact.
    "q228_lsh_pair_budget" -> ((s, d) => {
      val sh = Dedup.wordShingles(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", 3)
        .select(col("doc_id"),
          Dedup.md5Hash60(col("shingle")).as("shingle"))
      val sig = Dedup.minHashSignaturesArith(sh, k = 8)
      val bandCols = (0 until 4).map { b =>
        struct(lit(b.toLong).as("band"), col(s"mh${b * 2}").as("m0"),
          col(s"mh${b * 2 + 1}").as("m1"))
      }
      sig.select(col("doc_id"), explode(array(bandCols: _*)).as("t"))
        .groupBy(col("t.band").as("band"), col("t.m0").as("m0"),
          col("t.m1").as("m1"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(expr("(n * (n - 1)) DIV 2")).cast("long")
            .as("n_cand_pairs"),
          max(col("n")).as("max_bucket"))
    }),
    // LSH banding auto-tuner: for every (bands, r) split of the k=8
    // signature, the analytic S-curve threshold (1/b)^(1/r) AND the
    // measured bucket census (pair budget, hottest bucket) from ONE
    // shared signature frame — the table a planner reads to pick the
    // banding for a target Jaccard. Band keys are an order-weighted
    // integer fold of the r minima (row-local from the wide signature
    // columns, no per-config explode of the corpus); q228's census
    // follows per config.
    "q239_lsh_tuner" -> ((s, d) => {
      val sh = Dedup.wordShingles(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", 3)
        .select(col("doc_id"),
          Dedup.md5Hash60(col("shingle")).as("shingle"))
      val sig = hold(Dedup.minHashSignaturesArith(sh, k = 8))
      val M = 1000000007L
      val pow31 = Array(1L, 31L, 961L, 29791L, 923521L, 28629151L,
        887503681L, 512613922L) // 31^j % M, j = 0..7 (r <= 8)
      val configs = Seq((2, 4), (4, 2), (8, 1))
      val rows = configs.map { case (b, r) =>
        val slots = (0 until b).map { band =>
          val key = (0 until r).map(p =>
            pmod(col(s"mh${band * r + p}"), lit(M)) * lit(pow31(p)))
            .reduce(_ + _) % lit(M)
          struct(lit(b.toLong).as("bands"), lit(r.toLong).as("r"),
            lit(band.toLong).as("band"), key.as("key"))
        }
        sig.select(col("doc_id"), explode(array(slots: _*)).as("t"))
          .select(col("t.bands").as("bands"), col("t.r").as("r"),
            col("t.band").as("band"), col("t.key").as("key"))
      }.reduce(_ unionAll _)
      rows.groupBy(col("bands"), col("r"), col("band"), col("key"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("bands"), col("r"))
        .agg(sum(expr("(n * (n - 1)) DIV 2")).cast("long")
          .as("n_cand_pairs"),
          max(col("n")).as("max_bucket"))
        .select(col("bands"), col("r"),
          round(pow(lit(1.0) / col("bands"), lit(1.0) / col("r")), 6)
            .as("analytic_tau"),
          col("n_cand_pairs"), col("max_bucket"))
    }),
    // Memorization-canary pairs: 5-grams occurring in EXACTLY two
    // documents corpus-wide pin those two docs together — shared
    // low-frequency spans are the memorization-risk evidence BELOW
    // the near-dup threshold (an LM that regurgitates one doc leaks
    // the other). Same single-exchange gram window as q124/q219, but
    // keeping k=2 grams and folding them into per-pair counts; top-20
    // most-entangled pairs via TakeOrdered. The gram window key is
    // near-uniform; the pair agg is bounded by rare-gram mass.
    "q231_canary_pairs" -> ((s, d) => {
      val sh = Dedup.wordShingles(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", 5)
      val w = Window.partitionBy(col("shingle"))
      sh.withColumn("k", count(lit(1)).over(w))
        .filter(col("k") === 2)
        .groupBy(col("shingle"))
        .agg(min(col("doc_id")).as("doc_a"),
          max(col("doc_id")).as("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared_rare"))
        .orderBy(col("n_shared_rare").desc, col("doc_a").asc,
          col("doc_b").asc)
        .limit(20)
    }),
    // Blocking-quality audit (record-linkage's standard pair: Elmagarmid
    // et al.'s reduction ratio + pair completeness): on a deterministic
    // 250-doc hash-order sample plus planted noisy copies (the q200
    // idiom), compare the LSH blocker's candidate set against exact
    // ground truth. Truth = every pair with Jaccard ≥ 0.5, decided by
    // the INTEGER test 2·|∩| ≥ |∪| so the threshold can't flip between
    // engines; blocker = the arithmetic MinHash family, k=8 b=4 r=2,
    // with q239's polynomial band keys. The all-pairs truth pass is
    // bounded by the sample (this is an audit you run on a slice, not
    // the corpus — at 100 TB the sample is still 250 docs); the blocker
    // side is the production bucket join. Complements q239, which
    // measures cost (candidate volume) but not recall.
    "q269_blocking_quality" -> ((s, d) => {
      val samp = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        .limit(250)
      val planted = samp.filter(pmod(col("doc_id"), lit(3L)) === 0L)
        .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
          concat(col("text"), lit(" zq0 zq1 zq2")).as("text"))
      val corpus = hold(samp.unionByName(planted))
      val sh = hold(Dedup.wordShingles(corpus, "doc_id", "text", 3)
        .select(col("doc_id"),
          Dedup.md5Hash60(col("shingle")).as("shingle")))
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val truth = hold(sh.as("a").join(sh.as("b"),
          col("a.shingle") === col("b.shingle")
            && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"),
          col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.as("za"), col("doc_a") === col("za.doc_id"))
        .join(sizes.as("zb"), col("doc_b") === col("zb.doc_id"))
        .filter(col("inter") * 2L >=
          col("za.sz") + col("zb.sz") - col("inter"))
        .select(col("doc_a"), col("doc_b")))
      val sig = Dedup.minHashSignaturesArith(sh, k = 8)
      val M = 1000000007L
      val slots = (0 until 4).map { band =>
        val key = (pmod(col(s"mh${band * 2}"), lit(M))
          + pmod(col(s"mh${band * 2 + 1}"), lit(M)) * lit(31L)) % lit(M)
        struct(lit(band.toLong).as("band"), key.as("key"))
      }
      val buckets = sig
        .select(col("doc_id"), explode(array(slots: _*)).as("t"))
        .select(col("doc_id"), col("t.band").as("band"),
          col("t.key").as("key"))
      val cand = hold(buckets.as("a").join(buckets.as("b"),
          col("a.band") === col("b.band")
            && col("a.key") === col("b.key")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct())
      corpus.agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(
          cand.agg(count(lit(1)).as("n_cand_pairs"))))
        .crossJoin(broadcast(
          truth.agg(count(lit(1)).as("n_true_pairs"))))
        .crossJoin(broadcast(truth
          .join(cand, Seq("doc_a", "doc_b"), "left_semi")
          .agg(count(lit(1)).as("n_true_blocked"))))
        .select(col("n_docs"),
          call_function("div",
            col("n_docs") * (col("n_docs") - 1L), lit(2L))
            .as("n_total_pairs"),
          col("n_cand_pairs"), col("n_true_pairs"),
          col("n_true_blocked"),
          round(lit(1.0) - col("n_cand_pairs").cast("double")
            / call_function("div",
              col("n_docs") * (col("n_docs") - 1L), lit(2L))
              .cast("double"), 6).as("reduction_ratio"),
          when(col("n_true_pairs") === 0L, lit(1.0))
            .otherwise(round(col("n_true_blocked").cast("double")
              / col("n_true_pairs").cast("double"), 6))
            .as("pair_completeness"))
    }),
    // Relational Bloom-filter prefilter for decontamination: insert
    // the benchmark slice's distinct word-5-grams into an m=16384-bit
    // k=4 filter (double hashing h1+i·h2 off the md5-60 gram hash —
    // every bit position is integer arithmetic both engines replay),
    // probe every corpus gram, and report the measured false-positive
    // rate against the analytic (1−(1−1/m)^{kn})^k. This is the
    // at-scale screen in front of q73's exact 5-gram join: the bit
    // table is ≤m rows — BROADCAST-sized by construction regardless
    // of corpus size — so the probe is a map-side join + keyed agg,
    // and only the ~fp fraction of grams ever reaches the exact
    // (shuffling) membership join. The audit computes exact
    // membership for ALL probes here, precisely to measure what the
    // screen would let through.
    "q329_bloom_prefilter" -> ((s, d) => {
      val m = 16384L
      val k = 4L
      val docs = Tables.documents(s, d)
      def grams(df: DataFrame) = df
        .select(split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 5)
        .select(explode(expr(
          "transform(sequence(1, size(w) - 4), " +
            "i -> concat_ws(' ', slice(w, i, 5)))")).as("g"))
        .distinct()
      // feeds bits + membership + count (3 legs)
      val bench = cut(grams(docs.filter(col("doc_id") < 25L)))
      val h = Dedup.md5Hash60(col("g"))
      def positions(df: DataFrame) = df
        .select(col("g"), pmod(h, lit(m)).as("h1"),
          (pmod(call_function("div", h, lit(m)), lit(m)) * 2L + 1L)
            .as("h2"))
        .select(col("g"), col("h1"), col("h2"),
          explode(sequence(lit(0L), lit(k - 1L))).as("i"))
        .select(col("g"),
          pmod(col("h1") + col("i") * col("h2"), lit(m)).as("b"))
      val bits = cut(positions(bench).select(col("b")).distinct()) // ≤ m rows
      // feeds positions + exact membership
      val probes = cut(grams(docs.filter(col("doc_id") >= 25L)))
      val hit = positions(probes)
        .join(broadcast(bits.withColumn("st", lit(1L))), Seq("b"),
          "left")
        .groupBy(col("g"))
        .agg(min(coalesce(col("st"), lit(0L))).as("all_set"))
      val exact = probes.join(
        bench.select(col("g"), lit(1L).as("tr")), Seq("g"), "left")
      val nIns = bench.agg(count(lit(1)).as("n_inserted"))
      hit.join(exact, Seq("g"))
        .agg(count(lit(1)).as("n_probes"),
          sum(col("all_set")).as("n_bloom_hits"),
          sum(coalesce(col("tr"), lit(0L))).as("n_true_hits"),
          sum(when(col("all_set") === 1L && col("tr").isNull, 1L)
            .otherwise(0L)).as("n_false_pos"))
        .crossJoin(broadcast(nIns))
        .select(lit(m).as("m_bits"), lit(k).as("k_hashes"),
          col("n_inserted"), col("n_probes"), col("n_bloom_hits"),
          col("n_true_hits"), col("n_false_pos"),
          when(col("n_probes") === col("n_true_hits"), lit(0.0))
            .otherwise(round(col("n_false_pos").cast("double")
              / (col("n_probes") - col("n_true_hits")).cast("double"),
              6)).as("fp_rate"),
          round(pow(lit(1.0) - pow(lit(1.0) - lit(1.0 / m.toDouble),
            (lit(k) * col("n_inserted")).cast("double")),
            lit(k.toDouble)), 6).as("theoretical_fp"))
    })
  )

  /** Base-16 parse of md5-hex digits 1..15 as explicit shift-add terms
    * (DuckDB has no hex→int cast; 15 digits stay inside BIGINT —
    * mirrors [[Dedup.md5Hash60]]'s conv(substring(md5,1,15),16,10)). */
  private[operators] val md5Hex60Sql: String = (1 to 15).map(i =>
    s"((strpos('0123456789abcdef', substr(m, $i, 1)) - 1)::BIGINT" +
      s" << ${4 * (15 - i)})").mkString(" + ")

  val oracles: Map[String, String] = Map(
    // q185's arithmetic-family recompute, restricted to
    // incoming(≥1e9) × base(<1e9) candidates + exact Jaccard
    "q200_stream_neardup_screen" ->
      s"""WITH samp AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id % 2 = 0
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 500),
        | corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000000 AS doc_id,
        |   text || ' zq0 zq1 zq2' AS text FROM samp),
        | toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |   FROM corpus),
        | sh AS (SELECT DISTINCT doc_id,
        |   w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i)
        |  WHERE len(w) >= 3),
        | hm AS (SELECT doc_id, md5(s) AS m FROM sh),
        | hh AS (SELECT DISTINCT doc_id, $md5Hex60Sql AS h FROM hm),
        | h1 AS (SELECT doc_id, h % 1000000007 AS h1 FROM hh),
        | mins AS (SELECT doc_id, i,
        |   min((h1 * (2654435761 + 700000001*i) + 97531*i)
        |     % 999999999989) AS mh
        |  FROM h1, UNNEST(generate_series(0, 7)) AS g(i)
        |  GROUP BY 1, 2),
        | bandsv AS (SELECT doc_id, i // 2 AS b,
        |   max(CASE WHEN i % 2 = 0 THEN mh END) AS m0,
        |   max(CASE WHEN i % 2 = 1 THEN mh END) AS m1
        |  FROM mins GROUP BY 1, 2),
        | cand AS (SELECT DISTINCT n.doc_id AS doc_new,
        |   bs.doc_id AS doc_base
        |  FROM bandsv n JOIN bandsv bs ON n.b = bs.b
        |   AND n.m0 = bs.m0 AND n.m1 = bs.m1
        |  WHERE n.doc_id >= 1000000000 AND bs.doc_id < 1000000000),
        | sizes AS (SELECT doc_id, count(*) AS n FROM hh GROUP BY 1),
        | inter AS (SELECT c.doc_new, c.doc_base, count(*) AS iv
        |  FROM cand c JOIN hh a ON a.doc_id = c.doc_new
        |  JOIN hh b ON b.doc_id = c.doc_base AND b.h = a.h
        |  GROUP BY 1, 2)
        | SELECT i.doc_new, i.doc_base, CAST(iv AS BIGINT) AS inter_sz,
        |  CAST(sa.n + sb.n - iv AS BIGINT) AS union_sz,
        |  round(CAST(iv AS DOUBLE) / (sa.n + sb.n - iv), 6) AS jaccard
        | FROM inter i JOIN sizes sa ON i.doc_new = sa.doc_id
        | JOIN sizes sb ON i.doc_base = sb.doc_id
        | WHERE CAST(iv AS DOUBLE) / (sa.n + sb.n - iv) >= 0.5"""
        .stripMargin,
    "q185_lsh_scurve" ->
      s"""WITH $calibCorpusSql,
        | toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |   FROM corpus),
        | sh AS (SELECT DISTINCT doc_id,
        |   w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i)
        |  WHERE len(w) >= 3),
        | hm AS (SELECT doc_id, md5(s) AS m FROM sh),
        | hh AS (SELECT doc_id, $md5Hex60Sql AS h FROM hm),
        | h1 AS (SELECT doc_id, h % 1000000007 AS h1 FROM hh),
        | mins AS (SELECT doc_id, i,
        |   min((h1 * (2654435761 + 700000001*i) + 97531*i) % 999999999989)
        |     AS mh
        |  FROM h1, UNNEST(generate_series(0, 7)) AS g(i)
        |  GROUP BY 1, 2),
        | bands AS (SELECT doc_id, i // 2 AS b,
        |   max(CASE WHEN i % 2 = 0 THEN mh END) AS m0,
        |   max(CASE WHEN i % 2 = 1 THEN mh END) AS m1
        |  FROM mins GROUP BY 1, 2),
        | cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |  FROM bands a JOIN bands b ON a.b = b.b
        |   AND a.m0 = b.m0 AND a.m1 = b.m1 AND a.doc_id < b.doc_id),
        | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        | inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        | tr AS (SELECT da, db,
        |   CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS j
        |  FROM inter
        |  JOIN sizes sa ON da = sa.doc_id
        |  JOIN sizes sb ON db = sb.doc_id
        |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
        | bk AS (SELECT least(CAST(floor(j * 10) AS BIGINT), 9) AS jb,
        |   CASE WHEN c.da IS NOT NULL THEN 1 ELSE 0 END AS hit
        |  FROM tr t LEFT JOIN cand c ON t.da = c.da AND t.db = c.db)
        | SELECT jb AS j_bucket, count(*) AS n_truth,
        |  CAST(sum(hit) AS BIGINT) AS n_caught,
        |  round(CAST(sum(hit) AS DOUBLE) / count(*), 6) AS recall
        | FROM bk GROUP BY jb""".stripMargin,
    "q184_simhash_calibration" ->
      s"""WITH $calibCorpusSql,
        | toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |   FROM corpus),
        | sh AS (SELECT DISTINCT doc_id,
        |   w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i)
        |  WHERE len(w) >= 3),
        | hm AS (SELECT doc_id, md5(s) AS m FROM sh),
        | hh AS (SELECT doc_id, $md5Hex60Sql AS h FROM hm),
        | bits AS (SELECT doc_id, b, (h >> b) & 1 AS bit
        |  FROM hh, UNNEST(generate_series(0, 59)) AS g(b)),
        | cnt AS (SELECT doc_id, b, CAST(sum(bit) AS BIGINT) AS c,
        |   count(*) AS n FROM bits GROUP BY 1, 2),
        | sig AS (SELECT doc_id, CAST(sum(
        |   CASE WHEN 2*c > n THEN (1::BIGINT << b) ELSE 0 END)
        |   AS BIGINT) AS sg FROM cnt GROUP BY doc_id),
        | simp AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |   CAST(bit_count(xor(a.sg, b.sg)) AS BIGINT) AS hamming
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.sg, b.sg)) <= 3),
        | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        | inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        | truth AS (SELECT da, db FROM inter
        |  JOIN sizes sa ON da = sa.doc_id
        |  JOIN sizes sb ON db = sb.doc_id
        |  WHERE (i * 1.0) / (sa.n + sb.n - i) >= 0.7),
        | nt AS (SELECT count(*) AS n_truth FROM truth),
        | marked AS (SELECT s.hamming,
        |   CASE WHEN t.da IS NOT NULL THEN 1 ELSE 0 END AS t
        |  FROM simp s LEFT JOIN truth t
        |   ON s.da = t.da AND s.db = t.db),
        | grid AS (SELECT g.h AS max_hamming, count(*) AS n_detected,
        |   CAST(sum(m.t) AS BIGINT) AS tp
        |  FROM marked m,
        |   UNNEST(generate_series(greatest(m.hamming, 1), 3)) AS g(h)
        |  GROUP BY 1)
        | SELECT hs.h AS max_hamming,
        |  coalesce(n_detected, 0) AS n_detected,
        |  coalesce(tp, 0) AS tp, nt.n_truth,
        |  round(CASE WHEN coalesce(n_detected, 0) > 0
        |    THEN CAST(coalesce(tp, 0) AS DOUBLE) / n_detected
        |    ELSE 0.0 END, 6) AS precision,
        |  round(CAST(coalesce(tp, 0) AS DOUBLE) / nt.n_truth, 6)
        |    AS recall
        | FROM (SELECT unnest(generate_series(1, 3)) AS h) hs
        | LEFT JOIN grid ON hs.h = grid.max_hamming, nt""".stripMargin,
    "q181_chunk_dedup" ->
      s"""WITH corpus AS ($corpusSql),
        | d AS (SELECT doc_id, string_split(text, ' ') AS w,
        |   CAST(len(string_split(text, ' ')) AS BIGINT) AS l
        |  FROM corpus),
        | ch AS (SELECT doc_id, md5(array_to_string(
        |   w[(cn * 16 + 1):(cn * 16 + least(32, l - cn * 16))], ' '))
        |    AS fp
        |  FROM (SELECT doc_id, w, l, UNNEST(generate_series(0,
        |   greatest(0, (l - 32 + 15) // 16))) AS cn FROM d))
        | SELECT fp, count(*) AS n_copies,
        |  count(DISTINCT doc_id) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc
        | FROM ch GROUP BY fp HAVING count(DISTINCT doc_id) > 1"""
        .stripMargin,
    "q43_dedup_simhash" ->
      s"""WITH corpus AS ($corpusSql),
        | toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |   FROM corpus),
        | sh AS (SELECT DISTINCT doc_id,
        |   w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i)
        |  WHERE len(w) >= 3),
        | hm AS (SELECT doc_id, md5(s) AS m FROM sh),
        | hh AS (SELECT doc_id, $md5Hex60Sql AS h FROM hm),
        | bits AS (SELECT doc_id, b, (h >> b) & 1 AS bit
        |  FROM hh, UNNEST(generate_series(0, 59)) AS g(b)),
        | cnt AS (SELECT doc_id, b, CAST(sum(bit) AS BIGINT) AS c,
        |   count(*) AS n FROM bits GROUP BY 1, 2),
        | sig AS (SELECT doc_id, CAST(sum(
        |   CASE WHEN 2*c > n THEN (1::BIGINT << b) ELSE 0 END)
        |   AS BIGINT) AS sg FROM cnt GROUP BY doc_id)
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.sg, b.sg)) AS BIGINT) AS hamming
        | FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        | WHERE bit_count(xor(a.sg, b.sg)) <= 3""".stripMargin,
    "q260_survivor_quality" ->
      s"""WITH RECURSIVE corpus AS ($corpusSql),
        | toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |   FROM corpus),
        | sh AS (SELECT DISTINCT doc_id,
        |   w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i)
        |  WHERE len(w) >= 3),
        | sizes AS (SELECT doc_id, count(*) AS n FROM sh
        |  GROUP BY doc_id),
        | inter AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |   count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        | pairs AS (SELECT da, db FROM inter
        |  JOIN sizes sa ON da = sa.doc_id
        |  JOIN sizes sb ON db = sb.doc_id
        |  WHERE (i * 1.0) / (sa.n + sb.n - i) >= 0.5),
        | edges AS (SELECT da AS a, db AS b FROM pairs
        |  UNION SELECT db, da FROM pairs),
        | walk(v, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, w.r FROM walk w JOIN edges e ON e.a = w.v),
        | comp AS (SELECT v AS doc_id, min(r) AS cluster_id
        |  FROM walk GROUP BY v),
        | q AS (SELECT doc_id, round(CAST(
        |   CASE WHEN len(string_split(text, ' ')) >= 10
        |    THEN 0.4 ELSE 0.0 END
        |   + CASE WHEN len(list_filter(string_split(text, ' '),
        |       x -> x IN ('a','the','of','and','in','to','is'))) > 0
        |    THEN 0.3 ELSE 0.0 END
        |   + CASE WHEN (length(text)
        |       - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))
        |       * 10 < length(text)
        |    THEN 0.3 ELSE 0.0 END AS DOUBLE), 6) AS qs
        |  FROM corpus)
        | SELECT cluster_id, count(*) AS n_members,
        |  max(CASE WHEN comp.doc_id = cluster_id THEN qs END)
        |    AS survivor_q,
        |  max(qs) AS best_q,
        |  round(max(qs) - max(CASE WHEN comp.doc_id = cluster_id
        |    THEN qs END), 6) AS regret,
        |  max(qs) > max(CASE WHEN comp.doc_id = cluster_id
        |    THEN qs END) AS suboptimal
        | FROM comp JOIN q ON comp.doc_id = q.doc_id
        | GROUP BY cluster_id""".stripMargin,
    "q257_transitive_decontamination" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000 AS doc_id,
        |   text || ' zx1 zx2 zx3 zx4 zx5 zx6' AS text
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 40000 AS doc_id,
        |   text || ' zx1 zx2 zx3 zx4 zx5 zx6'
        |     || ' zx7 zx8 zx9 zx10 zx11 zx12' AS text
        |  FROM documents WHERE doc_id % 10 = 0),
        | toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |   FROM corpus),
        | sh AS (SELECT DISTINCT doc_id,
        |   w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i)
        |  WHERE len(w) >= 3),
        | sizes AS (SELECT doc_id, count(*) AS n FROM sh
        |  GROUP BY doc_id),
        | inter AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |   count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        | pairs AS (SELECT da, db FROM inter
        |  JOIN sizes sa ON da = sa.doc_id
        |  JOIN sizes sb ON db = sb.doc_id
        |  WHERE (i * 1.0) / (sa.n + sb.n - i) >= 0.85),
        | edges AS (SELECT da AS a, db AS b FROM pairs
        |  UNION SELECT db, da FROM pairs),
        | walk(v, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, w.r FROM walk w JOIN edges e ON e.a = w.v),
        | comp AS (SELECT v AS doc_id, min(r) AS cluster_id
        |  FROM walk GROUP BY v),
        | cont AS (SELECT DISTINCT cluster_id FROM comp
        |  JOIN (SELECT doc_id FROM documents WHERE doc_id % 29 = 0) s
        |   USING (doc_id)),
        | f AS (SELECT comp.cluster_id,
        |   CASE WHEN comp.doc_id % 29 = 0 AND comp.doc_id < 20000
        |    THEN 1 ELSE 0 END AS is_seed
        |  FROM comp JOIN cont ON comp.cluster_id = cont.cluster_id)
        | SELECT cluster_id, count(*) AS n_members,
        |  CAST(sum(is_seed) AS BIGINT) AS n_seeds,
        |  CAST(sum(1 - is_seed) AS BIGINT) AS n_flagged
        | FROM f GROUP BY 1""".stripMargin,
    "q252_deletion_sweep" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000 AS doc_id, text FROM documents
        |  WHERE doc_id % 5 = 0),
        | g AS (SELECT md5(text) AS fp, doc_id,
        |   doc_id % 41 = 0 AS deleted FROM corpus),
        | agg AS (SELECT fp, min(doc_id) AS old_keep,
        |   count(*) AS n_members,
        |   CAST(sum(CASE WHEN deleted THEN 1 ELSE 0 END) AS BIGINT)
        |     AS n_deleted,
        |   coalesce(min(CASE WHEN NOT deleted THEN doc_id END), -1)
        |     AS new_keep
        |  FROM g GROUP BY 1)
        | SELECT fp, old_keep, n_members, n_deleted, new_keep,
        |  new_keep = -1 AS fully_purged,
        |  new_keep <> old_keep AS survivor_changed
        | FROM agg WHERE n_deleted > 0""".stripMargin,
    "q41_dedup_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000 AS doc_id, text FROM documents
        |  WHERE doc_id % 5 = 0)
        | SELECT md5(text) AS fp, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        | FROM corpus GROUP BY md5(text)""".stripMargin,
    "q42_dedup_minhash" ->
      s"""WITH corpus AS ($corpusSql),
        | toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        | sh AS (SELECT DISTINCT doc_id,
        |   w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i)
        |  WHERE len(w) >= 3),
        | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        | inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        | SELECT da AS doc_a, db AS doc_b,
        |  round((i * 1.0) / (sa.n + sb.n - i), 6) AS jaccard
        | FROM inter
        | JOIN sizes sa ON da = sa.doc_id
        | JOIN sizes sb ON db = sb.doc_id
        | WHERE (i * 1.0) / (sa.n + sb.n - i) >= 0.5""".stripMargin,
    "q377_dup_spans" ->
      s"""WITH corpus AS ($corpusSql),
        | d AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM corpus),
        | sh AS (SELECT doc_id, u.j - 1 AS i0,
        |   array_to_string(ws[u.j : u.j + 7], ' ') AS sh
        |  FROM d, UNNEST(generate_series(1, len(ws) - 7)) AS u(j)
        |  WHERE len(ws) >= 8),
        | dup AS (SELECT sh FROM sh GROUP BY sh
        |  HAVING count(DISTINCT doc_id) > 1),
        | mk AS (SELECT s.doc_id, CAST(s.i0 AS BIGINT) AS st,
        |   CAST(s.i0 + 7 AS BIGINT) AS en
        |  FROM sh s JOIN dup USING (sh)),
        | pm AS (SELECT *, max(en) OVER (PARTITION BY doc_id
        |    ORDER BY st ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND 1 PRECEDING) AS pmax FROM mk),
        | ni AS (SELECT *, CASE WHEN pmax IS NULL OR st > pmax + 1
        |    THEN 1 ELSE 0 END AS nw FROM pm),
        | il AS (SELECT *, sum(nw) OVER (PARTITION BY doc_id
        |    ORDER BY st ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS isl FROM ni),
        | sp AS (SELECT doc_id, isl, min(st) AS s0, max(en) AS e0
        |  FROM il GROUP BY 1, 2),
        | pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |   CAST(sum(e0 - s0 + 1) AS BIGINT) AS dup_tokens
        |  FROM sp GROUP BY 1),
        | tk AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens
        |  FROM d)
        | SELECT p.doc_id, p.n_spans, p.dup_tokens, t.n_tokens,
        |  p.dup_tokens * 1000000 // t.n_tokens AS dup_ppm
        | FROM pd p JOIN tk t USING (doc_id)""".stripMargin,
    "q378_dup_span_removal" ->
      s"""WITH corpus AS ($corpusSql),
        | d AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM corpus),
        | sh AS (SELECT doc_id, u.j - 1 AS i0,
        |   array_to_string(ws[u.j : u.j + 7], ' ') AS sh
        |  FROM d, UNNEST(generate_series(1, len(ws) - 7)) AS u(j)
        |  WHERE len(ws) >= 8),
        | dup AS (SELECT sh FROM sh GROUP BY sh
        |  HAVING count(DISTINCT doc_id) > 1),
        | mk AS (SELECT s.doc_id, CAST(s.i0 AS BIGINT) AS st,
        |   CAST(s.i0 + 7 AS BIGINT) AS en
        |  FROM sh s JOIN dup USING (sh)),
        | pm AS (SELECT *, max(en) OVER (PARTITION BY doc_id
        |    ORDER BY st ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND 1 PRECEDING) AS pmax FROM mk),
        | ni AS (SELECT *, CASE WHEN pmax IS NULL OR st > pmax + 1
        |    THEN 1 ELSE 0 END AS nw FROM pm),
        | il AS (SELECT *, sum(nw) OVER (PARTITION BY doc_id
        |    ORDER BY st ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS isl FROM ni),
        | sp AS (SELECT doc_id, isl, min(st) AS s0, max(en) AS e0
        |  FROM il GROUP BY 1, 2),
        | aff AS (SELECT DISTINCT doc_id FROM sp),
        | pos AS (SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS i,
        |   ws[u.i] AS w
        |  FROM d, UNNEST(generate_series(1, len(ws))) AS u(i)
        |  WHERE doc_id IN (SELECT doc_id FROM aff)),
        | cov AS (SELECT doc_id, u.p AS pos
        |  FROM sp, UNNEST(generate_series(s0, e0)) AS u(p)),
        | kept AS (SELECT p.doc_id,
        |   CAST(count(*) AS BIGINT) AS kept_tokens,
        |   string_agg(p.w, ' ' ORDER BY p.i) AS clean_text
        |  FROM pos p LEFT JOIN cov c
        |   ON p.doc_id = c.doc_id AND p.i = c.pos
        |  WHERE c.pos IS NULL GROUP BY 1),
        | tk AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens
        |  FROM d)
        | SELECT a.doc_id, t.n_tokens,
        |  CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
        |  coalesce(k.clean_text, '') AS clean_text
        | FROM aff a JOIN tk t USING (doc_id)
        | LEFT JOIN kept k USING (doc_id)""".stripMargin,
    "q379_contamination_spans" ->
      s"""WITH corpus AS ($corpusSql),
        | d AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM corpus),
        | sh AS (SELECT doc_id, u.j - 1 AS i0,
        |   array_to_string(ws[u.j : u.j + 7], ' ') AS sh
        |  FROM d, UNNEST(generate_series(1, len(ws) - 7)) AS u(j)
        |  WHERE len(ws) >= 8),
        | ev AS (SELECT DISTINCT sh FROM sh
        |  WHERE doc_id % 97 = 0 AND doc_id < 10000),
        | mk AS (SELECT s.doc_id, CAST(s.i0 AS BIGINT) AS st,
        |   CAST(s.i0 + 7 AS BIGINT) AS en
        |  FROM sh s JOIN ev USING (sh)
        |  WHERE NOT (s.doc_id % 97 = 0 AND s.doc_id < 10000)),
        | pm AS (SELECT *, max(en) OVER (PARTITION BY doc_id
        |    ORDER BY st ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND 1 PRECEDING) AS pmax FROM mk),
        | ni AS (SELECT *, CASE WHEN pmax IS NULL OR st > pmax + 1
        |    THEN 1 ELSE 0 END AS nw FROM pm),
        | il AS (SELECT *, sum(nw) OVER (PARTITION BY doc_id
        |    ORDER BY st ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS isl FROM ni),
        | sp AS (SELECT doc_id, isl, min(st) AS s0, max(en) AS e0
        |  FROM il GROUP BY 1, 2),
        | pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |   CAST(sum(e0 - s0 + 1) AS BIGINT) AS contam_tokens
        |  FROM sp GROUP BY 1),
        | tk AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens
        |  FROM d)
        | SELECT p.doc_id, p.n_spans, p.contam_tokens, t.n_tokens,
        |  p.contam_tokens * 1000000 // t.n_tokens AS contam_ppm
        | FROM pd p JOIN tk t USING (doc_id)""".stripMargin,
    "q140_containment" ->
      s"""WITH corpus AS ($corpusSql),
        | toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        | sh AS (SELECT DISTINCT doc_id,
        |   w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i)
        |  WHERE len(w) >= 3),
        | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        | inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        | SELECT da AS doc_a, db AS doc_b,
        |  round((i * 1.0) / sa.n, 6) AS containment
        | FROM inter JOIN sizes sa ON da = sa.doc_id
        | WHERE (i * 1.0) / sa.n >= 0.9""".stripMargin,
    "q44_ngram_jaccard" ->
      s"""WITH corpus AS ($corpusSql),
        | toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        | sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS s
        |  FROM toks, UNNEST(generate_series(1, len(w)-1)) AS t(i)
        |  WHERE len(w) >= 2),
        | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        | inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        | SELECT da AS doc_a, db AS doc_b,
        |  round((i * 1.0) / (sa.n + sb.n - i), 6) AS jaccard
        | FROM inter
        | JOIN sizes sa ON da = sa.doc_id
        | JOIN sizes sb ON db = sb.doc_id
        | WHERE (i * 1.0) / (sa.n + sb.n - i) >= 0.5""".stripMargin,
    "q168_source_dup_rate" ->
      s"""WITH corpus AS ($corpusSql),
        | toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        | sh AS (SELECT DISTINCT doc_id,
        |   w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i)
        |  WHERE len(w) >= 3),
        | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        | inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        | pairs AS (SELECT da, db FROM inter
        |  JOIN sizes sa ON da = sa.doc_id
        |  JOIN sizes sb ON db = sb.doc_id
        |  WHERE (i * 1.0) / (sa.n + sb.n - i) >= 0.5),
        | ids AS (SELECT DISTINCT
        |   CASE WHEN id >= 10000 THEN id - 10000 ELSE id END AS doc_id
        |  FROM (SELECT da AS id FROM pairs
        |        UNION ALL SELECT db FROM pairs))
        | SELECT d.source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN ids.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_near_dup,
        |  round(sum(CASE WHEN ids.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    * 1.0 / count(*), 6) AS dup_rate
        | FROM documents d LEFT JOIN ids ON d.doc_id = ids.doc_id
        | GROUP BY d.source""".stripMargin,
    "q153_leakage_safe_split" ->
      s"""WITH RECURSIVE corpus AS ($corpusSql),
        | toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        | sh AS (SELECT DISTINCT doc_id,
        |   w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i)
        |  WHERE len(w) >= 3),
        | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        | inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        | pairs AS (SELECT da, db FROM inter
        |  JOIN sizes sa ON da = sa.doc_id
        |  JOIN sizes sb ON db = sb.doc_id
        |  WHERE (i * 1.0) / (sa.n + sb.n - i) >= 0.5),
        | edges AS (SELECT da AS a, db AS b FROM pairs
        |  UNION SELECT db, da FROM pairs),
        | walk(v, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, w.r FROM walk w JOIN edges e ON e.a = w.v),
        | cl AS (SELECT v AS doc_id, min(r) AS cluster_id
        |  FROM walk GROUP BY v),
        | rooted AS (SELECT c.doc_id,
        |   coalesce(cl.cluster_id, c.doc_id) AS root
        |  FROM corpus c LEFT JOIN cl ON c.doc_id = cl.doc_id)
        | SELECT doc_id, root,
        |  CASE WHEN (root * 2654435761) % 100 < 80
        |   THEN 'train' ELSE 'test' END AS split
        | FROM rooted""".stripMargin,
    "q81_dedup_clusters" ->
      s"""WITH RECURSIVE corpus AS ($corpusSql),
        | toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        | sh AS (SELECT DISTINCT doc_id,
        |   w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i)
        |  WHERE len(w) >= 3),
        | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        | inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        | pairs AS (SELECT da, db FROM inter
        |  JOIN sizes sa ON da = sa.doc_id
        |  JOIN sizes sb ON db = sb.doc_id
        |  WHERE (i * 1.0) / (sa.n + sb.n - i) >= 0.5),
        | edges AS (SELECT da AS a, db AS b FROM pairs
        |  UNION SELECT db, da FROM pairs),
        | walk(v, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, w.r FROM walk w JOIN edges e ON e.a = w.v)
        | SELECT v AS doc_id, min(r) AS cluster_id
        | FROM walk GROUP BY v""".stripMargin,
    "q304_cluster_split" ->
      s"""WITH RECURSIVE corpus AS ($corpusSql),
        | toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM corpus),
        | sh AS (SELECT DISTINCT doc_id,
        |   w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i)
        |  WHERE len(w) >= 3),
        | sizes AS (SELECT doc_id, count(*) AS n FROM sh
        |  GROUP BY doc_id),
        | inter AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |   count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        | pairs0 AS (SELECT da, db FROM inter
        |  JOIN sizes sa ON da = sa.doc_id
        |  JOIN sizes sb ON db = sb.doc_id
        |  WHERE (i * 1.0) / (sa.n + sb.n - i) >= 0.5),
        | edges AS (SELECT da AS a, db AS b FROM pairs0
        |  UNION SELECT db, da FROM pairs0),
        | walk(v, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, w.r FROM walk w JOIN edges e ON e.a = w.v),
        | clus AS (SELECT v AS doc_id, min(r) AS cluster_id
        |  FROM walk GROUP BY v),
        | ff AS (SELECT c.doc_id,
        |   coalesce(cl.cluster_id, c.doc_id) AS cid,
        |   ((coalesce(cl.cluster_id, c.doc_id) * 2654435761)
        |     % 1000000007) % 5 AS fold,
        |   ((c.doc_id * 2654435761) % 1000000007) % 5 AS fold_naive
        |  FROM corpus c LEFT JOIN clus cl ON c.doc_id = cl.doc_id),
        | leak AS (SELECT CAST(count(*) AS BIGINT) AS n_dup_pairs,
        |   CAST(sum(CASE WHEN a.fold <> b.fold THEN 1 ELSE 0 END)
        |    AS BIGINT) AS leak_cluster_split,
        |   CAST(sum(CASE WHEN a.fold_naive <> b.fold_naive
        |     THEN 1 ELSE 0 END) AS BIGINT) AS leak_naive_split
        |  FROM pairs0 p JOIN ff a ON p.da = a.doc_id
        |   JOIN ff b ON p.db = b.doc_id)
        | SELECT CAST(fold AS BIGINT) AS fold,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT cid) AS BIGINT) AS n_clusters,
        |  max(n_dup_pairs) AS n_dup_pairs,
        |  max(leak_cluster_split) AS leak_cluster_split,
        |  max(leak_naive_split) AS leak_naive_split
        | FROM ff CROSS JOIN leak GROUP BY 1""".stripMargin,
    "q45_dedup_embedding" ->
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | corpus AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 10000 AS vec_id,
        |   list_concat([v[1] * 1.2], v[2:]) AS v
        |  FROM base WHERE vec_id % 2 = 0),
        | flat AS (SELECT vec_id, i, v[i] AS x
        |  FROM corpus, UNNEST(generate_series(1, len(v))) AS t(i)),
        | dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |   sum(a.x * b.x) AS dp
        |  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2),
        | norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm
        |  FROM flat GROUP BY vec_id)
        | SELECT id_a, id_b,
        |  round(dp / (na.nrm * nb.nrm), 6) AS cosine
        | FROM dots
        | JOIN norms na ON id_a = na.vec_id
        | JOIN norms nb ON id_b = nb.vec_id
        | WHERE dp / (na.nrm * nb.nrm) >= 0.99""".stripMargin,
    "q228_lsh_pair_budget" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |   FROM documents),
        | sh AS (SELECT DISTINCT doc_id,
        |   w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i)
        |  WHERE len(w) >= 3),
        | hm AS (SELECT doc_id, md5(s) AS m FROM sh),
        | hh AS (SELECT DISTINCT doc_id, $md5Hex60Sql AS h FROM hm),
        | h1 AS (SELECT doc_id, h % 1000000007 AS h1 FROM hh),
        | mins AS (SELECT doc_id, i,
        |   min((h1 * (2654435761 + 700000001*i) + 97531*i)
        |     % 999999999989) AS mh
        |  FROM h1, UNNEST(generate_series(0, 7)) AS g(i)
        |  GROUP BY 1, 2),
        | bandsv AS (SELECT doc_id, i // 2 AS b,
        |   max(CASE WHEN i % 2 = 0 THEN mh END) AS m0,
        |   max(CASE WHEN i % 2 = 1 THEN mh END) AS m1
        |  FROM mins GROUP BY 1, 2),
        | bucket AS (SELECT b, m0, m1, count(*) AS n
        |  FROM bandsv GROUP BY 1, 2, 3)
        | SELECT CAST(b AS BIGINT) AS band, count(*) AS n_buckets,
        |  CAST(sum((n * (n - 1)) // 2) AS BIGINT) AS n_cand_pairs,
        |  CAST(max(n) AS BIGINT) AS max_bucket
        | FROM bucket GROUP BY 1""".stripMargin,
    "q239_lsh_tuner" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |   FROM documents),
        | sh AS (SELECT DISTINCT doc_id,
        |   w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i)
        |  WHERE len(w) >= 3),
        | hm AS (SELECT doc_id, md5(s) AS m FROM sh),
        | hh AS (SELECT DISTINCT doc_id, $md5Hex60Sql AS h FROM hm),
        | h1 AS (SELECT doc_id, h % 1000000007 AS h1 FROM hh),
        | mins AS (SELECT doc_id, i,
        |   min((h1 * (2654435761 + 700000001*i) + 97531*i)
        |     % 999999999989) AS mh
        |  FROM h1, UNNEST(generate_series(0, 7)) AS g(i)
        |  GROUP BY 1, 2),
        | cfg AS (SELECT * FROM (VALUES (CAST(2 AS BIGINT),
        |   CAST(4 AS BIGINT)), (4, 2), (8, 1)) c(bands, r)),
        | keys AS (SELECT cfg.bands, cfg.r, mins.doc_id,
        |   CAST(i // cfg.r AS BIGINT) AS band,
        |   CAST(sum((mh % 1000000007) * CASE i % cfg.r
        |     WHEN 0 THEN 1 WHEN 1 THEN 31 WHEN 2 THEN 961
        |     WHEN 3 THEN 29791 WHEN 4 THEN 923521
        |     WHEN 5 THEN 28629151 WHEN 6 THEN 887503681
        |     WHEN 7 THEN 512613922 END) % 1000000007
        |    AS BIGINT) AS key
        |  FROM mins CROSS JOIN cfg
        |  GROUP BY 1, 2, 3, 4),
        | census AS (SELECT bands, r, band, key, count(*) AS n
        |  FROM keys GROUP BY 1, 2, 3, 4)
        | SELECT bands, r,
        |  round(pow(1.0 / bands, 1.0 / r), 6) AS analytic_tau,
        |  CAST(sum((n * (n - 1)) // 2) AS BIGINT) AS n_cand_pairs,
        |  CAST(max(n) AS BIGINT) AS max_bucket
        | FROM census GROUP BY 1, 2""".stripMargin,
    "q231_canary_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |   FROM documents),
        | sh AS (SELECT DISTINCT doc_id,
        |   w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
        |     || ' ' || w[i+4] AS s
        |  FROM toks, UNNEST(generate_series(1, len(w)-4)) AS t(i)
        |  WHERE len(w) >= 5),
        | cnt AS (SELECT s, count(*) AS k FROM sh GROUP BY 1),
        | pairs AS (SELECT sh.s, min(doc_id) AS doc_a,
        |   max(doc_id) AS doc_b
        |  FROM sh JOIN cnt ON sh.s = cnt.s WHERE k = 2
        |  GROUP BY sh.s)
        | SELECT doc_a, doc_b, count(*) AS n_shared_rare
        | FROM pairs GROUP BY 1, 2
        | ORDER BY 3 DESC, 1, 2 LIMIT 20""".stripMargin,
    // sample + plants + truth + the arithmetic-family blocker all
    // replayed relationally; the Jaccard threshold is the integer
    // 2·inter ≥ union test on both sides
    "q269_blocking_quality" ->
      s"""WITH samp AS (SELECT doc_id, text FROM documents
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 250),
        | corpus AS (SELECT doc_id, text FROM samp
        |  UNION ALL SELECT doc_id + 1000000000 AS doc_id,
        |   text || ' zq0 zq1 zq2' AS text
        |  FROM samp WHERE doc_id % 3 = 0),
        | toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM corpus),
        | shs AS (SELECT DISTINCT doc_id,
        |   w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sg
        |  FROM toks, UNNEST(generate_series(1, len(w)-2)) t(i)
        |  WHERE len(w) >= 3),
        | hm AS (SELECT doc_id, md5(sg) AS m FROM shs),
        | sh AS (SELECT DISTINCT doc_id, $md5Hex60Sql AS shingle
        |  FROM hm),
        | sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        | it AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |   count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |   AND a.doc_id < b.doc_id GROUP BY 1, 2),
        | truth AS (SELECT doc_a, doc_b FROM it
        |  JOIN sz za ON it.doc_a = za.doc_id
        |  JOIN sz zb ON it.doc_b = zb.doc_id
        |  WHERE 2 * i >= za.sz + zb.sz - i),
        | h1 AS (SELECT doc_id, shingle % 1000000007 AS h1 FROM sh),
        | mins AS (SELECT doc_id, i,
        |   min((h1 * (2654435761 + 700000001 * i) + 97531 * i)
        |     % 999999999989) AS mh
        |  FROM h1 CROSS JOIN UNNEST(generate_series(0, 7)) t(i)
        |  GROUP BY 1, 2),
        | keys AS (SELECT doc_id, CAST(i // 2 AS BIGINT) AS band,
        |   CAST(sum((mh % 1000000007)
        |     * CASE WHEN i % 2 = 0 THEN 1 ELSE 31 END)
        |    % 1000000007 AS BIGINT) AS key
        |  FROM mins GROUP BY doc_id, i // 2),
        | cand AS (SELECT DISTINCT a.doc_id AS doc_a,
        |   b.doc_id AS doc_b
        |  FROM keys a JOIN keys b ON a.band = b.band
        |   AND a.key = b.key AND a.doc_id < b.doc_id),
        | nn AS (SELECT count(*) AS n_docs FROM corpus),
        | nc AS (SELECT count(*) AS n_cand_pairs FROM cand),
        | nt AS (SELECT count(*) AS n_true_pairs FROM truth),
        | nb AS (SELECT count(*) AS n_true_blocked FROM truth t
        |  WHERE EXISTS (SELECT 1 FROM cand c
        |   WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b))
        | SELECT n_docs,
        |  CAST(n_docs * (n_docs - 1) // 2 AS BIGINT) AS n_total_pairs,
        |  n_cand_pairs, n_true_pairs, n_true_blocked,
        |  round(1.0 - CAST(n_cand_pairs AS DOUBLE)
        |    / CAST(n_docs * (n_docs - 1) // 2 AS DOUBLE), 6)
        |   AS reduction_ratio,
        |  CASE WHEN n_true_pairs = 0 THEN 1.0
        |   ELSE round(CAST(n_true_blocked AS DOUBLE)
        |     / CAST(n_true_pairs AS DOUBLE), 6) END
        |   AS pair_completeness
        | FROM nn CROSS JOIN nc CROSS JOIN nt CROSS JOIN nb""".stripMargin,
    "q329_bloom_prefilter" ->
      s"""WITH d5 AS (SELECT doc_id, string_split(text, ' ') AS w
        |   FROM documents),
        | bg AS (SELECT DISTINCT w[i] || ' ' || w[i+1] || ' ' ||
        |    w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS g
        |  FROM d5, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
        |  WHERE len(w) >= 5 AND doc_id < 25),
        | pg AS (SELECT DISTINCT w[i] || ' ' || w[i+1] || ' ' ||
        |    w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS g
        |  FROM d5, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
        |  WHERE len(w) >= 5 AND doc_id >= 25),
        | bh AS (SELECT g, $md5Hex60Sql AS h
        |  FROM (SELECT g, md5(g) AS m FROM bg)),
        | bpos AS (SELECT DISTINCT
        |    ((h % 16384) + i * (((h // 16384) % 16384) * 2 + 1))
        |      % 16384 AS b
        |  FROM bh, UNNEST([0, 1, 2, 3]) AS t(i)),
        | ph AS (SELECT g, $md5Hex60Sql AS h
        |  FROM (SELECT g, md5(g) AS m FROM pg)),
        | ppos AS (SELECT g,
        |    ((h % 16384) + i * (((h // 16384) % 16384) * 2 + 1))
        |      % 16384 AS b
        |  FROM ph, UNNEST([0, 1, 2, 3]) AS t(i)),
        | hits AS (SELECT g, min(CASE WHEN b IN (SELECT b FROM bpos)
        |    THEN 1 ELSE 0 END) AS all_set
        |  FROM ppos GROUP BY g),
        | j AS (SELECT h.g, h.all_set,
        |    CASE WHEN h.g IN (SELECT g FROM bg) THEN 1 ELSE 0 END
        |      AS tr
        |  FROM hits h),
        | a AS (SELECT CAST(count(*) AS BIGINT) AS n_probes,
        |   CAST(sum(all_set) AS BIGINT) AS n_bloom_hits,
        |   CAST(sum(tr) AS BIGINT) AS n_true_hits,
        |   CAST(sum(CASE WHEN all_set = 1 AND tr = 0 THEN 1 ELSE 0
        |     END) AS BIGINT) AS n_false_pos FROM j),
        | ni AS (SELECT CAST(count(*) AS BIGINT) AS n_inserted FROM bg)
        | SELECT CAST(16384 AS BIGINT) AS m_bits,
        |  CAST(4 AS BIGINT) AS k_hashes, n_inserted, n_probes,
        |  n_bloom_hits, n_true_hits, n_false_pos,
        |  CASE WHEN n_probes = n_true_hits THEN 0.0
        |   ELSE round(CAST(n_false_pos AS DOUBLE)
        |     / CAST(n_probes - n_true_hits AS DOUBLE), 6) END
        |   AS fp_rate,
        |  round(power(1.0 - power(1.0 - 1.0 / 16384.0,
        |    CAST(4 * n_inserted AS DOUBLE)), 4.0), 6)
        |   AS theoretical_fp
        | FROM a CROSS JOIN ni""".stripMargin
  )
}
