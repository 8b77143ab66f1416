package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for headline queries → PLANS.md, the
  * reviewable evidence that scans prune, filters push down, dims
  * broadcast, and aggregates combine map-side. Regenerate with:
  * `sbt "runMain graft.Plans"`. */
object Plans {
  def main(args: Array[String]): Unit = {
    // sfDir: first arg wins, then SPARK_GRAFT_SF_DIR (an arg that was
    // silently ignored regenerated the 100x plan file at sf0.01 once)
    val sfDir = args.headOption.orElse(
      sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse(
      "/root/testdata/sf0.01")
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val headline = Seq(
      "q01_pricing_summary" -> "group-agg with scaled-long exact sums",
      "q02_fullscan_filter" -> "scan + pushed filters + pruned schema",
      "q08_count_star" -> "metadata-thin count(*)",
      "q27_join_agg_nation" -> "broadcast dimension join + partial agg",
      "q42_dedup_minhash" -> ("MinHash+LSH near-dup: reads the " +
        "family-shared materialized pair set (one parquet scan; the " +
        "LSH build runs once per dataset, not per query)"),
      "q47_ann_ivf" -> "IVF ANN probe (broadcast semi-join)",
      "q53_window_tumbling" -> "event-time tumbling window aggregation",
      "q70_graph_common" -> ("co-occurrence pairs: single groupBy + " +
        "in-row pair expansion (no self-join)"),
      "q76_asof_join" -> ("as-of join: tagged union + running last " +
        "over (key,time) — one shuffle, no theta join"),
      "q77_range_join" -> ("interval join: bin-exploded equi-join + " +
        "residual filter"),
      "q103_gap_islands" -> ("per-user window + two aggregations on " +
        "ONE reused hash partitioning (single Exchange)"),
      "q104_triangles" -> ("degree-ordered triangle count: bounded " +
        "wedge fan-out, no cartesian"),
      "q107_bloom_decontaminate" -> ("Bloom prefilter ahead of the " +
        "shuffle; exact verify join on survivors"),
      "q114_unigram_xent" -> ("broadcast vocabulary LM into per-doc " +
        "term counts"),
      "q118_recall_at_k" -> ("batch IVF probe: broadcast queries + " +
        "probed cells, one corpus pass"),
      "q117_tokenize" -> ("distributed vocab rank: range exchange + " +
        "pid-partitioned row_number + broadcast offsets — NO " +
        "single-partition window"),
      "q99_ntile_bands" -> ("exact ntile from distributed rank + " +
        "broadcast scalar N — no global sort"),
      "q102_concurrency" -> ("two-pass partitioned prefix sum with " +
        "carry-ins"),
      "q120_interval_join" -> ("stream-stream interval join: " +
        "time-bounded equi-join, state = lag horizon"),
      "q125_gap_fill" -> ("LOCF resample: dense per-user grid joined " +
        "back to the SAME (user,bin) aggregate (ReusedExchange), " +
        "keyed LOCF window"),
      "q132_phash_dedup" -> ("perceptual-hash near-dup: 4x15-bit " +
        "pigeonhole bucket join, popcount verify — no all-pairs"),
      "q140_containment" -> ("containment dedup: rarest-prefix probe " +
        "joins the inverted index, exact intersection verify — hot " +
        "shingles never enter the candidate join"),
      "q145_pagerank" -> ("integer PageRank: 3 unrolled join+agg " +
        "iterations, one DAG, no per-iteration driver scalar"),
      "q146_jl_projection" -> ("JL projection: broadcast sign matrix " +
        "into the exploded corpus, map-side-combined (id,j) sums"),
      "q148_label_noise" -> ("label-noise screen: broadcast centroid " +
        "vectors, row-local cosines, corpus never self-joins"),
      "q152_dup_spans" -> ("duplicated-span extraction: occurrence " +
        "window on hashed positional grams, interval merge inside " +
        "the doc partition — two keyed shuffles, no suffix array"),
      "q166_psi_drift" -> ("PSI drift: decile edges broadcast from " +
        "the early half, one (type,band,half) count shuffle, " +
        "decimal-exact term sum"),
      "q177_bm25_topk" -> ("BM25 retrieval: query-term filter below " +
        "the tf shuffle, 1-row stats broadcast, global top-k as " +
        "TakeOrdered — no full sort"),
      "q178_window_chunks" -> ("sliding-window chunking: row-local " +
        "sequence explode, ZERO exchanges"),
      "q179_window_heavy_hitters" -> ("windowed Misra-Gries sketch " +
        "(mergeable streaming state) + exact verify join of " +
        "cap-bounded candidates"),
      "q184_simhash_calibration" -> ("sketch calibration on the " +
        "hash-rank BOUNDED sample (TakeOrdered cut, broadcast ids): " +
        "cost is constant in corpus size"),
      "q187_repetition" -> ("Gopher repetition profile: per-row gram " +
        "sort + run-length fold, ZERO exchanges"),
      "q188_pii_scrub" -> ("PII scrub: per-row regex count + redact, " +
        "ZERO exchanges"),
      "q189_fuzzy_link" -> ("blocked fuzzy linkage: suffix-key " +
        "equi-join bounds candidates, codegen'd Levenshtein verify"),
      "q196_kcore" -> ("k-core peeling on the top-2000-edge graph: " +
        "TakeOrdered edge cut, then per-round degree agg + two " +
        "semi-joins, lineage cut per round"),
      "q197_join_size_estimate" -> ("KMV join-size estimate: 1-row " +
        "sketch broadcast, theta-filter BEFORE the k-bounded " +
        "aggregate — never the join itself"),
      "q198_bigram_xent" -> ("bigram LM: row-local bigram explode, " +
        "per-doc multiset collapses first, global table derives from " +
        "the SAME exchange (ReusedExchange)"),
      "q200_stream_neardup_screen" -> ("streaming near-dup screen: " +
        "slim band-bucket join (no array payload), per-pair array " +
        "re-attach AFTER candidate dedup, row-local verify"),
      "q201_label_propagation" -> ("label propagation: 4 unrolled " +
        "edge-join + weight-agg + argmax rounds on the " +
        "scale-constant top-2000-edge graph"),
      "q205_epoch_shuffle" -> ("deterministic epoch shuffle: " +
        "distributed rank over (epoch, knuth-hash, id) — range " +
        "exchange + pid-partitioned row_number, NO single-partition " +
        "window"),
      "q206_token_budget" -> ("token-budget selection: two-pass " +
        "partitioned prefix sum in quality order + broadcast 1-row " +
        "budget scalar"),
      "q209_ccnet_buckets" -> ("CCNet perplexity terciles: histogram " +
        "quantiles per lang (bins = distinct rounded scores, no " +
        "per-lang sort of the corpus), broadcast thresholds, " +
        "row-local bucket assign"),
      "q210_semantic_dedup" -> ("SemDeDup: persisted IVF assignment, " +
        "within-cluster pair equi-join on centroid_id (never " +
        "all-pairs), row-local cosine verify"),
      "q211_cluster_sample" -> ("cluster-balanced √n sampling: " +
        "bounded per-cluster hash-order window + broadcast quota " +
        "table"),
      "q212_clip_filter" -> ("CLIP-score pair filter: row-local " +
        "feature-hash text encode, (doc,dim) long-form dot product, " +
        "one pairing join — no dense-vector UDF, no all-pairs"),
      "q213_dsir_weights" -> ("DSIR importance weights: two " +
        "vocab-bounded LM broadcasts off one token stream, per-doc " +
        "fold, TakeOrdered cut — no global sort"),
      "q215_unimax_cap" -> ("UniMax budget waterfill: L-bounded " +
        "driver allocation broadcast back; partial-epoch prefix = " +
        "ONE distributed prefix sum ordered language-major (no " +
        "per-language window)"),
      "q216_kcenter_coreset" -> ("greedy k-center: broadcast-center " +
        "scans, row-local struct array_min assignment — no join, no " +
        "shuffle beyond the final 4-row agg"),
      "q217_margin_bitext" -> ("margin bitext mining: broadcast " +
        "target stratum, persisted integer-cosine pairs feed both " +
        "top-k legs and the margin join"),
      "q219_ngram_novelty" -> ("novelty curve: single-exchange gram " +
        "window carrying min(doc_id); decile via broadcast max-id " +
        "scalar — no rank pass"),
      "q220_difficulty_prune" -> ("difficulty pruning: persisted " +
        "scores feed correct-filter, lazy triangle-cumulate class " +
        "bases, and the final accounting — one training run, no " +
        "count collect"),
      "q221_ood_outliers" -> ("OOD screen: one explode, label×dim " +
        "moment agg broadcast back, keyed distance agg — no window"),
      "q225_multiprobe_lsh" -> ("multi-probe LSH: persisted exact " +
        "integer buckets, query-side-only probe explode, " +
        "bucket-equi candidate join — never all-pairs"),
      "q226_pq_adc" -> ("PQ/ADC: persisted sub-distance frame feeds " +
        "codes AND query tables; 384-row broadcast distance table; " +
        "per-query windows bounded by the query batch"),
      "q244_matryoshka" -> ("matryoshka audit: ONE persisted flat " +
        "pass × 3-row dims grid, broadcast query stratum, keyed " +
        "integer dot aggs, 15 bounded (dims,query) windows"),
      "q245_unigram_drift" -> ("JS drift: one token pass, " +
        "vocab-keyed count agg, 1-row totals broadcast, " +
        "1e-9-quantized long term sum — order-free"),
      "q250_bigram_entropy" -> ("bigram conditional entropy: " +
        "row-local bigram explode, (source,w1,w2) agg feeds " +
        "(source,w1) margin via second agg, broadcast totals, " +
        "quantized long term sum"),
      "q256_audio_fingerprint" -> ("audio landmark dedup: " +
        "mapPartitions energy decode, per-clip peak windows, " +
        "fingerprint-equi self-join — never all-pairs"),
      "q257_transitive_decontamination" -> ("contamination through " +
        "near-dup clusters: LSH band join + adaptive " +
        "union-find/min-label components, seed semi-joins"),
      "q258_ivf_maintenance" -> ("incremental IVF health: three " +
        "corpus×nlist broadcast passes (Lloyd round + two " +
        "assignments), nlist-bounded full-outer summary"),
      "q270_backoff_lm" -> ("stupid-backoff trigram LM: gram-keyed " +
        "count joins (no corpus² anywhere), persisted bigram/unigram " +
        "tables reused across the three tiers"),
      "q279_source_sketch_jaccard" -> ("KMV source-pair similarity: " +
        "K·k sketch rows fan out to K² pairs via two broadcast " +
        "pair joins — the vocab never enters the pair join"),
      "q285_ndcg_eval" -> ("nDCG@10 eval: posting-list partitions " +
        "only (term-keyed windows), broadcast query terms and " +
        "1-row corpus stats, both DCG legs off one scored frame"),
      "q287_greedy_coverage" -> ("greedy submodular coverage: T=5 " +
        "rounds of count-agg + bigram-keyed anti-join against the " +
        "persisted DISTINCT bigram frame; covered set never " +
        "collected"),
      "q288_theil_sen" -> ("Theil-Sen trend: disjoint pairs via ONE " +
        "shifted-id equi-join (no window, no n² cross), exact " +
        "median of integer micro-slopes"),
      "q289_personalized_pagerank" -> ("personalized PageRank: 3 " +
        "unrolled integer iterations, teleport frame computed once " +
        "and reused, per-iteration one keyed contrib shuffle"),
      "q290_two_stage_recall" -> ("two-stage retrieval audit: " +
        "in-row codegen'd integer dots (DotLong) over a broadcast " +
        "nested-loop pairing — no dimension-index join, no wide " +
        "aggregate; candidate funnel and rerank are query-partitioned " +
        "windows over ≤50 rows"),
      "q292_kaplan_meier" -> ("Kaplan-Meier: per-user lifetime agg, " +
        "day-grid broadcast at-risk join, ≤31-row triangle " +
        "cumulative product in micro-nats"),
      "q325_chunk_stats" -> ("RAG chunking audit: row-local " +
        "sequence explode, ONE keyed agg — zero joins"),
      "q328_source_quantiles" -> ("exact per-group quantiles: one " +
        "range-exchange distributedRank + broadcast K-row offsets + " +
        "3-row percentile grid — NO per-group window, group skew " +
        "cannot serialize"),
      "q329_bloom_prefilter" -> ("relational Bloom audit: ≤m-row bit " +
        "table broadcast into the probe explode, keyed all-bits agg, " +
        "exact-membership join only for the audit"),
      "q331_feature_spearman" -> ("feature rank-correlation matrix: " +
        "ONE distributedRank over the 4N long form (offsets are " +
        "exact N multiples), doc-keyed pair self-join — two " +
        "exchanges total"),
      "q333_zorder_layout" -> ("z-order vs linear layout audit: " +
        "integer Morton interleave in-row, both layouts ranked in " +
        "ONE range exchange (layout-tagged union), two keyed aggs — " +
        "no global window, no per-layout pass"),
      "q335_posting_compression" -> ("posting-list delta-width audit: " +
        "ONE distributedRank over (term, doc_id) + rank+1 self-join — " +
        "a PARTITION BY term window would serialize stopword " +
        "posting lists through one task"),
      "q336_encoding_advisor" -> ("columnar encoding advisor: all 5 " +
        "columns' run counts from ONE rank+1 self-join pass; " +
        "distinct counts in one Expand aggregate"),
      "q345_window_rank" -> ("dialect window functions: ranking + " +
        "running sum in ONE window exchange hash-partitioned on " +
        "l_orderkey — never a global window"),
      "q347_ansi_join" -> ("dialect ANSI 3-table join: equi-keys " +
        "extracted from ON exprs, AQE broadcasts the fitting side, " +
        "filter pushed below both joins"),
      "q351_kruskal_wallis" -> ("k-group rank test: value-level " +
        "count table + broadcast cumulative triangle — ranks " +
        "without any row-level window"),
      "q360_length_gini" -> ("per-source Gini: value-level " +
        "(count, sum) cumulative triangle keyed by source; exact " +
        "longs, volume bounded by distinct lengths, not rows"),
      "q362_sql_rollup" -> ("dialect GROUP BY ROLLUP: one Expand + " +
        "hash aggregate (never L+1 unioned scans)"),
      "q365_sinkhorn_ot" -> ("entropic OT: bounded 900-cell kernel " +
        "as a broadcast frame; each Sinkhorn round one keyed agg " +
        "with DECIMAL order-free sums"),
      "q366_silhouette" -> ("IVF silhouette: memoized assignment + " +
        "16-row broadcast centroids, in-row integer distances, " +
        "one keyed agg"),
      "q368_parity_probe" -> ("per-column checksum decomposition: " +
        "one scan + one multi-column agg per table, column-count-" +
        "sized output — the driver-divergence isolator"),
      "q369_correlated_subquery" -> ("correlated EXISTS / NOT " +
        "EXISTS / IN, decorrelated by Catalyst into one semi + one " +
        "anti + one semi join on the correlation keys — never a " +
        "per-row re-execution"),
      "q370_correlated_scalar" -> ("correlated scalar-aggregate " +
        "subqueries, decorrelated by Catalyst into aggregated LEFT " +
        "joins: inner groups once by the correlation key, map-side " +
        "combined"),
      "q371_bpe_merges" -> ("one-pass greedy BPE: per-round window " +
        "partitions on the WORD (vocab-bounded, never corpus-" +
        "bounded), pair-count agg + 1-row top-1 collect"),
      "q372_having_scalar" -> ("correlated scalar in HAVING: ONE " +
        "aggregated LEFT join on the group key feeding the " +
        "aggregation — no per-group re-execution"),
      "q373_nested_scalar" -> ("scalar correlated to the enclosing " +
        "subquery, decorrelated by Catalyst: nested aggregated frame " +
        "joins onto the EXISTS scan, semi join above — joins all the " +
        "way down"),
      "q374_notin_nulls" -> ("ANSI NOT IN: OR-blanked probe rides " +
        "the correlation-KEYED anti join as a residual predicate; " +
        "uncorrelated legs keep the equi anti join"),
      "q375_wav_decode" -> ("real WAV codec: build+decode+window in " +
        "ONE mapPartitions pass, zero shuffles before the output"),
      "q376_bpe_encode" -> ("BPE tokenizer application: fixed merge " +
        "table, fully declarative — per-round windows partition on " +
        "the WORD (vocab-bounded), no driver collect anywhere"),
      "q377_dup_spans" -> ("ExactSubstr span accounting: one " +
        "shingle-keyed shuffle + semi join back, span fusion a " +
        "per-DOC window — no all-pairs stage"),
      "q378_dup_span_removal" -> ("ExactSubstr removal: shared span " +
        "build + (doc,pos)-keyed anti join + per-doc ordered " +
        "re-join — affected docs only"),
      "q379_contamination_spans" -> ("span-level benchmark " +
        "decontamination: eval 8-gram set (benchmark-sized) semi " +
        "join into train positions, same per-DOC span fusion"),
      "q380_tokenizer_fertility" -> ("tokenizer equity audit: one " +
        "(lang,word) shuffle, vocab-bounded encode windows, " +
        "vocab-bounded join back — corpus never re-enters"),
      "q381_bmp_decode" -> ("real BMP codec: build+decode+block-pool " +
        "in ONE mapPartitions pass, zero shuffles before the output"),
      "q382_avi_decode" -> ("real AVI codec: container build+decode+" +
        "frame checksums in ONE mapPartitions pass, zero shuffles"),
      "q383_outer_scalar" -> ("scalar correlated PAST its subquery " +
        "to the TOP scope: aggregated frame joins the OUTER side of " +
        "the semi/anti join — joins all the way down"),
      "q384_tpch_q4" -> ("TPC-H q4 shape: correlated EXISTS under a " +
        "date range — ONE LeftSemi keyed on l_orderkey, the date " +
        "residual rides the same join"),
      "q385_tpch_q17" -> ("TPC-H q17 shape: comma join + " +
        "constant-wrapped correlated scalar — one HashAggregate on " +
        "the correlation key, LEFT-joined, never re-executed"),
      "q386_tpch_q20" -> ("TPC-H q20 shape: IN-inside-IN with a " +
        "two-key correlated scalar — nested IN semi-joins the INNER " +
        "scan, scalar aggregates once over (partkey, suppkey)"),
      "q387_tpch_q21" -> ("TPC-H q21 shape: EXISTS + NOT EXISTS on " +
        "one table over a four-table comma join — LeftSemi AND " +
        "LeftAnti on l_orderkey with <> residuals"),
      "q388_tpch_q22" -> ("TPC-H q22 shape: derived table with an " +
        "uncorrelated scalar and NOT EXISTS — LeftAnti on o_custkey " +
        "under the bound derived frame"),
      "q389_window_frames" -> ("window FRAME specs: ROWS moving avg " +
        "+ cumulative sum + RANGE band, all inside keyed window " +
        "exchanges"),
      "q390_tpch_q2" -> ("TPC-H q2 shape: correlated scalar over a " +
        "FOUR-table comma join — the aggregated frame groups the " +
        "joined inner scan by the correlation key; keyed joins " +
        "everywhere, zero cartesian"),
      "q392_tpch_q1" -> ("TPC-H q1 through the dialect: decimal-" +
        "exact money sums, one partial+final hash aggregate"),
      "q397_tpch_q8" -> ("TPC-H q8 shape: EIGHT-table comma join — " +
        "ReorderJoin turns the TRUE-condition chain into keyed " +
        "joins; case-sum market-share ratio inside one aggregate"),
      "q398_tpch_q9" -> ("TPC-H q9 shape: five-table star over a " +
        "derived table — at small SF every join broadcasts; at scale " +
        "AQE flips the lineitem-side builds to shuffle joins (the " +
        "SCALING §14 leg confirms the flip)"),
      "q404_tpch_q15" -> ("TPC-H q15 shape: view joined in the comma " +
        "FROM plus the uncorrelated MAX scalar over the same view"),
      "q407_tpch_q19" -> ("TPC-H q19 shape: OR-of-AND-blocks join " +
        "predicate — Catalyst CNF conversion extracts the common " +
        "p_partkey equi key, residual OR rides the keyed join"),
      "q408_recursive_closure" -> ("WITH RECURSIVE ancestor closure " +
        "(r14): iterative fixpoint — final plan is an aggregate over " +
        "a union of per-round checkpointed legs, each round ONE " +
        "keyed join of the delta against the edge set"),
      "q409_recursive_reach" -> ("WITH RECURSIVE UNION-distinct " +
        "reachability on cyclic data: per-round anti-join of the " +
        "delta against ONE cumulative materialized seen frame (r15) " +
        "— constant plan width at any depth"),
      "q417_sample" -> ("SAMPLE keyword: deterministic hash-mod " +
        "filter INSIDE the scan stage — codegen'd predicate, no " +
        "shuffle, no RNG; survives column pruning"),
      "q419_tpcds_q36" -> ("TPC-DS q36 shape: ROLLUP grid with " +
        "GROUPING()-derived hierarchy level — ONE Expand + one " +
        "aggregate for all subtotal levels, then a keyed rank " +
        "window partitioned by (level, parent)"),
      "q420_tpcds_q67" -> ("TPC-DS q67 shape: three-key ROLLUP over " +
        "a pre-computed year column, rank within category over the " +
        "grid — Expand rides the same single shuffle"),
      "q422_adpcm_wav" -> ("IMA ADPCM WAV decode: stateful 4-bit " +
        "block decode entirely row-local in one mapPartitions pass, " +
        "zero shuffles before the window agg"),
      "q411_g711_wav" -> ("G.711 µ-law/A-law WAV decode: one " +
        "mapPartitions pass, zero shuffles before the window agg"),
      "q412_tpcds_q3" -> ("TPC-DS q3 shape: date-dim star with a " +
        "year() EXPRESSION group key — keyed joins, pushed filters"),
      "q415_tpcds_q51" -> ("TPC-DS q51 shape: running windows over " +
        "two channel aggregates, FULL OUTER JOIN on (item, day), " +
        "cross-channel cumulative filter"),
      "q416_tpcds_q89" -> ("TPC-DS q89 shape: windowed category " +
        "mean via sum-over/count-over, exact-decimal deviation " +
        "filter"))
    // SPARK_GRAFT_PLANS_ONLY (comma-separated substrings) and
    // SPARK_GRAFT_PLANS_OUT support the SCALING legs: dump just the
    // queries under study at a scaled sfDir to a side file, without
    // touching the canonical PLANS.md
    val plansOnly = sys.env.get("SPARK_GRAFT_PLANS_ONLY")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_PLANS_OUT", "PLANS.md")
    val selected = headline.filter { case (n, _) =>
      plansOnly.isEmpty || plansOnly.exists(n.contains) }
    val sb = new StringBuilder
    sb ++= "# PLANS — physical plans of headline queries\n\n"
    sb ++= s"Generated by `graft.Plans` at $sfDir. What to look for:\n"
    sb ++= "`PushedFilters`/`ReadSchema` on scans, `BroadcastHashJoin`\n"
    sb ++= "for dimensions, `partial_…` aggregates before `Exchange`,\n"
    sb ++= "`WholeStageCodegen` spans over the hot pipelines.\n"
    // build, run and read the plan inside one consumer scope, as the
    // harnesses run it: outside a scope a query that holds or cuts
    // comes back sealed, a bare scan with no plan left to show
    selected.foreach { case (name, why) =>
      Materialize.scope {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.collect() // finalize AQE so the executed plan is the real one
        sb ++= s"\n## $name — $why\n\n```\n"
        sb ++= df.queryExecution.executedPlan.toString().take(6000)
        sb ++= "\n```\n"
      }
    }
    Files.writeString(Paths.get(outPath), sb.toString)
    println(s"[plans] wrote $outPath (${selected.size} queries)")
    spark.stop()
  }
}
