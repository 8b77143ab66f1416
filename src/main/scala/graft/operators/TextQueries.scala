package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.{cut, hold}
import graft.Tables

/** Text-analysis coverage over the documents table. Each oracle
  * recomputes the same deterministic heuristic from first principles
  * in DuckDB SQL (integer hashing, single-division ratios), so the
  * differential check is exact, not tolerance-based.
  */
object TextQueries extends QueryPack {

  /** Adversarial string fixture for the cross-engine text-expression
    * parity gate (q367): the shared gate-feature expressions (split,
    * length, stopword filter, regexp_replace strips) feed ranks and
    * hashed integers across the curation family, so their
    * Spark-vs-DuckDB parity on exactly the text classes where engines
    * historically disagree (multi-space, empty, control chars,
    * non-ASCII, astral-plane codepoints, combining marks) must be a
    * MEASURED driver-gated fact, not folklore. One row per case; the
    * oracle SQL is generated from this same Seq so the two engines
    * can never drift on the fixture itself. */
  private[graft] val parityCases: Seq[(Long, String)] = Seq(
    1L -> "hello world",
    2L -> "",
    3L -> "a  b",
    4L -> " leading space",
    5L -> "trailing space ",
    6L -> "   ",
    7L -> "tab\tseparated\tcols",
    8L -> "line\nbreak\rmix",
    9L -> "caf\u00e9 na\u00efve r\u00e9sum\u00e9",
    10L -> "\u65e5\u672c\u8a9e\u306e\u30c6\u30b9\u30c8 \u4e2d\u6587 \ud55c\uad6d\uc5b4",
    11L -> "math \ud835\udd4f symbol",      // astral U+1D54F
    12L -> "emoji \ud83d\ude00\ud83d\ude00 double",
    13L -> "the of and in to is a",
    14L -> "MIXED Case AND UPPER",
    15L -> "it's a 'quoted' string",
    16L -> "back\\slash c:\\path",
    17L -> "semi;colon, comma. dot!",
    18L -> "\u00c9COLE Stra\u00dfe MIX",     // upper(ß) expands to SS
    19L -> ("word " * 50).trim,
    20L -> "nbsp\u00a0joined\u00a0words",    // U+00A0: not a split/trim space
    21L -> "zero\u200bwidth space",          // U+200B
    22L -> "combining e\u0301 accent",       // e + U+0301 = 2 codepoints
    23L -> "123 456 789 numbers",
    24L -> null,
    25L -> "İstanbul I ı dotted",  // Turkish İ: lower() 1:2 in Java
    26L -> "１２３ ＡＢＣ fullwidth",
    27L -> "rtl مرحبا שלום mix"
  )

  /** Render a fixture string as a DuckDB SQL literal: printable runs
    * as '…' (quotes doubled), control chars via chr(n), codepoint-wise
    * so astral chars pass through as raw UTF-8. */
  private def sqlLit(str: String): String = {
    if (str == null) return "CAST(NULL AS VARCHAR)"
    if (str.isEmpty) return "''"
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    def flush(): Unit = if (sb.nonEmpty) {
      parts += "'" + sb.toString.replace("'", "''") + "'"; sb.clear()
    }
    str.codePoints().forEach { cp =>
      if (cp < 32 || cp == 127) { flush(); parts += s"chr($cp)" }
      else sb.appendAll(Character.toChars(cp))
    }
    flush()
    if (parts.length == 1) parts.head
    else parts.mkString("concat(", ", ", ")")
  }

  private val stopWords = Seq("a", "the", "of", "and", "in", "to", "is")

  /** q376's GIVEN merge table (a merges.txt — order matters: later
    * merges consume the multi-character symbols earlier ones build).
    * (l,l) is equal-symbol on purpose: it takes the run-parity greedy
    * branch that unequal pairs never reach.
    */
  private[graft] val bpeMerges: Seq[(String, String)] = Seq(
    ("a", "n"), ("s", "c"), ("sc", "an"), ("t", "a"),
    ("l", "l"), ("b", "l"), ("bl", "e"), ("ta", "ble"))

  /** Apply [[bpeMerges]] to a (w, c, s) vocab frame, one greedy
    * one-pass round per merge in table order (the q371 run-parity
    * rule specialized to a FIXED pair: merge at i iff (x,nxt)=(a,b)
    * and — when the symbols are equal — the offset inside the maximal
    * equal-symbol run is even, a left-to-right non-overlapping scan).
    * Returns the frame AFTER each round: (w, c, s, nm) with nm = the
    * word's merges applied that round. Every window partitions on the
    * WORD (vocab-bounded); per-round lineage cut by a lazy
    * localCheckpoint. Shared by q376 (per-round stats) and q380
    * (final encoding). */
  /** ONE greedy round for a fixed pair over a (w, c, s) frame —
    * package-visible so the spec's shape pins exercise THIS code, not
    * a private copy (review finding). */
  private[graft] def bpeRound(cur: DataFrame, a: String,
      b: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy(col("w")).orderBy(col("i"))
    val pos = cur
      .select(col("w"), col("c"),
        posexplode(split(col("s"), " ")).as(Seq("i", "x")))
      .withColumn("prev", lag(col("x"), 1).over(win))
      .withColumn("dd", when(col("prev").isNull
        || col("prev") =!= col("x"), col("i")))
      .withColumn("rs", max(col("dd")).over(win))
      .withColumn("nxt", lead(col("x"), 1).over(win))
      .withColumn("m", col("nxt").isNotNull &&
        col("x") === lit(a) && col("nxt") === lit(b) &&
        (col("x") =!= col("nxt") ||
          (col("i") - col("rs")) % 2 === 0))
    pos
      .withColumn("pm", coalesce(lag(col("m"), 1).over(win),
        lit(false)))
      .filter(!col("pm"))
      .withColumn("y", when(col("m"),
        concat(col("x"), col("nxt"))).otherwise(col("x")))
      .groupBy(col("w"), col("c"))
      .agg(expr("array_join(transform(array_sort(" +
        "collect_list(struct(i, y))), p -> p.y), ' ')").as("s"),
        sum(when(col("m"), lit(1L)).otherwise(lit(0L))).as("nm"))
  }

  private def applyBpeRounds(vocab: DataFrame): Seq[DataFrame] = {
    var cur = cut(vocab.select(col("w"), col("c"), col("s")))
    bpeMerges.map { case (a, b) =>
      val next = cut(bpeRound(cur, a, b))
      cur = next.select(col("w"), col("c"), col("s"))
      next
    }
  }

  /** The memoized standard perceptron (dims=256, iters=3 over the
    * zzflag-planted corpus — the model ten queries share), exposed
    * for the bench's separately billed pre-build pass (r14 verdict
    * task 6). */
  override def prebuilds: Map[String, (SparkSession, String) => Unit] =
    Map("build_perceptron_std" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 3 === 0,
          lit(" zzflag" * 10)).otherwise(lit(""))).as("text"))
      Classifier.batchPerceptronCached(planted, "doc_id", "text",
        when(col("doc_id") % 3 === 0, 1L).otherwise(-1L),
        dims = 256, iters = 3, cacheKey = s"$d:planted-zzflag", s)
      ()
    }))

  protected val entries: Map[String, Query] = Map(
    // BPE merge induction — the tokenizer-vocabulary training step
    // (Sennrich et al. 2016) as textbook ONE-PASS GREEDY (r12,
    // replacing the r11 boundary-space deviation): 5 merge rounds
    // over the corpus word-frequency table. The 100 TB shape matches
    // production BPE trainers: ONE corpus token-count shuffle reduces
    // everything to a vocab-bounded (word, count) table; every merge
    // round is then a per-word window over the symbol positions (the
    // window partitions on the word — vocab-bounded, never
    // corpus-bounded), a pair-count aggregate, and a top-1 collect
    // (1 row, config-sized).
    //
    // Greedy semantics, identical in both engines via run-offset
    // parity: a pair occurrence at position i is GREEDY (counted, and
    // merged when it is the round's winner) iff its symbols differ —
    // unequal pairs cannot self-overlap — or its offset inside the
    // maximal equal-symbol run is even, which is exactly a
    // left-to-right non-overlapping scan: a run of k equal symbols
    // yields ⌊k/2⌋ pairs, "aaaa" → "aa aa" in ONE round, and the
    // reported pair_count equals the number of merges the round
    // actually applies. runStart is a running max over a flag column
    // (two window layers, expressible verbatim in Spark and DuckDB);
    // ties break (count desc, pair lexicographic) so the learned
    // table is deterministic.
    "q371_bpe_merges" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val wf = hold(Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w").rlike("^[a-z]{2,20}$"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .withColumn("s", trim(regexp_replace(col("w"), "(.)", "$1 ")))
        .select(col("w"), col("c"), col("s")))
      wf.count()
      val win = Window.partitionBy(col("w")).orderBy(col("i"))
      // positions + greedy flag for the current symbol strings
      def positions(cur: DataFrame): DataFrame = cur
        .select(col("w"), col("c"),
          posexplode(split(col("s"), " ")).as(Seq("i", "x")))
        .withColumn("prev", lag(col("x"), 1).over(win))
        .withColumn("d", when(col("prev").isNull
          || col("prev") =!= col("x"), col("i")))
        .withColumn("rs", max(col("d")).over(win)) // run start
        .withColumn("nxt", lead(col("x"), 1).over(win))
        .withColumn("greedy", col("nxt").isNotNull &&
          (col("x") =!= col("nxt") ||
            (col("i") - col("rs")) % 2 === 0))
      var cur = wf.select(col("w"), col("c"), col("s"))
      val merges =
        scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
      for (r <- 1 to 5) {
        val pos = positions(cur)
        val top = pos.filter(col("greedy"))
          .groupBy(col("x").as("s1"), col("nxt").as("s2"))
          .agg(sum(col("c")).as("n"))
          .orderBy(col("n").desc, col("s1").asc, col("s2").asc)
          .limit(1).collect()(0)
        val (a, b) = (top.getString(0), top.getString(1))
        merges += ((r.toLong, a, b, top.getLong(2)))
        // one-pass merge: winner occurrences at greedy positions fuse;
        // the position after a fused one is consumed (dropped)
        cur = cut(pos
          .withColumn("m", col("greedy") &&
            col("x") === lit(a) && col("nxt") === lit(b))
          .withColumn("pm", coalesce(lag(col("m"), 1).over(win),
            lit(false)))
          .filter(!col("pm"))
          .withColumn("y", when(col("m"),
            concat(col("x"), col("nxt"))).otherwise(col("x")))
          .groupBy(col("w"), col("c"))
          .agg(expr("array_join(transform(array_sort(" +
            "collect_list(struct(i, y))), p -> p.y), ' ')").as("s")))
        // the cut per-round lineage materializes once at the next
        // round's first consumption
      }
      merges.toSeq.toDF("merge_round", "sym_a", "sym_b", "pair_count")
    }),
    // BPE tokenizer APPLICATION — the encode half of q371's merge
    // induction: apply a GIVEN merge table (a trained tokenizer's
    // merges.txt; here a fixed 8-entry chain that rebuilds "scan" and
    // "table" from characters through multi-character intermediate
    // symbols, and includes the equal-symbol pair (l,l) so the
    // run-parity greedy path is exercised) to the corpus
    // word-frequency table — one greedy one-pass round per merge, in
    // table order, exactly how production BPE encoders consume
    // merges.txt. 100 TB shape: ONE corpus token-count shuffle
    // reduces everything to the vocab-bounded (word, count) table;
    // each round is a per-word window over symbol positions
    // (vocab-bounded, never corpus-bounded) with NO driver collect —
    // the merge table is config, not data, so unlike q371 the whole
    // encode is a single declarative plan. Per round the output
    // carries corpus-weighted merges applied and the corpus token
    // count RECOMPUTED from the fused strings (not derived as
    // tokens-minus-merges), so the oracle cross-checks the fusion
    // itself, not just the bookkeeping.
    "q376_bpe_encode" -> ((s, d) => {
      val wf = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w").rlike("^[a-z]{2,20}$"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .withColumn("s", trim(regexp_replace(col("w"), "(.)", "$1 ")))
      val stats = applyBpeRounds(wf).zip(bpeMerges).zipWithIndex
        .map { case ((next, (a, b)), r) =>
          next.agg(
            coalesce(sum(col("c") * col("nm")), lit(0L)).cast("long")
              .as("merges_applied"),
            coalesce(sum(col("c") * size(split(col("s"), " "))),
              lit(0L)).cast("long").as("tokens_after"))
            .select(lit((r + 1).toLong).as("merge_round"),
              lit(a).as("sym_a"), lit(b).as("sym_b"),
              col("merges_applied"), col("tokens_after"))
        }
      stats.reduce(_ unionAll _)
    }),
    // Tokenizer FERTILITY by language — the standard multilingual
    // tokenizer-equity audit (tokens/word and chars/token per
    // language under a given merge table; high fertility = that
    // language pays more sequence length per word). Same GIVEN merge
    // table as q376, same vocab-bounded encode; the per-(lang, word)
    // usage table is ONE corpus shuffle, the global vocab derives
    // from it without a second corpus pass, and the encode result
    // joins back on the word (vocab-bounded join). Ratios ship as
    // exact integer ppm (intDiv) so the hash compare is exact.
    "q380_tokenizer_fertility" -> ((s, d) => {
      val lw = Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w").rlike("^[a-z]{2,20}$"))
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("cw"))
      val wf = lw.groupBy(col("w")).agg(sum(col("cw")).as("c"))
        .withColumn("s", trim(regexp_replace(col("w"), "(.)", "$1 ")))
      val enc = applyBpeRounds(wf).last
        .select(col("w"),
          size(split(col("s"), " ")).cast("long").as("toks"),
          length(col("w")).cast("long").as("chars"))
      lw.join(enc, Seq("w"))
        .groupBy(col("lang"))
        .agg(sum(col("cw")).cast("long").as("words"),
          sum(col("cw") * col("toks")).cast("long").as("tokens"),
          sum(col("cw") * col("chars")).cast("long").as("chars"))
        .select(col("lang"), col("words"), col("tokens"), col("chars"),
          graft.functions.NowFunctions.intDiv(
            col("tokens") * 1000000L, col("words"))
            .as("fertility_ppm"),
          graft.functions.NowFunctions.intDiv(
            col("chars") * 1000000L, col("tokens"))
            .as("chars_per_token_ppm"))
    }),
    // Cross-engine string-expression parity gate: every shared
    // gate-feature expression (and the substr/instr/case-mapping
    // neighbors) evaluated over the adversarial fixture above, hashed
    // by the driver against DuckDB computing the same expressions on
    // the same literals. A red CELL here isolates which expression ×
    // text class diverges between engines — the q331-class failure
    // mode made directly observable. size()-derived columns are
    // null-guarded because Spark's legacy size(NULL) = -1 while
    // DuckDB's len(NULL) is NULL.
    "q367_string_parity" -> ((s, _) => {
      import s.implicits._
      val df = parityCases.toDF("case_id", "s")
      val sc = col("s")
      def nn(c: Column) = when(sc.isNotNull, c).cast("long")
      val w = split(sc, " ")
      df.select(col("case_id"),
        length(sc).cast("long").as("n_chars"),
        nn(size(w)).as("n_words"),
        nn(size(filter(w, x => x.isInCollection(stopWords))))
          .as("n_stop"),
        (length(sc) - length(regexp_replace(sc, "[^a-z0-9 ]", "")))
          .cast("long").as("n_punct"),
        length(regexp_replace(sc, "[^a-z]", "")).cast("long")
          .as("n_alpha"),
        // MEASURED divergences (this fixture, cases 18 + 25):
        // Java/Spark case mapping applies Unicode SpecialCasing 1:N
        // expansions — upper(ß) → SS (+1 char), lower(İ) → i +
        // combining dot (2 codepoints) — while DuckDB maps
        // codepoint-wise 1:1 (ß → ẞ, İ → i). So case-MAPPED outputs
        // (lengths AND values) are only cross-engine deterministic on
        // text without SpecialCasing chars; the guard documents the
        // class and keeps it out of the hash, and has_special_casing
        // pins which rows carry it
        when(sc.contains("ß") || sc.contains("İ"), lit(null))
          .otherwise(length(upper(sc))).cast("long").as("up_len"),
        (sc.contains("ß") || sc.contains("İ")).as("has_special_casing"),
        length(trim(sc)).cast("long").as("trim_len"),
        instr(sc, "b").cast("long").as("pos_b"),
        substring(sc, 2, 3).as("sub23"),
        when(sc.contains("ß") || sc.contains("İ"), lit(null))
          .otherwise(lower(sc)).as("lower_s"),
        regexp_replace(sc, " ", "_").as("spaced"))
    }),
    // n-gram language ID: argmax of char-trigram profile scores.
    "q49_lang_id" -> ((s, d) =>
      TextAnalysis.languageId(Tables.documents(s, d), "doc_id", "text")),
    // BM25 top-20 against a fixed 4-term query. k1=1.5 and b=0.75 are
    // chosen exactly binary-representable so Spark's and DuckDB's
    // double arithmetic agree bit-for-bit; per-term contributions are
    // rounded/summed as DECIMAL (order-free) before the final round.
    "q177_bm25_topk" -> ((s, d) =>
      TextAnalysis.bm25TopK(Tables.documents(s, d), "doc_id", "text",
        queryTerms = Seq("data", "join", "spark", "query"),
        k1 = 1.5, b = 0.75, topK = 20)),
    // Sliding-window chunking, 32-token windows every 16 tokens —
    // pure row-local integer arithmetic, zero shuffles.
    "q178_window_chunks" -> ((s, d) =>
      TextAnalysis.windowChunks(Tables.documents(s, d), "doc_id", "text",
        window = 32, stride = 16)),
    // Gopher-style intra-document repetition: duplicate trigram
    // fraction + most-frequent-trigram share per doc, flag > 0.125.
    // Zero-shuffle row-local profile; exact integer-ratio oracle.
    // Fanned out post-scan (Tables.fanout): the per-doc trigram sort
    // + run-length fold is the entire cost, serialized by a single-
    // rowgroup source (r15 A/B: 2.5 s raw vs 0.4 s fanned)
    "q187_repetition" -> ((s, d) =>
      TextAnalysis.repetitionProfile(
        Tables.fanout(s, d, "documents", Tables.documents(s, d)
          .select(col("doc_id"), col("text")), rowsPerTask = 128),
        "doc_id", "text", n = 3)),
    // Distributed classifier TRAINING, differentially checked: 3
    // full-batch perceptron passes on hashed bag-of-words. The task
    // is a PLANTED lexical rule (docs with id%3==0 carry a repeated
    // marker token; the base corpus's vocabulary is label-free by
    // construction — all 31 words appear in every class — so the
    // planted token is the only real signal): the trainer must drive
    // the curve 500 → 79 → 0 and recover the separating feature.
    // All-integer order-free updates make the training run
    // bit-reproducible — the oracle re-trains the same model in SQL
    // and must land on identical weights and curve.
    "q193_perceptron" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 3 === 0,
          lit(" zzflag" * 10)).otherwise(lit(""))).as("text"))
      Classifier.batchPerceptronCached(planted, "doc_id", "text",
        when(col("doc_id") % 3 === 0, 1L).otherwise(-1L),
        dims = 256, iters = 3, cacheKey = s"$d:planted-zzflag", s)
    }),
    // (the trainer above is the memoized standard model ten queries
    // share — its build is exposed via `prebuilds` below)
    // The apply half: train (as q193), collect the bounded model,
    // score the corpus with it, emit the confusion matrix. On the
    // separable planted task the matrix must be perfectly diagonal —
    // and the oracle re-derives it through its own retrained model.
    "q194_perceptron_eval" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 3 === 0,
          lit(" zzflag" * 10)).otherwise(lit(""))).as("text"))
      val label = when(col("doc_id") % 3 === 0, 1L).otherwise(-1L)
      val trained = Classifier.batchPerceptronCached(planted, "doc_id",
          "text", label, dims = 256, iters = 3,
          cacheKey = s"$d:planted-zzflag", s)
        .filter(col("kind") === "w")
        .collect().map(r => r.getLong(2).toInt -> r.getLong(3)).toMap
      val w = Array.tabulate(257)(j => trained.getOrElse(j, 0L))
      Classifier.scoreWith(planted, "doc_id", "text", w, dims = 256)
        .join(planted.select(col("doc_id"), label.as("y")), Seq("doc_id"))
        .groupBy(col("y"), col("pred"))
        .agg(count(lit(1)).as("n"))
    }),
    // Worst-group evaluation (the Group-DRO audit, Sagawa et al.):
    // per-LANG accuracy of the shared planted-marker perceptron, the
    // overall accuracy, and the worst-group flag — a model "99%
    // accurate" on a multilingual corpus can be 60% on its smallest
    // language, and this is the table that catches it before anyone
    // averages it away. Reuses the memoized trainer (q193/q194's
    // cacheKey — zero extra training); margins are exact integer
    // dots, accuracy one division rounded 6 dp, worst-group compare
    // on the ROUNDED value (engine-stable; ties flag every minimum).
    "q364_worst_group_eval" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val planted = docs.select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 3 === 0,
          lit(" zzflag" * 10)).otherwise(lit(""))).as("text"))
      val label = when(col("doc_id") % 3 === 0, 1L).otherwise(-1L)
      val trained = Classifier.batchPerceptronCached(planted, "doc_id",
          "text", label, dims = 256, iters = 3,
          cacheKey = s"$d:planted-zzflag", s)
        .filter(col("kind") === "w")
        .collect().map(r => r.getLong(2).toInt -> r.getLong(3)).toMap
      val w = Array.tabulate(257)(j => trained.getOrElse(j, 0L))
      val perLang = Classifier.scoreWith(planted, "doc_id", "text", w,
          dims = 256)
        .join(docs.select(col("doc_id"), col("lang"),
          label.as("y")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pred") === col("y"), 1L).otherwise(0L))
            .as("n_correct"))
        .select(col("lang"), col("n_docs"), col("n_correct"),
          round(col("n_correct").cast("double")
            / col("n_docs").cast("double"), 6).as("accuracy"))
      val worst = perLang.agg(min(col("accuracy")).as("worst_acc"),
        sum(col("n_docs")).as("nt"), sum(col("n_correct")).as("ct"))
      perLang.crossJoin(broadcast(worst))
        .select(col("lang"), col("n_docs"), col("n_correct"),
          col("accuracy"),
          round(col("ct").cast("double") / col("nt").cast("double"), 6)
            .as("overall_accuracy"),
          (col("accuracy") === col("worst_acc")).as("is_worst_group"))
    }),
    // Category blocklist screen: word-exact occurrence counts per
    // category (terms drawn from the corpus's real vocabulary so the
    // counts are non-trivial), keep verdict at <= 2 total hits.
    "q190_blocklist" -> ((s, d) =>
      TextAnalysis.blocklistFilter(Tables.documents(s, d), "doc_id",
        "text", Seq(
          "slowness" -> Seq("slow", "lag", "stall"),
          "competitor" -> Seq("spark", "flink", "trino")),
        maxHits = 2L)),
    // PII scrub over a deterministically planted corpus (the driver
    // documents contain no natural PII — checked): counts + redacted
    // text, oracle-exact because the regex subset means Java and RE2
    // match identically.
    "q188_pii_scrub" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            lit(" contact bob@example.com or x@y.org")).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            lit(" from 192.168.3.44")).otherwise(lit("")),
          when(col("doc_id") % 13 === 0,
            lit(" call +1-555-013-4567")).otherwise(lit("")))
          .as("text"))
      TextAnalysis.piiScrub(planted, "doc_id", "text")
    }),
    // Pseudo-relevance-feedback expansion: top-10 BM25 docs vote 5
    // expansion terms, second BM25 pass over the expanded set. The
    // oracle re-mines the identical term set (count-desc/term-asc),
    // so the whole two-pass composition is value-checked.
    "q183_bm25_prf" -> ((s, d) =>
      TextAnalysis.bm25Expanded(Tables.documents(s, d), "doc_id", "text",
        queryTerms = Seq("data", "join", "spark", "query"),
        fbDocs = 10, nExpand = 5, k1 = 1.5, b = 0.75, topK = 20)),
    // Inter-document duplication rate: per document, the fraction of
    // its distinct word-5-grams that occur in at least one OTHER
    // document — the corpus-QA memorization-risk stat (high-overlap
    // docs are near-dup or boilerplate suspects below the pair
    // threshold). Shape: in-row distinct shingles (no global
    // distinct), then ONE exchange on the gram key with a
    // partition-local count window (per-doc-distinct ⇒ k = #docs) —
    // the groupBy+self-join form would shuffle the shingle set twice
    // for the same answer. Gram keys are near-uniform (5-gram text),
    // so the window partitions stay balanced at scale. Only
    // per-source aggregates leave the executors.
    "q124_dup_ngram_rate" -> ((s, d) => {
      val sh = Dedup.wordShingles(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", 5)
      val w = Window.partitionBy(col("shingle"))
      val perDoc = sh.withColumn("k", count(lit(1)).over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("k") >= 2, 1L).otherwise(0L)).as("n_dup"))
      Tables.documents(s, d).select(col("doc_id"), col("source"))
        .join(perDoc, Seq("doc_id"), "inner")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_grams")).cast("long").as("n_grams"),
          sum(col("n_dup")).cast("long").as("n_dup"),
          round(sum(col("n_dup")).cast("double") /
            sum(col("n_grams")), 6).as("dup_rate"))
    }),
    // Novelty-decay curve: per doc-id decile (ingest-order proxy),
    // the fraction of distinct word-5-grams making their corpus-wide
    // FIRST appearance there — the corpus-health curve that shows a
    // crawl going stale (novelty sinking toward boilerplate). Shape:
    // q124's single-exchange gram window, but carrying min(doc_id)
    // instead of count — first-occurrence attribution without a
    // self-join; decile cut is an integral DIV against one broadcast
    // max-id scalar, so no rank pass at all.
    // Corpus-drift monitor: Jensen–Shannon divergence between the
    // unigram distributions of the first and second corpus half
    // (doc-id order = ingest-order proxy) — the drift stat a crawl
    // pipeline alarms on (distribution shift between snapshots).
    // Exact integer counts per side; per-word JS terms are doubles
    // from exact ints, quantized to 1e-9 units BEFORE the vocab sum
    // (order-free long sum — the q233 lesson applied from day one).
    // Shape: one token pass, one vocab-keyed agg, scalar totals
    // broadcast back; no windows.
    "q245_unigram_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val mx = docs.agg(max(col("doc_id")).as("mx"))
      val toks = docs.crossJoin(broadcast(mx))
        .select((col("doc_id") * 2 <= col("mx")).as("isa"),
          explode(TextAnalysis.words(col("text"))).as("w"))
      val cnt = toks.groupBy(col("w")).agg(
        sum(when(col("isa"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("cb"))
      val tot = cnt.agg(sum(col("ca")).cast("long").as("na"),
        sum(col("cb")).cast("long").as("nb"),
        count(lit(1)).as("v"))
      val pa = col("ca").cast("double") / col("na")
      val pb = col("cb").cast("double") / col("nb")
      val m = (pa + pb) / lit(2.0)
      cnt.crossJoin(broadcast(tot))
        .select(col("na"), col("nb"), col("v"),
          round((when(col("ca") > 0, pa * log(pa / m)).otherwise(lit(0.0))
            + when(col("cb") > 0, pb * log(pb / m)).otherwise(lit(0.0)))
            * 1e9).cast("long").as("ti"))
        .groupBy(col("na"), col("nb"), col("v"))
        .agg(round(sum(col("ti")).cast("double") / 2e9, 6)
          .as("js_divergence"))
        .select(col("na").as("n_tokens_a"), col("nb").as("n_tokens_b"),
          col("v").as("vocab"), col("js_divergence"))
    }),
    // k-anonymity-style rare-combination audit: how many documents
    // sit in metadata cells (lang × source × 50-word length bin)
    // with fewer than k members — the dataset-card privacy/outlier
    // stat (a cell of 1 is a re-identifiable or mis-tagged doc).
    // One scan + one cell agg; the k grid is a 3-row broadcast.
    "q246_k_anonymity" -> ((s, d) => {
      import s.implicits._
      val cells = Tables.documents(s, d)
        .select(col("lang"), col("source"),
          expr("size(split(text, ' ')) DIV 50").cast("long")
            .as("len_bin"))
        .groupBy(col("lang"), col("source"), col("len_bin"))
        .agg(count(lit(1)).as("n"))
      val ks = Seq(2L, 5L, 10L).toDF("k")
      cells.crossJoin(broadcast(ks))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_cells"),
          sum(when(col("n") < col("k"), 1L).otherwise(0L))
            .as("n_cells_below"),
          sum(when(col("n") < col("k"), col("n")).otherwise(0L))
            .cast("long").as("n_docs_below"))
    }),
    // Tokenizer fertility by language: chars per (BPE-estimate)
    // token and tokens per word — the cross-language tokenizer-
    // parity audit (a language with 2× fertility pays 2× context
    // budget per sentence; the standard multilingual-pipeline gate).
    // Exact long sums; each ratio is ONE division of exact ints.
    "q247_fertility" -> ((s, d) => {
      val t = col("text")
      Tables.documents(s, d)
        .select(col("lang"), length(t).cast("long").as("nc"),
          TextAnalysis.wsTokens(t).as("ws"),
          TextAnalysis.bpeEst(t).as("bp"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nc")).cast("long").as("n_chars"),
          sum(col("ws")).cast("long").as("ws_tokens"),
          sum(col("bp")).cast("long").as("bpe_est"))
        .select(col("lang"), col("n_docs"), col("n_chars"),
          col("ws_tokens"), col("bpe_est"),
          when(col("bpe_est") === 0, lit(0.0))
            .otherwise(round(col("n_chars").cast("double")
              / col("bpe_est"), 6)).as("chars_per_token"),
          when(col("ws_tokens") === 0, lit(0.0))
            .otherwise(round(col("bpe_est").cast("double")
              / col("ws_tokens"), 6)).as("tokens_per_word"))
    }),
    // Distinct-2 lexical diversity per source (Li et al.'s
    // distinct-n): distinct word bigrams / total word bigrams — the
    // cheap mode-collapse / boilerplate detector (templated sources
    // score low). In-row bigram generation (zero extra scans), one
    // bigram-keyed agg per source; exact integer ratio.
    "q248_distinct_ngrams" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bg = docs
        .select(col("source"), TextAnalysis.words(col("text")).as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("source"), explode(expr(
          "transform(sequence(1, size(w) - 1), " +
            "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
          .as("b"))
      bg.groupBy(col("source"))
        .agg(count(lit(1)).as("n_bigrams"),
          countDistinct(col("b")).as("n_distinct"))
        .select(col("source"), col("n_bigrams"), col("n_distinct"),
          when(col("n_bigrams") === 0, lit(0.0))
            .otherwise(round(col("n_distinct").cast("double")
              / col("n_bigrams"), 6)).as("distinct_ratio"))
    }),
    // Padding-waste audit: per source, the compute cost of NOT
    // packing at context 2048 — one-doc-per-sequence pads every
    // example to the context, while q86's concat packing needs only
    // ceil(Σtokens/ctx) sequences; this table (pad fraction,
    // truncation count, packing gain) is the justification line in
    // every "why we pack" design doc. All exact long arithmetic from
    // one scan + one agg; capped tokens = least(toks, ctx).
    "q259_padding_waste" -> ((s, d) => {
      val ctx = 2048L
      Tables.documents(s, d)
        .select(col("source"),
          TextAnalysis.wsTokens(col("text")).as("toks"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(least(col("toks"), lit(ctx))).cast("long").as("capped"),
          sum(when(col("toks") > ctx, 1L).otherwise(0L))
            .as("n_truncated"),
          sum(col("toks")).cast("long").as("total_tokens"))
        .select(col("source"), col("n_docs"), col("n_truncated"),
          col("total_tokens"),
          round(lit(1.0) - col("capped").cast("double")
            / (col("n_docs") * ctx), 6).as("pad_frac_unpacked"),
          expr("(total_tokens + 2047) DIV 2048").cast("long")
            .as("n_seqs_packed"),
          round(col("n_docs").cast("double")
            / expr("(total_tokens + 2047) DIV 2048").cast("double"), 6)
            .as("packing_gain"))
    }),
    // Model inspection: the top-5 |weight| feature buckets of the
    // trained quality classifier, each with its top-3 member words by
    // corpus frequency — "what did the model actually learn?" is the
    // audit run before trusting a learned gate with curation (here it
    // must surface the planted zzflag bucket at rank 1). Reuses the
    // memoized training run; the word→bucket map is the trainer's own
    // md5 hash, so the oracle reproduces it exactly. 5-row broadcast
    // join + a 5-group bounded window.
    "q253_model_inspect" -> ((s, d) => {
      import s.implicits._
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 3 === 0,
          lit(" zzflag" * 10)).otherwise(lit(""))).as("text"))
      val label = when(col("doc_id") % 3 === 0, 1L).otherwise(-1L)
      val trained = Classifier.batchPerceptronCached(planted, "doc_id",
          "text", label, dims = 256, iters = 3,
          cacheKey = s"$d:planted-zzflag", s)
        .filter(col("kind") === "w").filter(col("j") < 256)
        .collect().map(r => (r.getLong(2), r.getLong(3)))
      val top = trained.filter(_._2 != 0L)
        .sortBy { case (j, wt) => (-math.abs(wt), j) }.take(5)
      val topDf = broadcast(top.toSeq.toDF("j", "weight"))
      val words = planted
        .select(explode(split(col("text"), " ")).as("word"))
        .select(col("word"),
          pmod(Dedup.md5Hash60(col("word")), lit(256L)).as("j"))
        .join(topDf, "j")
        .groupBy(col("j"), col("weight"), col("word"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("j"))
        .orderBy(col("n").desc, col("word").asc)
      words.withColumn("word_rank", row_number().over(w))
        .filter(col("word_rank") <= 3)
        .select(col("j"), col("weight"), col("word"), col("n"),
          col("word_rank").cast("long").as("word_rank"))
    }),
    // Margin-calibration reliability curve: bin the scored corpus by
    // |margin| octile (integer bins off a broadcast max — DIV on
    // non-negative ints, so Spark's truncation and DuckDB's floor
    // agree) and report accuracy per confidence bin — does the
    // model's confidence proxy actually order its reliability? The
    // accept/reject audit before using margins for difficulty
    // pruning (q220) or uncertainty sampling (q224).
    "q254_margin_calibration" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 3 === 0,
          lit(" zzflag" * 10)).otherwise(lit(""))).as("text"))
      val label = when(col("doc_id") % 3 === 0, 1L).otherwise(-1L)
      val trained = Classifier.batchPerceptronCached(planted, "doc_id",
          "text", label, dims = 256, iters = 3,
          cacheKey = s"$d:planted-zzflag", s)
        .filter(col("kind") === "w")
        .collect().map(r => r.getLong(2).toInt -> r.getLong(3)).toMap
      val wts = Array.tabulate(257)(j => trained.getOrElse(j, 0L))
      val scored = Classifier
        .scoreWith(planted, "doc_id", "text", wts, dims = 256)
        .join(planted.select(col("doc_id"), label.as("y")),
          Seq("doc_id"))
      val amax = scored.agg(max(abs(col("margin"))).as("amax"))
      scored.crossJoin(broadcast(amax))
        .select(least(lit(7L),
            expr("(abs(margin) * 8) DIV (amax + 1)")).as("bin"),
          (col("pred") === col("y")).as("ok"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("n_correct"))
        .select(col("bin"), col("n_docs"), col("n_correct"),
          round(col("n_correct").cast("double") / col("n_docs"), 6)
            .as("accuracy"))
    }),
    // Template/boilerplate detection by shared document PREFIX: docs
    // opening with the same first-8-word prefix are template families
    // (crawl headers, generated pages) that near-dup thresholds can
    // miss when bodies diverge. Planted: every 13th doc gets a fixed
    // header (the corpus itself has unique openings), so the query
    // must recover exactly that family plus any natural ones. Prefix
    // key agg + TakeOrdered-20; string/integer exact.
    "q249_template_prefixes" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        col("source"),
        concat(when(col("doc_id") % 13 === 0,
            lit("common header boilerplate template alpha beta gamma delta "))
          .otherwise(lit("")), col("text")).as("text"))
      val w = TextAnalysis.words(col("text"))
      docs.filter(size(w) >= 8)
        .select(col("doc_id"), col("source"),
          concat_ws(" ", slice(w, 1, 8)).as("prefix"))
        .groupBy(col("prefix"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          min(col("doc_id")).as("first_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("prefix").asc)
        .limit(20)
    }),
    // Bigram conditional entropy H(w₂|w₁) per source — the corpus
    // "entropy rate" proxy (low = predictable/templated text, high =
    // diverse prose; the complement of q248's distinct-ratio, scored
    // in bits of actual predictability). Terms −(c₁₂/N)·ln(c₁₂/c₁)
    // are doubles from exact integer counts, quantized to 1e-9 units
    // before the order-free long sum (q245's discipline). Shape: one
    // bigram pass, two keyed aggs + a first-word join, no windows.
    "q250_bigram_entropy" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bg = docs
        .select(col("source"), TextAnalysis.words(col("text")).as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("source"), explode(expr(
          "transform(sequence(1, size(w) - 1), " +
            "i -> struct(element_at(w, i) as w1, " +
            "element_at(w, i + 1) as w2))")).as("p"))
        .select(col("source"), col("p.w1").as("w1"),
          col("p.w2").as("w2"))
      val c12 = bg.groupBy(col("source"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12"))
      val c1 = c12.groupBy(col("source"), col("w1"))
        .agg(sum(col("c12")).cast("long").as("c1"))
      val tot = c12.groupBy(col("source"))
        .agg(sum(col("c12")).cast("long").as("n"),
          count(lit(1)).as("n_pairs"))
      c12.join(c1, Seq("source", "w1"))
        .join(broadcast(tot), Seq("source"))
        .select(col("source"), col("n"), col("n_pairs"),
          round(-(col("c12").cast("double") / col("n"))
            * log(col("c12").cast("double") / col("c1")) * 1e9)
            .cast("long").as("ti"))
        .groupBy(col("source"), col("n"), col("n_pairs"))
        .agg(round(sum(col("ti")).cast("double") / 1e9, 6)
          .as("cond_entropy"))
        .select(col("source"), col("n").as("n_bigrams"),
          col("n_pairs").as("n_distinct_pairs"), col("cond_entropy"))
    }),
    "q219_ngram_novelty" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sh = Dedup.wordShingles(
        docs.select(col("doc_id"), col("text")), "doc_id", "text", 5)
      val w = Window.partitionBy(col("shingle"))
      val perDoc = sh.withColumn("mind", min(col("doc_id")).over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("g"),
          sum(when(col("mind") === col("doc_id"), 1L).otherwise(0L))
            .as("v"))
      val mx = docs.agg(max(col("doc_id")).as("mx"))
      docs.select(col("doc_id")).crossJoin(broadcast(mx))
        .join(perDoc, Seq("doc_id"), "left")
        .select(
          least(lit(9L), expr("(doc_id * 10) DIV (mx + 1)"))
            .cast("long").as("decile"),
          coalesce(col("g"), lit(0L)).as("g"),
          coalesce(col("v"), lit(0L)).as("v"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("g")).cast("long").as("n_grams"),
          sum(col("v")).cast("long").as("n_novel"),
          // a decile whose docs are all <5 words has zero 5-grams:
          // Spark NULL vs DuckDB nan on 0/0 — pin to 0 on both sides
          when(sum(col("g")) === 0, lit(0.0))
            .otherwise(round(sum(col("v")).cast("double")
              / sum(col("g")), 6)).as("novelty_rate"))
    }),
    // Difficulty-based data pruning (the EL2N/forgetting-score move:
    // drop the easiest examples, keep the hard ones that carry the
    // training signal): train q193's perceptron, score the corpus
    // with the collected (dims-bounded) model, and per class prune
    // the 30% of CORRECTLY-classified docs with the largest |margin|
    // — most-confident = easiest. Integer margins make every rank and
    // the prune boundary engine-exact; the per-class margin rank is a
    // distributedRank with a classes-sized base subtract, not a
    // per-class window (two classes would mean two window tasks).
    "q220_difficulty_prune" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 3 === 0,
          lit(" zzflag" * 10)).otherwise(lit(""))).as("text"))
      val label = when(col("doc_id") % 3 === 0, 1L).otherwise(-1L)
      val trained = Classifier.batchPerceptronCached(planted, "doc_id",
          "text", label, dims = 256, iters = 3,
          cacheKey = s"$d:planted-zzflag", s)
        .filter(col("kind") === "w")
        .collect().map(r => r.getLong(2).toInt -> r.getLong(3)).toMap
      val wts = Array.tabulate(257)(j => trained.getOrElse(j, 0L))
      val scored = hold(Classifier
        .scoreWith(planted, "doc_id", "text", wts, dims = 256)
        .join(planted.select(col("doc_id"), label.as("y")), Seq("doc_id")))
      val correct = scored.filter(col("pred") === col("y"))
        .select(col("doc_id"), col("y"), abs(col("margin")).as("am"))
      // class inventory: a #classes-sized frame; base offsets via the
      // same triangle cumulate as Rank (no collect, no extra job —
      // the whole prune is one lazy DAG over the persisted scores)
      val counts = correct.groupBy(col("y")).agg(count(lit(1)).as("nc"))
      val quotaDf = counts.as("a")
        .join(counts.as("b"), col("b.y") < col("a.y"), "left")
        .groupBy(col("a.y").as("y"), col("a.nc").as("nc"))
        .agg(coalesce(sum(col("b.nc")), lit(0L)).as("base"))
        .select(col("y"), col("base"),
          expr("(nc * 3) DIV 10").as("quota"))
      val pruned = Rank
        .distributedRank(correct,
          Seq(col("y"), col("am").desc, col("doc_id")), s)
        .join(broadcast(quotaDf), "y")
        .filter(col("rk") - col("base") <= col("quota"))
        .groupBy(col("y"))
        .agg(count(lit(1)).as("np"), min(col("am")).as("mc"))
      scored.groupBy(col("y"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pred") === col("y"), 1L).otherwise(0L))
            .as("n_correct"))
        .join(pruned, Seq("y"), "left")
        .select(col("y"), col("n_docs"), col("n_correct"),
          coalesce(col("np"), lit(0L)).as("n_pruned"),
          coalesce(col("mc"), lit(0L)).as("margin_cut"))
    }),
    // Uncertainty-sampling batch selection (active learning's core
    // loop: send the examples the model is LEAST sure about to the
    // labelers): score the corpus with the cheap one-iteration proxy
    // model (the standard practice — the acquisition model need not
    // be the final model) and take the 40 smallest |margin|. Integer
    // margins, TakeOrdered cut — no global sort; one training pass,
    // one scoring pass.
    "q224_uncertainty_batch" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 3 === 0,
          lit(" zzflag" * 10)).otherwise(lit(""))).as("text"))
      val label = when(col("doc_id") % 3 === 0, 1L).otherwise(-1L)
      val trained = Classifier.batchPerceptronCached(planted, "doc_id",
          "text", label, dims = 256, iters = 1,
          cacheKey = s"$d:planted-zzflag", s)
        .filter(col("kind") === "w")
        .collect().map(r => r.getLong(2).toInt -> r.getLong(3)).toMap
      val wts = Array.tabulate(257)(j => trained.getOrElse(j, 0L))
      Classifier.scoreWith(planted, "doc_id", "text", wts, dims = 256)
        .join(planted.select(col("doc_id"), label.as("y")), Seq("doc_id"))
        .select(col("doc_id"), col("y"), col("pred"), col("margin"),
          abs(col("margin")).as("am"))
        .orderBy(col("am").asc, col("doc_id").asc)
        .limit(40)
        .select(col("doc_id"), col("y"), col("pred"), col("margin"))
    }),
    // Quality scoring: word/char/stopword/punct features + score.
    "q50_quality" -> ((s, d) =>
      TextAnalysis.qualityScore(Tables.documents(s, d), "doc_id", "text")),
    // Token counting aggregated per source (exact long sums).
    "q51_tokens" -> ((s, d) => {
      val t = col("text")
      Tables.documents(s, d)
        .select(col("source"), TextAnalysis.wsTokens(t).as("ws"),
          TextAnalysis.reTokens(t).as("re"), TextAnalysis.bpeEst(t).as("bp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"), sum(col("ws")).as("ws_tokens"),
          sum(col("re")).as("re_tokens"), sum(col("bp")).as("bpe_est"))
    }),
    // Document fingerprinting: rolling hash + winnowing minimum.
    "q52_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprints(Tables.documents(s, d), "doc_id", "text")),
    // Full winnowing overlap detection (Schleimer 2003 / MOSS): the
    // fingerprint-SET upgrade of q52's single min. Corpus = docs +
    // tail-mutated copies (the q85 salting pattern, known-overlap
    // ground truth); per-doc winnowed sets, a document-frequency cap
    // (df <= 50) drops ubiquitous junctures so the postings join is
    // bounded (the prefix-filter discipline q44 uses), then pairs
    // scored by rare-fingerprint CONTAINMENT 10·shared >= 8·min(set)
    // — absolute thresholds can't separate short docs from real
    // overlaps. Finds all 250 planted copies plus the corpus's own
    // planted near-dup clusters; every comparison is integer-exact.
    "q307_winnowing_pairs" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(docs.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"),
          concat(col("text"), lit(" zq winnow tail")).as("text")))
      val fps = hold(TextAnalysis.winnowedFingerprints(corpus,
        "doc_id", "text"))
      val dfc = fps.groupBy(col("fp")).agg(count(lit(1)).as("dfc"))
      val rare = hold(fps.join(dfc.filter(col("dfc") <= 50L), Seq("fp"))
        .select(col("doc_id"), col("fp")))
      val nr = rare.groupBy(col("doc_id")).agg(count(lit(1)).as("nrare"))
      val pairs = rare.select(col("doc_id").as("doc_a"), col("fp"))
        .join(rare.select(col("doc_id").as("doc_b"), col("fp")),
          Seq("fp"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("shared"))
      pairs
        .join(nr.select(col("doc_id").as("doc_a"),
          col("nrare").as("na")), Seq("doc_a"))
        .join(nr.select(col("doc_id").as("doc_b"),
          col("nrare").as("nb")), Seq("doc_b"))
        .filter(col("shared") >= 5L
          && col("shared") * 10L >= least(col("na"), col("nb")) * 8L)
        .select(col("doc_a"), col("doc_b"), col("shared"))
    }),
    // Deterministic 10% sample (stable holdout carving).
    "q71_sample_hash" -> ((s, d) =>
      TextAnalysis.hashSample(Tables.documents(s, d), "doc_id", 10)
        .select("doc_id", "source", "n_chars")),
    // TF-IDF: top-3 terms per document (smoothed idf, rounded-then-
    // ranked so ordering is engine-stable).
    "q72_tfidf" -> ((s, d) =>
      TextAnalysis.tfIdfTopTerms(Tables.documents(s, d), "doc_id",
        "text", k = 3)),
    // Sequence packing: 2048-token chunks per source stream.
    "q86_seq_pack" -> ((s, d) =>
      TextAnalysis.packSequences(Tables.documents(s, d), "doc_id",
        "text", "source", maxTokens = 2048L)),
    // Capstone: the composed curation pipeline (quality gate →
    // language gate → exact dedup → near-dup cluster purge) on a
    // corpus salted with near-duplicate mutations; output = the
    // surviving document ids. The oracle recomputes every gate in
    // SQL including the recursive transitive closure.
    "q85_curation" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(docs.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"),
          concat(col("text"), lit(" zq0 zq1 zq2")).as("text")))
      TextAnalysis.curateCorpus(corpus, "doc_id", "text",
        minQuality = 0.7, lang = "en")
    }),
    // Decontamination: 5-gram overlap of the corpus against the
    // doc_id<25 "benchmark" slice.
    "q73_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.decontaminationScores(
        docs.filter(col("doc_id") >= 25L),
        docs.filter(col("doc_id") < 25L), "doc_id", "text", n = 5)
    }),
    // Exact frequent word-bigrams (heavy hitters), top 20.
    // Duplicated-substring SPAN extraction — the actionable complement
    // to q124's rate (public ExactSubstr result: cutting repeated
    // spans beats dropping whole near-dup docs): per document, the
    // maximal word spans covered by 8-grams that occur ≥2 times in
    // the corpus. Corpus is salted with appended-tail mutations of the
    // even docs (DedupQueries' derivation), so originals dup
    // end-to-end while each mutation's tail grams stay unique — the
    // span-merge must clip there, which the oracle checks. Shape:
    // positional grams hash to 8-byte keys for the occurrence-count
    // window (near-uniform keys, one exchange — q124's pattern), then
    // interval merge runs entirely inside the doc_id partition
    // (lag + prefix-sum island ids): two keyed shuffles total, nothing
    // quadratic, no suffix array needed for fixed-L spans.
    "q152_dup_spans" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(docs.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"),
          concat(col("text"), lit(" zq0 zq1 zq2")).as("text")))
      TextAnalysis.duplicatedSpans(corpus, "doc_id", "text", l = 8)
    }),
    // Adjacent-word PMI: the classic co-occurrence statistic behind
    // collocation mining and word2vec-era preprocessing — which word
    // pairs stick together far beyond chance. One keyed window pass
    // builds adjacent pairs (the q159 shape on words); unigram and
    // pair counts are two aggregates; the corpus totals broadcast.
    // PMI's arithmetic is written as an IDENTICAL expression tree in
    // both engines (exact integer counts → the same IEEE double ops),
    // ranked on the ROUNDED value (the q72 trick) so ordering can't
    // straddle an ulp.
    "q161_word_pmi" -> ((s, d) => {
      val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), col("pos"), col("col").as("w"))
      val pairs = toks
        .withColumn("w2", lead(col("w"), 1).over(byDoc))
        .filter(col("w2").isNotNull)
        .select(least(col("w"), col("w2")).as("a"),
          greatest(col("w"), col("w2")).as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("npair"))
      val wc = toks.groupBy(col("w")).agg(count(lit(1)).as("cw"))
      val nw = wc.agg(sum(col("cw")).as("nw"))
      val np = pairs.agg(sum(col("npair")).as("np"))
      val pmi = round(log(
        col("npair") * lit(1.0) * col("nw") / col("np") *
          col("nw") / col("ca") / col("cb")), 6)
      pairs
        .join(wc.select(col("w").as("a"), col("cw").as("ca")), Seq("a"))
        .join(wc.select(col("w").as("b"), col("cw").as("cb")), Seq("b"))
        .crossJoin(broadcast(nw)).crossJoin(broadcast(np))
        .filter(col("npair") >= 5)
        .select(col("a"), col("b"), col("npair"), pmi.as("pmi"))
        .orderBy(col("pmi").desc, col("a").asc, col("b").asc)
        .limit(20)
    }),
    // BPE merge-candidate statistics: the inner loop of byte-pair-
    // encoding tokenizer training — corpus-wide counts of adjacent
    // character pairs inside words, i.e. the table whose argmax is the
    // first BPE merge. Distinct-WORD canonicalization first (the q106
    // trick): pairs are generated once per unique word and weighted by
    // the word's corpus frequency, so the explode runs over the
    // vocabulary (10⁵–10⁶ types), not the corpus (10¹¹ tokens at
    // 100 TB). Two keyed shuffles (word counts, pair sums), top-20 via
    // TakeOrdered — no global sort materializes.
    "q144_bpe_pairs" -> ((s, d) => {
      val wordFreq = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy(col("word")).agg(count(lit(1)).as("f"))
      wordFreq
        .withColumn("ch", split(col("word"), ""))
        .select(col("f"), explode(transform(
          sequence(lit(1), size(col("ch")) - 1),
          i => concat(element_at(col("ch"), i),
            element_at(col("ch"), i + 1)))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("f")).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(20)
    }),
    "q89_frequent_ngrams" -> ((s, d) =>
      TextAnalysis.frequentNgrams(Tables.documents(s, d), "text",
        n = 2, k = 20)),
    // Interpolated bigram-LM cross-entropy per doc — q114's unigram
    // scorer upgraded to the conditional form perplexity filtering
    // actually uses (CCNet-style): p(w2|w1) = λ·c2/c1(w1) +
    // (1−λ)·c1(w2)/T with λ=0.75, trained on the full corpus. Every
    // count is integer; bigrams are generated ROW-LOCALLY from the
    // token array (one explode, no positional self-join); per-doc
    // bigram multiset collapses first (bid), so the LM joins run on
    // distinct (doc, w1, w2) triples, and the global bigram table
    // derives from bid in the same pass. Word-keyed shuffles
    // throughout — the 100 TB shape for LM scoring.
    "q198_bigram_xent" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      val uni = docs.select(explode(col("w")).as("wd"))
        .groupBy(col("wd")).agg(count(lit(1)).as("c1"))
      val tot = uni.agg(sum(col("c1")).as("t"))
      val bid = docs.filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("w")) - 1),
          i => struct(element_at(col("w"), i).as("w1"),
            element_at(col("w"), i + 1).as("w2")))).as("b"))
        .groupBy(col("doc_id"), col("b.w1").as("w1"),
          col("b.w2").as("w2"))
        .agg(count(lit(1)).as("nd"))
      val big = bid.groupBy(col("w1"), col("w2"))
        .agg(sum(col("nd")).as("c2"))
      bid.join(big, Seq("w1", "w2"))
        .join(uni.select(col("wd").as("w1"), col("c1").as("c1w1")), "w1")
        .join(uni.select(col("wd").as("w2"), col("c1").as("c1w2")), "w2")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("nd"),
          log(lit(0.75) *
              (col("c2").cast("double") / col("c1w1").cast("double"))
            + lit(0.25) *
              (col("c1w2").cast("double") / col("t").cast("double")))
            .as("lnp"))
        .groupBy(col("doc_id"))
        .agg(sum(col("nd")).cast("long").as("n_bigrams"),
          sum(col("nd") * col("lnp")).as("sl"))
        .select(col("doc_id"), col("n_bigrams"),
          round(-col("sl") / col("n_bigrams"), 6).as("xent_nats"))
    }),
    // Zipf power-law fit of the corpus word-frequency distribution:
    // OLS slope/intercept of ln(freq) vs ln(rank) over the top 1000
    // words — the standard corpus-health fingerprint (natural text
    // ≈ −1; template/boilerplate corpora flatten, spam steepens).
    // Ranking is Rank.distributedRank (range-partitioned, NO
    // single-partition window); the regression runs on ×10⁶-quantized
    // integer logs so every power sum is exact (the only doubles are
    // one log per word and the final two divisions, both mirrored
    // verbatim by the oracle).
    "q199_zipf_slope" -> ((s, d) => {
      val wf = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("f"))
      val q = Rank
        .distributedRank(wf, Seq(col("f").desc, col("word").asc), s)
        .filter(col("rk") <= 1000)
        .select(
          round(log(col("rk").cast("double")) * 1e6).cast("long").as("x"),
          round(log(col("f").cast("double")) * 1e6).cast("long").as("y"))
      def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      q.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .withColumn("cxy",
          (d38(col("n")) * d38(col("sxy")) - d38(col("sx")) * d38(col("sy")))
            .cast("double"))
        .withColumn("cxx",
          (d38(col("n")) * d38(col("sxx")) - d38(col("sx")) * d38(col("sx")))
            .cast("double"))
        .select(col("n").cast("long").as("n_words"),
          round(col("cxy") / col("cxx"), 6).as("slope"),
          round((col("sy").cast("double")
              - col("cxy") / col("cxx") * col("sx").cast("double"))
            / (col("n") * lit(1000000.0)), 6).as("intercept"))
    }),
    // Stratified deterministic sampling: src0-src4 at 5%, rest at 20%.
    "q74_stratified_sample" -> ((s, d) =>
      TextAnalysis.stratifiedSample(Tables.documents(s, d), "doc_id",
          "source",
          rates = Map("src0" -> 5, "src1" -> 5, "src2" -> 5,
            "src3" -> 5, "src4" -> 5),
          defaultPct = 20)
        .groupBy(col("source")).agg(count(lit(1)).as("kept"))),
    // Language-tag audit: confusion matrix of DECLARED lang vs the
    // n-gram-profile PREDICTION — the standard pre-flight before
    // trusting per-lang strata (mixture weights, CCNet terciles,
    // stratified splits all key on the tag; a mislabeled stratum
    // silently poisons them). Prediction is the row-local q49
    // argmax expression, so the whole audit is one projection + one
    // (lang, pred_lang)-keyed aggregate — 25 output rows max at any
    // corpus scale, zero joins.
    "q214_lang_mismatch" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"),
          TextAnalysis.langPredExpr(col("text")).as("pred_lang"),
          col("doc_id"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          min(col("doc_id")).as("first_doc"))),
    // RAKE keyphrase extraction (Rose et al.): candidate phrases are
    // maximal stopword-delimited word runs; each word scores
    // deg/freq over the candidate set (deg = Σ phrase lengths it
    // appears in, co-occurrence degree incl. self), a phrase scores
    // the sum of its words, top-15 DISTINCT phrases corpus-wide.
    // Shape: phrase ids from a per-doc prefix sum over stopword
    // flags (per-doc window, doc-bounded), word stats one keyed agg
    // broadcast back, cut TakeOrdered. The 6-dp-rounded score makes
    // the rank boundary engine-stable.
    "q238_rake_keyphrases" -> ((s, d) => {
      val stops = Seq("a", "the", "of", "and", "in", "to", "is")
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), col("pos"), col("col").as("w"),
          when(col("col").isInCollection(stops), 1L).otherwise(0L)
            .as("st"))
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val phrases = toks
        .withColumn("pid", sum(col("st")).over(wDoc))
        .filter(col("st") === 0)
        .groupBy(col("doc_id"), col("pid"))
        // sort_array over (pos, w) structs: collect_list alone has no
        // order guarantee across shuffles
        .agg(concat_ws(" ",
          transform(sort_array(collect_list(struct(col("pos"),
            col("w")))), p => p.getField("w"))).as("phrase"),
          count(lit(1)).as("plen"))
      val words = phrases
        .select(col("plen"), explode(split(col("phrase"), " ")).as("w"))
      val wstat = words.groupBy(col("w"))
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
        .select(col("w"),
          (col("deg").cast("double") / col("freq")).as("ws"))
      phrases.groupBy(col("phrase"))
        .agg(count(lit(1)).cast("long").as("n_occurrences"))
        .select(col("phrase"), col("n_occurrences"),
          explode(split(col("phrase"), " ")).as("w"))
        .join(broadcast(wstat), "w")
        .groupBy(col("phrase"), col("n_occurrences"))
        .agg(round(sum(col("ws")), 6).as("score"))
        .orderBy(col("score").desc, col("phrase").asc)
        .limit(15)
    }),
    // Stupid Backoff trigram LM scoring (Brants et al. 2007 — the
    // LM built FOR trillion-token corpora precisely because its
    // unnormalized counts need no smoothing pass): train on a 3/4
    // hash split, score the held-out quarter per source with the
    // tri→bi→uni→OOV backoff chain (factor 0.4 per level). Scoring
    // runs over DISTINCT (source, trigram) TYPES with occurrence
    // weights — the count-table joins pay type cardinality, not
    // token count — and every per-position surprisal is quantized to
    // integer micro-nats before the corpus-sized sum (the q233
    // discipline). Tier tallies (tri/bi/uni/OOV hits) make the
    // backoff behavior itself observable.
    "q270_backoff_lm" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        col("source"), split(col("text"), " ").as("w"),
        (((col("doc_id") * lit(2654435761L)) % lit(1000000007L))
          % lit(4L) === 0L).as("is_eval"))
      val train = docs.filter(!col("is_eval"))
      def grams(df: DataFrame, n: Int): DataFrame = df
        .filter(size(col("w")) >= n)
        .select(col("source"),
          explode(sequence(lit(1), size(col("w")) - (n - 1))).as("i"),
          col("w"))
        .select((col("source") +:
          (0 until n).map(j =>
            element_at(col("w"), col("i") + lit(j)).as(s"w${j + 1}"))): _*)
      val tri3 = grams(train, 3).groupBy(col("w1"), col("w2"), col("w3"))
        .agg(count(lit(1)).as("c3"))
      val big2 = hold(grams(train, 2).groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c2")))
      val uni1 = hold(grams(train, 1).groupBy(col("w1"))
        .agg(count(lit(1)).as("c1")))
      val n1 = uni1.agg(sum(col("c1")).as("nt"))
      val types = grams(docs.filter(col("is_eval")), 3)
        .groupBy(col("source"), col("w1"), col("w2"), col("w3"))
        .agg(count(lit(1)).as("nocc"))
      val scored = types
        .join(tri3, Seq("w1", "w2", "w3"), "left")
        .join(big2.select(col("w1").as("b1"), col("w2").as("b2"),
          col("c2").as("c2ctx")),
          col("w1") === col("b1") && col("w2") === col("b2"), "left")
        .drop("b1", "b2")
        .join(big2.select(col("w1").as("b1"), col("w2").as("b2"),
          col("c2").as("c2bg")),
          col("w2") === col("b1") && col("w3") === col("b2"), "left")
        .drop("b1", "b2")
        .join(uni1.select(col("w1").as("u2"), col("c1").as("c1ctx")),
          col("w2") === col("u2"), "left")
        .drop("u2")
        .join(uni1.select(col("w1").as("u1"), col("c1").as("c1w")),
          col("w3") === col("u1"), "left")
        .drop("u1")
        .crossJoin(broadcast(n1))
        .select(col("source"), col("nocc"),
          when(col("c3").isNotNull, lit("tri"))
            .when(col("c2bg").isNotNull, lit("bi"))
            .when(col("c1w").isNotNull, lit("uni"))
            .otherwise(lit("oov")).as("tier"),
          when(col("c3").isNotNull,
            round(-log(col("c3").cast("double")
              / col("c2ctx").cast("double")) * 1e6))
          .when(col("c2bg").isNotNull,
            round(-log(lit(0.4) * col("c2bg").cast("double")
              / col("c1ctx").cast("double")) * 1e6))
          .when(col("c1w").isNotNull,
            round(-log(lit(0.16) * col("c1w").cast("double")
              / col("nt").cast("double")) * 1e6))
          .otherwise(round(-log(lit(0.08)
            / col("nt").cast("double")) * 1e6))
          .cast("long").as("m"))
      scored.groupBy(col("source"))
        .agg(sum(col("nocc")).as("n_pos"),
          sum(when(col("tier") === "tri", col("nocc")).otherwise(0L))
            .as("n_tri"),
          sum(when(col("tier") === "bi", col("nocc")).otherwise(0L))
            .as("n_bi"),
          sum(when(col("tier") === "uni", col("nocc")).otherwise(0L))
            .as("n_uni"),
          sum(when(col("tier") === "oov", col("nocc")).otherwise(0L))
            .as("n_oov"),
          sum(col("m") * col("nocc")).as("sm"))
        .select(col("source"), col("n_pos"), col("n_tri"), col("n_bi"),
          col("n_uni"), col("n_oov"),
          call_function("div", col("sm"), col("n_pos"))
            .as("xent_micronats"))
    }),
    // Vocabulary Gini coefficient — how concentrated is token mass
    // over the vocabulary? (The single-number companion to the q199
    // Zipf fit; a post-dedup corpus drifting toward 1.0 means a few
    // tokens dominate.) Exact integers end to end: ranks from ONE
    // distributedRank pass (count asc, word tiebreak — no
    // single-partition window), Σ rk·c as a long (≤ V·N), then the
    // textbook G = 2Σrk·c/(V·N) − (V+1)/V as one spelled-out double
    // expression.
    "q271_vocab_gini" -> ((s, d) => {
      val wc = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      Rank.distributedRank(wc, Seq(col("c").asc, col("w").asc), s,
          withTotal = true)
        .agg(max(col("n_total")).as("v_words"),
          sum(col("c")).as("n_tokens"),
          sum(col("rk") * col("c")).as("s_rank"))
        .select(col("v_words"), col("n_tokens"), col("s_rank"),
          round(lit(2.0) * col("s_rank").cast("double")
              / (col("v_words") * col("n_tokens")).cast("double")
            - (col("v_words") + 1L).cast("double")
              / col("v_words").cast("double"), 6).as("gini"))
    }),
    // Chao1 species-richness estimate per source (Chao 1984, the
    // ecology estimator BigQuery-era corpus audits borrowed for
    // "how much vocabulary haven't we seen yet"): V̂ = V +
    // F1(F1−1)/(2(F2+1)) from singleton/doubleton counts — the
    // bias-corrected form, so the F2=0 corner needs no branch. One
    // vocab-keyed agg then a source-keyed agg; the per-source state
    // is three longs however large the corpus.
    "q272_chao1_richness" -> ((s, d) => {
      val wc = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      wc.groupBy(col("source"))
        .agg(count(lit(1)).as("v_obs"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
          sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"),
          sum(col("c")).as("n_tokens"))
        .select(col("source"), col("v_obs"), col("f1"), col("f2"),
          col("n_tokens"),
          round(col("v_obs").cast("double")
            + (col("f1") * (col("f1") - 1L)).cast("double")
              / (lit(2L) * (col("f2") + 1L)).cast("double"), 4)
            .as("chao1_est"),
          round(col("f1").cast("double") / col("v_obs").cast("double"),
            6).as("singleton_frac"))
    }),
    // Hill tail-index estimator over the word-frequency distribution
    // (Hill 1975, the standard heavy-tail exponent): α̂ = k / Σ_{i≤k}
    // ln(c_i / c_{k+1}) over the k=100 most frequent words — the
    // power-law check that complements q271's Gini (α̂ near 1 =
    // Zipfian; large α̂ = thin-tailed, suspicious for natural text).
    // Head selection is two deterministic TakeOrdered frames (101 and
    // 100 rows, tie-broken by word) — the boundary word c_{k+1} is
    // their set difference, broadcast as the one-row reference; no
    // global window anywhere. Log ratios in integer micro-nats summed
    // as longs, one division at the end.
    "q276_hill_tail" -> ((s, d) => {
      val wc = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val t101 = wc.orderBy(col("c").desc, col("w").asc).limit(101)
      val t100 = wc.orderBy(col("c").desc, col("w").asc).limit(100)
      val ref = t101.join(t100.select(col("w").as("wx")),
          col("w") === col("wx"), "left_anti")
        .select(col("c").as("cref"))
      t100.crossJoin(broadcast(ref))
        .select(round(log(col("c").cast("double")
            / col("cref").cast("double")) * 1e6)
          .cast("long").as("m"), col("cref"))
        .agg(count(lit(1)).as("k"), max(col("cref")).as("c_ref"),
          sum(col("m")).as("sm"))
        .select(col("k"), col("c_ref"),
          round(col("k").cast("double")
            / (col("sm").cast("double") / 1e6), 6).as("hill_alpha"))
    }),
    // Heaps' law fit (V = K·N^β, Heaps 1978): vocabulary-growth curve
    // over 20 doc-id-ordered corpus prefixes, log-log OLS for β and K.
    // β well under 1 = healthy sublinear vocab growth; β near 1 =
    // boilerplate/IDs flooding the vocabulary. Checkpoint bucket is
    // exact integer math ((doc_id·20 − mod)/nd — no float division
    // near bin edges at any corpus size); cumulative token/vocab
    // counts come from a 20×20 broadcast triangle join, not a global
    // window; the regression runs on integer micro-nat log points so
    // Σx, Σxy, Σx² are order-free long sums, two double divisions at
    // the very end. Vocab arrivals = min(first bucket) per word — one
    // word-keyed agg however large the corpus.
    "q277_heaps_fit" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      val nd = docs.agg((max(col("doc_id")) + 1L).as("nd"))
      val toks = docs.crossJoin(broadcast(nd))
        .select(((col("doc_id") * 20L - pmod(col("doc_id") * 20L,
          col("nd"))) / col("nd")).cast("long").as("b"),
          explode(col("ws")).as("w"))
      val perB = toks.groupBy(col("b")).agg(count(lit(1)).as("tc"))
      val arrB = toks.groupBy(col("w")).agg(min(col("b")).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("vc"))
      val grid = perB.join(arrB, Seq("b"), "left")
        .select(col("b"), col("tc"),
          coalesce(col("vc"), lit(0L)).as("vc"))
      val g2 = grid.select(col("b").as("bj"), col("tc").as("tcj"),
        col("vc").as("vcj"))
      val cum = grid.select(col("b"))
        .join(broadcast(g2), col("bj") <= col("b"))
        .groupBy(col("b"))
        .agg(sum(col("tcj")).as("ct"), sum(col("vcj")).as("cv"))
      val fit = cum.select(
          round(log(col("ct").cast("double")) * 1e6).cast("long")
            .as("mx"),
          round(log(col("cv").cast("double")) * 1e6).cast("long")
            .as("my"))
        .agg(count(lit(1)).as("n_pts"), sum(col("mx")).as("sx"),
          sum(col("my")).as("sy"), sum(col("mx") * col("my")).as("sxy"),
          sum(col("mx") * col("mx")).as("sxx"))
        .select(col("n_pts"), col("sx"), col("sy"),
          ((col("n_pts") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
            / (col("n_pts") * col("sxx") - col("sx") * col("sx"))
              .cast("double")).as("beta"))
      fit.select(col("n_pts"), round(col("beta"), 6).as("heaps_beta"),
        round(exp((col("sy").cast("double") / 1e6
            - col("beta") * col("sx").cast("double") / 1e6)
          / col("n_pts").cast("double")), 4).as("heaps_k"))
    }),
    // Top-20 PMI collocations (Church & Hanks 1990): adjacent word
    // pairs with count ≥ 5 ranked by ln(P(xy)/(P(x)P(y))) — the
    // association-not-frequency complement to q89's raw n-gram counts,
    // and the standard signal for multiword vocab entries in tokenizer
    // construction. Counts are exact longs; the PMI ratio is ONE
    // fixed-order double expression (never an integer product that
    // could overflow at 10¹³ tokens) rounded to micro-nats; head is a
    // TakeOrdered-20 tie-broken by pair.
    "q280_pmi_collocations" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(split(col("text"), " ").as("w"))
      val big = docs.filter(size(col("w")) >= 2)
        .select(explode(sequence(lit(1), size(col("w")) - 1)).as("i"),
          col("w"))
        .select(element_at(col("w"), col("i")).as("w1"),
          element_at(col("w"), col("i") + 1).as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cxy"))
      val uni = docs.select(explode(col("w")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
      val consts = big.agg(sum(col("cxy")).as("nb"))
        .crossJoin(uni.agg(sum(col("c")).as("nu")))
      big.filter(col("cxy") >= 5L)
        .join(uni.select(col("t").as("w1"), col("c").as("c1")),
          Seq("w1"))
        .join(uni.select(col("t").as("w2"), col("c").as("c2")),
          Seq("w2"))
        .crossJoin(broadcast(consts))
        .select(col("w1"), col("w2"), col("cxy"),
          round(log(col("cxy").cast("double") * col("nu") / col("nb")
            * col("nu") / col("c1") / col("c2")) * 1e6)
            .cast("long").as("pm"))
        .orderBy(col("pm").desc, col("w1").asc, col("w2").asc)
        .limit(20)
        .select(col("w1"), col("w2"), col("cxy"),
          round(col("pm").cast("double") / 1e6, 6).as("pmi"))
    }),
    // Per-document character-entropy profile aggregated by source
    // (H = ln n − Σc·ln c / n over the doc's character histogram):
    // the compression-ratio proxy that needs no codec — template/
    // boilerplate floods and single-char padding show up as
    // low-entropy tails long before a gzip pass would. c·ln c terms
    // carry integer micro-nat factors so the per-doc sum is an exact
    // long; one division + subtraction per doc. Characters explode to
    // rows (the honest distributed shape — per-doc state never
    // leaves the executors), so the scan is O(total chars) with no
    // skew pitfalls beyond doc length itself.
    "q281_char_entropy" -> ((s, d) => {
      // fanned out post-scan (r15 A/B: 2.0 s raw vs 0.8 s fanned) —
      // the per-character explode is one dominating serialized stage
      val chars = Tables.fanout(s, d, "documents",
          Tables.documents(s, d)
            .select(col("doc_id"), col("source"), col("text")),
          rowsPerTask = 128)
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(1), length(col("text")))).as("i"),
          col("text"))
        .select(col("doc_id"), col("source"),
          expr("substring(text, i, 1)").as("ch"))
      val perDoc = chars.groupBy(col("doc_id"), col("source"),
          col("ch"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(col("c")).as("n"),
          sum(col("c") * round(log(col("c").cast("double")) * 1e6)
            .cast("long")).as("scl"))
        .select(col("source"),
          round(log(col("n").cast("double")) * 1e6
            - col("scl").cast("double") / col("n").cast("double"))
            .cast("long").as("hm"))
      perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round((sum(col("hm")).cast("double")
            / count(lit(1)).cast("double")) / 1e6, 6)
            .as("mean_entropy"),
          round(min(col("hm")).cast("double") / 1e6, 6)
            .as("min_entropy"),
          round(max(col("hm")).cast("double") / 1e6, 6)
            .as("max_entropy"))
    }),
    // Retrieval-quality eval: nDCG@10 and high-relevance P@10 for 20
    // mid-frequency query terms (frequency ranks 11–30, the set
    // difference of two deterministic TakeOrdered heads) under
    // single-term BM25 ranking with graded relevance rel=min(tf,3) —
    // the standard "did length normalization hurt ranking" harness
    // for the q177 BM25 family, all engine-exact: gains are integer
    // (2^rel−1 via bit shift), discounts micro-rounded per rank, rank
    // windows are term-partitioned (posting-list sized, never
    // global). IDCG ranks the same candidates by relevance, so
    // nDCG=1 means BM25 recovered the ideal order.
    "q285_ndcg_eval" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val wc = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val t70 = wc.orderBy(col("c").desc, col("w").asc).limit(30)
      val t50 = wc.orderBy(col("c").desc, col("w").asc).limit(10)
      val qterms = t70.join(t50.select(col("w").as("wx")),
          col("w") === col("wx"), "left_anti")
        .select(col("w").as("term"))
      val tf = toks.join(broadcast(qterms), col("w") === col("term"))
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
      val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).as("nd"),
        sum(col("dl")).as("tot"))
      val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val scored = tf.join(dl, Seq("doc_id"))
        .join(broadcast(dft), Seq("term"))
        .crossJoin(broadcast(stats))
        .select(col("term"), col("doc_id"), col("df"),
          least(col("tf"), lit(3L)).as("rel"),
          round(log(lit(1.0)
              + (col("nd").cast("double") - col("df") + lit(0.5))
                / (col("df") + lit(0.5)))
            * (col("tf") * lit(2.5))
            / (col("tf") + lit(1.5) * (lit(0.25)
              + lit(0.75) * ((col("dl") * col("nd")).cast("double")
                / col("tot")))) * 1e6).cast("long").as("sm"))
      def dcgOf(df: DataFrame,
                ord: Seq[org.apache.spark.sql.Column]): DataFrame = df
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("term")).orderBy(ord: _*)))
        .filter(col("rn") <= 10)
        .select(col("term"), col("rel"),
          round((when(col("rel") === 1L, 1L)
              .when(col("rel") === 2L, 3L).otherwise(7L))
            .cast("double")
            / (log(col("rn").cast("double") + 1.0) / log(lit(2.0)))
            * 1e6).cast("long").as("g"))
      val dcg = dcgOf(scored, Seq(col("sm").desc, col("doc_id").asc))
        .groupBy(col("term"))
        .agg(sum(col("g")).as("dcg_m"),
          sum(when(col("rel") >= 2L, 1L).otherwise(0L)).as("n_hi"))
      val idcg = dcgOf(scored, Seq(col("rel").desc, col("doc_id").asc))
        .groupBy(col("term")).agg(sum(col("g")).as("idcg_m"))
      dcg.join(idcg, Seq("term")).join(broadcast(dft), Seq("term"))
        .select(col("term"), col("df"),
          round(col("dcg_m").cast("double")
            / col("idcg_m").cast("double"), 6).as("ndcg_10"),
          round(col("n_hi").cast("double") / 10.0, 2).as("p10_hi"))
    }),
    // Probability-calibration audit of the q193/q194 classifier:
    // Brier score + expected calibration error (Naeini et al. 2015,
    // 10 equal-width confidence bins) for p = σ(margin/20000) against
    // the planted labels — "the gate says 0.9; is it right 90% of the
    // time?" The same memoized trained weights as q194 (zero extra
    // training cost in the suite). Probabilities quantized to
    // micro-units BEFORE binning and squaring, so bin membership,
    // Σp, and the Brier terms are integer-exact — the per-bin
    // |confidence−accuracy| gap is an integer under abs(); the only
    // doubles are one sigmoid per doc and two final divisions.
    "q286_calibration" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 3 === 0,
          lit(" zzflag" * 10)).otherwise(lit(""))).as("text"))
      val label = when(col("doc_id") % 3 === 0, 1L).otherwise(-1L)
      val trained = Classifier.batchPerceptronCached(planted, "doc_id",
          "text", label, dims = 256, iters = 3,
          cacheKey = s"$d:planted-zzflag", s)
        .filter(col("kind") === "w")
        .collect().map(r => r.getLong(2).toInt -> r.getLong(3)).toMap
      val w = Array.tabulate(257)(j => trained.getOrElse(j, 0L))
      val scored = Classifier.scoreWith(planted, "doc_id", "text", w,
          dims = 256)
        .join(planted.select(col("doc_id"),
          when(col("doc_id") % 3 === 0, 1L).otherwise(0L).as("y")),
          Seq("doc_id"))
        .select(col("y"),
          round(lit(1.0) / (lit(1.0)
            + exp(-col("margin").cast("double") / lit(20000.0)))
            * 1e6).cast("long").as("pm"))
      val binned = scored.select(col("y"), col("pm"),
        least(expr("pm div 100000"), lit(9L)).as("bin"),
        round((col("pm").cast("double") / 1e6
            - col("y").cast("double"))
          * (col("pm").cast("double") / 1e6
            - col("y").cast("double")) * 1e6).cast("long").as("bt"))
      binned.groupBy(col("bin"))
        .agg(count(lit(1)).as("nb"), sum(col("pm")).as("sp"),
          sum(col("y")).as("np"), sum(col("bt")).as("sbt"))
        .agg(sum(col("nb")).as("n_docs"),
          round(sum(col("sbt")).cast("double")
            / sum(col("nb")).cast("double") / 1e6, 6).as("brier"),
          round(sum(abs(col("sp") - lit(1000000L) * col("np")))
            .cast("double")
            / sum(col("nb")).cast("double") / 1e6, 6).as("ece"),
          count(lit(1)).as("n_bins_used"))
    }),
    // Burrows' Delta stylometric distance (Burrows 2002, the
    // authorship-attribution standard): z-score each source's
    // relative rate of the 30 most frequent words against the
    // across-source distribution, Delta(a,b) = mean |z_a − z_b| —
    // "which sources share a register/template" where the dedup
    // family asks "which share CONTENT" (q279 measures vocabulary
    // overlap; this measures function-word STYLE on words everyone
    // shares). Rates in integer parts-per-billion, variance guard is
    // an exact integer equality (k·Σf² = (Σf)² ⇒ z pinned to 0 on
    // both engines), K²·30 grid rows of state.
    "q306_burrows_delta" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
      val top30 = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w").asc).limit(30)
        .select(col("w"))
      val nt = toks.groupBy(col("source"))
        .agg(count(lit(1)).as("nt"))
      val rates = toks.join(broadcast(top30), Seq("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      val f = nt.select(col("source"), col("nt"))
        .crossJoin(broadcast(top30))
        .join(rates, Seq("source", "w"), "left")
        .select(col("source"), col("w"),
          round(coalesce(col("c"), lit(0L)).cast("double") * 1e9
            / col("nt").cast("double")).cast("long").as("fm"))
      val stats = f.groupBy(col("w"))
        .agg(count(lit(1)).as("k"), sum(col("fm")).as("sf"),
          sum(col("fm") * col("fm")).as("sf2"))
      val z = f.join(broadcast(stats), Seq("w"))
        .select(col("source"), col("w"),
          when(col("k") * col("sf2") === col("sf") * col("sf"),
            lit(0.0))
          .otherwise((col("fm").cast("double")
              - col("sf").cast("double") / col("k").cast("double"))
            / sqrt((col("sf2").cast("double")
                - col("sf").cast("double") * col("sf").cast("double")
                  / col("k").cast("double"))
              / (col("k") - 1L).cast("double"))).as("z"))
      z.select(col("source").as("s1"), col("w"), col("z").as("za"))
        .join(z.select(col("source").as("s2"), col("w"),
          col("z").as("zb")), Seq("w"))
        .filter(col("s1") < col("s2"))
        .select(col("s1"), col("s2"),
          round(abs(col("za") - col("zb")) * 1e6).cast("long").as("t"))
        .groupBy(col("s1"), col("s2"))
        .agg(count(lit(1)).as("n_words"),
          round(sum(col("t")).cast("double")
            / count(lit(1)).cast("double") / 1e6, 4).as("delta"))
    }),
    // l-diversity audit (Machanavajjhala et al. 2007) — q246's
    // k-anonymity counts CELL SIZES; this counts SENSITIVE-VALUE
    // diversity inside each quasi-identifier cell (lang × 50-word
    // length bin, sensitive attribute = source): a cell where every
    // member shares one source lets an attacker infer provenance
    // even when the cell is large. Same one-scan + cell-agg shape,
    // the l grid a 3-row broadcast.
    "q317_l_diversity" -> ((s, d) => {
      import s.implicits._
      val cells = Tables.documents(s, d)
        .select(col("lang"),
          expr("size(split(text, ' ')) DIV 50").cast("long")
            .as("len_bin"),
          col("source"))
        .groupBy(col("lang"), col("len_bin"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("source")).as("ndist"))
      val ls = Seq(2L, 3L, 5L).toDF("l")
      cells.crossJoin(broadcast(ls))
        .groupBy(col("l"))
        .agg(count(lit(1)).as("n_cells"),
          sum(when(col("ndist") < col("l"), 1L).otherwise(0L))
            .as("n_cells_below"),
          sum(when(col("ndist") < col("l"), col("n")).otherwise(0L))
            .cast("long").as("n_docs_below"))
    }),
    // Brier-score decomposition (Murphy 1973): REL − RES + UNC over
    // octile forecast bins — q286 reports calibration error; this
    // splits it into reliability (bin forecast vs bin outcome),
    // resolution (bin outcome vs base rate: does the score SEPARATE
    // at all), and irreducible uncertainty. The forecast is the
    // linearly-rescaled integer margin ((m−mn)·1e4 DIV (mx−mn+1) ∈
    // [0,9999]) — a RATIONAL map, so every bin sum is an exact long
    // on both engines where a sigmoid would drift in the last ulp;
    // squared bin residuals stay ≤ (1e4·N)² ≈ 6e16 at sf0.1 (lift to
    // DECIMAL(38,0) accumulators past ~1e5 docs, same formula). The
    // per-bin floor division loses <1 micro²-unit per bin,
    // identically on both engines.
    "q318_brier_decomposition" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 3 === 0,
          lit(" zzflag" * 10)).otherwise(lit(""))).as("text"))
      val label = when(col("doc_id") % 3 === 0, 1L).otherwise(-1L)
      val trained = Classifier.batchPerceptronCached(planted, "doc_id",
          "text", label, dims = 256, iters = 3,
          cacheKey = s"$d:planted-zzflag", s)
        .filter(col("kind") === "w")
        .collect().map(r => r.getLong(2).toInt -> r.getLong(3)).toMap
      val w = Array.tabulate(257)(j => trained.getOrElse(j, 0L))
      val scored = Classifier.scoreWith(planted, "doc_id", "text", w,
          dims = 256)
        .join(planted.select(col("doc_id"),
          when(col("doc_id") % 3 === 0, 1L).otherwise(0L).as("y")),
          Seq("doc_id"))
      val ext = scored.agg(min(col("margin")).as("mn"),
        max(col("margin")).as("mx"))
      val binned = scored.crossJoin(broadcast(ext))
        .select(expr("((margin - mn) * 10000) DIV (mx - mn + 1)")
          .as("pq"), col("y"))
        .select(expr("pq DIV 1250").as("bin"), col("pq"), col("y"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("pq")).as("p"),
          sum(col("y")).as("yb"))
      val tot = binned.agg(sum(col("n")).cast("long").as("nt"),
        sum(col("yb")).cast("long").as("yt"))
      binned.crossJoin(broadcast(tot))
        .agg(max(col("nt")).as("n_docs"), max(col("yt")).as("ytot"),
          sum(expr("((p - 10000 * yb) * (p - 10000 * yb)) DIV n"))
            .as("relnum"),
          sum(expr("((yb * nt - n * yt) * (yb * nt - n * yt)) DIV n"))
            .as("resnum"))
        .select(col("n_docs"),
          round(col("ytot").cast("double")
            / col("n_docs").cast("double"), 6).as("base_rate"),
          round(col("relnum").cast("double")
            / (col("n_docs").cast("double") * lit(1.0e8)), 6)
            .as("reliability"),
          round(col("resnum").cast("double")
            / (col("n_docs").cast("double") * col("n_docs")
              * col("n_docs")), 6).as("resolution"),
          round(col("ytot").cast("double")
            * (col("n_docs") - col("ytot")).cast("double")
            / (col("n_docs").cast("double") * col("n_docs")), 6)
            .as("uncertainty"),
          round(col("relnum").cast("double")
              / (col("n_docs").cast("double") * lit(1.0e8))
            - col("resnum").cast("double")
              / (col("n_docs").cast("double") * col("n_docs")
                * col("n_docs"))
            + col("ytot").cast("double")
              * (col("n_docs") - col("ytot")).cast("double")
              / (col("n_docs").cast("double") * col("n_docs")), 6)
            .as("brier_binned"))
    }),
    // ROC-AUC of the quality classifier by the midrank identity
    // (AUC = (R₁ − n₁(n₁+1)/2)/(n₁n₀), midranks for ties — the
    // Mann-Whitney U link, q312, applied as a CLASSIFIER eval): all
    // rank sums are exact integers (doubled midranks keep the ½s
    // integral), one double division at the end. The tie prefix sum
    // runs over DISTINCT margin values via Rank.distributedPrefixSum
    // — no single-partition window, no O(V²) value self-join.
    "q319_auc_ranksum" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 3 === 0,
          lit(" zzflag" * 10)).otherwise(lit(""))).as("text"))
      val label = when(col("doc_id") % 3 === 0, 1L).otherwise(-1L)
      val trained = Classifier.batchPerceptronCached(planted, "doc_id",
          "text", label, dims = 256, iters = 3,
          cacheKey = s"$d:planted-zzflag", s)
        .filter(col("kind") === "w")
        .collect().map(r => r.getLong(2).toInt -> r.getLong(3)).toMap
      val w = Array.tabulate(257)(j => trained.getOrElse(j, 0L))
      val vc = Classifier.scoreWith(planted, "doc_id", "text", w,
          dims = 256)
        .select(col("margin"),
          when(col("doc_id") % 3 === 0, 1L).otherwise(0L).as("y1"))
        .groupBy(col("margin"))
        .agg(count(lit(1)).as("t"), sum(col("y1")).as("t1"))
      Rank.distributedPrefixSum(vc, Seq(col("margin").asc),
          col("t"), s)
        .select(col("t"), col("t1"),
          (lit(2L) * (col("run") - col("t")) + col("t") + lit(1L))
            .as("mr2")) // doubled midrank of every row at this value
        .agg(sum(col("t")).cast("long").as("n"),
          sum(col("t1")).cast("long").as("n_pos"),
          sum(col("t1") * col("mr2")).cast("long").as("r1x2"))
        .select(col("n_pos"), (col("n") - col("n_pos")).as("n_neg"),
          round((col("r1x2") - col("n_pos") * (col("n_pos") + 1L))
              .cast("double")
            / (lit(2.0) * col("n_pos").cast("double")
              * (col("n") - col("n_pos")).cast("double")), 6)
            .as("auc"))
    }),
    // TextRank keywords (Mihalcea & Tarau 2004): PageRank over the
    // word-adjacency graph (window = 2, content words = length ≥ 4),
    // the graph-centrality complement to q238's RAKE (degree-based)
    // scoring. Reuses the integer-exact 3-iteration power walk
    // (Graph.pageRankInt) — vertex ids are the words themselves, so
    // no hash indirection; bigrams generate in-row (zero extra
    // scans), and the corpus-wide graph is distinct word pairs —
    // vocabulary-bounded, not corpus-bounded, at any scale.
    "q320_textrank" -> ((s, d) => {
      val bg = Tables.documents(s, d)
        .select(TextAnalysis.words(col("text")).as("w"))
        .filter(size(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(w) - 1), " +
            "i -> struct(element_at(w, i) AS a, " +
            "element_at(w, i + 1) AS b))")).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .filter(col("a") =!= col("b")
          && length(col("a")) >= 4 && length(col("b")) >= 4)
      val sym = bg.select(explode(array(
          struct(col("a").as("u"), col("b").as("v")),
          struct(col("b").as("u"), col("a").as("v")))).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
      Graph.pageRankInt(sym, "u", "v", iters = 3)
        .orderBy(col("rank").desc, col("v").asc).limit(15)
        .select(col("v").as("word"), col("rank"))
    }),
    // RAG passage-chunking audit: fixed-size word windows (64 tokens,
    // stride 48 → 16-token overlap) per document — chunk count, token
    // emission, and the overlap-duplication fraction per source, the
    // sizing table behind a chunked retrieval index ("how much does
    // the index inflate, and which sources fragment worst"). Chunk
    // starts come from an in-row sequence() explode (row-local, no
    // join, no shuffle before the one keyed agg), so the audit costs
    // one scan at any corpus size; per-doc rows are nw/48 — bounded
    // by document length, never corpus size. All counts are exact
    // longs; the one division is a final rounded double.
    "q325_chunk_stats" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("source"),
        size(split(col("text"), " ")).cast("long").as("nw"))
      base.select(col("source"), col("nw"),
          explode(sequence(lit(1L), col("nw"), lit(48L))).as("st"))
        .select(col("source"), col("nw"), col("st"),
          least(lit(64L), col("nw") - col("st") + 1L).as("ct"))
        .groupBy(col("source"))
        .agg(sum(when(col("st") === 1L, 1L).otherwise(0L))
            .as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(col("ct")).as("toks_emitted"),
          sum(when(col("st") === 1L, col("nw")).otherwise(0L))
            .as("toks_unique"))
        .select(col("source"), col("n_docs"), col("n_chunks"),
          col("toks_emitted"), col("toks_unique"),
          round(lit(1.0) - col("toks_unique").cast("double")
            / col("toks_emitted").cast("double"), 6)
            .as("overlap_frac"))
    }),
    // Intra-document repetition profile (the Gopher repetition rules
    // q129's length/stopword gates leave out): per doc, the
    // most-frequent unigram's token share and the most-frequent
    // bigram's share; per source, micro-unit-exact mean shares plus
    // Gopher-style fail counts (top-1 share > 1/5, top-bigram share
    // > 18% — the "same token looping" and "boilerplate refrain"
    // template-degeneracy screens). Per-doc shares are quantized
    // mu·1e6 DIV nw (exact longs, order-free sums); the fail
    // predicates are pure integer comparisons (mu·5 > nw), so no
    // boundary can straddle engines. Two doc-keyed aggs — every
    // group is one document, never corpus-sized.
    "q330_repetition_profile" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("source"), col("w"),
          size(col("w")).cast("long").as("nw"))
      val uni = docs.select(col("doc_id"), explode(col("w")).as("t"))
        .groupBy(col("doc_id"), col("t"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("mu"))
      val bi = docs.filter(col("nw") >= 2L)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w) - 1), " +
            "i -> concat_ws(' ', slice(w, i, 2)))")).as("t"))
        .groupBy(col("doc_id"), col("t"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("mb"))
      docs.select(col("doc_id"), col("source"), col("nw"))
        .join(uni, Seq("doc_id"))
        .join(bi, Seq("doc_id"), "left")
        .select(col("source"), col("nw"), col("mu"),
          coalesce(col("mb"), lit(0L)).as("mb"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("(mu * 1000000) DIV nw")).as("s1"),
          sum(when(col("nw") >= 2L,
            expr("(mb * 1000000) DIV (nw - 1)")).otherwise(0L))
            .as("s2"),
          sum(when(col("mu") * 5L > col("nw"), 1L).otherwise(0L))
            .as("n_fail_top1"),
          sum(when(col("nw") >= 2L
              && col("mb") * 100L > (col("nw") - 1L) * 18L, 1L)
            .otherwise(0L)).as("n_fail_top2"))
        .select(col("source"), col("n_docs"),
          round(col("s1").cast("double")
            / (col("n_docs").cast("double") * 1e6), 6)
            .as("mean_top1_frac"),
          round(col("s2").cast("double")
            / (col("n_docs").cast("double") * 1e6), 6)
            .as("mean_top2_frac"),
          col("n_fail_top1"), col("n_fail_top2"))
    }),
    // Inverted-index posting-list compression audit: for the 20
    // highest-df terms, the byte cost of delta-encoding the sorted
    // doc_id posting list at minimal bit width (width(g) = ⌊log₂g⌋+1,
    // computed as Σᵢ [g ≥ 2ⁱ] — integer comparisons, no log) vs raw
    // 8-byte postings — the storage estimate that decides whether a
    // 100-TB text index fits its budget (frequent terms delta-pack to
    // a few bits/posting). Within-term successor pairs come from ONE
    // global distributedRank over (term, doc_id) + a rank+1
    // self-join — a PARTITION BY term window would serialize every
    // stopword's O(n_docs) posting list through one task. Top-20 is
    // a TakeOrdered on the per-term frame, never a global sort.
    "q335_posting_compression" -> ((s, d) => {
      val widthOf: org.apache.spark.sql.Column =>
          org.apache.spark.sql.Column = g =>
        (0 to 40).map(i => when(g >= lit(1L << i), 1L).otherwise(0L))
          .reduce(_ + _)
      val post = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " "))
          .as("term"))
        .filter(length(col("term")) > 0)
        .distinct()
      val ranked = Rank.distributedRank(post,
        Seq(col("term").asc, col("doc_id").asc), s)
      val nxt = ranked.select(col("term").as("t2"),
        (col("rk") - 1L).as("rk"), col("doc_id").as("next_id"))
      val pairs = ranked.join(nxt, Seq("rk"), "left")
      // a posting is either a delta off its same-term predecessor
      // (the rank+1 pair with matching term) or its term's head,
      // charged the full width of head_id+1 (the +1 keeps doc_id=0
      // at width 1 without a zero-width special case)
      val deltas = pairs
        .filter(col("t2").isNotNull && col("t2") === col("term"))
        .select(col("term"),
          widthOf(col("next_id") - col("doc_id")).as("w"))
      val heads = post.groupBy(col("term"))
        .agg(min(col("doc_id")).as("head_id"))
        .select(col("term"), widthOf(col("head_id") + 1L).as("w"))
      val bits = deltas.unionAll(heads)
      bits.groupBy(col("term"))
        .agg((count(lit(1))).as("df"), sum(col("w")).as("bits"))
        .select(col("term"), col("df"),
          col("bits"),
          expr("(bits + 7) DIV 8").as("delta_bytes"),
          (col("df") * 8L).as("raw_bytes"),
          round((col("df") * 8L).cast("double")
            / expr("(bits + 7) DIV 8").cast("double"), 6)
            .as("compression_ratio"))
        .orderBy(col("df").desc, col("term").asc)
        .limit(20)
    }),
    // Flesch–Kincaid grade level per source — the READABILITY axis of
    // corpus quality that q50's surface gates (length/punct/stopword)
    // don't measure: 0.39·(words/sentences) + 11.8·(syllables/words)
    // − 15.59. Syllables by the standard vowel-group heuristic
    // (runs of [aeiou], min 1 per word), sentences by [.!?] count
    // (min 1 per doc — the synthetic corpus is sentence-less and
    // degrades gracefully). Everything is row-local integer counting
    // via in-row fold (zero exchange before the per-source rollup,
    // same shape as the q49/q50 gates); the grade is one fixed-order
    // double over exact per-source integer sums, identical string
    // semantics in both engines (split-on-space parity is the q322
    // convention, regexes are char-class only).
    "q355_readability" -> ((s, d) => {
      val sc = Tables.documents(s, d).select(col("source"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("w"),
        expr("greatest(CAST(1 AS BIGINT), " +
          "CAST(length(regexp_replace(text, '[^.!?]', '')) AS BIGINT))")
          .as("sen"),
        // ASCII-only case fold via translate (r12 SpecialCasing
        // audit): Java lower() applies Unicode SpecialCasing 1:N
        // (İ → i+dot) while DuckDB maps 1:1, and this fold's result
        // feeds HASHED syllable counts — translate is 1:1 in both
        // engines on ANY input, so the parity no longer leans on the
        // corpus being pure ASCII
        expr("aggregate(split(translate(text, " +
          "'ABCDEFGHIJKLMNOPQRSTUVWXYZ', " +
          "'abcdefghijklmnopqrstuvwxyz'), ' '), CAST(0 AS BIGINT), " +
          "(acc, wd) -> acc + greatest(CAST(1 AS BIGINT), " +
          "CAST(length(regexp_replace(regexp_replace(wd, " +
          "'[aeiou]+', 'V'), '[^V]', '')) AS BIGINT)))").as("sy"))
      sc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
          sum(col("sen")).as("n_sentences"),
          sum(col("sy")).as("n_syllables"))
        .select(col("source"), col("n_docs"), col("n_words"),
          col("n_sentences"), col("n_syllables"),
          round(lit(0.39) * col("n_words").cast("double")
              / col("n_sentences").cast("double")
            + lit(11.8) * col("n_syllables").cast("double")
              / col("n_words").cast("double")
            - lit(15.59), 4).as("fk_grade"))
    })
  )

  private val profileValues = TextAnalysis.langProfiles
    .flatMap { case (l, ms) => ms.map(m => s"('$l','$m')") }.mkString(",")

  /** Base-16 parse of md5-hex digits 1..15 over column alias `m` —
    * ONE definition shared with the dedup pack (DedupQueries), so
    * the two oracles can never drift from Dedup.md5Hash60. */
  private val wordHash60Sql: String = DedupQueries.md5Hex60Sql

  /** Shared training CTEs for q193/q194: the full 3-iteration batch
    * perceptron unrolled — w0 = 0 makes every doc misclassified in
    * pass 1; each pass = margins under the entering weights →
    * misclassified set → integer delta. All sums BIGINT-exact. */
  private lazy val perceptronCtes: String =
    s"""docs AS (SELECT doc_id,
        |   CASE WHEN doc_id % 3 = 0 THEN 1 ELSE -1 END AS y,
        |   text || CASE WHEN doc_id % 3 = 0
        |    THEN '${" zzflag" * 10}' ELSE '' END AS text
        |  FROM documents),
        | toks AS (SELECT doc_id, y,
        |   unnest(string_split(text, ' ')) AS word FROM docs),
        | hm AS (SELECT doc_id, y, md5(word) AS m FROM toks),
        | hb AS (SELECT doc_id, y, ($wordHash60Sql) % 256 AS j FROM hm),
        | feat AS (SELECT doc_id, y, j, count(*) AS c FROM hb
        |   GROUP BY 1, 2, 3
        |  UNION ALL SELECT doc_id, y, 256, 1 FROM docs),
        | js AS (SELECT unnest(generate_series(0, 256)) AS j),
        | n1 AS (SELECT count(*) AS n FROM docs),
        | w1 AS (SELECT j, CAST(sum(y * c) AS BIGINT) AS w FROM feat
        |  GROUP BY j),
        | m2 AS (SELECT f.doc_id, f.y,
        |   CAST(sum(f.c * coalesce(w1.w, 0)) AS BIGINT) AS m
        |  FROM feat f LEFT JOIN w1 ON f.j = w1.j GROUP BY 1, 2),
        | mc2 AS (SELECT doc_id FROM m2 WHERE y * m <= 0),
        | n2 AS (SELECT count(*) AS n FROM mc2),
        | d2 AS (SELECT f.j, CAST(sum(f.y * f.c) AS BIGINT) AS d
        |  FROM feat f JOIN mc2 USING (doc_id) GROUP BY f.j),
        | w2 AS (SELECT js.j,
        |   coalesce(w1.w, 0) + coalesce(d2.d, 0) AS w
        |  FROM js LEFT JOIN w1 ON js.j = w1.j
        |   LEFT JOIN d2 ON js.j = d2.j),
        | m3 AS (SELECT f.doc_id, f.y,
        |   CAST(sum(f.c * coalesce(w2.w, 0)) AS BIGINT) AS m
        |  FROM feat f LEFT JOIN w2 ON f.j = w2.j GROUP BY 1, 2),
        | mc3 AS (SELECT doc_id FROM m3 WHERE y * m <= 0),
        | n3 AS (SELECT count(*) AS n FROM mc3),
        | d3 AS (SELECT f.j, CAST(sum(f.y * f.c) AS BIGINT) AS d
        |  FROM feat f JOIN mc3 USING (doc_id) GROUP BY f.j),
        | w3 AS (SELECT js.j, w2.w + coalesce(d3.d, 0) AS w
        |  FROM js LEFT JOIN w2 ON js.j = w2.j
        |   LEFT JOIN d3 ON js.j = d3.j)""".stripMargin

  /** The unrolled greedy-round CTE chain shared by the q376/q380
    * oracles: consumes `r0(w, c, s)`, emits `r1..rN(w, c, s, nm)`
    * via the same run-parity windows as the Spark side. */
  private def bpeRoundsSql: String =
    bpeMerges.zipWithIndex.map { case ((a, b), i) =>
      s"""p$i AS (SELECT w, c, u.i - 1 AS i, ls[u.i] AS x,
         |   ls[u.i + 1] AS nxt
         |  FROM (SELECT w, c, string_split(s, ' ') AS ls
         |    FROM r$i) t,
         |   UNNEST(generate_series(1, len(ls))) AS u(i)),
         | a$i AS (SELECT *, lag(x) OVER
         |    (PARTITION BY w ORDER BY i) AS prev FROM p$i),
         | b$i AS (SELECT *, max(CASE WHEN prev IS NULL
         |     OR prev <> x THEN i END) OVER
         |    (PARTITION BY w ORDER BY i) AS rs FROM a$i),
         | g$i AS (SELECT *, (nxt IS NOT NULL AND x = '$a'
         |    AND nxt = '$b'
         |    AND (x <> nxt OR (i - rs) % 2 = 0)) AS mg FROM b$i),
         | h$i AS (SELECT *, coalesce(lag(mg) OVER
         |    (PARTITION BY w ORDER BY i), false) AS pm FROM g$i),
         | r${i + 1} AS (SELECT w, c,
         |   string_agg(CASE WHEN mg THEN x || nxt ELSE x END,
         |     ' ' ORDER BY i) AS s,
         |   CAST(sum(CASE WHEN mg THEN 1 ELSE 0 END) AS BIGINT)
         |     AS nm
         |  FROM h$i WHERE NOT pm GROUP BY w, c)""".stripMargin
    }.mkString(",\n ")

  val oracles: Map[String, String] = Map(
    "q371_bpe_merges" -> {
      // 5 unrolled one-pass-greedy rounds, mirroring the Spark side
      // verbatim: positions + run-start window (two layers: lag flag,
      // then running max), greedy = unequal pair OR even run offset,
      // top-1 by (count desc, pair), merge = fuse greedy winner
      // occurrences and drop the consumed following position, then
      // re-assemble with an ordered string_agg.
      val rounds = (0 until 5).map { i =>
        s"""p$i AS (SELECT w, c, u.i - 1 AS i, ls[u.i] AS x,
           |   ls[u.i + 1] AS nxt
           |  FROM (SELECT w, c, string_split(s, ' ') AS ls
           |    FROM r$i) t,
           |   UNNEST(generate_series(1, len(ls))) AS u(i)),
           | a$i AS (SELECT *, lag(x) OVER
           |    (PARTITION BY w ORDER BY i) AS prev FROM p$i),
           | b$i AS (SELECT *, max(CASE WHEN prev IS NULL
           |     OR prev <> x THEN i END) OVER
           |    (PARTITION BY w ORDER BY i) AS rs FROM a$i),
           | g$i AS (SELECT *, (nxt IS NOT NULL AND
           |    (x <> nxt OR (i - rs) % 2 = 0)) AS greedy FROM b$i),
           | cn$i AS (SELECT x AS s1, nxt AS s2,
           |   CAST(sum(c) AS BIGINT) AS n FROM g$i
           |  WHERE greedy GROUP BY 1, 2),
           | m$i AS (SELECT s1, s2, n FROM cn$i
           |  ORDER BY n DESC, s1, s2 LIMIT 1),
           | f$i AS (SELECT g.*, (g.greedy AND g.x = m.s1
           |    AND g.nxt = m.s2) AS mg
           |  FROM g$i g CROSS JOIN m$i m),
           | h$i AS (SELECT *, coalesce(lag(mg) OVER
           |    (PARTITION BY w ORDER BY i), false) AS pm FROM f$i),
           | r${i + 1} AS (SELECT w, c,
           |   string_agg(CASE WHEN mg THEN x || nxt ELSE x END,
           |     ' ' ORDER BY i) AS s
           |  FROM h$i WHERE NOT pm GROUP BY w, c)""".stripMargin
      }.mkString(",\n ")
      val finals = (0 until 5).map(i =>
        s"SELECT CAST(${i + 1} AS BIGINT) AS merge_round, " +
          s"s1 AS sym_a, s2 AS sym_b, n AS pair_count FROM m$i")
        .mkString("\n UNION ALL ")
      s"""WITH wf AS (SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w
        |    FROM documents) t
        |  WHERE regexp_matches(w, '^[a-z]{2,20}$$')
        |  GROUP BY 1),
        | r0 AS (SELECT w, c,
        |   trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS s FROM wf),
        | $rounds
        | $finals""".stripMargin
    },
    "q376_bpe_encode" -> {
      // the same unrolled greedy-round CTEs as q371's oracle, but the
      // round's pair is the FIXED merge-table entry (no top-1 CTE);
      // per round emit corpus-weighted merges applied and the token
      // count recomputed from the fused strings
      val stats = bpeMerges.zipWithIndex.map { case ((a, b), i) =>
        s"""st$i AS (SELECT CAST(${i + 1} AS BIGINT) AS merge_round,
           |   '$a' AS sym_a, '$b' AS sym_b,
           |   CAST(coalesce(sum(c * nm), 0) AS BIGINT)
           |     AS merges_applied,
           |   CAST(coalesce(sum(c * len(string_split(s, ' '))), 0)
           |     AS BIGINT) AS tokens_after
           |  FROM r${i + 1})""".stripMargin
      }.mkString(",\n ")
      val finals = bpeMerges.indices
        .map(i => s"SELECT * FROM st$i")
        .mkString("\n UNION ALL ")
      s"""WITH wf AS (SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w
        |    FROM documents) t
        |  WHERE regexp_matches(w, '^[a-z]{2,20}$$')
        |  GROUP BY 1),
        | r0 AS (SELECT w, c,
        |   trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS s FROM wf),
        | $bpeRoundsSql,
        | $stats
        | $finals""".stripMargin
    },
    "q380_tokenizer_fertility" ->
      // one (lang, word) corpus shuffle; the global vocab derives
      // from it; the same unrolled encode; fertility ratios as exact
      // integer ppm over the per-language usage-weighted sums
      s"""WITH lw AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS cw
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
        |    FROM documents) t
        |  WHERE regexp_matches(w, '^[a-z]{2,20}$$')
        |  GROUP BY 1, 2),
        | wf AS (SELECT w, CAST(sum(cw) AS BIGINT) AS c
        |  FROM lw GROUP BY 1),
        | r0 AS (SELECT w, c,
        |   trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS s FROM wf),
        | $bpeRoundsSql,
        | enc AS (SELECT w,
        |   CAST(len(string_split(s, ' ')) AS BIGINT) AS toks,
        |   CAST(length(w) AS BIGINT) AS chars
        |  FROM r${bpeMerges.length}),
        | agg AS (SELECT l.lang, CAST(sum(l.cw) AS BIGINT) AS words,
        |   CAST(sum(l.cw * e.toks) AS BIGINT) AS tokens,
        |   CAST(sum(l.cw * e.chars) AS BIGINT) AS chars
        |  FROM lw l JOIN enc e USING (w) GROUP BY 1)
        | SELECT lang, words, tokens, chars,
        |  tokens * 1000000 // words AS fertility_ppm,
        |  chars * 1000000 // tokens AS chars_per_token_ppm
        | FROM agg""".stripMargin,
    "q367_string_parity" -> {
      val vals = parityCases.map { case (id, str) =>
        s"($id, ${sqlLit(str)})"
      }.mkString(",\n        |   ")
      s"""WITH c(case_id, s) AS (VALUES
        |   $vals)
        | SELECT CAST(case_id AS BIGINT) AS case_id,
        |  CAST(length(s) AS BIGINT) AS n_chars,
        |  CAST(len(string_split(s, ' ')) AS BIGINT) AS n_words,
        |  CAST(len(list_filter(string_split(s, ' '),
        |    x -> x IN ('a','the','of','and','in','to','is')))
        |   AS BIGINT) AS n_stop,
        |  CAST(length(s)
        |    - length(regexp_replace(s, '[^a-z0-9 ]', '', 'g'))
        |   AS BIGINT) AS n_punct,
        |  CAST(length(regexp_replace(s, '[^a-z]', '', 'g'))
        |   AS BIGINT) AS n_alpha,
        |  CAST(CASE WHEN strpos(s, 'ß') > 0 OR strpos(s, 'İ') > 0
        |   THEN NULL ELSE length(upper(s)) END AS BIGINT) AS up_len,
        |  strpos(s, 'ß') > 0 OR strpos(s, 'İ') > 0
        |   AS has_special_casing,
        |  CAST(length(trim(s)) AS BIGINT) AS trim_len,
        |  CAST(strpos(s, 'b') AS BIGINT) AS pos_b,
        |  substr(s, 2, 3) AS sub23,
        |  CASE WHEN strpos(s, 'ß') > 0 OR strpos(s, 'İ') > 0
        |   THEN NULL ELSE lower(s) END AS lower_s,
        |  regexp_replace(s, ' ', '_', 'g') AS spaced
        | FROM c""".stripMargin
    },
    "q355_readability" ->
      """WITH t AS (SELECT source, doc_id, text,
        |   string_split(translate(text,
        |     'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
        |     'abcdefghijklmnopqrstuvwxyz'), ' ') AS ws
        |  FROM documents),
        | words AS (SELECT source, doc_id, unnest(ws) AS wd FROM t),
        | syl AS (SELECT doc_id,
        |   CAST(count(*) AS BIGINT) AS wcnt,
        |   CAST(sum(greatest(1, length(regexp_replace(
        |     regexp_replace(wd, '[aeiou]+', 'V', 'g'),
        |     '[^V]', '', 'g')))) AS BIGINT) AS sy
        |  FROM words GROUP BY 1),
        | base AS (SELECT d.source, syl.wcnt, syl.sy,
        |   greatest(1, length(regexp_replace(d.text, '[^.!?]', '',
        |     'g'))) AS sen
        |  FROM documents d JOIN syl ON syl.doc_id = d.doc_id)
        | SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(wcnt) AS BIGINT) AS n_words,
        |  CAST(sum(sen) AS BIGINT) AS n_sentences,
        |  CAST(sum(sy) AS BIGINT) AS n_syllables,
        |  round(0.39 * CAST(sum(wcnt) AS DOUBLE)
        |    / CAST(sum(sen) AS DOUBLE)
        |   + 11.8 * CAST(sum(sy) AS DOUBLE)
        |    / CAST(sum(wcnt) AS DOUBLE) - 15.59, 4) AS fk_grade
        | FROM base GROUP BY 1""".stripMargin,
    // same λ-interpolated formula, same op order: ln(0.75·(c2/c1w1)
    // + 0.25·(c1w2/T)); counts BIGINT, one double log per triple,
    // 6-dp round absorbs the Σ(nd·lnp) summation-order ulps
    // HUGEINT power sums of the same ×10⁶-quantized logs; identical
    // double formula (cxy/cxx, then the intercept unscale by n·10⁶)
    "q199_zipf_slope" ->
      """WITH wf AS (SELECT w AS word, count(*) AS f FROM (
        |   SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY 1),
        | ranked AS (SELECT f,
        |   row_number() OVER (ORDER BY f DESC, word ASC) AS rk FROM wf),
        | q AS (SELECT
        |   CAST(round(ln(CAST(rk AS DOUBLE)) * 1000000) AS BIGINT) AS x,
        |   CAST(round(ln(CAST(f AS DOUBLE)) * 1000000) AS BIGINT) AS y
        |  FROM ranked WHERE rk <= 1000),
        | s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |   sum(x * y) AS sxy, sum(x * x) AS sxx FROM q),
        | c AS (SELECT n, sx, sy,
        |   CAST(n * sxy - sx * sy AS DOUBLE) AS cxy,
        |   CAST(n * sxx - sx * sx AS DOUBLE) AS cxx FROM s)
        | SELECT CAST(n AS BIGINT) AS n_words,
        |  round(cxy / cxx, 6) AS slope,
        |  round((CAST(sy AS DOUBLE) - cxy / cxx * CAST(sx AS DOUBLE))
        |    / (n * 1000000.0), 6) AS intercept
        | FROM c""".stripMargin,
    "q198_bigram_xent" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |   FROM documents),
        | uni AS (SELECT wd, count(*) AS c1 FROM (
        |    SELECT unnest(w) AS wd FROM toks) GROUP BY 1),
        | tot AS (SELECT CAST(sum(c1) AS BIGINT) AS t FROM uni),
        | bid AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2,
        |    count(*) AS nd
        |   FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS s(i)
        |   GROUP BY 1, 2, 3),
        | big AS (SELECT w1, w2, sum(nd) AS c2 FROM bid GROUP BY 1, 2),
        | sc AS (SELECT doc_id, nd,
        |    ln(0.75 * (CAST(c2 AS DOUBLE) / CAST(u1.c1 AS DOUBLE))
        |     + 0.25 * (CAST(u2.c1 AS DOUBLE) / CAST(t AS DOUBLE)))
        |      AS lnp
        |   FROM bid JOIN big USING (w1, w2)
        |   JOIN uni u1 ON bid.w1 = u1.wd
        |   JOIN uni u2 ON bid.w2 = u2.wd, tot)
        | SELECT doc_id, CAST(sum(nd) AS BIGINT) AS n_bigrams,
        |  round(-sum(nd * lnp) / sum(nd), 6) AS xent_nats
        | FROM sc GROUP BY doc_id""".stripMargin,
    "q193_perceptron" ->
      s"""WITH $perceptronCtes
        | SELECT 'miscl' AS kind, CAST(1 AS BIGINT) AS it,
        |   CAST(0 AS BIGINT) AS j, CAST(n AS BIGINT) AS val FROM n1
        | UNION ALL SELECT 'miscl', 2, 0, CAST(n AS BIGINT) FROM n2
        | UNION ALL SELECT 'miscl', 3, 0, CAST(n AS BIGINT) FROM n3
        | UNION ALL SELECT 'w', 3, CAST(j AS BIGINT),
        |   CAST(w AS BIGINT) FROM w3""".stripMargin,
    "q194_perceptron_eval" ->
      // score every doc under the RETRAINED w3 and cross-tab against
      // the true labels — exact integer margins, sign tie → −1 on
      // both engines
      s"""WITH $perceptronCtes,
        | m4 AS (SELECT f.doc_id, f.y,
        |   CAST(sum(f.c * coalesce(w3.w, 0)) AS BIGINT) AS m
        |  FROM feat f LEFT JOIN w3 ON f.j = w3.j GROUP BY 1, 2)
        | SELECT CAST(y AS BIGINT) AS y,
        |  CAST(CASE WHEN m > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred,
        |  count(*) AS n
        | FROM m4 GROUP BY 1, 2""".stripMargin,
    "q364_worst_group_eval" ->
      // the same retrained w3 scores, rolled up by lang; worst-group
      // flag on the 6dp-rounded accuracy (ties flag every minimum)
      s"""WITH $perceptronCtes,
        | m4 AS (SELECT f.doc_id, f.y,
        |   CAST(sum(f.c * coalesce(w3.w, 0)) AS BIGINT) AS m
        |  FROM feat f LEFT JOIN w3 ON f.j = w3.j GROUP BY 1, 2),
        | per AS (SELECT d.lang,
        |   CAST(count(*) AS BIGINT) AS n_docs,
        |   CAST(sum(CASE WHEN (CASE WHEN m4.m > 0 THEN 1 ELSE -1 END)
        |     = m4.y THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        |  FROM m4 JOIN documents d ON d.doc_id = m4.doc_id
        |  GROUP BY 1),
        | pa AS (SELECT lang, n_docs, n_correct,
        |   round(CAST(n_correct AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
        |    AS accuracy FROM per),
        | tot AS (SELECT min(accuracy) AS worst_acc,
        |   CAST(sum(n_docs) AS BIGINT) AS nt,
        |   CAST(sum(n_correct) AS BIGINT) AS ct FROM pa)
        | SELECT lang, n_docs, n_correct, accuracy,
        |  round(CAST(ct AS DOUBLE) / CAST(nt AS DOUBLE), 6)
        |   AS overall_accuracy,
        |  accuracy = worst_acc AS is_worst_group
        | FROM pa CROSS JOIN tot""".stripMargin,
    "q190_blocklist" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '),
        |   x -> list_contains(['slow', 'lag', 'stall'], x)))
        |   AS BIGINT) AS n_slowness,
        |  CAST(len(list_filter(string_split(text, ' '),
        |   x -> list_contains(['spark', 'flink', 'trino'], x)))
        |   AS BIGINT) AS n_competitor,
        |  CAST(len(list_filter(string_split(text, ' '),
        |   x -> list_contains(['slow', 'lag', 'stall'], x)))
        |   + len(list_filter(string_split(text, ' '),
        |   x -> list_contains(['spark', 'flink', 'trino'], x)))
        |   AS BIGINT) AS n_total,
        |  len(list_filter(string_split(text, ' '),
        |   x -> list_contains(['slow', 'lag', 'stall'], x)))
        |   + len(list_filter(string_split(text, ' '),
        |   x -> list_contains(['spark', 'flink', 'trino'], x)))
        |   <= 2 AS keep
        | FROM documents""".stripMargin,
    "q188_pii_scrub" ->
      // same planted corpus, same patterns; DuckDB needs the 'g'
      // flag (regexp_replace defaults to first-match-only, Spark
      // always replaces all)
      """WITH planted AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 7 = 0
        |   THEN ' contact bob@example.com or x@y.org' ELSE '' END ||
        |  CASE WHEN doc_id % 11 = 0
        |   THEN ' from 192.168.3.44' ELSE '' END ||
        |  CASE WHEN doc_id % 13 = 0
        |   THEN ' call +1-555-013-4567' ELSE '' END AS text
        | FROM documents)
        | SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |   AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |   '\+\d{1,2}-\d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(text,
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        |   AS BIGINT) AS n_ips,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |   '<EMAIL>', 'g'),
        |   '\+\d{1,2}-\d{3}-\d{3}-\d{4}', '<PHONE>', 'g'),
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')
        |   AS clean_text
        | FROM planted""".stripMargin,
    "q187_repetition" ->
      // grams are NON-distinct here (occurrence counts, not set
      // identity); single integer-ratio divisions are bit-exact
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |   FROM documents),
        | grams AS (SELECT doc_id,
        |   w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
        |  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        |  WHERE len(w) >= 3),
        | per AS (SELECT doc_id, g, count(*) AS c FROM grams
        |  GROUP BY 1, 2),
        | agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total,
        |   count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_count
        |  FROM per GROUP BY 1)
        | SELECT d.doc_id, coalesce(a.total, 0) AS total,
        |  coalesce(a.n_distinct, 0) AS n_distinct,
        |  coalesce(a.top_count, 0) AS top_count,
        |  CASE WHEN a.total > 0
        |   THEN CAST(a.total - a.n_distinct AS DOUBLE) / a.total
        |   ELSE 0.0 END AS dup_frac,
        |  CASE WHEN a.total > 0
        |   THEN CAST(a.top_count AS DOUBLE) / a.total
        |   ELSE 0.0 END AS top_frac,
        |  coalesce(CAST(a.total - a.n_distinct AS DOUBLE) / a.total
        |   > 0.125, false) AS flagged
        | FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id"""
        .stripMargin,
    "q177_bm25_topk" ->
      """WITH toks AS (SELECT doc_id,
        |   unnest(string_split(text, ' ')) AS w FROM documents),
        | dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        | st AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS tot
        |  FROM dl),
        | tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
        |  WHERE w IN ('data', 'join', 'spark', 'query') GROUP BY 1, 2),
        | dft AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        | c AS (SELECT tf.doc_id,
        |   CAST(round(
        |     ln(1.0 + (CAST(st.n AS DOUBLE) - dft.df + 0.5)
        |       / (dft.df + 0.5))
        |     * (tf.tf * 2.5)
        |     / (tf.tf + 1.5 * (0.25 + 0.75 * ((dl.dl * st.n) / st.tot))),
        |    9) AS DECIMAL(28,12)) AS c
        |  FROM tf JOIN dft USING (w) JOIN dl USING (doc_id), st)
        | SELECT doc_id, count(*) AS n_terms,
        |  round(CAST(sum(c) AS DOUBLE), 6) AS bm25
        | FROM c GROUP BY doc_id
        | ORDER BY bm25 DESC, doc_id ASC LIMIT 20""".stripMargin,
    "q183_bm25_prf" ->
      """WITH toks AS (SELECT doc_id,
        |   unnest(string_split(text, ' ')) AS w FROM documents),
        | orig AS (SELECT unnest(['data', 'join', 'spark', 'query'])
        |   AS w),
        | dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        | st AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS tot
        |  FROM dl),
        | tf1 AS (SELECT doc_id, w, count(*) AS tf FROM toks
        |  WHERE w IN (SELECT w FROM orig) GROUP BY 1, 2),
        | df1 AS (SELECT w, count(*) AS df FROM tf1 GROUP BY 1),
        | c1 AS (SELECT tf1.doc_id,
        |   CAST(round(
        |     ln(1.0 + (CAST(st.n AS DOUBLE) - df1.df + 0.5)
        |       / (df1.df + 0.5))
        |     * (tf1.tf * 2.5)
        |     / (tf1.tf + 1.5 * (0.25 + 0.75 * ((dl.dl * st.n) / st.tot))),
        |    9) AS DECIMAL(28,12)) AS c
        |  FROM tf1 JOIN df1 USING (w) JOIN dl USING (doc_id), st),
        | fb AS (SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS s
        |  FROM c1 GROUP BY doc_id ORDER BY s DESC, doc_id LIMIT 10),
        | expt AS (SELECT t.w FROM toks t JOIN fb USING (doc_id)
        |  WHERE length(t.w) > 3 AND t.w NOT IN (SELECT w FROM orig)
        |  GROUP BY t.w ORDER BY count(*) DESC, t.w ASC LIMIT 5),
        | qset AS (SELECT w FROM orig UNION ALL SELECT w FROM expt),
        | tf2 AS (SELECT doc_id, w, count(*) AS tf FROM toks
        |  WHERE w IN (SELECT w FROM qset) GROUP BY 1, 2),
        | df2 AS (SELECT w, count(*) AS df FROM tf2 GROUP BY 1),
        | c2 AS (SELECT tf2.doc_id,
        |   CAST(round(
        |     ln(1.0 + (CAST(st.n AS DOUBLE) - df2.df + 0.5)
        |       / (df2.df + 0.5))
        |     * (tf2.tf * 2.5)
        |     / (tf2.tf + 1.5 * (0.25 + 0.75 * ((dl.dl * st.n) / st.tot))),
        |    9) AS DECIMAL(28,12)) AS c
        |  FROM tf2 JOIN df2 USING (w) JOIN dl USING (doc_id), st)
        | SELECT doc_id, count(*) AS n_terms,
        |  round(CAST(sum(c) AS DOUBLE), 6) AS bm25
        | FROM c2 GROUP BY doc_id
        | ORDER BY bm25 DESC, doc_id ASC LIMIT 20""".stripMargin,
    "q178_window_chunks" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w,
        |   CAST(len(string_split(text, ' ')) AS BIGINT) AS l
        |  FROM documents),
        | c AS (SELECT doc_id, w, l, UNNEST(generate_series(0,
        |   greatest(0, (l - 32 + 15) // 16))) AS chunk_no FROM d)
        | SELECT doc_id, chunk_no, chunk_no * 16 + 1 AS start_tok,
        |  least(32, l - chunk_no * 16) AS n_toks,
        |  w[chunk_no * 16 + 1] AS first_tok,
        |  w[least(chunk_no * 16 + 32, l)] AS last_tok
        | FROM c""".stripMargin,
    "q124_dup_ngram_rate" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |   FROM documents),
        | sh AS (SELECT DISTINCT doc_id,
        |   w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
        |     || ' ' || w[i+4] AS s
        |  FROM toks, UNNEST(generate_series(1, len(w)-4)) AS t(i)
        |  WHERE len(w) >= 5),
        | cnt AS (SELECT s, count(*) AS k FROM sh GROUP BY s),
        | per AS (SELECT doc_id, count(*) AS n_grams,
        |   CAST(sum(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |     AS n_dup
        |  FROM sh JOIN cnt USING (s) GROUP BY doc_id)
        | SELECT d.source, count(*) AS n_docs,
        |  CAST(sum(n_grams) AS BIGINT) AS n_grams,
        |  CAST(sum(n_dup) AS BIGINT) AS n_dup,
        |  round(CAST(sum(n_dup) AS DOUBLE) / sum(n_grams), 6)
        |    AS dup_rate
        | FROM documents d JOIN per USING (doc_id)
        | GROUP BY d.source""".stripMargin,
    "q259_padding_waste" ->
      """WITH f AS (SELECT source,
        |   CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        | a AS (SELECT source, count(*) AS n_docs,
        |   CAST(sum(least(toks, 2048)) AS BIGINT) AS capped,
        |   CAST(sum(CASE WHEN toks > 2048 THEN 1 ELSE 0 END)
        |     AS BIGINT) AS n_truncated,
        |   CAST(sum(toks) AS BIGINT) AS total_tokens
        |  FROM f GROUP BY 1)
        | SELECT source, n_docs, n_truncated, total_tokens,
        |  round(1.0 - CAST(capped AS DOUBLE) / (n_docs * 2048), 6)
        |    AS pad_frac_unpacked,
        |  CAST((total_tokens + 2047) // 2048 AS BIGINT)
        |    AS n_seqs_packed,
        |  round(CAST(n_docs AS DOUBLE)
        |    / CAST((total_tokens + 2047) // 2048 AS DOUBLE), 6)
        |    AS packing_gain
        | FROM a""".stripMargin,
    "q253_model_inspect" ->
      // same retrained w3; top-5 nonzero |w| buckets below the bias,
      // member words re-bucketed through the trainer's own md5 hash
      s"""WITH $perceptronCtes,
        | topb AS (SELECT CAST(j AS BIGINT) AS j,
        |   CAST(w AS BIGINT) AS weight FROM w3
        |  WHERE j < 256 AND w <> 0
        |  ORDER BY abs(w) DESC, j LIMIT 5),
        | wmap AS (SELECT word, ($wordHash60Sql) % 256 AS j
        |  FROM (SELECT word, md5(word) AS m FROM toks)),
        | wc AS (SELECT t.j, t.weight, w.word, count(*) AS n
        |  FROM wmap w JOIN topb t ON w.j = t.j GROUP BY 1, 2, 3),
        | rkd AS (SELECT *, row_number() OVER (PARTITION BY j
        |    ORDER BY n DESC, word) AS word_rank FROM wc)
        | SELECT j, weight, word, n,
        |  CAST(word_rank AS BIGINT) AS word_rank
        | FROM rkd WHERE word_rank <= 3""".stripMargin,
    "q254_margin_calibration" ->
      // q220's m4/sc scoring off the shared retrained w3, then
      // octile bins of |margin| against the broadcast max — all
      // non-negative integer DIV, floor == truncation
      s"""WITH $perceptronCtes,
        | m4 AS (SELECT f.doc_id, f.y,
        |   CAST(sum(f.c * coalesce(w3.w, 0)) AS BIGINT) AS m
        |  FROM feat f LEFT JOIN w3 ON f.j = w3.j GROUP BY 1, 2),
        | sc AS (SELECT doc_id, y, m,
        |   CASE WHEN m > 0 THEN 1 ELSE -1 END AS pred, abs(m) AS am
        |  FROM m4),
        | amax AS (SELECT max(am) AS amax FROM sc),
        | b AS (SELECT least(7, (am * 8) // (amax + 1)) AS bin,
        |   CASE WHEN pred = y THEN 1 ELSE 0 END AS ok
        |  FROM sc CROSS JOIN amax)
        | SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
        |  CAST(sum(ok) AS BIGINT) AS n_correct,
        |  round(CAST(sum(ok) AS DOUBLE) / count(*), 6) AS accuracy
        | FROM b GROUP BY 1""".stripMargin,
    "q249_template_prefixes" ->
      """WITH planted AS (SELECT doc_id, source,
        |   CASE WHEN doc_id % 13 = 0 THEN 'common header boilerplate '
        |     || 'template alpha beta gamma delta ' || text
        |    ELSE text END AS text
        |  FROM documents),
        | p AS (SELECT doc_id, source,
        |   array_to_string(string_split(text, ' ')[1:8], ' ')
        |     AS prefix
        |  FROM planted WHERE len(string_split(text, ' ')) >= 8)
        | SELECT prefix, count(*) AS n_docs,
        |  count(DISTINCT source) AS n_sources,
        |  min(doc_id) AS first_doc
        | FROM p GROUP BY 1 HAVING count(*) >= 2
        | ORDER BY n_docs DESC, prefix LIMIT 20""".stripMargin,
    "q250_bigram_entropy" ->
      """WITH toks AS (SELECT source, string_split(text, ' ') AS w
        |   FROM documents),
        | bg AS (SELECT source, w[i] AS w1, w[i+1] AS w2
        |  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
        |  WHERE len(w) >= 2),
        | c12 AS (SELECT source, w1, w2, count(*) AS c12
        |  FROM bg GROUP BY 1, 2, 3),
        | c1 AS (SELECT source, w1, CAST(sum(c12) AS BIGINT) AS c1
        |  FROM c12 GROUP BY 1, 2),
        | tot AS (SELECT source, CAST(sum(c12) AS BIGINT) AS n,
        |   count(*) AS n_pairs FROM c12 GROUP BY 1),
        | terms AS (SELECT c.source, tot.n, tot.n_pairs,
        |   CAST(round(-(CAST(c.c12 AS DOUBLE) / tot.n)
        |     * ln(CAST(c.c12 AS DOUBLE) / c1.c1) * 1e9) AS BIGINT)
        |     AS ti
        |  FROM c12 c
        |  JOIN c1 ON c.source = c1.source AND c.w1 = c1.w1
        |  JOIN tot ON c.source = tot.source)
        | SELECT source, n AS n_bigrams, n_pairs AS n_distinct_pairs,
        |  round(CAST(sum(ti) AS DOUBLE) / 1e9, 6) AS cond_entropy
        | FROM terms GROUP BY 1, 2, 3""".stripMargin,
    "q245_unigram_drift" ->
      """WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
        | toks AS (SELECT d.doc_id * 2 <= mx.mx AS isa,
        |   unnest(string_split(text, ' ')) AS w
        |  FROM documents d CROSS JOIN mx),
        | cnt AS (SELECT w,
        |   CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |   CAST(sum(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM toks GROUP BY 1),
        | tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |   CAST(sum(cb) AS BIGINT) AS nb, count(*) AS v FROM cnt),
        | terms AS (SELECT na, nb, v, CAST(round((
        |   CASE WHEN ca > 0 THEN (CAST(ca AS DOUBLE) / na)
        |     * ln((CAST(ca AS DOUBLE) / na)
        |       / ((CAST(ca AS DOUBLE) / na
        |          + CAST(cb AS DOUBLE) / nb) / 2.0)) ELSE 0.0 END
        |   + CASE WHEN cb > 0 THEN (CAST(cb AS DOUBLE) / nb)
        |     * ln((CAST(cb AS DOUBLE) / nb)
        |       / ((CAST(ca AS DOUBLE) / na
        |          + CAST(cb AS DOUBLE) / nb) / 2.0)) ELSE 0.0 END)
        |   * 1e9) AS BIGINT) AS ti
        |  FROM cnt CROSS JOIN tot)
        | SELECT na AS n_tokens_a, nb AS n_tokens_b, v AS vocab,
        |  round(CAST(sum(ti) AS DOUBLE) / 2e9, 6) AS js_divergence
        | FROM terms GROUP BY 1, 2, 3""".stripMargin,
    "q246_k_anonymity" ->
      """WITH cells AS (SELECT lang, source,
        |   CAST(len(string_split(text, ' ')) // 50 AS BIGINT)
        |     AS len_bin, count(*) AS n
        |  FROM documents GROUP BY 1, 2, 3),
        | ks AS (SELECT CAST(unnest([2, 5, 10]) AS BIGINT) AS k)
        | SELECT k, count(*) AS n_cells,
        |  CAST(sum(CASE WHEN n < k THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cells_below,
        |  CAST(sum(CASE WHEN n < k THEN n ELSE 0 END) AS BIGINT)
        |    AS n_docs_below
        | FROM cells CROSS JOIN ks GROUP BY k""".stripMargin,
    "q247_fertility" ->
      """WITH f AS (SELECT lang,
        |   CAST(length(text) AS BIGINT) AS nc,
        |   CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
        |   CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT)
        |     AS bp
        |  FROM documents),
        | agg AS (SELECT lang, count(*) AS n_docs,
        |   CAST(sum(nc) AS BIGINT) AS n_chars,
        |   CAST(sum(ws) AS BIGINT) AS ws_tokens,
        |   CAST(sum(bp) AS BIGINT) AS bpe_est
        |  FROM f GROUP BY 1)
        | SELECT lang, n_docs, n_chars, ws_tokens, bpe_est,
        |  CASE WHEN bpe_est = 0 THEN 0.0
        |   ELSE round(CAST(n_chars AS DOUBLE) / bpe_est, 6) END
        |    AS chars_per_token,
        |  CASE WHEN ws_tokens = 0 THEN 0.0
        |   ELSE round(CAST(bpe_est AS DOUBLE) / ws_tokens, 6) END
        |    AS tokens_per_word
        | FROM agg""".stripMargin,
    "q248_distinct_ngrams" ->
      """WITH toks AS (SELECT source, string_split(text, ' ') AS w
        |   FROM documents),
        | bg AS (SELECT source, w[i] || ' ' || w[i+1] AS b
        |  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
        |  WHERE len(w) >= 2)
        | SELECT source, count(*) AS n_bigrams,
        |  count(DISTINCT b) AS n_distinct,
        |  CASE WHEN count(*) = 0 THEN 0.0
        |   ELSE round(CAST(count(DISTINCT b) AS DOUBLE)
        |    / count(*), 6) END AS distinct_ratio
        | FROM bg GROUP BY source""".stripMargin,
    "q219_ngram_novelty" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |   FROM documents),
        | sh AS (SELECT DISTINCT doc_id,
        |   w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
        |     || ' ' || w[i+4] AS s
        |  FROM toks, UNNEST(generate_series(1, len(w)-4)) AS t(i)
        |  WHERE len(w) >= 5),
        | firsts AS (SELECT s, min(doc_id) AS mind FROM sh GROUP BY 1),
        | per AS (SELECT doc_id, count(*) AS g,
        |   CAST(sum(CASE WHEN f.mind = sh.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS v
        |  FROM sh JOIN firsts f USING (s) GROUP BY doc_id),
        | mx AS (SELECT max(doc_id) AS m FROM documents)
        | SELECT CAST(least(9, (d.doc_id * 10) // (m + 1)) AS BIGINT)
        |   AS decile,
        |  count(*) AS n_docs,
        |  CAST(sum(coalesce(g, 0)) AS BIGINT) AS n_grams,
        |  CAST(sum(coalesce(v, 0)) AS BIGINT) AS n_novel,
        |  CASE WHEN sum(coalesce(g, 0)) = 0 THEN 0.0
        |   ELSE round(CAST(sum(coalesce(v, 0)) AS DOUBLE)
        |    / sum(coalesce(g, 0)), 6) END AS novelty_rate
        | FROM documents d CROSS JOIN mx
        | LEFT JOIN per ON d.doc_id = per.doc_id
        | GROUP BY 1""".stripMargin,
    "q220_difficulty_prune" ->
      // same retrained w3 as q193/q194; prune = per-class top-30% of
      // correct docs by |margin| (integer, doc_id tie) — the rank,
      // the 3n//10 quota, and the cut margin are all integer-exact
      s"""WITH $perceptronCtes,
        | m4 AS (SELECT f.doc_id, f.y,
        |   CAST(sum(f.c * coalesce(w3.w, 0)) AS BIGINT) AS m
        |  FROM feat f LEFT JOIN w3 ON f.j = w3.j GROUP BY 1, 2),
        | sc AS (SELECT doc_id, y, m,
        |   CASE WHEN m > 0 THEN 1 ELSE -1 END AS pred, abs(m) AS am
        |  FROM m4),
        | corr AS (SELECT doc_id, y, am,
        |   row_number() OVER (PARTITION BY y
        |     ORDER BY am DESC, doc_id) AS rk,
        |   count(*) OVER (PARTITION BY y) AS nc
        |  FROM sc WHERE pred = y),
        | pruned AS (SELECT y, CAST(count(*) AS BIGINT) AS np,
        |   CAST(min(am) AS BIGINT) AS mc
        |  FROM corr WHERE rk <= 3 * nc // 10 GROUP BY 1)
        | SELECT CAST(sc.y AS BIGINT) AS y, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN sc.pred = sc.y THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_correct,
        |  CAST(coalesce(max(p.np), 0) AS BIGINT) AS n_pruned,
        |  CAST(coalesce(max(p.mc), 0) AS BIGINT) AS margin_cut
        | FROM sc LEFT JOIN pruned p ON sc.y = p.y
        | GROUP BY sc.y""".stripMargin,
    "q238_rake_keyphrases" ->
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS ws
        |   FROM documents),
        | toks AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |   ws[i] AS w,
        |   CASE WHEN ws[i] IN ('a','the','of','and','in','to','is')
        |    THEN 1 ELSE 0 END AS st
        |  FROM base, UNNEST(generate_series(1, len(ws))) AS t(i)),
        | pidd AS (SELECT doc_id, pos, w, st,
        |   sum(st) OVER (PARTITION BY doc_id ORDER BY pos
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
        |  FROM toks),
        | phrases AS (SELECT doc_id, pid,
        |   string_agg(w, ' ' ORDER BY pos) AS phrase,
        |   count(*) AS plen
        |  FROM pidd WHERE st = 0 GROUP BY 1, 2),
        | words AS (SELECT plen, unnest(string_split(phrase, ' ')) AS w
        |  FROM phrases),
        | wstat AS (SELECT w, CAST(sum(plen) AS DOUBLE) / count(*) AS ws
        |  FROM words GROUP BY 1),
        | dp AS (SELECT phrase, CAST(count(*) AS BIGINT)
        |    AS n_occurrences FROM phrases GROUP BY 1),
        | pw AS (SELECT phrase, n_occurrences,
        |   unnest(string_split(phrase, ' ')) AS w FROM dp),
        | sc AS (SELECT phrase, n_occurrences,
        |   round(sum(ws), 6) AS score
        |  FROM pw JOIN wstat USING (w) GROUP BY 1, 2)
        | SELECT phrase, n_occurrences, score FROM sc
        | ORDER BY score DESC, phrase LIMIT 15""".stripMargin,
    "q224_uncertainty_batch" ->
      // m2 in the shared CTEs IS the one-iteration proxy model's
      // margin (scores under w1); smallest |m| first, doc_id ties
      s"""WITH $perceptronCtes
        | SELECT doc_id, CAST(y AS BIGINT) AS y,
        |  CAST(CASE WHEN m > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred,
        |  m AS margin
        | FROM m2
        | ORDER BY abs(m), doc_id
        | LIMIT 40""".stripMargin,
    "q49_lang_id" ->
      s"""WITH profile(lang, tg) AS (VALUES $profileValues),
        | sc AS (SELECT d.doc_id, p.lang,
        |   sum((length(d.text) - length(replace(d.text, p.tg, '')))
        |       // length(p.tg)) AS score
        |  FROM documents d CROSS JOIN profile p GROUP BY 1, 2),
        | ranked AS (SELECT doc_id, lang, score, row_number() OVER (
        |   PARTITION BY doc_id ORDER BY score DESC, lang) AS rk FROM sc)
        | SELECT doc_id, lang AS pred_lang,
        |  CAST(score AS BIGINT) AS best_score
        | FROM ranked WHERE rk = 1""".stripMargin,
    "q50_quality" ->
      """WITH f AS (SELECT doc_id,
        |   len(string_split(text, ' ')) AS n_words,
        |   length(text) AS n_chars,
        |   len(list_filter(string_split(text, ' '),
        |     w -> w IN ('a','the','of','and','in','to','is'))) AS n_stop,
        |   length(text)
        |     - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS n_punct,
        |   length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_alpha
        |  FROM documents)
        | SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_chars AS BIGINT) AS n_chars,
        |  round(CAST(n_alpha AS DOUBLE) / n_words, 6) AS avg_word_len,
        |  round(CAST(n_stop AS DOUBLE) / n_words, 6) AS stop_ratio,
        |  round(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
        |  round(CAST((CASE WHEN n_words >= 10 THEN 0.4 ELSE 0.0 END)
        |      + (CASE WHEN n_stop > 0 THEN 0.3 ELSE 0.0 END)
        |      + (CASE WHEN n_punct * 10 < n_chars THEN 0.3 ELSE 0.0 END)
        |    AS DOUBLE), 6) AS quality
        | FROM f""".stripMargin,
    "q51_tokens" ->
      """SELECT source, count(*) AS docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
        |  CAST(sum(len(regexp_extract_all(text,
        |    '[a-z]+|[0-9]|[^a-z0-9 ]'))) AS BIGINT) AS re_tokens,
        |  CAST(sum(CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0)
        |    AS BIGINT)) AS BIGINT) AS bpe_est
        | FROM documents GROUP BY source""".stripMargin,
    "q52_fingerprint" ->
      """WITH cp AS (SELECT doc_id, text, length(text) AS n
        |   FROM documents),
        | dh AS (SELECT doc_id,
        |   list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |     generate_series(1, n),
        |     i -> CAST(unicode(substr(text, i, 1)) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS doc_hash
        |  FROM cp),
        | grams AS (SELECT doc_id, text,
        |   unnest(generate_series(1, greatest(n - 7, 1))) AS i FROM cp),
        | wm AS (SELECT doc_id,
        |   min(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |     generate_series(i, i + 7),
        |     k -> CAST(unicode(substr(text, k, 1)) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 1000000007)) AS winnow_min
        |  FROM grams GROUP BY doc_id)
        | SELECT dh.doc_id, CAST(dh.doc_hash AS BIGINT) AS doc_hash,
        |  CAST(wm.winnow_min AS BIGINT) AS winnow_min
        | FROM dh JOIN wm ON dh.doc_id = wm.doc_id""".stripMargin,
    "q307_winnowing_pairs" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text || ' zq winnow tail'
        |  FROM documents WHERE doc_id % 2 = 0),
        | cp AS (SELECT doc_id, text, length(text) AS n FROM corpus),
        | grams AS (SELECT doc_id,
        |   unnest(generate_series(1, n - 7)) AS i, text
        |  FROM cp WHERE n >= 8),
        | gh AS (SELECT doc_id, i,
        |   list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |     generate_series(i, i + 7),
        |     k -> CAST(unicode(substr(text, k, 1)) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS h
        |  FROM grams),
        | gmax AS (SELECT doc_id, max(i) AS gm FROM gh GROUP BY 1),
        | wins AS (SELECT gh.doc_id, gh.i AS j
        |  FROM gh JOIN gmax USING (doc_id)
        |  WHERE gh.i <= greatest(gmax.gm - 3, 1)),
        | wmin AS (SELECT w.doc_id, w.j, min(g.h) AS mh
        |  FROM wins w JOIN gh g ON g.doc_id = w.doc_id
        |   AND g.i BETWEEN w.j AND w.j + 3
        |  GROUP BY 1, 2),
        | fps AS (SELECT DISTINCT doc_id, mh AS fp FROM wmin),
        | df AS (SELECT fp, count(*) AS dfc FROM fps GROUP BY 1),
        | rare AS (SELECT fps.doc_id, fps.fp
        |  FROM fps JOIN df USING (fp) WHERE df.dfc <= 50),
        | nr AS (SELECT doc_id, count(*) AS nrare FROM rare GROUP BY 1),
        | pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |   count(*) AS shared
        |  FROM rare a JOIN rare b
        |   ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        | SELECT p.doc_a, p.doc_b, CAST(p.shared AS BIGINT) AS shared
        | FROM pairs p JOIN nr x ON p.doc_a = x.doc_id
        |  JOIN nr y ON p.doc_b = y.doc_id
        | WHERE p.shared >= 5
        |  AND 10 * p.shared >= 8 * least(x.nrare, y.nrare)""".stripMargin,
    "q71_sample_hash" ->
      """SELECT doc_id, source, n_chars FROM documents
        | WHERE (doc_id * 2654435761) % 100 < 10""".stripMargin,
    "q72_tfidf" ->
      """WITH terms AS (SELECT doc_id,
        |   unnest(string_split(text, ' ')) AS term FROM documents),
        | tf AS (SELECT doc_id, term, count(*) AS tf
        |  FROM terms GROUP BY 1, 2),
        | dfq AS (SELECT term, count(*) AS df FROM (
        |   SELECT DISTINCT doc_id, term FROM terms) GROUP BY term),
        | nn AS (SELECT count(*) AS n FROM documents),
        | scored AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        |   round(tf.tf * ln((nn.n + 1.0) / (dfq.df + 1.0)), 6) AS tfidf
        |  FROM tf JOIN dfq USING (term) CROSS JOIN nn),
        | ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |   ORDER BY tfidf DESC, term) AS rk FROM scored)
        | SELECT doc_id, term, tf, df, tfidf, CAST(rk AS BIGINT) AS rk
        | FROM ranked WHERE rk <= 3""".stripMargin,
    "q161_word_pmi" ->
      """WITH toks AS (SELECT doc_id, i AS pos, w[i] AS w
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w
        |        FROM documents),
        |   UNNEST(generate_series(1, len(w))) AS t(i)),
        | seq AS (SELECT doc_id, pos, w,
        |   lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM toks),
        | pairs AS (SELECT least(w, w2) AS a, greatest(w, w2) AS b,
        |   count(*) AS npair
        |  FROM seq WHERE w2 IS NOT NULL GROUP BY 1, 2),
        | wc AS (SELECT w, count(*) AS cw FROM toks GROUP BY 1),
        | nw AS (SELECT sum(cw) AS nw FROM wc),
        | np AS (SELECT sum(npair) AS np FROM pairs)
        | SELECT p.a, p.b, p.npair,
        |  round(ln(p.npair * 1.0 * nw.nw / np.np * nw.nw
        |    / ca.cw / cb.cw), 6) AS pmi
        | FROM pairs p
        | JOIN wc ca ON p.a = ca.w
        | JOIN wc cb ON p.b = cb.w, nw, np
        | WHERE p.npair >= 5
        | ORDER BY pmi DESC, p.a ASC, p.b ASC LIMIT 20""".stripMargin,
    "q152_dup_spans" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, text || ' zq0 zq1 zq2' AS text
        |  FROM documents WHERE doc_id % 2 = 0),
        | toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        | grams AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |   w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
        |    || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6]
        |    || ' ' || w[i+7] AS g
        |  FROM toks, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
        |  WHERE len(w) >= 8),
        | k AS (SELECT doc_id, pos,
        |   count(*) OVER (PARTITION BY g) AS k FROM grams),
        | dup AS (SELECT doc_id, pos FROM k WHERE k >= 2),
        | m AS (SELECT doc_id, pos,
        |   lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM dup),
        | f AS (SELECT doc_id, pos,
        |   CASE WHEN prev IS NULL OR pos > prev + 8 THEN 1 ELSE 0 END
        |     AS nf FROM m),
        | isl AS (SELECT doc_id, pos,
        |   sum(nf) OVER (PARTITION BY doc_id ORDER BY pos
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM f)
        | SELECT doc_id, min(pos) AS span_start,
        |  max(pos) + 7 AS span_end,
        |  max(pos) + 7 - min(pos) + 1 AS span_words,
        |  count(*) AS n_dup_grams
        | FROM isl GROUP BY doc_id, isl""".stripMargin,
    "q144_bpe_pairs" ->
      """WITH wf AS (SELECT w AS word, count(*) AS f FROM (
        |   SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) >= 2 GROUP BY 1),
        | pairs AS (SELECT substring(word, i, 2) AS pair, f
        |  FROM wf, UNNEST(generate_series(1, len(word) - 1)) AS t(i))
        | SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM pairs GROUP BY pair
        | ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin,
    "q89_frequent_ngrams" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS w
        |   FROM documents),
        | grams AS (SELECT w[i] || ' ' || w[i+1] AS gram
        |  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
        |  WHERE len(w) >= 2)
        | SELECT gram, count(*) AS freq FROM grams GROUP BY gram
        | ORDER BY freq DESC, gram LIMIT 20""".stripMargin,
    "q86_seq_pack" ->
      """WITH t AS (SELECT source AS stream, doc_id,
        |   CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        | c AS (SELECT stream, doc_id, toks,
        |   COALESCE(sum(toks) OVER (PARTITION BY stream ORDER BY doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |     AS before
        |  FROM t)
        | SELECT stream, CAST(before // 2048 AS BIGINT) AS chunk,
        |  count(*) AS n_docs,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |  CAST(sum(toks) AS BIGINT) AS tokens
        | FROM c GROUP BY stream, before // 2048""".stripMargin,
    "q85_curation" ->
      s"""WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, text || ' zq0 zq1 zq2' AS text
        |  FROM documents WHERE doc_id % 2 = 0),
        | f AS (SELECT doc_id,
        |   len(string_split(text, ' ')) AS n_words,
        |   length(text) AS n_chars,
        |   len(list_filter(string_split(text, ' '),
        |     w -> w IN ('a','the','of','and','in','to','is'))) AS n_stop,
        |   length(text)
        |     - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS n_punct
        |  FROM corpus),
        | q AS (SELECT doc_id,
        |   round((CASE WHEN n_words >= 10 THEN 0.4 ELSE 0.0 END)
        |       + (CASE WHEN n_stop > 0 THEN 0.3 ELSE 0.0 END)
        |       + (CASE WHEN n_punct * 10 < n_chars THEN 0.3 ELSE 0.0 END),
        |     6) AS quality
        |  FROM f),
        | profile(lang, tg) AS (VALUES $profileValues),
        | sc AS (SELECT c.doc_id, p.lang,
        |   sum((length(c.text) - length(replace(c.text, p.tg, '')))
        |       // length(p.tg)) AS score
        |  FROM corpus c CROSS JOIN profile p GROUP BY 1, 2),
        | lr AS (SELECT doc_id, lang, row_number() OVER (
        |   PARTITION BY doc_id ORDER BY score DESC, lang) AS rk FROM sc),
        | kept AS (SELECT c.doc_id, c.text FROM corpus c
        |   JOIN q ON c.doc_id = q.doc_id AND q.quality >= 0.7
        |   JOIN lr ON c.doc_id = lr.doc_id AND lr.rk = 1
        |     AND lr.lang = 'en'),
        | ek AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
        | ekd AS (SELECT k.doc_id, k.text FROM kept k
        |   JOIN ek ON k.doc_id = ek.doc_id),
        | toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM ekd),
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
        | walk(v, r) AS (SELECT a, a FROM edges
        |  UNION SELECT e.b, w.r FROM walk w JOIN edges e ON e.a = w.v),
        | losers AS (SELECT v AS doc_id FROM walk
        |  GROUP BY v HAVING v != min(r))
        | SELECT doc_id FROM ekd
        | WHERE doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin,
    "q73_decontaminate" ->
      """WITH csh AS (SELECT DISTINCT doc_id,
        |   array_to_string(ws[i:i+4], ' ') AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |        FROM documents WHERE doc_id >= 25) t,
        |   UNNEST(generate_series(1, len(ws) - 4)) u(i)),
        | bsh AS (SELECT DISTINCT array_to_string(ws[i:i+4], ' ') AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |        FROM documents WHERE doc_id < 25) t,
        |   UNNEST(generate_series(1, len(ws) - 4)) u(i)),
        | sizes AS (SELECT doc_id, count(*) AS n_shingles
        |  FROM csh GROUP BY doc_id),
        | shared AS (SELECT c.doc_id, count(*) AS n_shared
        |  FROM csh c JOIN bsh b ON c.s = b.s GROUP BY c.doc_id)
        | SELECT z.doc_id, z.n_shingles,
        |  coalesce(sh.n_shared, 0) AS n_shared,
        |  round(coalesce(sh.n_shared, 0)
        |    / CAST(z.n_shingles AS DOUBLE), 6) AS contamination
        | FROM sizes z LEFT JOIN shared sh ON z.doc_id = sh.doc_id""".stripMargin,
    "q74_stratified_sample" ->
      """SELECT source, count(*) AS kept FROM documents
        | WHERE (doc_id * 2654435761) % 100 < (CASE WHEN source IN
        |  ('src0','src1','src2','src3','src4') THEN 5 ELSE 20 END)
        | GROUP BY source""".stripMargin,
    "q214_lang_mismatch" ->
      s"""WITH profile(lang, tg) AS (VALUES $profileValues),
        | sc AS (SELECT d.doc_id, d.lang AS decl, p.lang AS plang,
        |   sum((length(d.text) - length(replace(d.text, p.tg, '')))
        |       // length(p.tg)) AS score
        |  FROM documents d CROSS JOIN profile p GROUP BY 1, 2, 3),
        | ranked AS (SELECT doc_id, decl, plang, row_number() OVER (
        |   PARTITION BY doc_id ORDER BY score DESC, plang) AS rk
        |  FROM sc)
        | SELECT decl AS lang, plang AS pred_lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  min(doc_id) AS first_doc
        | FROM ranked WHERE rk = 1 GROUP BY 1, 2""".stripMargin,
    // train/eval split, count tables, and the backoff CASE chain
    // replayed relationally; identical micro-nat quantization
    "q270_backoff_lm" ->
      """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w,
        |   ((doc_id * 2654435761) % 1000000007) % 4 = 0 AS is_eval
        |  FROM documents),
        | tri3 AS (SELECT w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3,
        |   count(*) AS c3
        |  FROM d, UNNEST(generate_series(1, len(w) - 2)) t(i)
        |  WHERE NOT is_eval AND len(w) >= 3 GROUP BY 1, 2, 3),
        | big2 AS (SELECT w[i] AS w1, w[i+1] AS w2, count(*) AS c2
        |  FROM d, UNNEST(generate_series(1, len(w) - 1)) t(i)
        |  WHERE NOT is_eval AND len(w) >= 2 GROUP BY 1, 2),
        | uni1 AS (SELECT w[i] AS w1, count(*) AS c1
        |  FROM d, UNNEST(generate_series(1, len(w))) t(i)
        |  WHERE NOT is_eval GROUP BY 1),
        | n1 AS (SELECT CAST(sum(c1) AS BIGINT) AS nt FROM uni1),
        | types AS (SELECT source, w[i] AS w1, w[i+1] AS w2,
        |   w[i+2] AS w3, count(*) AS nocc
        |  FROM d, UNNEST(generate_series(1, len(w) - 2)) t(i)
        |  WHERE is_eval AND len(w) >= 3 GROUP BY 1, 2, 3, 4),
        | sc AS (SELECT source, nocc,
        |   CASE WHEN c3 IS NOT NULL THEN 'tri'
        |    WHEN bg.c2 IS NOT NULL THEN 'bi'
        |    WHEN uw.c1 IS NOT NULL THEN 'uni'
        |    ELSE 'oov' END AS tier,
        |   CAST(CASE WHEN c3 IS NOT NULL THEN round(
        |     -ln(CAST(c3 AS DOUBLE) / CAST(cx.c2 AS DOUBLE)) * 1e6)
        |    WHEN bg.c2 IS NOT NULL THEN round(
        |     -ln(0.4 * CAST(bg.c2 AS DOUBLE)
        |       / CAST(uc.c1 AS DOUBLE)) * 1e6)
        |    WHEN uw.c1 IS NOT NULL THEN round(
        |     -ln(0.16 * CAST(uw.c1 AS DOUBLE)
        |       / CAST(nt AS DOUBLE)) * 1e6)
        |    ELSE round(-ln(0.08 / CAST(nt AS DOUBLE)) * 1e6)
        |    END AS BIGINT) AS m
        |  FROM types ty
        |  LEFT JOIN tri3 ON ty.w1 = tri3.w1 AND ty.w2 = tri3.w2
        |   AND ty.w3 = tri3.w3
        |  LEFT JOIN big2 cx ON ty.w1 = cx.w1 AND ty.w2 = cx.w2
        |  LEFT JOIN big2 bg ON ty.w2 = bg.w1 AND ty.w3 = bg.w2
        |  LEFT JOIN uni1 uc ON ty.w2 = uc.w1
        |  LEFT JOIN uni1 uw ON ty.w3 = uw.w1
        |  CROSS JOIN n1)
        | SELECT source, CAST(sum(nocc) AS BIGINT) AS n_pos,
        |  CAST(sum(CASE WHEN tier = 'tri' THEN nocc ELSE 0 END)
        |    AS BIGINT) AS n_tri,
        |  CAST(sum(CASE WHEN tier = 'bi' THEN nocc ELSE 0 END)
        |    AS BIGINT) AS n_bi,
        |  CAST(sum(CASE WHEN tier = 'uni' THEN nocc ELSE 0 END)
        |    AS BIGINT) AS n_uni,
        |  CAST(sum(CASE WHEN tier = 'oov' THEN nocc ELSE 0 END)
        |    AS BIGINT) AS n_oov,
        |  CAST(sum(m * nocc) // sum(nocc) AS BIGINT)
        |    AS xent_micronats
        | FROM sc GROUP BY 1""".stripMargin,
    // rank pass as one window (oracle side may use the global
    // window the Spark side is forbidden), exact Σ rk·c
    "q271_vocab_gini" ->
      """WITH wc AS (SELECT w, count(*) AS c FROM (
        |   SELECT unnest(string_split(text, ' ')) AS w
        |   FROM documents) GROUP BY 1),
        | r AS (SELECT c,
        |   CAST(row_number() OVER (ORDER BY c, w) AS BIGINT) AS rk
        |  FROM wc),
        | a AS (SELECT CAST(count(*) AS BIGINT) AS v_words,
        |   CAST(sum(c) AS BIGINT) AS n_tokens,
        |   CAST(sum(rk * c) AS BIGINT) AS s_rank FROM r)
        | SELECT v_words, n_tokens, s_rank,
        |  round(2.0 * CAST(s_rank AS DOUBLE)
        |     / CAST(v_words * n_tokens AS DOUBLE)
        |   - CAST(v_words + 1 AS DOUBLE) / CAST(v_words AS DOUBLE),
        |   6) AS gini
        | FROM a""".stripMargin,
    "q272_chao1_richness" ->
      """WITH wc AS (SELECT source, w, count(*) AS c FROM (
        |   SELECT source, unnest(string_split(text, ' ')) AS w
        |   FROM documents) GROUP BY 1, 2),
        | a AS (SELECT source, CAST(count(*) AS BIGINT) AS v_obs,
        |   CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS f1,
        |   CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS f2,
        |   CAST(sum(c) AS BIGINT) AS n_tokens
        |  FROM wc GROUP BY 1)
        | SELECT source, v_obs, f1, f2, n_tokens,
        |  round(CAST(v_obs AS DOUBLE) + CAST(f1 * (f1 - 1) AS DOUBLE)
        |    / CAST(2 * (f2 + 1) AS DOUBLE), 4) AS chao1_est,
        |  round(CAST(f1 AS DOUBLE) / CAST(v_obs AS DOUBLE), 6)
        |    AS singleton_frac
        | FROM a""".stripMargin,
    "q276_hill_tail" ->
      """WITH wc AS (SELECT w, count(*) AS c FROM (
        |   SELECT unnest(string_split(text, ' ')) AS w
        |   FROM documents) GROUP BY 1),
        | t101 AS (SELECT w, c FROM wc
        |  ORDER BY c DESC, w LIMIT 101),
        | t100 AS (SELECT w, c FROM wc
        |  ORDER BY c DESC, w LIMIT 100),
        | ref AS (SELECT c AS cref FROM t101
        |  WHERE w NOT IN (SELECT w FROM t100)),
        | m AS (SELECT CAST(round(ln(CAST(t100.c AS DOUBLE)
        |     / CAST(ref.cref AS DOUBLE)) * 1e6) AS BIGINT) AS m,
        |   ref.cref
        |  FROM t100 CROSS JOIN ref)
        | SELECT CAST(count(*) AS BIGINT) AS k,
        |  CAST(max(cref) AS BIGINT) AS c_ref,
        |  round(CAST(count(*) AS DOUBLE)
        |    / (CAST(sum(m) AS DOUBLE) / 1e6), 6) AS hill_alpha
        | FROM m""".stripMargin,
    "q277_heaps_fit" ->
      """WITH nd AS (SELECT max(doc_id) + 1 AS nd FROM documents),
        | toks AS (SELECT (doc_id * 20) // nd AS b,
        |   unnest(string_split(text, ' ')) AS w
        |  FROM documents CROSS JOIN nd),
        | perb AS (SELECT b, count(*) AS tc FROM toks GROUP BY 1),
        | firstb AS (SELECT w, min(b) AS b FROM toks GROUP BY 1),
        | arrb AS (SELECT b, count(*) AS vc FROM firstb GROUP BY 1),
        | grid AS (SELECT perb.b, perb.tc, coalesce(arrb.vc, 0) AS vc
        |  FROM perb LEFT JOIN arrb ON perb.b = arrb.b),
        | cum AS (SELECT g.b, sum(j.tc) AS ct, sum(j.vc) AS cv
        |  FROM grid g JOIN grid j ON j.b <= g.b GROUP BY 1),
        | pts AS (SELECT
        |   CAST(round(ln(CAST(ct AS DOUBLE)) * 1e6) AS BIGINT) AS mx,
        |   CAST(round(ln(CAST(cv AS DOUBLE)) * 1e6) AS BIGINT) AS my
        |  FROM cum),
        | s AS (SELECT CAST(count(*) AS BIGINT) AS n_pts,
        |   CAST(sum(mx) AS BIGINT) AS sx,
        |   CAST(sum(my) AS BIGINT) AS sy,
        |   CAST(sum(mx * my) AS BIGINT) AS sxy,
        |   CAST(sum(mx * mx) AS BIGINT) AS sxx FROM pts),
        | f AS (SELECT n_pts, sx, sy,
        |   CAST(n_pts * sxy - sx * sy AS DOUBLE)
        |    / CAST(n_pts * sxx - sx * sx AS DOUBLE) AS beta FROM s)
        | SELECT n_pts, round(beta, 6) AS heaps_beta,
        |  round(exp((CAST(sy AS DOUBLE) / 1e6
        |      - beta * CAST(sx AS DOUBLE) / 1e6)
        |    / CAST(n_pts AS DOUBLE)), 4) AS heaps_k
        | FROM f""".stripMargin,
    "q280_pmi_collocations" ->
      """WITH docs AS (SELECT string_split(text, ' ') AS w
        |  FROM documents),
        | big AS (SELECT w[CAST(i AS INTEGER)] AS w1,
        |   w[CAST(i AS INTEGER) + 1] AS w2
        |  FROM docs, unnest(generate_series(1, len(w) - 1)) AS t(i)
        |  WHERE len(w) >= 2),
        | cb AS (SELECT w1, w2, count(*) AS cxy FROM big GROUP BY 1, 2),
        | uni AS (SELECT t, count(*) AS c FROM (
        |   SELECT unnest(string_split(text, ' ')) AS t
        |   FROM documents) GROUP BY 1),
        | consts AS (SELECT (SELECT sum(cxy) FROM cb) AS nb,
        |   (SELECT sum(c) FROM uni) AS nu),
        | top AS (SELECT cb.w1, cb.w2, cb.cxy,
        |   CAST(round(ln(CAST(cxy AS DOUBLE) * nu / nb * nu
        |     / u1.c / u2.c) * 1e6) AS BIGINT) AS pm
        |  FROM cb JOIN uni u1 ON cb.w1 = u1.t
        |   JOIN uni u2 ON cb.w2 = u2.t
        |   CROSS JOIN consts
        |  WHERE cxy >= 5
        |  ORDER BY pm DESC, cb.w1, cb.w2 LIMIT 20)
        | SELECT w1, w2, CAST(cxy AS BIGINT) AS cxy,
        |  round(CAST(pm AS DOUBLE) / 1e6, 6) AS pmi FROM top""".stripMargin,
    "q281_char_entropy" ->
      """WITH ch AS (SELECT doc_id, source,
        |   substr(text, CAST(i AS INTEGER), 1) AS ch
        |  FROM documents,
        |   unnest(generate_series(1, len(text))) AS t(i)),
        | pc AS (SELECT doc_id, source, ch, count(*) AS c
        |  FROM ch GROUP BY 1, 2, 3),
        | pd AS (SELECT source,
        |   CAST(round(ln(CAST(sum(c) AS DOUBLE)) * 1e6
        |     - CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1e6)
        |        AS BIGINT)) AS DOUBLE)
        |      / CAST(sum(c) AS DOUBLE)) AS BIGINT) AS hm
        |  FROM pc GROUP BY doc_id, source)
        | SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  round((CAST(sum(hm) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |    / 1e6, 6) AS mean_entropy,
        |  round(CAST(min(hm) AS DOUBLE) / 1e6, 6) AS min_entropy,
        |  round(CAST(max(hm) AS DOUBLE) / 1e6, 6) AS max_entropy
        | FROM pd GROUP BY 1""".stripMargin,
    "q285_ndcg_eval" ->
      """WITH toks AS (SELECT doc_id,
        |   unnest(string_split(text, ' ')) AS w FROM documents),
        | wc AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
        | t70 AS (SELECT w FROM wc ORDER BY c DESC, w LIMIT 30),
        | t50 AS (SELECT w FROM wc ORDER BY c DESC, w LIMIT 10),
        | qt AS (SELECT w AS term FROM t70
        |  WHERE w NOT IN (SELECT w FROM t50)),
        | tf AS (SELECT qt.term, t.doc_id, count(*) AS tf
        |  FROM toks t JOIN qt ON t.w = qt.term GROUP BY 1, 2),
        | dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        | stats AS (SELECT count(*) AS nd, sum(dl) AS tot FROM dl),
        | dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        | scored AS (SELECT tf.term, tf.doc_id, dft.df,
        |   least(tf.tf, 3) AS rel,
        |   CAST(round(ln(1.0
        |      + (CAST(nd AS DOUBLE) - df + 0.5) / (df + 0.5))
        |     * (tf.tf * 2.5)
        |     / (tf.tf + 1.5 * (0.25
        |       + 0.75 * (CAST(dl.dl * s.nd AS DOUBLE) / s.tot)))
        |     * 1e6) AS BIGINT) AS sm
        |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
        |   JOIN dft ON tf.term = dft.term CROSS JOIN stats s),
        | rk AS (SELECT term, rel,
        |   row_number() OVER (PARTITION BY term
        |    ORDER BY sm DESC, doc_id) AS rn FROM scored),
        | dg AS (SELECT term,
        |   CAST(sum(CAST(round(CAST(CASE WHEN rel = 1 THEN 1
        |      WHEN rel = 2 THEN 3 ELSE 7 END AS DOUBLE)
        |     / (ln(CAST(rn AS DOUBLE) + 1.0) / ln(2.0)) * 1e6)
        |    AS BIGINT)) AS BIGINT) AS dcg_m,
        |   CAST(sum(CASE WHEN rel >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hi
        |  FROM rk WHERE rn <= 10 GROUP BY 1),
        | irk AS (SELECT term, rel,
        |   row_number() OVER (PARTITION BY term
        |    ORDER BY rel DESC, doc_id) AS rn FROM scored),
        | ig AS (SELECT term,
        |   CAST(sum(CAST(round(CAST(CASE WHEN rel = 1 THEN 1
        |      WHEN rel = 2 THEN 3 ELSE 7 END AS DOUBLE)
        |     / (ln(CAST(rn AS DOUBLE) + 1.0) / ln(2.0)) * 1e6)
        |    AS BIGINT)) AS BIGINT) AS idcg_m
        |  FROM irk WHERE rn <= 10 GROUP BY 1)
        | SELECT dg.term, CAST(dft.df AS BIGINT) AS df,
        |  round(CAST(dcg_m AS DOUBLE) / CAST(idcg_m AS DOUBLE), 6)
        |   AS ndcg_10,
        |  round(CAST(n_hi AS DOUBLE) / 10.0, 2) AS p10_hi
        | FROM dg JOIN ig ON dg.term = ig.term
        |  JOIN dft ON dg.term = dft.term""".stripMargin,
    "q286_calibration" ->
      s"""WITH $perceptronCtes,
        | m4 AS (SELECT f.doc_id, f.y,
        |   CAST(sum(f.c * coalesce(w3.w, 0)) AS BIGINT) AS m
        |  FROM feat f LEFT JOIN w3 ON f.j = w3.j GROUP BY 1, 2),
        | p AS (SELECT CASE WHEN y = 1 THEN 1 ELSE 0 END AS y01,
        |   CAST(round(1.0 / (1.0
        |     + exp(-CAST(m AS DOUBLE) / 20000.0)) * 1e6) AS BIGINT)
        |    AS pm
        |  FROM m4),
        | b AS (SELECT y01, pm, least(pm // 100000, 9) AS bin,
        |   CAST(round((CAST(pm AS DOUBLE) / 1e6 - CAST(y01 AS DOUBLE))
        |     * (CAST(pm AS DOUBLE) / 1e6 - CAST(y01 AS DOUBLE))
        |     * 1e6) AS BIGINT) AS bt
        |  FROM p),
        | g AS (SELECT bin, count(*) AS nb, sum(pm) AS sp,
        |   sum(y01) AS np, sum(bt) AS sbt FROM b GROUP BY 1)
        | SELECT CAST(sum(nb) AS BIGINT) AS n_docs,
        |  round(CAST(sum(sbt) AS DOUBLE)
        |    / CAST(sum(nb) AS DOUBLE) / 1e6, 6) AS brier,
        |  round(CAST(sum(abs(sp - 1000000 * np)) AS DOUBLE)
        |    / CAST(sum(nb) AS DOUBLE) / 1e6, 6) AS ece,
        |  CAST(count(*) AS BIGINT) AS n_bins_used
        | FROM g""".stripMargin,
    "q306_burrows_delta" ->
      """WITH toks AS (SELECT source,
        |   unnest(string_split(text, ' ')) AS w FROM documents),
        | top30 AS (SELECT w FROM (SELECT w, count(*) AS c FROM toks
        |  GROUP BY 1 ORDER BY c DESC, w LIMIT 30)),
        | nt AS (SELECT source, count(*) AS nt FROM toks GROUP BY 1),
        | rates AS (SELECT t.source, t.w, count(*) AS c
        |  FROM toks t JOIN top30 ON t.w = top30.w GROUP BY 1, 2),
        | f AS (SELECT nt.source, top30.w,
        |   CAST(round(CAST(coalesce(r.c, 0) AS DOUBLE) * 1e9
        |     / CAST(nt.nt AS DOUBLE)) AS BIGINT) AS fm
        |  FROM nt CROSS JOIN top30
        |   LEFT JOIN rates r
        |    ON r.source = nt.source AND r.w = top30.w),
        | stats AS (SELECT w, count(*) AS k,
        |   CAST(sum(fm) AS BIGINT) AS sf,
        |   CAST(sum(fm * fm) AS BIGINT) AS sf2 FROM f GROUP BY 1),
        | z AS (SELECT f.source, f.w,
        |   CASE WHEN k * sf2 = sf * sf THEN 0.0
        |    ELSE (CAST(fm AS DOUBLE)
        |       - CAST(sf AS DOUBLE) / CAST(k AS DOUBLE))
        |     / sqrt((CAST(sf2 AS DOUBLE)
        |         - CAST(sf AS DOUBLE) * CAST(sf AS DOUBLE)
        |           / CAST(k AS DOUBLE))
        |       / CAST(k - 1 AS DOUBLE)) END AS z
        |  FROM f JOIN stats ON f.w = stats.w),
        | t AS (SELECT a.source AS s1, b.source AS s2,
        |   CAST(round(abs(a.z - b.z) * 1e6) AS BIGINT) AS t
        |  FROM z a JOIN z b ON a.w = b.w AND a.source < b.source)
        | SELECT s1, s2, CAST(count(*) AS BIGINT) AS n_words,
        |  round(CAST(sum(t) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 1e6, 4) AS delta
        | FROM t GROUP BY 1, 2""".stripMargin,
    "q317_l_diversity" ->
      """WITH cells AS (SELECT lang,
        |   CAST(len(string_split(text, ' ')) // 50 AS BIGINT)
        |     AS len_bin,
        |   count(*) AS n, count(DISTINCT source) AS ndist
        |  FROM documents GROUP BY 1, 2),
        | ls AS (SELECT CAST(unnest([2, 3, 5]) AS BIGINT) AS l)
        | SELECT l, count(*) AS n_cells,
        |  CAST(sum(CASE WHEN ndist < l THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cells_below,
        |  CAST(sum(CASE WHEN ndist < l THEN n ELSE 0 END) AS BIGINT)
        |    AS n_docs_below
        | FROM cells CROSS JOIN ls GROUP BY l""".stripMargin,
    "q318_brier_decomposition" ->
      // q254's m4 margins off the shared retrained w3; the forecast
      // rescale, bins, and squared bin residuals are all nonnegative
      // integer arithmetic, so // here == Spark's DIV exactly
      s"""WITH $perceptronCtes,
        | m4 AS (SELECT f.doc_id, f.y,
        |   CAST(sum(f.c * coalesce(w3.w, 0)) AS BIGINT) AS m
        |  FROM feat f LEFT JOIN w3 ON f.j = w3.j GROUP BY 1, 2),
        | ext AS (SELECT min(m) AS mn, max(m) AS mx FROM m4),
        | pq AS (SELECT ((m - mn) * 10000) // (mx - mn + 1) AS pq,
        |   (y + 1) // 2 AS y1 FROM m4, ext),
        | b AS (SELECT pq // 1250 AS bin, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(pq) AS BIGINT) AS p, CAST(sum(y1) AS BIGINT) AS yb
        |  FROM pq GROUP BY 1),
        | tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
        |   CAST(sum(yb) AS BIGINT) AS yt FROM b),
        | ag AS (SELECT max(nt) AS n_docs, max(yt) AS ytot,
        |   CAST(sum(((p - 10000 * yb) * (p - 10000 * yb)) // n)
        |     AS BIGINT) AS relnum,
        |   CAST(sum(((yb * nt - n * yt) * (yb * nt - n * yt)) // n)
        |     AS BIGINT) AS resnum
        |  FROM b, tot)
        | SELECT n_docs,
        |  round(CAST(ytot AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
        |    AS base_rate,
        |  round(CAST(relnum AS DOUBLE)
        |    / (CAST(n_docs AS DOUBLE) * 1e8), 6) AS reliability,
        |  round(CAST(resnum AS DOUBLE)
        |    / (CAST(n_docs AS DOUBLE) * n_docs * n_docs), 6)
        |    AS resolution,
        |  round(CAST(ytot AS DOUBLE) * CAST(n_docs - ytot AS DOUBLE)
        |    / (CAST(n_docs AS DOUBLE) * n_docs), 6) AS uncertainty,
        |  round(CAST(relnum AS DOUBLE)
        |     / (CAST(n_docs AS DOUBLE) * 1e8)
        |   - CAST(resnum AS DOUBLE)
        |     / (CAST(n_docs AS DOUBLE) * n_docs * n_docs)
        |   + CAST(ytot AS DOUBLE) * CAST(n_docs - ytot AS DOUBLE)
        |     / (CAST(n_docs AS DOUBLE) * n_docs), 6) AS brier_binned
        | FROM ag""".stripMargin,
    "q319_auc_ranksum" ->
      // the oracle's tie prefix sum is a plain window (DuckDB is
      // single-node); the Spark side uses distributedPrefixSum
      s"""WITH $perceptronCtes,
        | m4 AS (SELECT f.doc_id, f.y,
        |   CAST(sum(f.c * coalesce(w3.w, 0)) AS BIGINT) AS m
        |  FROM feat f LEFT JOIN w3 ON f.j = w3.j GROUP BY 1, 2),
        | vc AS (SELECT m, CAST(count(*) AS BIGINT) AS t,
        |   CAST(sum((y + 1) // 2) AS BIGINT) AS t1 FROM m4 GROUP BY 1),
        | cum AS (SELECT t, t1,
        |   CAST(coalesce(sum(t) OVER (ORDER BY m
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS lo FROM vc),
        | ag AS (SELECT CAST(sum(t) AS BIGINT) AS n,
        |   CAST(sum(t1) AS BIGINT) AS n_pos,
        |   CAST(sum(t1 * (2 * lo + t + 1)) AS BIGINT) AS r1x2
        |  FROM cum)
        | SELECT n_pos, n - n_pos AS n_neg,
        |  round(CAST(r1x2 - n_pos * (n_pos + 1) AS DOUBLE)
        |   / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n - n_pos AS DOUBLE)),
        |   6) AS auc
        | FROM ag""".stripMargin,
    "q320_textrank" ->
      // q145's unrolled integer-PageRank CTE ladder over the word-
      // adjacency graph instead of the supplier graph
      """WITH toks AS (SELECT string_split(text, ' ') AS w
        |   FROM documents),
        | bgr AS (SELECT w[i] AS a, w[i+1] AS b
        |  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
        |  WHERE len(w) >= 2),
        | bf AS (SELECT a, b FROM bgr
        |  WHERE a <> b AND length(a) >= 4 AND length(b) >= 4),
        | g AS (SELECT DISTINCT u, v FROM (
        |   SELECT a AS u, b AS v FROM bf
        |   UNION ALL SELECT b AS u, a AS v FROM bf)),
        | verts AS (SELECT DISTINCT u AS v FROM g),
        | n AS (SELECT count(*) AS nv FROM verts),
        | deg AS (SELECT u, count(*) AS deg FROM g GROUP BY 1),
        | r0 AS (SELECT v, (SELECT 1000000000000 // nv FROM n) AS rank
        |  FROM verts),
        | i1 AS (SELECT verts.v,
        |   (SELECT (15 * (1000000000000 // nv)) // 100 FROM n)
        |    + (85 * coalesce(sc.in_sum, 0)) // 100 AS rank
        |  FROM verts LEFT JOIN (
        |   SELECT g.v AS v, CAST(sum(r.rank // d.deg) AS BIGINT)
        |     AS in_sum
        |   FROM r0 r JOIN deg d ON r.v = d.u JOIN g ON g.u = r.v
        |   GROUP BY g.v) sc ON verts.v = sc.v),
        | i2 AS (SELECT verts.v,
        |   (SELECT (15 * (1000000000000 // nv)) // 100 FROM n)
        |    + (85 * coalesce(sc.in_sum, 0)) // 100 AS rank
        |  FROM verts LEFT JOIN (
        |   SELECT g.v AS v, CAST(sum(r.rank // d.deg) AS BIGINT)
        |     AS in_sum
        |   FROM i1 r JOIN deg d ON r.v = d.u JOIN g ON g.u = r.v
        |   GROUP BY g.v) sc ON verts.v = sc.v),
        | i3 AS (SELECT verts.v,
        |   (SELECT (15 * (1000000000000 // nv)) // 100 FROM n)
        |    + (85 * coalesce(sc.in_sum, 0)) // 100 AS rank
        |  FROM verts LEFT JOIN (
        |   SELECT g.v AS v, CAST(sum(r.rank // d.deg) AS BIGINT)
        |     AS in_sum
        |   FROM i2 r JOIN deg d ON r.v = d.u JOIN g ON g.u = r.v
        |   GROUP BY g.v) sc ON verts.v = sc.v)
        | SELECT v AS word, CAST(rank AS BIGINT) AS rank FROM i3
        | ORDER BY rank DESC, word LIMIT 15""".stripMargin,
    "q325_chunk_stats" ->
      """WITH b AS (SELECT source,
        |   CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
        |  FROM documents),
        | ch AS (SELECT source, nw, CAST(t.s AS BIGINT) AS st
        |  FROM b, UNNEST(generate_series(1, nw, 48)) AS t(s)),
        | g AS (SELECT source,
        |   CAST(sum(CASE WHEN st = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs,
        |   CAST(count(*) AS BIGINT) AS n_chunks,
        |   CAST(sum(least(64, nw - st + 1)) AS BIGINT)
        |    AS toks_emitted,
        |   CAST(sum(CASE WHEN st = 1 THEN nw ELSE 0 END) AS BIGINT)
        |    AS toks_unique
        |  FROM ch GROUP BY 1)
        | SELECT source, n_docs, n_chunks, toks_emitted, toks_unique,
        |  round(1.0 - CAST(toks_unique AS DOUBLE)
        |    / CAST(toks_emitted AS DOUBLE), 6) AS overlap_frac
        | FROM g""".stripMargin,
    "q330_repetition_profile" ->
      """WITH d AS (SELECT doc_id, source,
        |   string_split(text, ' ') AS w,
        |   CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
        |  FROM documents),
        | uni AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS mu FROM (
        |   SELECT doc_id, t, count(*) AS c FROM (
        |    SELECT doc_id, unnest(w) AS t FROM d) GROUP BY 1, 2)
        |  GROUP BY doc_id),
        | bi AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS mb FROM (
        |   SELECT doc_id, t, count(*) AS c FROM (
        |    SELECT doc_id, w[i] || ' ' || w[i+1] AS t
        |    FROM d, UNNEST(generate_series(1, len(w) - 1)) AS s(i)
        |    WHERE nw >= 2) GROUP BY 1, 2)
        |  GROUP BY doc_id),
        | j AS (SELECT d.source, d.nw, uni.mu,
        |   coalesce(bi.mb, 0) AS mb
        |  FROM d JOIN uni USING (doc_id)
        |  LEFT JOIN bi USING (doc_id)),
        | g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |   CAST(sum((mu * 1000000) // nw) AS BIGINT) AS s1,
        |   CAST(sum(CASE WHEN nw >= 2
        |     THEN (mb * 1000000) // (nw - 1) ELSE 0 END) AS BIGINT)
        |    AS s2,
        |   CAST(sum(CASE WHEN mu * 5 > nw THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_fail_top1,
        |   CAST(sum(CASE WHEN nw >= 2 AND mb * 100 > (nw - 1) * 18
        |     THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_top2
        |  FROM j GROUP BY 1)
        | SELECT source, n_docs,
        |  round(CAST(s1 AS DOUBLE)
        |    / (CAST(n_docs AS DOUBLE) * 1e6), 6) AS mean_top1_frac,
        |  round(CAST(s2 AS DOUBLE)
        |    / (CAST(n_docs AS DOUBLE) * 1e6), 6) AS mean_top2_frac,
        |  n_fail_top1, n_fail_top2
        | FROM g""".stripMargin,
    "q335_posting_compression" -> {
      // width(g) = ⌊log₂g⌋+1 as pure integer comparisons — mirrors
      // the Spark side's Σᵢ[g ≥ 2ⁱ] fold, no log anywhere
      val widthSql = (0 to 40).map(i =>
        s"CASE WHEN g >= ${1L << i} THEN 1 ELSE 0 END")
        .mkString("\n        |    + ")
      s"""WITH post AS (SELECT DISTINCT doc_id, w AS term FROM (
        |   SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |   FROM documents) WHERE length(w) > 0),
        | r AS (SELECT term, doc_id,
        |   lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id)
        |    AS prev FROM post),
        | gv AS (SELECT term, CASE WHEN prev IS NULL THEN doc_id + 1
        |    ELSE doc_id - prev END AS g FROM r),
        | wv AS (SELECT term, $widthSql AS w FROM gv),
        | agg AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
        |   CAST(sum(w) AS BIGINT) AS bits FROM wv GROUP BY 1)
        | SELECT term, df, bits,
        |  (bits + 7) // 8 AS delta_bytes,
        |  df * 8 AS raw_bytes,
        |  round(CAST(df * 8 AS DOUBLE)
        |    / CAST((bits + 7) // 8 AS DOUBLE), 6)
        |   AS compression_ratio
        | FROM agg ORDER BY df DESC, term LIMIT 20""".stripMargin
    }
  )
}
