package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize
import graft.Materialize.hold

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, and document fingerprinting.
  *
  * Everything is a narrow per-row transformation built from codegen'd
  * built-in functions — no UDFs, no shuffle except where a query
  * explicitly aggregates. At 100 TB these run as a single map stage
  * fused into the parquet scan by whole-stage codegen.
  *
  * Determinism: scores/hashes use integer arithmetic (exact on both
  * engines); double ratios are a single division of two exact longs
  * rounded once, so the DuckDB oracle reproduces them bit-for-bit.
  */
object TextAnalysis {

  /** Non-overlapping occurrence count of literal `m` via the
    * length-difference trick — one codegen'd expression, no regex. */
  def occurrences(text: Column, m: String): Column =
    ((length(text) - length(replace(text, lit(m), lit("")))) /
      lit(m.length)).cast("long")

  /** Character-trigram profiles for the n-gram language-ID heuristic.
    * Deliberately tiny: distinctive function-word trigrams per
    * language. (A production profile table would be a broadcast dim;
    * the plumbing is identical.) */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "ein", "sch", "und"),
    "en" -> Seq("the", "he ", " th", "and"),
    "es" -> Seq("los", " el", "que", "ión"),
    "fr" -> Seq("les", " le", "ent", "que"),
    "zh" -> Seq("的", "是", "不", "一")
  )

  /** Per-language trigram score: total occurrences of the profile's
    * trigrams in the text. */
  def langScore(text: Column, lang: String): Column =
    langProfiles.toMap.apply(lang)
      .map(m => occurrences(text, m)).reduce(_ + _)

  /** n-gram language ID: argmax over profile scores, alphabetical
    * language as the deterministic tie-break. */
  def languageId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val scored = docs.select(col(idCol).as("doc_id") +:
      langProfiles.map { case (l, _) =>
        langScore(col(textCol), l).as(s"score_$l") }: _*)
    // argmax via min over (-score, lang) structs: highest score wins,
    // ties break toward the alphabetically first language.
    val best = array_min(array(langProfiles.map { case (l, _) =>
      struct((-col(s"score_$l")).as("neg"), lit(l).as("lang")) }: _*))
    scored.select(col("doc_id"), best.getField("lang").as("pred_lang"),
      (-best.getField("neg")).as("best_score"))
  }

  /** Single-space word split (the corpus is single-space tokenized);
    * empty strings kept — identical to DuckDB string_split. */
  def words(text: Column): Column = split(text, " ")

  private val stopwords = Seq("a", "the", "of", "and", "in", "to", "is")

  /** Row-local quality score in [0,1]: the same expression
    * qualityScore emits, usable directly inside a projection/filter
    * (curateCorpus gates on it without a join). */
  def qualityExpr(t: Column): Column = {
    val w = words(t)
    val nw = size(w).cast("long")
    val nc = length(t).cast("long")
    val stop = size(filter(w, x => x.isInCollection(stopwords))).cast("long")
    val punct = nc - length(regexp_replace(t, "[^a-z0-9 ]", "")).cast("long")
    round(when(nw >= 10, lit(0.4)).otherwise(lit(0.0))
      + when(stop > 0, lit(0.3)).otherwise(lit(0.0))
      + when(punct * lit(10L) < nc, lit(0.3)).otherwise(lit(0.0)), 6)
  }

  /** Row-local predicted language (argmax profile score, alphabetical
    * tie-break) — languageId's decision column without the frame. */
  def langPredExpr(t: Column): Column =
    array_min(array(langProfiles.map { case (l, _) =>
      struct((-langScore(t, l)).as("neg"), lit(l).as("lang"))
    }: _*)).getField("lang")

  /** Quality features + a weighted score in [0,1]-ish: integer counts,
    * each ratio one double division, fixed evaluation order. */
  def qualityScore(docs: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    val t = col(textCol)
    val w = words(t)
    val nw = size(w).cast("long")
    val nc = length(t).cast("long")
    val stop = size(filter(w, x => x.isInCollection(stopwords))).cast("long")
    val punct = nc - length(regexp_replace(t, "[^a-z0-9 ]", "")).cast("long")
    val alpha = length(regexp_replace(t, "[^a-z]", "")).cast("long")
    docs.select(col(idCol).as("doc_id"), nw.as("n_words"), nc.as("n_chars"),
        stop.as("n_stop"), punct.as("n_punct"), alpha.as("n_alpha"))
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        round(col("n_alpha").cast("double") / col("n_words"), 6)
          .as("avg_word_len"),
        round(col("n_stop").cast("double") / col("n_words"), 6)
          .as("stop_ratio"),
        round(col("n_punct").cast("double") / col("n_chars"), 6)
          .as("punct_ratio"),
        // quality: in-range word length + stopword presence − punct noise
        round(when(col("n_words") >= 10, lit(0.4)).otherwise(lit(0.0))
          + when(col("n_stop") > 0, lit(0.3)).otherwise(lit(0.0))
          + when(col("n_punct") * lit(10L) < col("n_chars"), lit(0.3))
            .otherwise(lit(0.0)), 6).as("quality"))
  }

  /** BPE-ish tokenizer regex: letter runs, single digits, or single
    * non-alphanumeric marks (both engines: simple character classes,
    * identical in Java regex and RE2). */
  val tokenRegex = "[a-z]+|[0-9]|[^a-z0-9 ]"

  /** Duplicated-substring span extraction (public ExactSubstr
    * result — Lee et al. 2022 — as a fixed-L distributed recast): per
    * document, the maximal word spans covered by length-`L` word
    * grams occurring at least `minOccurs` times in the whole corpus
    * (intra- or cross-document). Cutting these spans beats dropping
    * whole near-dup documents for memorization reduction. Output:
    * (doc_id, span_start, span_end, span_words, n_dup_grams), word
    * positions 0-based inclusive.
    *
    * Scale shape: positional grams hash to 8-byte keys for the
    * occurrence-count window — near-uniform key distribution, one
    * exchange — then the interval merge (lag + prefix-sum island ids)
    * runs entirely inside the doc_id partition: two keyed shuffles
    * total, no suffix array, nothing quadratic. Hash collisions can
    * only merge two distinct grams (2⁻⁶⁴·|grams|² odds — the q44
    * caveat), never split a real span. */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      l: Int, minOccurs: Long = 2L): DataFrame = {
    val grams = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= l)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(1), size(col("w")) - (l - 1)),
        i => xxhash64(array_join(slice(col("w"), i, lit(l)), " ")))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("g"))
    val dup = grams
      .withColumn("k", count(lit(1)).over(Window.partitionBy(col("g"))))
      .filter(col("k") >= minOccurs)
      .select(col("doc_id"), col("pos"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dup.withColumn("prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("nf",
        when(col("prev").isNull || col("pos") > col("prev") + l, 1L)
          .otherwise(0L))
      .withColumn("isl", sum(col("nf")).over(byDoc
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (l - 1)).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_words"),
        col("n_dup_grams"))
  }

  def wsTokens(t: Column): Column = size(words(t)).cast("long")
  def reTokens(t: Column): Column =
    size(regexp_extract_all(t, lit(tokenRegex), lit(0))).cast("long")
  def bpeEst(t: Column): Column =
    ceil(length(t).cast("double") / lit(4.0)).cast("long")

  /** Token counts per document: whitespace tokens, regex tokens, and
    * the chars/4 BPE estimate. */
  def tokenCounts(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol).as("doc_id"), wsTokens(t).as("ws_tokens"),
      reTokens(t).as("re_tokens"), bpeEst(t).as("bpe_est"))
  }

  private val M = 1000000007L

  /** Codepoint array of a string (1 element per character; explicit
    * indexing — mirrors the oracle's generate_series + unicode form). */
  def codepoints(text: Column): Column =
    transform(sequence(lit(1), length(text)),
      i => ascii(text.substr(i, lit(1))).cast("long"))

  /** Rolling polynomial hash h ← (31·h + code(c)) mod 1e9+7 over the
    * codepoints of `text` — exact 64-bit integer arithmetic. */
  def docHash(text: Column): Column =
    aggregate(codepoints(text), lit(0L), (h, c) => (h * 31L + c) % M)

  /** TF-IDF with smoothed idf = ln((N+1)/(df+1)): tf and df are exact
    * longs (map-side combined group-bys), idf is the only double and
    * is rounded before ranking so top-k order is engine-stable.
    * Returns the top `k` terms per document. */
  def tfIdfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val n = docs.count()
    val terms = docs.select(col(idCol).as("doc_id"),
      explode(words(col(textCol))).as("term"))
    // document frequency falls out of the (already aggregated, far
    // smaller) tf frame — each (doc, term) appears once there, so a
    // count window over `term` IS df, computed inside tf's own
    // term-keyed exchange. One linear pipeline with two exchanges
    // (term, then doc_id for the top-k window), nothing persisted —
    // the groupBy(term)+self-join form re-shuffled the whole tf frame
    // a third time and needed a cache to avoid re-exploding.
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val wt = Window.partitionBy(col("term"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.withColumn("df", count(lit(1)).over(wt))
      .withColumn("tfidf", round(col("tf") *
        log((lit(n) + 1.0) / (col("df") + lit(1.0))), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("tfidf"), col("rk").cast("long").as("rk"))
  }

  /** BM25 lexical retrieval: score every document against a fixed
    * query-term set and return the top-k (Robertson/Spärck Jones
    * probabilistic relevance framework; the BM25 formula is public —
    * idf(t)·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with
    * idf = ln(1+(N−df+0.5)/(df+0.5))). The retrieval primitive behind
    * corpus search, contamination triage, and RAG baselines.
    *
    * Scale shape: the token stream is filtered to the query terms
    * BEFORE any shuffle, so the tf frame is |terms|·|matching docs|,
    * not corpus-sized; N/avgdl are a 1-row broadcast aggregate; the
    * global top-k is a TakeOrdered, never a full sort. Determinism:
    * per-(doc,term) contributions are rounded to 9 dp and summed as
    * DECIMAL (exact, order-free — the q150 pattern), so DuckDB
    * reproduces the score bit-for-bit. Callers should pass k1/b with
    * exact binary representations (1.5, 0.75) for cross-engine float
    * identity. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k1: Double = 1.5,
               b: Double = 0.75, topK: Int = 20): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(words(col(textCol))).as("w"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
    val tf = toks.filter(col("w").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val contrib = tf.join(dft, "w").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(
          log(lit(1.0) +
            (col("n_docs").cast("double") - col("df") + lit(0.5)) /
              (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * (col("dl") * col("n_docs") / col("tot")))),
          9).cast(dec).as("c"))
    contrib.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("sc"), count(lit(1)).as("n_terms"))
      .select(col("doc_id"), col("n_terms"),
        round(col("sc").cast("double"), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** Pseudo-relevance feedback (RM3-shaped) query expansion: run
    * [[bm25TopK]], mine the `nExpand` most frequent terms of the
    * top-`fbDocs` documents (longer than 3 chars, excluding the
    * original query terms; count-desc/term-asc deterministic), and
    * re-run BM25 with the expanded term set. The classic two-pass
    * retrieval composition (Lavrenko & Croft relevance models,
    * public) — recall grows because the feedback docs vote for the
    * corpus's own vocabulary.
    *
    * The feedback mining collects `nExpand` strings to the driver — a
    * k-bounded scalar probe (the only way to parameterize the second
    * pass's term filter), NOT a data-sized collect; both BM25 passes
    * keep their query-term-filtered, broadcast-stats scale shape. */
  def bm25Expanded(docs: DataFrame, idCol: String, textCol: String,
                   queryTerms: Seq[String], fbDocs: Int = 10,
                   nExpand: Int = 5, k1: Double = 1.5, b: Double = 0.75,
                   topK: Int = 20): DataFrame = {
    val first = bm25TopK(docs, idCol, textCol, queryTerms, k1, b, fbDocs)
    val fb = first.select(col("doc_id"))
    val expansion = docs
      .select(col(idCol).as("doc_id"), explode(words(col(textCol))).as("w"))
      .join(broadcast(fb), Seq("doc_id"), "left_semi")
      .filter(length(col("w")) > 3 && !col("w").isin(queryTerms: _*))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc)
      .limit(nExpand)
      .collect().map(_.getString(0)).toSeq
    bm25TopK(docs, idCol, textCol, queryTerms ++ expansion, k1, b, topK)
  }

  /** Overlapping sliding-window chunking — the RAG / context-window
    * preparation step: split each document's token stream into
    * `window`-token chunks starting every `stride` tokens (stride <
    * window ⇒ overlap), last chunk truncated at the document end.
    * chunks(L) = 1 + max(0, ⌈(L−window)/stride⌉), all arithmetic
    * integer-exact. Row-local (explode of a per-doc sequence): no
    * shuffle at all — the 100 TB plan is a single mapper stage.
    * Output: (doc_id, chunk_no, start_tok, n_toks, first_tok,
    * last_tok) — span coordinates plus boundary tokens so chunk
    * placement is value-checkable without shipping chunk text. */
  /** Category blocklist filter — the policy/safety screen stage of a
    * training pipeline: per document, OCCURRENCE counts of each
    * category's term list (word-level exact matches, so "assassin"
    * does not hit a "class" list — the scunthorpe failure substring
    * matching has) and a keep/drop verdict at `maxHits` total.
    * Term lists ride as literal IN-sets inside one projection —
    * zero shuffles, scan speed at any corpus size. Realistic category
    * lists (10²–10⁴ terms) fit the plan comfortably; a full lexicon
    * beyond that belongs in the broadcast-join form
    * ([[decontaminate]]'s shape) instead of a literal. */
  def blocklistFilter(docs: DataFrame, idCol: String, textCol: String,
                      categories: Seq[(String, Seq[String])],
                      maxHits: Long = 0L): DataFrame = {
    val w = words(col(textCol))
    val catCols = categories.map { case (name, terms) =>
      size(filter(w, x => x.isin(terms: _*))).cast("long").as(s"n_$name")
    }
    val counted = docs.select(col(idCol).as("doc_id") +: catCols: _*)
    val total = categories.map(c => col(s"n_${c._1}")).reduce(_ + _)
    counted.withColumn("n_total", total)
      .withColumn("keep", col("n_total") <= maxHits)
  }

  /** PII scrubbing: count and redact e-mail addresses, IPv4
    * addresses, and international-format phone numbers — the
    * compliance pass every web-scale training corpus runs before
    * anything else sees the text. Row-local regexes (counts from
    * `regexp_extract_all`, redaction by three sequential
    * `regexp_replace`es), so the scrub runs at scan speed with zero
    * shuffles at any corpus size.
    *
    * The patterns deliberately use only syntax with IDENTICAL
    * semantics in Java regex (Spark) and RE2 (DuckDB, Go): character
    * classes, bounded repetition, `\b` — no backreferences or
    * lookaround, so greedy leftmost matching agrees engine-for-engine
    * and the oracle check is exact on both counts and redacted text.
    * Replacement order (e-mail → phone → IPv4) is part of the
    * contract: an e-mail's host part could otherwise be bitten by the
    * broader patterns. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\+\\d{1,2}-\\d{3}-\\d{3}-\\d{4}"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  def piiScrub(docs: DataFrame, idCol: String,
               textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      size(regexp_extract_all(col(textCol), lit(emailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(phoneRe), lit(0)))
        .cast("long").as("n_phones"),
      size(regexp_extract_all(col(textCol), lit(ipv4Re), lit(0)))
        .cast("long").as("n_ips"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>"),
        ipv4Re, "<IP>").as("clean_text"))

  /** Repetition profile (the Gopher corpus-quality repetition rules,
    * Rae et al. 2021 — public paper — adapted to word n-grams): per
    * document, the fraction of n-gram OCCURRENCES that repeat an
    * earlier occurrence (`dup_frac` = 1 − distinct/total) and the
    * share of the single most frequent n-gram (`top_frac`), plus a
    * `flagged` verdict at `tau`. Boilerplate, scraper loops, and
    * keyword-stuffed spam all light up on these two numbers while
    * ordinary prose stays near zero — the standard pre-training
    * filter that inter-document dedup cannot express (the repetition
    * is INSIDE one document).
    *
    * Physical shape: ZERO shuffles. The n-grams, their sort, and a
    * run-length walk over the sorted array (distinct count + longest
    * run = most frequent gram, since equal grams are adjacent after
    * the sort) are per-row array ops inside one projection — at
    * 100 TB this runs at scan speed, embarrassingly parallel, and
    * composes with any downstream filter pushdown. `tau` defaults to
    * 0.125: exactly binary-representable, so the flag compares
    * identically in any engine. */
  def repetitionProfile(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, tau: Double = 0.125): DataFrame = {
    val grams = when(size(words(col(textCol))) >= n,
      array_sort(transform(
        sequence(lit(1), size(words(col(textCol))) - (n - 1)),
        i => array_join(slice(words(col(textCol)), i, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
    // fold state: (prev gram, current run, max run, distinct count);
    // prev starts NULL so the first gram always opens a new run (an
    // empty-string sentinel would merge with genuinely empty grams
    // from doubled separators)
    val walk = aggregate(col("gs"),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("mx"), lit(0L).as("nd")),
      (acc, g) => {
        val run = when(g === acc("prev"), acc("run") + 1).otherwise(lit(1L))
        struct(g.as("prev"), run.as("run"),
          greatest(acc("mx"), run).as("mx"),
          when(g === acc("prev"), acc("nd")).otherwise(acc("nd") + 1)
            .as("nd"))
      })
    docs.select(col(idCol).as("doc_id"), grams.as("gs"))
      .select(col("doc_id"), size(col("gs")).cast("long").as("total"),
        walk.as("st"))
      .select(col("doc_id"), col("total"),
        col("st.nd").as("n_distinct"), col("st.mx").as("top_count"),
        when(col("total") > 0, (col("total") - col("st.nd"))
          .cast("double") / col("total")).otherwise(lit(0.0))
          .as("dup_frac"),
        when(col("total") > 0,
          col("st.mx").cast("double") / col("total")).otherwise(lit(0.0))
          .as("top_frac"))
      .withColumn("flagged", col("dup_frac") > lit(tau))
  }

  def windowChunks(docs: DataFrame, idCol: String, textCol: String,
                   window: Int, stride: Int): DataFrame = {
    require(stride > 0 && window >= stride,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    import graft.functions.NowFunctions.intDiv
    docs.select(col(idCol).as("doc_id"), words(col(textCol)).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("l"))
      .select(col("doc_id"), col("w"), col("l"),
        explode(sequence(lit(0L), greatest(lit(0L),
          intDiv(col("l") - window + (stride - 1), lit(stride.toLong)))))
          .as("chunk_no"))
      .select(col("doc_id"), col("chunk_no"),
        (col("chunk_no") * stride + 1).as("start_tok"),
        least(lit(window.toLong), col("l") - col("chunk_no") * stride)
          .as("n_toks"),
        element_at(col("w"), (col("chunk_no") * stride + 1).cast("int"))
          .as("first_tok"),
        element_at(col("w"),
          least(col("chunk_no") * stride + window, col("l")).cast("int"))
          .as("last_tok"))
  }

  /** Benchmark decontamination: score each corpus document by its
    * distinct word-n-gram overlap with a benchmark set — the standard
    * check that training data doesn't contain eval data. Exact
    * integer counts; the shingle equi-join is the scalable form (the
    * benchmark side is tiny → broadcast). */
  def decontaminationScores(corpus: DataFrame, benchmark: DataFrame,
                            idCol: String, textCol: String,
                            n: Int): DataFrame = Materialize {
    // overlap only needs set identity → 8-byte shingle hashes, and
    // docSh feeds both legs (sizes + shared) → held once
    val docSh = hold(Dedup.wordShingleHashes(corpus, idCol, textCol, n))
    val benchSh = Dedup.wordShingleHashes(benchmark, idCol, textCol, n)
      .select(col("shingle")).distinct()
    val sizes = docSh.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"))
    val shared = docSh.join(broadcast(benchSh), "shingle")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    sizes.join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(coalesce(col("n_shared"), lit(0L)) /
          col("n_shingles").cast("double"), 6).as("contamination"))
  }

  /** End-to-end corpus curation — the composed pipeline a training-
    * data run actually executes, assembled purely from the operators
    * above so the whole thing stays one declarative plan per stage:
    *
    *  1. quality gate   (qualityScore ≥ minQuality)
    *  2. language gate  (languageId == lang)
    *  3. exact dedup    (min doc id per content digest survives)
    *  4. near-dup purge (MinHash+LSH pairs → clusters → only each
    *     cluster's min id survives; transitive closure respected)
    *
    * Returns the surviving documents (idCol column). Each gate is a
    * join against a small derived frame, so Catalyst broadcast/AQE
    * handles the physical strategy at any scale. */
  def curateCorpus(docs: DataFrame, idCol: String, textCol: String,
                   minQuality: Double = 0.7, lang: String = "en",
                   shingleN: Int = 3,
                   nearDupTau: Double = 0.5): DataFrame = Materialize {
    // Both gates are row-local expressions, so the whole quality+
    // language filter is ONE narrow codegen'd projection over the
    // corpus scan — no gate joins, no shuffle (an earlier version
    // scored each gate as its own frame and joined twice; at 100 TB
    // those are two full-corpus shuffles for per-row arithmetic).
    val kept = docs
      .filter(qualityExpr(col(textCol)) >= minQuality &&
        langPredExpr(col(textCol)) === lang)
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // Exact dedup in one shuffle with no join-back: all rows in an
    // md5 group carry identical text, so any_value(text) is
    // deterministic and recovers the survivor's body.
    val exactKept = hold(kept
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"),
        any_value(col("text")).as("text"))
      .select(col("doc_id"), col("text")))
    // The dedup stages run in this operator's scope, so they do not
    // seal: nearDupClusters materializes the pair set itself (hold +
    // count before its guarded union-find), and the LSH legs are
    // computed once inside that single materialization.
    val losers = Dedup.nearDupClusters(
        Dedup.minhashNearDupPairs(exactKept, "doc_id", "text",
          shingleN = shingleN, tau = nearDupTau))
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    exactKept.join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id").as(idCol))
  }

  /** Sequence packing: assign documents (in deterministic id order,
    * per stream) to fixed-token-budget chunks by cumulative fill — the
    * concat-and-chunk step that turns a curated corpus into training
    * sequences. chunk = ⌊tokens-before-this-doc / maxTokens⌋, i.e. a
    * doc starts in the chunk its predecessor filled up to (straddlers
    * spill forward, the usual pre-tokenized-stream semantics). One
    * window scan per stream partition; output one row per chunk with
    * its doc span and token count. */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    streamCol: String, maxTokens: Long): DataFrame = {
    val w = Window.partitionBy(col("stream")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col(streamCol).as("stream"), col(idCol).as("doc_id"),
        wsTokens(col(textCol)).as("toks"))
      .withColumn("before", coalesce(sum(col("toks")).over(w), lit(0L)))
      .withColumn("chunk", // exact integral division (not via double)
        graft.functions.NowFunctions.intDiv(col("before"), lit(maxTokens)))
      .groupBy(col("stream"), col("chunk"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"), sum(col("toks")).as("tokens"))
  }

  /** Corpus-wide frequent n-grams (exact heavy hitters): the building
    * block for stopword mining, boilerplate detection, and n-gram LM
    * stats. Grams expand IN-ROW (no join), the per-partition partial
    * count collapses each partition to its local vocabulary before
    * the single shuffle on gram, and top-k is TakeOrdered (a k-heap
    * per partition + driver merge), never a global sort — the shape
    * that survives a 100 TB corpus with a Zipfian vocabulary. */
  def frequentNgrams(docs: DataFrame, textCol: String, n: Int = 2,
                     k: Int = 20): DataFrame = {
    // Project the word array FIRST: referencing the split() expression
    // inside the transform lambda would re-tokenize the document for
    // every element_at — O(words²) per doc. As a named column it's
    // evaluated once per row (CollapseProject keeps expensive
    // multiply-referenced projections separate).
    val w = col("w")
    // sequence(1, m) requires m >= 1 (descending sequences otherwise)
    val grams = transform(sequence(lit(1), size(w) - lit(n - 1)), i =>
      concat_ws(" ", (0 until n).map(j => element_at(w, i + lit(j))): _*))
    docs.select(words(col(textCol)).as("w"))
      .filter(size(w) >= n)
      .select(explode(grams).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("gram").asc)
      .limit(k)
  }

  /** Stratified deterministic sampling: per-stratum keep rates over
    * the same multiplicative id-hash — reproducible domain mixing. */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       rates: Map[String, Int],
                       defaultPct: Int): DataFrame = {
    val pct = rates.foldLeft(lit(defaultPct)) { case (acc, (s, p)) =>
      when(col(strataCol) === s, lit(p)).otherwise(acc)
    }
    df.filter(pmod(col(idCol) * lit(2654435761L), lit(100L)) < pct)
  }

  /** Deterministic hash-based sampling: keep rows whose multiplicative
    * id-hash lands under `pct`% — reproducible across runs, engines,
    * and partitionings (unlike `df.sample`, whose output depends on
    * partition layout). The training-pipeline way to carve stable
    * subsets/holdouts at 100 TB. Knuth multiplicative constant. */
  def hashSample(df: DataFrame, idCol: String, pct: Int): DataFrame =
    df.filter(pmod(col(idCol) * lit(2654435761L), lit(100L)) < pct)

  /** Document fingerprints: full-text rolling hash + winnowing min.
    *
    * Runs as a typed per-partition scan: prefix hashes make every
    * 8-gram hash O(1), so the whole document fingerprints in O(n) —
    * the expression-tree forms above re-hash each gram (O(n·g)) and
    * cost ~10× more at scale. Same arithmetic, same results. */
  def fingerprints(docs: DataFrame, idCol: String,
                   textCol: String, gram: Int = 8): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    docs.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("text")).as[(Long, String)]
      .mapPartitions { it =>
        // 31^gram mod M, for removing the leading char in O(1)
        val pw = (1 to gram).foldLeft(1L)((p, _) => p * 31 % M)
        it.map { case (id, text) =>
          val n = text.length
          var h = 0L          // full-document rolling hash
          var win = 0L        // hash of the current gram window
          var best = Long.MaxValue
          var i = 0
          while (i < n) {
            val c = text.charAt(i).toLong
            h = (h * 31 + c) % M
            win = (win * 31 + c) % M
            if (i >= gram)
              win = (win - text.charAt(i - gram) * pw % M + M * 31) % M
            if (i >= gram - 1 && win < best) best = win
            i += 1
          }
          if (n < gram) best = h // short docs hash whole
          (id, h, best)
        }
      }.toDF("doc_id", "doc_hash", "winnow_min")
  }

  /** Winnowed fingerprint SETS (Schleimer/Wilkerson/Aiken 2003, the
    * MOSS scheme q52's single global min only sketches): slide a
    * `win`-gram window over the `gram`-char rolling hashes and keep
    * each window's minimum; a document's fingerprint set is the
    * DISTINCT selected hashes. Guarantee: any substring match of
    * length >= win + gram - 1 contributes at least one SHARED
    * fingerprint, so overlap detection has no blind spots at density
    * ~2/(win+1). Row-local O(n) per doc (prefix rolling hash + a
    * bounded window scan); the cross-doc work downstream is a
    * fingerprint-keyed equi-join, never all-pairs. Docs shorter than
    * `gram` chars have no grams and emit nothing (callers see them
    * as overlap-free). */
  def winnowedFingerprints(docs: DataFrame, idCol: String,
      textCol: String, gram: Int = 8, win: Int = 4): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val n = text.length
        val g = n - gram + 1
        if (g < 1) Iterator.empty
        else {
          val pw = (1 to gram).foldLeft(1L)((p, _) => p * 31 % M)
          val hs = new Array[Long](g)
          var h = 0L
          var i = 0
          while (i < n) {
            val c = text.charAt(i).toLong
            h = (h * 31 + c) % M
            if (i >= gram)
              h = (h - text.charAt(i - gram) * pw % M + M * 31) % M
            if (i >= gram - 1) hs(i - gram + 1) = h
            i += 1
          }
          val sel = scala.collection.mutable.Set.empty[Long]
          var j = 0
          val nWin = math.max(g - win + 1, 1)
          while (j < nWin) {
            var best = Long.MaxValue
            var k = j
            val end = math.min(j + win, g)
            while (k < end) {
              if (hs(k) < best) best = hs(k)
              k += 1
            }
            sel += best
            j += 1
          }
          sel.iterator.map(fp => (id, fp))
        }
      }.toDF("doc_id", "fp")
  }
}
