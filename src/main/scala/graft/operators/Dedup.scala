package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.Materialize
import graft.Materialize.{drop, hold}
import graft.functions.VectorOps

/** Large-scale deduplication operators for training-data pipelines.
  *
  * Everything is expressed as declarative DataFrame programs so the
  * physical plan stays shuffle-minimal and scales to 100 TB:
  *
  *  - exact dedup shuffles 16-byte digests, never document bodies;
  *  - MinHash/SimHash signatures are computed with map-side partial
  *    `min`/`sum` aggregation over exploded features (one shuffle on
  *    doc_id), then candidate generation is an equi-join on small
  *    (band, bucket-hash) keys — the classic LSH band trick, so the
  *    quadratic all-pairs comparison never materializes;
  *  - exact verification (Jaccard / Hamming / cosine) runs only on the
  *    candidate pairs the buckets produce.
  */
object Dedup {

  /** Exact dedup: group by content digest. Emits one row per distinct
    * text: the digest, the survivor (min id), and the multiplicity.
    * Shuffle key is the 128-bit md5, not the document body. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct word n-gram shingles: (doc_id, shingle). Documents with
    * fewer than n words produce no shingles. Distinctness is per
    * document, so it's enforced row-locally with `array_distinct`
    * BEFORE the explode — zero shuffle, unlike a global `.distinct()`
    * which would reshuffle the whole exploded set. */
  def wordShingles(docs: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(array_distinct(transform(
        sequence(lit(1), size(col("w")) - (n - 1)),
        i => array_join(slice(col("w"), i, lit(n)), " ")))).as("shingle"))

  /** [[wordShingles]] with each shingle hashed to its 64-bit
    * xxhash64: (doc_id, shingle: long). Signatures, LSH banding, and
    * exact-Jaccard verification only consume set identity, so running
    * them over the 8-byte hash instead of the n-gram string shrinks
    * every shuffle, cache, and join key ~4× — the difference between
    * shuffling ~10× corpus size and ~2× at 100 TB. Two different
    * n-grams of one document colliding (which is what it would take to
    * perturb a Jaccard count) is a ~2⁻⁶⁴·|doc|² event — below any
    * realistic bit-error rate. */
  def wordShingleHashes(docs: DataFrame, idCol: String, textCol: String,
                        n: Int): DataFrame =
    // hash each word once, then hash the n word-hash longs per shingle
    // — no n-gram string is ever materialized (the string build was
    // the hot allocation in this path); same set identity, same
    // 2⁻⁶⁴-collision caveat
    docs.select(col(idCol).as("doc_id"),
        transform(split(col(textCol), " "), w => xxhash64(w)).as("wh"))
      .filter(size(col("wh")) >= n)
      .select(col("doc_id"), explode(array_distinct(transform(
        sequence(lit(0), size(col("wh")) - n),
        i => xxhash64((0 until n).map(j =>
          element_at(col("wh"), i + lit(j + 1))): _*))))
        .as("shingle"))

  /** MinHash signatures: k independent hash functions, realized as one
    * base string hash h0 = xxhash64(shingle) re-mixed per function by
    * hashing the (h0, i) long pair — the standard "one hash + k mixes"
    * construction (Broder's original minwise family only needs pairwise
    * independence per function). Hashing two longs is a handful of
    * xxhash rounds vs re-hashing the whole shingle string k times, so
    * the map-side cost drops ~10× at equal recall. k min-aggregates
    * with map-side partial aggregation; one shuffle on doc_id. */
  def minHashSignatures(shingles: DataFrame, k: Int): DataFrame =
    shingles
      .select(col("doc_id"), featureHash(shingles).as("h0"))
      .groupBy(col("doc_id"))
      .agg(min(xxhash64(col("h0"), lit(0))).as("mh0"),
        (1 until k).map(i =>
          min(xxhash64(col("h0"), lit(i))).as(s"mh$i")): _*)

  /** Base feature hash of the `shingle` column: already-long input
    * (from [[wordShingleHashes]]) passes through; strings hash here.
    * NOTE the two forms are different hash FAMILIES (the long form
    * hashes word-hash tuples, the string form hashes the n-gram
    * text): each is a valid feature hash and all set-identity
    * semantics hold within either, but signatures/sketches built from
    * one form must not be compared against artifacts built from the
    * other. */
  private def featureHash(shingles: DataFrame): Column =
    if (shingles.schema("shingle").dataType ==
        org.apache.spark.sql.types.LongType) col("shingle")
    else xxhash64(col("shingle"))

  /** MinHash signatures over an ARITHMETIC hash family — the
    * q80-KMV trick applied to MinHash: mh_i = min over shingles of
    * ((h mod 10^9+7)·(2654435761 + 700000001·i) + 97531·i) mod
    * 999999999989. Unlike the xxhash64 family ([[minHashSignatures]],
    * the production default), every term here is plain modular int64
    * arithmetic that ANY engine reproduces bit-for-bit — which makes
    * the LSH pipeline itself differentially testable (candidate sets
    * compared against a SQL recompute), not just its verified output.
    * The multiplier STRIDE matters: an earlier `+2i` family left the
    * k multipliers nearly identical, so one shingle tended to win
    * every minimum — collapsing the signature to a single draw and
    * the band-collision probability far below the J^r model the
    * S-curve assumes. Stride 7e8+1 keeps products ≤ ~1.0000007e9 ×
    * 7.555e9 ≈ 7.56e18 < 2^63 for k ≤ 8: exact in both engines.
    * Expects long `shingle` features (e.g. [[md5Hash60]]). */
  def minHashSignaturesArith(shingles: DataFrame, k: Int): DataFrame = {
    require(k <= 8, s"k=$k: stride family is overflow-proven for k <= 8")
    val h1 = pmod(col("shingle"), lit(1000000007L))
    shingles.groupBy(col("doc_id"))
      .agg(min(pmod(h1 * lit(2654435761L), lit(999999999989L))).as("mh0"),
        (1 until k).map(i =>
          min(pmod(h1 * lit(2654435761L + 700000001L * i)
            + lit(97531L * i), lit(999999999989L))).as(s"mh$i")): _*)
  }

  /** LSH band candidates from [[minHashSignaturesArith]] signatures,
    * joining on the RAW r-tuple of minima per band (no band hash —
    * keeps the join key engine-reproducible). r = k/bands. */
  def lshCandidatePairsArith(sigs: DataFrame, k: Int,
                             bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val r = k / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band") +:
        (0 until r).map(j => col(s"mh${b * r + j}").as(s"m$j")): _*)
    }
    val buckets = sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
    val a = buckets.as("a")
    val b = buckets.as("b")
    a.join(b, col("a.bb") === col("b.bb")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** LSH banding: split the k-wide signature into `bands` bands of
    * `r` rows, hash each band, and emit candidate pairs of documents
    * sharing any (band, hash) bucket. Join key is (band, 64-bit hash):
    * tiny, uniformly distributed — no skew at scale. */
  def lshCandidatePairs(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val r = k / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((0 until r).map(j => col(s"mh${b * r + j}")) :+ lit(b): _*)
          .as("bh"))
    }
    val buckets = sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bh"))
    val a = buckets.as("a")
    val b = buckets.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact Jaccard over candidate pairs via a shingle-set join — only
    * candidates pay the verification cost. */
  def jaccardVerify(pairs: DataFrame, shingles: DataFrame): DataFrame = {
    val sizes = shingles.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = pairs
      .join(shingles.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(shingles.as("sb"), col("doc_b") === col("sb.doc_id")
        && col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("doc_b") === col("zb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        ((col("inter") * lit(1.0)) /
          (col("za.sz") + col("zb.sz") - col("inter"))).as("jaccard"))
  }

  /** End-to-end MinHash+LSH near-duplicate pairs with exact-Jaccard
    * verification at `tau`. */
  def minhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          shingleN: Int = 3, k: Int = 32, bands: Int = 16,
                          tau: Double = 0.5): DataFrame = Materialize {
    // sh is referenced 4× downstream (signatures + the three verify
    // legs) and sig 2× (both sides of the bucket self-join): persist
    // both or the whole explode/distinct pipeline re-runs per leg —
    // at 100 TB the shingle set is ~10× the corpus, so recomputing it
    // four times dwarfs the cost of spilling it once.
    val sh = hold(wordShingleHashes(docs, idCol, textCol, shingleN))
    val sig = hold(minHashSignatures(sh, k))
    val cand = lshCandidatePairs(sig, k, bands)
    jaccardVerify(cand, sh).filter(col("jaccard") >= tau)
  }

  /** Cross-set near-dup pairs: match the `incoming` slice of `docs`
    * (rows where `incomingPred` holds on the id column) against the
    * rest — the daily "new crawl vs existing corpus" dedup. Same
    * signature machinery as [[minhashNearDupPairs]], but the bucket
    * join is base × incoming instead of the full self-join, so
    * base-base candidate pairs (usually the overwhelming majority —
    * the corpus outweighs a day's crawl by orders of magnitude) are
    * never generated, never deduplicated, and never Jaccard-verified.
    * Output: (doc_a from base, doc_b from incoming, jaccard ≥ tau). */
  def minhashNearDupPairsCross(docs: DataFrame, idCol: String,
                               textCol: String, incomingPred: Column,
                               shingleN: Int = 3, k: Int = 32,
                               bands: Int = 16,
                               tau: Double = 0.5): DataFrame = Materialize {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val sh = hold(wordShingleHashes(docs, idCol, textCol, shingleN))
    val sig = hold(minHashSignatures(sh, k))
    val r = k / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((0 until r).map(j => col(s"mh${b * r + j}")) :+ lit(b): _*)
          .as("bh"))
    }
    val buckets = sig
      .select(col("doc_id"), incomingPred.as("incoming"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("incoming"), col("bb.band"), col("bb.bh"))
    val base = buckets.filter(!col("incoming")).as("a")
    val inc = buckets.filter(col("incoming")).as("b")
    val cand = base.join(inc,
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    jaccardVerify(cand, sh).filter(col("jaccard") >= tau)
  }

  /** SimHash-64 over shingle features. The textbook form keeps 64 ±1
    * sums; materializing that as 64 aggregate buffers makes Janino
    * compile a huge HashAggregate method (seconds of one-time codegen)
    * and quadruples the buffer width. Instead pack 2 bit-counters of
    * 32 bits each into one long (SWAR): 32 packed sums + one count —
    * half the codegen/state. Bit j's sign is 2·c_j > n ⟺ the ±1 sum
    * is positive, identical output. 32-bit lanes hold counters (and
    * their partial sums) up to 2³¹ shingles per document — ANSI's
    * long-sum overflow cannot fire below the guard, so the loud
    * per-document error below is the failure mode, never a silent
    * carry into the adjacent lane. */
  def simHash(shingles: DataFrame, bits: Int = 64): DataFrame = {
    val h = featureHash(shingles)
    val lanes = 2 // 32-bit counters per 64-bit sum
    val groups = bits / lanes
    val sums = (0 until groups).map { g =>
      sum((0 until lanes).map { l =>
        shiftright(h, g * lanes + l).bitwiseAND(lit(1L)) *
          lit(1L << (32 * l))
      }.reduce(_ + _)).as(s"s$g")
    }
    val packed = (0 until bits).map { j =>
      val cj = shiftright(col(s"s${j / lanes}"), 32 * (j % lanes))
        .bitwiseAND(lit(0xFFFFFFFFL))
      when(cj * 2 > col("n"), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    shingles.groupBy(col("doc_id"))
      .agg(sums.head, (sums.tail :+ count(lit(1)).as("n")): _*)
      .select(col("doc_id"),
        when(col("n") > Int.MaxValue.toLong, raise_error(concat(
          lit("simHash: document "), col("doc_id").cast("string"),
          lit(" has > 2^31 shingles — exceeds the 32-bit SWAR lanes"))))
          .otherwise(packed).as("simhash"))
  }

  /** md5-derived 60-bit feature hash: the first 15 hex digits of
    * md5(s) parsed base-16. ~3× the cost of xxhash64, but every engine
    * with an md5 builtin (DuckDB, Python hashlib) reproduces it
    * digit-for-digit, which makes hash-seeded sketches (simhash, KMV)
    * DIFFERENTIALLY TESTABLE end-to-end instead of rows-only-checked.
    * 60 bits keeps the parse inside a signed 64-bit int on both
    * engines (16 digits could set the sign bit). */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  // ---- streaming-safe incremental near-dup screen ------------------

  /** Map-only per-row projection for the incremental screen: doc →
    * (doc_id, sh_arr, bbs) where sh_arr is the distinct md5-60 shingle
    * hash array, and bbs the `bands` LSH band r-tuples over the
    * ARITHMETIC minhash family (identical values to
    * [[minHashSignaturesArith]] — min over a set is the same whether
    * folded in-row or via groupBy, so the q200 oracle recomputes these
    * relationally). Everything is a projection — no explode/groupBy —
    * which is what makes the pipeline legal on an unaggregated STREAM:
    * signatures fold over the in-row array with transform/array_min.
    * Docs with < n words carry no shingles and are dropped (parity
    * with [[wordShingles]]). */
  def rowLocalBandProject(docs: DataFrame, idCol: String, textCol: String,
                          shingleN: Int, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    // same overflow bound as minHashSignaturesArith: past k=8 the
    // stride multipliers push h1·a_i over 2^63 and the fold would
    // silently wrap into a DIFFERENT family than the batch index
    require(k <= 8, s"k=$k: stride family is overflow-proven for k <= 8")
    val r = k / bands
    val ws = split(col(textCol), " ")
    val shArr = array_distinct(transform(
      sequence(lit(1), size(ws) - (shingleN - 1)),
      i => md5Hash60(array_join(slice(ws, i, lit(shingleN)), " "))))
    // Same stride-700000001 family as minHashSignaturesArith (see its
    // scaladoc for why the multiplier stride is load-bearing): the
    // in-row fold below produces BIT-IDENTICAL minima to the groupBy
    // form, so batch indexes and streaming probes interoperate.
    val sig = (0 until k).map { i =>
      array_min(transform(col("sh_arr"), h =>
        pmod(pmod(h, lit(1000000007L))
            * lit(2654435761L + 700000001L * i)
          + lit(97531L * i), lit(999999999989L))))
    }
    val bbs = array((0 until bands).map { b =>
      struct(lit(b).as("band") +:
        (0 until r).map(j => col(s"mh${b * r + j}").as(s"m$j")): _*)
    }: _*)
    docs
      .filter(size(ws) >= shingleN) // sequence(1,0) would run backwards
      .select(col(idCol).as("doc_id"), shArr.as("sh_arr"))
      .select(col("doc_id") +: col("sh_arr") +:
        sig.zipWithIndex.map { case (c, i) => c.as(s"mh$i") }: _*)
      .select(col("doc_id"), col("sh_arr"), bbs.as("bbs"))
  }

  /** Incremental near-dup screen of `incoming` docs against a `base`
    * corpus — the STREAMING formulation of [[minhashNearDupPairsCross]]:
    * the base side is a precomputed static bucket/shingle index; the
    * incoming side is the map-only [[rowLocalBandProject]]; candidates
    * come from a stream-static equi-join on band r-tuples and are
    * verified row-locally (array_intersect on the two in-row shingle
    * arrays — no shingle-set join). NOTHING here aggregates across
    * incoming rows, so under readStream the same function screens each
    * micro-batch exactly-once with ZERO streaming state beyond the
    * join's static side (DedupSpec proves batch⇌incremental parity).
    * At 100 TB: base buckets are a bucketed table re-read per batch;
    * incoming work is proportional to the batch, not the corpus.
    * Output: (doc_new, doc_base, inter_sz, union_sz, jaccard ≥ tau). */
  def streamNearDupScreen(incoming: DataFrame, base: DataFrame,
                          idCol: String, textCol: String,
                          shingleN: Int = 3, k: Int = 8, bands: Int = 4,
                          tau: Double = 0.5): DataFrame = Materialize {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val r = k / bands
    // The static index is BATCH machinery, so it takes the exploded
    // path: md5Hash60 over an exploded shingle column runs inside
    // whole-stage codegen, while the same hash inside a transform()
    // lambda (the row-local form) is evaluated interpreted per
    // element — on a corpus-sized base that difference dominates the
    // whole screen. Values are identical either way (min over the
    // same set; arrays compared as sets), so streaming probes built
    // row-locally interoperate bit-for-bit. Persisted once: it feeds
    // the bucket join and the array fetch. A batch screen holds it in
    // its scope. A live stream re-reads it every micro-batch, so it
    // must outlive any scope: it stays in Spark's CacheManager (no
    // ContextCleaner reaches a cached Dataset) until the session's
    // cache is cleared.
    val index = wordShingles(base, idCol, textCol, shingleN)
      .select(col("doc_id"), md5Hash60(col("shingle")).as("shingle"))
    val baseSh =
      if (incoming.isStreaming) index.persist(StorageLevel.MEMORY_AND_DISK)
      else hold(index)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band") +:
        (0 until r).map(j => col(s"mh${b * r + j}").as(s"m$j")): _*)
    }
    // the base side of the bucket join is SLIM (id + band tuples): at
    // 100 TB the index dominates the join, and shipping every base
    // doc's shingle array 4× through the bucket shuffle (the naive
    // carry-everything form) costs more than the whole screen — base
    // arrays re-attach per candidate PAIR instead. The bands×r-long
    // `bbs` tuple array (fixed ~tens of bytes) DOES ride along on
    // both sides: it powers the zero-state pair dedup below. The
    // incoming side keeps its shingle array in-row: that is bounded
    // by the micro-batch, and re-deriving it would need a
    // stream-self-join.
    val baseBuckets = minHashSignaturesArith(baseSh, k)
      .select(col("doc_id").as("doc_base"),
        array(bandCols: _*).as("base_bbs"))
      .select(col("doc_base"), col("base_bbs"),
        explode(col("base_bbs")).as("bb"))
    val baseArr = baseSh.groupBy(col("doc_id"))
      .agg(collect_set(col("shingle")).as("base_sh"))
      .select(col("doc_id").as("doc_base"), col("base_sh"))
    val incP = rowLocalBandProject(incoming, idCol, textCol, shingleN,
        k, bands)
      .select(col("doc_id").as("doc_new"), col("sh_arr").as("new_sh"),
        col("bbs"), explode(col("bbs")).as("bb"))
    // Pair dedup WITHOUT state: a pair sharing several bands produces
    // one joined row per shared band — keep only the row whose band
    // is the FIRST match of the two band arrays (row-local zip, no
    // aggregation). A streaming dropDuplicates here would plan a
    // StreamingDeduplicate whose store retains every pair ever seen
    // (unbounded growth AND wrong semantics for re-ingested docs:
    // later re-sends would be suppressed by old state); this filter
    // keeps the screen genuinely stateless and per-batch exact.
    val cand = incP.join(baseBuckets, "bb")
      .filter(col("bb.band") + 1 === array_position(
        zip_with(col("bbs"), col("base_bbs"), (a, b) => a === b),
        lit(true)))
      .select(col("doc_new"), col("new_sh"), col("doc_base"))
    cand.join(baseArr, "doc_base") // stream-static re-attach
      .withColumn("inter_sz",
        size(array_intersect(col("new_sh"), col("base_sh"))).cast("long"))
      .withColumn("union_sz",
        (size(col("new_sh")) + size(col("base_sh"))).cast("long")
          - col("inter_sz"))
      .withColumn("jaccard",
        col("inter_sz").cast("double") / col("union_sz"))
      .filter(col("jaccard") >= tau)
      .select(col("doc_new"), col("doc_base"), col("inter_sz"),
        col("union_sz"), col("jaccard"))
  }

  /** SimHash near-dup pairs: pigeonhole banding — hamming ≤ maxHamming
    * (< #chunks) implies at least one equal 16-bit chunk, so candidates
    * come from 4 chunk-equality joins, then exact popcount verify. */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          shingleN: Int = 3, maxHamming: Int = 3): DataFrame =
    simhashNearDupPairsFrom(
      wordShingleHashes(docs, idCol, textCol, shingleN), maxHamming)

  /** [[simhashNearDupPairs]] over a prebuilt (doc_id, shingle) set —
    * callers choose the feature-hash family (xxhash64 longs for
    * production, [[md5Hash60]] for oracle-verifiable runs) and the
    * signature width. */
  def simhashNearDupPairsFrom(sh: DataFrame, maxHamming: Int,
                              bits: Int = 64): DataFrame = Materialize {
    // the per-bit signature aggregation is the expensive stage; both
    // sides of the chunk self-join need it, so compute it once
    val sig = hold(simHash(sh, bits))
    val chunks = sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(c => struct(lit(c).as("c"),
        shiftright(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL))
          .as("v"))): _*)).as("ch"))
      .select(col("doc_id"), col("simhash"), col("ch.c"), col("ch.v"))
    val a = chunks.as("a")
    val b = chunks.as("b")
    a.join(b, col("a.c") === col("b.c") && col("a.v") === col("b.v")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Exact n-gram Jaccard similarity for ALL pairs above `tau`.
    *
    * Adaptive physical strategy — the two regimes need opposite plans:
    *  - **Small shingle vocabulary** (dense overlap: nearly every pair
    *    shares shingles, so candidate pruning cannot help): encode each
    *    document as a bitset over the vocabulary, broadcast, and sweep
    *    all pairs with AND+popcount — O(pairs · vocab/64) word ops, no
    *    shuffle at all.
    *  - **Large vocabulary** (the 100 TB text regime): PPJoin-style
    *    prefix filtering (Xiao et al., WWW'08 — public algorithm):
    *    each document joins only on its `|d| − ⌈tau·|d|⌉ + 1` globally
    *    rarest shingles; any pair with J ≥ tau must share one, so the
    *    result stays exact while hot shingles drop out of the join.
    * Both paths produce identical results. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, tau: Double,
                        denseVocabLimit: Int = 4096,
                        denseBudgetBytes: Long = 512L * 1024 * 1024)
      : DataFrame = Materialize {
    // both regimes walk the shingle set repeatedly (vocab probe +
    // either the bitset build or prefix-rank/verify legs)
    ngramJaccardPairsFrom(hold(wordShingleHashes(docs, idCol, textCol, n)),
      tau, denseVocabLimit, denseBudgetBytes)
  }

  /** Regime probe: dense is chosen only when the vocabulary is small
    * AND the full doc×vocab bitset table fits the broadcast budget —
    * a billion-doc corpus with a tiny shingle vocabulary (short
    * codes/IDs) must DEGRADE to the sparse path, not error (the
    * budget used to be a hard `require` inside the dense builder).
    * One aggregation answers both counts. */
  private def denseFits(sh: DataFrame, denseVocabLimit: Int,
                        denseBudgetBytes: Long): Boolean = {
    val r = sh.agg(countDistinct(col("shingle")).as("v"),
      countDistinct(col("doc_id")).as("nd")).collect()(0)
    val vocab = r.getLong(0)
    val ndocs = r.getLong(1)
    val words = (vocab + 63) / 64
    vocab <= denseVocabLimit && ndocs * words * 8 < denseBudgetBytes
  }

  /** [[ngramJaccardPairs]] over an ALREADY-SHINGLED distinct
    * (doc_id, shingle: long) frame — the entry point for callers
    * that derive sketch AND exact-truth legs from ONE shared shingle
    * pass (the q184/q185 sketch calibrations: SimHash / MinHash
    * signatures and the exact-Jaccard ground truth walk the same
    * shingle set, and re-shingling internally would repeat the whole
    * tokenize + explode pass over the corpus). The caller owns `sh`'s
    * persistence lifecycle; only internal legs are held here. */
  def ngramJaccardPairsFrom(sh: DataFrame, tau: Double,
                            denseVocabLimit: Int = 4096,
                            denseBudgetBytes: Long = 512L * 1024 * 1024)
      : DataFrame = Materialize {
    if (denseFits(sh, denseVocabLimit, denseBudgetBytes)) densePairs(sh, tau)
    else prefixFilteredPairs(sh, tau)
  }

  /** Dense regime: broadcast bitsets, distributed all-pairs sweep.
    * Only reachable through [[denseFits]], which has already bounded
    * vocab and the doc×vocab bitset table. */
  private def densePairs(sh: DataFrame, tau: Double): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    val shingleIdx = sh.select("shingle").distinct().orderBy("shingle")
      .collect().map(_.getLong(0)).zipWithIndex.toMap
    val idxB = spark.sparkContext.broadcast(shingleIdx)
    val vocab = shingleIdx.size
    val words = (vocab + 63) / 64
    val docBits = sh.select(col("doc_id").cast("long"), col("shingle"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val m = idxB.value
        it.map { case (id, s) => (id, m(s)) }
      }
      .groupByKey(_._1)
      .mapGroups { (id, rows) =>
        val bits = new Array[Long](words)
        var card = 0
        rows.foreach { case (_, i) =>
          bits(i >> 6) |= 1L << (i & 63); card += 1
        }
        (id, bits, card)
      }.collect().sortBy(_._1)
    require(docBits.length.toLong * words * 8 < 512L * 1024 * 1024,
      "dense path needs the bitset table to fit a broadcast")
    val bitsB = spark.sparkContext.broadcast(docBits)
    spark.range(docBits.length.toLong).as[Long].mapPartitions { it =>
      val arr = bitsB.value
      it.flatMap { ai =>
        val i = ai.toInt
        val (ida, ba, ca) = arr(i)
        (i + 1 until arr.length).iterator.flatMap { j =>
          val (idb, bb, cb) = arr(j)
          var inter = 0
          var w = 0
          while (w < ba.length) {
            inter += java.lang.Long.bitCount(ba(w) & bb(w)); w += 1
          }
          val jac = inter.toDouble / (ca + cb - inter)
          if (jac >= tau) Some((ida, idb, jac)) else None
        }
      }
    }.toDF("doc_a", "doc_b", "jaccard")
  }

  /** Sparse regime: prefix-filtered candidate join + exact verify.
    *
    * Besides the prefix filter, the candidate join applies PPJoin's
    * two other prunes (Xiao et al., WWW'08) AT GENERATION — i.e. in
    * the join's mapper output, BEFORE the pair stream hits the
    * distinct shuffle, which is where an under-filtered self-join
    * spills at scale (measured: word-BIGRAM Jaccard at tau=0.5 over a
    * 75k-doc corpus overran an 80 GB spill budget on prefix filtering
    * alone — bigram prefixes keep ~half of each doc, so the raw pair
    * stream was the bottleneck, not the verify):
    *  - LENGTH filter: J ≥ tau forces tau·max(|Sa|,|Sb|) ≤ min(...).
    *  - POSITIONAL filter: a match at prefix ranks (i, j) (ranks are
    *    per-doc positions in the GLOBAL (df, shingle) order, so they
    *    are mutually consistent) bounds the overlap by
    *    1 + min(|Sa|−i, |Sb|−j); the pair needs
    *    o ≥ tau/(1+tau)·(|Sa|+|Sb|). Sound per-row: a pair's FIRST
    *    shared prefix shingle carries a valid bound (later common
    *    shingles sit strictly after (i, j) in both docs), and rows
    *    for later shared shingles only ever remove duplicates. The
    *    double comparison errs on the KEEP side only. */
  private def prefixFilteredPairs(sh: DataFrame, tau: Double): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    // global shingle frequency → rarity rank within each document
    val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val ranked = hold(sh.join(freq, "shingle") // both sides of the self-join
      .withColumn("rk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("df").asc, col("shingle").asc)))
      .join(sizes, "doc_id")
      .filter(col("rk") <= col("sz") - ceil(col("sz") * lit(tau)) + 1)
      .select(col("doc_id"), col("shingle"), col("rk"), col("sz")))
    val cand = ranked.as("sa")
      .join(ranked.as("sb"), col("sa.shingle") === col("sb.shingle")
        && col("sa.doc_id") < col("sb.doc_id"))
      .filter(least(col("sa.sz"), col("sb.sz")).cast("double")
        >= lit(tau) * greatest(col("sa.sz"), col("sb.sz")))
      .filter((lit(1L) + least(col("sa.sz") - col("sa.rk"),
          col("sb.sz") - col("sb.rk"))).cast("double")
        >= lit(tau / (1.0 + tau)) * (col("sa.sz") + col("sb.sz")))
      .select(col("sa.doc_id").as("doc_a"), col("sb.doc_id").as("doc_b"))
      .distinct()
    jaccardVerify(cand, sh).filter(col("jaccard") >= tau)
  }

  /** Exact n-gram CONTAINMENT pairs: ordered (doc_a, doc_b) with
    * C(a→b) = |Sa ∩ Sb| / |Sa| ≥ tau and doc_a ≠ doc_b — the
    * asymmetric complement of [[ngramJaccardPairs]]. Containment
    * catches document-inside-document duplication (a page quoted
    * whole inside a longer crawl, concatenated shards) that symmetric
    * Jaccard misses whenever |Sb| ≫ |Sa| drags J below any usable
    * threshold, so it's a distinct dedup mode for web-scale corpora,
    * not a parameter tweak of the Jaccard join.
    *
    * Physical plan (prefix filter, asymmetric form of Xiao et al.'s
    * PPJoin bound): C(a→b) ≥ tau forces a to share at least one of
    * its |Sa| − ⌈tau·|Sa|⌉ + 1 globally RAREST shingles with b, so
    * only that prefix of the probe side enters the candidate join;
    * the indexed side stays whole (containment puts no bound on where
    * the overlap sits in b). Hot shingles are by construction almost
    * never in any prefix, so the join never degenerates into the
    * C(df,2) blowup of a naive inverted index. Candidates then verify
    * with an exact intersection count — the result is exact, the
    * filter only prunes. One shuffle per leg, all keyed on shingle or
    * doc id; nothing quadratic materializes. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, tau: Double): DataFrame = Materialize {
    // ONE globally-df-ranked shingle frame feeds the probe prefix,
    // the indexed side, and both verify legs (the window pass was
    // always paid for the prefix — persisting it WITH ranks makes the
    // positional filter free and retires the former size joins)
    // the raw shingle frame feeds THREE branches of the ranked build
    // (freq, sizes, the main leg) — persist it or the corpus-wide
    // tokenize+explode runs three times inside one materialization
    val sh = hold(wordShingleHashes(docs, idCol, textCol, n))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val ranked = hold(sh.join(freq, "shingle")
      .withColumn("rk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("df").asc, col("shingle").asc)))
      .join(sizes, "doc_id")
      .select(col("doc_id"), col("shingle"), col("rk"), col("sz")))
    val prefix = ranked
      .filter(col("rk") <= col("sz") - ceil(col("sz") * lit(tau)) + 1)
    // Candidate prunes AT GENERATION (before the distinct shuffle —
    // the spill-bearing stage at scale; same rationale as
    // prefixFilteredPairs):
    //  - SIZE: the overlap o is bounded by |Sb| and C(a→b) ≥ tau
    //    needs o/|Sa| ≥ tau, so |Sb|/|Sa| < tau can never verify.
    //    The predicate is the verify filter with o replaced by its
    //    upper bound — same division, same rounding path, so the
    //    prune is monotone-safe (no ceil-vs-division discrepancy).
    //  - POSITIONAL: a match at (rank i in a, rank j in b) bounds
    //    o ≤ 1 + min(|Sa|−i, |Sb|−j). Sound per-row: common shingles
    //    are ordered consistently in both docs (same global (df,
    //    shingle) order), the containment prefix theorem puts the
    //    FIRST common shingle inside a's prefix (b side is whole), so
    //    the pair's first generated row carries a valid bound and
    //    later rows only remove duplicates.
    val cand = prefix.as("sa")
      .join(ranked.as("sb"), col("sa.shingle") === col("sb.shingle")
        && col("sa.doc_id") =!= col("sb.doc_id"))
      .filter(col("sb.sz").cast("double") / col("sa.sz") >= tau)
      .filter((lit(1L) + least(col("sa.sz") - col("sa.rk"),
          col("sb.sz") - col("sb.rk"))).cast("double")
        >= lit(tau) * col("sa.sz"))
      .select(col("sa.doc_id").as("doc_a"), col("sb.doc_id").as("doc_b"),
        col("sa.sz").as("sza"))
      .distinct()
    val inter = cand
      .join(ranked.select(col("doc_id").as("doc_a"), col("shingle")),
        Seq("doc_a"))
      .join(ranked.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"), col("sza"))
      .agg(count(lit(1)).as("i"))
    inter
      .filter(col("i").cast("double") / col("sza") >= tau)
      .select(col("doc_a"), col("doc_b"),
        round(col("i").cast("double") / col("sza"), 6).as("containment"))
  }

  /** Near-duplicate CLUSTERS from a near-dup pair set: connected
    * components over the pair graph, labeled by the component's
    * minimum doc id — which is also the survivor a keep-one-per-
    * cluster policy retains. This is the step that turns pairwise
    * similarity into an actionable training-data dedup decision
    * (transitive closure matters: A~B, B~C must purge to one survivor
    * even when A≁C). Output: (doc_id, cluster_id) for every clustered
    * document.
    *
    * Adaptive physical strategy, like [[ngramJaccardPairs]]: the pair
    * set is orders of magnitude smaller than the corpus (only near-dup
    * docs appear), so when it fits the driver (`driverLimit` pairs,
    * ~32 MB at the default), an exact union-find beats the iterative
    * distributed loop's per-round shuffles; past the limit it falls
    * back to [[Graph.connectedComponents]] min-label propagation. Both
    * paths produce identical labels. */
  def nearDupClusters(pairs: DataFrame,
                      driverLimit: Long = 2000000L): DataFrame = Materialize {
    val spark = pairs.sparkSession
    import spark.implicits._
    val p = hold(pairs.select(col("doc_a").cast("long"),
      col("doc_b").cast("long")))
    if (p.count() <= driverLimit) {
      val edges = p.as[(Long, Long)].collect()
      drop(p) // fully collected
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val verts = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
      verts.toSeq.sorted.map(v => (v, find(v))).toDF("doc_id", "cluster_id")
    } else Graph.connectedComponents(p, "doc_a", "doc_b")
      .select(col("v").as("doc_id"), col("comp").as("cluster_id"))
  }

  /** The ±1 hyperplane matrix is a deterministic constant — sign
    * (b,j,i) = bit 13 of xxhash64(b, j, i) — so it's computed once
    * (same Catalyst XxHash64, bit-identical buckets) instead of
    * re-hashing bands×bits×dim times per row in the expression tree. */
  private def signMatrix(bands: Int, bits: Int,
                         dim: Int): Array[Array[Array[Double]]] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    Array.tabulate(bands, bits, dim) { (b, j, i) =>
      // seed 42L = functions.xxhash64's default, bit-identical buckets
      val h = XxHash64(Seq(Literal(b), Literal(j), Literal(i)), 42L)
        .eval(null).asInstanceOf[Long]
      if (((h >> 13) & 1L) == 1L) 1.0 else -1.0
    }
  }

  /** (vec_id, band, bucket) rows via one typed pass per partition:
    * bands×bits dot products against the constant sign matrix. */
  private def hyperplaneBuckets(v: DataFrame, bands: Int,
                                bitsPerBand: Int): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    v.select(col("vec_id").cast("long"), col("v"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        var m: Array[Array[Array[Double]]] = null
        it.flatMap { case (id, vec) =>
          if (m == null || m(0)(0).length < vec.length)
            m = signMatrix(bands, bitsPerBand, vec.length)
          val arr = vec.toArray
          (0 until bands).iterator.map { b =>
            var bucket = 0L
            var j = 0
            while (j < bitsPerBand) {
              var dot = 0.0
              var i = 0
              while (i < arr.length) { dot += arr(i) * m(b)(j)(i); i += 1 }
              if (dot > 0) bucket |= 1L << j
              j += 1
            }
            (id, b, bucket)
          }
        }
      }.toDF("vec_id", "band", "bk")
  }

  /** Embedding near-duplicates: random-hyperplane LSH buckets (bands of
    * sign bits) generate candidates; exact cosine verifies. For pairs
    * with cosine ≥ tau ≈ 0.98 the per-band miss rate is ≈(θ/π)·bits,
    * so `bands` bands push recall to ~1 while random pairs never
    * collide on all bits of a band. */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                            tau: Double = 0.98, bands: Int = 8,
                            bitsPerBand: Int = 8): DataFrame = Materialize {
    val v = emb.select(col(idCol).as("vec_id"),
      VectorOps.toDoubleVec(col(vecCol)).as("v"))
    // bands×bits dot products per vector — compute once, join twice
    val buckets = hold(hyperplaneBuckets(v, bands, bitsPerBand))
    // dedupe candidate ids first — vectors rejoin after the shuffle
    val cand = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    val cos = VectorOps.nativeCosine(emb.sparkSession)
    cand
      .join(v.as("va"), col("id_a") === col("va.vec_id"))
      .join(v.as("vb"), col("id_b") === col("vb.vec_id"))
      .withColumn("cosine", cos(col("va.v"), col("vb.v")))
      .filter(col("cosine") >= tau)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }
}
