package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "the quick brown fox jumps over the lazy dog tonight"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog tonight again and again"), // near-dup of 1
    (4L, "completely different content about spark query engines and shuffles"),
    (5L, "another unrelated document mentioning parquet files and columnar io")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id and counts copies") {
    val got = Dedup.exact(docs, "doc_id", "text")
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got(1L) == 2L) // docs 1,2 collapse, survivor 1
    assert(got.size == 4)
    assert(got.values.sum == 5L)
  }

  test("word shingles are distinct n-grams") {
    val sh = Dedup.wordShingles(docs.filter($"doc_id" === 1), "doc_id",
      "text", 3).collect().map(_.getString(1))
    assert(sh.length == 8) // 10 words → 8 trigrams, all distinct here
    assert(sh.contains("the quick brown"))
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        shingleN = 3, k = 32, bands = 16, tau = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L))) // near
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("cross-set pairs = full pairs restricted to base × incoming") {
    // salt an "incoming batch": mutated copies of docs 1 and 4
    val corpus = docs.unionAll(docs.filter($"doc_id" isin (1L, 4L))
      .select(($"doc_id" + 100L).as("doc_id"),
        concat($"text", lit(" xq")).as("text")))
    val full = Dedup.minhashNearDupPairs(corpus, "doc_id", "text",
        shingleN = 3, k = 32, bands = 16, tau = 0.4)
      .filter($"doc_a" < 100L && $"doc_b" >= 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    val cross = Dedup.minhashNearDupPairsCross(corpus, "doc_id", "text",
        incomingPred = $"doc_id" >= 100L,
        shingleN = 3, k = 32, bands = 16, tau = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    assert(cross == full)
    assert(cross.exists { case (a, b, _) => a == 1L && b == 101L })
    // base-base near-dups (1,2,3 family) must NOT appear
    assert(cross.forall { case (a, b, _) => a < 100L && b >= 100L })
  }

  test("identical docs have identical simhash; near-dups low hamming") {
    val sh = Dedup.simHash(
      Dedup.wordShingles(docs, "doc_id", "text", 3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    val hamming13 = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    val hamming14 = java.lang.Long.bitCount(sh(1L) ^ sh(4L))
    assert(hamming13 < hamming14)
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
      shingleN = 3, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    // md5Hash60 variant (the oracle-verifiable family q43 ships) finds
    // the same pair set on this corpus as the xxhash64 production path
    val pairsMd5 = Dedup.simhashNearDupPairsFrom(
      Dedup.wordShingles(docs, "doc_id", "text", 3)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          Dedup.md5Hash60(org.apache.spark.sql.functions.col("shingle"))
            .as("shingle")),
      maxHamming = 3, bits = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsMd5 == pairs, s"md5=$pairsMd5 xx=$pairs")
  }

  test("containment pairs are asymmetric and exact") {
    // doc 1's trigram set (8 shingles) is fully inside doc 3's
    // (13 words → 11 distinct trigrams), so C(1→3) = 1.0; the reverse
    // direction is 8/11 ≈ 0.727 and must NOT appear at tau = 0.9.
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
        n = 3, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(got((1L, 2L)) == 1.0 && got((2L, 1L)) == 1.0) // identical docs
    assert(got((1L, 3L)) == 1.0 && got((2L, 3L)) == 1.0) // 1 ⊂ 3
    assert(!got.contains((3L, 1L))) // 3's extra shingles: C(3→1) < 0.9
    assert(!got.keys.exists(p => p._1 == 4L || p._2 == 4L))
    // exact value check: C(3→1) = 8/11 — below tau, so absent; verify
    // via a lower threshold run
    val loose = Dedup.containmentPairs(docs, "doc_id", "text",
        n = 3, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(math.abs(loose((3L, 1L)) - 8.0 / 11.0) < 1e-6)
  }

  test("containment pairs match brute force on random corpora") {
    val rnd = new scala.util.Random(17)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val corpus = (0L until 24L).map { i =>
      (i, Seq.fill(4 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    val n = 2
    def shingles(t: String): Set[String] = {
      val w = t.split(" ")
      if (w.length < n) Set.empty
      else w.sliding(n).map(_.mkString(" ")).toSet
    }
    val tau = 0.6
    val expected = (for {
      (ia, ta) <- corpus; (ib, tb) <- corpus if ia != ib
      sa = shingles(ta); sb = shingles(tb) if sa.nonEmpty
      c = (sa & sb).size.toDouble / sa.size if c >= tau
    } yield (ia, ib) -> math.rint(c * 1e6) / 1e6).toMap
    val got = Dedup.containmentPairs(corpus.toSeq.toDF("doc_id", "text"),
        "doc_id", "text", n, tau)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-9) }
  }

  test("ngram jaccard computes exact similarity") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(pairs((1L, 2L)) == 1.0)
    // doc3 = doc1 + 3 words: 9 distinct bigrams vs 12, inter 9 → 0.75
    assert(math.abs(pairs((1L, 3L)) - 0.75) < 1e-9)
    assert(!pairs.contains((4L, 5L)))
  }

  test("small-vocab corpus over the bitset budget degrades to the " +
      "sparse path with identical pairs") {
    // vocab is tiny (dense-eligible on the vocab test alone), but a
    // 1-byte broadcast budget forces the regime probe to route the
    // corpus through prefixFilteredPairs — it must not error (the old
    // hard `require`) and must produce the dense path's exact result.
    def run(budget: Long) = Dedup.ngramJaccardPairs(docs, "doc_id",
        "text", 2, 0.3, denseBudgetBytes = budget)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    val dense = run(512L * 1024 * 1024)
    val sparse = run(1L)
    assert(sparse.keySet == dense.keySet)
    dense.foreach { case (k, v) => assert(math.abs(sparse(k) - v) < 1e-9) }
  }

  test("embedding near-dup pairs via hyperplane LSH + exact cosine") {
    val base = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(16) { j => // deterministic hash-mixed
        val h = scala.util.hashing.MurmurHash3.productHash((i, j))
        (h % 1000) / 1000.0
      })
    }
    val emb = (base ++ Seq((100L, base(3)._2.updated(0,
      base(3)._2(0) * 1.1)))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
      tau = 0.98, bands = 16, bitsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((3L, 100L)))
    assert(pairs.size == 1)
  }

  test("LSH recall is 100% on the fixture corpus (oracle coupling guard)") {
    // q42/q113/q153/q168 compare MinHash-LSH (probabilistic recall,
    // 16 bands × 2 rows) against EXACT all-pairs Jaccard oracles. That
    // equality is a property of THIS fixture (mutation pairs sit at
    // J≈0.9, far above the 16×2 S-curve's 0.5 midpoint), not of LSH
    // itself. This test pins the property: if a future fixture change
    // plants a J≥0.5 pair that every band misses, it fails HERE with a
    // clear message instead of as a nondeterministic-looking oracle
    // hash mismatch in the driver gate.
    val base = Tables.documents(spark, TestSpark.sfDir)
      .select($"doc_id", $"text")
    val corpus = base.unionAll(base.filter($"doc_id" % 2 === 0).select(
      ($"doc_id" + 10000L).as("doc_id"),
      concat($"text", lit(" zq0 zq1 zq2")).as("text")))
    val lsh = Dedup.minhashNearDupPairs(corpus, "doc_id", "text",
        shingleN = 3, k = 32, bands = 16, tau = 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        n = 3, tau = 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = exact -- lsh
    assert(missed.isEmpty,
      s"LSH missed ${missed.size} true pairs (e.g. ${missed.take(3)}) — " +
        "fixture no longer guarantees 100% LSH recall; q42/q113/q153/" +
        "q168 oracles will hash-mismatch nondeterministically")
    assert(lsh == exact) // verified pairs carry no false positives
  }

  test("streamNearDupScreen runs unchanged under readStream (batch parity)") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val incoming = Seq(
      // near-dup of docs 1/2 (shares their shingle set + extras)
      (101L, "the quick brown fox jumps over the lazy dog tonight " +
        "extra words here"),
      (102L, "totally novel text with no overlap whatsoever in any shingle"))
    def screen(inc: org.apache.spark.sql.DataFrame) =
      Dedup.streamNearDupScreen(inc, docs, "doc_id", "text",
        shingleN = 3, k = 8, bands = 4, tau = 0.5)
    val input = MemoryStream[(Long, String)]
    val q = screen(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("nds_par")
      .outputMode("append").start()
    try {
      input.addData(incoming.take(1): _*)
      q.processAllAvailable()
      input.addData(incoming.drop(1): _*)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val got = spark.table("nds_par").collect().map(key).toSet
      val want = screen(incoming.toDF("doc_id", "text"))
        .collect().map(key).toSet
      assert(got == want && got.nonEmpty)
      // the planted near-dup hits both identical base docs; the novel
      // doc hits nothing
      assert(got.exists(p => p._1 == 101L && p._2 == 1L))
      assert(got.exists(p => p._1 == 101L && p._2 == 2L))
      assert(!got.exists(_._1 == 102L))
      // ZERO-STATE contract: re-ingesting a doc in a later batch must
      // re-emit its pairs (a stateful cross-batch dedup would
      // suppress them — and grow its store forever)
      val before = spark.table("nds_par").collect()
        .count(r => r.getLong(0) == 101L)
      input.addData(incoming.take(1): _*)
      q.processAllAvailable()
      val after = spark.table("nds_par").collect()
        .count(r => r.getLong(0) == 101L)
      assert(after == 2 * before,
        s"re-sent doc must re-emit: before=$before after=$after")
    } finally q.stop()
  }

  test("streamNearDupScreen soak: 100 micro-batches, zero state, flat latency") {
    // The screen's scale contract is ZERO streaming state (row-local
    // band projection + stream-static join): a hidden stateful
    // operator would grow its store monotonically over a long-running
    // ingest and eventually OOM the cluster. Soak 100 micro-batches
    // and read the engine's own telemetry: no stateOperators entry may
    // ever appear, the Spark jobs and tasks each batch runs must not
    // trend upward, and no batch may leave a persisted RDD behind.
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.scheduler.{SparkListener,
      SparkListenerJobStart, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    // jobs and tasks per micro-batch, keyed by the batch id the stream
    // execution sets on every job it runs
    val jobsOf = scala.collection.concurrent.TrieMap.empty[Long, Int]
    val tasksOf = scala.collection.concurrent.TrieMap.empty[Long, Int]
    val batchOfStage = scala.collection.concurrent.TrieMap.empty[Int, Long]
    def bump(m: scala.collection.concurrent.TrieMap[Long, Int],
             b: Long): Unit = m.synchronized {
      m(b) = m.getOrElse(b, 0) + 1
    }
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p =>
            Option(p.getProperty("streaming.sql.batchId")))
          .map(_.toLong).foreach { b =>
            bump(jobsOf, b)
            j.stageIds.foreach(batchOfStage.put(_, b))
          }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        batchOfStage.get(t.stageId).foreach(bump(tasksOf, _))
    }
    // listener events arrive asynchronously: drain the bus before
    // reading the counts (the bus is Spark-private, hence reflection)
    def drainBus(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    val persistedBefore = sc.getPersistentRDDs.keySet
    def persistedNow = sc.getPersistentRDDs.keySet -- persistedBefore
    var persistedAt10 = Set.empty[Int]
    sc.addSparkListener(listener)
    val input = MemoryStream[(Long, String)]
    val q = Dedup.streamNearDupScreen(
        input.toDF().toDF("doc_id", "text"), docs, "doc_id", "text",
        shingleN = 3, k = 8, bands = 4, tau = 0.5)
      .writeStream.format("memory").queryName("nds_soak")
      .outputMode("append").start()
    var progressChecked = 0
    try {
      (1 to 100).foreach { i =>
        // alternate a near-dup hit and a novel doc so every batch
        // exercises both the match and no-match paths
        val doc =
          if (i % 2 == 0)
            (1000L + i, "the quick brown fox jumps over the lazy dog " +
              s"tonight extra words $i")
          else (1000L + i, s"totally novel text number $i with no " +
            "overlap whatsoever in any shingle")
        input.addData(doc)
        q.processAllAvailable()
        if (i == 10) persistedAt10 = persistedNow.toSet
        val p = q.lastProgress
        if (p != null) {
          progressChecked += 1
          assert(p.stateOperators.isEmpty ||
            p.stateOperators.forall(s => s.numRowsTotal == 0),
            s"batch $i grew streaming state: ${p.json}")
        }
      }
      // the zero-state claim must be checked BY NUMBER on most
      // batches, not vacuously true because progress never surfaced
      assert(progressChecked >= 50,
        s"only $progressChecked/100 batches exposed progress telemetry")
      // every soak batch with a hit produced rows; novel ones didn't
      val hits = spark.table("nds_soak").collect()
      assert(hits.nonEmpty && hits.forall(_.getLong(0) % 2 == 0))
      // flat work per batch: state growth or a leaked per-batch
      // materialization shows up as more jobs or tasks in later
      // batches, so the last third's maximum may not exceed the first
      // third's (counts, not wall clock: a loaded box cannot flake it).
      // The first batches also build the static index once; the
      // reference window starts after them, so it holds steady-state
      // batches only.
      drainBus()
      val batches = jobsOf.keys.toSeq.sorted
      assert(batches.length >= 99,
        s"only ${batches.length} batches ran jobs")
      val third = batches.length / 3
      val warmUp = 5
      def maxOver(m: scala.collection.concurrent.TrieMap[Long, Int],
                  bs: Seq[Long]): Int = bs.map(m.getOrElse(_, 0)).max
      val (ref, last) =
        (batches.slice(warmUp, third), batches.takeRight(third))
      def window(bs: Seq[Long]) = s"batches ${bs.head}-${bs.last}"
      info(s"per-batch maxima, ${window(batches.take(warmUp))} / " +
        s"${window(ref)} / ${window(last)}: jobs " +
        Seq(batches.take(warmUp), ref, last).map(maxOver(jobsOf, _))
          .mkString(" / ") + ", tasks " +
        Seq(batches.take(warmUp), ref, last).map(maxOver(tasksOf, _))
          .mkString(" / "))
      assert(maxOver(jobsOf, last) <= maxOver(jobsOf, ref),
        "jobs per batch trend upward")
      assert(maxOver(tasksOf, last) <= maxOver(tasksOf, ref),
        "tasks per batch trend upward")
      // the static index stays persisted for the stream's lifetime;
      // nothing else may join it
      assert(persistedNow.toSet == persistedAt10,
        s"persisted RDDs at batch 10 $persistedAt10, at batch 100 " +
          s"${persistedNow.toSet}")
    } finally { q.stop(); sc.removeSparkListener(listener) }
  }

  test("nearDupClusters: union-find and distributed paths agree") {
    // chain 1-2-3-4 (transitive), pair 10-11, self-contained 20-21-22
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("doc_a", "doc_b")
    val small = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val big = Dedup.nearDupClusters(pairs, driverLimit = 0) // force loop
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(small == big)
    assert(Seq(1L, 2L, 3L, 4L).forall(small(_) == 1L)) // transitive
    assert(small(11L) == 10L && small(22L) == 20L)
  }
}
