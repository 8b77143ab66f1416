package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.{Engine, Rows}

/** Depth stress for the recursive-CTE fixpoint (r15 verdict task 8).
  * What "holds at depth" means here, each asserted separately:
  *  - correctness: a 150-round single-successor ring closes exactly
  *    (one new node per round — the worst case for the seen-set;
  *    q409's doubling frontier closes in ~log rounds by contrast);
  *  - MEMORY flat: the loop retires superseded seen/frontier blocks
  *    every round, so the persisted-RDD census after 150 rounds is a
  *    small constant, not O(rounds) snapshots;
  *  - plan width constant: per-round planning does not re-widen with
  *    the accumulated set (the pre-r15 except-against-union-of-legs
  *    re-analyzed a D-leg union every round). The absolute per-round
  *    wall still creeps with depth from driver bookkeeping (measured
  *    ~240→900 ms across 500 rounds in one JVM — SCALING §15), so
  *    the wall bound below is generous; the structural claims are
  *    the block census and the round count, not milliseconds;
  *  - the depth cap fails by name and names the knob.
  */
class DeepRecursionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshEngine(): Engine = new Engine(spark,
    java.nio.file.Files.createTempDirectory("graft-deeprec").toString)

  test("150-round ring closes exactly with a constant persisted-block " +
    "census (UNION-distinct, frontier size 1 every round)") {
    val eng = freshEngine()
    eng.script("create scope deepring; use deepring")
    val n = 150  // the 999-round evidence lives in SCALING §15 (RingProbe)
    eng.attachTable("ring", spark.range(0, n).toDF("v")
      .select(col("v").cast("long").as("v")))
    val before = spark.sparkContext.getPersistentRDDs.size
    val t0 = System.nanoTime()
    val df = eng.sql(
      "with recursive reach as (" +
        "  select v from ring where v = 0 " +
        "  union " +
        s"  select r2.v from reach r join ring r2 " +
        s"    on r2.v = (r.v + 1) % $n) " +
        "select count(*) as cnt, sum(v) as s from reach") match {
      case Rows(d) => d
      case other => fail(s"deep ring failed: $other")
    }
    val row = df.collect().head
    val secs = (System.nanoTime() - t0) / 1e9
    assert(row.getLong(0) == n.toLong, s"cnt=${row.getLong(0)}")
    assert(row.getLong(1) == n.toLong * (n - 1) / 2, s"s=${row.getLong(1)}")
    // memory-flat: every round created 2 checkpointed RDDs and
    // retired 2; only the final seen frame + last frontier (and
    // whatever the surrounding session already held) may remain
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 4,
      s"persisted-RDD census grew $before -> $after — the loop is " +
        "leaking round snapshots")
    assert(secs < 600.0, f"$n rounds took $secs%.1f s")
    info(f"$n-round ring closed in $secs%.1f s " +
      f"(${secs * 1000 / n}%.0f ms/round), persisted RDDs " +
      f"$before -> $after")
  }

  // The fixpoint has two tiers — driver-resident rows at or under the
  // broadcastSeenBytes gate, checkpointed legs over it — plus a
  // mid-loop handover when the gate overflows. All three runs must
  // produce identical multisets, with Spark's float semantics: UNION
  // merges -0.0 with 0.0 and NaN with NaN, UNION ALL keeps -0.0.
  test("driver-resident, distributed, and mid-loop-overflow recursion " +
    "paths agree exactly (UNION and UNION ALL)") {
    val eng = freshEngine()
    eng.script("create scope modering; use modering")
    val n = 40
    // two rows per node: (-0.0, 0.0) at even v, (NaN, NaN) at odd v
    eng.attachTable("ring", spark.range(0, n).toDF("v")
      .select(col("v").cast("long").as("v"))
      .crossJoin(spark.range(0, 2).toDF("k"))
      .select(col("v"),
        when(col("v") % 2 === 1, lit(Double.NaN))
          .when(col("k") === 0, lit(-0.0)).otherwise(lit(0.0)).as("z")))
    // rows as strings: boxed-Double equality calls NaN != NaN and
    // -0.0 == 0.0; the returned frame's leaf names the tier
    def run(q: String): (Seq[String], String) = eng.sql(q) match {
      case Rows(d) =>
        (d.collect().toSeq.map(_.toSeq.map(String.valueOf(_)).mkString("|"))
          .sorted,
          d.queryExecution.analyzed.collectLeaves()
            .map(_.getClass.getSimpleName).distinct.mkString(","))
      case other => fail(s"recursion failed: $other")
    }
    val distinctQ =
      "with recursive reach as (" +
        "  select v, z from ring where v = 0 " +
        "  union " +
        s"  select r2.v, r2.z from reach r join ring r2 " +
        s"    on r2.v = (r.v + 1) % $n) " +
        "select v, z from reach"
    val allQ =
      "with recursive steps(v, d, z) as (" +
        "  select v, 0, z from ring where v < 3 " +
        "  union all " +
        "  select v + 1, d + 1, z from steps where d < 5) " +
        "select v, d, z from steps"
    def inMode(bytes: String)(q: String): (Seq[String], String) = {
      spark.conf.set("graft.recursion.broadcastSeenBytes", bytes)
      try run(q)
      finally spark.conf.unset("graft.recursion.broadcastSeenBytes")
    }
    // 480 B overflows both queries mid-loop. UNION keeps one 24 B row
    // (bitset word + two 8 B slots) per round: the 21st, in round 20
    // of 40, crosses. UNION ALL adds six 32 B rows per round: 576 B
    // after round 2 of 5 crosses.
    val (driver, driverTier) = run(distinctQ)       // default gate
    val (dist, distTier) = inMode("0")(distinctQ)   // gate 0: legs only
    val (mid, midTier) = inMode("480")(distinctQ)
    assert(driver == dist, "driver vs distributed mismatch")
    assert(driver == mid, "driver vs mid-loop-overflow mismatch")
    assert(driver == (0 until n)
      .map(v => s"$v|${if (v % 2 == 0) "0.0" else "NaN"}").sorted)
    assert((driverTier, distTier, midTier) ==
      (("LocalRelation", "LogicalRDD", "LogicalRDD")))
    val (driverAll, driverAllTier) = run(allQ)
    val (distAll, distAllTier) = inMode("0")(allQ)
    val (midAll, midAllTier) = inMode("480")(allQ)
    assert(driverAll == distAll, "UNION ALL driver vs distributed")
    assert(driverAll == midAll, "UNION ALL driver vs overflow")
    assert(driverAll.length == 6 * 6)
    assert(driverAll.count(_.endsWith("|-0.0")) == 2 * 6, driverAll)
    assert((driverAllTier, distAllTier, midAllTier) ==
      (("LocalRelation", "LogicalRDD", "LogicalRDD")))
  }

  test("depth cap fails by name and names the knob") {
    val eng = freshEngine()
    eng.script("create scope capring; use capring")
    eng.attachTable("ring", spark.range(0, 60).toDF("v"))
    spark.conf.set("graft.recursion.maxRounds", "50")
    try {
      // the fixpoint runs eagerly inside sql(); the engine surfaces
      // the cap as a failed Status carrying the named message
      eng.sql(
        "with recursive reach as (" +
          "  select v from ring where v = 0 " +
          "  union " +
          "  select r2.v from reach r join ring r2 " +
          "    on r2.v = (r.v + 1) % 60) " +
          "select count(*) as cnt from reach") match {
        case graft.engine.Status(false, msg) =>
          assert(msg.contains("graft.recursion.maxRounds"), msg)
          assert(msg.contains("50"), msg)
        case other => fail(s"expected the depth-cap failure, got $other")
      }
    } finally spark.conf.unset("graft.recursion.maxRounds")
  }

  test("a depth-capped distributed recursion leaves no persisted legs") {
    val eng = freshEngine()
    eng.script("create scope capdist; use capdist")
    eng.attachTable("ring", spark.range(0, 60).toDF("v"))
    spark.conf.set("graft.recursion.maxRounds", "40")
    spark.conf.set("graft.recursion.broadcastSeenBytes", "0")
    // ids, not the count: the cleaner may drop other suites' RDDs meanwhile
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try {
      eng.sql(
        "with recursive reach as (" +
          "  select v from ring where v = 0 " +
          "  union " +
          "  select r2.v from reach r join ring r2 " +
          "    on r2.v = (r.v + 1) % 60) " +
          "select count(*) as cnt from reach") match {
        case graft.engine.Status(false, msg) =>
          assert(msg.contains("graft.recursion.maxRounds"), msg)
        case other => fail(s"expected the depth-cap failure, got $other")
      }
    } finally {
      spark.conf.unset("graft.recursion.maxRounds")
      spark.conf.unset("graft.recursion.broadcastSeenBytes")
    }
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"the failed loop left RDDs ${left.toSeq.sorted} " +
      "persisted")
  }

  // Learning that a base is over the gate must not ship it to the
  // driver: no collect job ships more than the gate, so with
  // spark.driver.maxResultSize far under the base's bytes the loop
  // hands over to the distributed tier instead of aborting the job.
  test("a multi-partition base over the gate goes to the distributed " +
    "tier without shipping its rows to the driver") {
    val eng = freshEngine()
    eng.script("create scope bigbase; use bigbase")
    // 8 partitions of 4000 rows, 136 B each: ~540 KB per partition
    eng.attachTable("big", spark.range(0, 32000, 1, 8).toDF("k")
      .select(col("k"), lit("x" * 100).as("pad")))
    // each new task set reads the limit from the driver's SparkConf
    val conf = org.apache.spark.SparkEnv.get.conf
    val maxResult = "spark.driver.maxResultSize"
    val prevMax = conf.getOption(maxResult)
    conf.set(maxResult, "1m")
    spark.conf.set("graft.recursion.broadcastSeenBytes", (2L << 20).toString)
    try {
      eng.sql(
        "with recursive r(k, pad, d) as (" +
          "  select k, pad, 0 from big " +
          "  union all " +
          "  select k, pad, d + 1 from r where d < 1) " +
          "select count(*) as cnt, sum(d) as s from r") match {
        case Rows(d) =>
          assert(d.queryExecution.analyzed.collectLeaves()
            .exists(_.getClass.getSimpleName == "LogicalRDD"))
          val row = d.collect().head
          assert((row.getLong(0), row.getLong(1)) == ((64000L, 32000L)))
        case other => fail(s"recursion failed: $other")
      }
    } finally {
      prevMax.fold(conf.remove(maxResult))(conf.set(maxResult, _))
      spark.conf.unset("graft.recursion.broadcastSeenBytes")
    }
  }

  // DuckDB types a recursive CTE by its base term and casts the
  // recursive term to it, rounding a fractional value into an integral
  // column: half to even from a double, half away from zero from a
  // decimal. The expected sequences are DuckDB 1.0's answers.
  test("the recursive term is cast to the base term's types, " +
    "rounding as DuckDB does") {
    val eng = freshEngine()
    eng.script("create scope castrec; use castrec")
    eng.attachTable("one", spark.range(0, 1).select(
      lit(1L).as("n"), lit(1).as("i"),
      lit(BigDecimal("1.5")).cast("decimal(2,1)").as("f")))
    // column n ordered by depth d, from both tiers
    def both(q: String): Seq[Any] = {
      def run(): Seq[Any] = eng.sql(q) match {
        case Rows(d) =>
          d.collect().toSeq.sortBy(_.getLong(1)).map(_.get(0))
        case other => fail(s"recursion failed: $other")
      }
      val driver = run()
      spark.conf.set("graft.recursion.broadcastSeenBytes", "0")
      try assert(run() == driver, "driver vs distributed tier")
      finally spark.conf.unset("graft.recursion.broadcastSeenBytes")
      driver
    }
    // long base, double step: 1.5 -> 2, 4.5 -> 4
    val dbl = both(
      "with recursive t(n, d) as (" +
        "  select n, 0 from one " +
        "  union all " +
        "  select n * 1.5, d + 1 from t where d < 4) " +
        "select n, d from t")
    assert(dbl == Seq(1L, 2L, 3L, 4L, 6L), dbl)
    // long base, decimal step: 1.5 -> 2, 4.5 -> 5
    val dec = both(
      "with recursive t(n, d) as (" +
        "  select n, 0 from one " +
        "  union all " +
        "  select t.n * o.f, t.d + 1 from t join one o on o.i = 1 " +
        "    where t.d < 4) " +
        "select n, d from t")
    assert(dec == Seq(1L, 2L, 3L, 5L, 8L), dec)
    assert((dbl ++ dec).forall(_.isInstanceOf[java.lang.Long]))
    // int base, long step: the column stays int
    val ints = both(
      "with recursive t(i, d) as (" +
        "  select i, 0 from one " +
        "  union all " +
        "  select i + 2, d + 1 from t where d < 2) " +
        "select i, d from t")
    assert(ints == Seq(1, 3, 5), ints)
    assert(ints.forall(_.isInstanceOf[java.lang.Integer]), ints)
  }

  test("UNION ALL recursion carries a map column in both tiers") {
    val eng = freshEngine()
    eng.script("create scope maprec; use maprec")
    eng.attachTable("mt", spark.range(0, 3).toDF("v")
      .select(col("v"), map(lit("k"), col("v").cast("double")).as("m")))
    val q =
      "with recursive s(v, m, d) as (" +
        "  select v, m, 0 from mt " +
        "  union all " +
        "  select v, m, d + 1 from s where d < 2) " +
        "select v, m, d from s"
    def run(): Seq[String] = eng.sql(q) match {
      case Rows(d) => d.collect().toSeq.map { r =>
        val m = r.getMap[String, Double](1)("k")
        s"${r.getLong(0)}|$m|${r.getLong(2)}"
      }.sorted
      case other => fail(s"recursion failed: $other")
    }
    val driver = run()
    assert(driver ==
      (for (v <- 0 until 3; d <- 0 until 3) yield s"$v|${v.toDouble}|$d")
        .sorted)
    spark.conf.set("graft.recursion.broadcastSeenBytes", "0")
    try assert(run() == driver, "driver vs distributed tier")
    finally spark.conf.unset("graft.recursion.broadcastSeenBytes")
  }
}
