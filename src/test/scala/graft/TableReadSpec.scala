package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkException
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  BroadcastQueryStageExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine._
import graft.functions.NowFunctions

/** How the engine reads a catalog table: schema from the catalog, day
  * directories of a stamped edge chosen from the statement's stamp
  * window on the driver, one resolution per statement, and cursors that
  * page without a cache and destroy their broadcasts when they close.
  * Answers are checked against the same statement over an attached
  * frame, which the engine never prunes. */
class TableReadSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  lazy val root = Files.createTempDirectory("graft-tableread").toString
  lazy val eng = new Engine(spark, root, cursorPageSize = 3)

  private val nsPerDay = 86400L * 1000000000L
  private val day0 = java.time.LocalDate.parse("2024-01-01").toEpochDay
  private val days = 40

  private def ok(r: Result): Unit = r match {
    case Status(true, _) | Report(_, _) | Rows(_) =>
    case Status(false, m) => fail(s"statement failed: $m")
    case other => fail(s"unexpected $other")
  }
  private def frame(r: Result) = r match {
    case Rows(df) => df
    case other => fail(s"expected rows, got $other")
  }
  private def rows(stmt: String): Seq[Row] =
    frame(eng.sql(stmt)).collect().toSeq

  /** 40 days of edges: per day one row exactly at midnight, one 1 ns
    * after it, one at noon and one 1 ns before the next midnight; plus
    * two rows with a null stamp. Mounted as `raw` and copied into the
    * stamped edge `e`. */
  private lazy val scope = {
    ok(eng.sql("create scope tr"))
    ok(eng.sql("use tr"))
    ok(eng.sql("create type v (id uint pk, seg text)"))
    ok(eng.sql("create edge e (origin v origin, destin v destin, " +
      "stamp time stamp, qty int)"))
    val offsets = Seq(0L, 1L, nsPerDay / 2, nsPerDay - 1)
    val n = days * offsets.size
    val raw = spark.range(n).select(
      (col("id") % 5 + 1).as("origin"),
      (col("id") % 4).as("destin"),
      (lit(day0 * nsPerDay) + (col("id") / 4).cast("long") * nsPerDay +
        element_at(typedLit(offsets), (col("id") % 4 + 1).cast("int")))
        .as("stamp"),
      col("id").as("qty"))
      .union(spark.range(2).select(lit(1L).as("origin"), lit(0L).as("destin"),
        lit(null).cast("long").as("stamp"), (col("id") + 1000).as("qty")))
    eng.attachTable("raw", raw, timeCols = Set("stamp"))
    ok(eng.sql("insert into e (origin, destin, stamp, qty) " +
      "select origin, destin, stamp, qty from raw"))
    (1 to 5).foreach(i =>
      ok(eng.sql(s"insert into v (id, seg) ($i, '${if (i % 2 == 0) "even" else "odd"}')")))
    eng.attachTable("vraw", frame(eng.sql("select id, seg from v")))
    "tr"
  }

  /** Runs `body` and counts, by SparkListener, the Spark jobs it
    * started and the shuffle-map stages that ran (stages writing
    * shuffle records). The listener bus is asynchronous, so a marker
    * job is run afterwards and awaited: every event of `body` is
    * delivered before the marker's. */
  private def sparkWork[A](body: => A): (A, Int, Int) = {
    val marker = s"graft-marker-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val mapStages = new AtomicInteger
    val seen = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.job.description") == marker)) seen.countDown()
        else jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.taskMetrics != null &&
            e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
          mapStages.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seen.await(60, TimeUnit.SECONDS), "marker job never reported")
      (out, jobs.get, mapStages.get)
    } finally sc.removeSparkListener(l)
  }

  private def day(d: Int): String =
    java.time.LocalDate.ofEpochDay(day0 + d).toString

  test("building a SELECT over a window of 31 days or less runs no Spark job") {
    scope
    val window = s"stamp >= '${day(3)}' and stamp < '${day(33)}'"
    Seq(
      s"select count(*), sum(qty) from e where $window",
      s"select count(*), sum(qty) from e join v on origin where seg = 'odd' and $window",
      s"select origin, destin, stamp, qty from e where $window"
    ).foreach { stmt =>
      val (r, jobs, _) = sparkWork(eng.sql(stmt))
      frame(r)
      assert(jobs == 0, s"$jobs Spark job(s) while building: $stmt")
    }
  }

  test("building a SELECT over more than 32 day directories or data " +
    "files runs no Spark job and answers right") {
    scope
    def built(stmt: String): DataFrame = {
      val (r, jobs, _) = sparkWork(eng.sql(stmt))
      assert(jobs == 0, s"$jobs Spark job(s) while building: $stmt")
      frame(r)
    }
    // a 63-day window over the 40 days of `e`
    val tables = java.nio.file.Paths.get(root, scope, "tables")
    val dayDirs = Files.list(tables.resolve("e")).toArray
      .map(_.asInstanceOf[Path].getFileName.toString)
      .count(n => n.startsWith("stamp_date=") && !n.contains("DEFAULT"))
    assert(dayDirs > 32, s"$dayDirs day directories")
    val q = "select count(*), sum(qty), min(stamp), max(stamp) from %s " +
      s"where stamp >= '${day(-12)}' and stamp < '${day(51)}'"
    assert(built(q.format("e")).collect().toSeq == rows(q.format("raw")))
    assert(rows(q.format("raw")).head.getLong(0) == days * 4)
    // a vertex type of 40 separate appends, one data file each
    ok(eng.sql("create type w (id uint pk, name text)"))
    (1 to 40).foreach(i => ok(eng.sql(s"insert into w (id, name) ($i, 'n$i')")))
    val files = Files.walk(tables.resolve("w")).toArray
      .map(_.asInstanceOf[Path])
      .count(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith(".") &&
        !p.getFileName.toString.startsWith("_"))
    assert(files >= 40, s"$files data files")
    eng.attachTable("wraw", spark.range(1, 41).select(col("id"),
      concat(lit("n"), col("id")).as("name")))
    val v = "select count(*), sum(id), min(name), max(name) from %s"
    assert(built(v.format("w")).collect().toSeq == rows(v.format("wraw")))
  }

  test("pruned answers equal unpruned ones at day boundaries") {
    scope
    val d = s"${day(10)}"
    val e = s"${day(20)}T00:00:00"
    val preds = Seq(
      s"stamp >= '$d'", s"stamp > '$d'", s"stamp <= '$d'", s"stamp < '$d'",
      s"stamp = '$d'", s"'$d' <= stamp", s"'$d' > stamp",
      s"stamp >= '$d' and stamp < '$e'", s"stamp > '$d' and stamp <= '$e'",
      s"stamp >= '${day(10)}T23:59:59.999999999' and stamp <= '$e'",
      s"stamp >= '${day(-5)}' and stamp < '${day(2)}'",
      s"stamp > '${day(38)}'", s"stamp < '${day(45)}'",
      // empty window: no day directory is read
      s"stamp >= '$e' and stamp < '$d'",
      // a disjunction does not prune
      s"stamp < '$d' or stamp > '$e'")
    preds.foreach { p =>
      val q = s"select count(*), sum(qty), min(stamp), max(stamp) from %s where $p"
      assert(rows(q.format("e")) == rows(q.format("raw")), p)
    }
    // no window: every day and the null stamps' default partition
    val all = "select count(*), count(stamp), sum(qty) from %s"
    assert(rows(all.format("e")) == rows(all.format("raw")))
    assert(rows(all.format("e")).head.getLong(0) == days * 4 + 2)
    // the window is the FROM table's: a stamp bound qualified with
    // another alias does not prune it
    val joined = "select count(*), sum(a.qty) from %1$s a join %1$s b " +
      s"on a.origin = b.origin where b.stamp >= '$e'"
    assert(rows(joined.format("e")) == rows(joined.format("raw")))
  }

  test("an edge table self-joined in one statement answers right") {
    scope
    val q = "select count(*), sum(a.qty), sum(b.qty) from %1$s a join %1$s b " +
      s"on a.origin = b.origin where a.stamp >= '${day(5)}' " +
      s"and a.stamp < '${day(9)}' and b.stamp < '${day(3)}'"
    val got = rows(q.format("e"))
    assert(got == rows(q.format("raw")))
    assert(got.head.getLong(0) > 0)
    val window = s"stamp >= '${day(1)}' and stamp < '${day(31)}'"
    val edgeJoin = rows("select count(*), sum(qty) from e join v on origin " +
      s"where seg = 'even' and $window")
    assert(edgeJoin == rows("select count(*), sum(qty) from raw a join vraw c " +
      s"on a.origin = c.id where c.seg = 'even' and a.$window"))
    assert(edgeJoin.head.getLong(0) > 0)
  }

  test("a shuffle-bearing cursor runs its shuffle once and caches nothing") {
    scope
    val sc = spark.sparkContext
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val prior = spark.conf.getOption(coalesce)
    // keep the 4 shuffle partitions apart, so the cursor pages through
    // several partition jobs over the one shuffle
    spark.conf.set(coalesce, "false")
    try {
      val before = sc.getPersistentRDDs.keySet
      val stmt = "select origin, destin, count(*) from e group by origin, destin"
      val (pages, jobs, mapStages) = sparkWork {
        val cur = eng.openCursor(frame(eng.sql(stmt)))
        var n = 0
        var more = true
        while (more) more = eng.sql(s"fetch $cur") match {
          case Batch(rs, _, m) => n += 1; assert(rs.nonEmpty || !m); m
          case other => fail(s"$other")
        }
        n
      }
      assert(pages >= 3, s"only $pages pages")
      assert(jobs >= 2, s"$jobs jobs: the cursor did not page by partition")
      assert(mapStages == 1, s"shuffle-map stage ran $mapStages times")
      assert(sc.getPersistentRDDs.keySet == before,
        "exhaustion must leave no persisted RDD")
      val cur = eng.openCursor(frame(eng.sql(stmt)))
      eng.sql(s"fetch $cur") match {
        case Batch(_, _, more) => assert(more)
        case other => fail(s"$other")
      }
      ok(eng.sql(s"close $cur"))
      assert(sc.getPersistentRDDs.keySet == before,
        "CLOSE must leave no persisted RDD")
    } finally prior.fold(spark.conf.unset(coalesce))(spark.conf.set(coalesce, _))
  }

  /** The broadcasts that running `df`'s adaptive plan built. */
  private def broadcastsOf(df: DataFrame): Seq[Broadcast[_]] = {
    def of(p: SparkPlan): Seq[Broadcast[_]] = p.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => of(a.executedPlan)
      case s: BroadcastQueryStageExec if s.isMaterialized =>
        Seq(s.broadcast.relationFuture.get())
      case s: QueryStageExec => of(s.plan)
    }.flatten
    of(df.queryExecution.executedPlan)
  }

  test("a joined cursor destroys its broadcasts when it closes") {
    scope
    val stmt = "select origin, destin, stamp, seg from e join v on origin " +
      s"where stamp < '${day(20)}'"
    def fetchOne(cur: Long): Boolean = eng.sql(s"fetch $cur") match {
      case Batch(_, _, more) => more
      case other => fail(s"$other")
    }
    // by exhaustion and by CLOSE mid-stream
    Seq(true, false).foreach { exhaust =>
      val df = frame(eng.sql(stmt))
      val cur = eng.openCursor(df)
      assert(fetchOne(cur))
      val built = broadcastsOf(df)
      assert(built.nonEmpty, "the edge-vertex join built no broadcast")
      built.foreach(_.value) // usable while the cursor is open
      if (exhaust) while (fetchOne(cur)) {}
      else ok(eng.sql(s"close $cur"))
      built.foreach(b => intercept[SparkException](b.value))
    }
  }

  /** Copy `dir`'s non-hidden entries into `dir/v1`: what the first
    * copy-on-write rewrite of the unversioned layout leaves beside the
    * live files before it flips `_version`. */
  private def halfWrittenV1(dir: Path): Unit = {
    val v1 = dir.resolve("v1")
    Files.createDirectories(v1)
    Files.walk(dir).toArray.map(_.asInstanceOf[Path])
      .filterNot(p => p == dir || p.startsWith(v1))
      .filterNot(p => dir.relativize(p).toString.startsWith("_"))
      .foreach { p =>
        val to = v1.resolve(dir.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(to)
        else Files.copy(p, to)
      }
  }

  test("a half-written v1/ beside the unversioned files is not read") {
    val r = Files.createTempDirectory("graft-v1").toString
    val e2 = new Engine(spark, r)
    ok(e2.sql("create scope s1"))
    ok(e2.sql("use s1"))
    ok(e2.sql("create type t (id uint pk, name text)"))
    ok(e2.sql("create edge f (origin t origin, destin t destin, " +
      "stamp time stamp, w int)"))
    (1 to 3).foreach(i => ok(e2.sql(s"insert into t (id, name) ($i, 'n$i')")))
    (1 to 4).foreach(i => ok(e2.sql(
      s"insert into f (origin, destin, stamp, w) (1, 2, '2024-02-0${i}T08:00:00', $i)")))
    val tables = java.nio.file.Paths.get(r, "s1", "tables")
    halfWrittenV1(tables.resolve("t"))
    halfWrittenV1(tables.resolve("f"))
    def one(stmt: String): Row = e2.sql(stmt) match {
      case Rows(df) => df.collect().head
      case other => fail(s"$stmt: $other")
    }
    assert(one("select count(*), sum(id) from t") == Row(3L, 6L))
    assert(one("select count(*), sum(w) from f") == Row(4L, 10L))
    assert(one("select count(*) from f where stamp >= '2024-02-02'") == Row(3L))
  }

  test("stamp days are UTC whatever the session time zone") {
    val tz = "spark.sql.session.timeZone"
    val prior = spark.conf.get(tz)
    // under UTC the arithmetic day equals the old to_date key
    val probe = spark.range(-3, 4).select(
      (col("id") * lit(nsPerDay / 2) - lit(1L)).as("s"))
      .union(spark.range(1).select(lit(1700000000123456789L).as("s")))
    assert(probe.filter(NowFunctions.stampDay(col("s")) =!=
      to_date(NowFunctions.stampToTs(col("s")))).count() == 0)
    val r = Files.createTempDirectory("graft-tz").toString
    val e2 = new Engine(spark, r)
    spark.conf.set(tz, "America/Los_Angeles")
    try {
      ok(e2.sql("create scope z"))
      ok(e2.sql("use z"))
      ok(e2.sql("create type t (id uint pk)"))
      ok(e2.sql("create edge f (origin t origin, destin t destin, " +
        "stamp time stamp, w int)"))
      Seq("2024-03-01T23:30:00", "2024-03-02T00:30:00", "2024-03-02T07:59:59")
        .zipWithIndex.foreach { case (s, i) => ok(e2.sql(
          s"insert into f (origin, destin, stamp, w) (1, 1, '$s', $i)")) }
      val dirs = Files.list(java.nio.file.Paths.get(r, "z", "tables", "f"))
        .toArray.map(_.asInstanceOf[Path].getFileName.toString)
        .filter(_.startsWith("stamp_date=")).sorted.toSeq
      assert(dirs == Seq("stamp_date=2024-03-01", "stamp_date=2024-03-02"))
      def count(w: String): Long = e2.sql(s"select count(*) from f where $w") match {
        case Rows(df) => df.collect().head.getLong(0)
        case other => fail(s"$other")
      }
      assert(count("stamp >= '2024-03-02'") == 2)
      assert(count("stamp < '2024-03-02'") == 1)
      assert(count("stamp >= '2024-03-01T23:00:00' and stamp <= '2024-03-02T00:45:00'") == 2)
    } finally spark.conf.set(tz, prior)
  }
}
