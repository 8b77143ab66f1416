package clientbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.{Batch, Engine, Report, Rows, Server, Status}

/** One benchmark op, as written by gen.py: `kind\targ\tstatement\texpect`. */
final case class Op(stream: String, idx: Int, kind: String, arg: String,
                    stmt: String, expect: String) {
  def readOnly: Boolean = Set("point", "range", "export")(kind)
}

/** What one op cost and whether its answer was right. */
final case class Sample(op: Op, pass: String, start: Long, end: Long,
                        ok: Boolean, err: String, rows: Long, bytes: Long,
                        fetches: Int)

/** The load generator: starts Spark and an in-process
  * `graft.engine.Server`, builds the retail scope from the generated
  * CSVs, then drives the op streams over the wire.
  *
  * Timed run: one closed-loop client thread per stream, for `seconds`.
  * Traced run (`--trace 1`): the same streams replayed one statement at a
  * time, with spans around each layer call and Spark's listener events.
  *
  * Usage: LoadGen --input DIR --out DIR --seconds N --trace 0|1 --cores C
  * Writes `samples.tsv`, `result.properties` and (traced) `spans.tsv`
  * into the out dir.
  */
object LoadGen {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val input = Paths.get(args("input")).toAbsolutePath
    val out = Paths.get(args("out")).toAbsolutePath
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cores = args("cores").toInt
    new LoadGen(input, out, seconds, trace, cores).run()
  }

  def readOps(file: Path, stream: String): IndexedSeq[Op] =
    Files.readAllLines(file).asScala.toIndexedSeq.zipWithIndex.map {
      case (l, i) =>
        val Array(k, a, s, e) = l.split("\t", 4)
        Op(stream, i, k, a, s, e)
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally w.close()
    }

  def parquetFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val w = Files.walk(p)
      try w.iterator().asScala
        .filter(f => f.getFileName.toString.endsWith(".parquet")).toList
      finally w.close()
    }
}

final class LoadGen(input: Path, out: Path, seconds: Double, trace: Boolean,
                   cores: Int) {
  import LoadGen._

  private val result = mutable.LinkedHashMap.empty[String, Any]
  private val spec: Map[String, String] = {
    val p = new java.util.Properties()
    val r = Files.newBufferedReader(input.resolve("spec.properties"))
    try p.load(r) finally r.close()
    p.asScala.toMap
  }
  private val workload = spec("workload")
  private val root = out.resolve("scopes")
  private val streams: Seq[(String, IndexedSeq[Op])] =
    spec("streams").split(",").toSeq.map(s =>
      s -> readOps(input.resolve(s"ops_$s.tsv"), s).map(op =>
        op.copy(stmt = op.stmt.replace("{input}", input.toString))))

  private val scope = "retail"
  private var spark: SparkSession = _

  def run(): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("clientbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    result("session_s") = sessionS

    val b0 = System.nanoTime()
    buildScope()
    val buildS = (System.nanoTime() - b0) / 1e9
    result("build_s") = buildS
    result("setup_stmt_ms") = setupMs.mkString(",")
    result("files_per_day_setup") = filesPerDay()

    val server = new Server(spark, root.toString).start()
    try {
      val w0 = System.nanoTime()
      warmUp(server.boundPort)
      val warmS = (System.nanoTime() - w0) / 1e9
      result("warmup_s") = warmS
      result("setup_s") = sessionS + buildS + warmS

      val gc0 = gcTotals()
      val samples =
        if (trace) tracedRun(server.boundPort)
        else timedRun(server.boundPort)
      val gc1 = gcTotals()
      result("jvm_gc_count") = gc1._1 - gc0._1
      result("jvm_gc_ms") = gc1._2 - gc0._2
      System.gc(); System.gc()
      result("retained_heap_mb") = ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1048576.0
      result("persisted_rdds_after") =
        spark.sparkContext.getPersistentRDDs.size
      writeSamples(samples)
      finalState(workload == "ingest")
    } finally server.stop()
    writeResult()
    spark.stop()
  }

  // ── set-up ─────────────────────────────────────────────────────────
  /** Set-up statement walls in ms, in order, for the run record. */
  private val setupMs = mutable.ArrayBuffer.empty[String]

  private def timedSql(eng: Engine, stmt: String): graft.engine.Result = {
    val t0 = System.nanoTime()
    val r = eng.sql(stmt)
    setupMs += f"${(System.nanoTime() - t0) / 1e6}%.0f"
    r
  }

  private def expectOk(eng: Engine, stmt: String): Unit =
    timedSql(eng, stmt) match {
      case Status(true, _) =>
      case other => throw new IllegalStateException(s"$stmt -> $other")
    }

  private def expectLoad(eng: Engine, file: String, table: String,
                         rows: Long): Unit = {
    val stmt = s"load '${input.resolve(file)}' into $table use header"
    timedSql(eng, stmt) match {
      case Report(`rows`, 0) =>
      case other => throw new IllegalStateException(
        s"load $file into $table: expected $rows rows, got $other")
    }
  }

  private def buildScope(): Unit = {
    val eng = new Engine(spark, root.toString)
    expectOk(eng, s"create scope $scope")
    expectOk(eng, s"use $scope")
    expectOk(eng, "create type client (id uint pk, name text, " +
      "segment text, score float)")
    expectOk(eng, "create type product (id uint pk, title text, " +
      "category text)")
    expectOk(eng, "create edge buys (origin client origin, destin product " +
      "destin, stamp time stamp, quantity int, price int)")
    expectLoad(eng, "client.csv", "client", spec("clients").toLong)
    expectLoad(eng, "product.csv", "product", spec("products").toLong)
    (0 until spec("loads").toInt).foreach { i =>
      expectLoad(eng, f"load_$i%03d.csv", "buys", spec("load_rows").toLong)
      // ingest rewrites `buys` (retention) while readers list it. The
      // first rewrite of a table puts v1/ beside its unversioned day
      // directories, and a listing of the root that sees both fails
      // (CONFLICTING_DIRECTORY_STRUCTURES); the second one removes the
      // unversioned files. Two rewrites that delete nothing, after the
      // first load, leave `buys` versioned before any reader starts.
      if (i == 0 && workload == "ingest")
        (1 to 2).foreach(_ => expectOk(eng,
          s"delete from buys where stamp < '${spec("base_date")}'"))
    }
    eng.closeSession()
  }

  /** One read op of each shape, from the tail of the first stream that
    * has reads, sent one at a time over one connection (reads never
    * change the tables, so they may run twice). */
  private def warmUp(port: Int): Unit = {
    val ops = streams.map(_._2).find(_.exists(_.readOnly)).get
    val c = connect(port)
    try ops.reverseIterator.filter(_.readOnly).distinctBy(_.kind)
      .foreach(op => require(exec(c, op, "warmup").ok, s"warm-up $op"))
    finally c.close()
  }

  // ── running ops ────────────────────────────────────────────────────
  private def connect(port: Int): Conn = {
    val c = new Conn(port)
    val h = c.send(s"use $scope")
    require(h.startsWith("+ok"), h)
    c
  }

  /** Sends one op and checks its answer; `onFetch` sees the start and
    * end (`System.nanoTime`) of each FETCH round trip. */
  private def exec(c: Conn, op: Op, pass: String,
                   onFetch: (Long, Long) => Unit = (_, _) => ()): Sample = {
    if (op.kind == "export") c.mode(op.arg == "binary")
    var rows = 0L
    var fetches = 0
    val b0 = c.bytesIn
    val t0 = System.nanoTime()
    val (ok, err) =
      try op.kind match {
        case "point" | "range" | "export" =>
          val rs = c.query(op.stmt, (f0, f1) => {
            fetches += 1; onFetch(f0, f1)
          })
          rows = rs.length
          Check.answer(op, rs)
        case "load" =>
          val h = c.send(op.stmt)
          val Array(good, bad) = op.expect.split("\\|")
          (h == s"+report $good $bad", h)
        case _ =>
          val h = c.send(op.stmt)
          (h.startsWith("+ok"), h)
      } catch { case e: Exception => (false, String.valueOf(e.getMessage)) }
    val t1 = System.nanoTime()
    Sample(op, pass, t0, t1, ok, if (ok) "" else err, rows, c.bytesIn - b0,
      fetches)
  }

  /** Closed loop: each stream's client sends its next statement when
    * the previous reply, all its FETCH pages included, has arrived. */
  private def timedRun(port: Int): Seq[Sample] = {
    val conns = streams.map(_ => connect(port))
    val per = streams.map(_ => mutable.ArrayBuffer.empty[Sample])
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = streams.indices.map { i =>
      val t = new Thread(() => {
        val ops = streams(i)._2
        var k = 0
        while (k < ops.length && System.nanoTime() < deadline) {
          per(i) += exec(conns(i), ops(k), "timed")
          k += 1
        }
      }, s"client-${streams(i)._1}")
      t.start(); t
    }
    threads.foreach(_.join())
    conns.foreach(_.close())
    result("timed_start_ns") = t0
    result("exhausted") = streams.indices.count(i =>
      per(i).length == streams(i)._2.length)
    per.flatten.toSeq
  }

  // ── traced replay ──────────────────────────────────────────────────
  /** An op's kind, with the framing for an export. */
  private def shape(op: Op): String =
    if (op.kind == "export") s"export/${op.arg}" else op.kind

  /** Round-robin over the streams, one statement at a time, until the
    * time budget is spent; with `everyShape`, also until each op shape of
    * the streams has run at least once. */
  private def replay(port: Int, pass: String, budgetS: Double,
                     streamsIn: Seq[(String, IndexedSeq[Op])],
                     everyShape: Boolean)(
      each: (Conn, Op) => Sample): Seq[Sample] = {
    val c = connect(port)
    val out = mutable.ArrayBuffer.empty[Sample]
    val deadline = System.nanoTime() + (budgetS * 1e9).toLong
    val missing = mutable.Set.empty[String]
    if (everyShape) missing ++= streamsIn.flatMap(_._2.map(shape))
    var k = 0
    val longest = streamsIn.map(_._2.length).max
    try while (k < longest &&
               (System.nanoTime() < deadline || missing.nonEmpty)) {
      streamsIn.foreach { case (_, ops) =>
        if (k < ops.length) {
          out += each(c, ops(k))
          missing -= shape(ops(k))
        }
      }
      k += 1
    } finally c.close()
    out.toSeq
  }

  private def tracedRun(port: Int): Seq[Sample] = {
    val spans = new Spans
    val reads = streams.filter(_._2.forall(_.readOnly))
    // untraced pass over the read streams: the base of the overhead
    val plain = replay(port, "untraced", seconds / 3, reads, false)(
      (c, op) => exec(c, op, "untraced"))
    val events = new SparkEvents(spans)
    spark.sparkContext.addSparkListener(events)
    val eng = new Engine(spark, root.toString)
    expectOk(eng, s"use $scope")
    // each traced op also runs in-process, so the traced pass gets longer;
    // it goes on until every op shape, both export framings and the
    // writer's rewrites included, has been traced
    val traced = replay(port, "traced", seconds * 1.5, streams, true) {
      (c, op) => tracedOp(c, op, eng, spans)
    }
    if (workload == "serve") graphOperators(eng, spans)
    events.drain()
    spark.sparkContext.removeSparkListener(events)
    eng.closeSession()
    result("catalog_open_ms") = catalogOpenMs()
    spans.write(out.resolve("spans.tsv"))
    plain ++ traced
  }

  private def tableDir(table: String): Path =
    graft.catalog.Catalog.open(root.toString, scope).tableDir(table)

  /** One op over the wire, then (reads) the same statement in-process
    * through the engine's public entry points, then (writes) the files
    * and bytes the write left behind. */
  private def tracedOp(c: Conn, op: Op, eng: Engine, spans: Spans): Sample = {
    val stmtId = spans.nextId()
    val table = if (Set("vinsert", "update", "delete")(op.kind)) "client"
      else "buys"
    val before = if (op.readOnly) None else {
      val d = tableDir(table)
      Some((parquetFiles(d).length, dirBytes(d)))
    }
    val opId = spans.nextId()
    val s = exec(c, op, "traced", (f0, f1) => spans.add(Span(spans.nextId(),
      opId, stmtId, "fetch", spans.ms(f0), spans.ms(f1), Map.empty)))
    var attrs = Map[String, Any]("kind" -> op.kind, "arg" -> op.arg,
      "stream" -> op.stream, "idx" -> op.idx, "rows" -> s.rows,
      "bytes" -> s.bytes, "fetches" -> s.fetches,
      "ok" -> (if (s.ok) 1 else 0),
      "mode" -> (if (c.isBinary) "binary" else "text"))
    before.foreach { case (files0, bytes0) =>
      val d = tableDir(table)
      attrs ++= Map("files_added" -> (parquetFiles(d).length - files0),
        "bytes_delta" -> (dirBytes(d) - bytes0), "dir_bytes" -> dirBytes(d))
      if (op.kind == "load") // the CSV is the statement's quoted path
        attrs += "input_bytes" -> Files.size(Paths.get(op.stmt.split("'")(1)))
    }
    spans.add(Span(opId, 0, stmtId, "op", spans.ms(s.start), spans.ms(s.end),
      attrs))
    spans.span(0, stmtId, "parse")(_ => graft.sql.Parser.parse(op.stmt))()
    if (op.readOnly && s.ok) inProcess(op, eng, spans, stmtId)
    s
  }

  /** The same SELECT through `Engine.sql`, `openCursor` and FETCH, in
    * this JVM: the wire round trip minus this is the wire's own cost. */
  private def inProcess(op: Op, eng: Engine, spans: Spans,
                        stmtId: Long): Unit =
    spans.span(0, stmtId, "inproc") { root =>
      val res = spans.span(root, stmtId, "compile")(_ => eng.sql(op.stmt))()
      val df = res match {
        case Rows(d) => d
        case other => throw new IllegalStateException(s"${op.stmt}: $other")
      }
      spans.span(root, stmtId, "plan")(_ => df.queryExecution.executedPlan)()
      val phases = df.queryExecution.tracker.phases
      def phase(n: String): Double =
        phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
      val cur = spans.span(root, stmtId, "cursor_open")(_ =>
        eng.openCursor(df))()
      // the cursor's persisted bytes peak just before its last page
      // (the engine unpersists an exhausted cursor)
      var persistBytes = 0L
      var more = true
      var rows = 0L
      while (more) {
        val b = spans.span(root, stmtId, "inproc_fetch")(_ =>
          eng.sql(s"fetch $cur"))()
        b match {
          case Batch(rs, _, m) => rows += rs.length; more = m
          case other => throw new IllegalStateException(s"fetch: $other")
        }
        if (more) persistBytes = persistBytes max spark.sparkContext
          .getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      }
      Map[String, Any]("rows" -> rows, "analysis_ms" -> phase("analysis"),
        "optimization_ms" -> phase("optimization"),
        "planning_ms" -> phase("planning"), "persist_bytes" -> persistBytes,
        "kind" -> op.kind)
    }(m => m)

  /** The graph loops of `graft.operators.Graph` over the scope's `buys`
    * edges (products offset out of the client id range), each run to the
    * noop sink: the operator layer, which no wire statement reaches. */
  private def graphOperators(eng: Engine, spans: Spans): Unit = {
    import org.apache.spark.sql.functions.col
    import graft.operators.Graph
    val edges = eng.sql("select origin, destin from buys") match {
      case Rows(df) => df.select(col("origin").as("s"),
        (col("destin") + 1000000L).as("d"))
      case other => throw new IllegalStateException(s"edges: $other")
    }
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "pagerank" -> (() => Graph.pageRank(edges, "s", "d", iters = 5)),
      "connected_components" -> (() =>
        Graph.connectedComponents(edges, "s", "d")),
      "kcore" -> (() => Graph.kCore(edges, "s", "d", k = 3, rounds = 10)))
    ops.foreach { case (name, build) =>
      spans.span(0, spans.nextId(), "operator")(_ =>
        build().write.format("noop").mode("overwrite").save())(_ =>
        Map("query" -> name))
    }
  }

  private def catalogOpenMs(): Double = {
    val ts = (1 to 21).map { _ =>
      val t0 = System.nanoTime()
      graft.catalog.Catalog.open(root.toString, scope)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    ts(ts.length / 2)
  }

  // ── end state ──────────────────────────────────────────────────────
  private def gcTotals(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount).sum, beans.map(_.getCollectionTime).sum)
  }

  /** Data files per `buys` day partition of the live version. */
  private def filesPerDay(): String = {
    val dir = tableDir("buys")
    val per = parquetFiles(dir).groupBy(_.getParent).values.map(_.length)
    if (per.isEmpty) "0,0,0"
    else f"${per.sum.toDouble / per.size}%.3f,${per.max},${per.size}"
  }

  /** Files, versions and bytes at the end; with `counts`, the row counts
    * the ledger predicts. */
  private def finalState(counts: Boolean): Unit = {
    result("files_per_day_end") = filesPerDay()
    val s = graft.catalog.Catalog.open(root.toString, scope)
    Seq("buys", "client", "product").foreach { t =>
      val tr = s.tableRoot(t)
      result(s"files_$t") = parquetFiles(s.tableDir(t)).length
      result(s"versions_$t") =
        if (!Files.exists(tr)) 0
        else Files.list(tr).iterator().asScala
          .count(p => p.getFileName.toString.matches("v\\d+")) max 1
    }
    result("scope_bytes") = dirBytes(root.resolve(scope))
    if (counts) rowCounts()
  }

  private def rowCounts(): Unit = {
    val eng = new Engine(spark, root.toString)
    expectOk(eng, s"use $scope")
    def one(sql: String): Seq[Any] = eng.sql(sql) match {
      case Rows(df) => df.collect()(0).toSeq
      case other => throw new IllegalStateException(s"$sql -> $other")
    }
    result("final_buys") = one("select count(*) from buys").head
    val c = one("select count(*), sum(score) from client")
    result("final_clients") = c(0)
    result("final_score_sum") = c(1)
    eng.closeSession()
  }

  private def writeSamples(samples: Seq[Sample]): Unit = {
    val sb = new StringBuilder
    samples.foreach { s =>
      sb ++= s"${s.op.stream}\t${s.op.idx}\t${s.op.kind}\t${s.op.arg}\t" +
        s"${s.pass}\t${s.start}\t${s.end}\t${if (s.ok) 1 else 0}\t" +
        s"${s.rows}\t${s.bytes}\t${s.fetches}\t" +
        s.err.replaceAll("[\t\n\r]", " ").take(300) + "\n"
    }
    Files.writeString(out.resolve("samples.tsv"), sb.toString)
  }

  private def writeResult(): Unit =
    Files.writeString(out.resolve("result.properties"),
      result.map { case (k, v) => s"$k=$v\n" }.mkString)
}
