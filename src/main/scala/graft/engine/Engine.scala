package graft.engine

import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.concurrent.TimeUnit
import java.util.concurrent.locks.ReentrantReadWriteLock
import scala.collection.mutable
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSparkInternals, Row,
  SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DateType, DecimalType,
  DoubleType, FloatType, IntegerType, LongType, ShortType, StructType}
import graft.catalog.Catalog
import graft.catalog.Catalog.{Prop, Scope}
import graft.sql.{Ast, BoundLiteral, ExprBuilder, Parser}
import graft.sql.Ast._
import graft.functions.{IntegralAggregator, NowFunctions}

/** Result ADT mirroring the reference's statement results
  * (query/stmt.c:2543-2590: status / report / row / cursor). */
sealed trait Result
case class Status(ok: Boolean, msg: String = "") extends Result
case class Report(loaded: Long, errors: Long) extends Result
case class Rows(df: DataFrame) extends Result
case class CursorRef(id: Long) extends Result
case class Batch(rows: Seq[Row], schema: StructType, more: Boolean)
    extends Result

/** The engine facade: `Engine.sql(statement)` — parse → dispatch →
  * DataFrame program (SURVEY §3.1 pipeline re-expressed Spark-first:
  * the "planner" is the AST→DataFrame builder; Catalyst takes it from
  * there). One Engine = one session (current scope, held locks, open
  * cursors); scopes/catalogs/tables persist under `root` and are
  * shared across sessions via the filesystem, like the reference's
  * scope directories.
  */
class Engine(val spark: SparkSession, root: String,
             cursorPageSize: Int = 1000) {
  import Engine.DayWindow

  private var current: Option[Scope] = None
  private val attached = mutable.Map.empty[String, DataFrame]
  private val procs =
    mutable.Map.empty[String, (Engine, Seq[Any]) => Result]
  private val cursors =
    mutable.Map.empty[Long, (Iterator[Row], StructType, DataFrame)]
  private val heldLocks = mutable.Map.empty[String, (Engine.SessionRWLock, Boolean)]
  private val cursorSeq = new java.util.concurrent.atomic.AtomicLong(0)

  spark.udf.register("now_integral", udaf(new IntegralAggregator))
  BoundLiteral.register(spark)

  // built-in pipeline procedures (dedup/ANN/curation over scope
  // tables) — preinstalled per session like the reference's proc
  // manager modules; see PipelineProcs
  PipelineProcs.install(this)

  private val attachedTimeCols = mutable.Map.empty[String, Set[String]]

  /** Mount an external DataFrame as a queryable table (tests, bench,
    * federating parquet without DDL). Pass `timeCols` for ns-long
    * stamp columns so time-literal coercion applies to them. */
  def attachTable(name: String, df: DataFrame,
                  timeCols: Set[String] = Set.empty): Unit = {
    attached += name.toLowerCase -> df
    attachedTimeCols += name.toLowerCase -> timeCols.map(_.toLowerCase)
  }

  def registerProcedure(name: String,
                        fn: (Engine, Seq[Any]) => Result): Unit =
    procs += name.toLowerCase -> fn

  /** Table names of the current scope (types + edges + attached),
    * empty when no scope is selected — lets integrations (e.g.
    * [[GraftExtensions]]) mirror the scope as Spark temp views. */
  def scopeTables: Seq[String] = current match {
    case None => attached.keys.toSeq
    case Some(s) =>
      (s.types.keys ++ s.edges.keys ++ attached.keys).toSeq.distinct
  }

  /** Whether `name` is a scope in this engine's catalog root — lets
    * the parser integration route `USE` to the engine only when the
    * target actually is a scope (Spark's own USE <database> keeps
    * working otherwise). */
  def hasScope(name: String): Boolean = Catalog.exists(root, name)

  /** Does every base table `st` references resolve in THIS engine
    * (scope tables, attached frames, stored views), with the WITH
    * bindings' own names excluded? Routing aid for the injectParser
    * front door (r15 verdict task 7): a front-door `WITH RECURSIVE`
    * runs the engine's semi-naive fixpoint — including the
    * UNION-distinct cyclic mode Spark 4.1's native recursion does
    * not support — exactly when its targets are engine tables;
    * Spark-catalog-only queries stay on Spark's native path. */
  private[engine] def resolvesAllTables(st: Statement): Boolean = {
    val cteNames = st match {
      case w: WithStmt => w.bindings.map(_.name.toLowerCase).toSet
      case _ => Set.empty[String]
    }
    val names = referencedTables(st).map(_.toLowerCase).toSet -- cteNames
    names.nonEmpty && names.forall(n =>
      attached.contains(n) || resolveView(n).isDefined ||
        current.exists(_.resolve(n).isDefined))
  }

  def sql(statement: String): Result =
    try run(Parser.parse(statement))
    catch {
      case e: Parser.ParseError => Status(ok = false, e.getMessage)
      case e: IllegalArgumentException => Status(ok = false, e.getMessage)
      case e: IllegalStateException => Status(ok = false, e.getMessage)
      // user-reachable semantic mistakes Spark only flags at analysis
      // time (e.g. grouping() without ROLLUP/CUBE) — a clean Status,
      // not an uncaught exception
      case e: org.apache.spark.sql.AnalysisException =>
        Status(ok = false, e.getMessage)
    }

  /** Run a whole `;`-separated script; stops at first failure. */
  def script(statements: String): Seq[Result] = {
    val stmts = Parser.parseScript(statements)
    val out = mutable.ArrayBuffer.empty[Result]
    var failed = false
    stmts.foreach { st =>
      if (!failed) {
        val r = run(st)
        out += r
        r match {
          case Status(false, _) => failed = true
          case _ =>
        }
      }
    }
    out.toSeq
  }

  private def scope: Scope = current.getOrElse(
    throw new IllegalStateException("no scope selected — USE <scope>"))

  private def run(st: Statement): Result = st match {
    // ── DDL ──────────────────────────────────────────────────────────
    case CreateScope(name, ine) =>
      if (Catalog.exists(root, name)) {
        if (ine) Status(ok = true, "exists") else
          Status(ok = false, s"scope $name exists")
      } else {
        val s = Catalog.open(root, name); s.save(); Status(ok = true)
      }
    case UseScope(name) =>
      if (!Catalog.exists(root, name))
        Status(ok = false, s"no scope $name")
      else { current = Some(Catalog.open(root, name)); Status(ok = true) }
    case CreateType(name, props, ine) =>
      val s = scope
      if (s.types.contains(name)) {
        if (ine) Status(ok = true, "exists")
        else Status(ok = false, s"type $name exists")
      } else if (props.count(_.pk) != 1)
        Status(ok = false, "type needs exactly one primary key")
      else {
        s.types += name -> Catalog.VertexType(name,
          props.map(p => Prop(p.name, p.typ, p.pk, p.stamp)))
        s.save(); Status(ok = true)
      }
    case CreateEdge(name, o, d, stamped, payload, ine) =>
      val s = scope
      if (s.edges.contains(name)) {
        if (ine) Status(ok = true, "exists")
        else Status(ok = false, s"edge $name exists")
      } else if (!s.types.contains(o) || !s.types.contains(d))
        Status(ok = false, s"edge $name: unknown origin/destin type")
      else {
        s.edges += name -> Catalog.EdgeType(name, o, d, stamped,
          payload.map(p => Prop(p.name, p.typ, pk = false, stamp = false)))
        s.save(); Status(ok = true)
      }
    case CreateView(name, viewSql, ine) =>
      val s = scope
      if (s.views.keys.exists(_.equalsIgnoreCase(name)))
        if (ine) Status(ok = true, "exists")
        else Status(ok = false, s"view $name exists")
      else if (s.resolve(name).isDefined)
        Status(ok = false, s"view $name collides with a table")
      else {
        // validate eagerly: the body must parse as a SELECT and
        // resolve against the current catalog (schema probe only —
        // .schema analyzes the plan without running a job)
        Parser.parse(viewSql) match {
          case st @ (_: SelectStmt | _: WithStmt | _: SetOpStmt) =>
            buildDql(st).schema
          case _ =>
            return Status(ok = false, s"view $name: body is not SELECT")
        }
        s.views += name -> viewSql
        s.save(); Status(ok = true)
      }
    case CreateStorage(name, _, opts, ine) =>
      val s = scope
      if (s.storages.contains(name) && !ine)
        Status(ok = false, s"storage $name exists")
      else {
        s.storages += name -> Catalog.StorageDef(name, opts)
        s.save(); Status(ok = true)
      }
    case CreateIndex(name, on, fields, ine) =>
      val s = scope
      if (s.indexes.contains(name) && !ine)
        Status(ok = false, s"index $name exists")
      else if (s.resolve(on).isEmpty)
        Status(ok = false, s"index on unknown table $on")
      else {
        s.indexes += name -> Catalog.IndexDef(name, on, fields)
        s.save()
        // Catalyst needs no B⁺-tree, but the index INTENT (cluster by
        // these keys — reference index/index.h) maps to a physical
        // reorganization: range-repartition + sort by the index fields
        // so parquet row-group min/max stats skip on those columns.
        // The reference's background sorter is the same idea applied
        // to its pending files (store/storewrk.c:470-530).
        val (_, tname) = s.resolve(on).get
        if (Files.exists(s.tableDir(tname)))
          rewrite(tname) { (df, _) =>
            df.repartitionByRange(fields.map(col): _*)
              .sortWithinPartitions(fields.map(col): _*)
          } match {
            case st @ Status(false, _) => return st
            case _ =>
          }
        Status(ok = true)
      }
    case CreateProcedure(module, name, args, lang, _) =>
      val s = scope
      s.procs += name -> Catalog.ProcDef(module, name, args, lang)
      s.save(); Status(ok = true)
    case CreateLock(name, ine) =>
      val s = scope
      if (s.locks.contains(name) && !ine)
        Status(ok = false, s"lock $name exists")
      else { s.locks += name; s.save(); Status(ok = true) }
    case DropStmt(kind, name, ifE) =>
      val existed = kind match {
        case "scope" =>
          val e = Catalog.exists(root, name)
          if (e) {
            if (current.exists(_.name == name)) current = None
            Catalog.drop(root, name)
          }
          e
        case "type" => val s = scope
          val e = s.types.remove(name).isDefined; if (e) s.save(); e
        case "edge" => val s = scope
          val e = s.edges.remove(name).isDefined; if (e) s.save(); e
        case "storage" => val s = scope
          val e = s.storages.remove(name).isDefined; if (e) s.save(); e
        case "index" => val s = scope
          val e = s.indexes.remove(name).isDefined; if (e) s.save(); e
        case "procedure" => val s = scope
          // same case-insensitive resolution as EXEC (identifiers are
          // case-preserved in the catalog but matched foldedly)
          val key = s.procs.keys.find(_.equalsIgnoreCase(name))
          val e = key.exists(k => s.procs.remove(k).isDefined)
          if (e) s.save(); e
        case "lock" => val s = scope
          val e = s.locks.remove(name); if (e) s.save(); e
        case "view" => val s = scope
          val key = s.views.keys.find(_.equalsIgnoreCase(name))
          val e = key.exists(k => s.views.remove(k).isDefined)
          if (e) s.save(); e
      }
      if (existed || ifE) Status(ok = true)
      else Status(ok = false, s"no $kind $name")

    // ── metadata queries ────────────────────────────────────────────
    case ShowStmt("scopes") =>
      import spark.implicits._
      val dirs = java.nio.file.Paths.get(root).toFile.listFiles()
      val names = if (dirs == null) Seq.empty[String]
        else dirs.filter(d => Catalog.exists(root, d.getName))
          .map(_.getName).toSeq
      Rows(names.toDF("name"))
    case ShowStmt(what) =>
      val s = scope
      import spark.implicits._
      val df = what match {
        case "types" | "vertices" => s.types.keys.toSeq.toDF("name")
        case "edges" => s.edges.keys.toSeq.toDF("name")
        case "procedures" => s.procs.values
          .map(p => (p.name, p.module, p.lang)).toSeq
          .toDF("name", "module", "language")
        case "stores" | "storages" =>
          s.storages.keys.toSeq.toDF("name")
        case "indexes" | "indices" => s.indexes.values
          .map(ix => (ix.name, ix.on, ix.fields.mkString(","))).toSeq
          .toDF("name", "on", "fields")
        case "locks" => s.locks.toSeq.toDF("name")
        case "views" => s.views.keys.toSeq.toDF("name")
        case other => throw new IllegalArgumentException(s"show $other?")
      }
      Rows(df)
    case DescStmt(name) =>
      val s = scope
      import spark.implicits._
      val props = s.propsOf(name)
      Rows(props.map(p => (p.name, p.typ, p.pk, p.stamp)).toDF(
        "property", "type", "pk", "stamp"))

    // ── session: locks, cursors, procedures ─────────────────────────
    case LockStmt(name, write, timeoutMs) =>
      val s = scope
      if (!s.locks.contains(name)) Status(ok = false, s"no lock $name")
      else {
        val l = Engine.lockRegistry.computeIfAbsent(
          s"${s.name}/$name", _ => new Engine.SessionRWLock())
        val got = timeoutMs match {
          case Some(ms) => l.tryAcquire(write, ms)
          case None => l.acquire(write); true
        }
        if (got) { heldLocks += name -> (l, write); Status(ok = true) }
        else Status(ok = false, s"lock $name: timeout")
      }
    case UnlockStmt(name) =>
      heldLocks.remove(name) match {
        case Some((l, w)) => l.release(w); Status(ok = true)
        case None => Status(ok = false, s"lock $name not held")
      }
    case ExecStmt(name, args) =>
      val vals = args.map {
        case Lit(v, _) => v
        case other => throw new IllegalArgumentException(
          s"EXEC args must be literals, got $other")
      }
      procs.get(name.toLowerCase) match {
        case Some(fn) => fn(this, vals)
        case None =>
          // fall back to the scope catalog: externally-interpreted
          // procedures (CREATE PROCEDURE m.p(...) LANGUAGE python)
          // run out of process and call back into THIS session
          // catalog names are case-preserved; match them the same
          // case-insensitive way the built-in registry is keyed, so
          // `exec QtyStats()` and `exec qtystats()` resolve alike
          current.flatMap(s => s.procs.get(name).orElse(
            s.procs.collectFirst {
              case (k, v) if k.equalsIgnoreCase(name) => v
            })) match {
            case Some(pd) =>
              ProcBridge.exec(this, pd.module, pd.name, pd.lang, vals)
            case None => Status(ok = false, s"no procedure $name")
          }
      }
    case FetchStmt(id) => fetch(id)
    case CloseStmt(id) =>
      closeCursor(id); Status(ok = true)

    // ── DML ─────────────────────────────────────────────────────────
    case ins: InsertStmt if ins.moreRows.nonEmpty =>
      // multi-row VALUES: row-at-a-time with first-failure stop —
      // the same semantics as the reference's script of inserts
      val rows = ins.values +: ins.moreRows
      val it = rows.iterator
      var bad: Option[Result] = None
      while (bad.isEmpty && it.hasNext) {
        insert(ins.copy(values = it.next(), moreRows = Nil)) match {
          case Status(true, _) =>
          case other => bad = Some(other)
        }
      }
      bad.getOrElse(Status(ok = true, s"${rows.length} rows"))
    case ins: InsertStmt => insert(ins)
    case InsertSelect(target, cols, sel) => insertSelect(target, cols, sel)
    case ld: LoadStmt => load(ld)
    case DeleteStmt(target, where) => rewrite(target) { (df, ctx) =>
      // keep rows where the predicate is NOT satisfied (NULL keeps)
      where.fold(df.limit(0))(w =>
        df.filter(!coalesce(ExprBuilder.build(w, ctx), lit(false))))
    }
    case UpdateStmt(target, sets, where) => rewrite(target) { (df, ctx) =>
      val s = scope
      val props = s.propsOf(target)
      val byName = props.map(p => p.name.toLowerCase -> p).toMap
      sets.foreach { case (c, _) =>
        if (!byName.contains(c.toLowerCase))
          throw new IllegalArgumentException(s"unknown column $c")
      }
      val pred = where.map(w =>
        coalesce(ExprBuilder.build(w, ctx), lit(false)))
      val setMap = sets.map { case (c, e) =>
        val p = byName(c.toLowerCase)
        p.name.toLowerCase -> columnValue(p, e, ctx)
      }.toMap
      df.select(props.map { p =>
        setMap.get(p.name.toLowerCase) match {
          case Some(v) =>
            pred.fold(v)(pr => when(pr, v).otherwise(col(p.name)))
              .as(p.name)
          case None => col(p.name)
        }
      }: _*)
    }
    // MERGE = one full-outer join + one projection over the
    // copy-on-write rewrite — the Delta/Iceberg plan shape, scale-safe
    // because both sides shuffle on the join key and nothing collects.
    // Vertex targets get a post-merge duplicate-PK probe (one agg):
    // it rejects ambiguous matches (one target row hit by two source
    // rows under UPDATE) AND inserted rows colliding with survivors —
    // the same uniqueness contract INSERT enforces. Edge targets skip
    // it (edges never dedup, SURVEY §2.1).
    case MergeStmt(target, source, on, sets, del, ins) =>
      rewrite(target, runOnEmpty = ins.isDefined) { (df, ctx) =>
        val s = scope
        val (kind, tname) = s.resolve(target).get
        val props = s.propsOf(tname)
        val byName = props.map(p => p.name.toLowerCase -> p).toMap
        val sdf = tableDf(source)
        val sctx = typeCtx(source)
        val qctx = ctx ++ sctx ++
          ctx.map { case (k, v) => s"${target.toLowerCase}.$k" -> v } ++
          sctx.map { case (k, v) => s"${source.toLowerCase}.$k" -> v }
        val t = df.withColumn("__t_present", lit(true)).alias(target)
        val sv = sdf.withColumn("__s_present", lit(true)).alias(source)
        val joined = t.join(sv, ExprBuilder.build(on, qctx), "full_outer")
        val matched = col("__t_present").isNotNull &&
          col("__s_present").isNotNull
        def valueOf(c: String, e: Expr): (String, Column) =
          c.toLowerCase -> columnValue(byName.getOrElse(c.toLowerCase,
            throw new IllegalArgumentException(s"unknown column $c")), e, qctx)
        val setMap = sets.getOrElse(Seq.empty).map { case (c, e) =>
          valueOf(c, e) }.toMap
        val insMap = ins.map { case (cols, vals) =>
          cols.zip(vals).map { case (c, e) => valueOf(c, e) }.toMap
        }.getOrElse(Map.empty[String, Column])
        if (kind == "type" && ins.isDefined &&
            !insMap.contains(s.types(tname).pk.name.toLowerCase))
          throw new IllegalArgumentException(
            s"MERGE INSERT missing primary key ${s.types(tname).pk.name}")
        // rows that survive into the new generation: target-side rows
        // (minus matched ones under DELETE) plus, when INSERT is
        // declared, unmatched source rows
        val kept = joined.filter(
          (if (del) col("__s_present").isNull
           else col("__t_present").isNotNull) ||
          (if (ins.isDefined) col("__t_present").isNull else lit(false)))
        val out = kept.select(props.map { p =>
          val tcol = col(s"$target.${p.name}")
          val upd = setMap.get(p.name.toLowerCase) match {
            case Some(v) if !del => when(matched, v).otherwise(tcol)
            case _ => tcol
          }
          val full =
            if (ins.isDefined)
              when(col("__t_present").isNull,
                insMap.getOrElse(p.name.toLowerCase,
                  lit(null).cast(Catalog.sparkType(p.typ))))
                .otherwise(upd)
            else upd
          full.as(p.name)
        }: _*)
        if (kind == "type") {
          val pk = s.types(tname).pk.name
          val dup = out.groupBy(col(pk)).agg(count(lit(1)).as("c"))
            .filter(col("c") > 1L).limit(1).count()
          if (dup > 0)
            throw new IllegalStateException(
              "MERGE violates primary-key uniqueness " +
                "(ambiguous match or colliding insert)")
        }
        out
      }

    // ── DQL ─────────────────────────────────────────────────────────
    case st @ (_: SelectStmt | _: WithStmt | _: SetOpStmt) =>
      Rows(withResolutionMemo(buildDql(st)))
    case ExplainStmt(sel) =>
      import spark.implicits._
      val plan = withResolutionMemo(buildDql(sel))
      Rows(Seq(plan.queryExecution.executedPlan.toString()).toDF("plan"))
  }

  // ── cursors (reference FETCH/CLOSE protocol, ifc/nowdb.c) ─────────
  /** Open a cursor over `df`: rows stream through [[CursorPages]], one
    * partition in driver memory at a time, each FETCH pulling the
    * partitions its page needs. Nothing is persisted: the page jobs all
    * run over the one RDD the plan executed to, so a shuffle-bearing
    * plan writes its shuffle once and every later page job skips that
    * map stage and reads the shuffle output. A cache would only add a
    * materialisation job and block-manager traffic. The frame is the
    * cursor's: when the cursor closes (CLOSE, exhaustion or session end)
    * the broadcasts its plan built are destroyed
    * ([[Engine.releaseBroadcasts]]), so `df` must not be run again
    * after that. */
  def openCursor(df: DataFrame): Long = {
    val id = cursorSeq.incrementAndGet()
    cursors += id -> (CursorPages(df), df.schema, df)
    id
  }

  private def closeCursor(id: Long): Unit =
    cursors.remove(id).foreach(c => Engine.releaseBroadcasts(c._3))

  /** End-of-session cleanup (reference: session teardown releases its
    * cursors and locks, ifc/nowdb.c session loop): drop every open
    * cursor and release held locks. The wire server calls this on
    * disconnect so an abandoned session cannot deadlock other
    * sessions. Idempotent. */
  def closeSession(): Unit = {
    cursors.keys.toSeq.foreach(closeCursor)
    heldLocks.keys.toSeq.foreach { n =>
      heldLocks.remove(n).foreach { case (l, w) => l.release(w) }
    }
  }

  private def fetch(id: Long): Result = cursors.get(id) match {
    case None => Status(ok = false, s"no cursor $id")
    case Some((it, schema, _)) =>
      val buf = mutable.ArrayBuffer.empty[Row]
      while (buf.length < cursorPageSize && it.hasNext) buf += it.next()
      val more = it.hasNext
      if (!more) closeCursor(id)
      Batch(buf.toSeq, schema, more)
  }

  // ── table access ──────────────────────────────────────────────────
  /** NoWDB kinds derived from a Spark schema (attached tables and
    * views, which have no catalog props). TimestampType is
    * deliberately untagged: engine "time" means ns-long stamps
    * (declared via timeCols); coercing literals to ns against a real
    * timestamp column would compare across domains. */
  private def kindsFromSchema(
      schema: org.apache.spark.sql.types.StructType): Map[String, String] =
    schema.fields.flatMap { f =>
      val kind = f.dataType match {
        case _: org.apache.spark.sql.types.ByteType |
             _: org.apache.spark.sql.types.ShortType |
             _: org.apache.spark.sql.types.IntegerType |
             _: org.apache.spark.sql.types.LongType => Some("int")
        case _: org.apache.spark.sql.types.FloatType |
             _: org.apache.spark.sql.types.DoubleType => Some("float")
        case _: org.apache.spark.sql.types.StringType => Some("text")
        case _: org.apache.spark.sql.types.BooleanType => Some("bool")
        case _ => None
      }
      kind.map(f.name.toLowerCase -> _)
    }.toMap

  private def typeCtx(table: String): Map[String, String] = {
    cteBindings.get.get(table.toLowerCase) match {
      case Some(df) => return kindsFromSchema(df.schema)
      case None =>
    }
    attached.get(table.toLowerCase) match {
      case Some(df) =>
        // derive NoWDB kinds from the Spark schema so expression
        // typing (e.g. QUOT integer division) works on mounted
        // tables too; declared timeCols override the derived kind
        kindsFromSchema(df.schema) ++
          attachedTimeCols.getOrElse(table.toLowerCase, Set.empty)
            .map(_ -> "time").toMap
      case None =>
        resolveView(table) match {
          case Some((vn, vsql)) => kindsFromSchema(viewDf(vn, vsql).schema)
          case None =>
            scope.propsOf(table).map(p => p.name.toLowerCase -> p.typ).toMap
        }
    }
  }

  private def isStampedEdge(table: String): Boolean =
    current.exists(s => s.resolve(table) match {
      case Some(("edge", n)) => s.edges(n).stamped
      case _ => false
    })

  /** Per-statement CTE bindings (WITH … AS): name → built frame.
    * Thread-local so concurrent sessions on one engine can't see each
    * other's bindings; saved/restored around each WITH statement. */
  private val cteBindings = new ThreadLocal[Map[String, DataFrame]] {
    override def initialValue(): Map[String, DataFrame] = Map.empty
  }

  /** Build a WITH statement: bind each CTE in order (later bindings
    * and the body see earlier ones; bindings shadow same-named
    * tables), build the body, restore the outer binding set. Purely
    * logical — a CTE referenced twice is planned twice, and Catalyst
    * dedups shared scan subtrees via exchange/subquery reuse.
    *
    * WITH RECURSIVE (r14 verdict task 3): a binding referencing its
    * own name evaluates as an iterative fixpoint
    * ([[buildRecursiveCte]]). Without the RECURSIVE keyword a
    * self-name refers to the REAL table of that name, per ANSI (the
    * binding is not in scope inside its own body) — the classic
    * `WITH orders AS (SELECT … FROM orders WHERE …)` shadowing
    * idiom keeps working. Mutual recursion (a binding referencing a
    * LATER binding) is rejected by name. */
  private[engine] def buildWith(w: WithStmt): DataFrame = {
    if (w.recursive) {
      val laterNames = w.bindings.map(_.name.toLowerCase)
      w.bindings.zipWithIndex.foreach { case (b, i) =>
        val after = laterNames.drop(i + 1).toSet
        referencedTables(b.stmt).map(_.toLowerCase).find(after)
          .foreach(n => throw new IllegalArgumentException(
            s"CTE ${b.name} references the later binding $n — " +
              "mutual recursion between CTEs is not supported " +
              "(only linear self-recursion)"))
      }
    }
    val saved = cteBindings.get
    try {
      w.bindings.foreach { b =>
        val nl = b.name.toLowerCase
        val selfRef =
          referencedTables(b.stmt).exists(_.equalsIgnoreCase(b.name))
        val df0 =
          if (w.recursive && selfRef) buildRecursiveCte(b)
          else buildDql(b.stmt)
        val df =
          if (b.cols.isEmpty) df0
          else {
            if (b.cols.length != df0.columns.length)
              throw new IllegalArgumentException(
                s"CTE ${b.name} declares ${b.cols.length} columns " +
                  s"but its body produces ${df0.columns.length}")
            df0.toDF(b.cols: _*)
          }
        cteBindings.set(cteBindings.get + (nl -> df))
      }
      buildDql(w.body)
    } finally cteBindings.set(saved)
  }

  /** Iterative fixpoint for one linear-recursive CTE binding —
    * `base UNION [ALL] step` where `step` references the binding's
    * own name exactly once in its FROM/JOIN list.
    *
    * Semantics follow ANSI/PostgreSQL semi-naive evaluation: the
    * working table starts as the base result; each round re-plans the
    * step with the binding bound to the PREVIOUS round's delta only
    * (never the accumulated set), unions the new rows in, and stops
    * when a round yields nothing. UNION (distinct) additionally
    * drops rows already seen — the fixpoint form that terminates on
    * cyclic data. The step is cast to the base term's column types,
    * rounding into integral columns as DuckDB does.
    *
    * Every row the loop holds is an `UnsafeRow` the round's executed
    * plan produced, in one of two tiers chosen by their exact bytes
    * against `graft.recursion.broadcastSeenBytes`:
    *  - driver tier (at or under the gate): each round is one job that
    *    collects the step, whose frontier binds as a broadcast-hinted
    *    `LocalRelation`; UNION dedups in a hash set of float-normalized
    *    rows, whose byte equality is the one Spark's `distinct` uses;
    *  - distributed tier (over it): each round's delta is one
    *    localCheckpoint'ed leg, UNION drops seen rows with an anti-join
    *    against the union of legs, and the legs fold into one every
    *    [[Engine.recursionCompactLegs]] rounds so lineage, task closures
    *    and the persisted-block census stay bounded at any depth.
    * The loop starts in the driver tier and hands its rows over as one
    * leg the round they overflow the gate. Depth-capped at
    * [[Engine.maxRecursionRounds]] (`graft.recursion.maxRounds`) with a
    * named error — an unbounded recursive step is a user error, not a
    * hang. */
  private def buildRecursiveCte(b: CteBinding): DataFrame = {
    val nl = b.name.toLowerCase
    // 1) split `base UNION [ALL] step` — flatten the top-level UNION
    //    chain; anything else around the self-reference is rejected
    def flatten(st: Statement): Seq[(Statement, Boolean)] = st match {
      case SetOpStmt("union", all, l, r) =>
        flatten(l) ++ flatten(r).map { case (t, _) => (t, all) }
      case SetOpStmt(op, _, _, _) =>
        throw new IllegalArgumentException(
          s"recursive CTE ${b.name}: only UNION [ALL] may combine " +
            s"the base and recursive terms (found ${op.toUpperCase})")
      case s: SelectStmt => Seq((s, true))
      case _ => throw new IllegalArgumentException(
        s"recursive CTE ${b.name}: expected SELECT terms")
    }
    val terms = flatten(b.stmt)
    val unionAlls = terms.drop(1).map(_._2).distinct
    if (unionAlls.length > 1)
      throw new IllegalArgumentException(
        s"recursive CTE ${b.name}: mixing UNION and UNION ALL " +
          "between terms is not supported")
    val distinctMode = unionAlls.headOption.exists(!_)
    val (recTerms, baseTerms) = terms.map(_._1).partition(t =>
      referencedTables(t).exists(_.equalsIgnoreCase(b.name)))
    if (baseTerms.isEmpty)
      throw new IllegalArgumentException(
        s"recursive CTE ${b.name} needs a non-recursive base term")
    if (recTerms.isEmpty)
      throw new IllegalArgumentException(
        s"CTE ${b.name} does not reference itself — drop RECURSIVE " +
          "or add a recursive term")
    val rec = recTerms match {
      case Seq(s: SelectStmt) => s
      case Seq(_) => throw new IllegalArgumentException(
        s"recursive CTE ${b.name}: the recursive term must be a " +
          "plain SELECT")
      case _ => throw new IllegalArgumentException(
        s"recursive CTE ${b.name} has ${recTerms.length} recursive " +
          "terms — non-linear recursion is not supported")
    }
    // 2) linearity: the self-reference sits exactly once in the
    //    step's FROM/JOIN list, never buried in a subquery or
    //    derived table, and the step is a plain SELECT shape
    val fromRefs = rec.from.count(_.equalsIgnoreCase(b.name)) +
      rec.ansiJoins.count(_.table.equalsIgnoreCase(b.name))
    if (rec.joins.exists(_.typeName.equalsIgnoreCase(b.name)))
      throw new IllegalArgumentException(
        s"recursive CTE ${b.name}: the edge-join form may not " +
          "reference the recursive binding")
    val buried =
      rec.derived.flatMap(d => referencedTables(d._2)) ++
        immediateSubSelects(rec).flatMap(referencedTables)
    if (buried.exists(_.equalsIgnoreCase(b.name)))
      throw new IllegalArgumentException(
        s"recursive CTE ${b.name}: the recursive reference may not " +
          "appear inside a subquery or derived table")
    // hidden recursion through a stored view: the syntactic scans
    // above can't see a view whose BODY reads the recursive name —
    // at build time tableDf would resolve it to the frontier through
    // cteBindings, silently making the recursion non-linear (advice
    // finding). Walk every referenced name through the view catalog
    // transitively and reject if any body reaches the binding.
    if (referencedTables(rec).exists(t =>
        !t.equalsIgnoreCase(b.name) &&
          viewBodyReferences(t, b.name, Set.empty)))
      throw new IllegalArgumentException(
        s"recursive CTE ${b.name}: a view referenced by the " +
          s"recursive term reads ${b.name} in its body — hidden " +
          "recursion through views is not supported")
    if (fromRefs != 1)
      throw new IllegalArgumentException(
        s"recursive CTE ${b.name}: the recursive term must " +
          s"reference ${b.name} exactly once (found $fromRefs) — " +
          "non-linear recursion is not supported")
    if (rec.groupBy.nonEmpty || rec.having.isDefined || rec.distinct ||
        rec.orderBy.nonEmpty || rec.limit.isDefined ||
        rec.offset.isDefined ||
        rec.items.exists(it => containsAgg(it.expr)))
      throw new IllegalArgumentException(
        s"recursive CTE ${b.name}: GROUP BY/HAVING/DISTINCT/" +
          "ORDER BY/LIMIT and aggregates are not allowed in the " +
          "recursive term")
    // 3) base: union the non-recursive terms positionally
    val base0 = baseTerms.map(buildDql)
      .reduce((a, c) => a.unionAll(c.toDF(a.columns: _*)))
    val base1 =
      if (b.cols.isEmpty) base0
      else {
        if (b.cols.length != base0.columns.length)
          throw new IllegalArgumentException(
            s"CTE ${b.name} declares ${b.cols.length} columns but " +
              s"its base term produces ${base0.columns.length}")
        base0.toDF(b.cols: _*)
      }
    val cols = base1.columns.toSeq
    // every tier holds rows of this schema: the base term's types, all
    // nullable because the step may yield nulls where the base has none
    val schema = StructType(base1.schema.map(_.copy(nullable = true)))
    // 4) iterate
    val maxRounds = spark.conf
      .get("graft.recursion.maxRounds", Engine.maxRecursionRounds.toString)
      .toInt
    val gate = spark.conf
      .get("graft.recursion.broadcastSeenBytes", "33554432").toLong
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val saved = cteBindings.get
    // each distributed round marks its delta for RDD localCheckpoint
    // and lets the count job force it; by default Spark only truncates
    // the job's FINAL marked RDD (doCheckpoint does not descend once it
    // finds checkpoint data), so the delta's lineage would never cut
    // and round R's task closures would serialize R nested plans —
    // stack overflow at three-digit depths (ring probe). This
    // thread-local property makes every job checkpoint ALL marked
    // ancestors.
    val sc = spark.sparkContext
    val ancestorsKey = "spark.checkpoint.checkpointAllMarkedAncestors"
    val prevAncestors = sc.getLocalProperty(ancestorsKey)
    sc.setLocalProperty(ancestorsKey, "true")
    val bindingRdds = mutable.ArrayBuffer[RDD[InternalRow]]()
    // distributed tier: every row so far as checkpointed legs, and the
    // frontier whose retirement waits for the next round's job
    val legs = mutable.ArrayBuffer[RDD[InternalRow]]()
    var retireNext: RDD[InternalRow] = null
    try {
      // Re-wrap checkpointed rows with fresh attribute ids and no
      // constraints (see GraftSparkInternals for the fault this avoids).
      def wrap(rdd: RDD[InternalRow], s: StructType): DataFrame =
        GraftSparkInternals.wrapInternal(session, rdd, s)
      // ONE job: persist the plan's rows with a cut lineage, and count
      // them and their bytes. The copy is required: toRdd serves reused
      // UnsafeRow buffers.
      def materialize(df: DataFrame): (RDD[InternalRow], Long, Long) = {
        val rdd = df.queryExecution.toRdd.map(_.copy()).localCheckpoint()
        val sizes = sc.runJob(rdd, FixpointJobs.countBytes)
        (rdd, sizes.map(_._1).sum, sizes.map(_._2).sum)
      }
      // Non-recursive CTE bindings the recursive term references are
      // LAZY plans — left alone, every round's step re-executes them
      // in full (q418's ring re-scanned + re-deduplicated its edge
      // CTE's source table 60 times). Plain ATTACHED tables the step
      // joins are re-read from storage every round too (q410 re-decoded
      // its parquet fact table once per walk level). Snapshot each once
      // as checkpointed rows and rebind for the loop; an attached table
      // only under a byte bound read from the optimizer's own size
      // estimate, so a 100 TB edge table keeps streaming. Only attached
      // tables WITHOUT declared time columns are eligible: typeCtx
      // derives their kinds from the frame schema exactly as it does
      // for CTE bindings, so shadowing cannot change expression typing.
      // The returned frame never reads the snapshots, so they retire
      // when the fixpoint exits.
      def snapshot(n: String, df: DataFrame): (String, DataFrame) = {
        val (rdd, _, _) = materialize(df)
        bindingRdds += rdd
        n -> wrap(rdd, df.schema)
      }
      val loopRefs = referencedTables(rec).map(_.toLowerCase).distinct
        .filter(_ != nl)
      val loopBindings: Map[String, DataFrame] = saved ++
        loopRefs.filter(saved.contains).map(n => snapshot(n, saved(n))) ++
        loopRefs.filter(n => !saved.contains(n) && attached.contains(n) &&
            attachedTimeCols.getOrElse(n, Set.empty).isEmpty &&
            attached(n).queryExecution.optimizedPlan.stats.sizeInBytes <=
              Engine.recursionCacheTableBytes)
          .map(n => snapshot(n, attached(n)))
      // the step over a frontier, cast to the loop schema's types
      // positionally (output names may repeat or need backticks; the
      // loop's rows take their names from `schema` alone). As in
      // DuckDB, a fractional value bound for an integral column rounds
      // first, half away from zero from a decimal and half to even from
      // a float or double, where Spark's cast alone would truncate
      def stepOver(frontier: DataFrame): DataFrame = {
        cteBindings.set(loopBindings + (nl -> frontier))
        val s = buildSelect(rec)
        if (s.columns.length != cols.length)
          throw new IllegalArgumentException(
            s"recursive CTE ${b.name}: the recursive term produces " +
              s"${s.columns.length} columns, expected ${cols.length}")
        val tmp = cols.indices.map(i => s"__rec_t$i")
        val t = s.toDF(tmp: _*)
        t.select(schema.fields.toSeq.zip(t.schema.fields).map {
          case (f, from) =>
            val c = col(from.name)
            val integral = Seq(ByteType, ShortType, IntegerType, LongType)
              .contains(f.dataType)
            (from.dataType match {
              case _: DecimalType if integral => round(c)
              case FloatType | DoubleType if integral => bround(c)
              case _ => c
            }).cast(f.dataType)
        }: _*)
      }

      // driver tier: every row so far, the distinct-mode set over them
      // and their bytes
      val rows = mutable.ArrayBuffer[UnsafeRow]()
      val seenRows = new java.util.HashSet[UnsafeRow]()
      var rowBytes = 0L
      lazy val normalize = GraftSparkInternals.floatNormalizer(schema)
      // the distributed tier's bytes
      var legBytes = 0L
      var driverTier = true
      var frontier: DataFrame = null

      // The plan's rows, or None once they pass the gate — in ONE job
      // unless they are skewed. A task ships its partition only if it
      // fits an even share of the bytes still free, and otherwise only
      // the bytes it counted before passing that share. The partitions
      // that did not fit run again on the same executed plan (its
      // shuffles are not redone) with the share then left. So no job
      // ships more than the gate, and each rerun either completes a
      // partition or proves the rows pass the gate.
      def collectUnderGate(df: DataFrame): Option[Seq[UnsafeRow]] = {
        val qe = df.queryExecution
        val rdd = SQLExecution.withNewExecutionId(qe, Some("recursive cte"))(
          qe.executedPlan.execute())
        val got = mutable.ArrayBuffer[UnsafeRow]()
        var held = 0L
        var atLeast = 0L
        var pending: Seq[Int] = 0 until rdd.getNumPartitions
        while (pending.nonEmpty && atLeast <= gate) {
          val share = (gate - held) / pending.length
          val parts = pending.zip(
            sc.runJob(rdd, FixpointJobs.upTo(share), pending))
          atLeast = held + parts.map(_._2._2).sum
          parts.foreach { case (_, (part, n)) =>
            if (part != null) { got ++= part; held += n } }
          pending = parts.collect { case (p, (null, _)) => p }
        }
        if (atLeast > gate) None else Some(got.toSeq)
      }
      // the driver tier's rows become the first leg
      def handOver(): Unit = {
        val leg = sc.parallelize[InternalRow](rows.toSeq, sc.defaultParallelism)
          .localCheckpoint()
        leg.count()
        legs += leg
        legBytes = rowBytes
        rows.clear(); seenRows.clear()
        driverTier = false
      }
      // fold the legs into ONE checkpointed, narrowly coalesced leg and
      // retire the rest — except `live`, the frontier the next round
      // still reads, whose retirement waits for that round's job
      def packLegs(live: RDD[InternalRow]): Unit = {
        val packed = sc.union(legs.toSeq)
          .coalesce(math.max(1, math.min(
            legs.map(_.getNumPartitions).max, sc.defaultParallelism)))
          .localCheckpoint()
        packed.count()
        legs.foreach(l => if (l ne live) l.unpersist(false))
        legs.clear()
        legs += packed
      }
      def distributedRound(step: DataFrame): Boolean = {
        // distinct mode: drop rows already seen — ONE anti-join of the
        // round's step against the union of legs, deduplicated after
        // (LeftAnti + Distinct is what Catalyst rewrites EXCEPT to,
        // with the same null-safe `<=>` keys — spelling it out lets us
        // pick the build side). Both sides are renamed POSITIONALLY to
        // fresh unique names, which also gives each side fresh attribute
        // ids, so resolution survives Catalyst's relation deduplication
        // even when the step projects a frontier column verbatim. The
        // optimizer sees only stats-less LogicalRDDs, so without a hint
        // every round pays a two-sided shuffle join; under the gate the
        // seen legs are broadcast instead.
        val delta =
          if (!distinctMode) step
          else {
            val sNames = cols.indices.map(i => s"__rec_s$i")
            val vNames = cols.indices.map(i => s"__rec_v$i")
            val seen = wrap(sc.union(legs.toSeq), schema).toDF(vNames: _*)
            val cond = cols.indices.map(i =>
              col(sNames(i)) <=> col(vNames(i))).reduce(_ && _)
            step.toDF(sNames: _*)
              .join(if (legBytes <= gate) broadcast(seen) else seen, cond,
                "left_anti")
              .distinct()
          }
        val (rdd, n, bytes) = materialize(delta)
        if (retireNext != null) {
          retireNext.unpersist(false)
          retireNext = null
        }
        if (n == 0) rdd.unpersist(false)
        else {
          legs += rdd
          legBytes += bytes
          frontier = wrap(rdd, schema)
          if (legs.length >= Engine.recursionCompactLegs) {
            packLegs(rdd)
            retireNext = rdd
          }
        }
        n > 0
      }

      // round 0 runs the base term; each later round the step
      var step = base1
      var rounds = 0
      var growing = true
      while (growing) {
        growing =
          if (driverTier) collectUnderGate(step) match {
            case Some(got) =>
              val fresh =
                if (distinctMode)
                  got.map(r => normalize(r).copy()).filter(seenRows.add)
                else got
              rows ++= fresh
              rowBytes += fresh.iterator.map(_.getSizeInBytes.toLong).sum
              frontier = broadcast(
                GraftSparkInternals.localRelation(session, fresh, schema))
              if (rowBytes > gate) handOver()
              fresh.nonEmpty
            case None =>
              handOver()
              distributedRound(step)
          }
          else distributedRound(step)
        if (growing) {
          rounds += 1
          if (rounds > maxRounds)
            throw new IllegalStateException(
              s"recursive CTE ${b.name} exceeded $maxRounds rounds — " +
                "add a depth bound to the recursive term (or raise " +
                "graft.recursion.maxRounds)")
          step = stepOver(frontier)
        }
      }
      if (driverTier)
        GraftSparkInternals.localRelation(session, rows.toSeq, schema)
      else {
        if (legs.length > 1) packLegs(null)
        wrap(legs.head, schema)
      }
    } catch {
      // a failed loop (the depth cap, say) returns no frame over legs
      case e: Throwable =>
        (legs ++ Option(retireNext)).foreach(_.unpersist(false))
        throw e
    } finally {
      cteBindings.set(saved)
      sc.setLocalProperty(ancestorsKey, prevAncestors)
      bindingRdds.foreach(_.unpersist(false))
    }
  }

  /** SQL set operations: positional alignment (left side's names win,
    * like ANSI), UNION dedups unless ALL — all four plan to Spark's
    * native union/intersect/except operators, so dedup is a hash agg
    * on the shuffled key, never a sort. */
  private[engine] def buildSetOp(so: SetOpStmt): DataFrame = {
    val l = buildDql(so.left)
    val r = buildDql(so.right)
    if (l.columns.length != r.columns.length)
      throw new IllegalArgumentException(
        s"set operands have ${l.columns.length} vs ${r.columns.length} columns")
    val r2 = r.toDF(l.columns: _*)
    so.op match {
      case "union" =>
        if (so.all) l.unionAll(r2) else l.unionAll(r2).distinct()
      case "intersect" =>
        if (so.all) l.intersectAll(r2) else l.intersect(r2)
      case "except" =>
        if (so.all) l.exceptAll(r2) else l.except(r2)
    }
  }

  /** Any DQL form → frame (SELECT, WITH, set-op chain). */
  private def buildDql(st: Statement): DataFrame = st match {
    case s: SelectStmt => buildSelect(s)
    case w: WithStmt => buildWith(w)
    case so: SetOpStmt => buildSetOp(so)
    case _ =>
      throw new IllegalStateException("expected a SELECT/WITH/set-op")
  }

  /** Views mid-expansion on this thread — guards against view cycles
    * (v1 over v2 over v1), which would otherwise recurse forever. */
  private val viewExpansion = new ThreadLocal[java.util.HashSet[String]] {
    override def initialValue() = new java.util.HashSet[String]
  }

  /** Expand a stored view: re-parse its SELECT text and build it
    * against the live catalog — a logical view, so filters/pruning
    * push straight through into the underlying scans. */
  private def viewDf(name: String, viewSql: String): DataFrame = {
    val seen = viewExpansion.get
    val key = name.toLowerCase
    if (!seen.add(key))
      throw new IllegalStateException(s"circular view reference: $name")
    try Parser.parse(viewSql) match {
      case st @ (_: SelectStmt | _: WithStmt | _: SetOpStmt) =>
        buildDql(st)
      case _ =>
        throw new IllegalStateException(s"view $name: body is not SELECT")
    } finally seen.remove(key)
  }

  private def resolveView(table: String): Option[(String, String)] =
    current.flatMap(_.views.find(_._1.equalsIgnoreCase(table)))

  /** Does `table`, if it is a stored view, reference `target`
    * (transitively through further views) in its body? Used by the
    * recursive-CTE linearity check; `expanding` breaks view cycles
    * (viewDf would reject those at build time anyway). A view body
    * that fails to parse returns false — the build will surface the
    * real error. */
  private def viewBodyReferences(table: String, target: String,
      expanding: Set[String]): Boolean = {
    val tl = table.toLowerCase
    !expanding(tl) && resolveView(table).exists { case (_, vsql) =>
      val body = try Some(Parser.parse(vsql))
        catch { case scala.util.control.NonFatal(_) => None }
      body.exists { st =>
        val refs = referencedTables(st)
        refs.exists(_.equalsIgnoreCase(target)) ||
          refs.exists(viewBodyReferences(_, target, expanding + tl))
      }
    }
  }

  /** What a table name resolves to: a frame (CTE binding > attached >
    * view) or, failing those, a scope-catalog table's canonical name. */
  private def lookup(table: String): Either[DataFrame, String] =
    cteBindings.get.get(table.toLowerCase)
      .orElse(attached.get(table.toLowerCase))
      .orElse(resolveView(table).map { case (vn, vsql) => viewDf(vn, vsql) })
      .toLeft(scope.resolve(table).map(_._2).getOrElse(
        throw new IllegalArgumentException(s"unknown table $table")))

  /** DataFrame for a table ([[lookup]]). A catalog table resolves
    * without asking Spark to rediscover it ([[catalogDf]]), over its
    * whole snapshot. */
  def tableDf(table: String): DataFrame = tableDf(table, None)

  /** [[tableDf]], with a catalog stamped edge read only over the UTC
    * days of `days` (inclusive). */
  private def tableDf(table: String, days: Option[DayWindow]): DataFrame =
    lookup(table).fold(identity, catalogDf(_, days))

  /** Column names of a table, in frame order. A catalog table answers
    * from the catalog ([[catalogSchema]]) without building a frame. */
  private def tableColumns(table: String): Seq[String] =
    lookup(table).fold(_.columns.toSeq, catalogSchema(_).fieldNames.toSeq)

  /** A catalog table's frame schema: the declared properties, plus the
    * `stamp_date` day-partition column last on stamped edges. */
  private def catalogSchema(name: String): StructType = {
    val base = Catalog.schemaOf(scope.propsOf(name))
    if (isStampedEdge(name)) base.add("stamp_date", DateType) else base
  }

  /** Frames resolved during the current DQL build, keyed by (snapshot
    * dir, day window); null outside one. Lives for one build only:
    * nothing is cached across statements, so a read never sees a
    * listing older than its own statement, and DML always resolves
    * fresh. */
  private val resolved =
    new ThreadLocal[mutable.Map[(Path, Option[DayWindow]), DataFrame]]

  /** Run one DQL build with a fresh resolution memo (nested builds —
    * views, CTEs, subqueries — share the outer one). */
  private def withResolutionMemo[A](build: => A): A =
    if (resolved.get != null) build
    else {
      resolved.set(mutable.Map.empty)
      try build finally resolved.remove()
    }

  /** Read a catalog table from its current snapshot directory without
    * Spark rediscovering it. The schema comes from the catalog, so no
    * footer is read; the directory is listed once here, on the driver:
    * a stamped edge keeps only its `stamp_date=` day directories inside
    * `days` (the default partition of null stamps only when there is no
    * window), any other table its data files. Only the snapshot's own
    * entries are read — never a sibling `v<k>/` that a rewrite of the
    * unversioned layout is writing beside them. The driver also takes
    * the data files of each chosen day directory, and hands every
    * chosen root with its files to the file index through a
    * `Engine.ListedFiles` cache, so Spark lists nothing, whatever the
    * window width or the file count. An empty selection is an empty
    * frame of the same schema. The file index is built here rather than
    * by `spark.read`, whose index files every read's listing in Spark's
    * process-wide `FileStatusCache` under a fresh client key, where it
    * stays until the cache's 250 MB cap evicts it: that would grow the
    * heap with every statement. */
  private def catalogDf(name: String, days0: Option[DayWindow]): DataFrame = {
    val s = scope
    val dir = s.tableDir(name)
    val stamped = isStampedEdge(name)
    val days = days0.filter(_ => stamped)
    def resolve(): DataFrame = {
      val schema = catalogSchema(name)
      // each chosen root (a day directory, or a data file of a table
      // that is not day-partitioned) with the data files under it
      val leaves =
        if (stamped)
          Engine.entries(dir).filter(p => Files.isDirectory(p) &&
            Engine.dayInWindow(p.getFileName.toString, days)).map { d =>
            new HPath(d.toUri) -> Engine.entries(d).flatMap(Engine.dataFile)
          }.filter(_._2.nonEmpty)
        else Engine.entries(dir).flatMap(Engine.dataFile)
          .map(f => f.getPath -> Seq(f))
      val df0 =
        if (leaves.isEmpty)
          spark.createDataFrame(java.util.List.of[Row](), schema)
        else {
          import org.apache.spark.sql.execution.datasources._
          val index = new InMemoryFileIndex(spark, leaves.map(_._1).sorted,
            Map("basePath" -> dir.toUri.toString), Some(schema),
            new Engine.ListedFiles(leaves.toMap))
          val partCols = index.partitionSchema.fieldNames.toSet
          // nullable data columns, as `spark.read` makes them
          val data = StructType(schema.filterNot(f => partCols(f.name))
            .map(_.copy(nullable = true)))
          spark.baseRelationToDataFrame(HadoopFsRelation(index,
            index.partitionSchema, data, None, new parquet.ParquetFileFormat,
            Map.empty)(spark))
        }
      // tag time/date columns in the schema METADATA: ns stamps are
      // plain longs in Spark, and this marker is what lets the binary
      // wire mode frame them with the reference's TIME tag instead of
      // INT (Wire.binaryRows). Metadata rides attribute references
      // through projections/aliases, so plain `select stamp` keeps it.
      s.propsOf(name).filter(p => p.typ == "time" || p.typ == "date")
        .foldLeft(df0) { (df, p) =>
          df.withMetadata(p.name, new org.apache.spark.sql.types
            .MetadataBuilder().putString("graft.nowType", p.typ).build())
        }
    }
    Option(resolved.get).fold(resolve())(
      _.getOrElseUpdate((dir, days), resolve()))
  }

  /** Serialize all writers of one table across sessions — the same
    * registry lock the PK-checked vertex insert takes. Appends must
    * not interleave with rewrite()'s delete+swap, or a concurrently
    * appended file is silently deleted with the old directory. */
  private def withTableWriteLock[A](scopeName: String, table: String)(
      body: => A): A = {
    val l = Engine.lockRegistry.computeIfAbsent(
      s"$scopeName/__table_$table", _ => new Engine.SessionRWLock())
    l.acquire(write = true)
    try body finally l.release(write = true)
  }

  /** Central table writer: stamped edges are stored hive-partitioned
    * by UTC day of their stamp — the lakehouse analog of the
    * reference's per-file time periods (store.h:172); stamp-range
    * queries then prune whole days before listing files. */
  private def writeTable(name: String, df: DataFrame, dir: String,
                         mode: String): Unit =
    if (isStampedEdge(name))
      // NOTE (r16, measured and left alone): a REBALANCE on stamp_date
      // before this partitionBy write (guide §6's small-files cure —
      // a W-task insert over D days lands W×D fragments) was tried and
      // LOST on the same box: q186_proc_exec 2.88 s plain vs 3.23 s
      // rebalanced (reps=3 medians, 24 GB heap) — at this load size
      // the extra AQE exchange costs more than the fragment files save
      // the downstream stamp-pruned scans. At warehouse scale the
      // rebalance belongs in a compaction pass, not on the ingest hot
      // path.
      df.withColumn("stamp_date", NowFunctions.stampDay(col("stamp")))
        .write.partitionBy("stamp_date").mode(mode).parquet(dir)
    else df.write.mode(mode).parquet(dir)

  /** The value `e` gives declared column `p` in INSERT, UPDATE and
    * MERGE: a string literal for a TIME/DATE column parses as an ISO
    * stamp, and the value casts to the column's storage type. */
  private def columnValue(p: Prop, e: Expr, ctx: ExprBuilder.Ctx): Column =
    ExprBuilder.buildAs(e, Some(p.typ), ctx).cast(Catalog.sparkType(p.typ))

  // ── INSERT (reference query/stmt.c:2371-2448, scope/dml.c) ────────
  private def insert(ins: InsertStmt): Result = {
    val s = scope
    // legacy context-insert: INSERT INTO store (edge, origin, …) —
    // re-route to the edge named by the `edge` column value
    val (target, cols, vals) =
      if (ins.cols.exists(_.equalsIgnoreCase("edge"))) {
        val i = ins.cols.indexWhere(_.equalsIgnoreCase("edge"))
        val en = ins.values(i) match {
          case Lit(s0: String, _) => s0
          case _ => return Status(ok = false, "edge name must be a string")
        }
        val keep = ins.cols.zip(ins.values).patch(i, Nil, 1).map {
          case (c, v) if c.equalsIgnoreCase("timestamp") => ("stamp", v)
          case cv => cv
        }
        (en, keep.map(_._1), keep.map(_._2))
      } else (ins.target, ins.cols, ins.values)

    val (kind, name) = s.resolve(target).getOrElse(
      return Status(ok = false, s"unknown table $target"))
    val props = s.propsOf(name)
    // field-list-less `INSERT INTO t VALUES (…)` (reference
    // nowdbsql.y:312): values map positionally onto the full model
    val colsEff = if (cols.isEmpty) props.map(_.name) else cols
    val byName = props.map(p => p.name.toLowerCase -> p).toMap
    val colProps = colsEff.map(c => byName.getOrElse(c.toLowerCase,
      return Status(ok = false, s"unknown column $c in $name")))
    if (colsEff.size != vals.size)
      return Status(ok = false, "column/value count mismatch")

    val valueByCol: Map[String, Column] = colProps.zip(vals).map {
      case (p, v) => p.name.toLowerCase -> columnValue(p, v, Map.empty)
    }.toMap
    val rowCols = props.map(p =>
      valueByCol.getOrElse(p.name.toLowerCase,
        lit(null).cast(Catalog.sparkType(p.typ))).as(p.name))
    // ONE slice: spark.range(1) defaults to defaultParallelism empty
    // partitions, so every single-row INSERT ran a 32-task job (and a
    // 32-task write) for one row — measured as the dominant fixed cost
    // of the DML-heavy engine queries at 32 cores (guide §2: task
    // width must follow data size, and this frame is one row)
    val row = spark.range(0, 1, 1, 1).select(rowCols: _*)

    if (kind == "type") { // vertex PK uniqueness (dml.c:116-168)
      val pk = s.types(name).pk.name
      if (!valueByCol.contains(pk.toLowerCase))
        return Status(ok = false, s"missing primary key $pk")
      // serialize check+append across sessions — the reference guards
      // vertex inserts with scope locks too (SURVEY §7.3)
      withTableWriteLock(s.name, name) {
        val dir = s.tableDir(name)
        if (Files.exists(dir)) {
          val pkVal = row.select(col(pk)).collect()(0).get(0)
          val clash = tableDf(name).filter(col(pk) === lit(pkVal))
            .limit(1).count()
          if (clash > 0)
            return Status(ok = false, s"duplicate key $pkVal in $name")
        }
        row.write.mode("append").parquet(s.tableDir(name).toString)
      }
    } else {
      withTableWriteLock(s.name, name) {
        writeTable(name, row, s.tableDir(name).toString, "append")
      }
    }
    Status(ok = true)
  }

  /** INSERT … SELECT (reference: documented "not yet",
    * sql.tex:1934-1950): run the select, align its columns to the
    * target positionally, cast to declared types, enforce vertex PK
    * uniqueness set-wise (dedupe within + anti-join existing). */
  private def insertSelect(target: String, cols: Seq[String],
                           sel: SelectStmt): Result = {
    val s = scope
    val (kind, name) = s.resolve(target).getOrElse(
      return Status(ok = false, s"unknown table $target"))
    val props = s.propsOf(name)
    val byName = props.map(p => p.name.toLowerCase -> p).toMap
    val colProps = cols.map(c => byName.getOrElse(c.toLowerCase,
      return Status(ok = false, s"unknown column $c in $name")))
    val src = buildSelect(sel)
    if (src.columns.length != cols.length)
      return Status(ok = false,
        s"select yields ${src.columns.length} columns for ${cols.length}")
    val aligned = src.select(src.columns.zip(colProps).map {
      case (c, p) => col(c).cast(Catalog.sparkType(p.typ)).as(p.name)
    }: _*)
    val provided = colProps.map(_.name.toLowerCase).toSet
    val full = aligned.select(props.map(p =>
      if (provided(p.name.toLowerCase)) col(p.name)
      else lit(null).cast(Catalog.sparkType(p.typ)).as(p.name)): _*)
    if (kind == "type" && !provided(s.types(name).pk.name.toLowerCase))
      return Status(ok = false, s"missing primary key ${s.types(name).pk.name}")
    // the PK anti-join frame must be BUILT inside the lock: the scan
    // snapshots its file listing at DataFrame creation, so planning it
    // earlier would dedup against pre-lock state and let two
    // concurrent INSERT..SELECTs both pass the check (and a concurrent
    // rewrite could GC the version dir the stale plan points at)
    withTableWriteLock(s.name, name) {
      val out = if (kind == "type") {
        val pk = s.types(name).pk.name
        val deduped = full.dropDuplicates(pk)
        if (Files.exists(s.tableDir(name)))
          deduped.join(tableDf(name).select(col(pk)), Seq(pk), "left_anti")
        else deduped
      } else full
      writeTable(name, out, s.tableDir(name).toString, "append")
    }
    Status(ok = true)
  }

  /** Rewrite a table in place (DELETE/UPDATE): materialize the
    * transformed frame to a sibling dir, then swap — the parquet
    * analog of the reference's documented tombstoning intent
    * (sql.tex:2017-2034). At lakehouse scale this is Delta/Iceberg
    * MERGE territory; plain parquet gets copy-on-write. */
  private def rewrite(target: String, runOnEmpty: Boolean = false)(
      f: (DataFrame, ExprBuilder.Ctx) => DataFrame): Result = {
    val s = scope
    val (_, name) = s.resolve(target).getOrElse(
      return Status(ok = false, s"unknown table $target"))
    // The whole read→transform→flip must hold the table write lock:
    // a concurrent PK-checked INSERT appending between the snapshot
    // and the version flip would be silently lost otherwise. Readers
    // need no lock: they resolved their snapshot dir already, and that
    // generation survives until the NEXT rewrite GCs it.
    withTableWriteLock(s.name, name) {
      val cur = s.tableDir(name)
      // DELETE/UPDATE on a never-written table are no-ops; MERGE must
      // still run (its NOT MATCHED arm inserts into the empty frame)
      if (!Files.exists(cur) && !runOnEmpty)
        return Status(ok = true, "empty table")
      val props = s.propsOf(name)
      val base = tableDf(name).select(props.map(p => col(p.name)): _*)
      val out = f(base, typeCtx(name))
      val root = s.tableRoot(name)
      val curV = s.currentVersion(name).getOrElse(0L)
      val nextV = curV + 1
      writeTable(name, out, root.resolve(s"v$nextV").toString, "overwrite")
      // atomic pointer flip
      val tmpMark = root.resolve("_version.tmp")
      Files.writeString(tmpMark, nextV.toString)
      Files.move(tmpMark, root.resolve("_version"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // GC generations older than the one just replaced (keep curV for
      // in-flight readers): versioned dirs v<k> with k < curV, and —
      // once v2 exists — any legacy v0 loose files in the root
      def rmTree(p: java.nio.file.Path): Unit =
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(q => Files.delete(q))
      val children = Files.list(root)
      try children.forEach { child =>
        val n = child.getFileName.toString
        val isVersionDir = n.matches("v\\d+")
        if (isVersionDir && n.drop(1).toLong < curV) rmTree(child)
        else if (!isVersionDir && n != "_version" && nextV >= 2) rmTree(child)
      } finally children.close()
      Status(ok = true)
    }
  }

  // ── CSV LOAD (reference scope/loader.c; LOAD stmt sql §2.1) ──────
  private def load(ld: LoadStmt): Result = {
    val s = scope
    val (kind, name) = s.resolve(ld.target).getOrElse(
      return Status(ok = false, s"unknown table ${ld.target}"))
    // AS-clause guard: the declared layout must match what the
    // catalog resolved ("vertex"/"type" for types, "edge" for edges,
    // or the type name itself)
    ld.asKind.foreach { k =>
      val okAs = k == kind || (k == "vertex" && kind == "type") ||
        k == name.toLowerCase
      if (!okAs) return Status(ok = false,
        s"LOAD AS $k does not match $kind $name")
    }
    val props = s.propsOf(name)
    // header=true also for "ignore": the first line is skipped either
    // way; "ignore" just maps columns positionally instead of by name.
    // JSONL reads with an all-string schema (typed casts below decide
    // validity per row, same as csv) plus a corrupt-record column so
    // malformed lines land in the error report instead of becoming
    // all-null rows. JSON fields always map by name.
    val jsonl = ld.format == "json"
    val raw0 =
      if (jsonl)
        spark.read
          .schema(org.apache.spark.sql.types.StructType(
            props.map(p => org.apache.spark.sql.types.StructField(
              p.name.toLowerCase,
              org.apache.spark.sql.types.StringType)) :+
              org.apache.spark.sql.types.StructField("_corrupt_record",
                org.apache.spark.sql.types.StringType)))
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(ld.path)
      else spark.read
        .option("header", ld.header != "none")
        .option("mode", "PERMISSIVE")
        .csv(ld.path) // read everything as string; casts type per row
    val raw = raw0.toDF(raw0.columns.map(_.toLowerCase).toIndexedSeq: _*)
    val positional = !jsonl && ld.header != "use"
    val srcCols: Seq[(Prop, Column)] = props.zipWithIndex.map {
      case (p, i) =>
        val src =
          if (positional)
            if (i < raw.columns.length) col(raw.columns(i)) else lit(null)
          else if (raw.columns.contains(p.name.toLowerCase))
            col(p.name.toLowerCase)
          else lit(null)
        (p, src)
    }
    // ANSI mode (Spark 4 default) makes bare casts throw on malformed
    // cells — guard every cast so bad rows become error-report rows,
    // like the reference's per-row error file (loader.c).
    def typed(p: Prop, src: Column): Column = p.typ match {
      case "time" | "date" =>
        // ISO-8601; date-only and sub-second both allowed
        NowFunctions.tsToStamp(coalesce(
          try_to_timestamp(src, lit("yyyy-MM-dd'T'HH:mm:ss")),
          try_to_timestamp(src, lit("yyyy-MM-dd HH:mm:ss")),
          try_to_timestamp(src, lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")),
          try_to_timestamp(src, lit("yyyy-MM-dd"))))
      case "int" | "uint" =>
        when(src.rlike("^[+-]?[0-9]+$"), src.cast("long"))
      case "float" =>
        when(src.rlike("^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?$"),
          src.cast("double"))
      case "bool" =>
        when(lower(src).isin("true", "false"), lower(src) === "true")
      case t => src.cast(Catalog.sparkType(t))
    }
    val castCols = srcCols.map { case (p, src) => typed(p, src).as(p.name) }
    // errors: any non-null source cell that fails its typed cast
    // (plus, for JSONL, lines the json parser could not read at all)
    val badCast = srcCols.map { case (p, src) =>
      typed(p, src).isNull && src.isNotNull
    }.reduce(_ || _)
    val badPred =
      if (jsonl) badCast || col("_corrupt_record").isNotNull else badCast
    val withFlag = raw.withColumn("_bad", badPred)
    val errors = withFlag.filter(col("_bad")).drop("_bad")
    val good = withFlag.filter(!col("_bad")).drop("_bad")
    val errCount = errors.count()
    ld.errorsFile.foreach { ef =>
      if (errCount > 0)
        errors.coalesce(1).write.mode("overwrite").csv(ef)
    }
    val out = good.select(castCols: _*)
    val loaded = out.count()
    withTableWriteLock(s.name, name) {
      writeTable(name, out, s.tableDir(name).toString, "append")
    }
    Report(loaded, errCount)
  }

  // ── SELECT → DataFrame (the "planner", SURVEY §3.1 steps 3-4) ────
  private def containsAgg(e: Expr): Boolean = e match {
    case FnCall(n, args) =>
      Parser.isAggregate(n) || args.exists(containsAgg)
    case _ => children(e).exists(containsAgg)
  }

  /** Inline select-item aliases into an expression (HAVING may refer
    * to output aliases — `having q > 5` with `sum(x) as q` — which
    * must resolve to the underlying aggregate when the predicate is
    * evaluated inside the aggregation). */
  private def substAliases(e: Expr, aliases: Map[String, Expr]): Expr =
    rewriteExpr(e) {
      case Field(n, None) if aliases.contains(n.toLowerCase) =>
        aliases(n.toLowerCase)
    }

  private def defaultName(e: Expr, idx: Int): String = e match {
    case Field(n, _) => n
    case FnCall(n, _) => s"${n}_$idx"
    case _ => s"col_$idx"
  }

  /** The UTC days a WHERE AST's conjunctive bounds on the FROM table's
    * `stamp` can match (string literals parse as ISO stamps, integer
    * literals are ns stamps); `alias` is the FROM alias, and a `stamp`
    * qualified with any other alias does not count. Only top-level AND
    * conjuncts contribute — disjunctions disable pruning, like the
    * reference's period walk.
    * Bounds are widened to whole days: the stamp predicate itself still
    * filters the rows. */
  private def stampPeriod(w: Expr, alias: String): Option[DayWindow] = {
    def conjuncts(e: Expr): Seq[Expr] = e match {
      case BinOp("and", l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    var lo = Long.MinValue
    var hi = Long.MaxValue
    var found = false
    def bound(op: String, t: Long): Unit = op match {
      case ">=" | ">" => lo = math.max(lo, t); found = true
      case "<=" | "<" => hi = math.min(hi, t); found = true
      case "=" =>
        lo = math.max(lo, t); hi = math.min(hi, t); found = true
      case _ =>
    }
    def flip(op: String): String = op match {
      case ">=" => "<="; case ">" => "<"
      case "<=" => ">="; case "<" => ">"
      case o => o
    }
    def isStamp(f: Field): Boolean = f.name.equalsIgnoreCase("stamp") &&
      f.qualifier.forall(_.equalsIgnoreCase(alias))
    def stampOf(l: Lit): Option[Long] = l match {
      case Lit(s: String, "string") => ExprBuilder.parseTime(s)
      case Lit(t: Long, _) => Some(t)
      case _ => None
    }
    conjuncts(w).foreach {
      case BinOp(op, f: Field, l: Lit) if isStamp(f) =>
        stampOf(l).foreach(bound(op, _))
      case BinOp(op, l: Lit, f: Field) if isStamp(f) =>
        stampOf(l).foreach(bound(flip(op), _))
      case _ =>
    }
    if (!found) None
    else Some((
      if (lo == Long.MinValue) LocalDate.MIN else Engine.nsToDay(lo),
      if (hi == Long.MaxValue) LocalDate.MAX else Engine.nsToDay(hi)))
  }

  private def orderCols(ob: Seq[(Ast.Field, Boolean)]): Seq[Column] =
    ob.map { case (f, a) => if (a) asc(f.name) else desc(f.name) }

  /** Typing context for a whole select: from-table columns bare and
    * alias-qualified, edge-joined vertex columns qualified only —
    * the one buildSelectCore types its expressions with. */
  private def selectCtx(sel: SelectStmt): ExprBuilder.Ctx =
    sel.from match {
      case None => Map.empty
      case Some(fromName) =>
        val fromAlias = sel.fromAlias.getOrElse(fromName)
        val base0 = typeCtx(fromName)
        // the TIMESTAMP field keyword resolves to the stamp column on
        // stamped edges (buildSelectCore's rewrite) — type it too
        val base =
          if (isStampedEdge(fromName) && !base0.contains("timestamp"))
            base0 ++ base0.get("stamp").map("timestamp" -> _)
          else base0
        base ++ base.map { case (k, v) =>
          s"${fromAlias.toLowerCase}.$k" -> v } ++
          sel.joins.flatMap { j =>
            val vAlias = j.alias.getOrElse(j.typeName)
            typeCtx(j.typeName).map { case (k, v) =>
              s"${vAlias.toLowerCase}.$k" -> v }
          } ++
          sel.ansiJoins.flatMap { aj =>
            val aAlias = aj.alias.getOrElse(aj.table)
            typeCtx(aj.table).map { case (k, v) =>
              s"${aAlias.toLowerCase}.$k" -> v }
          } ++
          // r13: joined tables' columns are also visible UNQUALIFIED
          // (comma joins made `o_orderdate >= '1996-01-01'` with
          // orders as a joined table a routine spelling) — add their
          // bare names too, without letting them shadow the FROM
          // table's own columns on a name collision. The shadow test
          // uses the FROM table's ACTUAL column set, not the
          // kind-limited typeCtx (advice finding: a decimal/date FROM
          // column would otherwise lose to a joined table's same-named
          // column); and a bare name whose KIND disagrees across two
          // joined tables is dropped as ambiguous rather than letting
          // map order decide (advice finding) — qualified references
          // to it still type fine.
          {
            val fromCols =
              tryColsOf(fromName).getOrElse(base.keySet.toSet)
            val joinedBare = sel.ansiJoins
              .flatMap(aj => typeCtx(aj.table).toSeq)
              .filterNot { case (k, _) =>
                base.contains(k) || fromCols(k) }
            val ambiguous = joinedBare.groupBy(_._1).collect {
              case (k, vs) if vs.map(_._2).distinct.size > 1 => k
            }.toSet
            joinedBare.filterNot { case (k, _) => ambiguous(k) }
          }
    }

  /** Re-attach the `graft.nowType` marker to COMPUTED time-typed
    * output columns. Schema metadata only rides plain attribute
    * references through a plan, so `max(at)` or `at + 1` would reach
    * the binary wire untagged and frame as INT(5) — the reference
    * tags by the resolved expression type (query/row.c:138-207), so
    * computed time values must stay TIME(3). Plain fields and `*`
    * keep their scan-attached metadata and are skipped. */
  private def tagTimeItems(df: DataFrame, sel: SelectStmt): DataFrame = {
    lazy val ctx = selectCtx(sel)
    sel.items.zipWithIndex.foldLeft(df) { case (d, (it, i)) =>
      it.expr match {
        case _: Field | _: Star => d // attribute refs carry metadata
        case e => ExprBuilder.timeKind(e, ctx) match {
          case Some(k) =>
            val nm = it.alias.getOrElse(defaultName(e, i))
            // exactly-once guard: withMetadata on a duplicated output
            // name (select max(at) as x, min(at) as x) would throw an
            // ambiguity error — such a column stays untagged instead.
            // Case-INSENSITIVE, matching Spark's resolver: aliases
            // X and x collide there even though the strings differ.
            if (d.columns.count(_.equalsIgnoreCase(nm)) == 1)
              d.withMetadata(nm, new org.apache.spark.sql.types
                .MetadataBuilder().putString("graft.nowType", k).build())
            else d
          case None => d
        }
      }
    }
  }

  /** `e` with ANSI empty-input `avg`: NULL over no rows, as DuckDB reads
    * it, where the dialect's own `avg` reads 0 (SURVEY §2.4). Both scalar
    * subquery paths, the correlated one and the inlined one, build their
    * item through this. */
  private def ansiAvg(e: Expr, ctx: ExprBuilder.Ctx): Expr = rewriteExpr(e) {
    case FnCall(n, Seq(x)) if n.equalsIgnoreCase("avg") ||
        n.equalsIgnoreCase("average") =>
      Compiled(avg(ExprBuilder.build(x, ctx)), Some("float"))
  }

  /** `sel` as a frame. A `scalar` select (an uncorrelated scalar
    * subquery) reads `avg` the ANSI way ([[ansiAvg]]) when ungrouped and
    * without HAVING, the shape the correlated path always builds: a
    * group is never empty. */
  private[engine] def buildSelect(sel: SelectStmt,
                                  scalar: Boolean = false): DataFrame = {
    // Derived tables `FROM (SELECT …) alias` bind first, as transient
    // tables scoped to this build (Datasets analyze eagerly, so the
    // bindings only need to live through plan construction — which
    // includes tagTimeItems' typing pass) — every later phase then
    // sees the alias as an ordinary table. Later bindings see earlier
    // ones, like CTEs.
    if (sel.derived.nonEmpty) {
      val saved = cteBindings.get
      try {
        sel.derived.foreach { case (n, ds) =>
          cteBindings.set(
            cteBindings.get + (n.toLowerCase -> buildSelect(ds)))
        }
        return buildSelect(sel.copy(derived = Seq.empty), scalar)
      } finally cteBindings.set(saved)
    }
    val built =
      if (scalar && sel.groupBy.isEmpty && sel.having.isEmpty) {
        val ctx = selectCtx(sel)
        sel.copy(items = sel.items.map(it =>
          it.copy(expr = ansiAvg(it.expr, ctx))))
      } else sel
    val base = tagTimeItems(buildSelectNoLimit(built), sel)
    val off = sel.offset.fold(base)(m => base.offset(m.toInt))
    sel.limit.fold(off)(n => off.limit(n.toInt))
  }

  /** Evaluate an uncorrelated scalar subquery to a literal — exactly
    * one row, one column; a bounded (1×1) collect by construction. */
  private def evalScalar(sub: SelectStmt): Lit = {
    val df =
      try buildSelect(sub, scalar = true)
      catch {
        // a scalar correlated to a scope this engine cannot thread
        // (qualified with a name outside the subquery's own aliases)
        // reaches this standalone build, where its outer refs cannot
        // resolve — name the actual limitation. An ordinary resolver
        // failure (a typo'd column, no outside qualifiers anywhere)
        // must NOT get the correlation diagnosis (review finding):
        // rethrow it as a plain scalar-subquery failure instead.
        case e: org.apache.spark.sql.AnalysisException =>
          val ownAliases =
            sub.from.map(f => sub.fromAlias.getOrElse(f).toLowerCase)
              .toSet ++
              sub.joins.map(j =>
                j.alias.getOrElse(j.typeName).toLowerCase) ++
              sub.ansiJoins.map(a =>
                a.alias.getOrElse(a.table).toLowerCase)
          val refsOutside =
            (sub.where.toSeq.flatMap(fieldsOf) ++
              sub.items.flatMap(it => fieldsOf(it.expr)) ++
              sub.having.toSeq.flatMap(fieldsOf))
              .exists(_.qualifier.exists(q => !ownAliases(q.toLowerCase)))
          if (refsOutside)
            throw new IllegalArgumentException(
              "scalar subquery could not be evaluated standalone " +
                "(correlated scalar subqueries are only supported " +
                "against the top-level query or the directly " +
                s"enclosing subquery): ${e.getMessage}")
          else throw new IllegalArgumentException(
            s"scalar subquery failed: ${e.getMessage}")
      }
    if (df.columns.length != 1)
      throw new IllegalArgumentException(
        s"scalar subquery must return one column, got ${df.columns.length}")
    val rows = df.limit(2).collect()
    if (rows.length != 1)
      throw new IllegalArgumentException(
        s"scalar subquery returned ${rows.length} rows, expected 1")
    rows(0).get(0) match {
      case null => Lit(null, "null")
      case v: java.lang.Long => Lit(v.longValue, "uint")
      case v: java.lang.Integer => Lit(v.longValue, "uint")
      case v: java.lang.Short => Lit(v.longValue, "uint")
      case v: java.lang.Double => Lit(v.doubleValue, "float")
      case v: java.lang.Float => Lit(v.doubleValue, "float")
      case v: String => Lit(v, "string")
      case v: java.lang.Boolean => Lit(v.booleanValue, "bool")
      case v: java.math.BigDecimal => Lit(v.doubleValue, "float")
      case other => Lit(other, "scalar")
    }
  }

  /** Inline every fully UNcorrelated ScalarSelect as its evaluated
    * literal; a scalar correlated to ANY enclosing scope — the
    * statement itself or a subquery we are currently inside (`outers`
    * is innermost-first) — is left in place for Catalyst.
    * Descending into an IN/EXISTS subquery pushes that subquery onto
    * the scope stack, so a scalar inside it that references the
    * subquery's own table is recognized as correlated there instead
    * of being misclassified against the top scope (r11 verdict task:
    * scalars correlated to an enclosing subquery). */
  private def substScalars(e: Expr, outers: Seq[SelectStmt]): Expr =
    rewriteExpr(e) {
      case ss @ ScalarSelect(sub) =>
        // a scope that can PROVE the name resolves nowhere throws
        // UnknownColumn — but an outer scope further up may still
        // resolve it, so the classification only fails this scope;
        // if no scope correlates, evalScalar surfaces the resolver's
        // own clean failure
        if (outers.exists(o =>
            try isCorrelatedSub(sub, o)
            catch { case _: Engine.UnknownColumn => false })) ss
        else evalScalar(sub)
      case InSelect(x, sub, n) => InSelect(substScalars(x, outers),
        sub.copy(where = sub.where.map(substScalars(_, sub +: outers))), n)
      case ExistsSel(sub, n) => ExistsSel(
        sub.copy(where = sub.where.map(substScalars(_, sub +: outers))), n)
    }

  private def conjuncts(e: Expr): Seq[Expr] = e match {
    case BinOp("and", l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  private def containsInSelect(e: Expr): Boolean = e match {
    case _: InSelect | _: ExistsSel => true
    case _ => children(e).exists(containsInSelect)
  }

  /** Does `e` hold a compiled correlated scalar subquery? */
  private def hasSubquery(e: Expr): Boolean =
    e.isInstanceOf[Compiled] || children(e).exists(hasSubquery)

  private def containsScalarSelect(e: Expr): Boolean =
    e.isInstanceOf[ScalarSelect] || children(e).exists(containsScalarSelect)

  private def fieldsOf(e: Expr): Seq[Field] = e match {
    case f: Field => Seq(f)
    case _ => children(e).flatMap(fieldsOf)
  }

  /** fieldsOf, but ALSO descending into nested subqueries (their
    * select items, WHEREs, join conditions, GROUP BY and HAVING) —
    * used by the reaches-outermost rejection, which must see a deep
    * outer reference wherever it hides (advice finding: the shallow
    * scan let refs buried one subquery deeper die later as a
    * misleading unknown-column error). */
  private def deepFields(e: Expr): Seq[Field] = e match {
    case f: Field => Seq(f)
    case InSelect(x, s2, _) => deepFields(x) ++ deepFieldsSel(s2)
    case ExistsSel(s2, _) => deepFieldsSel(s2)
    case ScalarSelect(s2) => deepFieldsSel(s2)
    case _ => children(e).flatMap(deepFields)
  }
  private def deepFieldsSel(s: SelectStmt): Seq[Field] =
    s.items.map(_.expr).flatMap(deepFields) ++
      s.where.toSeq.flatMap(deepFields) ++
      s.ansiJoins.map(_.on).flatMap(deepFields) ++
      s.groupBy.flatMap(deepFields) ++
      s.having.toSeq.flatMap(deepFields)

  /** Every alias visible in `s` or any subquery nested in it. */
  private def deepAliases(s: SelectStmt): Set[String] =
    outerQualifiers(s) ++ deepSubSelects(s).flatMap(outerQualifiers)
  /** Every column name owned by a table of `s` or of any subquery
    * nested in it (best effort — unresolvable names contribute
    * nothing). */
  private def deepCols(s: SelectStmt): Set[String] =
    (s +: deepSubSelects(s)).flatMap(sel =>
      (sel.from.toSeq ++
        sel.ansiJoins.map(_.table))
        .flatMap(t => tryColsOf(t).getOrElse(Set.empty))).toSet
  /** IMMEDIATE subquery SELECTs in expression position. */
  private def subSelectsOf(e: Expr): Seq[SelectStmt] = e match {
    case InSelect(x, s2, _) => subSelectsOf(x) :+ s2
    case ExistsSel(s2, _) => Seq(s2)
    case ScalarSelect(s2) => Seq(s2)
    case _ => children(e).flatMap(subSelectsOf)
  }
  private def immediateSubSelects(s: SelectStmt): Seq[SelectStmt] =
    (s.items.map(_.expr) ++ s.where.toSeq ++ s.ansiJoins.map(_.on) ++
      s.groupBy ++ s.having.toSeq).flatMap(subSelectsOf)
  private def deepSubSelects(s: SelectStmt): Seq[SelectStmt] =
    immediateSubSelects(s).flatMap(x => x +: deepSubSelects(x))

  /** Every table name a statement references, at any depth — FROM,
    * joins, derived-table bodies and expression-position subqueries.
    * Used for recursive-CTE detection (a binding referencing its own
    * name) and the mutual-recursion rejection; shadowing precision is
    * not needed because the recursive path rejects buried
    * self-references by name anyway. */
  private def referencedTables(st: Statement): Seq[String] = st match {
    case s: SelectStmt =>
      s.from.toSeq ++ s.ansiJoins.map(_.table) ++
        s.joins.map(_.typeName) ++
        s.derived.flatMap(d => referencedTables(d._2)) ++
        immediateSubSelects(s).flatMap(referencedTables)
    case SetOpStmt(_, _, l, r) =>
      referencedTables(l) ++ referencedTables(r)
    case WithStmt(bs, body, _) =>
      bs.flatMap(b => referencedTables(b.stmt)) ++ referencedTables(body)
    case _ => Seq.empty
  }

  /** The ACTUAL lowercased column set of a table (catalog, attached,
    * CTE or view) — unlike typeCtx, which is kind-limited
    * (kindsFromSchema omits decimal/timestamp/date/array columns), so
    * it is the right membership test for "is a base column". None
    * when the name doesn't resolve; only resolution failures are
    * swallowed — genuine errors (OOM, interrupts) propagate
    * (advice finding: a blanket Throwable catch masked them). */
  private def tryColsOf(t: String): Option[Set[String]] =
    try Some(tableColumns(t).map(_.toLowerCase).toSet)
    catch {
      // NonFatal: any resolution failure (bad name, broken stored
      // view re-parsed via resolveView → ParseError, unreadable
      // parquet → IO error) degrades to "columns unknown", which is
      // the contract of this best-effort probe; only VM-fatal errors
      // (OOM, interrupts) propagate (advice finding: the narrowed
      // 3-type catch turned a ParseError from a broken view into a
      // hard failure of a heuristic scope check)
      case scala.util.control.NonFatal(_) => None
    }

  /** Qualifiers visible on the outer side of `sel` (FROM alias plus
    * edge-join and ANSI-join aliases), lowercase. */
  private def outerQualifiers(sel: SelectStmt): Set[String] =
    sel.from.map(f => sel.fromAlias.getOrElse(f).toLowerCase).toSet ++
      sel.joins.map(j => j.alias.getOrElse(j.typeName).toLowerCase) ++
      sel.ansiJoins.map(a => a.alias.getOrElse(a.table).toLowerCase)

  /** Does the subquery's WHERE reference the outer scope? Innermost
    * scope wins, as in standard SQL: a field qualified with the inner
    * alias, or an unqualified name the inner table has, is an inner
    * ref; a field qualified with an outer alias, or an unqualified
    * name only the outer scope resolves, is a correlation. */
  private def isCorrelatedSub(sub: SelectStmt,
      outerSel: SelectStmt): Boolean =
    sub.from.isDefined && sub.where.isDefined && {
      val innerAlias = sub.fromAlias.getOrElse(sub.from.get).toLowerCase
      // the subquery's OWN join aliases are part of its inner scope —
      // a qualifier naming one of them is never a correlation, and
      // when the sub has joins an unqualified name can resolve to any
      // joined table, so it must ride the uncorrelated buildSelect
      // path rather than be misread as an outer reference
      val subAliases = Set(innerAlias) ++
        sub.joins.map(j => j.alias.getOrElse(j.typeName).toLowerCase) ++
        sub.ansiJoins.map(a => a.alias.getOrElse(a.table).toLowerCase)
      val hasEdgeJoins = sub.joins.nonEmpty
      var innerKnown = true
      def colsOf(t: String): Set[String] =
        tryColsOf(t).getOrElse {
          innerKnown = false; Set.empty[String] }
      // the sub's inner scope is the UNION of all its tables' columns
      // (FROM + ANSI/comma joins): with joins present an unqualified
      // name must check against the whole union, or a multi-table
      // subquery's own columns would be misread as correlations —
      // TPC-H q2's scalar comma-joins four tables (r13)
      val innerCols = colsOf(sub.from.get) ++
        sub.ansiJoins.flatMap(a => colsOf(a.table))
      val outers = outerQualifiers(outerSel) -- subAliases
      // outer-scope column names, resolved lazily (only consulted for
      // unqualified names the inner table lacks); (cols, allResolved)
      lazy val outerColInfo: (Set[String], Boolean) = {
        val tables = outerSel.from.toSeq ++
          outerSel.joins.map(_.typeName) ++
          outerSel.ansiJoins.map(_.table)
        var all = true
        val cols = tables.flatMap { t =>
          tryColsOf(t).getOrElse { all = false; Set.empty[String] }
        }.toSet
        (cols, all)
      }
      fieldsOf(sub.where.get).exists(f => f.qualifier match {
        case Some(q) =>
          val ql = q.toLowerCase; !subAliases(ql) && outers(ql)
        case None =>
          // edge joins keep the conservative pre-r13 behavior (their
          // vertex columns aren't folded into the union, so an
          // unqualified name could be either scope's); with an
          // unresolvable inner schema, joined subs likewise route
          // down the uncorrelated build path as before. Otherwise an
          // unqualified name resolving in NO inner table is an outer
          // reference.
          !hasEdgeJoins &&
            (if (!innerKnown)
              sub.ansiJoins.isEmpty
            else !innerCols(f.name.toLowerCase)) && {
            // a name resolving in NEITHER scope is a typo'd column,
            // not a correlation — routing it down the correlated
            // build would fail with a confusing scoping error
            // (review finding). Only provable when both scopes'
            // schemas resolved.
            val (oCols, oKnown) = outerColInfo
            if (innerKnown && oKnown && !oCols(f.name.toLowerCase))
              throw new Engine.UnknownColumn(
                s"unknown column ${f.name} (resolves in neither the " +
                  "subquery's scope nor the enclosing scope)")
            true
          }
      })
    }

  /** Scoping of one correlated subquery against the query it sits in:
    * innermost-first name resolution (a field is the subquery's own
    * when one of its tables has it, an outer reference otherwise) and
    * the dialect's shape rules. The subquery itself is built by
    * [[buildSelectNoLimit]] with its outer references marked, and
    * Catalyst decorrelates it. */
  private class CorrScope(sub: SelectStmt, outerSel: SelectStmt) {
    /** The subquery's own tables, FROM first: (alias, table name). */
    private val innerTables: Seq[(String, String)] = {
      val from = sub.from.getOrElse(throw new IllegalArgumentException(
        "EXISTS/IN/scalar subquery needs a FROM table"))
      (sub.fromAlias.getOrElse(from), from) +:
        sub.ansiJoins.map(a => (a.alias.getOrElse(a.table), a.table))
    }
    private val innerAliases: Set[String] =
      innerTables.map(_._1.toLowerCase).toSet
    val innerCols: Set[String] = innerTables.flatMap { case (_, t) =>
      tableColumns(t).map(_.toLowerCase) }.toSet
    val innerCtx: ExprBuilder.Ctx = innerTables.flatMap { case (a, t) =>
      val tc = typeCtx(t)
      tc ++ tc.map { case (k, v) => s"${a.toLowerCase}.$k" -> v }
    }.toMap
    val outers: Set[String] = outerQualifiers(outerSel) -- innerAliases
    private val outerBase = outerSel.fromAlias.getOrElse(outerSel.from.get)
    private lazy val outerBaseCols =
      tableColumns(outerSel.from.get).map(_.toLowerCase).toSet
    def isOuter(f: Field): Boolean = f.qualifier match {
      case Some(q) => val ql = q.toLowerCase
        !innerAliases(ql) && outers(ql)
      case None => !innerCols(f.name.toLowerCase)
    }
    /** `e` with every outer field replaced by an [[OuterRef]] typed
      * from `outerCtx`. An unqualified one takes the outer FROM alias
      * when that table has it, so it cannot be ambiguous against the
      * outer query's joined tables. Nested subqueries are left to
      * their own build. */
    def markOuter(e: Expr, outerCtx: ExprBuilder.Ctx): Expr = rewriteExpr(e) {
      case f: Field if isOuter(f) =>
        val q =
          if (f.qualifier.isEmpty && outerBaseCols(f.name.toLowerCase))
            f.copy(qualifier = Some(outerBase))
          else f
        OuterRef(q, ExprBuilder.declaredType(q, outerCtx))
      case InSelect(x, s2, n) => InSelect(markOuter(x, outerCtx), s2, n)
    }
    /** A qualifier naming neither this scope nor the enclosing one is
      * a correlation past the enclosing query — name the rule instead
      * of letting the resolver fail. */
    def checkScopes(conj: Seq[Expr]): Unit =
      conj.flatMap(fieldsOf).foreach(f => f.qualifier.foreach { q =>
        val ql = q.toLowerCase
        if (!innerAliases(ql) && !outers(ql))
          throw new IllegalArgumentException(
            s"$q.${f.name} references a scope that is neither this " +
              "subquery's own nor its directly enclosing query's — " +
              "correlating past the enclosing scope (or mixing " +
              "scopes in one subquery) is not supported")
      })
    /** Edge joins, HAVING, LIMIT/OFFSET and ORDER BY inside a
      * correlated subquery are rejected by name; GROUP BY is legal
      * only in a scalar, which checks its keys itself. */
    def requirePlainShape(what: String,
                          allowGroupBy: Boolean = false): Unit = {
      if (sub.joins.nonEmpty)
        throw new IllegalArgumentException(
          s"$what may not use the edge-join form")
      if (sub.groupBy.nonEmpty && !allowGroupBy)
        throw new IllegalArgumentException(
          s"$what may not use GROUP BY")
      if (sub.having.isDefined || sub.limit.isDefined ||
          sub.offset.isDefined || sub.orderBy.nonEmpty)
        throw new IllegalArgumentException(
          s"$what must be a plain SELECT ... FROM [joins] ... WHERE")
    }
  }

  /** Apply one [NOT] IN/EXISTS (SELECT …) conjunct of `outerSel`'s
    * WHERE to `df`, its frame. */
  private def applySubPred(df: DataFrame, pred: Expr,
      outerSel: SelectStmt, ctx: ExprBuilder.Ctx): DataFrame =
    pred match {
      case InSelect(x, sub, neg) if !isCorrelatedSub(sub, outerSel) =>
        val subDf = buildSelect(sub)
        if (subDf.columns.length != 1)
          throw new IllegalArgumentException(
            s"IN subquery must return one column, got ${subDf.columns.length}")
        val probe = subDf.toDF("__graft_in").distinct()
        val probeCol = ExprBuilder.build(x, ctx)
        if (!neg)
          // positive IN: a keyed semi join IS ANSI-exact (NULL probes
          // never equi-match; a NULL in the list can only flip
          // non-matches to NULL, which the filter drops either way)
          df.join(probe, probeCol === col("__graft_in"), "left_semi")
        else {
          // NOT IN under ANSI 3VL: x NOT IN S is TRUE only when S is
          // empty, or x is non-NULL, S holds no NULL and no match.
          // One bounded aggregate job (1 row: n, n non-null) picks the
          // shape, keeping a keyed anti join for the dominant NULL-free
          // case: without a broadcast, Catalyst's null-aware plan
          // would be a nested-loop join.
          val st = subDf.select(col(subDf.columns.head).as("__graft_v"))
            .agg(count(lit(1)), count(col("__graft_v"))).collect()(0)
          val (n, nonNull) = (st.getLong(0), st.getLong(1))
          if (n == 0L) df // NOT IN (empty) is TRUE for every row
          else if (n > nonNull) df.filter(lit(false)) // NULL ∈ S
          else df.filter(probeCol.isNotNull)
            .join(probe, probeCol === col("__graft_in"), "left_anti")
        }
      case InSelect(x, sub, neg) =>
        correlatedFilter(df, Some(x), sub, neg, outerSel, ctx)
      case ExistsSel(sub, neg) =>
        correlatedFilter(df, None, sub, neg, outerSel, ctx)
      case _ => df
    }

  /** Filter `df` by a `[NOT] EXISTS` or correlated `x [NOT] IN`
    * subquery, handed to Catalyst as an `Exists` or `InSubquery` over
    * the subquery's own build: Catalyst decorrelates it into one
    * left-semi/left-anti join on the correlation conjuncts (NOT IN
    * null-aware, with ANSI three-valued semantics), never a per-row
    * re-execution.
    *
    * Catalyst resolves outer references one scope up only. So a
    * scalar inside the subquery that correlates to `outerSel` (and not
    * to the subquery) is evaluated as a hidden column of `df`,
    * referenced from inside as an outer field, and dropped after the
    * filter; and an IN/EXISTS nested in the subquery that reaches
    * `outerSel` is rejected by name. */
  private def correlatedFilter(df: DataFrame, probe: Option[Expr],
      sub0: SelectStmt, neg: Boolean, outerSel: SelectStmt,
      ctx: ExprBuilder.Ctx): DataFrame = {
    def correlates(s2: SelectStmt, to: SelectStmt): Boolean =
      try isCorrelatedSub(s2, to)
      catch { case _: Engine.UnknownColumn => false }
    val hoisted = mutable.ArrayBuffer.empty[(String, Column)]
    val sub = sub0.copy(where = sub0.where.map(rewriteExpr(_) {
      case ScalarSelect(s2)
          if !correlates(s2, sub0) && correlates(s2, outerSel) =>
        val sq = scalarSubquery(s2, outerSel, ctx, inHaving = false)
        val name = s"__graft_osc${hoisted.size}"
        hoisted += name -> sq.col
        OuterRef(Field(name), sq.typ)
    }))
    val sc = new CorrScope(sub, outerSel)
    sc.requirePlainShape("correlated subquery")
    val conj = sub.where.map(conjuncts).getOrElse(Seq.empty)
    sc.checkScopes(conj)
    conj.foreach {
      case InSelect(x, s2, _) => rejectOutermost(Some(x), s2, sc, outerSel)
      case ExistsSel(s2, _) => rejectOutermost(None, s2, sc, outerSel)
      case UnOp("not", ExistsSel(s2, _)) =>
        rejectOutermost(None, s2, sc, outerSel)
      case _ =>
    }
    if (probe.isDefined &&
        (sub.items.size != 1 || sub.items.head.expr.isInstanceOf[Star]))
      throw new IllegalArgumentException(
        "IN subquery must return exactly one column")
    // EXISTS reads no column of the subquery: select a constant
    val built = buildSelectNoLimit(sub.copy(distinct = false,
      items = if (probe.isDefined) sub.items
              else Seq(SelectItem(Lit(1L, "uint"), None)),
      where = sub.where.map(sc.markOuter(_, ctx))))
    val cond = probe.fold(built.exists())(x =>
      ExprBuilder.build(x, ctx).isin(built))
    val filtered = hoisted.foldLeft(df) { case (d, (n, c)) =>
      d.withColumn(n, c) }.filter(if (neg) !cond else cond)
    if (hoisted.isEmpty) filtered
    else filtered.drop(hoisted.map(_._1).toSeq: _*)
  }

  /** Reject a subquery nested in a correlated one (`sc`) that refers
    * to `outermost` — two scopes up, which Catalyst cannot resolve. A
    * name is such a reference when no scope between it and
    * `outermost` has it but `outermost`'s tables do; the scan is deep,
    * so a reference buried further down is named here too. */
  private def rejectOutermost(probe: Option[Expr], nested: SelectStmt,
      sc: CorrScope, outermost: SelectStmt): Unit = {
    val nestedAliases = deepAliases(nested)
    val nestedCols = deepCols(nested)
    lazy val outermostCols: Set[String] =
      (outermost.from.toSeq ++ outermost.joins.map(_.typeName) ++
        outermost.ansiJoins.map(_.table))
        .flatMap(t => tryColsOf(t).getOrElse(Set.empty)).toSet
    val reaches =
      (nested.where.toSeq.flatMap(deepFields) ++
        probe.toSeq.flatMap(deepFields)).exists(f => f.qualifier match {
        case Some(q) =>
          val ql = q.toLowerCase
          !nestedAliases(ql) && sc.outers(ql)
        case None =>
          val n = f.name.toLowerCase
          !nestedCols(n) && !sc.innerCols(n) && outermostCols(n)
      })
    if (reaches)
      throw new IllegalArgumentException(
        "a subquery nested inside a correlated subquery may " +
          "correlate to that subquery's own scope or be " +
          "uncorrelated; correlating past it to the outermost " +
          "query is not supported")
  }

  /** Compile one correlated scalar-aggregate subquery of `outerSel` —
    * `(SELECT agg(x) FROM t WHERE t.k = outer.k [AND local])` — to a
    * Catalyst scalar subquery, which Catalyst decorrelates into an
    * aggregated LEFT join (count is 0 on an empty group, the others
    * NULL). The dialect's shape: one count/sum/min/max/avg, optionally
    * wrapped in arithmetic over constants (TPC-H q17's
    * `0.2 * avg(l_quantity)`); correlation conjuncts that are
    * equalities with one operand per scope; a GROUP BY only of
    * correlation keys, which is then dropped (it groups nothing the
    * correlation does not); and in HAVING, correlation anchored on
    * GROUP BY columns. */
  private def scalarSubquery(sub: SelectStmt, outerSel: SelectStmt,
      outerCtx: ExprBuilder.Ctx, inHaving: Boolean): Compiled = {
    val sc = new CorrScope(sub, outerSel)
    sc.requirePlainShape("correlated scalar subquery",
      allowGroupBy = true)
    val item = sub.items match {
      case Seq(it) => it.expr
      case _ => throw new IllegalArgumentException(
        "scalar subquery must return one column")
    }
    val aggFns = Set("count", "sum", "min", "max", "avg", "average")
    def isAggCall(e: Expr): Boolean = e match {
      case FnCall(n, _) => aggFns(n.toLowerCase)
      case _ => false
    }
    def aggsOf(e: Expr): Seq[Expr] =
      if (isAggCall(e)) Seq(e) else children(e).flatMap(aggsOf)
    def fieldsOutsideAgg(e: Expr): Seq[Field] = e match {
      case f: Field => Seq(f)
      case _ if isAggCall(e) => Nil
      case _ => children(e).flatMap(fieldsOutsideAgg)
    }
    if (aggsOf(item).size != 1)
      throw new IllegalArgumentException(
        "correlated scalar subquery must SELECT a single aggregate " +
          "(count/sum/min/max/avg), optionally wrapped in arithmetic " +
          "over constants")
    if (fieldsOutsideAgg(item).nonEmpty)
      throw new IllegalArgumentException(
        "the expression around a correlated scalar subquery's " +
          "aggregate may only use constants")
    val conj = sub.where.map(conjuncts).getOrElse(Seq.empty)
    if (conj.exists(c => containsInSelect(c) || containsScalarSelect(c)))
      throw new IllegalArgumentException(
        "nested subqueries inside a correlated scalar subquery are " +
          "not supported")
    sc.checkScopes(conj)
    val keys = conj.filter(c => fieldsOf(c).exists(sc.isOuter)).map {
      case BinOp("=", a, b) =>
        val aOut = fieldsOf(a).exists(sc.isOuter)
        val bOut = fieldsOf(b).exists(sc.isOuter)
        val (inn, out) =
          if (aOut && !bOut) (b, a)
          else if (bOut && !aOut) (a, b)
          else throw new IllegalArgumentException(
            "scalar-subquery correlation must be <inner expr> = " +
              "<outer expr>")
        if (fieldsOf(out).exists(f => !sc.isOuter(f)))
          throw new IllegalArgumentException(
            "scalar-subquery correlation must not mix scopes in one " +
              "operand")
        (inn, out)
      case _ => throw new IllegalArgumentException(
        "scalar-subquery correlation conjuncts must be equalities")
    }
    // in HAVING only grouping columns are legal correlation anchors
    // (ANSI; DuckDB enforces the same)
    if (inHaving) {
      val groupNames = outerSel.groupBy.collect {
        case f: Field => f.name.toLowerCase }.toSet
      keys.foreach { case (_, out) =>
        val bad = fieldsOf(out).filterNot(f =>
          groupNames(f.name.toLowerCase))
        if (bad.nonEmpty)
          throw new IllegalArgumentException(
            "a scalar subquery in HAVING must correlate on GROUP BY " +
              s"columns (not ${bad.map(_.name).mkString(", ")})")
      }
    }
    // any other GROUP BY could yield more than one row per outer row,
    // which a scalar cannot be
    if (sub.groupBy.nonEmpty) {
      val keyFields: Set[String] = keys.flatMap { case (inn, _) =>
        fieldsOf(inn).map(_.name.toLowerCase) }.toSet
      val bad = sub.groupBy.filterNot {
        case f: Field => keyFields(f.name.toLowerCase)
        case _ => false // expression keys are never correlation keys
      }
      if (bad.nonEmpty)
        throw new IllegalArgumentException(
          "a correlated scalar subquery may only GROUP BY its " +
            "correlation keys (not " + bad.map {
              case f: Field => f.name
              case e => e.toString
            }.mkString(", ") + ")")
    }
    val built = buildSelectNoLimit(sub.copy(
      items = Seq(SelectItem(ansiAvg(item, sc.innerCtx), None)),
      groupBy = Seq.empty,
      distinct = false, where = sub.where.map(sc.markOuter(_, outerCtx))))
    Compiled(built.scalar(), ExprBuilder.timeKind(item, sc.innerCtx)
      .orElse(ExprBuilder.numKind(item, sc.innerCtx)))
  }

  private def buildSelectNoLimit(sel00: SelectStmt): DataFrame = {
    // Scalar subqueries first: uncorrelated ones are evaluated once
    // and inlined as literals (stampPeriod prunes days on them);
    // correlated ones compile to Catalyst scalar subqueries. Later
    // passes then see a plain expression tree.
    val sel0 = sel00.copy(
      items = sel00.items.map(it =>
        it.copy(expr = substScalars(it.expr, Seq(sel00)))),
      where = sel00.where.map(substScalars(_, Seq(sel00))),
      having = sel00.having.map(substScalars(_, Seq(sel00))))
    if (sel0.from.isEmpty) return buildSelectCore(sel0)
    lazy val ctx = selectCtx(sel0)
    // UnknownColumn from the classification propagates — the precise
    // typo'd-column error beats any downstream resolver failure
    def compile(e: Expr, inHaving: Boolean): Expr = rewriteExpr(e) {
      case ScalarSelect(s2) if isCorrelatedSub(s2, sel0) =>
        scalarSubquery(s2, sel0, ctx, inHaving)
    }
    buildSelectCore(sel0.copy(
      items = sel0.items.map(it =>
        it.copy(expr = compile(it.expr, inHaving = false))),
      where = sel0.where.map(compile(_, inHaving = false)),
      having = sel0.having.map(compile(_, inHaving = true))))
  }

  private def buildSelectCore(sel0: SelectStmt): DataFrame = {
    // Reference field keyword TIMESTAMP (nowdbsql.y `field ::=
    // TIMESTAMP`): on a stamped edge without a literal `timestamp`
    // column, the name resolves to the stamp column — same mapping
    // the legacy context INSERT applies on the way in.
    val sel = sel0.from match {
      case Some(t) if isStampedEdge(t) &&
          !tableColumns(t).exists(_.equalsIgnoreCase("timestamp")) =>
        val m: Map[String, Expr] = Map("timestamp" -> Field("stamp"))
        def rf(f: Field): Field =
          if (f.qualifier.isEmpty && f.name.equalsIgnoreCase("timestamp"))
            Field("stamp")
          else f
        sel0.copy(
          items = sel0.items.map(it =>
            it.copy(expr = substAliases(it.expr, m))),
          where = sel0.where.map(substAliases(_, m)),
          having = sel0.having.map(substAliases(_, m)),
          groupBy = sel0.groupBy.map {
            case f: Field => rf(f)
            case e => substAliases(e, m)
          },
          orderBy = sel0.orderBy.map { case (f, a) => (rf(f), a) })
      case _ => sel0
    }
    // SELECT without FROM: one constant row (stmt.c:1398-1463)
    if (sel.from.isEmpty) {
      val cols = sel.items.zipWithIndex.map { case (it, i) =>
        ExprBuilder.build(it.expr)
          .as(it.alias.getOrElse(defaultName(it.expr, i)))
      }
      // ONE slice (not defaultParallelism) — a constant row needs one task
      return spark.range(0, 1, 1, 1).select(cols: _*)
    }
    val s = current
    val fromName = sel.from.get
    val fromAlias = sel.fromAlias.getOrElse(fromName)
    // period pruning (reference expr_period, fun/expr.c:1578-1631): the
    // WHERE conjunction's stamp bounds choose the FROM edge's day
    // directories before anything is listed. The same days also go in
    // as a stamp_date partition filter: free over the pruned listing,
    // and EXPLAIN shows the pruning as PartitionFilters.
    val days = sel.where.flatMap(stampPeriod(_, fromAlias))
    var df = tableDf(fromName, days).as(fromAlias)
    if (isStampedEdge(fromName) && df.columns.contains("stamp_date"))
      days.foreach { case (lo, hi) =>
        val day = col(s"$fromAlias.stamp_date")
        if (lo != LocalDate.MIN) df = df.filter(day >= lit(lo))
        if (hi != LocalDate.MAX) df = df.filter(day <= lit(hi))
      }
    // SAMPLE (sql.tex:2127 absent-triple): deterministic hash-mod
    // sample of the base scan, applied BEFORE joins/WHERE — the
    // Knuth multiplicative filter (TextAnalysis.hashSample) keyed on
    // an integer column, so the kept set is stable across runs,
    // partitionings and engines (DuckDB replays the same arithmetic;
    // Spark's .sample is partition-layout-dependent and would never
    // oracle-match). At scale this is a codegen'd scan filter: no
    // shuffle, no RNG, and the pct survives column pruning.
    sel.sample.foreach { case (pct, keyOpt) =>
      val keyName = keyOpt match {
        case Some(f) =>
          f.qualifier.foreach { q =>
            if (!q.equalsIgnoreCase(fromAlias))
              throw new IllegalArgumentException(
                s"SAMPLE ON ${q}.${f.name}: the sample key must " +
                  s"belong to the base FROM table ($fromAlias)")
          }
          df.schema.fields.find(_.name.equalsIgnoreCase(f.name))
            .getOrElse(throw new IllegalArgumentException(
              s"SAMPLE ON ${f.name}: no such column in $fromName"))
            .name
        case None => df.schema.fields.head.name
      }
      val keyField = df.schema.fields
        .find(_.name.equalsIgnoreCase(keyName)).get
      import org.apache.spark.sql.types._
      keyField.dataType match {
        case ByteType | ShortType | IntegerType | LongType => ()
        case other => throw new IllegalArgumentException(
          s"SAMPLE needs an integer key column, but " +
            s"$keyName is ${other.simpleString} — name one with " +
            "SAMPLE <pct> ON <column>")
      }
      df = df.filter(
        pmod(col(s"$fromAlias.$keyName") * lit(2654435761L),
          lit(100L)) < lit(pct))
    }
    // one source of truth with tagTimeItems' typing pass
    val ctx: Map[String, String] = selectCtx(sel)

    // edge-joins (sql.tex:2291-2368): inner equi-join edge.origin|destin
    // against the vertex type's pk; broadcast the vertex side — the
    // dimension is small relative to the edge time-series.
    sel.joins.foreach { j =>
      val sc = scope
      val vt = sc.types.getOrElse(j.typeName,
        throw new IllegalArgumentException(s"unknown type ${j.typeName}"))
      val vAlias = j.alias.getOrElse(j.typeName)
      val vdf = tableDf(j.typeName).as(vAlias)
      df = df.join(broadcast(vdf),
        col(s"$fromAlias.${j.onField}") === col(s"$vAlias.${vt.pk.name}"),
        "inner")
    }

    // ANSI joins (superset): arbitrary ON condition, declared order.
    // Both sides shuffle on the condition's equi-keys (Catalyst
    // extracts them); no broadcast hint here — the joined side may be
    // another fact table, and AQE picks broadcast when it fits.
    sel.ansiJoins.foreach { aj =>
      val aAlias = aj.alias.getOrElse(aj.table)
      val adf = tableDf(aj.table).as(aAlias)
      df = df.join(adf, ExprBuilder.build(aj.on, ctx), aj.kind)
    }

    // [NOT] IN (SELECT …) and [NOT] EXISTS (SELECT …): peel the
    // top-level AND conjuncts; each plans as a left-semi/left-anti
    // join (the 100 TB shape — both sides shuffle on the key, nothing
    // collects, NEVER a per-row re-execution), correlated forms
    // through Catalyst's decorrelation. The dialect allows them
    // nowhere deeper in the boolean tree: reject with a clear message.
    val allConj = sel.where.map(conjuncts).getOrElse(Seq.empty).map {
      // NOT EXISTS parses as UnOp over the predicate — normalize so
      // it partitions as a sub-predicate conjunct
      case UnOp("not", ExistsSel(s2, n)) => ExistsSel(s2, !n)
      case other => other
    }
    val (subPreds, residualConj) = allConj.partition(e =>
      e.isInstanceOf[InSelect] || e.isInstanceOf[ExistsSel])
    if (residualConj.exists(containsInSelect))
      throw new IllegalArgumentException(
        "IN/EXISTS (SELECT ...) must be a top-level AND conjunct of WHERE")
    subPreds.foreach { p => df = applySubPred(df, p, sel, ctx) }
    // A correlated scalar in WHERE is evaluated as a hidden column
    // that the filter reads (no projection below keeps it): Spark
    // 4.1.2 fails at run time (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND) when
    // a conjunct holding a scalar subquery inline and an outer
    // reference is pulled out of an EXISTS/IN subquery.
    var hidden = 0
    val residualWhere = residualConj.reduceOption(BinOp("and", _, _))
      .map(rewriteExpr(_) { case Compiled(c, typ) =>
        val name = s"__graft_sc$hidden"
        hidden += 1
        df = df.withColumn(name, c)
        Compiled(col(name), typ)
      })
    val where = residualWhere.map(w => ExprBuilder.build(w, ctx))
    val filtered = where.fold(df)(df.filter)

    // star expansion: model order, edge fields first (plan.c:1216+)
    def starCols: Seq[Column] = {
      val base = current match {
        case Some(sc) if sc.resolve(fromName).isDefined =>
          sc.propsOf(fromName).map(p => col(s"$fromAlias.${p.name}"))
        case _ => tableColumns(fromName).map(c => col(s"$fromAlias.$c"))
      }
      base ++ sel.joins.flatMap { j =>
        val vAlias = j.alias.getOrElse(j.typeName)
        scope.types(j.typeName).props.map(p => col(s"$vAlias.${p.name}"))
      } ++ sel.ansiJoins.flatMap { aj =>
        val aAlias = aj.alias.getOrElse(aj.table)
        tableColumns(aj.table).map(c => col(s"$aAlias.$c"))
      }
    }

    val hasAgg = sel.items.exists(it => containsAgg(it.expr))
    if (sel.groupBy.nonEmpty || hasAgg) {
      // select aliases — for HAVING resolution and (r13) GROUP BY
      // alias resolution
      val aliasMap = sel.items
        .flatMap(it => it.alias.map(_.toLowerCase -> it.expr)).toMap
      // r13: group keys are full EXPRESSIONS. Each resolves to
      // (key expr, output name): a bare name that is NOT a base
      // column but IS a select alias groups by the aliased
      // expression under the alias's name (ANSI-style resolution —
      // base columns win the clash); any other expression takes the
      // name of the select item it syntactically equals (so that
      // item projects AS the key), or a hidden name when the key is
      // grouped but not projected.
      // ANSI base-column-wins needs the ACTUAL column set of every
      // table in scope — typeCtx membership is kind-limited
      // (kindsFromSchema omits decimal/timestamp/date/array), so a
      // select alias colliding with e.g. a DECIMAL base column would
      // wrongly shadow it (advice finding)
      val baseColNames: Set[String] = {
        val ts = if (isStampedEdge(fromName)) Set("timestamp")
                 else Set.empty[String]
        tryColsOf(fromName).getOrElse(Set.empty) ++ ts ++
          sel.joins.flatMap(j =>
            scope.types(j.typeName).props.map(_.name.toLowerCase)) ++
          sel.ansiJoins
            .flatMap(aj => tryColsOf(aj.table).getOrElse(Set.empty))
      }
      val keySpecs: Seq[(Expr, String)] =
        sel.groupBy.zipWithIndex.map {
          case (f: Field, _) if f.qualifier.isEmpty &&
              !baseColNames(f.name.toLowerCase) &&
              aliasMap.contains(f.name.toLowerCase) =>
            val e = aliasMap(f.name.toLowerCase)
            if (containsAgg(e))
              throw new IllegalArgumentException(
                s"GROUP BY ${f.name}: cannot group by an aggregate")
            (e, f.name)
          case (f: Field, _) => (f, f.name)
          case (e, i) =>
            sel.items.zipWithIndex.find(_._1.expr == e) match {
              case Some((it, j)) =>
                (e, it.alias.getOrElse(defaultName(e, j)))
              case None => (e, s"__graft_gk$i")
            }
        }
      val keys = keySpecs.map {
        // plain-field keys keep the bare attribute (an alias here
        // would break ROLLUP/CUBE's grouping() resolution); only
        // alias/expression keys need the explicit output name
        case (f: Field, _) => ExprBuilder.build(f, ctx)
        case (e, n) => ExprBuilder.build(e, ctx).as(n)
      }
      val keyNames = keySpecs.collect {
        case (f: Field, n) => n.toLowerCase }.toSet
      // expression keys, matched against select items syntactically
      val keyByExpr: Map[Expr, String] =
        keySpecs.filterNot(_._1.isInstanceOf[Field]).toMap
      // an aggregate/any_value item whose output name equals a KEY's
      // name (`select sum(id) as amt … group by amt`, legal ANSI)
      // would leave two same-named columns in the aggregated frame —
      // give it a hidden physical name and restore the declared name
      // in the final projection (r14 review finding)
      val aggPhysName = mutable.Map.empty[Int, String]
      def physName(i: Int, nm: String): String =
        if (keyNames(nm.toLowerCase)) {
          val h = s"__graft_ac$i"; aggPhysName(i) = h; h
        } else nm
      val aggCols = sel.items.zipWithIndex.flatMap { case (it, i) =>
        val nm = it.alias.getOrElse(defaultName(it.expr, i))
        it.expr match {
          case f: Field if keyNames(f.name.toLowerCase) => None // key
          case e if keyByExpr.contains(e) => None // expression key
          // a bare literal is constant — project it AFTER the
          // aggregation (any_value over an EMPTY ungrouped input
          // would turn `select 'tag', count(*)` into (NULL, 0); ANSI
          // and DuckDB keep the constant)
          case _: Lit => None
          case e if containsAgg(e) =>
            Some(ExprBuilder.build(e, ctx).as(physName(i, nm)))
          case e => // non-agg non-key: "any row's value" (sql.tex:2690)
            Some(any_value(ExprBuilder.build(e, ctx)).as(physName(i, nm)))
        }
      }
      // HAVING resolution: inline select aliases first (`having q > 5`
      // → `having sum(x) > 5`), then route by shape — predicates over
      // aggregates (projected or not: `having sum(a) >= 100` with no
      // sum(a) in the select list is legal SQL) evaluate INSIDE the
      // aggregation as a hidden boolean column; key-only predicates
      // filter the projected output.
      val havingRes = sel.having.map(substAliases(_, aliasMap))
      // A HAVING holding a correlated scalar filters the aggregated
      // rows instead, as Spark SQL plans it: Catalyst cannot evaluate
      // the scalar inside the aggregation, and its outer references
      // name GROUP BY keys, which those rows carry. Each aggregate call
      // in it becomes a hidden column of the aggregation.
      val postAggs = mutable.ArrayBuffer.empty[Column]
      val postHaving = havingRes.filter(hasSubquery).map(rewriteExpr(_) {
        case f @ FnCall(n, _) if Parser.isAggregate(n) =>
          val h = s"__graft_ha${postAggs.size}"
          postAggs += ExprBuilder.build(f, ctx).as(h)
          Field(h)
      })
      val (aggHaving, keyHaving) = havingRes.filterNot(hasSubquery) match {
        case Some(h) if containsAgg(h) => (Some(h), None)
        case other => (None, other)
      }
      val hvCol = aggHaving.map(h =>
        ExprBuilder.build(h, ctx).as("__graft_having"))
      // GROUP BY with no aggregates = distinct keys (the reference's
      // KRANGE keys-only fast path, plan.c:1635-1644) — unless an
      // aggregate HAVING forces a real aggregation anyway, and never
      // for ROLLUP/CUBE (their subtotal rows aren't a distinct set)
      if (aggCols.isEmpty && hvCol.isEmpty && postHaving.isEmpty &&
          sel.groupMode == "plain") {
        val d0 = filtered.select(keySpecs.map { case (e, n) =>
          ExprBuilder.build(e, ctx).as(n) }: _*).distinct()
        val d = keyHaving.fold(d0)(h => d0.filter(ExprBuilder.build(h)))
        // the fast path must not silently drop ORDER BY either
        // (fuzz-found sibling of the dropped-HAVING defect)
        return if (sel.orderBy.nonEmpty)
          d.orderBy(orderCols(sel.orderBy): _*)
        else d
      }
      // ROLLUP/CUBE with no aggregate select items (e.g. `select a, b
      // from t group by rollup(a, b)`) bypasses the distinct-keys fast
      // path above but still needs something to aggregate — inject a
      // hidden count (dropped by the declared-item projection below)
      // so the legal dialect query returns the subtotal grid instead
      // of crashing on allAggs.head
      val allAggs0 = aggCols ++ hvCol ++ postAggs
      val allAggs = if (allAggs0.nonEmpty) allAggs0
        else Seq(count(lit(1)).as("__graft_hidden_cnt"))
      val grouped =
        if (keys.nonEmpty) {
          val g = sel.groupMode match {
            case "rollup" => filtered.rollup(keys: _*)
            case "cube"   => filtered.cube(keys: _*)
            case _        => filtered.groupBy(keys: _*)
          }
          g.agg(allAggs.head, allAggs.tail: _*)
        // a global aggregate is a select of aggregates: `Dataset.agg`
        // cannot resolve a frame carrying a correlated subquery's outer
        // references
        } else filtered.select(allAggs: _*)
      val groupedH = if (hvCol.isDefined)
        grouped.filter(col("__graft_having")) else grouped
      val groupedF = postHaving.fold(groupedH)(h =>
        groupedH.filter(ExprBuilder.build(h, ctx)))
      // project in declared item order (keys keep their names)
      val outCols = sel.items.zipWithIndex.map { case (it, i) =>
        it.expr match {
          case f: Field if keyNames(f.name.toLowerCase) =>
            col(f.name).as(it.alias.getOrElse(f.name))
          case e if keyByExpr.contains(e) => // expression key
            col(keyByExpr(e)).as(it.alias.getOrElse(keyByExpr(e)))
          case l: Lit => // constant, projected post-aggregation
            ExprBuilder.build(l, ctx)
              .as(it.alias.getOrElse(defaultName(l, i)))
          case e =>
            val nm = it.alias.getOrElse(defaultName(e, i))
            aggPhysName.get(i) match {
              case Some(h) => col(h).as(nm)
              case None => col(nm)
            }
        }
      }
      // a global aggregate of aggregates only already holds the declared
      // columns in order. Projecting them again would make Catalyst
      // decorrelate a correlated scalar through an extra join with the
      // outer query's distinct keys.
      val out0 =
        if (keys.isEmpty && (groupedF eq grouped) &&
            aggCols.size == sel.items.size) grouped
        else groupedF.select(outCols: _*)
      val out = keyHaving.fold(out0)(h => out0.filter(ExprBuilder.build(h)))
      if (sel.orderBy.nonEmpty) out.orderBy(orderCols(sel.orderBy): _*)
      else out
    } else {
      val projected0 =
        if (sel.items.exists(_.expr.isInstanceOf[Star]))
          filtered.select(starCols: _*)
        else filtered.select(sel.items.zipWithIndex.map { case (it, i) =>
          ExprBuilder.build(it.expr, ctx)
            .as(it.alias.getOrElse(defaultName(it.expr, i)))
        }: _*)
      // SELECT DISTINCT (superset): dedup the projected rows before
      // any ORDER BY — standard semantics, and a plain hash agg
      val projected =
        if (sel.distinct) projected0.distinct() else projected0
      if (sel.orderBy.nonEmpty) {
        val outNames = projected.columns.map(_.toLowerCase).toSet
        if (sel.orderBy.forall(f => outNames(f._1.name.toLowerCase)))
          projected.orderBy(orderCols(sel.orderBy): _*)
        else if (sel.distinct)
          // ANSI: with DISTINCT, ORDER BY may only use selected
          // columns (ordering by a dropped column is ambiguous)
          throw new IllegalArgumentException(
            "ORDER BY with DISTINCT must reference selected columns")
        else { // order on base columns, then project
          val sorted = filtered.orderBy(sel.orderBy.map { case (f, a) =>
            val c = ExprBuilder.build(f, ctx); if (a) c.asc else c.desc
          }: _*)
          if (sel.items.exists(_.expr.isInstanceOf[Star]))
            sorted.select(starCols: _*)
          else sorted.select(sel.items.zipWithIndex.map { case (it, i) =>
            ExprBuilder.build(it.expr, ctx)
              .as(it.alias.getOrElse(defaultName(it.expr, i)))
          }: _*)
        }
      } else projected
    }
  }
}

object Engine {
  /** Destroy the broadcasts that running `df` built: the materialised
    * broadcast stages of its adaptive plans, subqueries included (a
    * plan run without AQE is left to the ContextCleaner). Otherwise
    * each stays in the driver's block manager until its handle is
    * garbage collected and the ContextCleaner removes it, which for a
    * handle that outlived a young collection means the next old-gen
    * collection: the heap would grow with every joined statement and
    * shrink at times the collector chooses. `df`'s plan cannot run
    * again after this. */
  private def releaseBroadcasts(df: DataFrame): Unit = {
    import org.apache.spark.broadcast.Broadcast
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      BroadcastQueryStageExec, QueryStageExec}
    def built(p: SparkPlan): Seq[Broadcast[_]] =
      p.collectWithSubqueries {
        case a: AdaptiveSparkPlanExec => built(a.executedPlan)
        case s: BroadcastQueryStageExec if s.isMaterialized =>
          s.broadcast.relationFuture.get() +: built(s.plan)
        case s: QueryStageExec => built(s.plan)
      }.flatten
    built(df.queryExecution.executedPlan).distinctBy(_.id).foreach { b =>
      // one already destroyed throws; closing the cursor goes on
      try b.destroy()
      catch { case scala.util.control.NonFatal(_) => }
    }
  }

  /** Inclusive UTC day bounds of a stamp window; `LocalDate.MIN`/`MAX`
    * for an open end. */
  type DayWindow = (LocalDate, LocalDate)

  /** UTC calendar day of an ns stamp (the `stamp_date` key written by
    * [[graft.functions.NowFunctions.stampDay]]). */
  private[engine] def nsToDay(ns: Long): LocalDate =
    LocalDate.ofEpochDay(Math.floorDiv(ns, NowFunctions.nsPerDay))

  /** Does directory `dirName` of a stamped edge's snapshot belong to a
    * read over `days`? Every `stamp_date=` directory does when there is
    * no window, the null-stamp default partition included; with a
    * window only the days inside it do. */
  private[engine] def dayInWindow(dirName: String,
                                  days: Option[DayWindow]): Boolean = {
    val key = "stamp_date="
    dirName.startsWith(key) && days.forall { case (lo, hi) =>
      scala.util.Try(LocalDate.parse(dirName.stripPrefix(key))).toOption
        .exists(d => !d.isBefore(lo) && !d.isAfter(hi))
    }
  }

  /** The entries of `dir`, none if it does not exist. */
  private def entries(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val ls = Files.list(dir)
      try ls.toArray.toSeq.map(_.asInstanceOf[Path]) finally ls.close()
    }

  /** `p`'s Hadoop status if it is a data file: a regular file whose
    * name does not start with `_` or `.`, the names Spark's own listing
    * leaves out. */
  private def dataFile(p: Path): Option[FileStatus] = {
    val n = p.getFileName.toString
    if (n.startsWith("_") || n.startsWith(".")) None
    else scala.util.Try(Files.readAttributes(p,
        classOf[java.nio.file.attribute.BasicFileAttributes])).toOption
      .filter(_.isRegularFile).map(a => new FileStatus(a.size, false, 1,
        LocalBlockSize, a.lastModifiedTime.toMillis, new HPath(p.toUri)))
  }

  /** Hadoop's default block size of the local file system
    * (`fs.local.block.size`); split planning does not read it. */
  private val LocalBlockSize = 32L << 20

  /** A statement's own listing, offered to `InMemoryFileIndex` as its
    * file-status cache: it answers for exactly the roots the driver
    * listed, so the index lists nothing itself, and it keeps nothing
    * the index would put into it. */
  private final class ListedFiles(leaves: Map[HPath, Seq[FileStatus]])
      extends org.apache.spark.sql.execution.datasources.FileStatusCache {
    override def getLeafFiles(path: HPath): Option[Array[FileStatus]] =
      leaves.get(path).map(_.toArray)
    override def putLeafFiles(path: HPath, files: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = ()
  }

  /** Depth cap for WITH RECURSIVE fixpoint evaluation. Generous —
    * real hierarchies are tens of levels, binary-key ancestor chains
    * log₂(n) — while still turning an unbounded recursive step into
    * a named error instead of a hang. */
  val maxRecursionRounds: Int = 1000

  /** Distributed-tier legs the fixpoint folds into one, so a deep
    * recursion's task closures and partition count stay bounded. */
  val recursionCompactLegs: Int = 32

  /** Largest optimizer size estimate at which an attached table the
    * recursive term joins is snapshot once for the whole loop. */
  val recursionCacheTableBytes: Long = 64L << 20

  /** A name provably resolving in neither the subquery's nor the
    * enclosing scope (a typo'd column). Distinct type so multi-scope
    * classification can fail one scope without masking another. */
  private[engine] final class UnknownColumn(msg: String)
      extends IllegalArgumentException(msg)

  /** Non-reentrant session-scoped RW lock: the reference's locks
    * belong to sessions (scope/ipc.c), not threads, so a second
    * Engine on the same thread must still block — Java's reentrant
    * locks would let it through. */
  final class SessionRWLock {
    private var readers = 0
    private var writer = false
    def tryAcquire(write: Boolean, timeoutMs: Long): Boolean =
      synchronized {
        val deadline = System.nanoTime() + timeoutMs * 1000000L
        def ready = if (write) !writer && readers == 0 else !writer
        while (!ready) {
          val waitMs = (deadline - System.nanoTime()) / 1000000L
          if (waitMs <= 0) return false
          wait(waitMs)
        }
        if (write) writer = true else readers += 1
        true
      }
    def acquire(write: Boolean): Unit = synchronized {
      def ready = if (write) !writer && readers == 0 else !writer
      while (!ready) wait()
      if (write) writer = true else readers += 1
    }
    def release(write: Boolean): Unit = synchronized {
      if (write) writer = false else readers -= 1
      notifyAll()
    }
  }

  /** Cross-session lock registry (reference scope/ipc.c — advisory
    * RW locks shared by sessions of one process). */
  private val lockRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, SessionRWLock]()
}

/** Task functions of the recursive-CTE fixpoint's jobs, kept in a small
  * object because Spark's closure cleaner reads the declaring class. */
private object FixpointJobs {
  /** A partition's row count and bytes. Executed plans yield
    * `UnsafeRow`s, which Spark's own collect relies on too. */
  val countBytes: (TaskContext, Iterator[InternalRow]) => (Long, Long) =
    (_, rows) => {
      var n = 0L
      var bytes = 0L
      rows.foreach { r =>
        n += 1
        bytes += r.asInstanceOf[UnsafeRow].getSizeInBytes
      }
      (n, bytes)
    }

  /** A partition's rows, copied out of the operator's reused buffer,
    * and their bytes — or, once the bytes pass `share`, no rows (null)
    * and the bytes counted up to the row that passed it. */
  def upTo(share: Long)
      : (TaskContext, Iterator[InternalRow]) => (Array[UnsafeRow], Long) =
    (_, rows) => {
      val out = mutable.ArrayBuffer[UnsafeRow]()
      var bytes = 0L
      while (bytes <= share && rows.hasNext) {
        val r = rows.next().asInstanceOf[UnsafeRow].copy()
        bytes += r.getSizeInBytes
        out += r
      }
      (if (bytes <= share) out.toArray else null, bytes)
    }
}
