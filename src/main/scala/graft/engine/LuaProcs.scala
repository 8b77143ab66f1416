package graft.engine

import graft.engine.Lua._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** In-JVM Lua stored procedures: `CREATE PROCEDURE m.p(...) LANGUAGE
  * lua` + `EXEC p(...)` runs `<procPath>/<module>.lua` through the
  * embedded [[Lua]] interpreter with the reference's `nowdb` proc API
  * bound to the INVOKING session — the same re-entrancy contract as
  * the reference's embedded interpreter (`ifc/luaproc.c`,
  * `lua/nowdb.lua:44-121` constants, doc/manual/luaemb.tex).
  *
  * Bound surface (luaemb.tex §Execute/§Results):
  * `nowdb.execute / pexecute / execute_ / onerow / onevalue / eval`,
  * result wrappers with `resulttype/ok/errcode/errdetails/release`,
  * cursors with `rows()` iteration + `field/typedfield/countfields`,
  * row builders `makerow/array2row/makeresult` (+ `add2row/closerow/
  * row2array`), `success/error/raise`, `bracket/pbracket`,
  * `nowtypename/nowtypebyname`, time-unit and error-code constants.
  *
  * Unlike the reference (which runs Lua inside the server process and
  * can crash it), a failing script here only fails its EXEC: errors
  * surface as `Status(ok=false)`. Like [[ProcBridge]]'s python path,
  * modules resolve under `spark.graft.procPath` (reference:
  * NOWDB_LUA_PATH, luaemb.tex:100).
  */
object LuaProcs {

  def exec(eng: Engine, module: String, proc: String,
           args: Seq[Any]): Result = {
    val path = eng.spark.conf.getOption("spark.graft.procPath")
      .orElse(sys.env.get("GRAFT_PROC_PATH"))
      .getOrElse(return Status(ok = false,
        "spark.graft.procPath not set (procedure module search path)"))
    val script = new java.io.File(path, s"$module.lua")
    if (!script.isFile)
      return Status(ok = false, s"no module $script")
    val src = new String(
      java.nio.file.Files.readAllBytes(script.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    try {
      val env = Lua.Interp.stdEnv()
      env.define("nowdb", bind(eng))
      Lua.run(src, env) // module chunk defines its functions
      val rs = Lua.callGlobal(env, proc, args.map(toLua))
      toResult(eng, rs)
    } catch {
      case e: LuaError =>
        // reference sql/stmt.c: user errors reach the client as USRERR
        Status(ok = false, s"lua proc $proc: [74] ${tostr(e.value)}")
      case scala.util.control.NonFatal(e) =>
        Status(ok = false, s"lua proc $proc: ${e.getMessage}")
    }
  }

  // ── nowdb type codes (reference lua/nowdb.lua:61-90) ───────────────
  private val NOTHING = 0L; private val TEXT = 1L; private val DATE = 2L
  private val TIME = 3L; private val FLOAT = 4L; private val INT = 5L
  private val UINT = 6L; private val BOOL = 9L
  private val RSTATUS = 33L; private val RREPORT = 34L
  private val RROW = 35L; private val RCURSOR = 36L

  private def toLua(a: Any): V = a match {
    case null => LNil
    case s: String => LStr(s)
    case b: Boolean => LBool(b)
    case i: Int => LInt(i.toLong)
    case l: Long => LInt(l)
    case s: Short => LInt(s.toLong)
    case b: Byte => LInt(b.toLong)
    case f: Float => LFlt(f.toDouble)
    case d: Double => LFlt(d)
    case d: java.math.BigDecimal => LFlt(d.doubleValue)
    case d: BigDecimal => LFlt(d.doubleValue)
    case t: java.sql.Timestamp => // ns model: stamps are ns longs
      LInt(t.getTime * 1000000L + (t.getNanos % 1000000))
    case d: java.sql.Date => LInt(d.getTime * 1000000L)
    case other => LStr(String.valueOf(other))
  }

  private def typeCodeOf(v: Any): Long = v match {
    case null => NOTHING
    case _: String => TEXT
    case _: Boolean => BOOL
    case _: Double | _: Float | _: java.math.BigDecimal => FLOAT
    case _: Long | _: Int | _: Short | _: Byte => INT
    case _: java.sql.Timestamp | _: java.sql.Date => TIME
    case _ => TEXT
  }

  // ── result wrappers ────────────────────────────────────────────────

  private def statusTable(code: Long, msg: String): LTable = {
    val t = new LTable
    t.set(LStr("__kind"), LStr("status"))
    t.set(LStr("__code"), LInt(code))
    t.set(LStr("__msg"), LStr(msg))
    def reg(n: String)(fn: Seq[V] => Seq[V]): Unit =
      t.set(LStr(n), LBuiltin(n, fn))
    reg("resulttype") { _ => Seq(LInt(RSTATUS)) }
    reg("ok") { _ => Seq(LBool(code == 0)) }
    reg("errcode") { _ => Seq(LInt(code)) }
    reg("errdetails") { _ => Seq(LStr(msg)) }
    reg("release") { _ => Nil }
    t
  }

  private def reportTable(loaded: Long, errors: Long): LTable = {
    val t = new LTable
    t.set(LStr("__kind"), LStr("report"))
    t.set(LStr("loaded"), LInt(loaded))
    t.set(LStr("errors"), LInt(errors))
    def reg(n: String)(fn: Seq[V] => Seq[V]): Unit =
      t.set(LStr(n), LBuiltin(n, fn))
    reg("resulttype") { _ => Seq(LInt(RREPORT)) }
    reg("ok") { _ => Seq(LBool(true)) }
    reg("errcode") { _ => Seq(LInt(0L)) }
    reg("errdetails") { _ => Seq(LStr("")) }
    reg("release") { _ => Nil }
    t
  }

  /** One result line: `field(i)` is 0-indexed (luaemb.tex §Rows). */
  private def rowTable(vals: IndexedSeq[Any]): LTable = {
    val t = new LTable
    t.set(LStr("__kind"), LStr("row"))
    t.set(LStr("__vals"), LOpaque(vals))
    def reg(n: String)(fn: Seq[V] => Seq[V]): Unit =
      t.set(LStr(n), LBuiltin(n, fn))
    def idx(as: Seq[V]): Int = as.head match {
      case LInt(i) => i.toInt
      case LFlt(d) => d.toInt
      case _ => throw new LuaError(LStr("field index must be a number"))
    }
    reg("resulttype") { _ => Seq(LInt(RROW)) }
    reg("ok") { _ => Seq(LBool(true)) }
    reg("errcode") { _ => Seq(LInt(0L)) }
    reg("errdetails") { _ => Seq(LStr("")) }
    reg("release") { _ => Nil }
    reg("countfields") { _ => Seq(LInt(vals.length.toLong)) }
    reg("field") { as =>
      val i = idx(as)
      Seq(if (i >= 0 && i < vals.length) toLua(vals(i)) else LNil)
    }
    reg("typedfield") { as =>
      val i = idx(as)
      if (i >= 0 && i < vals.length)
        Seq(LInt(typeCodeOf(vals(i))), toLua(vals(i)))
      else Seq(LInt(NOTHING), LNil)
    }
    reg("row2array") { _ =>
      val va = new LTable; val ta = new LTable
      vals.zipWithIndex.foreach { case (v, i) =>
        va.set(LInt(i + 1L), toLua(v))
        ta.set(LInt(i + 1L), LInt(typeCodeOf(v)))
      }
      Seq(va, ta)
    }
    t
  }

  /** Cursor over a SELECT result. Rows stream through [[CursorPages]]
    * as a wire cursor's do — one partition in driver memory at a time, so
    * a proc can fold over a result far larger than the driver heap
    * (the reference pages cursors the same way, ifc/nowdb.c
    * fetch loop). `field(i)` reads the FIRST row lazily for the
    * reference's no-FROM-projection row shape (luaemb.tex:243-247). */
  private def cursorTable(df: DataFrame): LTable = {
    val t = new LTable
    t.set(LStr("__kind"), LStr("cursor"))
    t.set(LStr("__df"), LOpaque(df))
    var it: Iterator[Row] = null
    var first: IndexedSeq[Any] = null
    def firstRow(): IndexedSeq[Any] = {
      if (first == null)
        first = df.limit(1).collect().headOption
          .map(r => r.toSeq.toIndexedSeq).getOrElse(IndexedSeq.empty)
      first
    }
    def reg(n: String)(fn: Seq[V] => Seq[V]): Unit =
      t.set(LStr(n), LBuiltin(n, fn))
    reg("resulttype") { _ => Seq(LInt(RCURSOR)) }
    reg("ok") { _ => Seq(LBool(true)) }
    reg("errcode") { _ => Seq(LInt(0L)) }
    reg("errdetails") { _ => Seq(LStr("")) }
    reg("release") { _ => it = null; Nil }
    reg("countfields") { _ => Seq(LInt(df.schema.length.toLong)) }
    reg("field") { as =>
      val i = as.head match {
        case LInt(x) => x.toInt; case LFlt(x) => x.toInt
        case _ => throw new LuaError(LStr("field index must be a number"))
      }
      val r = firstRow()
      Seq(if (i >= 0 && i < r.length) toLua(r(i)) else LNil)
    }
    reg("rows") { _ =>
      // each rows() after the last one ran dry iterates afresh
      if (it == null) it = CursorPages(df)
      val iter = LBuiltin("cursor-rows-it", { _ =>
        if (it != null && it.hasNext)
          Seq(rowTable(it.next().toSeq.toIndexedSeq))
        else { it = null; Seq(LNil) }
      })
      Seq(iter)
    }
    t
  }

  /** Mutable row builder for `nowdb.makerow` (luaemb.tex §Rows):
    * `add2row(type, value)` appends to the open line, `closerow()`
    * seals it and starts the next — a proc may return several lines. */
  private def makeRowBuilder(): LTable = {
    val t = new LTable
    t.set(LStr("__kind"), LStr("rowbuilder"))
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[Vector[(Long, V)]]
    var cur = Vector.empty[(Long, V)]
    t.set(LStr("__get"), LBuiltin("__get", { _ =>
      // expose builder state for toResult via an opaque thunk
      Seq(LOpaque(() => {
        val all = if (cur.nonEmpty) rows.toVector :+ cur else rows.toVector
        all
      }))
    }))
    def reg(n: String)(fn: Seq[V] => Seq[V]): Unit =
      t.set(LStr(n), LBuiltin(n, fn))
    reg("resulttype") { _ => Seq(LInt(RROW)) }
    reg("ok") { _ => Seq(LBool(true)) }
    reg("release") { _ => Nil }
    reg("add2row") { as =>
      val code = as.head match {
        case LInt(c) => c; case LFlt(c) => c.toLong
        case _ => throw new LuaError(LStr("add2row: type code expected"))
      }
      cur = cur :+ (code -> as(1)); Nil
    }
    reg("closerow") { _ =>
      rows += cur; cur = Vector.empty; Nil
    }
    reg("countfields") { _ =>
      Seq(LInt((if (cur.nonEmpty) cur else
        rows.headOption.getOrElse(Vector.empty)).length.toLong))
    }
    reg("row2array") { _ =>
      val line = if (cur.nonEmpty) cur else
        rows.headOption.getOrElse(Vector.empty)
      val va = new LTable; val ta = new LTable
      line.zipWithIndex.foreach { case ((tc, v), i) =>
        va.set(LInt(i + 1L), v); ta.set(LInt(i + 1L), LInt(tc))
      }
      Seq(va, ta)
    }
    t
  }

  // ── the nowdb table ────────────────────────────────────────────────

  private def wrap(r: Result): LTable = r match {
    case Status(true, msg) => statusTable(0, msg)
    case Status(false, msg) => statusTable(errCodeFor(msg), msg)
    case Report(loaded, errors) => reportTable(loaded, errors)
    case Rows(df) => cursorTable(df)
    case CursorRef(id) =>
      // paged cursor handle — procs iterate the underlying frame
      statusTable(0, s"cursor $id")
  }

  /** Map engine error text onto the reference's numeric codes
    * (include/nowdb/errcode.h) where the message makes it clear;
    * default invalid=2. */
  private def errCodeFor(msg: String): Long = {
    val m = if (msg == null) "" else msg.toLowerCase
    if (m.contains("duplicate") || m.contains("dup key") ||
      m.contains("exists")) 27L
    else if (m.contains("not found") || m.contains("no such") ||
      m.contains("unknown")) 26L
    else if (m.contains("timeout")) 36L
    else 2L
  }

  private def bind(eng: Engine): LTable = {
    val nd = new LTable
    def reg(n: String)(fn: Seq[V] => Seq[V]): Unit =
      nd.set(LStr(n), LBuiltin(s"nowdb.$n", fn))
    def sqlOf(v: V): String = v match {
      case LStr(s) => s
      case other => tostr(other)
    }
    def raiseStatus(code: Long, msg: String): Nothing =
      throw new LuaError(LStr(s"[$code] $msg"))

    // execute family (luaemb.tex:134-261)
    reg("execute") { as =>
      eng.sql(sqlOf(as.head)) match {
        case Status(false, msg) => raiseStatus(errCodeFor(msg), msg)
        case r => Seq(wrap(r))
      }
    }
    reg("pexecute") { as =>
      eng.sql(sqlOf(as.head)) match {
        case Status(false, msg) => Seq(LInt(errCodeFor(msg)), LStr(msg))
        case r => Seq(LInt(0L), wrap(r))
      }
    }
    reg("execute_") { as =>
      eng.sql(sqlOf(as.head)) match {
        case Status(false, msg) => raiseStatus(errCodeFor(msg), msg)
        case _ => Nil
      }
    }
    reg("onerow") { as =>
      eng.sql(sqlOf(as.head)) match {
        case Status(false, msg) => raiseStatus(errCodeFor(msg), msg)
        case Rows(df) =>
          val arr = new LTable
          df.limit(1).collect().headOption.foreach { r =>
            r.toSeq.zipWithIndex.foreach { case (v, i) =>
              arr.set(LInt(i + 1L), toLua(v))
            }
          }
          Seq(arr)
        case _ => raiseStatus(-10L, "not a cursor") // nowdb.NOTACUR
      }
    }
    reg("onevalue") { as =>
      eng.sql(sqlOf(as.head)) match {
        case Status(false, msg) => raiseStatus(errCodeFor(msg), msg)
        case Rows(df) =>
          Seq(df.limit(1).collect().headOption
            .map(r => toLua(r.get(0))).getOrElse(LNil))
        case _ => raiseStatus(-10L, "not a cursor")
      }
    }
    reg("eval") { as =>
      eng.sql(s"select ${sqlOf(as.head)}") match {
        case Status(false, msg) => raiseStatus(errCodeFor(msg), msg)
        case Rows(df) =>
          Seq(df.limit(1).collect().headOption
            .map(r => toLua(r.get(0))).getOrElse(LNil))
        case _ => Seq(LNil)
      }
    }

    // status constructors + raise (luaemb.tex:348-360)
    reg("success") { _ => Seq(statusTable(0, "")) }
    reg("error") { as =>
      val code = as.head match {
        case LInt(c) => c; case LFlt(c) => c.toLong; case _ => 74L
      }
      Seq(statusTable(code,
        as.lift(1).map(tostr).getOrElse("")))
    }
    reg("raise") { as =>
      val code = as.headOption match {
        case Some(LInt(c)) => c; case Some(LFlt(c)) => c.toLong
        case _ => 74L
      }
      raiseStatus(code, as.lift(1).map(tostr).getOrElse(""))
    }

    // bracket/pbracket (luaemb.tex:366-430): after() ALWAYS runs
    val interp = new Lua.Interp(Lua.Interp.stdEnv())
    reg("pbracket") { as =>
      val (before, after, body) = (as.head, as(1), as(2))
      val r = interp.call(before, Nil)
      val out =
        try { LBool(true) +: interp.call(body, r) }
        catch {
          case e: LuaError => Seq(LBool(false), e.value)
          case scala.util.control.NonFatal(e) =>
            Seq(LBool(false), LStr(String.valueOf(e.getMessage)))
        }
      interp.call(after, r)
      out
    }
    reg("bracket") { as =>
      val (before, after, body) = (as.head, as(1), as(2))
      val r = interp.call(before, Nil)
      val out =
        try interp.call(body, r)
        catch {
          case e: Throwable =>
            interp.call(after, r)
            throw e
        }
      interp.call(after, r)
      out
    }

    // row construction (luaemb.tex:505-600)
    reg("makerow") { _ => Seq(makeRowBuilder()) }
    reg("array2row") { as =>
      val (ts, vs) = (as.head.asInstanceOf[LTable],
        as(1).asInstanceOf[LTable])
      if (ts.len != vs.len)
        throw new LuaError(LStr("array2row: arrays differ in length"))
      val b = makeRowBuilder()
      val interp2 = new Lua.Interp(Lua.Interp.stdEnv())
      (1L to ts.len).foreach { i =>
        interp2.call(b.get(LStr("add2row")),
          Seq(ts.get(LInt(i)), vs.get(LInt(i))))
      }
      interp2.call(b.get(LStr("closerow")), Nil)
      Seq(b)
    }
    reg("makeresult") { as =>
      val b = makeRowBuilder()
      val interp2 = new Lua.Interp(Lua.Interp.stdEnv())
      interp2.call(b.get(LStr("add2row")), Seq(as.head, as(1)))
      interp2.call(b.get(LStr("closerow")), Nil)
      Seq(b)
    }

    // type name helpers — replicates lua/nowdb.lua:96-121 EXACTLY,
    // including its 'date' → TIME quirk on the by-name direction
    reg("nowtypename") { as =>
      val c = as.head match {
        case LInt(x) => x; case LFlt(x) => x.toLong; case _ => -1L
      }
      Seq(LStr(c match {
        case TEXT => "text"; case DATE => "date"; case TIME => "time"
        case UINT => "uint"; case INT => "int"; case FLOAT => "float"
        case BOOL => "bool"; case NOTHING => "null"
        case _ => "?"
      }))
    }
    reg("nowtypebyname") { as =>
      val s = tostr(as.head).toLowerCase
      Seq(s match {
        case "text" => LInt(TEXT)
        case "date" => LInt(TIME) // sic — nowdb.lua:111
        case "time" => LInt(TIME)
        case "uint" | "uinteger" => LInt(UINT)
        case "int" | "integer" => LInt(INT)
        case "float" => LInt(FLOAT)
        case "bool" | "boolean" => LInt(BOOL)
        case "null" | "nil" => LInt(NOTHING)
        case _ => LNil
      })
    }

    // constants (lua/nowdb.lua:44-90)
    val consts: Seq[(String, Long)] = Seq(
      "OK" -> 0L, "EOF" -> 8L, "NOMEM" -> 1L, "TOOBIG" -> 5L,
      "KEYNOF" -> 26L, "DUPKEY" -> 27L, "TIMEOUT" -> 36L,
      "NOTACUR" -> -10L, "NOTAROW" -> -11L, "USRERR" -> 74L,
      "SELFLOCK" -> 75L, "DEADLOCK" -> 76L, "NOTMYLOCK" -> 77L,
      "NOTHING" -> NOTHING, "STATUS" -> RSTATUS, "REPORT" -> RREPORT,
      "ROW" -> RROW, "CURSOR" -> RCURSOR,
      "TEXT" -> TEXT, "DATE" -> DATE, "TIME" -> TIME, "FLOAT" -> FLOAT,
      "INT" -> INT, "UINT" -> UINT, "BOOL" -> BOOL,
      "second" -> 1000000000L,
      "minute" -> (60L * 1000000000L),
      "hour" -> (3600L * 1000000000L),
      "day" -> (86400L * 1000000000L),
      "year" -> (365L * 86400L * 1000000000L))
    consts.foreach { case (n, v) => nd.set(LStr(n), LInt(v)) }
    nd
  }

  // ── proc return value → engine Result ──────────────────────────────

  private def sparkTypeOf(code: Long): DataType = code match {
    case TEXT => StringType
    case FLOAT => DoubleType
    case INT | UINT | TIME | DATE => LongType
    case BOOL => BooleanType
    case _ => StringType
  }

  private def fromLua(code: Long, v: V): Any = (code, v) match {
    case (_, LNil) => null
    case (TEXT, x) => tostr(x)
    case (FLOAT, LInt(i)) => i.toDouble
    case (FLOAT, LFlt(d)) => d
    case (FLOAT, x) => tostr(x).toDouble
    case (INT | UINT | TIME | DATE, LInt(i)) => i
    case (INT | UINT | TIME | DATE, LFlt(d)) => d.toLong
    case (INT | UINT | TIME | DATE, LStr(s)) => s.trim.toLong
    case (BOOL, LBool(b)) => b
    case (BOOL, x) => truthy(x)
    case (_, x) => tostr(x)
  }

  private def toResult(eng: Engine, rs: Seq[V]): Result =
    rs.headOption.getOrElse(LNil) match {
      case LNil => Status(ok = true)
      case t: LTable => t.get(LStr("__kind")) match {
        case LStr("status") =>
          val code = t.get(LStr("__code")) match {
            case LInt(c) => c; case _ => 0L
          }
          val msg = t.get(LStr("__msg")) match {
            case LStr(m) => m; case _ => ""
          }
          Status(code == 0, if (code == 0) msg else s"[$code] $msg")
        case LStr("cursor") => t.get(LStr("__df")) match {
          case LOpaque(df: DataFrame) => Rows(df)
          case _ => Status(ok = true)
        }
        case LStr("report") =>
          val l = t.get(LStr("loaded")) match {
            case LInt(x) => x; case _ => 0L
          }
          val e = t.get(LStr("errors")) match {
            case LInt(x) => x; case _ => 0L
          }
          Report(l, e)
        case LStr("rowbuilder") | LStr("row") =>
          builderRows(eng, t)
        case _ =>
          // plain Lua array → one row of text fields
          val vals = (1L to t.len).map(i => tostr(t.get(LInt(i))))
          val schema = StructType(vals.indices.map(i =>
            StructField(s"c$i", StringType)))
          import scala.jdk.CollectionConverters._
          Rows(eng.spark.createDataFrame(
            Seq(Row.fromSeq(vals)).asJava, schema))
      }
      case LInt(i) => scalarRows(eng, LongType, i)
      case LFlt(d) => scalarRows(eng, DoubleType, d)
      case LStr(s) => scalarRows(eng, StringType, s)
      case LBool(b) => scalarRows(eng, BooleanType, b)
      case other => Status(ok = true, tostr(other))
    }

  private def scalarRows(eng: Engine, dt: DataType, v: Any): Result = {
    import scala.jdk.CollectionConverters._
    Rows(eng.spark.createDataFrame(Seq(Row(v)).asJava,
      StructType(Seq(StructField("value", dt)))))
  }

  /** Render a makerow/array2row builder's sealed lines as a typed
    * DataFrame (columns c0..cN typed from the FIRST line's codes). */
  private def builderRows(eng: Engine, t: LTable): Result = {
    val interp = new Lua.Interp(Lua.Interp.stdEnv())
    val lines: Vector[Vector[(Long, V)]] =
      interp.call(t.get(LStr("__get")), Nil).headOption match {
        case Some(LOpaque(thunk: (() => Vector[Vector[(Long, V)]]) @unchecked)) =>
          thunk()
        case _ =>
          // a cursor row re-returned from a proc: rebuild via row2array
          interp.call(t.get(LStr("row2array")), Nil) match {
            case Seq(va: LTable, ta: LTable) =>
              Vector((1L to va.len).map(i => (ta.get(LInt(i)) match {
                case LInt(c) => c; case _ => TEXT
              }) -> va.get(LInt(i))).toVector)
            case _ => Vector.empty
          }
      }
    if (lines.isEmpty || lines.head.isEmpty) return Status(ok = true)
    val codes = lines.head.map(_._1)
    val schema = StructType(codes.zipWithIndex.map { case (c, i) =>
      StructField(s"c$i", sparkTypeOf(c))
    })
    val rows = lines.map(line =>
      Row.fromSeq(line.zip(codes).map { case ((_, v), c) =>
        fromLua(c, v)
      }))
    import scala.jdk.CollectionConverters._
    Rows(eng.spark.createDataFrame(rows.asJava, schema))
  }
}
