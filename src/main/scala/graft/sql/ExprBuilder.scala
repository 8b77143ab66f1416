package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.NowFunctions
import Ast._

/** AST expression → Spark Column, with NoWDB semantics (operator set:
  * reference fun/expr.h:414-522, evaluation expr.c:1228-2450):
  * `^` is power, `log` is ln, time parts run over ns-long stamps,
  * `wday` is Sunday=0, and string literals compared against TIME/DATE
  * expressions parse as ISO-8601 timestamps (plan.c:615-642 tryTime).
  * The one compiler of dialect expressions: aggregates are one more
  * function kind (expr.h:33-38), so they compile wherever they appear,
  * and the caller decides whether the expression runs in an
  * aggregation.
  */
object ExprBuilder {

  /** ISO-8601 'YYYY-MM-DD[THH:MM:SS[.f{1..9}]]' (UTC) → ns stamp
    * (reference types/time.h:27-37). */
  def parseTime(s: String): Option[Long] = {
    val re =
      """(\d{4})-(\d{2})-(\d{2})(?:[T ](\d{2}):(\d{2}):(\d{2})(?:\.(\d{1,9}))?)?""".r
    s match {
      case re(y, mo, d, h, mi, se, fr) =>
        try {
          val ldt = java.time.LocalDateTime.of(y.toInt, mo.toInt, d.toInt,
            Option(h).map(_.toInt).getOrElse(0),
            Option(mi).map(_.toInt).getOrElse(0),
            Option(se).map(_.toInt).getOrElse(0))
          val epochSec = ldt.toEpochSecond(java.time.ZoneOffset.UTC)
          val frNs = Option(fr).map(f => (f + "0" * (9 - f.length)).toLong)
            .getOrElse(0L)
          Some(epochSec * 1000000000L + frNs)
        } catch { case _: Exception => None }
      case _ => None
    }
  }

  /** Typing context: lowercase column name (and "qualifier.name") →
    * NoWDB type, used for time-literal coercion. */
  type Ctx = Map[String, String]

  private def fieldKey(f: Field): String =
    f.qualifier.map(q => s"${q.toLowerCase}.").getOrElse("") +
      f.name.toLowerCase

  private def fieldCol(f: Field): Column =
    f.qualifier match {
      case Some(q) => col(s"$q.${f.name}")
      case None => col(f.name)
    }

  /** The NoWDB type of a field, an outer reference or a compiled
    * subquery: looked up in `ctx` for a field, carried by the node for
    * the other two. None for any other expression. */
  private[graft] def declaredType(e: Expr, ctx: Ctx): Option[String] =
    e match {
      case f: Field => ctx.get(fieldKey(f)).orElse(ctx.get(f.name.toLowerCase))
      case OuterRef(_, t) => t
      case Compiled(_, t) => t
      case _ => None
    }

  /** `e` as a value of NoWDB type `typ` (a declared column's, or the
    * other operand's [[timeKind]]): a string literal against TIME/DATE
    * parses as an ISO stamp, bound like any numeric constant so one
    * statement shape compiles once whatever its stamps; anything else
    * builds as is. */
  def buildAs(e: Expr, typ: Option[String], ctx: Ctx): Column =
    (e, typ) match {
      case (Lit(s: String, "string"), Some("time" | "date")) =>
        BoundLiteral(parseTime(s).getOrElse(
          throw new IllegalArgumentException(s"bad time literal '$s'")))
      case _ => build(e, ctx)
    }

  private def coercePair(l: Expr, r: Expr, ctx: Ctx): (Column, Column) =
    (buildAs(l, timeKind(r, ctx), ctx), buildAs(r, timeKind(l, ctx), ctx))

  /** Static NoWDB numeric kind of an expression: Some("int"),
    * Some("float"), or None when unknown. Drives `/` semantics — the
    * reference's QUOT (fun/expr.c:1842,2228-2233) takes the integer
    * quotient when both operands are non-float. Only provably-integer
    * expressions are tagged "int"; anything uncertain keeps the
    * double-division fallback. */
  private[graft] def numKind(e: Expr, ctx: Ctx): Option[String] = e match {
    case Lit(_, "uint" | "int") => Some("int")
    case Lit(_, "float") => Some("float")
    case _: Field | _: OuterRef | _: Compiled =>
      declaredType(e, ctx) match {
        case Some("float") => Some("float")
        case Some("int" | "uint" | "time" | "date") => Some("int")
        case _ => None
      }
    case UnOp("-", x) => numKind(x, ctx)
    case BinOp("+" | "-" | "*" | "%" | "/", l, r) =>
      (numKind(l, ctx), numKind(r, ctx)) match {
        case (Some("int"), Some("int")) => Some("int")
        case (Some(_), Some(_)) => Some("float")
        case _ => None
      }
    case BinOp("^", _, _) => Some("float") // pow is always double
    case CaseExpr(branches, other) =>
      val ks = (branches.map(_._2) ++ other.toSeq).map(numKind(_, ctx))
      if (ks.exists(_.isEmpty)) None
      else if (ks.forall(_.contains("int"))) Some("int")
      else Some("float")
    case FnCall(name, args) => name match {
      case "toint" | "touint" | "totime" | "year" | "month" | "mday" |
           "wday" | "yday" | "hour" | "minute" | "second" | "milli" |
           "micro" | "nano" | "now" | "dawn" | "dusk" | "epoch" |
           "bin" | "length" | "pos" | "century" => Some("int")
      // floor/ceil return long here (Spark semantics, also what the
      // differential fuzzer's interpreter implements)
      case "floor" | "ceil" => Some("int")
      case "tofloat" | "pi" | "e" | "log" | "root" | "sin" | "sine" | "cos" |
           "cosine" | "tan" | "tangent" | "asin" | "arcsine" | "arcsin" |
           "acos" | "arccosine" | "arccos" | "atan" | "arctangent" |
           "arctan" | "sinh" | "cosh" | "tanh" | "asinh" | "acosh" |
           "atanh" => Some("float")
      case "abs" | "just" => numKind(args.head, ctx)
      // aggregates (reference fun.c typing: count → UINT; sum/min/max/
      // prod/spread/mode carry the input kind; the statistics are float)
      case "count" => Some("int")
      case "sum" | "min" | "max" | "prod" | "product" | "mode" |
           "spread" => args.headOption.flatMap(numKind(_, ctx))
      case "avg" | "average" | "median" | "stddev" | "integral" =>
        Some("float")
      case "coal" | "coalesce" =>
        val ks = args.map(numKind(_, ctx))
        if (ks.exists(_.isEmpty)) None
        else if (ks.forall(_.contains("int"))) Some("int")
        else Some("float")
      case _ => None
    }
    case _ => None
  }

  /** Static NoWDB TIME/DATE kind of an expression: Some("time"|"date")
    * when the expression's resolved type is a timestamp, None
    * otherwise. The reference tags wire rows by the resolved
    * expression type (query/row.c:138-207 over fun/expr typing), so
    * `max(at)` or `at + 1` frame as TIME there — this analyzer lets
    * the engine re-attach the `graft.nowType` schema marker to
    * COMPUTED columns, whose Spark metadata would otherwise be lost
    * (metadata only rides plain attribute references). Mirrors
    * [[numKind]]'s carry rules: aggregates and `abs/just/coal` carry
    * the input kind; `+`/`-` over a time operand stay in the stamp
    * domain (reference arithmetic is plain int64 ns); `*`/`/`/`%`/`^`
    * leave it. */
  private[graft] def timeKind(e: Expr, ctx: Ctx): Option[String] = e match {
    case _: Field | _: OuterRef | _: Compiled =>
      declaredType(e, ctx).filter(t => t == "time" || t == "date")
    case FnCall("totime" | "now" | "dawn" | "dusk" | "epoch", _) =>
      Some("time")
    case FnCall("min" | "max" | "sum" | "mode" | "spread" | "abs" |
                "just", args) =>
      args.headOption.flatMap(timeKind(_, ctx))
    case FnCall("coal" | "coalesce", args) =>
      val ks = args.map(timeKind(_, ctx))
      if (ks.nonEmpty && ks.forall(_.isDefined)) ks.head else None
    case BinOp("+" | "-", l, r) =>
      timeKind(l, ctx).orElse(timeKind(r, ctx))
    case UnOp("-", x) => timeKind(x, ctx)
    case CaseExpr(branches, other) =>
      val ks = (branches.map(_._2) ++ other.toSeq).map(timeKind(_, ctx))
      if (ks.nonEmpty && ks.forall(_.isDefined)) ks.head else None
    case _ => None
  }

  def build(e: Expr, ctx: Ctx = Map.empty): Column = e match {
    case Lit(null, _) => lit(null)
    // numeric constants are bound, so one statement shape compiles once
    case Lit(v @ (_: Long | _: Double), _) => BoundLiteral(v)
    case Lit(v, _) => lit(v)
    case f: Field => fieldCol(f)
    case OuterRef(f, _) => fieldCol(f).outer()
    case Compiled(c, _) => c
    case Star() => col("*")
    case BinOp(op, l, r) =>
      val (lc, rc) = op match {
        case "=" | "!=" | "<>" | "<" | ">" | "<=" | ">=" =>
          coercePair(l, r, ctx)
        case _ => (build(l, ctx), build(r, ctx))
      }
      op match {
        case "and" => lc && rc
        case "or" => lc || rc
        case "=" => lc === rc
        case "!=" | "<>" => lc =!= rc
        case "<" => lc < rc
        case ">" => lc > rc
        case "<=" => lc <= rc
        case ">=" => lc >= rc
        case "+" => lc + rc
        case "-" => lc - rc
        case "*" => lc * rc
        case "/" =>
          // QUOT: int/int takes the truncating integer quotient
          // (fun/expr.c:1842,2228-2233); anything else divides double
          if (numKind(l, ctx).contains("int") &&
              numKind(r, ctx).contains("int"))
            NowFunctions.intDiv(lc, rc)
          else lc / rc
        case "%" => NowFunctions.rem(lc, rc)
        case "^" => NowFunctions.power(lc, rc)
      }
    case UnOp("-", x) => -build(x, ctx)
    case UnOp("not", x) => !build(x, ctx)
    case UnOp(op, _) =>
      throw new IllegalArgumentException(s"unknown unary $op")
    case InList(x, vs, neg) =>
      // literal items stay plain values; any other item is an expression
      // (`having sum(a) in (max(b), 3)`)
      val xt = timeKind(x, ctx)
      val base = build(x, ctx).isin(vs.map {
        case l @ Lit(_: String, "string") => buildAs(l, xt, ctx)
        case Lit(v, _) => v
        case v => build(v, ctx)
      }: _*)
      if (neg) !base else base
    case IsNull(x, neg) =>
      if (neg) build(x, ctx).isNotNull else build(x, ctx).isNull
    case CaseExpr(branches, other) =>
      val first = when(build(branches.head._1, ctx),
        build(branches.head._2, ctx))
      val chained = branches.tail.foldLeft(first) { case (acc, (c, v)) =>
        acc.when(build(c, ctx), build(v, ctx))
      }
      other.fold(chained)(o => chained.otherwise(build(o, ctx)))
    case FnCall(name, args) => fn(name, args, ctx)
    case WindowFn(f, parts, ords, frame) =>
      import org.apache.spark.sql.expressions.Window
      val spec0 =
        if (parts.nonEmpty)
          Window.partitionBy(parts.map(e => build(e, ctx)): _*)
        else Window.partitionBy()
      val specOrd =
        if (ords.nonEmpty) spec0.orderBy(ords.map { case (fd, asc) =>
          val c = build(fd, ctx); if (asc) c.asc else c.desc
        }: _*)
        else spec0
      // explicit ROWS/RANGE frame (r12 task 2) → Spark's
      // rowsBetween/rangeBetween; rank-family and lag/lead take no
      // frame (ANSI; Spark would throw an analysis error anyway —
      // name the rule instead)
      if (frame.isDefined && Set("row_number", "rank", "dense_rank",
          "lag", "lead")(f.name))
        throw new IllegalArgumentException(
          s"${f.name} does not accept an explicit window frame")
      val spec = frame match {
        case None => specOrd
        case Some(WFrame(mode, lo, hi)) =>
          if (ords.isEmpty) throw new IllegalArgumentException(
            "a window frame requires ORDER BY")
          val start = lo.getOrElse(Window.unboundedPreceding)
          val end = hi.getOrElse(Window.unboundedFollowing)
          if (start > end) throw new IllegalArgumentException(
            "window frame lower bound exceeds upper bound")
          if (mode == "rows") specOrd.rowsBetween(start, end)
          else specOrd.rangeBetween(start, end)
      }
      def off(i: Int): Int = f.args.lift(i) match {
        case None => 1
        case Some(Lit(v: Long, _)) => v.toInt
        case _ =>
          throw new IllegalArgumentException(s"${f.name} offset literal")
      }
      // rank-family results cast to long AFTER .over() — casting the
      // bare function would strip the OVER clause off it
      val c = f.name match {
        case "row_number" => return row_number().over(spec).cast("long")
        case "rank" => return rank().over(spec).cast("long")
        case "dense_rank" => return dense_rank().over(spec).cast("long")
        case "lag" => lag(build(f.args.head, ctx), off(1))
        case "lead" => lead(build(f.args.head, ctx), off(1))
        case "sum" => sum(build(f.args.head, ctx))
        case "count" => f.args.headOption match {
          case None | Some(Star()) => count(lit(1))
          case Some(x) => count(build(x, ctx))
        }
        case "min" => min(build(f.args.head, ctx))
        case "max" => max(build(f.args.head, ctx))
        case "avg" | "average" => avg(build(f.args.head, ctx))
        case other =>
          throw new IllegalArgumentException(s"no window function $other")
      }
      c.over(spec)
    case _: InSelect =>
      throw new IllegalArgumentException(
        "IN (SELECT ...) is only supported as a top-level AND conjunct " +
          "of WHERE")
    case _: ExistsSel =>
      throw new IllegalArgumentException(
        "[NOT] EXISTS (SELECT ...) is only supported as a top-level " +
          "AND conjunct of WHERE")
    case _: ScalarSelect =>
      throw new IllegalArgumentException(
        "scalar subquery not supported in this position")
  }

  private def fn(name: String, args: Seq[Expr], ctx: Ctx): Column = {
    def a(i: Int): Column = build(args(i), ctx)
    /** time-valued argument: a string literal parses as an ISO stamp
      * (`year('2024-05-06')` works like the reference's tryTime). */
    def t(i: Int): Column = buildAs(args(i), Some("time"), ctx)
    name match {
      // conversions (expr.h:414-418)
      case "tofloat" => a(0).cast("double")
      case "toint" | "touint" => a(0).cast("long")
      // CAST(x AS text|boolean) desugars to these (superset)
      case "tostring" => a(0).cast("string")
      case "tobool" => a(0).cast("boolean")
      case "totime" => args(0) match {
        case Lit(_: String, "string") => t(0)
        case _ => a(0).cast("long")
      }
      case "totext" => a(0).cast("string")
      // math (expr.h:431-435; log is ln)
      case "log" => NowFunctions.ln(a(0))
      // declared-only in the reference (expr.c:2244 not_supp):
      // n-th root, root(x, n) = x^(1/n); root(x) = sqrt
      case "root" =>
        if (args.length > 1)
          pow(a(0), lit(1.0) / a(1).cast("double"))
        else sqrt(a(0))
      case "abs" => abs(a(0))
      case "ceil" => ceil(a(0))
      case "floor" => floor(a(0))
      case "round" => // 2-arg scale form is a documented superset
        if (args.length > 1) args(1) match {
          case Lit(n: Long, _) => round(a(0), n.toInt)
          case _ =>
            throw new IllegalArgumentException("round(x, <int literal>)")
        } else round(a(0))
      // trig + aliases (expr.h:436-447, names expr.c:2787-2816)
      case "sin" => sin(a(0));   case "sine" => sin(a(0))
      case "cos" => cos(a(0));   case "cosine" => cos(a(0))
      case "tan" => tan(a(0));   case "tangent" => tan(a(0))
      case "asin" | "arcsine" | "arcsin" => asin(a(0))
      case "acos" | "arccosine" | "arccos" => acos(a(0))
      case "atan" | "arctangent" | "arctan" => atan(a(0))
      case "sinh" => sinh(a(0)); case "cosh" => cosh(a(0))
      case "tanh" => tanh(a(0))
      case "asinh" => asinh(a(0)); case "acosh" => acosh(a(0))
      case "atanh" => atanh(a(0))
      // constants
      case "pi" => lit(math.Pi)
      case "e" => lit(math.E)
      // time parts over ns stamps (expr.h:479-490)
      // declared-only in the reference (expr.c:2327 not_supp):
      // Postgres/DuckDB convention, CE years: 2024 → 21
      case "century" =>
        ((NowFunctions.yearOfNs(t(0)) - 1) / lit(100L) + 1).cast("long")
      case "year" => NowFunctions.yearOfNs(t(0))
      case "month" => NowFunctions.monthOfNs(t(0))
      case "mday" => NowFunctions.mdayNs(t(0))
      case "wday" => NowFunctions.wdayNs(t(0))
      case "yday" => NowFunctions.ydayNs(t(0))
      case "hour" => NowFunctions.hourOfNs(t(0))
      case "minute" => NowFunctions.minuteOf(NowFunctions.stampToTs(t(0)))
      case "second" => NowFunctions.secondOf(NowFunctions.stampToTs(t(0)))
      case "milli" => NowFunctions.milli(t(0))
      case "micro" => NowFunctions.micro(t(0))
      case "nano" => NowFunctions.nano(t(0))
      // time points (expr.h:491-494)
      case "now" => NowFunctions.nowNs
      case "dawn" => NowFunctions.dawn
      case "dusk" => NowFunctions.dusk
      case "epoch" => NowFunctions.epochNs
      // declared-only in the reference, native here (expr.c:2372-2429)
      case "bin" => args(1) match {
        case Lit(u: String, "string") =>
          NowFunctions.tsToStamp(
            NowFunctions.timeBin(u, NowFunctions.stampToTs(t(0))))
        case _ => throw new IllegalArgumentException("bin(stamp,'unit')")
      }
      case "format" => args(1) match {
        case Lit(f: String, "string") =>
          date_format(NowFunctions.stampToTs(t(0)), f)
        case _ => throw new IllegalArgumentException("format(stamp,'fmt')")
      }
      // ANSI substring(x, from[, for]) — 1-based, length optional
      // (the FROM/FOR spelling parses to this); distinct from the
      // dialect's 0-based substr below
      case "substring" =>
        if (args.length == 2) a(0).substr(a(1).cast("int"), length(a(0)))
        else a(0).substr(a(1).cast("int"), a(2).cast("int"))
      case "substr" => substring(a(0), args(1) match {
        case Lit(v: Long, _) => v.toInt + 1 // NoWDB is 0-based C-style
        case _ => throw new IllegalArgumentException("substr pos")
      }, args(2) match {
        case Lit(v: Long, _) => v.toInt
        case _ => throw new IllegalArgumentException("substr len")
      })
      case "length" => length(a(0)).cast("long")
      // LIKE desugars to this call (Parser enforces a literal pattern)
      case "like" => a(0).like(args(1) match {
        case Lit(s: String, _) => s
        case _ => throw new IllegalArgumentException("LIKE pattern")
      })
      case "strcat" => concat(args.map(x => build(x, ctx)): _*)
      // declared-only superset: code-point → string (complements the
      // reference's literal escapes \n \r \t, nowdbsql.l:182-190, for
      // characters those can't spell)
      case "chr" => chr(a(0))
      case "pos" => (instr(a(0), args(1) match {
        case Lit(s: String, _) => s
        case _ => throw new IllegalArgumentException("pos needle")
      }) - lit(1)).cast("long") // 0-based, -1 when absent
      // aggregates (reference fun.c); avg, median and stddev read 0
      // over no rows, the dialect's value (SURVEY §2.4)
      case "count" => args.headOption match {
        case None | Some(Star()) => count(lit(1))
        case Some(_) => count(a(0))
      }
      case "sum" => sum(a(0))
      case "count_distinct" => countDistinct(a(0))
      case "sum_distinct" => sum_distinct(a(0))
      case "avg" | "average" => coalesce(avg(a(0)), lit(0.0))
      case "min" => min(a(0))
      case "max" => max(a(0))
      case "spread" => max(a(0)) - min(a(0))
      case "median" => // exact, like the reference's block-sort
        coalesce(call_function("percentile", a(0), lit(0.5))
          .cast("double"), lit(0.0))
      case "stddev" => coalesce(stddev_samp(a(0)), lit(0.0))
      case "prod" | "product" => product(a(0))
      case "mode" => mode(a(0))
      case "integral" => call_udf("now_integral", a(0), a(1))
      // subtotal marker, cast to the dialect's BIGINT convention
      case "grouping" => grouping(a(0)).cast("long")
      // null handling
      case "coal" | "coalesce" => coalesce(args.map(build(_, ctx)): _*)
      case "just" => a(0)
      case "version" => lit("graft-1.0")
      case other =>
        throw new IllegalArgumentException(s"unknown function $other")
    }
  }
}
