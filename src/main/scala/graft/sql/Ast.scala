package graft.sql

import org.apache.spark.sql.Column

/** AST for the NoWDB SQL dialect (grammar surface:
  * /root/reference/src/nowdb/sql/nowdbsql.y; statement inventory
  * SURVEY.md §2.11). Deliberately small — statements compile to
  * DataFrame programs, not to a bespoke execution engine.
  */
object Ast {

  // ── expressions ────────────────────────────────────────────────────
  sealed trait Expr
  /** typ ∈ uint|int|float|string|bool|null (NoWDB literal typing:
    * bare digits are UINT, signed are INT — sql.tex:190-205). */
  case class Lit(value: Any, typ: String) extends Expr
  /** `x [NOT] IN (SELECT …)` — subquery membership (superset), with
    * ANSI three-valued NOT IN; legal only as a top-level AND conjunct
    * of WHERE. Uncorrelated, it plans as a keyed left-semi/left-anti
    * join; correlated, Catalyst decorrelates it. */
  case class InSelect(x: Expr, sel: SelectStmt, neg: Boolean)
      extends Expr
  /** `(SELECT …)` in expression position (superset). Uncorrelated, it
    * must yield exactly one row and one column, and is evaluated once
    * per statement and inlined as a literal; correlated, it must
    * select one aggregate and reaches Catalyst as a scalar subquery. */
  case class ScalarSelect(sel: SelectStmt) extends Expr
  /** `[NOT] EXISTS (SELECT …)` — correlated or uncorrelated
    * (superset); legal only as a top-level AND conjunct of WHERE, over
    * a plain FROM … WHERE subquery. Catalyst decorrelates it into a
    * left-semi/left-anti join, never a per-row re-execution. */
  case class ExistsSel(sel: SelectStmt, neg: Boolean) extends Expr
  /** A field of an enclosing query referenced from inside a correlated
    * subquery, with its NoWDB type (the enclosing scope's, since the
    * subquery's own typing cannot see it). */
  case class OuterRef(field: Field, typ: Option[String]) extends Expr
  /** An expression the engine has compiled to a Spark column itself
    * (a correlated scalar subquery, or an aggregate with ANSI rather
    * than dialect semantics), with the NoWDB type of its result. */
  case class Compiled(col: Column, typ: Option[String]) extends Expr
  /** Window frame spec `ROWS|RANGE [BETWEEN a AND b]` (r12 verdict
    * task 2). Bounds are offsets relative to the current row
    * (`k PRECEDING` = -k, `CURRENT ROW` = 0, `k FOLLOWING` = +k);
    * None = unbounded in that direction. */
  case class WFrame(mode: String, lo: Option[Long], hi: Option[Long])
  /** `fn(args) OVER (PARTITION BY … ORDER BY … [DESC] [frame])` —
    * window functions (superset): row_number/rank/dense_rank/lag/lead
    * plus windowed sum/count/min/max/avg (running frame when ORDER BY
    * is present, Spark's default; explicit ROWS/RANGE BETWEEN frames
    * for moving aggregates). An empty PARTITION BY is legal but
    * funnels the table through one task — queries at scale must
    * partition. */
  case class WindowFn(fn: FnCall, partBy: Seq[Expr],
                      ordBy: Seq[(Expr, Boolean)],
                      frame: Option[WFrame] = None) extends Expr
  case class Field(name: String, qualifier: Option[String] = None)
      extends Expr
  case class Star() extends Expr
  case class FnCall(name: String, args: Seq[Expr]) extends Expr
  case class BinOp(op: String, l: Expr, r: Expr) extends Expr
  case class UnOp(op: String, e: Expr) extends Expr // "-" | "not"
  case class InList(e: Expr, values: Seq[Expr], negated: Boolean)
      extends Expr
  case class IsNull(e: Expr, negated: Boolean) extends Expr
  case class CaseExpr(branches: Seq[(Expr, Expr)],
                      otherwise: Option[Expr]) extends Expr

  case class SelectItem(expr: Expr, alias: Option[String])

  /** The direct sub-expressions of `e`. Subqueries and window
    * functions are not entered: they open a scope of their own. */
  def children(e: Expr): Seq[Expr] = e match {
    case BinOp(_, l, r) => Seq(l, r)
    case UnOp(_, x) => Seq(x)
    case InList(x, vs, _) => x +: vs
    case IsNull(x, _) => Seq(x)
    case CaseExpr(bs, o) => bs.flatMap(b => Seq(b._1, b._2)) ++ o
    case FnCall(_, args) => args
    case _ => Nil
  }

  /** Rewrite `e` top-down: `pf` replaces the nodes it is defined at,
    * and every other node is rebuilt over its rewritten
    * [[children]]. */
  def rewriteExpr(e: Expr)(pf: PartialFunction[Expr, Expr]): Expr =
    pf.applyOrElse(e, (x: Expr) => {
      def t(y: Expr): Expr = rewriteExpr(y)(pf)
      x match {
        case BinOp(o, l, r) => BinOp(o, t(l), t(r))
        case UnOp(o, y) => UnOp(o, t(y))
        case InList(y, vs, n) => InList(t(y), vs.map(t), n)
        case IsNull(y, n) => IsNull(t(y), n)
        case CaseExpr(bs, o) =>
          CaseExpr(bs.map(b => (t(b._1), t(b._2))), o.map(t))
        case FnCall(n, args) => FnCall(n, args.map(t))
        case other => other
      }
    })

  // ── statements ─────────────────────────────────────────────────────
  sealed trait Statement

  // DDL
  case class CreateScope(name: String, ifNotExists: Boolean)
      extends Statement
  case class PropDef(name: String, typ: String, pk: Boolean,
                     stamp: Boolean)
  case class CreateType(name: String, props: Seq[PropDef],
                        ifNotExists: Boolean) extends Statement
  case class CreateEdge(name: String, origin: String, destin: String,
                        stamped: Boolean, payload: Seq[PropDef],
                        ifNotExists: Boolean) extends Statement
  /** CREATE TABLE/CONTEXT/STORAGE — physical placement config; a
    * metadata no-op in Spark (SURVEY §1.1 Storage). */
  case class CreateStorage(name: String, kind: String,
                           options: Map[String, String],
                           ifNotExists: Boolean) extends Statement
  case class CreateIndex(name: String, on: String, fields: Seq[String],
                         ifNotExists: Boolean) extends Statement
  case class CreateProcedure(module: String, name: String,
                             args: Seq[(String, String)], lang: String,
                             ifNotExists: Boolean) extends Statement
  case class CreateLock(name: String, ifNotExists: Boolean)
      extends Statement
  /** kind ∈ scope|type|edge|storage|index|procedure|lock */
  /** One CTE binding: `name [(col, …)] AS (<select or set-op chain>)`.
    * The optional column list renames the binding's output
    * positionally (ANSI; required in practice for recursive CTEs
    * whose base term is an unaliased expression). */
  case class CteBinding(name: String, cols: Seq[String],
                        stmt: Statement)
  /** `WITH [RECURSIVE] name [(cols)] AS (…) [, …] SELECT …` — common
    * table expressions (absent in the reference; documented
    * superset). Later bindings and the body see earlier bindings;
    * bindings shadow tables of the same name for the statement's
    * duration. The body is a SELECT or a set-operation chain; each
    * binding's body may itself be a set-op chain. With RECURSIVE, a
    * binding whose body references its own name must be the ANSI
    * linear-recursive shape `base UNION [ALL] recursive` and is
    * evaluated as an iterative fixpoint (Engine.buildRecursiveCte —
    * depth-capped, per-round lineage cuts). */
  case class WithStmt(bindings: Seq[CteBinding],
                      body: Statement,
                      recursive: Boolean = false) extends Statement
  /** `SELECT … UNION|INTERSECT|EXCEPT [ALL] SELECT …` (absent in the
    * reference; documented superset). Standard precedence: INTERSECT
    * binds tighter than UNION/EXCEPT; chains are left-associative;
    * columns align positionally and take the left side's names. A
    * per-branch ORDER BY/LIMIT binds to its own SELECT. */
  case class SetOpStmt(op: String, all: Boolean, left: Statement,
                       right: Statement) extends Statement
  /** CREATE VIEW — absent in the reference; documented superset. The
    * body is kept as raw SELECT text and expanded at FROM-resolution
    * time (classic logical view, no materialization). */
  case class CreateView(name: String, viewSql: String,
                        ifNotExists: Boolean) extends Statement
  case class DropStmt(kind: String, name: String, ifExists: Boolean)
      extends Statement

  // misc / session
  case class UseScope(name: String) extends Statement
  /** what ∈ types|edges|procedures|stores|locks */
  case class ShowStmt(what: String) extends Statement
  case class DescStmt(name: String) extends Statement
  case class LockStmt(name: String, write: Boolean, timeoutMs: Option[Long])
      extends Statement
  case class UnlockStmt(name: String) extends Statement
  case class ExecStmt(name: String, args: Seq[Expr]) extends Statement
  case class FetchStmt(cursorId: Long) extends Statement
  /** EXPLAIN SELECT … — engine extension: returns the physical plan. */
  case class ExplainStmt(select: Statement) extends Statement
  case class CloseStmt(cursorId: Long) extends Statement

  // DML
  /** moreRows: ANSI multi-row VALUES lists (superset) — applied
    * row-at-a-time with first-failure stop, matching the reference's
    * script-of-inserts semantics. */
  case class InsertStmt(target: String, cols: Seq[String],
                        values: Seq[Expr],
                        moreRows: Seq[Seq[Expr]] = Nil)
      extends Statement
  /** INSERT … SELECT — documented "not yet" in the reference
    * (sql.tex:1934-1950), implemented natively here. */
  case class InsertSelect(target: String, cols: Seq[String],
                          select: SelectStmt) extends Statement
  /** format ∈ csv (reference loader.c) | json (JSONL superset — the
    * lingua franca of training-data corpora; by-name field mapping).
    * `asKind` is the reference's `AS vertex|edge|<typename>` clause
    * (nowdbsql.y:287-295): a layout declaration the engine VALIDATES
    * against the resolved target (kind resolution itself is
    * catalog-driven here, so the clause is a guard, not a mode). */
  case class LoadStmt(path: String, target: String, header: String,
                      errorsFile: Option[String],
                      format: String = "csv",
                      asKind: Option[String] = None) extends Statement
  /** Declared-only in the reference (stmt.c:2449-2470 "not yet
    * implemented"; DELETE semantics documented sql.tex:2017-2034) —
    * implemented natively here. */
  case class DeleteStmt(target: String, where: Option[Expr])
      extends Statement
  case class UpdateStmt(target: String, sets: Seq[(String, Expr)],
                        where: Option[Expr]) extends Statement
  /** ANSI-style MERGE (upsert) — absent from the reference entirely
    * (its DML surface stops at UPDATE/DELETE, sql.tex:2017-2034);
    * documented superset. One full-outer join + one projection — the
    * Delta/Iceberg MERGE shape on copy-on-write parquet. Exactly one
    * WHEN MATCHED clause (UPDATE SET … or DELETE) and/or one WHEN NOT
    * MATCHED THEN INSERT clause. */
  case class MergeStmt(target: String, source: String, on: Expr,
                       matchedSets: Option[Seq[(String, Expr)]],
                       matchedDelete: Boolean,
                       insert: Option[(Seq[String], Seq[Expr])])
      extends Statement

  // DQL
  /** Edge-join form (sql.tex:2291-2368): `JOIN vtype ON origin|destin`,
    * always inner, ≤2 sub-joins. */
  case class JoinClause(typeName: String, onField: String,
                        alias: Option[String])
  /** orderBy: (field, ascending). DESC and LIMIT are supersets — the
    * reference's grammar has neither (SURVEY §2.7). */
  /** ANSI table join (superset — the reference's only join is the
    * edge-join): `[INNER|LEFT|RIGHT|FULL [OUTER]] JOIN t [alias] ON
    * <expr>`. Edge joins apply first, then ANSI joins in declared
    * order. */
  case class AnsiJoin(table: String, alias: Option[String],
                      kind: String, on: Expr)
  case class SelectStmt(items: Seq[SelectItem], from: Option[String],
                        fromAlias: Option[String],
                        joins: Seq[JoinClause], where: Option[Expr],
                        // r13: GROUP BY takes full expressions (and
                        // select ALIASES, resolved engine-side with
                        // base columns winning a name clash); ROLLUP/
                        // CUBE lists stay plain fields
                        groupBy: Seq[Expr],
                        orderBy: Seq[(Field, Boolean)],
                        limit: Option[Long] = None,
                        having: Option[Expr] = None,
                        distinct: Boolean = false,
                        offset: Option[Long] = None,
                        ansiJoins: Seq[AnsiJoin] = Seq.empty,
                        // "plain" | "rollup" | "cube" (superset:
                        // GROUP BY ROLLUP(...)/CUBE(...))
                        groupMode: String = "plain",
                        // derived tables `FROM (SELECT …) alias`
                        // (superset): bound as transient tables for
                        // the statement's build, in declared order —
                        // `from`/`ansiJoins` reference the alias
                        derived: Seq[(String, SelectStmt)] = Seq.empty,
                        // `FROM t SAMPLE <pct> [ON f]` (the last
                        // keyword of the reference manual's absent
                        // triple, sql.tex:2127): deterministic
                        // hash-mod sample of the base scan — (pct,
                        // optional key field)
                        sample: Option[(Long, Option[Field])] = None)
      extends Statement
}
