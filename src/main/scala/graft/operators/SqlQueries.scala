package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import graft.engine.{Engine, Rows, Status}

/** End-to-end NoWDB-dialect coverage: every query here goes through
  * the full pipeline — Parser → AST → ExprBuilder/Engine → Catalyst —
  * over the testdata tables, and the DuckDB oracle recomputes the
  * result in ANSI SQL. This differentially checks the SQL front-end
  * itself, not just the operators.
  */
object SqlQueries extends QueryPack {

  private def engine(s: SparkSession, d: String): Engine = {
    val e = new Engine(s,
      Files.createTempDirectory("graft-sql-scope").toString)
    e.attachTable("lineitem", Tables.lineitem(s, d))
    e.attachTable("orders", Tables.orders(s, d))
    e.attachTable("events", Tables.events(s, d), timeCols = Set("ts"))
    e
  }

  private def q(sql: String): (SparkSession, String) => DataFrame =
    (s, d) => engine(s, d).sql(sql) match {
      case Rows(df) => df
      case other => throw new IllegalStateException(s"$sql -> $other")
    }

  protected val entries: Map[String, Query] = Map(
    // group + count + exact truncating toint (NoWDB conversion fn)
    "q62_sql_group" -> q(
      """select l_returnflag, l_linestatus, count(*) as n,
        | sum(toint(l_quantity * 100)) as qty100
        | from lineitem group by l_returnflag, l_linestatus""".stripMargin),
    // ns-stamp time-literal coercion in WHERE (plan.c tryTime)
    "q63_sql_time_filter" -> q(
      """select event_type, count(*) as n from events
        | where ts >= '2024-01-10' and ts < '2024-01-20'
        | group by event_type""".stripMargin),
    // NoWDB time parts over ns stamps
    "q64_sql_time_parts" -> q(
      """select event_id, wday(ts) as wd, yday(ts) as yd,
        | milli(ts) as ms from events where user_id = 7""".stripMargin),
    // median (exact) and spread aggregates
    "q65_sql_median_spread" -> q(
      """select user_id, median(value) as med, spread(value) as spr
        | from events group by user_id""".stripMargin),
    // CASE/IN expression surface
    "q66_sql_case_in" -> q(
      """select event_id,
        | case when value >= 50 then 'hi' when value >= 10 then 'mid'
        |      else 'lo' end as bucket
        | from events where event_type in ('click', 'view')""".stripMargin),
    // SELECT without FROM: constants, ^ as power
    "q67_sql_const" -> q("select 3*2^2 as v, pi() as pi"),
    // declared-only fns implemented natively: n-th root + century
    "q182_sql_root_century" -> q(
      """select event_id, round(root(value, 3), 6) as r3,
        | century(ts) as c from events where user_id = 3""".stripMargin),
    // QUOT: `/` on int operands is the integer quotient
    // (fun/expr.c:1842,2228-2233); float operand → double division
    "q75_sql_intdiv" -> q(
      """select l_orderkey, l_partkey / 7 as q, l_partkey % 7 as r,
        | l_quantity / 7 as fq
        | from lineitem where l_orderkey < 500""".stripMargin),
    // HAVING + multi-key ORDER BY DESC + LIMIT supersets end-to-end
    "q82_sql_having_limit" -> q(
      """select user_id, count(*) as n from events
        | group by user_id having n >= 50
        | order by n desc, user_id limit 10""".stripMargin),
    // Full DML round-trip in a scratch scope: CREATE TYPE →
    // INSERT..SELECT from a mounted table (PK-deduped) → UPDATE →
    // DELETE (both copy-on-write version flips) → final aggregate.
    "q83_sql_dml_roundtrip" -> ((s, d) => {
      val e = engine(s, d)
      def ok(sql: String): Unit = e.sql(sql) match {
        case Status(false, m) => throw new IllegalStateException(s"$sql: $m")
        case _ =>
      }
      ok("create scope dmlrt")
      ok("use dmlrt")
      ok("create type item (id uint pk, qty int, flag text)")
      ok("""insert into item (id, qty, flag)
           | select event_id, toint(value), event_type
           |  from events""".stripMargin)
      ok("update item set qty = qty + 1000 where flag = 'click'")
      ok("delete from item where qty < 1100 and flag = 'click'")
      e.sql("select flag, count(*) as n, sum(qty) as sq from item " +
        "group by flag") match {
        case Rows(df) => df
        case other => throw new IllegalStateException(s"$other")
      }
    })
  )

  val oracles: Map[String, String] = Map(
    "q62_sql_group" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(trunc(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS qty100
        | FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q63_sql_time_filter" ->
      """SELECT event_type, count(*) AS n FROM events
        | WHERE ts >= TIMESTAMP '2024-01-10'
        |   AND ts < TIMESTAMP '2024-01-20'
        | GROUP BY event_type""".stripMargin,
    "q64_sql_time_parts" ->
      """SELECT event_id, CAST(dayofweek(ts) AS BIGINT) AS wd,
        |  CAST(dayofyear(ts) - 1 AS BIGINT) AS yd,
        |  CAST((epoch_ns(ts) % 1000000000) // 1000000 AS BIGINT) AS ms
        | FROM events WHERE user_id = 7""".stripMargin,
    "q65_sql_median_spread" ->
      """SELECT user_id, median(value) AS med,
        |  max(value) - min(value) AS spr
        | FROM events GROUP BY user_id""".stripMargin,
    "q66_sql_case_in" ->
      """SELECT event_id,
        |  CASE WHEN value >= 50 THEN 'hi' WHEN value >= 10 THEN 'mid'
        |       ELSE 'lo' END AS bucket
        | FROM events WHERE event_type IN ('click', 'view')""".stripMargin,
    "q67_sql_const" ->
      "SELECT CAST(12.0 AS DOUBLE) AS v, pi() AS pi",
    "q182_sql_root_century" ->
      """SELECT event_id,
        | round(pow(value, CAST(1.0 AS DOUBLE) / 3), 6) AS r3,
        | century(ts) AS c
        | FROM events WHERE user_id = 3""".stripMargin,
    "q75_sql_intdiv" ->
      """SELECT l_orderkey, l_partkey // 7 AS q, l_partkey % 7 AS r,
        |  l_quantity / 7 AS fq
        | FROM lineitem WHERE l_orderkey < 500""".stripMargin,
    "q82_sql_having_limit" ->
      """SELECT user_id, count(*) AS n FROM events
        | GROUP BY user_id HAVING count(*) >= 50
        | ORDER BY n DESC, user_id LIMIT 10""".stripMargin,
    "q83_sql_dml_roundtrip" ->
      """WITH item AS (
        |  SELECT event_id AS id, CAST(trunc(value) AS BIGINT) AS qty,
        |   event_type AS flag
        |  FROM events),
        | upd AS (SELECT id,
        |   CASE WHEN flag = 'click' THEN qty + 1000 ELSE qty END AS qty,
        |   flag FROM item),
        | del AS (SELECT * FROM upd
        |  WHERE NOT (qty < 1100 AND flag = 'click'))
        | SELECT flag, count(*) AS n, CAST(sum(qty) AS BIGINT) AS sq
        | FROM del GROUP BY flag""".stripMargin
  )
}
