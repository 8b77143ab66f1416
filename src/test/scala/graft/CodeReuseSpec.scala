package graft

import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine._

/** A statement shape compiles once: numeric constants of the dialect are
  * bound by reference in the generated code, so a new key or stamp
  * window reuses the class an earlier constant compiled. Counted with
  * Spark's own compile counter, not timed. Filter pushdown must see the
  * bound constants as the literals they are. */
class CodeReuseSpec extends AnyFunSuite {
  val spark = TestSpark.spark

  private val nsPerDay = 86400L * 1000000000L
  private val day0 = java.time.LocalDate.parse("2024-03-01").toEpochDay
  private val days = 12
  private val clients = 60

  private def ok(r: Result): Unit = r match {
    case Status(true, _) | Report(_, _) | Rows(_) =>
    case other => fail(s"statement failed: $other")
  }

  private def day(d: Int): String =
    java.time.LocalDate.ofEpochDay(day0 + d).toString

  /** Every row of a statement, paged through an engine cursor. */
  private def rows(eng: Engine, stmt: String): Seq[Row] = eng.sql(stmt) match {
    case Rows(df) =>
      val cur = eng.openCursor(df)
      val out = Seq.newBuilder[Row]
      var more = true
      while (more) more = eng.sql(s"fetch $cur") match {
        case Batch(rs, _, m) => out ++= rs; m
        case other => fail(s"fetch: $other")
      }
      out.result()
    case other => fail(s"$stmt: $other")
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("point and stamp-window statements that differ only in constants " +
    "compile nothing after the first") {
    val eng = new Engine(spark,
      Files.createTempDirectory("graft-codereuse").toString)
    ok(eng.sql("create scope cr"))
    ok(eng.sql("use cr"))
    ok(eng.sql("create type client (id uint pk, name text)"))
    ok(eng.sql("create edge buys (origin client origin, " +
      "destin client destin, stamp time stamp, price int)"))
    // one buy every 2 h over `days` days; price a function of the row
    val n = days * 12
    val raw = spark.range(n).select(
      (col("id") % clients + 1).as("origin"),
      (col("id") % 7 + 1).as("destin"),
      (lit(day0 * nsPerDay) + col("id") * (nsPerDay / 12)).as("stamp"),
      (col("id") * 37 % 1000).as("price"))
    eng.attachTable("raw", raw, timeCols = Set("stamp"))
    ok(eng.sql("insert into buys (origin, destin, stamp, price) " +
      "select origin, destin, stamp, price from raw"))
    eng.attachTable("names", spark.range(1, clients + 1)
      .select(col("id"), concat(lit("c"), col("id")).as("name")))
    ok(eng.sql("insert into client (id, name) select id, name from names"))

    def point(k: Int): Unit = assert(
      rows(eng, s"select id, name from client where id = $k") ==
        Seq(Row(k.toLong, s"c$k")))
    /** count and sum(price) of the days [d, d + w). */
    def range(d: Int, w: Int): Unit = {
      val in = (0L until n).filter(i => i / 12 >= d && i / 12 < d + w)
      assert(rows(eng, "select count(*), sum(price) from buys " +
        s"where stamp >= '${day(d)}' and stamp < '${day(d + w)}'") ==
        Seq(Row(in.size.toLong, in.map(i => i * 37 % 1000).sum)))
    }

    point(1); range(0, 2)
    val warm = compiles
    (2 to 21).foreach(point)
    (1 to 20).foreach(i => range(i % (days - 3), 1 + i % 3))
    assert(compiles - warm == 0,
      s"${compiles - warm} classes compiled for new constants")

    def plan(stmt: String): String = eng.sql(s"explain $stmt") match {
      case Rows(df) => df.collect().map(_.getString(0)).mkString
      case other => fail(s"explain: $other")
    }
    val pointPlan = plan("select id, name from client where id = 33")
    assert(pointPlan.matches("(?s).*PushedFilters: \\[[^\\]]*EqualTo\\(id,33\\).*"),
      pointPlan)
    val rangePlan = plan("select count(*), sum(price) from buys " +
      s"where stamp >= '${day(3)}' and stamp < '${day(5)}'")
    assert(rangePlan.matches(
      s"(?s).*PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(stamp,${(day0 + 3) * nsPerDay}\\).*"),
      rangePlan)
  }
}
