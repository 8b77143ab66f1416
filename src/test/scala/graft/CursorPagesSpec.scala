package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine._

/** Cursor pages pulled by engine-run partition jobs: every row once,
  * decoded as `collect()` decodes it, under the statement's own schema. */
class CursorPagesSpec extends AnyFunSuite {
  val spark = TestSpark.spark

  private val nsPerDay = 86400L * 1000000000L
  private val day0 = java.time.LocalDate.parse("2024-05-01").toEpochDay

  private def ok(r: Result): Unit = r match {
    case Status(true, _) | Report(_, _) | Rows(_) =>
    case other => fail(s"statement failed: $other")
  }
  private def frame(r: Result): DataFrame = r match {
    case Rows(df) => df
    case other => fail(s"expected rows, got $other")
  }

  /** Pages of `cur` until the last; each page's schema. */
  private def drain(eng: Engine, cur: Long): Seq[Batch] = {
    val out = Seq.newBuilder[Batch]
    var more = true
    while (more) more = eng.sql(s"fetch $cur") match {
      case b: Batch => out += b; b.more
      case other => fail(s"fetch: $other")
    }
    out.result()
  }

  /** A stamped edge over 6 days with NULL quantities and NULL stamps,
    * one data file per day. */
  private lazy val eng = {
    val e = new Engine(spark,
      Files.createTempDirectory("graft-cursorpages").toString,
      cursorPageSize = 4)
    ok(e.sql("create scope cp"))
    ok(e.sql("use cp"))
    ok(e.sql("create type v (id uint pk, seg text)"))
    ok(e.sql("create edge e (origin v origin, destin v destin, " +
      "stamp time stamp, qty int, note text)"))
    val raw = spark.range(60).select(
      (col("id") % 5 + 1).as("origin"),
      (col("id") % 3 + 1).as("destin"),
      when(col("id") % 11 === 0, lit(null).cast("long"))
        .otherwise(lit(day0 * nsPerDay) + col("id") * (nsPerDay / 10))
        .as("stamp"),
      when(col("id") % 4 === 0, lit(null).cast("long"))
        .otherwise(col("id")).as("qty"),
      when(col("id") % 6 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("n\t"), col("id"))).as("note"))
    e.attachTable("raw", raw, timeCols = Set("stamp"))
    ok(e.sql("insert into e (origin, destin, stamp, qty, note) " +
      "select origin, destin, stamp, qty, note from raw"))
    e
  }

  test("a multi-partition cursor pages the rows collect() returns, " +
    "under the statement's schema") {
    val stmt = "select origin, stamp, qty, note from e"
    val df = frame(eng.sql(stmt))
    assert(df.rdd.getNumPartitions > 1, "the scan has one partition")
    val expected = df.collect().toSeq
    assert(expected.size == 60 && expected.exists(_.isNullAt(1)) &&
      expected.exists(_.isNullAt(2)) && expected.exists(_.isNullAt(3)))
    val pages = drain(eng, eng.openCursor(frame(eng.sql(stmt))))
    assert(pages.init.forall(_.rows.size == 4) && pages.last.rows.size <= 4)
    val got = pages.flatMap(_.rows)
    assert(got.map(_.toString).sorted == expected.map(_.toString).sorted)
    // the TIME marker binary framing reads stays on the page schema
    pages.foreach { b =>
      assert(b.schema == df.schema)
      assert(b.schema("stamp").metadata.getString("graft.nowType") == "time")
    }
  }

  test("an empty result is one batch with no rows and no more") {
    val cur = eng.openCursor(frame(eng.sql(
      "select origin, stamp from e where qty < 0")))
    drain(eng, cur) match {
      case Seq(Batch(rs, schema, more)) =>
        assert(rs.isEmpty && !more)
        assert(schema("stamp").metadata.getString("graft.nowType") == "time")
      case pages => fail(s"${pages.size} pages")
    }
    assert(eng.sql(s"fetch $cur") == Status(ok = false, s"no cursor $cur"))
  }

  test("a lua cursor's rows() iterates again after it ran dry") {
    val procDir = Files.createTempDirectory("cursorpages-lua")
    Files.writeString(procDir.resolve("twice.lua"),
      """function twice()
        |  local cur = nowdb.execute([[select qty from e where qty > 10]])
        |  local n = 0
        |  for pass = 1, 2 do
        |    for row in cur.rows() do n = n + 1 end
        |  end
        |  cur.release()
        |  return nowdb.makeresult(nowdb.INT, n)
        |end
        |""".stripMargin)
    val prior = spark.conf.getOption("spark.graft.procPath")
    spark.conf.set("spark.graft.procPath", procDir.toString)
    try {
      ok(eng.sql("create procedure twice.twice() language lua"))
      val once = frame(eng.sql("select qty from e where qty > 10")).count()
      assert(once > 4)
      assert(frame(eng.sql("exec twice()")).collect()(0).getLong(0) ==
        2 * once)
    } finally prior.fold(spark.conf.unset("spark.graft.procPath"))(
      spark.conf.set("spark.graft.procPath", _))
  }
}
