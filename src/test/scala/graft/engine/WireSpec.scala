package graft.engine

import java.io.{ByteArrayInputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The reply writer at the [[Wire]] seam: every reply reaches the
  * stream in one write, whatever its size and row framing, and its
  * bytes are the protocol's. Sessions are driven from a scripted input
  * stream into a stream that records each write, so nothing here waits
  * on a socket or a clock. */
class WireSpec extends AnyFunSuite {
  val spark = TestSpark.spark

  /** Keeps the bytes of every `write` call apart. */
  private final class Writes extends OutputStream {
    val calls = mutable.ArrayBuffer.empty[Array[Byte]]
    override def write(b: Int): Unit = calls += Array(b.toByte)
    override def write(b: Array[Byte], off: Int, len: Int): Unit =
      calls += b.slice(off, off + len)
    def text(i: Int): String = new String(calls(i), UTF_8)
  }

  private def session(eng: Engine, script: String*): Writes = {
    val out = new Writes
    Wire.session(eng, new ByteArrayInputStream(
      script.map(_ + "\n").mkString.getBytes(UTF_8)), out, "+ok wire test",
      () => true)
    out
  }

  test("every reply, a page over 8 KB included, reaches the socket in " +
    "one write in both framings") {
    val eng = new Engine(spark,
      java.nio.file.Files.createTempDirectory("wire-one").toString,
      cursorPageSize = 1000)
    val big = spark.range(1000).select(col("id"),
      concat(lit("a fairly long cell of text, row "), col("id")).as("body"))
    eng.attachTable("big", big)
    val out = session(eng,
      "select id, body from big", "fetch 1",
      "mode binary", "select id, body from big", "fetch 2",
      "mode text", "quit")
    assert(out.calls.map(c => new String(c, UTF_8).takeWhile(_ != '\n')) ==
      Seq("+ok wire test", "+cursor 1", "+batch 1000 0", "+ok mode binary",
        "+cursor 2", "+batch 1000 0", "+ok mode text", "+ok bye"))
    val text = out.calls(2)
    val binary = out.calls(5)
    assert(text.length > 8192 && binary.length > 8192,
      s"pages of ${text.length} and ${binary.length} bytes")
    val lines = out.text(2).split("\n", -1).toSeq
    assert(lines(1) == "#id\tbody" && lines.last.isEmpty)
    assert(lines.slice(2, 1002).sorted == (0 until 1000)
      .map(i => s"$i\ta fairly long cell of text, row $i").sorted)
    // binary: per row INT(5) + 8 little-endian bytes, then TEXT(1) +
    // NUL-terminated UTF-8, then '\n'
    var at = binary.indexOf('\n'.toByte, binary.indexOf('\n'.toByte) + 1) + 1
    val decoded = (0 until 1000).map { _ =>
      assert(binary(at) == 5)
      val id = (0 until 8).map(k => (binary(at + 1 + k) & 0xffL) << (8 * k)).sum
      assert(binary(at + 9) == 1)
      val end = binary.indexOf(0.toByte, at + 10)
      val body = new String(binary.slice(at + 10, end), UTF_8)
      assert(binary(end + 1) == '\n')
      at = end + 2
      s"$id\t$body"
    }
    assert(at == binary.length)
    assert(decoded.sorted == lines.slice(2, 1002).sorted)
  }

  test("text framing: escapes and NULL, byte for byte") {
    val eng = new Engine(spark,
      java.nio.file.Files.createTempDirectory("wire-golden").toString,
      cursorPageSize = 10)
    import spark.implicits._
    eng.attachTable("cells", Seq[(Long, String)](
      (1L, "tab\there"), (2L, "line1\nline2"), (3L, "back\\slash"),
      (4L, null), (5L, "cr\rend"), (6L, "\\N"), (7L, "ünï")
    ).toDF("id", "body").coalesce(1))
    val out = session(eng, "select id, body from cells;", "fetch 1",
      "fetch 1", "bogus statement", "exit")
    val got = out.calls.map(c => new String(c, UTF_8))
    assert(got.take(3) == Seq(
      "+ok wire test\n",
      "+cursor 1\n",
      "+batch 7 0\n#id\tbody\n" +
        "1\ttab\\there\n" +
        "2\tline1\\nline2\n" +
        "3\tback\\\\slash\n" +
        "4\t\\N\n" +
        "5\tcr\\rend\n" +
        "6\t\\\\N\n" +
        "7\tünï\n"))
    // an exhausted cursor is closed; errors stay one line each
    assert(got(3) == "-err no cursor 1\n")
    assert(got(4).startsWith("-err ") && got(4).count(_ == '\n') == 1)
    assert(got(5) == "+ok bye\n" && got.length == 6)
  }
}
