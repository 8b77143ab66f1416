package clientbench

import java.io.{ByteArrayOutputStream, OutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

/** One wire connection to a `graft.engine.Server`, speaking both row
  * framings: text (tab-separated lines) and binary (typed fields, see
  * `graft.engine.Wire.respondBinary`). Counts the bytes and FETCH round
  * trips of every statement it sends. Not thread-safe: one per client.
  */
final class Conn(port: Int) {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = sock.getInputStream
  private val out: OutputStream = sock.getOutputStream
  private val buf = new Array[Byte](1 << 16)
  private var pos = 0
  private var lim = 0
  private var binary = false

  /** Bytes received from the server so far. */
  var bytesIn = 0L

  private def readByte(): Int = {
    if (pos == lim) {
      lim = in.read(buf)
      if (lim <= 0) throw new java.io.EOFException("server closed")
      pos = 0
      bytesIn += lim
    }
    pos += 1
    buf(pos - 1) & 0xff
  }

  private def readLine(): String = {
    val line = new ByteArrayOutputStream(64)
    var b = readByte()
    while (b != '\n') { line.write(b); b = readByte() }
    new String(line.toByteArray, UTF_8)
  }

  private def readLong(): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v |= (readByte().toLong & 0xff) << (8 * i); i += 1 }
    v
  }

  private def readCString(): String = {
    val text = new ByteArrayOutputStream(16)
    var b = readByte()
    while (b != 0) { text.write(b); b = readByte() }
    new String(text.toByteArray, UTF_8)
  }

  require(readLine().startsWith("+ok"), "bad server greeting")

  def send(stmt: String): String = {
    out.write((stmt + "\n").getBytes(UTF_8)); out.flush()
    readLine()
  }

  /** Switch row framing; a wire-level command, not a statement. */
  def mode(bin: Boolean): Unit = if (bin != binary) {
    val head = send(if (bin) "mode binary" else "mode text")
    require(head.startsWith("+ok"), head)
    binary = bin
  }

  def isBinary: Boolean = binary

  /** Reads the rows of one `+batch n more` frame. Text cells stay
    * strings (`null` for `\N`); binary cells are Long, Double, Boolean
    * or String. */
  private def readBatch(head: String): (Array[Array[Any]], Boolean) = {
    val parts = head.split(" ")
    val n = parts(1).toInt
    val more = parts(2) == "1"
    val width = readLine().stripPrefix("#").split("\t", -1).length
    val rows = new Array[Array[Any]](n)
    var r = 0
    while (r < n) {
      rows(r) =
        if (!binary) readLine().split("\t", -1).map(c =>
          if (c == "\\N") null else c: Any)
        else {
          val row = new Array[Any](width)
          var i = 0
          while (i < width) {
            row(i) = readByte() match {
              case 0 => readByte(); null
              case 1 => readCString()
              case 3 | 5 | 6 => readLong()
              case 4 => java.lang.Double.longBitsToDouble(readLong())
              case 9 => readByte() != 0
              case t => throw new IllegalStateException(s"bad tag $t")
            }
            i += 1
          }
          require(readByte() == '\n', "bad row terminator")
          row
        }
      r += 1
    }
    (rows, more)
  }

  /** SELECT → cursor → FETCH every page. `onFetch` receives the start
    * and end (`System.nanoTime`) of each FETCH round trip. */
  def query(stmt: String, onFetch: (Long, Long) => Unit)
      : Array[Array[Any]] = {
    val head = send(stmt)
    if (!head.startsWith("+cursor"))
      throw new IllegalStateException(s"expected cursor, got: $head")
    val cur = head.split(" ")(1)
    val rows = Array.newBuilder[Array[Any]]
    var more = true
    while (more) {
      val t0 = System.nanoTime()
      val h = send(s"fetch $cur")
      if (!h.startsWith("+batch"))
        throw new IllegalStateException(s"fetch: $h")
      val (page, m) = readBatch(h)
      onFetch(t0, System.nanoTime())
      rows ++= page
      more = m
    }
    rows.result()
  }

  def close(): Unit =
    try { send("quit") } catch { case _: java.io.IOException => }
    finally sock.close()
}
