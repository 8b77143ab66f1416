package graft.engine

import java.io.{BufferedReader, InputStream, InputStreamReader, OutputStream,
  OutputStreamWriter, PrintWriter}
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal TCP wire protocol over [[Engine]] — the Spark-side
  * counterpart of the reference's session server (`ifc/nowdb.c`:
  * accept loop at :585-696 spawns one detached session thread per
  * connection; the session loop at :1505+ reads statements and
  * answers with status / report / cursor+rows frames, clients page
  * with FETCH/CLOSE). Here each connection gets its own Engine
  * session over the shared SparkSession and scope root, so sessions
  * see one catalog (and the engine's table write locks arbitrate
  * concurrent DML exactly as in-process callers do).
  *
  * Text line protocol (UTF-8, one statement per line, trailing `;`
  * optional; newlines/tabs/backslashes in cells escaped `\n` `\t`
  * `\\`, NULL as `\N`):
  *
  * {{{
  *   S: +ok graft <banner>
  *   C: <statement>
  *   S: +ok [msg]               (DDL/DML/USE/LOCK ok)
  *    | -err <message>          (any failure; session survives)
  *    | +report <loaded> <errors>       (CSV LOAD)
  *    | +cursor <id>            (SELECT — result parked as a cursor)
  *    | +batch <n> <more01>     (FETCH — then one #-prefixed header
  *                               line and n tab-separated row lines)
  *   C: fetch <id> | close <id> | mode binary | mode text | quit
  * }}}
  *
  * Reply contract: every reply — the greeting, a `mode`/`quit`
  * answer, or a whole `+batch` frame with its header and rows — is
  * rendered into one buffer and handed to the socket in one write, and
  * accepted sockets set `TCP_NODELAY`. A reply split over several
  * writes lets Nagle's algorithm hold its tail until the client's
  * delayed ACK (40 ms on Linux), which every FETCH page of a paged
  * export then waits out.
  *
  * The server thread and per-session threads are daemons; `stop()`
  * closes the listener and in-flight sessions clean up via
  * [[Engine.closeSession]] (cursor caches dropped, locks released) —
  * the reference's session teardown contract.
  */
class Server(spark: org.apache.spark.sql.SparkSession, root: String,
             port: Int = 0, pageSize: Int = 1000) {

  private val listener = new ServerSocket(port)
  @volatile private var running = true

  /** Ephemeral-port friendly (port = 0): the actually bound port. */
  def boundPort: Int = listener.getLocalPort

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = listener.accept()
        val t = new Thread(() => session(sock))
        t.setDaemon(true)
        t.start()
      } catch {
        case _: SocketException => // listener closed in stop()
      }
    }
  }, "graft-server-accept")
  acceptor.setDaemon(true)

  def start(): this.type = { acceptor.start(); this }

  def stop(): Unit = { running = false; listener.close() }

  private def session(sock: Socket): Unit = {
    val eng = new Engine(spark, root, cursorPageSize = pageSize)
    try Wire.serve(eng, sock, "+ok graft server ready", () => running)
    catch {
      case _: java.io.IOException => // peer vanished — clean up below
    } finally {
      eng.closeSession()
      try sock.close() catch { case _: java.io.IOException => }
    }
  }
}

/** Shared wire framing — used by [[Server]] sessions and by the
  * external-procedure bridge (which serves the SAME engine session to
  * a subprocess over a loopback socket). Each reply is rendered whole
  * into one buffer and then written to the socket at once. */
private[engine] object Wire {

  /** Serve `sock` with `eng` ([[session]]), replies unbatched by
    * Nagle's algorithm. */
  def serve(eng: Engine, sock: Socket, greeting: String,
            live: () => Boolean): Unit = {
    sock.setTcpNoDelay(true)
    session(eng, sock.getInputStream, sock.getOutputStream, greeting, live)
  }

  /** Answer statements read from `in`, one a line, until the peer quits
    * or leaves or `live()` turns false; each reply goes to `out` in one
    * write. `mode binary|text` switches row framing (text by default);
    * like `quit`/`exit` it is wire-level and never reaches the parser. */
  def session(eng: Engine, in0: InputStream, out: OutputStream,
              greeting: String, live: () => Boolean): Unit = {
    val in = new BufferedReader(new InputStreamReader(in0, UTF_8))
    send(out, greeting)
    var binary = false
    var line = in.readLine()
    while (line != null && live()) {
      val stmt = line.trim.stripSuffix(";").trim
      if (stmt.equalsIgnoreCase("quit") || stmt.equalsIgnoreCase("exit")) {
        send(out, "+ok bye")
        line = null
      } else {
        if (stmt.equalsIgnoreCase("mode binary") ||
            stmt.equalsIgnoreCase("mode text")) {
          binary = stmt.toLowerCase.endsWith("binary")
          send(out, s"+ok mode ${if (binary) "binary" else "text"}")
        } else if (stmt.nonEmpty) respond(eng, stmt, binary, out)
        line = in.readLine()
      }
    }
  }

  /** Answer one statement: the reply, rows framed as text lines or
    * binary typed rows, goes to `out` in one write. */
  def respond(eng: Engine, stmt: String, binary: Boolean,
              out: OutputStream): Unit = {
    val r = new Reply
    try eng.sql(stmt) match {
      case b @ Batch(rows, schema, _) =>
        head(r, b, eng)
        r.byte('#')
        r.cells(schema.length)(i => schema.fields(i).name)
        if (binary) binaryRows(r, b)
        else rows.foreach { row =>
          r.cells(schema.length)(i =>
            if (row.isNullAt(i)) null else String.valueOf(row.get(i)))
        }
      case other => head(r, other, eng)
    } catch {
      case e: Exception =>
        r.reset()
        head(r, Status(ok = false, String.valueOf(e.getMessage)), eng)
    }
    r.writeTo(out)
  }

  /** A one-line reply. */
  private def send(out: OutputStream, line: String): Unit = {
    out.write((line + "\n").getBytes(UTF_8))
    out.flush()
  }

  /** One reply's bytes, grown as it renders; allocated per reply, so
    * no session keeps a large page's buffer alive. */
  private final class Reply {
    private var buf = new Array[Byte](256)
    private var n = 0
    private def room(k: Int): Unit =
      if (n + k > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, n + k))
    def byte(b: Int): Unit = { room(1); buf(n) = b.toByte; n += 1 }
    def bytes(a: Array[Byte]): Unit = {
      room(a.length); System.arraycopy(a, 0, buf, n, a.length); n += a.length
    }
    def line(s: String): Unit = { bytes(s.getBytes(UTF_8)); byte('\n') }
    /** `s`, all of whose chars are ASCII, byte for byte. */
    def ascii(s: String): Unit = {
      room(s.length)
      var i = 0
      while (i < s.length) { buf(n + i) = s.charAt(i).toByte; i += 1 }
      n += s.length
    }
    /** `s` as UTF-8 with backslash, tab, CR and LF escaped `\\` `\t`
      * `\r` `\n`, in one pass over its chars; an unpaired surrogate
      * becomes `?`, as `String.getBytes(UTF_8)` writes it. */
    def escaped(s: String): Unit = {
      room(3 * s.length) // an escape is 2 bytes, a char at most 3
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c < 0x80) {
          val e = c match {
            case '\\' => '\\'
            case '\t' => 't'
            case '\r' => 'r'
            case '\n' => 'n'
            case _ => 0
          }
          if (e == 0) { buf(n) = c.toByte; n += 1 }
          else { buf(n) = '\\'; buf(n + 1) = e.toByte; n += 2 }
        } else if (c < 0x800) {
          buf(n) = (0xc0 | (c >> 6)).toByte
          buf(n + 1) = (0x80 | (c & 0x3f)).toByte
          n += 2
        } else if (!Character.isSurrogate(c)) {
          buf(n) = (0xe0 | (c >> 12)).toByte
          buf(n + 1) = (0x80 | ((c >> 6) & 0x3f)).toByte
          buf(n + 2) = (0x80 | (c & 0x3f)).toByte
          n += 3
        } else if (Character.isHighSurrogate(c) && i + 1 < s.length &&
                   Character.isLowSurrogate(s.charAt(i + 1))) {
          val cp = Character.toCodePoint(c, s.charAt(i + 1))
          buf(n) = (0xf0 | (cp >> 18)).toByte
          buf(n + 1) = (0x80 | ((cp >> 12) & 0x3f)).toByte
          buf(n + 2) = (0x80 | ((cp >> 6) & 0x3f)).toByte
          buf(n + 3) = (0x80 | (cp & 0x3f)).toByte
          n += 4
          i += 1
        } else { buf(n) = '?'; n += 1 }
        i += 1
      }
    }
    /** One text line of `k` tab-separated cells, `cell(i)` escaped;
      * a null cell is written `\N`. */
    def cells(k: Int)(cell: Int => String): Unit = {
      var i = 0
      while (i < k) {
        if (i > 0) byte('\t')
        val c = cell(i)
        if (c == null) ascii("\\N") else escaped(c)
        i += 1
      }
      byte('\n')
    }
    /** 8 little-endian bytes. */
    def long(v: Long): Unit = {
      room(8)
      var i = 0
      while (i < 8) { buf(n + i) = (v >>> (8 * i)).toByte; i += 1 }
      n += 8
    }
    def reset(): Unit = n = 0
    def writeTo(out: OutputStream): Unit = { out.write(buf, 0, n); out.flush() }
  }

  // ── binary typed-row framing ──────────────────────────────────────
  // The reference's row projection frames every field as
  // [1-byte type tag][value] with rows terminated by '\n'
  // (src/nowdb/query/row.c:138-207; tags types.h:89-99): TEXT(1) is a
  // NUL-terminated string, BOOL(9) one byte, NOTHING(0) one zero
  // byte, and all numerics 8 little-endian bytes (TIME(3) ns stamps,
  // FLOAT(4) IEEE doubles, INT(5)/UINT(6) int64). Head frames
  // (+ok/-err/+cursor/+batch) stay text lines in both modes — only
  // the rows after a +batch head switch representation, so a client
  // upgrades by reading N structured rows instead of N lines.
  private val TagNothing = 0
  private val TagText = 1
  private val TagTime = 3
  private val TagFloat = 4
  private val TagInt = 5
  private val TagBool = 9

  private def binaryRows(r: Reply, b: Batch): Unit = {
    val schema = b.schema
    // engine time/date columns are ns LONGS in Spark — the schema
    // metadata marker from Engine.tableDf decides TIME vs INT
    val timeCol = schema.fields.map(f =>
      f.metadata.contains("graft.nowType") &&
        Set("time", "date")(f.metadata.getString("graft.nowType")))
    b.rows.foreach { row =>
      schema.indices.foreach { i =>
        if (row.isNullAt(i)) { r.byte(TagNothing); r.byte(0) }
        else row.get(i) match {
          case l: java.lang.Long =>
            r.byte(if (timeCol(i)) TagTime else TagInt); r.long(l)
          case n: java.lang.Integer => r.byte(TagInt); r.long(n.longValue)
          case d: java.lang.Double =>
            r.byte(TagFloat); r.long(java.lang.Double.doubleToRawLongBits(d))
          case v: java.lang.Boolean => r.byte(TagBool); r.byte(if (v) 1 else 0)
          case t: java.sql.Timestamp => // ns since epoch, TIME tag
            r.byte(TagTime)
            r.long(Math.floorDiv(t.getTime, 1000L) * 1000000000L +
              t.getNanos.toLong)
          case other => // TEXT: NUL-terminated UTF-8
            r.byte(TagText); r.bytes(String.valueOf(other).getBytes(UTF_8))
            r.byte(0)
        }
      }
      r.byte('\n')
    }
  }

  /** The head line of a result, the same in both row framings. */
  private def head(r: Reply, res: Result, eng: Engine): Unit = res match {
    case Status(true, "") => r.line("+ok")
    case Status(ok, m) =>
      r.ascii(if (ok) "+ok " else "-err "); r.escaped(m); r.byte('\n')
    case Report(loaded, errors) => r.line(s"+report $loaded $errors")
    case Rows(df) =>
      // every remote result is a cursor (reference sendCursor,
      // ifc/nowdb.c:1185): the client decides the paging cadence
      r.line(s"+cursor ${eng.openCursor(df)}")
    case CursorRef(id) => r.line(s"+cursor $id")
    case b: Batch => r.line(s"+batch ${b.rows.length} ${if (b.more) 1 else 0}")
  }
}

/** Standalone daemon entry — the counterpart of the reference's
  * `nowdbd` (src/nowdbd/nowdbd.c): bring up a SparkSession, serve the
  * wire protocol until killed.
  *
  * Usage: sbt "runMain graft.engine.Server [port] [scopeRoot]"
  */
object Server {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(55505)
    val root = args.drop(1).headOption.getOrElse(
      sys.env.getOrElse("GRAFT_SCOPE_ROOT", "/tmp/graft-scopes"))
    val b = graft.Sessions.builder()
    val spark = sys.env.get("SPARK_MASTER").fold(b)(b.master).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val srv = new Server(spark, root, port).start()
    println(s"graft server listening on ${srv.boundPort}, scopes at $root")
    Thread.currentThread.join() // serve until the process is killed
  }
}

/** Tiny blocking client for the [[Server]] line protocol — enough for
  * specs, external procedure bridges, and ad-hoc remote use. */
class WireClient(host: String, port: Int) {
  private val sock = new Socket(host, port)
  private val in = new BufferedReader(
    new InputStreamReader(sock.getInputStream, UTF_8))
  private val out = new PrintWriter(
    new OutputStreamWriter(sock.getOutputStream, UTF_8))
  require(in.readLine().startsWith("+ok"), "bad server greeting")

  /** Sends one statement; returns the raw response frame: the head
    * line plus (for `+batch`) the header and row lines. */
  def send(stmt: String): Seq[String] = {
    out.println(stmt.replace("\n", " ")); out.flush()
    val head = in.readLine()
    if (head == null) throw new java.io.EOFException("server closed")
    if (head.startsWith("+batch")) {
      val n = head.split(" ")(1).toInt
      head +: (0 to n).map(_ => in.readLine()) // header + n rows
    } else Seq(head)
  }

  /** SELECT → cursor → fetch all pages; returns unescaped cells. */
  def query(stmt: String): (Seq[String], Seq[Seq[String]]) = {
    val head = send(stmt).head
    require(head.startsWith("+cursor"), s"expected cursor, got: $head")
    val cur = head.split(" ")(1)
    var header: Seq[String] = Nil
    val rows = Seq.newBuilder[Seq[String]]
    var more = true
    while (more) {
      val frame = send(s"fetch $cur")
      require(frame.head.startsWith("+batch"), frame.head)
      more = frame.head.split(" ")(2) == "1"
      header = frame(1).stripPrefix("#").split("\t", -1).toSeq.map(unesc)
      frame.drop(2).foreach(l =>
        rows += l.split("\t", -1).toSeq.map(unesc))
    }
    (header, rows.result())
  }

  def close(): Unit = {
    try { out.println("quit"); out.flush(); in.readLine() }
    finally sock.close()
  }

  // single pass — sequential .replace would corrupt "\\n" (escaped
  // backslash + n) into backslash + newline
  private def unesc(s: String): String =
    if (s == "\\N") null
    else {
      val b = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case 'n' => b += '\n'
            case 't' => b += '\t'
            case 'r' => b += '\r'
            case '\\' => b += '\\'
            case o => b += '\\'; b += o
          }
          i += 2
        } else { b += c; i += 1 }
      }
      b.toString
    }
}