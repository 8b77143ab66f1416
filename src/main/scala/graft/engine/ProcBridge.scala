package graft.engine

import java.io.{BufferedReader, InputStreamReader}
import java.net.{InetAddress, ServerSocket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.TimeUnit
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** External-process stored procedures — the Spark-side counterpart of
  * the reference's embedded Lua/Python procs (`ifc/luaproc.c`,
  * `ifc/nowproc.c`; re-entrancy contract `sql/stmt.c:1791-1845`:
  * an EXECuting proc calls back into the very session that invoked
  * it).
  *
  * `EXEC p(...)` on a catalog proc with `LANGUAGE python` runs
  * `python3 <procPath>/<module>.py <proc> <args...>` with
  * `GRAFT_HOST`/`GRAFT_PORT` pointing at a loopback socket that
  * serves THIS engine instance over the [[Wire]] line protocol — the
  * subprocess sees the invoking session's scope, locks, and
  * uncommitted state, exactly like an embedded interpreter would,
  * without embedding one in the JVM (the interpreter runs out of
  * process, so a crashing proc cannot take the executor down).
  *
  * The proc's RESULT is its stdout, in wire form: `+ok [msg]`,
  * `-err msg`, or a `#`-headed tab-separated row block (returned to
  * the caller as a string-typed DataFrame). Nonzero exit → error
  * Status carrying stderr.
  *
  * `procPath` comes from the Spark conf `spark.graft.procPath`
  * (fallback env `GRAFT_PROC_PATH`) — the analog of the reference's
  * module search path (luaemb.tex: NOWDB_LUA_PATH).
  */
object ProcBridge {

  def exec(eng: Engine, module: String, proc: String, lang: String,
           args: Seq[Any], timeoutSec: Long = 120): Result = {
    if (lang == "lua")
      return LuaProcs.exec(eng, module, proc, args)
    if (lang != "python")
      return Status(ok = false,
        s"procedure language '$lang' not supported (python or lua)")
    val path = eng.spark.conf.getOption("spark.graft.procPath")
      .orElse(sys.env.get("GRAFT_PROC_PATH"))
      .getOrElse(return Status(ok = false,
        "spark.graft.procPath not set (procedure module search path)"))
    val script = new java.io.File(path, s"$module.py")
    if (!script.isFile)
      return Status(ok = false, s"no module $script")

    // loopback listener serving THIS session; one connection, daemon
    val listener = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
    val bridge = new Thread(() => serveOne(eng, listener), "graft-proc-bridge")
    bridge.setDaemon(true)
    bridge.start()
    try {
      val cmd = Seq("python3", script.getAbsolutePath, proc) ++
        args.map(String.valueOf)
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("GRAFT_HOST", "127.0.0.1")
      pb.environment().put("GRAFT_PORT", listener.getLocalPort.toString)
      val p = pb.start()
      p.getOutputStream.close()
      // drain stderr concurrently so a chatty proc cannot block on a
      // full pipe while we read stdout
      val errBuf = new StringBuilder
      val errDrain = new Thread(() => {
        val r = new BufferedReader(
          new InputStreamReader(p.getErrorStream, UTF_8))
        var l = r.readLine()
        while (l != null) { errBuf.append(l).append('\n'); l = r.readLine() }
      })
      errDrain.setDaemon(true)
      errDrain.start()
      // stdout must also drain on its own thread: reading to EOF on
      // the engine thread would make the timeout below dead code (a
      // hung proc that never closes stdout would block the read
      // forever and waitFor would never run)
      val outBuf = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val outDrain = new Thread(() => {
        val outR = new BufferedReader(
          new InputStreamReader(p.getInputStream, UTF_8))
        var l = outR.readLine()
        while (l != null) { outBuf.add(l); l = outR.readLine() }
      })
      outDrain.setDaemon(true)
      outDrain.start()
      if (!p.waitFor(timeoutSec, TimeUnit.SECONDS)) {
        p.destroyForcibly()
        return Status(ok = false, s"procedure $proc timed out")
      }
      outDrain.join(2000)
      errDrain.join(2000)
      val outLines = {
        val b = Vector.newBuilder[String]
        var l = outBuf.poll()
        while (l != null) { b += l; l = outBuf.poll() }
        b.result()
      }
      if (p.exitValue() != 0)
        Status(ok = false,
          s"procedure $proc exited ${p.exitValue()}: ${errBuf.toString.trim}")
      else parseResult(eng, proc, outLines)
    } finally {
      try listener.close() catch { case _: java.io.IOException => }
    }
  }

  /** Accept at most one callback connection and serve it with the
    * invoking engine (NOT a fresh session — the whole point), through
    * the same reply writer as a [[Server]] session. */
  private def serveOne(eng: Engine, listener: ServerSocket): Unit =
    try {
      val sock = listener.accept()
      try Wire.serve(eng, sock, "+ok graft proc session", () => true)
      finally sock.close()
    } catch {
      case _: java.io.IOException => // listener closed / peer gone
    }

  private def parseResult(eng: Engine, proc: String,
                          lines: Vector[String]): Result = {
    val content = lines.dropWhile(_.isBlank)
    content.headOption match {
      case None => Status(ok = true)
      case Some(h) if h.startsWith("+ok") =>
        Status(ok = true, h.stripPrefix("+ok").trim)
      case Some(h) if h.startsWith("-err") =>
        Status(ok = false, h.stripPrefix("-err").trim)
      case Some(h) if h.startsWith("#") =>
        val names = h.stripPrefix("#").split("\t", -1).toSeq
        val schema = StructType(names.map(StructField(_, StringType)))
        val rows = content.tail.takeWhile(_.nonEmpty).map { l =>
          Row.fromSeq(l.split("\t", -1).toSeq.map {
            case "\\N" => null
            case c => c
          })
        }
        import scala.jdk.CollectionConverters._
        Rows(eng.spark.createDataFrame(rows.asJava, schema))
      case Some(other) =>
        Status(ok = false, s"procedure $proc: unparseable output '$other'")
    }
  }
}