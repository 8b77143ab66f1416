package graft

import graft.engine._

/** Interactive NoWDB-dialect shell over the engine — the counterpart
  * of the reference's client REPL (clients/nowclient). Reads `;`-
  * terminated statements from stdin, prints status/report/rows.
  *
  * Usage: sbt "runMain graft.Shell [scopeRoot]"
  */
object Shell {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(
      sys.env.getOrElse("GRAFT_SCOPE_ROOT", "/tmp/graft-scopes"))
    val b = Sessions.builder()
    val spark = sys.env.get("SPARK_MASTER").fold(b)(b.master).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val eng = new Engine(spark, root)
    println(s"graft shell — scopes at $root; end statements with ';', \\q quits")
    val buf = new StringBuilder
    var line = ""
    print("graft> ")
    while ({ line = scala.io.StdIn.readLine(); line != null }) {
      if (line.trim == "\\q") { spark.stop(); return }
      buf ++= line ++ "\n"
      if (line.trim.endsWith(";")) {
        val stmt = buf.toString
        buf.clear()
        try eng.sql(stmt) match {
          case Status(true, m) =>
            println(if (m.isEmpty) "ok" else s"ok ($m)")
          case Status(false, m) => println(s"error: $m")
          case Report(loaded, errors) =>
            println(s"loaded $loaded rows, $errors errors")
          case Rows(df) => df.show(50, truncate = false)
          case CursorRef(id) => println(s"cursor $id")
          case Batch(rows, _, more) =>
            rows.foreach(println)
            println(if (more) "(more)" else "(end)")
        } catch { case e: Exception => println(s"error: ${e.getMessage}") }
        print("graft> ")
      } else print("    -> ")
    }
    spark.stop()
  }
}
