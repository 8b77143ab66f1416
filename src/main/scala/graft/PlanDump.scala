package graft

import java.nio.file.{Files, Paths}

/** Per-query `explain("formatted")` dumper for the optimization-round
  * evidence files (`plans/r15/<query>_{before,after}.txt`).
  *
  * Usage: `sbt "runMain graft.PlanDump <sfDir> <outDir> <suffix> q… q…"`
  * — writes `<outDir>/<query>_<suffix>.txt` for each named query.
  * Runs at the bench's configuration (local[$SPARK_GRAFT_CPUS],
  * shuffle partitions = cpus) so the dumped plan is the one the bench
  * executes. The query is also EXECUTED once (noop sink) and the
  * final AQE plan appended, because with AQE on the pre-execution
  * formatted plan shows `isFinalPlan=false` join strategies only. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3)
    val cpus = Sessions.cores
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      Materialize.scope {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        df.write.format("noop").mode("overwrite").save()
        val executed = df.queryExecution.executedPlan.toString()
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"),
          s"# $name — explain(formatted), $sfDir, local[$cpus]\n\n" +
            formatted + "\n\n# executed plan after one run (AQE final)\n\n" +
            executed.take(20000) + "\n")
      }
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
