package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-stage empirical profile of one query (optimization guide §1.1:
  * decide whether time goes to shuffle read, compute, scheduling, …).
  *
  * Usage: `sbt "runMain graft.QueryProfile <name> [reps]"` with the
  * usual SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS env. Runs the query
  * through the noop sink and prints, per completed stage: wall,
  * task count, executor run/cpu time, shuffle read/write bytes,
  * input bytes, spill, task deserialization and GC time. Jobs are
  * labelled so AQE stage trees group. */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    case class St(id: Int, name: String, wallMs: Long, tasks: Int,
        runMs: Long, cpuMs: Long, shRead: Long, shWrite: Long,
        input: Long, spill: Long, deserMs: Long, gcMs: Long)
    val stages = mutable.ArrayBuffer[St]()
    val listener = new SparkListener {
      override def onStageCompleted(
          sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for {a <- si.completionTime; b <- si.submissionTime}
          yield a - b).getOrElse(-1L)
        stages += St(si.stageId, si.name.takeWhile(_ != '\n').take(80),
          wall, si.numTasks,
          m.executorRunTime, m.executorCpuTime / 1000000,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.bytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.executorDeserializeTime, m.jvmGCTime)
      }
    }

    val fn = SparkEntry.queries(name)
    // warm once at sf0.01 like the bench
    val warmDir = sfDir.replaceAll("/+$", "")
      .replaceAll("sf[0-9.]+$", "sf0.01")
    if (warmDir != sfDir)
      try Materialize.scope {
        fn(spark, warmDir).write.format("noop").mode("overwrite").save()
      } catch { case _: Throwable => () }

    (1 to reps).foreach { rep =>
      stages.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      Materialize.scope {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(300) // let the bus drain
      println(f"%n== $name rep $rep: wall $wall%.2f s, " +
        s"${stages.size} stages ==")
      println(f"${"stage"}%6s ${"wall_ms"}%8s ${"tasks"}%6s " +
        f"${"run_ms"}%8s ${"cpu_ms"}%8s ${"shR_mb"}%7s ${"shW_mb"}%7s " +
        f"${"in_mb"}%7s ${"spill_mb"}%8s ${"deser_ms"}%8s ${"gc_ms"}%5s" +
        "  name")
      stages.sortBy(-_.wallMs).take(30).foreach { s =>
        println(f"${s.id}%6d ${s.wallMs}%8d ${s.tasks}%6d " +
          f"${s.runMs}%8d ${s.cpuMs}%8d ${s.shRead / 1048576}%7d " +
          f"${s.shWrite / 1048576}%7d ${s.input / 1048576}%7d " +
          f"${s.spill / 1048576}%8d ${s.deserMs}%8d ${s.gcMs}%5d" +
          f"  ${s.name}")
      }
      val sumWall = stages.map(_.wallMs).sum
      println(f"stage-wall sum ${sumWall / 1000.0}%.2f s over " +
        s"${stages.size} stages (wall minus sum = driver/planning gaps)")
      System.gc()
    }
    spark.stop()
  }
}
