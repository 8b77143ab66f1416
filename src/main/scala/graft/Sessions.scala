package graft

import org.apache.spark.sql.SparkSession

/** The SparkSession builder shared by the repo's mains: local mode over
  * `SPARK_GRAFT_CPUS` cores (default: every core of the machine), one
  * shuffle partition per core, UTC session time, UI off, and capped
  * status retention. A caller adds its own confs (or another master)
  * before `getOrCreate()`.
  *
  * Status retention (SCALING §15.1): the in-memory app status store
  * keeps 1000 jobs, stages and SQL executions by default, and its
  * bookkeeping grows per-statement cost and retained heap in any
  * long-lived driver (capping it cut a 360-round recursion's wall
  * ~22%). Every main here is one: the suite harnesses run thousands of
  * executions, and `Server`/`Shell` serve statements until stopped. */
object Sessions {
  def cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def builder(): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.retainedJobs", "100")
    .config("spark.ui.retainedStages", "200")
    .config("spark.sql.ui.retainedExecutions", "50")
}
