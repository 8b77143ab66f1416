package graft

import org.apache.spark.sql.SparkSession

/** The SparkSession builder shared by the repo's mains: local mode over
  * `SPARK_GRAFT_CPUS` cores (default: every core of the machine), one
  * shuffle partition per core, UTC session time, UI off. A caller adds
  * its own confs (or another master) before `getOrCreate()`. */
object Sessions {
  def cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def builder(): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
}
