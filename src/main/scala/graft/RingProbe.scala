package graft

/** Depth probe for the recursive-CTE fixpoint: drives an N-node
  * single-successor ring — one new node per round, the worst case for
  * UNION-distinct recursion — through the engine and prints the wall
  * clock, the mean per round and the persisted-RDD census after the
  * query (the SCALING §15 evidence that memory stays flat with depth).
  *
  * Usage: `sbt "runMain graft.RingProbe 999"`. The session comes from
  * [[Sessions.builder]] (`SPARK_GRAFT_CPUS` cores). Env knobs: WSCG/AQE
  * ("false" to disable codegen / adaptive execution), ABJT (auto
  * broadcast threshold) — used to attribute the per-round floor.
  */
object RingProbe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.builder()
      .config("spark.sql.codegen.wholeStage",
        sys.env.getOrElse("WSCG", "true"))
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("AQE", "true"))
      .config("spark.sql.autoBroadcastJoinThreshold",
        sys.env.getOrElse("ABJT", "10485760"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val eng = new graft.engine.Engine(spark,
      java.nio.file.Files.createTempDirectory("ringprobe").toString)
    eng.script("create scope rp; use rp")
    val n = args.headOption.map(_.toInt).getOrElse(120)
    eng.attachTable("ring", spark.range(0, n).toDF("v"))
    val t0 = System.nanoTime()
    eng.sql(
      s"with recursive reach as (select v from ring where v = 0 union " +
        s"select r2.v from reach r join ring r2 on r2.v = (r.v + 1) % $n) " +
        "select count(*) as c from reach") match {
      case graft.engine.Rows(df) =>
        val c = df.collect().head.getLong(0)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"RINGPROBE n=$n count=$c wall=$dt%.1f s " +
          f"perRound=${dt * 1000 / n}%.0f ms persistedRdds=" +
          s"${spark.sparkContext.getPersistentRDDs.size}")
      case other => println(s"fail $other")
    }
    spark.stop()
  }
}
