package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic K× scale-up generator for the measured scaling smoke
  * (SCALING.md): writes K disjoint replicas of every testdata table
  * into a target directory, with per-replica key offsets that
  * preserve the relational structure — each replica is a complete
  * copy of the source universe (orders→lineitem FKs, co-purchase
  * graphs, user event streams all intact per replica), so the scaled
  * corpus behaves like K independent shards of one bigger world.
  * That is honest weak scaling: graph operators iterate the same
  * diameter over K× rows per round, joins keep their key
  * cardinality growing WITH the data (hot keys don't get K× hotter),
  * and dedup keeps a constant near-duplicate RATE because document
  * text is made disjoint across replicas (per-word replica suffix) —
  * replicating text verbatim would plant K·(K−1)/2 extra near-dup
  * pairs per document and measure a corpus no crawler produces.
  *
  * Usage: runMain graft.ScaleGen [srcDir] [dstDir] [K]
  * (defaults /root/testdata/sf0.1 → /tmp/graft-scale/sf1, K=10).
  * Never writes outside dstDir.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft-scale/sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scalegen] $name: ${k}x written")
    }
    // K offset replicas; offsets are per-key-column strides chosen
    // far above any source id so replicas can never collide (nor can
    // the +10000 mutation ids the dedup queries derive in-query)
    def reps(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(i => shift(df, i)).reduce(_ unionAll _)

    val ORD = 10000000L // orderkey stride
    val CUS = 10000000L
    val SUP = 1000000L
    val PRT = 1000000L
    val USR = 100000L
    val EVT = 10000000L
    val DOC = 20000L
    val VEC = 20000L

    write("lineitem", reps(Tables.lineitem(spark, src)) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + i * ORD)
        .withColumn("l_partkey", col("l_partkey") + i * PRT)
        .withColumn("l_suppkey", col("l_suppkey") + i * SUP)
    })
    write("orders", reps(Tables.orders(spark, src)) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + i * ORD)
        .withColumn("o_custkey", col("o_custkey") + i * CUS)
    })
    // entity NAMES regenerate from the shifted key: replicating them
    // verbatim would plant K·(K−1)/2 cross-replica exact name
    // duplicates per entity and inflate any fuzzy-linkage workload
    // ~K-fold past linear (same artifact class as verbatim document
    // text / unrotated embeddings)
    write("customer", reps(Tables.customer(spark, src)) { (df, i) =>
      val shifted = df.withColumn("c_custkey", col("c_custkey") + i * CUS)
      if (i == 0) shifted
      else shifted.withColumn("c_name", // format_string never truncates
        format_string("Customer#%09d", col("c_custkey")))
    })
    write("supplier", reps(Tables.supplier(spark, src)) { (df, i) =>
      val shifted = df.withColumn("s_suppkey", col("s_suppkey") + i * SUP)
      if (i == 0) shifted
      else shifted.withColumn("s_name",
        format_string("Supplier#%09d", col("s_suppkey")))
    })
    write("part", reps(Tables.part(spark, src)) { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + i * PRT)
    })
    // dimension tables stay as-is (their FK domains are unchanged)
    write("nation", Tables.nation(spark, src))
    write("region", Tables.region(spark, src))
    write("events", reps(Tables.events(spark, src)) { (df, i) =>
      df.withColumn("event_id", col("event_id") + i * EVT)
        .withColumn("user_id", col("user_id") + i * USR)
    })
    write("documents", reps(Tables.documents(spark, src)) { (df, i) =>
      val shifted = df.withColumn("doc_id", col("doc_id") + i * DOC)
      // replica 0 keeps the source text; others suffix every word so
      // shingle sets are DISJOINT across replicas (constant dup rate)
      if (i == 0) shifted
      else shifted.withColumn("text", array_join(transform(
        split(col("text"), " "), w => concat(w, lit(s"_$i"))), " "))
    })
    write("embeddings", reps(Tables.embeddings(spark, src)) { (df, i) =>
      // rotate each vector by i positions: replicas of one vector are
      // then near-orthogonal (random components), so cross-replica
      // cosine near-dup pairs don't exist — verbatim replication
      // would plant K·(K−1)/2 exact duplicates per vector and blow
      // the LSH bucket join up by K² (measured: 11× growth for 10×
      // data on the embedding near-dup query before this fix)
      val shifted = df.withColumn("vec_id", col("vec_id") + i * VEC)
      if (i == 0) shifted
      else {
        // r13: rotate MODULO the dimension (a raw i-position rotate
        // fed slice() a negative length once K exceeded dim=64 —
        // found generating the 100× corpus), and NEGATE every second
        // rotation cycle so replica i ≥ dim lands at cosine −1 to its
        // rotation twin instead of +1. Disjointness bound: K < 2·dim
        // (128 for these vectors); past that a third cycle would
        // repeat exactly.
        val sz = size(col("embedding"))
        val r = pmod(lit(i), sz)
        val rot = concat(
          slice(col("embedding"), r + lit(1), sz - r),
          slice(col("embedding"), lit(1), r))
        shifted.withColumn("embedding",
          when((lit(i) / sz).cast("int") % 2 === 1,
            transform(rot, x => -x)).otherwise(rot))
      }
    })
    spark.stop()
  }
}
