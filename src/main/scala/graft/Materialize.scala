package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one lifetime rule for every frame an operator or a query
  * materializes. A scope is open on the calling thread while an
  * operator, or a consumer's build and write, runs; [[hold]] and
  * [[cut]] register what they materialize with it, and the scope
  * releases all of it when it closes, also on failure. Two boundaries
  * close a scope:
  *
  *  - [[apply]], the operator boundary, joins the scope already open
  *    on the thread. Only when it is the outermost does it open its
  *    own, seal the result and release what it held — so an operator
  *    called from another operator or from a query costs no extra pass.
  *  - [[scope]], the consumer boundary, opens a scope around a build
  *    and its consumption (a parquet or noop write) and releases after
  *    it, with no seal: the consumer's own job drives the held frames.
  *
  * The seal is one eager `localCheckpoint`, not a persist: a
  * persisted `Dataset` stays in Spark's CacheManager until something
  * unpersists it — in the wire `Server`, for the application's
  * lifetime — while a checkpointed frame has no CacheManager entry;
  * its blocks are left to Spark's ContextCleaner. A scope that held
  * nothing returns the body's frame as built: there is nothing to
  * release, so nothing to seal.
  *
  * What the seal costs a caller outside any scope (a library call, a
  * test, an `EXEC`):
  *  - it is eager: an operator that holds or cuts runs one full job at
  *    the call, and a filter or limit the caller adds later reads the
  *    sealed rows instead of pruning the operator's plan. A caller that
  *    wants the lazy plan opens a [[scope]] around build and
  *    consumption, as the harnesses do.
  *  - it has no lineage: its blocks live on the executors that computed
  *    them, so losing one makes the frame unreadable ("Checkpoint block
  *    not found") where a persisted frame would be recomputed. The
  *    sessions here run in local mode, where an executor is never lost
  *    on its own; on a cluster, a sealed result is meant to be consumed
  *    at once (the wire server ships an EXEC's rows right after the
  *    call). A caller that must survive an executor loss runs the
  *    operator inside its own [[scope]], where nothing is sealed and
  *    every held frame keeps its lineage. */
object Materialize {

  private final class Scope {
    val held = scala.collection.mutable.ArrayBuffer
      .empty[(DataFrame, () => Unit)]
    def release(): Unit = { held.foreach(_._2()); held.clear() }
  }

  private val open = new ThreadLocal[Scope]

  private def current: Scope = {
    val s = open.get
    require(s != null, "no Materialize scope is open on this thread: " +
      "wrap the operator in Materialize { … } or its consumer in " +
      "Materialize.scope { … }")
    s
  }

  /** Persists `df` (MEMORY_AND_DISK) until the scope closes; the
    * release goes through `Dataset.unpersist`, so the CacheManager
    * entry goes too (an RDD-level release would leave it behind). */
  def hold(df: DataFrame): DataFrame = {
    val s = current
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    s.held += p -> (() => { p.unpersist(blocking = false); () })
    p
  }

  /** Lazy lineage cut: the first job that reads the frame
    * materializes it once; its blocks are held until the scope closes.
    * `Dataset.unpersist` does not reach a localCheckpoint frame, so the
    * release unpersists its RDD. */
  def cut(df: DataFrame): DataFrame = {
    val s = current
    val c = df.localCheckpoint(false)
    val rdd = rddOf(c)
    s.held += c -> (() => { rdd.unpersist(blocking = false); () })
    c
  }

  /** Releases a frame [[hold]] or [[cut]] returned before its scope
    * closes — for a frame that dies inside a loop. */
  def drop(df: DataFrame): Unit = {
    val s = current
    val i = s.held.indexWhere(_._1 eq df)
    if (i >= 0) s.held.remove(i)._2()
  }

  /** A cut frame scans the persisted RDD it was checkpointed into. */
  private[graft] def rddOf(cut: DataFrame): RDD[InternalRow] =
    cut.queryExecution.logical.asInstanceOf[LogicalRDD].rdd

  /** The operator boundary (see the object's scaladoc). */
  def apply(body: => DataFrame): DataFrame =
    if (open.get != null) body
    else {
      val s = new Scope
      open.set(s)
      try {
        val out = body
        if (s.held.isEmpty) out else out.localCheckpoint(true)
      } finally { open.remove(); s.release() }
    }

  /** The consumer boundary: runs `body` (build and consumption) in a
    * fresh scope and releases what it held, without a seal. */
  def scope[T](body: => T): T = {
    val outer = open.get
    val s = new Scope
    open.set(s)
    try body
    finally {
      if (outer == null) open.remove() else open.set(outer)
      s.release()
    }
  }
}
