package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A bundle of named queries plus (where SQL-expressible) the DuckDB
  * oracle SQL the driver uses for differential checking. Mirrors the
  * reference's differential-test strategy (SURVEY.md §5: pysmoke
  * recomputes expected values independently).
  */
trait QueryPack {
  type Query = (SparkSession, String) => DataFrame

  /** The pack's queries as written; [[queries]] is what callers run. */
  protected def entries: Map[String, Query]

  /** The registry: each query is one [[graft.Materialize]] boundary.
    * Inside a consumer's scope its held frames live until the
    * consumer's write ends; called outside one, a query that held
    * anything returns a sealed result. */
  final lazy val queries: Map[String, Query] = entries.map {
    case (name, q) => name -> ((s: SparkSession, d: String) =>
      graft.Materialize(q(s, d)))
  }

  /** Subset of `queries` keys that have an ANSI-SQL oracle. */
  def oracles: Map[String, String]
  /** Named memoized-artifact builders (r14 verdict task 6): forcing
    * one materializes a shared table several of the pack's queries
    * re-read (span sets, LSH pair sets, IVF assignments, trained
    * models, co-occurrence edges). The bench pre-builds and
    * SEPARATELY BILLS these, so suite rows measure steady-state query
    * cost instead of whichever consumer runs first absorbing a
    * multi-second build. Each builder must be idempotent (memoized),
    * and its table must outlive the consumer scope it is built in
    * (`memoizedParquet`): no cache sweep runs between queries, each
    * build and each query releases only what its own scope held. */
  def prebuilds: Map[String, (SparkSession, String) => Unit] = Map.empty
}

object QueryPack {

  /** Memoized parquet tables, one temp dir per (application, dataset,
    * prefix). The prefix names the table, so it must be distinct per
    * memoized build. */
  private val memo = scala.collection.concurrent.TrieMap
    .empty[(String, String, String), String]

  /** Per-key build locks: a single global lock would serialize
    * concurrent FIRST builds for unrelated keys — parallel suites or
    * dual-scale runs — behind one another. */
  private val memoLocks = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), Object]()

  /** The memoized dirs are deleted recursively at JVM exit: for the
    * app's lifetime they are the shared materialization, but they must
    * not outlive the process. */
  private lazy val memoCleanup: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      memo.values.foreach { d =>
        try {
          java.nio.file.Files.walk(java.nio.file.Paths.get(d))
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        } catch { case _: Throwable => () } // best-effort at exit
      }))
    ()
  }

  /** A deterministic shared table several queries re-read, written
    * to parquet by its first reader and scanned by every later one.
    * Parquet, not a held frame: the table outlives the scope of the
    * query that builds it. `TrieMap.getOrElseUpdate` evaluates its
    * default outside any per-key lock, so two concurrent first callers
    * would both build and leak the loser's dir; the per-key lock
    * guarantees one build and one directory per key without
    * serializing different keys' first builds. */
  def memoizedParquet(s: SparkSession, d: String, prefix: String)(
      build: => DataFrame): DataFrame = {
    memoCleanup
    val key = (s.sparkContext.applicationId, d, prefix)
    val path = memoLocks.computeIfAbsent(key, _ => new Object).synchronized {
      memo.getOrElseUpdate(key, {
        val p = java.nio.file.Files.createTempDirectory(prefix).toString
        build.write.mode("overwrite").parquet(p)
        p
      })
    }
    s.read.parquet(path)
  }
}
