package clientbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** A timed span: `start`/`end` in epoch ms (fractional), `parent` 0 for
  * a root. `stmt` ties every span of one benchmark op together. */
final case class Span(id: Long, parent: Long, stmt: Long, name: String,
                      start: Double, end: Double, attrs: Map[String, Any])

/** In-memory span store; written out once when the run ends. Spark's
  * job, stage and task spans come from [[SparkEvents]] and carry no
  * statement: the traced replay runs one statement at a time, so each
  * job belongs to the op whose window holds its submission time. */
final class Spans {
  private val seq = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()

  def nextId(): Long = seq.incrementAndGet()

  /** Epoch ms of a `System.nanoTime` reading. */
  def ms(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  def add(s: Span): Unit = spans.add(s)

  /** Times `body` as a span; `attrs` may read the body's result. */
  def span[A](parent: Long, stmt: Long, name: String)(body: Long => A)(
      attrs: A => Map[String, Any] = (_: A) => Map.empty[String, Any]): A = {
    val id = nextId()
    val t0 = System.nanoTime()
    val out = body(id)
    val t1 = System.nanoTime()
    add(Span(id, parent, stmt, name, ms(t0), ms(t1), attrs(out)))
    out
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.foreach { s =>
      sb ++= s"${s.id}\t${s.parent}\t${s.stmt}\t${s.name}\t" +
        f"${s.start}%.3f\t${s.end}%.3f\t" +
        s.attrs.map { case (k, v) => s"$k=$v" }.mkString(";") + "\n"
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Spark job, stage, task and SQL-execution spans from the public
  * listener events. Task counters are Spark's own task metrics; the file
  * scan counters of an execution are the SQL metrics of its scan nodes,
  * summed over the accumulator updates of its tasks and its planning. */
final class SparkEvents(spans: Spans) extends SparkListener {
  private val jobIds = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  private val stageIds =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]
  val events = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobIds.put(e.jobId, spans.nextId())
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    events.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobIds.get(e.jobId)).foreach { id =>
      spans.add(Span(id, 0, 0, "job", jobStart.get(e.jobId).toDouble,
        e.time.toDouble, Map("job" -> e.jobId)))
    }
    events.incrementAndGet()
  }

  private def stageSpan(stage: Int, attempt: Int): Long =
    stageIds.computeIfAbsent((stage, attempt), _ => spans.nextId())

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val job = Option(stageJob.get(si.stageId))
    val parent = job.flatMap(j => Option(jobIds.get(j))).getOrElse(0L)
    spans.add(Span(stageSpan(si.stageId, si.attemptNumber()), parent, 0,
      "stage", si.submissionTime.getOrElse(0L).toDouble,
      si.completionTime.getOrElse(0L).toDouble,
      Map("stage" -> si.stageId, "tasks" -> si.numTasks)))
    events.incrementAndGet()
  }

  private val execStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]
  /** scan metric accumulator id → (execution, metric name) */
  private val scanMetric =
    new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]
  private val accum = new java.util.concurrent.ConcurrentHashMap[Long, Long]

  private def addAccum(id: Long, v: Long): Unit = accum.merge(id, v, _ + _)

  private def registerScans(exec: Long, p: SparkPlanInfo): Unit = {
    if (p.nodeName.startsWith("Scan"))
      p.metrics.foreach(m => scanMetric.put(m.accumulatorId, (exec, m.name)))
    p.children.foreach(registerScans(exec, _))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execStart.put(s.executionId, s.time)
        registerScans(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        registerScans(u.executionId, u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) => addAccum(id, v) }
      case end: SparkListenerSQLExecutionEnd =>
        val exec = end.executionId
        val named = scanMetric.asScala.toSeq.collect {
          case (id, (`exec`, name)) => name -> accum.getOrDefault(id, 0L)
        }.groupMapReduce(_._1)(_._2)(_ + _)
        def v(n: String): Long = named.getOrElse(n, 0L)
        spans.add(Span(spans.nextId(), 0, 0, "sql",
          execStart.getOrDefault(exec, end.time).toDouble, end.time.toDouble,
          Map("scan_files" -> v("number of files read"),
            "scan_partitions" -> v("number of partitions read"),
            "scan_bytes" -> v("size of files read"),
            "scan_rows" -> v("number of output rows"),
            "scan_meta_ms" -> v("metadata time"))))
      case _ =>
    }
    events.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ti = e.taskInfo
    ti.accumulables.foreach { a =>
      if (scanMetric.containsKey(a.id)) a.update.foreach {
        case l: Long => addAccum(a.id, l)
        case _ =>
      }
    }
    val m = e.taskMetrics
    val attrs: Map[String, Any] = if (m == null) Map("failed" -> 1) else Map(
      "deser_ms" -> m.executorDeserializeTime,
      "run_ms" -> m.executorRunTime,
      "cpu_ms" -> m.executorCpuTime / 1e6,
      "gc_ms" -> m.jvmGCTime,
      "in_rows" -> m.inputMetrics.recordsRead,
      "shr_rows" -> m.shuffleReadMetrics.recordsRead,
      "shr_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "shw_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
    spans.add(Span(spans.nextId(), stageSpan(e.stageId, e.stageAttemptId),
      0, "task", ti.launchTime.toDouble, ti.finishTime.toDouble, attrs))
    events.incrementAndGet()
  }

  /** Waits until no event has arrived for `quietMs`: the listener bus is
    * asynchronous, and the last job's events trail its result. */
  def drain(quietMs: Long = 300): Unit = {
    var last = -1L
    while (events.get() != last) {
      last = events.get()
      Thread.sleep(quietMs)
    }
  }
}
