package graft.engine

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.SQLExecution

/** The rows of a cursor, pulled one partition at a time by jobs the
  * engine runs itself. The plan executes once, inside one SQL execution
  * (adaptive query stages run there, and a shuffle is written once);
  * each partition is then one `runJob` over the resulting RDD, started
  * when the iterator reaches it, so one partition is in driver memory at
  * a time and nothing is persisted. Rows decode through one encoder
  * deserializer per cursor.
  *
  * `Dataset.toLocalIterator` does the same work, but its per-partition
  * job function is declared in `RDD` and wrapped in `SparkContext`, and
  * Spark's closure cleaner reads and scans the bytecode of both classes
  * for every job. The job function here is declared in [[PageJob]], a
  * class of a few hundred bytes. */
private[engine] object CursorPages {

  def apply(df: DataFrame): Iterator[Row] = {
    val qe = df.queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some("cursor"))(
      qe.executedPlan.execute())
    val fromRow = ExpressionEncoder(df.schema).resolveAndBind()
      .createDeserializer()
    val sc = rdd.sparkContext
    Iterator.range(0, rdd.getNumPartitions)
      .flatMap(p => sc.runJob(rdd, PageJob.copyRows, Seq(p)).head)
      .map(fromRow)
  }
}

/** The task function of a cursor page job: the partition's rows,
  * copied out of the operator's reused row buffer. Kept alone in this
  * object because the closure cleaner reads the declaring class. */
private object PageJob {
  val copyRows: (TaskContext, Iterator[InternalRow]) => Array[InternalRow] =
    (_, rows) => rows.map(_.copy()).toArray
}
