package org.apache.spark.sql

import org.apache.spark.TaskContext
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.serializer.Serializer
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to package-private Spark SQL pieces a library needs to plan its
  * own operators — the standard extension pattern used by public Spark
  * libraries (cf. SNIPPETS.md [1]/[3]: Qbeast's
  * `org.apache.spark.sql.DatasetFactory`, ColumnDataset's `ofColumns`).
  * Used by graft.sql: `Match`'s full-text nodes and the docID-shard
  * operator (`PerShard`), which also reports its postings reads as task
  * input; everything else stays on the public API.
  */
object GraftDatasetFactory {
  /** A DataFrame over a custom LogicalPlan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Spark SQL's shuffle serializer for rows of `numFields` columns. */
  def rowSerializer(numFields: Int): Serializer =
    new execution.UnsafeRowSerializer(numFields)

  /** Runs `read`, which returns its value and the records it read, and adds
    * those records and the Hadoop filesystem bytes this thread read
    * meanwhile to the running task's input metrics — as Spark's own file
    * scans report theirs.
    */
  def meteredRead[T](read: => (T, Long)): T = {
    val bytesRead = SparkHadoopUtil.get.getFSBytesReadOnThreadCallback()
    val (value, records) = read
    Option(TaskContext.get()).foreach { tc =>
      val in = tc.taskMetrics().inputMetrics
      in.incBytesRead(bytesRead())
      in.incRecordsRead(records)
    }
    value
  }
}
