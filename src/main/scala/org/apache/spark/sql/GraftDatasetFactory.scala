package org.apache.spark.sql

import org.apache.spark.serializer.Serializer
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to package-private Spark SQL pieces a library needs to plan its
  * own operators — the standard extension pattern used by public Spark
  * libraries (cf. SNIPPETS.md [1]/[3]: Qbeast's
  * `org.apache.spark.sql.DatasetFactory`, ColumnDataset's `ofColumns`).
  * Used by graft.sql: `Match`'s full-text nodes and the docID-shard
  * operator (`PerShard`); everything else stays on the public API.
  */
object GraftDatasetFactory {
  /** A DataFrame over a custom LogicalPlan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Spark SQL's shuffle serializer for rows of `numFields` columns. */
  def rowSerializer(numFields: Int): Serializer =
    new execution.UnsafeRowSerializer(numFields)
}
