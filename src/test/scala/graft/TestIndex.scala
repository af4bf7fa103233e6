package graft

import org.apache.spark.sql.{Dataset, SaveMode}

import graft.index.IndexBuildJob
import graft.model.Turn

/** Turns → index the way a production build takes it: the turns written as
  * a parquet table next to `root`, then [[IndexBuildJob.run]].
  */
object TestIndex {
  def build(turns: Dataset[Turn], root: String, buckets: Int,
      targetRun: Long): IndexBuildJob.Summary = {
    val input = s"$root-turns"
    turns.write.mode(SaveMode.Overwrite).parquet(input)
    IndexBuildJob.run(turns.sparkSession, IndexBuildJob.Args(
      input = input, output = root, buckets = buckets, targetRun = targetRun))
  }
}
