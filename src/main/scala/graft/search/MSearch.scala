package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.index.Indexer
import graft.io.Catalog.IndexPaths

/** ES `_msearch`: a BATCH of queries answered in one index pass.
  *
  * ES's msearch is a transport-level batching (each sub-search still runs
  * its own scan per shard). On Spark the batch can share real work: each
  * docID-range shard task reads its bucket-pruned, term-pushed-down blocks
  * for the UNION of all queries' terms once, then runs an independent
  * Block-Max WAND pass per query over those already-fetched blocks. Q
  * queries cost one read per shard instead of Q; the per-query WAND
  * passes reuse the same decoded term→blocks map and skip blocks exactly
  * as the single-query path does
  * (fresh cursors per query keep the rank-safety argument of
  * [[Wand.scoreShard]] untouched).
  *
  * At 100 TB this is the query-serving shape for offline batch scoring
  * (relevance eval sets, percolate-style routing, training-label
  * generation): amortizing the scan across queries is the difference
  * between O(Q) corpus passes and O(1).
  *
  * Per-query top-k: each shard emits ≤ k candidates per query, so the
  * final cut ranks ≤ shards·k rows per query — the window below runs on
  * that tiny candidate set (partitioned by query_id, never corpus-sized).
  */
object MSearch {

  /** Run `queries` (id → raw terms) as one batch; returns one row per
    * (query_id, hit) with rounded scores, top-k per query. Each query is
    * modelled exactly as [[SearchEngine.topKWand]] models it, and
    * tombstoned docs never score.
    */
  def msearch(spark: SparkSession, root: String,
      queries: Seq[(String, Seq[String])], k: Int,
      shardsOpt: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val meta = Indexer.readMeta(spark, root)
    val models = queries.map(_._1)
      .zip(SearchEngine.queryModels(spark, IndexPaths(root), queries.map(_._2), k,
        meta.analyzer, meta.synonyms))
      .filter(!_._2.isEmpty)
    if (models.isEmpty) return emptyResult(spark)
    val robust = meta.incremental

    // one shard read for the union of all queries' terms
    val allTerms = models.flatMap(_._2.terms).distinct.sorted
    val candidates = SearchEngine.perShard(spark, root, meta,
        Seq(SearchEngine.postingsScan(IndexPaths(root), allTerms, meta.buckets)), shardsOpt,
        CandidateRows) { sh =>
      models.iterator.flatMap { case (qid, qm) =>
        Wand.scoreShard(sh.cursors(qm, robust), sh.lo, k, deleted = sh.deleted)
          .iterator.map(h => (qid, h.doc_id, h.score))
      }
    }
      .toDF("query_id", "doc_id", "score")

    // ≤ shards·k rows per query reach this window — a candidate cut, not a
    // corpus-sized WindowExec
    val w = Window.partitionBy($"query_id")
      .orderBy($"score".desc, $"doc_id".asc)
    candidates
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= k)
      .select($"query_id", $"doc_id", round($"score", 4).as("score_r4"))
      .orderBy($"query_id".asc, $"score_r4".desc, $"doc_id".asc)
  }

  private val CandidateRows = ExpressionEncoder[(String, Long, Double)]()

  private def emptyResult(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[(String, Long, Double)]
      .toDF("query_id", "doc_id", "score_r4")
  }
}
