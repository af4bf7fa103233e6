package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Catalog
import graft.io.Catalog.IndexPaths
import graft.model.Hit

/** Conversation-level retrieval over a transcript index — the ES
  * parent-child (`has_child`) analog for the north-rule corpus: turns are
  * the indexed children, conversations the parents, and a query ranks
  * CONVERSATIONS by their turns' BM25 scores.
  *
  *   - score_mode `max` ([[topByMax]]): a conversation scores its best
  *     matching turn. Computed from a turn-level WAND top-`w` window with
  *     the same escalation argument as multi_match: any turn outside a
  *     FULL window scores below the window's boundary, so once the
  *     boundary is strictly below the k-th conversation max, no unseen
  *     turn can create or reorder a top-k conversation — exact. A
  *     non-full window contains every matching turn and is trivially
  *     complete.
  *   - score_mode `sum` ([[topBySum]]): a conversation scores the SUM over
  *     all its matching turns — inherently needs every matching turn, so
  *     it runs on the exhaustive scorer (the aggregation-class cost, as
  *     ES pays when scoring all children).
  *
  * The turn→conversation mapping is the index's own docid map (the
  * doc_id, conv_id, turn_idx columns of the numbered corpus every
  * transcript build and ingest writes) — a broadcast-joinable
  * (doc_id → conv_id) table; hits are ≤ w rows, so the join build side is
  * tiny.
  */
object Conversations {

  def topByMax(spark: SparkSession, root: String, rawTerms: Seq[String],
      k: Int): DataFrame = {
    import spark.implicits._
    val map = Catalog.readDocidMap(spark, IndexPaths(root))
      .select($"doc_id", $"conv_id")
    var w = math.max(k * 4, 64)
    while (true) {
      // ≤ w hit rows broadcast against the docid map — the map is never
      // collected; the per-round driver state is the w fused rows
      val turns = broadcast(SearchEngine.topKWand(spark, root, rawTerms, w))
        .join(map, "doc_id")
        .select($"conv_id", $"score").as[(String, Double)].collect()
        .sortBy { case (c, s) => (-s, c) }
      val byConv = turns.groupBy(_._1).view
        .mapValues(_.map(_._2).max).toSeq
        .sortBy { case (c, s) => (-s, c) }
        .take(k)
      val thetaC = if (byConv.size < k) Double.NegativeInfinity else byConv.last._2
      if (turns.length < w || turns.last._2 < thetaC)
        // row order IS the ranking (sorted above on the UNROUNDED scores —
        // re-sorting on the rounded column would flip sub-4dp ties)
        return spark.createDataset(byConv).toDF("conv_id", "score")
          .select($"conv_id", round($"score", 4).as("score_r4"))
      w *= 4
    }
    throw new IllegalStateException("unreachable")
  }

  def topBySum(spark: SparkSession, root: String, rawTerms: Seq[String],
      k: Int): DataFrame = {
    import spark.implicits._
    val hits = SearchEngine.scoreAllDocs(spark, root, rawTerms)
    val map = Catalog.readDocidMap(spark, IndexPaths(root))
      .select($"doc_id", $"conv_id")
    hits.join(map, "doc_id")
      .groupBy($"conv_id")
      .agg(sum($"score").as("score"))
      .orderBy($"score".desc, $"conv_id".asc)
      .limit(k)
      .select($"conv_id", round($"score", 4).as("score_r4"))
  }
}
