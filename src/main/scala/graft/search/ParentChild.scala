package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ES join-field queries (`has_child`, `has_parent`, `inner_hits`) over a
  * generic (doc_id → parent) mapping — the generalization of
  * [[Conversations]] (whose mapping is the index's own docid map) to any
  * parent key: a metadata column, a derived group, an application join
  * field.
  *
  * Semantics mirror ES's parent-join field:
  *   - `has_child` returns PARENTS whose children match the query, scored by
  *     `score_mode` (`max` = best child, `sum` = all matching children), with
  *     the optional `min_children` constraint counting MATCHING children;
  *   - `has_parent` returns CHILDREN whose parent matches the parent query —
  *     with virtual parents (a grouping key, not stored docs) the parent
  *     query is itself a has_child condition: the group contains a doc
  *     matching all query terms (ES `score: false`, so no scores);
  *   - `inner_hits` attaches each returned parent's top-n matching children.
  *
  * Scale shape: the child scores come from the pruned-exhaustive scorer
  * (postings of the query terms only — never a corpus scan), the parent
  * rollup is one hash aggregation on the parent key with map-side partials,
  * and the per-parent top-n is a bounded heap per group (never a global
  * window). ES pays the same aggregation class: parent-join queries score
  * all matching children per shard. The mapping join is doc-keyed and
  * uniform, so no skew handling is needed; a heavy parent (many children)
  * concentrates only its own rollup row, not the scoring work.
  */
object ParentChild {

  /** `has_child` with `score_mode: max` — each parent scores its best
    * matching child. One pruned scoring pass, one parent-keyed hash agg.
    */
  def hasChildMax(spark: SparkSession, root: String, map: DataFrame,
      rawTerms: Seq[String], k: Int): DataFrame = {
    import spark.implicits._
    SearchEngine.scoreAllDocs(spark, root, rawTerms)
      .join(map, "doc_id")
      .groupBy($"parent")
      .agg(max($"score").as("score"))
      .orderBy($"score".desc, $"parent".asc)
      .limit(k)
      .select($"parent", round($"score", 4).as("score_r4"))
  }

  /** `has_child` with `score_mode: sum` and `min_children` — a parent needs
    * at least `minChildren` MATCHING children to qualify, and scores the sum
    * over all of them (ES's aggregation-class mode: inherently needs every
    * matching child, as ES itself pays).
    */
  def hasChildSum(spark: SparkSession, root: String, map: DataFrame,
      rawTerms: Seq[String], k: Int, minChildren: Int = 1): DataFrame = {
    import spark.implicits._
    SearchEngine.scoreAllDocs(spark, root, rawTerms)
      .join(map, "doc_id")
      .groupBy($"parent")
      .agg(sum($"score").as("score"), count(lit(1)).as("n_children"))
      .filter($"n_children" >= minChildren)
      .orderBy($"score".desc, $"parent".asc)
      .limit(k)
      .select($"parent", round($"score", 4).as("score_r4"), $"n_children")
  }

  /** `has_parent` (score: false): all children whose parent group contains a
    * doc matching ALL `parentTerms` — the parent condition resolved through
    * the index's boolean conjunction (postings-only, no text scan), then one
    * semi-join on the parent key.
    */
  def hasParent(spark: SparkSession, root: String, map: DataFrame,
      parentTerms: Seq[String]): DataFrame = {
    import spark.implicits._
    val matchingParents = Booleans.and(spark, root, parentTerms)
      .join(map, "doc_id")
      .select($"parent")
      .distinct()
    map.join(matchingParents, Seq("parent"), "left_semi")
      .select($"doc_id", $"parent")
      .orderBy($"doc_id")
  }

  /** ES `parent_id` query: all children of ONE parent. With a stored join
    * field the scan prunes on the parent key (partition/bucket by parent at
    * scale); with a derived key, as here, the predicate evaluates inside the
    * metadata scan — still one narrow column pass, no join, no shuffle.
    */
  def parentId(spark: SparkSession, map: DataFrame, parent: Long): DataFrame = {
    import spark.implicits._
    map.filter($"parent" === parent)
      .select($"doc_id", $"parent")
      .orderBy($"doc_id")
  }

  /** `has_child` top parents with `inner_hits`: the top `kParents` parents
    * by best-child score, each carrying its top `nPer` matching children
    * (rank within parent by (score desc, doc_id asc), ES's tiebreak).
    *
    * The per-parent cut is a bounded heap inside `flatMapGroups` — at most
    * `nPer` rows of state per group, no WindowExec, no global sort of the
    * matching set. Parents are selected first (k rows, broadcast back), so
    * the group pass touches only selected parents' children.
    */
  def innerHits(spark: SparkSession, root: String, map: DataFrame,
      rawTerms: Seq[String], kParents: Int, nPer: Int): DataFrame = {
    import spark.implicits._
    val scored = SearchEngine.scoreAllDocs(spark, root, rawTerms)
      .join(map, "doc_id")
    val parents = scored
      .groupBy($"parent")
      .agg(max($"score").as("pscore"))
      .orderBy($"pscore".desc, $"parent".asc)
      .limit(kParents)
    val hits = scored
      .join(broadcast(parents), "parent")
      .select($"parent", $"pscore", $"doc_id", $"score")
      .as[(Long, Double, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        // bounded top-nPer per parent: (score desc, doc_id asc)
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Long, Double)]
        it.foreach { r =>
          buf += r
          if (buf.length > 4 * nPer) {
            val cut = buf.sortBy(t => (-t._4, t._3)).take(nPer)
            buf.clear(); buf ++= cut
          }
        }
        buf.sortBy(t => (-t._4, t._3)).take(nPer).zipWithIndex.map {
          case ((p, ps, d, s), i) => (p, ps, d, s, i + 1L)
        }.iterator
      }
      .toDF("parent", "pscore", "doc_id", "score", "rnk")
    hits
      .select($"parent", round($"pscore", 4).as("parent_score_r4"),
        $"doc_id", round($"score", 4).as("score_r4"), $"rnk")
      .orderBy($"parent_score_r4".desc, $"parent".asc, $"rnk".asc)
  }
}
