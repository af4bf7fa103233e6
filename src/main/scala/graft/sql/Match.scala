package graft.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftDatasetFactory, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.search.SearchEngine

/** `match()` SQL pushdown (SURVEY.md §4.2-A; VERDICT r1 item 10): a logical
  * node for index-backed BM25 top-k, planned by a custom strategy injected
  * via `spark.experimental.extraStrategies` (the public extension point —
  * same shape as SNIPPETS.md [2], Pathling's SqlStrategy). A SQL query over
  * the registered view plans straight to the index-backed scan; Catalyst
  * sees an ordinary k-row leaf it can freely project/filter/join (its tiny
  * size estimate makes it broadcast-eligible in joins).
  */
final case class FullTextMatch(root: String, terms: Seq[String], k: Int,
    override val output: Seq[Attribute]) extends LeafNode {
  // ≤ k rows of (long, double): always broadcast-eligible
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = BigInt(k.toLong.max(1L) * 16L))
}

object FullTextMatch {
  /** Output attributes live in the constructor: Catalyst copies nodes during
    * analysis/canonicalization, and a `val output` would mint fresh exprIds
    * on every copy, orphaning every reference to the node.
    */
  def apply(root: String, terms: Seq[String], k: Int): FullTextMatch =
    FullTextMatch(root, terms, k, Seq(
      AttributeReference("doc_id", LongType, nullable = false)(),
      AttributeReference("score_r4", DoubleType, nullable = true)()))
}

/** Physical leaf: delegates to the engine's WAND pipeline (bucket-pruned
  * postings scan → per-shard block-max WAND → TakeOrderedAndProject) and
  * exposes its InternalRow RDD — the inner query is ordinary distributed
  * execution, not a driver-side collect.
  */
final case class FullTextMatchExec(output: Seq[Attribute], root: String,
    terms: Seq[String], k: Int) extends LeafExecNode {
  override protected def doExecute(): RDD[InternalRow] = {
    val spark = SparkSession.active
    SearchEngine.rounded(SearchEngine.topKWand(spark, root, terms, k))
      .queryExecution.toRdd
  }
}

/** `match_phrase()` analog: scored phrase top-k over the positional index
  * (PositionalIndex.phraseTopK), same leaf-node shape as [[FullTextMatch]].
  */
final case class FullTextPhrase(root: String, phrase: Seq[String], k: Int,
    buckets: Int, override val output: Seq[Attribute]) extends LeafNode {
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = BigInt(k.toLong.max(1L) * 16L))
}

object FullTextPhrase {
  def apply(root: String, phrase: Seq[String], k: Int, buckets: Int): FullTextPhrase =
    FullTextPhrase(root, phrase, k, buckets, Seq(
      AttributeReference("doc_id", LongType, nullable = false)(),
      AttributeReference("score_r4", DoubleType, nullable = true)()))
}

final case class FullTextPhraseExec(output: Seq[Attribute], root: String,
    phrase: Seq[String], k: Int, buckets: Int) extends LeafExecNode {
  override protected def doExecute(): RDD[InternalRow] = {
    val spark = SparkSession.active
    graft.index.PositionalIndex.phraseTopK(spark, root, phrase, k, buckets)
      .queryExecution.toRdd
  }
}

object MatchStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case m: FullTextMatch => FullTextMatchExec(m.output, m.root, m.terms, m.k) :: Nil
    case m: FullTextPhrase =>
      FullTextPhraseExec(m.output, m.root, m.phrase, m.k, m.buckets) :: Nil
    case _ => Nil
  }
}

object Match {

  /** Idempotently inject the strategy into the session. */
  def setup(spark: SparkSession): Unit = PerShard.inject(spark, MatchStrategy)

  /** DataFrame over the logical match node (planned by MatchStrategy). */
  def topK(spark: SparkSession, root: String, query: String, k: Int): DataFrame = {
    setup(spark)
    GraftDatasetFactory.ofRows(spark,
      FullTextMatch(root, query.split("\\s+").filter(_.nonEmpty).toSeq, k))
  }

  /** SQL surface: register `name` as a view backed by the match node, e.g.
    * {{{
    * Match.createView(spark, "m", idxRoot, "join window vector", 10)
    * spark.sql("SELECT d.source, m.score_r4 FROM m JOIN docs d USING (doc_id)")
    * }}}
    */
  def createView(spark: SparkSession, name: String, root: String,
      query: String, k: Int): Unit =
    topK(spark, root, query, k).createOrReplaceTempView(name)

  /** DataFrame over the scored-phrase node (ES match_phrase analog). */
  def phraseTopK(spark: SparkSession, root: String, phrase: String, k: Int,
      buckets: Int): DataFrame = {
    setup(spark)
    GraftDatasetFactory.ofRows(spark,
      FullTextPhrase(root, phrase.split("\\s+").filter(_.nonEmpty).toSeq, k, buckets))
  }

  /** SQL view over the scored-phrase node. */
  def createPhraseView(spark: SparkSession, name: String, root: String,
      phrase: String, k: Int, buckets: Int): Unit =
    phraseTopK(spark, root, phrase, k, buckets).createOrReplaceTempView(name)
}
