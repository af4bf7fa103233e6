package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.roaringbitmap.longlong.Roaring64NavigableMap

import graft.core.{Blocks, Codec}
import graft.index.Indexer
import graft.io.Catalog
import graft.io.Catalog.IndexPaths

/** Boolean (unscored filter-context) set operations over the inverted index
  * (SURVEY.md §2 row 14; ES bool-query semantics).
  *
  * Posting blocks decode straight to docID sets; AND/NOT become
  * intersect/except over those sets. Only the `doc_deltas_vb` payload is
  * decoded — column pruning drops the tf/dl streams at the scan.
  */
object Booleans {

  /** DocIDs containing `term` — bucket-pruned, term-pushed-down scan. */
  def docsOf(spark: SparkSession, root: String, term: String): DataFrame =
    liveDocs(spark, root, Seq(term))

  /** DocIDs of every posting of `terms` (one per posting, tombstoned docs
    * included): ONE bucket-pruned, term-pushed-down scan decoding only the
    * docID payloads.
    */
  private[search] def postingDocs(spark: SparkSession, root: String,
      terms: Seq[String]): DataFrame = {
    import spark.implicits._
    val meta = Indexer.readMeta(spark, root)
    val qBuckets = terms.map(Blocks.bucketOf(_, meta.buckets)).distinct
    Catalog.readParquet(spark, IndexPaths(root).postings)
      .filter($"bucket".isin(qBuckets: _*) && $"term".isin(terms: _*))
      .select($"n_docs", $"doc_deltas_vb")
      .as[(Int, Array[Byte])]
      .flatMap { case (n, deltas) => Codec.decodeDeltas(deltas, n) }
      .toDF("doc_id")
  }

  /** [[postingDocs]] without the tombstoned docs. */
  private def liveDocs(spark: SparkSession, root: String,
      terms: Seq[String]): DataFrame =
    postingDocs(spark, root, terms).transform(graft.index.Deletes.filterLive(_, root))

  /** Docs containing ALL terms (conjunction): left-semi chain. */
  def and(spark: SparkSession, root: String, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty)
    import spark.implicits._
    terms.map(docsOf(spark, root, _))
      .reduce((a, b) => a.join(b, Seq("doc_id"), "left_semi"))
      .orderBy($"doc_id")
  }

  /** Docs containing ANY term (disjunction, unscored): one scan for all
    * the terms (dictionary expansions reach dozens), distinct. No terms
    * match no docs.
    */
  def or(spark: SparkSession, root: String, terms: Seq[String]): DataFrame = {
    import spark.implicits._
    if (terms.isEmpty) spark.emptyDataset[Long].toDF("doc_id")
    else liveDocs(spark, root, terms).distinct().orderBy($"doc_id")
  }

  /** Docs containing `pos` but not `neg` (left-anti). */
  def andNot(spark: SparkSession, root: String, pos: String, neg: String): DataFrame = {
    import spark.implicits._
    docsOf(spark, root, pos)
      .join(docsOf(spark, root, neg), Seq("doc_id"), "left_anti")
      .orderBy($"doc_id")
  }

  /** Bitmap conjunction: per docID-range shard ([[SearchEngine.perShard]]),
    * decode each term's blocks into a Roaring64 bitmap, intersect, and drop
    * the shard's tombstones — the scale path for boolean filters
    * (RoaringBitmap ships with Spark). Equivalent to [[and]]; the set ops
    * run partition-local at bitmap speed and only the surviving docIDs
    * leave the shard, instead of shuffling full docID sets through
    * semi-joins.
    */
  def andBitmap(spark: SparkSession, root: String, terms: Seq[String],
      shardsOpt: Option[Int] = None): DataFrame = {
    require(terms.nonEmpty)
    import spark.implicits._
    val meta = Indexer.readMeta(spark, root)
    SearchEngine.perShard(spark, root, meta, terms, shardsOpt) { sh =>
      if (!terms.forall(sh.byTerm.contains)) Iterator.empty
      else {
        val result = terms.map { t =>
          val bm = new Roaring64NavigableMap()
          sh.byTerm(t).foreach(b => Codec.decodeDeltas(b.doc_deltas_vb, b.n_docs)
            .foreach(d => if (d >= sh.lo && d < sh.hi) bm.addLong(d)))
          bm
        }.reduce { (a, b) => a.and(b); a }
        if (sh.deleted != null) sh.deleted.foreach(result.removeLong)
        result.toArray.iterator
      }
    }
      .toDF("doc_id")
      .orderBy($"doc_id")
  }
}
