package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

import org.roaringbitmap.longlong.Roaring64NavigableMap

import graft.core.Codec
import graft.index.Indexer
import graft.io.Catalog.IndexPaths

/** Boolean (unscored filter-context) set operations over the inverted index
  * (SURVEY.md §2 row 14; ES bool-query semantics).
  *
  * Every op is one function over the docID-shard executor
  * ([[SearchEngine.perShard]]): per shard, each term's blocks decode to a
  * Roaring64 bitmap of its docs in the shard, the op combines the bitmaps,
  * the shard's tombstones are removed and only the surviving docIDs leave
  * the shard — no join, no distinct, no docID-set shuffle (RoaringBitmap
  * ships with Spark). The shard read is column-pruned to the docID payload:
  * the tf/dl streams are never read.
  */
object Booleans {

  /** The postings columns a boolean op reads: the pushed-down filter
    * columns and the docID payload.
    */
  private val DocColumns = Seq("term", "first_doc", "last_doc", "n_docs", "doc_deltas_vb")

  /** DocIDs containing `term`. */
  def docsOf(spark: SparkSession, root: String, term: String): DataFrame =
    bitmaps(spark, root, Seq(term))(_.head)

  /** Docs containing ALL terms (conjunction). */
  def and(spark: SparkSession, root: String, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty)
    sorted(bitmaps(spark, root, terms)(_.reduce { (a, b) => a.and(b); a }))
  }

  /** Docs containing ANY term (disjunction, unscored): one shard read for
    * all the terms (dictionary expansions reach dozens). No terms match no
    * docs.
    */
  def or(spark: SparkSession, root: String, terms: Seq[String]): DataFrame = {
    import spark.implicits._
    if (terms.isEmpty) spark.emptyDataset[Long].toDF("doc_id")
    else sorted(bitmaps(spark, root, terms)(_.reduce { (a, b) => a.or(b); a }))
  }

  /** Docs containing `pos` but not `neg`. */
  def andNot(spark: SparkSession, root: String, pos: String, neg: String): DataFrame =
    sorted(bitmaps(spark, root, Seq(pos, neg)) { bs => bs(0).andNot(bs(1)); bs(0) })

  private val DocRows = ExpressionEncoder[Long]()

  private def sorted(df: DataFrame): DataFrame = df.orderBy("doc_id")

  /** The shard function under every op: per docID-range shard, one bitmap
    * per term (in `terms` order; empty when the shard holds none of its
    * postings) of its docs in `[lo, hi)` — a block can straddle shards —
    * then `op` over them, minus the shard's tombstones.
    */
  private def bitmaps(spark: SparkSession, root: String, terms: Seq[String])(
      op: Seq[Roaring64NavigableMap] => Roaring64NavigableMap): DataFrame = {
    val meta = Indexer.readMeta(spark, root)
    val scan = SearchEngine.postingsScan(IndexPaths(root), terms.distinct, meta.buckets,
      DocColumns)
    SearchEngine.perShard(spark, root, meta, Seq(scan), None, DocRows) { sh =>
      val result = op(terms.map { t =>
        val bm = new Roaring64NavigableMap()
        sh.byTerm.getOrElse(t, Array.empty).foreach(b =>
          Codec.decodeDeltas(b.doc_deltas_vb, b.n_docs)
            .foreach(d => if (d >= sh.lo && d < sh.hi) bm.addLong(d)))
        bm
      })
      if (sh.deleted != null) sh.deleted.foreach(result.removeLong)
      result.toArray.iterator
    }
      .toDF("doc_id")
  }
}
