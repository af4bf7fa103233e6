package graft.index

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{IndexCache, TestSpark}
import graft.io.{Catalog, Fs}
import graft.search.SearchEngine
import graft.search.SearchEngine.rounded

/** Keyword-field postings lifecycle: the idempotency marker must track the
  * postings GENERATION, not the index root — a rebuilt index re-indexes its
  * keyword fields instead of silently returning empty filters, and
  * compaction (which carries keyword rows forward) keeps the marker so
  * re-adding stays a no-op.
  */
class KeywordIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val sfDir = "/root/testdata/sf0.001"
  private val q = Seq("join", "window")

  private def filteredHits(root: String): Seq[Long] =
    rounded(SearchEngine.topKWand(spark, root, q, 10, filters = Seq("source:src3")))
      .collect().map(_.getLong(0)).toSeq

  test("postings rebuild invalidates the marker: filters re-index, not vanish") {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val root = s"/tmp/graft-kw-$tag"
    try {
      val docs = Catalog.readDocuments(spark, sfDir)
      val meta = Catalog.readTable(spark, sfDir, "documents")
      Indexer.buildFromDocs(docs, root,
        buckets = IndexCache.Buckets, targetRun = IndexCache.TargetRun)
      KeywordIndex.add(spark, root, meta, "source")
      val before = filteredHits(root)
      assert(before.nonEmpty, "filtered search must match")

      // full rebuild over the same root wipes the kw postings AND marker
      Indexer.buildFromDocs(docs, root,
        buckets = IndexCache.Buckets, targetRun = IndexCache.TargetRun)
      KeywordIndex.add(spark, root, meta, "source") // must NOT be a stale no-op
      assert(filteredHits(root) == before,
        "re-added keyword field must restore identical filtered results")
    } finally Fs.delete(root)
  }

  test("compaction forwards the marker: re-add is a no-op, filters identical") {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val root = s"/tmp/graft-kwc-$tag"
    try {
      Indexer.buildFromDocs(Catalog.readDocuments(spark, sfDir), root,
        buckets = IndexCache.Buckets, targetRun = IndexCache.TargetRun)
      val meta = Catalog.readTable(spark, sfDir, "documents")
      KeywordIndex.add(spark, root, meta, "source")
      val before = filteredHits(root)
      Compaction.compact(spark, root)
      val paths = Catalog.IndexPaths(root)
      assert(Fs.exists(s"${paths.postings}/_kw_source"),
        "compaction must forward the keyword marker to the new generation")
      KeywordIndex.add(spark, root, meta, "source") // no-op: rows were carried
      assert(filteredHits(root) == before,
        "no duplicate keyword postings after compact + re-add")
    } finally Fs.delete(root)
  }
}
