package graft.search

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{IndexCache, TestSpark}
import graft.search.SearchEngine.rounded

/** _reindex-with-query and _analyze surface semantics. */
class ReindexAnalyzeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val dir = "/root/testdata/sf0.001"

  test("reindexed index's stats reflect only the surviving docs") {
    import spark.implicits._
    val re = IndexCache.reindexedSource(spark, dir, "src2")
    val nSrc2 = graft.io.Catalog.readTable(spark, dir, "documents")
      .filter($"source" === "src2").count()
    assert(re.stats.n_docs == nSrc2)
    val full = IndexCache.documentsIndex(spark, dir)
    assert(re.stats.n_docs < full.stats.n_docs)
    // scoring uses the REINDEXED stats: results differ from filtering the
    // full index's results (idf/avgdl change — the whole point of _reindex)
    val reTop = rounded(SearchEngine.topKWand(spark, re.paths.root,
      Seq("join", "window"), 5)).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(reTop.nonEmpty)
    val brute = BruteForce.topK(
      graft.io.Catalog.readTable(spark, dir, "documents")
        .filter($"source" === "src2").select($"doc_id", $"text"),
      Seq("join", "window"), 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(reTop.map(_._1).toSeq == brute.map(_._1).toSeq)
  }

  test("_analyze output is the pinned chain: lowercase, split, drop empties") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val got = Seq("A-b  C42d!").toDF("text")
      .select(posexplode(graft.core.Analyzer.tokensCol($"text")))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((0, "a"), (1, "b"), (2, "c42d")))
  }
}
