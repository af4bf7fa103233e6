package graft.search

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{IndexCache, TestSpark}
import graft.core.Analyzer
import graft.io.Catalog
import graft.search.SearchEngine.rounded

/** search_as_you_type: edge_ngram index analysis + standard search analysis. */
class EdgeNgramSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val sfDir = "/root/testdata/sf0.001"

  test("edge_ngram analysis expands tokens to leading grams; search form truncates") {
    assert(Analyzer.analyze("window", "edge_ngram").toSeq ==
      Seq("wi", "win", "wind", "windo"))
    assert(Analyzer.analyze("Join a", "edge_ngram").toSeq ==
      Seq("jo", "joi", "join")) // 'a' < min gram: dropped
    assert(Analyzer.searchForm("edge_ngram") == "edge_search")
    assert(Analyzer.searchForm("english") == "english")
    // query terms past EdgeMax truncate to the longest stored gram (ADVICE
    // r5: plain standard search analysis silently matched nothing past 5)
    assert(Analyzer.analyze("windows", "edge_search").toSeq == Seq("windo"))
    assert(Analyzer.analyze("Wind", "edge_search").toSeq == Seq("wind"))
  }

  test("over-long typed term matches via its EdgeMax prefix gram") {
    val idx = IndexCache.edgeNgramIndex(spark, sfDir)
    val full = rounded(SearchEngine.topKWand(spark, idx.paths.root, Seq("windowing"), 10))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val pfx = rounded(SearchEngine.topKWand(spark, idx.paths.root, Seq("windo"), 10))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == pfx, "a >EdgeMax query term must behave as its EdgeMax prefix")
    assert(full.nonEmpty)
  }

  test("typed prefix scores against gram postings; WAND equals exhaustive shadow") {
    val idx = IndexCache.edgeNgramIndex(spark, sfDir)
    assert(idx.meta.analyzer == "edge_ngram")
    for (q <- Seq(Seq("wi"), Seq("wi", "vec"), Seq("wind"))) {
      val wand = rounded(SearchEngine.topKWand(spark, idx.paths.root, q, 10))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val exh = rounded(SearchEngine.topKExhaustive(spark, idx.paths.root, q, 10))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(wand == exh, s"q=$q")
      assert(wand.nonEmpty, s"q=$q")
    }
    // semantic: every hit for 'wind' contains a token with that prefix
    val texts = Catalog.readTable(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rounded(SearchEngine.topKWand(spark, idx.paths.root, Seq("wind"), 10))
      .collect().map(_.getLong(0)).foreach { d =>
        assert(Analyzer.tokenize(texts(d)).exists(_.startsWith("wind")), d)
      }
  }
}
