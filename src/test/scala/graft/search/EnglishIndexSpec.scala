package graft.search

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{IndexCache, TestSpark}
import graft.index.Indexer
import graft.io.Catalog
import graft.search.SearchEngine.rounded

/** English-analyzed index: the IndexMeta analyzer pin means query-time
  * analysis always equals index-time analysis, and the WAND path over the
  * stemmed index is bit-identical to an index-free analyzed brute-force twin.
  */
class EnglishIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  lazy val sfDir = "/root/testdata/sf0.001"

  private def hits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] = {
    import spark.implicits._
    df.select($"doc_id", $"score_r4").as[(Long, Double)].collect().toSeq
  }

  test("english index records its analyzer; WAND equals the analyzed brute twin") {
    val idx = IndexCache.englishIndex(spark, sfDir)
    assert(idx.meta.analyzer == "english")
    val docs = Catalog.readDocuments(spark, sfDir).toDF()
    for (q <- Seq(Seq("joins", "windows"), Seq("vector", "merging"),
        Seq("the", "join"), Seq("running"))) {
      val wand = hits(rounded(SearchEngine.topKWand(spark, idx.paths.root, q, 10)))
      val brute = hits(BruteForce.topKAnalyzed(docs, q, 10, "english")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.round(
            org.apache.spark.sql.functions.col("score"), 4).as("score_r4")))
      assert(wand == brute, s"query $q: WAND vs analyzed brute mismatch")
    }
  }

  test("must_not analyzes like the index: 'streams' excludes every doc stemming to 'stream'") {
    import spark.implicits._
    val root = IndexCache.englishIndex(spark, sfDir).paths.root
    val streamDocs = Catalog.readDocuments(spark, sfDir)
      .filter(d => graft.core.Analyzer.analyze(d.text, "english").contains("stream"))
      .map(_.doc_id).collect().toSet
    assert(streamDocs.nonEmpty, "fixture corpus must contain 'stream' docs")
    val excluded = SearchEngine.mustNotDocs(spark, root, Seq("streams"))
    assert(excluded.map(_.as[Long].collect().toSet).contains(streamDocs))
    val got = hits(rounded(SearchEngine.topKWand(spark, root, Seq("streams", "join"),
      1000, excludedDocs = excluded)))
    assert(got.nonEmpty, "'join' docs without 'stream' must remain")
    assert(got.forall { case (d, _) => !streamDocs(d) }, "a 'stream' doc survived must_not")
  }

  test("field sort and delete_by_query analyze like the index: 'joins' reaches the 'join' docs") {
    import spark.implicits._
    val root = IndexCache.englishIndex(spark, sfDir).paths.root
    val joinDocs = Catalog.readDocuments(spark, sfDir)
      .filter(d => graft.core.Analyzer.analyze(d.text, "english").contains("join"))
      .map(_.doc_id).collect().toSet
    assert(joinDocs.nonEmpty, "fixture corpus must contain 'join' docs")
    def bySize(term: String) = SearchEngine.topKByField(spark, root, sfDir, Seq(term),
      "n_chars", joinDocs.size + 10).select($"doc_id").as[Long].collect().toSeq
    val sorted = bySize("joins")
    assert(sorted.toSet == joinDocs, "field sort must match the stemmed posting list")
    assert(sorted == bySize("join"))
    val copy = s"/tmp/graft-en-dbq-${System.nanoTime()}/idx"
    try {
      graft.io.Fs.copyDir(root, copy)
      assert(graft.index.Deletes.deleteByQuery(spark, copy, Seq("joins")) == joinDocs.size.toLong,
        "delete_by_query must tombstone every doc stemming to 'join'")
      assert(SearchEngine.topKWand(spark, copy, Seq("join"), 10).count() == 0L)
    } finally graft.io.Fs.delete(new java.io.File(copy).getParent)
  }

  test("cross_fields and BM25F analyze like the index: one field reduces to plain BM25") {
    // with the index as both fields, tie_breaker 0 and title boost 1,
    // cross_fields is Σ_t max(x, x) = plain BM25; BM25F with a zero title
    // weight is too — only if 'joins' stems to the indexed 'join'
    val root = IndexCache.englishIndex(spark, sfDir).paths.root
    val q = Seq("joins", "window")
    val plain = hits(rounded(SearchEngine.topKWand(spark, root, q, 10)))
    assert(plain.nonEmpty)
    assert(hits(SearchEngine.multiMatchCrossFields(spark, root, root, q, 10,
      tieBreaker = 0.0, titleBoost = 1.0)) == plain)
    assert(hits(Bm25F.topK(spark, root, root, q, 10, wText = 1.0, wTitle = 0.0)) == plain)
  }

  test("surface forms conflate: inflected query equals stemmed query") {
    val idx = IndexCache.englishIndex(spark, sfDir)
    val a = hits(rounded(SearchEngine.topKWand(spark, idx.paths.root, Seq("joins"), 10)))
    val b = hits(rounded(SearchEngine.topKWand(spark, idx.paths.root, Seq("join"), 10)))
    assert(a == b, "'joins' and 'join' must hit the same stemmed postings")
    assert(a.nonEmpty, "'join' must match documents in the fixture corpus")
  }

  test("stopwords carry no postings and queries drop them") {
    import spark.implicits._
    val idx = IndexCache.englishIndex(spark, sfDir)
    val dictTerms = Catalog
      .readDictionary(spark, graft.io.Catalog.IndexPaths(idx.paths.root))
      .select($"term").as[String].collect().toSet
    assert(graft.core.En.Stopwords.intersect(dictTerms).isEmpty,
      "no stopword may appear in the english dictionary")
    // a pure-stopword query is empty, not an error
    assert(rounded(SearchEngine.topKWand(spark, idx.paths.root, Seq("the", "and"), 10))
      .count() == 0L)
    // dl excludes stopwords: english avgdl strictly below standard avgdl
    val std = IndexCache.documentsIndex(spark, sfDir)
    assert(idx.stats.avgdl < std.stats.avgdl)
    assert(idx.stats.n_docs == std.stats.n_docs, "N counts all docs either way")
  }

  test("conflation changes ranking semantics on an inflection-split corpus") {
    import spark.implicits._
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val root = s"/tmp/graft-en-inline-$tag"
    val docs = Seq(
      graft.model.Doc(0L, "running shoes for the marathon"),
      graft.model.Doc(1L, "he runs daily"),
      graft.model.Doc(2L, "a long run in the park"),
      graft.model.Doc(3L, "completely unrelated text about databases")).toDS()
    try {
      Indexer.buildFromDocs(docs, root, buckets = 4, targetRun = 16,
        analyzer = "english")
      val got = rounded(SearchEngine.topKWand(spark, root, Seq("run"), 10))
        .select($"doc_id").as[Long].collect().toSet
      assert(got == Set(0L, 1L, 2L),
        "stemming must conflate running/runs/run into one posting list")
    } finally graft.io.Fs.delete(root)
  }
}
