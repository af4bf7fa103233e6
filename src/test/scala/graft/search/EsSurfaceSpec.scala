package graft.search

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{IndexCache, TestSpark}
import graft.io.Catalog
import graft.io.Catalog.IndexPaths
import graft.search.SearchEngine.rounded

/** Semantics pins for the round-3 ES-surface additions: wildcard,
  * more_like_this, significant_terms, top_hits. (DuckDB parity is the
  * driver's gate; these pin the engine-side invariants.)
  */
class EsSurfaceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val sfDir = "/root/testdata/sf0.001"
  private lazy val root = IndexCache.documentsIndex(spark, sfDir).paths.root

  test("wildcard equals the union of its dictionary expansion's term queries") {
    import spark.implicits._
    val pattern = "*or*"
    val dictTerms = Catalog.readDictionary(spark, IndexPaths(root))
      .collect().map(_.term)
      .filter(_.matches("^.*or.*$")).toSeq
    assert(dictTerms.size > 1, "pattern should expand to multiple terms")
    val got = TermQueries.wildcard(spark, root, pattern)
      .as[Long].collect().toSet
    val want = dictTerms
      .map(t => Booleans.docsOf(spark, root, t).as[Long].collect().toSet)
      .reduce(_ ++ _)
    assert(got == want)
  }

  test("more_like_this: seed excluded, ranking equals manual term selection") {
    import spark.implicits._
    val seed = 0L
    val got = MoreLikeThis.topK(spark, root, sfDir, seed, 10,
      maxQueryTerms = 5, minTermFreq = 1, minDocFreq = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.nonEmpty && !got.exists(_._1 == seed), "seed must be excluded")

    // independent recomputation of the selection
    val text = Catalog.readDocuments(spark, sfDir)
      .filter($"doc_id" === seed).select($"text").as[String].head()
    val tf = graft.core.Analyzer.tokenize(text)
      .groupBy(identity).view.mapValues(_.size).toMap
    val paths = IndexPaths(root)
    val stats = Catalog.readCorpusStats(spark, paths)
    val dfm = Catalog.readDictionary(spark, paths)
      .collect().map(d => d.term -> d.df).toMap
    val sel = tf.toSeq
      .filter { case (t, f) => f >= 1 && dfm.get(t).exists(_ >= 2) }
      .map { case (t, f) => (t, f * graft.core.Bm25.idf(stats.n_docs, dfm(t))) }
      .sortBy { case (t, w) => (-w, t) }.take(5).map(_._1)
    val want = SearchEngine.topKWand(spark, root, sel, 11)
      .collect().map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e4) / 1e4))
      .filterNot(_._1 == seed).take(10).toSeq
    assert(got == want)
  }

  test("significant_terms: foreground term leads, JLH positive, fg superset check") {
    val rows = Aggregations.significantTerms(spark, root, sfDir, "join", 10).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getDouble(1) > 0), "JLH keeps only overrepresented terms")
    // the fg term itself has fgPct = 1 — maximal overrepresentation
    assert(rows.head.getString(0) == "join")
    assert(rows.map(_.getDouble(1)).toSeq == rows.map(_.getDouble(1)).toSeq.sorted.reverse)
  }

  test("synonym query: singleton groups reduce to plain BM25; grouping changes scoring") {
    // Lucene SynonymQuery with every group a single term is algebraically
    // plain BM25 (max df over one term = its df; summed tf = its tf)
    // the english index analyzes the groups with its own analyzer, as topKWand
    val english = IndexCache.englishIndex(spark, sfDir).paths.root
    for ((ix, q) <- Seq(root -> Seq("join", "window", "vector"),
        english -> Seq("joins", "windows", "vector"))) {
      val single = SearchEngine.synonymTopK(spark, ix, q.map(Seq(_)), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val plain = rounded(SearchEngine.topKWand(spark, ix, q, 10))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(single.nonEmpty && single == plain,
        s"singleton synonym groups must equal plain BM25 on $ix")
    }
    // a real group blends: must differ from treating members as independent
    val grouped = SearchEngine.synonymTopK(spark, root,
      Seq(Seq("join", "merge"), Seq("window")), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val independent = rounded(SearchEngine.topKWand(spark, root,
      Seq("join", "merge", "window"), 10))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(grouped != independent,
      "blended df + summed tf must differ from independent terms")
  }

  test("top_hits: per-bucket ranks contiguous, globally best doc is rank 1 of its bucket") {
    import spark.implicits._
    val q = Seq("join", "window", "vector")
    val rows = Aggregations.topHitsByFacet(spark, root, sfDir, q, 3).collect()
    val byBucket = rows.groupBy(_.getString(0))
    byBucket.foreach { case (_, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq == (1L to rs.length))
      val scores = rs.sortBy(_.getLong(1)).map(_.getDouble(3)).toSeq
      assert(scores == scores.sorted.reverse)
    }
    val top = rounded(SearchEngine.topKWand(spark, root, q, 1)).head()
    val topSource = Catalog.readTable(spark, sfDir, "documents")
      .filter($"doc_id" === top.getLong(0)).select($"source").as[String].head()
    val bucketTop = rows.filter(r => r.getString(0) == topSource && r.getLong(1) == 1L).head
    assert(bucketTop.getLong(2) == top.getLong(0))
  }
}
