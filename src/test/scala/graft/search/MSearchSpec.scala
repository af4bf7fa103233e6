package graft.search

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{IndexCache, TestSpark}
import graft.search.SearchEngine.rounded

/** Round-5 scored-query additions: msearch (batched one-pass), terms_set
  * (per-doc minimum_should_match), rank_feature (saturation).
  */
class MSearchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val sfDir = "/root/testdata/sf0.001"

  test("msearch equals the per-query single-search path, query by query") {
    val queries = Seq(
      "a" -> Seq("join", "window", "vector"),
      "b" -> Seq("hash", "stream"),
      "c" -> Seq("the", "a", "join"),
      "d" -> Seq("zebra"), // no postings: contributes no rows
      "e" -> Seq("scan", "filter", "sort", "merge", "group"))
    // the edge_ngram index analyzes queries with its search form, as topKWand
    for (idx <- Seq(IndexCache.documentsIndex(spark, sfDir),
        IndexCache.edgeNgramIndex(spark, sfDir)); k <- Seq(3, 10, 50)) {
      val batch = MSearch.msearch(spark, idx.paths.root, queries, k)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1)
        .map { case (q, rows) => q -> rows.map(t => (t._2, t._3)).toSeq }
      for ((qid, raw) <- queries) {
        // msearch presents ties in ROUNDED-score order (matching its oracle);
        // re-sort the single-query ranking the same way before comparing
        val single = rounded(SearchEngine.topKWand(spark, idx.paths.root, raw, k))
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          .sortBy { case (doc, s) => (-s, doc) }
        assert(batch.getOrElse(qid, Nil) == single,
          s"qid=$qid k=$k analyzer=${idx.meta.analyzer}")
      }
      // no rows from queries outside the batch
      assert(batch.keySet.subsetOf(queries.map(_._1).toSet))
    }
  }

  test("terms_set: per-doc threshold equals stratified minimum_should_match") {
    import spark.implicits._
    val idx = IndexCache.documentsIndex(spark, sfDir)
    val terms = Seq("hash", "stream", "sort")
    val all = 100000
    val got = SearchEngine.termsSetTopK(spark, idx.paths.root, terms, all)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    // reconstruct: docs with doc_id % 3 == m-1 qualify iff they'd survive a
    // GLOBAL minimum_should_match of m
    val want = (1 to 3).flatMap { m =>
      SearchEngine.topKExhaustive(spark, idx.paths.root, terms, all, _ => m)
        .filter($"doc_id" % 3 === (m - 1))
        .select($"doc_id", round($"score", 4))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
    }.toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("rank_feature: saturation bounded by boost and consistent with scoreAllDocs") {
    import spark.implicits._
    val idx = IndexCache.documentsIndex(spark, sfDir)
    val q = Seq("join", "window", "vector")
    val boost = 1.2
    val pivot = 287.0
    val k = 20
    val got = FunctionScore.rankFeature(spark, idx.paths.root, sfDir, q, k,
        "n_chars", pivot, boost)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val meta = graft.io.Catalog.readTable(spark, sfDir, "documents")
      .select($"doc_id", $"n_chars".cast("double").as("x"))
    val want = SearchEngine.scoreAllDocs(spark, idx.paths.root, q)
      .join(meta, "doc_id")
      .select($"doc_id",
        ($"score" + lit(boost) * ($"x" / ($"x" + lit(pivot)))).as("f"))
      .orderBy($"f".desc, $"doc_id".asc).limit(k)
      .select($"doc_id", round($"f", 4))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
    // contribution is bounded by boost: fscore < bm25 + boost for every hit
    val bm25 = SearchEngine.scoreAllDocs(spark, idx.paths.root, q)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach { case (doc, f) =>
      assert(f > bm25(doc) && f < bm25(doc) + boost + 1e-9)
    }
  }
}
