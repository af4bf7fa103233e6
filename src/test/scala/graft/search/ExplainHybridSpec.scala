package graft.search

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{IndexCache, TestSpark}
import graft.index.Indexer
import graft.io.Catalog.IndexPaths
import graft.operators.Embeddings
import graft.search.SearchEngine.rounded

class ExplainHybridSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val sfDir = "/root/testdata/sf0.001"
  private lazy val root = IndexCache.documentsIndex(spark, sfDir).paths.root

  test("explain rows cover exactly the top-k docs and sum to their scores") {
    // the english index: explain must analyze the query as the index does
    val english = IndexCache.englishIndex(spark, sfDir).paths.root
    for ((idx, q) <- Seq((root, Seq("join", "window", "vector")),
        (english, Seq("joins", "windows")))) {
      val hits = rounded(SearchEngine.topKWand(spark, idx, q, 10))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val meta = Indexer.readMeta(spark, idx)
      val terms = SearchEngine.queryModel(spark, IndexPaths(idx), q, 10,
        meta.analyzer, meta.synonyms).terms.toSet
      val rows = SearchEngine.explainTopK(spark, idx, q, 10).collect()
      assert(hits.nonEmpty, s"q=$q")
      assert(rows.map(_.getLong(0)).toSet == hits.keySet, s"q=$q")
      rows.groupBy(_.getLong(0)).foreach { case (d, rs) =>
        val sum = rs.map(_.getDouble(2)).sum
        assert(math.abs(sum - hits(d)) < 1e-4,
          s"doc $d: contributions sum $sum != score ${hits(d)}")
        assert(rs.map(_.getString(1)).distinct.length == rs.length, "dup terms")
        assert(rs.forall(r => terms.contains(r.getString(1))), "non-query term")
      }
    }
  }

  test("RRF fusion equals an independent recomputation from the two rankings") {
    import spark.implicits._
    val q = Seq("join", "window", "vector")
    val (window, k0, k) = (50, 60, 10)
    val got = Hybrid.rrfTopK(spark, root, sfDir, q, 0L, k, window, k0)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    val lex = SearchEngine.topKWand(spark, root, q, window)
      .select($"doc_id").as[Long].collect().zipWithIndex
      .map { case (d, i) => d -> (i + 1) }.toMap
    val sem = Embeddings.cosineTopK(spark, sfDir, 0L, window)
      .select($"vec_id".cast("long")).as[Long].collect().zipWithIndex
      .map { case (d, i) => d -> (i + 1) }.toMap
    val want = (lex.keySet ++ sem.keySet).toSeq
      .map { id =>
        (id, lex.get(id).map(r => 1.0 / (k0 + r)).getOrElse(0.0) +
          sem.get(id).map(r => 1.0 / (k0 + r)).getOrElse(0.0))
      }
      .sortBy { case (id, s) => (-s, id) }.take(k)
      .map { case (id, s) => (id, math.rint(s * 1e6) / 1e6) }
    assert(got.map(_._1) == want.map(_._1), "fused ranking differs")
    got.zip(want).foreach { case ((_, g), (_, w)) => assert(math.abs(g - w) < 1e-9) }
    // a doc present in both windows must outrank one with only its own list
    assert(got.nonEmpty && got.head._2 > 1.0 / (k0 + window),
      "top fused doc should combine evidence")
  }
}
