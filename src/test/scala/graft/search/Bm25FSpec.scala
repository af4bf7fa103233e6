package graft.search

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{IndexCache, TestSpark}
import graft.search.SearchEngine.rounded

class Bm25FSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val sfDir = "/root/testdata/sf0.001"

  private def hits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("BM25F with zero title weight reduces exactly to single-field BM25") {
    // algebra: one field, w=1 gives s = tf/B and idf·s/(k1+s) =
    // idf·tf/(tf + k1·B) — the standard BM25 term contribution
    val tx = IndexCache.documentsIndex(spark, sfDir)
    val ti = IndexCache.titleIndex(spark, sfDir)
    for (q <- Seq(Seq("join", "window", "vector"), Seq("join"), Seq("join", "zebra"))) {
      val f = hits(Bm25F.topK(spark, tx.paths.root, ti.paths.root, q, 10,
        wText = 1.0, wTitle = 0.0))
      val plain = hits(rounded(SearchEngine.topKWand(spark, tx.paths.root, q, 10)))
      assert(f == plain, s"q=$q")
    }
  }

  test("title weight changes the ranking (fields genuinely fuse)") {
    val tx = IndexCache.documentsIndex(spark, sfDir)
    val ti = IndexCache.titleIndex(spark, sfDir)
    val q = Seq("join", "window", "vector")
    val flat = hits(Bm25F.topK(spark, tx.paths.root, ti.paths.root, q, 10, 1.0, 0.0))
    val weighted = hits(Bm25F.topK(spark, tx.paths.root, ti.paths.root, q, 10, 1.0, 5.0))
    assert(flat.map(_._1) != weighted.map(_._1))
    // and BM25F differs from dis_max on the same fields/weights: summing
    // before saturation is not taking the max after
    val disMax = hits(SearchEngine.multiMatchTopK(spark, tx.paths.root,
      ti.paths.root, q, 10, titleBoost = 5.0))
    assert(weighted != disMax)
  }
}
