package graft.sql

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{IndexCache, TestSpark}
import graft.search.SearchEngine
import graft.search.SearchEngine.rounded

/** The match() SQL surface: a SQL query over the registered view must plan
  * to the index-backed physical node and return exactly the engine's top-k.
  */
class MatchSqlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val sfDir = "/root/testdata/sf0.001"

  private def hits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("SQL over the match view plans to FullTextMatchExec and matches WAND") {
    val idx = IndexCache.documentsIndex(spark, sfDir)
    Match.createView(spark, "m_test", idx.paths.root, "join window vector", 10)
    val sql = spark.sql("SELECT doc_id, score_r4 FROM m_test WHERE doc_id >= 0")
    // SparkPlan display strips the "Exec" suffix from node names
    assert(sql.queryExecution.executedPlan.toString.contains("FullTextMatch"),
      s"expected the custom scan in:\n${sql.queryExecution.executedPlan.toString.take(1500)}")
    val direct = rounded(SearchEngine.topKWand(spark, idx.paths.root,
      Seq("join", "window", "vector"), 10))
    assert(hits(sql.orderBy(sql("score_r4").desc, sql("doc_id"))) ==
      hits(direct.orderBy(direct("score_r4").desc, direct("doc_id"))))
  }

  test("SQL over the phrase view plans to FullTextPhraseExec and matches phraseTopK") {
    val idx = IndexCache.positionalIndex(spark, sfDir)
    Match.createPhraseView(spark, "mp_test", idx.paths.root, "join hash", 10,
      idx.meta.buckets)
    val sql = spark.sql("SELECT doc_id, score_r4 FROM mp_test")
    assert(sql.queryExecution.executedPlan.toString.contains("FullTextPhrase"),
      s"expected the phrase scan in:\n${sql.queryExecution.executedPlan.toString.take(1500)}")
    val direct = graft.index.PositionalIndex.phraseTopK(spark, idx.paths.root,
      Seq("join", "hash"), 10, idx.meta.buckets)
    assert(hits(sql.orderBy(sql("score_r4").desc, sql("doc_id"))) ==
      hits(direct.orderBy(direct("score_r4").desc, direct("doc_id"))))
  }

  test("match view joins like an ordinary table (broadcast-eligible leaf)") {
    val idx = IndexCache.documentsIndex(spark, sfDir)
    Match.createView(spark, "m_join", idx.paths.root, "join hash", 5)
    spark.read.parquet(s"$sfDir/documents.parquet").createOrReplaceTempView("docs_test")
    val joined = spark.sql(
      "SELECT m_join.doc_id, docs_test.source FROM m_join JOIN docs_test USING (doc_id)")
    assert(joined.count() == 5)
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("FullTextMatch"))
  }
}
