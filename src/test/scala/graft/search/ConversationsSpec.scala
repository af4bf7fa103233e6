package graft.search

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{Fixtures, TestIndex, TestSpark}
import graft.io.Catalog
import graft.io.Catalog.IndexPaths

/** Conversation-level retrieval (has_child analog) against brute-force
  * recomputation over the skewed synthetic transcript corpus.
  */
class ConversationsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private lazy val (root, convOf) = {
    import spark.implicits._
    val r = s"/tmp/graft-conv-${java.util.UUID.randomUUID().toString.take(8)}"
    TestIndex.build(Fixtures.sfTest.toDS(), r, buckets = 8, targetRun = 512)
    val m = Catalog.readDocidMap(spark, IndexPaths(r))
      .collect().map(e => e.doc_id -> e.conv_id).toMap
    (r, m)
  }

  private def brute(q: Seq[String]): Map[String, Seq[Double]] = {
    val all = SearchEngine.scoreAllDocs(spark, root, q)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    all.groupBy { case (d, _) => convOf(d) }.view
      .mapValues(_.map(_._2).toSeq).toMap
  }

  test("score_mode max equals brute recomputation across the reference queries") {
    for (q <- Fixtures.refQueries.take(8)) {
      val got = Conversations.topByMax(spark, root, q, 5)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      val want = brute(q).view.mapValues(_.max).toSeq
        .sortBy { case (c, s) => (-s, c) }.take(5)
        .map { case (c, s) => (c, math.rint(s * 1e4) / 1e4) }
      assert(got == want, s"q=$q")
    }
  }

  test("score_mode sum equals brute recomputation") {
    val q = Fixtures.refQueries.head
    val got = Conversations.topBySum(spark, root, q, 5)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val want = brute(q).view.mapValues(_.sum).toSeq
      .sortBy { case (c, s) => (-s, c) }.take(5)
      .map { case (c, s) => (c, math.rint(s * 1e4) / 1e4) }
    assert(got.map(_._1) == want.map(_._1))
    got.zip(want).foreach { case ((_, g), (_, w)) =>
      assert(math.abs(g - w) < 2e-4, "sum-mode scores (4dp, summation-order slack)")
    }
  }
}
