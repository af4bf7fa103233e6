package graft.search

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{Fixtures, IndexCache, TestIndex, TestSpark}
import graft.io.Catalog
import graft.search.SearchEngine.rounded

/** WAND must EQUAL the exhaustive scorer — never approximate it
  * (SURVEY.md §7.3-7). Shadow-tested on the real documents corpus and on the
  * skewed synthetic transcript corpus, across head/tail/mixed/absent/marker
  * queries and multiple k.
  */
class WandSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private def hits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("minimum_should_match: m=1 equals plain ranking; m=n equals AND-filtered") {
    val idx = IndexCache.documentsIndex(spark, "/root/testdata/sf0.001")
    val terms = Seq("join", "window", "vector")
    val m1 = hits(rounded(SearchEngine.topKWand(spark, idx.paths.root, terms, 10, minMatch = 1)))
    val plain = hits(rounded(SearchEngine.topKWand(spark, idx.paths.root, terms, 10)))
    assert(m1 == plain)
    val mAll = rounded(SearchEngine.topKWand(spark, idx.paths.root, terms, 500,
        minMatch = terms.size))
      .collect().map(_.getLong(0)).toSet
    val andSet = Booleans.and(spark, idx.paths.root, terms)
      .collect().map(_.getLong(0)).toSet
    assert(mAll == andSet, "m = #terms must rank exactly the conjunction's doc set")
  }

  test("WAND-mm bit-identical to exhaustive-mm across query shapes × mm × k") {
    val idx = IndexCache.documentsIndex(spark, "/root/testdata/sf0.001")
    val queries = Seq(
      Seq("join", "hash"), Seq("join", "window", "vector"),
      Seq("the", "a", "join"), Seq("join", "zebra"), Seq("zebra", "quagga"),
      Seq("scan", "filter", "sort", "merge", "group"))
    for (q <- queries; mm <- 1 to (q.size + 1); k <- Seq(1, 10, 100)) {
      // unrounded on both sides: bit-identity, not 4-decimal identity
      val w = hits(SearchEngine.topKWand(spark, idx.paths.root, q, k, minMatch = mm))
      val e = hits(SearchEngine.topKExhaustive(spark, idx.paths.root, q, k, _ => mm))
      assert(w == e, s"WAND-mm != exhaustive-mm for q=$q mm=$mm k=$k")
    }
  }

  test("WAND-mm on skewed transcripts equals exhaustive-mm (head-term conjunctions)") {
    import spark.implicits._
    val turns = Fixtures.sfTest.toDS()
    val root = s"/tmp/graft-test-wandmm-${System.nanoTime()}"
    val res = TestIndex.build(turns, root, buckets = 8, targetRun = 512)
    assert(res.nTurns == 5000)
    for (q <- Fixtures.refQueries.filter(_.size >= 2); mm <- 2 to 3) {
      val w = hits(SearchEngine.topKWand(spark, root, q, 10, minMatch = mm))
      val e = hits(SearchEngine.topKExhaustive(spark, root, q, 10, _ => mm))
      assert(w == e, s"WAND-mm != exhaustive-mm for q=$q mm=$mm")
    }
  }

  test("search_after pages reproduce the contiguous deep ranking") {
    val idx = IndexCache.documentsIndex(spark, "/root/testdata/sf0.001")
    for (q <- Seq(Seq("join", "window", "vector"), Seq("the", "a"), Seq("join"))) {
      val full = hits(SearchEngine.topKWand(spark, idx.paths.root, q, 30))
      // walk 3 pages of 10 by cursor; must re-assemble the full ranking
      var cursor: Option[(Double, Long)] = None
      val paged = (0 until 3).flatMap { _ =>
        val page = cursor match {
          case None => hits(SearchEngine.topKWand(spark, idx.paths.root, q, 10))
          case Some((s, d)) =>
            hits(SearchEngine.topKWand(spark, idx.paths.root, q, 10, after = Some((s, d))))
        }
        page.lastOption.foreach { case (d, s) => cursor = Some((s, d)) }
        page
      }
      assert(paged == full, s"search_after pages != contiguous ranking for q=$q")
    }
  }

  test("per-term boosts: rank-safe through WAND, identical to exhaustive; ^1 is a no-op") {
    val idx = IndexCache.documentsIndex(spark, "/root/testdata/sf0.001")
    val boosted = Seq(Seq("join^3.0", "window", "vector^0.5"),
      Seq("the^0.1", "a", "join^10"), Seq("join^2", "hash^2"))
    for (q <- boosted; k <- Seq(1, 10, 50)) {
      val w = hits(SearchEngine.topKWand(spark, idx.paths.root, q, k))
      val e = hits(SearchEngine.topKExhaustive(spark, idx.paths.root, q, k))
      assert(w == e, s"boosted WAND != exhaustive for q=$q k=$k")
    }
    val plain = hits(SearchEngine.topKWand(spark, idx.paths.root, Seq("join", "window"), 10))
    val unit = hits(SearchEngine.topKWand(spark, idx.paths.root, Seq("join^1.0", "window^1"), 10))
    assert(unit == plain, "^1 boosts must not change anything")
    // absolute semantics (catches a silently-dropped boost, which the
    // shadow comparison alone cannot — both sides share QueryModel):
    // ^2 on a single-term query must EXACTLY double every score (×2 is
    // exact in binary floating point)
    val p1 = hits(SearchEngine.topKWand(spark, idx.paths.root, Seq("join"), 10))
    val p2 = hits(SearchEngine.topKWand(spark, idx.paths.root, Seq("join^2"), 10))
    assert(p2 == p1.map { case (d, s) => (d, s * 2) }, "^2 must double single-term scores")
  }

  test("WAND bit-identical to exhaustive on documents corpus") {
    val idx = IndexCache.documentsIndex(spark, "/root/testdata/sf0.001")
    val vocab = ("a agg batch big column customer data dup fast filter group hash join key " +
      "line merge order part query row scan slow small sort spark stream table the value " +
      "vector window").split(' ')
    val rng = new java.util.Random(7)
    val queries =
      (1 to 12).map { _ =>
        Seq.fill(1 + rng.nextInt(4))(vocab(rng.nextInt(vocab.length)))
      } ++ Seq(Seq("zebra"), Seq("join", "zebra"), vocab.toSeq) // all 31 terms
    for (q <- queries; k <- Seq(1, 5, 10, 50)) {
      val w = hits(SearchEngine.topKWand(spark, idx.paths.root, q, k))
      val e = hits(SearchEngine.topKExhaustive(spark, idx.paths.root, q, k))
      assert(w == e, s"WAND != exhaustive for q=$q k=$k")
    }
  }

  test("WAND on skewed transcripts: identical to exhaustive and brute force") {
    import spark.implicits._
    val turns = Fixtures.sfTest.toDS()
    val root = s"/tmp/graft-test-wand-${System.nanoTime()}"
    // targetRun=512 => head terms (df≈thousands) salt into many runs
    val res = TestIndex.build(turns, root, buckets = 8, targetRun = 512)
    assert(res.nTurns == 5000)

    val numberedDocs = Catalog.readDocidMap(spark, Catalog.IndexPaths(root)).toDF()
      .join(turns.toDF(), Seq("conv_id", "turn_idx"))
      .select($"doc_id", $"text")

    for (q <- Fixtures.refQueries; k <- Seq(10)) {
      val w = hits(SearchEngine.topKWand(spark, root, q, k))
      val e = hits(SearchEngine.topKExhaustive(spark, root, q, k))
      assert(w == e, s"WAND != exhaustive for q=$q")
      val b = hits(BruteForce.topK(numberedDocs, q, k))
      assert(w.map(_._1) == b.map(_._1), s"WAND rank != brute force for q=$q")
      w.zip(b).foreach { case ((_, sw), (_, sb)) =>
        assert(math.abs(sw - sb) <= 1e-9 * math.max(1.0, math.abs(sb)),
          s"score mismatch for $q: $sw vs $sb")
      }
    }
  }

  test("WAND unaffected by shard count") {
    val idx = IndexCache.documentsIndex(spark, "/root/testdata/sf0.001")
    val q = Seq("join", "window", "vector")
    val ref = hits(SearchEngine.topKWand(spark, idx.paths.root, q, 10, Some(1)))
    for (shards <- Seq(2, 3, 7, 64)) {
      val got = hits(SearchEngine.topKWand(spark, idx.paths.root, q, 10, Some(shards)))
      assert(got == ref, s"shards=$shards changed results")
    }
  }
}
