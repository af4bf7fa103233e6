package graft.search

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{IndexCache, TestSpark}
import graft.index.{Intervals, PositionalIndex}
import graft.index.Intervals.IMatch
import graft.io.Catalog

class SlopRescoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val sfDir = "/root/testdata/sf0.001"

  test("slop=0 equals exact phrase match; match set grows monotonically with slop") {
    import spark.implicits._
    val idx = IndexCache.positionalIndex(spark, sfDir)
    val phrase = Seq("join", "hash")
    def docs(slop: Int): Set[Long] =
      Intervals.filterDocs(spark, idx.paths.root,
        IMatch(phrase.mkString(" "), maxGaps = slop, ordered = true), idx.meta.buckets)
        .as[Long].collect().toSet
    val exact = PositionalIndex.phraseMatch(spark, idx.paths.root, phrase, idx.meta.buckets)
      .as[Long].collect().toSet
    assert(docs(0) == exact, "slop=0 must be exact adjacency")
    val (d0, d1, d3) = (docs(0), docs(1), docs(3))
    assert(d0.subsetOf(d1) && d1.subsetOf(d3), "slop relaxation must be monotone")
    assert(d3.size > d0.size, "corpus should contain non-adjacent ordered pairs")
  }

  test("sloppy match equals a brute-force chain check over the corpus") {
    import spark.implicits._
    val idx = IndexCache.positionalIndex(spark, sfDir)
    val phrase = Seq("join", "hash")
    val slop = 2
    val got = Intervals.filterDocs(spark, idx.paths.root,
      IMatch(phrase.mkString(" "), maxGaps = slop, ordered = true), idx.meta.buckets)
      .as[Long].collect().toSet
    val want = Catalog.readDocuments(spark, sfDir).collect()
      .filter { d =>
        val toks = graft.core.Analyzer.tokenize(d.text)
        val ps0 = toks.zipWithIndex.collect { case (t, i) if t == "join" => i }
        val ps1 = toks.zipWithIndex.collect { case (t, i) if t == "hash" => i }
        ps0.exists(a => ps1.exists(b => b > a && b - a <= 1 + slop))
      }
      .map(_.doc_id).toSet
    assert(got == want)
  }

  test("rescore re-ranks the window by the combined score, computed exactly") {
    import spark.implicits._
    val idx = IndexCache.documentsIndex(spark, sfDir)
    val q = Seq("join", "window", "vector")
    val (k, window, qw, rw) = (10, 50, 1.0, 2.0)
    val got = SearchEngine.rescoreTopK(spark, idx.paths.root, sfDir, q, k, window, qw, rw)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val cands = SearchEngine.topKWand(spark, idx.paths.root, q, window)
      .as[graft.model.Hit].collect()
    val chars = Catalog.readTable(spark, sfDir, "documents")
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    val want = cands
      .map(h => (h.doc_id, qw * h.score + rw * (1000.0 / (1000.0 + chars(h.doc_id)))))
      .sortBy { case (d, s) => (-s, d) }.take(k)
      .map { case (d, s) => (d, math.rint(s * 1e4) / 1e4) }.toSeq
    assert(got == want)
  }
}
