package graft.search

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{IndexCache, TestSpark}
import graft.search.SearchEngine.rounded

class HighlightSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private def snip(text: String, terms: Set[String], w: Int) =
    Highlight.snippet(text, terms, w)

  test("snippet picks the window with the most matches, earliest on ties") {
    // matches cluster at the end: window must slide there
    assert(snip("a b c d join hash join", Set("join", "hash"), 3) ==
      "<em>join</em> <em>hash</em> <em>join</em>")
    // tie between 1-match windows: earliest start wins (leading context kept)
    assert(snip("x join y y y join z", Set("join"), 2) == "x <em>join</em>")
    // window longer than doc clamps to whole doc
    assert(snip("join b", Set("join"), 10) == "<em>join</em> b")
    // no matches: earliest window
    assert(snip("a b c d", Set("zebra"), 2) == "a b")
    // analyzer normalization applies inside the snippet
    assert(snip("The JOIN, path!", Set("join"), 2) == "the <em>join</em>")
    assert(snip("", Set("join"), 3) == "")
  }

  test("highlighted top-k carries exactly the WAND ranking") {
    val dir = "/root/testdata/sf0.001"
    val idx = IndexCache.documentsIndex(spark, dir)
    val q = Seq("join", "window", "vector")
    val hl = Highlight.topKHighlighted(spark, idx.paths.root, dir, q, 10)
      .collect()
    // highlight orders by ROUNDED score (the oracle-comparable shape), so
    // compare in that order — rounding can reorder unrounded near-ties
    val ranked = rounded(SearchEngine.topKWand(spark, idx.paths.root, q, 10))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (d, s) => (-s, d) }
    assert(hl.map(r => (r.getLong(0), r.getDouble(1))).toSeq == ranked.toSeq)
    // every snippet highlights at least one query term and is 8 tokens wide
    hl.foreach { r =>
      val s = r.getString(2)
      assert(s.contains("<em>"), s"unhighlighted snippet: $s")
      assert(s.replaceAll("</?em>", "").split(" ").length <= 8)
    }
  }
}
