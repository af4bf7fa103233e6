package graft.index

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{IndexCache, TestSpark}
import graft.index.Intervals._

/** ES `intervals` algebra + the span_or / span_within / span_containing
  * completion: local minimal-interval semantics pinned on constructed
  * position maps, and the distributed filterDocs path shadowed by corpus
  * brute force.
  */
class IntervalsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val sfDir = "/root/testdata/sf0.001"

  private def m(kv: (String, Seq[Int])*): Map[String, Array[Int]] =
    kv.map { case (k, v) => k -> v.toArray }.toMap

  test("minimize keeps only the containment antichain") {
    assert(minimize(Seq((0, 10), (5, 10), (6, 12), (5, 10))).toSeq ==
      Seq((5, 10), (6, 12)))
    assert(minimize(Seq((1, 1), (1, 3))).toSeq == Seq((1, 1)))
    assert(minimize(Nil).isEmpty)
  }

  test("match: ordered chains, unordered windows, max_gaps, repeated terms") {
    val pos = m("a" -> Seq(0, 5), "b" -> Seq(3, 10), "c" -> Seq(4))
    // ordered a..b: chains (0,3) and (5,10); both minimal
    assert(eval(IMatch("a b", ordered = true), pos).toSeq == Seq((0, 3), (5, 10)))
    // gaps: width−n ≤ 1 keeps only (0,3) → gaps 2 > 1? width 4 − 2 = 2 → drop both at 1
    assert(eval(IMatch("a b", maxGaps = 2, ordered = true), pos).toSeq == Seq((0, 3)))
    assert(eval(IMatch("a b", maxGaps = 1, ordered = true), pos).isEmpty)
    // unordered: every minimal covering window — (0,3), (3,5) and (5,10)
    assert(eval(IMatch("a b", ordered = false), pos).toSeq ==
      Seq((0, 3), (3, 5), (5, 10)))
    // three terms unordered: every minimal covering window of {a, b, c}
    assert(eval(IMatch("a b c", ordered = false), pos).toSeq ==
      Seq((0, 4), (3, 5), (4, 10)))
    // the gap budget then cuts to the tightest one (width 3 − 3 terms = 0)
    assert(eval(IMatch("a b c", maxGaps = 0, ordered = false), pos).toSeq ==
      Seq((3, 5)))
    // ordered with a term absent
    assert(eval(IMatch("a z", ordered = true), pos).isEmpty)
    // repeated term needs two distinct ascending positions
    assert(eval(IMatch("a a", ordered = true), pos).toSeq == Seq((0, 5)))
    assert(eval(IMatch("c c", ordered = true), pos).isEmpty)
  }

  test("any_of unions and re-minimizes; all_of chains with gap budget") {
    val pos = m("a" -> Seq(0, 8), "b" -> Seq(2), "c" -> Seq(5, 20))
    assert(eval(IAnyOf(Seq(IMatch("b"), IMatch("c"))), pos).toSeq ==
      Seq((2, 2), (5, 5), (20, 20)))
    // ordered all_of [a, c]: heads 0→c@5 (gaps 4), 8→c@20 (gaps 11)
    assert(eval(IAllOf(Seq(IMatch("a"), IMatch("c")), maxGaps = 4), pos).toSeq ==
      Seq((0, 5)))
    assert(eval(IAllOf(Seq(IMatch("a"), IMatch("c")), maxGaps = 3), pos).isEmpty)
    // unordered all_of finds the reversed arrangement c@5 < a@8
    assert(eval(IAllOf(Seq(IMatch("a"), IMatch("c")), maxGaps = 2,
      ordered = false), pos).toSeq == Seq((5, 8)))
    // nested: (b | c) then a, ordered — b@2 → a@8 (gaps 5), c@5 → a@8 (gaps 2)
    assert(eval(IAllOf(Seq(IAnyOf(Seq(IMatch("b"), IMatch("c"))), IMatch("a")),
      maxGaps = 2), pos).toSeq == Seq((5, 8)))
  }

  test("filterDocs shapes equal corpus brute force") {
    val idx = IndexCache.positionalIndex(spark, sfDir)
    val docs = graft.io.Catalog.readDocuments(spark, sfDir).collect()
    def toks(s: String) = graft.core.Analyzer.tokenize(s)

    // intervals match (ordered, max_gaps): any in-order pair within width
    def bruteMatch(t1: String, t2: String, gaps: Int): Seq[Long] =
      docs.filter { d =>
        val t = toks(d.text)
        val p1 = t.indices.filter(i => t(i) == t1)
        val p2 = t.indices.filter(i => t(i) == t2)
        p1.exists(x => p2.exists(y => y > x && (y - x + 1) - 2 <= gaps))
      }.map(_.doc_id).sorted.toSeq
    val gotMatch = Intervals.filterDocs(spark, idx.paths.root,
      IMatch("join scan", maxGaps = 3, ordered = true), idx.meta.buckets)
      .collect().map(_.getLong(0)).toSeq
    assert(gotMatch == bruteMatch("join", "scan", 3) && gotMatch.nonEmpty)

    // all_of: phrase then term with gap budget
    def bruteAllOf(gaps: Int): Seq[Long] =
      docs.filter { d =>
        val t = toks(d.text)
        t.indices.exists(i => i + 1 < t.length && t(i) == "join" &&
          t(i + 1) == "hash" &&
          t.indices.exists(j => j > i + 1 && t(j) == "scan" &&
            j - (i + 1) - 1 <= gaps))
      }.map(_.doc_id).sorted.toSeq
    val gotAll = Intervals.filterDocs(spark, idx.paths.root,
      IAllOf(Seq(IMatch("join hash", maxGaps = 0, ordered = true),
        IMatch("scan")), maxGaps = 10), idx.meta.buckets)
      .collect().map(_.getLong(0)).toSeq
    assert(gotAll == bruteAllOf(10) && gotAll.nonEmpty)

    // any_of then adjacency
    def bruteAny(): Seq[Long] =
      docs.filter { d =>
        val t = toks(d.text)
        t.indices.exists(i => i + 1 < t.length &&
          (t(i) == "join" || t(i) == "merge") && t(i + 1) == "hash")
      }.map(_.doc_id).sorted.toSeq
    val gotAny = Intervals.filterDocs(spark, idx.paths.root,
      IAllOf(Seq(IAnyOf(Seq(IMatch("join"), IMatch("merge"))), IMatch("hash")),
        maxGaps = 0), idx.meta.buckets)
      .collect().map(_.getLong(0)).toSeq
    assert(gotAny == bruteAny() && gotAny.nonEmpty)
  }

  test("span_or / span_within / span_containing equal corpus brute force") {
    val idx = IndexCache.positionalIndex(spark, sfDir)
    val docs = graft.io.Catalog.readDocuments(spark, sfDir).collect()
    def toks(s: String) = graft.core.Analyzer.tokenize(s)

    def bruteOr(): Seq[Long] =
      docs.filter { d =>
        val t = toks(d.text)
        t.indices.exists(i => i + 1 < t.length &&
          ((t(i) == "join" && t(i + 1) == "hash") ||
            (t(i) == "merge" && t(i + 1) == "sort")))
      }.map(_.doc_id).sorted.toSeq
    val gotOr = Intervals.filterDocs(spark, idx.paths.root,
      IAnyOf(Seq(IMatch("join hash", maxGaps = 0, ordered = true),
        IMatch("merge sort", maxGaps = 0, ordered = true))), idx.meta.buckets)
      .collect().map(_.getLong(0)).toSeq
    assert(gotOr == bruteOr() && gotOr.nonEmpty)

    def bruteWithin(little: String, a: String, b: String, slop: Int): Seq[Long] =
      docs.filter { d =>
        val t = toks(d.text)
        val ss = t.indices.filter(i => t(i) == little)
        val as = t.indices.filter(i => t(i) == a)
        val bs = t.indices.filter(i => t(i) == b)
        ss.exists(s => as.exists(x => bs.exists { y =>
          val lo = math.min(x, y); val hi = math.max(x, y)
          hi - lo <= 1 + slop && lo <= s && s <= hi
        }))
      }.map(_.doc_id).sorted.toSeq
    val gotW = PositionalIndex.spanWithin(spark, idx.paths.root,
      Seq("hash"), "join", "scan", 6, idx.meta.buckets)
      .collect().map(_.getLong(0)).toSeq
    assert(gotW == bruteWithin("hash", "join", "scan", 6) && gotW.nonEmpty)

    val gotC = PositionalIndex.spanContaining(spark, idx.paths.root,
      "join", "window", 8, Seq("hash"), idx.meta.buckets)
      .collect().map(_.getLong(0)).toSeq
    assert(gotC == bruteWithin("hash", "join", "window", 8) && gotC.nonEmpty)

    // each big clause is one term: none (crash) or two (truncation) reject
    for (bad <- Seq("!!", "join window")) {
      intercept[IllegalArgumentException](PositionalIndex.spanWithin(spark,
        idx.paths.root, Seq("hash"), bad, "scan", 6, idx.meta.buckets))
      intercept[IllegalArgumentException](PositionalIndex.spanContaining(spark,
        idx.paths.root, "join", bad, 8, Seq("hash"), idx.meta.buckets))
    }
  }
}
