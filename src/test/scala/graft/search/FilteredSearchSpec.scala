package graft.search

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{IndexCache, TestSpark}
import graft.io.Catalog
import graft.search.SearchEngine.rounded

/** ES bool filter context (must: match + filter: term): the WAND path with
  * required non-scoring cursors must equal the exhaustive shadow — score the
  * whole corpus with FULL-corpus stats, join the metadata filter, then
  * top-k. Scores must be identical to the unfiltered scorer's for the same
  * docs (filters never change scoring).
  */
class FilteredSearchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val root: String = {
    val idx = IndexCache.documentsIndex(spark, sfDir)
    IndexCache.keywordField(spark, sfDir, "source")
    IndexCache.keywordField(spark, sfDir, "lang")
    idx.paths.root
  }

  private def hits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Exhaustive shadow: full scoring, then metadata post-filter, then k. */
  private def shadow(q: Seq[String], preds: Seq[(String, String)], k: Int,
      mm: Int = 1): Seq[(Long, Double)] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val scored = SearchEngine.topKExhaustive(spark, root, q, Int.MaxValue, _ => mm)
    val docs = preds.foldLeft(Catalog.readTable(spark, sfDir, "documents")) {
      case (d, (f, v)) => d.filter(col(f) === v)
    }.select($"doc_id")
    hits(scored.join(docs, "doc_id")
      .orderBy($"score".desc, $"doc_id".asc).limit(k)
      .select($"doc_id", round($"score", 4).as("score_r4")))
  }

  test("filtered WAND equals exhaustive shadow across filters × queries × k") {
    for {
      q <- Seq(Seq("join", "window", "vector"), Seq("join"), Seq("the", "a", "hash"))
      (field, value) <- Seq(("source", "src3"), ("source", "src0"), ("lang", "en"))
      k <- Seq(3, 10, 100)
    } {
      val w = hits(rounded(SearchEngine.topKWand(spark, root, q, k,
        filters = Seq(s"$field:$value"))))
      val e = shadow(q, Seq((field, value)), k)
      assert(w == e, s"filtered WAND != shadow for q=$q $field=$value k=$k")
      assert(w.nonEmpty, s"fixture should match something for $field=$value")
    }
  }

  test("multiple filters AND together; unknown values yield empty") {
    val q = Seq("join", "window", "vector")
    val w = hits(rounded(SearchEngine.topKWand(spark, root, q, 10,
      filters = Seq("source:src3", "lang:en"))))
    assert(w == shadow(q, Seq(("source", "src3"), ("lang", "en")), 10))
    assert(hits(rounded(SearchEngine.topKWand(spark, root, q, 10,
      filters = Seq("source:nope")))).isEmpty)
  }

  test("filters compose with minimum_should_match") {
    import spark.implicits._
    val q = Seq("join", "hash")
    val w = rounded(SearchEngine.topKWand(spark, root, q, 10,
      filters = Seq("source:src3"), minMatch = 2))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val e = shadow(q, Seq(("source", "src3")), 10, mm = 2)
    assert(w == e, s"filtered mm-WAND != shadow")
  }

  test("range filter equals exhaustive shadow; composes with keyword filters and deletes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val q = Seq("join", "window", "vector")
    val docs = Catalog.readTable(spark, sfDir, "documents")

    def rangeShadow(lo: Long, hi: Long, k: Int): Seq[(Long, Double)] = {
      val allowed = docs.filter($"n_chars".between(lo, hi)).select($"doc_id")
      hits(SearchEngine.topKExhaustive(spark, root, q, Int.MaxValue)
        .join(allowed, "doc_id")
        .orderBy($"score".desc, $"doc_id".asc).limit(k)
        .select($"doc_id", round($"score", 4).as("score_r4")))
    }

    for ((lo, hi, k) <- Seq((250L, 330L, 10), (0L, 10000L, 10), (200L, 260L, 3))) {
      val allowed = docs.filter($"n_chars".between(lo, hi)).select($"doc_id")
      val w = hits(rounded(SearchEngine.topKWand(spark, root, q, k, allowedDocs = Some(allowed))))
      assert(w == rangeShadow(lo, hi, k), s"range WAND != shadow for [$lo,$hi] k=$k")
      assert(w.nonEmpty)
    }
    // empty range → empty result (rangeActive with empty allowed slices)
    assert(hits(rounded(SearchEngine.topKWand(spark, root, q, 10,
      allowedDocs = Some(docs.filter($"n_chars" < 0).select($"doc_id"))))).isEmpty)

    // range ∧ keyword filter: both contexts applied
    val allowed = docs.filter($"n_chars".between(250L, 330L)).select($"doc_id")
    val both = hits(SearchEngine.topKWand(spark, root, q, 10,
      filters = Seq("source:src3"), allowedDocs = Some(allowed))
      .select($"doc_id", round($"score", 4).as("score_r4")))
    val shadowBoth = {
      val ids = docs.filter($"n_chars".between(250L, 330L) && $"source" === "src3")
        .select($"doc_id")
      hits(SearchEngine.topKExhaustive(spark, root, q, Int.MaxValue)
        .join(ids, "doc_id")
        .orderBy($"score".desc, $"doc_id".asc).limit(10)
        .select($"doc_id", round($"score", 4).as("score_r4")))
    }
    assert(both == shadowBoth, "range ∧ keyword filter != shadow")

    // range filter composes with live tombstones (aux cogroup carries both)
    val del = IndexCache.deletedIndex(spark, sfDir, Seq("stream"))
    val dead = graft.index.Deletes.read(spark,
      graft.io.Catalog.IndexPaths(del.paths.root)).toSet
    val rangeDel = hits(rounded(SearchEngine.topKWand(spark, del.paths.root,
      q, 10, allowedDocs = Some(allowed))))
    val shadowDel = hits(SearchEngine.topKExhaustive(spark, del.paths.root, q, Int.MaxValue)
      .join(allowed, "doc_id")
      .filter(!$"doc_id".isin(dead.toSeq: _*))
      .orderBy($"score".desc, $"doc_id".asc).limit(10)
      .select($"doc_id", round($"score", 4).as("score_r4")))
    assert(rangeDel == shadowDel, "range filter over tombstoned index != shadow")
    assert(rangeDel.map(_._1).toSet.intersect(dead).isEmpty)
  }

  test("must_not and terms-OR filter equal their exhaustive shadows") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val q = Seq("join", "window", "vector")
    val docs = Catalog.readTable(spark, sfDir, "documents")

    // bool.must_not: scored ranking minus docs containing the excluded term
    for (mn <- Seq("stream", "join", "zebra")) {
      val got = hits(rounded(SearchEngine.topKWand(spark, root, q, 10,
        excludedDocs = SearchEngine.mustNotDocs(spark, root, Seq(mn)))))
      val mnTok = mn
      val excluded = Catalog.readDocuments(spark, sfDir)
        .filter(d => graft.core.Analyzer.tokenize(d.text).contains(mnTok))
        .select($"doc_id")
      val want = hits(SearchEngine.topKExhaustive(spark, root, q, Int.MaxValue)
        .join(excluded, Seq("doc_id"), "left_anti")
        .orderBy($"score".desc, $"doc_id".asc).limit(10)
        .select($"doc_id", round($"score", 4).as("score_r4")))
      assert(got == want, s"must_not '$mn' != shadow")
    }
    // must_not of a query term drops every doc scoring on it
    assert(hits(rounded(SearchEngine.topKWand(spark, root, Seq("join"), 10,
      excludedDocs = SearchEngine.mustNotDocs(spark, root, Seq("join"))))).isEmpty)

    // terms filter (OR within field) via the allowed-set path
    val allowed = Booleans.or(spark, root, Seq("source:src1", "source:src2"))
    val got = hits(rounded(SearchEngine.topKWand(spark, root, q, 10, allowedDocs = Some(allowed))))
    val want = hits(SearchEngine.topKExhaustive(spark, root, q, Int.MaxValue)
      .join(docs.filter($"source".isin("src1", "src2")).select($"doc_id"), "doc_id")
      .orderBy($"score".desc, $"doc_id".asc).limit(10)
      .select($"doc_id", round($"score", 4).as("score_r4")))
    assert(got == want, "terms-OR filter != shadow")
  }

  test("must_not composes with tombstones: both exclusions apply") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val q = Seq("join", "window", "vector")
    val del = IndexCache.deletedIndex(spark, sfDir, Seq("stream"))
    val dead = graft.index.Deletes.read(spark, Catalog.IndexPaths(del.paths.root)).toSet
    val got = hits(rounded(SearchEngine.topKWand(spark, del.paths.root, q, 10,
      excludedDocs = SearchEngine.mustNotDocs(spark, del.paths.root, Seq("window")))))
    val excluded = Catalog.readDocuments(spark, sfDir)
      .filter(d => graft.core.Analyzer.tokenize(d.text).contains("window"))
      .select($"doc_id")
    val want = hits(SearchEngine.topKExhaustive(spark, del.paths.root, q, Int.MaxValue)
      .join(excluded, Seq("doc_id"), "left_anti")
      .filter(!$"doc_id".isin(dead.toSeq: _*))
      .orderBy($"score".desc, $"doc_id".asc).limit(10)
      .select($"doc_id", round($"score", 4).as("score_r4")))
    assert(got == want, "must_not over a tombstoned index != shadow")
    assert(got.nonEmpty && got.map(_._1).toSet.intersect(dead).isEmpty)
  }

  test("filter context never changes scores") {
    val q = Seq("join", "window", "vector")
    val filtered = hits(rounded(SearchEngine.topKWand(spark, root, q, 100,
      filters = Seq("source:src3")))).toMap
    val plain = hits(rounded(SearchEngine.topKExhaustive(spark, root, q, Int.MaxValue))).toMap
    filtered.foreach { case (d, s) =>
      assert(plain(d) == s, s"doc $d scored differently under a filter")
    }
  }
}
