package graft.search

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{IndexCache, TestSpark}
import graft.search.SearchEngine.rounded

/** simple_query_string semantics: the parse (clause extraction + ES
  * leniency rules) and the composition contract — the executed query
  * equals the sum of its clause scores with must_not docs dropped, cut to
  * top-k only AFTER summing.
  */
class QueryStringSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val sfDir = "/root/testdata/sf0.001"

  test("parse: term / quoted phrase / trailing-* prefix / -must_not") {
    val p = QueryString.parse("""window "join hash" vec* -stream""")
    assert(p.terms == Seq("window"))
    assert(p.phrases == Seq(Seq("join", "hash")))
    assert(p.prefixes == Seq("vec"))
    assert(p.mustNot == Seq("stream"))
  }

  test("parse leniency: clauses that analyze to nothing are dropped") {
    val p = QueryString.parse("""!!! "???" -... window""")
    assert(p.terms == Seq("window"))
    assert(p.phrases.isEmpty && p.prefixes.isEmpty && p.mustNot.isEmpty)
    // a bare '*' (empty prefix) is dropped too, not expanded to everything
    assert(QueryString.parse("*").prefixes.isEmpty)
  }

  test("parse: phrases analyze through the analyzer; duplicates dedup") {
    val p = QueryString.parse("""Window "Join, HASH!" window""")
    assert(p.terms == Seq("window"))
    assert(p.phrases == Seq(Seq("join", "hash")))
  }

  test("sqs equals manual clause composition (sum before top-k, anti-join must_not)") {
    import spark.implicits._
    val idx = IndexCache.positionalIndex(spark, sfDir)
    val root = idx.paths.root
    val got = QueryString.simpleQueryString(spark, root, root,
      """window "join hash" vec* -stream""", 10)
      .as[(Long, Double)].collect().toSeq

    val expansions = TermQueries.prefixExpansions(spark, root, "vec", 50)
    val termScores = SearchEngine.scoreAllDocs(spark, root,
      ("window" +: expansions).distinct)
      .as[(Long, Double)].collect().toMap
    val phraseScores = graft.index.PositionalIndex.phraseScores(
      spark, root, Seq("join", "hash"), idx.meta.buckets)
      .select($"doc_id", $"score").as[(Long, Double)].collect().toMap
    val excluded = Booleans.docsOf(spark, root, "stream")
      .as[Long].collect().toSet
    val want = (termScores.keySet ++ phraseScores.keySet)
      .filterNot(excluded)
      .map(d => (d, termScores.getOrElse(d, 0.0) + phraseScores.getOrElse(d, 0.0)))
      .toSeq.sortBy { case (d, s) => (-s, d) }.take(10)
      .map { case (d, s) => (d, math.rint(s * 1e4) / 1e4) }
    assert(got == want)
    // the phrase clause genuinely contributes: some top doc matches it
    assert(got.exists { case (d, _) => phraseScores.contains(d) })
    assert(got.forall { case (d, _) => !excluded.contains(d) })
  }

  test("sqs with only unmatched clauses returns empty; must_not-only returns empty") {
    assert(QueryString.simpleQueryString(spark,
      IndexCache.documentsIndex(spark, sfDir).paths.root,
      IndexCache.documentsIndex(spark, sfDir).paths.root,
      "-stream", 10).isEmpty)
  }

  test("match_bool_prefix equals WAND over terms plus prefix expansions") {
    import spark.implicits._
    val root = IndexCache.documentsIndex(spark, sfDir).paths.root
    val got = TermQueries.boolPrefixTopK(spark, root, Seq("window"), "h", 10)
      .as[(Long, Double)].collect().toSeq
    val expanded = TermQueries.prefixExpansions(spark, root, "h", 50)
    assert(expanded.nonEmpty && expanded.forall(_.startsWith("h")))
    val want = rounded(SearchEngine.topKWand(spark, root,
      ("window" +: expanded).distinct, 10))
      .as[(Long, Double)].collect().toSeq
    assert(got == want)
  }

  test("regexp expands only matching dictionary terms (anchored)") {
    import spark.implicits._
    val root = IndexCache.documentsIndex(spark, sfDir).paths.root
    val got = TermQueries.regexp(spark, root, "(jo|ha)[a-z]+")
      .as[Long].collect().toSet
    // anchored: must equal the union of full-token matches, computed raw
    val want = graft.io.Catalog.readDocuments(spark, sfDir)
      .flatMap(d => graft.core.Analyzer.tokenize(d.text).distinct
        .filter(_.matches("(jo|ha)[a-z]+")).map(_ => d.doc_id))
      .distinct().collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("constant_score: every hit scores the boost; boosting demotes without excluding") {
    import spark.implicits._
    val root = IndexCache.documentsIndex(spark, sfDir).paths.root
    val cs = FunctionScore.constantScore(spark, root, "join", 1.5, 10)
      .as[(Long, Double)].collect()
    assert(cs.nonEmpty && cs.forall(_._2 == 1.5))
    assert(cs.map(_._1).toSeq == cs.map(_._1).toSeq.sorted)

    val neg = Booleans.docsOf(spark, root, "stream").as[Long].collect().toSet
    val base = SearchEngine.scoreAllDocs(spark, root, Seq("join", "window"))
      .as[(Long, Double)].collect().toMap
    val demoted = FunctionScore.boosting(spark, root, Seq("join", "window"),
      "stream", 0.3, 1000).as[(Long, Double)].collect().toMap
    // negative-matching docs remain, at 0.3x; others untouched
    assert(demoted.keySet == base.keySet)
    base.foreach { case (d, s) =>
      val f = if (neg(d)) s * 0.3 else s
      assert(math.abs(demoted(d) - math.rint(f * 1e4) / 1e4) < 1e-9)
    }
    assert(base.keySet.exists(neg), "fixture must exercise the demotion branch")
  }
}
