package graft.search

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{IndexCache, TestSpark}
import graft.search.SearchEngine.rounded

/** multi_match best_fields: the union-of-per-field-windows candidate set
  * must reproduce the EXHAUSTIVE dis_max ranking (the exactness claim in
  * SearchEngine.multiMatchTopK's scaladoc) across query shapes and boosts.
  */
class MultiMatchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val sfDir = "/root/testdata/sf0.001"

  private def exhaustive(textRoot: String, titleRoot: String,
      q: Seq[String], k: Int, boost: Double, tb: Double = 0.0): Seq[(Long, Double)] = {
    import spark.implicits._
    val a = SearchEngine.scoreAllDocs(spark, textRoot, q)
      .select($"doc_id", $"score".as("s_text"))
    val b = SearchEngine.scoreAllDocs(spark, titleRoot, q)
      .select($"doc_id", (lit(boost) * $"score").as("s_title"))
    val sa = coalesce($"s_text", lit(0.0))
    val sb = coalesce($"s_title", lit(0.0))
    a.join(b, Seq("doc_id"), "full_outer")
      .select($"doc_id",
        (greatest(sa, sb) + lit(tb) * least(sa, sb)).as("s"))
      .orderBy($"s".desc, $"doc_id".asc).limit(k)
      .select($"doc_id", round($"s", 4).as("r"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  test("windowed multi_match equals exhaustive dis_max across queries and boosts") {
    val tx = IndexCache.documentsIndex(spark, sfDir)
    val ti = IndexCache.titleIndex(spark, sfDir)
    val queries = Seq(
      Seq("join", "window", "vector"), Seq("join"), Seq("the", "a", "join"),
      Seq("join", "zebra"), Seq("scan", "filter", "sort", "merge", "group"))
    for (q <- queries; boost <- Seq(0.5, 1.0, 2.0); k <- Seq(5, 20)) {
      val got = SearchEngine.multiMatchTopK(spark, tx.paths.root, ti.paths.root,
          q, k, boost)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = exhaustive(tx.paths.root, ti.paths.root, q, k, boost)
      assert(got == want, s"q=$q boost=$boost k=$k")
    }
  }

  test("tie_breaker: windowed fusion with missing-side fills equals exhaustive") {
    val tx = IndexCache.documentsIndex(spark, sfDir)
    val ti = IndexCache.titleIndex(spark, sfDir)
    val queries = Seq(Seq("join", "window", "vector"), Seq("join", "hash"), Seq("the", "a", "join"))
    for (q <- queries; tb <- Seq(0.3, 1.0); k <- Seq(5, 15)) {
      val got = SearchEngine.multiMatchTopK(spark, tx.paths.root, ti.paths.root,
          q, k, titleBoost = 1.5, tieBreaker = tb)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = exhaustive(tx.paths.root, ti.paths.root, q, k, 1.5, tb)
      assert(got == want, s"q=$q tb=$tb k=$k")
    }
  }

  test("most_fields: windowed fusion equals exhaustive per-field sum") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tx = IndexCache.documentsIndex(spark, sfDir)
    val ti = IndexCache.titleIndex(spark, sfDir)
    def exhaustiveSum(q: Seq[String], k: Int, boost: Double): Seq[(Long, Double)] = {
      val a = SearchEngine.scoreAllDocs(spark, tx.paths.root, q)
        .select($"doc_id", $"score".as("s_text"))
      val b = SearchEngine.scoreAllDocs(spark, ti.paths.root, q)
        .select($"doc_id", (lit(boost) * $"score").as("s_title"))
      a.join(b, Seq("doc_id"), "full_outer")
        .select($"doc_id",
          (coalesce($"s_text", lit(0.0)) + coalesce($"s_title", lit(0.0))).as("s"))
        .orderBy($"s".desc, $"doc_id".asc).limit(k)
        .select($"doc_id", round($"s", 4).as("r"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    for {
      q <- Seq(Seq("join", "window", "vector"), Seq("join", "hash"), Seq("the", "a", "join"))
      boost <- Seq(1.0, 1.5)
      k <- Seq(5, 15)
    } {
      val got = SearchEngine.multiMatchMostFields(spark, tx.paths.root,
          ti.paths.root, q, k, titleBoost = boost)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == exhaustiveSum(q, k, boost), s"most_fields q=$q boost=$boost k=$k")
    }
  }

  test("cross_fields: blended idf matches a from-scratch in-memory scorer") {
    import spark.implicits._
    val tx = IndexCache.documentsIndex(spark, sfDir)
    val ti = IndexCache.titleIndex(spark, sfDir)
    val q = Seq("join", "window", "vector")
    val terms = graft.core.QueryModel.analyzedTerms(q)
    val tb = 0.3
    // independent in-memory twin straight from the corpus text
    val docs = graft.io.Catalog.readDocuments(spark, sfDir).collect()
    val toksTx = docs.map(d => d.doc_id -> graft.core.Analyzer.tokenize(d.text))
    val toksTi = toksTx.map { case (id, t) => id -> t.take(8) }
    def field(toks: Array[(Long, Array[String])]) = {
      val dls = toks.map { case (id, t) => id -> t.length }.toMap
      val avgdl = dls.values.sum.toDouble / dls.size
      val tf = toks.map { case (id, t) =>
        id -> t.groupBy(identity).map { case (w, xs) => w -> xs.length } }.toMap
      val df = terms.map(w => w -> toks.count(_._2.contains(w)).toLong).toMap
      (dls, avgdl, tf, df)
    }
    val (dlsTx, avTx, tfTx, dfTx) = field(toksTx)
    val (dlsTi, avTi, tfTi, dfTi) = field(toksTi)
    val n = docs.length.toLong
    val idfB = terms.map(w =>
      w -> graft.core.Bm25.idf(n, math.max(dfTx(w), dfTi(w)))).toMap
    val want = docs.map { d =>
      val sc = terms.map { w =>
        val a = tfTx(d.doc_id).get(w).map(t =>
          idfB(w) * graft.core.Bm25.tfNorm(t, dlsTx(d.doc_id).toLong, avTx)).getOrElse(0.0)
        val b = tfTi(d.doc_id).get(w).map(t =>
          idfB(w) * graft.core.Bm25.tfNorm(t, dlsTi(d.doc_id).toLong, avTi)).getOrElse(0.0)
        math.max(a, b) + tb * math.min(a, b)
      }.sum
      (d.doc_id, sc)
    }.filter(_._2 > 0).sortBy { case (id, sc) => (-sc, id) }.take(10)
      .map { case (id, sc) =>
        (id, BigDecimal(sc).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }.toSeq
    val got = SearchEngine.multiMatchCrossFields(spark, tx.paths.root,
        ti.paths.root, q, 10, tieBreaker = tb)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want, s"cross_fields != in-memory twin\ngot=$got\nwant=$want")
  }

  test("title field has its own statistics: title-heavy docs outrank on boost") {
    import spark.implicits._
    val tx = IndexCache.documentsIndex(spark, sfDir)
    val ti = IndexCache.titleIndex(spark, sfDir)
    // with a large title boost the ranking must differ from text-only
    val q = Seq("join", "window", "vector")
    val plain = rounded(SearchEngine.topKWand(spark, tx.paths.root, q, 10))
      .select($"doc_id").as[Long].collect().toSeq
    val multi = SearchEngine.multiMatchTopK(spark, tx.paths.root, ti.paths.root,
        q, 10, titleBoost = 5.0)
      .select($"doc_id").as[Long].collect().toSeq
    assert(plain != multi, "a strong title boost must change the ranking")
  }
}
