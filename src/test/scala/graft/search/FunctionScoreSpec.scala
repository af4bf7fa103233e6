package graft.search

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{IndexCache, TestSpark}
import graft.search.SearchEngine.rounded

/** function_score semantics pinned to the ES definition: application order
  * (factor before modifier), boost modes, and the decay shape parameters
  * (the curve passes through `decay` at distance `scale`).
  */
class FunctionScoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  lazy val sfDir = "/root/testdata/sf0.001"
  private val q = Seq("join", "window", "vector")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] = {
    import spark.implicits._
    df.as[(Long, Double)].collect().toSeq
  }

  test("field_value_factor multiply: every final score = bm25 * log10(1 + factor*field)") {
    import spark.implicits._
    val idx = IndexCache.documentsIndex(spark, sfDir)
    val got = rows(FunctionScore.fieldValueFactor(spark, idx.paths.root, sfDir,
      q, 10, field = "n_chars", factor = 0.01, modifier = "log1p"))
    assert(got.nonEmpty)
    // recompute from the exhaustive scorer + raw metadata
    val base = SearchEngine.scoreAllDocs(spark, idx.paths.root, q)
      .as[(Long, Double)].collect().toMap
    val nchars = graft.io.Catalog.readTable(spark, sfDir, "documents")
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    got.foreach { case (doc, s4) =>
      val want = base(doc) * math.log10(1.0 + 0.01 * nchars(doc))
      assert(math.abs(s4 - math.rint(want * 1e4) / 1e4) < 1e-9,
        s"doc $doc: fvf score mismatch")
    }
  }

  test("boost_mode sum differs from multiply and follows the ES formula") {
    import spark.implicits._
    val idx = IndexCache.documentsIndex(spark, sfDir)
    val mult = rows(FunctionScore.fieldValueFactor(spark, idx.paths.root, sfDir,
      q, 10, factor = 0.01))
    val sum = rows(FunctionScore.fieldValueFactor(spark, idx.paths.root, sfDir,
      q, 10, factor = 0.01, boostMode = "sum"))
    assert(mult != sum, "multiply and sum must rank/score differently")
    val base = SearchEngine.scoreAllDocs(spark, idx.paths.root, q)
      .as[(Long, Double)].collect().toMap
    val nchars = graft.io.Catalog.readTable(spark, sfDir, "documents")
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    sum.foreach { case (doc, s4) =>
      val want = base(doc) + math.log10(1.0 + 0.01 * nchars(doc))
      assert(math.abs(s4 - math.rint(want * 1e4) / 1e4) < 1e-9)
    }
  }

  test("gauss decay passes through `decay` at distance `scale`; linear clamps to 0") {
    import spark.implicits._
    val idx = IndexCache.documentsIndex(spark, sfDir)
    val base = SearchEngine.scoreAllDocs(spark, idx.paths.root, q)
      .as[(Long, Double)].collect().toMap
    val nchars = graft.io.Catalog.readTable(spark, sfDir, "documents")
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    val sigma2 = -50.0 * 50.0 / (2.0 * math.log(0.5))
    val got = rows(FunctionScore.decay(spark, idx.paths.root, sfDir, q, 10,
      field = "n_chars", origin = 280.0, scale = 50.0, decayAt = 0.5))
    assert(got.nonEmpty)
    got.foreach { case (doc, s4) =>
      val x = math.abs(nchars(doc) - 280.0)
      val want = base(doc) * math.exp(-(x * x) / (2.0 * sigma2))
      assert(math.abs(s4 - math.rint(want * 1e4) / 1e4) < 1e-9)
    }
    // the defining property: decay(origin ± scale) = decayAt exactly
    assert(math.abs(math.exp(-(50.0 * 50.0) / (2.0 * sigma2)) - 0.5) < 1e-12)
    // linear clamps to zero beyond s = scale/(1-decay); with multiply the
    // far docs score exactly 0 (still ranked, as ES does)
    val lin = rows(FunctionScore.decay(spark, idx.paths.root, sfDir, q, 200,
      field = "n_chars", origin = 0.0, scale = 1.0, decayAt = 0.5, fn = "linear"))
    assert(lin.forall(_._2 >= 0.0))
    assert(lin.exists(_._2 == 0.0), "far docs must clamp to exactly 0 under linear")
  }

  test("function_score reorders vs plain bm25 (the function is load-bearing)") {
    val idx = IndexCache.documentsIndex(spark, sfDir)
    val plain = rows(rounded(SearchEngine.topKWand(spark, idx.paths.root, q, 10))).map(_._1)
    val fvf = rows(FunctionScore.fieldValueFactor(spark, idx.paths.root, sfDir,
      q, 10, factor = 0.01, modifier = "sqrt")).map(_._1)
    assert(plain != fvf, "sqrt(0.01*n_chars) should reorder the top-10")
  }

  test("distance_feature: full boost at origin, half at pivot, additive") {
    val idx = IndexCache.documentsIndex(spark, sfDir)
    val got = rows(FunctionScore.distanceFeature(spark, idx.paths.root, sfDir,
      q, 10, field = "n_chars", origin = 300.0, pivot = 50.0, boost = 1.5))
    val base = SearchEngine.scoreAllDocs(spark, idx.paths.root, q)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val nchars = graft.io.Catalog.readTable(spark, sfDir, "documents")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars"))).toMap
    got.foreach { case (d, s) =>
      val contrib = 1.5 * (50.0 / (50.0 + math.abs(nchars(d) - 300.0)))
      assert(contrib <= 1.5 + 1e-12)
      val want = math.rint((base(d) + contrib) * 1e4) / 1e4
      assert(math.abs(s - want) < 2e-4, s"doc $d")
    }
    assert(got.nonEmpty)
  }
}
