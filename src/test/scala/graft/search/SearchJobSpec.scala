package graft.search

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{IndexCache, TestSpark}

/** The CLI's flags reach the engine: every wand-path flag composes, and a
  * mode that cannot honor a flag rejects it instead of dropping it.
  */
class SearchJobSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val root: String = {
    val idx = IndexCache.documentsIndex(spark, sfDir)
    IndexCache.keywordField(spark, sfDir, "source")
    idx.paths.root
  }

  private def hits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def run(args: String*): Seq[(Long, Double)] =
    hits(SearchJob.hits(spark, SearchJob.parse(args.toArray)))

  test("--from composes with --filter: ranks 11-20 of the filtered ranking") {
    val q = Seq("join", "window", "vector")
    val ranking = hits(SearchEngine.topKWand(spark, root, q, 20,
      filters = Seq("source:src3")))
    assert(ranking.length == 20, "fixture must fill two filtered pages")
    val page = run("--index", root, "--query", q.mkString(" "), "--k", "10",
      "--from", "10", "--filter", "source:src3")
    assert(page == ranking.drop(10))
  }

  test("--explain rejects the flags it cannot honor") {
    for (flag <- Seq(Seq("--filter", "source:src3"), Seq("--range", "turn_idx:0..10"),
        Seq("--must-not", "stream"), Seq("--min-match", "2"), Seq("--robust-bounds"),
        Seq("--from", "10"), Seq("--after", "1.5:7"))) {
      intercept[IllegalArgumentException] {
        SearchJob.parse((Seq("--index", "idx", "--query", "join", "--explain") ++ flag).toArray)
      }
    }
  }
}
