package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.index.IndexBuildJob
import graft.search.SearchEngine
import graft.streaming.StreamingIngest

class KernelSpec extends AnyFunSuite with LocalSpark {

  private val c = Corpus(3, 0, 20, 50)

  private def wand(root: String, q: Query) =
    Check.rows(SearchEngine.topKWand(spark, root, q.terms, q.k))

  private def replayed(root: String, q: Query) =
    Kernel.replay(spark, root, q.terms, q.k, reps = 1).hits.map(h => (h.doc_id, h.score)).toArray

  test("the kernel replay returns topKWand's top-k on a built index") {
    val input = s"$tmp/turns"
    Gen.turns(spark, c).write.parquet(input)
    val root = s"$tmp/index"
    IndexBuildJob.run(spark, IndexBuildJob.Args(input = input, output = root))
    val qs = Gen.queryPool(3, c, 8, 2, Seq("marker"))
    qs.foreach(q => assert(Check.sameRanking(replayed(root, q), wand(root, q)), q))
  }

  test("the kernel replay returns topKWand's top-k on an incremental index") {
    import spark.implicits._
    val root = s"$tmp/incremental"
    (0 until 3).foreach { b =>
      val part = Corpus(3, b * 5L, b * 5L + 5, 50)
      StreamingIngest.ingestBatch(Gen.turns(spark, part), root, 16, 1L << 20, b.toLong)
    }
    Gen.queryPool(4, c.copy(convHi = 15), 8, 0, Nil)
      .foreach(q => assert(Check.sameRanking(replayed(root, q), wand(root, q)), q))
  }
}
