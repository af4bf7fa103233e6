package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.scalatest.funsuite.AnyFunSuite

import graft.{Fixtures, TestSpark}
import graft.index.Indexer
import graft.io.Catalog.IndexPaths
import graft.search.SearchEngine
import graft.streaming.StreamingIngest

/** The per-JVM artifact memos: one resolved postings relation per
  * generation, and at most the current and previous generation of every
  * artifact base held across a stream of republishes.
  */
class MemoSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session

  private def hits(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def memoSizes: Seq[(String, String, Int)] =
    Seq("schema" -> Catalog.schemaMemo, "stats" -> Catalog.statsMemo,
      "dict" -> Catalog.dictMemo, "postings" -> Catalog.postingsMemo,
      "meta" -> Indexer.metaMemo)
      .flatMap { case (name, m) => m.sizes.map { case (b, n) => (name, b, n) } }

  test("readPostings reuses the resolved relation until a new generation is published") {
    import spark.implicits._
    val root = s"/tmp/graft-memo-${System.nanoTime()}/idx"
    val (gone, kept) = (Fixtures.term(3), Fixtures.term(7))
    try {
      val docs = Fixtures.turns(10, 20).zipWithIndex
        .map { case (t, i) => graft.model.Doc(i.toLong, t.text) }
      Indexer.buildFromDocs(docs.toDS(), root, buckets = 4, targetRun = 256)
      val paths = IndexPaths(root)
      val first = Catalog.readPostings(spark, paths)
      assert(Catalog.readPostings(spark, paths) eq first, "a repeat read must reuse the relation")
      val keptHits = hits(SearchEngine.topKWand(spark, root, Seq(kept), 10))
      assert(hits(SearchEngine.topKWand(spark, root, Seq(gone), 10)).nonEmpty)

      // next generation: the same postings without one term
      val staging = s"$root/postings_staging"
      first.filter($"term" =!= gone).write.mode(SaveMode.Overwrite)
        .partitionBy("bucket").parquet(staging)
      Fs.publishVersion(paths.postingsBase, staging)

      val second = Catalog.readPostings(spark, paths)
      assert(!(second eq first), "a published generation must resolve anew")
      assert(Catalog.readPostings(spark, paths) eq second)
      assert(second.filter($"term" === gone).count() == 0L)
      assert(hits(SearchEngine.topKWand(spark, root, Seq(gone), 10)).isEmpty,
        "results must follow the new generation")
      assert(hits(SearchEngine.topKWand(spark, root, Seq(kept), 10)) == keptHits)
      assert(Catalog.postingsMemo.sizes(paths.postingsBase) == 2)
    } finally Fs.delete(new java.io.File(root).getParent)
  }

  test("six ingest batches: memos keep ≤ 2 generations per base, results stay exact") {
    import spark.implicits._
    val root = s"/tmp/graft-memo-stream-${System.nanoTime()}/idx"
    val paths = IndexPaths(root)
    val all = Fixtures.turns(30, 20)
    val queries = Seq(Seq(Fixtures.term(0), Fixtures.term(5)), Seq(Fixtures.term(40)))
    try {
      (0 until 6).foreach { i =>
        val batch = all.filter(t => t.conv_id >= f"c${5 * i}%06d" && t.conv_id < f"c${5 * i + 5}%06d")
        StreamingIngest.ingestBatch(batch.toDS(), root, buckets = 4, targetRun = 256,
          batchId = i.toLong)
        queries.foreach { q =>
          val wand = hits(SearchEngine.topKWand(spark, root, q, 10))
          assert(wand.nonEmpty, s"batch $i query $q")
          assert(wand == hits(SearchEngine.topKExhaustive(spark, root, q, 10)),
            s"batch $i query $q: WAND vs exhaustive")
        }
        val over = memoSizes.filter(_._3 > 2)
        assert(over.isEmpty, s"memos over two generations after batch $i: $over")
      }
      val mine = memoSizes.filter(_._2.startsWith(root))
      // the stream republished stats, dictionary, meta and postings: each
      // base holds exactly its current and previous generation
      for ((name, base) <- Seq("stats" -> paths.corpusStatsBase,
          "dict" -> paths.dictionaryBase, "meta" -> paths.metaBase,
          "postings" -> paths.postingsBase))
        assert(mine.contains((name, base, 2)), s"$name memo of $base: $mine")
    } finally Fs.delete(new java.io.File(root).getParent)
  }
}
