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
      "meta" -> Indexer.metaMemo, "synonyms" -> Catalog.synonymsMemo)
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
      Fs.publish(paths.postingsBase)(
        first.filter($"term" =!= gone).write.mode(SaveMode.Overwrite)
          .partitionBy("bucket").parquet(_))

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

  test("docFreqs from the memoized dictionary equals the parquet path and follows republishes") {
    import spark.implicits._
    val root = s"/tmp/graft-memo-dict-${System.nanoTime()}/idx"
    val gate = "spark.graft.dict.cacheMaxBytes"
    try {
      val docs = Fixtures.turns(10, 20).zipWithIndex
        .map { case (t, i) => graft.model.Doc(i.toLong, t.text) }
      Indexer.buildFromDocs(docs.toDS(), root, buckets = 4, targetRun = 256)
      val paths = IndexPaths(root)
      // present, absent and repeated terms
      val terms = Seq(Fixtures.term(0), Fixtures.term(3), "no-such-term", Fixtures.term(0))
      def viaParquet() = {
        spark.conf.set(gate, "0")
        try Catalog.docFreqs(spark, paths, terms) finally spark.conf.unset(gate)
      }
      val memo = Catalog.docFreqs(spark, paths, terms)
      assert(memo.keySet == Set(Fixtures.term(0), Fixtures.term(3)))
      assert(memo == viaParquet())

      // next generation: every df one higher
      Fs.publish(paths.dictionaryBase)(Catalog.readDictionary(spark, paths)
        .map(e => e.copy(df = e.df + 1)).write.mode(SaveMode.Overwrite).parquet(_))
      val next = Catalog.docFreqs(spark, paths, terms)
      assert(next == memo.view.mapValues(_ + 1).toMap, "a republished dictionary served stale")
      assert(next == viaParquet())
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
        // the query paths read postings inside the shard tasks; the relation
        // memo serves compaction, purge and the phrase dl lookup: read it as
        // they do, once per published generation
        Catalog.readPostings(spark, paths)
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

  test("a warm topKWand on a synonym index runs one Spark job") {
    import spark.implicits._
    val root = s"/tmp/graft-memo-syn-${System.nanoTime()}/idx"
    try {
      val docs = Seq(graft.model.Doc(0L, "alpha gamma"), graft.model.Doc(1L, "beta gamma"),
        graft.model.Doc(2L, "alpha beta delta"))
      Indexer.buildFromDocs(docs.toDS(), root, buckets = 4, targetRun = 16,
        synonyms = Map("beta" -> "alpha"))
      def query() = hits(SearchEngine.topKWand(spark, root, Seq("beta"), 10))
      val cold = query()
      assert(cold.map(_._1).toSet == Set(0L, 1L, 2L), "beta canonicalizes to alpha")
      var warm = Seq.empty[(Long, Double)]
      val n = graft.TestSpark.jobCount { warm = query() }
      assert(n == 1, s"a warm synonym-index query ran $n Spark jobs")
      assert(warm == cold)
      assert(Catalog.synonymsMemo.sizes(IndexPaths(root).synonyms) == 1)
    } finally Fs.delete(new java.io.File(root).getParent)
  }
}
