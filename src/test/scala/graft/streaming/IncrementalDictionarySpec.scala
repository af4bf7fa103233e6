package graft.streaming

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{Fixtures, TestSpark}
import graft.index.{Compaction, Deletes, Indexer}
import graft.io.{Catalog, Fs}
import graft.io.Catalog.IndexPaths
import graft.model.{DictEntry, Turn}
import graft.search.{BruteForce, SearchEngine}

/** A streaming batch's dictionary is the published dictionary ⊕ the batch's
  * blocks: it must equal the full derivation over the grown postings row for
  * row — after plain batches, after a compaction, after a purge — and a
  * batch must read what it adds, not the index it grows.
  */
class IncrementalDictionarySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = TestSpark.session

  private lazy val base = s"/tmp/graft-incr-dict-${System.nanoTime()}"

  /** Conversations [from, until) of `all` as a Dataset. */
  private def convs(all: Seq[Turn], from: Int, until: Int): Dataset[Turn] = {
    import spark.implicits._
    all.filter(t => t.conv_id >= f"c$from%06d" && t.conv_id < f"c$until%06d").toDS()
  }

  private def ingest(batch: Dataset[Turn], root: String, id: Int): Unit =
    StreamingIngest.ingestBatch(batch, root, buckets = 4, targetRun = 256, batchId = id.toLong)

  // the rows sorted by term, max_tf_norm as its bits
  private def rows(d: Dataset[DictEntry]): Seq[(String, Long, Long, Long)] =
    d.collect().toSeq
      .map(e => (e.term, e.df, e.cf, java.lang.Double.doubleToLongBits(e.max_tf_norm)))
      .sortBy(_._1)

  /** The published dictionary's files equal `Indexer.dictionaryOf` over the
    * published postings, row for row.
    */
  private def assertExact(root: String, step: String): Unit = {
    import spark.implicits._
    val paths = IndexPaths(root)
    val published = rows(spark.read.parquet(paths.dictionary).as[DictEntry])
    assert(published.nonEmpty, step)
    assert(published == rows(Indexer.dictionaryOf(spark, paths.postings)), step)
  }

  private def hits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("purge, then ingest: df counts only the live docs") {
    import spark.implicits._
    val root = s"$base/purge"
    val all = Fixtures.turns(10, 20)
    ingest(convs(all, 0, 5), root, 0)
    Deletes.deleteByQuery(spark, root, Seq(Fixtures.term(3)))
    val deleted = Deletes.read(spark, IndexPaths(root)).toSet
    assert(deleted.nonEmpty)
    Deletes.purge(spark, root)
    ingest(convs(all, 5, 10), root, 1)
    assertExact(root, "after purge + ingest")

    val live = Catalog.readNumbered(spark, IndexPaths(root)).toDF()
      .select($"doc_id", $"text").filter(!$"doc_id".isin(deleted.toSeq: _*))
    assert(live.count() == all.size - deleted.size)
    for (terms <- Seq(Seq(Fixtures.term(0)), Seq(Fixtures.term(3)),
        Seq(Fixtures.term(5), Fixtures.term(900)), Seq("c000002-mark", "c000007-mark"))) {
      val w = hits(SearchEngine.topKWand(spark, root, terms, 10))
      val b = hits(BruteForce.topK(live, terms, 10))
      assert(w.map(_._1) == b.map(_._1), s"rank mismatch vs brute force for $terms")
      w.zip(b).foreach { case ((_, sw), (_, sb)) =>
        assert(math.abs(sw - sb) <= 1e-9 * math.max(1.0, math.abs(sb)), s"score for $terms")
      }
    }
  }

  for ((name, conf) <- Seq(
      "the previous dictionary from the memo" -> Seq.empty[(String, String)],
      "the previous dictionary from parquet" -> Seq("spark.graft.dict.cacheMaxBytes" -> "0"))) {
    test(s"three batches and a compaction, each step exact: $name") {
      TestSpark.withConf(conf: _*) {
        val root = s"$base/steps-${conf.size}"
        val all = Fixtures.turns(30, 20)
        ingest(convs(all, 0, 10), root, 0)
        assertExact(root, "batch 1")
        ingest(convs(all, 10, 20), root, 1)
        assertExact(root, "batch 2")
        Compaction.compact(spark, root)
        assertExact(root, "compaction")
        ingest(convs(all, 20, 30), root, 2)
        assertExact(root, "batch 3")
      }
    }
  }

  test("a batch's Spark input bytes do not grow with the batches before it") {
    import spark.implicits._
    val root = s"$base/bytes"
    val all = Fixtures.turns(50, 20)
    val bytes = (0 until 5).map { i =>
      val input = s"$base/bytes-in/$i"
      convs(all, 10 * i, 10 * i + 10).coalesce(1).write.mode(SaveMode.Overwrite).parquet(input)
      val batch = Catalog.readTurnsParquet(spark, input)
      TestSpark.jobs(ingest(batch, root, i)).inputBytes
    }
    assert(bytes(1) > 0)
    assert(bytes(4) <= bytes(1) * 1.1,
      s"batch 5 read ${bytes(4)} B against ${bytes(1)} B for batch 2 (all: $bytes)")
    assertExact(root, "after 5 batches")
    assert(Catalog.readCorpusStats(spark, IndexPaths(root)).n_docs == all.size)
  }

  override def afterAll(): Unit = {
    Fs.delete(base)
    super.afterAll()
  }
}
