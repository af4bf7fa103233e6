package graft.io

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{Fixtures, TestSpark}
import graft.index.{Compaction, IndexBuildJob, IndexMeta, Indexer}
import graft.io.Catalog.IndexPaths
import graft.model.{CorpusStats, DictEntry}
import graft.search.SearchEngine
import graft.streaming.StreamingIngest

/** The catalog artifacts — meta, corpus stats and a byte-gated dictionary —
  * read on the driver without Spark: the values Spark's parquet reader gives,
  * the defaults of columns an older meta lacks, exactly one meta record, and
  * no Spark job for them on the first query after a publish.
  */
class CatalogReadSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = TestSpark.session

  private lazy val base = s"/tmp/graft-catalog-read-${System.nanoTime()}"

  private def batch(i: Int) = {
    import spark.implicits._
    Fixtures.turns(30, 20)
      .filter(t => t.conv_id >= f"c${10 * i}%06d" && t.conv_id < f"c${10 * i + 10}%06d").toDS()
  }

  /** The catalog reads of the index at `root` equal `spark.read.parquet(p).as[T]`. */
  private def sameAsSpark(root: String): Unit = {
    import spark.implicits._
    val paths = IndexPaths(root)
    val meta = spark.read.parquet(paths.meta).as[IndexMeta].collect().toSeq
    val stats = spark.read.parquet(paths.corpusStats).as[CorpusStats].collect().toSeq
    assert(Seq(Indexer.readMeta(spark, root)) == meta, root)
    assert(Seq(Catalog.readCorpusStats(spark, paths)) == stats, root)
    val dict = spark.read.parquet(paths.dictionary).as[DictEntry].collect().toSeq
    assert(dict.nonEmpty)
    assert(Catalog.readDictionary(spark, paths).collect().toSeq.sortBy(_.term) ==
      dict.sortBy(_.term), root)
    assert(Catalog.docFreqs(spark, paths, dict.take(5).map(_.term)) ==
      dict.take(5).map(d => d.term -> d.df).toMap, root)
  }

  test("meta, stats and dictionary equal Spark's read: built, streamed, compacted") {
    import spark.implicits._
    val turns = s"$base/turns"
    Fixtures.turns(20, 20).toDS().coalesce(1).write.mode(SaveMode.Overwrite).parquet(turns)
    val built = s"$base/built"
    IndexBuildJob.run(spark, IndexBuildJob.Args(input = turns, output = built,
      buckets = 4, targetRun = 256, partitions = Some(4)))
    sameAsSpark(built)

    val streamed = s"$base/streamed"
    (0 until 3).foreach(i => StreamingIngest.ingestBatch(batch(i), streamed, buckets = 4,
      targetRun = 256, batchId = i.toLong))
    sameAsSpark(streamed)
    assert(Indexer.readMeta(spark, streamed).last_batch_id == 2L)

    Compaction.compact(spark, streamed)
    assert(!Indexer.readMeta(spark, streamed).incremental)
    sameAsSpark(streamed)
  }

  test("a meta written before last_batch_id, analyzer and synonyms reads their defaults") {
    import spark.implicits._
    val root = s"$base/legacy"
    Seq((4, 256L, 100L, true)).toDF("buckets", "target_run", "doc_id_space", "incremental")
      .write.mode(SaveMode.Overwrite).parquet(IndexPaths(root).meta)
    assert(Indexer.readMeta(spark, root) == IndexMeta(4, 256L, 100L, incremental = true,
      last_batch_id = -1L, analyzer = "standard", synonyms = false))
  }

  test("a meta of 0 or of 2 records fails, naming its path") {
    import spark.implicits._
    for ((n, rows) <- Seq(0 -> Seq.empty[IndexMeta],
        2 -> Seq(IndexMeta(4, 256L, 10L), IndexMeta(8, 256L, 20L)))) {
      val root = s"$base/meta-$n"
      rows.toDS().write.mode(SaveMode.Overwrite).parquet(IndexPaths(root).meta)
      val e = intercept[IllegalStateException](Indexer.readMeta(spark, root))
      assert(e.getMessage.contains(s"$root/meta") && e.getMessage.contains(s"$n records"),
        e.getMessage)
    }
  }

  test("the first topKWand after an ingest publish runs one Spark job") {
    val root = s"$base/published"
    val q = Seq(Fixtures.term(0), Fixtures.term(5))
    (0 until 3).foreach { i =>
      StreamingIngest.ingestBatch(batch(i), root, buckets = 4, targetRun = 256,
        batchId = i.toLong)
      var hits = Seq.empty[(Long, Double)]
      val n = TestSpark.jobCount {
        hits = SearchEngine.topKWand(spark, root, q, 10).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      }
      assert(n == 1, s"batch $i: the first query after the publish ran $n Spark jobs")
      assert(hits.nonEmpty && hits == SearchEngine.topKExhaustive(spark, root, q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq, s"batch $i: WAND vs exhaustive")
    }
  }

  override def afterAll(): Unit = {
    Fs.delete(base)
    super.afterAll()
  }
}
