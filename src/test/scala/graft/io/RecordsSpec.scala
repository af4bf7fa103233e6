package graft.io

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.index.IndexMeta
import graft.model.CorpusStats

/** `Records.write` lays a one-record catalog file out as Spark's parquet
  * writer does, and writes it without a Spark job.
  */
class RecordsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = TestSpark.session

  private lazy val base = s"/tmp/graft-records-${System.nanoTime()}"

  /** The one data file under `dir`: its parquet schema, the codecs of its
    * column chunks and its footer's key-value metadata.
    */
  private def footer(dir: String) = {
    val files = Fs.listDataFiles(dir)
    assert(files.length == 1, dir)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(files.head._1), Fs.conf()))
    val f = try reader.getFooter finally reader.close()
    val codecs = f.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
    (f.getFileMetaData.getSchema, codecs, f.getFileMetaData.getKeyValueMetaData.asScala.toMap)
  }

  test("meta and corpus stats files: Spark's schema, snappy, Spark's row metadata, no job") {
    import spark.implicits._
    val meta = IndexMeta(16, 1L << 20, 12345L, incremental = true, last_batch_id = 7L,
      analyzer = "english", synonyms = true)
    val stats = CorpusStats(12345L, 678901L, 678901.0 / 12345)
    Seq(meta).toDS().write.mode(SaveMode.Overwrite).parquet(s"$base/spark-meta")
    Seq(stats).toDS().write.mode(SaveMode.Overwrite).parquet(s"$base/spark-stats")
    val jobs = TestSpark.jobCount {
      Records.write(s"$base/meta", Seq(meta), Fs.conf())
      Records.write(s"$base/stats", Seq(stats), Fs.conf())
    }
    assert(jobs == 0)

    for ((ours, sparks) <- Seq("meta" -> "spark-meta", "stats" -> "spark-stats")) {
      val (schema, codecs, kv) = footer(s"$base/$ours")
      val (sSchema, sCodecs, sKv) = footer(s"$base/$sparks")
      assert(schema == sSchema, ours)
      assert(codecs == Set(CompressionCodecName.SNAPPY) && sCodecs == codecs, ours)
      val rowKey = "org.apache.spark.sql.parquet.row.metadata"
      assert(kv.get(rowKey).isDefined && kv.get(rowKey) == sKv.get(rowKey), ours)
      assert(Fs.exists(s"$base/$ours/_SUCCESS"), ours)
    }
    assert(spark.read.parquet(s"$base/meta").as[IndexMeta].collect().toSeq == Seq(meta))
    assert(spark.read.parquet(s"$base/stats").as[CorpusStats].collect().toSeq == Seq(stats))

    // a rewrite replaces the directory's file
    Records.write(s"$base/meta", Seq(meta.copy(last_batch_id = 8L)), Fs.conf())
    assert(spark.read.parquet(s"$base/meta").as[IndexMeta].collect().toSeq ==
      Seq(meta.copy(last_batch_id = 8L)))
  }

  override def afterAll(): Unit = {
    Fs.delete(base)
    super.afterAll()
  }
}
