package graft.io

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{Fixtures, TestSpark}
import graft.core.TermBlock
import graft.index.Indexer
import graft.io.Catalog.IndexPaths
import graft.search.SearchEngine
import graft.sql.PerShard

/** A shard read's input bytes count the pages it reads: the file system
  * bytes its thread reads (what the task input metrics add up) are at
  * least the compressed size of the column chunks it reads — every read
  * column of every row group its filters keep.
  */
class PostingsScanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private def threadBytesRead(): Long =
    FileSystem.getAllStatistics.asScala.map(_.getThreadStatistics.getBytesRead).sum

  /** The compressed bytes of `scan`'s columns in the row groups its
    * filters keep over docs `[lo, hi)`.
    */
  private def chunkBytes(scan: PostingsScan[_ <: TermBlock], lo: Long, hi: Long): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val options = HadoopReadOptions.builder(conf)
      .withRecordFilter(FilterCompat.get(PostingsScan.predicate(scan.terms, lo, hi))).build()
    scan.files.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.path), conf), options)
      try reader.getRowGroups.asScala.flatMap(_.getColumns.asScala)
        .filter(c => scan.columns.contains(c.getPath.toDotString)).map(_.getTotalSize).sum
      finally reader.close()
    }.sum
  }

  test("a shard read counts at least the column chunks it reads as input bytes") {
    import spark.implicits._
    val root = s"/tmp/graft-postingsscan-${System.nanoTime()}/idx"
    try {
      // one bucket file of a few hundred KB: larger than the footer and
      // page-index reads, with each column chunk one page (under the
      // writer's 1 MB page size and 20k-row page limit), so a kept row
      // group reads all of it
      val docs = Fixtures.turns(40, 100).zipWithIndex
        .map { case (t, i) => graft.model.Doc(i.toLong, t.text) }
      Indexer.buildFromDocs(docs.toDS(), root, buckets = 1)
      val meta = Indexer.readMeta(spark, root)
      val scan = SearchEngine.postingsScan(IndexPaths(root),
        Seq(Fixtures.term(0), Fixtures.term(5), Fixtures.term(40)), meta.buckets)
      assert(scan.files.map(_.length).sum > 256L * 1024, "the postings file is too small")
      val conf = spark.sparkContext.hadoopConfiguration
      for (shards <- Seq(1, 4)) {
        val width = (meta.doc_id_space + shards - 1) / shards
        for (s <- 0 until shards) {
          val (lo, hi) = PerShard.range(s, shards, width)
          val chunks = chunkBytes(scan, lo, hi)
          val before = threadBytesRead()
          val blocks = scan.read(lo, hi, conf)
          val counted = threadBytesRead() - before
          assert(blocks.nonEmpty && chunks > 0L, s"shard $s of $shards reads nothing")
          assert(counted >= chunks,
            s"shard $s of $shards counted $counted bytes for $chunks bytes of column chunks")
        }
      }
    } finally Fs.delete(new java.io.File(root).getParent)
  }
}
