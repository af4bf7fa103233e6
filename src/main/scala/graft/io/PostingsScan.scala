package graft.io

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.MessageType

import graft.core.PostingBlock

/** One postings data file: its path, its length and the bucket its
  * `bucket=N` directory names.
  */
final case class PostingsFile(path: String, length: Long, bucket: Int)

/** The posting blocks of `terms` in the postings `files` of `buckets`
  * (under `location`), read straight from parquet by the task that needs
  * them — no Spark scan, no shuffle. [[read]] pushes the term set and a
  * docID range down to row groups, pages and records, and reads only the
  * `columns` (of [[PostingsScan.Columns]], with `term`, `first_doc` and
  * `last_doc`); the fields of the others stay 0 or null.
  */
final case class PostingsScan(location: String, files: Seq[PostingsFile],
    buckets: Seq[Int], terms: Seq[String], columns: Seq[String]) {

  /** The blocks of `terms` overlapping docs `[lo, hi)`: `last_doc >= lo`
    * and, unless `hi` is `Long.MaxValue` (an open-ended range), `first_doc < hi`.
    */
  def read(lo: Long, hi: Long, conf: Configuration): Array[PostingBlock] = {
    val filter = FilterCompat.get(PostingsScan.predicate(terms, lo, hi))
    val out = Array.newBuilder[PostingBlock]
    files.foreach { f =>
      val status = new FileStatus(f.length, false, 0, 0L, 0L, new Path(f.path))
      val reader = new ParquetReader.Builder[PostingBlock](
          HadoopInputFile.fromStatus(status, conf)) {
        override protected def getReadSupport: ReadSupport[PostingBlock] =
          new PostingsScan.BlockReadSupport(f.bucket, columns)
      }.withFilter(filter).useStatsFilter().useDictionaryFilter()
        .useColumnIndexFilter().useRecordFilter().build()
      try {
        var b = reader.read()
        while (b != null) { out += b; b = reader.read() }
      } finally reader.close()
    }
    out.result()
  }

  /** The scan's explain fields, as Spark's file scans print theirs. */
  def explain: Seq[String] = Seq(
    s"Location: $location [${files.length} files]",
    s"PartitionFilters: [bucket IN (${buckets.mkString(",")})]",
    s"PushedFilters: [In(term, [${terms.mkString(",")}]), " +
      "GreaterThanOrEqual(last_doc,shard.lo), LessThan(first_doc,shard.hi)]",
    s"ReadSchema: [${columns.mkString(",")}]")
}

object PostingsScan {

  /** The postings columns a [[PostingBlock]] holds, in its field order;
    * `bucket` comes from the directory name.
    */
  val Columns: Seq[String] = Seq("term", "run_id", "block_idx", "first_doc", "last_doc",
    "n_docs", "max_tf", "min_dl", "sum_tf", "max_tf_norm", "doc_deltas_vb",
    "tfs_vb", "dls_vb")

  private def predicate(terms: Seq[String], lo: Long, hi: Long): FilterPredicate = {
    val inTerms = FilterApi.in[Binary, Operators.BinaryColumn](
      FilterApi.binaryColumn("term"), terms.map(Binary.fromString).toSet.asJava)
    val fromLo = FilterApi.and(inTerms, FilterApi.gtEq[java.lang.Long, Operators.LongColumn](
      FilterApi.longColumn("last_doc"), lo))
    if (hi == Long.MaxValue) fromLo
    else FilterApi.and(fromLo, FilterApi.lt[java.lang.Long, Operators.LongColumn](
      FilterApi.longColumn("first_doc"), hi))
  }

  private final class BlockReadSupport(bucket: Int, columns: Seq[String])
      extends ReadSupport[PostingBlock] {
    override def init(ctx: InitContext): ReadSupport.ReadContext = {
      val file = ctx.getFileSchema
      new ReadSupport.ReadContext(
        new MessageType(file.getName,
          columns.map(c => file.getType(file.getFieldIndex(c))).asJava))
    }

    override def prepareForRead(conf: Configuration, meta: java.util.Map[String, String],
        fileSchema: MessageType, ctx: ReadSupport.ReadContext): RecordMaterializer[PostingBlock] =
      new BlockMaterializer(bucket, columns)
  }

  /** Assembles one [[PostingBlock]] per record. The block is built only for
    * a record the pushed filter keeps ([[getCurrentRecord]] is not called
    * for the others), so a skipped record copies no payload bytes.
    */
  private final class BlockMaterializer(bucket: Int, columns: Seq[String])
      extends RecordMaterializer[PostingBlock] {
    private var term, deltas, tfs, dls: Binary = _
    private var runId, blockIdx, nDocs, maxTf, minDl = 0
    private var firstDoc, lastDoc, sumTf = 0L
    private var maxTfNorm = 0.0

    private def ints(set: Int => Unit): Converter = new PrimitiveConverter {
      override def addInt(v: Int): Unit = set(v)
    }
    private def longs(set: Long => Unit): Converter = new PrimitiveConverter {
      override def addLong(v: Long): Unit = set(v)
    }
    private def binaries(set: Binary => Unit): Converter = new PrimitiveConverter {
      override def addBinary(v: Binary): Unit = set(v)
    }

    private val fields: Array[Converter] = columns.map(Columns.zip(Seq[Converter](
      binaries(term = _), ints(runId = _), ints(blockIdx = _), longs(firstDoc = _),
      longs(lastDoc = _), ints(nDocs = _), ints(maxTf = _), ints(minDl = _),
      longs(sumTf = _),
      new PrimitiveConverter { override def addDouble(v: Double): Unit = maxTfNorm = v },
      binaries(deltas = _), binaries(tfs = _), binaries(dls = _))).toMap).toArray

    private val root = new GroupConverter {
      override def getConverter(i: Int): Converter = fields(i)
      override def start(): Unit = { term = null; deltas = null; tfs = null; dls = null }
      override def end(): Unit = ()
    }

    override def getRootConverter: GroupConverter = root

    private def bytes(b: Binary): Array[Byte] = if (b == null) null else b.getBytes

    override def getCurrentRecord: PostingBlock = PostingBlock(term.toStringUsingUTF8,
      bucket, runId, blockIdx, firstDoc, lastDoc, nDocs, maxTf, minDl, sumTf, maxTfNorm,
      bytes(deltas), bytes(tfs), bytes(dls))
  }
}
