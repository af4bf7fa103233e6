package graft.io

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.hadoop.{ParquetInputFormat, ParquetReader}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.MessageType

import graft.core.{Blocks, TermBlock}

/** One postings data file: its path, its length and the bucket its
  * `bucket=N` directory names.
  */
final case class PostingsFile(path: String, length: Long, bucket: Int)

/** The records of a postings directory as blocks: its `columns`, in record
  * field order (`term`, `first_doc` and `last_doc` among them), and the
  * block `record` makes of one record's values and its bucket.
  */
final case class BlockLayout[B <: TermBlock](columns: Seq[String],
    record: (Int, BlockLayout.Fields) => B)(implicit val tag: ClassTag[B])

object BlockLayout {
  /** One record's values by their column's index in the layout; a column
    * not read holds 0 or null.
    */
  final class Fields private[io] (n: Int) {
    private[io] val ints = new Array[Int](n)
    private[io] val longs = new Array[Long](n)
    private[io] val doubles = new Array[Double](n)
    private[io] val binaries = new Array[Binary](n)
    def int(i: Int): Int = ints(i)
    def long(i: Int): Long = longs(i)
    def double(i: Int): Double = doubles(i)
    def bytes(i: Int): Array[Byte] = if (binaries(i) == null) null else binaries(i).getBytes
    def string(i: Int): String = binaries(i).toStringUsingUTF8
  }
}

/** The blocks of `terms` in the postings `files` of `buckets` (under
  * `location`), read straight from parquet by the task that needs them —
  * no Spark scan, no shuffle. [[read]] pushes the term set and a docID
  * range down to row groups, pages and records, and reads only the
  * `columns` (of the `layout`'s, with `term`, `first_doc` and `last_doc`);
  * the fields of the others stay 0 or null.
  */
final case class PostingsScan[B <: TermBlock](location: String, files: Seq[PostingsFile],
    buckets: Seq[Int], terms: Seq[String], layout: BlockLayout[B], columns: Seq[String]) {

  /** The blocks of `terms` overlapping docs `[lo, hi)`: `last_doc >= lo`
    * and, unless `hi` is `Long.MaxValue` (an open-ended range), `first_doc < hi`.
    * Column chunks are read without Hadoop's vectored IO, whose reads the
    * file system statistics miss: the task's input bytes then count the
    * pages read, not only the footers and page indexes.
    */
  def read(lo: Long, hi: Long, conf: Configuration): Array[B] = {
    val filter = FilterCompat.get(PostingsScan.predicate(terms, lo, hi))
    val readConf = new Configuration(conf)
    readConf.setBoolean(ParquetInputFormat.HADOOP_VECTORED_IO_ENABLED, false)
    val out = Array.newBuilder[B](layout.tag)
    files.foreach { f =>
      val status = new FileStatus(f.length, false, 0, 0L, 0L, new Path(f.path))
      val reader = new ParquetReader.Builder[B](HadoopInputFile.fromStatus(status, readConf)) {
        override protected def getReadSupport: ReadSupport[B] =
          new PostingsScan.BlockReadSupport(f.bucket, layout, columns)
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

  /** The `columns` of the `terms`' blocks in the postings directory `dir`:
    * the files of the terms' buckets.
    */
  def of[B <: TermBlock](dir: String, terms: Seq[String], buckets: Int, layout: BlockLayout[B],
      columns: Seq[String]): PostingsScan[B] = {
    val qBuckets = terms.map(Blocks.bucketOf(_, buckets)).distinct.sorted
    val (location, files) = Catalog.postingsFiles(dir)
    PostingsScan(location, files.filter(f => qBuckets.contains(f.bucket)), qBuckets, terms,
      layout, columns)
  }

  /** The pushed filter of a read of `terms` over docs `[lo, hi)`. */
  private[io] def predicate(terms: Seq[String], lo: Long, hi: Long): FilterPredicate = {
    val inTerms = FilterApi.in[Binary, Operators.BinaryColumn](
      FilterApi.binaryColumn("term"), terms.map(Binary.fromString).toSet.asJava)
    val fromLo = FilterApi.and(inTerms, FilterApi.gtEq[java.lang.Long, Operators.LongColumn](
      FilterApi.longColumn("last_doc"), lo))
    if (hi == Long.MaxValue) fromLo
    else FilterApi.and(fromLo, FilterApi.lt[java.lang.Long, Operators.LongColumn](
      FilterApi.longColumn("first_doc"), hi))
  }

  private final class BlockReadSupport[B <: TermBlock](bucket: Int, layout: BlockLayout[B],
      columns: Seq[String]) extends ReadSupport[B] {
    override def init(ctx: InitContext): ReadSupport.ReadContext = {
      val file = ctx.getFileSchema
      new ReadSupport.ReadContext(
        new MessageType(file.getName,
          columns.map(c => file.getType(file.getFieldIndex(c))).asJava))
    }

    override def prepareForRead(conf: Configuration, meta: java.util.Map[String, String],
        fileSchema: MessageType, ctx: ReadSupport.ReadContext): RecordMaterializer[B] =
      new BlockMaterializer(bucket, layout, columns)
  }

  /** Assembles one block per record. The block is built only for a record
    * the pushed filter keeps ([[getCurrentRecord]] is not called for the
    * others), so a skipped record copies no payload bytes.
    */
  private final class BlockMaterializer[B <: TermBlock](bucket: Int, layout: BlockLayout[B],
      columns: Seq[String]) extends RecordMaterializer[B] {
    private val fields = new BlockLayout.Fields(layout.columns.length)

    // column i of the read lands in its layout slot, whatever its type
    private val converters: Array[Converter] = columns.map { c =>
      val i = layout.columns.indexOf(c)
      new PrimitiveConverter {
        override def addInt(v: Int): Unit = fields.ints(i) = v
        override def addLong(v: Long): Unit = fields.longs(i) = v
        override def addDouble(v: Double): Unit = fields.doubles(i) = v
        override def addBinary(v: Binary): Unit = fields.binaries(i) = v
      }: Converter
    }.toArray

    private val root = new GroupConverter {
      override def getConverter(i: Int): Converter = converters(i)
      override def start(): Unit =
        java.util.Arrays.fill(fields.binaries.asInstanceOf[Array[AnyRef]], null)
      override def end(): Unit = ()
    }

    override def getRootConverter: GroupConverter = root

    override def getCurrentRecord: B = layout.record(bucket, fields)
  }
}
