package graft.io

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetInputFormat, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport, WriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.OutputFile
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordConsumer, RecordMaterializer}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, SparkToParquetSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** One record's values by their column's index in the read's layout. A
  * column the read skips, a file does not hold or a record holds null for
  * gives the accessor's `default`: 0, false or null unless one is passed.
  */
final class Fields private[io] (n: Int) {
  private[io] val ints = new Array[Int](n)
  private[io] val longs = new Array[Long](n)
  private[io] val doubles = new Array[Double](n)
  private[io] val booleans = new Array[Boolean](n)
  private[io] val binaries = new Array[Binary](n)
  private[io] val set = new Array[Boolean](n)
  def int(i: Int, default: Int = 0): Int = if (set(i)) ints(i) else default
  def long(i: Int, default: Long = 0L): Long = if (set(i)) longs(i) else default
  def double(i: Int, default: Double = 0.0): Double = if (set(i)) doubles(i) else default
  def boolean(i: Int, default: Boolean = false): Boolean = if (set(i)) booleans(i) else default
  def bytes(i: Int): Array[Byte] = if (set(i)) binaries(i).getBytes else null
  def string(i: Int, default: String = null): String =
    if (set(i)) binaries(i).toStringUsingUTF8 else default
}

/** The one parquet record reader, and the writer of the one-record catalog
  * artifacts: flat records of parquet files read or written with
  * parquet-hadoop in the calling thread — no Spark job, no schema
  * inference. A shard task reads its postings blocks with it
  * ([[PostingsScan]]), the driver the small catalog artifacts (meta, corpus
  * stats, a byte-gated dictionary, synonyms: `Catalog.readOne` and its kin)
  * and writes meta and corpus stats (`Indexer.writeMeta`,
  * `Catalog.writeCorpusStats`).
  */
object Records {

  /** The records of the parquet `files` (path, length), in file order,
    * each the value `make` builds of the index of its file in `files` and
    * its [[Fields]]. `layout` names the columns by field index; the read
    * takes `columns` (of the layout's) where a file's schema holds them and
    * pushes `filter` down to row groups, pages and records. Column chunks
    * are read without Hadoop's vectored IO, whose reads the file system
    * statistics miss: a task's input bytes then count the pages read, not
    * only the footers and page indexes.
    */
  def read[R: ClassTag](files: Seq[(String, Long)], layout: Seq[String], columns: Seq[String],
      filter: FilterCompat.Filter, conf: Configuration)(make: (Int, Fields) => R): Array[R] = {
    val readConf = new Configuration(conf)
    readConf.setBoolean(ParquetInputFormat.HADOOP_VECTORED_IO_ENABLED, false)
    val out = Array.newBuilder[R]
    files.iterator.zipWithIndex.foreach { case ((path, length), i) =>
      val status = new FileStatus(length, false, 0, 0L, 0L, new Path(path))
      val reader = new ParquetReader.Builder[R](HadoopInputFile.fromStatus(status, readConf)) {
        override protected def getReadSupport: ReadSupport[R] =
          new FieldsReadSupport(layout, columns, make(i, _))
      }.withFilter(filter).useStatsFilter().useDictionaryFilter()
        .useColumnIndexFilter().useRecordFilter().build()
      try {
        var r = reader.read()
        while (r != null) { out += r; r = reader.read() }
      } finally reader.close()
    }
    out.result()
  }

  /** Write `rows` as the one data file of the directory `dir`, replacing
    * what `dir` held, in the layout Spark's parquet writer gives `T`: its
    * encoder's schema (primitive fields `required`, strings `optional`),
    * snappy pages, Spark's row metadata in the footer and a `_SUCCESS`
    * marker — so Spark and [[read]] read the file as they read one Spark
    * wrote. Fields may be Int, Long, Double, Boolean or String.
    */
  def write[T <: Product: TypeTag](dir: String, rows: Seq[T], conf: Configuration): Unit = {
    val schema = Encoders.product[T].schema
    val out = new Path(dir)
    val fs = out.getFileSystem(conf)
    fs.delete(out, true)
    val file = new Path(out, s"part-00000-${java.util.UUID.randomUUID()}-c000.snappy.parquet")
    val writer = new ProductWriterBuilder(HadoopOutputFile.fromPath(file, conf),
      new ProductWriteSupport(schema))
      .withConf(conf).withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try rows.foreach(writer.write) finally writer.close()
    fs.create(new Path(out, "_SUCCESS"), true).close()
  }

  private final class ProductWriterBuilder(file: OutputFile,
      support: WriteSupport[Product]) extends ParquetWriter.Builder[Product, ProductWriterBuilder](file) {
    override protected def self(): ProductWriterBuilder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[Product] = support
  }

  /** A product's fields in `schema`'s order as one parquet record; a null
    * field is left out of the record.
    */
  private final class ProductWriteSupport(schema: StructType) extends WriteSupport[Product] {
    private val names = schema.fieldNames
    private var consumer: RecordConsumer = _

    override def init(conf: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(new SparkToParquetSchemaConverter(SQLConf.get).convert(schema),
        Map("org.apache.spark.version" -> org.apache.spark.SPARK_VERSION_SHORT,
          ParquetReadSupport.SPARK_METADATA_KEY -> schema.json).asJava)

    override def prepareForWrite(c: RecordConsumer): Unit = consumer = c

    override def write(row: Product): Unit = {
      consumer.startMessage()
      row.productIterator.zipWithIndex.foreach {
        case (null, _) =>
        case (v, i) =>
          consumer.startField(names(i), i)
          v match {
            case x: Int => consumer.addInteger(x)
            case x: Long => consumer.addLong(x)
            case x: Double => consumer.addDouble(x)
            case x: Boolean => consumer.addBoolean(x)
            case x: String => consumer.addBinary(Binary.fromString(x))
            case x => throw new IllegalArgumentException(
              s"unsupported field ${names(i)}: ${x.getClass.getName}")
          }
          consumer.endField(names(i), i)
      }
      consumer.endMessage()
    }
  }

  private final class FieldsReadSupport[R](layout: Seq[String], columns: Seq[String],
      make: Fields => R) extends ReadSupport[R] {
    override def init(ctx: InitContext): ReadSupport.ReadContext = {
      val file = ctx.getFileSchema
      new ReadSupport.ReadContext(new MessageType(file.getName,
        columns.filter(file.containsField).map(c => file.getType(file.getFieldIndex(c))).asJava))
    }

    override def prepareForRead(conf: Configuration, meta: java.util.Map[String, String],
        fileSchema: MessageType, ctx: ReadSupport.ReadContext): RecordMaterializer[R] =
      new FieldsMaterializer(layout,
        ctx.getRequestedSchema.getFields.asScala.map(_.getName).toSeq, make)
  }

  /** Assembles one value per record. The value is built only for a record
    * the pushed filter keeps ([[getCurrentRecord]] is not called for the
    * others), so a skipped record copies no payload bytes.
    */
  private final class FieldsMaterializer[R](layout: Seq[String], read: Seq[String],
      make: Fields => R) extends RecordMaterializer[R] {
    private val fields = new Fields(layout.length)

    // column i of the read lands in its layout slot, whatever its type
    private val converters: Array[Converter] = read.map { c =>
      val i = layout.indexOf(c)
      new PrimitiveConverter {
        override def addInt(v: Int): Unit = { fields.ints(i) = v; fields.set(i) = true }
        override def addLong(v: Long): Unit = { fields.longs(i) = v; fields.set(i) = true }
        override def addDouble(v: Double): Unit = { fields.doubles(i) = v; fields.set(i) = true }
        override def addBoolean(v: Boolean): Unit = { fields.booleans(i) = v; fields.set(i) = true }
        override def addBinary(v: Binary): Unit = { fields.binaries(i) = v; fields.set(i) = true }
      }: Converter
    }.toArray

    private val root = new GroupConverter {
      override def getConverter(i: Int): Converter = converters(i)
      override def start(): Unit = java.util.Arrays.fill(fields.set, false)
      override def end(): Unit = ()
    }

    override def getRootConverter: GroupConverter = root

    override def getCurrentRecord: R = make(fields)
  }
}
