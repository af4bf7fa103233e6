package graft.io

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.io.api.Binary

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
    record: (Int, Fields) => B)(implicit val tag: ClassTag[B])

/** The blocks of `terms` in the postings `files` of `buckets` (under
  * `location`), read straight from parquet ([[Records.read]]) by the task
  * that needs them — no Spark scan, no shuffle. [[read]] pushes the term set and a docID
  * range down to row groups, pages and records, and reads only the
  * `columns` (of the `layout`'s, with `term`, `first_doc` and `last_doc`);
  * the fields of the others stay 0 or null.
  */
final case class PostingsScan[B <: TermBlock](location: String, files: Seq[PostingsFile],
    buckets: Seq[Int], terms: Seq[String], layout: BlockLayout[B], columns: Seq[String]) {

  /** The blocks of `terms` overlapping docs `[lo, hi)`: `last_doc >= lo`
    * and, unless `hi` is `Long.MaxValue` (an open-ended range), `first_doc < hi`.
    */
  def read(lo: Long, hi: Long, conf: Configuration): Array[B] = {
    val fileBuckets = files.map(_.bucket).toArray
    Records.read(files.map(f => (f.path, f.length)), layout.columns, columns,
      FilterCompat.get(PostingsScan.predicate(terms, lo, hi)), conf)(
      (i, r) => layout.record(fileBuckets(i), r))(layout.tag)
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
}
