package graft.index

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Blocks, PostingBlock}
import graft.io.{Catalog, Fs}
import graft.io.Catalog.IndexPaths

/** Segment compaction for incrementally-grown indexes (VERDICT r1 item 5 —
  * the Lucene segment-merge analog).
  *
  * Each streaming micro-batch appends a delta segment: per-bucket small
  * files, per-term extra runs, and a partial tail block per (term, grid).
  * After thousands of batches that means long WAND cursor block arrays,
  * under-filled blocks, and a file-count explosion at the scan.
  *
  * Compaction rewrites the postings in one pass: all blocks of a term are
  * decoded in first_doc order (runs cover disjoint ascending docID ranges —
  * the append invariant — so concatenation yields globally ascending
  * docIDs) and re-encoded as ONE run of full 128-doc blocks, with
  * `max_tf_norm` recomputed against the CURRENT avgdl — so the compacted
  * segments' stored bounds are fresh again. One exchange (repartition by
  * bucket), streaming O(block) memory per task, one file per bucket out.
  *
  * Query results are unchanged (StreamingSpec asserts identity); only the
  * physical layout and bound tightness improve.
  */
object Compaction {

  /** Rewrite postings + dictionary in place (stage-new + atomic pointer
    * swap, [[Fs.publishVersion]] — readers concurrent with the swap resolve
    * a complete old or new artifact, never a missing dir).
    *
    * Publish ORDER is a rank-safety invariant: postings → dictionary →
    * meta, while every query reads meta FIRST and postings LAST. The meta
    * written here clears `incremental` (exact stored bounds are trusted
    * again), which is only safe against the COMPACTED postings — and a
    * reader can only observe the new meta after the new postings are
    * already live, by the order of both sides. The old meta
    * (incremental=true → robust bounds) is safe against either postings
    * generation. Mixed old-dictionary/new-postings reads are benign:
    * compaction preserves df/cf exactly and queries take bounds from
    * postings blocks, not the dictionary.
    */
  def compact(spark: SparkSession, root: String): Unit = {
    import spark.implicits._
    val paths = IndexPaths(root)
    if (!Fs.exists(paths.postings)) return
    val avgdl = Catalog.readCorpusStats(spark, paths).avgdl
    val meta = Indexer.readMeta(spark, root)

    val postingsNew = s"${paths.postingsBase}_staging"
    Catalog.readPostings(spark, paths)
      .repartition($"bucket")
      .sortWithinPartitions($"bucket", $"term", $"first_doc")
      .mapPartitions(rows => new MergeIterator(rows, avgdl, meta.buckets))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("bucket")
      .parquet(postingsNew)
    // keyword rows were carried into the rewrite — forward their markers too
    Fs.listTopFiles(paths.postings, "_kw_")
      .foreach(m => Fs.copyDir(m, s"$postingsNew/${new org.apache.hadoop.fs.Path(m).getName}"))
    Fs.publishVersion(paths.postingsBase, postingsNew)

    // dictionary from the fresh block headers (df/cf exact: one run per term
    // now, each doc once per term; max_tf_norm freshly recomputed)
    val dictNew = s"${paths.dictionaryBase}_staging"
    Indexer.dictionaryOf(spark, paths.postings)
      .write.mode(SaveMode.Overwrite).parquet(dictNew)
    Fs.publishVersion(paths.dictionaryBase, dictNew)

    // bounds are fresh against the current avgdl again: exact block-max
    // skipping is safe until the next append flips `incremental` back on
    val metaNew = s"${paths.metaBase}_staging"
    Seq(meta.copy(incremental = false)).toDS()
      .write.mode(SaveMode.Overwrite).parquet(metaNew)
    Fs.publishVersion(paths.metaBase, metaNew)
  }

  /** Streaming per-partition merge: input blocks sorted by (bucket, term,
    * first_doc); a term never spans buckets (bucket = hash(term)), so term
    * groups are contiguous. Decode each group in order, feed one
    * run-0 Accumulator — O(BlockSize) memory. `deleted` (sorted, may be
    * empty) is the tombstone set an expunge merge drops ([[Deletes.purge]]).
    */
  private[index] final class MergeIterator(
      rows: Iterator[PostingBlock],
      avgdl: Double,
      buckets: Int,
      deleted: Array[Long] = Array.emptyLongArray) extends Iterator[PostingBlock] {

    private val pending = new java.util.ArrayDeque[PostingBlock](4)
    private var acc: Blocks.Accumulator = _
    private var curTerm: String = _

    private def fill(): Unit = {
      while (pending.isEmpty && rows.hasNext) {
        val b = rows.next()
        if (acc == null || b.term != curTerm) {
          if (acc != null) acc.flush().foreach(pending.add)
          acc = new Blocks.Accumulator(b.term, 0, avgdl, buckets)
          curTerm = b.term
        }
        val d = Blocks.decode(b)
        var i = 0
        while (i < d.docs.length) {
          if (deleted.length == 0 ||
              java.util.Arrays.binarySearch(deleted, d.docs(i)) < 0)
            acc.add(d.docs(i), d.tfs(i), d.dls(i)).foreach(pending.add)
          i += 1
        }
      }
      if (pending.isEmpty && !rows.hasNext && acc != null) {
        acc.flush().foreach(pending.add)
        acc = null
      }
    }

    override def hasNext: Boolean = { fill(); !pending.isEmpty }
    override def next(): PostingBlock = { fill(); pending.poll() }
  }
}
