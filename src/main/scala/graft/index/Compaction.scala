package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}

import graft.core.{Blocks, PostingBlock, RunPosting}
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
  * bucket) feeds the merge, streaming O(block) memory per task; the postings
  * sink's own bucket exchange writes one file per bucket.
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
    val paths = IndexPaths(root)
    if (!Fs.exists(paths.postings)) return
    val avgdl = Catalog.readCorpusStats(spark, paths).avgdl
    val meta = Indexer.readMeta(spark, root)

    publishPostings(paths, merged(spark, paths, avgdl, meta.buckets, None))

    // dictionary from the fresh block headers (df/cf exact: one run per term
    // now, each doc once per term; max_tf_norm freshly recomputed)
    Fs.publish(paths.dictionaryBase)(
      Catalog.writeDictionary(Indexer.dictionaryOf(spark, paths.postings), _))

    // bounds are fresh against the current avgdl again: exact block-max
    // skipping is safe until the next append flips `incremental` back on
    Fs.publish(paths.metaBase)(Indexer.writeMeta(spark, meta.copy(incremental = false), _))
  }

  /** The merge rewrite under [[compact]] and the broadcast purge
    * ([[Deletes.purge]]): the live postings re-encoded as ONE run (run 0) of
    * full blocks per term, with bounds against `avgdl`, dropping the docs of
    * `deleted` (sorted). One exchange (repartition by bucket; a term never
    * spans buckets, so its blocks arrive contiguous, sorted by first_doc),
    * then each block decoded lazily into the run encoder — O(block) memory
    * per task.
    */
  private[index] def merged(spark: SparkSession, paths: IndexPaths, avgdl: Double,
      buckets: Int, deleted: Option[Broadcast[Array[Long]]]): Dataset[PostingBlock] = {
    import spark.implicits._
    Catalog.readPostings(spark, paths)
      .repartition($"bucket")
      .sortWithinPartitions($"bucket", $"term", $"first_doc")
      .mapPartitions { blocks =>
        val del = deleted.fold(Array.emptyLongArray)(_.value)
        val rows = blocks.flatMap { b =>
          val d = Blocks.decode(b)
          (0 until d.docs.length).iterator
            .filter(i => del.length == 0 || java.util.Arrays.binarySearch(del, d.docs(i)) < 0)
            .map(i => RunPosting(b.term, 0, d.docs(i), d.tfs(i), d.dls(i)))
        }
        Blocks.encodeRuns(rows, avgdl, buckets)
      }
  }

  /** Publish `blocks` as the next postings generation. The keyword rows ride
    * every rewrite, so their `_kw_` markers are forwarded with them.
    */
  private[index] def publishPostings(paths: IndexPaths,
      blocks: Dataset[PostingBlock]): Unit =
    Fs.publish(paths.postingsBase) { staging =>
      Catalog.writePostings(blocks, staging, SaveMode.Overwrite)
      Fs.listTopFiles(paths.postings, "_kw_")
        .foreach(m => Fs.copyDir(m, s"$staging/${new org.apache.hadoop.fs.Path(m).getName}"))
    }
}
