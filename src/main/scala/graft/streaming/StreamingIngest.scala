package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel

import graft.index._
import graft.io.{Catalog, Fs}
import graft.io.Catalog.IndexPaths
import graft.model._

/** Incremental (streaming) index ingest (SURVEY.md §2 row 23): new turns
  * arrive as a stream; each micro-batch builds a delta segment appended to
  * the same postings layout.
  *
  * Why appending Just Works: docIDs continue monotonically from the previous
  * `doc_id_space`, so a new segment's runs cover docID ranges strictly above
  * every older segment's — per-term block lists stay disjoint and ordered by
  * `first_doc`, exactly the invariant WAND cursors need. No compaction is
  * required for correctness (it remains an optimization).
  *
  * BM25 under a growing corpus: avgdl drifts, so older blocks' stored
  * `max_tf_norm` (computed against the build-time avgdl) would under-estimate
  * — queries over streaming indexes therefore use the robust WAND bounds
  * recomputed from (max_tf, min_dl) against the current avgdl
  * (Wand.TermCursor(robustBounds = true)); exact scoring always uses the
  * current avgdl since blocks carry (tf, dl).
  */
object StreamingIngest {

  /** Ingest one micro-batch: assign continued docIDs, build a delta segment,
    * refresh dictionary/stats/meta. Returns the new corpus stats.
    *
    * A batch reads and writes what it adds, not the index it grows. Its
    * blocks are cached, appended to the postings through the one sink
    * (`Catalog.writePostings`), and aggregated once more for the new
    * dictionary: the published dictionary ⊕ the batch's blocks — df and cf
    * added, max_tf_norm maxed (`Indexer.dictionaryPlus`). Older blocks never
    * change, so this is row for row `Indexer.dictionaryOf` over the grown
    * postings, which builds, compaction and purge still derive in full; no
    * older block, corpus row or per-batch term table is read. Corpus stats
    * and meta are one record each, written on the driver.
    *
    * `batchId` ≥ 0 makes the append idempotent under streaming replay: the
    * id is committed inside the SAME atomic meta swap as the segment, so a
    * micro-batch replayed after a driver failure between the meta swap and
    * the streaming checkpoint commit is detected (meta.last_batch_id ≥
    * batchId) and skipped instead of double-appended under fresh docIDs.
    * (A crash BEFORE the meta swap replays a partially-appended segment's
    * postings and corpus files — Overwrite-staged swaps cover dictionary/
    * stats/meta, and the appends themselves are the remaining
    * non-transactional window, disclosed and unchanged by the incremental
    * dictionary; an Iceberg sink closes it with a real snapshot commit.)
    */
  def ingestBatch(batch: Dataset[Turn], root: String, buckets: Int,
      targetRun: Long, batchId: Long = -1L): CorpusStats = {
    val spark = batch.sparkSession
    import spark.implicits._
    val paths = IndexPaths(root)
    val exists = Fs.exists(paths.meta)
    val (off, n0, tot0, last0) =
      if (exists) {
        val m = Indexer.readMeta(spark, root)
        if (batchId >= 0 && m.last_batch_id >= batchId)
          return Catalog.readCorpusStats(spark, paths) // replayed batch: no-op
        val s = Catalog.readCorpusStats(spark, paths)
        (m.doc_id_space, s.n_docs, s.total_tokens, m.last_batch_id)
      } else (0L, 0L, 0L, -1L)

    val parts = spark.sessionState.conf.numShufflePartitions
    // batch stats ride the docID assignment's own passes — no extra scan
    val (assigned, batchStats) = DocIds.assignWithStats(batch, parts)
    val numbered = assigned
      .map(t => NumberedTurn(t.doc_id + off, t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val docs = numbered.map(t => Doc(t.doc_id, t.text))
    val nNew = n0 + batchStats.n_docs
    val totNew = tot0 + batchStats.total_tokens
    val avgdlNew = if (nNew == 0) 0.0 else totNew.toDouble / nNew

    val tf = TermFreqs.fromDocs(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val tstats = TermFreqs.termStats(tf)
    val heavy = SaltPlan.heavyTerms(tstats, targetRun)
    // batch-local salt range: the segment's doc_ids live in [off, off+n)
    val salted = SaltPlan.saltRange(tf, heavy, off, off + batchStats.n_docs)
    // cached: the postings write and the dictionary step both read them
    val blocks = Spimi.buildBlocks(salted, avgdlNew, buckets, parts)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // append the delta segment
    Catalog.writePostings(blocks, paths.postings, SaveMode.Append)
    numbered.write.mode(SaveMode.Append).parquet(paths.corpusSorted)
    tf.unpersist(blocking = false)
    numbered.unpersist(blocking = false)

    // the new dictionary: the published one ⊕ this segment's blocks
    val prev = if (exists) Some(Catalog.readDictionary(spark, paths)) else None
    Fs.publish(paths.dictionaryBase)(
      Catalog.writeDictionary(Indexer.dictionaryPlus(prev, blocks), _))
    blocks.unpersist(blocking = false)

    val stats = CorpusStats(nNew, totNew, avgdlNew)
    Fs.publish(paths.corpusStatsBase)(Catalog.writeCorpusStats(spark, stats, _))
    // meta LAST (readers read it first — same ordering invariant as
    // Compaction.compact) and carrying the batch idempotency cursor
    Fs.publish(paths.metaBase)(Indexer.writeMeta(spark,
      IndexMeta(buckets, targetRun, off + batchStats.n_docs,
        incremental = true, last_batch_id = math.max(batchId, last0)), _))
    stats
  }

  /** Structured Streaming entry: watch a directory of turn parquet files and
    * index each micro-batch incrementally. `compactEvery` > 0 runs segment
    * compaction (index.Compaction) after every N batches, bounding file and
    * run counts over a long-running stream.
    */
  def start(spark: SparkSession, inputDir: String, root: String,
      checkpoint: String, buckets: Int = 8, targetRun: Long = 1 << 16,
      compactEvery: Int = 0): StreamingQuery = {
    import spark.implicits._
    val schema = Encoders.product[Turn].schema
    var batches = 0L
    spark.readStream
      .schema(schema)
      .parquet(inputDir)
      .as[Turn]
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Turn], batchId: Long) =>
        ingestBatch(batch, root, buckets, targetRun, batchId)
        batches += 1
        if (compactEvery > 0 && batches % compactEvery == 0)
          Compaction.compact(spark, root)
      }
      .start()
  }
}
