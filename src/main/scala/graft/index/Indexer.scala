package graft.index

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.io.Catalog
import graft.io.Catalog.IndexPaths
import graft.model._

/** Small per-index metadata (bucket count must match at query time).
  * `incremental` marks indexes grown by StreamingIngest: their stored
  * block-max bounds were computed against an older (smaller) avgdl, so
  * query-time WAND auto-switches to robust bounds (recomputed from
  * max_tf/min_dl against the current avgdl) — rank-safety does not depend
  * on the caller remembering a flag.
  * `last_batch_id` is the streaming-ingest idempotency cursor: the highest
  * micro-batch id already folded into this index. It rides the SAME atomic
  * meta swap as the segment commit, so a replayed micro-batch (driver died
  * between the meta swap and the streaming checkpoint commit) is detected
  * and skipped instead of appended twice. −1 = batch-built index.
  */
final case class IndexMeta(buckets: Int, target_run: Long, doc_id_space: Long,
    incremental: Boolean = false, last_batch_id: Long = -1L,
    analyzer: String = "standard", synonyms: Boolean = false)

/** Index construction orchestration (SURVEY.md §3.1, stages S2–S4 over an
  * already doc-keyed corpus; DocIds.assign is stage S1 for transcript input).
  *
  * Shuffle census (the whole scaling story — SURVEY.md §3.1):
  *   1. df/cf groupBy(term) — partial aggregation absorbs head-term skew;
  *   2. the salted repartition(term, salt) — THE skew-critical exchange,
  *      bounded per-group by SaltPlan;
  * plus, for transcripts, the S1 range partition. The dictionary "merge" is
  * metadata-only: postings are re-read with the binary payload columns
  * pruned away, so heavy terms never cross a shuffle uncompressed.
  */
object Indexer {

  final case class BuildResult(paths: IndexPaths, stats: CorpusStats, meta: IndexMeta)

  def buildFromDocs(
      docs: Dataset[Doc],
      root: String,
      buckets: Int = 16,
      targetRun: Long = 1 << 20,
      numPartitionsOpt: Option[Int] = None,
      statsOpt: Option[CorpusStats] = None,
      analyzer: String = "standard",
      synonyms: Map[String, String] = Map.empty): BuildResult = {
    val spark = docs.sparkSession
    import spark.implicits._
    val numPartitions = numPartitionsOpt.getOrElse(spark.sessionState.conf.numShufflePartitions)
    val paths = IndexPaths(root)

    // S2: doc lengths + corpus stats (includes empty docs in N / avgdl);
    // avgdl must precede encoding (block-max bounds need it). Callers that
    // already computed stats during docID assignment (buildFromTurns —
    // dense 0..N−1 ids, so doc_id_space == n_docs) pass them in and this
    // whole corpus pass is skipped.
    val (stats, docIdSpace) = statsOpt match {
      case Some(st) => (st, st.n_docs)
      case None =>
        val dls = TermFreqs.docLengths(docs, analyzer).persist(StorageLevel.MEMORY_AND_DISK)
        val st = TermFreqs.corpusStats(dls)
        val ds = {
          val r = dls.toDF("doc_id", "dl").agg(max($"doc_id")).head()
          if (r.isNullAt(0)) 0L else r.getLong(0) + 1L
        }
        dls.unpersist(blocking = false)
        (st, ds)
    }

    // S3: grid SPIMI — one doc-range exchange of the corpus, in-memory
    // inversion per grid cell, compressed runs out (Spimi.buildBlocksGrid).
    // Grid count ties run size to targetRun when docs are dense (≈1 posting
    // per doc per term worst case), floored at 2× parallelism for balance.
    val grids = math.max(numPartitions * 2,
      math.min(1 << 20, (docIdSpace / math.max(1L, targetRun)).toInt + 1))
    val blocks = Spimi.buildBlocksGrid(docs, stats.avgdl, buckets, grids,
      docIdSpace, numPartitions, analyzer, synonyms)
    Catalog.writePostings(blocks, paths)

    // S4: the term-keyed merge (dictionary) + stats + meta
    if (synonyms.nonEmpty) Catalog.writeSynonyms(spark, paths, synonyms)
    finalizeIndex(spark, paths, stats, buckets, targetRun, docIdSpace, analyzer,
      synonyms.nonEmpty)
  }

  /** Shared finalize: dictionary from block headers (metadata-only
    * aggregation, payloads pruned at the scan), corpus stats, meta — ONE
    * definition for both build paths so the aggregation can never drift
    * between them.
    */
  private def finalizeIndex(spark: SparkSession, paths: IndexPaths,
      stats: CorpusStats, buckets: Int, targetRun: Long,
      docIdSpace: Long, analyzer: String = "standard",
      synonyms: Boolean = false): BuildResult = {
    import spark.implicits._
    Catalog.writeDictionary(dictionaryOf(spark, paths.postings), paths)
    Seq(stats).toDS().write.mode(SaveMode.Overwrite).parquet(paths.corpusStats)
    val meta = IndexMeta(buckets, targetRun, docIdSpace, analyzer = analyzer,
      synonyms = synonyms)
    Seq(meta).toDS().write.mode(SaveMode.Overwrite).parquet(paths.meta)
    BuildResult(paths, stats, meta)
  }

  /** The dictionary from the postings at `postings`: per term df = Σ n_docs,
    * cf = Σ sum_tf and the max max_tf_norm, from the block headers alone
    * (payloads pruned at the scan). Keyword-field postings (KeywordIndex
    * `field:value` terms — ':' never appears in an analyzed token) stay
    * out: they carry no idf and the dictionary doubles as the text-term
    * stats table. The one derivation under every build, compaction and
    * purge.
    */
  private[index] def dictionaryOf(spark: SparkSession,
      postings: String): Dataset[DictEntry] = {
    import spark.implicits._
    spark.read.parquet(postings)
      .filter(!$"term".contains(":"))
      .groupBy($"term")
      .agg(sum($"n_docs").as("df"), sum($"sum_tf").as("cf"),
        max($"max_tf_norm").as("max_tf_norm"))
      .select($"term", $"df", $"cf", $"max_tf_norm")
      .as[DictEntry]
  }

  /** Transcript-corpus build: S1 docID assignment first, docid_map written
    * alongside the segments. Like IndexBuildJob, the assignment's exchange is
    * the build's ONLY corpus exchange — SPIMI inverts the persisted
    * post-assignment partitions in place (part-aligned cells, round 4).
    */
  def buildFromTurns(
      turns: Dataset[Turn],
      root: String,
      buckets: Int = 16,
      targetRun: Long = 1 << 20,
      numPartitionsOpt: Option[Int] = None): BuildResult = {
    val spark = turns.sparkSession
    import spark.implicits._
    val numPartitions = numPartitionsOpt.getOrElse(spark.sessionState.conf.numShufflePartitions)
    val (assigned, stats, offsets) = DocIds.assignWithStatsOffsets(turns, numPartitions)
    val numbered = assigned.persist(StorageLevel.MEMORY_AND_DISK)
    val paths = IndexPaths(root)
    Catalog.writeDocidMap(DocIds.toDocidMap(numbered), paths)

    val starts = Spimi.cellStarts(offsets, targetRun)
    Catalog.writePostings(
      Spimi.buildBlocksAligned(numbered, starts, stats.avgdl, buckets), paths)
    val res = finalizeIndex(spark, paths, stats, buckets, targetRun, stats.n_docs)
    numbered.unpersist(blocking = false)
    res
  }

  // per-JVM memo keyed by (resolved path, fingerprint) — published meta
  // generations are immutable (Catalog's artifact-memo contract); before
  // this every indexed query paid a one-row parquet job for the meta read
  private[graft] val metaMemo = new graft.io.GenerationMemo[IndexMeta]

  def readMeta(spark: SparkSession, root: String): IndexMeta = {
    val paths = IndexPaths(root)
    val p = paths.meta
    metaMemo(paths.metaBase, (p, graft.io.Catalog.fingerprint(p)))(
      readMetaUncached(spark, p))
  }

  private def readMetaUncached(spark: SparkSession, resolved: String): IndexMeta = {
    import spark.implicits._
    val df = spark.read.parquet(resolved)
    // older meta parquet lacks later columns — default them (pre-r3:
    // last_batch_id; pre-r5: analyzer)
    var full = df
    if (!full.columns.contains("last_batch_id"))
      full = full.withColumn("last_batch_id", lit(-1L))
    if (!full.columns.contains("analyzer"))
      full = full.withColumn("analyzer", lit("standard"))
    if (!full.columns.contains("synonyms"))
      full = full.withColumn("synonyms", lit(false))
    full.select($"buckets", $"target_run", $"doc_id_space", $"incremental",
      $"last_batch_id", $"analyzer", $"synonyms").as[IndexMeta].head()
  }
}
