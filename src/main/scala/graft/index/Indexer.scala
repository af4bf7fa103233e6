package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.PostingBlock
import graft.io.{Catalog, Records}
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

/** Index construction over an already doc-keyed corpus (SURVEY.md §3.1);
  * transcript input goes through [[IndexBuildJob]], whose S1 assigns the
  * docIDs.
  *
  * Shuffle census of [[buildFromDocs]] (the whole scaling story — SURVEY.md
  * §3.1):
  *   1. the equal-width docID range exchange ([[gridExchange]]) — the
  *      build's one corpus exchange, skew-free by construction (the key is
  *      a doc range, never the term); [[Spimi.invert]] then inverts each
  *      cell in place;
  *   2. the bucket repartition of the compressed blocks at the postings
  *      write (Catalog.writePostings);
  *   3. the dictionary groupBy(term) — metadata-only: postings are re-read
  *      with the binary payload columns pruned away, so heavy terms never
  *      cross a shuffle uncompressed.
  */
object Indexer {

  final case class BuildResult(paths: IndexPaths, stats: CorpusStats, meta: IndexMeta)

  def buildFromDocs(
      docs: Dataset[Doc],
      root: String,
      buckets: Int = 16,
      targetRun: Long = 1 << 20,
      numPartitionsOpt: Option[Int] = None,
      analyzer: String = "standard",
      synonyms: Map[String, String] = Map.empty): BuildResult = {
    val spark = docs.sparkSession
    import spark.implicits._
    val numPartitions = numPartitionsOpt.getOrElse(spark.sessionState.conf.numShufflePartitions)
    val paths = IndexPaths(root)

    // doc lengths + corpus stats (includes empty docs in N / avgdl); avgdl
    // must precede encoding (block-max bounds need it)
    val dls = TermFreqs.docLengths(docs, analyzer).persist(StorageLevel.MEMORY_AND_DISK)
    val stats = TermFreqs.corpusStats(dls)
    val docIdSpace = {
      val r = dls.toDF("doc_id", "dl").agg(max($"doc_id")).head()
      if (r.isNullAt(0)) 0L else r.getLong(0) + 1L
    }
    dls.unpersist(blocking = false)

    // one doc-range exchange of the corpus, in-memory inversion per cell.
    // Cell count ties run size to targetRun when docs are dense (≈1 posting
    // per doc per term worst case), floored at 2× parallelism for balance.
    val grids = math.max(numPartitions * 2,
      math.min(1 << 20, (docIdSpace / math.max(1L, targetRun)).toInt + 1))
    val (rows, starts) = gridExchange(docs, grids, docIdSpace, numPartitions)
    Catalog.writePostings(Spimi.invert(rows, starts, stats.avgdl, buckets, analyzer, synonyms),
      paths.postings, SaveMode.Overwrite)

    // the term-keyed merge (dictionary) + stats + meta
    if (synonyms.nonEmpty) Catalog.writeSynonyms(spark, paths, synonyms)
    Catalog.writeDictionary(dictionaryOf(spark, paths.postings), paths.dictionary)
    Catalog.writeCorpusStats(spark, stats, paths.corpusStats)
    val meta = IndexMeta(buckets, targetRun, docIdSpace, analyzer = analyzer,
      synonyms = synonyms.nonEmpty)
    writeMeta(spark, meta, paths.meta)
    BuildResult(paths, stats, meta)
  }

  /** The equal-width docID range exchange under [[buildFromDocs]] and
    * [[PositionalIndex.build]]: cell i = [i·width, (i+1)·width) with
    * width = ⌈docIdSpace / grids⌉, range-partitioned on the cell
    * (`doc_id DIV width`) and doc-sorted within partitions, so every cell
    * lies whole and ascending in one partition. Returns the
    * (grid, doc_id, text) rows and the cell starts i·width.
    */
  private[index] def gridExchange(docs: Dataset[Doc], grids: Int,
      docIdSpace: Long, numPartitions: Int): (DataFrame, Array[Long]) = {
    import docs.sparkSession.implicits._
    val width = math.max(1L, (docIdSpace + grids - 1) / grids)
    val rows = docs.toDF()
      .withColumn("grid", expr(s"CAST(doc_id DIV $width AS INT)"))
      .repartitionByRange(numPartitions, $"grid")
      .sortWithinPartitions($"grid", $"doc_id")
      .select($"grid", $"doc_id", $"text")
    (rows, Array.tabulate(grids)(_ * width))
  }

  /** The dictionary from the postings at `postings`: per term df = Σ n_docs,
    * cf = Σ sum_tf and the max max_tf_norm, from the block headers alone
    * (payloads pruned at the scan). Keyword-field postings (KeywordIndex
    * `field:value` terms — ':' never appears in an analyzed token) stay
    * out: they carry no idf and the dictionary doubles as the text-term
    * stats table. The full derivation under every build, compaction and
    * purge; a streaming batch adds to the published one ([[dictionaryPlus]]).
    */
  private[graft] def dictionaryOf(spark: SparkSession,
      postings: String): Dataset[DictEntry] =
    merged(headers(spark.read.parquet(postings)))

  /** `prev` ⊕ the dictionary of `blocks`: per term the df and cf added and
    * the max of max_tf_norm taken, in one aggregation over `prev`'s rows and
    * the blocks' headers. Blocks, once written, never change, so when `prev`
    * is the dictionary of the postings `blocks` are appended to, this is
    * row for row [[dictionaryOf]] of the postings after the append — at the
    * cost of the dictionary and the new blocks, not of every block.
    */
  private[graft] def dictionaryPlus(prev: Option[Dataset[DictEntry]],
      blocks: Dataset[PostingBlock]): Dataset[DictEntry] = {
    val rows = headers(blocks.toDF())
    merged(prev.fold(rows)(_.toDF().unionByName(rows)))
  }

  // a block's contribution to its term's dictionary row
  private def headers(blocks: DataFrame): DataFrame =
    blocks.select(col("term"), col("n_docs").cast("long").as("df"),
      col("sum_tf").cast("long").as("cf"), col("max_tf_norm"))

  // dictionary rows of the (term, df, cf, max_tf_norm) rows, keyword terms out
  private def merged(rows: DataFrame): Dataset[DictEntry] = {
    import rows.sparkSession.implicits._
    rows.filter(!$"term".contains(":"))
      .groupBy($"term")
      .agg(sum($"df").as("df"), sum($"cf").as("cf"), max($"max_tf_norm").as("max_tf_norm"))
      .as[DictEntry]
  }

  /** Write `meta` as the one-record meta generation at `dir`, on the driver
    * (`Records.write`: no Spark job).
    */
  def writeMeta(spark: SparkSession, meta: IndexMeta, dir: String): Unit =
    Records.write(dir, Seq(meta), spark.sparkContext.hadoopConfiguration)

  // per-JVM memo keyed by (resolved path, fingerprint) — published meta
  // generations are immutable (Catalog's artifact-memo contract)
  private[graft] val metaMemo = new graft.io.GenerationMemo[IndexMeta]

  /** The index's meta, read on the driver once per published generation
    * (`Catalog.readOne`: no Spark job; a meta other than one record fails,
    * naming its path). A meta written before a column existed reads that
    * column's [[IndexMeta]] default: `last_batch_id` −1, `analyzer`
    * "standard", `synonyms` false.
    */
  def readMeta(spark: SparkSession, root: String): IndexMeta = {
    val paths = IndexPaths(root)
    val d = IndexMeta(0, 0L, 0L)
    Catalog.readOne(metaMemo, paths.metaBase, paths.meta, Seq("buckets", "target_run",
        "doc_id_space", "incremental", "last_batch_id", "analyzer", "synonyms"))(
      r => IndexMeta(r.int(0), r.long(1), r.long(2), r.boolean(3),
        r.long(4, d.last_batch_id), r.string(5, d.analyzer), r.boolean(6, d.synonyms)))
  }
}
