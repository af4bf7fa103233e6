package graft.io

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}

import graft.core.PostingBlock
import graft.model._

/** Table-format abstraction (SURVEY.md §2 rows 1, 13).
  *
  * Production design targets Iceberg (`spark.read.table` / `writeTo(...)
  * .append()`, hidden partitioning `bucket(B, term)`, snapshot-id
  * fingerprints). The sandbox has no Iceberg runtime jar (offline resolver),
  * so the same semantics are implemented over Parquet: explicit `bucket`
  * partition column (→ partition pruning), directory layout as table
  * identity, file-listing content hash as the snapshot fingerprint.
  * All semantics below are format-independent; swapping in Iceberg touches
  * only this file.
  */
object Catalog {

  /** Index segment layout under one root.
    *
    * The four artifacts that compaction / streaming refresh swap in place
    * (postings, dictionary, corpus_stats, meta) resolve through the version
    * pointer ([[Fs.resolveVersioned]]) so swaps are atomic for concurrent
    * readers; the `*Base` forms are the pointer anchors the publish side
    * uses ([[Fs.publishVersion]]). Resolution is a driver-side tiny-file
    * read per query — never on the executor path.
    */
  final case class IndexPaths(root: String) {
    def postingsBase: String = s"$root/postings"
    def postings: String = Fs.resolveVersioned(postingsBase)
    def dictionaryBase: String = s"$root/dictionary"
    def dictionary: String = Fs.resolveVersioned(dictionaryBase)
    def corpusStatsBase: String = s"$root/corpus_stats"
    def corpusStats: String = Fs.resolveVersioned(corpusStatsBase)
    def metaBase: String = s"$root/meta"
    def meta: String = Fs.resolveVersioned(metaBase)
    def deletesBase: String = s"$root/deletes"
    def deletes: String = Fs.resolveVersioned(deletesBase)
    def docidMap: String = s"$root/docid_map"
    def manifests: String = s"$root/manifests"
    def metrics: String = s"$root/metrics"
    def termFreqs: String = s"$root/term_freqs" // materialized S2 intermediate
    def docLengths: String = s"$root/doc_lengths"
    def termStats: String = s"$root/term_stats"
    def corpusSorted: String = s"$root/corpus_sorted" // S1 output (numbered turns)
    // part offsets + SPIMI cell starts of the build's docID assignment —
    // the resume path re-derives identical cells (hence identical blocks)
    // from it without re-running the assignment passes
    def gridBounds: String = s"$root/grid_bounds"
    // index-time synonym map (token -> canonical), written once at build;
    // query-time analysis MUST apply the same map (meta.synonyms flags it)
    def synonyms: String = s"$root/synonyms"
    // corpus bigram counts (w1, w2, big) — the LM build artifact the phrase
    // suggester and shard-local rescorers read instead of re-aggregating
    // the corpus per query (index.BigramLm)
    def bigrams: String = s"$root/bigram_counts"
  }

  def writeSynonyms(spark: SparkSession, paths: IndexPaths,
      syn: Map[String, String]): Unit = {
    import spark.implicits._
    syn.toSeq.sorted.toDF("token", "canonical")
      .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(paths.synonyms)
  }

  def readSynonyms(spark: SparkSession, paths: IndexPaths): Map[String, String] = {
    import spark.implicits._
    if (!Fs.exists(paths.synonyms)) Map.empty
    else spark.read.parquet(paths.synonyms)
      .select($"token", $"canonical").as[(String, String)]
      .collect().toMap
  }

  /** S1's docID-partition/cell geometry: `kind` ∈ {part, cell}, ascending
    * start docIDs (part offsets carry the sentinel end entry last).
    */
  def writeGridBounds(spark: SparkSession, paths: IndexPaths,
      offsets: Array[Long], cellStarts: Array[Long]): Unit = {
    import spark.implicits._
    (offsets.zipWithIndex.map { case (s, i) => ("part", i, s) } ++
      cellStarts.zipWithIndex.map { case (s, i) => ("cell", i, s) })
      .toSeq.toDF("kind", "idx", "start_doc")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(paths.gridBounds)
  }

  /** → (part offsets incl. sentinel, cell starts). */
  def readGridBounds(spark: SparkSession, paths: IndexPaths): (Array[Long], Array[Long]) = {
    import spark.implicits._
    val rows = spark.read.parquet(paths.gridBounds)
      .select($"kind", $"idx", $"start_doc").as[(String, Int, Long)].collect()
    def sorted(kind: String) =
      rows.filter(_._1 == kind).sortBy(_._2).map(_._3)
    (sorted("part"), sorted("cell"))
  }

  // ---- corpus sources ------------------------------------------------------

  // per-JVM parquet-schema memo, keyed like the artifact memos below by
  // (path, file fingerprint): schema inference reads parquet footers on
  // the driver per read (~30–80 ms here), and every query re-reads the
  // same immutable tables/artifacts. A changed file set re-infers.
  private[graft] val schemaMemo =
    new GenerationMemo[org.apache.spark.sql.types.StructType]

  /** `spark.read.parquet(path)` with the schema served from the per-JVM
    * memo — footer inference runs once per (path, fingerprint).
    */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val sch = schemaMemo(GenerationMemo.baseOf(path), (path, fingerprint(path)))(
      spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  def readTable(spark: SparkSession, sfDir: String, name: String): DataFrame =
    readParquet(spark, s"$sfDir/$name.parquet")

  /** Inputs already split at least `numShufflePartitions` ways pass
    * through; a narrower input (locally: one small parquet file → ONE scan
    * task under every heavy per-row pass) is hash-repartitioned by `key`
    * first (guide §2.5 "input skew: one huge unsplittable file …
    * repartition immediately after the read"). At production scale the
    * corpus arrives in many files/row groups and this is a no-op — the
    * tiny shuffle only ever pays where the alternative is a single-task
    * stage. Use on operators whose per-row work (tokenize + hash + explode)
    * dominates, not on cheap projections.
    */
  def ensureParallelism(df: DataFrame, key: String = "doc_id"): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions >= parts) df
    else df.repartition(parts, df.col(key))
  }

  /** The DuckDB-oracled corpus: documents(doc_id, text, …). */
  def readDocuments(spark: SparkSession, sfDir: String): Dataset[Doc] = {
    import spark.implicits._
    readTable(spark, sfDir, "documents").select($"doc_id", $"text").as[Doc]
  }

  /** North-rule transcript corpus from a parquet/JSONL table of turns. */
  def readTurnsParquet(spark: SparkSession, path: String): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(path)
      .select($"conv_id", $"turn_idx", $"role", $"text", $"tool", $"ts")
      .as[Turn]
  }

  /** JSONL transcript ingest with an explicit (never inferred) schema. */
  def readTurnsJsonl(spark: SparkSession, path: String): Dataset[Turn] = {
    import spark.implicits._
    val schema = org.apache.spark.sql.Encoders.product[Turn].schema
    spark.read.schema(schema).json(path).as[Turn]
  }

  // ---- index segments ------------------------------------------------------

  /** Postings sink: bucketed by `bucket` (→ query-time partition pruning on
    * the query terms' buckets), rows sorted by (term, run_id, block_idx)
    * within partitions so Parquet row-group min/max stats on `term` make the
    * `term IN (…)` pushdown selective inside each bucket.
    */
  def writePostings(blocks: Dataset[PostingBlock], paths: IndexPaths): Unit = {
    import blocks.sparkSession.implicits._
    blocks
      // co-locate each bucket in one task: without this every task writes a
      // file into every bucket dir (tasks x buckets small files — write-side
      // overhead that grows with parallelism); with it, exactly one file per
      // bucket. The shuffle moves only compressed blocks.
      .repartition($"bucket")
      .sortWithinPartitions($"bucket", $"term", $"run_id", $"block_idx")
      .write.mode(SaveMode.Overwrite)
      .partitionBy("bucket")
      .parquet(paths.postings)
  }

  // explicit read schema: skips per-query parquet footer schema inference
  // (~60–80 ms of driver time per read on this host, paid by every indexed
  // query before this); the written files come from the same encoder, and
  // `bucket` resolves as the partition directory column as before
  private lazy val postingsSchema =
    org.apache.spark.sql.Encoders.product[PostingBlock].schema

  // per-JVM memo of the resolved postings relation, keyed by (session,
  // resolved path, fingerprint): resolving it lists the bucket directories
  // and builds Spark's file index (~30 ms of a warm query's driver time).
  // A generation's files never change, so the resolved relation is reused;
  // each query still adds its own bucket/term filter and scans parquet.
  private[graft] val postingsMemo = new GenerationMemo[Dataset[PostingBlock]]

  def readPostings(spark: SparkSession, paths: IndexPaths): Dataset[PostingBlock] = {
    import spark.implicits._
    val p = paths.postings
    postingsMemo(paths.postingsBase, (spark, p, fingerprint(p))) {
      spark.read.schema(postingsSchema).parquet(p)
        .select("term", "bucket", "run_id", "block_idx", "first_doc", "last_doc",
          "n_docs", "max_tf", "min_dl", "sum_tf", "max_tf_norm", "doc_deltas_vb", "tfs_vb", "dls_vb")
        .as[PostingBlock]
    }
  }

  def writeDictionary(dict: Dataset[DictEntry], paths: IndexPaths): Unit =
    dict.write.mode(SaveMode.Overwrite).parquet(paths.dictionary)

  // ---- per-JVM artifact-metadata memos ------------------------------------
  // Published artifact generations are IMMUTABLE (the versioned-pointer
  // protocol above: a republish stages a new _vN and flips the pointer, it
  // never rewrites a resolved dir in place), so tiny per-query metadata
  // reads — corpus stats (1 row), meta (1 row), and a byte-gated dictionary
  // — memoize safely per JVM, keyed by (resolved path, file fingerprint):
  // a republish resolves to a new path, an in-place rewrite (tests, crash
  // debris) changes the fingerprint; either way the memo misses and
  // re-reads. Before this, every indexed query paid one Spark job per
  // artifact read — pure fixed overhead repeated ~70× per bench run
  // (an ES node holds exactly this state — segment dictionaries and
  // stats — resident per segment for the same reason). Query RESULTS are
  // never cached: postings scans and scoring run from parquet per query.
  // Each memo keeps the current and previous generation per artifact base.
  private[graft] val statsMemo = new GenerationMemo[CorpusStats]
  private[graft] val dictMemo = new GenerationMemo[Array[DictEntry]]

  /** Dictionaries at or under this many parquet bytes are served from the
    * per-JVM memo (as a driver-local relation — lookups and expansions scan
    * no files); larger dictionaries always read through parquet. ~8 MB of
    * zstd parquet ≈ low-millions of terms; a 100 TB corpus dictionary
    * (Heaps ~10^7+ rows) stays on the parquet path.
    */
  val DefaultDictCacheMaxBytes: Long = 8L << 20

  /** The dictionary rows when the byte gate admits them, else None. */
  def dictEntriesCached(spark: SparkSession,
      paths: IndexPaths): Option[Seq[DictEntry]] = {
    import spark.implicits._
    val p = paths.dictionary
    val gate = spark.conf.getOption("spark.graft.dict.cacheMaxBytes")
      .map(_.toLong).getOrElse(DefaultDictCacheMaxBytes)
    val bytes = Fs.listDataFiles(p).map(_._2).sum
    if (bytes > gate) None
    else Some(dictMemo(paths.dictionaryBase, (p, fingerprint(p)))(
      spark.read.parquet(p).as[DictEntry].collect()).toSeq)
  }

  /** Document frequency of each of `terms` found in the dictionary. The
    * lookup costs zero Spark jobs when the byte gate admits the dictionary
    * ([[dictEntriesCached]]); above it, one filtered parquet scan.
    */
  def docFreqs(spark: SparkSession, paths: IndexPaths,
      terms: Seq[String]): Map[String, Long] = {
    import spark.implicits._
    val termSet = terms.toSet
    dictEntriesCached(spark, paths) match {
      case Some(entries) =>
        entries.iterator.filter(e => termSet(e.term)).map(e => e.term -> e.df).toMap
      case None => spark.read.parquet(paths.dictionary).as[DictEntry]
        .filter($"term".isin(terms: _*))
        .collect().map(d => d.term -> d.df).toMap
    }
  }

  def readDictionary(spark: SparkSession, paths: IndexPaths): Dataset[DictEntry] = {
    import spark.implicits._
    dictEntriesCached(spark, paths) match {
      case Some(entries) => spark.createDataset(entries) // local relation
      case None => spark.read.parquet(paths.dictionary).as[DictEntry]
    }
  }

  def writeCorpusStats(stats: Dataset[CorpusStats], paths: IndexPaths): Unit =
    stats.write.mode(SaveMode.Overwrite).parquet(paths.corpusStats)

  def readCorpusStats(spark: SparkSession, paths: IndexPaths): CorpusStats = {
    import spark.implicits._
    val p = paths.corpusStats
    statsMemo(paths.corpusStatsBase, (p, fingerprint(p)))(
      spark.read.parquet(p).as[CorpusStats].head())
  }

  /** S1 output: the docID-numbered, range-sorted corpus. */
  def readNumbered(spark: SparkSession, paths: IndexPaths): Dataset[NumberedTurn] = {
    import spark.implicits._
    spark.read.parquet(paths.corpusSorted).as[NumberedTurn]
  }

  def writeDocidMap(m: Dataset[DocIdEntry], paths: IndexPaths): Unit =
    m.write.mode(SaveMode.Overwrite).parquet(paths.docidMap)

  def readDocidMap(spark: SparkSession, paths: IndexPaths): Dataset[DocIdEntry] = {
    import spark.implicits._
    spark.read.parquet(paths.docidMap).as[DocIdEntry]
  }

  /** Snapshot fingerprint of an input directory — Iceberg snapshot-id stand-in:
    * hash over (relative path, length, mtime) of every data file, listed via
    * the Hadoop FileSystem API (works on local/HDFS/S3; the old NIO walk
    * returned "absent" for every remote path, which a stale manifest could
    * match — "absent" is now rejected by Manifests.isComplete).
    */
  def fingerprint(path: String): String = {
    val entries = Fs.listDataFiles(path)
    if (entries.isEmpty && !Fs.exists(path)) return "absent"
    val rootPrefix = new org.apache.hadoop.fs.Path(path).toUri.getPath
    val desc = entries
      .map { case (f, len, mtime) => s"${f.stripPrefix(rootPrefix)}:$len:$mtime" }
      .sorted.mkString("\n")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(desc.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
  }
}
