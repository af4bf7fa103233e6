package graft.index

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Catalog
import graft.io.Catalog.IndexPaths
import graft.model._

/** Staged, resumable index build (SURVEY.md §3.1) — spark-submit entry #1.
  *
  * {{{
  * spark-submit --class graft.index.IndexBuildJob <jar> \
  *   --input <turns table path> [--format parquet|jsonl|transcript] \
  *   --output <index root> [--buckets 16] [--target-run 1048576] \
  *   [--partitions P] [--resume] [--compact]
  * }}}
  *
  * Checkpoint = materialization: every stage writes a table; Spark lineage is
  * never replayed across stages, so a 10^12-turn build resumes at stage
  * granularity. Stage inputs are fingerprinted (snapshot id / file-listing
  * hash); a stage re-runs iff its input snapshot changed or its manifest is
  * missing — so corrupting/altering any upstream output cascades re-runs
  * downstream, and an untouched prefix is skipped byte-for-byte.
  *
  * Stages and their exchanges (ONE corpus-sized shuffle and ONE corpus
  * materialization total — round 4 cut the former second exchange, round 5
  * the former DISK_ONLY cache bridge; raw TF rows never cross an exchange):
  *   S1 docid_assign  range-exchange on (conv_id, turn_idx) written STRAIGHT
  *                    to corpus_sorted (one parquet file per exchange
  *                    partition — whole ascending docID ranges per file),
  *                    plus docid_map, corpus_stats, grid_bounds. Corpus
  *                    stats (avgdl must precede encoding — block-max bounds
  *                    need it) ride the assignment's own histogram pass, so
  *                    no separate stats read exists.
  *   S2 spimi         NO exchange: per-cell in-memory SPIMI inversion runs
  *                    on a (doc_id, text)-pruned, split-disabled scan of
  *                    corpus_sorted itself (cells are part-aligned docID
  *                    ranges — Spimi.cellStarts — so each cell is whole
  *                    inside one file). Skew-free by construction: cell key
  *                    = doc range, never the term (the docID-range salting
  *                    of the north star applied at the corpus exchange).
  *                    Cold and RESUMED builds take the identical read, so
  *                    resume is bit-identical by construction (ResumeSpec);
  *                    only legacy pre-r4 indexes without stored geometry
  *                    re-exchange.
  *   S3 finalize      the term-keyed merge: metadata-only groupBy over block
  *                    headers (payloads pruned) → dictionary, meta
  */
object IndexBuildJob {

  final case class Args(
      input: String = "",
      format: String = "parquet",
      output: String = "",
      buckets: Int = 16,
      targetRun: Long = 1L << 20,
      partitions: Option[Int] = None,
      resume: Boolean = false,
      compact: Boolean = false,
      bigrams: Boolean = false,
      keywordFields: Seq[String] = Nil,
      analyzer: String = "standard")

  def parse(argv: Array[String]): Args = {
    var a = Args()
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--input" => a = a.copy(input = argv(i + 1)); i += 2
        case "--format" => a = a.copy(format = argv(i + 1)); i += 2
        case "--output" => a = a.copy(output = argv(i + 1)); i += 2
        case "--buckets" => a = a.copy(buckets = argv(i + 1).toInt); i += 2
        case "--target-run" => a = a.copy(targetRun = argv(i + 1).toLong); i += 2
        case "--partitions" => a = a.copy(partitions = Some(argv(i + 1).toInt)); i += 2
        case "--analyzer" => a = a.copy(analyzer = argv(i + 1)); i += 2
        case "--resume" => a = a.copy(resume = true); i += 1
        case "--compact" => a = a.copy(compact = true); i += 1
        // opt-in: corpus bigram-count LM artifact (phrase suggester input)
        case "--bigrams" => a = a.copy(bigrams = true); i += 1
        // repeatable: index a metadata column as `field:value` filter
        // postings (KeywordIndex; queried via SearchJob --filter)
        case "--keyword-field" =>
          a = a.copy(keywordFields = a.keywordFields :+ argv(i + 1)); i += 2
        case other => throw new IllegalArgumentException(s"unknown arg: $other")
      }
    }
    require(a.input.nonEmpty && a.output.nonEmpty, "--input and --output are required")
    a
  }

  final case class Summary(
      runId: String,
      nTurns: Long,
      wallMs: Long,
      turnsPerSec: Double,
      stagesRun: Seq[String],
      stagesSkipped: Seq[String],
      stageWalls: Map[String, Long] = Map.empty)

  def main(argv: Array[String]): Unit = {
    val b = SparkSession.builder().appName("graft-index-build")
    if (!sys.props.contains("spark.master") && sys.env.get("MASTER").isEmpty)
      b.master("local[*]")
    val spark = b
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = run(spark, parse(argv))
    def jarr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    // one machine-readable line for harnesses
    println(
      s"""{"run_id":"${s.runId}","n_turns":${s.nTurns},"wall_ms":${s.wallMs},""" +
        s""""turns_per_sec":${s.turnsPerSec},"stages_run":${jarr(s.stagesRun)},""" +
        s""""stages_skipped":${jarr(s.stagesSkipped)}}""")
    spark.stop()
  }

  def run(spark: SparkSession, a: Args): Summary = {
    import spark.implicits._
    val paths = IndexPaths(a.output)
    val parts = a.partitions.getOrElse(spark.sessionState.conf.numShufflePartitions)
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val ran = scala.collection.mutable.ArrayBuffer[String]()
    val skipped = scala.collection.mutable.ArrayBuffer[String]()
    // metrics batched into ONE write at job end (each tiny write is a whole
    // Spark job; per-stage writes showed up as fixed overhead in scaling)
    val pendingMetrics = scala.collection.mutable.ArrayBuffer[(String, String, Double)]()
    val stageWalls = scala.collection.mutable.LinkedHashMap[String, Long]()
    val t0 = System.nanoTime()

    /** Run `body` unless `stage` already completed against `inputFp`. */
    def stage(name: String, inputFp: String, outputPath: String)(body: => Unit): Unit = {
      if (a.resume && Manifests.isComplete(spark, paths, name, inputFp)) {
        skipped += name
      } else {
        val s0 = System.nanoTime()
        body
        val wallMs = (System.nanoTime() - s0) / 1000000
        Manifests.recordComplete(spark, paths, name, inputFp, outputPath, wallMs)
        pendingMetrics += ((name, "wall_ms", wallMs.toDouble))
        stageWalls(name) = wallMs
        ran += name
      }
    }

    // ---- S1: docID assignment --------------------------------------------
    // The ONE corpus exchange of the build. The exchanged dataset is written
    // STRAIGHT to the durable corpus_sorted parquet — one file per exchange
    // partition — which is the build's only corpus materialization (round 5:
    // the former DISK_ONLY cache bridge doubled the bytes over the bus; S2
    // now inverts the part-aligned parquet directly).
    val inputFp = Catalog.fingerprint(a.input)
    stage("docid_assign", inputFp, paths.corpusSorted) {
      val turns = a.format match {
        case "parquet" => Catalog.readTurnsParquet(spark, a.input)
        case "jsonl" => Catalog.readTurnsJsonl(spark, a.input)
        // raw agent-session logs (tx_survey.jsonl shape): event lines with
        // nested message content blocks, mapped to the Turn shape
        case "transcript" => graft.io.TranscriptJsonl.readTurns(spark, a.input)
        case f => throw new IllegalArgumentException(s"unknown format $f")
      }
      val (numbered, stats, offsets) =
        DocIds.assignWithStatsOffsets(turns, parts, a.analyzer)
      // zstd, not the snappy default: corpus_sorted is the build's single
      // biggest write and S2 re-reads it once — measured at 16M turns,
      // 3.74 GB (snappy) → 2.57 GB (zstd, −31%) for a spimi-read cost
      // within noise. On the bus-bound docid stage (and on a cluster's
      // disks/NICs) bytes are the currency; the CPU zstd spends is idle
      // reducer time. Codec override: spark.graft.corpus.codec.
      val corpusCodec = spark.conf.getOption("spark.graft.corpus.codec")
        .getOrElse("zstd")
      numbered.write.option("compression", corpusCodec)
        .mode(SaveMode.Overwrite).parquet(paths.corpusSorted)
      // docid_map from the just-written corpus: a column-pruned parquet scan
      // (3 narrow columns) instead of re-running the assignment pipeline
      Catalog.writeDocidMap(DocIds.toDocidMap(Catalog.readNumbered(spark, paths)), paths)
      // corpus stats came from the assignment's own passes — no extra read
      Seq(stats).toDS().write.mode(SaveMode.Overwrite).parquet(paths.corpusStats)
      Catalog.writeGridBounds(spark, paths, offsets, Spimi.cellStarts(offsets, a.targetRun))
    }

    // docIDs are dense 0..N−1 by construction (DocIds.assign)
    lazy val docIdSpace = Catalog.readCorpusStats(spark, paths).n_docs

    // ---- S2: SPIMI inversion + bucketed sink -------------------------------
    // Invert the part-aligned corpus_sorted parquet directly — zero corpus
    // exchange, zero cache bridge, cold and resumed builds take the SAME
    // read so they are trivially bit-identical. Only a legacy pre-r4 index
    // (no stored grid geometry, so cell↔file alignment is unknown) pays the
    // one re-co-location exchange.
    val s1Fp = Catalog.fingerprint(paths.corpusSorted)
    val s2Fp = s1Fp + "+" + Catalog.fingerprint(paths.corpusStats) +
      "+" + Catalog.fingerprint(paths.gridBounds)
    stage("spimi", s2Fp, paths.postings) {
      val stats = Catalog.readCorpusStats(spark, paths)
      // pre-round-4 index resumed past docid_assign: no grid_bounds exists
      // and docid_assign stays skipped (its input fingerprint is unchanged),
      // so synthesize a valid part-aligned geometry from the corpus size —
      // any such geometry yields correct disjoint-ascending runs, but its
      // cells need NOT match the written file boundaries, so this legacy
      // case must re-co-locate with the exchange path (and forfeits
      // resume-vs-cold bit-identity, which needs the ORIGINAL bounds)
      val legacyGeometry = !graft.io.Fs.exists(paths.gridBounds)
      if (legacyGeometry) {
        val n = stats.n_docs
        val even = Array.tabulate(parts + 1)(p =>
          math.min(n, p * ((n + parts - 1) / parts)))
        Catalog.writeGridBounds(spark, paths, even,
          Spimi.cellStarts(even, a.targetRun))
      }
      val (offsets, starts) = Catalog.readGridBounds(spark, paths)
      if (legacyGeometry) {
        Catalog.writePostings(
          Spimi.buildBlocksAlignedExchange(Catalog.readNumbered(spark, paths),
            offsets, starts, stats.avgdl, a.buckets, parts, a.analyzer), paths)
      } else {
        // never split a file: a row-group split would cut a SPIMI cell
        // across two tasks (see Spimi.buildBlocksAlignedParquet). Scoped
        // around the consuming action — scan partitions are planned at
        // execution, not at read()
        val maxFile = graft.io.Fs.listDataFiles(paths.corpusSorted)
          .map(_._2).maxOption.getOrElse(1L)
        val key = "spark.sql.files.maxPartitionBytes"
        val prev = spark.conf.get(key)
        spark.conf.set(key, (maxFile + 1L).toString)
        try Catalog.writePostings(
          Spimi.buildBlocksAlignedParquet(spark, paths.corpusSorted, starts,
            stats.avgdl, a.buckets, a.analyzer), paths)
        finally spark.conf.set(key, prev)
      }
    }

    // ---- S3: dictionary + meta — the term-keyed merge, metadata-only -------
    val s3Fp = Catalog.fingerprint(paths.postings)
    stage("finalize", s3Fp, paths.dictionary) {
      // a --resume rerun can see keyword `field:value` postings appended by
      // a previous run's kw stage — dictionaryOf keeps them out
      Catalog.writeDictionary(Indexer.dictionaryOf(spark, paths.postings), paths)
      Seq(IndexMeta(a.buckets, a.targetRun, docIdSpace, analyzer = a.analyzer))
        .toDS().write.mode(SaveMode.Overwrite).parquet(paths.meta)
    }

    // ---- S4 (optional): segment compaction ----------------------------------
    // Grid SPIMI leaves one run per (term, grid cell) with a partial tail
    // block each; compaction merges every term to one run of full blocks
    // (shorter WAND cursor arrays, tighter bounds). It REWRITES postings in
    // place, so its recorded input fingerprint never matches on resume and
    // the stage re-runs — idempotent by construction (recompacting a
    // compacted index reproduces it).
    if (a.compact) {
      val s4Fp = Catalog.fingerprint(paths.postings)
      stage("compact", s4Fp, paths.postings) {
        Compaction.compact(spark, a.output)
      }
    }

    // ---- optional bigram LM artifact: adjacent-pair counts over the
    // already-materialized corpus_sorted (a (doc_id, text)-pruned scan —
    // never the raw input), one groupBy(w1, w2) with map-side partials.
    // Query-independent, so it is build-time state like the dictionary:
    // the phrase suggester then costs dictionary expansion + pair lookups,
    // never a corpus pass (VERDICT r5 "Missing #2").
    if (a.bigrams) {
      stage("bigram_lm", s1Fp, paths.bigrams) {
        import graft.model.Doc
        val docs = spark.read.parquet(paths.corpusSorted)
          .select($"doc_id", $"text").as[Doc]
        BigramLm.build(docs, a.output, a.analyzer)
      }
    }

    // ---- optional keyword-field filter postings (after compact: they are
    // appended segments and would otherwise just be re-merged) -------------
    a.keywordFields.foreach { f =>
      stage(s"kw_$f", s1Fp + "+" + f, paths.postings) {
        KeywordIndex.add(spark, a.output, Catalog.readNumbered(spark, paths).toDF(), f)
      }
    }

    val wallMs = (System.nanoTime() - t0) / 1000000
    val nTurns = Catalog.readCorpusStats(spark, paths).n_docs
    val tps = if (wallMs == 0) 0.0 else nTurns * 1000.0 / wallMs
    pendingMetrics += (("total", "wall_ms", wallMs.toDouble))
    pendingMetrics += (("total", "n_turns", nTurns.toDouble))
    pendingMetrics += (("total", "turns_per_sec", tps))
    Manifests.metric(spark, paths, runId,
      pendingMetrics.toSeq.map { case (st, k, v) => (st, k, v) }: _*)
    Summary(runId, nTurns, wallMs, tps, ran.toSeq, skipped.toSeq, stageWalls.toMap)
  }

}
