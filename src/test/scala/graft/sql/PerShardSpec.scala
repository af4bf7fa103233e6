package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.{Fixtures, IndexCache, TestSpark}
import graft.core.PostingBlock
import graft.index.{Compaction, Deletes, Indexer, Intervals, KeywordIndex, PosBlock,
  PositionalIndex}
import graft.io.{Catalog, Fs}
import graft.io.Catalog.IndexPaths
import graft.model.Hit
import graft.search.SearchEngine
import graft.streaming.StreamingIngest

/** The shard tasks' own postings reads: shard s reads exactly the blocks
  * the docID-shard exchange used to route to it, from each source — the
  * positional index's too — and the reads show in the task input metrics
  * and the operator's SQL metrics. It is the check on routing in the shard
  * reader that WAND and its exhaustive shadow share, and that the positional
  * operators share: their bit-identity (WandSpec) and their twins
  * (PositionalIndexSpec, IntervalsSpec) cannot see a fault common to both.
  */
class PerShardSpec extends AnyFunSuite {
  import PerShardSpec.{key, posKey}

  lazy val spark: SparkSession = TestSpark.session

  private val q = Seq(Fixtures.term(0), Fixtures.term(5), Fixtures.term(40))

  /** `body` over a fresh index of 400 fixture turns with small runs (so
    * head terms are salted into several), removed afterwards.
    */
  private def withIndex(body: String => Unit): Unit = {
    import spark.implicits._
    val root = s"/tmp/graft-pershard-${System.nanoTime()}/idx"
    try {
      val docs = Fixtures.turns(20, 20).zipWithIndex
        .map { case (t, i) => graft.model.Doc(i.toLong, t.text) }
      Indexer.buildFromDocs(docs.toDS(), root, buckets = 4, targetRun = 64)
      body(root)
    } finally Fs.delete(new java.io.File(root).getParent)
  }

  /** The blocks of `terms` per shard by the exchange rule: a block goes to
    * shards ⌊first_doc/w⌋ … ⌊last_doc/w⌋, those past the last folded into it.
    */
  private def routed(root: String, terms: Seq[String], shards: Int,
      width: Long): IndexedSeq[Seq[PostingBlock]] = {
    import spark.implicits._
    val blocks = Catalog.readPostings(spark, IndexPaths(root))
      .filter(col("term").isin(terms: _*)).as[PostingBlock].collect().toSeq
    val last = shards - 1L
    (0 until shards).map(s => blocks.filter(b =>
      math.min(b.first_doc / width, last) <= s && s <= math.min(b.last_doc / width, last)))
  }

  /** The (shards, width) layouts checked over a doc space: 1, 3, 4 and 7
    * shards, each at the operator's width and at the width that folds the
    * upper half of the docs into the last shard.
    */
  private def layouts(space: Long): Seq[(Int, Long)] =
    for (shards <- Seq(1, 3, 4, 7);
         w <- Seq(math.max(1L, (space + shards - 1) / shards), math.max(1L, space / (2L * shards))))
      yield (shards, w)

  /** Every shard's read equals its routed blocks at every layout. */
  private def assertRouting(name: String, root: String, terms: Seq[String]): Unit = {
    val meta = Indexer.readMeta(spark, root)
    val scan = SearchEngine.postingsScan(IndexPaths(root), terms, meta.buckets)
    val conf = spark.sparkContext.hadoopConfiguration
    for ((shards, w) <- layouts(meta.doc_id_space)) {
      val expected = routed(root, terms, shards, w)
      assert(expected.map(_.length).sum > 0, s"$name: no blocks for $terms")
      if (shards > 1 && w * shards < meta.doc_id_space)
        assert(expected.last.exists(_.first_doc >= shards * w),
          s"$name: the fold into the last shard is not exercised")
      expected.zipWithIndex.foreach { case (exp, s) =>
        val (lo, hi) = PerShard.range(s, shards, w)
        assert(scan.read(lo, hi, conf).map(key).sorted.toSeq == exp.map(key).sorted,
          s"$name: shard $s of $shards (width $w)")
      }
    }
  }

  test("each shard reads exactly the blocks the exchange routed to it") {
    import spark.implicits._
    withIndex { root =>
      assertRouting("clean", root, q)
      KeywordIndex.add(spark, root,
        (0L until 400L).map(d => (d, s"src${d % 5}")).toDF("doc_id", "source"), "source")
      assertRouting("keyword-filtered", root, q :+ "source:src3")
      assert(Deletes.deleteByQuery(spark, root, Seq(Fixtures.term(7))) > 0L)
      assertRouting("tombstoned", root, q)
    }

    val root = s"/tmp/graft-pershard-stream-${System.nanoTime()}/idx"
    val all = Fixtures.turns(20, 20)
    try {
      (0 until 4).foreach { i =>
        val batch = all.filter(t => t.conv_id >= f"c${5 * i}%06d" && t.conv_id < f"c${5 * i + 5}%06d")
        StreamingIngest.ingestBatch(batch.toDS(), root, buckets = 4, targetRun = 64,
          batchId = i.toLong)
      }
      assertRouting("streaming-grown", root, q)
      Compaction.compact(spark, root)
      assertRouting("compacted", root, q)
    } finally Fs.delete(new java.io.File(root).getParent)
  }

  test("a warm topKWand reports its postings reads as task input and SQL metrics") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
    withIndex { root =>
      val terms = SearchEngine.queryModel(spark, IndexPaths(root), q, 10).terms.toSeq
      SearchEngine.topKWand(spark, root, q, 10).collect() // warm
      val sc = spark.sparkContext
      val group = s"pershard-spec-${System.nanoTime()}"
      val sentinel = s"$group-sentinel"
      val groupStages = new java.util.concurrent.ConcurrentHashMap[Int, String]
      val inputBytes = new java.util.concurrent.ConcurrentHashMap[Int, Long]
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .foreach(g => e.stageIds.foreach(groupStages.put(_, g)))
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
          inputBytes.put(e.stageInfo.stageId, e.stageInfo.taskMetrics.inputMetrics.bytesRead)
      }
      sc.addSparkListener(listener)
      try {
        val df = SearchEngine.topKWand(spark, root, q, 10)
        sc.setJobGroup(group, "warm topKWand")
        try df.collect() finally sc.clearJobGroup()
        // the listener bus delivers in order: once a later job's start is
        // seen, every stage of the query has completed
        sc.setJobGroup(sentinel, "sentinel")
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (!groupStages.containsValue(sentinel) && System.nanoTime() < deadline)
          Thread.sleep(10)
        assert(groupStages.containsValue(sentinel), "listener bus did not deliver the sentinel job")
        var bytes = 0L
        groupStages.forEach((stage, g) => if (g == group) bytes += inputBytes.getOrDefault(stage, 0L))
        assert(bytes > 0L, "the shard reads must report their input bytes")

        val exec = df.queryExecution.executedPlan.collectFirst { case p: PerShardExec => p }.get
        assert(exec.metrics("blocksRead").value ==
          routed(root, terms, exec.shards, exec.width).map(_.length).sum)
        assert(exec.metrics("filesRead").value > 0L)
      } finally sc.removeSparkListener(listener)
    }
  }

  private val sfDir = "/root/testdata/sf0.001"
  private val sfTerms = Seq("join", "window", "stream")

  test("a two-source shard holds each source's blocks the exchange routed to it") {
    import spark.implicits._
    val roots = Seq(IndexCache.documentsIndex(spark, sfDir), IndexCache.titleIndex(spark, sfDir))
      .map(_.paths.root)
    val metas = roots.map(Indexer.readMeta(spark, _))
    val scans = roots.zip(metas).map { case (root, meta) =>
      SearchEngine.postingsScan(IndexPaths(root), sfTerms, meta.buckets)
    }
    for ((shards, w) <- layouts(metas.head.doc_id_space)) {
      // (shard, source, block) for every block a shard task holds
      val held = PerShard.dataset(spark, shards, w, scans, None, None) { sh =>
        sh.blocks.iterator.zipWithIndex.flatMap { case (byTerm, src) =>
          byTerm.valuesIterator.flatten.map(b => ((sh.lo / w).toInt, src, key(b)))
        }
      }.collect()
      roots.zipWithIndex.foreach { case (root, src) =>
        val expected = routed(root, sfTerms, shards, w)
        assert(expected.map(_.length).sum > 0, s"source $src: no blocks for $sfTerms")
        expected.zipWithIndex.foreach { case (exp, s) =>
          assert(held.collect { case (`s`, `src`, k) => k }.sorted.toSeq == exp.map(key).sorted,
            s"source $src: shard $s of $shards (width $w)")
        }
      }
    }
  }

  test("scoreAllDocs is bit-identical at a width whose blocks straddle shards") {
    import spark.implicits._
    val root = IndexCache.documentsIndex(spark, sfDir).paths.root
    val meta = Indexer.readMeta(spark, root)
    val qm = SearchEngine.queryModel(spark, IndexPaths(root), sfTerms, 1, meta.analyzer,
      meta.synonyms)
    // scoreAllDocs's shard function, run at a chosen layout
    val scan = Seq(SearchEngine.postingsScan(IndexPaths(root), qm.terms.toSeq, meta.buckets))
    val bm25 = SearchEngine.bm25(qm.idfs, qm.avgdl)
    val kernel = SearchEngine.cells(
      Seq(SearchEngine.Source(root, qm.terms.zipWithIndex.toMap, (_, tf, _) => tf)),
      _ => 1, None)((doc, d) => Iterator.single(Hit(doc, bm25(d.dl.toLong, d.sums))))
    def bits(hits: Array[Hit]) =
      hits.map(h => (h.doc_id, java.lang.Double.doubleToLongBits(h.score))).sorted.toSeq
    def scores(shards: Int, w: Long) =
      bits(PerShard.dataset(spark, shards, w, scan, None, None)(kernel).collect())
    val one = scores(1, meta.doc_id_space)
    assert(one.nonEmpty)
    assert(bits(SearchEngine.scoreAllDocs(spark, root, sfTerms).as[Hit].collect()) == one,
      "scoreAllDocs != its shard function at one shard")
    for (shards <- Seq(3, 4, 7)) {
      val w = meta.doc_id_space / (2L * shards)
      val last = shards - 1L
      assert(routed(root, qm.terms.toSeq, shards, w).flatten.exists(b =>
        math.min(b.first_doc / w, last) != math.min(b.last_doc / w, last)),
        s"no block straddles a shard at $shards shards (width $w)")
      assert(scores(shards, w) == one, s"scores differ at $shards shards (width $w)")
    }
  }

  // the phrase, span and intervals shapes of the positional checks
  private val posPhrase = Seq("join", "hash")
  private val posTerms = Seq("join", "hash", "merge", "sort")
  private val posSource = Intervals.IAnyOf(Seq(Intervals.IMatch("join hash", 0, ordered = true),
    Intervals.IMatch("merge sort", 0, ordered = true)))

  /** The positional blocks of `terms` per shard by the exchange rule, from
    * Spark's own read of the positional index.
    */
  private def routedPositions(root: String, terms: Seq[String], shards: Int,
      width: Long): IndexedSeq[Seq[PosBlock]] = {
    import spark.implicits._
    val blocks = spark.read.parquet(PositionalIndex.pathOf(root))
      .filter(col("term").isin(terms: _*)).as[PosBlock].collect().toSeq
    val last = shards - 1L
    (0 until shards).map(s => blocks.filter(b =>
      math.min(b.first_doc / width, last) <= s && s <= math.min(b.last_doc / width, last)))
  }

  test("each shard reads exactly the positional blocks the exchange routed to it") {
    val idx = IndexCache.positionalIndex(spark, sfDir)
    val root = idx.paths.root
    val scan = PositionalIndex.positionsScan(root, posTerms, idx.meta.buckets)
    val conf = spark.sparkContext.hadoopConfiguration
    for ((shards, w) <- layouts(idx.meta.doc_id_space)) {
      val expected = routedPositions(root, posTerms, shards, w)
      assert(expected.map(_.length).sum > 0, s"no positional blocks for $posTerms")
      if (shards > 1 && w * shards < idx.meta.doc_id_space)
        assert(expected.last.exists(_.first_doc >= shards * w),
          "the fold into the last shard is not exercised")
      expected.zipWithIndex.foreach { case (exp, s) =>
        val (lo, hi) = PerShard.range(s, shards, w)
        assert(scan.read(lo, hi, conf).map(posKey).sorted.toSeq == exp.map(posKey).sorted,
          s"shard $s of $shards (width $w)")
      }
    }
  }

  test("positional operators are identical at shard counts whose blocks straddle shards") {
    import spark.implicits._
    val idx = IndexCache.positionalIndex(spark, sfDir)
    val (root, buckets) = (idx.paths.root, idx.meta.buckets)
    def results() = Seq(
      "phraseScores" -> PositionalIndex.phraseScores(spark, root, posPhrase, buckets)
        .as[(Long, Double)].collect()
        .map { case (d, score) => (d, java.lang.Double.doubleToLongBits(score)) }.sorted.toSeq,
      "phraseMatch" -> PositionalIndex.phraseMatch(spark, root, posPhrase, buckets)
        .as[Long].collect().toSeq,
      "spanNot" -> PositionalIndex.spanNot(spark, root, Seq("join"), Seq("hash"), 1, 1, buckets)
        .as[Long].collect().toSeq,
      "intervals any_of" -> Intervals.filterDocs(spark, root, posSource, buckets)
        .as[Long].collect().toSeq)
    // without partition coalescing the operators plan the session's
    // shuffle partitions as shards, whatever their postings bytes
    def at[A](shards: Int)(body: => A): A =
      TestSpark.withConf("spark.sql.shuffle.partitions" -> shards.toString,
        TestSpark.NoCoalescing) {
        val planned = PerShardSpec.shardsOf(
          PositionalIndex.phraseMatch(spark, root, posPhrase, buckets))
        assert(planned == Seq(shards), s"planned $planned shards, not $shards")
        body
      }
    val one = at(1)(results())
    one.foreach { case (name, rows) => assert(rows.nonEmpty, s"$name matches nothing") }
    for (shards <- Seq(3, 7)) {
      val w = (idx.meta.doc_id_space + shards - 1) / shards
      val last = shards - 1L
      assert(routedPositions(root, posTerms, shards, w).flatten.exists(b =>
        math.min(b.first_doc / w, last) != math.min(b.last_doc / w, last)),
        s"no positional block straddles a shard at $shards shards (width $w)")
      at(shards)(results()).zip(one).foreach { case ((name, got), (_, want)) =>
        assert(got == want, s"$name differs at $shards shards from its 1-shard run")
      }
    }
  }
}

object PerShardSpec extends AdaptiveSparkPlanHelper {
  /** The shard count of each docID-shard operator `df` plans. */
  def shardsOf(df: DataFrame): Seq[Int] =
    collect(df.queryExecution.executedPlan) { case p: PerShardExec => p.shards }

  // a block's fields, its payloads by content hash (keeps failures readable)
  def key(b: PostingBlock): String = {
    import java.util.Arrays.{hashCode => h}
    (b.term, b.bucket, b.run_id, b.block_idx, b.first_doc, b.last_doc, b.n_docs, b.max_tf,
      b.min_dl, b.sum_tf, b.max_tf_norm, h(b.doc_deltas_vb), h(b.tfs_vb), h(b.dls_vb)).toString
  }

  def posKey(b: PosBlock): String = {
    import java.util.Arrays.{hashCode => h}
    (b.term, b.bucket, b.run_id, b.block_idx, b.first_doc, b.last_doc, b.n_docs,
      h(b.doc_deltas_vb), h(b.pos_lens_vb), h(b.pos_deltas_vb)).toString
  }
}
