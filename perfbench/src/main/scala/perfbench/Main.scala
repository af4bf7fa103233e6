package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.index.IndexBuildJob
import graft.io.Catalog
import graft.io.Catalog.IndexPaths
import graft.model.Turn
import graft.search.SearchEngine
import graft.streaming.StreamingIngest

/** Workload sizes; perfbench/DESIGN.md (Sizing) says how they were chosen. */
object Sizes {
  val TurnsPerConv = 200
  val SearchConvs = 100 // 20k turns
  val BatchConvs = 25 // 5k turns per ingest batch
  val WarmBatchConvs = 5 // the warm-up batch only has to run every code path once
  val MinBatches = 2
  val WarmSeedXor = 0x5eedL
  val KeywordFields = Seq("role", "tool")
  val Buckets = 16
  val TargetRun: Long = 1L << 20
}

/** One benchmark run: set up, measure for `seconds` of op time, check
  * every output, report.
  */
final class Bench(val spark: SparkSession, val seed: Long, val seconds: Double,
    val traced: Boolean, work: String) {
  import Check.Ranking
  import spark.implicits._

  val trace = new Trace(spark.sparkContext, traced)
  val ops = mutable.ArrayBuffer[Op]() // the timed window
  val setupOps = mutable.ArrayBuffer[Op]() // index ops run during set-up
  private val scratch = mutable.ArrayBuffer[Op]() // warm-up and cursors, never reported
  val results = mutable.LinkedHashMap[String, (Query, Ranking)]()
  val inputBytes = mutable.HashMap[String, Long]()
  val failedOps = mutable.LinkedHashSet[String]()
  val m = new Metrics // end-to-end
  val layers = new Metrics // per-layer, traced runs only
  val diag = mutable.LinkedHashMap[String, Any]()
  private var dirs = 0

  def dir(name: String): String = { dirs += 1; s"$work/$name-$dirs" }

  def bytesUnder(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(x => bytesUnder(x.getPath)).sum).getOrElse(0L)
  }

  def delete(path: String): Unit = org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))

  def opTime: Double = ops.map(_.wallMs).sum / 1000.0

  /** Generated turns written as the parquet input table. */
  def writeTurns(c: Corpus, name: String): String = {
    val p = dir(name)
    Gen.turns(spark, c).write.mode(SaveMode.Overwrite).parquet(p)
    p
  }

  /** One `topKWand` call for `q`, starting after `after` when set. */
  def call(root: String, q: Query, after: Option[(Double, Long)]): Ranking =
    Check.rows(SearchEngine.topKWand(spark, root, q.terms, q.k, after = after,
      filters = q.filters,
      excludedDocs = if (q.excluded.isEmpty) None else Some(q.excluded.toDF("doc_id"))))

  /** A paged query's cursor: the last hit of its first page. */
  def cursor(root: String, q: Query): Option[(Double, Long)] =
    if (!q.paged) None
    else trace.op("cursor", q.cls, scratch)(call(root, q, None)).map(_.lastOption
      .map { case (d, s) => (s, d) }.getOrElse((Double.NegativeInfinity, Long.MaxValue)))

  def runQuery(root: String, q: Query): Ranking = call(root, q, cursor(root, q))

  /** One query op. A paged query's op is its second page: the first page
    * is fetched untimed just before, as a client holding a cursor would.
    */
  def query(root: String, q: Query, buf: mutable.Buffer[Op] = ops): Unit = {
    val after = cursor(root, q)
    trace.op("query", q.cls, buf)(call(root, q, after)).foreach(r => results(buf.last.id) = (q, r))
  }

  def fail(opIds: Iterable[String], what: String): Unit = if (opIds.nonEmpty) {
    System.err.println(s"verification failed: $what")
    failedOps ++= opIds
  }

  /** Checks the recorded results of `q` (of the ops `among`, else all)
    * against `ref`.
    */
  def verifyAgainst(q: Query, ref: Ranking, what: String,
      among: String => Boolean = _ => true): Unit = {
    val bad = results.collect {
      case (id, (rq, got)) if rq == q && among(id) && !Check.sameRanking(got, ref) => id
    }
    fail(bad, s"${q.id} ${q.terms.mkString(" ")} k=${q.k} vs $what")
  }

  def warmQueries(root: String, pool: Seq[Query]): Unit = pool.foreach(q => query(root, q, scratch))

  /** Set-up, timed as `setup_s`. */
  def setup[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    m("setup_s", "s") = (System.nanoTime() - t0) / 1e9
    r
  }

  private var cpu0 = Probe.cpuTicks()

  def windowOpen(): Double = {
    log("window")
    diag("probe") = Probe.host()
    cpu0 = Probe.cpuTicks()
    trace.nowMs
  }

  /** Share of the host's CPU time stolen by other guests since the window
    * opened (Linux guests only; NaN elsewhere).
    */
  def stealShare(): Double = {
    val now = Probe.cpuTicks()
    if (now.isEmpty || cpu0.isEmpty) Double.NaN
    else (now(7) - cpu0(7)).toDouble / (now.take(8).sum - cpu0.take(8).sum)
  }

  private val born = System.nanoTime()
  def log(phase: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - born) / 1e9}%.1f s $phase")

  // ---- workloads --------------------------------------------------------

  /** Closed-loop queries, one client, against a static index. Set-up
    * builds the index cold; that build gives `turns_per_s` and the build
    * layers.
    */
  def search(): Unit = {
    val c = Corpus(seed, 0, Sizes.SearchConvs, Sizes.TurnsPerConv)
    val shapes = Seq("marker", "filter", "excluded", "paged")
    val warm = Gen.queryPool(seed ^ Sizes.WarmSeedXor, c, 2, 2, shapes, "w")
    val (root, built, bytesRatio) = setup {
      val input = writeTurns(c, "turns")
      val root = dir("index")
      val s = trace.op("build", "", setupOps) {
        IndexBuildJob.run(spark, IndexBuildJob.Args(input = input, output = root,
          keywordFields = Sizes.KeywordFields))
      }.getOrElse(throw new IllegalStateException("the set-up index build failed"))
      inputBytes(setupOps.last.id) = bytesUnder(input)
      warmQueries(root, warm)
      (root, s, bytesUnder(root).toDouble / bytesUnder(input))
    }
    val pool = Gen.queryPool(seed, c, 6, 6, shapes)
    val order = Gen.stream(seed, pool.size, 1 << 14)
    val t0 = windowOpen()
    var i = 0
    while (opTime < seconds) { query(root, pool(order(i))); i += 1 }
    val t1 = trace.nowMs
    m("retained_heap_mb", "MB") = Trace.retainedHeapMb()
    diag("steal_share") = stealShare()
    log("verify")

    if (built.nTurns != c.nTurns)
      fail(ops.map(_.id), s"build indexed ${built.nTurns} turns, generated ${c.nTurns}")
    val ran = pool.filter(q => results.values.exists(_._1 == q))
    ran.foreach(q => verifyAgainst(q, Check.exhaustive(spark, root, q, c), "topKExhaustive"))
    // a seeded sample of one query, alternating the class by seed
    val docs = Gen.docs(spark, c)
    val sample = ran.filter(_.cls == (if (seed % 2 == 0) "broad" else "selective"))
    sample.lift(new java.util.Random(seed).nextInt(sample.size max 1))
      .foreach(q => verifyAgainst(q, Check.bruteForce(docs, q, c), "BruteForce"))
    docs.unpersist()

    queryMetrics()
    m("turns_per_s", "turns/s") = built.turnsPerSec
    m("index_bytes_per_input_byte", "ratio") = bytesRatio
    diag("stage_walls_ms") = built.stageWalls.toSeq
    finishTrace(setupOps, t0, t1, root, pool.filter(_.cls == "broad"))
  }

  /** Micro-batches through `StreamingIngest.ingestBatch` into a fresh
    * incremental index, with fresh queries after every publish.
    */
  def ingest(): Unit = {
    val shapes = Seq("marker", "marker", "excluded")
    def batch(s: Long, b: Int) =
      Corpus(s, b.toLong * Sizes.BatchConvs, (b + 1L) * Sizes.BatchConvs, Sizes.TurnsPerConv)
    def ingestOne(root: String, c: Corpus, b: Int, buf: mutable.Buffer[Op]): Unit = {
      val input = writeTurns(c, "batch")
      trace.op("batch", "", buf) {
        StreamingIngest.ingestBatch(spark.read.parquet(input).as[Turn], root,
          Sizes.Buckets, Sizes.TargetRun, b.toLong)
      }
      inputBytes(buf.last.id) = bytesUnder(input)
      delete(input)
    }
    // the fixed handful of queries issued after every publish; their
    // markers and excluded docs lie in the first batch
    val handful = Gen.queryPool(seed, batch(seed, 0), 3, 3, shapes, "f")
    // warm-up: batches of another seed into an index of their own
    val ws = seed ^ Sizes.WarmSeedXor
    val wRoot = dir("warm-index")
    setup {
      val wc = Corpus(ws, 0, Sizes.WarmBatchConvs, Sizes.TurnsPerConv)
      ingestOne(wRoot, wc, 0, scratch)
      warmQueries(wRoot, Gen.queryPool(ws, wc, 1, 1, shapes, "w"))
    }
    delete(wRoot)
    val root = dir("index")
    val t0 = windowOpen()
    var b = 0
    while (opTime < seconds || b < Sizes.MinBatches) {
      ingestOne(root, batch(seed, b), b, ops)
      val first = ops.size
      handful.foreach(q => query(root, q))
      // the index changes with the next batch: check this batch's answers now
      val now = ops.drop(first).map(_.id).toSet
      handful.foreach(q => verifyAgainst(q, Check.exhaustive(spark, root, q, batch(seed, 0)),
        s"topKExhaustive after batch $b", now))
      b += 1
    }
    val t1 = trace.nowMs
    m("retained_heap_mb", "MB") = Trace.retainedHeapMb()
    diag("steal_share") = stealShare()
    log("verify")

    val all = Corpus(seed, 0, b.toLong * Sizes.BatchConvs, Sizes.TurnsPerConv)
    val batchOps = ops.filter(_.kind == "batch")
    val nDocs = Catalog.readCorpusStats(spark, IndexPaths(root)).n_docs
    if (nDocs != all.nTurns) fail(batchOps.map(_.id), s"index holds $nDocs docs, ingested ${all.nTurns}")
    val docs = Gen.docs(spark, all)
    Gen.queryPool(seed, all, 1, 1, Seq("marker"), "final").foreach { q =>
      val got = runQuery(root, q)
      if (!Check.sameRanking(got, Check.bruteForce(docs, q, all)))
        fail(batchOps.map(_.id), s"final index: ${q.id} ${q.terms.mkString(" ")} vs BruteForce")
    }
    docs.unpersist()

    queryMetrics()
    m("turns_per_s", "turns/s") = all.nTurns / (batchOps.map(_.wallMs).sum / 1000.0)
    m("index_bytes_per_input_byte", "ratio") =
      bytesUnder(root).toDouble / batchOps.map(o => inputBytes(o.id)).sum
    diag("batches") = b
    finishTrace(ops.filter(_.kind == "batch"), t0, t1, root, handful.filter(_.cls == "broad"))
  }

  // ---- reporting --------------------------------------------------------

  private def queryMetrics(): Unit = {
    val q = ops.filter(o => o.kind == "query" && o.ok && !failedOps(o.id))
    for (cls <- Seq("broad", "selective")) {
      val ws = q.filter(_.cls == cls).map(_.wallMs)
      m(s"${cls}_p50_ms", "ms") = Stats.median(ws)
      diag(s"${cls}_samples") = ws.size
    }
    diag("shape_p50_ms") = q.groupBy(o => results(o.id)._1.shape).toSeq.sortBy(_._1)
      .map { case (shape, os) => shape -> Stats.median(os.map(_.wallMs)) }
    m("queries_per_s", "1/s") = q.size / (q.map(_.wallMs).sum / 1000.0)
  }

  def attempted: Long = ops.size
  def failed: Long = ops.count(o => !o.ok || failedOps(o.id))

  /** Traced runs only: per-layer metrics, kernel replay, reconciliation
    * and the spans. `indexOps` are the builds or batches the index layer
    * metrics describe; `root` is an index to replay `broad` on.
    */
  private def finishTrace(indexOps: collection.Seq[Op], t0: Double, t1: Double, root: String,
      broad: collection.Seq[Query]): Unit = if (traced) {
    trace.drain()
    val l = new Layers(trace)
    Seq("broad", "selective").foreach(cls => l.queryMetrics(ops, cls, layers))
    l.indexMetrics(indexOps, inputBytes.toMap, layers)
    // per index op, in order: O(total) work per batch shows as growth
    diag("read_amplification") = indexOps.filter(o => inputBytes.contains(o.id))
      .map(o => l.of(o).totals.inputBytes.toDouble / inputBytes(o.id))
    val replays = broad.map(q =>
      trace.span("kernel.replay", "run", Seq("query" -> q.id))(Kernel.replay(spark, root, q.terms, q.k)))
    val postings = replays.map(_.postings).sum.toDouble
    layers("kernel.decode_ns_per_posting", "ns") = replays.map(_.decodeNs).sum / postings
    layers("kernel.wand_ns_per_posting", "ns") = replays.map(_.wandNs).sum / postings
    layers("kernel.wand_ms_per_query", "ms") = replays.map(_.wandNs).sum / replays.size / 1e6
    layers("kernel.wand_over_decode_all", "ratio") = replays.map(_.wandNs).sum / replays.map(_.decodeNs).sum
    layers("core.analyze_ns_per_turn", "ns") = Probe.analyzeNsPerTurn(seed)
    layers("core.vbyte_encode_ns_per_posting", "ns") = Probe.vbyteNsPerPosting(seed)
    layers("index.postings_files", "count") =
      graft.io.Fs.listDataFiles(IndexPaths(root).postings).size
    layers("jvm.gc_ms_per_op", "ms") = ops.map(_.gcMs).sum.toDouble / ops.size
    // both medians are reported; traced minus untraced is the overhead
    Seq("broad_p50_ms", "selective_p50_ms").foreach(k => layers(s"trace.$k", "ms") = m.values(k)._1)
    trace.drain()
    diag("trace_reconciled") = l.reconciles(setupOps ++ ops ++ scratch)
    val all = setupOps ++ ops
    trace.spans ++= Span("run", "run", "", all.map(_.startMs).min, t1) +: l.spans(all, "run")
  }
}

/** Host probes and single-function micro-benchmarks. */
object Probe {
  private def medianNs(reps: Int)(f: => Any): Double =
    Stats.median((0 until reps).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble })

  /** Memory-copy bandwidth and a scalar spin loop: a diagnostic of the
    * host's state beside the metrics, not a metric.
    */
  def host(): Seq[(String, Any)] = {
    val a = new Array[Byte](32 << 20)
    val b = new Array[Byte](32 << 20)
    val copyNs = medianNs(5)(System.arraycopy(a, 0, b, 0, a.length))
    var x = 1L
    val spinNs = medianNs(5) { var i = 0; while (i < 20000000) { x = x * 6364136223846793005L + 1; i += 1 } }
    Seq("memcpy_gb_per_s" -> a.length / copyNs, "spin_ns_per_iter" -> spinNs / 2e7, "sink" -> (x & 1))
  }

  /** The aggregate `cpu` line of /proc/stat: user, nice, system, idle,
    * iowait, irq, softirq, steal, … in clock ticks; empty when absent.
    */
  def cpuTicks(): Array[Long] = {
    val f = new java.io.File("/proc/stat")
    if (!f.canRead) Array.empty
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
    }
  }

  def analyzeNsPerTurn(seed: Long): Double = {
    val texts = (0L until 20L).flatMap(c => Gen.conversation(seed, c, Sizes.TurnsPerConv)).map(_.text)
    medianNs(7)(texts.foreach(graft.core.Analyzer.tokenize)) / texts.size
  }

  def vbyteNsPerPosting(seed: Long): Double = {
    val rng = new java.util.Random(seed)
    val runs = Array.fill(2000) {
      var d = rng.nextInt(1000).toLong
      Array.fill(128) { d += 1 + rng.nextInt(64); d }
    }
    medianNs(7)(runs.foreach(graft.core.Codec.encodeDeltas)) / (runs.length * 128)
  }
}

object Main {
  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10,
      trace: Boolean = false, work: String = "perfbench/work", out: String = "perfbench/out")

  def parse(argv: Array[String]): Args = argv.grouped(2).foldLeft(Args()) {
    case (a, Array("--workload", v)) => a.copy(workload = v)
    case (a, Array("--seed", v)) => a.copy(seed = v.toLong)
    case (a, Array("--seconds", v)) => a.copy(seconds = v.toDouble)
    case (a, Array("--trace", v)) => a.copy(trace = v == "1")
    case (a, Array("--work", v)) => a.copy(work = v)
    case (a, Array("--out", v)) => a.copy(out = v)
    case (_, other) => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Set("search", "ingest")(a.workload), s"unknown workload ${a.workload}")
    val work = new java.io.File(a.work, s"${a.workload}-${a.seed}-${ProcessHandle.current.pid}").getAbsolutePath
    val spark = session(work)
    val bench = new Bench(spark, a.seed, a.seconds, a.trace, work)
    try {
      a.workload match {
        case "search" => bench.search()
        case "ingest" => bench.ingest()
      }
    } finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
    }
    val d = bench.diag
    d("failed_frac") = bench.failed.toDouble / bench.attempted
    d("op_seconds") = bench.opTime
    if (a.trace) {
      val f = new java.io.File(a.out, s"spans-${a.workload}-${a.seed}.jsonl")
      f.getParentFile.mkdirs()
      val w = new java.io.PrintWriter(f, "UTF-8")
      try bench.trace.spans.foreach(s => w.println(Json.span(s))) finally w.close()
      d("span_file") = f.getPath
      d("spans") = bench.trace.spans.size
    }
    println(Json.obj(Seq("diagnostics" -> d.toSeq)))
    println(Json.obj(Seq(
      "correct" -> (bench.failed == 0),
      "attempted" -> bench.attempted,
      "failed" -> bench.failed,
      "metrics" -> (if (a.trace) bench.layers else bench.m))))
  }
}
