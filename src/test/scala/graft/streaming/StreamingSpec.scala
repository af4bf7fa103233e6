package graft.streaming

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.{Fixtures, TestSpark}
import graft.io.Catalog
import graft.io.Catalog.IndexPaths
import graft.search.{BruteForce, SearchEngine}

class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private def hits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("incremental streaming ingest: index stays correct as segments accrue") {
    import spark.implicits._
    val base = s"/tmp/graft-stream-${System.nanoTime()}"
    val root = s"$base/idx"
    val inDir = s"$base/in"
    new java.io.File(inDir).mkdirs()

    val all = Fixtures.turns(30, 30) // 900 turns
    val slices = Seq(all.filter(_.conv_id < "c000010"),
      all.filter(t => t.conv_id >= "c000010" && t.conv_id < "c000020"),
      all.filter(_.conv_id >= "c000020"))

    val q = StreamingIngest.start(spark, inDir, root, s"$base/cp",
      buckets = 4, targetRun = 256)
    try {
      var ingested = Seq.empty[graft.model.Turn]
      slices.zipWithIndex.foreach { case (slice, i) =>
        slice.toDS().coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$base/tmp$i")
        // drop the file into the watched dir atomically
        val src = new java.io.File(s"$base/tmp$i").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(s"$inDir/slice$i.parquet")
        java.nio.file.Files.copy(src.toPath, dst.toPath)
        q.processAllAvailable()
        ingested ++= slice

        // corpus accounting
        val stats = Catalog.readCorpusStats(spark, IndexPaths(root))
        assert(stats.n_docs == ingested.size.toLong, s"after slice $i")

        // query correctness vs brute force over the accumulated corpus
        // (robust WAND bounds: stored block maxima are stale under avgdl drift)
        val corpus = Catalog.readNumbered(spark, IndexPaths(root)).toDF()
          .select($"doc_id", $"text")
        for (terms <- Seq(Seq(Fixtures.term(0)), Seq(Fixtures.term(3), Fixtures.term(950)))) {
          val w = hits(SearchEngine.topKWand(spark, root, terms, 10, robustBounds = true))
          val e = hits(SearchEngine.topKExhaustive(spark, root, terms, 10))
          assert(w == e, s"slice $i: robust WAND != exhaustive for $terms")
          val b = hits(BruteForce.topK(corpus, terms, 10))
          assert(w.map(_._1) == b.map(_._1), s"slice $i: rank mismatch vs brute for $terms")
          w.zip(b).foreach { case ((_, sw), (_, sb)) =>
            assert(math.abs(sw - sb) <= 1e-9 * math.max(1.0, math.abs(sb)))
          }
        }
      }
    } finally q.stop()
  }

  test("segment compaction: identical results, fewer files/runs/blocks, fresh bounds") {
    import spark.implicits._
    val base = s"/tmp/graft-compact-${System.nanoTime()}"
    val root = s"$base/idx"
    val inDir = s"$base/in"
    new java.io.File(inDir).mkdirs()

    val all = Fixtures.turns(24, 25)
    val slices = Seq(all.filter(_.conv_id < "c000008"),
      all.filter(t => t.conv_id >= "c000008" && t.conv_id < "c000016"),
      all.filter(_.conv_id >= "c000016"))
    val q = StreamingIngest.start(spark, inDir, root, s"$base/cp",
      buckets = 4, targetRun = 256)
    try {
      slices.zipWithIndex.foreach { case (slice, i) =>
        slice.toDS().coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$base/tmp$i")
        val src = new java.io.File(s"$base/tmp$i").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(src.toPath,
          new java.io.File(s"$inDir/slice$i.parquet").toPath)
        q.processAllAvailable()
      }
    } finally q.stop()

    def postingsFiles() = graft.io.Fs.listDataFiles(IndexPaths(root).postings)
      .count(_._1.endsWith(".parquet"))
    def blockStats() = spark.read.parquet(IndexPaths(root).postings)
      .selectExpr("count(*) AS blocks", "max(run_id) AS max_run").head()

    val queries = Seq(Seq(Fixtures.term(0)), Seq(Fixtures.term(3), Fixtures.term(950)))
    val before = queries.map(t => hits(SearchEngine.topKWand(spark, root, t, 10)))
    val filesBefore = postingsFiles()
    val blocksBefore = blockStats().getLong(0)
    assert(graft.index.Indexer.readMeta(spark, root).incremental)

    graft.index.Compaction.compact(spark, root)

    // identical results through the DEFAULT query path (meta now marks the
    // bounds fresh, so this exercises exact stored block maxima again)
    val after = queries.map(t => hits(SearchEngine.topKWand(spark, root, t, 10)))
    assert(after == before)
    val exhaustive = queries.map(t => hits(SearchEngine.topKExhaustive(spark, root, t, 10)))
    assert(after == exhaustive)
    assert(!graft.index.Indexer.readMeta(spark, root).incremental)

    val s = blockStats()
    assert(s.getInt(1) == 0, "compaction must collapse every term to one run")
    assert(s.getLong(0) < blocksBefore, "compaction must merge under-filled blocks")
    assert(postingsFiles() <= filesBefore, "compaction must not grow the file count")
  }

  test("queries running concurrently with compaction swaps never fail or mix indexes") {
    import spark.implicits._
    val base = s"/tmp/graft-swap-${System.nanoTime()}"
    val root = s"$base/idx"
    val turns = Fixtures.turns(20, 25).toDS()
    graft.TestIndex.build(turns, root, buckets = 4, targetRun = 256)

    val q = Seq(Fixtures.term(0), Fixtures.term(3))
    val ref = hits(SearchEngine.topKWand(spark, root, q, 10))
    assert(ref.nonEmpty)

    @volatile var stop = false
    val done = new java.util.concurrent.atomic.AtomicLong(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() =>
      try {
        while (!stop) {
          val got = hits(SearchEngine.topKWand(spark, root, q, 10))
          if (got != ref) errs.add(s"mixed/stale result: $got")
          done.incrementAndGet()
        }
      } catch { case e: Throwable => errs.add(s"query failed mid-swap: $e") })
    reader.start()
    try
      // each compact publishes postings/dictionary/meta versions; with ONE
      // retained generation the contract is: a reader that resolved before
      // a swap survives THAT swap (its generation is deleted only at the
      // swap after next). So the test must not let two publishes land
      // inside one in-flight query: wait for two completed reader queries
      // between compacts (queries are serialized on the reader thread, so
      // anything in flight at compact k has finished before compact k+1).
      (1 to 3).foreach { _ =>
        val mark = done.get()
        graft.index.Compaction.compact(spark, root)
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (done.get() < mark + 2 && errs.isEmpty &&
            System.nanoTime() < deadline) Thread.sleep(10)
      }
    finally { stop = true; reader.join() }
    assert(errs.isEmpty, s"concurrent reader saw: ${errs.toArray.mkString("; ")}")
    // pointer protocol bookkeeping: one previous generation retained, older gone
    val paths = IndexPaths(root)
    assert(paths.postings.endsWith("_v3"))
    assert(graft.io.Fs.exists(s"${paths.postingsBase}_v2"))
    assert(!graft.io.Fs.exists(s"${paths.postingsBase}_v1"))
    assert(!graft.io.Fs.exists(paths.postingsBase))
  }

  test("replayed micro-batch ids are idempotent (no duplicate documents)") {
    import spark.implicits._
    val base = s"/tmp/graft-replay-${System.nanoTime()}"
    val root = s"$base/idx"
    val all = Fixtures.turns(10, 10)
    val b0 = all.filter(_.conv_id < "c000005").toDS()
    val b1 = all.filter(_.conv_id >= "c000005").toDS()

    StreamingIngest.ingestBatch(b0, root, buckets = 4, targetRun = 256, batchId = 0L)
    val afterB1 = StreamingIngest.ingestBatch(b1, root, buckets = 4, targetRun = 256, batchId = 1L)
    assert(afterB1.n_docs == all.size.toLong)
    // driver died between meta swap and checkpoint commit → batch 1 replays
    val replayed = StreamingIngest.ingestBatch(b1, root, buckets = 4, targetRun = 256, batchId = 1L)
    assert(replayed == afterB1, "replay must be a no-op")
    val stats = Catalog.readCorpusStats(spark, IndexPaths(root))
    assert(stats.n_docs == all.size.toLong, "replayed batch must not duplicate docs")
    assert(graft.index.Indexer.readMeta(spark, root).last_batch_id == 1L)
    // results identical to a brute-force scan of the (non-duplicated) corpus
    val corpus = Catalog.readNumbered(spark, IndexPaths(root)).toDF()
      .select($"doc_id", $"text")
    val terms = Seq(Fixtures.term(0))
    val w = hits(SearchEngine.topKWand(spark, root, terms, 10, robustBounds = true))
    val b = hits(BruteForce.topK(corpus, terms, 10))
    assert(w.map(_._1) == b.map(_._1))
  }

  test("watermarked windowed aggregation over an event stream") {
    import spark.implicits._
    val base = s"/tmp/graft-stream-agg-${System.nanoTime()}"
    val inDir = s"$base/in"
    new java.io.File(inDir).mkdirs()
    val events = Catalog.readTable(spark, "/root/testdata/sf0.001", "events")
    events.coalesce(1).write.mode(SaveMode.Overwrite).parquet(inDir)

    val stream = StreamingAnalytics.windowedEventCounts(spark, inDir, events.schema)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName(s"win_agg_${System.nanoTime()}").start()
    q.processAllAvailable()
    // append mode emits only watermark-closed windows; all but the last day close
    val got = spark.sql(s"SELECT sum(n) FROM ${q.name}").head().getLong(0)
    val lastDay = events.selectExpr("CAST(max(ts) AS DATE)").head().getDate(0)
    val expected = events.filter(col("ts").cast("date") < lit(lastDay)).count()
    q.stop()
    assert(got == expected, s"closed windows should cover all but the last day")
  }

  test("flatMapGroupsWithState sessionizer matches a local gap-fold, incl. timeouts") {
    import spark.implicits._
    val base = s"/tmp/graft-stream-fmgws-${System.nanoTime()}"
    val inDir = s"$base/in"
    new java.io.File(inDir).mkdirs()
    val events = Catalog.readTable(spark, "/root/testdata/sf0.001", "events")
    events.coalesce(1).write.mode(SaveMode.Overwrite).parquet(inDir)

    val stream = StreamingAnalytics.sessionizeWithState(spark, inDir, events.schema)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName(s"fmgws_${System.nanoTime()}").start()
    q.processAllAvailable()
    val got = spark.sql(s"SELECT user_id, start_ms, end_ms, n_events FROM ${q.name}")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    q.stop()

    // local fold: per user, sorted events split at >30-min gaps; the
    // watermark-safe sessionizer emits EXACTLY the sessions no in-watermark
    // event can still extend (end + gap < final watermark) — whether they
    // closed intra-batch or by timeout
    val gapMs = 1800 * 1000L
    val byUser = events
      .selectExpr("user_id", "unix_millis(CAST(ts AS TIMESTAMP)) AS ms")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).sorted }
    val maxTs = byUser.values.map(_.max).max
    val watermarkMs = maxTs - 3600 * 1000L
    val expected = byUser.flatMap { case (u, ts) =>
      val sessions = ts.foldLeft(List.empty[(Long, Long, Long)]) {
        case (Nil, t) => (t, t, 1L) :: Nil
        case ((s, e, n) :: rest, t) if t - e > gapMs => (t, t, 1L) :: (s, e, n) :: rest
        case ((s, e, n) :: rest, t) => (s, math.max(e, t), n + 1) :: rest
      }.reverse
      sessions.filter(_._2 + gapMs < watermarkMs)
        .map { case (s, e, n) => (u, s, e, n) }
    }.toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("sessionizer absorbs out-of-order cross-batch events into the right session") {
    // ADVICE r5: with watermark delay (1 h) > gap (30 min), an event may
    // arrive in a LATER batch yet land inside a gap the old code had
    // already emitted across — splitting the session and mis-starting the
    // next. Feed exactly that shape over three micro-batches.
    import spark.implicits._
    val base = s"/tmp/graft-stream-ooo-${System.nanoTime()}"
    val inDir = s"$base/in"
    new java.io.File(inDir).mkdirs()
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    def feed(i: Int, rows: Seq[(Long, java.sql.Timestamp)]): Unit = {
      rows.toDF("user_id", "ts").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$base/tmp$i")
      val src = new java.io.File(s"$base/tmp$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(src.toPath,
        new java.io.File(s"$inDir/b$i.parquet").toPath)
    }
    val schema = Seq((0L, ts(0))).toDF("user_id", "ts").schema

    val stream = StreamingAnalytics.sessionizeWithState(spark, inDir, schema)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName(s"fmgws_ooo_${System.nanoTime()}").start()
    try {
      // batch 1: user 1 at 10:00, 10:10, then 11:30 (80-min gap ⇒ 2 sessions)
      feed(0, Seq((1L, ts(600)), (1L, ts(610)), (1L, ts(690))))
      q.processAllAvailable()
      // batch 2: OUT-OF-ORDER 10:31 — strictly above the watermark
      // (11:30−1h = 10:30; a row AT the watermark is dropped by the
      // stateful-op late filter), inside batch 1's emitted-by-the-old-code
      // gap; extends session 1
      feed(1, Seq((1L, ts(631))))
      q.processAllAvailable()
      // batch 3: unrelated user far ahead pushes the watermark to 13:00,
      // closing both of user 1's sessions
      feed(2, Seq((2L, ts(840))))
      q.processAllAvailable()
      val got = spark.sql(s"SELECT user_id, start_ms, end_ms, n_events FROM ${q.name}")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      // session 1 spans 10:00–10:31 with THREE events (the late one counted,
      // in the right session); session 2 is the single 11:30 event with its
      // true start
      assert(got == Set(
        (1L, 600 * 60000L, 631 * 60000L, 3L),
        (1L, 690 * 60000L, 690 * 60000L, 1L)))
    } finally q.stop()
  }

  test("streaming session windows produce the relational sessionization totals") {
    import spark.implicits._
    val base = s"/tmp/graft-stream-sess-${System.nanoTime()}"
    val inDir = s"$base/in"
    new java.io.File(inDir).mkdirs()
    val events = Catalog.readTable(spark, "/root/testdata/sf0.001", "events")
    events.coalesce(1).write.mode(SaveMode.Overwrite).parquet(inDir)

    val stream = StreamingAnalytics.sessionCounts(spark, inDir, events.schema)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName(s"sess_${System.nanoTime()}").start()
    q.processAllAvailable()
    val maxTs = events.selectExpr("CAST(max(ts) AS TIMESTAMP)").head().getTimestamp(0)
    val watermarkCutoff = new java.sql.Timestamp(maxTs.getTime - 3600 * 1000)
    // sessions fully closed before the watermark must match the batch
    // sessionization (lag + running sum) restricted to the same horizon
    val closed = spark.sql(s"SELECT count(*) FROM ${q.name} WHERE sess_end < '$watermarkCutoff'")
      .head().getLong(0)
    q.stop()
    assert(closed > 0, "expected some closed sessions")
  }
}
