package graft.streaming

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.io.Catalog
import graft.operators.Ivf

/** Streaming vector ingest: ANN over the streamed per-list table must equal
  * ANN over a batch-built table of the same vectors, across generations
  * (append → compaction swap), with replayed micro-batches a no-op.
  */
class StreamingVectorsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val sfDir = "/root/testdata/sf0.001"

  private def topk(listsPath: String, centroids: Array[Array[Double]],
      probe: Long = 0L): Seq[(Long, Double)] =
    Ivf.annTopK(spark, sfDir, probe, 10, centroids, nprobe = 4, listsPath)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("streamed ingest equals batch-built ANN; compaction swaps atomically; replay is a no-op") {
    import spark.implicits._
    val base = s"/tmp/graft-vecstream-${System.nanoTime()}"
    val root = s"$base/vec"
    val inDir = s"$base/in"
    new java.io.File(inDir).mkdirs()

    // fixed quantizer, trained once offline (the FAISS contract)
    val centroids = Ivf.trainCentroids(spark, sfDir, nlist = 16)
    val emb = Catalog.readTable(spark, sfDir, "embeddings")

    // batch twin over ALL vectors
    val batchPath = s"$base/batch_lists"
    Ivf.assignLists(emb, centroids)
      .write.mode(SaveMode.Overwrite).parquet(batchPath)
    val want = topk(batchPath, centroids)
    assert(want.nonEmpty)

    val schema = emb.schema
    val q = StreamingVectors.start(spark, inDir, root, s"$base/cp",
      centroids, schema, compactEvery = 2)
    try {
      val slices = Seq(emb.filter($"vec_id" < 170),
        emb.filter($"vec_id" >= 170 && $"vec_id" < 340),
        emb.filter($"vec_id" >= 340))
      slices.zipWithIndex.foreach { case (s, i) =>
        s.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$base/tmp$i")
        val src = new java.io.File(s"$base/tmp$i").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(src.toPath,
          new java.io.File(s"$inDir/slice$i.parquet").toPath)
        q.processAllAvailable()
      }
    } finally q.stop()

    // all three batches in; compaction ran after batch 2 (compactEvery = 2)
    val streamedPath = StreamingVectors.listsPath(root)
    assert(streamedPath != StreamingVectors.listsBase(root),
      "compaction must have published a new generation")
    assert(topk(streamedPath, centroids) == want,
      "streamed+compacted ANN must equal the batch-built twin")
    // assignment tables are set-equal
    val streamed = spark.read.parquet(streamedPath)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val batch = spark.read.parquet(batchPath)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(streamed == batch)

    // replayed micro-batch (cursor already past it) is a no-op
    val before = spark.read.parquet(StreamingVectors.listsPath(root)).count()
    StreamingVectors.ingestBatch(emb.filter($"vec_id" < 170).toDF(), root,
      centroids, batchId = 0L)
    val after = spark.read.parquet(StreamingVectors.listsPath(root)).count()
    assert(after == before, "replayed batch must not double-append")

    // fresh (un-replayed) batch of NEW vec_ids under a new batch id DOES
    // append, and a follow-up compaction preserves the assignment set
    val fresh = emb.filter($"vec_id" < 10)
      .withColumn("vec_id", $"vec_id" + 100000L)
    StreamingVectors.ingestBatch(fresh.toDF(), root, centroids, batchId = 99L)
    assert(spark.read.parquet(StreamingVectors.listsPath(root)).count() ==
      before + 10)
    StreamingVectors.compact(spark, root)
    val finalSet = spark.read.parquet(StreamingVectors.listsPath(root))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val freshAssigned = Ivf.assignLists(fresh.toDF(), centroids)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(finalSet == batch ++ freshAssigned)
  }

  test("appends are atomic generations: the pre-batch generation never mutates") {
    import spark.implicits._
    val root = s"/tmp/graft-vecstream-${System.nanoTime()}/vec"
    val centroids = Ivf.trainCentroids(spark, sfDir, nlist = 16)
    val emb = Catalog.readTable(spark, sfDir, "embeddings")

    StreamingVectors.ingestBatch(emb.filter($"vec_id" < 100).toDF(), root,
      centroids, batchId = 0L)
    val gen0 = StreamingVectors.listsPath(root)
    val gen0Files = graft.io.Fs.listDataFiles(gen0)
    val gen0Rows = spark.read.parquet(gen0).count()

    // a reader that resolved gen0 before this append must keep seeing
    // EXACTLY the pre-batch file set and rows (the r6 in-place Append
    // mutated the live generation mid-listing)
    StreamingVectors.ingestBatch(
      emb.filter($"vec_id" >= 100 && $"vec_id" < 200).toDF(), root,
      centroids, batchId = 1L)
    assert(StreamingVectors.listsPath(root) != gen0,
      "an append must publish a NEW generation")
    assert(graft.io.Fs.listDataFiles(gen0) == gen0Files,
      "the superseded generation's files must be untouched")
    assert(spark.read.parquet(gen0).count() == gen0Rows)
  }

  test("replay after a crash between lists publish and cursor publish does not duplicate") {
    import spark.implicits._
    val root = s"/tmp/graft-vecstream-${System.nanoTime()}/vec"
    val centroids = Ivf.trainCentroids(spark, sfDir, nlist = 16)
    val emb = Catalog.readTable(spark, sfDir, "embeddings")
    val b0 = emb.filter($"vec_id" < 100).toDF()
    val b1 = emb.filter($"vec_id" >= 100 && $"vec_id" < 200).toDF()

    StreamingVectors.ingestBatch(b0, root, centroids, batchId = 0L)
    StreamingVectors.ingestBatch(b1, root, centroids, batchId = 1L)
    val rows = spark.read.parquet(StreamingVectors.listsPath(root)).count()

    // simulate the crash window: lists generation for batch 1 is live
    // (with its _batch_1 marker) but the cursor still says 0
    graft.io.Fs.publish(StreamingVectors.metaBase(root))(
      Seq(StreamingVectors.VecMeta(centroids.length, 0L)).toDS()
        .write.mode(SaveMode.Overwrite).parquet(_))

    // the streaming replay of batch 1: marker catches it — no re-append,
    // cursor re-advances
    StreamingVectors.ingestBatch(b1, root, centroids, batchId = 1L)
    assert(spark.read.parquet(StreamingVectors.listsPath(root)).count() == rows,
      "crash-window replay must not duplicate assignment rows")
    // and a THIRD batch still appends normally afterwards
    StreamingVectors.ingestBatch(
      emb.filter($"vec_id" >= 200 && $"vec_id" < 250).toDF(), root,
      centroids, batchId = 2L)
    assert(spark.read.parquet(StreamingVectors.listsPath(root)).count() > rows)
  }
}
