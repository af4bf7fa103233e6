package graft.io

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.index.IndexBuildJob
import graft.search.{BruteForce, SearchEngine}

/** Realistic JSONL ingest smoke over whatever live agent-session transcript
  * the sandbox mounts under /root/.graft (the file name rotates per round
  * and the log GROWS while this suite runs, so the spec snapshots it and
  * asserts structural invariants, never exact counts).
  */
class TranscriptJsonlSpec extends AnyFunSuite {

  private def mounted: Option[java.io.File] =
    Option(new java.io.File("/root/.graft").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("tx_") && f.getName.endsWith(".jsonl"))
      .sortBy(_.getName).headOption

  lazy val spark: SparkSession = TestSpark.session

  test("real agent transcript ingests, indexes, and searches end-to-end") {
    assume(mounted.nonEmpty, "no sample transcript mounted under /root/.graft")
    // snapshot: the live log appends while we run; every read below must
    // see the same bytes
    val snap = java.nio.file.Files.copy(mounted.get.toPath,
      java.nio.file.Paths.get(s"/tmp/graft-tx-snap-${System.nanoTime()}.jsonl"))
    import spark.implicits._
    val turns = TranscriptJsonl.readTurns(spark, snap.toString)
    val collected = turns.collect()
    assert(collected.length > 10, "a real session log has many turns")
    assert(collected.forall(_.conv_id.nonEmpty))
    assert(collected.groupBy(_.conv_id).values
      .forall(g => g.map(_.turn_idx).distinct.length == g.length),
      "turn_idx unique within a conversation")
    assert(collected.exists(_.text.nonEmpty))

    val root = s"/tmp/graft-jsonl-${System.nanoTime()}"
    val res = IndexBuildJob.run(spark, IndexBuildJob.Args(input = snap.toString,
      format = "transcript", output = root, buckets = 4, targetRun = 1 << 16))
    assert(res.nTurns == collected.length)

    // pick a token that actually occurs and verify engine vs brute force
    val term = graft.core.Analyzer.tokenize(
      collected.map(_.text).find(_.nonEmpty).get).head
    val numbered = Catalog.readDocidMap(spark, Catalog.IndexPaths(root)).toDF()
      .join(turns.toDF(), Seq("conv_id", "turn_idx"))
      .select($"doc_id", $"text")
    val w = SearchEngine.topKWand(spark, root, Seq(term), 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = BruteForce.topK(numbered, Seq(term), 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(w.map(_._1) == b.map(_._1))
  }
}
