package graft.index

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{IndexCache, TestSpark}
import graft.io.{Catalog, Fs}
import graft.io.Catalog.IndexPaths
import graft.search.SearchEngine
import graft.search.SearchEngine.rounded

class SnapshotsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val sfDir = "/root/testdata/sf0.001"
  private val q = Seq("join", "window", "vector")

  private def hits(root: String): Seq[(Long, Double)] =
    rounded(SearchEngine.topKWand(spark, root, q, 10))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("snapshot -> destructive mutate -> restore reproduces the original index") {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val root = s"/tmp/graft-snap-$tag/idx"
    val snap = s"/tmp/graft-snap-$tag/snapshot"
    try {
      Indexer.buildFromDocs(Catalog.readDocuments(spark, sfDir), root,
        buckets = IndexCache.Buckets, targetRun = IndexCache.TargetRun)
      val before = hits(root)
      val fps = Snapshots.create(spark, root, snap)
      assert(fps.keySet == Set("postings", "dictionary", "corpus_stats", "meta"))

      // destructive mutation: delete + expunge (stats, postings, dictionary
      // all rewritten; tombstones cleared)
      Deletes.deleteByQuery(spark, root, Seq("stream"))
      Deletes.purge(spark, root)
      assert(hits(root) != before, "mutation must change the ranking")

      Snapshots.restore(spark, snap, root)
      assert(hits(root) == before, "restore must reproduce the original ranking bit-for-bit")
      assert(Deletes.read(spark, IndexPaths(root)).isEmpty)
    } finally Fs.delete(s"/tmp/graft-snap-$tag")
  }

  test("restore clears tombstones added after the snapshot") {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val root = s"/tmp/graft-snap-$tag/idx"
    val snap = s"/tmp/graft-snap-$tag/snapshot"
    try {
      Indexer.buildFromDocs(Catalog.readDocuments(spark, sfDir), root,
        buckets = IndexCache.Buckets, targetRun = IndexCache.TargetRun)
      val before = hits(root)
      Snapshots.create(spark, root, snap)
      Deletes.deleteByQuery(spark, root, Seq("stream")) // soft only — no purge
      assert(hits(root) != before)
      Snapshots.restore(spark, snap, root)
      assert(hits(root) == before)
      assert(Deletes.read(spark, IndexPaths(root)).isEmpty,
        "post-snapshot tombstones must not survive a restore")
    } finally Fs.delete(s"/tmp/graft-snap-$tag")
  }

  test("a tampered snapshot refuses to restore") {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val root = s"/tmp/graft-snap-$tag/idx"
    val snap = s"/tmp/graft-snap-$tag/snapshot"
    try {
      Indexer.buildFromDocs(Catalog.readDocuments(spark, sfDir), root,
        buckets = IndexCache.Buckets, targetRun = IndexCache.TargetRun)
      Snapshots.create(spark, root, snap)
      // truncate one postings data file
      val f = Fs.listDataFiles(s"$snap/postings").head._1
      val out = new java.io.FileOutputStream(f)
      out.write(Array[Byte](0, 1, 2)); out.close()
      val e = intercept[IllegalArgumentException](Snapshots.restore(spark, snap, root))
      assert(e.getMessage.contains("fingerprint mismatch"))
    } finally Fs.delete(s"/tmp/graft-snap-$tag")
  }
}
