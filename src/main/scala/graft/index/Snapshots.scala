package graft.index

import org.apache.spark.sql.SparkSession

import graft.io.{Catalog, Fs}
import graft.io.Catalog.IndexPaths

/** ES snapshot/restore for an index root.
  *
  * [[create]] copies the CURRENTLY-RESOLVED generation of every queryable
  * artifact (postings, dictionary, corpus_stats, meta, live tombstones)
  * into a snapshot directory as plain unversioned dirs, plus a manifest of
  * per-artifact content fingerprints ([[Catalog.fingerprint]] — the
  * Iceberg-snapshot-id stand-in). Because artifacts resolve through the
  * version pointer, the copy is a CONSISTENT cut even while streaming
  * ingest/compaction runs: the resolved generation is immutable once
  * published (swaps publish new `_v<N>` dirs, they never rewrite old ones).
  *
  * [[restore]] publishes each snapshot artifact back onto a (possibly live)
  * index root through the same atomic pointer protocol — a reader
  * concurrent with the restore sees complete old or complete new artifacts,
  * never a mix inside one artifact. Fingerprints are re-verified before
  * anything is published; a tampered/truncated snapshot refuses to restore.
  */
object Snapshots {

  private val Artifacts = Seq("postings", "dictionary", "corpus_stats", "meta", "deletes")

  private def artifactPath(paths: IndexPaths, name: String): String = name match {
    case "postings" => paths.postings
    case "dictionary" => paths.dictionary
    case "corpus_stats" => paths.corpusStats
    case "meta" => paths.meta
    case "deletes" => paths.deletes
  }

  private def basePath(paths: IndexPaths, name: String): String = name match {
    case "postings" => paths.postingsBase
    case "dictionary" => paths.dictionaryBase
    case "corpus_stats" => paths.corpusStatsBase
    case "meta" => paths.metaBase
    case "deletes" => paths.deletesBase
  }

  /** Snapshot `root` into `snapDir`; returns the artifact→fingerprint map.
    *
    * Cross-artifact consistency: each COPY is internally consistent
    * (resolved generations are immutable), but a publish landing BETWEEN
    * two copies would mix generations across artifacts. The resolved paths
    * are therefore re-checked after all copies; a concurrent swap triggers
    * one clean retry, then an error — never a silently mixed snapshot.
    */
  def create(spark: SparkSession, root: String, snapDir: String): Map[String, String] = {
    val paths = IndexPaths(root)
    require(Fs.exists(paths.postings), s"no index at $root")
    var attempt = 0
    while (true) {
      attempt += 1
      Fs.delete(snapDir)
      Fs.mkdirs(snapDir)
      val resolvedBefore = Artifacts.map(n => n -> artifactPath(paths, n)).toMap
      val fps = Artifacts.flatMap { name =>
        val src = resolvedBefore(name)
        if (!Fs.exists(src)) None
        else {
          Fs.copyDir(src, s"$snapDir/$name")
          Some(name -> Catalog.fingerprint(s"$snapDir/$name"))
        }
      }.toMap
      val stable = Artifacts.forall(n => artifactPath(paths, n) == resolvedBefore(n))
      if (stable) {
        writeManifest(snapDir, fps)
        return fps
      }
      require(attempt < 2,
        s"index at $root kept swapping generations during snapshot — retry when quiescent")
    }
    throw new IllegalStateException("unreachable")
  }

  /** Restore a snapshot onto `root` (atomic per artifact, fingerprint-
    * verified first). Artifacts absent from the snapshot but present on the
    * target (e.g. tombstones added after the snapshot) are reset by
    * publishing an empty generation where that matters: a snapshot with no
    * `deletes` restores onto a root whose live tombstones must not survive,
    * so deletes are cleared explicitly.
    */
  def restore(spark: SparkSession, snapDir: String, root: String): Unit = {
    import spark.implicits._
    val manifest = readManifest(snapDir)
    manifest.foreach { case (name, fp) =>
      val now = Catalog.fingerprint(s"$snapDir/$name")
      require(now == fp, s"snapshot artifact $name fingerprint mismatch: $now != $fp")
    }
    val paths = IndexPaths(root)
    // publish order mirrors Deletes.purge: force robust bounds while the
    // artifact set is mixed, restore payloads, then the snapshot meta last
    val curMeta = if (Fs.exists(paths.meta)) Some(Indexer.readMeta(spark, root)) else None
    curMeta.foreach(m =>
      Fs.publish(paths.metaBase)(Indexer.writeMeta(spark, m.copy(incremental = true), _)))
    for (name <- Seq("postings", "dictionary", "corpus_stats", "deletes", "meta")) {
      if (manifest.contains(name))
        Fs.publish(basePath(paths, name))(Fs.copyDir(s"$snapDir/$name", _))
      else if (name == "deletes" && Fs.exists(paths.deletes))
        Fs.publish(paths.deletesBase)(
          spark.emptyDataset[Long].toDF("doc_id")
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(_))
    }
  }

  private def writeManifest(snapDir: String, fps: Map[String, String]): Unit = {
    val body = fps.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("\n")
    val p = new org.apache.hadoop.fs.Path(s"$snapDir/SNAPSHOT.manifest")
    val fs = p.getFileSystem(Fs.conf())
    val out = fs.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  private def readManifest(snapDir: String): Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(s"$snapDir/SNAPSHOT.manifest")
    val fs = p.getFileSystem(Fs.conf())
    require(fs.exists(p), s"no SNAPSHOT.manifest in $snapDir")
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    body.linesIterator.filter(_.nonEmpty).map { l =>
      val Array(k, v) = l.split("=", 2)
      k -> v
    }.toMap
  }
}
