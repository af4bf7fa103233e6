package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Filesystem access through the Hadoop FileSystem API — local FS in the
  * sandbox, HDFS/S3A/etc. in production, selected by the path's scheme.
  * Replaces the round-1 `java.io.File`/NIO call sites (VERDICT r1 item 7),
  * which silently only worked on the local filesystem.
  */
object Fs {

  def conf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private def fsOf(path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(conf()), p)
  }

  def exists(path: String): Boolean = {
    val (fs, p) = fsOf(path)
    fs.exists(p)
  }

  def mkdirs(path: String): Unit = {
    val (fs, p) = fsOf(path)
    fs.mkdirs(p): Unit
  }

  def delete(path: String): Unit = {
    val (fs, p) = fsOf(path)
    fs.delete(p, true): Unit
  }

  /** Create an empty marker file (idempotency sentinels). */
  def touch(path: String): Unit = {
    val (fs, p) = fsOf(path)
    fs.create(p, true).close()
  }

  // ---- versioned-artifact pointer protocol ---------------------------------
  // The Iceberg-snapshot shape for swappable index artifacts (VERDICT r2
  // item 3; replaces the old delete-then-rename `replace`, whose window
  // left a live index with a missing postings/dictionary dir). A live
  // artifact `base` is either the plain dir (never swapped) or
  // `${base}_v<N>`, named by the tiny pointer file `${base}.ptr`. A swap
  // stages the new version, renames it in, and atomically rewrites the
  // pointer (FileContext rename with OVERWRITE — atomic on POSIX rename
  // and on HDFS). A concurrent reader therefore always resolves to a
  // COMPLETE artifact: old or new, never missing or half-swapped. The
  // previous generation is retained for in-flight readers that resolved
  // before the swap; generations older than one are deleted. Crash-safe:
  // a crash before the pointer rewrite leaves the old version live and a
  // dangling _v<N> dir that the next publish overwrites.

  /** Resolve an artifact base path through its version pointer (the plain
    * path when no pointer exists — the never-swapped fast path). A pointer
    * that exists but cannot be opened is re-resolved at most
    * [[ResolveAttempts]] times; then the pointer path is reported.
    */
  def resolveVersioned(base: String): String = {
    val (fs, _) = fsOf(base)
    val ptr = new Path(s"$base.ptr")
    var attempt = 0
    while (attempt < ResolveAttempts) {
      if (!fs.exists(ptr)) return base
      // exists→open race belt: with the ATOMIC_MOVE pointer flip the file
      // never vanishes, but a remote FS could still surface a transient
      // not-found between the two calls — a re-resolve covers it
      try {
        val in = fs.open(ptr)
        val v = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        return base + v
      } catch { case _: java.io.FileNotFoundException => attempt += 1 }
    }
    throw new java.io.FileNotFoundException(
      s"version pointer $ptr exists but could not be opened in $ResolveAttempts attempts")
  }

  val ResolveAttempts = 3

  /** Publish `stagingDir` as the next version of `base` and atomically
    * flip the pointer. Single-writer (compaction / streaming refresh are
    * serialized by their callers); readers need no coordination.
    */
  def publishVersion(base: String, stagingDir: String): Unit = {
    val (fs, basePath) = fsOf(base)
    val cur = resolveVersioned(base)
    val n = if (cur == base) 1 else cur.substring(base.length + 2).toInt + 1
    val dst = new Path(s"${base}_v$n")
    fs.delete(dst, true) // dangling dir from a crashed publish
    if (!fs.rename(new Path(stagingDir), dst))
      throw new java.io.IOException(s"rename $stagingDir -> $dst failed")
    val tmp = new Path(s"$base.ptr.tmp")
    // Write the pointer through the RAW filesystem on checksummed local FS:
    // the local FileContext is a ChecksumFs whose rename moves the data
    // file and its .crc sidecar in TWO renames — a reader between them
    // pairs new data with the old checksum and throws ChecksumException
    // (caught live by StreamingSpec's concurrent-swap test). With no
    // sidecar ever written, ChecksumFileSystem.open falls back to an
    // unverified read and the single POSIX rename stays the atomicity
    // boundary; HDFS checksums are server-side and unaffected.
    val rawFs = fs match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    val out = rawFs.create(tmp, true)
    try out.write(s"_v$n".getBytes("UTF-8")) finally out.close()
    // stale sidecars from earlier checksummed writers would re-arm the race
    val ptrPath = new Path(s"$base.ptr")
    rawFs.delete(new Path(tmp.getParent, s".${tmp.getName}.crc"), false)
    rawFs.delete(new Path(ptrPath.getParent, s".${ptrPath.getName}.crc"), false)
    val qtmp = fs.makeQualified(tmp)
    val qptr = fs.makeQualified(ptrPath)
    if (qptr.toUri.getScheme == "file") {
      // POSIX rename(2) via NIO ATOMIC_MOVE. FileContext.rename(OVERWRITE)
      // is NOT atomic on the local filesystem: AbstractFileSystem's default
      // overwrite path DELETES the destination and then renames, leaving a
      // window with no pointer at all — a concurrent reader resolving in
      // that window fell back to the base path, which generation retention
      // deletes from the second publish on (surfaced by StreamingSpec's
      // concurrent-swap test once the round-7 query speedups raised the
      // resolution rate; the r6 comment's atomicity claim was wrong for
      // local FS).
      java.nio.file.Files.move(
        java.nio.file.Paths.get(qtmp.toUri.getPath),
        java.nio.file.Paths.get(qptr.toUri.getPath),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
    } else {
      // HDFS & friends: FileContext rename with OVERWRITE is atomic
      // server-side
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(qtmp.toUri, conf())
      fc.rename(qtmp, qptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
    // retain exactly one previous generation for in-flight readers
    if (n == 2) fs.delete(basePath, true): Unit
    if (n > 2) fs.delete(new Path(s"${base}_v${n - 2}"), true): Unit
  }

  /** Top-level files of `dir` whose names start with `prefix` (marker
    * forwarding across postings rewrites).
    */
  def listTopFiles(dir: String, prefix: String): Seq[String] = {
    val (fs, p) = fsOf(dir)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(prefix))
      .map(_.getPath.toUri.getPath)
  }

  /** Recursive directory copy through the FileSystem API (snapshots). */
  def copyDir(src: String, dst: String): Unit = {
    val (sfs, sp) = fsOf(src)
    val (dfs, dp) = fsOf(dst)
    if (!org.apache.hadoop.fs.FileUtil.copy(sfs, sp, dfs, dp, false, true, conf()))
      throw new java.io.IOException(s"copy $src -> $dst failed")
  }

  /** Recursive data-file listing: (path, length, mtime) for every file not
    * starting with `_` or `.` (Spark markers/hidden), sorted by path. Every
    * directory is descended, `_temporary` included; a missing path lists
    * empty.
    *
    * The tree is walked with `listStatus` rather than `listFiles(recursive)`:
    * on the local filesystem the latter builds a `LocatedFileStatus` per
    * file, which loads the file's permissions by forking a shell —
    * milliseconds per file, paid by every memo-key fingerprint of every
    * query.
    */
  def listDataFiles(path: String): Seq[(String, Long, Long)] = {
    val (fs, p) = fsOf(path)
    val root =
      try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return Seq.empty }
    val out = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    def walk(s: org.apache.hadoop.fs.FileStatus): Unit =
      if (s.isDirectory) fs.listStatus(s.getPath).foreach(walk)
      else {
        val name = s.getPath.getName
        if (!name.startsWith("_") && !name.startsWith("."))
          out += ((s.getPath.toUri.getPath, s.getLen, s.getModificationTime))
      }
    walk(root)
    out.sortBy(_._1).toSeq
  }
}

/** Java-serializable Hadoop Configuration wrapper for shipping the driver's
  * conf to executors (needed to open files on non-default filesystems from
  * distributed tasks — e.g. the manifest footer reads).
  */
final class SerializableHadoopConf(@transient private var value: Configuration)
    extends Serializable {
  def get: Configuration = value
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}
