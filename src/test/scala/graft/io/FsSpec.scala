package graft.io

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The local `listStatus` walk behind [[Fs.listDataFiles]] returns exactly
  * what Hadoop's `listFiles(recursive)` returns (after the same name
  * filter), so every [[Catalog.fingerprint]] — and every memo key and
  * manifest built from one — is unchanged by it.
  */
class FsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session

  /** The listing the walk replaces: `listFiles(recursive)`, same filter. */
  private def reference(path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(Fs.conf())
    if (!fs.exists(p)) return Seq.empty
    val out = Seq.newBuilder[(String, Long, Long)]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val s = it.next()
      val name = s.getPath.getName
      if (!name.startsWith("_") && !name.startsWith("."))
        out += ((s.getPath.toUri.getPath, s.getLen, s.getModificationTime))
    }
    out.result().sortBy(_._1)
  }

  /** [[Catalog.fingerprint]]'s hash over the reference listing. */
  private def referenceFingerprint(path: String): String = {
    val entries = reference(path)
    if (entries.isEmpty && !Fs.exists(path)) return "absent"
    val rootPrefix = new Path(path).toUri.getPath
    val desc = entries
      .map { case (f, len, mtime) => s"${f.stripPrefix(rootPrefix)}:$len:$mtime" }
      .sorted.mkString("\n")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(desc.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
  }

  private def write(path: String, bytes: Int): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, Array.fill[Byte](bytes)(7))
  }

  test("listDataFiles equals the listFiles(recursive) listing; fingerprints match") {
    spark // the listing reads the session's Hadoop conf
    val base = s"/tmp/graft-fs-${System.nanoTime()}"
    try {
      write(s"$base/t/bucket=0/part-00000.parquet", 10)
      write(s"$base/t/bucket=0/.part-00000.parquet.crc", 3)
      write(s"$base/t/bucket=1/run=2/part-00001.parquet", 20)
      write(s"$base/t/bucket=1/run=2/_committed", 1)
      write(s"$base/t/_SUCCESS", 0)
      write(s"$base/t/._SUCCESS.crc", 0)
      write(s"$base/t/_temporary/0/part-00009.parquet", 30)
      write(s"$base/t/_temporary/0/_temporary/attempt/part-00010.parquet", 40)
      write(s"$base/t/.hidden/part-00011.parquet", 50)
      new java.io.File(s"$base/t/empty_dir").mkdirs()
      write(s"$base/single.parquet", 60)
      write(s"$base/_marker", 1)
      for (p <- Seq(s"$base/t", s"$base/t/bucket=1", s"$base/single.parquet",
          s"$base/_marker", s"$base/t/empty_dir", s"$base/missing")) {
        assert(Fs.listDataFiles(p) == reference(p), s"listing of $p")
        assert(Catalog.fingerprint(p) == referenceFingerprint(p), s"fingerprint of $p")
      }
      // nested partitions, _temporary and hidden directories are descended;
      // markers and checksums are not data
      val names = Fs.listDataFiles(s"$base/t").map(e => new Path(e._1).getName)
      assert(names.sorted == Seq("part-00000.parquet", "part-00001.parquet",
        "part-00009.parquet", "part-00010.parquet", "part-00011.parquet"))
      assert(Fs.listDataFiles(s"$base/single.parquet").map(_._2) == Seq(60L))
      assert(Fs.listDataFiles(s"$base/missing").isEmpty)
      assert(Catalog.fingerprint(s"$base/missing") == "absent")
    } finally Fs.delete(base)
  }

  test("postingsFiles are the files the memoized postings relation reads") {
    spark
    val base = s"/tmp/graft-fs-postings-${System.nanoTime()}"
    val p = s"$base/postings"
    try {
      write(s"$p/bucket=0/part-00000.parquet", 10)
      write(s"$p/bucket=0/.part-00000.parquet.crc", 3)
      write(s"$p/bucket=1/part-00001.parquet", 20)
      write(s"$p/bucket=1/_committed", 1)
      write(s"$p/_SUCCESS", 0)
      write(s"$p/._SUCCESS.crc", 0)
      write(s"$p/_temporary/0/bucket=2/part-00009.parquet", 30)
      write(s"$p/bucket=1/_temporary/0/_temporary/attempt/part-00010.parquet", 40)
      write(s"$p/bucket=1/.hidden/part-00011.parquet", 50)
      write(s"$p/.hidden/bucket=3/part-00012.parquet", 60)
      val paths = Catalog.IndexPaths(base)
      val (location, files) = Catalog.postingsFiles(paths.postings)
      val input = Catalog.readPostings(spark, paths).inputFiles
        .map(new Path(_).toUri.getPath).toSeq.sorted
      assert(location == p)
      assert(files.map(_.path).sorted == input)
      assert(files.map(f => (new Path(f.path).getName, f.length, f.bucket)).sorted ==
        Seq(("part-00000.parquet", 10L, 0), ("part-00001.parquet", 20L, 1)))
    } finally Fs.delete(base)
  }

  test("resolveVersioned gives up on an unreadable pointer with its path") {
    spark
    val base = s"/tmp/graft-fs-ptr-${System.nanoTime()}/art"
    try {
      new java.io.File(s"$base.ptr").mkdirs() // a pointer that never opens
      val e = intercept[java.io.FileNotFoundException](Fs.resolveVersioned(base))
      assert(e.getMessage.contains(s"$base.ptr"), e.getMessage)
    } finally Fs.delete(new java.io.File(base).getParent)
  }
}
