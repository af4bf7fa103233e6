package graft.index

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.{Fixtures, TestSpark}
import graft.io.{Catalog, Fs}
import graft.io.Catalog.IndexPaths
import graft.model.Turn
import graft.streaming.StreamingIngest

/** Byte-level pin of every postings writer: each writer runs over a fixed
  * fixture and the sorted multiset of the rows it wrote — every column,
  * binary payloads included — is hashed and compared with a recorded
  * digest. A refactor of the write side that changes no written row keeps
  * every digest; one that moves a single byte of a single block fails here.
  * The file layout is pinned too: every write goes through the one postings
  * sink, so each bucket directory holds at most one data file per write
  * into the generation.
  */
class PostingsIdentitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private lazy val base = s"/tmp/graft-identity-${System.nanoTime()}"

  /** 2000 skewed turns in ONE parquet file: the docID assignment samples its
    * range boundaries per input partition, so a fixed file layout fixes the
    * build's cell geometry.
    */
  private lazy val turnsPath: String = {
    import spark.implicits._
    val p = s"$base/turns"
    Fixtures.turns(40, 50).toDS().coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(p)
    p
  }

  private lazy val docs = Catalog.readDocuments(spark, "/root/testdata/sf0.001")

  /** SHA-256 over the sorted rows at `path`, columns in name order, binary
    * columns hex-encoded; with the row count.
    */
  private def digest(path: String): (Long, String) = {
    val df = spark.read.parquet(path)
    val cols = df.columns.sorted
    val rows = df.select(cols.map(col).toIndexedSeq: _*).collect().map { r =>
      cols.indices.map { i =>
        r.get(i) match {
          case null => "null"
          case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
          case v => v.toString
        }
      }.mkString("|")
    }.sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map(x => f"${x & 0xff}%02x").mkString)
  }

  /** The rows at `path` hash to `want`, and no bucket directory holds more
    * data files than the `writes` into that generation.
    */
  private def check(writer: String, path: String, want: (Long, String),
      writes: Int = 1): Unit = {
    val got = digest(path)
    assert(got._1 > 0, s"$writer wrote no rows")
    assert(got == want, s"$writer postings moved: got $got, recorded $want")
    val perBucket = Catalog.postingsFiles(path)._2.groupBy(_.bucket).map {
      case (b, fs) => b -> fs.size
    }
    assert(perBucket.values.forall(_ <= writes),
      s"$writer: files per bucket $perBucket, want at most $writes (one per write)")
  }

  private def build(out: String, compact: Boolean = false,
      keywordFields: Seq[String] = Seq("role", "tool")): IndexBuildJob.Summary =
    IndexBuildJob.run(spark, IndexBuildJob.Args(input = turnsPath, output = out,
      buckets = 4, targetRun = 256, partitions = Some(4), compact = compact,
      keywordFields = keywordFields))

  test("IndexBuildJob with two keyword fields") {
    val s = build(s"$base/kw")
    assert(s.stagesRun == Seq("docid_assign", "spimi", "finalize", "keywords"),
      "every keyword field rides one stage")
    for (f <- Seq("role", "tool"))
      assert(Fs.exists(s"${IndexPaths(s"$base/kw").postings}/_kw_$f"))
    // the build's write, then the keyword rows appended to its copy
    check("IndexBuildJob", IndexPaths(s"$base/kw").postings,
      (8272L, "ad017a0f7ebfd259c5a7d2899f6ae66d159cf41c0c169c54cbffb765aec73cc5"), writes = 2)
  }

  test("IndexBuildJob --compact with two keyword fields") {
    build(s"$base/kwc", compact = true)
    // the compaction's write, then the keyword rows appended to its copy
    check("IndexBuildJob --compact", IndexPaths(s"$base/kwc").postings,
      (1359L, "f82c71a626b0900de934874e09c0001ec0c1a8d4c0a29d44aeeb4bb69c635085"), writes = 2)
  }

  test("legacy-geometry resume") {
    val root = s"$base/legacy"
    build(root, keywordFields = Nil)
    for (d <- Seq("grid_bounds", "postings", "dictionary")) Fs.delete(s"$root/$d")
    import spark.implicits._
    val kept = spark.read.parquet(s"$root/manifests").as[graft.model.ManifestEntry]
      .filter(m => m.stage != "spimi" && m.stage != "finalize").collect().toSeq
    kept.toDS().write.mode(SaveMode.Overwrite).parquet(s"$root/manifests_new")
    Fs.delete(s"$root/manifests")
    new java.io.File(s"$root/manifests_new").renameTo(new java.io.File(s"$root/manifests"))
    val s = IndexBuildJob.run(spark, IndexBuildJob.Args(input = turnsPath, output = root,
      buckets = 4, targetRun = 256, partitions = Some(4), resume = true))
    assert(s.stagesRun == Seq("spimi", "finalize"))
    check("legacy resume", IndexPaths(root).postings,
      (7523L, "642ecad886103c2746fa5e09a70fcaf22966f2fa4358d1bea5443702d61f9d3d"))
  }

  test("buildFromDocs: standard, english and synonyms") {
    for ((name, analyzer, syn, want) <- Seq(
        ("standard", "standard", Map.empty[String, String],
          (247L, "3ea3e4b9b70429f879adef755cad0556b5acf6beb231f513812743b6efafe7ae")),
        ("english", "english", Map.empty[String, String],
          (231L, "f0218f976fb7f010bf15ea47389aa8471d05e15e47553c145706a661c7147cfc")),
        ("synonyms", "standard", Map("hash" -> "join", "merge" -> "join"),
          (231L, "774c39f4bd029370c8667bf2a5a5f6d8c65e3eb143ba56c01bff9e1590823ca0")))) {
      val root = s"$base/docs-$name"
      Indexer.buildFromDocs(docs, root, buckets = 4, targetRun = 64,
        numPartitionsOpt = Some(4), analyzer = analyzer, synonyms = syn)
      check(s"buildFromDocs $name", IndexPaths(root).postings, want)
    }
  }

  test("PositionalIndex.build") {
    val root = s"$base/pos"
    PositionalIndex.build(docs, root, buckets = 4, grids = 8,
      docIdSpace = docs.count(), numPartitions = 4)
    check("PositionalIndex.build", PositionalIndex.pathOf(root),
      (247L, "603258a4cc3f35e2dbc919234d428ba6c25cfcd86e8a9db8aaa7f85ed67aae8e"))
  }

  test("two StreamingIngest batches") {
    import spark.implicits._
    val root = s"$base/stream"
    val all = spark.read.parquet(turnsPath).as[Turn]
    StreamingIngest.ingestBatch(all.filter($"conv_id" < "c000020"), root, 4, 128, 0L)
    StreamingIngest.ingestBatch(all.filter($"conv_id" >= "c000020"), root, 4, 128, 1L)
    check("StreamingIngest", IndexPaths(root).postings,
      (2268L, "736e34c7ea1faeef89dcba5ac8b908de4b04428e6d8dfaa18c4773b85984110f"), writes = 2)
  }

  test("Deletes.purge: broadcast and join paths") {
    val root = s"$base/del"
    build(root, keywordFields = Seq("role"))
    Deletes.deleteByQuery(spark, root, Seq(Fixtures.term(40), Fixtures.term(700)))
    assert(Deletes.read(spark, IndexPaths(root)).nonEmpty)
    Fs.copyDir(root, s"$base/del-join")

    Deletes.purge(spark, root)
    check("purge (broadcast)", IndexPaths(root).postings,
      (1263L, "a6995fc42be797eda4c7386d46ebfad4987239adc1e8f392fed04cfde394bdb7"))

    spark.conf.set("spark.graft.purge.broadcastMax", "0")
    spark.conf.set("spark.graft.purge.cellDocs", "512")
    try Deletes.purge(spark, s"$base/del-join")
    finally {
      spark.conf.unset("spark.graft.purge.broadcastMax")
      spark.conf.unset("spark.graft.purge.cellDocs")
    }
    check("purge (join)", IndexPaths(s"$base/del-join").postings,
      (4055L, "bbe5f635842bc8e133ce517c1a8fc4b08ff7eabb69462d162ecb21babf41c62b"))
  }
}
