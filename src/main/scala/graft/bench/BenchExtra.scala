package graft.bench

import org.apache.spark.sql.SparkSession

import graft.IndexCache

/** What the micro-bench and plan-dump mains share with the frozen
  * `graft.Bench`: its session and its artifact warm-up, so their timings
  * and plans are of queries over built artifacts, as Bench's are.
  *
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as Bench).
  */
object BenchSession {

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Bench's session: local[cpus], as many shuffle partitions, UTC, no UI. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The artifacts Bench warms before timing, in its order: each call as
    * Bench's source writes it (after `IndexCache.`), and the call.
    */
  val Warmups: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "documentsIndex(spark, sfDir)" -> (IndexCache.documentsIndex(_, _)),
    "positionalIndex(spark, sfDir)" -> (IndexCache.positionalIndex(_, _)),
    "lshBucketsPath(spark, sfDir)" -> (IndexCache.lshBucketsPath(_, _)),
    "lshBucketsPath(spark, sfDir, planes = 4)" -> (IndexCache.lshBucketsPath(_, _, planes = 4)),
    "keywordField(spark, sfDir, \"source\")" -> (IndexCache.keywordField(_, _, "source")),
    "deletedIndex(spark, sfDir, Seq(\"stream\"))" -> (IndexCache.deletedIndex(_, _, Seq("stream"))),
    "purgedIndex(spark, sfDir, Seq(\"stream\"))" -> (IndexCache.purgedIndex(_, _, Seq("stream"))),
    "titleIndex(spark, sfDir)" -> (IndexCache.titleIndex(_, _)),
    "ivf(spark, sfDir)" -> (IndexCache.ivf(_, _)),
    "ivfPq(spark, sfDir)" -> (IndexCache.ivfPq(_, _)),
    "englishIndex(spark, sfDir)" -> (IndexCache.englishIndex(_, _)),
    "synonymsIndex(spark, sfDir)" -> (IndexCache.synonymsIndex(_, _)),
    "edgeNgramIndex(spark, sfDir)" -> (IndexCache.edgeNgramIndex(_, _)),
    "reindexedSource(spark, sfDir, \"src2\")" -> (IndexCache.reindexedSource(_, _, "src2")),
    "bigramIndex(spark, sfDir)" -> (IndexCache.bigramIndex(_, _)),
    "completionPath(spark, sfDir)" -> (IndexCache.completionPath(_, _)))

  /** Builds every artifact of [[Warmups]] over `sfDir`. */
  def warm(spark: SparkSession, sfDir: String): Unit = Warmups.foreach(_._2(spark, sfDir))
}

/** Builder-side micro-bench (guide §1.4): times a NAMED SUBSET of
  * SparkEntry.queries with the noop sink (computes every column of every
  * row, no output cost) instead of Bench's count(). Never run by the
  * driver; Bench.scala stays the frozen harness.
  *
  * Usage: runMain graft.bench.BenchExtra <q1,q2,...> [repeats] [count]
  * Env: as [[BenchSession]].
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val repeats = args.lift(1).map(_.toInt).getOrElse(3)
    val sfDir = BenchSession.sfDir
    val spark = BenchSession.session()
    // same artifact warm-up as Bench so timings are query-only
    BenchSession.warm(spark, sfDir)

    val out = names.map { name =>
      val fn = graft.SparkEntry.queries(name)
      val countMode = args.lift(2).contains("count")
      val ts = (1 to repeats).map { i =>
        spark.sparkContext.setJobDescription(s"$name#$i")
        val t0 = System.nanoTime()
        if (countMode) fn(spark, sfDir).count()
        else fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      spark.sparkContext.setJobDescription(null)
      f""""$name":{"min":${ts.min}%.3f,"med":${ts.sorted.apply(ts.size / 2)}%.3f,"all":[${ts.map(t => f"$t%.3f").mkString(",")}]}"""
    }
    println(out.mkString("{", ",", "}"))
    spark.stop()
  }
}

/** Dumps `.explain("formatted")` of named queries, over Bench's warmed
  * artifacts, to files for the plan evidence the optimization rounds commit
  * (plans/rNN/<q>_<tag>.txt).
  *
  * Usage: runMain graft.bench.PlanDump <outDir> <tag> <q1,q2,...>
  * Env: as [[BenchSession]].
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (outDir, tag) = (args(0), args(1))
    val names = args(2).split(',').toSeq
    val sfDir = BenchSession.sfDir
    val spark = BenchSession.session()
    BenchSession.warm(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"), plan)
      println(s"dumped $name -> $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
