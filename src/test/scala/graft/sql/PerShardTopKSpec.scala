package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

import graft.{IndexCache, TestSpark}
import graft.search.{Bm25F, SearchEngine}
import graft.search.SearchEngine.rounded

/** The global top-k over the shard operator ([[PerShardTopKExec]]): its
  * collect path (shard-side heaps, one job, a driver merge) returns exactly
  * the rows of its `doExecute` path, Spark's `TakeOrderedAndProjectExec`,
  * in the same order, with doubles equal bit for bit.
  */
class PerShardTopKSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val sfDir = "/root/testdata/sf0.001"
  private lazy val root = IndexCache.documentsIndex(spark, sfDir).paths.root
  private val q = Seq("join", "window")

  private def node(df: DataFrame): PerShardTopKExec = {
    val top = df.queryExecution.executedPlan.collectFirst { case t: PerShardTopKExec => t }
    assert(top.isDefined, s"no shard top-k in:\n${df.queryExecution.executedPlan}")
    top.get
  }

  /** Asserts both paths return the same rows and returns them: each row's
    * fields, a double as its bits. The collect path may send at most
    * shards × limit candidate rows to the driver.
    */
  private def samePaths(name: String, df: DataFrame): Seq[Seq[Any]] = {
    val top = node(df)
    val types = top.output.map(_.dataType)
    def fields(r: InternalRow): Seq[Any] = types.zipWithIndex.map {
      case (DoubleType, i) => java.lang.Double.doubleToLongBits(r.getDouble(i))
      case (t, i) => r.get(i, t)
    }
    val collected = top.executeCollect().map(fields).toSeq
    val candidates = top.metrics("candidateRows").value
    val shards = top.child.outputPartitioning.numPartitions
    assert(candidates >= collected.length && candidates <= shards.toLong * top.limit,
      s"$name: $candidates candidate rows for ${collected.length} rows over $shards shards")
    val executed = top.execute().map(_.copy()).collect().map(fields).toSeq
    assert(collected == executed, s"$name: collect path != TakeOrderedAndProjectExec")
    assert(df.collect().length == collected.length, s"$name: Dataset.collect")
    collected
  }

  test("topKWand: collect path equals TakeOrderedAndProjectExec across k, after and filters") {
    val ten = samePaths("k=10", SearchEngine.topKWand(spark, root, q, 10))
    assert(ten.length == 10)
    val all = samePaths("k=1000", SearchEngine.topKWand(spark, root, q, 1000))
    assert(all.take(10) == ten)
    val beyond = samePaths("k above hits", SearchEngine.topKWand(spark, root, q, 100000))
    assert(beyond.nonEmpty && beyond.length < 100000 && beyond.take(1000) == all)
    IndexCache.keywordField(spark, sfDir, "source")
    assert(samePaths("filters", SearchEngine.topKWand(spark, root, q, 10,
      filters = Seq("source:src3"))).nonEmpty)
    assert(samePaths("empty", SearchEngine.topKWand(spark, root, q, 10,
      filters = Seq("source:no-such-source"))).isEmpty)
    val last = ten.last
    val after = (java.lang.Double.longBitsToDouble(last(1).asInstanceOf[Long]),
      last(0).asInstanceOf[Long])
    assert(samePaths("after", SearchEngine.topKWand(spark, root, q, 10,
      after = Some(after))) == all.slice(10, 20))
    assert(samePaths("offset", SearchEngine.topKWand(spark, root, q, 20).offset(10)) ==
      all.slice(10, 20))
  }

  test("topKWand on a tombstoned index: collect path equals TakeOrderedAndProjectExec") {
    val del = IndexCache.deletedIndex(spark, sfDir, Seq("stream")).paths.root
    for (k <- Seq(10, 1000))
      assert(samePaths(s"tombstoned k=$k", SearchEngine.topKWand(spark, del, q, k)).nonEmpty)
  }

  test("exhaustive top-ks and the rounded projection: collect path equals TakeOrderedAndProjectExec") {
    val title = IndexCache.titleIndex(spark, sfDir).paths.root
    for ((name, df) <- Seq(
        "rounded topKWand" -> rounded(SearchEngine.topKWand(spark, root, q, 10)),
        "topKExhaustive" -> SearchEngine.topKExhaustive(spark, root, q, 10),
        "synonymTopK" -> SearchEngine.synonymTopK(
          spark, root, Seq(Seq("join", "merge"), Seq("window")), 10),
        "cross_fields" -> SearchEngine.multiMatchCrossFields(spark, root, title, q, 10),
        "BM25F" -> Bm25F.topK(spark, root, title, q, 10)))
      assert(samePaths(name, df).length == 10, name)
  }
}
