package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

import graft.{IndexCache, TestSpark}
import graft.search.{Booleans, SearchEngine}
import graft.index.PositionalIndex

/** The docID-shard count ([[PerShard.count]]): each shard covers at least
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` bytes of the
  * postings a query opens, up to the shuffle partitions; with adaptive
  * execution or its coalescing off, the shuffle partitions; an explicit
  * count is exact. Rows and score bits do not depend on it.
  */
class ShardCountSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val MB = 1024L * 1024

  private def conf(settings: (String, String)*): SQLConf = {
    val c = new SQLConf
    c.setConfString("spark.sql.shuffle.partitions", "4")
    settings.foreach { case (k, v) => c.setConfString(k, v) }
    c
  }

  test("the count rule at its boundaries") {
    val c = conf()
    assert(PerShard.count(None, 0L, c) == 1)
    assert(PerShard.count(None, MB - 1, c) == 1)
    assert(PerShard.count(None, MB, c) == 1)
    assert(PerShard.count(None, 2 * MB, c) == 2)
    assert(PerShard.count(None, 3 * MB + MB / 2, c) == 3)
    assert(PerShard.count(None, 4 * MB - 1, c) == 3)
    assert(PerShard.count(None, 4 * MB, c) == 4)
    assert(PerShard.count(None, 1000 * MB, c) == 4)
    // the minimum partition size is the conf's
    val small = conf("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "100")
    assert(PerShard.count(None, 250L, small) == 2)
    // either conf off: the shuffle partitions
    for (off <- Seq("spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled"))
      assert(PerShard.count(None, 0L, conf(off -> "false")) == 4, off)
    // an explicit count is exact
    assert(PerShard.count(Some(7), 0L, c) == 7)
    assert(PerShard.count(Some(1), 1000 * MB, c) == 1)
    assert(PerShard.count(Some(3), 0L, conf("spark.sql.adaptive.enabled" -> "false")) == 3)
  }

  private val sfDir = "/root/testdata/sf0.001"

  test("a small query plans one shard, and the rows are those of the session's shards") {
    import spark.implicits._
    val root = IndexCache.documentsIndex(spark, sfDir).paths.root
    val pos = IndexCache.positionalIndex(spark, sfDir)
    val queries: Seq[(String, () => DataFrame, DataFrame => Seq[Any])] = Seq(
      ("topKWand", () => SearchEngine.topKWand(spark, root, Seq("join", "window", "vector"), 10),
        df => df.as[(Long, Double)].collect().toSeq
          .map { case (d, s) => (d, java.lang.Double.doubleToLongBits(s)) }),
      ("phraseMatch", () => PositionalIndex.phraseMatch(spark, pos.paths.root,
        Seq("join", "hash"), pos.meta.buckets), df => df.as[Long].collect().toSeq),
      ("Booleans.and", () => Booleans.and(spark, root, Seq("join", "hash")),
        df => df.as[Long].collect().toSeq))
    for ((name, query, rows) <- queries) {
      val small = query()
      assert(PerShardSpec.shardsOf(small) == Seq(1), s"$name: shards planned by default")
      val want = rows(small)
      assert(want.nonEmpty, s"$name matches nothing")
      TestSpark.withConf(TestSpark.NoCoalescing) {
        val wide = query()
        assert(PerShardSpec.shardsOf(wide) == Seq(4), s"$name: shards planned uncoalesced")
        assert(rows(wide) == want, s"$name: rows differ between 1 and 4 shards")
      }
    }
  }
}
