package graft.search

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.index.Indexer
import graft.io.Catalog
import graft.search.SearchEngine.rounded

/** Index-time synonyms (contraction during analysis) vs query-time
  * SynonymQuery: the two halves of the ES synonym story score DIFFERENTLY
  * by design — index-time bakes the union df of the group into the
  * dictionary; query-time blends df as max over members at query time.
  */
class SynonymIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  // alpha: docs 0,2; beta: docs 1,2 — group df: union = 3, max member = 2
  private def fixture = {
    import spark.implicits._
    Seq(
      graft.model.Doc(0L, "alpha gamma gamma"),
      graft.model.Doc(1L, "beta gamma delta"),
      graft.model.Doc(2L, "alpha beta delta"),
      graft.model.Doc(3L, "gamma delta epsilon")).toDS()
  }

  test("index-time contraction merges postings: union df in the dictionary") {
    import spark.implicits._
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val root = s"/tmp/graft-synidx-$tag"
    try {
      Indexer.buildFromDocs(fixture, root, buckets = 4, targetRun = 16,
        synonyms = Map("beta" -> "alpha"))
      val dict = Catalog.readDictionary(spark, Catalog.IndexPaths(root))
        .collect().map(d => d.term -> (d.df, d.cf)).toMap
      assert(!dict.contains("beta"), "contracted member must have no postings")
      assert(dict("alpha") == ((3L, 4L)),
        "group df = union docs (3), cf = total occurrences (4)")
      // query terms canonicalize through the stored map: 'beta' ≡ 'alpha'
      val viaBeta = rounded(SearchEngine.topKWand(spark, root, Seq("beta"), 10))
        .as[(Long, Double)].collect().toSeq
      val viaAlpha = rounded(SearchEngine.topKWand(spark, root, Seq("alpha"), 10))
        .as[(Long, Double)].collect().toSeq
      assert(viaBeta == viaAlpha && viaBeta.map(_._1).toSet == Set(0L, 1L, 2L))
      assert(Indexer.readMeta(spark, root).synonyms)
    } finally graft.io.Fs.delete(root)
  }

  test("index-time and query-time synonyms disagree where df semantics differ") {
    import spark.implicits._
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val rootSyn = s"/tmp/graft-synidx-a-$tag"
    val rootStd = s"/tmp/graft-synidx-b-$tag"
    try {
      Indexer.buildFromDocs(fixture, rootSyn, buckets = 4, targetRun = 16,
        synonyms = Map("beta" -> "alpha"))
      Indexer.buildFromDocs(fixture, rootStd, buckets = 4, targetRun = 16)
      val indexed = rounded(SearchEngine.topKWand(spark, rootSyn, Seq("alpha"), 10))
        .as[(Long, Double)].collect().toMap
      val queryTime = SearchEngine.synonymTopK(spark, rootStd,
        Seq(Seq("alpha", "beta")), 10)
        .as[(Long, Double)].collect().toMap
      // same matching docs either way...
      assert(indexed.keySet == queryTime.keySet)
      // ...but different scores: indexed idf uses df=3 (union), query-time
      // SynonymQuery uses df=max(2,2)=2 — strictly rarer, strictly higher
      assert(indexed.keySet.forall(d => indexed(d) < queryTime(d)),
        s"union-df scores must sit below max-df scores: $indexed vs $queryTime")
    } finally { graft.io.Fs.delete(rootSyn); graft.io.Fs.delete(rootStd) }
  }

  test("synonyms compose with the english analyzer (map applies post-stem)") {
    import spark.implicits._
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val root = s"/tmp/graft-synidx-en-$tag"
    val docs = Seq(
      graft.model.Doc(0L, "merging tables quickly"),
      graft.model.Doc(1L, "joined tables slowly"),
      graft.model.Doc(2L, "unrelated words here")).toDS()
    try {
      // post-stem tokens: merging->merg, joined->join; map merg->join
      Indexer.buildFromDocs(docs, root, buckets = 4, targetRun = 16,
        analyzer = "english", synonyms = Map("merg" -> "join"))
      val hits = rounded(SearchEngine.topKWand(spark, root, Seq("merges"), 10))
        .as[(Long, Double)].collect().map(_._1).toSet
      assert(hits == Set(0L, 1L),
        "'merges' -> stem 'merg' -> canonical 'join' must hit both docs")
    } finally graft.io.Fs.delete(root)
  }
}
