package graft.index

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{IndexCache, TestSpark}
import graft.io.{Catalog, Fs}
import graft.io.Catalog.IndexPaths
import graft.search.SearchEngine
import graft.search.SearchEngine.rounded

/** Delete-by-query semantics pins (ES/Lucene parity).
  *
  * Soft-delete phase: deleted docs leave the results; every surviving score
  * is UNCHANGED (stats still count deleted docs, as Lucene until merge).
  * Purge phase: the index becomes query-identical to one freshly built over
  * the live corpus — stats, dictionary, bounds, everything.
  */
class DeletesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val sfDir = "/root/testdata/sf0.001"
  private val q = Seq("join", "window", "vector")
  private val delTerm = "stream"

  private def hits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  /** The tombstoned index with its positional index built over the whole
    * corpus (positions, like postings, keep deleted docs until purge).
    */
  private lazy val delWithPositions: Indexer.BuildResult = {
    val del = IndexCache.deletedIndex(spark, sfDir, Seq(delTerm))
    val parts = spark.sessionState.conf.numShufflePartitions
    PositionalIndex.build(Catalog.readDocuments(spark, sfDir), del.paths.root,
      del.meta.buckets, parts * 2, del.meta.doc_id_space, parts)
    del
  }

  test("soft delete: tombstoned docs excluded, surviving scores unchanged") {
    val clean = IndexCache.documentsIndex(spark, sfDir)
    val del = IndexCache.deletedIndex(spark, sfDir, Seq(delTerm))
    val paths = IndexPaths(del.paths.root)
    val tombstones = Deletes.read(spark, paths)
    assert(tombstones.nonEmpty, "delete query must match some docs")

    // reference: top-(k+D) of the clean index minus tombstones, truncated —
    // exact because removing D docs promotes at most D
    val k = 10
    val ref = hits(rounded(SearchEngine.topKWand(
        spark, clean.paths.root, q, k + tombstones.length)))
      .filterNot { case (d, _) => tombstones.contains(d) }
      .take(k)
    val got = hits(rounded(SearchEngine.topKWand(spark, paths.root, q, k)))
    assert(got == ref, "soft-deleted ranking must equal clean ranking minus tombstones")
    assert(got.map(_._1).toSet.intersect(tombstones.toSet).isEmpty)
    // stats untouched during the soft phase
    assert(Catalog.readCorpusStats(spark, paths) == clean.stats)
  }

  test("exhaustive mm and terms_set exclude tombstones, as WAND-mm does") {
    val root = IndexCache.deletedIndex(spark, sfDir, Seq(delTerm)).paths.root
    val tombstones = Deletes.read(spark, IndexPaths(root)).toSet
    // every doc containing the deleted term is a tombstone
    for (q <- Seq(Seq("stream", "hash"), Seq("join", "window", "stream"),
        Seq("hash", "stream", "sort"))) {
      val w = hits(SearchEngine.topKWand(spark, root, q, 10, minMatch = 2))
      val e = hits(SearchEngine.topKExhaustive(spark, root, q, 10, _ => 2))
      assert(w == e, s"WAND-mm != exhaustive-mm on the deleted index for q=$q")
    }
    val termsSet = hits(SearchEngine.termsSetTopK(spark, root,
      Seq("hash", "stream", "sort"), 10))
    assert(termsSet.nonEmpty)
    assert(termsSet.forall { case (d, _) => !tombstones(d) },
      "terms_set returned a tombstoned doc")
  }

  test("msearch excludes tombstones, query by query as topKWand") {
    val root = IndexCache.deletedIndex(spark, sfDir, Seq(delTerm)).paths.root
    val queries = Seq("a" -> q, "b" -> Seq("hash", "stream"), "c" -> Seq(delTerm))
    val batch = graft.search.MSearch.msearch(spark, root, queries, 10).collect()
    for ((qid, raw) <- queries) {
      val got = batch.filter(_.getString(0) == qid)
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq
      // msearch presents ties in rounded-score order; re-sort the same way
      val want = hits(rounded(SearchEngine.topKWand(spark, root, raw, 10)))
        .sortBy { case (doc, s) => (-s, doc) }
      assert(got == want, s"msearch != topKWand on the deleted index for $qid")
    }
  }

  test("deleteByQuery is idempotent (tombstone set union)") {
    val del = IndexCache.deletedIndex(spark, sfDir, Seq(delTerm))
    val n1 = Deletes.read(spark, IndexPaths(del.paths.root)).length
    val n2 = Deletes.deleteByQuery(spark, del.paths.root, Seq(delTerm))
    assert(n1.toLong == n2, "re-deleting the same query must not grow the set")
  }

  test("unscored paths exclude tombstones: boolean, wildcard, phrase") {
    val clean = IndexCache.documentsIndex(spark, sfDir)
    val del = delWithPositions
    val dead = Deletes.read(spark, IndexPaths(del.paths.root)).toSet

    val orClean = ids(graft.search.Booleans.or(spark, clean.paths.root, Seq("join", "hash")))
    val orDel = ids(graft.search.Booleans.or(spark, del.paths.root, Seq("join", "hash")))
    assert(orDel == orClean -- dead, "boolean OR must exclude tombstones")
    for (terms <- Seq(Seq("join", "hash"), Seq("window", "vector"))) {
      val and = graft.search.Booleans.and(spark, del.paths.root, terms)
      val bitmap = graft.search.Booleans.andBitmap(spark, del.paths.root, terms)
      assert(ids(bitmap) == ids(and) && ids(and).nonEmpty,
        s"bitmap AND must drop tombstones like AND for $terms")
    }

    val wcClean = ids(graft.search.TermQueries.wildcard(spark, clean.paths.root, "*or*"))
    val wcDel = ids(graft.search.TermQueries.wildcard(spark, del.paths.root, "*or*"))
    assert(wcDel == wcClean -- dead, "wildcard must exclude tombstones")

    val phClean = ids(graft.operators.Phrase.phraseMatch(spark, sfDir, Seq("join", "hash")))
    val phDel = ids(PositionalIndex.phraseMatch(spark, del.paths.root,
      Seq("join", "hash"), del.meta.buckets))
    assert(phDel == phClean -- dead, "phrase match must exclude tombstones")

    // every other positional filter, against the clean positional index
    import Intervals.{IAnyOf, IMatch}
    val pos = IndexCache.positionalIndex(spark, sfDir)
    val ops: Seq[(String, (String, Int) => org.apache.spark.sql.DataFrame)] = Seq(
      "span_first" -> ((r, b) =>
        PositionalIndex.spanFirst(spark, r, Seq("join", "hash"), 40, b)),
      "span_not" -> ((r, b) =>
        PositionalIndex.spanNot(spark, r, Seq("join"), Seq("hash"), 1, 1, b)),
      "span_within" -> ((r, b) =>
        PositionalIndex.spanWithin(spark, r, Seq("hash"), "join", "scan", 6, b)),
      "phrase_prefix" -> ((r, b) =>
        PositionalIndex.phrasePrefixMatch(spark, r, Seq("join"), "h", b)),
      "slop" -> ((r, b) => Intervals.filterDocs(spark, r,
        IMatch("join hash", maxGaps = 2, ordered = true), b)),
      "span_near" -> ((r, b) => Intervals.filterDocs(spark, r,
        IMatch("join hash", maxGaps = 2, ordered = false), b)),
      "span_or" -> ((r, b) => Intervals.filterDocs(spark, r,
        IAnyOf(Seq(IMatch("join hash", maxGaps = 0, ordered = true),
          IMatch("merge sort", maxGaps = 0, ordered = true))), b)))
    var tombstonedMatches = 0
    for ((name, op) <- ops) {
      val c = ids(op(pos.paths.root, pos.meta.buckets))
      val d = ids(op(del.paths.root, del.meta.buckets))
      assert(d == c -- dead, s"$name must exclude tombstones")
      tombstonedMatches += c.count(dead)
    }
    assert(tombstonedMatches > 0, "some clean match must be tombstoned")
  }

  test("phrase scores: df counts tombstones, so surviving scores do not move") {
    val clean = IndexCache.positionalIndex(spark, sfDir)
    val del = delWithPositions
    val dead = Deletes.read(spark, IndexPaths(del.paths.root)).toSet
    for (p <- Seq(Seq("join", "hash"), Seq("join"))) {
      val cleanScores = hits(PositionalIndex.phraseScores(spark,
        clean.paths.root, p, clean.meta.buckets)).toMap
      assert(cleanScores.keys.exists(dead), s"phrase $p must match a tombstoned doc")
      val got = hits(PositionalIndex.phraseScores(spark,
        del.paths.root, p, del.meta.buckets)).toMap
      assert(got == cleanScores.filter { case (d, _) => !dead(d) },
        s"phrase $p: surviving docs' scores must equal the clean index's")
    }
  }

  test("queries running concurrently with a purge never fail or surface tombstoned docs") {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val root = s"/tmp/graft-delconc-$tag"
    try {
      Indexer.buildFromDocs(Catalog.readDocuments(spark, sfDir), root,
        buckets = IndexCache.Buckets, targetRun = IndexCache.TargetRun)
      Deletes.deleteByQuery(spark, root, Seq(delTerm))
      val dead = Deletes.read(spark, IndexPaths(root)).toSet
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val leaked = new java.util.concurrent.atomic.AtomicInteger(0)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val reader = new Thread(() => {
        while (!stop.get()) {
          try {
            val got = rounded(SearchEngine.topKWand(spark, root, q, 10))
              .collect().map(_.getLong(0))
            if (got.exists(dead.contains)) leaked.incrementAndGet()
          } catch { case t: Throwable => errors.add(t) }
        }
      })
      reader.start()
      Deletes.purge(spark, root)
      Thread.sleep(500)
      stop.set(true)
      reader.join(30000)
      assert(errors.isEmpty, s"concurrent reader failed: ${errors.peek()}")
      assert(leaked.get() == 0, "a tombstoned doc surfaced mid-purge")
    } finally Fs.delete(root)
  }

  test("compaction preserves tombstone exclusion (compact is not purge)") {
    val clean = IndexCache.documentsIndex(spark, sfDir)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val root = s"/tmp/graft-delcompact-$tag"
    try {
      // independent copy: build, tombstone, then segment-merge
      Indexer.buildFromDocs(Catalog.readDocuments(spark, sfDir), root,
        buckets = IndexCache.Buckets, targetRun = IndexCache.TargetRun)
      Deletes.deleteByQuery(spark, root, Seq(delTerm))
      val before = hits(rounded(SearchEngine.topKWand(spark, root, q, 10)))
      Compaction.compact(spark, root)
      val after = hits(rounded(SearchEngine.topKWand(spark, root, q, 10)))
      assert(after == before, "compact must keep excluding tombstoned docs")
      assert(Deletes.read(spark, IndexPaths(root)).nonEmpty,
        "compact must not clear tombstones — purge does")
      // sanity: the exclusion is real (clean index ranks differently)
      assert(after != hits(rounded(SearchEngine.topKWand(spark, clean.paths.root, q, 10))))
    } finally Fs.delete(root)
  }

  test("purge on a keyword-field index: stats counted from text postings only") {
    import spark.implicits._
    // ADVICE r3 (high): keyword `field:value` rows (dl=1) carried through
    // purge made pass A's distinct (doc_id, dl) double-count every deleted
    // doc that had a keyword field — n_docs/total_tokens/avgdl drifted and
    // every post-purge BM25 score was wrong. Pin: purge over a
    // --keyword-field index reproduces a live-only rebuild's stats exactly.
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val root = s"/tmp/graft-delkw-$tag"
    val dt = delTerm
    val live = Catalog.readDocuments(spark, sfDir)
      .filter(d => !graft.core.Analyzer.tokenize(d.text).contains(dt))
    val freshRoot = s"/tmp/graft-delkw-fresh-$tag"
    try {
      Indexer.buildFromDocs(Catalog.readDocuments(spark, sfDir), root,
        buckets = IndexCache.Buckets, targetRun = IndexCache.TargetRun)
      KeywordIndex.add(spark, root,
        Catalog.readTable(spark, sfDir, "documents"), "source")
      Deletes.deleteByQuery(spark, root, Seq(delTerm))
      Deletes.purge(spark, root)

      val fresh = Indexer.buildFromDocs(live, freshRoot,
        buckets = IndexCache.Buckets, targetRun = IndexCache.TargetRun)
      val ps = Catalog.readCorpusStats(spark, IndexPaths(root))
      assert(ps.n_docs == fresh.stats.n_docs,
        "keyword rows must not inflate the deleted-doc count in purge pass A")
      assert(ps.total_tokens == fresh.stats.total_tokens)
      assert(math.abs(ps.avgdl - fresh.stats.avgdl) < 1e-12)
      assert(hits(rounded(SearchEngine.topKWand(spark, root, q, 10))) ==
        hits(rounded(SearchEngine.topKWand(spark, freshRoot, q, 10))),
        "post-purge scores must equal a live-only rebuild's")
      // keyword postings survived the rewrite and still filter
      val kwDocs = graft.search.Booleans
        .or(spark, root, Seq(KeywordIndex.fieldTerm("source", "wiki")))
        .select($"doc_id").as[Long].collect().toSet
      val wantKw = Catalog.readTable(spark, sfDir, "documents")
        .filter($"source" === "wiki").select($"doc_id").as[Long].collect().toSet
      val liveIds = live.select($"doc_id").as[Long].collect().toSet
      assert(kwDocs == wantKw.intersect(liveIds),
        "keyword filter postings must survive purge (minus purged docs)")
    } finally { Fs.delete(root); Fs.delete(freshRoot) }
  }

  test("majority-dead purge takes the join path, bit-identical to the broadcast path") {
    import spark.implicits._
    // VERDICT r3 item 8: the too-big-to-broadcast fallback is code. Force it
    // with broadcastMax=1 on a majority-dead index ('the' hits most docs)
    // and require byte-identical postings/dictionary/stats vs broadcast.
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val rootA = s"/tmp/graft-purgejoin-a-$tag"
    val rootB = s"/tmp/graft-purgejoin-b-$tag"
    def content(root: String) =
      Catalog.readPostings(spark, IndexPaths(root)).collect().toSeq
        .map(b => (b.term, b.run_id, b.block_idx, b.first_doc, b.last_doc,
          b.n_docs, b.max_tf, b.min_dl, b.sum_tf, b.max_tf_norm,
          b.doc_deltas_vb.toSeq, b.tfs_vb.toSeq, b.dls_vb.toSeq))
        .sortBy(x => (x._1, x._2, x._3))
    try {
      for (root <- Seq(rootA, rootB)) {
        Indexer.buildFromDocs(Catalog.readDocuments(spark, sfDir), root,
          buckets = IndexCache.Buckets, targetRun = IndexCache.TargetRun)
        val n = Deletes.deleteByQuery(spark, root, Seq("the"))
        assert(n > 100, s"'the' should tombstone most docs, got $n")
      }
      Deletes.purge(spark, rootA) // broadcast path (default threshold)
      spark.conf.set("spark.graft.purge.broadcastMax", "1")
      try Deletes.purge(spark, rootB) // join path
      finally spark.conf.unset("spark.graft.purge.broadcastMax")

      assert(content(rootA) == content(rootB),
        "join-path purge must produce bit-identical postings")
      val (sa, sb) = (Catalog.readCorpusStats(spark, IndexPaths(rootA)),
        Catalog.readCorpusStats(spark, IndexPaths(rootB)))
      assert(sa == sb, "join-path purge stats must match broadcast path")
      val da = Catalog.readDictionary(spark, IndexPaths(rootA)).collect().sortBy(_.term).toSeq
      val db = Catalog.readDictionary(spark, IndexPaths(rootB)).collect().sortBy(_.term).toSeq
      assert(da == db)
      assert(hits(rounded(SearchEngine.topKWand(spark, rootA, q, 10))) ==
        hits(rounded(SearchEngine.topKWand(spark, rootB, q, 10))))
    } finally { Fs.delete(rootA); Fs.delete(rootB) }
  }

  test("join-path purge with multi-cell re-encode: disjoint-ascending runs, query-identical") {
    import spark.implicits._
    // ADVICE r4: a head term's whole posting stream must not re-encode in one
    // task. Force the cell split with a tiny cell width and pin (a) the salted
    // run invariant — per (term) runs have ascending, non-overlapping docID
    // ranges with ascending run_id — and (b) score identity vs the broadcast
    // path (logical content equality; byte layout differs by design here).
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val rootA = s"/tmp/graft-purgecell-a-$tag"
    val rootB = s"/tmp/graft-purgecell-b-$tag"
    try {
      for (root <- Seq(rootA, rootB)) {
        Indexer.buildFromDocs(Catalog.readDocuments(spark, sfDir), root,
          buckets = IndexCache.Buckets, targetRun = IndexCache.TargetRun)
        Deletes.deleteByQuery(spark, root, Seq("the"))
      }
      Deletes.purge(spark, rootA) // broadcast path
      spark.conf.set("spark.graft.purge.broadcastMax", "1")
      spark.conf.set("spark.graft.purge.cellDocs", "64") // force many cells
      try Deletes.purge(spark, rootB)
      finally {
        spark.conf.unset("spark.graft.purge.broadcastMax")
        spark.conf.unset("spark.graft.purge.cellDocs")
      }
      // (a) run invariant on the cell-keyed output
      val byTerm = Catalog.readPostings(spark, IndexPaths(rootB)).collect()
        .groupBy(_.term)
      assert(byTerm.exists(_._2.map(_.run_id).distinct.length > 1),
        "tiny cellDocs must actually produce multi-run terms")
      byTerm.foreach { case (t, blocks) =>
        val runs = blocks.groupBy(_.run_id).toSeq.sortBy(_._1)
          .map { case (r, bs) => (r, bs.map(_.first_doc).min, bs.map(_.last_doc).max) }
        runs.sliding(2).foreach {
          case Seq((_, _, hiPrev), (_, loNext, _)) =>
            assert(hiPrev < loNext, s"term $t: runs must be disjoint ascending")
          case _ =>
        }
      }
      // (b) decoded logical postings identical to the broadcast path
      def decoded(root: String) =
        Catalog.readPostings(spark, IndexPaths(root)).collect().toSeq
          .flatMap { b =>
            val d = graft.core.Blocks.decode(b)
            d.docs.indices.map(i => (b.term, d.docs(i), d.tfs(i), d.dls(i)))
          }.sorted
      assert(decoded(rootA) == decoded(rootB),
        "cell-keyed purge must keep the same logical postings")
      assert(hits(rounded(SearchEngine.topKWand(spark, rootA, q, 10))) ==
        hits(rounded(SearchEngine.topKWand(spark, rootB, q, 10))))
    } finally { Fs.delete(rootA); Fs.delete(rootB) }
  }

  test("purge: query-identical to an index freshly built over the live corpus") {
    import spark.implicits._
    val purged = IndexCache.purgedIndex(spark, sfDir, Seq(delTerm))
    val paths = IndexPaths(purged.paths.root)

    // a fresh build over exactly the live docs (dt local: the typed filter
    // closure must not capture the non-serializable suite)
    val dt = delTerm
    val live = Catalog.readDocuments(spark, sfDir)
      .filter(d => !graft.core.Analyzer.tokenize(d.text).contains(dt))
    val freshRoot = s"/tmp/graft-deletes-spec-${java.util.UUID.randomUUID().toString.take(8)}"
    val fresh = Indexer.buildFromDocs(live, freshRoot,
      buckets = IndexCache.Buckets, targetRun = IndexCache.TargetRun)
    try {
      val got = hits(rounded(SearchEngine.topKWand(spark, paths.root, q, 10)))
      val want = hits(rounded(SearchEngine.topKWand(spark, fresh.paths.root, q, 10)))
      assert(got == want, "purged index must score exactly like a live-only rebuild")

      // stats recomputed over live docs (doc_id_space unchanged by design)
      val ps = Catalog.readCorpusStats(spark, paths)
      val fs = Catalog.readCorpusStats(spark, IndexPaths(freshRoot))
      assert(ps.n_docs == fs.n_docs && ps.total_tokens == fs.total_tokens)
      assert(math.abs(ps.avgdl - fs.avgdl) < 1e-12)

      // every doc of the deleted term is gone: its postings and dictionary
      // row vanish, and querying it returns nothing
      val dictTerms = Catalog.readDictionary(spark, paths)
        .filter($"term" === delTerm).count()
      assert(dictTerms == 0, "fully-deleted term must leave the dictionary")
      assert(rounded(SearchEngine.topKWand(spark, paths.root, Seq(delTerm), 10)).isEmpty)

      // tombstones cleared; exact bounds trusted again
      assert(Deletes.read(spark, paths).isEmpty)
      assert(!Indexer.readMeta(spark, paths.root).incremental)
    } finally Fs.delete(freshRoot)
  }
}
