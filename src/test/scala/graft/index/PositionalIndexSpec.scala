package graft.index

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{IndexCache, TestSpark}
import graft.operators.Phrase

/** Index-backed phrase matching must equal the relational positional-join
  * twin (which is itself DuckDB-oracled) on every phrase shape.
  */
class PositionalIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val sfDir = "/root/testdata/sf0.001"

  private def docIds(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq

  test("index phrase match equals relational phrase match") {
    val idx = IndexCache.positionalIndex(spark, sfDir)
    val phrases = Seq(
      Seq("join", "hash"),
      Seq("the", "a"),
      Seq("join", "join"),            // repeated term
      Seq("window", "stream", "row"), // 3-term
      Seq("zebra", "join"),           // absent first term -> empty
      Seq("join"))                    // single term == containment
    for (p <- phrases) {
      val viaIndex = docIds(PositionalIndex.phraseMatch(spark, idx.paths.root, p, idx.meta.buckets))
      val viaJoin = docIds(Phrase.phraseMatch(spark, sfDir, p))
      assert(viaIndex == viaJoin, s"phrase $p mismatch")
    }
  }

  test("scored phrase top-k equals the relational brute twin") {
    val idx = IndexCache.positionalIndex(spark, sfDir)
    val phrases = Seq(
      Seq("join", "hash"),
      Seq("the", "a"),
      Seq("window", "stream", "row"),
      Seq("zebra", "join"), // no match -> empty
      Seq("join"))          // single term: ptf == tf
    for (p <- phrases; k <- Seq(3, 10)) {
      val viaIndex = PositionalIndex.phraseTopK(spark, idx.paths.root, p, k, idx.meta.buckets)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val brute = Phrase.phraseTopKBrute(spark, sfDir, p, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(viaIndex == brute, s"phrase $p k=$k: index=$viaIndex brute=$brute")
    }
  }

  test("match_phrase_prefix equals corpus brute force; honors max_expansions") {
    import spark.implicits._
    val idx = IndexCache.positionalIndex(spark, sfDir)
    val docs = graft.io.Catalog.readDocuments(spark, sfDir).collect()
    def brute(lead: Seq[String], prefix: String,
        allowed: String => Boolean = _ => true): Seq[Long] =
      docs.filter { d =>
        val t = graft.core.Analyzer.tokenize(d.text)
        t.indices.exists { i =>
          i + lead.length < t.length &&
          lead.indices.forall(j => t(i + j) == lead(j)) &&
          t(i + lead.length).startsWith(prefix) && allowed(t(i + lead.length))
        }
      }.map(_.doc_id).sorted.toSeq
    // the prefix is analyzed with the phrase: "H" matches like "h"
    for ((lead, pre, brutePre) <- Seq((Seq("join"), "h", "h"),
        (Seq("join", "hash"), "s", "s"), (Seq("window"), "a", "a"),
        (Seq("join"), "zzz", "zzz"), (Seq("join"), "H", "h"))) {
      val got = graft.index.PositionalIndex.phrasePrefixMatch(
        spark, idx.paths.root, lead, pre, idx.meta.buckets)
        .as[Long].collect().toSeq
      assert(got == brute(lead, brutePre), s"phrase_prefix lead=$lead pre=$pre")
    }
    // cap: maxExpansions=1 keeps only the lexicographically first expansion
    val firstH = graft.io.Catalog
      .readDictionary(spark, graft.io.Catalog.IndexPaths(idx.paths.root))
      .toDF().filter($"term".startsWith("h")).orderBy($"term")
      .limit(1).collect().head.getString(0)
    val capped = graft.index.PositionalIndex.phrasePrefixMatch(
      spark, idx.paths.root, Seq("join"), "h", idx.meta.buckets, maxExpansions = 1)
      .as[Long].collect().toSeq
    assert(capped == brute(Seq("join"), "h", _ == firstH),
      "max_expansions must cap in term order")
  }

  test("span_near unordered equals brute force; superset of ordered slop") {
    import spark.implicits._
    val idx = IndexCache.positionalIndex(spark, sfDir)
    val docs = graft.io.Catalog.readDocuments(spark, sfDir).collect()
    def brute(terms: Seq[String], slop: Int): Seq[Long] = {
      val span = terms.length - 1 + slop
      docs.filter { d =>
        val t = graft.core.Analyzer.tokenize(d.text)
        val positions = terms.map(w => t.indices.filter(i => t(i) == w))
        positions.forall(_.nonEmpty) && {
          // exact: try every combination via minimal-window sweep on merged events
          val ev = positions.zipWithIndex
            .flatMap { case (ps, ti) => ps.map(p => (p, ti)) }.sortBy(_._1)
          val counts = new Array[Int](terms.length)
          var covered = 0; var lo = 0; var ok = false
          for ((p, ti) <- ev if !ok) {
            if (counts(ti) == 0) covered += 1
            counts(ti) += 1
            while (covered == terms.length && ev(lo)._1 < p - span) {
              val lt = ev(lo)._2
              counts(lt) -= 1; if (counts(lt) == 0) covered -= 1; lo += 1
            }
            if (covered == terms.length && p - ev(lo)._1 <= span) ok = true
          }
          ok
        }
      }.map(_.doc_id).sorted.toSeq
    }
    // independence check: brute twin uses the same sweep — cross-check the
    // 2-term case against a genuinely independent all-pairs scan too
    def brutePairs(a: String, b: String, slop: Int): Seq[Long] =
      docs.filter { d =>
        val t = graft.core.Analyzer.tokenize(d.text)
        val pa = t.indices.filter(i => t(i) == a)
        val pb = t.indices.filter(i => t(i) == b)
        pa.exists(x => pb.exists(y => x != y && math.abs(x - y) <= 1 + slop))
      }.map(_.doc_id).sorted.toSeq
    for ((terms, slop) <- Seq((Seq("join", "hash"), 2), (Seq("window", "join"), 0),
        (Seq("join", "hash", "window"), 3))) {
      val got = Intervals.filterDocs(spark, idx.paths.root,
        Intervals.IMatch(terms.mkString(" "), maxGaps = slop, ordered = false),
        idx.meta.buckets)
        .as[Long].collect().toSeq
      assert(got == brute(terms, slop), s"span_near $terms slop=$slop")
      if (terms.length == 2)
        assert(got == brutePairs(terms(0), terms(1), slop))
      // unordered accepts every ordered match
      if (terms.length == 2) {
        val ordered = Intervals.filterDocs(spark, idx.paths.root,
          Intervals.IMatch(terms.mkString(" "), maxGaps = slop, ordered = true),
          idx.meta.buckets)
          .as[Long].collect().toSet
        assert(ordered.subsetOf(got.toSet),
          "ordered slop matches must be a subset of unordered span_near")
      }
    }
  }

  test("span_first and span_not equal corpus brute force") {
    import spark.implicits._
    val idx = IndexCache.positionalIndex(spark, sfDir)
    val toks = graft.io.Catalog.readDocuments(spark, sfDir)
      .map(d => (d.doc_id, graft.core.Analyzer.tokenize(d.text)))
      .collect().toSeq
    def starts(ts: Array[String], phrase: Seq[String]): Seq[Int] =
      (0 to ts.length - phrase.length)
        .filter(i => phrase.indices.forall(j => ts(i + j) == phrase(j)))
    // span_first across ends, incl. an end so tight nothing matches
    for (end <- Seq(2, 5, 12, 40)) {
      val got = docIds(PositionalIndex.spanFirst(spark, idx.paths.root,
        Seq("join", "hash"), end, idx.meta.buckets))
      val want = toks.collect {
        case (id, ts) if starts(ts, Seq("join", "hash")).exists(_ + 2 <= end) => id
      }.sorted
      assert(got == want, s"span_first end=$end")
    }
    // span_not across pre/post, incl. 0/0 (pure overlap) and asymmetric
    for ((pre, post) <- Seq((0, 0), (1, 1), (0, 3), (5, 0))) {
      val got = docIds(PositionalIndex.spanNot(spark, idx.paths.root,
        Seq("join"), Seq("hash"), pre, post, idx.meta.buckets))
      val want = toks.collect {
        case (id, ts) if {
          val inc = starts(ts, Seq("join"))
          val exc = starts(ts, Seq("hash"))
          inc.exists(s => !exc.exists(t => t >= s - pre && t <= s + post))
        } => id
      }.sorted
      assert(got == want, s"span_not pre=$pre post=$post")
    }
    // exclusion is load-bearing: span_not(join, hash) ⊂ contains(join)
    val all = docIds(PositionalIndex.phraseMatch(spark, idx.paths.root,
      Seq("join"), idx.meta.buckets))
    val not = docIds(PositionalIndex.spanNot(spark, idx.paths.root,
      Seq("join"), Seq("hash"), 1, 1, idx.meta.buckets))
    assert(not.toSet.subsetOf(all.toSet) && not.size < all.size)
  }

  test("positional block roundtrip") {
    import spark.implicits._
    val blocks = spark.read.parquet(PositionalIndex.pathOf(
        IndexCache.positionalIndex(spark, sfDir).paths.root))
      .select("term", "bucket", "run_id", "block_idx", "first_doc", "last_doc",
        "n_docs", "doc_deltas_vb", "pos_lens_vb", "pos_deltas_vb")
      .as[PosBlock].take(50)
    assert(blocks.nonEmpty)
    blocks.foreach { b =>
      val entries = PositionalIndex.decode(b).toSeq
      assert(entries.size == b.n_docs)
      assert(entries.head._1 == b.first_doc && entries.last._1 == b.last_doc)
      entries.foreach { case (_, ps) =>
        assert(ps.nonEmpty && ps.sameElements(ps.sorted))
      }
    }
  }
}
