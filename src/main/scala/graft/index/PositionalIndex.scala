package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Analyzer, Blocks, Bm25, Codec}
import graft.model.Doc

/** Positional posting block: per (term, grid-run), docIDs ascending, with
  * each doc's in-document token positions (ascending) as a concatenated
  * delta+VByte stream (`pos_deltas_vb`) and per-doc position counts
  * (`pos_lens_vb`). Built and laid out exactly like the scored index
  * (bucketed, grid runs), kept as a SEPARATE artifact so the scored path
  * pays nothing for it (ES analog: positions enabled per field).
  */
final case class PosBlock(
    term: String,
    bucket: Int,
    run_id: Int,
    block_idx: Int,
    first_doc: Long,
    last_doc: Long,
    n_docs: Int,
    doc_deltas_vb: Array[Byte],
    pos_lens_vb: Array[Byte],
    pos_deltas_vb: Array[Byte])

/** Positional index build + index-backed phrase matching (SURVEY.md §2
  * row 25 — the index-side `match_phrase`; the relational twin is
  * operators/Phrase).
  */
object PositionalIndex {

  val BlockSize = 128

  def pathOf(root: String): String = s"$root/pos_postings"

  // explicit read schema: skips per-query footer schema inference (the
  // Catalog.readPostings rationale); `bucket` is the partition dir column
  private lazy val posSchema =
    org.apache.spark.sql.Encoders.product[PosBlock].schema

  private[index] def readRaw(spark: SparkSession,
      root: String): org.apache.spark.sql.DataFrame =
    spark.read.schema(posSchema).parquet(pathOf(root))

  /** Grid SPIMI over (term → [(doc, positions)]), mirroring
    * Spimi.buildBlocksGrid's invariants (disjoint contiguous grid runs).
    */
  def build(docs: Dataset[Doc], root: String, buckets: Int, grids: Int,
      docIdSpace: Long, numPartitions: Int): Unit = {
    import docs.sparkSession.implicits._
    val width = math.max(1L, (docIdSpace + grids - 1) / grids)
    val blocks = docs.toDF()
      .withColumn("grid", expr(s"CAST(doc_id DIV $width AS INT)"))
      .repartitionByRange(numPartitions, $"grid")
      .sortWithinPartitions($"grid", $"doc_id")
      .select($"grid", $"doc_id", $"text")
      .as[(Int, Long, String)]
      .mapPartitions(rows => new PosGridIterator(rows, buckets))
    blocks
      .repartition($"bucket")
      .sortWithinPartitions($"bucket", $"term", $"run_id", $"block_idx")
      .write.mode(SaveMode.Overwrite)
      .partitionBy("bucket")
      .parquet(pathOf(root))
  }

  private final class PosBuf {
    val docs = new scala.collection.mutable.ArrayBuffer[Long](8)
    val posLists = new scala.collection.mutable.ArrayBuffer[Array[Int]](8)
  }

  private final class PosGridIterator(
      rows: Iterator[(Int, Long, String)],
      buckets: Int) extends Iterator[PosBlock] {

    private val pending = new java.util.ArrayDeque[PosBlock]()
    private val inv = new java.util.HashMap[String, PosBuf]()
    private var curGrid = Int.MinValue
    private var open = false

    private def emitBlocks(term: String, buf: PosBuf): Unit = {
      val bucket = Blocks.bucketOf(term, buckets)
      var start = 0
      var blockIdx = 0
      while (start < buf.docs.length) {
        val n = math.min(BlockSize, buf.docs.length - start)
        val docArr = new Array[Long](n)
        val lens = new Array[Int](n)
        var totalPos = 0
        var i = 0
        while (i < n) {
          docArr(i) = buf.docs(start + i)
          lens(i) = buf.posLists(start + i).length
          totalPos += lens(i)
          i += 1
        }
        val posOut = new java.io.ByteArrayOutputStream(totalPos + 8)
        i = 0
        while (i < n) {
          posOut.write(Codec.encodeDeltas(buf.posLists(start + i).map(_.toLong + 1)))
          i += 1
        }
        pending.add(PosBlock(term, bucket, curGrid, blockIdx,
          docArr(0), docArr(n - 1), n,
          Codec.encodeDeltas(docArr), Codec.encodeInts(lens), posOut.toByteArray))
        blockIdx += 1
        start += n
      }
    }

    private def flushGrid(): Unit = {
      if (!inv.isEmpty) {
        val terms = inv.keySet().toArray(new Array[String](inv.size()))
        java.util.Arrays.sort(terms.asInstanceOf[Array[AnyRef]])
        terms.foreach(t => emitBlocks(t, inv.get(t)))
        inv.clear()
      }
    }

    private def ingest(doc: Long, text: String): Unit = {
      val toks = Analyzer.tokenize(text)
      if (toks.nonEmpty) {
        // positions per term (ascending by construction)
        val byTerm = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Int]]()
        var p = 0
        while (p < toks.length) {
          var lst = byTerm.get(toks(p))
          if (lst == null) { lst = new scala.collection.mutable.ArrayBuffer[Int](4); byTerm.put(toks(p), lst) }
          lst += p
          p += 1
        }
        byTerm.forEach { (t, ps) =>
          var buf = inv.get(t)
          if (buf == null) { buf = new PosBuf; inv.put(t, buf) }
          buf.docs += doc
          buf.posLists += ps.toArray
        }
      }
    }

    private def fill(): Unit = {
      while (pending.isEmpty && rows.hasNext) {
        val (grid, doc, text) = rows.next()
        if (open && grid != curGrid) flushGrid()
        curGrid = grid
        open = true
        ingest(doc, text)
      }
      if (pending.isEmpty && !rows.hasNext && open) { flushGrid(); open = false }
    }

    override def hasNext: Boolean = { fill(); !pending.isEmpty }
    override def next(): PosBlock = { fill(); pending.poll() }
  }

  /** Decode one block into (doc → positions) entries. */
  def decode(b: PosBlock): Iterator[(Long, Array[Int])] = {
    val docs = Codec.decodeDeltas(b.doc_deltas_vb, b.n_docs)
    val lens = Codec.decodeInts(b.pos_lens_vb, b.n_docs)
    // positions are per-doc delta streams concatenated; walk sequentially
    var offset = 0
    val bytes = b.pos_deltas_vb
    docs.indices.iterator.map { i =>
      // decode lens(i) values starting at offset
      val out = new Array[Int](lens(i))
      var pos = offset
      var prev = 0L
      var j = 0
      while (j < lens(i)) {
        var shift = 0; var v = 0L; var byte = 0
        do {
          byte = bytes(pos) & 0xff; pos += 1
          v |= (byte & 0x7fL) << shift; shift += 7
        } while ((byte & 0x80) != 0)
        prev = if (j == 0) v else prev + v
        out(j) = (prev - 1).toInt
        j += 1
      }
      offset = pos
      (docs(i), out)
    }
  }

  /** Per-doc phrase term frequency: the number of positions p0 at which the
    * whole phrase matches consecutively (ES/Lucene's phrase freq — what a
    * scored `match_phrase` uses as tf). Docs with zero matches are absent.
    *
    * Plan shape: positional postings scan pruned to the phrase terms'
    * buckets + `term ∈ terms` pushdown, decode, one groupBy(doc) shuffle of
    * only the phrase terms' (doc, positions) rows, position intersection
    * per doc. Output is tiny (matching docs only).
    */
  def phraseTf(spark: SparkSession, root: String, phrase: Seq[String],
      buckets: Int): DataFrame = {
    import spark.implicits._
    val terms = phrase.flatMap(Analyzer.tokenize(_))
    require(terms.nonEmpty, "empty phrase")
    val distinctTerms = terms.distinct
    val qBuckets = distinctTerms.map(Blocks.bucketOf(_, buckets)).distinct
    val termIdx = terms.zipWithIndex // term -> offset(s) in the phrase

    readRaw(spark, root)
      .select("term", "bucket", "run_id", "block_idx", "first_doc", "last_doc",
        "n_docs", "doc_deltas_vb", "pos_lens_vb", "pos_deltas_vb")
      .filter($"bucket".isin(qBuckets: _*) && $"term".isin(distinctTerms: _*))
      .as[PosBlock]
      .flatMap { b =>
        decode(b).map { case (doc, ps) => (doc, b.term, ps) }
      }
      .groupByKey(_._1)
      .flatMapGroups { (doc, it) =>
        val byTerm = scala.collection.mutable.Map[String, Array[Int]]()
        it.foreach { case (_, t, ps) => byTerm(t) = ps }
        if (!termIdx.forall { case (t, _) => byTerm.contains(t) }) Iterator.empty
        else {
          val ptf = byTerm(terms.head).count { p0 =>
            termIdx.forall { case (t, i) =>
              java.util.Arrays.binarySearch(byTerm(t), p0 + i) >= 0
            }
          }
          if (ptf > 0) Iterator.single((doc, ptf)) else Iterator.empty
        }
      }
      .toDF("doc_id", "ptf")
      .transform(Deletes.filterLive(_, root))
  }

  /** Index-backed phrase match (unscored filter context): matching doc_ids,
    * ordered.
    */
  def phraseMatch(spark: SparkSession, root: String, phrase: Seq[String],
      buckets: Int): DataFrame = {
    import spark.implicits._
    phraseTf(spark, root, phrase, buckets).select($"doc_id").orderBy($"doc_id")
  }

  /** Sloppy phrase match (ES `match_phrase` slop, ordered form): a doc
    * matches when an increasing position chain p1 < p2 < … < pn exists —
    * one position per phrase term, in phrase order — with span
    * pn − p1 ≤ (n−1) + slop. slop = 0 is exact adjacency ([[phraseMatch]]).
    *
    * Existence is decided by the greedy chain: for each start p1 ascending,
    * chain each next term to its smallest position > previous — greedy
    * minimizes pn for a given p1, so it finds a qualifying chain iff one
    * exists. One pass over the first term's positions with monotone
    * pointers per term: O(Σ positions) per doc. Same scan/shuffle shape as
    * [[phraseTf]].
    */
  def phraseMatchSloppy(spark: SparkSession, root: String, phrase: Seq[String],
      slop: Int, buckets: Int): DataFrame = {
    import spark.implicits._
    val terms = phrase.flatMap(Analyzer.tokenize(_))
    require(terms.length >= 2, "sloppy phrase needs >= 2 terms")
    val distinctTerms = terms.distinct
    val qBuckets = distinctTerms.map(Blocks.bucketOf(_, buckets)).distinct
    val maxSpan = (terms.length - 1) + slop

    readRaw(spark, root)
      .select("term", "bucket", "run_id", "block_idx", "first_doc", "last_doc",
        "n_docs", "doc_deltas_vb", "pos_lens_vb", "pos_deltas_vb")
      .filter($"bucket".isin(qBuckets: _*) && $"term".isin(distinctTerms: _*))
      .as[PosBlock]
      .flatMap(b => decode(b).map { case (doc, ps) => (doc, b.term, ps) })
      .groupByKey(_._1)
      .flatMapGroups { (doc, it) =>
        val byTerm = scala.collection.mutable.Map[String, Array[Int]]()
        it.foreach { case (_, t, ps) => byTerm(t) = ps }
        if (!distinctTerms.forall(byTerm.contains)) Iterator.empty
        else {
          val lists = terms.map(byTerm).toArray
          val ptrs = new Array[Int](lists.length)
          var found = false
          val firsts = lists(0)
          var i = 0
          while (!found && i < firsts.length) {
            var prev = firsts(i)
            var ok = true
            var t = 1
            while (ok && t < lists.length) {
              val l = lists(t)
              // monotone pointer: first position strictly after prev
              while (ptrs(t) < l.length && l(ptrs(t)) <= prev) ptrs(t) += 1
              if (ptrs(t) >= l.length) { ok = false; i = firsts.length }
              else prev = l(ptrs(t))
              t += 1
            }
            if (ok && prev - firsts(i) <= maxSpan) found = true
            i += 1
          }
          if (found) Iterator.single(doc) else Iterator.empty
        }
      }
      .toDF("doc_id")
      .transform(Deletes.filterLive(_, root))
      .orderBy($"doc_id")
  }

  /** Shared per-doc exact-phrase span starts: positions p0 where the whole
    * (analyzed) phrase matches consecutively. `byTerm` maps term → sorted
    * positions for ONE doc.
    */
  private def phraseStarts(terms: Seq[String],
      byTerm: collection.Map[String, Array[Int]]): Array[Int] = {
    if (!terms.forall(byTerm.contains)) return Array.emptyIntArray
    val ti = terms.zipWithIndex
    byTerm(terms.head).filter { p0 =>
      ti.forall { case (t, i) =>
        java.util.Arrays.binarySearch(byTerm(t), p0 + i) >= 0
      }
    }
  }

  /** Lucene `span_first`: the phrase must match with span END (exclusive,
    * 0-based) ≤ `end` — the whole occurrence lies inside the first `end`
    * token positions. Filter context: matching doc_ids, ordered. Same
    * pruned positional scan + doc-keyed group shape as [[phraseTf]].
    */
  def spanFirst(spark: SparkSession, root: String, phrase: Seq[String],
      end: Int, buckets: Int): DataFrame = {
    import spark.implicits._
    val terms = phrase.flatMap(Analyzer.tokenize(_))
    require(terms.nonEmpty, "empty span_first phrase")
    require(end >= terms.length, "end must cover the phrase length")
    val distinctTerms = terms.distinct
    val qBuckets = distinctTerms.map(Blocks.bucketOf(_, buckets)).distinct
    val n = terms.length
    readRaw(spark, root)
      .select("term", "bucket", "run_id", "block_idx", "first_doc", "last_doc",
        "n_docs", "doc_deltas_vb", "pos_lens_vb", "pos_deltas_vb")
      .filter($"bucket".isin(qBuckets: _*) && $"term".isin(distinctTerms: _*))
      .as[PosBlock]
      .flatMap(b => decode(b).map { case (doc, ps) => (doc, b.term, ps) })
      .groupByKey(_._1)
      .flatMapGroups { (doc, it) =>
        val byTerm = scala.collection.mutable.Map[String, Array[Int]]()
        it.foreach { case (_, t, ps) => byTerm(t) = ps }
        // earliest start suffices: starts are sorted ascending
        val starts = phraseStarts(terms, byTerm)
        if (starts.nonEmpty && starts(0) + n <= end) Iterator.single(doc)
        else Iterator.empty
      }
      .toDF("doc_id")
      .transform(Deletes.filterLive(_, root))
      .orderBy($"doc_id")
  }

  /** Lucene `span_not`: docs with an include-phrase span that does NOT
    * overlap any exclude-phrase span widened by `pre` positions before and
    * `post` after (SpanNotQuery's pre/post). A doc with include matches and
    * no exclude matches keeps all its spans. Filter context: matching
    * doc_ids, ordered. One pruned scan over BOTH phrases' terms.
    */
  def spanNot(spark: SparkSession, root: String, includePhrase: Seq[String],
      excludePhrase: Seq[String], pre: Int, post: Int,
      buckets: Int): DataFrame = {
    import spark.implicits._
    val inc = includePhrase.flatMap(Analyzer.tokenize(_))
    val exc = excludePhrase.flatMap(Analyzer.tokenize(_))
    require(inc.nonEmpty && exc.nonEmpty, "span_not needs both phrases")
    val allTerms = (inc ++ exc).distinct
    val qBuckets = allTerms.map(Blocks.bucketOf(_, buckets)).distinct
    val (li, le) = (inc.length, exc.length)
    readRaw(spark, root)
      .select("term", "bucket", "run_id", "block_idx", "first_doc", "last_doc",
        "n_docs", "doc_deltas_vb", "pos_lens_vb", "pos_deltas_vb")
      .filter($"bucket".isin(qBuckets: _*) && $"term".isin(allTerms: _*))
      .as[PosBlock]
      .flatMap(b => decode(b).map { case (doc, ps) => (doc, b.term, ps) })
      .groupByKey(_._1)
      .flatMapGroups { (doc, it) =>
        val byTerm = scala.collection.mutable.Map[String, Array[Int]]()
        it.foreach { case (_, t, ps) => byTerm(t) = ps }
        val incStarts = phraseStarts(inc, byTerm)
        if (incStarts.isEmpty) Iterator.empty
        else {
          val excStarts = phraseStarts(exc, byTerm)
          // include span [s, s+li-1] survives unless an exclude span
          // [t, t+le-1] intersects the widened zone [s-pre, s+li-1+post]
          val survives = incStarts.exists { s =>
            !excStarts.exists(t => t + le - 1 >= s - pre && t <= s + li - 1 + post)
          }
          if (survives) Iterator.single(doc) else Iterator.empty
        }
      }
      .toDF("doc_id")
      .transform(Deletes.filterLive(_, root))
      .orderBy($"doc_id")
  }

  /** Lucene `span_or`: docs where ANY of the phrases matches exactly —
    * the union clause of the span family. ONE pruned positional scan over
    * all phrases' terms (not a scan per phrase), per-doc check of each
    * phrase against the same position map. Filter context, ordered.
    */
  def spanOr(spark: SparkSession, root: String, phrases: Seq[Seq[String]],
      buckets: Int): DataFrame = {
    import spark.implicits._
    val analyzed = phrases.map(_.flatMap(Analyzer.tokenize(_)))
    require(analyzed.nonEmpty && analyzed.forall(_.nonEmpty), "empty span_or")
    val allTerms = analyzed.flatten.distinct
    val qBuckets = allTerms.map(Blocks.bucketOf(_, buckets)).distinct
    readRaw(spark, root)
      .select("term", "bucket", "run_id", "block_idx", "first_doc", "last_doc",
        "n_docs", "doc_deltas_vb", "pos_lens_vb", "pos_deltas_vb")
      .filter($"bucket".isin(qBuckets: _*) && $"term".isin(allTerms: _*))
      .as[PosBlock]
      .flatMap(b => decode(b).map { case (doc, ps) => (doc, b.term, ps) })
      .groupByKey(_._1)
      .flatMapGroups { (doc, it) =>
        val byTerm = scala.collection.mutable.Map[String, Array[Int]]()
        it.foreach { case (_, t, ps) => byTerm(t) = ps }
        if (analyzed.exists(p => phraseStarts(p, byTerm).nonEmpty))
          Iterator.single(doc)
        else Iterator.empty
      }
      .toDF("doc_id")
      .transform(Deletes.filterLive(_, root))
      .orderBy($"doc_id")
  }

  /** Shared predicate of [[spanWithin]] / [[spanContaining]] (the doc-level
    * result sets of the two queries coincide — they differ in WHICH spans
    * ES returns/scores, not in which docs match): an exact `little` phrase
    * span [s, e] lies inside a big two-term window — one position a of
    * `bigA`, one b of `bigB`, window [min(a,b), max(a,b)] of span
    * ≤ 1 + slop (the span_near convention for two clauses), with
    * min ≤ s and e ≤ max. Exact per doc: two-pointer-free pairwise check
    * over the (doc-length-bounded) position lists, after the same pruned
    * scan + doc-keyed group as every positional operator.
    */
  private def spanContainment(spark: SparkSession, root: String,
      little: Seq[String], bigA: String, bigB: String, slop: Int,
      buckets: Int): DataFrame = {
    import spark.implicits._
    val lit = little.flatMap(Analyzer.tokenize(_))
    val ta = Analyzer.tokenize(bigA).head
    val tb = Analyzer.tokenize(bigB).head
    require(lit.nonEmpty, "span containment needs a little phrase")
    val ll = lit.length
    val maxSpan = 1 + slop
    val allTerms = (lit :+ ta :+ tb).distinct
    val qBuckets = allTerms.map(Blocks.bucketOf(_, buckets)).distinct
    readRaw(spark, root)
      .select("term", "bucket", "run_id", "block_idx", "first_doc", "last_doc",
        "n_docs", "doc_deltas_vb", "pos_lens_vb", "pos_deltas_vb")
      .filter($"bucket".isin(qBuckets: _*) && $"term".isin(allTerms: _*))
      .as[PosBlock]
      .flatMap(b => decode(b).map { case (doc, ps) => (doc, b.term, ps) })
      .groupByKey(_._1)
      .flatMapGroups { (doc, it) =>
        val byTerm = scala.collection.mutable.Map[String, Array[Int]]()
        it.foreach { case (_, t, ps) => byTerm(t) = ps }
        val starts = phraseStarts(lit, byTerm)
        val as = byTerm.getOrElse(ta, Array.emptyIntArray)
        val bs = byTerm.getOrElse(tb, Array.emptyIntArray)
        val ok = starts.nonEmpty && as.nonEmpty && bs.nonEmpty &&
          starts.exists { s =>
            val e = s + ll - 1
            as.exists(a => bs.exists { b =>
              val lo = math.min(a, b); val hi = math.max(a, b)
              hi - lo <= maxSpan && lo <= s && e <= hi
            })
          }
        if (ok) Iterator.single(doc) else Iterator.empty
      }
      .toDF("doc_id")
      .transform(Deletes.filterLive(_, root))
      .orderBy($"doc_id")
  }

  /** Lucene `span_within`: the little (exact-phrase) span must lie entirely
    * inside a big span_near([bigA, bigB], slop) window. Filter context.
    */
  def spanWithin(spark: SparkSession, root: String, little: Seq[String],
      bigA: String, bigB: String, slop: Int, buckets: Int): DataFrame =
    spanContainment(spark, root, little, bigA, bigB, slop, buckets)

  /** Lucene `span_containing`: a big span_near([bigA, bigB], slop) window
    * must contain a little (exact-phrase) span. Same doc-level predicate as
    * [[spanWithin]] — ES's two queries differ only in which of the two span
    * sets is emitted for scoring.
    */
  def spanContaining(spark: SparkSession, root: String, bigA: String,
      bigB: String, slop: Int, little: Seq[String], buckets: Int): DataFrame =
    spanContainment(spark, root, little, bigA, bigB, slop, buckets)

  /** ES/Lucene `span_near` with `in_order: false`: the doc matches when one
    * position per term (all distinct) fits inside a window of span
    * ≤ (n−1) + slop, in ANY order — the unordered complement of
    * [[phraseMatchSloppy]]. Decision per doc is a sliding window over the
    * merged position stream: advance the right edge, count distinct terms
    * covered with multiplicity, shrink from the left while all terms stay
    * covered — O(Σ positions) per doc, same scan/shuffle shape as
    * [[phraseTf]]. Exactness: a qualifying window exists iff some minimal
    * window covering all terms has span ≤ maxSpan, and the sweep visits
    * every minimal window.
    */
  def spanNearUnordered(spark: SparkSession, root: String, phrase: Seq[String],
      slop: Int, buckets: Int): DataFrame = {
    import spark.implicits._
    val terms = phrase.flatMap(Analyzer.tokenize(_)).distinct
    require(terms.length >= 2, "span_near needs >= 2 distinct terms")
    val qBuckets = terms.map(Blocks.bucketOf(_, buckets)).distinct
    val maxSpan = (terms.length - 1) + slop
    val termIdx = terms.zipWithIndex.toMap
    val bcIdx = spark.sparkContext.broadcast(termIdx)

    readRaw(spark, root)
      .select("term", "bucket", "run_id", "block_idx", "first_doc", "last_doc",
        "n_docs", "doc_deltas_vb", "pos_lens_vb", "pos_deltas_vb")
      .filter($"bucket".isin(qBuckets: _*) && $"term".isin(terms: _*))
      .as[PosBlock]
      .flatMap(b => decode(b).map { case (doc, ps) => (doc, b.term, ps) })
      .groupByKey(_._1)
      .flatMapGroups { (doc, it) =>
        val idx = bcIdx.value
        val n = idx.size
        val events = scala.collection.mutable.ArrayBuffer[(Int, Int)]() // (pos, term)
        val seen = new Array[Boolean](n)
        it.foreach { case (_, t, ps) =>
          val ti = idx(t)
          seen(ti) = true
          ps.foreach(p => events += ((p, ti)))
        }
        if (!seen.forall(identity)) Iterator.empty
        else {
          val ev = events.sortBy(_._1).toArray
          val counts = new Array[Int](n)
          var covered = 0
          var lo = 0
          var found = false
          var hi = 0
          while (!found && hi < ev.length) {
            val (p, t) = ev(hi)
            if (counts(t) == 0) covered += 1
            counts(t) += 1
            while (covered == n && ev(lo)._1 < p - maxSpan) {
              val (_, lt) = ev(lo)
              counts(lt) -= 1
              if (counts(lt) == 0) covered -= 1
              lo += 1
            }
            if (covered == n && p - ev(lo)._1 <= maxSpan) found = true
            hi += 1
          }
          if (found) Iterator.single(doc) else Iterator.empty
        }
      }
      .toDF("doc_id")
      .transform(Deletes.filterLive(_, root))
      .orderBy($"doc_id")
  }

  /** ES `match_phrase_prefix` (search-as-you-type): the leading terms match
    * as an exact adjacent phrase; the LAST position may hold ANY indexed
    * term starting with `prefix`, expanded from the dictionary in term
    * order, capped at `maxExpansions` (the ES max_expansions contract —
    * ES defaults to 50). An empty expansion set matches nothing (no term
    * can occupy the final slot), as in ES.
    *
    * Plan shape = [[phraseTf]]: ONE positional scan pruned to the buckets of
    * phrase terms + expansions with full term pushdown, one groupBy(doc)
    * shuffle of only those terms' position lists, chain check per doc. The
    * dictionary expansion is the same driver-side ≤maxExpansions read the
    * prefix/wildcard term queries use.
    */
  def phrasePrefixMatch(spark: SparkSession, root: String, phrase: Seq[String],
      prefix: String, buckets: Int, maxExpansions: Int = 50): DataFrame = {
    import spark.implicits._
    val lead = phrase.flatMap(Analyzer.tokenize(_))
    require(lead.nonEmpty, "match_phrase_prefix needs at least one full term")
    val expansions = graft.io.Catalog
      .readDictionary(spark, graft.io.Catalog.IndexPaths(root))
      .toDF()
      .filter($"term".startsWith(prefix))
      .orderBy($"term")
      .limit(maxExpansions)
      .collect().map(_.getString(0))
    if (expansions.isEmpty)
      return spark.emptyDataset[Long].toDF("doc_id")
    val lastSlot = lead.length // expansion position offset from p0
    val distinctTerms = (lead ++ expansions).distinct
    val qBuckets = distinctTerms.map(Blocks.bucketOf(_, buckets)).distinct
    val leadIdx = lead.zipWithIndex
    val expSet = expansions.toSet

    readRaw(spark, root)
      .select("term", "bucket", "run_id", "block_idx", "first_doc", "last_doc",
        "n_docs", "doc_deltas_vb", "pos_lens_vb", "pos_deltas_vb")
      .filter($"bucket".isin(qBuckets: _*) && $"term".isin(distinctTerms.toSeq: _*))
      .as[PosBlock]
      .flatMap(b => decode(b).map { case (doc, ps) => (doc, b.term, ps) })
      .groupByKey(_._1)
      .flatMapGroups { (doc, it) =>
        val byTerm = scala.collection.mutable.Map[String, Array[Int]]()
        val expLists = scala.collection.mutable.ArrayBuffer[Array[Int]]()
        it.foreach { case (_, t, ps) =>
          byTerm(t) = ps
          if (expSet.contains(t)) expLists += ps
        }
        val ok = leadIdx.forall { case (t, _) => byTerm.contains(t) } &&
          expLists.nonEmpty &&
          byTerm(lead.head).exists { p0 =>
            leadIdx.forall { case (t, i) =>
              java.util.Arrays.binarySearch(byTerm(t), p0 + i) >= 0
            } &&
            expLists.exists(l =>
              java.util.Arrays.binarySearch(l, p0 + lastSlot) >= 0)
          }
        if (ok) Iterator.single(doc) else Iterator.empty
      }
      .toDF("doc_id")
      .transform(Deletes.filterLive(_, root))
      .orderBy($"doc_id")
  }

  /** Scored `match_phrase` (ES analog): BM25 top-k treating the phrase as a
    * single pseudo-term — tf = phrase frequency ([[phraseTf]]), df = number
    * of docs containing the phrase, dl/avgdl from the scored index.
    *
    * dl comes from the scored postings of the phrase's first term (every
    * matching doc contains all phrase terms, so that pruned scan covers all
    * candidates) — no extra doc-lengths artifact and no corpus-wide join;
    * everything after the positional pass touches only phrase-term postings.
    */
  def phraseTopK(spark: SparkSession, root: String, phrase: Seq[String],
      k: Int, buckets: Int): DataFrame = {
    import spark.implicits._
    phraseScores(spark, root, phrase, buckets)
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(k)
      .transform(graft.search.SearchEngine.rounded)
  }

  /** Un-truncated phrase scores `(doc_id, score)` — the composable form
    * [[phraseTopK]] cuts to k, and what a compound query (e.g.
    * search.QueryString) sums with its other clauses BEFORE any truncation.
    */
  def phraseScores(spark: SparkSession, root: String, phrase: Seq[String],
      buckets: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val terms = phrase.flatMap(Analyzer.tokenize(_))
    require(terms.nonEmpty, "empty phrase")
    val stats = graft.io.Catalog.readCorpusStats(spark, graft.io.Catalog.IndexPaths(root))
    val ptf = phraseTf(spark, root, phrase, buckets)
    val dfp = ptf.agg(count(lit(1)).as("dfp"))

    // (doc_id, dl) for all candidate docs from the first term's scored
    // postings (bucket-pruned + term-pushdown scan; runs disjoint ⇒ one row
    // per doc)
    val t0 = terms.head
    val paths = graft.io.Catalog.IndexPaths(root)
    val dls = graft.io.Catalog.readPostings(spark, paths)
      .filter($"bucket" === Blocks.bucketOf(t0, buckets) && $"term" === t0)
      .flatMap { b =>
        val d = Blocks.decode(b)
        (0 until d.docs.length).iterator.map(i => (d.docs(i), d.dls(i)))
      }
      .toDF("doc_id", "dl")

    ptf.join(dls, "doc_id")
      .crossJoin(broadcast(dfp))
      .select($"doc_id",
        (log(lit(1.0) + (lit(stats.n_docs.toDouble) - $"dfp" + lit(0.5)) / ($"dfp" + lit(0.5))) *
          ($"ptf" / ($"ptf" + lit(Bm25.K1) * (lit(1.0 - Bm25.B) + lit(Bm25.B) * $"dl" / lit(stats.avgdl)))))
          .as("score"))
  }
}
