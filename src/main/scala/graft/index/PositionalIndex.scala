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
  *
  * Every positional query — phrase, span and [[Intervals]] — runs through
  * one kernel, [[perDoc]] (scan, decode, group by doc, per-doc function over
  * the position map); an operator is only its query analysis, its
  * `require`s and that per-doc function. [[docsWhere]] is the kernel's
  * filter-context form.
  */
object PositionalIndex {

  val BlockSize = 128

  def pathOf(root: String): String = s"$root/pos_postings"

  // explicit read schema: skips per-query footer schema inference (the
  // Catalog.readPostings rationale); `bucket` is the partition dir column
  private lazy val posSchema =
    org.apache.spark.sql.Encoders.product[PosBlock].schema

  private def readRaw(spark: SparkSession,
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

  /** The one positional pipeline every phrase, span and intervals operator
    * runs: positional postings scan pruned to the buckets of `terms` with
    * `term ∈ terms` pushdown, decode, one groupBy(doc) shuffle of only those
    * terms' (doc, positions) rows, then `f` over the doc's term → ascending
    * positions map (absent = term not in doc). Emits `(doc_id, n)` for each
    * doc where `n = f(positions) > 0` — output is tiny (matching docs only).
    *
    * Tombstones are NOT removed here: phrase df counts deleted docs like
    * every other df (see [[Deletes]]); [[docsWhere]] and [[phraseScores]]
    * drop them from their results.
    */
  private def perDoc(spark: SparkSession, root: String, terms: Seq[String],
      buckets: Int)(f: collection.Map[String, Array[Int]] => Int): DataFrame = {
    import spark.implicits._
    val distinctTerms = terms.distinct
    val qBuckets = distinctTerms.map(Blocks.bucketOf(_, buckets)).distinct
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
        val n = f(byTerm)
        if (n > 0) Iterator.single((doc, n)) else Iterator.empty
      }
      .toDF("doc_id", "n")
  }

  /** Filter context over [[perDoc]]: live doc_ids whose positions satisfy
    * `pred`, ordered.
    */
  private[index] def docsWhere(spark: SparkSession, root: String,
      terms: Seq[String], buckets: Int)(
      pred: collection.Map[String, Array[Int]] => Boolean): DataFrame =
    perDoc(spark, root, terms, buckets)(m => if (pred(m)) 1 else 0)
      .select("doc_id")
      .transform(Deletes.filterLive(_, root))
      .orderBy("doc_id")

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

  /** Per-doc phrase term frequency `(doc_id, ptf)` of the analyzed `terms`:
    * the number of positions p0 at which the whole phrase matches
    * consecutively (ES/Lucene's phrase freq — what a scored `match_phrase`
    * uses as tf). Docs with zero matches are absent; tombstoned docs are
    * present (they count in df).
    */
  private def phraseTf(spark: SparkSession, root: String, terms: Seq[String],
      buckets: Int): DataFrame =
    perDoc(spark, root, terms, buckets)(phraseStarts(terms, _).length)
      .toDF("doc_id", "ptf")

  /** Index-backed phrase match (unscored filter context): matching doc_ids,
    * ordered. Sloppy and unordered phrases (ES `match_phrase` slop, Lucene
    * `span_near`) and `span_or` are [[Intervals]] sources: an ordered or
    * unordered `IMatch` with `maxGaps = slop`, and an `IAnyOf` of exact
    * `IMatch`es.
    */
  def phraseMatch(spark: SparkSession, root: String, phrase: Seq[String],
      buckets: Int): DataFrame = {
    val terms = phrase.flatMap(Analyzer.tokenize(_))
    require(terms.nonEmpty, "empty phrase")
    docsWhere(spark, root, terms, buckets)(phraseStarts(terms, _).nonEmpty)
  }

  /** Lucene `span_first`: the phrase must match with span END (exclusive,
    * 0-based) ≤ `end` — the whole occurrence lies inside the first `end`
    * token positions. Filter context: matching doc_ids, ordered.
    */
  def spanFirst(spark: SparkSession, root: String, phrase: Seq[String],
      end: Int, buckets: Int): DataFrame = {
    val terms = phrase.flatMap(Analyzer.tokenize(_))
    require(terms.nonEmpty, "empty span_first phrase")
    require(end >= terms.length, "end must cover the phrase length")
    val n = terms.length
    docsWhere(spark, root, terms, buckets) { m =>
      // earliest start suffices: starts are sorted ascending
      val starts = phraseStarts(terms, m)
      starts.nonEmpty && starts(0) + n <= end
    }
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
    val inc = includePhrase.flatMap(Analyzer.tokenize(_))
    val exc = excludePhrase.flatMap(Analyzer.tokenize(_))
    require(inc.nonEmpty && exc.nonEmpty, "span_not needs both phrases")
    val (li, le) = (inc.length, exc.length)
    docsWhere(spark, root, inc ++ exc, buckets) { m =>
      lazy val excStarts = phraseStarts(exc, m)
      // include span [s, s+li-1] survives unless an exclude span
      // [t, t+le-1] intersects the widened zone [s-pre, s+li-1+post]
      phraseStarts(inc, m).exists { s =>
        !excStarts.exists(t => t + le - 1 >= s - pre && t <= s + li - 1 + post)
      }
    }
  }

  /** Shared predicate of [[spanWithin]] / [[spanContaining]] (the doc-level
    * result sets of the two queries coincide — they differ in WHICH spans
    * ES returns/scores, not in which docs match): an exact `little` phrase
    * span [s, e] lies inside a big two-term window — one position a of
    * `bigA`, one b of `bigB`, window [min(a,b), max(a,b)] of span
    * ≤ 1 + slop (the span_near convention for two clauses), with
    * min ≤ s and e ≤ max. Exact per doc: pairwise check over the
    * (doc-length-bounded) position lists. Each big clause is one term: a
    * `bigA`/`bigB` that analyzes to zero or several tokens is rejected.
    */
  private def spanContainment(spark: SparkSession, root: String,
      little: Seq[String], bigA: String, bigB: String, slop: Int,
      buckets: Int): DataFrame = {
    def oneTerm(clause: String): String = {
      val toks = Analyzer.tokenize(clause)
      require(toks.length == 1,
        s"span containment big clause '$clause' must analyze to exactly one term")
      toks.head
    }
    val (ta, tb) = (oneTerm(bigA), oneTerm(bigB))
    val lit = little.flatMap(Analyzer.tokenize(_))
    require(lit.nonEmpty, "span containment needs a little phrase")
    val ll = lit.length
    val maxSpan = 1 + slop
    docsWhere(spark, root, lit :+ ta :+ tb, buckets) { m =>
      val as = m.getOrElse(ta, Array.emptyIntArray)
      val bs = m.getOrElse(tb, Array.emptyIntArray)
      phraseStarts(lit, m).exists { s =>
        val e = s + ll - 1
        as.exists(a => bs.exists { b =>
          val lo = math.min(a, b); val hi = math.max(a, b)
          hi - lo <= maxSpan && lo <= s && e <= hi
        })
      }
    }
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

  /** ES `match_phrase_prefix` (search-as-you-type): `phrase :+ prefix` is
    * analyzed as one text and its LAST token is the prefix, as in ES. The
    * leading terms match as an exact adjacent phrase; the last position may
    * hold ANY indexed term starting with the prefix, expanded from the
    * dictionary in term order, capped at `maxExpansions` (the ES
    * max_expansions contract — ES defaults to 50). An empty expansion set
    * matches nothing (no term can occupy the final slot), as in ES.
    *
    * One positional scan over the leading terms + expansions; the expansion
    * is the driver-side ≤maxExpansions dictionary read the prefix term
    * queries use.
    */
  def phrasePrefixMatch(spark: SparkSession, root: String, phrase: Seq[String],
      prefix: String, buckets: Int, maxExpansions: Int = 50): DataFrame = {
    import spark.implicits._
    val toks = (phrase :+ prefix).flatMap(Analyzer.tokenize(_))
    require(toks.length >= 2, "match_phrase_prefix needs at least one full term")
    val (lead, pfx) = (toks.init, toks.last)
    val expansions = graft.search.TermQueries
      .prefixExpansions(spark, root, pfx, maxExpansions)
    if (expansions.isEmpty)
      return spark.emptyDataset[Long].toDF("doc_id")
    val lastSlot = lead.length // expansion position offset from p0
    docsWhere(spark, root, lead ++ expansions, buckets) { m =>
      val expLists = expansions.flatMap(m.get)
      expLists.nonEmpty && phraseStarts(lead, m).exists(p0 =>
        expLists.exists(java.util.Arrays.binarySearch(_, p0 + lastSlot) >= 0))
    }
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
    * df counts tombstoned docs (N does too), so surviving scores do not move
    * after a delete; the tombstones leave only the scored rows.
    */
  def phraseScores(spark: SparkSession, root: String, phrase: Seq[String],
      buckets: Int): DataFrame = {
    import spark.implicits._
    val terms = phrase.flatMap(Analyzer.tokenize(_))
    require(terms.nonEmpty, "empty phrase")
    val stats = graft.io.Catalog.readCorpusStats(spark, graft.io.Catalog.IndexPaths(root))
    val ptf = phraseTf(spark, root, terms, buckets)
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

    Deletes.filterLive(ptf, root).join(dls, "doc_id")
      .crossJoin(broadcast(dfp))
      .select($"doc_id",
        (log(lit(1.0) + (lit(stats.n_docs.toDouble) - $"dfp" + lit(0.5)) / ($"dfp" + lit(0.5))) *
          ($"ptf" / ($"ptf" + lit(Bm25.K1) * (lit(1.0 - Bm25.B) + lit(Bm25.B) * $"dl" / lit(stats.avgdl)))))
          .as("score"))
  }
}
