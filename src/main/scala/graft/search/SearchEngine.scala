package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

import graft.core._
import graft.index.{IndexMeta, Indexer}
import graft.io.{BlockLayout, Catalog, PostingsScan}
import graft.io.Catalog.IndexPaths
import graft.model.Hit

/** Index-backed BM25 top-k (SURVEY.md §3.2).
  *
  * Query path:
  *   1. driver: analyze query (same Analyzer as indexing), load dictionary
  *      rows for the query terms + corpus stats (a few rows), compute idf,
  *      ship the QueryModel with the tasks;
  *   2. executors: one task per docID-range shard ([[perShard]]) reads the
  *      query terms' posting blocks overlapping its docs straight from
  *      their bucket files (term and doc-range pushdown) — no postings scan
  *      in Spark, no shuffle; each shard covers at least AQE's minimum
  *      partition size of the bytes the query opens, up to the shuffle
  *      partitions ([[graft.sql.PerShard.count]]), so a small query is one
  *      task;
  *   3. the task scores its shard: Block-Max WAND ([[topKWand]]) or the
  *      exhaustive kernel ([[exhaustive]]);
  *   4. global `orderBy(score DESC, doc_id ASC).limit(k)` ([[cut]]) —
  *      [[graft.sql.PerShardTopKExec]]: each shard task keeps its k best
  *      rows, and the driver merges ≤ shards·k of them in one job.
  */
object SearchEngine {

  /** The row encoder of a scored shard's hits, built once per JVM. */
  private[search] val HitRows: ExpressionEncoder[Hit] = ExpressionEncoder[Hit]()

  /** Load per-term stats and build the broadcastable query model.
    * `analyzer` must be the index's recorded analyzer (IndexMeta) — the
    * scored paths thread it through so query-time analysis always matches
    * index-time analysis (ES invariant).
    */
  def queryModel(spark: SparkSession, paths: IndexPaths, rawTerms: Seq[String],
      k: Int, analyzer: String = "standard",
      useSynonyms: Boolean = false): QueryModel =
    queryModels(spark, paths, Seq(rawTerms), k, analyzer, useSynonyms).head

  /** [[queryModel]] for a batch of queries, in input order: one synonym,
    * corpus-stats and dictionary lookup for the whole batch.
    */
  private[search] def queryModels(spark: SparkSession, paths: IndexPaths,
      queries: Seq[Seq[String]], k: Int, analyzer: String,
      useSynonyms: Boolean): Seq[QueryModel] = {
    // index-time synonym map (meta.synonyms): query tokens canonicalize
    // through the SAME map the build applied — index/query analysis parity
    val syn = if (useSynonyms) Catalog.readSynonyms(spark, paths) else Map.empty[String, String]
    // ES search_analyzer convention: identity except edge_ngram -> standard
    val qAnalyzer = Analyzer.searchForm(analyzer)
    val terms = queries.flatMap(QueryModel.analyzedTerms(_, qAnalyzer, syn)).distinct
    if (terms.isEmpty) return queries.map(_ => QueryModel(Array.empty, Array.empty, 0.0, k))
    val stats = Catalog.readCorpusStats(spark, paths)
    val dfByTerm = Catalog.docFreqs(spark, paths, terms)
    // build from the RAW terms: boost suffixes must reach the weight parser
    queries.map(QueryModel.build(_, stats.n_docs, dfByTerm, stats.avgdl, k, qAnalyzer, syn))
  }

  /** One docID-range shard of a [[perShard]] scan: the shard's blocks per
    * source (in the scans' order) by term, each term's sorted by first_doc,
    * and its sorted slices of the excluded docs (tombstones ∪
    * `excludedDocs`) and of the allowed docs — null when the slice is empty
    * or no range filter is active, as [[Wand.scoreShard]] expects.
    */
  private[graft] final case class Shard(lo: Long, hi: Long,
      reads: IndexedSeq[Map[String, Array[_ <: TermBlock]]], deleted: Array[Long],
      allowed: Array[Long]) {
    /** Source `i`'s blocks by term; `B` is the block type of its scan's layout. */
    def source[B <: TermBlock](i: Int): Map[String, Array[B]] =
      reads(i).asInstanceOf[Map[String, Array[B]]]

    /** Every source's blocks by term, every source being a postings scan. */
    def blocks: IndexedSeq[Map[String, Array[PostingBlock]]] =
      reads.indices.map(source[PostingBlock])

    /** The first source's blocks by term, it being a postings scan. */
    def byTerm: Map[String, Array[PostingBlock]] = source[PostingBlock](0)

    /** Whether `doc` is excluded (tombstoned or must_not). */
    def isDeleted(doc: Long): Boolean =
      deleted != null && java.util.Arrays.binarySearch(deleted, doc) >= 0

    /** Scoring cursors for the query terms with postings in this shard, in
      * the model's (sorted) term order.
      */
    def cursors(qm: QueryModel, robust: Boolean): Array[Wand.TermCursor] =
      qm.terms.indices.flatMap(ti => byTerm.get(qm.terms(ti)).map(bs =>
        new Wand.TermCursor(qm.idfs(ti), bs, qm.avgdl, hi, robust))).toArray
  }

  /** The docID-shard executor under every postings read of a query but
    * must_not's: [[topKWand]], [[MSearch.msearch]], the [[exhaustive]]
    * kernel, [[Booleans]] and the positional kernel (phrase, span and
    * intervals: `graft.index.PositionalIndex.perDoc`). Every term's blocks
    * for docID-range shard s meet in one task, and `f` runs once per shard
    * holding blocks. One Catalyst operator ([[graft.sql.PerShard]]): shard
    * s's task reads the blocks overlapping its doc range through each of the
    * `scans` (one per source; cross_fields and BM25F read the text and title
    * indexes, and a scored phrase the positional and text indexes, which
    * share the docID space), so no postings are shuffled; the excluded
    * docIDs (`root`'s tombstones ∪ `excludedDocs`) and the `allowedDocs` are
    * its children, each moved into the shards by its own exchange inside
    * the operator. A block can straddle shards: `f` keeps the docs in
    * `[lo, hi)`. The shard count is `shardsOpt` when given, else sized by
    * the postings bytes the scans open ([[graft.sql.PerShard.count]]): at
    * Spark's defaults a query opening under 1 MB runs as one shard task,
    * and one opening at least P MB as P, the shuffle partitions. `rows`
    * serializes `f`'s rows: pass an encoder built once, not one derived
    * per query.
    */
  private[graft] def perShard[T](spark: SparkSession, root: String,
      meta: IndexMeta, scans: Seq[PostingsScan[_ <: TermBlock]], shardsOpt: Option[Int],
      rows: ExpressionEncoder[T], excludedDocs: Option[DataFrame] = None,
      allowedDocs: Option[DataFrame] = None)(f: Shard => Iterator[T]): DataFrame = {
    val paths = IndexPaths(root)
    val shards = graft.sql.PerShard.count(shardsOpt,
      scans.map(_.files.map(_.length).sum).sum, spark.sessionState.conf)
    val width = math.max(1L, (meta.doc_id_space + shards - 1) / shards)
    def docIds(df: DataFrame) = df.select(col("doc_id").cast("long"))
    // exclusions: live tombstones ∪ ES bool.must_not doc sets — the scorer
    // treats both identically (exact eval-time rejection), so they are one
    // input and one exchange
    val excluded =
      ((if (!graft.index.Deletes.hasDeletes(paths)) None
        else Some(Catalog.readParquet(spark, paths.deletes))) ++ excludedDocs)
        .map(docIds).reduceOption(_ union _)
    graft.sql.PerShard.frame(spark, shards, width, scans, excluded,
      allowedDocs.map(docIds), rows)(f)
  }

  /** The postings block record, as [[PostingsScan]] reads it. */
  private[graft] val Postings: BlockLayout[PostingBlock] = BlockLayout(
    Seq("term", "run_id", "block_idx", "first_doc", "last_doc", "n_docs", "max_tf", "min_dl",
      "sum_tf", "max_tf_norm", "doc_deltas_vb", "tfs_vb", "dls_vb"),
    (bucket, r) => PostingBlock(r.string(0), bucket, r.int(1), r.int(2), r.long(3), r.long(4),
      r.int(5), r.int(6), r.int(7), r.long(8), r.double(9), r.bytes(10), r.bytes(11),
      r.bytes(12)))

  /** A shard read of the `terms`' postings (their buckets' files) and `columns`. */
  private[graft] def postingsScan(paths: IndexPaths, terms: Seq[String], buckets: Int,
      columns: Seq[String] = Postings.columns): PostingsScan[PostingBlock] =
    PostingsScan.of(paths.postings, terms, buckets, Postings, columns)

  /** Exhaustive index scorer: [[scoreAllDocs]] cut to the global top-k.
    * The WAND path beats this by skipping blocks; this one is its always-on
    * correctness shadow (SURVEY.md §7.3-7) — for `minimum_should_match` too,
    * with `minMatch = _ => mm` (WandSpec asserts bit-identity across query
    * shapes × mm × k).
    */
  def topKExhaustive(spark: SparkSession, root: String, rawTerms: Seq[String],
      k: Int, minMatch: Long => Int = _ => 1): DataFrame =
    cut(scoreAllDocs(spark, root, rawTerms, minMatch), k)

  /** Per-doc BM25 score for EVERY live doc containing at least
    * `minMatch(doc_id)` distinct query terms — no top-k cut. Feeds the
    * exhaustive shadow and per-bucket aggregations
    * (Aggregations.topHitsByFacet), where the cut happens per group.
    */
  def scoreAllDocs(spark: SparkSession, root: String, rawTerms: Seq[String],
      minMatch: Long => Int = _ => 1): DataFrame =
    scoreDocs(spark, root, rawTerms, minMatch, None)

  /** Global top-k by (score DESC, doc_id ASC): over a [[perShard]] frame,
    * [[graft.sql.PerShardTopKExec]]; elsewhere TakeOrderedAndProject.
    */
  private[search] def cut(df: DataFrame, k: Int): DataFrame =
    df.orderBy(col("score").desc, col("doc_id").asc).limit(k)

  /** The query model under the index's own analyzer and synonyms. */
  private def indexQueryModel(spark: SparkSession, root: String,
      rawTerms: Seq[String]): QueryModel = {
    val meta = Indexer.readMeta(spark, root)
    queryModel(spark, IndexPaths(root), rawTerms, 1, meta.analyzer, meta.synonyms)
  }

  /** One input of the [[exhaustive]] kernel: an index root, the cell each
    * term it reads fills (cells count from 0; the kernel fills every cell
    * up to the largest of any source), and a posting's value in its cell
    * from (cell, tf, dl).
    */
  private[graft] final case class Source(root: String, cellOf: Map[String, Int],
      value: (Int, Int, Int) => Double)

  /** `f` over the docID shards of the `sources`' postings: one shard read
    * per source, and the first source's tombstones as `Shard.deleted`.
    */
  private def overSources[T](spark: SparkSession, sources: Seq[Source],
      rows: ExpressionEncoder[T])(f: Shard => Iterator[T]): DataFrame = {
    val metas = sources.map(s => Indexer.readMeta(spark, s.root))
    val scans = sources.zip(metas).map { case (s, m) =>
      postingsScan(IndexPaths(s.root), s.cellOf.keys.toSeq, m.buckets) }
    perShard(spark, sources.head.root, metas.head, scans, None, rows)(f)
  }

  /** One doc's cells in a shard: each cell's sum of posting values, which
    * cells hold a posting and how many, and the doc's dl (the max over
    * sources).
    */
  private[graft] final class DocCells(n: Int) {
    val sums = new Array[Double](n)
    val filled = new Array[Boolean](n)
    var matched, dl = 0
    def add(c: Int, v: Double, d: Int): Unit = {
      sums(c) += v
      if (!filled(c)) { filled(c) = true; matched += 1 }
      if (d > dl) dl = d
    }
  }

  /** The one exhaustive BM25 kernel, under [[scoreAllDocs]],
    * [[topKExhaustive]], [[termsSetTopK]], [[synonymTopK]],
    * [[multiMatchCrossFields]], [[Bm25F.topK]] and the multi_match exact
    * fill: one (doc_id, score) row per live doc of the first source's index
    * with at least `minMatch(doc_id)` non-empty cells.
    *
    * A shard function ([[cells]]) over [[perShard]], so no exchange or
    * join sits under it: `combine(dl, cells)` runs once per doc over the
    * cells in ascending order, a cell the doc has no posting in being 0.0.
    * A (term, doc) pair lives in one block per index, so a cell sums one
    * posting per (term, source): integer tfs (exact in a Double) or at most
    * two Double addends (commutative) — one sum in any order.
    */
  private[search] def exhaustive(spark: SparkSession, sources: Seq[Source],
      minMatch: Long => Int = _ => 1, docs: Option[Array[Long]] = None)(
      combine: (Long, Array[Double]) => Double): DataFrame =
    overSources(spark, sources, HitRows)(cells(sources, minMatch, docs)((doc, d) =>
      Iterator.single(Hit(doc, combine(d.dl.toLong, d.sums)))))

  /** The kernel's shard function: every posting of each source's terms
    * with its doc in `[lo, hi)` (a block can straddle shards) — and in the
    * sorted `docs` when given, where a block whose [first_doc, last_doc]
    * holds none of them is skipped undecoded — adds its value to its doc's
    * cell; then `out` runs once per doc that is not a tombstone of the
    * shard and has at least `minMatch(doc_id)` filled cells.
    */
  private[graft] def cells[T](sources: Seq[Source], minMatch: Long => Int,
      docs: Option[Array[Long]])(out: (Long, DocCells) => Iterator[T]): Shard => Iterator[T] = {
    import java.util.Arrays.binarySearch
    val nCells = sources.flatMap(_.cellOf.values).max + 1
    val ds = docs.orNull
    sh => {
      val byDoc = new scala.collection.mutable.LongMap[DocCells]()
      sources.zip(sh.blocks).foreach { case (Source(_, cellOf, value), byTerm) =>
        byTerm.foreach { case (term, blocks) =>
          val c = cellOf(term)
          blocks.foreach { b =>
            val at = if (ds == null) 0 else binarySearch(ds, b.first_doc)
            if (ds == null || at >= 0 || ~at < ds.length && ds(~at) <= b.last_doc) {
              val d = Blocks.decode(b)
              for (j <- d.docs.indices) {
                val doc = d.docs(j)
                if (doc >= sh.lo && doc < sh.hi && (ds == null || binarySearch(ds, doc) >= 0))
                  byDoc.getOrElseUpdate(doc, new DocCells(nCells))
                    .add(c, value(c, d.tfs(j), d.dls(j)), d.dls(j))
              }
            }
          }
        }
      }
      byDoc.iterator.flatMap { case (doc, d) =>
        if (d.matched < minMatch(doc) || sh.isDeleted(doc)) Iterator.empty
        else out(doc, d)
      }
    }
  }

  /** BM25 over tf cells: Σ idf·[[Bm25.tfNorm]] in ascending cell order —
    * the exact scalar ops of the WAND path, so scores are bit-identical to
    * it (WandSpec's shadow equality pins it).
    */
  private[graft] def bm25(idfs: Array[Double], avgdl: Double): (Long, Array[Double]) => Double =
    (dl, tfs) => {
      var s = 0.0
      var c = 0
      while (c < tfs.length) {
        val tf = tfs(c).toInt
        if (tf > 0) s += idfs(c) * Bm25.tfNorm(tf, dl, avgdl)
        c += 1
      }
      s
    }

  /** The kernel with the query terms as cells and v = tf: plain BM25,
    * restricted to `docs` when given.
    */
  private def scoreDocs(spark: SparkSession, root: String, rawTerms: Seq[String],
      minMatch: Long => Int, docs: Option[Array[Long]]): DataFrame = {
    val qm = indexQueryModel(spark, root, rawTerms)
    if (qm.isEmpty) emptyHits(spark)
    else exhaustive(spark, Seq(Source(root, qm.terms.zipWithIndex.toMap, (_, tf, _) => tf)),
      minMatch, docs)(bm25(qm.idfs, qm.avgdl))
  }

  /** ES `terms_set` query: a term disjunction whose minimum-should-match is
    * PER-DOCUMENT (ES reads it from `minimum_should_match_field`, a stored
    * doc value). Here the stored value is modeled by the deterministic
    * `1 + doc_id % 3` (the corpus carries no such column; the shape — a
    * per-doc dynamic threshold — is what matters and is exactly what ES
    * evaluates). Docs with at least that many distinct matching terms score
    * the usual BM25 sum over the present terms.
    *
    * A per-doc threshold breaks WAND's global mm-pivot (the pivot needs one
    * corpus-wide mm), so this is the exhaustive-pruned family by necessity —
    * Lucene's CoveringQuery scores exhaustively for the same reason. The
    * shard reads are still bucket-pruned + term-pushed-down; only the QUERY
    * terms' postings are decoded, and nothing is shuffled.
    */
  def termsSetTopK(spark: SparkSession, root: String, rawTerms: Seq[String],
      k: Int): DataFrame =
    rounded(topKExhaustive(spark, root, rawTerms, k, d => 1 + (d % 3).toInt))

  /** Block-Max WAND top-k (SURVEY.md §3.2) — the production query path.
    *
    * Runs on the docID-shard executor ([[perShard]]): Wand.scoreShard runs
    * per shard with exact block-max skipping, and only ≤ shards·k candidate
    * rows reach the driver's merge ([[graft.sql.PerShardTopKExec]]).
    *
    * Every ES query shape on this path is a parameter of this one call:
    *  - `minMatch`: `minimum_should_match` (= #terms is `match`
    *    operator=and) — only docs with ≥ minMatch distinct query terms
    *    qualify; Wand.scoreShard's mm-raised pivot skips head-term lists
    *    instead of decoding them in full.
    *  - `after`: `search_after` keyset paging — the previous page's last
    *    hit (UNROUNDED score, doc_id; scores are bit-deterministic across
    *    runs and parallelism, so cursors are stable). O(k) per page at any
    *    depth, unlike from/size: `topKWand(k = from + size).offset(from)`.
    *  - `filters`: bool `filter: term` — `field:value` keyword postings
    *    (KeywordIndex.add) as required non-scoring cursors.
    *  - `allowedDocs`: bool `filter: range` — docIDs from a range-pruned
    *    metadata scan, cogrouped into the scorer's own shards.
    *  - `excludedDocs`: bool `must_not` ([[mustNotDocs]]), rejected at
    *    eval time like tombstones.
    * Filter context never changes scoring: BM25 stats stay full-corpus.
    */
  def topKWand(spark: SparkSession, root: String, rawTerms: Seq[String],
      k: Int, shardsOpt: Option[Int] = None, robustBounds: Boolean = false,
      minMatch: Int = 1, after: Option[(Double, Long)] = None,
      filters: Seq[String] = Nil,
      allowedDocs: Option[org.apache.spark.sql.DataFrame] = None,
      excludedDocs: Option[org.apache.spark.sql.DataFrame] = None): DataFrame = {
    val meta = Indexer.readMeta(spark, root)
    val qm = queryModel(spark, IndexPaths(root), rawTerms, k, meta.analyzer, meta.synonyms)
    if (qm.isEmpty || qm.terms.length < minMatch) return emptyHits(spark)
    val (afterScore, afterDoc) = after.getOrElse((Double.PositiveInfinity, -1L))
    // filter terms (ES filter context): synthetic `field:value` posting
    // lists (KeywordIndex) joined into the same scan as required,
    // NON-SCORING cursors (idf 0 ⇒ zero bounds and zero contributions);
    // disjoint from analyzed terms by the ':' construction
    val filterTerms = filters.distinct.sorted.toArray
    // incrementally-grown indexes carry stale stored bounds (avgdl drift) —
    // robust bounds are mandatory there, independent of the caller's flag
    val robust = robustBounds || meta.incremental

    val scan = postingsScan(IndexPaths(root), qm.terms.toSeq ++ filterTerms, meta.buckets)
    cut(perShard(spark, root, meta, Seq(scan), shardsOpt, HitRows, excludedDocs,
        allowedDocs) { sh =>
      // a shard missing any filter term's postings holds no matching docs
      if (!filterTerms.forall(sh.byTerm.contains)) Iterator.empty
      else {
        val scoring = sh.cursors(qm, robust)
        val filtering = filterTerms.map(t =>
          new Wand.TermCursor(0.0, sh.byTerm(t), qm.avgdl, sh.hi, robust))
        val required = scoring.map(_ => false) ++ filtering.map(_ => true)
        Wand.scoreShard(scoring ++ filtering, sh.lo, qm.k, minMatch, afterScore,
          afterDoc, required, sh.deleted, sh.allowed).iterator
      }
    }, k)
  }

  /** ES `bool: {must_not: …}` doc set: the docID of every posting of the
    * must_not terms, analyzed like the query terms (the index's analyzer and
    * synonyms), from ONE bucket-pruned, term-pushed-down Spark scan decoding
    * only the docID payloads (never a corpus scan). Pass it to
    * [[topKWand]] as `excludedDocs`: it is the same shard input as
    * tombstones — exact eval-time rejection, θ-driven skips stay rank-safe,
    * scoring stats untouched (ES must_not never scores). The set is neither
    * deduplicated, sorted nor tombstone-filtered: each shard sorts its slice,
    * the scorer's binary-search exclusion tolerates duplicates, and
    * tombstones join the same input. Terms analyzing to nothing exclude
    * nothing (ES drops empty clauses): None.
    */
  def mustNotDocs(spark: SparkSession, root: String,
      mustNotTerms: Seq[String]): Option[DataFrame] = {
    import spark.implicits._
    val terms = analyzeLikeIndex(spark, root, mustNotTerms)
    if (terms.isEmpty) None
    else {
      val buckets = Indexer.readMeta(spark, root).buckets
      val qBuckets = terms.map(Blocks.bucketOf(_, buckets)).distinct
      Some(Catalog.readParquet(spark, IndexPaths(root).postings)
        .filter($"bucket".isin(qBuckets: _*) && $"term".isin(terms: _*))
        .select($"n_docs", $"doc_deltas_vb")
        .as[(Int, Array[Byte])]
        .flatMap { case (n, deltas) => Codec.decodeDeltas(deltas, n) }
        .toDF("doc_id"))
    }
  }

  /** `rawTerms` analyzed as the index at `root` analyzes queries: its
    * search analyzer plus its index-time synonyms when it records them —
    * for the unscored term paths (must_not, field sort, delete-by-query).
    */
  private[graft] def analyzeLikeIndex(spark: SparkSession, root: String,
      rawTerms: Seq[String]): Seq[String] = {
    val meta = Indexer.readMeta(spark, root)
    val syn =
      if (meta.synonyms) Catalog.readSynonyms(spark, IndexPaths(root))
      else Map.empty[String, String]
    QueryModel.analyzedTerms(rawTerms, Analyzer.searchForm(meta.analyzer), syn)
  }

  /** ES field-sorted search (`sort: [{field: desc}]`): the matched doc set
    * (filter context — sorting never scores, so the match is the unscored
    * index path, over the terms analyzed like the index) joined to the
    * metadata column, top-k by the field. Plan:
    * [[Booleans.or]]'s docID set → join against the
    * column-pruned metadata scan → TakeOrderedAndProject — no corpus sort,
    * no score computation (ES skips scoring for field sorts too).
    */
  def topKByField(spark: SparkSession, root: String, sfDir: String,
      rawTerms: Seq[String], field: String, k: Int,
      asc: Boolean = false): DataFrame = {
    import spark.implicits._
    val matched = Booleans.or(spark, root, analyzeLikeIndex(spark, root, rawTerms))
    val meta = Catalog.readTable(spark, sfDir, "documents")
      .select($"doc_id", col(field))
    val sortCol = if (asc) col(field).asc else col(field).desc
    matched.join(meta, "doc_id")
      .orderBy(sortCol, $"doc_id".asc)
      .limit(k)
      .select($"doc_id", col(field))
  }

  /** ES `multi_match` (best_fields / dis_max, with `tie_breaker`): per-field
    * BM25 with each field's OWN statistics (df/dl/avgdl — ES per-field
    * similarity), combined per doc as max + tie_breaker·min of the field
    * scores (tie_breaker 0 = pure dis_max), top-k.
    *
    * EXACT, with bounded work: candidates are the union of the two
    * per-field WAND top-`w` windows, fused on the driver (≤ 2w rows, the
    * ES-coordinator shape). A doc outside field f's FULL window has
    * s_f ≤ that window's boundary score, so when every full window's
    * boundary is STRICTLY below the fused k-th combined score θc, no
    * unseen doc can reach the top-k — the result is provably exact. If a
    * boundary ties or exceeds θc (pathologically many equal-score docs —
    * e.g. mass duplicates), w escalates ×4 and retries; windows that come
    * back non-full contain every matching doc and terminate the loop
    * unconditionally. Typical cost: one round of two WAND passes.
    */
  def multiMatchTopK(spark: SparkSession, textRoot: String, titleRoot: String,
      rawTerms: Seq[String], k: Int, titleBoost: Double = 1.0,
      windowOpt: Int = -1, tieBreaker: Double = 0.0): DataFrame = {
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0, "tie_breaker in [0,1], as ES")
    multiMatchFused(spark, textRoot, titleRoot, rawTerms, k, titleBoost,
      windowOpt,
      combine = (a, b) => math.max(a, b) + tieBreaker * math.min(a, b),
      needFill = tieBreaker > 0.0)
  }

  /** ES `multi_match` `most_fields` mode: per-field BM25 with each field's
    * OWN statistics, combined per doc as the SUM of the field scores (the
    * public ES semantics — "as many fields as possible"). Reuses the
    * best_fields window-fusion machinery: sum is monotone in both
    * arguments, so the unseen-doc bound combine(boundary_tx, boundary_ti)
    * and the escalation loop's exactness argument carry over verbatim.
    * Both field scores always enter the combined value, so missing window
    * sides always take the exact targeted lookup (the tie_breaker>0 rule).
    */
  def multiMatchMostFields(spark: SparkSession, textRoot: String,
      titleRoot: String, rawTerms: Seq[String], k: Int,
      titleBoost: Double = 1.0, windowOpt: Int = -1): DataFrame =
    multiMatchFused(spark, textRoot, titleRoot, rawTerms, k, titleBoost,
      windowOpt, combine = (a, b) => a + b, needFill = true)

  /** Shared window-fusion core (scaladoc on [[multiMatchTopK]]): exact for
    * any `combine` monotone non-decreasing in both arguments with
    * combine(0,0) = 0.
    */
  private def multiMatchFused(spark: SparkSession, textRoot: String,
      titleRoot: String, rawTerms: Seq[String], k: Int, titleBoost: Double,
      windowOpt: Int, combine: (Double, Double) => Double,
      needFill: Boolean): DataFrame = {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    var w = math.max(k, if (windowOpt > 0) windowOpt else k + 8)
    while (true) {
      // the two per-field passes are independent Spark jobs — submit them
      // concurrently from the driver (the ES coordinator fans out to every
      // field/shard in parallel; sequential submission serialized two
      // cluster round-trips for no reason). Each future pins the ACTIVE
      // session first: it runs on a global-pool thread whose thread-local
      // session is unset, and path/version resolution (Fs.conf) falls back
      // to a bare Hadoop Configuration without the session's spark.hadoop.*
      // settings otherwise — latent s3a/hdfs credential failures.
      def inSession[T](body: => T): Future[T] = Future {
        org.apache.spark.sql.SparkSession.setActiveSession(spark)
        body
      }
      val txtF = inSession(topKWand(spark, textRoot, rawTerms, w).as[Hit].collect())
      val ttlF = inSession(topKWand(spark, titleRoot, rawTerms, w).as[Hit].collect()
        .map(h => Hit(h.doc_id, titleBoost * h.score)))
      val txt = Await.result(txtF, Duration.Inf)
      val ttl = Await.result(ttlF, Duration.Inf)
      var txtByDoc = txt.map(h => h.doc_id -> h.score).toMap
      var ttlByDoc = ttl.map(h => h.doc_id -> h.score).toMap
      if (needFill) {
        // with a tie_breaker, BOTH field scores enter every candidate's
        // combined value — a candidate outside one field's window has an
        // unknown (nonzero!) score there; a zero-fill understates it (the
        // dis_max case is immune: max only needs the ranking field). Fill
        // the missing side with a targeted exact lookup over the candidate
        // docID set (the exhaustive kernel restricted to the set: a block
        // holding none of it is skipped undecoded, only the set's rows leave).
        def exact(root: String, docs: Set[Long]): Map[Long, Double] =
          if (docs.isEmpty) Map.empty
          else scoreDocs(spark, root, rawTerms, _ => 1, Some(docs.toArray.sorted))
            .as[Hit].collect().map(h => h.doc_id -> h.score).toMap
        val union = txtByDoc.keySet ++ ttlByDoc.keySet
        val fillTxtF = inSession(exact(textRoot, union -- txtByDoc.keySet))
        val fillTtlF = inSession(exact(titleRoot, union -- ttlByDoc.keySet)
          .view.mapValues(_ * titleBoost).toMap)
        txtByDoc ++= Await.result(fillTxtF, Duration.Inf)
        ttlByDoc ++= Await.result(fillTtlF, Duration.Inf)
      }
      val fused = (txtByDoc.keySet ++ ttlByDoc.keySet).toSeq
        .map(d => (d, combine(txtByDoc.getOrElse(d, 0.0), ttlByDoc.getOrElse(d, 0.0))))
        .sortBy { case (d, s) => (-s, d) }
        .take(k)
      // fused.size < k ⟹ both windows under w ⟹ all matching docs seen.
      // An UNSEEN doc (outside both windows) is bounded per field by the
      // FULL window's boundary score — and by 0 when that field's window is
      // non-full (then every doc matching the field was seen).
      val thetaC = if (fused.size < k) Double.NegativeInfinity else fused.last._2
      val effTxt = if (txt.length < w) 0.0 else txt.last.score
      val effTtl = if (ttl.length < w) 0.0 else ttl.last.score
      if (combine(effTxt, effTtl) < thetaC || fused.size < k ||
          (txt.length < w && ttl.length < w))
        return rounded(spark.createDataset(fused).toDF("doc_id", "score"))
          .orderBy($"score_r4".desc, $"doc_id".asc)
      w *= 4
    }
    throw new IllegalStateException("unreachable")
  }

  /** ES `multi_match` `cross_fields` mode (term-centric, the public Lucene
    * BlendedTermQuery semantics): each term's idf is BLENDED across the
    * queried fields — df = max of the per-field dfs, N shared (both fields
    * span the same docs) — then a doc's per-term score is the dis_max
    * (+ tie_breaker) over fields of idf_blend · tfNorm_field (each field's
    * own tf/dl/avgdl), summed over terms. This treats the field set as one
    * big field for rarity while keeping per-field length normalization —
    * exactly why ES recommends it for first_name/last_name-style splits.
    * Terms analyze like the text index.
    *
    * The [[exhaustive]] kernel over both fields' shard reads, one cell per
    * (term, field). Term-centric blending couples the fields per term, so
    * per-field WAND windows cannot bound the combined score.
    */
  def multiMatchCrossFields(spark: SparkSession, textRoot: String,
      titleRoot: String, rawTerms: Seq[String], k: Int,
      tieBreaker: Double = 0.0, titleBoost: Double = 1.0): DataFrame = {
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0, "tie_breaker in [0,1], as ES")
    val pathsTx = IndexPaths(textRoot)
    val pathsTi = IndexPaths(titleRoot)
    val terms = analyzeLikeIndex(spark, textRoot, rawTerms)
    if (terms.isEmpty) return rounded(emptyHits(spark))
    val stTx = Catalog.readCorpusStats(spark, pathsTx)
    val stTi = Catalog.readCorpusStats(spark, pathsTi)
    val dfTx = Catalog.docFreqs(spark, pathsTx, terms)
    val dfTi = Catalog.docFreqs(spark, pathsTi, terms)
    val idfBlend = terms.map(t =>
      Bm25.idf(stTx.n_docs, math.max(dfTx.getOrElse(t, 0L), dfTi.getOrElse(t, 0L)))).toArray
    // cell 2t + f holds term t's contribution in field f (0 text, 1 title)
    def field(root: String, f: Int, avgdl: Double, weight: Double) =
      Source(root, terms.zipWithIndex.map { case (t, i) => t -> (2 * i + f) }.toMap,
        (c, tf, dl) => weight * idfBlend(c / 2) * Bm25.tfNorm(tf, dl.toLong, avgdl))
    val n = terms.length
    val scored = exhaustive(spark, Seq(field(textRoot, 0, stTx.avgdl, 1.0),
        field(titleRoot, 1, stTi.avgdl, titleBoost))) { (_, cells) =>
      var sc = 0.0
      var t = 0
      while (t < n) {
        val tx = cells(2 * t)
        val ti = cells(2 * t + 1)
        sc += math.max(tx, ti) + tieBreaker * math.min(tx, ti)
        t += 1
      }
      sc
    }
    rounded(cut(scored, k))
  }

  /** Query-time synonyms — the public Lucene SynonymQuery semantics ES
    * applies to synonym-expanded positions: each synonym GROUP scores as a
    * single pseudo-term with df = max of the member terms' dfs (blended
    * rarity) and tf = SUM of the member tfs in the doc, then groups sum
    * like ordinary query terms. Groups analyze under the index's search
    * analyzer and must be disjoint (after analysis).
    *
    * The [[exhaustive]] kernel's BM25 with the groups as cells, so singleton
    * groups are plain BM25. Group-summed tf has no per-term upper bound, so
    * this is the exhaustive-pruned family, not WAND.
    */
  def synonymTopK(spark: SparkSession, root: String,
      groups: Seq[Seq[String]], k: Int): DataFrame = {
    val paths = IndexPaths(root)
    val meta = Indexer.readMeta(spark, root)
    val analyzed = groups.map(g =>
      QueryModel.analyzedTerms(g, Analyzer.searchForm(meta.analyzer))).filter(_.nonEmpty)
    require(analyzed.flatten.distinct.length == analyzed.flatten.length,
      "synonym groups must be disjoint")
    if (analyzed.isEmpty) return rounded(emptyHits(spark))
    val stats = Catalog.readCorpusStats(spark, paths)
    val dfByTerm = Catalog.docFreqs(spark, paths, analyzed.flatten)
    val idfs = analyzed.map(g =>
      Bm25.idf(stats.n_docs, g.map(dfByTerm.getOrElse(_, 0L)).max)).toArray
    val groupOf = analyzed.zipWithIndex
      .flatMap { case (g, i) => g.map(_ -> i) }.toMap
    rounded(cut(exhaustive(spark, Seq(Source(root, groupOf, (_, tf, _) => tf)))(
      bm25(idfs, stats.avgdl)), k))
  }

  /** ES `rescore`: re-rank the top-`window` WAND candidates with a secondary
    * per-document score — final = queryWeight·bm25 + rescoreWeight·prior,
    * the ES rescore weight combination. The secondary here is a length
    * prior 1000/(1000+n_chars) (short docs up); any doc-metadata column
    * works the same way. Cost: one top-window WAND pass + a broadcast join
    * of ≤ window rows against the metadata — the corpus is never rescanned,
    * exactly ES's rescore-window contract.
    */
  def rescoreTopK(spark: SparkSession, root: String, sfDir: String,
      rawTerms: Seq[String], k: Int, window: Int,
      queryWeight: Double = 1.0, rescoreWeight: Double = 2.0): DataFrame = {
    import spark.implicits._
    val cands = topKWand(spark, root, rawTerms, window)
    val meta = Catalog.readTable(spark, sfDir, "documents")
      .select($"doc_id", $"n_chars")
    broadcast(cands).join(meta, "doc_id")
      .select($"doc_id",
        (lit(queryWeight) * $"score" +
          lit(rescoreWeight) * (lit(1000.0) / (lit(1000.0) + $"n_chars")))
          .as("rescored"))
      .orderBy($"rescored".desc, $"doc_id".asc)
      .limit(k)
      .select($"doc_id", round($"rescored", 4).as("rescored_r4"))
  }

  /** ES `_explain` analog: per-term score breakdown for every top-k doc —
    * (doc_id, term, contribution). The exhaustive kernel's query model and
    * shard [[cells]], restricted to the top-k docIDs; contributions
    * re-derived from the postings exactly as the scorer computes them, so
    * the rows sum to the hit scores bit-for-bit.
    */
  def explainTopK(spark: SparkSession, root: String, rawTerms: Seq[String],
      k: Int): DataFrame = {
    import spark.implicits._
    val topDocs = topKWand(spark, root, rawTerms, k)
      .select($"doc_id").as[Long].collect().sorted
    val qm = indexQueryModel(spark, root, rawTerms)
    if (qm.isEmpty)
      return spark.emptyDataset[(Long, String, Double)].toDF("doc_id", "term", "contrib_r6")
    val contrib = Source(root, qm.terms.zipWithIndex.toMap,
      (c, tf, dl) => qm.idfs(c) * Bm25.tfNorm(tf, dl.toLong, qm.avgdl))
    overSources(spark, Seq(contrib), ContribRows)(cells(Seq(contrib), _ => 1, Some(topDocs))(
      (doc, d) => qm.terms.indices.iterator.filter(d.filled).map(c => (doc, qm.terms(c), d.sums(c)))))
      .toDF("doc_id", "term", "contrib")
      .select($"doc_id", $"term", round($"contrib", 6).as("contrib_r6"))
      .orderBy($"doc_id", $"term")
  }

  private val ContribRows = ExpressionEncoder[(Long, String, Double)]()

  /** The driver-contract projection: `(doc_id, score_r4)`, the score
    * rounded to 4 decimals (see BruteForce.topKRounded).
    */
  def rounded(df: DataFrame): DataFrame =
    df.select(col("doc_id"), round(col("score"), 4).as("score_r4"))

  private[search] def emptyHits(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[Hit].toDF()
  }

  /** Hydration: join top-k hits back to the numbered corpus (conv_id,
    * turn_idx, role, text, tool, ts) of a transcript index (IndexBuildJob,
    * StreamingIngest); broadcast — k rows.
    */
  def hydrate(spark: SparkSession, root: String, hits: DataFrame): DataFrame =
    broadcast(hits).join(Catalog.readNumbered(spark, IndexPaths(root)).toDF(), "doc_id")
}
