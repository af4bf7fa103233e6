package graft.index

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.core.{Blocks, PostingBlock, RunPosting}
import graft.model.TermFreqRow

/** Head-term salt planner. Exact df (already computed by TermFreqs.termStats)
  * drives a per-term fan-out s(t) = ceil(df/targetRun); the salt is
  * **docID-range based** — `salt = min(s−1, doc_id·s / docIdSpace)` — so the
  * salted sub-runs of a term cover disjoint ascending docID ranges and the
  * term-keyed merge is pure concatenation (no re-encode, SURVEY.md §7.3-3).
  *
  * Why not AQE: adaptive execution splits skewed *join* partitions but does
  * not fix groupBy/repartition key skew — a term with 10^10 postings would
  * still land on one reducer. Salting bounds every (term, salt) group to
  * ≤ ~2·targetRun postings regardless of df.
  */
object SaltPlan {

  final case class HeavyTerm(term: String, fanout: Int)

  /** Heavy-hitter table: tiny (only terms with df > targetRun), broadcast. */
  def heavyTerms(termStats: Dataset[graft.model.TermStat], targetRun: Long): Dataset[HeavyTerm] = {
    import termStats.sparkSession.implicits._
    termStats
      .filter($"df" > targetRun)
      .select($"term", ceil($"df".cast("double") / targetRun.toDouble).cast("int").as("fanout"))
      .as[HeavyTerm]
  }

  /** Salt every TF row over the docID slice [lo, hi); the salt is the run
    * id. The streaming path salts over its batch's slice: a delta segment's
    * doc_ids all lie in it, so salting against [0, hi) would map every row
    * to fanout−1 and collapse the skew bound the salt exists for (ADVICE
    * r1). Salting over the batch-local range preserves disjoint ascending
    * sub-runs per term.
    */
  def saltRange(
      tf: Dataset[TermFreqRow],
      heavy: Dataset[HeavyTerm],
      lo: Long,
      hi: Long): Dataset[RunPosting] = {
    import tf.sparkSession.implicits._
    val span = math.max(1L, hi - lo)
    tf.join(broadcast(heavy), Seq("term"), "left")
      .select(
        $"term",
        when($"fanout".isNull, lit(0))
          .otherwise(least($"fanout" - 1,
            (($"doc_id" - lit(lo)) * $"fanout" / lit(span)).cast("int")))
          .cast("int").as("run_id"),
        $"doc_id", $"tf", $"dl")
      .as[RunPosting]
  }
}

/** SPIMI posting-run construction (SURVEY.md §2 row 10; IIR §4.3). Two
  * writers, and the only exchanges they add:
  *
  *  - [[invert]] — the batch path (IndexBuildJob S2, its legacy resume,
  *    Indexer.buildFromDocs): in-memory inversion of doc-range cells. It adds
  *    NO exchange of its own; the caller hands it rows already co-located
  *    per cell — the S1 docID-assignment partitions (zero extra exchanges),
  *    the legacy part-key exchange, or Indexer's equal-width range exchange
  *    (one corpus exchange each).
  *  - [[buildBlocks]] — the salted path (StreamingIngest, KeywordIndex): one
  *    exchange of TF rows keyed by (term, salt), then the run encoder
  *    [[Blocks.encodeRuns]].
  *
  * Both feed the one postings sink (Catalog.writePostings), whose bucket
  * exchange of the compressed blocks is the one more exchange every write
  * pays: it lands each bucket in one task, so a write adds one file per
  * bucket.
  *
  * Either way a term's runs cover disjoint ascending docID ranges — the
  * WAND/merge invariant — and heavy terms cross any later stage
  * pre-compressed.
  */
object Spimi {

  /** The salted path: one shuffle keyed by (term, run_id), partition-local
    * sort on (term, run_id, doc_id), then the streaming O(block)-memory run
    * encoder.
    */
  def buildBlocks(
      salted: Dataset[RunPosting],
      avgdl: Double,
      buckets: Int,
      numPartitions: Int): Dataset[PostingBlock] = {
    import salted.sparkSession.implicits._
    salted
      .repartition(numPartitions, $"term", $"run_id")
      .sortWithinPartitions($"term", $"run_id", $"doc_id")
      .mapPartitions(rows => Blocks.encodeRuns(rows, avgdl, buckets))
  }

  /** Part-aligned SPIMI cell boundaries: each docID-assignment part
    * [offsets(p), offsets(p+1)) is sub-divided into ≥2 equal-width cells of
    * ≤ `targetRun` docs. Cells never cross a part boundary, so every cell is
    * wholly contained — and contiguous, key-sorted — inside one partition of
    * the post-assignment exchange ([[DocIds.assignWithStatsOffsets]]) and
    * so inside one corpus_sorted file: [[invert]] runs on those partitions
    * with NO second corpus exchange. Pure driver arithmetic over the P-entry
    * offsets array — content-determined, so resumed builds re-derive
    * identical cells.
    */
  def cellStarts(offsets: Array[Long], targetRun: Long): Array[Long] = {
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    var p = 0
    while (p + 1 < offsets.length) {
      val start = offsets(p)
      val span = offsets(p + 1) - start
      if (span > 0) {
        val nc = math.min(span, math.max(2L, (span + targetRun - 1) / targetRun))
        val w = (span + nc - 1) / nc
        var s = start
        while (s < offsets(p + 1)) { out += s; s += w }
      }
      p += 1
    }
    out.toArray
  }

  /** The one text inverter. Cell i is the docID range
    * [starts(i), starts(i+1)); its run_id is i, so a term's runs cover
    * disjoint ascending docID ranges however the rows are partitioned.
    * Each cell is inverted in memory (classic SPIMI: a per-cell term →
    * postings map flushed as sorted compressed runs) — memory is one cell's
    * postings, and the work is skew-free: the cell key is a doc range,
    * never the term, so head terms simply appear in every cell.
    *
    * Precondition: `rows` (doc_id, text) holds each cell's rows contiguous
    * in one partition, in ascending docID order. Partitions may hold many
    * cells in any order — the cell pointer advances monotonically and a
    * jump re-seats it by binary search.
    */
  def invert(
      rows: DataFrame,
      starts: Array[Long],
      avgdl: Double,
      buckets: Int,
      analyzer: String = "standard",
      synonyms: Map[String, String] = Map.empty): Dataset[PostingBlock] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(starts)
    rows.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val cs = bc.value
        var cur = 0
        val cells = it.map { case (doc, text) =>
          val in = cur < cs.length && doc >= cs(cur) &&
            (cur + 1 >= cs.length || doc < cs(cur + 1))
          if (!in) {
            val i = java.util.Arrays.binarySearch(cs, doc)
            cur = if (i >= 0) i else -i - 2
          }
          (cur, doc, text)
        }
        new GridSpimiIterator(cells, avgdl, buckets, analyzer, synonyms)
      }
  }

  /** Growable per-term posting buffer for one grid cell. */
  private final class PostingBuf {
    var docs = new Array[Long](8)
    var tfs = new Array[Int](8)
    var dls = new Array[Int](8)
    var n = 0
    def add(doc: Long, tf: Int, dl: Int): Unit = {
      if (n == docs.length) {
        docs = java.util.Arrays.copyOf(docs, n * 2)
        tfs = java.util.Arrays.copyOf(tfs, n * 2)
        dls = java.util.Arrays.copyOf(dls, n * 2)
      }
      docs(n) = doc; tfs(n) = tf; dls(n) = dl; n += 1
    }
    def iterator: Iterator[(Long, Int, Int)] =
      (0 until n).iterator.map(i => (docs(i), tfs(i), dls(i)))
  }

  private final class GridSpimiIterator(
      rows: Iterator[(Int, Long, String)],
      avgdl: Double,
      buckets: Int,
      analyzer: String,
      synonyms: Map[String, String]) extends Iterator[PostingBlock] {

    private val pending = new java.util.ArrayDeque[PostingBlock]()
    private val inv = new java.util.HashMap[String, PostingBuf]()
    private var curGrid = Int.MinValue
    private var open = false

    private def flushGrid(): Unit = {
      if (!inv.isEmpty) {
        val terms = inv.keySet().toArray(new Array[String](inv.size()))
        java.util.Arrays.sort(terms.asInstanceOf[Array[AnyRef]])
        var i = 0
        while (i < terms.length) {
          val t = terms(i)
          Blocks.build(t, curGrid, inv.get(t).iterator, avgdl, buckets)
            .foreach(pending.add)
          i += 1
        }
        inv.clear()
      }
    }

    private def ingest(doc: Long, text: String): Unit = {
      val toks = graft.core.Analyzer.analyze(text, analyzer, synonyms)
      if (toks.nonEmpty) {
        java.util.Arrays.sort(toks.asInstanceOf[Array[AnyRef]])
        val dl = toks.length
        var i = 0
        while (i < dl) {
          var j = i + 1
          while (j < dl && toks(j) == toks(i)) j += 1
          var buf = inv.get(toks(i))
          if (buf == null) { buf = new PostingBuf; inv.put(toks(i), buf) }
          buf.add(doc, j - i, dl)
          i = j
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
      if (pending.isEmpty && !rows.hasNext && open) {
        flushGrid()
        open = false
      }
    }

    override def hasNext: Boolean = { fill(); !pending.isEmpty }
    override def next(): PostingBlock = { fill(); pending.poll() }
  }
}
