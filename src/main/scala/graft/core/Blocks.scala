package graft.core

/** A block of one term's postings, ordered by its first docID: what a
  * shard read groups by term and orders ([[graft.io.PostingsScan]]).
  */
trait TermBlock {
  def term: String
  def first_doc: Long
}

/** One compressed posting block: ≤ [[Blocks.BlockSize]] postings of a single
  * (term, run) in ascending docID order (SURVEY.md §1.2).
  *
  * `doc_deltas_vb` = VByte(first, gaps…); `tfs_vb`/`dls_vb` = VByte streams
  * aligned with the docs. `dls_vb` (per-doc analyzed length) is carried in
  * the block so query-time scoring is exact without a norms join — a
  * deliberate deviation from a Lucene-style separate norms file: at
  * 10^12-turn scale a norms lookup would be a second shuffle on the query
  * path, while VByte'd dls cost ~1 byte/posting.
  *
  * `max_tf_norm` = max over the block of `tf/(tf + k1·(1−b+b·dl/avgdl))` —
  * the exact per-doc normalized-tf bound of Block-Max WAND (Ding & Suel,
  * SIGIR 2011), stored un-multiplied by idf so the query-time block upper
  * bound is `idf(term) · max_tf_norm` (exact-max ⇒ rank-safe skipping).
  *
  * `run_id` identifies the salted doc-range sub-run (SURVEY.md §2 row 9);
  * runs of one term cover disjoint ascending docID ranges, so query-time
  * traversal concatenates runs ordered by `first_doc` at zero cost.
  *
  * Encoded as a product Encoder (binary payload columns) — the "custom
  * Encoders for posting blocks" of the north star; written bucketed by
  * `bucket = hash(term) % B` for query-time partition pruning.
  */
final case class PostingBlock(
    term: String,
    bucket: Int,
    run_id: Int,
    block_idx: Int,
    first_doc: Long,
    last_doc: Long,
    n_docs: Int,
    max_tf: Int,
    min_dl: Int,
    sum_tf: Long,
    max_tf_norm: Double,
    doc_deltas_vb: Array[Byte],
    tfs_vb: Array[Byte],
    dls_vb: Array[Byte]) extends TermBlock

/** A decoded block: parallel arrays (docIDs ascending). */
final case class DecodedBlock(docs: Array[Long], tfs: Array[Int], dls: Array[Int])

/** One posting of one (term, run): the row the run encoder consumes. */
final case class RunPosting(term: String, run_id: Int, doc_id: Long, tf: Int, dl: Int)

object Blocks {
  val BlockSize = 128

  /** Stable term→bucket assignment. Uses the JLS-specified String.hashCode
    * (stable across JVMs) so the layout is reproducible.
    */
  def bucketOf(term: String, buckets: Int): Int =
    math.floorMod(term.hashCode, buckets)

  /** Mutable streaming accumulator for one (term, run): feed postings in
    * ascending docID order, collect emitted blocks. O(BlockSize) memory —
    * never materializes the whole posting list (SPIMI discipline, IIR §4.3).
    */
  private final class Accumulator(term: String, runId: Int, avgdl: Double, buckets: Int) {
    private val bucket = bucketOf(term, buckets)
    private var blockIdx = 0
    private var n = 0
    private var maxTf = 0
    private var minDl = Int.MaxValue
    private var sumTf = 0L
    private var maxTfNorm = 0.0
    private val docs = new Array[Long](BlockSize)
    private val tfs = new Array[Int](BlockSize)
    private val dls = new Array[Int](BlockSize)

    /** Add one posting; returns a completed block when one fills. */
    def add(doc: Long, tf: Int, dl: Int): Option[PostingBlock] = {
      docs(n) = doc; tfs(n) = tf; dls(n) = dl
      if (tf > maxTf) maxTf = tf
      if (dl < minDl) minDl = dl
      sumTf += tf
      val tn = Bm25.tfNorm(tf, dl.toLong, avgdl)
      if (tn > maxTfNorm) maxTfNorm = tn
      n += 1
      if (n == BlockSize) Some(emit()) else None
    }

    /** Emit any final partial block. */
    def flush(): Option[PostingBlock] = if (n > 0) Some(emit()) else None

    private def emit(): PostingBlock = {
      val b = PostingBlock(
        term = term, bucket = bucket, run_id = runId, block_idx = blockIdx,
        first_doc = docs(0), last_doc = docs(n - 1), n_docs = n,
        max_tf = maxTf, min_dl = minDl, sum_tf = sumTf, max_tf_norm = maxTfNorm,
        doc_deltas_vb = Codec.encodeDeltas(java.util.Arrays.copyOf(docs, n)),
        tfs_vb = Codec.encodeInts(java.util.Arrays.copyOf(tfs, n)),
        dls_vb = Codec.encodeInts(java.util.Arrays.copyOf(dls, n)))
      blockIdx += 1
      n = 0
      maxTf = 0
      minDl = Int.MaxValue
      sumTf = 0L
      maxTfNorm = 0.0
      b
    }
  }

  /** Build all blocks for one (term, run) from an ascending-docID iterator. */
  def build(
      term: String,
      runId: Int,
      postings: Iterator[(Long, Int, Int)], // (doc_id, tf, dl) ascending doc_id
      avgdl: Double,
      buckets: Int): Iterator[PostingBlock] = {
    val acc = new Accumulator(term, runId, avgdl, buckets)
    postings.flatMap { case (d, tf, dl) => acc.add(d, tf, dl) } ++ acc.flush()
  }

  /** The run encoder under every sorted-stream postings writer (the salted
    * SPIMI shuffle, compaction, both purge paths): `rows` sorted by
    * (term, run_id, doc_id); a group is cut at each change of (term,
    * run_id) and encoded through one [[Accumulator]]. Lazy — holds one
    * partial block and at most two finished ones.
    */
  def encodeRuns(rows: Iterator[RunPosting], avgdl: Double,
      buckets: Int): Iterator[PostingBlock] = new Iterator[PostingBlock] {
    private val pending = new java.util.ArrayDeque[PostingBlock](4)
    private var acc: Accumulator = _
    private var term: String = _
    private var run = 0

    private def fill(): Unit = {
      while (pending.isEmpty && rows.hasNext) {
        val r = rows.next()
        if (acc == null || r.run_id != run || r.term != term) {
          if (acc != null) acc.flush().foreach(pending.add)
          acc = new Accumulator(r.term, r.run_id, avgdl, buckets)
          term = r.term
          run = r.run_id
        }
        acc.add(r.doc_id, r.tf, r.dl).foreach(pending.add)
      }
      if (pending.isEmpty && acc != null) {
        acc.flush().foreach(pending.add)
        acc = null
      }
    }

    override def hasNext: Boolean = { fill(); !pending.isEmpty }
    override def next(): PostingBlock = { fill(); pending.poll() }
  }

  def decode(b: PostingBlock): DecodedBlock =
    DecodedBlock(
      Codec.decodeDeltas(b.doc_deltas_vb, b.n_docs),
      Codec.decodeInts(b.tfs_vb, b.n_docs),
      Codec.decodeInts(b.dls_vb, b.n_docs))
}
