package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Analyzer

/** ES `intervals` query — the modern proximity surface (Lucene's
  * IntervalsSource algebra over MINIMAL intervals, Clarke & Cormack's GC-list
  * semantics): every source yields, per doc, the antichain of minimal
  * [start, end] token windows satisfying it, and combinators compose those
  * sets. Implemented sources:
  *
  *   - [[IMatch]]   — analyzed text; `ordered` and `max_gaps` as in ES
  *                    (gaps = interval width − term count; −1 = unlimited)
  *   - [[IAnyOf]]   — union of sub-sources' intervals, re-minimized
  *   - [[IAllOf]]   — one interval from each sub-source, non-overlapping
  *                    when `ordered`, `max_gaps` counting only the positions
  *                    BETWEEN consecutive sub-intervals (the ES contract)
  *
  * The sloppy-phrase family is expressed in these sources: ES `match_phrase`
  * with slop is `IMatch(phrase, maxGaps = slop, ordered = true)` (span
  * pn − p1 ≤ (n−1) + slop ⇔ width − n ≤ slop), Lucene `span_near` with
  * `in_order: false` is the same with `ordered = false` (distinct terms),
  * and `span_or` of exact phrases is an [[IAnyOf]] of `maxGaps = 0` ordered
  * matches.
  *
  * Evaluation is per doc in the one positional kernel every other
  * positional operator uses (PositionalIndex.perDoc): each docID shard's
  * task reads the expression's terms' positional blocks (bucket, term and
  * doc-range pushdown) and runs a purely local combinator walk over each of
  * its docs — O(Σ positions · sources) per doc, no row shuffled, output
  * only matching doc_ids. Filter context, like the span family ES builds on
  * the same machinery.
  */
object Intervals {

  sealed trait Source {
    /** All analyzed terms the source needs (scan pruning). */
    def terms: Seq[String]
  }

  /** `match` source: `text` is analyzed; `maxGaps` < 0 = unlimited. */
  final case class IMatch(text: String, maxGaps: Int = -1,
      ordered: Boolean = false) extends Source {
    val terms: Seq[String] = Analyzer.tokenize(text).toSeq
    require(terms.nonEmpty, "empty intervals match")
  }

  /** `any_of`: intervals of any sub-source. */
  final case class IAnyOf(sources: Seq[Source]) extends Source {
    require(sources.nonEmpty, "empty any_of")
    val terms: Seq[String] = sources.flatMap(_.terms)
  }

  /** `all_of`: one interval per sub-source; `ordered` forbids overlap and
    * fixes the order; `maxGaps` bounds the positions between consecutive
    * sub-intervals (< 0 = unlimited).
    */
  final case class IAllOf(sources: Seq[Source], maxGaps: Int = -1,
      ordered: Boolean = true) extends Source {
    require(sources.nonEmpty, "empty all_of")
    val terms: Seq[String] = sources.flatMap(_.terms)
  }

  /** Reduce an interval list to its minimal antichain: drop any interval
    * containing another. Sort by (start asc, end asc); sweep from the right
    * keeping intervals whose end is strictly below every kept end to their
    * right (equal starts keep the smaller end; a containing interval has
    * start ≤ and end ≥ some kept one).
    */
  private[index] def minimize(xs: Seq[(Int, Int)]): Array[(Int, Int)] = {
    // per start keep only the smallest end (equal-start containment), then
    // sweep right-to-left: with starts strictly ascending, interval i
    // contains some j > i iff end_i ≥ end_j — i is minimal iff its end is
    // strictly below every end to its right
    val sorted = xs.distinct.groupBy(_._1).iterator
      .map { case (s, g) => (s, g.map(_._2).min) }
      .toArray.sortBy(_._1)
    val keep = new Array[Boolean](sorted.length)
    var minEnd = Int.MaxValue
    var i = sorted.length - 1
    while (i >= 0) {
      if (sorted(i)._2 < minEnd) { keep(i) = true; minEnd = sorted(i)._2 }
      i -= 1
    }
    sorted.indices.collect { case j if keep(j) => sorted(j) }.toArray
  }

  /** Minimal intervals of `src` for one doc. `pos` maps term → ascending
    * positions (absent = term not in doc).
    */
  private[index] def eval(src: Source,
      pos: collection.Map[String, Array[Int]]): Array[(Int, Int)] = src match {
    case m: IMatch =>
      val lists = m.terms.map(t => pos.getOrElse(t, Array.emptyIntArray))
      if (lists.exists(_.isEmpty)) Array.empty
      else {
        val n = m.terms.length
        val raw =
          if (n == 1) lists.head.map(p => (p, p)).toSeq
          else if (m.ordered) {
            // greedy chain from each start: strictly increasing positions,
            // each next term at its smallest position > previous — minimal
            // end for that start
            val ptrs = new Array[Int](n)
            lists.head.iterator.flatMap { p0 =>
              var prev = p0
              var ok = true
              var t = 1
              while (ok && t < n) {
                val l = lists(t)
                var q = ptrs(t)
                while (q < l.length && l(q) <= prev) q += 1
                ptrs(t) = q // monotone: later starts never need earlier q
                if (q >= l.length) ok = false else prev = l(q)
                t += 1
              }
              if (ok) Some((p0, prev)) else None
            }.toSeq
          } else {
            // unordered: sliding window over the merged event stream; each
            // time coverage holds after maximal left-shrink, the window is
            // a minimal-window candidate (minimize() prunes the rest)
            val ev = lists.zipWithIndex
              .flatMap { case (l, ti) => l.map(p => (p, ti)) }
              .sortBy(_._1)
            val counts = new Array[Int](n)
            var covered = 0
            var lo = 0
            val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
            ev.foreach { case (p, t) =>
              if (counts(t) == 0) covered += 1
              counts(t) += 1
              while (covered == n && counts(ev(lo)._2) > 1) {
                counts(ev(lo)._2) -= 1
                lo += 1
              }
              if (covered == n) out += ((ev(lo)._1, p))
            }
            out.toSeq
          }
        val within =
          if (m.maxGaps < 0) raw
          else raw.filter { case (s, e) => (e - s + 1) - n <= m.maxGaps }
        minimize(within)
      }

    case IAnyOf(ss) =>
      minimize(ss.flatMap(s => eval(s, pos).toSeq))

    case a @ IAllOf(ss, maxGaps, ordered) =>
      val subs = ss.map(s => eval(s, pos))
      if (subs.exists(_.isEmpty)) Array.empty
      else if (ordered) {
        // chain one interval per source, in order, non-overlapping; greedy
        // smallest next start minimizes both the end and the gap sum over
        // each antichain (starts and ends co-sorted), so it finds a
        // qualifying chain iff one exists for the given head
        val ptrs = new Array[Int](subs.length)
        val raw = subs.head.iterator.flatMap { case (s0, e0) =>
          var prevEnd = e0
          var gaps = 0L
          var ok = true
          var i = 1
          while (ok && i < subs.length) {
            val l = subs(i)
            var q = ptrs(i)
            while (q < l.length && l(q)._1 <= prevEnd) q += 1
            ptrs(i) = q
            if (q >= l.length) ok = false
            else {
              gaps += l(q)._1 - prevEnd - 1
              prevEnd = l(q)._2
            }
            i += 1
          }
          if (ok && (maxGaps < 0 || gaps <= maxGaps)) Some((s0, prevEnd))
          else None
        }.toSeq
        minimize(raw)
      } else {
        // unordered all_of: any arrangement. Source count is query-sized
        // (ES queries carry 2–4 clauses), so trying every arrangement of
        // the ordered chain is exact and O(m!) with tiny m; the 24-perm cap
        // (m ≤ 4) is asserted rather than silently truncated.
        // DOCUMENTED DIVERGENCE (ADVICE r6): every permutation is evaluated
        // as a NON-OVERLAPPING ordered chain, while Lucene's
        // UnorderedIntervalsSource permits overlapping sub-intervals — a
        // doc whose only qualifying arrangement overlaps is a false
        // negative here vs ES. No shipped query takes this path; the
        // restriction is the contract until an overlap-allowing
        // combination is implemented.
        require(subs.length <= 4, "unordered all_of supports up to 4 sources")
        val raw = subs.permutations.flatMap { order =>
          eval(IAllOf(order.map(Lit(_)).toSeq, maxGaps, ordered = true), pos).toSeq
        }.toSeq
        minimize(raw)
      }

    case Lit(ivs) => ivs
  }

  /** Internal: pre-evaluated interval list (permutation helper). */
  private[index] final case class Lit(ivs: Array[(Int, Int)]) extends Source {
    val terms: Seq[String] = Nil
  }

  /** Filter-context evaluation: live doc_ids with ≥ 1 interval, ordered —
    * the [[PositionalIndex.docsWhere]] kernel with [[eval]] per doc. The
    * shard function carries the (query-sized) `src` tree itself.
    */
  def filterDocs(spark: SparkSession, root: String, src: Source,
      buckets: Int): DataFrame =
    PositionalIndex.docsWhere(spark, root, src.terms, buckets)(eval(src, _).nonEmpty)
}
