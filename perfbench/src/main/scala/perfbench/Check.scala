package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.search.{BruteForce, SearchEngine}

object Stats {
  /** The median; NaN when empty. */
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) Double.NaN
    else (s((s.length - 1) / 2) + s(s.length / 2)) / 2
  }
}

/** Output checks: a ranking is a sequence of (doc_id, score) under
  * (score DESC, doc_id ASC).
  */
object Check {
  type Ranking = Array[(Long, Double)]

  val Tol = 1e-9

  /** Rank-identical with scores within `tol`. Docs whose reference scores
    * tie within `tol` may appear in any order inside the tied run; a run
    * cut by k must hold the same docs.
    */
  def sameRanking(got: Ranking, ref: Ranking, tol: Double = Tol): Boolean = {
    if (got.length != ref.length) return false
    var i = 0
    while (i < ref.length) {
      var j = i + 1
      while (j < ref.length && math.abs(ref(j)._2 - ref(i)._2) <= tol) j += 1
      val gs = got.slice(i, j)
      val rs = ref.slice(i, j)
      if (!gs.indices.forall(x => math.abs(gs(x)._2 - rs(x)._2) <= tol)) return false
      if (gs.map(_._1).toSet != rs.map(_._1).toSet) return false
      i = j
    }
    true
  }

  def rank(xs: Iterable[(Long, Double)]): Ranking =
    xs.toArray.sortBy { case (d, s) => (-s, d) }

  def rows(df: DataFrame): Ranking =
    df.collect().map(r => (r.getAs[Number]("doc_id").longValue, r.getAs[Number]("score").doubleValue))

  /** The reference answer of `q` from every matching doc's exact score:
    * keyword filters and excluded docs applied to the doc set, then the
    * op's page of ranks.
    */
  def cut(all: Ranking, q: Query, c: Corpus): Ranking = {
    val excluded = q.excluded.toSet
    rank(all).iterator
      .filter { case (d, _) => !excluded(d) && q.filters.forall(f => passes(f, d, c)) }
      .slice(q.skip, q.skip + q.k).toArray
  }

  private def passes(filter: String, doc: Long, c: Corpus): Boolean = {
    val conv = doc / c.turnsPerConv
    val ti = (doc % c.turnsPerConv).toInt
    filter.split(":", 2) match {
      case Array("role", v) => Gen.role(ti) == v
      case Array("tool", v) => Gen.tool(c.seed, conv, ti) == v
      case _ => throw new IllegalArgumentException(s"unknown filter $filter")
    }
  }

  /** Reference from the engine's exhaustive scorer: `topKExhaustive` for
    * queries without a doc-set shape; with filters or excluded docs, every
    * matching doc's exhaustive score cut on the driver.
    */
  def exhaustive(spark: SparkSession, root: String, q: Query, c: Corpus): Ranking =
    if (q.filters.isEmpty && q.excluded.isEmpty)
      rows(SearchEngine.topKExhaustive(spark, root, q.terms, q.skip + q.k)).drop(q.skip)
    else cut(rows(SearchEngine.scoreAllDocs(spark, root, q.terms)), q, c)

  /** Reference from the index-free brute-force scorer over `docs`. */
  def bruteForce(docs: DataFrame, q: Query, c: Corpus): Ranking =
    if (q.filters.isEmpty && q.excluded.isEmpty)
      rows(BruteForce.topK(docs, q.terms, q.skip + q.k)).drop(q.skip)
    else cut(rows(BruteForce.topK(docs, q.terms, Int.MaxValue)), q, c)
}
