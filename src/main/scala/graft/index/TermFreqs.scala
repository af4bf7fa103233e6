package graft.index

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Analyzer
import graft.model._

/** Per-turn tokenization + term-frequency extraction and corpus statistics
  * (SURVEY.md §2 rows 5–8). Typed Dataset transforms per the north star.
  */
object TermFreqs {

  /** One narrow pass: doc → per-term tf rows, dl carried on every row so the
    * SPIMI encoder can compute exact block-max tfNorm without a norms join.
    * No shuffle — tf is row-local.
    */
  def fromDocs(docs: Dataset[Doc]): Dataset[TermFreqRow] = {
    import docs.sparkSession.implicits._
    docs.flatMap { d =>
      val toks = Analyzer.tokenize(d.text)
      if (toks.isEmpty) Iterator.empty
      else {
        // sort + run-length count: no per-token hash entries or boxing —
        // the TF pass dominates build allocation rate at corpus scale
        java.util.Arrays.sort(toks.asInstanceOf[Array[AnyRef]])
        val dl = toks.length
        val docId = d.doc_id
        val out = new scala.collection.mutable.ArrayBuffer[TermFreqRow](math.min(dl, 48))
        var i = 0
        while (i < dl) {
          var j = i + 1
          while (j < dl && toks(j) == toks(i)) j += 1
          out += TermFreqRow(docId, toks(i), j - i, dl)
          i = j
        }
        out
      }
    }
  }

  /** (doc_id, dl) for every doc — including empty ones (dl = 0), which must
    * still count toward N and avgdl to match the oracle's semantics.
    */
  def docLengths(docs: Dataset[Doc],
      analyzer: String = "standard"): Dataset[(Long, Int)] = {
    import docs.sparkSession.implicits._
    docs.map(d => (d.doc_id, Analyzer.analyze(d.text, analyzer).length))
  }

  /** Whole-corpus stats — partial+final hash aggregation, 1-row result. */
  def corpusStats(docLengths: Dataset[(Long, Int)]): CorpusStats = {
    import docLengths.sparkSession.implicits._
    val row = docLengths.toDF("doc_id", "dl")
      .agg(count(lit(1)).as("n_docs"), sum($"dl").as("total_tokens"))
      .head()
    val n = row.getLong(0)
    val tot = if (row.isNullAt(1)) 0L else row.getLong(1)
    CorpusStats(n, tot, if (n == 0) 0.0 else tot.toDouble / n)
  }

  /** Per-term df/cf — map-side partial aggregation absorbs head-term skew
    * before the term-keyed shuffle.
    */
  def termStats(tf: Dataset[TermFreqRow]): Dataset[TermStat] = {
    import tf.sparkSession.implicits._
    tf.groupBy($"term")
      .agg(count(lit(1)).as("df"), sum($"tf").as("cf"))
      .as[TermStat]
  }
}
