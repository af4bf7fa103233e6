package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Bm25
import graft.io.Catalog
import graft.io.Catalog.IndexPaths
import graft.search.SearchEngine.{Source, cut, exhaustive, rounded}

/** BM25F (Robertson & Zaragoza, "The Probabilistic Relevance Framework"):
  * the principled multi-field similarity — per-field term frequencies are
  * length-normalized, field-weighted, and SUMMED into one pseudo-tf BEFORE
  * the k1 saturation, unlike dis_max ([[SearchEngine.multiMatchTopK]])
  * which saturates per field and takes the max:
  *
  *   s(t,d) = Σ_f  w_f · tf_{t,f,d} / (1 − b + b · len_f(d)/avglen_f)
  *   score(d) = Σ_t  idf(t) · s(t,d) / (k1 + s(t,d))
  *
  * idf uses the document frequency of "t in any field"; with the title a
  * PREFIX subfield of text (first 8 tokens), that is exactly the text df.
  * Terms analyze like the text index.
  *
  * Shape: each posting's share of s(t,d) is row-local (its own tf, its own
  * field's dl and avgdl), so no cross-field join is needed — the
  * [[SearchEngine.exhaustive]] kernel over both fields' shard reads, one
  * cell per term holding the two field shares. An aggregation-class
  * computation over the query terms' postings (the cross-field saturation
  * makes per-field WAND bounds non-trivial; a bound-safe BM25F WAND is
  * future work, as in the literature).
  */
object Bm25F {

  def topK(spark: SparkSession, textRoot: String, titleRoot: String,
      rawTerms: Seq[String], k: Int, wText: Double = 1.0, wTitle: Double = 3.0): DataFrame = {
    val terms = SearchEngine.analyzeLikeIndex(spark, textRoot, rawTerms)
    if (terms.isEmpty)
      return rounded(SearchEngine.emptyHits(spark))

    val txPaths = IndexPaths(textRoot)
    val txStats = Catalog.readCorpusStats(spark, txPaths)
    val tiStats = Catalog.readCorpusStats(spark, IndexPaths(titleRoot))
    val dfByTerm = Catalog.docFreqs(spark, txPaths, terms)
    val idfs = terms.map(t =>
      dfByTerm.get(t).map(df => Bm25.idf(txStats.n_docs, df)).getOrElse(0.0)).toArray

    // a posting's field-normalized, field-weighted pseudo-tf share
    def field(root: String, w: Double, avgdl: Double) =
      Source(root, terms.zipWithIndex.toMap, (_, tf, dl) => {
        val bNorm = 1.0 - Bm25.B + Bm25.B * dl / avgdl
        w * tf / bNorm
      })

    val scored = exhaustive(spark, Seq(field(textRoot, wText, txStats.avgdl),
        field(titleRoot, wTitle, tiStats.avgdl))) { (_, s) =>
      var score = 0.0
      var i = 0
      while (i < s.length) {
        score += idfs(i) * s(i) / (Bm25.K1 + s(i))
        i += 1
      }
      score
    }
    rounded(cut(scored, k))
  }
}
