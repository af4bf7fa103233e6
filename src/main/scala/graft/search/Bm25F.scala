package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Blocks, Bm25}
import graft.index.Indexer
import graft.io.Catalog
import graft.io.Catalog.IndexPaths

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
  *
  * Shape: each posting row's contribution to s(t,d) is row-local (its own
  * tf, its own field's dl and avgdl), so no cross-field join is needed —
  * the two pruned postings scans union and aggregate by (doc, term), then
  * by doc. An aggregation-class computation over the query terms' postings
  * (the cross-field saturation makes per-field WAND bounds non-trivial;
  * a bound-safe BM25F WAND is future work, as in the literature).
  */
object Bm25F {

  def topK(spark: SparkSession, textRoot: String, titleRoot: String,
      rawTerms: Seq[String], k: Int, wText: Double = 1.0, wTitle: Double = 3.0): DataFrame = {
    import spark.implicits._
    val terms = graft.core.QueryModel.analyzedTerms(rawTerms)
    if (terms.isEmpty)
      return SearchEngine.rounded(SearchEngine.emptyHits(spark))
    val sortedTerms = terms.sorted.toArray

    val txPaths = IndexPaths(textRoot)
    val txStats = Catalog.readCorpusStats(spark, txPaths)
    val tiStats = Catalog.readCorpusStats(spark, IndexPaths(titleRoot))
    val dfByTerm = Catalog.docFreqs(spark, txPaths, terms)
    val idfs = sortedTerms.map(t =>
      dfByTerm.get(t).map(df => Bm25.idf(txStats.n_docs, df)).getOrElse(0.0))
    val bcIdfs = spark.sparkContext.broadcast((sortedTerms, idfs))

    // one pruned scan per field; each row emits its field-normalized,
    // field-weighted pseudo-tf share — row-local, no join
    def fieldRows(root: String, w: Double, avgdl: Double) =
      SearchEngine.queryPostings(spark, IndexPaths(root), terms,
          Indexer.readMeta(spark, root).buckets)
        .flatMap { blk =>
          val (ts, _) = bcIdfs.value
          val ti = java.util.Arrays.binarySearch(ts.asInstanceOf[Array[AnyRef]], blk.term)
          if (ti < 0) Iterator.empty
          else {
            val d = Blocks.decode(blk)
            (0 until d.docs.length).iterator.map { i =>
              val bNorm = 1.0 - Bm25.B + Bm25.B * d.dls(i) / avgdl
              (d.docs(i), ti, w * d.tfs(i) / bNorm)
            }
          }
        }

    fieldRows(textRoot, wText, txStats.avgdl)
      .union(fieldRows(titleRoot, wTitle, tiStats.avgdl))
      .toDF("doc_id", "ti", "share")
      .groupBy($"doc_id", $"ti")
      .agg(sum($"share").as("s"))
      .as[(Long, Int, Double)]
      .groupByKey(_._1)
      .mapGroups { (doc, it) =>
        val (_, idfArr) = bcIdfs.value
        // fixed summation order over term index for bit-determinism
        val arr = it.toArray.sortBy(_._2)
        var score = 0.0
        var i = 0
        while (i < arr.length) {
          val s = arr(i)._3
          score += idfArr(arr(i)._2) * s / (Bm25.K1 + s)
          i += 1
        }
        (doc, score)
      }
      .toDF("doc_id", "score")
      .transform(graft.index.Deletes.filterLive(_, textRoot))
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(k)
      .transform(SearchEngine.rounded)
  }
}
