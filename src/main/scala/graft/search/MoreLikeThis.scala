package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Analyzer, Bm25}
import graft.io.Catalog
import graft.io.Catalog.IndexPaths

/** ES `more_like_this` over the inverted index.
  *
  * Term selection is the ES algorithm: analyze the seed document, keep terms
  * with tf ≥ minTermFreq and df ≥ minDocFreq, rank by tf·idf (idf from the
  * index dictionary — the background model), take the top `maxQueryTerms`
  * (ties on term, ascending — deterministic), then run the ordinary scored
  * disjunction (WAND) with those terms. The seed document itself is excluded
  * from the results, as ES excludes `like` input documents.
  *
  * Scale shape: the seed fetch is a single-doc point lookup; term selection
  * touches only the dictionary rows of the seed's distinct terms; the search
  * is the standard bucket-pruned WAND path. Nothing here scans the corpus.
  */
object MoreLikeThis {

  def topK(spark: SparkSession, root: String, sfDir: String, seedDoc: Long,
      k: Int, maxQueryTerms: Int = 25, minTermFreq: Int = 2,
      minDocFreq: Int = 5): DataFrame = {
    import spark.implicits._
    val paths = IndexPaths(root)

    // seed source: the sfDir documents table, or — when none is given — the
    // index's OWN numbered corpus (transcript builds write corpus_sorted),
    // so `--mode mlt` works on a bare index root
    val seedSrc =
      if (sfDir.nonEmpty) Catalog.readDocuments(spark, sfDir).toDF()
      else Catalog.readNumbered(spark, paths).toDF()
    val seedText = seedSrc
      .filter($"doc_id" === seedDoc)
      .select($"text").as[String].collect().headOption.getOrElse("")
    val tf = Analyzer.tokenize(seedText)
      .groupBy(identity).view.mapValues(_.size).toMap
      .filter(_._2 >= minTermFreq)
    if (tf.isEmpty) return SearchEngine.rounded(SearchEngine.emptyHits(spark))

    val stats = Catalog.readCorpusStats(spark, paths)
    val dfByTerm = Catalog.docFreqs(spark, paths, tf.keys.toSeq)
    val selected = tf.toSeq
      .flatMap { case (t, f) =>
        dfByTerm.get(t).filter(_ >= minDocFreq)
          .map(df => (t, f * Bm25.idf(stats.n_docs, df)))
      }
      .sortBy { case (t, w) => (-w, t) }
      .take(maxQueryTerms)
      .map(_._1)
    if (selected.isEmpty) return SearchEngine.rounded(SearchEngine.emptyHits(spark))

    // k+1 then drop the seed: removing one doc promotes at most one
    SearchEngine.topKWand(spark, root, selected, k + 1)
      .filter($"doc_id" =!= seedDoc)
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(k)
      .transform(SearchEngine.rounded)
  }
}
