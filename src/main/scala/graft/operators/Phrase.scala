package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Analyzer
import graft.io.Catalog

/** Phrase (positional) matching — the `match_phrase` analog (SURVEY.md §2
  * row 25): docs where the phrase's tokens appear at consecutive positions.
  *
  * Relational form: positional token table (doc_id, pos, term) filtered to
  * the phrase's terms, then a chain of self-joins on `pos + i`. Catalyst
  * plans the position joins as broadcast/sort-merge equi-joins; the
  * pre-filter keeps only the phrase terms' rows so the joins touch a tiny
  * fraction of the corpus. (An index-side variant would add a positions
  * VByte stream per posting — same information, same join shape.)
  */
object Phrase {

  def phraseMatch(spark: SparkSession, sfDir: String, phrase: Seq[String]): DataFrame = {
    import spark.implicits._
    val terms = phrase.flatMap(Analyzer.tokenize(_))
    require(terms.nonEmpty, "empty phrase")
    val pos = Catalog.ensureParallelism(Catalog.readTable(spark, sfDir, "documents"))
      .select($"doc_id", posexplode(Analyzer.tokensCol($"text")).as(Seq("pos", "term")))
      .filter($"term".isin(terms.distinct: _*))

    val first = pos.filter($"term" === terms.head)
      .select($"doc_id", $"pos".as("p0"))
    val matched = terms.zipWithIndex.drop(1).foldLeft(first) { case (acc, (t, i)) =>
      val next = pos.filter($"term" === t)
        .select($"doc_id", ($"pos" - i).as("p0"))
      acc.join(next, Seq("doc_id", "p0"), "left_semi")
    }
    matched.select($"doc_id").distinct().orderBy($"doc_id")
  }

  /** Relational twin of the scored `match_phrase`
    * (index.PositionalIndex.phraseTopK): BM25 with tf = count of
    * consecutive-position match starts, df = docs containing the phrase.
    * No index — pure Column DSL; the shadow/oracle for the index path.
    */
  def phraseTopKBrute(spark: SparkSession, sfDir: String, phrase: Seq[String],
      k: Int): DataFrame = {
    import spark.implicits._
    val terms = phrase.flatMap(Analyzer.tokenize(_))
    require(terms.nonEmpty, "empty phrase")
    val toksDf = Catalog.readTable(spark, sfDir, "documents")
      .select($"doc_id", Analyzer.tokensCol($"text").as("t"))
    val pos = toksDf.select($"doc_id", posexplode($"t").as(Seq("pos", "term")))
      .filter($"term".isin(terms.distinct: _*))
    val first = pos.filter($"term" === terms.head).select($"doc_id", $"pos".as("p0"))
    val matched = terms.zipWithIndex.drop(1).foldLeft(first) { case (acc, (t, i)) =>
      val next = pos.filter($"term" === t).select($"doc_id", ($"pos" - i).as("p0"))
      acc.join(next, Seq("doc_id", "p0"), "left_semi")
    }
    val starts = matched.groupBy($"doc_id").agg(count(lit(1)).as("ptf"))
    val dls = toksDf.select($"doc_id", size($"t").as("dl"))
    val stats = dls.agg(count(lit(1)).cast("double").as("n_docs"), avg($"dl").as("avgdl"))
    val dfp = starts.agg(count(lit(1)).as("dfp"))
    starts.join(dls, "doc_id")
      .crossJoin(broadcast(stats)).crossJoin(broadcast(dfp))
      .select($"doc_id",
        (log(lit(1.0) + ($"n_docs" - $"dfp" + lit(0.5)) / ($"dfp" + lit(0.5))) *
          ($"ptf" / ($"ptf" + lit(graft.core.Bm25.K1) *
            (lit(1.0 - graft.core.Bm25.B) + lit(graft.core.Bm25.B) * $"dl" / $"avgdl"))))
          .as("score"))
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(k)
      .transform(graft.search.SearchEngine.rounded)
  }
}
