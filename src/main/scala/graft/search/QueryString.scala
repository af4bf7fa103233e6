package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Analyzer
import graft.index.{Indexer, PositionalIndex}

/** ES `simple_query_string` — the user-facing mini query language. Supported
  * subset (the operators real users hit, per the public ES syntax):
  *
  *  - bare word        → scored term should-clause
  *  - `"a b"`          → phrase clause (match_phrase scoring: pseudo-term
  *                       with phrase-frequency tf and phrase df)
  *  - `word*`          → prefix clause, `scoring_boolean` rewrite
  *                       (dictionary expansion, each expansion its own idf)
  *  - `-word`          → must_not (unscored exclusion filter)
  *
  * Default operator OR; a doc's score is the sum of its matching positive
  * clauses; clauses that analyze to nothing are dropped (the ES leniency
  * rule — same guard as SearchEngine.mustNotDocs). Not supported (rarely
  * hit, documented): `|`/`+` explicit operators (OR is the default anyway),
  * parentheses, `~N` fuzziness, negated phrases.
  *
  * Plan: after the prefix rewrite everything is a term or phrase clause.
  * Term clauses score over their postings only (bucket-pruned, term
  * pushdown — [[SearchEngine.scoreAllDocs]]); the phrase clause scores over
  * the positional index's candidate intersection, also term-pruned. The
  * clause frames are summed per doc BEFORE any truncation (a doc can reach
  * the top-k through either clause family), then one TakeOrdered. Cross-
  * clause WAND pruning would need phrase block-max bounds (min of member
  * bounds) folded into the pivot walk; the pruned-exhaustive sum is exact
  * without them and touches only query-term postings — the same cost family
  * as synonyms/cross_fields, corpus-size-independent.
  */
object QueryString {

  final case class Parsed(terms: Seq[String], phrases: Seq[Seq[String]],
      prefixes: Seq[String], mustNot: Seq[String])

  private val TokenRx = """"([^"]*)"|(\S+)""".r

  def parse(q: String): Parsed = {
    var terms = Vector.empty[String]
    var phrases = Vector.empty[Seq[String]]
    var prefixes = Vector.empty[String]
    var mustNot = Vector.empty[String]
    TokenRx.findAllMatchIn(q).foreach { m =>
      if (m.group(1) != null) {
        val ph = Analyzer.tokenize(m.group(1))
        if (ph.nonEmpty) phrases :+= ph.toSeq
      } else m.group(2) match {
        case raw if raw.startsWith("-") =>
          mustNot ++= Analyzer.tokenize(raw.drop(1))
        case raw if raw.endsWith("*") && raw.length > 1 =>
          val analyzed = Analyzer.tokenize(raw.dropRight(1))
          if (analyzed.nonEmpty) prefixes :+= analyzed.last
        case raw =>
          terms ++= Analyzer.tokenize(raw)
      }
    }
    Parsed(terms.distinct, phrases, prefixes.distinct, mustNot.distinct)
  }

  /** Execute a simple_query_string over the text index (term/prefix/
    * must_not clauses) + positional index (phrase clauses); both indexes
    * are over the same corpus, so their BM25 stats agree.
    */
  def simpleQueryString(spark: SparkSession, textRoot: String,
      posRoot: String, q: String, k: Int,
      maxExpansions: Int = 50): DataFrame = {
    import spark.implicits._
    val p = parse(q)
    val expansions = p.prefixes.flatMap(
      TermQueries.prefixExpansions(spark, textRoot, _, maxExpansions))
    val scoredTerms = (p.terms ++ expansions).distinct

    val posBuckets =
      if (p.phrases.isEmpty) 0 else Indexer.readMeta(spark, posRoot).buckets
    val clauseFrames: Seq[DataFrame] =
      (if (scoredTerms.nonEmpty)
        Seq(SearchEngine.scoreAllDocs(spark, textRoot, scoredTerms)
          .select($"doc_id", $"score"))
      else Nil) ++
        p.phrases.map(ph =>
          PositionalIndex.phraseScores(spark, posRoot, ph, posBuckets)
            .select($"doc_id", $"score"))
    if (clauseFrames.isEmpty) return SearchEngine.rounded(SearchEngine.emptyHits(spark))

    val summed = clauseFrames.reduce(_.unionByName(_))
      .groupBy($"doc_id")
      .agg(sum($"score").as("score"))
    val filtered =
      if (p.mustNot.isEmpty) summed
      else summed.join(
        Booleans.or(spark, textRoot, p.mustNot),
        Seq("doc_id"), "left_anti")
    filtered
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(k)
      .transform(SearchEngine.rounded)
  }
}
