package graft

/** DuckDB ANSI-SQL oracle builders (SparkEntry.oracleSql values).
  *
  * These must be semantically identical to the Spark implementations; the
  * driver replays them in DuckDB 1.0 over the same parquet tables and
  * compares results (SURVEY.md §5.1). The tokenizer expression is the
  * DuckDB twin of graft.core.Analyzer (validated rank+score-identical
  * pre-build, SURVEY.md §0.2).
  */
object OracleSql {

  /** DuckDB token-array expression over a text column — the single pinned
    * twin of graft.core.Analyzer (unicode parity notes there).
    */
  def toks(expr: String): String = graft.core.Analyzer.duckdbTokensExpr(expr)

  private def inList(terms: Seq[String]): String =
    terms.map(t => s"'$t'").mkString("(", ", ", ")")

  /** Full BM25 top-k CTE pipeline over `documents` (k1=1.2, b=0.75, Lucene
    * idf, ties (score DESC, doc_id ASC)); scores rounded to 4 decimals to be
    * hash-stable across engines. `boosts` multiplies a term's idf (the
    * engine's `term^w` weight semantics).
    */
  def bm25TopK(terms: Seq[String], k: Int, minMatch: Int = 1,
      offset: Int = 0, boosts: Map[String, Double] = Map.empty,
      docFilter: Option[String] = None,
      corpusFilter: Option[String] = None): String = {
    val t = terms.flatMap(graft.core.Analyzer.tokenize(_)).distinct.sorted
    val wt =
      if (boosts.isEmpty) ""
      else boosts.toSeq.sortBy(_._1)
        .map { case (term, w) => s"WHEN '$term' THEN $w" }
        .mkString(" * (CASE tf.term ", " ", " ELSE 1.0 END)")
    // corpusFilter shrinks the corpus itself (stats AND candidates) — the
    // post-purge index; docFilter excludes docs from the RESULT only, with
    // full-corpus stats — live soft-deletes / ES filter context
    val cw = corpusFilter.map(p => s" WHERE $p").getOrElse("")
    s"""WITH dls AS (
       |  SELECT doc_id, len(${toks("text")}) AS dl FROM documents$cw
       |), stats AS (
       |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls
       |), tok AS (
       |  SELECT doc_id, unnest(${toks("text")}) AS term FROM documents$cw
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok
       |  WHERE term IN ${inList(t)} GROUP BY doc_id, term
       |), dfs AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term
       |), contrib AS (
       |  SELECT tf.doc_id,
       |         ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))$wt *
       |         (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dls.dl / stats.avgdl))) AS c
       |  FROM tf
       |  JOIN dfs USING (term)
       |  JOIN dls USING (doc_id)
       |  CROSS JOIN stats
       |)
       |SELECT doc_id, round(sum(c), 4) AS score_r4
       |FROM contrib${docFilter.map(p =>
             s"\nWHERE doc_id IN (SELECT doc_id FROM documents WHERE $p)").getOrElse("")}
       |GROUP BY doc_id
       |HAVING count(*) >= $minMatch
       |ORDER BY sum(c) DESC, doc_id ASC LIMIT $k OFFSET $offset""".stripMargin
  }

  /** Index-time synonym contraction: every corpus/query token maps through
    * the CASE expression before tf/df — exactly what baking the map into
    * the analysis chain does (dl is unchanged: contraction preserves token
    * count).
    */
  def bm25SynonymsIndexed(rawTerms: Seq[String], k: Int,
      syn: Map[String, String]): String = {
    val mapped = rawTerms.flatMap(graft.core.Analyzer.tokenize(_))
      .map(t => syn.getOrElse(t, t)).distinct.sorted
    val whens = syn.toSeq.sorted
      .map { case (f, t) => s"WHEN '$f' THEN '$t'" }.mkString(" ")
    val mapExpr = s"(CASE w $whens ELSE w END)"
    s"""WITH dls AS (
       |  SELECT doc_id, len(${toks("text")}) AS dl FROM documents
       |), stats AS (
       |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls
       |), tok AS (
       |  SELECT doc_id, $mapExpr AS term
       |  FROM (SELECT doc_id, unnest(${toks("text")}) AS w FROM documents)
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok
       |  WHERE term IN ${inList(mapped)} GROUP BY doc_id, term
       |), dfs AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term
       |), contrib AS (
       |  SELECT tf.doc_id,
       |         ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
       |         (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dls.dl / stats.avgdl))) AS c
       |  FROM tf
       |  JOIN dfs USING (term)
       |  JOIN dls USING (doc_id)
       |  CROSS JOIN stats
       |)
       |SELECT doc_id, round(sum(c), 4) AS score_r4
       |FROM contrib
       |GROUP BY doc_id
       |ORDER BY sum(c) DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** Shared scaffold for function_score oracles: full-precision BM25 per
    * matching doc (the bm25TopK CTEs minus the final cut), joined to the
    * document metadata, with `finalExpr` (over `score` and `d.<field>`)
    * ranked and rounded exactly like the engine.
    */
  /** The shared per-doc BM25 CTE prefix: `WITH … scores(doc_id, score)` —
    * the sum over term contributions for every doc matching any query term.
    * Reused by function_score and the parent-join builders.
    */
  private def scoresCtePrefix(terms: Seq[String]): String = {
    val t = terms.flatMap(graft.core.Analyzer.tokenize(_)).distinct.sorted
    s"""WITH dls AS (
       |  SELECT doc_id, len(${toks("text")}) AS dl FROM documents
       |), stats AS (
       |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls
       |), tok AS (
       |  SELECT doc_id, unnest(${toks("text")}) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok
       |  WHERE term IN ${inList(t)} GROUP BY doc_id, term
       |), dfs AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term
       |), contrib AS (
       |  SELECT tf.doc_id,
       |         ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
       |         (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dls.dl / stats.avgdl))) AS c
       |  FROM tf
       |  JOIN dfs USING (term)
       |  JOIN dls USING (doc_id)
       |  CROSS JOIN stats
       |), scores AS (
       |  SELECT doc_id, sum(c) AS score FROM contrib GROUP BY doc_id
       |)""".stripMargin
  }

  private def functionScored(terms: Seq[String], k: Int,
      finalExpr: String): String =
    s"""${scoresCtePrefix(terms)}
       |SELECT s.doc_id, round($finalExpr, 4) AS fscore_r4
       |FROM scores s JOIN documents d USING (doc_id)
       |ORDER BY $finalExpr DESC, s.doc_id ASC LIMIT $k""".stripMargin

  /** ES field_value_factor (modifier applied AFTER factor, as ES). */
  def bm25Fvf(terms: Seq[String], k: Int, field: String, factor: Double,
      modifier: String, missing: Double, boostMode: String): String = {
    val v = s"coalesce(CAST(d.$field AS DOUBLE), $missing) * $factor"
    val fn = modifier match {
      case "none" => v
      case "log" => s"log10($v)"
      case "log1p" => s"log10($v + 1.0)"
      case "log2p" => s"log10($v + 2.0)"
      case "ln" => s"ln($v)"
      case "ln1p" => s"ln($v + 1.0)"
      case "ln2p" => s"ln($v + 2.0)"
      case "square" => s"($v) * ($v)"
      case "sqrt" => s"sqrt($v)"
      case "reciprocal" => s"1.0 / ($v)"
      case m => throw new IllegalArgumentException(s"unknown modifier: $m")
    }
    val fin = boostMode match {
      case "multiply" => s"s.score * ($fn)"
      case "sum" => s"s.score + ($fn)"
      case m => throw new IllegalArgumentException(s"unknown boost_mode: $m")
    }
    functionScored(terms, k, fin)
  }

  /** ES decay (gauss/exp/linear) on a numeric field; shape constants are
    * computed in Scala and embedded at full double round-trip precision so
    * both engines evaluate the identical arithmetic.
    */
  def bm25Decay(terms: Seq[String], k: Int, field: String, origin: Double,
      scale: Double, offset: Double, decayAt: Double, fn: String,
      boostMode: String): String = {
    val x = s"greatest(0.0, abs(CAST(d.$field AS DOUBLE) - $origin) - $offset)"
    val dExpr = fn match {
      case "gauss" =>
        val sigma2 = -scale * scale / (2.0 * math.log(decayAt))
        s"exp(-(($x) * ($x)) / ${2.0 * sigma2})"
      case "exp" => s"exp(${math.log(decayAt) / scale} * ($x))"
      case "linear" =>
        val sc = scale / (1.0 - decayAt)
        s"greatest(0.0, ($sc - ($x)) / $sc)"
      case f => throw new IllegalArgumentException(s"unknown decay fn: $f")
    }
    val fin = boostMode match {
      case "multiply" => s"s.score * ($dExpr)"
      case "sum" => s"s.score + ($dExpr)"
      case m => throw new IllegalArgumentException(s"unknown boost_mode: $m")
    }
    functionScored(terms, k, fin)
  }

  /** BM25 over the `english` analysis chain (stopwords + Porter stemming).
    * DuckDB has no Porter, so the analysis is table-driven: `vocab` is the
    * engine-recorded (word, is_stop, stem) triple for EVERY distinct raw
    * token in the corpus (the token_counts_bpe generated-oracle pattern —
    * recorded while the query runs, read by oracleSql afterwards). The SQL
    * then mirrors bm25TopK CTE-for-CTE with term = stem and dl = post-stop
    * token count (which is exactly the dl the english index stores).
    */
  def bm25English(rawTerms: Seq[String], k: Int,
      vocab: Seq[(String, Boolean, String)]): String = {
    val qTerms = rawTerms.flatMap(graft.core.Analyzer.analyze(_, "english"))
      .distinct.sorted
    def esc(s: String) = s.replace("'", "''")
    val values = vocab
      .map { case (w, stop, st) => s"('${esc(w)}', $stop, '${esc(st)}')" }
      .mkString(", ")
    s"""WITH stems AS (
       |  SELECT * FROM (VALUES $values) AS v(word, is_stop, stem)
       |), tok AS (
       |  SELECT doc_id, unnest(${toks("text")}) AS word FROM documents
       |), an AS (
       |  SELECT tok.doc_id, stems.stem AS term
       |  FROM tok JOIN stems ON tok.word = stems.word
       |  WHERE NOT stems.is_stop
       |), dls AS (
       |  SELECT d.doc_id, coalesce(a.dl, 0) AS dl FROM documents d
       |  LEFT JOIN (SELECT doc_id, count(*) AS dl FROM an GROUP BY doc_id) a
       |    USING (doc_id)
       |), stats AS (
       |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM an
       |  WHERE term IN ${inList(qTerms)} GROUP BY doc_id, term
       |), dfs AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term
       |), contrib AS (
       |  SELECT tf.doc_id,
       |         ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
       |         (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dls.dl / stats.avgdl))) AS c
       |  FROM tf
       |  JOIN dfs USING (term)
       |  JOIN dls USING (doc_id)
       |  CROSS JOIN stats
       |)
       |SELECT doc_id, round(sum(c), 4) AS score_r4
       |FROM contrib
       |GROUP BY doc_id
       |ORDER BY sum(c) DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** Top-k hydrated with document metadata (the decode + hydration join,
    * SURVEY.md §2 row 18).
    */
  def bm25TopKHydrated(terms: Seq[String], k: Int): String =
    s"""SELECT t.doc_id, t.score_r4, d.source, d.n_chars
       |FROM (${bm25TopK(terms, k)}) t
       |JOIN documents d USING (doc_id)
       |ORDER BY t.score_r4 DESC, t.doc_id""".stripMargin

  /** ES `more_like_this` twin (semantics pinned in search/MoreLikeThis.scala):
    * seed-doc terms with tf ≥ minTf and df ≥ minDf ranked by tf·idf, top
    * maxTerms become a BM25 disjunction; seed excluded from results.
    */
  def moreLikeThis(seedDoc: Long, k: Int, maxTerms: Int,
      minTf: Int, minDf: Int): String = {
    val idf = "ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))"
    s"""WITH dls AS (
       |  SELECT doc_id, len(${toks("text")}) AS dl FROM documents
       |), stats AS (
       |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls
       |), tok AS (
       |  SELECT doc_id, unnest(${toks("text")}) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
       |), dfs AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term
       |), qterms AS (
       |  SELECT s.term, $idf AS idf
       |  FROM (SELECT term, tf FROM tf WHERE doc_id = $seedDoc AND tf >= $minTf) s
       |  JOIN dfs USING (term) CROSS JOIN stats
       |  WHERE dfs.df >= $minDf
       |  ORDER BY s.tf * $idf DESC, s.term ASC LIMIT $maxTerms
       |), contrib AS (
       |  SELECT tf.doc_id,
       |         q.idf *
       |         (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dls.dl / stats.avgdl))) AS c
       |  FROM tf JOIN qterms q USING (term) JOIN dls USING (doc_id) CROSS JOIN stats
       |)
       |SELECT doc_id, round(sum(c), 4) AS score_r4
       |FROM contrib WHERE doc_id <> $seedDoc
       |GROUP BY doc_id
       |ORDER BY sum(c) DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** ES wildcard twin: docs containing any indexed term matching the
    * translated pattern (same `*`/`?` translation as TermQueries.wildcard).
    */
  def wildcardDocs(pattern: String, maxExpansions: Int = 1000): String = {
    val rx = pattern.map {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()<>+-=!$^|".contains(c) => "\\" + c
      case c => c.toString
    }.mkString("^", "", "$")
    // vocabulary expansion capped term-ordered, exactly like the engine
    // (TermQueries.wildcard maxExpansions) — uncapped, the two sides would
    // diverge the day a pattern matches > maxExpansions dictionary terms
    s"""WITH tok AS (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents),
       |vocab AS (SELECT DISTINCT term FROM tok),
       |exp AS (SELECT term FROM vocab WHERE regexp_matches(term, '$rx')
       |        ORDER BY term LIMIT $maxExpansions)
       |SELECT DISTINCT doc_id FROM tok JOIN exp USING (term) ORDER BY doc_id""".stripMargin
  }

  /** Ordered sloppy-phrase twin (semantics pinned in index/Intervals, an
    * ordered IMatch with max_gaps = slop): an increasing position chain,
    * one position per phrase term in order, span ≤ (n−1)+slop.
    */
  def phraseMatchSloppy(phrase: Seq[String], slop: Int): String = {
    val terms = phrase.flatMap(graft.core.Analyzer.tokenize(_))
    val maxSpan = (terms.length - 1) + slop
    val joins = terms.zipWithIndex.drop(1).map { case (t, i) =>
      s"JOIN pos p$i ON p$i.doc_id = p0.doc_id AND p$i.pos > p${i - 1}.pos AND p$i.term = '$t'"
    }.mkString("\n")
    s"""WITH pos AS (
       |  SELECT doc_id, u.pos AS pos, u.term AS term FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(t) + 1),
       |             i -> {'pos': i, 'term': t[i]})) AS u
       |    FROM ($toksrc)))
       |SELECT DISTINCT p0.doc_id AS doc_id
       |FROM pos p0
       |$joins
       |WHERE p0.term = '${terms.head}'
       |  AND p${terms.length - 1}.pos - p0.pos <= $maxSpan
       |ORDER BY doc_id""".stripMargin
  }

  /** ES multi_match (best_fields) twin: per-field BM25 with per-field stats
    * — title = the first 8 analyzed tokens — combined per doc as
    * max(text, boost·title). Exact (no window): the engine's union-of-
    * windows candidates must reproduce this, which is the pinned exactness
    * claim (SearchEngine.multiMatchTopK).
    */
  def multiMatchTopK(terms: Seq[String], k: Int, titleBoost: Double,
      tieBreaker: Double = 0.0): String = {
    val t = terms.flatMap(graft.core.Analyzer.tokenize(_)).distinct.sorted
    def fieldScores(alias: String, toksExpr: String) =
      s"""${alias}_dls AS (
         |  SELECT doc_id, len($toksExpr) AS dl FROM documents
         |), ${alias}_stats AS (
         |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ${alias}_dls
         |), ${alias}_tf AS (
         |  SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($toksExpr) AS term FROM documents)
         |  WHERE term IN ${inList(t)} GROUP BY doc_id, term
         |), ${alias}_dfs AS (
         |  SELECT term, count(*) AS df FROM ${alias}_tf GROUP BY term
         |), ${alias}_s AS (
         |  SELECT tf.doc_id, sum(
         |    ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
         |    (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dls.dl / s.avgdl)))) AS score
         |  FROM ${alias}_tf tf
         |  JOIN ${alias}_dfs d USING (term)
         |  JOIN ${alias}_dls dls USING (doc_id)
         |  CROSS JOIN ${alias}_stats s
         |  GROUP BY tf.doc_id
         |)""".stripMargin
    s"""WITH ${fieldScores("tx", toks("text"))},
       |${fieldScores("ti", s"list_slice(${toks("text")}, 1, 8)")}
       |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       |       round(greatest(coalesce(a.score, 0), coalesce($titleBoost * b.score, 0))
       |             + $tieBreaker * least(coalesce(a.score, 0), coalesce($titleBoost * b.score, 0)), 4) AS score_r4
       |FROM tx_s a FULL OUTER JOIN ti_s b ON a.doc_id = b.doc_id
       |ORDER BY greatest(coalesce(a.score, 0), coalesce($titleBoost * b.score, 0))
       |         + $tieBreaker * least(coalesce(a.score, 0), coalesce($titleBoost * b.score, 0)) DESC,
       |         coalesce(a.doc_id, b.doc_id) ASC
       |LIMIT $k""".stripMargin
  }

  /** multi_match `most_fields` twin: SUM of the per-field BM25 scores
    * (each field's own stats), title boosted.
    */
  def mostFieldsTopK(terms: Seq[String], k: Int, titleBoost: Double): String = {
    val t = terms.flatMap(graft.core.Analyzer.tokenize(_)).distinct.sorted
    def fieldScores(alias: String, toksExpr: String) =
      s"""${alias}_dls AS (
         |  SELECT doc_id, len($toksExpr) AS dl FROM documents
         |), ${alias}_stats AS (
         |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ${alias}_dls
         |), ${alias}_tf AS (
         |  SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($toksExpr) AS term FROM documents)
         |  WHERE term IN ${inList(t)} GROUP BY doc_id, term
         |), ${alias}_dfs AS (
         |  SELECT term, count(*) AS df FROM ${alias}_tf GROUP BY term
         |), ${alias}_s AS (
         |  SELECT tf.doc_id, sum(
         |    ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
         |    (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dls.dl / s.avgdl)))) AS score
         |  FROM ${alias}_tf tf
         |  JOIN ${alias}_dfs d USING (term)
         |  JOIN ${alias}_dls dls USING (doc_id)
         |  CROSS JOIN ${alias}_stats s
         |  GROUP BY tf.doc_id
         |)""".stripMargin
    s"""WITH ${fieldScores("tx", toks("text"))},
       |${fieldScores("ti", s"list_slice(${toks("text")}, 1, 8)")}
       |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       |       round(coalesce(a.score, 0) + $titleBoost * coalesce(b.score, 0), 4) AS score_r4
       |FROM tx_s a FULL OUTER JOIN ti_s b ON a.doc_id = b.doc_id
       |ORDER BY coalesce(a.score, 0) + $titleBoost * coalesce(b.score, 0) DESC,
       |         coalesce(a.doc_id, b.doc_id) ASC
       |LIMIT $k""".stripMargin
  }

  /** multi_match `cross_fields` twin (BlendedTermQuery): per-term idf from
    * the MAX per-field df (shared N = text corpus size), per-term dis_max
    * (+ tie_breaker) over the fields' idf_blend · tfNorm_field, summed.
    */
  def crossFieldsTopK(terms: Seq[String], k: Int, tieBreaker: Double): String = {
    val t = terms.flatMap(graft.core.Analyzer.tokenize(_)).distinct.sorted
    def fieldTf(alias: String, toksExpr: String) =
      s"""${alias}_dls AS (
         |  SELECT doc_id, len($toksExpr) AS dl FROM documents
         |), ${alias}_stats AS (
         |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ${alias}_dls
         |), ${alias}_tf AS (
         |  SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($toksExpr) AS term FROM documents)
         |  WHERE term IN ${inList(t)} GROUP BY doc_id, term
         |), ${alias}_dfs AS (
         |  SELECT term, count(*) AS df FROM ${alias}_tf GROUP BY term
         |)""".stripMargin
    s"""WITH ${fieldTf("tx", toks("text"))},
       |${fieldTf("ti", s"list_slice(${toks("text")}, 1, 8)")},
       |bdf AS (
       |  SELECT coalesce(a.term, b.term) AS term,
       |         greatest(coalesce(a.df, 0), coalesce(b.df, 0)) AS df
       |  FROM tx_dfs a FULL OUTER JOIN ti_dfs b ON a.term = b.term
       |), c_tx AS (
       |  SELECT tf.doc_id, tf.term,
       |         ln(1 + (s.n_docs - bdf.df + 0.5) / (bdf.df + 0.5)) *
       |         (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dls.dl / s.avgdl))) AS sc
       |  FROM tx_tf tf JOIN bdf USING (term)
       |  JOIN tx_dls dls USING (doc_id) CROSS JOIN tx_stats s
       |), c_ti AS (
       |  SELECT tf.doc_id, tf.term,
       |         ln(1 + (s.n_docs - bdf.df + 0.5) / (bdf.df + 0.5)) *
       |         (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dls.dl / ts.avgdl))) AS sc
       |  FROM ti_tf tf JOIN bdf USING (term)
       |  JOIN ti_dls dls USING (doc_id) CROSS JOIN ti_stats ts CROSS JOIN tx_stats s
       |), per_term AS (
       |  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       |         greatest(coalesce(a.sc, 0), coalesce(b.sc, 0))
       |         + $tieBreaker * least(coalesce(a.sc, 0), coalesce(b.sc, 0)) AS sc
       |  FROM c_tx a FULL OUTER JOIN c_ti b
       |    ON a.doc_id = b.doc_id AND a.term = b.term
       |)
       |SELECT doc_id, round(sum(sc), 4) AS score_r4
       |FROM per_term GROUP BY doc_id
       |ORDER BY sum(sc) DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** BM25F twin (semantics pinned in search/Bm25F.scala): field-weighted,
    * per-field length-normalized tf summed BEFORE k1 saturation; idf = text
    * df (title is a prefix subfield, so any-field df == text df).
    */
  def bm25fTopK(terms: Seq[String], k: Int, wText: Double, wTitle: Double): String = {
    val t = terms.flatMap(graft.core.Analyzer.tokenize(_)).distinct.sorted
    s"""WITH tx_dls AS (
       |  SELECT doc_id, len(${toks("text")}) AS dl FROM documents
       |), tx_stats AS (
       |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM tx_dls
       |), ti_dls AS (
       |  SELECT doc_id, len(list_slice(${toks("text")}, 1, 8)) AS dl FROM documents
       |), ti_stats AS (
       |  SELECT avg(dl) AS avgdl FROM ti_dls
       |), tx_tf AS (
       |  SELECT doc_id, term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents)
       |  WHERE term IN ${inList(t)} GROUP BY doc_id, term
       |), ti_tf AS (
       |  SELECT doc_id, term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(list_slice(${toks("text")}, 1, 8)) AS term FROM documents)
       |  WHERE term IN ${inList(t)} GROUP BY doc_id, term
       |), dfs AS (
       |  SELECT term, count(*) AS df FROM tx_tf GROUP BY term
       |), shares AS (
       |  SELECT f.doc_id, f.term,
       |         $wText * f.tf / (1 - 0.75 + 0.75 * d.dl / s.avgdl) AS share
       |  FROM tx_tf f JOIN tx_dls d USING (doc_id) CROSS JOIN tx_stats s
       |  UNION ALL
       |  SELECT f.doc_id, f.term,
       |         $wTitle * f.tf / (1 - 0.75 + 0.75 * d.dl / s.avgdl) AS share
       |  FROM ti_tf f JOIN ti_dls d USING (doc_id) CROSS JOIN ti_stats s
       |), pseudo AS (
       |  SELECT doc_id, term, sum(share) AS s FROM shares GROUP BY doc_id, term
       |), scored AS (
       |  SELECT p.doc_id,
       |         sum(ln(1 + (st.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
       |             p.s / (1.2 + p.s)) AS sc
       |  FROM pseudo p JOIN dfs USING (term) CROSS JOIN tx_stats st
       |  GROUP BY p.doc_id
       |)
       |SELECT doc_id, round(sc, 4) AS score_r4 FROM scored
       |ORDER BY sc DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** ES rescore twin: final = qw·bm25(top-window) + rw·length-prior
    * (semantics pinned in SearchEngine.rescoreTopK).
    */
  def rescoreTopK(terms: Seq[String], k: Int, window: Int,
      qw: Double, rw: Double): String = {
    val t = terms.flatMap(graft.core.Analyzer.tokenize(_)).distinct.sorted
    s"""WITH dls AS (
       |  SELECT doc_id, len(${toks("text")}) AS dl FROM documents
       |), stats AS (
       |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls
       |), tok AS (
       |  SELECT doc_id, unnest(${toks("text")}) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok
       |  WHERE term IN ${inList(t)} GROUP BY doc_id, term
       |), dfs AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term
       |), contrib AS (
       |  SELECT tf.doc_id,
       |         ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
       |         (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dls.dl / stats.avgdl))) AS c
       |  FROM tf JOIN dfs USING (term) JOIN dls USING (doc_id) CROSS JOIN stats
       |), win AS (
       |  SELECT doc_id, sum(c) AS score FROM contrib GROUP BY doc_id
       |  ORDER BY sum(c) DESC, doc_id ASC LIMIT $window
       |)
       |SELECT w.doc_id,
       |       round($qw * w.score + $rw * (1000.0 / (1000.0 + d.n_chars)), 4) AS rescored_r4
       |FROM win w JOIN documents d ON d.doc_id = w.doc_id
       |ORDER BY $qw * w.score + $rw * (1000.0 / (1000.0 + d.n_chars)) DESC, w.doc_id ASC
       |LIMIT $k""".stripMargin
  }

  /** ES term-suggester twin: dictionary terms within maxDist edits of the
    * input, ranked (distance ASC, df DESC, term ASC).
    */
  def suggest(input: String, n: Int, maxDist: Int): String =
    s"""WITH dterm AS (
       |  SELECT DISTINCT doc_id, term
       |  FROM (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents)
       |), d AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM dterm GROUP BY term
       |), s AS (
       |  SELECT term, CAST(levenshtein(term, '$input') AS INT) AS dist, df FROM d
       |)
       |SELECT term, dist, df FROM s WHERE dist <= $maxDist AND dist > 0
       |ORDER BY dist ASC, df DESC, term ASC LIMIT $n""".stripMargin

  /** Index corpus-facts twin (IndexStats.corpusFacts). */
  val indexStats: String =
    s"""WITH dls AS (
       |  SELECT doc_id, len(${toks("text")}) AS dl FROM documents
       |), tok AS (
       |  SELECT doc_id, unnest(${toks("text")}) AS term FROM documents
       |), dfs AS (
       |  SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM tok)
       |  GROUP BY term
       |)
       |SELECT (SELECT count(*) FROM documents) AS n_docs,
       |       (SELECT CAST(coalesce(sum(dl), 0) AS BIGINT) FROM dls) AS total_tokens,
       |       (SELECT round(CAST(coalesce(sum(dl), 0) AS DOUBLE) / count(*), 6) FROM dls) AS avgdl_r6,
       |       (SELECT CAST(count(*) AS BIGINT) FROM dfs) AS n_terms,
       |       (SELECT CAST(coalesce(max(df), 0) AS BIGINT) FROM dfs) AS max_df""".stripMargin

  /** ES percolator twin: generated from the SAME stored-query set the
    * engine registers (graft.search.Percolator.DriverQueries) so the two
    * sides cannot drift.
    */
  def percolate(stored: Seq[graft.search.Percolator.StoredQuery]): String = {
    val values = stored
      .flatMap(q => q.terms.map(t => s"(${q.query_id}, '$t', ${q.minMatch})"))
      .mkString(", ")
    s"""WITH q AS (
       |  SELECT CAST(query_id AS BIGINT) AS query_id, term, mm
       |  FROM (VALUES $values) t(query_id, term, mm)
       |), dterm AS (
       |  SELECT DISTINCT doc_id, term
       |  FROM (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents)
       |), m AS (
       |  SELECT d.doc_id, q.query_id, q.mm, count(*) AS n
       |  FROM dterm d JOIN q USING (term)
       |  GROUP BY d.doc_id, q.query_id, q.mm
       |)
       |SELECT doc_id, query_id FROM m WHERE n >= mm
       |ORDER BY doc_id, query_id""".stripMargin
  }

  /** ES `significant_terms` (JLH) twin — semantics pinned in
    * search/Aggregations.scala.
    */
  def significantTerms(fgTerm: String, topN: Int): String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${toks("text")}) AS term FROM documents
       |), dterm AS (
       |  SELECT DISTINCT doc_id, term FROM tok
       |), fg AS (
       |  SELECT DISTINCT doc_id FROM tok WHERE term = '$fgTerm'
       |), consts AS (
       |  SELECT (SELECT count(*) FROM fg) AS fg_size,
       |         (SELECT count(*) FROM documents) AS n_docs
       |), fgdf AS (
       |  SELECT term, count(*) AS fg_df FROM dterm JOIN fg USING (doc_id)
       |  GROUP BY term
       |), bgdf AS (
       |  SELECT term, count(*) AS df FROM dterm GROUP BY term
       |), j AS (
       |  SELECT term,
       |    (fg_df * 1.0 / fg_size - df * 1.0 / n_docs) *
       |    ((fg_df * 1.0 / fg_size) / (df * 1.0 / n_docs)) AS jlh
       |  FROM fgdf JOIN bgdf USING (term) CROSS JOIN consts
       |  WHERE fg_df * 1.0 / fg_size > df * 1.0 / n_docs
       |)
       |SELECT term, round(jlh, 6) AS jlh_r6 FROM j
       |ORDER BY jlh DESC, term ASC LIMIT $topN""".stripMargin

  /** ES `top_hits`-under-terms-agg twin: per-source best hits, ranks on
    * 4dp-rounded scores (pinned in search/Aggregations.scala).
    */
  def topHitsByFacet(terms: Seq[String], perBucket: Int): String = {
    val t = terms.flatMap(graft.core.Analyzer.tokenize(_)).distinct.sorted
    s"""WITH dls AS (
       |  SELECT doc_id, len(${toks("text")}) AS dl FROM documents
       |), stats AS (
       |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls
       |), tok AS (
       |  SELECT doc_id, unnest(${toks("text")}) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok
       |  WHERE term IN ${inList(t)} GROUP BY doc_id, term
       |), dfs AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term
       |), contrib AS (
       |  SELECT tf.doc_id,
       |         ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
       |         (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dls.dl / stats.avgdl))) AS c
       |  FROM tf JOIN dfs USING (term) JOIN dls USING (doc_id) CROSS JOIN stats
       |), scores AS (
       |  SELECT doc_id, round(sum(c), 4) AS score_r4 FROM contrib GROUP BY doc_id
       |), ranked AS (
       |  SELECT d.source, s.doc_id, s.score_r4,
       |         row_number() OVER (PARTITION BY d.source
       |           ORDER BY s.score_r4 DESC, s.doc_id ASC) AS bucket_rank
       |  FROM scores s JOIN documents d USING (doc_id)
       |)
       |SELECT source, bucket_rank, doc_id, score_r4 FROM ranked
       |WHERE bucket_rank <= $perBucket
       |ORDER BY source, bucket_rank""".stripMargin
  }

  /** ES `collapse` twin: best hit per source, top-k of the collapsed set. */
  def collapseBySource(terms: Seq[String], k: Int): String =
    s"""SELECT source, doc_id, score_r4
       |FROM (${topHitsByFacet(terms, 1)})
       |ORDER BY score_r4 DESC, doc_id ASC LIMIT $k""".stripMargin

  /** ES `_explain` analog: per-term BM25 contribution rows for the top-k. */
  def bm25Explain(terms: Seq[String], k: Int): String = {
    val t = terms.flatMap(graft.core.Analyzer.tokenize(_)).distinct.sorted
    s"""WITH dls AS (
       |  SELECT doc_id, len(${toks("text")}) AS dl FROM documents
       |), stats AS (
       |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls
       |), tok AS (
       |  SELECT doc_id, unnest(${toks("text")}) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok
       |  WHERE term IN ${inList(t)} GROUP BY doc_id, term
       |), dfs AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term
       |), contrib AS (
       |  SELECT tf.doc_id, tf.term,
       |         ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
       |         (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dls.dl / stats.avgdl))) AS c
       |  FROM tf JOIN dfs USING (term) JOIN dls USING (doc_id) CROSS JOIN stats
       |), topk AS (
       |  SELECT doc_id FROM contrib GROUP BY doc_id
       |  ORDER BY sum(c) DESC, doc_id ASC LIMIT $k
       |)
       |SELECT c.doc_id, c.term, round(c.c, 6) AS contrib_r6
       |FROM contrib c JOIN topk USING (doc_id)
       |ORDER BY c.doc_id, c.term""".stripMargin
  }

  /** Reciprocal Rank Fusion of the BM25 and embedding-cosine rankings
    * (semantics pinned in search/Hybrid.scala).
    */
  def hybridRrf(terms: Seq[String], probeId: Long, k: Int,
      window: Int, k0: Int): String = {
    val t = terms.flatMap(graft.core.Analyzer.tokenize(_)).distinct.sorted
    s"""WITH dls AS (
       |  SELECT doc_id, len(${toks("text")}) AS dl FROM documents
       |), stats AS (
       |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls
       |), tok AS (
       |  SELECT doc_id, unnest(${toks("text")}) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok
       |  WHERE term IN ${inList(t)} GROUP BY doc_id, term
       |), dfs AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term
       |), contrib AS (
       |  SELECT tf.doc_id,
       |         ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
       |         (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dls.dl / stats.avgdl))) AS c
       |  FROM tf JOIN dfs USING (term) JOIN dls USING (doc_id) CROSS JOIN stats
       |), lexs AS (
       |  SELECT doc_id, sum(c) AS s FROM contrib GROUP BY doc_id
       |), lex AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r
       |  FROM lexs ORDER BY s DESC, doc_id ASC LIMIT $window
       |), p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = $probeId
       |), cs AS (
       |  SELECT vec_id,
       |    round(list_sum(list_transform(range(1, len(embedding) + 1),
       |        i -> CAST(embedding[i] AS DOUBLE) * CAST(pe[i] AS DOUBLE))) /
       |      (sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
       |        i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) *
       |       sqrt(list_sum(list_transform(range(1, len(pe) + 1),
       |        i -> CAST(pe[i] AS DOUBLE) * CAST(pe[i] AS DOUBLE))))), 6) AS cos_r6
       |  FROM embeddings CROSS JOIN p WHERE vec_id <> $probeId
       |), sem AS (
       |  SELECT vec_id AS doc_id, row_number() OVER (ORDER BY cos_r6 DESC, vec_id ASC) AS r
       |  FROM cs ORDER BY cos_r6 DESC, vec_id ASC LIMIT $window
       |), fused AS (
       |  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
       |         coalesce(1.0 / ($k0 + lex.r), 0) + coalesce(1.0 / ($k0 + sem.r), 0) AS s
       |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
       |)
       |SELECT doc_id, round(s, 6) AS rrf_r6 FROM fused
       |ORDER BY s DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** ES highlight analog: best-window token-space snippets for the top-k
    * (semantics pinned in search/Highlight.scala — W-token span with the
    * most query-term matches, earliest-start ties, <em> wrap, space join).
    */
  def bm25Highlight(terms: Seq[String], k: Int, window: Int): String = {
    val t = terms.flatMap(graft.core.Analyzer.tokenize(_)).distinct.sorted
    val in = inList(t)
    s"""WITH topk AS (${bm25TopK(terms, k)}),
       |tk AS (SELECT d.doc_id, ${toks("d.text")} AS t
       |       FROM documents d JOIN topk USING (doc_id)),
       |win AS (SELECT doc_id, t, least($window, len(t)) AS w FROM tk),
       |starts AS (SELECT doc_id, t, w, unnest(range(1, len(t) - w + 2)) AS s FROM win),
       |scored AS (SELECT doc_id, t, w, s,
       |             len(list_filter(t[s:s+w-1], x -> x IN $in)) AS m
       |           FROM starts),
       |best AS (SELECT doc_id, t, w, s,
       |           row_number() OVER (PARTITION BY doc_id ORDER BY m DESC, s ASC) AS rn
       |         FROM scored)
       |SELECT topk.doc_id, topk.score_r4,
       |       list_aggregate(list_transform(b.t[b.s:b.s+b.w-1],
       |         x -> CASE WHEN x IN $in THEN '<em>' || x || '</em>' ELSE x END),
       |         'string_agg', ' ') AS snippet
       |FROM topk JOIN best b ON topk.doc_id = b.doc_id AND b.rn = 1
       |ORDER BY topk.score_r4 DESC, topk.doc_id""".stripMargin
  }

  /** Unscored boolean AND over `documents`: docs containing all terms. */
  def boolAnd(terms: Seq[String]): String = {
    val sets = terms.map(t =>
      s"SELECT DISTINCT doc_id FROM (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents) WHERE term = '$t'")
    sets.mkString("", "\nINTERSECT\n", "\nORDER BY doc_id")
  }

  /** Unscored boolean OR: docs containing any of the terms. */
  def boolOr(terms: Seq[String]): String = {
    val sets = terms.map(t =>
      s"SELECT DISTINCT doc_id FROM (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents) WHERE term = '$t'")
    sets.mkString("", "\nUNION\n", "\nORDER BY doc_id")
  }

  /** ES prefix query: vocabulary expansion of the prefix (term-ordered,
    * capped — the engine's dictionary-expansion twin), then the disjunction.
    */
  def queryPrefix(prefix: String, maxExpansions: Int = 1000): String =
    s"""WITH tok AS (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents),
       |vocab AS (SELECT DISTINCT term FROM tok),
       |exp AS (SELECT term FROM vocab WHERE term LIKE '$prefix%'
       |        ORDER BY term LIMIT $maxExpansions)
       |SELECT DISTINCT doc_id FROM tok JOIN exp USING (term) ORDER BY doc_id""".stripMargin

  /** ES fuzzy query: vocabulary expansion within `maxDist` edits (term-
    * ordered, capped), then the disjunction of the expanded terms.
    */
  def queryFuzzy(term: String, maxDist: Int = 1, maxExpansions: Int = 50): String =
    s"""WITH tok AS (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents),
       |vocab AS (SELECT DISTINCT term FROM tok),
       |exp AS (SELECT term FROM vocab WHERE levenshtein(term, '$term') <= $maxDist
       |        ORDER BY term LIMIT $maxExpansions)
       |SELECT DISTINCT doc_id FROM tok JOIN exp USING (term) ORDER BY doc_id""".stripMargin

  /** Scored fuzzy (rewrite: scoring_boolean): expansion from the corpus
    * vocabulary under the same cap/order as the engine's dictionary
    * expansion, then per-expansion-idf BM25 summed — self-contained SQL,
    * no engine state.
    */
  def bm25Fuzzy(term: String, k: Int, maxDist: Int = 1,
      maxExpansions: Int = 50): String =
    s"""WITH tok AS (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents),
       |vocab AS (SELECT DISTINCT term FROM tok),
       |exp AS (SELECT term FROM vocab
       |        WHERE abs(len(term) - ${term.length}) <= $maxDist
       |          AND levenshtein(term, '$term') <= $maxDist
       |        ORDER BY term LIMIT $maxExpansions),
       |dls AS (SELECT doc_id, len(${toks("text")}) AS dl FROM documents),
       |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok
       |  JOIN exp USING (term) GROUP BY doc_id, term),
       |dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |contrib AS (
       |  SELECT tf.doc_id,
       |         ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
       |         (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dls.dl / stats.avgdl))) AS c
       |  FROM tf JOIN dfs USING (term) JOIN dls USING (doc_id) CROSS JOIN stats)
       |SELECT doc_id, round(sum(c), 4) AS score_r4
       |FROM contrib GROUP BY doc_id
       |ORDER BY sum(c) DESC, doc_id ASC LIMIT $k""".stripMargin

  /** SynonymQuery twin: per group, df = max member df, tf = summed member
    * tf; groups sum like ordinary terms.
    */
  def synonymTopK(groups: Seq[Seq[String]], k: Int): String = {
    val gs = groups.map(_.flatMap(graft.core.Analyzer.tokenize(_)).distinct.sorted)
    val contribs = gs.zipWithIndex.map { case (g, i) =>
      s"""g${i}_tf AS (
         |  SELECT doc_id, count(*) AS tf FROM tok
         |  WHERE term IN ${inList(g)} GROUP BY doc_id),
         |g${i}_df AS (
         |  SELECT max(df) AS df FROM (
         |    SELECT term, count(DISTINCT doc_id) AS df FROM tok
         |    WHERE term IN ${inList(g)} GROUP BY term)),
         |g${i}_c AS (
         |  SELECT t.doc_id,
         |         ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
         |         (t.tf / (t.tf + 1.2 * (1 - 0.75 + 0.75 * dls.dl / s.avgdl))) AS c
         |  FROM g${i}_tf t JOIN dls USING (doc_id)
         |  CROSS JOIN g${i}_df d CROSS JOIN stats s)""".stripMargin
    }
    val unions = gs.indices.map(i => s"SELECT doc_id, c FROM g${i}_c").mkString("\n  UNION ALL ")
    s"""WITH tok AS (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents),
       |dls AS (SELECT doc_id, len(${toks("text")}) AS dl FROM documents),
       |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls),
       |${contribs.mkString(",\n")},
       |allc AS (
       |  $unions)
       |SELECT doc_id, round(sum(c), 4) AS score_r4
       |FROM allc GROUP BY doc_id
       |ORDER BY sum(c) DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** Field-sorted search twin: docs matching the term, top-k by field. */
  def sortByField(term: String, field: String, k: Int): String =
    s"""SELECT doc_id, $field FROM documents
       |WHERE doc_id IN (
       |  SELECT DISTINCT doc_id
       |  FROM (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents)
       |  WHERE term = '$term')
       |ORDER BY $field DESC, doc_id ASC LIMIT $k""".stripMargin

  /** ES percentiles aggregation: exact interpolated quantiles per group. */
  val percentilesValue: String =
    """SELECT event_type,
      |       round(quantile_cont(value, 0.5), 6) AS p50_r6,
      |       round(quantile_cont(value, 0.95), 6) AS p95_r6,
      |       round(quantile_cont(value, 0.99), 6) AS p99_r6
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Exact distinct-count aggregation over events. */
  val distinctUsers: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Array math over the embeddings table: L2 norm per vector. */
  val vectorNorms: String =
    """SELECT vec_id,
      |       round(sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
      |             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))), 6) AS l2_r6
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** Boolean AND NOT: docs containing `pos` but not `neg`. */
  def boolAndNot(pos: String, neg: String): String =
    s"""SELECT DISTINCT doc_id FROM (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents) WHERE term = '$pos'
       |EXCEPT
       |SELECT DISTINCT doc_id FROM (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents) WHERE term = '$neg'
       |ORDER BY doc_id""".stripMargin

  /** Per-term df/cf (dictionary twin). */
  val termStats: String =
    s"""SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf FROM (
       |  SELECT doc_id, term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents)
       |  GROUP BY doc_id, term
       |) GROUP BY term ORDER BY term""".stripMargin

  /** Corpus stats (N, total tokens, avgdl rounded). */
  val corpusStats: String =
    s"""SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_tokens, round(avg(dl), 6) AS avgdl_r6
       |FROM (SELECT doc_id, len(${toks("text")}) AS dl FROM documents)""".stripMargin

  /** Flat term-frequency table (tf extraction twin). */
  val termFreqs: String =
    s"""SELECT doc_id, term, count(*) AS tf
       |FROM (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents)
       |GROUP BY doc_id, term ORDER BY doc_id, term""".stripMargin

  /** Facet counts of docs matching a term (ES terms-aggregation analog). */
  def facet(term: String, facetCol: String): String =
    s"""SELECT $facetCol, count(*) AS n_docs FROM documents
       |WHERE doc_id IN (
       |  SELECT DISTINCT doc_id
       |  FROM (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents)
       |  WHERE term = '$term')
       |GROUP BY $facetCol ORDER BY $facetCol""".stripMargin

  /** Daily date histogram over events. */
  /** Nested agg twin: terms(event_type) → date_histogram(day) → metrics. */
  val facetHistogram: String =
    """SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events,
      |       round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Nested agg over the hit stream: terms(source) → percentiles(n_chars). */
  def facetPercentiles(term: String): String =
    s"""WITH hits AS (
       |  SELECT doc_id FROM documents
       |  WHERE len(list_filter(${toks("text")}, x -> x = '$term')) > 0)
       |SELECT d.source, count(*) AS n_docs,
       |       round(quantile_cont(d.n_chars, 0.5), 6) AS p50_r6,
       |       round(quantile_cont(d.n_chars, 0.95), 6) AS p95_r6
       |FROM documents d JOIN hits USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  val dateHistogram: String =
    """SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
      |       round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** JSON scalar extraction (regex form, no JSON extension needed). */
  val jsonK: String =
    """SELECT event_id,
      |       TRY_CAST(NULLIF(regexp_extract(props, '"k":\s*(\d+)', 1), '') AS INTEGER) AS k
      |FROM events ORDER BY event_id""".stripMargin

  /** Inactivity-gap sessionization over events (30-minute gap). */
  /** _field_caps twin from DuckDB's OWN catalog — a genuinely independent
    * source: the engine reflects the parquet footer through Spark's schema,
    * the oracle asks information_schema over the same views.
    */
  def fieldCaps(tables: Seq[String]): String = {
    val in = tables.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""SELECT table_name, column_name AS field, data_type,
       |       (data_type = 'VARCHAR') AS searchable,
       |       (NOT data_type LIKE '%[]') AS aggregatable
       |FROM information_schema.columns
       |WHERE table_name IN $in
       |ORDER BY table_name, field""".stripMargin
  }

  val sessionizeEvents: String =
    """SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions, count(*) AS n_events
      |FROM (
      |  SELECT user_id,
      |         CASE WHEN prev_ts IS NULL OR (epoch(ts) - epoch(prev_ts)) > 1800
      |              THEN 1 ELSE 0 END AS new_sess
      |  FROM (
      |    SELECT user_id, ts, event_id,
      |           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |    FROM events))
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Ranking window: top-3 line items per supplier. */
  val windowRank: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber, rn FROM (
      |  SELECT l_suppkey, l_orderkey, l_linenumber,
      |         CAST(row_number() OVER (
      |           PARTITION BY l_suppkey
      |           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS BIGINT) AS rn
      |  FROM lineitem)
      |WHERE rn <= 3 ORDER BY l_suppkey, rn""".stripMargin

  /** TPC-H Q1-style pricing summary. */
  val pricingSummary: String =
    """SELECT l_returnflag, l_linestatus,
      |       round(sum(l_quantity), 2) AS sum_qty,
      |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      |       count(*) AS n_lines
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Dimension join + aggregation: revenue per market segment. */
  val revenueBySegment: String =
    """SELECT c_mktsegment, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Fact-dim join + top-N suppliers by shipped quantity. */
  val topSuppliers: String =
    """SELECT s_suppkey, s_name, round(sum(l_quantity), 2) AS total_qty
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_suppkey, s_name
      |ORDER BY total_qty DESC, s_suppkey LIMIT 5""".stripMargin

  // ---- training-data pipeline ops ------------------------------------------

  private val toksrc = s"SELECT doc_id, ${toks("text")} AS t FROM documents"

  /** Distinct token-trigram shingles CTE body. */
  private val shingleCte =
    s"""toksrc AS ($toksrc),
       |sh AS (
       |  SELECT doc_id,
       |         unnest(list_distinct(list_transform(range(1, len(t) - 1),
       |                i -> concat(t[i], '_', t[i+1], '_', t[i+2])))) AS s
       |  FROM toksrc)""".stripMargin

  private def jaccardCteOver(src: String) =
    s"""sz AS (SELECT doc_id, count(*) AS n FROM $src GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       |  FROM $src a JOIN $src b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  private val jaccardCte = jaccardCteOver("sh")

  val exactDups: String =
    """SELECT md5(text) AS text_md5, count(*) AS n_docs, min(doc_id) AS canonical_doc
      |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY text_md5""".stripMargin

  /** Exact n-gram Jaccard with the identical head-shingle df-cap the Spark
    * operator applies (Dedup.ngramJaccardPairs).
    */
  def ngramJaccard(tau: Double, maxShingleDf: Long = 1000L): String =
    s"""WITH $shingleCte,
       |hot AS (SELECT s FROM (SELECT s, count(*) AS sdf FROM sh GROUP BY s) WHERE sdf > $maxShingleDf),
       |shc AS (SELECT doc_id, s FROM sh WHERE s NOT IN (SELECT s FROM hot)),
       |${jaccardCteOver("shc")}
       |SELECT doc_a, doc_b, round(i * 1.0 / (x.n + y.n - i), 6) AS jaccard_r6
       |FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
       |WHERE round(i * 1.0 / (x.n + y.n - i), 6) >= $tau
       |ORDER BY doc_a, doc_b""".stripMargin

  def minhashLsh(tau: Double): String =
    s"""WITH $shingleCte,
       |mh AS (
       |  SELECT doc_id, h, min(md5(concat(h, ':', s))) AS mh
       |  FROM sh CROSS JOIN range(0, 8) r(h)
       |  GROUP BY doc_id, h),
       |bands AS (
       |  SELECT doc_id, CAST(h // 2 AS INT) AS band,
       |         md5(concat_ws('|',
       |           max(CASE WHEN h % 2 = 0 THEN mh END),
       |           max(CASE WHEN h % 2 = 1 THEN mh END))) AS bk
       |  FROM mh GROUP BY doc_id, h // 2),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
       |$jaccardCte
       |SELECT doc_a, doc_b, round(i * 1.0 / (x.n + y.n - i), 6) AS jaccard_r6
       |FROM cand JOIN inter USING (doc_a, doc_b)
       |JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
       |WHERE round(i * 1.0 / (x.n + y.n - i), 6) >= $tau
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Dedup cluster canonicalization over the MinHash+LSH pairs: connected
    * components via a recursive reachability CTE (DuckDB twin of the Spark
    * min-label propagation — both compute min reachable docID per node).
    */
  def dedupClusters(tau: Double): String =
    s"""WITH RECURSIVE $shingleCte,
       |mh AS (
       |  SELECT doc_id, h, min(md5(concat(h, ':', s))) AS mh
       |  FROM sh CROSS JOIN range(0, 8) r(h)
       |  GROUP BY doc_id, h),
       |bands AS (
       |  SELECT doc_id, CAST(h // 2 AS INT) AS band,
       |         md5(concat_ws('|',
       |           max(CASE WHEN h % 2 = 0 THEN mh END),
       |           max(CASE WHEN h % 2 = 1 THEN mh END))) AS bk
       |  FROM mh GROUP BY doc_id, h // 2),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
       |$jaccardCte,
       |pairs AS (
       |  SELECT doc_a, doc_b
       |  FROM cand JOIN inter USING (doc_a, doc_b)
       |  JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
       |  WHERE round(i * 1.0 / (x.n + y.n - i), 6) >= $tau),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION
       |  SELECT doc_b, doc_a FROM pairs),
       |reach(n, m) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT r.n, e.v FROM reach r JOIN edges e ON e.u = r.m),
       |labels AS (SELECT n AS doc_id, min(m) AS canonical_id FROM reach GROUP BY n)
       |SELECT doc_id, canonical_id,
       |       count(*) OVER (PARTITION BY canonical_id) AS cluster_size
       |FROM labels ORDER BY doc_id""".stripMargin

  val simhash: String =
    s"""WITH tf AS (
       |  SELECT doc_id, term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents)
       |  GROUP BY doc_id, term),
       |bits AS (
       |  SELECT doc_id, b,
       |         sum(tf * (2 * (((strpos('0123456789abcdef',
       |                substr(md5(term), 1 + CAST(FLOOR(b / 4.0) AS INT), 1)) - 1)
       |                >> (3 - (b % 4))) & 1) - 1)) AS sgn
       |  FROM tf CROSS JOIN range(0, 32) r(b)
       |  GROUP BY doc_id, b)
       |SELECT doc_id,
       |       CAST(sum((CASE WHEN sgn >= 0 THEN 1 ELSE 0 END)
       |                * (CAST(1 AS BIGINT) << CAST(31 - b AS INT))) AS BIGINT) AS simhash
       |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val langId: String =
    s"""SELECT doc_id,
       |  CASE WHEN n_en >= n_es AND n_en > 0 THEN 'en'
       |       WHEN n_es > 0 THEN 'es' ELSE 'und' END AS lang_pred
       |FROM (
       |  SELECT doc_id,
       |    len(list_filter(list_distinct(t), x -> x IN ('the', 'a', 'of', 'and'))) AS n_en,
       |    len(list_filter(list_distinct(t), x -> x IN ('el', 'la', 'de', 'los'))) AS n_es
       |  FROM ($toksrc))
       |ORDER BY doc_id""".stripMargin

  val qualityScore: String =
    s"""SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
       |  round(list_sum(list_transform(t, x -> length(x))) * 1.0 / len(t), 6) AS mean_tok_len_r6,
       |  round(len(list_filter(t, x -> x = 'the' OR x = 'a')) * 1.0 / len(t), 6) AS stop_ratio_r6,
       |  round(least(len(t) * 1.0 / 100.0, 1.0)
       |        * (1.0 - len(list_filter(t, x -> x = 'the' OR x = 'a')) * 1.0 / len(t)), 6) AS quality_r6
       |FROM ($toksrc) ORDER BY doc_id""".stripMargin

  /** Curation funnel twin (rule order pinned in operators/Curation.scala). */
  def curationFunnel(minTokens: Long, minQuality: Double): String =
    s"""WITH f AS (
       |  SELECT doc_id, text, CAST(len(t) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(t, x -> x = 'the' OR x = 'a')) AS BIGINT) AS n_stop,
       |    len(list_filter(list_distinct(t), x -> x IN ('the', 'a', 'of', 'and'))) AS n_en,
       |    len(list_filter(list_distinct(t), x -> x IN ('el', 'la', 'de', 'los'))) AS n_es
       |  FROM (SELECT doc_id, text, ${toks("text")} AS t FROM documents)),
       |c AS (
       |  SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS canon FROM f),
       |v AS (
       |  SELECT doc_id,
       |    CASE WHEN n_tokens < $minTokens THEN 'too_short'
       |         WHEN least(n_tokens * 1.0 / 100.0, 1.0)
       |              * (1.0 - n_stop * 1.0 / n_tokens) < $minQuality THEN 'low_quality'
       |         WHEN (CASE WHEN n_en >= n_es AND n_en > 0 THEN 'en'
       |                    WHEN n_es > 0 THEN 'es' ELSE 'und' END) <> 'en' THEN 'lang'
       |         WHEN doc_id <> canon THEN 'exact_dup'
       |         ELSE 'kept' END AS reason
       |  FROM c)
       |SELECT doc_id, reason = 'kept' AS keep, reason FROM v ORDER BY doc_id""".stripMargin

  /** Token-budget packing twin: pack_id = exclusive prefix tokens / budget
    * in doc_id order (semantics pinned in operators/Curation.scala).
    */
  def packSequences(budget: Long): String =
    s"""WITH t AS (
       |  SELECT doc_id, CAST(len(${toks("text")}) AS BIGINT) AS n_tokens FROM documents),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
       |  FROM t)
       |SELECT doc_id, n_tokens, CAST(pre // $budget AS BIGINT) AS pack_id
       |FROM c ORDER BY doc_id""".stripMargin

  /** BPE per-doc counts from the engine-generated per-word table (the
    * generated-oracle pattern: segmentation pinned by BpeSpec, the
    * corpus-scale aggregation by this SQL).
    */
  def tokenCountsBpe(wordCounts: Seq[(String, Int)]): String = {
    val vals = wordCounts.map { case (w, n) => s"('$w', $n)" }.mkString(", ")
    s"""WITH wc(term, n) AS (VALUES $vals),
       |tok AS (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents)
       |SELECT d.doc_id,
       |       CAST(coalesce((SELECT sum(wc.n) FROM tok JOIN wc USING (term)
       |                      WHERE tok.doc_id = d.doc_id), 0) AS BIGINT) AS bpe_tokens
       |FROM documents d ORDER BY d.doc_id""".stripMargin
  }

  /** packSequences by BPE budget: same exclusive prefix sum, counts from
    * the engine-generated word table.
    */
  def packSequencesBpe(budget: Long, wordCounts: Seq[(String, Int)]): String = {
    val vals = wordCounts.map { case (w, n) => s"('$w', $n)" }.mkString(", ")
    s"""WITH wc(term, n) AS (VALUES $vals),
       |tok AS (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents),
       |t AS (
       |  SELECT d.doc_id,
       |         CAST(coalesce((SELECT sum(wc.n) FROM tok JOIN wc USING (term)
       |                        WHERE tok.doc_id = d.doc_id), 0) AS BIGINT) AS n_tokens
       |  FROM documents d),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
       |  FROM t)
       |SELECT doc_id, n_tokens, CAST(pre // $budget AS BIGINT) AS pack_id
       |FROM c ORDER BY doc_id""".stripMargin
  }

  val tokenCounts: String =
    """SELECT doc_id,
      |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_ish_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  val winnowFingerprint: String =
    s"""WITH grams AS (
       |  SELECT doc_id, u.pos AS pos, u.h AS h FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(t) - 1),
       |             i -> {'pos': i, 'h': md5(concat(t[i], '_', t[i+1], '_', t[i+2]))})) AS u
       |    FROM ($toksrc))),
       |w AS (
       |  SELECT doc_id, pos,
       |         min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
       |  FROM grams)
       |SELECT doc_id, CAST(count(DISTINCT wmin) AS BIGINT) AS n_fp,
       |       min(wmin) AS min_fp, max(wmin) AS max_fp
       |FROM w WHERE pos >= 4 GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Substring-dedup twin (Lee et al. 2022 span removal): identical shingle
    * hashes, per-hash (m1, second-min, ≥2-distinct-docs), gaps-and-islands
    * run detection, and span arithmetic — term for term with
    * Dedup.substringDups (positions 0-based in both engines).
    */
  def substringDups(minTokens: Int, k: Int): String = {
    val gram = (1 to k).map(j => s"t[i+${j - 1}]").mkString(" || '_' || ")
    s"""WITH grams AS (
       |  SELECT doc_id, u.pos AS pos, u.h AS h FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(t) - ${k - 2}),
       |             i -> {'pos': i - 1, 'h': md5($gram)})) AS u
       |    FROM ($toksrc) WHERE len(t) >= $k)),
       |hs AS (
       |  SELECT h, min(doc_id) AS m1, count(DISTINCT doc_id) AS nd
       |  FROM grams GROUP BY h),
       |dup AS (SELECT h, m1 FROM hs WHERE nd >= 2),
       |m2 AS (
       |  SELECT g.h AS h, min(g.doc_id) AS m2
       |  FROM grams g JOIN dup ON g.h = dup.h WHERE g.doc_id > dup.m1
       |  GROUP BY g.h),
       |occ AS (
       |  SELECT g.doc_id AS doc_id, g.pos AS pos,
       |         CASE WHEN g.doc_id = d.m1 THEN m2.m2 ELSE d.m1 END AS dup_src
       |  FROM grams g JOIN dup d ON g.h = d.h LEFT JOIN m2 ON m2.h = g.h),
       |isl AS (
       |  SELECT doc_id, pos, dup_src,
       |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM occ)
       |SELECT doc_id, min(pos) AS start_tok, max(pos) + ${k - 1} AS end_tok,
       |       min(dup_src) AS dup_of
       |FROM isl GROUP BY doc_id, grp
       |HAVING max(pos) - min(pos) + $k >= $minTokens
       |ORDER BY doc_id, start_tok""".stripMargin
  }

  def embCosineTopK(probeId: Long, k: Int): String =
    s"""WITH p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = $probeId),
       |c AS (
       |  SELECT vec_id,
       |    list_sum(list_transform(range(1, len(embedding) + 1),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(pe[i] AS DOUBLE))) AS dot,
       |    list_sum(list_transform(range(1, len(embedding) + 1),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS na,
       |    list_sum(list_transform(range(1, len(pe) + 1),
       |      i -> CAST(pe[i] AS DOUBLE) * CAST(pe[i] AS DOUBLE))) AS nb
       |  FROM embeddings CROSS JOIN p WHERE vec_id <> $probeId)
       |SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos_r6
       |FROM c ORDER BY cos_r6 DESC, vec_id LIMIT $k""".stripMargin

  /** IVF oracle, generated from the engine's own deterministic candidate set
    * ([[graft.operators.Ivf.lastOracle]], the percolate pattern): exact
    * cosine top-k restricted to the vectors of the probed lists. Verifies
    * probe selection + persisted assignment + re-scoring; k-means training
    * determinism itself is pinned by IvfSpec.
    */
  def annIvfTopK(probeId: Long, k: Int, candidates: Seq[Long],
      labelEq: Option[Int] = None): String = {
    val in = candidates.mkString(", ")
    // a label filter re-checks the predicate on every recorded candidate —
    // an engine that leaked an unfiltered vector into the set would mismatch
    val lbl = labelEq.map(x => s" AND label = $x").getOrElse("")
    s"""WITH p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = $probeId),
       |c AS (
       |  SELECT vec_id,
       |    list_sum(list_transform(range(1, len(embedding) + 1),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(pe[i] AS DOUBLE))) AS dot,
       |    list_sum(list_transform(range(1, len(embedding) + 1),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS na,
       |    list_sum(list_transform(range(1, len(pe) + 1),
       |      i -> CAST(pe[i] AS DOUBLE) * CAST(pe[i] AS DOUBLE))) AS nb
       |  FROM embeddings CROSS JOIN p
       |  WHERE vec_id <> $probeId AND vec_id IN ($in)$lbl)
       |SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos_r6
       |FROM c ORDER BY cos_r6 DESC, vec_id LIMIT $k""".stripMargin
  }

  def annLshTopK(probeId: Long, k: Int, planes: Int = 8, dims: Int = 64): String =
    s"""WITH hp AS (
       |  SELECT i, j,
       |    ((strpos('0123456789abcdef', substr(md5(concat(i, '_', j)), 1, 1)) - 1) * 16
       |     + (strpos('0123456789abcdef', substr(md5(concat(i, '_', j)), 2, 1)) - 1)
       |     - 127.5) / 128.0 AS w
       |  FROM range(0, $planes) a(i) CROSS JOIN range(0, $dims) b(j)),
       |proj AS (
       |  SELECT vec_id, i, sum(w * CAST(embedding[CAST(j AS INT) + 1] AS DOUBLE)) AS proj
       |  FROM embeddings CROSS JOIN hp GROUP BY vec_id, i),
       |buckets AS (
       |  SELECT vec_id,
       |         CAST(sum(CASE WHEN proj >= 0
       |              THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY vec_id),
       |pb AS (SELECT bucket FROM buckets WHERE vec_id = $probeId),
       |probes AS (
       |  SELECT bucket FROM pb
       |  UNION
       |  SELECT xor(pb.bucket, CAST(1 AS BIGINT) << CAST(i AS INT)) AS bucket
       |  FROM pb CROSS JOIN range(0, $planes) r(i)),
       |cand AS (
       |  SELECT DISTINCT b.vec_id FROM buckets b JOIN probes ON b.bucket = probes.bucket
       |  WHERE b.vec_id <> $probeId),
       |p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = $probeId),
       |c AS (
       |  SELECT e.vec_id,
       |    list_sum(list_transform(range(1, len(embedding) + 1),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(pe[i] AS DOUBLE))) AS dot,
       |    list_sum(list_transform(range(1, len(embedding) + 1),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS na,
       |    list_sum(list_transform(range(1, len(pe) + 1),
       |      i -> CAST(pe[i] AS DOUBLE) * CAST(pe[i] AS DOUBLE))) AS nb
       |  FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id CROSS JOIN p)
       |SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos_r6
       |FROM c ORDER BY cos_r6 DESC, vec_id LIMIT $k""".stripMargin

  /** Phrase (consecutive-position) match. */
  def phraseMatch(phrase: Seq[String]): String = {
    val terms = phrase.flatMap(graft.core.Analyzer.tokenize(_))
    val joins = terms.zipWithIndex.drop(1).map { case (t, i) =>
      s"JOIN pos p$i ON p$i.doc_id = p0.doc_id AND p$i.pos = p0.pos + $i AND p$i.term = '$t'"
    }.mkString("\n")
    s"""WITH pos AS (
       |  SELECT doc_id, u.pos AS pos, u.term AS term FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(t) + 1),
       |             i -> {'pos': i, 'term': t[i]})) AS u
       |    FROM ($toksrc)))
       |SELECT DISTINCT p0.doc_id AS doc_id
       |FROM pos p0
       |$joins
       |WHERE p0.term = '${terms.head}'
       |ORDER BY doc_id""".stripMargin
  }

  /** span_first twin: exact phrase whose 1-based start ≤ end − n + 1
    * (equivalently: 0-based span end ≤ `end`, the engine's contract).
    */
  def spanFirst(phrase: Seq[String], end: Int): String = {
    val terms = phrase.flatMap(graft.core.Analyzer.tokenize(_))
    val n = terms.length
    val joins = terms.zipWithIndex.drop(1).map { case (t, i) =>
      s"JOIN pos p$i ON p$i.doc_id = p0.doc_id AND p$i.pos = p0.pos + $i AND p$i.term = '$t'"
    }.mkString("\n")
    s"""WITH pos AS (
       |  SELECT doc_id, u.pos AS pos, u.term AS term FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(t) + 1),
       |             i -> {'pos': i, 'term': t[i]})) AS u
       |    FROM ($toksrc)))
       |SELECT DISTINCT p0.doc_id AS doc_id
       |FROM pos p0
       |$joins
       |WHERE p0.term = '${terms.head}' AND p0.pos <= ${end - n + 1}
       |ORDER BY doc_id""".stripMargin
  }

  /** span_not twin: an include-phrase span surviving every exclude-phrase
    * span widened by pre/post (basis-independent inequalities, 1-based).
    */
  def spanNot(includePhrase: Seq[String], excludePhrase: Seq[String],
      pre: Int, post: Int): String = {
    def spanCte(phrase: Seq[String], alias: String): String = {
      val terms = phrase.flatMap(graft.core.Analyzer.tokenize(_))
      val joins = terms.zipWithIndex.drop(1).map { case (t, i) =>
        s"JOIN pos ${alias}$i ON ${alias}$i.doc_id = ${alias}0.doc_id AND ${alias}$i.pos = ${alias}0.pos + $i AND ${alias}$i.term = '$t'"
      }.mkString("\n")
      s"""SELECT DISTINCT ${alias}0.doc_id AS doc_id, ${alias}0.pos AS s
         |FROM pos ${alias}0
         |$joins
         |WHERE ${alias}0.term = '${terms.head}'""".stripMargin
    }
    val li = includePhrase.flatMap(graft.core.Analyzer.tokenize(_)).length
    val le = excludePhrase.flatMap(graft.core.Analyzer.tokenize(_)).length
    s"""WITH pos AS (
       |  SELECT doc_id, u.pos AS pos, u.term AS term FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(t) + 1),
       |             i -> {'pos': i, 'term': t[i]})) AS u
       |    FROM ($toksrc))),
       |inc AS (${spanCte(includePhrase, "i")}),
       |exc AS (${spanCte(excludePhrase, "e")})
       |SELECT DISTINCT inc.doc_id AS doc_id
       |FROM inc
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM exc
       |  WHERE exc.doc_id = inc.doc_id
       |    AND exc.s + $le - 1 >= inc.s - $pre
       |    AND exc.s <= inc.s + $li - 1 + $post)
       |ORDER BY doc_id""".stripMargin
  }

  /** span_near(in_order=false) twin: one position per term, all distinct,
    * within a window of span ≤ (n−1)+slop, any order.
    */
  def spanNearUnordered(phrase: Seq[String], slop: Int): String = {
    val terms = phrase.flatMap(graft.core.Analyzer.tokenize(_)).distinct
    val n = terms.length
    val maxSpan = (n - 1) + slop
    val joins = terms.zipWithIndex.drop(1).map { case (t, i) =>
      s"JOIN pos p$i ON p$i.doc_id = p0.doc_id AND p$i.term = '$t'"
    }.mkString("\n")
    val poss = terms.indices.map(i => s"p$i.pos")
    val spanCond =
      s"greatest(${poss.mkString(", ")}) - least(${poss.mkString(", ")}) <= $maxSpan"
    val distinctCond = (for {
      i <- terms.indices; j <- terms.indices if i < j
    } yield s"p$i.pos <> p$j.pos").mkString(" AND ")
    s"""WITH pos AS (
       |  SELECT doc_id, u.pos AS pos, u.term AS term FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(t) + 1),
       |             i -> {'pos': i, 'term': t[i]})) AS u
       |    FROM ($toksrc)))
       |SELECT DISTINCT p0.doc_id AS doc_id
       |FROM pos p0
       |$joins
       |WHERE p0.term = '${terms.head}' AND $spanCond AND $distinctCond
       |ORDER BY doc_id""".stripMargin
  }

  /** Exact-phrase span CTE body (doc_id, s = 0-based start): shared by the
    * span_or / span_within / span_containing twins. `alias` prefixes the
    * join aliases so several phrases coexist in one query.
    */
  private def phraseSpanSelect(phrase: Seq[String], alias: String): String = {
    val terms = phrase.flatMap(graft.core.Analyzer.tokenize(_))
    val joins = terms.zipWithIndex.drop(1).map { case (t, i) =>
      s"JOIN pos ${alias}$i ON ${alias}$i.doc_id = ${alias}0.doc_id AND " +
        s"${alias}$i.pos = ${alias}0.pos + $i AND ${alias}$i.term = '$t'"
    }.mkString("\n")
    s"""SELECT DISTINCT ${alias}0.doc_id AS doc_id, ${alias}0.pos - 1 AS s
       |FROM pos ${alias}0
       |$joins
       |WHERE ${alias}0.term = '${terms.head}'""".stripMargin
  }

  /** span_or twin: union of exact-phrase matches. */
  def spanOr(phrases: Seq[Seq[String]]): String = {
    val ctes = phrases.zipWithIndex
      .map { case (p, i) => s"ph$i AS (${phraseSpanSelect(p, s"p${i}_")})" }
      .mkString(",\n")
    val union = phrases.indices
      .map(i => s"SELECT doc_id FROM ph$i").mkString("\nUNION\n")
    s"""WITH pos AS (
       |  SELECT doc_id, u.pos AS pos, u.term AS term FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(t) + 1),
       |             i -> {'pos': i, 'term': t[i]})) AS u
       |    FROM ($toksrc))),
       |$ctes
       |SELECT DISTINCT doc_id FROM ($union)
       |ORDER BY doc_id""".stripMargin
  }

  /** span_within / span_containing twin (shared doc-level predicate): an
    * exact little-phrase span [s, s+ll−1] inside a two-term window
    * [least(a,b), greatest(a,b)] of span ≤ 1 + slop.
    */
  def spanContainment(little: Seq[String], bigA: String, bigB: String,
      slop: Int): String = {
    val ll = little.flatMap(graft.core.Analyzer.tokenize(_)).length
    val ta = graft.core.Analyzer.tokenize(bigA).head
    val tb = graft.core.Analyzer.tokenize(bigB).head
    s"""WITH pos AS (
       |  SELECT doc_id, u.pos AS pos, u.term AS term FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(t) + 1),
       |             i -> {'pos': i, 'term': t[i]})) AS u
       |    FROM ($toksrc))),
       |little AS (${phraseSpanSelect(little, "l")})
       |SELECT DISTINCT little.doc_id AS doc_id
       |FROM little
       |JOIN pos a ON a.doc_id = little.doc_id AND a.term = '$ta'
       |JOIN pos b ON b.doc_id = little.doc_id AND b.term = '$tb'
       |WHERE greatest(a.pos, b.pos) - least(a.pos, b.pos) <= ${1 + slop}
       |  AND least(a.pos, b.pos) - 1 <= little.s
       |  AND little.s + ${ll - 1} <= greatest(a.pos, b.pos) - 1
       |ORDER BY doc_id""".stripMargin
  }

  /** intervals match twin (ordered, max_gaps): an in-order chain of the
    * terms whose interval width minus term count stays ≤ max_gaps —
    * existence is chain existence (the engine's greedy minimizes width per
    * head, so doc-level sets coincide). Two-term form.
    */
  def intervalsMatch(text: String, maxGaps: Int): String = {
    val terms = graft.core.Analyzer.tokenize(text)
    require(terms.length == 2, "two-term oracle form")
    s"""WITH pos AS (
       |  SELECT doc_id, u.pos AS pos, u.term AS term FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(t) + 1),
       |             i -> {'pos': i, 'term': t[i]})) AS u
       |    FROM ($toksrc)))
       |SELECT DISTINCT p0.doc_id AS doc_id
       |FROM pos p0
       |JOIN pos p1 ON p1.doc_id = p0.doc_id AND p1.term = '${terms(1)}'
       |WHERE p0.term = '${terms(0)}' AND p1.pos > p0.pos
       |  AND (p1.pos - p0.pos + 1) - 2 <= $maxGaps
       |ORDER BY doc_id""".stripMargin
  }

  /** intervals all_of twin (ordered): an exact `phrase` occurrence followed
    * by `next`, with ≤ maxGaps positions between the phrase's end and
    * `next`'s position.
    */
  def intervalsAllOf(phrase: Seq[String], next: String, maxGaps: Int): String = {
    val n = phrase.flatMap(graft.core.Analyzer.tokenize(_)).length
    val tn = graft.core.Analyzer.tokenize(next).head
    s"""WITH pos AS (
       |  SELECT doc_id, u.pos AS pos, u.term AS term FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(t) + 1),
       |             i -> {'pos': i, 'term': t[i]})) AS u
       |    FROM ($toksrc))),
       |ph AS (${phraseSpanSelect(phrase, "p")})
       |SELECT DISTINCT ph.doc_id AS doc_id
       |FROM ph
       |JOIN pos nx ON nx.doc_id = ph.doc_id AND nx.term = '$tn'
       |WHERE nx.pos - 1 > ph.s + ${n - 1}
       |  AND (nx.pos - 1) - (ph.s + ${n - 1}) - 1 <= $maxGaps
       |ORDER BY doc_id""".stripMargin
  }

  /** intervals any_of-in-all_of twin: (any of `alts`) immediately followed
    * by `next` (ordered, max_gaps 0).
    */
  def intervalsAnyOf(alts: Seq[String], next: String): String = {
    val ts = alts.map(a => graft.core.Analyzer.tokenize(a).head)
    val tn = graft.core.Analyzer.tokenize(next).head
    s"""WITH pos AS (
       |  SELECT doc_id, u.pos AS pos, u.term AS term FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(t) + 1),
       |             i -> {'pos': i, 'term': t[i]})) AS u
       |    FROM ($toksrc)))
       |SELECT DISTINCT p0.doc_id AS doc_id
       |FROM pos p0
       |JOIN pos p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
       |  AND p1.term = '$tn'
       |WHERE p0.term IN ${inList(ts)}
       |ORDER BY doc_id""".stripMargin
  }

  /** Completion-suggester twin: per-(context, term) df over distinct doc
    * tokens, prefix + context filtered, top-n by (df desc, term asc) — the
    * artifact build + probe collapsed into one query.
    */
  def suggestCompletion(prefix: String, context: String, n: Int): String =
    s"""WITH tok AS (
       |  SELECT source AS context, doc_id,
       |         unnest(list_distinct(${toks("text")})) AS term
       |  FROM documents)
       |SELECT term, count(*) AS df
       |FROM tok
       |WHERE context = '$context' AND term LIKE '$prefix%'
       |GROUP BY term
       |ORDER BY df DESC, term ASC
       |LIMIT $n""".stripMargin

  /** match_phrase_prefix twin: exact adjacent leading terms, last position
    * holds any token with the prefix. The engine caps dictionary expansion
    * at max_expansions in term order — the fixture vocabulary (≤31 terms)
    * stays far below the default cap, so uncapped LIKE semantics coincide
    * (the same cap-alignment rule as the wildcard/suggest oracles).
    */
  def phrasePrefix(phrase: Seq[String], prefix: String): String = {
    val terms = phrase.flatMap(graft.core.Analyzer.tokenize(_))
    val joins = terms.zipWithIndex.drop(1).map { case (t, i) =>
      s"JOIN pos p$i ON p$i.doc_id = p0.doc_id AND p$i.pos = p0.pos + $i AND p$i.term = '$t'"
    }.mkString("\n")
    val n = terms.length
    s"""WITH pos AS (
       |  SELECT doc_id, u.pos AS pos, u.term AS term FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(t) + 1),
       |             i -> {'pos': i, 'term': t[i]})) AS u
       |    FROM ($toksrc)))
       |SELECT DISTINCT p0.doc_id AS doc_id
       |FROM pos p0
       |$joins
       |JOIN pos pp ON pp.doc_id = p0.doc_id AND pp.pos = p0.pos + $n
       |  AND pp.term LIKE '$prefix%'
       |WHERE p0.term = '${terms.head}'
       |ORDER BY doc_id""".stripMargin
  }

  /** Embedding-cosine near-dup pairs: LSH-bucketed (hamming ≤ 1) candidate
    * pairs, exact cosine ≥ tau — identical bucketing to the Spark operator.
    */
  def embCosinePairs(tau: Double, planes: Int = 4, dims: Int = 64): String =
    s"""WITH hp AS (
       |  SELECT i, j,
       |    ((strpos('0123456789abcdef', substr(md5(concat(i, '_', j)), 1, 1)) - 1) * 16
       |     + (strpos('0123456789abcdef', substr(md5(concat(i, '_', j)), 2, 1)) - 1)
       |     - 127.5) / 128.0 AS w
       |  FROM range(0, $planes) a(i) CROSS JOIN range(0, $dims) b(j)),
       |proj AS (
       |  SELECT vec_id, i, sum(w * CAST(embedding[CAST(j AS INT) + 1] AS DOUBLE)) AS proj
       |  FROM embeddings CROSS JOIN hp GROUP BY vec_id, i),
       |buckets AS (
       |  SELECT vec_id,
       |         CAST(sum(CASE WHEN proj >= 0
       |              THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY vec_id),
       |probes AS (
       |  SELECT vec_id, bucket FROM buckets
       |  UNION
       |  SELECT vec_id, xor(bucket, CAST(1 AS BIGINT) << CAST(i AS INT)) AS bucket
       |  FROM buckets CROSS JOIN range(0, $planes) r(i)),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM probes x JOIN buckets y
       |    ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
       |scored AS (
       |  SELECT vec_a, vec_b,
       |    round(list_sum(list_transform(range(1, len(a.embedding) + 1),
       |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
       |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
       |       * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
       |            i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6) AS cos_r6
       |  FROM cand JOIN embeddings a ON vec_a = a.vec_id
       |            JOIN embeddings b ON vec_b = b.vec_id)
       |SELECT vec_a, vec_b, cos_r6 FROM scored
       |WHERE cos_r6 >= $tau ORDER BY vec_a, vec_b""".stripMargin

  /** Scored phrase top-k: BM25 with tf = phrase frequency (count of
    * consecutive-position match starts), df = docs containing the phrase.
    */
  def phraseTopK(phrase: Seq[String], k: Int): String = {
    val terms = phrase.flatMap(graft.core.Analyzer.tokenize(_))
    val joins = terms.zipWithIndex.drop(1).map { case (t, i) =>
      s"JOIN pos p$i ON p$i.doc_id = p0.doc_id AND p$i.pos = p0.pos + $i AND p$i.term = '$t'"
    }.mkString("\n")
    s"""WITH pos AS (
       |  SELECT doc_id, u.pos AS pos, u.term AS term FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(t) + 1),
       |             i -> {'pos': i, 'term': t[i]})) AS u
       |    FROM ($toksrc))),
       |starts AS (
       |  SELECT p0.doc_id, count(*) AS ptf
       |  FROM pos p0
       |  $joins
       |  WHERE p0.term = '${terms.head}'
       |  GROUP BY p0.doc_id),
       |dls AS (SELECT doc_id, len(${toks("text")}) AS dl FROM documents),
       |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls),
       |dfp AS (SELECT count(*) AS df FROM starts)
       |SELECT doc_id, round(score, 4) AS score_r4 FROM (
       |  SELECT s.doc_id,
       |         ln(1 + (stats.n_docs - dfp.df + 0.5) / (dfp.df + 0.5)) *
       |         (s.ptf / (s.ptf + 1.2 * (1 - 0.75 + 0.75 * dls.dl / stats.avgdl))) AS score
       |  FROM starts s JOIN dls USING (doc_id) CROSS JOIN stats CROSS JOIN dfp)
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  val mediaMeta: String =
    """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |       md5(text) AS content_md5
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Dense docID assignment demo over documents (stable order by source, doc_id). */
  val denseIds: String =
    """SELECT CAST(row_number() OVER (ORDER BY source, doc_id) - 1 AS BIGINT) AS rid,
      |       doc_id, source
      |FROM documents ORDER BY rid""".stripMargin

  // --- ES constant_score / boosting / regexp / match_bool_prefix -------------

  /** constant_score twin: every doc containing the filter term scores exactly
    * `boost`; index-order (doc_id) tiebreak as in the engine.
    */
  def constantScore(term: String, boost: Double, k: Int): String =
    s"""WITH tok AS (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents)
       |SELECT DISTINCT doc_id, round($boost, 4) AS score_r4 FROM tok
       |WHERE term = '$term' ORDER BY doc_id LIMIT $k""".stripMargin

  /** `boosting` query twin: full positive BM25, multiplied by
    * `negativeBoost` for docs containing the negative term.
    */
  def boostingTopK(posTerms: Seq[String], negTerm: String,
      negativeBoost: Double, k: Int): String = {
    val t = posTerms.flatMap(graft.core.Analyzer.tokenize(_)).distinct.sorted
    s"""WITH dls AS (SELECT doc_id, len(${toks("text")}) AS dl FROM documents),
       |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls),
       |tok AS (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok
       |  WHERE term IN ${inList(t)} GROUP BY doc_id, term),
       |dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |contrib AS (
       |  SELECT tf.doc_id,
       |         ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
       |         (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dls.dl / stats.avgdl))) AS c
       |  FROM tf JOIN dfs USING (term) JOIN dls USING (doc_id) CROSS JOIN stats),
       |scored AS (SELECT doc_id, sum(c) AS sc FROM contrib GROUP BY doc_id),
       |neg AS (SELECT DISTINCT doc_id FROM tok WHERE term = '$negTerm'),
       |demoted AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id IN (SELECT doc_id FROM neg)
       |              THEN sc * $negativeBoost ELSE sc END AS f
       |  FROM scored)
       |SELECT doc_id, round(f, 4) AS fscore_r4
       |FROM demoted ORDER BY f DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** `regexp` query twin: capped term-ordered vocabulary expansion of the
    * anchored pattern, then the unscored disjunction (the wildcardDocs
    * shape with a raw regex).
    */
  def queryRegexp(pattern: String, maxExpansions: Int = 1000): String =
    s"""WITH tok AS (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents),
       |vocab AS (SELECT DISTINCT term FROM tok),
       |exp AS (SELECT term FROM vocab WHERE regexp_matches(term, '^(?:$pattern)$$')
       |        ORDER BY term LIMIT $maxExpansions)
       |SELECT DISTINCT doc_id FROM tok JOIN exp USING (term) ORDER BY doc_id""".stripMargin

  /** match_bool_prefix twin: explicit terms plus the capped term-ordered
    * prefix expansion, each clause scoring with its OWN idf
    * (scoring_boolean rewrite), summed — self-contained SQL, no engine
    * state (the bm25Fuzzy pattern).
    */
  def bm25BoolPrefix(terms: Seq[String], prefix: String, k: Int,
      maxExpansions: Int = 50): String = {
    val t = terms.flatMap(graft.core.Analyzer.tokenize(_)).distinct.sorted
    s"""WITH tok AS (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents),
       |vocab AS (SELECT DISTINCT term FROM tok),
       |exp AS (SELECT term FROM vocab WHERE term LIKE '$prefix%'
       |        ORDER BY term LIMIT $maxExpansions),
       |qt AS (SELECT term FROM exp UNION
       |       SELECT unnest(${t.map(x => s"'$x'").mkString("[", ", ", "]")}) AS term),
       |dls AS (SELECT doc_id, len(${toks("text")}) AS dl FROM documents),
       |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok
       |  WHERE term IN (SELECT term FROM qt) GROUP BY doc_id, term),
       |dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |contrib AS (
       |  SELECT tf.doc_id,
       |         ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
       |         (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dls.dl / stats.avgdl))) AS c
       |  FROM tf JOIN dfs USING (term) JOIN dls USING (doc_id) CROSS JOIN stats)
       |SELECT doc_id, round(sum(c), 4) AS score_r4
       |FROM contrib GROUP BY doc_id
       |ORDER BY sum(c) DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** simple_query_string twin, generated from the SAME parse the engine
    * runs (graft.search.QueryString.parse): term + prefix-expansion clauses
    * score per-term idf; each phrase clause scores as a pseudo-term (phrase
    * tf + phrase df); clause contributions sum per doc BEFORE the top-k
    * cut; must_not docs drop.
    */
  def simpleQueryString(q: String, k: Int, maxExpansions: Int = 50): String = {
    val p = graft.search.QueryString.parse(q)
    val explicit =
      if (p.terms.isEmpty) ""
      else s" OR term IN ${inList(p.terms.sorted)}"
    val prefixPred =
      p.prefixes.sorted.map(pr => s"term LIKE '$pr%'").mkString(" OR ")
    val expCte =
      if (p.prefixes.isEmpty) "exp AS (SELECT NULL AS term WHERE false)"
      else
        s"""exp AS (SELECT term FROM (SELECT DISTINCT term FROM tok) v
           |        WHERE $prefixPred ORDER BY term LIMIT $maxExpansions)""".stripMargin
    val phraseCtes = p.phrases.zipWithIndex.map { case (ph, pi) =>
      val joins = ph.zipWithIndex.drop(1).map { case (t, i) =>
        s"JOIN pos p$i ON p$i.doc_id = p0.doc_id AND p$i.pos = p0.pos + $i AND p$i.term = '$t'"
      }.mkString("\n  ")
      s"""ph${pi}_starts AS (
         |  SELECT p0.doc_id, count(*) AS ptf
         |  FROM pos p0
         |  $joins
         |  WHERE p0.term = '${ph.head}'
         |  GROUP BY p0.doc_id),
         |ph${pi}_df AS (SELECT count(*) AS df FROM ph${pi}_starts),
         |ph${pi}_c AS (
         |  SELECT s.doc_id,
         |         ln(1 + (st.n_docs - d.df + 0.5) / (d.df + 0.5)) *
         |         (s.ptf / (s.ptf + 1.2 * (1 - 0.75 + 0.75 * dls.dl / st.avgdl))) AS c
         |  FROM ph${pi}_starts s JOIN dls USING (doc_id)
         |  CROSS JOIN ph${pi}_df d CROSS JOIN stats st)""".stripMargin
    }
    val posCte =
      if (p.phrases.isEmpty) Nil
      else Seq(
        s"""pos AS (
           |  SELECT doc_id, u.pos AS pos, u.term AS term FROM (
           |    SELECT doc_id,
           |           unnest(list_transform(range(1, len(t) + 1),
           |             i -> {'pos': i, 'term': t[i]})) AS u
           |    FROM (SELECT doc_id, ${toks("text")} AS t FROM documents)))""".stripMargin)
    val termBranch =
      """SELECT doc_id, c FROM contrib"""
    val unions = (termBranch +: p.phrases.indices.map(i =>
      s"SELECT doc_id, c FROM ph${i}_c")).mkString("\n  UNION ALL ")
    val mustNot =
      if (p.mustNot.isEmpty) ""
      else s"\nWHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM tok WHERE term IN ${inList(p.mustNot.sorted)})"
    (Seq(
      s"WITH dls AS (SELECT doc_id, len(${toks("text")}) AS dl FROM documents)",
      "stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls)",
      s"tok AS (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents)",
      expCte,
      s"""tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM tok
         |  WHERE term IN (SELECT term FROM exp)$explicit GROUP BY doc_id, term)""".stripMargin,
      "dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term)",
      s"""contrib AS (
         |  SELECT tf.doc_id,
         |         ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
         |         (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dls.dl / stats.avgdl))) AS c
         |  FROM tf JOIN dfs USING (term) JOIN dls USING (doc_id) CROSS JOIN stats)""".stripMargin)
      ++ posCte ++ phraseCtes).mkString(",\n") +
      s""",
         |allc AS (
         |  $unions),
         |summed AS (SELECT doc_id, sum(c) AS sc FROM allc GROUP BY doc_id)
         |SELECT doc_id, round(sc, 4) AS score_r4 FROM summed$mustNot
         |ORDER BY sc DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  // --- ES aggregation shapes (EsAggs) ----------------------------------------

  def aggComposite(size: Int, after: Option[(String, String)]): String = {
    val pred = after.map { case (l, s) =>
      s"\nWHERE lang > '$l' OR (lang = '$l' AND source > '$s')"
    }.getOrElse("")
    s"""SELECT lang, source, count(*) AS n_docs FROM documents$pred
       |GROUP BY lang, source ORDER BY lang, source LIMIT $size""".stripMargin
  }

  val aggFilters: String =
    """SELECT count(CASE WHEN event_type = 'click' THEN 1 END) AS clicks,
      |       count(CASE WHEN event_type = 'error' THEN 1 END) AS errors,
      |       count(CASE WHEN value > 300.0 THEN 1 END) AS high_value,
      |       count(CASE WHEN event_type = 'purchase' AND value > 100.0 THEN 1 END) AS big_purchases,
      |       count(*) AS total
      |FROM events""".stripMargin

  val aggRange: String =
    """SELECT bucket, count(*) AS n_events, round(avg(value), 4) AS avg_value
      |FROM (SELECT CASE WHEN value < 50.0 THEN '*-50'
      |                  WHEN value < 150.0 THEN '50-150'
      |                  WHEN value < 300.0 THEN '150-300'
      |                  ELSE '300-*' END AS bucket, value
      |      FROM events)
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  val aggExtendedStats: String =
    """SELECT event_type, count(*) AS n,
      |       round(min(value), 4) AS min_v, round(max(value), 4) AS max_v,
      |       round(avg(value), 4) AS avg_v, round(sum(value), 4) AS sum_v,
      |       round(var_pop(value), 4) AS var_v, round(stddev_pop(value), 4) AS std_v
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  def aggTermsByMetric(topN: Int): String =
    s"""SELECT source, count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars
       |FROM documents GROUP BY source
       |ORDER BY avg_chars DESC, source LIMIT $topN""".stripMargin

  def aggRareTerms(maxDocCount: Long): String =
    s"""WITH tok AS (SELECT doc_id, unnest(${toks("text")}) AS term FROM documents),
       |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term)
       |SELECT term, df FROM df WHERE df <= $maxDocCount
       |ORDER BY df ASC, term ASC""".stripMargin

  val aggHistogramPipeline: String =
    """WITH hist AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS n_events
      |  FROM events GROUP BY 1)
      |SELECT day, n_events,
      |       CAST(sum(n_events) OVER (ORDER BY day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_events,
      |       n_events - lag(n_events, 1) OVER (ORDER BY day) AS deriv,
      |       round(avg(n_events) OVER (ORDER BY day
      |         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS mavg7_r4
      |FROM hist ORDER BY day""".stripMargin

  // --- corpus hygiene (Hygiene) ----------------------------------------------

  val repetitionStats: String =
    s"""WITH t AS (SELECT doc_id, ${toks("text")} AS t FROM documents),
       |base AS (SELECT doc_id, len(t) AS n, len(list_distinct(t)) AS nd FROM t),
       |big AS (
       |  SELECT doc_id, concat(t[i], ' ', t[i+1]) AS bg
       |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM t)),
       |mx AS (
       |  SELECT doc_id, max(c) AS m FROM (
       |    SELECT doc_id, bg, count(*) AS c FROM big GROUP BY doc_id, bg)
       |  GROUP BY doc_id)
       |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
       |       round(CASE WHEN b.n = 0 THEN 0.0
       |                  ELSE (b.n - b.nd) * 1.0 / b.n END, 6) AS dup_token_frac_r6,
       |       round(CASE WHEN b.n < 2 THEN 0.0
       |                  ELSE coalesce(mx.m, 0) * 1.0 / (b.n - 1) END, 6) AS top_bigram_frac_r6
       |FROM base b LEFT JOIN mx ON b.doc_id = mx.doc_id
       |ORDER BY b.doc_id""".stripMargin

  /** Decontamination twin over the same token trigrams as the engine (the
    * eval side is the deterministic `doc_id % 97 = 0` holdout).
    */
  val decontaminate: String =
    s"""WITH $shingleCte,
       |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0)
       |SELECT doc_id, count(*) AS n_shared
       |FROM sh JOIN ev USING (s)
       |WHERE doc_id % 97 <> 0
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val splitHash: String =
    """SELECT doc_id,
      |       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
      |            THEN 'holdout' ELSE 'train' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  def stratifiedSample(perStratum: Int): String =
    s"""WITH r AS (
       |  SELECT source,
       |         row_number() OVER (PARTITION BY source
       |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
       |         doc_id
       |  FROM documents)
       |SELECT source, CAST(rn AS BIGINT) AS rn, doc_id FROM r
       |WHERE rn <= $perStratum ORDER BY source, rn""".stripMargin

  /** ES _msearch twin: each sub-query's bm25TopK ranking tagged with its
    * query_id, unioned, ordered (query_id, rounded score DESC, doc_id) —
    * exactly the engine's batched output shape.
    */
  def msearch(queries: Seq[(String, Seq[String])], k: Int): String =
    queries.map { case (qid, terms) =>
      s"SELECT '$qid' AS query_id, doc_id, score_r4 FROM (\n${bm25TopK(terms, k)}\n)"
    }.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
      "\n) ORDER BY query_id ASC, score_r4 DESC, doc_id ASC")

  /** ES rank_feature (saturation): bm25 + boost·x/(x+pivot). */
  def rankFeature(terms: Seq[String], k: Int, field: String, pivot: Double,
      boost: Double): String =
    functionScored(terms, k,
      s"s.score + ($boost * (CAST(d.$field AS DOUBLE) / " +
        s"(CAST(d.$field AS DOUBLE) + $pivot)))")

  /** ES terms_set: per-doc minimum_should_match = 1 + doc_id % 3 (the
    * stored-field stand-in the engine documents).
    */
  def termsSet(terms: Seq[String], k: Int): String = {
    val t = terms.flatMap(graft.core.Analyzer.tokenize(_)).distinct.sorted
    s"""WITH dls AS (
       |  SELECT doc_id, len(${toks("text")}) AS dl FROM documents
       |), stats AS (
       |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls
       |), tok AS (
       |  SELECT doc_id, unnest(${toks("text")}) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok
       |  WHERE term IN ${inList(t)} GROUP BY doc_id, term
       |), dfs AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term
       |), contrib AS (
       |  SELECT tf.doc_id,
       |         ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
       |         (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dls.dl / stats.avgdl))) AS c
       |  FROM tf
       |  JOIN dfs USING (term)
       |  JOIN dls USING (doc_id)
       |  CROSS JOIN stats
       |)
       |SELECT doc_id, round(sum(c), 4) AS score_r4
       |FROM contrib
       |GROUP BY doc_id
       |HAVING count(*) >= 1 + (doc_id % 3)
       |ORDER BY sum(c) DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** Filtered kNN twin: exact cosine top-k within the label stratum. */
  def knnFiltered(probeId: Long, k: Int, labelEq: Int): String =
    s"""WITH p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = $probeId),
       |c AS (
       |  SELECT vec_id,
       |    list_sum(list_transform(range(1, len(embedding) + 1),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(pe[i] AS DOUBLE))) AS dot,
       |    list_sum(list_transform(range(1, len(embedding) + 1),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS na,
       |    list_sum(list_transform(range(1, len(pe) + 1),
       |      i -> CAST(pe[i] AS DOUBLE) * CAST(pe[i] AS DOUBLE))) AS nb
       |  FROM embeddings CROSS JOIN p
       |  WHERE vec_id <> $probeId AND label = $labelEq)
       |SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos_r6
       |FROM c ORDER BY cos_r6 DESC, vec_id LIMIT $k""".stripMargin

  /** Shared CTE prefix of the bigram-LM perplexity twins: per-token units
    * (doc, previous-token-or-NULL, token), unigram counts, totals, bigram
    * counts, per-token log-prob — the exact TextAnalysis.lmPerplexity model
    * (add-one smoothed bigram, first token scored by the unigram LM).
    */
  private val pplCtes: String =
    s"""tok AS (
       |  SELECT doc_id, t FROM (SELECT doc_id, ${toks("text")} AS t FROM documents)
       |  WHERE len(t) > 0
       |), units AS (
       |  SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(t) + 1),
       |             i -> {'w1': CASE WHEN i = 1 THEN NULL ELSE t[i-1] END,
       |                   'w2': t[i]})) AS u
       |    FROM tok)
       |), cf AS (
       |  SELECT w2 AS term, count(*) AS cf FROM units GROUP BY w2
       |), tot AS (
       |  SELECT sum(cf) AS total, count(*) AS v FROM cf
       |), big AS (
       |  SELECT w1, w2, count(*) AS big FROM units WHERE w1 IS NOT NULL
       |  GROUP BY w1, w2
       |), lp AS (
       |  SELECT u.doc_id AS doc_id,
       |    CASE WHEN u.w1 IS NULL THEN ln((cf2.cf + 1.0) / (tot.total + tot.v))
       |         ELSE ln((coalesce(b.big, 0) + 1.0) / (cf1.cf + tot.v)) END AS lp
       |  FROM units u
       |  JOIN cf cf2 ON cf2.term = u.w2
       |  LEFT JOIN cf cf1 ON cf1.term = u.w1
       |  LEFT JOIN big b ON b.w1 = u.w1 AND b.w2 = u.w2
       |  CROSS JOIN tot
       |)""".stripMargin

  /** Bigram-LM perplexity twin (add-one smoothing, unigram first token —
    * the same LM trained on the same corpus).
    */
  val lmPerplexity: String =
    s"""WITH $pplCtes
       |SELECT doc_id, count(*) AS n_tokens, round(exp(-avg(lp)), 4) AS ppl_r4
       |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** CCNet tercile-bucket twin: identical LM, rounded values, quantile
    * interpolation, and CASE boundaries.
    */
  val pplBuckets: String =
    s"""WITH $pplCtes, ppl AS (
       |  SELECT doc_id, round(exp(-avg(lp)), 4) AS ppl_r4 FROM lp GROUP BY doc_id
       |), th AS (
       |  SELECT round(quantile_cont(ppl_r4, 1.0/3), 6) AS t1,
       |         round(quantile_cont(ppl_r4, 2.0/3), 6) AS t2
       |  FROM ppl
       |)
       |SELECT doc_id, ppl_r4,
       |       CASE WHEN ppl_r4 <= t1 THEN 'head'
       |            WHEN ppl_r4 <= t2 THEN 'middle' ELSE 'tail' END AS bucket
       |FROM ppl CROSS JOIN th ORDER BY doc_id""".stripMargin

  /** Domain-mixture sampling twin: same counts → scale → per-domain rate →
    * multiplicative-hash threshold arithmetic, term for term.
    */
  def domainMix(targets: Map[String, Double]): String = {
    val vals = targets.toSeq.sortBy(_._1)
      .map { case (src, w) => s"('$src', $w)" }.mkString(", ")
    s"""WITH cnt AS (
       |  SELECT source, count(*) AS c FROM documents GROUP BY source
       |), tgt(source, w) AS (VALUES $vals),
       |j AS (SELECT source, c, w FROM cnt JOIN tgt USING (source)),
       |sc AS (SELECT min(c / w) AS s FROM j),
       |rates AS (
       |  SELECT source, least(1.0, w * s / c) AS r FROM j CROSS JOIN sc
       |)
       |SELECT doc_id, source
       |FROM documents JOIN rates USING (source)
       |WHERE (((doc_id % 1000000) * 2654435761) % 1000000) / 1000000.0 < r
       |ORDER BY doc_id""".stripMargin
  }

  /** Redaction twin: global regexp_replace + extract-all count. */
  val redactEvents: String =
    """SELECT event_id,
      |       regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS redacted,
      |       CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_redactions
      |FROM events ORDER BY event_id""".stripMargin

  /** ES weighted_avg twin (weight from the JSON payload, regex form). */
  val aggWeightedAvg: String =
    """SELECT event_type,
      |       round(sum(value * w) / sum(w), 4) AS wavg_r4,
      |       round(sum(w), 4) AS sum_w
      |FROM (SELECT event_type, value,
      |        TRY_CAST(NULLIF(regexp_extract(props, '"k":\s*(\d+)', 1), '') AS DOUBLE) AS w
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** ES multi_terms twin: composite-key buckets ranked by count. */
  def aggMultiTerms(topN: Int): String =
    s"""SELECT lang, source, count(*) AS n_docs
       |FROM documents GROUP BY lang, source
       |ORDER BY n_docs DESC, lang ASC, source ASC LIMIT $topN""".stripMargin

  /** Phrase-suggester twin: dictionary (df for candidate order, cf for the
    * LM) recomputed from the corpus, same caps, same add-one bigram LM.
    */
  def suggestPhrase(input: Seq[String], n: Int, maxDist: Int,
      maxExp: Int): String = {
    require(input.length == 2)
    def cand(alias: String, col: String, term: String) =
      s"""$alias AS (
         |  SELECT term AS $col, cf FROM (
         |    SELECT term, cf, df, levenshtein(term, '$term') AS dist FROM cf)
         |  WHERE dist <= $maxDist
         |  ORDER BY dist ASC, df DESC, term ASC LIMIT $maxExp)""".stripMargin
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${toks("text")}) AS term FROM documents
       |), cf AS (
       |  SELECT term, count(*) AS cf, count(DISTINCT doc_id) AS df
       |  FROM tok GROUP BY term
       |), tot AS (
       |  SELECT sum(cf) AS total, count(*) AS v FROM cf
       |),
       |${cand("c1", "w1", input(0))},
       |${cand("c2", "w2", input(1))},
       |big AS (
       |  SELECT t[i] AS w1, t[i+1] AS w2, count(*) AS bg
       |  FROM (SELECT t, unnest(range(1, len(t))) AS i
       |        FROM (SELECT ${toks("text")} AS t FROM documents))
       |  GROUP BY 1, 2
       |), p AS (
       |  SELECT c1.w1, c2.w2, c1.cf AS cf1, coalesce(big.bg, 0) AS bg
       |  FROM c1 CROSS JOIN c2 LEFT JOIN big USING (w1, w2)
       |), s AS (
       |  SELECT w1 AS cand1, w2 AS cand2,
       |         ln((cf1 + 1.0) / (total + v)) + ln((bg + 1.0) / (cf1 + v)) AS s
       |  FROM p CROSS JOIN tot
       |)
       |SELECT cand1, cand2, round(s, 4) AS score_r4
       |FROM s ORDER BY s DESC, cand1 ASC, cand2 ASC LIMIT $n""".stripMargin
  }

  /** _rank_eval twin: same derived judgments, same metric arithmetic.
    * `judgmentTerms` grade relevance; `terms` drive the ranking.
    */
  def rankEval(terms: Seq[String], k: Int,
      judgmentTerms: Seq[String] = Nil): String = {
    val jt = (if (judgmentTerms.nonEmpty) judgmentTerms else terms)
      .flatMap(graft.core.Analyzer.tokenize(_)).distinct.sorted
    val t = terms.flatMap(graft.core.Analyzer.tokenize(_)).distinct.sorted
    s"""WITH dls AS (
       |  SELECT doc_id, len(${toks("text")}) AS dl FROM documents
       |), stats AS (
       |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls
       |), tok AS (
       |  SELECT doc_id, unnest(${toks("text")}) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok
       |  WHERE term IN ${inList(t)} GROUP BY doc_id, term
       |), dfs AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term
       |), contrib AS (
       |  SELECT tf.doc_id,
       |         ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
       |         (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dls.dl / stats.avgdl))) AS c
       |  FROM tf
       |  JOIN dfs USING (term)
       |  JOIN dls USING (doc_id)
       |  CROSS JOIN stats
       |), scores AS (
       |  SELECT doc_id, sum(c) AS score FROM contrib GROUP BY doc_id
       |), topk AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
       |  FROM (SELECT * FROM scores ORDER BY score DESC, doc_id ASC LIMIT $k)
       |), rel AS (
       |  SELECT doc_id,
       |         CAST(len(list_filter(list_distinct(${toks("text")}),
       |           x -> x IN ${inList(jt)})) AS BIGINT) AS rel
       |  FROM documents
       |), hits AS (
       |  SELECT t.r, coalesce(rel.rel, 0) AS rel FROM topk t LEFT JOIN rel USING (doc_id)
       |), ideal AS (
       |  SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id ASC) AS r
       |  FROM (SELECT doc_id, rel FROM rel ORDER BY rel DESC, doc_id ASC LIMIT $k)
       |), m AS (
       |  -- ES precision divides by |retrieved| (<= k), not the requested k
       |  SELECT
       |    coalesce((SELECT count(*) FROM hits WHERE rel >= 2) /
       |      nullif(1.0 * (SELECT count(*) FROM hits), 0.0), 0.0) AS p,
       |    coalesce((SELECT 1.0 / min(r) FROM hits WHERE rel >= 2), 0.0) AS mrr,
       |    (SELECT sum((pow(2, rel) - 1) / (ln(r + 1.0) / ln(2))) FROM hits) AS dcg,
       |    (SELECT sum((pow(2, rel) - 1) / (ln(r + 1.0) / ln(2))) FROM ideal) AS idcg
       |)
       |SELECT round(p, 6) AS p_at_k_r6, round(mrr, 6) AS mrr_r6,
       |       round(CASE WHEN idcg = 0 THEN 0.0 ELSE dcg / idcg END, 6) AS ndcg_r6
       |FROM m""".stripMargin
  }

  /** adjacency_matrix twin: one aggregation row, unpivoted. */
  val aggAdjacency: String =
    """WITH x AS (
      |  SELECT
      |    count(CASE WHEN event_type = 'click' THEN 1 END) AS a,
      |    count(CASE WHEN event_type = 'error' THEN 1 END) AS b,
      |    count(CASE WHEN value > 300.0 THEN 1 END) AS c,
      |    count(CASE WHEN event_type = 'click' AND event_type = 'error' THEN 1 END) AS ab,
      |    count(CASE WHEN event_type = 'click' AND value > 300.0 THEN 1 END) AS ac,
      |    count(CASE WHEN event_type = 'error' AND value > 300.0 THEN 1 END) AS bc
      |  FROM events)
      |SELECT key, n_events FROM (
      |  SELECT 'click' AS key, a AS n_events FROM x
      |  UNION ALL SELECT 'error', b FROM x
      |  UNION ALL SELECT 'high', c FROM x
      |  UNION ALL SELECT 'click&error', ab FROM x
      |  UNION ALL SELECT 'click&high', ac FROM x
      |  UNION ALL SELECT 'error&high', bc FROM x)
      |ORDER BY key""".stripMargin

  /** bucket_selector + bucket_sort twin (HAVING + ranked page). */
  def aggBucketSort(minEvents: Long, topN: Int): String =
    s"""SELECT CAST(ts AS DATE) AS day, count(*) AS n_events
       |FROM events GROUP BY 1 HAVING count(*) >= $minEvents
       |ORDER BY n_events DESC, day ASC LIMIT $topN""".stripMargin

  /** top_metrics twin: argmax by the unique sort key. */
  val aggTopMetrics: String =
    """SELECT event_type, max_by(value, event_id) AS latest_value,
      |       max(event_id) AS latest_event_id
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** percentile_ranks twin: exact percent-at-or-below per threshold.
    * Column suffix = EsAggs.prSuffix (full-value identity, no collisions).
    */
  def aggPercentileRanks(at: Seq[Double]): String = {
    val cols = at.map(x =>
      s"round(count(CASE WHEN value <= $x THEN 1 END) * 100.0 / count(*), 4) AS " +
        s"pr_${graft.operators.EsAggs.prSuffix(x)}")
    s"""SELECT event_type, ${cols.mkString(", ")}
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  /** numeric histogram twin: fixed-interval buckets. */
  def aggHistogramNumeric(interval: Long): String =
    s"""SELECT CAST(floor(value / $interval) AS BIGINT) * $interval AS bucket,
       |       count(*) AS n_events
       |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin

  /** search_as_you_type twin: the corpus token stream expands to edge
    * n-grams (2..5) before tf/df/dl (dl = gram count, the gram field's own
    * stats); query terms match the grams as-is (search analyzer standard).
    */
  def bm25EdgeNgram(terms: Seq[String], k: Int): String = {
    // same edge_search truncation as the engine's query path (Analyzer)
    val t = terms.flatMap(graft.core.Analyzer.analyze(_, "edge_search"))
      .distinct.sorted
    val min = graft.core.Analyzer.EdgeMin
    val max = graft.core.Analyzer.EdgeMax
    s"""WITH grams AS (
       |  SELECT doc_id, substr(w, 1, i) AS term FROM (
       |    SELECT doc_id, w, unnest(range($min, least(len(w), $max) + 1)) AS i
       |    FROM (SELECT doc_id, unnest(${toks("text")}) AS w FROM documents))
       |), dls AS (
       |  -- LEFT JOIN keeps zero-gram docs in n_docs/avgdl, as the engine does
       |  SELECT d.doc_id, coalesce(g.dl, 0) AS dl FROM documents d
       |  LEFT JOIN (SELECT doc_id, count(*) AS dl FROM grams GROUP BY doc_id) g
       |    USING (doc_id)
       |), stats AS (
       |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM grams
       |  WHERE term IN ${inList(t)} GROUP BY doc_id, term
       |), dfs AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term
       |), contrib AS (
       |  SELECT tf.doc_id,
       |         ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) *
       |         (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dls.dl / stats.avgdl))) AS c
       |  FROM tf
       |  JOIN dfs USING (term)
       |  JOIN dls USING (doc_id)
       |  CROSS JOIN stats
       |)
       |SELECT doc_id, round(sum(c), 4) AS score_r4
       |FROM contrib
       |GROUP BY doc_id
       |ORDER BY sum(c) DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** _mget twin: id-list fetch. */
  def mget(ids: Seq[Long]): String =
    s"""SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE doc_id IN (${ids.mkString(", ")}) ORDER BY doc_id""".stripMargin

  // --- ES parent-join family (parent key = doc_id // groupSize) ------------

  /** has_child score_mode=max: parents ranked by their best-scoring child. */
  def hasChildMax(terms: Seq[String], k: Int, groupSize: Int): String =
    s"""${scoresCtePrefix(terms)}
       |SELECT doc_id // $groupSize AS parent, round(max(score), 4) AS score_r4
       |FROM scores GROUP BY 1
       |ORDER BY max(score) DESC, parent ASC LIMIT $k""".stripMargin

  /** has_child score_mode=sum with min_children over MATCHING children. */
  def hasChildSum(terms: Seq[String], k: Int, groupSize: Int,
      minChildren: Int): String =
    s"""${scoresCtePrefix(terms)}
       |SELECT doc_id // $groupSize AS parent, round(sum(score), 4) AS score_r4,
       |       count(*) AS n_children
       |FROM scores GROUP BY 1
       |HAVING count(*) >= $minChildren
       |ORDER BY sum(score) DESC, parent ASC LIMIT $k""".stripMargin

  /** has_parent (score: false): children of groups containing a doc that
    * matches ALL terms.
    */
  def hasParent(parentTerms: Seq[String], groupSize: Int): String = {
    val t = parentTerms.flatMap(graft.core.Analyzer.tokenize(_)).distinct.sorted
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${toks("text")}) AS term FROM documents
       |), matching AS (
       |  SELECT doc_id FROM tok WHERE term IN ${inList(t)}
       |  GROUP BY doc_id HAVING count(DISTINCT term) = ${t.size}
       |), parents AS (
       |  SELECT DISTINCT doc_id // $groupSize AS parent FROM matching
       |)
       |SELECT d.doc_id, d.doc_id // $groupSize AS parent
       |FROM documents d JOIN parents p ON d.doc_id // $groupSize = p.parent
       |ORDER BY d.doc_id""".stripMargin
  }

  /** has_child top parents with inner_hits: each top parent's top-n matching
    * children, ranked (score DESC, doc_id ASC) within the parent.
    */
  def innerHits(terms: Seq[String], kParents: Int, nPer: Int,
      groupSize: Int): String =
    s"""${scoresCtePrefix(terms)},
       |parents AS (
       |  SELECT doc_id // $groupSize AS parent, max(score) AS pscore
       |  FROM scores GROUP BY 1
       |  ORDER BY max(score) DESC, parent ASC LIMIT $kParents
       |), ranked AS (
       |  SELECT s.doc_id // $groupSize AS parent, p.pscore, s.doc_id, s.score,
       |         row_number() OVER (PARTITION BY s.doc_id // $groupSize
       |                            ORDER BY s.score DESC, s.doc_id ASC) AS rnk
       |  FROM scores s JOIN parents p ON s.doc_id // $groupSize = p.parent
       |)
       |SELECT parent, round(pscore, 4) AS parent_score_r4, doc_id,
       |       round(score, 4) AS score_r4, rnk
       |FROM ranked WHERE rnk <= $nPer
       |ORDER BY parent_score_r4 DESC, parent ASC, rnk ASC""".stripMargin

  /** parent_id query: children of one parent (derived key). */
  def parentIdQuery(parent: Long, groupSize: Int): String =
    s"""SELECT doc_id, doc_id // $groupSize AS parent FROM documents
       |WHERE doc_id // $groupSize = $parent ORDER BY doc_id""".stripMargin

  /** pinned query: pins first in given order, organic (excluding pins)
    * fills the rest.
    */
  def pinnedTopK(pins: Seq[Long], terms: Seq[String], k: Int): String = {
    val pinRows = pins.zipWithIndex.map { case (d, i) =>
      s"(CAST(${i + 1} AS BIGINT), CAST($d AS BIGINT))"
    }.mkString(", ")
    val nOrganic = k - pins.size
    s"""${scoresCtePrefix(terms)},
       |pins(rnk, doc_id) AS (VALUES $pinRows),
       |organic AS (
       |  SELECT doc_id, score FROM scores
       |  WHERE doc_id NOT IN (${pins.mkString(", ")})
       |  ORDER BY score DESC, doc_id ASC LIMIT $nOrganic
       |)
       |SELECT rnk, doc_id, TRUE AS pinned FROM pins
       |UNION ALL
       |SELECT ${pins.size} + row_number() OVER (ORDER BY score DESC, doc_id ASC),
       |       doc_id, FALSE AS pinned
       |FROM organic
       |ORDER BY rnk""".stripMargin
  }

  // --- _termvectors / _count / distance_feature ----------------------------

  /** _termvectors with term_statistics: one doc's tf + corpus df/ttf. */
  def termVectors(docId: Long): String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${toks("text")}) AS term FROM documents
       |), tf AS (
       |  SELECT term, count(*) AS tf FROM tok WHERE doc_id = $docId GROUP BY term
       |), stats AS (
       |  SELECT term, count(DISTINCT doc_id) AS df, count(*) AS ttf
       |  FROM tok GROUP BY term
       |)
       |SELECT tf.term, tf.tf, stats.df, stats.ttf
       |FROM tf JOIN stats USING (term) ORDER BY term""".stripMargin

  /** _count of a term conjunction. */
  def countMatching(terms: Seq[String]): String = {
    val t = terms.flatMap(graft.core.Analyzer.tokenize(_)).distinct.sorted
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${toks("text")}) AS term FROM documents
       |)
       |SELECT count(*) AS n FROM (
       |  SELECT doc_id FROM tok WHERE term IN ${inList(t)}
       |  GROUP BY doc_id HAVING count(DISTINCT term) = ${t.size}
       |)""".stripMargin
  }

  /** distance_feature: additive `boost * pivot / (pivot + |x - origin|)`. */
  def distanceFeature(terms: Seq[String], k: Int, field: String,
      origin: Double, pivot: Double, boost: Double): String =
    functionScored(terms, k,
      s"s.score + $boost * ($pivot / ($pivot + abs(CAST(d.$field AS DOUBLE) - $origin)))")

  // --- remaining agg shapes ------------------------------------------------

  /** auto_date_histogram: the interval pick mirrors the engine's pinned
    * epoch-second ladder (hour → day → month), then one date_trunc group.
    */
  def autoDateHistogram(targetBuckets: Int): String =
    s"""WITH span AS (
       |  SELECT CAST(epoch(min(ts)) AS BIGINT) AS lo,
       |         CAST(epoch(max(ts)) AS BIGINT) AS hi FROM events
       |), iv AS (
       |  SELECT CASE WHEN (hi - lo) // 3600 + 1 <= $targetBuckets THEN 'hour'
       |              WHEN (hi - lo) // 86400 + 1 <= $targetBuckets THEN 'day'
       |              ELSE 'month' END AS unit FROM span
       |)
       |SELECT CASE unit WHEN 'hour' THEN date_trunc('hour', ts)
       |                 WHEN 'day' THEN date_trunc('day', ts)
       |                 ELSE date_trunc('month', ts) END AS bucket,
       |       count(*) AS n_events, unit
       |FROM events CROSS JOIN iv
       |GROUP BY 1, unit ORDER BY bucket""".stripMargin

  /** date_range buckets: [from, to) with open unbounded ends. */
  def dateRange(edges: Seq[String]): String = {
    val sorted = edges.sorted
    val bounds = (None +: sorted.map(Option(_))) :+ None
    val cases = bounds.sliding(2).map {
      case Seq(from, to) =>
        val cond = Seq(
          from.map(f => s"ts >= TIMESTAMP '$f'"),
          to.map(t => s"ts < TIMESTAMP '$t'")).flatten match {
          case Nil => "TRUE"
          case cs => cs.mkString(" AND ")
        }
        val label = s"${from.getOrElse("*")}..${to.getOrElse("*")}"
        s"WHEN $cond THEN '$label'"
    }.mkString("\n         ")
    s"""SELECT CASE $cases END AS bucket,
       |       count(*) AS n_events, round(sum(value), 4) AS sum_value_r4
       |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin
  }

  /** boxplot + median_absolute_deviation over events.value (exact
    * linear-interpolation quantiles — DuckDB quantile_cont = Spark
    * percentile).
    */
  def boxplotMad: String =
    s"""WITH med AS (SELECT quantile_cont(value, 0.5) AS m FROM events)
       |SELECT round(min(value), 4) AS min_v,
       |       round(quantile_cont(value, 0.25), 4) AS q1,
       |       round(quantile_cont(value, 0.5), 4) AS q2,
       |       round(quantile_cont(value, 0.75), 4) AS q3,
       |       round(max(value), 4) AS max_v,
       |       round(quantile_cont(abs(value - med.m), 0.5), 4) AS mad
       |FROM events CROSS JOIN med GROUP BY med.m""".stripMargin

  /** diversified_sampler: first maxPerKey docs per source, then the
    * sub-agg.
    */
  def diversifiedSampler(maxPerKey: Int): String =
    s"""WITH ranked AS (
       |  SELECT source, n_chars,
       |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
       |  FROM documents
       |)
       |SELECT source, count(*) AS n_sampled, round(avg(n_chars), 4) AS avg_chars_r4
       |FROM ranked WHERE rn <= $maxPerKey
       |GROUP BY source ORDER BY source""".stripMargin

  /** _analyze: tokens + 0-based positions of a literal string under the
    * standard chain (parallel unnests zip positionally in DuckDB).
    */
  def analyzeText(sample: String): String = {
    val lit = "'" + sample.replace("'", "''") + "'"
    s"""WITH t AS (SELECT ${toks(lit)} AS t)
       |SELECT CAST(unnest(range(0, len(t))) AS BIGINT) AS pos,
       |       unnest(t) AS token
       |FROM t ORDER BY pos""".stripMargin
  }

  /** DSIR importance weights (hashed unigram+bigram features, first md5
    * hex byte mod nBuckets, add-1 smoothing) — the exact closed-form twin
    * of graft.operators.Dsir.
    */
  def dsirWeights(targetSource: String, k: Int, nBuckets: Int = 64): String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, ${toks("text")} AS t FROM documents
       |), ngrams AS (
       |  SELECT doc_id, source,
       |         unnest(list_concat(t, list_transform(range(1, len(t)),
       |                i -> concat(t[i], '_', t[i+1])))) AS ng
       |  FROM toks
       |), feats AS (
       |  SELECT doc_id, source = '$targetSource' AS is_target,
       |         ((strpos('$Hex', substr(md5(ng), 1, 1)) - 1) * 16 +
       |          strpos('$Hex', substr(md5(ng), 2, 1)) - 1) % $nBuckets AS bucket
       |  FROM ngrams
       |), census AS (
       |  SELECT bucket, count(*) AS rc,
       |         sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS tc
       |  FROM feats GROUP BY bucket
       |), tot AS (
       |  SELECT sum(rc) AS rt, sum(tc) AS tt FROM census
       |), ratio AS (
       |  SELECT bucket, ln((tc + 1.0) / (tt + $nBuckets)) -
       |                 ln((rc + 1.0) / (rt + $nBuckets)) AS lr
       |  FROM census CROSS JOIN tot
       |)
       |SELECT doc_id, round(sum(lr), 6) AS logw_r6
       |FROM feats JOIN ratio USING (bucket)
       |GROUP BY doc_id
       |ORDER BY sum(lr) DESC, doc_id ASC LIMIT $k""".stripMargin

  private val Hex = "0123456789abcdef"

  /** SemDeDup oracle from the engine-recorded cluster assignment: exact
    * cosine re-verification of every within-cluster (lower-id, higher-id)
    * pair, kept_by = the LOWEST mate clearing tau. The assignment itself is
    * the only trusted engine state (k-means determinism is IvfSpec-pinned —
    * the same contract as ann_ivf_topk's candidate set).
    */
  def semanticDups(assignment: Seq[(Long, Int)], tau: Double): String = {
    // CAST: VALUES would infer INTEGER for small ids — the engine's vec_id
    // is int64 and the driver compare is schema-strict
    val values = assignment
      .map { case (id, c) => s"(CAST($id AS BIGINT), $c)" }.mkString(", ")
    s"""WITH asg(vec_id, list_id) AS (VALUES $values),
       |pairs AS (
       |  SELECT a.vec_id AS keep_id, b.vec_id AS dup_id,
       |    list_sum(list_transform(range(1, len(ea.embedding) + 1),
       |      i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))) AS dot,
       |    list_sum(list_transform(range(1, len(ea.embedding) + 1),
       |      i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE))) AS na,
       |    list_sum(list_transform(range(1, len(eb.embedding) + 1),
       |      i -> CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))) AS nb
       |  FROM asg a JOIN asg b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
       |  JOIN embeddings ea ON ea.vec_id = a.vec_id
       |  JOIN embeddings eb ON eb.vec_id = b.vec_id
       |)
       |SELECT dup_id AS vec_id, min(keep_id) AS kept_by
       |FROM pairs
       |WHERE round(dot / (sqrt(na) * sqrt(nb)), 6) >= $tau
       |GROUP BY dup_id ORDER BY vec_id""".stripMargin
  }
}
