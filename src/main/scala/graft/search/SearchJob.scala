package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}

/** spark-submit entry #2: query a built index.
  *
  * {{{
  * spark-submit --class graft.search.SearchJob <jar> \
  *   --index <index root> --query "join window vector" [--k 10] \
  *   [--mode wand|exhaustive] [--hydrate] [--robust-bounds]
  *   [--min-match M] [--from N] [--after SCORE:DOC_ID]
  *   [--filter FIELD:VALUE]... [--range FIELD:LO..HI] [--must-not TERM]...
  *   [--explain] [--group-by-conv max|sum]
  *
  * `--robust-bounds` forces WAND block bounds recomputed against the current
  * avgdl; indexes marked incremental (streaming-grown) use them automatically.
  * `--min-match M` requires ≥ M distinct query terms per doc (ES
  * minimum_should_match; M = #terms is match operator=and). `--from N`
  * returns ranks (N, N+k] (ES from/size pagination). `--after S:D` is keyset
  * pagination (ES search_after): the page strictly after cursor (score=S,
  * doc_id=D) — O(k) at any depth; the cursor is the previous page's last hit.
  * Query terms accept ES boost syntax (`join^2.5`). All flags compose on the
  * wand path, which is one [[SearchEngine.topKWand]] call (`--from` is its
  * `offset`, `--must-not` its [[SearchEngine.mustNotDocs]] set); other modes
  * reject flags they cannot honor instead of dropping them silently.
  *
  * Round-3 modes: `--mode wildcard` treats --query as an ES `*`/`?` pattern
  * (unscored doc set); `--mode mlt` runs more_like_this for seed doc
  * `--seed ID` read from `--corpus DIR` (the hydration corpus); `--explain`
  * (plain wand top-k only: no paging, filter, must-not, min-match or robust
  * bounds) prints the per-term score breakdown of the top-k instead of the
  * hits (ES `_explain`).
  * }}}
  */
object SearchJob {

  final case class Args(
      index: String = "",
      query: String = "",
      k: Int = 10,
      mode: String = "wand",
      hydrate: Boolean = false,
      robustBounds: Boolean = false,
      minMatch: Int = 1,
      from: Int = 0,
      after: Option[(Double, Long)] = None,
      filters: Seq[String] = Nil,
      range: Option[(String, String, String)] = None,
      mustNot: Seq[String] = Nil,
      explain: Boolean = false,
      corpus: String = "",
      seed: Long = -1L,
      groupByConv: String = "")

  def parse(argv: Array[String]): Args = {
    var a = Args()
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--index" => a = a.copy(index = argv(i + 1)); i += 2
        case "--query" => a = a.copy(query = argv(i + 1)); i += 2
        case "--k" => a = a.copy(k = argv(i + 1).toInt); i += 2
        case "--mode" => a = a.copy(mode = argv(i + 1)); i += 2
        case "--hydrate" => a = a.copy(hydrate = true); i += 1
        case "--robust-bounds" => a = a.copy(robustBounds = true); i += 1
        case "--min-match" => a = a.copy(minMatch = argv(i + 1).toInt); i += 2
        case "--from" => a = a.copy(from = argv(i + 1).toInt); i += 2
        case "--after" =>
          val Array(s, d) = argv(i + 1).split(":", 2)
          a = a.copy(after = Some((s.toDouble, d.toLong))); i += 2
        // repeatable: `--filter role:assistant --filter tool:bash` (keyword
        // postings previously indexed by KeywordIndex.add)
        case "--filter" => a = a.copy(filters = a.filters :+ argv(i + 1)); i += 2
        // ES bool.filter.range over a corpus metadata column:
        // `--range ts:2026-01-01..2026-02-01` or `--range turn_idx:0..10`
        // (inclusive bounds — '..' separates them, so timestamp values may
        // contain ':'; docIDs come from a range-pruned corpus scan)
        // repeatable: ES bool.must_not terms — scored results exclude any
        // doc matching them (analyzed; never contributes to scoring)
        case "--must-not" => a = a.copy(mustNot = a.mustNot :+ argv(i + 1)); i += 2
        case "--range" =>
          val Array(f, bounds) = argv(i + 1).split(":", 2)
          val Array(lo, hi) = bounds.split("\\.\\.", 2)
          a = a.copy(range = Some((f, lo, hi))); i += 2
        case "--explain" => a = a.copy(explain = true); i += 1
        case "--corpus" => a = a.copy(corpus = argv(i + 1)); i += 2
        case "--seed" => a = a.copy(seed = argv(i + 1).toLong); i += 2
        case "--group-by-conv" => a = a.copy(groupByConv = argv(i + 1)); i += 2
        case other => throw new IllegalArgumentException(s"unknown arg: $other")
      }
    }
    require(a.index.nonEmpty, "--index is required")
    require(a.query.nonEmpty || a.mode == "mlt", "--query is required")
    require(a.from == 0 || a.after.isEmpty, "--from and --after are mutually exclusive")
    require(a.mode == "wand" || (a.from == 0 && a.after.isEmpty && a.minMatch <= 1 &&
      !a.robustBounds && a.filters.isEmpty && !a.explain && a.range.isEmpty &&
      a.mustNot.isEmpty),
      "--from/--after/--min-match/--robust-bounds/--filter/--range/--must-not/--explain require --mode wand")
    require(a.mode != "mlt" || a.seed >= 0,
      "--mode mlt requires --seed (--corpus optional: defaults to the index's own corpus)")
    require(!a.explain || (a.from == 0 && a.after.isEmpty && a.minMatch <= 1 &&
      !a.robustBounds && a.filters.isEmpty && a.range.isEmpty && a.mustNot.isEmpty),
      "--explain reports the plain top-k; drop --from/--after/--min-match/" +
        "--robust-bounds/--filter/--range/--must-not")
    require(a.groupByConv.isEmpty || Set("max", "sum")(a.groupByConv),
      "--group-by-conv takes max or sum")
    require(a.groupByConv.isEmpty || (a.mode == "wand" && !a.explain &&
      a.from == 0 && a.after.isEmpty && !a.hydrate),
      "--group-by-conv composes only with plain wand search (no --hydrate: results are conversations)")
    a
  }

  /** The rows `a` asks for: hits (hydrated with `--hydrate`), an explain
    * breakdown, or conversations.
    */
  def hits(spark: SparkSession, a: Args): DataFrame = {
    val terms = a.query.split("\\s+").toSeq.filter(_.nonEmpty)
    val hits = a.mode match {
      case "wand" if a.groupByConv == "max" =>
        Conversations.topByMax(spark, a.index, terms, a.k)
      case "wand" if a.groupByConv == "sum" =>
        Conversations.topBySum(spark, a.index, terms, a.k)
      case "wand" if a.explain =>
        SearchEngine.explainTopK(spark, a.index, terms, a.k)
      case "wand" =>
        // range filter: allowed docIDs from a range-pruned scan of the
        // index's own stored corpus metadata (corpus_sorted)
        val allowed = a.range.map { case (f, lo, hi) =>
          import org.apache.spark.sql.functions.{col, lit}
          val paths = graft.io.Catalog.IndexPaths(a.index)
          // --range reads the builder's stored corpus metadata; an index built
          // through the library API (Indexer.buildFromDocs) has none — fail
          // with a actionable message, not an opaque parquet path error
          require(graft.io.Fs.exists(paths.corpusSorted),
            s"--range needs ${paths.corpusSorted} (written by IndexBuildJob); " +
              "this index has no stored corpus metadata")
          val corpus = graft.io.Catalog.readNumbered(spark, paths).toDF()
          // bounds cast to the COLUMN's type (never the column to string:
          // lexicographic "10" < "2" would corrupt numeric ranges) — the
          // typed comparison pushes to the parquet scan
          val dt = corpus.schema(f).dataType
          corpus.filter(col(f) >= lit(lo).cast(dt) && col(f) <= lit(hi).cast(dt))
            .select(col("doc_id"))
        }
        // ES from/size: the top from+k, ranks (from, from+k] kept
        SearchEngine.topKWand(spark, a.index, terms, a.from + a.k,
          robustBounds = a.robustBounds, minMatch = a.minMatch, after = a.after,
          filters = a.filters, allowedDocs = allowed,
          excludedDocs = SearchEngine.mustNotDocs(spark, a.index, a.mustNot))
          .offset(a.from)
      case "exhaustive" => SearchEngine.topKExhaustive(spark, a.index, terms, a.k)
      case "wildcard" => TermQueries.wildcard(spark, a.index, a.query.trim)
      case "mlt" => MoreLikeThis.topK(spark, a.index, a.corpus, a.seed, a.k)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    if (a.hydrate) SearchEngine.hydrate(spark, a.index, hits) else hits
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val b = SparkSession.builder().appName("graft-search")
    if (!sys.props.contains("spark.master")) b.master("local[*]")
    val spark = b.config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    hits(spark, a).collect().foreach { r =>
      println(r.schema.fieldNames.zip(r.toSeq)
        .map { case (n, v) => s""""$n":${format(v)}""" }
        .mkString("{", ",", "}"))
    }
    spark.stop()
  }

  private def format(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case null => "null"
    case n: java.lang.Number => n.toString
    case b: java.lang.Boolean => b.toString
    case x => "\"" + x.toString + "\"" // timestamps etc.
  }
}
