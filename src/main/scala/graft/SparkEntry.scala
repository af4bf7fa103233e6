package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{DocIds, TermFreqs}
import graft.io.Catalog
import graft.operators.{Curation, Dedup, Embeddings, EsAggs, Hygiene, Multimodal, Phrase, Relational, TextAnalysis}
import graft.search.{Aggregations, Booleans, BruteForce, FunctionScore, MoreLikeThis, Percolator, QueryString, SearchEngine, TermQueries}
import graft.search.SearchEngine.{rounded, topKWand}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is runnable standalone over the sfDir parquet
  * tables; every key with a [[oracleSql]] twin is replayed by the driver in
  * DuckDB on the same files and compared. Column names/aliases match the SQL
  * exactly (the compare sorts columns by name before hashing).
  */
object SparkEntry {

  // The reference query set over `documents` (FIXTURES.md §Q): head terms
  // join/hash/row; mid window/stream; zebra is out-of-vocabulary.
  private val K = 10

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * index-backed BM25 top-10 for the validated 3-term query.
    */
  def entry(spark: SparkSession): DataFrame = {
    val idx = IndexCache.documentsIndex(spark, "/root/testdata/sf0.001")
    rounded(topKWand(spark, idx.paths.root, Seq("join", "window", "vector"), K))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- BM25 top-k: engine (index) path -----------------------------------
    "bm25_topk" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      rounded(topKWand(s, idx.paths.root, Seq("join", "window", "vector"), K))
    }),
    "bm25_single_term" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      rounded(topKWand(s, idx.paths.root, Seq("join"), K))
    }),
    "bm25_partial_miss" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      rounded(topKWand(s, idx.paths.root, Seq("join", "zebra"), K))
    }),
    "bm25_empty" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      rounded(topKWand(s, idx.paths.root, Seq("zebra"), K))
    }),
    // scored conjunction / minimum_should_match / pagination (ES match
    // operator=and, bool should + mmm, from/size)
    "bm25_match_and" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      rounded(topKWand(s, idx.paths.root, Seq("join", "hash"), K, minMatch = 2))
    }),
    "bm25_should_mm" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      rounded(topKWand(s, idx.paths.root,
        Seq("join", "window", "vector"), K, minMatch = 2))
    }),
    "bm25_from_size" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      rounded(topKWand(s, idx.paths.root,
        Seq("join", "window", "vector"), K + K).offset(K))
    }),
    // keyset deep pagination (ES search_after): page 2 fetched via the
    // (score, doc_id) cursor of page 1's last hit — O(k) per page at any
    // depth, unlike from/size
    "bm25_search_after" -> ((s, dir) => {
      import s.implicits._
      val idx = IndexCache.documentsIndex(s, dir)
      val q = Seq("join", "window", "vector")
      topKWand(s, idx.paths.root, q, K)
        .as[graft.model.Hit].collect().lastOption match {
        case Some(cursor) => rounded(topKWand(
          s, idx.paths.root, q, K, after = Some((cursor.score, cursor.doc_id))))
        case None => s.emptyDataset[(Long, Double)].toDF("doc_id", "score_r4")
      }
    }),
    // per-term boosts (ES `term^w`): weight multiplies the idf, flowing
    // through WAND bounds rank-safely
    "bm25_boosted" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      rounded(topKWand(s, idx.paths.root,
        Seq("join^3.0", "window", "vector^0.5"), K))
    }),
    // hydration join (§2 row 18): top-k hits joined back to doc metadata —
    // broadcast-hash join, k rows on the build side
    "bm25_topk_hydrated" -> ((s, dir) => {
      import s.implicits._
      val idx = IndexCache.documentsIndex(s, dir)
      val hits = rounded(topKWand(s, idx.paths.root,
        Seq("join", "window", "vector"), K))
      broadcast(hits)
        .join(Catalog.readTable(s, dir, "documents")
          .select($"doc_id", $"source", $"n_chars"), "doc_id")
        .select($"doc_id", $"score_r4", $"source", $"n_chars")
        .orderBy($"score_r4".desc, $"doc_id".asc)
    }),
    // ES bool filter context: scored match restricted to a keyword-field
    // value (synthetic `field:value` postings, required non-scoring WAND
    // cursors; BM25 stats stay corpus-wide — filters never change scoring)
    "bm25_filtered" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      IndexCache.keywordField(s, dir, "source")
      rounded(topKWand(s, idx.paths.root,
        Seq("join", "window", "vector"), K, filters = Seq("source:src3")))
    }),
    // ES function_score/field_value_factor: bm25 * log10(1 + 0.01*n_chars)
    // over EVERY matching doc (pruned-exhaustive + metadata join)
    "bm25_fvf" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      FunctionScore.fieldValueFactor(s, idx.paths.root, dir,
        Seq("join", "window", "vector"), K,
        field = "n_chars", factor = 0.01, modifier = "log1p",
        missing = 1.0, boostMode = "multiply")
    }),
    // ES function_score gauss decay on a numeric field (dates decay the
    // same way on epoch values): curve through 0.5 at |n_chars-280|=50
    "bm25_decay" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      FunctionScore.decay(s, idx.paths.root, dir,
        Seq("join", "window", "vector"), K,
        field = "n_chars", origin = 280.0, scale = 50.0, offset = 0.0,
        decayAt = 0.5, fn = "gauss", boostMode = "multiply")
    }),
    // ES `english` analyzer: stopword removal + Porter stemming at BOTH
    // index and query time (meta-pinned). Surface-form query terms
    // ("joins", "windows") conflate onto the stemmed postings. The oracle
    // is generated from the recorded corpus vocabulary -> (is_stop, stem)
    // table (DuckDB has no Porter; the token_counts_bpe pattern).
    "bm25_english" -> ((s, dir) => {
      val idx = IndexCache.englishIndex(s, dir)
      // the oracle-generation vocabulary (standard-analyzed distinct corpus
      // tokens) IS the standard documents index's dictionary term set —
      // read it from the build artifact (memoized; zero-job under the dict
      // byte gate) instead of re-tokenizing the corpus per query (r7)
      val docIdx = IndexCache.documentsIndex(s, dir)
      val vocab = graft.io.Catalog
        .readDictionary(s, docIdx.paths).collect().map(_.term).sorted
      lastEnglishVocab = Some(vocab.toSeq.map(w =>
        (w, graft.core.En.Stopwords.contains(w), graft.core.En.stem(w))))
      rounded(topKWand(s, idx.paths.root,
        Seq("joins", "windows", "vectors"), K))
    }),
    // INDEX-TIME synonyms (Lucene contraction `merge => join` during
    // analysis): df/cf/stats reflect the merged group — semantics
    // query-time SynonymQuery cannot express (it blends df per query; this
    // bakes union df into the index). Query terms canonicalize through the
    // same stored map (meta.synonyms), so querying 'merge' ≡ 'join'.
    "bm25_synonyms_indexed" -> ((s, dir) => {
      val idx = IndexCache.synonymsIndex(s, dir)
      rounded(topKWand(s, idx.paths.root, Seq("merge", "window"), K))
    }),
    // query-time synonyms (Lucene SynonymQuery): {join, merge} as one
    // pseudo-term (max df, summed tf) + plain 'window'
    "bm25_synonyms" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      SearchEngine.synonymTopK(s, idx.paths.root,
        Seq(Seq("join", "merge"), Seq("window")), K)
    }),
    // ES field-sorted search (sort: [{n_chars: desc}]): unscored match +
    // metadata join + TakeOrdered — sorting never scores, as in ES
    "sort_by_field" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      SearchEngine.topKByField(s, idx.paths.root, dir, Seq("join"), "n_chars", K)
    }),
    // ES scored fuzzy (rewrite: scoring_boolean): dictionary expansion as a
    // bool-should of term queries, each with its own idf, summed via WAND
    "bm25_fuzzy" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      TermQueries.fuzzyScored(s, idx.paths.root, "joln", K, maxDist = 2)
    }),
    // ES bool must_not composed with a scored match: excluded docIDs from
    // the must_not terms' pruned postings ride the tombstone aux cogroup
    "bm25_must_not" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      rounded(topKWand(s, idx.paths.root,
        Seq("join", "window", "vector"), K,
        excludedDocs = SearchEngine.mustNotDocs(s, idx.paths.root, Seq("stream"))))
    }),
    // ES terms query in filter context (OR within the field): allowed set =
    // union of the values' keyword postings, fed as the range-filter path
    "bm25_terms_filter" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      IndexCache.keywordField(s, dir, "source")
      val allowed = graft.search.Booleans.or(s, idx.paths.root,
        Seq("source:src1", "source:src2"))
      rounded(topKWand(s, idx.paths.root,
        Seq("join", "window", "vector"), K, allowedDocs = Some(allowed)))
    }),
    // ES bool.filter.range over a numeric metadata field composed with the
    // scored query: allowed docIDs from a range-pruned metadata scan feed
    // the shard scorer's exact eval-time filter (full-corpus stats, as ES)
    "bm25_filtered_range" -> ((s, dir) => {
      import s.implicits._
      val idx = IndexCache.documentsIndex(s, dir)
      val allowed = Catalog.readTable(s, dir, "documents")
        .filter($"n_chars".between(250L, 330L)).select($"doc_id")
      rounded(topKWand(s, idx.paths.root,
        Seq("join", "window", "vector"), K, allowedDocs = Some(allowed)))
    }),
    // ES significant_terms (JLH): terms overrepresented in 'join' docs
    "sig_terms" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      Aggregations.significantTerms(s, idx.paths.root, dir, "join", 10)
    }),
    // ES top_hits under a terms agg: best 3 hits per source facet
    "top_hits_facet" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      Aggregations.topHitsByFacet(s, idx.paths.root, dir,
        Seq("join", "window", "vector"), 3)
    }),
    // ES collapse: one best hit per source value, top-k of the collapsed set
    "collapse_source" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      Aggregations.collapseBySource(s, idx.paths.root, dir,
        Seq("join", "window", "vector"), K)
    }),
    // ES more_like_this: seed doc 0's top tf·idf terms -> scored disjunction
    "bm25_mlt" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      MoreLikeThis.topK(s, idx.paths.root, dir, seedDoc = 0L, k = K,
        maxQueryTerms = 5, minTermFreq = 1, minDocFreq = 2)
    }),
    // ES multi_match best_fields: text + title subfield (first 8 tokens),
    // each with its OWN stats, combined per doc as max(text, 1.5*title)
    "bm25_multi_match" -> ((s, dir) => {
      val tx = IndexCache.documentsIndex(s, dir)
      val ti = IndexCache.titleIndex(s, dir)
      SearchEngine.multiMatchTopK(s, tx.paths.root, ti.paths.root,
        Seq("join", "window", "vector"), K, titleBoost = 1.5)
    }),
    // multi_match most_fields: SUM of per-field BM25 (each field's own stats)
    "bm25_most_fields" -> ((s, dir) => {
      val tx = IndexCache.documentsIndex(s, dir)
      val ti = IndexCache.titleIndex(s, dir)
      SearchEngine.multiMatchMostFields(s, tx.paths.root, ti.paths.root,
        Seq("join", "window", "vector"), K, titleBoost = 1.5)
    }),
    // multi_match cross_fields: per-term idf blended across fields (max df),
    // dis_max per term over the fields, summed — BlendedTermQuery semantics
    "bm25_cross_fields" -> ((s, dir) => {
      val tx = IndexCache.documentsIndex(s, dir)
      val ti = IndexCache.titleIndex(s, dir)
      SearchEngine.multiMatchCrossFields(s, tx.paths.root, ti.paths.root,
        Seq("join", "window", "vector"), K, tieBreaker = 0.3)
    }),
    // BM25F: field-weighted tf summed before saturation (title weight 3x)
    "bm25f_topk" -> ((s, dir) => {
      val tx = IndexCache.documentsIndex(s, dir)
      val ti = IndexCache.titleIndex(s, dir)
      graft.search.Bm25F.topK(s, tx.paths.root, ti.paths.root,
        Seq("join", "window", "vector"), K)
    }),
    // dis_max with tie_breaker: max + 0.3*min of the per-field scores
    "bm25_dis_max_tb" -> ((s, dir) => {
      val tx = IndexCache.documentsIndex(s, dir)
      val ti = IndexCache.titleIndex(s, dir)
      SearchEngine.multiMatchTopK(s, tx.paths.root, ti.paths.root,
        Seq("join", "window", "vector"), K, titleBoost = 1.5, tieBreaker = 0.3)
    }),
    // ES term suggester: corrections for a misspelled term, dictionary-only
    "suggest_term" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      TermQueries.suggest(s, idx.paths.root, "jion", 5, 2)
    }),
    // ES wildcard query (unscored filter context, dictionary-expanded)
    "query_wildcard" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      TermQueries.wildcard(s, idx.paths.root, "*or*")
    }),
    // ES _stats/_cat analog: corpus-derivable index statistics
    "index_stats" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      graft.index.IndexStats.corpusFacts(s, idx.paths.root)
    }),
    // ES percolator: stored queries matched against every incoming doc —
    // one narrow broadcast pass, no shuffle (reverse search / alerting)
    "percolate" -> ((s, dir) =>
      Percolator.percolateTable(s, dir, Percolator.DriverQueries)),
    // ES _delete_by_query, soft-delete phase: tombstoned docs excluded from
    // results, surviving scores UNCHANGED (full-corpus stats, as in Lucene
    // until merge)
    "bm25_deleted" -> ((s, dir) => {
      val idx = IndexCache.deletedIndex(s, dir, Seq("stream"))
      rounded(topKWand(s, idx.paths.root, Seq("join", "window", "vector"), K))
    }),
    // after the expunge merge: stats recomputed over live docs only —
    // query-identical to an index freshly built over the live corpus
    "bm25_purged" -> ((s, dir) => {
      val idx = IndexCache.purgedIndex(s, dir, Seq("stream"))
      rounded(topKWand(s, idx.paths.root, Seq("join", "window", "vector"), K))
    }),
    // ES _explain analog: per-term score breakdown for every top-k doc
    "bm25_explain" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      SearchEngine.explainTopK(s, idx.paths.root, Seq("join", "window", "vector"), K)
    }),
    // hybrid retrieval: RRF fusion of BM25 and embedding-cosine rankings
    "hybrid_rrf" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      graft.search.Hybrid.rrfTopK(s, idx.paths.root, dir,
        Seq("join", "window", "vector"), 0L, K)
    }),
    // ES highlight analog: token-space best-window snippets for the top-k
    "bm25_highlight" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      graft.search.Highlight.topKHighlighted(s, idx.paths.root, dir,
        Seq("join", "window", "vector"), K, window = 8)
    }),
    // --- BM25 top-k: brute-force oracle twin (no index) ---------------------
    "bm25_topk_brute" -> ((s, dir) =>
      BruteForce.topKRounded(Catalog.readDocuments(s, dir).toDF(), Seq("window", "stream"), K)),
    "bm25_low_idf_brute" -> ((s, dir) =>
      BruteForce.topKRounded(Catalog.readDocuments(s, dir).toDF(), Seq("the", "a"), K)),
    // --- boolean filters over the index -------------------------------------
    "bool_and" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      Booleans.and(s, idx.paths.root, Seq("join", "hash"))
    }),
    "bool_and_not" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      Booleans.andNot(s, idx.paths.root, "join", "window")
    }),
    // --- term-expansion queries (ES prefix/fuzzy analogs) --------------------
    "query_prefix" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      graft.search.TermQueries.prefix(s, idx.paths.root, "s")
    }),
    "query_fuzzy" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      graft.search.TermQueries.fuzzy(s, idx.paths.root, "joln")
    }),
    // --- index artifacts vs from-scratch SQL --------------------------------
    "term_stats" -> ((s, dir) => {
      import s.implicits._
      val idx = IndexCache.documentsIndex(s, dir)
      Catalog.readDictionary(s, idx.paths).toDF()
        .select($"term", $"df", $"cf").orderBy($"term")
    }),
    "corpus_stats" -> ((s, dir) => {
      import s.implicits._
      val idx = IndexCache.documentsIndex(s, dir)
      s.read.parquet(idx.paths.corpusStats)
        .select($"n_docs", $"total_tokens", round($"avgdl", 6).as("avgdl_r6"))
    }),
    // --- tokenize + tf extraction (typed transform) -------------------------
    "term_freqs" -> ((s, dir) => {
      import s.implicits._
      TermFreqs.fromDocs(Catalog.readDocuments(s, dir)).toDF()
        .select($"doc_id", $"term", $"tf".cast("long").as("tf"))
        .orderBy($"doc_id", $"term")
    }),
    // --- dense stable docID assignment (shuffle-aware two-pass zip) ---------
    "dense_ids" -> ((s, dir) => {
      DocIds.denseIds(
        Catalog.readTable(s, dir, "documents").select("doc_id", "source"),
        Seq("source", "doc_id"),
        s.sessionState.conf.numShufflePartitions)
        .orderBy("rid")
    }),
    // --- facets / histograms / sessions / windows / joins -------------------
    "facet_source" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      Relational.facetByTerm(s, idx.paths.root, dir, "join", "source")
    }),
    "date_histogram" -> ((s, dir) => Relational.dateHistogram(s, dir)),
    // ES nested aggs: terms → date_histogram buckets; terms → percentiles
    // over the hit stream (one multi-key hash agg each, no per-bucket pass)
    "facet_histogram" -> ((s, dir) => Relational.facetHistogram(s, dir)),
    "facet_percentiles" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      Relational.facetPercentiles(s, idx.paths.root, dir, "join")
    }),
    "percentiles_value" -> ((s, dir) => Relational.percentilesValue(s, dir)),
    "json_k" -> ((s, dir) => Relational.jsonK(s, dir)),
    "sessionize_events" -> ((s, dir) => Relational.sessionizeEvents(s, dir)),
    // ES _field_caps: schema-derived field capabilities, zero data read;
    // oracle = DuckDB's own information_schema (independent catalog)
    "field_caps" -> ((s, dir) =>
      Relational.fieldCaps(s, dir, Seq("documents", "events", "embeddings"))),
    "window_rank" -> ((s, dir) => Relational.topLineitemsPerSupplier(s, dir)),
    "pricing_summary" -> ((s, dir) => Relational.pricingSummary(s, dir)),
    "revenue_by_segment" -> ((s, dir) => Relational.revenueBySegment(s, dir)),
    "top_suppliers" -> ((s, dir) => Relational.topSuppliers(s, dir)),
    // --- training-data pipeline: dedup family --------------------------------
    "dedup_exact" -> ((s, dir) => Dedup.exactDups(s, dir)),
    "dedup_ngram_jaccard" -> ((s, dir) => Dedup.ngramJaccardPairs(s, dir, 0.5)),
    "dedup_minhash_lsh" -> ((s, dir) => Dedup.minhashLshPairs(s, dir, 0.5)),
    "dedup_simhash" -> ((s, dir) => Dedup.simhash(s, dir)),
    "dedup_clusters" -> ((s, dir) => Dedup.dedupClusters(s, dir, 0.5)),
    // substring-level span dedup (Lee et al. 2022): maximal ≥12-token spans
    // duplicated across documents, as (doc, start, end, dup_of) rows
    "dedup_substring" -> ((s, dir) => Dedup.substringDups(s, dir, 12)),
    // --- training-data pipeline: text analysis -------------------------------
    "lang_id" -> ((s, dir) => TextAnalysis.langId(s, dir)),
    "quality_score" -> ((s, dir) => TextAnalysis.qualityScore(s, dir)),
    "token_counts" -> ((s, dir) => TextAnalysis.tokenCounts(s, dir)),
    "winnow_fingerprint" -> ((s, dir) => TextAnalysis.winnowFingerprint(s, dir)),
    // composed curation verdicts: first failing rule wins (audit-ready)
    "curation_funnel" -> ((s, dir) => Curation.funnel(s, dir)),
    // token-budget sharding: two-pass distributed prefix sum, no global window
    "pack_sequences" -> ((s, dir) => Curation.packSequences(s, dir, 2048L)),
    // model-token (BPE) accounting: deterministic corpus-trained merges
    // (Bpe.trainFromCorpus), oracles generated from the per-word table
    "token_counts_bpe" -> ((s, dir) => Curation.tokenCountsBpe(s, dir, record = true)),
    "pack_sequences_bpe" -> ((s, dir) =>
      Curation.packSequencesBpe(s, dir, 2048L, record = true)),
    // --- training-data pipeline: similarity search ---------------------------
    "emb_cosine_topk" -> ((s, dir) => Embeddings.cosineTopK(s, dir, 0L, K)),
    // IVF ANN (FAISS coarse-quantizer shape). The oracle is GENERATED from
    // the engine's deterministic candidate set (record=true stashes it;
    // Verify reads oracleSql after running queries — the percolate
    // pattern), so probe selection, persisted assignment, and re-scoring
    // are all DuckDB-checked; k-means train determinism is IvfSpec-pinned.
    "ann_ivf_topk" -> ((s, dir) => {
      val (centroids, lists) = IndexCache.ivf(s, dir)
      graft.operators.Ivf.annTopK(s, dir, 0L, K, centroids, nprobe = 4, lists,
        record = true)
    }),
    // IVF-PQ with exact refine: ADC over 8-byte codes picks the shortlist,
    // exact cosine re-ranks it — only `shortlist` full vectors are read
    "ann_ivfpq_topk" -> ((s, dir) => {
      val (model, codes) = IndexCache.ivfPq(s, dir)
      graft.operators.IvfPq.annTopK(s, dir, 0L, K, model, nprobe = 4,
        shortlist = 50, codesPath = codes, record = true)
    }),
    // filtered IVF ANN: the label predicate INSIDE the probe (candidate =
    // probed-lists ∩ label stratum; pre-filter, never post-filter)
    "ann_ivf_filtered" -> ((s, dir) => {
      val (centroids, lists) = IndexCache.ivf(s, dir)
      graft.operators.Ivf.annTopKFiltered(s, dir, 0L, K, centroids,
        nprobe = 4, lists, labelEq = 3, record = true)
    }),
    "ann_lsh_topk" -> ((s, dir) =>
      Embeddings.annLshTopK(s, dir, 0L, K,
        bucketsPath = Some(IndexCache.lshBucketsPath(s, dir)))),
    "dedup_emb_cosine" -> ((s, dir) =>
      Embeddings.embCosinePairs(s, dir, 0.4, planes = 4,
        bucketsPath = Some(IndexCache.lshBucketsPath(s, dir, planes = 4)))),
    // --- training-data pipeline: multimodal plumbing -------------------------
    "media_meta" -> ((s, dir) => Multimodal.mediaMeta(s, dir)),
    // real JDK-ImageIO decode over synthesized PNG bytes — no SQL oracle
    // (rows-only driver check); correctness pinned by MultimodalSpec
    "media_features" -> ((s, dir) => Multimodal.mediaFeatures(s, dir)),
    // --- phrase (positional) matching: relational + index-backed paths -------
    "phrase_match" -> ((s, dir) => Phrase.phraseMatch(s, dir, Seq("join", "hash"))),
    "phrase_match_indexed" -> ((s, dir) => {
      val idx = IndexCache.positionalIndex(s, dir)
      graft.index.PositionalIndex.phraseMatch(s, idx.paths.root,
        Seq("join", "hash"), idx.meta.buckets)
    }),
    // ES match_phrase_prefix (search-as-you-type): "join h*" — adjacent
    // "join" then any dictionary term with prefix "h" at the next position
    "phrase_prefix" -> ((s, dir) => {
      val idx = IndexCache.positionalIndex(s, dir)
      graft.index.PositionalIndex.phrasePrefixMatch(s, idx.paths.root,
        Seq("join"), "h", idx.meta.buckets)
    }),
    // Lucene span_near in_order=false: join + hash within a 3-wide window,
    // any order (the unordered complement of phrase_slop)
    "phrase_near_unordered" -> ((s, dir) => {
      val idx = IndexCache.positionalIndex(s, dir)
      graft.index.Intervals.filterDocs(s, idx.paths.root,
        graft.index.Intervals.IMatch("join hash", maxGaps = 2, ordered = false),
        idx.meta.buckets)
    }),
    // Lucene span_first: 'join hash' matching entirely inside the first 12
    // token positions (leading-content restriction)
    "span_first" -> ((s, dir) => {
      val idx = IndexCache.positionalIndex(s, dir)
      graft.index.PositionalIndex.spanFirst(s, idx.paths.root,
        Seq("join", "hash"), 12, idx.meta.buckets)
    }),
    // Lucene span_not: 'join' occurrences NOT within 1 position of a 'hash'
    // occurrence (pre=1, post=1 — the adjacency-exclusion form)
    "span_not" -> ((s, dir) => {
      val idx = IndexCache.positionalIndex(s, dir)
      graft.index.PositionalIndex.spanNot(s, idx.paths.root,
        Seq("join"), Seq("hash"), 1, 1, idx.meta.buckets)
    }),
    // ES match_phrase slop (ordered): "join ... hash" within 2 intervening
    "phrase_slop" -> ((s, dir) => {
      val idx = IndexCache.positionalIndex(s, dir)
      graft.index.Intervals.filterDocs(s, idx.paths.root,
        graft.index.Intervals.IMatch("join hash", maxGaps = 2, ordered = true),
        idx.meta.buckets)
    }),
    // Lucene span_or: 'join hash' OR 'merge sort' (union clause, one scan)
    "span_or" -> ((s, dir) => {
      val idx = IndexCache.positionalIndex(s, dir)
      import graft.index.Intervals._
      graft.index.Intervals.filterDocs(s, idx.paths.root,
        IAnyOf(Seq(IMatch("join hash", maxGaps = 0, ordered = true),
          IMatch("merge sort", maxGaps = 0, ordered = true))),
        idx.meta.buckets)
    }),
    // Lucene span_within: 'hash' inside a span_near(join, scan, slop=6) window
    "span_within" -> ((s, dir) => {
      val idx = IndexCache.positionalIndex(s, dir)
      graft.index.PositionalIndex.spanWithin(s, idx.paths.root,
        Seq("hash"), "join", "scan", 6, idx.meta.buckets)
    }),
    // Lucene span_containing: a span_near(join, window, slop=8) window that
    // contains a 'hash' occurrence
    "span_containing" -> ((s, dir) => {
      val idx = IndexCache.positionalIndex(s, dir)
      graft.index.PositionalIndex.spanContaining(s, idx.paths.root,
        "join", "window", 8, Seq("hash"), idx.meta.buckets)
    }),
    // ES intervals match: 'join … scan', in order, ≤ 3 gap positions
    "intervals_match" -> ((s, dir) => {
      val idx = IndexCache.positionalIndex(s, dir)
      graft.index.Intervals.filterDocs(s, idx.paths.root,
        graft.index.Intervals.IMatch("join scan", maxGaps = 3, ordered = true),
        idx.meta.buckets)
    }),
    // ES intervals all_of: exact phrase 'join hash' then 'scan', in order,
    // ≤ 10 positions between the phrase and 'scan'
    "intervals_all_of" -> ((s, dir) => {
      val idx = IndexCache.positionalIndex(s, dir)
      import graft.index.Intervals._
      graft.index.Intervals.filterDocs(s, idx.paths.root,
        IAllOf(Seq(IMatch("join hash", maxGaps = 0, ordered = true),
          IMatch("scan")), maxGaps = 10, ordered = true),
        idx.meta.buckets)
    }),
    // ES intervals any_of inside all_of: ('join' | 'merge') immediately
    // followed by 'hash'
    "intervals_any_of" -> ((s, dir) => {
      val idx = IndexCache.positionalIndex(s, dir)
      import graft.index.Intervals._
      graft.index.Intervals.filterDocs(s, idx.paths.root,
        IAllOf(Seq(IAnyOf(Seq(IMatch("join"), IMatch("merge"))),
          IMatch("hash")), maxGaps = 0, ordered = true),
        idx.meta.buckets)
    }),
    // ES rescore: top-window BM25 re-ranked by a doc-length prior
    "bm25_rescore" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      SearchEngine.rescoreTopK(s, idx.paths.root, dir,
        Seq("join", "window", "vector"), K, 50)
    }),
    "phrase_topk" -> ((s, dir) => {
      val idx = IndexCache.positionalIndex(s, dir)
      graft.index.PositionalIndex.phraseTopK(s, idx.paths.root,
        Seq("join", "hash"), K, idx.meta.buckets)
    }),
    // --- the bitmap boolean path: bool_and's query under its own name ------
    "bool_and_bitmap" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      Booleans.and(s, idx.paths.root, Seq("join", "hash"))
    }),
    "bool_or" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      Booleans.or(s, idx.paths.root, Seq("vector", "stream"))
    }),
    // --- distinct aggregation + array math -----------------------------------
    "distinct_users" -> ((s, dir) => {
      import s.implicits._
      Catalog.readTable(s, dir, "events")
        .groupBy($"event_type")
        .agg(countDistinct($"user_id").as("n_users"), count(lit(1)).as("n_events"))
        .orderBy($"event_type")
    }),
    // ES `cardinality` aggregation: approximate-by-contract (HLL++). One
    // pass, map-side partial sketches, no exact-distinct shuffle — the
    // 100 TB shape. Rows-only by design: sketch estimates are not
    // bit-reproducible across engines, so no DuckDB oracle; the error
    // contract (rsd ≤ 0.05 here) is pinned vs exact counts in
    // CardinalitySpec at two corpus scales.
    "cardinality_users" -> ((s, dir) => {
      import s.implicits._
      Catalog.readTable(s, dir, "events")
        .groupBy($"event_type")
        .agg(approx_count_distinct($"user_id", rsd = 0.05).as("n_users_approx"),
          count(lit(1)).as("n_events"))
        .orderBy($"event_type")
    }),
    "vector_norms" -> ((s, dir) => {
      import s.implicits._
      Catalog.readTable(s, dir, "embeddings")
        .select($"vec_id",
          round(sqrt(expr(
            "aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)")),
            6).as("l2_r6"))
        .orderBy($"vec_id")
    }),
    // --- ES query DSL: constant_score / boosting / regexp / bool_prefix /
    //     simple_query_string ------------------------------------------------
    "constant_score" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      FunctionScore.constantScore(s, idx.paths.root, "join", 1.5, K)
    }),
    // ES boosting query: 'join window' demoted (not excluded) for docs
    // containing 'stream'
    "bm25_boosting" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      FunctionScore.boosting(s, idx.paths.root, Seq("join", "window"),
        "stream", 0.3, K)
    }),
    "query_regexp" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      TermQueries.regexp(s, idx.paths.root, "(jo|ha)[a-z]+")
    }),
    // ES match_bool_prefix: 'window' scored + trailing 'h' prefix expanded
    // scoring_boolean, all through the standard WAND pass
    "bm25_bool_prefix" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      TermQueries.boolPrefixTopK(s, idx.paths.root, Seq("window"), "h", K)
    }),
    // ES search_as_you_type: edge_ngram index analysis (grams 2..5),
    // standard search analysis — the typed prefix scores against gram
    // postings with the gram field's own BM25 stats
    "bm25_sayt" -> ((s, dir) => {
      val idx = IndexCache.edgeNgramIndex(s, dir)
      rounded(topKWand(s, idx.paths.root, Seq("wi", "vec"), K))
    }),
    // ES simple_query_string: term + quoted-phrase + prefix + must_not
    // clauses in one mini-language string, over the text + positional index
    "bm25_sqs" -> ((s, dir) => {
      val idx = IndexCache.positionalIndex(s, dir)
      QueryString.simpleQueryString(s, idx.paths.root, idx.paths.root,
        """window "join hash" vec* -stream""", K)
    }),
    // --- ES aggregation shapes ----------------------------------------------
    // composite agg page 2: buckets strictly after ('en', 'src2') in key
    // order — the scale-safe paged bucket walk
    "agg_composite" -> ((s, dir) =>
      EsAggs.composite(s, dir, 6, Some(("en", "src2")))),
    "agg_filters" -> ((s, dir) => EsAggs.filtersAgg(s, dir)),
    "agg_range" -> ((s, dir) => EsAggs.rangeAgg(s, dir)),
    "agg_extended_stats" -> ((s, dir) => EsAggs.extendedStats(s, dir)),
    "agg_terms_by_metric" -> ((s, dir) => EsAggs.termsOrderBySubagg(s, dir)),
    "agg_rare_terms" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      EsAggs.rareTerms(s, idx.paths.root, 60L)
    }),
    "agg_pipeline_hist" -> ((s, dir) => EsAggs.histogramPipeline(s, dir)),
    // --- corpus hygiene: repetition / decontamination / splits --------------
    "repetition_stats" -> ((s, dir) => Hygiene.repetitionStats(s, dir)),
    "decontaminate" -> ((s, dir) => Hygiene.decontaminate(s, dir)),
    "split_hash" -> ((s, dir) => Hygiene.splitHash(s, dir)),
    "stratified_sample" -> ((s, dir) => Hygiene.stratifiedSample(s, dir)),
    // ES _msearch: 3 queries, ONE pruned postings read per shard,
    // independent per-shard WAND passes per query (the batch-scoring shape)
    "msearch" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      graft.search.MSearch.msearch(s, idx.paths.root, MSearchQueries, K)
    }),
    // ES rank_feature (saturation fn): bm25 + 1.2 * x/(x+pivot) on n_chars
    "bm25_rank_feature" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      FunctionScore.rankFeature(s, idx.paths.root, dir,
        Seq("join", "window", "vector"), K, field = "n_chars",
        pivot = 287.0, boost = 1.2)
    }),
    // ES terms_set: per-doc minimum_should_match (1 + doc_id % 3 models the
    // stored minimum_should_match_field)
    "bm25_terms_set" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      SearchEngine.termsSetTopK(s, idx.paths.root,
        Seq("hash", "stream", "sort"), K)
    }),
    // ES kNN with filter clause: exact cosine top-k inside the label stratum
    "knn_filtered" -> ((s, dir) =>
      Embeddings.cosineTopKFiltered(s, dir, 0L, K, labelEq = 3)),
    // CCNet-style unigram-LM perplexity filter (corpus-trained, add-one)
    "lm_perplexity" -> ((s, dir) => TextAnalysis.lmPerplexity(s, dir)),
    // the artifact-reading twin: dictionary cf + bigram_counts + corpus
    // stats instead of per-query count aggregations — ONE corpus pass
    "lm_perplexity_indexed" -> ((s, dir) => {
      val idx = IndexCache.bigramIndex(s, dir)
      TextAnalysis.lmPerplexityIndexed(s, idx.paths.root, dir)
    }),
    // CCNet head/middle/tail: perplexity terciles over the same LM
    "ppl_buckets" -> ((s, dir) => TextAnalysis.pplBuckets(s, dir)),
    // DoReMi-style domain-mixture sampling to target source weights
    "domain_mix" -> ((s, dir) => Hygiene.domainMix(s, dir, DomainTargets)),
    // PII-shaped redaction audit pass over the events JSON payloads
    "redact_patterns" -> ((s, dir) => Hygiene.redactEvents(s, dir)),
    // ES weighted_avg / multi_terms aggregation shapes
    "agg_weighted_avg" -> ((s, dir) => EsAggs.weightedAvg(s, dir)),
    "agg_multi_terms" -> ((s, dir) => EsAggs.multiTerms(s, dir)),
    // ES phrase suggester: dictionary candidates re-ranked by the corpus
    // bigram LM ARTIFACT ("jion hash" → "join hash" by bigram evidence;
    // no corpus scan in the query plan — BigramLm is build-time state)
    "suggest_phrase" -> ((s, dir) => {
      val idx = IndexCache.bigramIndex(s, dir)
      graft.search.Suggest.phrase(s, idx.paths.root, Seq("jion", "hash"), 5,
        maxDist = 2)
    }),
    // ES completion suggester with a category context: top-5 's…' terms in
    // source 'src1' by df, probed from the build-time completion artifact
    "suggest_completion" -> ((s, dir) =>
      graft.search.Suggest.completion(s,
        IndexCache.completionPath(s, dir), "s", "src1", 5)),
    // ES _rank_eval: precision@k / MRR / NDCG@k against derived judgments
    "rank_eval" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      graft.search.RankEval.evaluate(s, idx.paths.root, dir,
        Seq("join"), K, judgmentTerms = Seq("join", "window", "vector"))
    }),
    // ES adjacency_matrix / bucket_selector+bucket_sort pipeline aggs
    "agg_adjacency" -> ((s, dir) => EsAggs.adjacencyMatrix(s, dir)),
    "agg_bucket_sort" -> ((s, dir) => EsAggs.bucketSelectorSort(s, dir, 330L, 5)),
    // ES top_metrics / percentile_ranks / numeric histogram agg shapes
    "agg_top_metrics" -> ((s, dir) => EsAggs.topMetrics(s, dir)),
    "agg_percentile_ranks" -> ((s, dir) =>
      EsAggs.percentileRanks(s, dir, Seq(100.0, 250.0))),
    "agg_histogram_numeric" -> ((s, dir) => EsAggs.histogramNumeric(s, dir, 50L)),
    // ES _mget: explicit id-list document fetch (pruned metadata scan)
    "mget" -> ((s, dir) => Relational.mget(s, dir, Seq(3L, 14L, 159L, 420L))),
    // --- ES parent-join field (has_child / has_parent / inner_hits) over a
    // derived join key: parent = doc_id DIV 10 (an application join field)
    "has_child_max" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      graft.search.ParentChild.hasChildMax(s, idx.paths.root, parentMap(s, dir),
        Seq("join", "window", "vector"), K)
    }),
    "has_child_sum" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      graft.search.ParentChild.hasChildSum(s, idx.paths.root, parentMap(s, dir),
        Seq("join", "window", "vector"), K, minChildren = 2)
    }),
    "has_parent" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      graft.search.ParentChild.hasParent(s, idx.paths.root, parentMap(s, dir),
        Seq("dup"))
    }),
    "inner_hits" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      graft.search.ParentChild.innerHits(s, idx.paths.root, parentMap(s, dir),
        Seq("join", "window", "vector"), kParents = 5, nPer = 3)
    }),
    // ES _termvectors (term_statistics: true) and _count
    "termvectors" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      graft.search.TermQueries.termVectors(s, idx.paths.root, dir, 7L)
    }),
    "count_query" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      graft.search.TermQueries.countMatching(s, idx.paths.root, Seq("join", "hash"))
    }),
    // ES distance_feature: additive hyperbolic recency/proximity boost
    "bm25_distance_feature" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      FunctionScore.distanceFeature(s, idx.paths.root, dir,
        Seq("join", "window", "vector"), K,
        field = "n_chars", origin = 300.0, pivot = 50.0, boost = 1.5)
    }),
    // remaining ES agg shapes: auto_date_histogram / date_range /
    // boxplot+mad / diversified_sampler
    "agg_auto_date_histogram" -> ((s, dir) => EsAggs.autoDateHistogram(s, dir, 40)),
    "agg_date_range" -> ((s, dir) => EsAggs.dateRange(s, dir,
      Seq("2024-01-10 00:00:00", "2024-01-20 00:00:00"))),
    "agg_boxplot_mad" -> ((s, dir) => EsAggs.boxplotMad(s, dir)),
    "agg_diversified_sampler" -> ((s, dir) => EsAggs.diversifiedSampler(s, dir, 20)),
    // ES parent_id: children of one parent
    "parent_id" -> ((s, dir) =>
      graft.search.ParentChild.parentId(s, parentMap(s, dir), 42L)),
    // ES pinned query: promoted ids first, organic fill
    "bm25_pinned" -> ((s, dir) => {
      val idx = IndexCache.documentsIndex(s, dir)
      graft.search.Hybrid.pinnedTopK(s, idx.paths.root, Seq(420L, 7L, 159L),
        Seq("join", "window", "vector"), K)
    }),
    // ES _analyze: the analysis chain applied to a given string — token +
    // 0-based position (the API surface for debugging analyzers)
    "analyze_text" -> ((s, dir) => {
      import s.implicits._
      Seq(AnalyzeSample).toDF("text")
        .select(posexplode(graft.core.Analyzer.tokensCol($"text")))
        .select($"pos".cast("long").as("pos"), $"col".as("token"))
        .orderBy($"pos")
    }),
    // ES _reindex with a source query: stats reflect only surviving docs
    "reindex_filtered" -> ((s, dir) => {
      val idx = IndexCache.reindexedSource(s, dir, "src2")
      rounded(topKWand(s, idx.paths.root, Seq("join", "window"), K))
    }),
    // DSIR importance-resampling weights vs the src1 target domain
    "dsir_weights" -> ((s, dir) =>
      graft.operators.Dsir.importanceWeights(s, dir, "src1", 50)),
    // SemDeDup semantic near-dup pruning (cluster-bounded, recorded-
    // assignment oracle — the ann_ivf pattern)
    "dedup_semantic" -> ((s, dir) =>
      graft.operators.SemDedup.semanticDups(s, dir, tau = 0.4, nClusters = 8,
        record = true)),
  )

  /** The derived parent join key for the parent-child queries: groups of 10
    * consecutive docIDs (a stand-in for any application parent field; the
    * transcript corpus uses its real conv_id via [[graft.search.Conversations]]).
    */
  private def parentMap(s: SparkSession, dir: String): DataFrame =
    Catalog.readTable(s, dir, "documents")
      .selectExpr("doc_id", "doc_id DIV 10 AS parent")

  /** msearch batch: head-term, mid-term, and mixed sub-queries. */
  private val MSearchQueries: Seq[(String, Seq[String])] = Seq(
    "q1" -> Seq("join", "window", "vector"),
    "q2" -> Seq("hash", "stream"),
    "q3" -> Seq("sort", "merge", "filter"))

  /** _analyze sample: punctuation, case, digits — the analyzer edge shapes. */
  private val AnalyzeSample =
    "Spark-Native BM25: term/frequencies, 42 positions... (and GAPS)!"

  /** domain_mix targets (sources beyond these are dropped by contract). */
  private val DomainTargets: Map[String, Double] =
    Map("src1" -> 0.5, "src2" -> 0.3, "src3" -> 0.2)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "bm25_topk" -> OracleSql.bm25TopK(Seq("join", "window", "vector"), K),
    "bm25_single_term" -> OracleSql.bm25TopK(Seq("join"), K),
    "bm25_partial_miss" -> OracleSql.bm25TopK(Seq("join", "zebra"), K),
    "bm25_empty" -> OracleSql.bm25TopK(Seq("zebra"), K),
    "bm25_topk_hydrated" -> OracleSql.bm25TopKHydrated(Seq("join", "window", "vector"), K),
    "bm25_match_and" -> OracleSql.bm25TopK(Seq("join", "hash"), K, minMatch = 2),
    "bm25_should_mm" -> OracleSql.bm25TopK(Seq("join", "window", "vector"), K, minMatch = 2),
    "bm25_from_size" -> OracleSql.bm25TopK(Seq("join", "window", "vector"), K, offset = K),
    "bm25_search_after" -> OracleSql.bm25TopK(Seq("join", "window", "vector"), K, offset = K),
    "bm25_boosted" -> OracleSql.bm25TopK(Seq("join", "window", "vector"), K,
      boosts = Map("join" -> 3.0, "vector" -> 0.5)),
    "bm25_filtered" -> OracleSql.bm25TopK(Seq("join", "window", "vector"), K,
      docFilter = Some("source = 'src3'")),
    "bm25_filtered_range" -> OracleSql.bm25TopK(Seq("join", "window", "vector"), K,
      docFilter = Some("n_chars BETWEEN 250 AND 330")),
    "bm25_fuzzy" -> OracleSql.bm25Fuzzy("joln", K, maxDist = 2),
    "bm25_fvf" -> OracleSql.bm25Fvf(Seq("join", "window", "vector"), K,
      field = "n_chars", factor = 0.01, modifier = "log1p", missing = 1.0,
      boostMode = "multiply"),
    "bm25_decay" -> OracleSql.bm25Decay(Seq("join", "window", "vector"), K,
      field = "n_chars", origin = 280.0, scale = 50.0, offset = 0.0,
      decayAt = 0.5, fn = "gauss", boostMode = "multiply"),
    "sort_by_field" -> OracleSql.sortByField("join", "n_chars", K),
    "bm25_synonyms" -> OracleSql.synonymTopK(Seq(Seq("join", "merge"), Seq("window")), K),
    "bm25_synonyms_indexed" -> OracleSql.bm25SynonymsIndexed(
      Seq("merge", "window"), K, IndexCache.IndexSynonyms),
    "bm25_must_not" -> OracleSql.bm25TopK(Seq("join", "window", "vector"), K,
      docFilter = Some(
        s"len(list_filter(${OracleSql.toks("text")}, x -> x = 'stream')) = 0")),
    "bm25_terms_filter" -> OracleSql.bm25TopK(Seq("join", "window", "vector"), K,
      docFilter = Some("source IN ('src1', 'src2')")),
    "bm25_highlight" -> OracleSql.bm25Highlight(Seq("join", "window", "vector"), K, 8),
    "sig_terms" -> OracleSql.significantTerms("join", 10),
    "top_hits_facet" -> OracleSql.topHitsByFacet(Seq("join", "window", "vector"), 3),
    "collapse_source" -> OracleSql.collapseBySource(Seq("join", "window", "vector"), K),
    "bm25_mlt" -> OracleSql.moreLikeThis(seedDoc = 0L, k = K, maxTerms = 5,
      minTf = 1, minDf = 2),
    "query_wildcard" -> OracleSql.wildcardDocs("*or*"),
    "suggest_term" -> OracleSql.suggest("jion", 5, 2),
    "bm25f_topk" -> OracleSql.bm25fTopK(Seq("join", "window", "vector"), K, 1.0, 3.0),
    "bm25_multi_match" -> OracleSql.multiMatchTopK(Seq("join", "window", "vector"), K, 1.5),
    "bm25_most_fields" -> OracleSql.mostFieldsTopK(Seq("join", "window", "vector"), K, 1.5),
    "bm25_cross_fields" -> OracleSql.crossFieldsTopK(Seq("join", "window", "vector"), K, 0.3),
    "bm25_dis_max_tb" -> OracleSql.multiMatchTopK(Seq("join", "window", "vector"), K, 1.5, 0.3),
    "percolate" -> OracleSql.percolate(Percolator.DriverQueries),
    "index_stats" -> OracleSql.indexStats,
    "bm25_deleted" -> OracleSql.bm25TopK(Seq("join", "window", "vector"), K,
      docFilter = Some(s"NOT list_contains(${OracleSql.toks("text")}, 'stream')")),
    "bm25_purged" -> OracleSql.bm25TopK(Seq("join", "window", "vector"), K,
      corpusFilter = Some(s"NOT list_contains(${OracleSql.toks("text")}, 'stream')")),
    "bm25_explain" -> OracleSql.bm25Explain(Seq("join", "window", "vector"), K),
    "hybrid_rrf" -> OracleSql.hybridRrf(Seq("join", "window", "vector"), 0L, K,
      window = 50, k0 = 60),
    "bm25_topk_brute" -> OracleSql.bm25TopK(Seq("window", "stream"), K),
    "bm25_low_idf_brute" -> OracleSql.bm25TopK(Seq("the", "a"), K),
    "bool_and" -> OracleSql.boolAnd(Seq("join", "hash")),
    "bool_and_not" -> OracleSql.boolAndNot("join", "window"),
    "term_stats" -> OracleSql.termStats,
    "corpus_stats" -> OracleSql.corpusStats,
    "term_freqs" -> OracleSql.termFreqs,
    "dense_ids" -> OracleSql.denseIds,
    "facet_source" -> OracleSql.facet("join", "source"),
    "date_histogram" -> OracleSql.dateHistogram,
    "facet_histogram" -> OracleSql.facetHistogram,
    "facet_percentiles" -> OracleSql.facetPercentiles("join"),
    "percentiles_value" -> OracleSql.percentilesValue,
    "query_prefix" -> OracleSql.queryPrefix("s"),
    "query_fuzzy" -> OracleSql.queryFuzzy("joln"),
    "json_k" -> OracleSql.jsonK,
    "sessionize_events" -> OracleSql.sessionizeEvents,
    "field_caps" -> OracleSql.fieldCaps(Seq("documents", "events", "embeddings")),
    "window_rank" -> OracleSql.windowRank,
    "pricing_summary" -> OracleSql.pricingSummary,
    "revenue_by_segment" -> OracleSql.revenueBySegment,
    "top_suppliers" -> OracleSql.topSuppliers,
    "dedup_exact" -> OracleSql.exactDups,
    "dedup_ngram_jaccard" -> OracleSql.ngramJaccard(0.5),
    "dedup_minhash_lsh" -> OracleSql.minhashLsh(0.5),
    "dedup_simhash" -> OracleSql.simhash,
    "dedup_clusters" -> OracleSql.dedupClusters(0.5),
    "dedup_substring" -> OracleSql.substringDups(12, 3),
    "lang_id" -> OracleSql.langId,
    "quality_score" -> OracleSql.qualityScore,
    "token_counts" -> OracleSql.tokenCounts,
    "winnow_fingerprint" -> OracleSql.winnowFingerprint,
    "curation_funnel" -> OracleSql.curationFunnel(30L, 0.45),
    "pack_sequences" -> OracleSql.packSequences(2048L),
    "emb_cosine_topk" -> OracleSql.embCosineTopK(0L, K),
    "ann_lsh_topk" -> OracleSql.annLshTopK(0L, K),
    "dedup_emb_cosine" -> OracleSql.embCosinePairs(0.4),
    "media_meta" -> OracleSql.mediaMeta,
    "phrase_match" -> OracleSql.phraseMatch(Seq("join", "hash")),
    "phrase_match_indexed" -> OracleSql.phraseMatch(Seq("join", "hash")),
    "phrase_topk" -> OracleSql.phraseTopK(Seq("join", "hash"), K),
    "phrase_slop" -> OracleSql.phraseMatchSloppy(Seq("join", "hash"), 2),
    "span_first" -> OracleSql.spanFirst(Seq("join", "hash"), 12),
    "span_or" -> OracleSql.spanOr(Seq(Seq("join", "hash"), Seq("merge", "sort"))),
    "span_within" -> OracleSql.spanContainment(Seq("hash"), "join", "scan", 6),
    "span_containing" -> OracleSql.spanContainment(Seq("hash"), "join", "window", 8),
    "intervals_match" -> OracleSql.intervalsMatch("join scan", 3),
    "intervals_all_of" -> OracleSql.intervalsAllOf(Seq("join", "hash"), "scan", 10),
    "intervals_any_of" -> OracleSql.intervalsAnyOf(Seq("join", "merge"), "hash"),
    "span_not" -> OracleSql.spanNot(Seq("join"), Seq("hash"), 1, 1),
    "phrase_prefix" -> OracleSql.phrasePrefix(Seq("join"), "h"),
    "phrase_near_unordered" -> OracleSql.spanNearUnordered(Seq("join", "hash"), 2),
    "bm25_rescore" -> OracleSql.rescoreTopK(Seq("join", "window", "vector"), K, 50, 1.0, 2.0),
    "bool_and_bitmap" -> OracleSql.boolAnd(Seq("join", "hash")),
    "bool_or" -> OracleSql.boolOr(Seq("vector", "stream")),
    "distinct_users" -> OracleSql.distinctUsers,
    "vector_norms" -> OracleSql.vectorNorms,
    "constant_score" -> OracleSql.constantScore("join", 1.5, K),
    "bm25_boosting" -> OracleSql.boostingTopK(Seq("join", "window"), "stream", 0.3, K),
    "query_regexp" -> OracleSql.queryRegexp("(jo|ha)[a-z]+"),
    "bm25_bool_prefix" -> OracleSql.bm25BoolPrefix(Seq("window"), "h", K),
    "bm25_sayt" -> OracleSql.bm25EdgeNgram(Seq("wi", "vec"), K),
    "bm25_sqs" -> OracleSql.simpleQueryString(
      """window "join hash" vec* -stream""", K),
    "agg_composite" -> OracleSql.aggComposite(6, Some(("en", "src2"))),
    "agg_filters" -> OracleSql.aggFilters,
    "agg_range" -> OracleSql.aggRange,
    "agg_extended_stats" -> OracleSql.aggExtendedStats,
    "agg_terms_by_metric" -> OracleSql.aggTermsByMetric(10),
    "agg_rare_terms" -> OracleSql.aggRareTerms(60L),
    "agg_pipeline_hist" -> OracleSql.aggHistogramPipeline,
    "repetition_stats" -> OracleSql.repetitionStats,
    "decontaminate" -> OracleSql.decontaminate,
    "split_hash" -> OracleSql.splitHash,
    "stratified_sample" -> OracleSql.stratifiedSample(3),
    "msearch" -> OracleSql.msearch(MSearchQueries, K),
    "bm25_rank_feature" -> OracleSql.rankFeature(Seq("join", "window", "vector"),
      K, field = "n_chars", pivot = 287.0, boost = 1.2),
    "bm25_terms_set" -> OracleSql.termsSet(Seq("hash", "stream", "sort"), K),
    "knn_filtered" -> OracleSql.knnFiltered(0L, K, labelEq = 3),
    "lm_perplexity" -> OracleSql.lmPerplexity,
    // identical model, counts read from build artifacts — same twin
    "lm_perplexity_indexed" -> OracleSql.lmPerplexity,
    "ppl_buckets" -> OracleSql.pplBuckets,
    "domain_mix" -> OracleSql.domainMix(DomainTargets),
    "redact_patterns" -> OracleSql.redactEvents,
    "agg_weighted_avg" -> OracleSql.aggWeightedAvg,
    "agg_multi_terms" -> OracleSql.aggMultiTerms(10),
    "suggest_phrase" -> OracleSql.suggestPhrase(Seq("jion", "hash"), 5,
      maxDist = 2, maxExp = 10),
    "suggest_completion" -> OracleSql.suggestCompletion("s", "src1", 5),
    "rank_eval" -> OracleSql.rankEval(Seq("join"), K,
      judgmentTerms = Seq("join", "window", "vector")),
    "agg_adjacency" -> OracleSql.aggAdjacency,
    "agg_bucket_sort" -> OracleSql.aggBucketSort(330L, 5),
    "agg_top_metrics" -> OracleSql.aggTopMetrics,
    "agg_percentile_ranks" -> OracleSql.aggPercentileRanks(Seq(100.0, 250.0)),
    "agg_histogram_numeric" -> OracleSql.aggHistogramNumeric(50L),
    "mget" -> OracleSql.mget(Seq(3L, 14L, 159L, 420L)),
    "has_child_max" -> OracleSql.hasChildMax(Seq("join", "window", "vector"), K, 10),
    "has_child_sum" -> OracleSql.hasChildSum(Seq("join", "window", "vector"), K, 10, 2),
    "has_parent" -> OracleSql.hasParent(Seq("dup"), 10),
    "inner_hits" -> OracleSql.innerHits(Seq("join", "window", "vector"), 5, 3, 10),
    "termvectors" -> OracleSql.termVectors(7L),
    "count_query" -> OracleSql.countMatching(Seq("join", "hash")),
    "bm25_distance_feature" -> OracleSql.distanceFeature(
      Seq("join", "window", "vector"), K, "n_chars", 300.0, 50.0, 1.5),
    "agg_auto_date_histogram" -> OracleSql.autoDateHistogram(40),
    "agg_date_range" -> OracleSql.dateRange(
      Seq("2024-01-10 00:00:00", "2024-01-20 00:00:00")),
    "agg_boxplot_mad" -> OracleSql.boxplotMad,
    "agg_diversified_sampler" -> OracleSql.diversifiedSampler(20),
    "parent_id" -> OracleSql.parentIdQuery(42L, 10),
    "bm25_pinned" -> OracleSql.pinnedTopK(Seq(420L, 7L, 159L),
      Seq("join", "window", "vector"), K),
    "dsir_weights" -> OracleSql.dsirWeights("src1", 50),
    "analyze_text" -> OracleSql.analyzeText(AnalyzeSample),
    "reindex_filtered" -> OracleSql.bm25TopK(Seq("join", "window"), K,
      corpusFilter = Some("source = 'src2'")),
  ) ++
    // SemDeDup: generated from the engine-recorded cluster assignment
    graft.operators.SemDedup.lastOracle.map { case (asg, tau) =>
      "dedup_semantic" -> OracleSql.semanticDups(asg, tau)
    } ++
    // generated from engine state recorded while the query ran (Verify
    // reads oracleSql AFTER running queries); absent → rows-only, as before
    graft.operators.Ivf.lastOracle.map { case (probeId, k, cands) =>
      "ann_ivf_topk" -> OracleSql.annIvfTopK(probeId, k, cands)
    } ++
    // filtered variant: the oracle re-checks the label predicate on every
    // recorded candidate, then exact-rescoring matches the engine
    graft.operators.Ivf.lastFilteredOracle.map { case (probeId, k, lbl, cands) =>
      "ann_ivf_filtered" -> OracleSql.annIvfTopK(probeId, k, cands, Some(lbl))
    } ++
    // IVF-PQ: same candidate-set contract — the refine step's exact cosine
    // over the recorded ADC shortlist is what DuckDB recomputes
    graft.operators.IvfPq.lastOracle.map { case (probeId, k, cands) =>
      "ann_ivfpq_topk" -> OracleSql.annIvfTopK(probeId, k, cands)
    } ++
    graft.operators.Curation.lastBpeOracle.toSeq.flatMap { wc =>
      Seq("token_counts_bpe" -> OracleSql.tokenCountsBpe(wc),
        "pack_sequences_bpe" -> OracleSql.packSequencesBpe(2048L, wc))
    } ++
    lastEnglishVocab.map(v =>
      "bm25_english" -> OracleSql.bm25English(Seq("joins", "windows", "vectors"), K, v))

  /** Recorded while bm25_english runs (Verify reads oracleSql afterwards):
    * every distinct raw corpus token with its stopword flag and Porter stem.
    */
  @volatile private var lastEnglishVocab: Option[Seq[(String, Boolean, String)]] = None
}
