package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Bm25, Crawl, Dedup, Hybrid, Index, Media, Metrics, QueryEngine, SigTerms, Similarity, Snippets, SubstringSearch, TextStats}
import graft.streaming.{Events, IncrementalIndex}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry reads parquet from the given sfDir; every entry
  * with an `oracleSql` twin produces column names, value rounding and row
  * order identical to what DuckDB computes for that SQL on the same files.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * BM25 top-k over the fixed query set via the INDEXED engine (build
    * resumable inverted index, then block-max WAND query). */
  def entry(spark: SparkSession): DataFrame =
    indexedTopK(spark, "/root/testdata/sf0.001")

  /** Build (or resume) the inverted index for sfDir in a deterministic
    * scratch dir, then answer the whole query set through it. */
  def indexedTopK(spark: SparkSession, sfDir: String,
                  orMode: Boolean = false): DataFrame = {
    val indexDir = "/tmp/graft/index_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Index.build(spark, sfDir, indexDir)
    new QueryEngine(spark, Seq(indexDir)).topKAll(orMode = orMode)
  }

  /** Faceted retrieval: the full query set restricted to one lang facet
    * (scoring stats stay corpus-global; the gate applies inside the WAND
    * kernel, before top-k pruning). The allowed set comes from the
    * index's OWN keyword doc-values artifact
    * (QueryEngine.prepareKeywordFacet) — facet prep never scans the
    * corpus, the 100 TB-honest shape. */
  def indexedTopKFiltered(spark: SparkSession, sfDir: String,
                          lang: String): DataFrame = {
    val indexDir = "/tmp/graft/index_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Index.build(spark, sfDir, indexDir)
    val eng = new QueryEngine(spark, Seq(indexDir))
    eng.topKAllFiltered(eng.prepareKeywordFacet("lang", lang), Bm25.K, orMode = false)
  }

  /** Repo-faceted retrieval: the SECOND keyword doc-values dimension
    * (`repo`, VERDICT r4 #8) through the same per-field resolver and
    * artifact — facet prep reads only the field-partitioned docvals. */
  def indexedTopKRepoFacet(spark: SparkSession, sfDir: String,
                           repo: String): DataFrame = {
    val indexDir = "/tmp/graft/index_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Index.build(spark, sfDir, indexDir)
    val eng = new QueryEngine(spark, Seq(indexDir))
    eng.topKAllFiltered(eng.prepareKeywordFacet("repo", repo),
      Bm25.K, orMode = false)
  }

  /** Boolean-NOT retrieval: the fixed NOT query set, negated terms
    * excluded by anti-posting iterators inside the WAND gate. */
  def indexedTopKNot(spark: SparkSession, sfDir: String): DataFrame = {
    val indexDir = "/tmp/graft/index_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Index.build(spark, sfDir, indexDir)
    new QueryEngine(spark, Seq(indexDir)).topKAllNot()
  }

  /** Hybrid retrieval: BM25 (indexed, OR-mode) + embedding-cosine legs
    * fused by Reciprocal Rank Fusion (operators.Hybrid) — the two-leg
    * lexical+semantic stack of a modern search / RAG service. */
  def indexedHybridTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val indexDir = "/tmp/graft/index_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Index.build(spark, sfDir, indexDir)
    Hybrid.hybridTopK(spark, sfDir, new QueryEngine(spark, Seq(indexDir)))
  }

  /** Search-after pagination: PAGE 2 (global ranks k+1 .. 2k) of the
    * fixed query set — page 1 supplies the (score, docID) cursor, the
    * engine's after-gate retrieves the next k inside the WAND kernels
    * (QueryEngine.topKAfter; no take-2k-and-slice plan anywhere). */
  def indexedTopKPage2(spark: SparkSession, sfDir: String): DataFrame = {
    val indexDir = "/tmp/graft/index_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Index.build(spark, sfDir, indexDir)
    new QueryEngine(spark, Seq(indexDir)).topKAllPage2()
  }

  /** LSM deletes: tombstone docs (docID % 7 == 3), then run the fixed
    * query set with the tombstone deny facet applied — deleted docs
    * excluded from results, scoring stats as-built (Lucene deleted-doc
    * semantics; compaction recomputes stats — StreamingSpec). */
  def indexedTopKDeleted(spark: SparkSession, sfDir: String): DataFrame = {
    val indexDir = "/tmp/graft/index_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Index.build(spark, sfDir, indexDir)
    IncrementalIndex.delete(
      Corpus.docs(spark, sfDir).filter(col("docID") % 7 === 3)
        .select(col("docID")), indexDir)
    val eng = new QueryEngine(spark, Seq(indexDir))
    val deny = IncrementalIndex.denyFacet(spark, indexDir, eng).get
    eng.topKAllFiltered(deny, Bm25.K, orMode = false)
  }

  /** BM25F fielded retrieval: the `path` field folded into the token
    * stream with integer weight Bm25.FieldWeightPath — tf' and dl' per
    * Robertson's BM25F with shared k1/b — so the standard builder,
    * dictionary and WAND kernels rank the two-field model unchanged.
    * Separate index dir: fielded df/avgdl/len differ from the plain
    * index by construction. */
  def indexedBm25fTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val indexDir = "/tmp/graft/index_f_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Index.buildFrom(spark, Bm25.fieldedDocs(Corpus.docs(spark, sfDir)), indexDir)
    new QueryEngine(spark, Seq(indexDir)).topKAllOver(Bm25.FieldedQuerySet)
  }

  /** Synonym-group retrieval: `a|b` pieces score as one pseudo-term
    * (tf summed over members, df = max member df — Lucene SynonymQuery),
    * AND-composed; member postings merge into synthetic block-max
    * segments at query prep (QueryEngine.mergeGroupSegments), so the
    * ordinary conjunctive kernel runs unchanged. */
  def indexedSynTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val indexDir = "/tmp/graft/index_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Index.build(spark, sfDir, indexDir)
    new QueryEngine(spark, Seq(indexDir)).topKAllSyn()
  }

  /** Phrase queries need positions: a separate positional index dir. */
  def indexedPhraseTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val indexDir = "/tmp/graft/index_pos_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Index.build(spark, sfDir, indexDir,
      Index.BuildParams(storePositions = true))
    new QueryEngine(spark, Seq(indexDir)).topKAllPhrase()
  }

  /** Query-focused snippets for the fixed query set's top-k: indexed
    * ranking, then fetch-by-id of the result docs and a codegen'd
    * best-window argmax + highlight (operators.Snippets). */
  def indexedSnippets(spark: SparkSession, sfDir: String): DataFrame = {
    val indexDir = "/tmp/graft/index_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Index.build(spark, sfDir, indexDir)
    val ranked = new QueryEngine(spark, Seq(indexDir)).topKAll()
    Snippets.searchSnippets(spark, Corpus.docs(spark, sfDir), ranked)
  }

  /** Prefix retrieval: each fixed prefix expands against the dictionary
    * and runs with OR semantics over the expansion (no positions needed
    * — reuses the non-positional index). */
  def indexedPrefixTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val indexDir = "/tmp/graft/index_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Index.build(spark, sfDir, indexDir)
    new QueryEngine(spark, Seq(indexDir)).topKAllPrefix()
  }

  /** Total-hits counts (AND + OR) for every fixed query — the "About N
    * results" aggregate, computed from posting intersections without
    * scoring or materializing matches. */
  def indexedMatchCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val indexDir = "/tmp/graft/index_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Index.build(spark, sfDir, indexDir)
    new QueryEngine(spark, Seq(indexDir)).matchCountsAll()
  }

  /** Per-facet hit counts — the facet-navigation sidebar ("lang:en
    * (1,234)"): one gated count per (query, lang), each facet gate
    * prepared ONCE and reused across all queries; zero-hit facet values
    * omitted (matching the SQL twin's inner join). */
  def indexedFacetCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val indexDir = "/tmp/graft/index_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Index.build(spark, sfDir, indexDir)
    val eng = new QueryEngine(spark, Seq(indexDir))
    // facet vocabulary AND per-value gates from the index's own keyword
    // doc-values artifact — facet navigation never scans the corpus
    val facets = eng.facetValues("lang").map(l => l -> eng.prepareKeywordFacet("lang", l))
    val rows = for {
      (qid, q) <- Bm25.QuerySet
      (lang, facet) <- facets
      n = eng.countMatchesFiltered(q, facet)
      if n > 0
    } yield (qid, lang, n)
    rows.toDF("query", "lang", "n_docs").orderBy(col("query"), col("lang"))
  }

  /** Fuzzy retrieval: each fixed query term expands to its
    * Levenshtein-≤-1 dictionary neighborhood, then OR semantics. */
  def indexedFuzzyTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val indexDir = "/tmp/graft/index_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Index.build(spark, sfDir, indexDir)
    new QueryEngine(spark, Seq(indexDir)).topKAllFuzzy()
  }

  /** Wildcard retrieval: each fixed fragment expands to every dictionary
    * term containing it, then OR semantics over the expansion. */
  def indexedWildcardTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val indexDir = "/tmp/graft/index_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Index.build(spark, sfDir, indexDir)
    new QueryEngine(spark, Seq(indexDir)).topKAllWildcard()
  }

  def indexedRegexTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val indexDir = "/tmp/graft/index_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Index.build(spark, sfDir, indexDir)
    new QueryEngine(spark, Seq(indexDir)).topKAllRegex()
  }

  /** Numeric doc-values range facet: every fixed AND query gated to
    * docs whose length lies in [lo, hi] — the allowed set read from the
    * index's own docStats column, corpus untouched. */
  def indexedTopKLenRange(spark: SparkSession, sfDir: String,
                          lo: Long, hi: Long): DataFrame = {
    val indexDir = "/tmp/graft/index_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Index.build(spark, sfDir, indexDir)
    val eng = new QueryEngine(spark, Seq(indexDir))
    eng.topKAllFiltered(eng.prepareLenRange(lo, hi), Bm25.K, orMode = false)
  }

  /** Per-length-bucket match histogram: for every fixed AND query, the
    * count of matching docs per ⌊len/16⌋ bucket — B buckets from ONE
    * grouped-counting kernel pass, not B gated counts. */
  def indexedLenHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val indexDir = "/tmp/graft/index_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Index.build(spark, sfDir, indexDir)
    new QueryEngine(spark, Seq(indexDir)).lenHistogramAll()
  }

  /** Proximity (window) retrieval over the positional index: each fixed
    * query's terms must co-occur within its w-token window. */
  def indexedWindowTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val indexDir = "/tmp/graft/index_pos_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Index.build(spark, sfDir, indexDir,
      Index.BuildParams(storePositions = true))
    new QueryEngine(spark, Seq(indexDir)).topKAllWindow()
  }

  /** Faceted exact-phrase retrieval: phrase query set gated to one lang
    * facet (corpus-global stats; gate checked before the adjacency test). */
  def indexedPhraseTopKFiltered(spark: SparkSession, sfDir: String,
                                lang: String): DataFrame = {
    val indexDir = "/tmp/graft/index_pos_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Index.build(spark, sfDir, indexDir,
      Index.BuildParams(storePositions = true))
    val eng = new QueryEngine(spark, Seq(indexDir))
    eng.topKAllPhraseFiltered(eng.keywordFacetDocs("lang", lang))
  }

  /** Unified search-box queries — ONE raw string per query mixing bare
    * terms, quoted phrases and `-negations` (QueryEngine.search) — over
    * the positional index (phrases need positions). */
  def indexedSearchTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val indexDir = "/tmp/graft/index_pos_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Index.build(spark, sfDir, indexDir,
      Index.BuildParams(storePositions = true))
    new QueryEngine(spark, Seq(indexDir)).searchAll()
  }

  /** Field-faceted search-box queries: the mixed grammar plus one
    * `lang:value` facet piece per query string, resolved to a prepared
    * Facet gate over the index's keyword doc-values artifact
    * (content-keyed broadcast LRU — repeated field values reship
    * nothing; the corpus is never scanned). */
  def indexedSearchFieldTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val indexDir = "/tmp/graft/index_pos_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Index.build(spark, sfDir, indexDir,
      Index.BuildParams(storePositions = true))
    val eng = new QueryEngine(spark, Seq(indexDir))
    // index-side per-field doc-values, no corpus access: any field in
    // Index.KeywordFields (lang, repo) resolves through one call
    val resolver = (f: String, v: String) => eng.prepareKeywordFacet(f, v)
    eng.searchFieldAll(resolver)
  }

  /** Boosted search-box queries: `term^w` weighted pieces in the mixed
    * grammar (positional index — the set includes a boost×phrase case). */
  def indexedSearchBoostedTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val indexDir = "/tmp/graft/index_pos_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Index.build(spark, sfDir, indexDir,
      Index.BuildParams(storePositions = true))
    new QueryEngine(spark, Seq(indexDir)).searchBoostedAll()
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- corpus mapping + per-row sha256 invariant (input_hint; SURVEY §1.2)
    "docs_shape" -> ((s, dir) =>
      Corpus.docs(s, dir)
        .select(col("docID"), col("repo"), col("path"), col("commit"),
          col("lang"), sha2(col("content"), 256).as("content_sha"))
        .orderBy(col("docID"))),

    // -- tokenize + tf (SURVEY §2.6 A7; analyzer F6 descendant)
    "tokens_tf" -> ((s, dir) =>
      Bm25.termFreq(Corpus.docs(s, dir))
        .select(col("docID"), col("term"), col("tf"))
        .orderBy(col("docID"), col("term"))),

    // -- exact document frequency per term (SURVEY §2.6 A7)
    "term_df" -> ((s, dir) => {
      val tf = Bm25.termFreq(Corpus.docs(s, dir))
      Bm25.docFreq(tf).select(col("term"), col("df")).orderBy(col("term"))
    }),

    // -- doc lengths (SURVEY §2.6 A7)
    "doc_stats" -> ((s, dir) => {
      val tf = Bm25.termFreq(Corpus.docs(s, dir))
      Bm25.docLengths(tf).select(col("docID"), col("len")).orderBy(col("docID"))
    }),

    // -- brute-force BM25 top-k oracle over the fixed query set (M0)
    "bm25_topk_oracle" -> ((s, dir) => Bm25.oracleTopK(s, dir)),

    // -- THE headline operator (M1+M2): resumable partitioned inverted
    //    index + block-max WAND top-k; rank-identical to the oracle SQL
    "bm25_topk_indexed" -> ((s, dir) => indexedTopK(s, dir)),

    // -- disjunctive (OR) BM25: brute-force oracle + WAND-pruned engine
    "bm25_topk_or_oracle" -> ((s, dir) => Bm25.oracleTopKOr(s, dir)),
    "bm25_topk_or_indexed" -> ((s, dir) => indexedTopK(s, dir, orMode = true)),

    // -- minimum-should-match: OR scoring gated on >= m distinct
    //    matched terms (Lucene minimum_should_match semantics)
    "bm25_topk_msm_oracle" -> ((s, dir) => Bm25.oracleTopKMsm(s, dir)),
    "bm25_topk_msm_indexed" -> ((s, dir) => {
      val indexDir = "/tmp/graft/index_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      Index.build(s, dir, indexDir)
      new QueryEngine(s, Seq(indexDir)).topKAllMsm()
    }),

    // -- boolean NOT (`-term`): exclusion via anti-posting iterators in
    //    the WAND gate; brute twin anti-joins before ranking
    "bm25_topk_not_oracle" -> ((s, dir) => Bm25.oracleTopKNot(s, dir)),
    "bm25_topk_not_indexed" -> ((s, dir) => indexedTopKNot(s, dir)),

    // -- search-after pagination: page 2 (ranks k+1..2k) via the
    //    kernel-level after-cursor gate
    "bm25_topk_page2" -> ((s, dir) => indexedTopKPage2(s, dir)),

    // -- sort-by-field retrieval: AND matches ordered by the len
    //    doc-values column (longest-first), relevance never computed
    "search_sorted_oracle" -> ((s, dir) => Bm25.oracleSortedTopK(s, dir)),
    "search_sorted" -> ((s, dir) => {
      val indexDir = "/tmp/graft/index_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      Index.build(s, dir, indexDir)
      new QueryEngine(s, Seq(indexDir)).sortedAll()
    }),

    // -- hybrid lexical+semantic retrieval fused by RRF
    "hybrid_rrf" -> ((s, dir) => indexedHybridTopK(s, dir)),

    // -- LSM deletes: tombstoned docs (docID%7==3) excluded via the
    //    deny facet; stats as-built (Lucene deleted-doc semantics)
    "bm25_topk_deleted" -> ((s, dir) => indexedTopKDeleted(s, dir)),

    // -- faceted BM25: lang-filtered result set, corpus-global stats
    "bm25_topk_filtered_oracle" -> ((s, dir) =>
      Bm25.oracleTopK(s, dir, langFilter = "de")),
    "bm25_topk_filtered" -> ((s, dir) => indexedTopKFiltered(s, dir, "de")),

    // -- numeric doc-values range facet: len:[32 TO 79] from the
    // index's own docStats, no corpus join
    "bm25_topk_lenrange" -> ((s, dir) => indexedTopKLenRange(s, dir, 32, 79)),

    // -- SECOND keyword facet dimension: repo-faceted result set from
    //    the field-partitioned docvals artifact (same resolver as lang)
    "bm25_topk_repofacet" -> ((s, dir) => indexedTopKRepoFacet(s, dir, "src3")),

    // -- BM25F two-field (path + content) ranking, integer field weights
    "bm25f_topk_oracle" -> ((s, dir) => Bm25.oracleFieldedTopK(s, dir)),
    "bm25f_topk_indexed" -> ((s, dir) => indexedBm25fTopK(s, dir)),

    // -- synonym groups (a|b scored as one term, Lucene SynonymQuery)
    "bm25_syn_oracle" -> ((s, dir) => Bm25.oracleSynTopK(s, dir)),
    "bm25_syn_indexed" -> ((s, dir) => indexedSynTopK(s, dir)),

    // -- significant terms of each query's top-100 sample (ES
    //    significant_terms under a sampler: log lift vs corpus df)
    "sig_terms" -> ((s, dir) => {
      val indexDir = "/tmp/graft/index_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      Index.build(s, dir, indexDir)
      val eng = new QueryEngine(s, Seq(indexDir))
      SigTerms.significantTerms(s, dir, eng,
        (q, n) => eng.topK(q, n, rounded = true))
    }),

    // -- exact-phrase BM25 over the positional index
    "bm25_phrase_oracle" -> ((s, dir) => Bm25.oraclePhraseTopK(s, dir)),
    "bm25_phrase_indexed" -> ((s, dir) => indexedPhraseTopK(s, dir)),

    // -- unified search-box front door: terms + "phrases" + -negations
    //    parsed from one raw string, composed in one WAND kernel pass
    "search_mixed_oracle" -> ((s, dir) => Bm25.oracleMixedTopK(s, dir)),
    "search_mixed" -> ((s, dir) => indexedSearchTopK(s, dir)),

    // -- field-faceted search box: `lang:value` pieces resolve to facet
    //    gates inside the same kernel pass (corpus-global stats)
    "search_field_oracle" -> ((s, dir) => Bm25.oracleFieldTopK(s, dir)),
    "search_field" -> ((s, dir) => indexedSearchFieldTopK(s, dir)),

    // -- boosted search box: `term^w` weights fold into the WAND bounds
    //    as an outer multiply (bit-exact no-op at w = 1.0)
    "search_boosted_oracle" -> ((s, dir) => Bm25.oracleBoostedTopK(s, dir)),
    "search_boosted" -> ((s, dir) => indexedSearchBoostedTopK(s, dir)),

    // -- grouped (field-collapsing) retrieval: top-n per lang in one
    //    per-group-heap kernel pass (corpus-global stats)
    "search_grouped_oracle" -> ((s, dir) => Bm25.oracleGroupedTopK(s, dir)),
    "search_grouped" -> ((s, dir) => {
      val indexDir = "/tmp/graft/index_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      Index.build(s, dir, indexDir)
      val eng = new QueryEngine(s, Seq(indexDir))
      val groups = eng.prepareGroups(
        Corpus.docs(s, dir).select(col("docID"), col("lang").as("grp")))
      eng.searchGroupedAll(groups)
    }),

    // -- static-rank rescoring: top-window BM25 re-ranked by the
    //    blended bm25 + PageRank score (ES rescore / FeatureField)
    "search_rescored_oracle" -> ((s, dir) =>
      graft.operators.Rescore.rescoredOracle(s, dir)),
    "search_rescored" -> ((s, dir) => {
      val indexDir = "/tmp/graft/index_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      Index.build(s, dir, indexDir)
      graft.operators.Rescore.rescoredAll(s, dir,
        new QueryEngine(s, Seq(indexDir)))
    }),

    // -- query-focused snippets over the top-k result docs
    "search_snippets" -> ((s, dir) => indexedSnippets(s, dir)),

    // -- prefix BM25: dictionary expansion, OR semantics over expansion
    "bm25_prefix_oracle" -> ((s, dir) => Bm25.oraclePrefixTopK(s, dir)),
    "bm25_prefix_indexed" -> ((s, dir) => indexedPrefixTopK(s, dir)),

    // -- autocomplete: top-df dictionary completions per fixed prefix
    "suggest_terms" -> ((s, dir) => {
      val indexDir = "/tmp/graft/index_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      Index.build(s, dir, indexDir)
      new QueryEngine(s, Seq(indexDir)).suggestAll()
    }),

    // -- score explanation: per-term (tf, df, contrib) breakdown of the
    //    top-k, cross-gated against corpus-derived ingredients
    "explain_scores" -> ((s, dir) => {
      val indexDir = "/tmp/graft/index_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      Index.build(s, dir, indexDir)
      new QueryEngine(s, Seq(indexDir)).explainScoresAll()
    }),

    // -- did-you-mean: max-df Levenshtein-1 spell suggestion per term
    "did_you_mean" -> ((s, dir) => {
      val indexDir = "/tmp/graft/index_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      Index.build(s, dir, indexDir)
      new QueryEngine(s, Seq(indexDir)).didYouMeanAll()
    }),

    // -- more-like-this: top-k similar docs via top-tfidf expansion
    "more_like_this" -> ((s, dir) => {
      val indexDir = "/tmp/graft/index_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      Index.build(s, dir, indexDir)
      new QueryEngine(s, Seq(indexDir)).moreLikeThisAll()
    }),

    // -- index metadata surface, cross-gated against corpus truth
    "index_stats" -> ((s, dir) => {
      val indexDir = "/tmp/graft/index_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      Index.build(s, dir, indexDir)
      new QueryEngine(s, Seq(indexDir)).indexStats()
    }),

    // -- total-hits counts per query (AND + OR), no scoring
    "match_counts" -> ((s, dir) => indexedMatchCounts(s, dir)),

    // -- per-facet hit counts (facet-navigation sidebar)
    "facet_counts" -> ((s, dir) => indexedFacetCounts(s, dir)),

    // -- per-length-bucket match histogram (one-pass grouped counting)
    "len_histogram" -> ((s, dir) => indexedLenHistogram(s, dir)),
    "len_ranges" -> ((s, dir) => {
      val indexDir = "/tmp/graft/index_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      Index.build(s, dir, indexDir)
      new QueryEngine(s, Seq(indexDir)).lenRangesAll()
    }),
    "match_docs" -> ((s, dir) => {
      val indexDir = "/tmp/graft/index_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      Index.build(s, dir, indexDir)
      new QueryEngine(s, Seq(indexDir)).matchDocsAll()
    }),
    "len_percentile_ranks" -> ((s, dir) => {
      val indexDir = "/tmp/graft/index_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      Index.build(s, dir, indexDir)
      new QueryEngine(s, Seq(indexDir)).lenPercentileRanksAll()
    }),

    // -- exact nearest-rank len percentiles of each match set (ES
    //    percentiles agg; value-distribution resolve, no global sort)
    "len_percentiles" -> ((s, dir) => {
      val indexDir = "/tmp/graft/index_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      Index.build(s, dir, indexDir)
      new QueryEngine(s, Seq(indexDir)).lenPercentilesAll()
    }),

    // -- ES stats + cardinality bundle over the match set (artifact-side)
    "match_stats" -> ((s, dir) => {
      val indexDir = "/tmp/graft/index_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      Index.build(s, dir, indexDir)
      new QueryEngine(s, Seq(indexDir)).matchStatsAll()
    }),

    // -- fuzzy BM25: Levenshtein-1 dictionary expansion, OR semantics
    "bm25_fuzzy_oracle" -> ((s, dir) => Bm25.oracleFuzzyTopK(s, dir)),
    "bm25_fuzzy_indexed" -> ((s, dir) => indexedFuzzyTopK(s, dir)),

    // -- wildcard BM25: *frag* contains dictionary expansion, OR semantics
    "bm25_wildcard_oracle" -> ((s, dir) => Bm25.oracleWildcardTopK(s, dir)),
    "bm25_wildcard_indexed" -> ((s, dir) => indexedWildcardTopK(s, dir)),

    // -- regexp BM25: full-match dictionary expansion, OR semantics
    "bm25_regex_oracle" -> ((s, dir) => Bm25.oracleRegexTopK(s, dir)),
    "bm25_regex_indexed" -> ((s, dir) => indexedRegexTopK(s, dir)),

    // -- ES /termvectors parity: per-doc (term, tf, df) from the
    //    index's own artifacts, cross-gated against corpus truth
    "term_vectors" -> ((s, dir) => {
      val indexDir = "/tmp/graft/index_" + dir.replaceAll("[^A-Za-z0-9.]", "_")
      Index.build(s, dir, indexDir)
      new QueryEngine(s, Seq(indexDir)).termVectorsAll()
    }),

    // -- proximity (window) BM25: all terms within w consecutive tokens
    "bm25_window_oracle" -> ((s, dir) => Bm25.oracleWindowTopK(s, dir)),
    "bm25_window_indexed" -> ((s, dir) => indexedWindowTopK(s, dir)),

    // -- faceted exact-phrase BM25: lang-gated phrase results
    "bm25_phrase_filtered_oracle" -> ((s, dir) =>
      Bm25.oraclePhraseTopK(s, dir, langFilter = "en")),
    "bm25_phrase_filtered" -> ((s, dir) =>
      indexedPhraseTopKFiltered(s, dir, "en")),

    // -- reference LIKE-substring parity (SURVEY §2.4 P8 / §2.7 O3)
    "substring_search" -> ((s, dir) => SubstringSearch.searchAll(s, dir)),

    // -- training-data pipeline: deduplication family
    "dedup_exact" -> ((s, dir) => Dedup.exactDedup(s, dir)),
    "dedup_exact_stream" -> ((s, dir) =>
      graft.streaming.StreamingDedup.exactDedupStreaming(s, dir)),
    "dedup_ngram_jaccard" -> ((s, dir) => Dedup.bruteJaccard(s, dir)),
    "dedup_minhash_lsh" -> ((s, dir) => Dedup.minhashLshDedup(s, dir)),
    "dedup_groups" -> ((s, dir) => Dedup.dedupGroups(s, dir)),
    "dedup_simhash" -> ((s, dir) => Dedup.simhashDedup(s, dir, dumpOracle = true)),
    "dedup_embedding" -> ((s, dir) => Dedup.embeddingNearDup(s, dir)),
    "line_dedup" -> ((s, dir) => Dedup.lineDedup(s, dir)),

    // -- similarity search over embeddings
    "ann_cosine_topk" -> ((s, dir) => Similarity.bruteTopK(s, dir)),
    "ann_lsh_topk" -> ((s, dir) => Similarity.lshTopK(s, dir, dumpOracle = true)),
    "ann_ivf_topk" -> ((s, dir) => Similarity.ivfTopK(s, dir, dumpOracle = true)),
    "ann_sq8_topk" -> ((s, dir) => Similarity.sq8TopK(s, dir, dumpOracle = true)),

    // -- related-terms mining: top co-occurring terms per seed by PMI
    "related_terms" -> ((s, dir) =>
      graft.operators.RelatedTerms.relatedTerms(s, dir)),

    // -- text analysis
    "token_stats" -> ((s, dir) => TextStats.tokenStats(s, dir)),
    "quality_score" -> ((s, dir) => TextStats.qualityScore(s, dir)),
    "lang_id" -> ((s, dir) => TextStats.langIdNb(s, dir)),
    "doc_xent" -> ((s, dir) => TextStats.docXent(s, dir)),
    "sample_stratified" -> ((s, dir) => TextStats.sampleStratified(s, dir)),
    "mix_langs" -> ((s, dir) => TextStats.mixLangs(s, dir)),
    "pack_sequences" -> ((s, dir) => TextStats.packSequences(s, dir)),
    "training_set" -> ((s, dir) => TextStats.trainingSet(s, dir)),
    "training_set_curated" -> ((s, dir) =>
      TextStats.curatedTrainingSet(s, dir, dumpOracle = true)),
    "repetition_stats" -> ((s, dir) => TextStats.repetitionStats(s, dir)),
    "chunk_documents" -> ((s, dir) => TextStats.chunkDocuments(s, dir)),
    "pii_scrub" -> ((s, dir) => TextStats.piiScrub(s, dir)),
    "doc_fingerprints" -> ((s, dir) => TextStats.fingerprints(s, dir, dumpOracle = true)),
    "clone_pairs" -> ((s, dir) => TextStats.clonePairs(s, dir, dumpOracle = true)),
    "decontaminate" -> ((s, dir) => TextStats.decontaminate(s, dir, dumpOracle = true)),

    // -- multimodal: real PNG/WAV synth + decode over binary payloads
    "media_features" -> ((s, dir) => Media.mediaFeatures(s, dir, dumpOracle = true)),
    "media_resize" -> ((s, dir) => Media.mediaResize(s, dir, dumpOracle = true)),
    "video_frames" -> ((s, dir) => Media.videoFrames(s, dir)),

    // -- event-stream analytics (Structured Streaming; SURVEY §2.10)
    "events_windowed" -> ((s, dir) => Events.windowedCountsStreaming(s, dir)),
    "events_sessions" -> ((s, dir) => Events.sessionsBatch(s, dir)),

    // -- metrics rollup parity (SURVEY §2.6 A1/A2)
    "metrics_rollup" -> ((s, dir) => Metrics.rollupMetrics(s, dir)),

    // -- crawl-parity surface (SURVEY §2.3 F1/F5/F6, §2.7 O2, §3.1)
    "url_normalize" -> ((s, dir) => Crawl.urlNormalize(s, dir)),
    "url_priority" -> ((s, dir) => Crawl.urlPriority(s, dir)),
    "extract_text" -> ((s, dir) => Crawl.extractTextParity(s, dir)),
    "extract_links" -> ((s, dir) => Crawl.extractLinksParity(s, dir)),

    // -- PageRank over the extracted link graph (10 BSP rounds, d=0.85)
    "link_pagerank" -> ((s, dir) => graft.operators.LinkGraph.pageRank(s, dir)),

    // -- HITS hubs/authorities (unnormalized rounds, end max-normalize)
    "link_hits" -> ((s, dir) => graft.operators.LinkGraph.hits(s, dir)),
    "crawl_order" -> ((s, dir) => Crawl.crawlOrder(s, dir, dumpOracle = true)),

    // -- S3/P5: fetch-with-retry ladder over the synthetic status table
    "fetch_retry" -> ((s, dir) => Crawl.fetchWithRetry(s, dir)),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "docs_shape" ->
      """SELECT doc_id AS docID, source AS repo,
        | concat(source, '/', doc_id, '.txt') AS path,
        | 'refcommit0' AS commit, lang, sha256(text) AS content_sha
        |FROM documents ORDER BY docID""".stripMargin,

    "tokens_tf" ->
      """WITH tok AS (
        |  SELECT doc_id AS docID, t.term AS term
        |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
        |  WHERE t.term <> ''
        |)
        |SELECT docID, term, CAST(count(*) AS BIGINT) AS tf
        |FROM tok GROUP BY docID, term ORDER BY docID, term""".stripMargin,

    "term_df" ->
      """WITH tok AS (
        |  SELECT doc_id AS docID, t.term AS term
        |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
        |  WHERE t.term <> ''
        |), tf AS (
        |  SELECT docID, term FROM tok GROUP BY docID, term
        |)
        |SELECT term, CAST(count(*) AS BIGINT) AS df
        |FROM tf GROUP BY term ORDER BY term""".stripMargin,

    "doc_stats" ->
      """WITH tok AS (
        |  SELECT doc_id AS docID, t.term AS term
        |  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
        |  WHERE t.term <> ''
        |)
        |SELECT docID, CAST(count(*) AS BIGINT) AS len
        |FROM tok GROUP BY docID ORDER BY docID""".stripMargin,

    "bm25_topk_oracle" -> Bm25.oracleSqlTopK(),

    // the indexed engine must reproduce the very same frame the
    // brute-force SQL computes — that IS the rank-identity gate
    "bm25_topk_indexed" -> Bm25.oracleSqlTopK(),
    "bm25_topk_or_oracle" -> Bm25.oracleSqlTopKOr(),
    "bm25_topk_or_indexed" -> Bm25.oracleSqlTopKOr(),
    "bm25_topk_msm_oracle" -> Bm25.oracleSqlTopKMsm(),
    "bm25_topk_msm_indexed" -> Bm25.oracleSqlTopKMsm(),
    "search_sorted_oracle" -> Bm25.oracleSqlSortedTopK(),
    "search_sorted" -> Bm25.oracleSqlSortedTopK(),
    "bm25_topk_not_oracle" -> Bm25.oracleSqlTopKNot(),
    "bm25_topk_not_indexed" -> Bm25.oracleSqlTopKNot(),
    // page 2 = global ranks k+1 .. 2k of the same brute ranking
    "bm25_topk_page2" -> Bm25.oracleSqlTopK(
      k = 2 * Bm25.K, rankLo = Bm25.K + 1),
    // hybrid RRF: OR-mode BM25 rank leg + cosine rank leg, full-outer
    // fusion — the whole pipeline re-derived relationally
    "hybrid_rrf" -> Hybrid.hybridTopKSql(),
    "suggest_terms" -> Bm25.suggestSql(),
    "did_you_mean" -> Bm25.didYouMeanSql(),
    "explain_scores" -> Bm25.explainSql(),
    "more_like_this" -> Bm25.oracleSqlMoreLikeThis(),
    "index_stats" -> Bm25.indexStatsSql(),
    "bm25_topk_deleted" -> Bm25.oracleSqlTopK(
      docPred = "docID NOT IN (SELECT doc_id FROM documents WHERE doc_id % 7 = 3)"),
    "bm25_topk_filtered_oracle" -> Bm25.oracleSqlTopK(langFilter = "de"),
    "bm25_topk_filtered" -> Bm25.oracleSqlTopK(langFilter = "de"),
    "bm25_topk_lenrange" -> Bm25.oracleSqlTopK(
      docPred = "docID IN (SELECT docID FROM dl WHERE len BETWEEN 32 AND 79)"),
    "bm25_topk_repofacet" -> Bm25.oracleSqlTopK(
      docPred = "docID IN (SELECT doc_id FROM documents WHERE source = 'src3')"),
    "bm25f_topk_oracle" -> Bm25.oracleSqlFieldedTopK(),
    "bm25f_topk_indexed" -> Bm25.oracleSqlFieldedTopK(),
    "bm25_syn_oracle" -> Bm25.oracleSqlSynTopK(),
    "bm25_syn_indexed" -> Bm25.oracleSqlSynTopK(),
    "sig_terms" -> SigTerms.oracleSql(),
    "bm25_phrase_oracle" -> Bm25.oracleSqlPhraseTopK(),
    "bm25_phrase_indexed" -> Bm25.oracleSqlPhraseTopK(),
    "bm25_phrase_filtered_oracle" -> Bm25.oracleSqlPhraseTopK(langFilter = "en"),
    "bm25_phrase_filtered" -> Bm25.oracleSqlPhraseTopK(langFilter = "en"),
    "bm25_window_oracle" -> Bm25.oracleSqlWindowTopK(),
    "bm25_window_indexed" -> Bm25.oracleSqlWindowTopK(),
    "bm25_prefix_oracle" -> Bm25.oracleSqlPrefixTopK(),
    "bm25_prefix_indexed" -> Bm25.oracleSqlPrefixTopK(),
    "bm25_fuzzy_oracle" -> Bm25.oracleSqlFuzzyTopK(),
    "bm25_fuzzy_indexed" -> Bm25.oracleSqlFuzzyTopK(),
    "bm25_wildcard_oracle" -> Bm25.oracleSqlWildcardTopK(),
    "bm25_wildcard_indexed" -> Bm25.oracleSqlWildcardTopK(),
    "bm25_regex_oracle" -> Bm25.oracleSqlRegexTopK(),
    "bm25_regex_indexed" -> Bm25.oracleSqlRegexTopK(),
    "term_vectors" -> Bm25.oracleSqlTermVectors(),
    "len_histogram" -> Bm25.oracleSqlLenHistogram(),
    "len_ranges" -> Bm25.oracleSqlLenRanges(),
    "match_docs" -> Bm25.oracleSqlMatchDocs(),
    "len_percentile_ranks" ->
      Bm25.oracleSqlLenPercentileRanks(QueryEngine.PercentileRankValues),
    "len_percentiles" -> Bm25.oracleSqlLenPercentiles(QueryEngine.PercentileSet),
    "match_stats" -> Bm25.oracleSqlMatchStats(),
    "search_mixed_oracle" -> Bm25.oracleSqlMixedTopK(),
    "search_mixed" -> Bm25.oracleSqlMixedTopK(),
    "search_field_oracle" -> Bm25.oracleSqlFieldTopK(),
    "search_field" -> Bm25.oracleSqlFieldTopK(),
    "search_boosted_oracle" -> Bm25.oracleSqlBoostedTopK(),
    "search_boosted" -> Bm25.oracleSqlBoostedTopK(),
    "search_grouped_oracle" -> Bm25.oracleSqlGroupedTopK(),
    "search_grouped" -> Bm25.oracleSqlGroupedTopK(),
    "search_rescored_oracle" -> graft.operators.Rescore.oracleSql(),
    "search_rescored" -> graft.operators.Rescore.oracleSql(),
    "match_counts" -> Bm25.oracleSqlMatchCounts(),
    "facet_counts" -> Bm25.oracleSqlFacetCounts(),
    "search_snippets" -> Snippets.searchSnippetsSql(),

    "substring_search" -> SubstringSearch.oracleSql,

    "dedup_exact" -> Dedup.exactDedupSql,
    // stateful streaming dedup must land on the identical batch frame
    "dedup_exact_stream" -> Dedup.exactDedupSql,
    "dedup_ngram_jaccard" -> Dedup.jaccardSql(),
    // LSH+verify must reproduce the brute-force contract exactly
    "dedup_minhash_lsh" -> Dedup.jaccardSql(),
    "dedup_groups" -> Dedup.dedupGroupsSql(),
    "dedup_embedding" -> Dedup.embeddingNearDupSql(),
    "line_dedup" -> Dedup.lineDedupSql(),
    "ann_cosine_topk" -> Similarity.bruteTopKSql(),
    // materialized-artifact oracles (see OracleSide): the DuckDB twin
    // recomputes the full post-hash pipeline (bucket join / probe
    // selection / rerank / rank) from the dumped signature tables
    "ann_lsh_topk" -> Similarity.lshTopKSql(),
    "ann_ivf_topk" -> Similarity.ivfTopKSql(),
    "ann_sq8_topk" -> Similarity.sq8TopKSql(),
    "dedup_simhash" -> Dedup.simhashDedupSql(),
    "doc_fingerprints" -> TextStats.fingerprintsSql,
    "clone_pairs" -> TextStats.clonePairsSql(),
    "decontaminate" -> TextStats.decontaminateSql(),
    "related_terms" -> graft.operators.RelatedTerms.relatedTermsSql(),
    "token_stats" -> TextStats.tokenStatsSql,
    "quality_score" -> TextStats.qualityScoreSql,
    "lang_id" -> TextStats.langIdNbSql,
    "doc_xent" -> TextStats.docXentSql,
    "sample_stratified" -> TextStats.sampleStratifiedSql(),
    "mix_langs" -> TextStats.mixLangsSql(),
    "pack_sequences" -> TextStats.packSequencesSql(),
    "training_set" -> TextStats.trainingSetSql(),
    "training_set_curated" -> TextStats.curatedTrainingSetSql(),
    "repetition_stats" -> TextStats.repetitionStatsSql,
    "chunk_documents" -> TextStats.chunkDocumentsSql(),
    "pii_scrub" -> TextStats.piiScrubSql,
    "media_features" -> Media.mediaFeaturesSql,
    "media_resize" -> Media.mediaResizeSql,
    "video_frames" -> Media.videoFramesSql,
    "events_windowed" -> Events.windowedSql,
    "events_sessions" -> Events.sessionsSql,
    "metrics_rollup" -> Metrics.rollupMetricsSql,
    "url_normalize" -> Crawl.urlNormalizeSql,
    "url_priority" -> Crawl.urlPrioritySql,
    "extract_text" -> Crawl.extractTextSql,
    "extract_links" -> Crawl.extractLinksSql,
    "link_pagerank" -> graft.operators.LinkGraph.oracleSql(),
    "link_hits" -> graft.operators.LinkGraph.oracleSqlHits(),
    // the crawl wave loop, UNROLLED over the materialized link graph —
    // every entry now has a DuckDB gate (hash kernels via OracleSide)
    "crawl_order" -> Crawl.crawlOrderSql(),
    "fetch_retry" -> Crawl.fetchRetrySql(),
  )
}
