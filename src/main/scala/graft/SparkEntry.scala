package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.operators.ReferenceInterop.Root

/** Driver contract — see /root/repo/SURVEY.md §2 for the operator
  * inventory each entry maps to.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Hybrid vector+TF-IDF "more-like-this" — the reference's richest
    * code path (app.py:190-219) end-to-end.
    */
  def entry(spark: SparkSession): DataFrame =
    TextRetrieval.hybridTopK(spark, "/root/testdata/sf0.001", queryDoc = 0, alpha = 0.7, k = 10)

  /** The named queries in the given order, or every query when no name
    * is given. Throws IllegalArgumentException naming every unknown
    * name, so an entrypoint fails before it builds a session. */
  def select(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val unknown = names.filterNot(all.contains).distinct
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(s"unknown queries: ${unknown.mkString(", ")}")
    if (names.isEmpty) all.toSeq else names.distinct.map(n => n -> all(n))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- vector search (reference core) ---
    "vs_topk" -> ((s, d) => VectorSearch.topK(s, d, queryId = 0, k = 10)),
    // reference-artifact end-to-end: the engine answering the
    // reference's OWN corpus (its .npy matrix and its FAISS flat
    // index, byte-identical payloads) — dir-independent on purpose
    "vs_topk_reference" -> ((s, _) => VectorSearch.topKOf(
      graft.sources.NpySource.readNpy(s, ReferenceInterop.ProductsNpy), 0, 10,
      ReferenceInterop.ProductsNpy)),
    "vs_topk_faiss" -> ((s, _) => VectorSearch.topKOf(
      graft.sources.FaissSource.readFlat(s, ReferenceInterop.ProductsFlatIndex), 0, 10,
      ReferenceInterop.ProductsFlatIndex)),
    // free text against the reference's REAL MiniLM space: the lexicon
    // induced from (reviews.csv, review_embeddings.npy) encodes the
    // typed query, product_embeddings.npy answers it — app.py's
    // search box end-to-end on the reference's own data, zero egress
    // served from the reference's OWN trained IVF index: its coarse
    // quantizer ranks the probe, only the nprobe winning inverted
    // lists' byte ranges are read, exact cosine over the members
    "ann_ivf_topk_reference" -> ((s, _) => ReferenceInterop.ivfTopK(s,
      ReferenceInterop.ReviewsIvfIndex,
      ReferenceInterop.npyRow(s, ReferenceInterop.ReviewsNpy, 0L),
      nprobe = 4, k = 10, excludeId = Some(0L))),
    // the reference's build pipeline re-run on its real input:
    // products.csv's rollup columns rebuilt from reviews.csv and
    // reconciled row-by-row against the published artifact
    "reference_product_rollup" -> ((s, _) => ReferenceInterop.productRollupAudit(s)),
    "reference_brand_facets" -> ((s, _) => ReferenceInterop.brandFacets(s)),
    "vs_topk_reference_text" -> ((s, _) => VectorSearch.topKVecOf(
      graft.sources.NpySource.readNpy(s, ReferenceInterop.ProductsNpy),
      graft.functions.CorpusLexicalEncoder.encodeWithVocab(
        graft.functions.CorpusLexicalQueryEncoder.referenceVocabulary(s,
          ReferenceInterop.ReviewsCsv, ReferenceInterop.ReviewsNpy),
        "kindle tablet battery"), 10)),
    // the reference's FITTED sklearn model served as-is: the typed
    // query transformed by the joblib vectorizer's own vocabulary+idf,
    // cosine over the joblib document matrix (app.py:76-78, 201-203)
    "tfidf_sklearn_topk" -> ((s, _) =>
      SklearnTfidf.tfidfTopK(s, "kindle tablet battery", k = 10)),
    // app.py's hybrid search end-to-end on reference artifacts only:
    // α·(MiniLM-space vector dot) + (1-α)·minmax(fitted-tfidf cosine)
    "hybrid_topk_sklearn" -> ((s, _) =>
      SklearnTfidf.hybridTopK(s, "kindle tablet battery", k = 10)),
    // the same blend inside candidate_indices() (app.py:156-164):
    // brand + rating + review-count filters scope the blend AND its
    // min-max to the candidate set, exactly as app.py slices tf_full
    "hybrid_filtered_sklearn" -> ((s, _) =>
      SklearnTfidf.hybridTopK(s, "kindle tablet battery", k = 10,
        brand = Some("Amazon"), minRating = Some(4.0), minReviews = Some(5L))),
    // app.py's search_by_product_id on the real catalog: typed id →
    // its npy row → raw-dot over every other product
    "vs_item_similar_reference" -> ((s, _) =>
      ReferenceInterop.itemSimilarReference(s, "AV1T09fyvKc47QAVgf2R", k = 10)),
    // Tab-3 Compare: the V @ V.T similarity matrix over selected
    // catalog products (app.py:326-360), diagonal included
    "vs_compare_reference" -> ((s, _) => ReferenceInterop.compareProductsReference(s,
      Seq("AV000tWuGV-KLJ3ac2-b", "AV00l7jV-jtxr-f30lnX", "AV1T09fyvKc47QAVgf2R"))),
    // Tab-3 ANN demo: the same query review through BOTH review
    // indexes — exhaustive flat vs nprobe=5 IVF, self removed, side
    // by side (app.py:365-447); the flat\ivf delta IS the probe's
    // recall loss
    "ann_demo_reference" -> ((s, _) => ReferenceInterop.annDemoReference(s)),
    // raw text through the LEARNED corpus-lexical encoder (the
    // reference's model.encode seam) — lexicon induction, driver-side
    // encode, and the cosine scan all replayed by the oracle
    "vs_topk_lexenc" -> ((s, d) => {
      s.conf.set("spark.graft.encoder.class", "graft.functions.CorpusLexicalQueryEncoder")
      s.conf.set(graft.functions.CorpusLexicalEncoder.DirKey, d)
      VectorSearch.topKText(s, d, "the data", k = 10)
    }),
    // the published ANN trade-off table served as-is (the last
    // artifact app.py loads; the engine's measured analog is
    // ann_recall_eval / ann_family_eval)
    "reference_ann_table" -> ((s, _) => ReferenceInterop.annTradeoffTable(s)),
    "vs_topk_qvec" -> ((s, d) => VectorSearch.topKVec(s, d, demoQueryVec, k = 10)),
    "vs_item_similar" -> ((s, d) => VectorSearch.topK(s, d, queryId = 7, k = 10)),
    "vs_filtered_topk" -> ((s, d) => VectorSearch.filteredTopK(s, d, queryId = 0, k = 10, labels = Seq(1, 2, 3))),
    // the filter PLANNER routed into execution: one rare label → the
    // integer rule picks the exact prefilter scan; an 8-label loose
    // filter → the rule picks probe-then-discard over the IVF index.
    // The output carries `strategy`, so the ROUTE itself is hashed.
    "vs_planned_filtered_rare" -> ((s, d) =>
      Ivf.plannedFilteredTopK(s, d, queryId = 0, labels = Seq(3), k = 10)),
    "vs_planned_filtered_loose" -> ((s, d) =>
      Ivf.plannedFilteredTopK(s, d, queryId = 0, labels = Seq(0, 1, 2, 3, 4, 5, 6, 7), k = 10)),
    "vs_sim_matrix" -> ((s, d) => VectorSearch.simMatrix(s, d, ids = Seq(0L, 1L, 2L, 3L))),
    "ann_knn_join" -> ((s, d) => VectorSearch.knnJoin(s, d, queryMod = 100, k = 5)),
    "vs_topk_l2" -> ((s, d) => VectorSearch.topKL2(s, d, queryId = 0, k = 10)),
    "vs_meta_filtered" -> ((s, d) => VectorSearch.metaFilteredTopK(s, d, queryId = 0, k = 10, lang = "en", minChars = 200L)),
    // item-to-item + metadata filter COMPOSED (reference
    // search_by_product_id running inside candidate_indices(),
    // app.py:221-241): "more like product 7, but only en/long docs"
    "vs_item_similar_filtered" -> ((s, d) => VectorSearch.metaFilteredTopK(s, d, queryId = 7, k = 10, lang = "en", minChars = 200L)),
    "knn_label_precision" -> ((s, d) => VectorSearch.knnLabelPrecision(s, d, queryMod = 100, k = 10)),
    // position-discounted retrieval quality next to flat precision
    "knn_ndcg" -> ((s, d) => VectorSearch.knnNdcg(s, d, queryMod = 100, k = 10)),
    // FaceNet batch-hard triplets: hardest positive + hardest negative
    "triplet_mine" -> ((s, d) => VectorSearch.tripletMine(s, d, queryMod = 100)),
    // MRL accuracy-vs-dims curve: the prefix-width sizing table
    "matryoshka_eval" -> ((s, d) => VectorSearch.matryoshkaEval(s, d)),
    // LSH bucket-width tuning curve: recall/MRR per nBits
    "lsh_bits_eval" -> ((s, d) => Lsh.lshBitsEval(s, d)),
    // kNN majority-vote label prediction over the same query batch
    "knn_classify" -> ((s, d) => VectorSearch.knnClassify(s, d, queryMod = 100, k = 10)),
    // per-label embedding L2-norm distribution (encoder sanity check)
    "embed_norm_stats" -> ((s, d) => VectorSearch.embedNormStats(s, d)),
    // per-dimension corpus stats (dead dims / quantizer-symmetry QA)
    "embed_dim_stats" -> ((s, d) => VectorSearch.embedDimStats(s, d)),
    // whitened-cosine retrieval: anisotropy-corrected top-k
    "embed_whiten_topk" -> ((s, d) => VectorSearch.embedWhitenTopK(s, d)),
    "ann_knn_join_heap" -> ((s, d) => TopK.knnJoinHeap(s, d, queryMod = 100, k = 5)),
    "ann_sq8_topk" -> ((s, d) => Quantized.sq8TopK(s, d, queryId = 0, k = 10)),
    "embed_project" -> ((s, d) => Quantized.randomProject(s, d)),
    // learned twin of embed_project (rows-only: eigen not in SQL)
    "embed_pca" -> ((s, d) => Quantized.pcaProject(s, d)),
    // what embed_pca's rows-only gap leaves open, closed as constants:
    // orthonormality / centering / eigenvalue order / Parseval bound
    "pca_invariants" -> ((s, d) => Quantized.pcaInvariants(s, d)),
    "ann_pq_topk" -> ((s, d) => Quantized.pqTopK(s, d, queryId = 0, k = 10)),
    "ann_ivf_topk" -> ((s, d) => Ivf.ivfTopK(s, d, queryId = 0, nCells = 16, nprobe = 4, k = 10)),
    "ann_ivfpq_topk" -> ((s, d) => Quantized.ivfPqTopK(s, d, queryId = 0, nCells = 16, nprobe = 4, k = 10)),
    "ann_ivfpq_rerank" -> ((s, d) => Quantized.ivfPqRerankTopK(s, d, queryId = 0, nCells = 16, nprobe = 4, c = 50, k = 10)),
    // FAISS IndexIVFPQ's by_residual=true default — per-probed-cell LUTs
    "ann_ivfpq_res_topk" -> ((s, d) => Quantized.ivfPqResidualTopK(s, d, queryId = 0, nCells = 16, nprobe = 4, k = 10)),
    "ann_lsh_topk" -> ((s, d) => Lsh.lshTopK(s, d, queryId = 0, nBits = 8, k = 10)),
    // BATCH graph walk: every mod-sampled query descends the persisted
    // NSW graph set-at-a-time (per-hop keyed join + per-q beam window)
    // — the graph-family nightly kNN job next to the brute-force
    // ann_knn_join (73.8x at sf10) it replaces at scale
    "ann_graph_knn_join" -> ((s, d) =>
      GraphAnn.graphKnnJoin(s, d, queryMod = 100, k = 10, g = 8, hops = 6, beam = 4)),
    "ann_recall_eval" -> ((s, d) => Ivf.recallEval(s, d, nCells = 16, queryMod = 100, k = 10, nprobes = Seq(1, 2, 4))),
    // nprobe auto-tuner: cheapest measured probe depth meeting the
    // recall target, picked over the hard-oracled recall curve
    "ann_nprobe_planner" -> ((s, d) => Ivf.nprobePlanner(s, d)),
    // queryMod 500: the per-family loop times interactive single-query
    // latency, so the sample stays small (4 queries at sf0.1)
    "ann_family_eval" -> ((s, d) => Ivf.familyEval(s, d, queryMod = 500, k = 10)),
    // the HONEST serving table: the same 9 families with the sampled
    // query vectors held OUT of every index build and searched through
    // the caller-vector entry points — no member self hit can inflate
    // recall (rows-only like ann_family_eval: timing columns)
    "ann_family_eval_nonmember" -> ((s, d) =>
      Ivf.familyEval(s, d, queryMod = 500, k = 10, memberQueries = false)),
    // --- text retrieval (reference core) ---
    "tfidf_topk" -> ((s, d) => TextRetrieval.tfidfTopK(s, d, Seq("spark", "join", "vector"), k = 10)),
    // ColBERT-shape MaxSim rerank over the TF-IDF shortlist
    "maxsim_rerank" -> ((s, d) => TextRetrieval.maxsimRerank(s, d, Seq("spark", "join", "vector"))),
    // the raw-text front door: input is the string a user typed
    // (app.py:173 search takes `query: str`); tokenization happens
    // inside the engine, and the oracle re-tokenizes INDEPENDENTLY in
    // SQL — a tokenizer drift fails the hash-match
    "tfidf_topk_text" -> ((s, d) => TextRetrieval.tfidfTopK(s, d, "Spark JOIN, vector-search! spark", k = 10)),
    "vocab_stats" -> ((s, d) => TextRetrieval.vocabStats(s, d)),
    // top-3 TF-IDF terms per doc from the persisted sparse model
    "doc_keywords" -> ((s, d) => TextRetrieval.docKeywords(s, d)),
    // per-label class prototypes as (label, pos, m) rows
    "label_centroids" -> ((s, d) => VectorSearch.labelCentroids(s, d)),
    "events_hourly" -> ((s, d) => Analytics.hourly(s, d)),
    "hybrid_topk" -> ((s, d) => TextRetrieval.hybridTopK(s, d, queryDoc = 0, alpha = 0.7, k = 10)),
    "hybrid_topk_free" -> ((s, d) => TextRetrieval.hybridTopKFree(s, d, demoQueryVec,
      Seq("spark", "join", "vector"), alpha = 0.7, k = 10)),
    // the reference's ACTUAL interactive entry: raw typed string in,
    // engine-side tokenization (oracle re-tokenizes independently)
    "hybrid_topk_text" -> ((s, d) => TextRetrieval.hybridTopKFree(s, d, demoQueryVec,
      "Spark JOIN, vector-search! spark", alpha = 0.7, k = 10, metaFilter = None)),
    "hybrid_filtered" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      TextRetrieval.hybridTopK(s, d, queryDoc = 0, alpha = 0.7, k = 10,
        metaFilter = Some(col("lang") === "en" && col("n_chars") >= 200L))
    }),
    "hybrid_filtered_free" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      TextRetrieval.hybridTopKFree(s, d, demoQueryVec, Seq("spark", "join", "vector"),
        alpha = 0.7, k = 10,
        metaFilter = Some(col("lang") === "en" && col("n_chars") >= 200L))
    }),
    // --- analytics / metadata ---
    "q1_pricing" -> ((s, d) => Analytics.q1Pricing(s, d)),
    "q3_shipping" -> ((s, d) => Analytics.q3Shipping(s, d)),
    "q5_region_volume" -> ((s, d) => Analytics.q5RegionVolume(s, d)),
    "topn_per_group" -> ((s, d) => Analytics.topNPerGroup(s, d, n = 3)),
    "product_rollup" -> ((s, d) => Analytics.productRollup(s, d)),
    "brand_facets" -> ((s, d) => Analytics.brandFacets(s, d)),
    "doc_preview" -> ((s, d) => Analytics.docPreview(s, d)),
    "product_details" -> ((s, d) => Analytics.productDetails(s, d, Seq(0L, 1L, 2L, 3L))),
    "events_sessionize" -> ((s, d) => Analytics.sessionize(s, d)),
    // session-size distribution (count/duration/value per k-event bin)
    "events_session_stats" -> ((s, d) => Analytics.sessionStats(s, d)),
    // TPC-H Q10-style returned-revenue customer triage
    "q10_returns" -> ((s, d) => Analytics.q10Returns(s, d)),
    // TPC-H Q14-style promo revenue share per ship month
    "q14_promo_share" -> ((s, d) => Analytics.q14PromoShare(s, d)),
    // TPC-H Q4-style late-shipment priority check (LEFT SEMI + residual)
    "q4_priority" -> ((s, d) => Analytics.q4Priority(s, d)),
    // TPC-H Q7-style cross-nation volume (dims joined before the fact)
    "q7_nation_volume" -> ((s, d) => Analytics.q7NationVolume(s, d)),
    // TPC-H Q13-style order-count histogram (left outer + two aggs)
    "q13_custdist" -> ((s, d) => Analytics.q13CustDist(s, d)),
    // TPC-H Q18-style large-volume orders (HAVING before the joins)
    "q18_large_orders" -> ((s, d) => Analytics.q18LargeOrders(s, d)),
    // TPC-H Q22-style dormant-rich customers (scalar avg + LEFT ANTI)
    "q22_dormant_rich" -> ((s, d) => Analytics.q22DormantRich(s, d)),
    // TPC-H Q2-style min-cost supplier (rollup + per-part ranking window)
    "q2_min_price_supp" -> ((s, d) => Analytics.q2MinPriceSupp(s, d)),
    // TPC-H Q8-style nation market share per order year
    "q8_market_share" -> ((s, d) => Analytics.q8MarketShare(s, d)),
    // TPC-H Q9-style product-line profit by nation and year
    "q9_profit" -> ((s, d) => Analytics.q9Profit(s, d)),
    // TPC-H Q11-style important parts (scalar-total threshold)
    "q11_important_parts" -> ((s, d) => Analytics.q11ImportantParts(s, d)),
    // TPC-H Q12-style late-shipment priority split (conditional agg)
    "q12_priority_late" -> ((s, d) => Analytics.q12PriorityLate(s, d)),
    // TPC-H Q15-style top supplier (scalar max over the rollup)
    "q15_top_supplier" -> ((s, d) => Analytics.q15TopSupplier(s, d)),
    // TPC-H Q16-style supplier variety (distinct agg + LEFT ANTI denylist)
    "q16_supplier_variety" -> ((s, d) => Analytics.q16SupplierVariety(s, d)),
    // TPC-H Q17-style small-quantity revenue (per-part avg join)
    "q17_small_qty" -> ((s, d) => Analytics.q17SmallQty(s, d)),
    // TPC-H Q19-style disjunctive-predicate revenue (one pass)
    "q19_disjunctive" -> ((s, d) => Analytics.q19Disjunctive(s, d)),
    // TPC-H Q20-style dominant suppliers (nested agg + LEFT SEMI)
    "q20_dominant_supp" -> ((s, d) => Analytics.q20DominantSupp(s, d)),
    // TPC-H Q21-style sole-late-supplier audit (windowed EXISTS pair)
    "q21_sole_late" -> ((s, d) => Analytics.q21SoleLate(s, d)),
    // Markov next-event transition matrix (lead window + bounded agg)
    "event_transitions" -> ((s, d) => Analytics.eventTransitions(s, d)),
    // next-event argmax model trained on the first 80% of days,
    // hit rate per state on the eval days
    "event_next_pred" -> ((s, d) => Analytics.eventNextPred(s, d)),
    // first-touch -> first-purchase latency percentiles per entry
    // event type
    "conversion_lag" -> ((s, d) => Analytics.conversionLag(s, d)),
    // seasonal-naive vs naive daily-count forecast backtest (MAE over
    // the last 7 days) per event type
    "events_forecast" -> ((s, d) => Analytics.eventsForecast(s, d)),
    // Shannon entropy of each state's next-type distribution
    "transition_entropy" -> ((s, d) => Analytics.transitionEntropy(s, d)),
    // Goh-Barabasi burstiness of per-type inter-event gaps
    "events_burstiness" -> ((s, d) => Analytics.eventsBurstiness(s, d)),
    // Gini concentration of per-user activity (histogram fold, no global rank)
    "engagement_gini" -> ((s, d) => Analytics.engagementGini(s, d)),
    // week-over-week retained-active fraction
    "user_stickiness" -> ((s, d) => Analytics.userStickiness(s, d)),
    // inter-event cadence profile per type (lag window + exact percentiles)
    "interevent_gaps" -> ((s, d) => Analytics.intereventGaps(s, d)),
    // fixed-width value histogram per event type
    "value_histogram" -> ((s, d) => Analytics.valueHistogram(s, d)),
    // gap sessions via Spark's NATIVE session_window operator
    "events_session_window" -> ((s, d) => Analytics.sessionWindowAgg(s, d)),
    // range join as a bin-blocked broadcast hash join (no NLJ)
    "events_band_join" -> ((s, d) => Analytics.bandJoin(s, d)),
    // triangle census + global clustering coefficient (oriented count)
    "item_triangles" -> ((s, d) => Graph.itemTriangles(s, d)),
    // did-you-mean: edit-distance vocab match off the persisted model
    "fuzzy_term_match" -> ((s, d) => TextRetrieval.fuzzyTermMatch(s, d)),
    // query-aware KWIC snippets for the top TF-IDF hits
    "search_snippets" -> ((s, d) => TextRetrieval.searchSnippets(s, d)),
    // Rocchio pseudo-relevance-feedback expanded retrieval
    "vs_prf_topk" -> ((s, d) => VectorSearch.prfTopK(s, d, demoQueryVec)),
    // hour-of-day x day-of-week activity matrix
    "events_heatmap" -> ((s, d) => Analytics.activityHeatmap(s, d)),
    // passage-level retrieval: best chunk per doc, max-pool doc score
    "chunk_passage_topk" -> ((s, d) => TextRetrieval.chunkPassageTopK(s, d)),
    // order-to-first-ship latency percentiles per priority
    "ship_latency" -> ((s, d) => Analytics.shipLatency(s, d)),
    // per-source centroid drift vs the corpus centroid
    "source_embed_drift" -> ((s, d) => VectorSearch.sourceEmbedDrift(s, d)),
    // trimmed mean per event type (broadcast percentile band)
    "value_robust_stats" -> ((s, d) => Analytics.valueRobustStats(s, d)),
    // conversion rate by first-touch event type
    "first_touch_conversion" -> ((s, d) => Analytics.firstTouchConversion(s, d)),
    // language x source Pearson chi-square independence test
    "lang_source_chi2" -> ((s, d) => TextAnalysis.langSourceChi2(s, d)),
    // top discriminative terms per source (smoothed log-odds)
    "source_log_odds" -> ((s, d) => TextAnalysis.sourceLogOdds(s, d)),
    // per-label own-vs-other centroid cosine margins
    "label_separation" -> ((s, d) => VectorSearch.labelSeparation(s, d)),
    // session-level view->purchase conversion summary
    "session_conversion" -> ((s, d) => Analytics.sessionConversion(s, d)),
    // items-by-engagement-count histogram (long-tail inventory)
    "item_engagement_hist" -> ((s, d) => Analytics.itemEngagementHist(s, d)),
    // top-1/5/10% customer revenue concentration
    "revenue_pareto" -> ((s, d) => Analytics.revenuePareto(s, d)),
    // Heaps'-law vocabulary growth fit over md5-sharded prefixes
    "vocab_heaps" -> ((s, d) => TextAnalysis.vocabHeaps(s, d)),
    // null/blank/cross-field integrity audit (ingestion gate)
    "data_quality_profile" -> ((s, d) => Curation.dataQualityProfile(s, d)),
    "events_funnel" -> ((s, d) => Analytics.funnel(s, d)),
    "events_props_parse" -> ((s, d) => Analytics.propsParse(s, d)),
    // behavioral item-item recommender (co-engagement counts)
    "item_cooc" -> ((s, d) => Analytics.itemCooccurrence(s, d)),
    // recency-decayed co-visitation: exact 2^(maxK-age/halflife) weights
    "item_cooc_decayed" -> ((s, d) => Analytics.itemCoocDecayed(s, d)),
    // session-scoped co-visitation: pairs within one 30-min mission
    "item_cooc_session" -> ((s, d) => Analytics.itemCoocSession(s, d)),
    // leakage-free training rows: strictly-past features (range
    // window), strictly-future purchase label, exact-cents money
    "pit_training_set" -> ((s, d) => Analytics.pitTrainingSet(s, d)),
    // PSI drift between time halves: ref-decile bins for value,
    // categorical bins for event_type, Laplace-smoothed shares
    "feature_psi" -> ((s, d) => Analytics.featurePsi(s, d)),
    // right-to-be-forgotten manifest: per-artifact deletion actions
    "user_erasure_plan" -> ((s, d) => Curation.userErasurePlan(s, d)),
    // support/confidence/lift rules over the same engagement baskets
    "assoc_rules" -> ((s, d) => Analytics.assocRules(s, d)),
    // RFM quartile segmentation (broadcast cutoffs, no global sort)
    "user_rfm" -> ((s, d) => Analytics.userRfm(s, d)),
    // strict ordered funnel (first-occurrence ordering per user)
    "funnel_ordered" -> ((s, d) => Analytics.funnelOrdered(s, d)),
    // top 3-step event-type paths (user flow analysis)
    "events_paths" -> ((s, d) => Analytics.commonPaths(s, d)),
    // trailing-24h z-score anomaly hours, global top-10
    "events_anomaly" -> ((s, d) => Analytics.anomalies(s, d)),
    // DAU / new / returning / cumulative growth accounting
    "events_daily_active" -> ((s, d) => Analytics.dailyActive(s, d)),
    // farthest-from-centroid vectors per label (mislabel detector)
    "embed_outliers" -> ((s, d) => VectorSearch.labelOutliers(s, d)),
    // --- LLM-data-pipeline operators ---
    "dedup_exact" -> ((s, d) => Dedup.exact(s, d)),
    "dedup_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(s, d)),
    // pair/doc-flag counts per candidate jaccard threshold from one
    // scored pair frame — the dedup-knob sizing table
    "dedup_threshold_sweep" -> ((s, d) => Dedup.thresholdSweep(s, d)),
    // behavioral item refs vs embedding corpus vs document catalog,
    // item- and event-weighted coverage
    "item_coverage_audit" -> ((s, d) => Curation.itemCoverageAudit(s, d)),
    "dedup_minhash" -> ((s, d) => Dedup.minhashLsh(s, d)),
    "dedup_cc" -> ((s, d) => Dedup.dedupClusters(s, d)),
    "dedup_simhash" -> ((s, d) => Dedup.simhash(s, d)),
    "dedup_embedding" -> ((s, d) => Dedup.embeddingNearDupLabeled(s, d)),
    "dedup_substring" -> ((s, d) => Dedup.substringDedup(s, d)),
    "dedup_embedding_lsh" -> ((s, d) => Dedup.embeddingNearDupLsh(s, d)),
    // incremental-ingest gate: new batch vs standing corpus, best match
    "dedup_incremental" -> ((s, d) => Dedup.incrementalNearDup(s, d)),
    // cross-doc boilerplate trigrams (df >= 5), top-20 by df
    "boilerplate_ngrams" -> ((s, d) => Dedup.boilerplateNgrams(s, d)),
    // per-doc fraction of shingles that are corpus boilerplate
    "boilerplate_ratio" -> ((s, d) => Dedup.boilerplateRatio(s, d)),
    // pairwise source-level shingle-set Jaccard (mirror detector)
    "source_overlap" -> ((s, d) => Dedup.sourceOverlap(s, d)),
    "lang_id" -> ((s, d) => TextAnalysis.langId(s, d)),
    // declared-vs-detected language confusion cells with witness ids
    "lang_mismatch" -> ((s, d) => TextAnalysis.langMismatch(s, d)),
    // Zipf slope/intercept over the top-100 vocabulary
    "vocab_zipf" -> ((s, d) => TextAnalysis.vocabZipf(s, d)),
    // per-source unigram KL divergence from the corpus distribution
    "source_kl" -> ((s, d) => TextAnalysis.sourceKl(s, d)),
    "text_quality" -> ((s, d) => TextAnalysis.quality(s, d)),
    // Flesch / FK-grade readability from shared-regex proxies
    "doc_readability" -> ((s, d) => TextAnalysis.readability(s, d)),
    // quartile-binned cross-signal quality blend (broadcast cutoffs)
    "quality_composite" -> ((s, d) => TextAnalysis.qualityComposite(s, d)),
    // per-source rollup of the composite (mixture-table input)
    "source_quality_report" -> ((s, d) => TextAnalysis.sourceQualityReport(s, d)),
    "token_count" -> ((s, d) => TextAnalysis.tokenCount(s, d)),
    "doc_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(s, d)),
    "doc_winnow" -> ((s, d) => TextAnalysis.winnowFingerprint(s, d)),
    "text_normalize" -> ((s, d) => TextAnalysis.normalize(s, d)),
    "sample_hash" -> ((s, d) => Curation.hashSample(s, d)),
    // chi-square of the 5% hash sample against corpus source
    // proportions — the sample-skew audit
    "sample_rep_check" -> ((s, d) => Curation.sampleRepCheck(s, d)),
    // bins / fill ratio / oversize docs per candidate packing budget
    "pack_efficiency_sweep" -> ((s, d) => Curation.packEfficiencySweep(s, d)),
    "bigram_freq" -> ((s, d) => Curation.bigramFreq(s, d)),
    "key_skew" -> ((s, d) => Curation.keySkew(s, d)),
    "sample_stratified" -> ((s, d) => Curation.stratifiedSample(s, d)),
    "len_deciles" -> ((s, d) => Curation.lengthDeciles(s, d)),
    "skew_salted_join" -> ((s, d) => Skew.saltedHotKeyRollup(s, d)),
    "curate_pipeline" -> ((s, d) => Curation.curatePipeline(s, d)),
    // adaptive p25-of-corpus quality gate, per-source keep report
    "quality_gate_pct" -> ((s, d) => Curation.qualityPercentileGate(s, d)),
    // Okapi BM25 — the standard keyword ranker alongside the
    // reference's TF-IDF cosine; same persisted sparse model
    "bm25_topk" -> ((s, d) => TextRetrieval.bm25TopK(s, d, Seq("spark", "join", "vector"), k = 10)),
    // +must -mustNot boolean grammar: conjunctive containment decides
    // eligibility, BM25 over the must terms decides order
    "bool_search" -> ((s, d) =>
      TextRetrieval.boolSearch(s, d, must = Seq("spark", "vector"), mustNot = Seq("stream"))),
    // SERP sidebar: facet counts over the query's top-100 result set
    "search_facets" -> ((s, d) =>
      TextRetrieval.searchFacets(s, d, Seq("spark", "join", "vector"))),
    // team-draft interleave of the bm25 and tfidf rankers (online eval)
    "interleave_teamdraft" -> ((s, d) =>
      TextRetrieval.teamDraftInterleave(s, d, Seq("spark", "join", "vector"))),
    // host-crowding suppression: <= 2 results per source in the page
    "serp_diversified" -> ((s, d) =>
      TextRetrieval.serpDiversified(s, d, Seq("spark", "join", "vector"))),
    // typeahead: top vocabulary terms under a prefix by corpus tf
    "autocomplete_prefix" -> ((s, d) =>
      TextRetrieval.autocompletePrefix(s, d, prefix = "s")),
    // reverse search: per-source stored queries fired on the held-out
    // 20% incoming batch; own-source share = routing precision
    "percolate_alerts" -> ((s, d) => TextAnalysis.percolate(s, d)),
    // raw-text BM25 front door (engine-side tokenization; the oracle
    // re-tokenizes independently, catching tokenizer drift)
    "bm25_topk_text" -> ((s, d) => TextRetrieval.bm25TopK(s, d, "Spark JOIN, vector-search! spark", k = 10)),
    // the reference's hybrid blend (α·vec + (1−α)·minmax(keyword))
    // with BM25 as the keyword leg — same contract, stronger ranker
    "bm25_hybrid_topk" -> ((s, d) => TextRetrieval.bm25HybridTopK(s, d, demoQueryVec,
      Seq("spark", "join", "vector"), alpha = 0.7, k = 10)),
    "bm25_hybrid_filtered" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      TextRetrieval.bm25HybridTopK(s, d, demoQueryVec, Seq("spark", "join", "vector"),
        alpha = 0.7, k = 10,
        metaFilter = Some(col("lang") === "en" && col("n_chars") >= 200L))
    }),
    // raw-text BM25-hybrid front door (engine-side tokenization; the
    // oracle re-tokenizes the string independently in DuckDB)
    "bm25_hybrid_text" -> ((s, d) => TextRetrieval.bm25HybridTopK(s, d, demoQueryVec,
      "Spark JOIN, vector-search! spark", alpha = 0.7, k = 10, metaFilter = None)),
    // rank-based fusion (RRF) — the other standard hybrid: no score
    // normalization, each leg contributes 1/(60+rank) from its top-100
    // pairwise overlap/jaccard/rank-shift across bm25, rrf, tfidf
    // top-10s on the shared demo query
    "ranker_agreement" -> ((s, d) => TextRetrieval.rankerAgreement(s, d, demoQueryVec,
      Seq("spark", "join", "vector"), k = 10)),
    // top-10 overlap vs the (1.2, 0.75) default across a small
    // Robertson-range (k1, b) grid
    "bm25_param_sweep" -> ((s, d) => TextRetrieval.bm25ParamSweep(s, d)),
    "hybrid_rrf" -> ((s, d) => TextRetrieval.rrfTopK(s, d, demoQueryVec,
      Seq("spark", "join", "vector"), k = 10)),
    // exact phrase search over the persisted positional posting lists;
    // the repeated-term phrase exercises the offset-count match logic
    "phrase_search" -> ((s, d) => TextRetrieval.phraseSearch(s, d, "table table")),
    // per-user purchase→last-preceding-view attribution (sort-merge
    // as-of join: union + one window, no inequality join)
    "events_asof" -> ((s, d) => Analytics.eventsAsOf(s, d)),
    // running aggregates: 5-row moving avg + cumulative sum per user
    "events_rolling" -> ((s, d) => Analytics.rolling(s, d)),
    // per-type gap-to-next-user-event distribution (dwell pacing)
    "events_dwell" -> ((s, d) => Analytics.eventsDwell(s, d)),
    // exact interpolated quantiles per event type
    "events_quantiles" -> ((s, d) => Analytics.quantiles(s, d)),
    // CUBE over (event_type, hour-of-day) with grouping_id
    "events_cube" -> ((s, d) => Analytics.cubeByTypeHour(s, d)),
    // per-user event-type counts pivoted to fixed columns
    "events_pivot" -> ((s, d) => Analytics.pivotUserCounts(s, d)),
    "pii_redact" -> ((s, d) => TextAnalysis.piiRedact(s, d)),
    "quality_gopher" -> ((s, d) => TextAnalysis.gopherRules(s, d)),
    // per-gate ablation: fail / unique-fail / pass-without counts
    "gate_ablation" -> ((s, d) => TextAnalysis.gateAblation(s, d)),
    "doc_repetition" -> ((s, d) => TextAnalysis.docRepetition(s, d)),
    "pack_sequences" -> ((s, d) => Curation.packSequences(s, d)),
    "sample_mixture" -> ((s, d) => Curation.mixtureSample(s, d)),
    // SemDeDup (k-means-blocked embedding dedup) — rows-only oracle
    "dedup_semantic" -> ((s, d) => Dedup.semanticDedup(s, d)),
    // train/eval n-gram decontamination over the hash split
    "decontaminate" -> ((s, d) => Dedup.decontaminate(s, d)),
    // constant-size Bloom-bitmap prefilter for the same check
    "bloom_decontaminate" -> ((s, d) => Dedup.bloomDecontaminate(s, d)),
    // TPC-H Q6: full-pushdown filtered scan + global agg
    "q6_forecast" -> ((s, d) => Analytics.q6Forecast(s, d)),
    // RAG-prep chunking: fixed windows with overlap, narrow explode
    "doc_chunk" -> ((s, d) => TextAnalysis.chunk(s, d)),
    // cross-doc chunk-level exact dedup (the paragraph-dedup analog)
    "dedup_chunks" -> ((s, d) => TextAnalysis.dedupChunks(s, d)),
    // corpus-unigram mean NLL — the cheap perplexity-proxy quality gate
    "unigram_logprob" -> ((s, d) => TextAnalysis.unigramLogProb(s, d)),
    // CCNet head/middle/tail perplexity terciles per source
    "ccnet_buckets" -> ((s, d) => TextAnalysis.ccnetBuckets(s, d)),
    // interpolated bigram LM NLL — the word-salad detector unigrams miss
    "bigram_logprob" -> ((s, d) => TextAnalysis.bigramLogProb(s, d)),
    // bigram LM fit on the 80% hash split, per-source eval-train NLL
    // gap — the perplexity-filter generalization report
    "lm_holdout_ppl" -> ((s, d) => TextAnalysis.lmHoldoutPpl(s, d)),
    // top-k term agreement between the hash splits
    "vocab_stability" -> ((s, d) => TextAnalysis.vocabStability(s, d)),
    // char-level Shannon entropy — zero-shuffle gibberish detector
    "doc_entropy" -> ((s, d) => TextAnalysis.charEntropy(s, d)),
    // time-decayed trending items (exact dyadic decay arithmetic)
    "item_trending" -> ((s, d) => Analytics.itemTrending(s, d)),
    // contrastive hard-negative mining (top-k cross-label cosine)
    "hard_negatives" -> ((s, d) => VectorSearch.hardNegatives(s, d, queryMod = 100, k = 5)),
    // array-typed metadata (the reference's multi-valued categories):
    // exploded facet counts + array_contains-filtered vector search
    "tag_facets" -> ((s, d) => Analytics.tagFacets(s, d)),
    "vs_tag_filtered" -> ((s, d) => VectorSearch.tagFilteredTopK(s, d, queryId = 0, tag = "len:1", k = 10)),
    // related-facets panel: per-pair doc counts over the tag arrays
    "tag_cooc" -> ((s, d) => Analytics.tagCooccurrence(s, d)),
    // MMR diversified rerank (driver greedy over a bounded candidate
    // fetch; oracle = recursive-CTE replay of the same greedy,
    // invariants additionally spec-asserted in VectorSearchSpec)
    "vs_mmr_topk" -> ((s, d) => VectorSearch.mmrRerank(s, d, queryId = 0, k = 10, fetchK = 30, lambda = 0.7)),
    // session-based recommendation: events → profile vector → top-k
    "recommend_user" -> ((s, d) => VectorSearch.recommendForUser(s, d, userId = 7L, k = 10)),
    // per-source dedup summary (exact copies + near-dup involvement)
    "dedup_report" -> ((s, d) => Dedup.dedupReport(s, d)),
    // index observability (rows-only: k-means artifact internals)
    "ann_index_stats" -> ((s, d) => Ivf.indexStats(s, d)),
    // weekly cohort retention over the events stream
    "events_retention" -> ((s, d) => Analytics.retention(s, d)),
    // revenue-cohort LTV curve (cumulative value per cohort member)
    "user_ltv" -> ((s, d) => Analytics.userLtv(s, d)),
    // order-independent per-source content fingerprint (data versioning)
    "corpus_checksum" -> ((s, d) => Curation.corpusChecksum(s, d)),
    // integer-exact weighted sampling (size-biased mixture draws)
    "weighted_sample" -> ((s, d) => Curation.weightedSample(s, d)),
    // GPT-2-style regex pre-tokenization + subtoken estimate
    "bpe_token_stats" -> ((s, d) => TextAnalysis.bpeTokenStats(s, d)),
    // BPE merge learning: 8 greedy rounds over the word-freq table
    "bpe_learn_merges" -> ((s, d) => TextAnalysis.bpeLearnMerges(s, d)),
    // apply the learned merges: realized per-doc token budget
    "bpe_apply_stats" -> ((s, d) => TextAnalysis.bpeApplyStats(s, d)),
    // Count-Min sketch heavy hitters with exact-count error profile
    "cms_heavy_hitters" -> ((s, d) => Sketches.cmsHeavyHitters(s, d)),
    // integer-exact fixed-iteration PageRank over item co-engagement
    "item_pagerank" -> ((s, d) => Graph.itemPagerank(s, d)),
    // HITS hubs/authorities on the temporally-directed item-flow
    // graph, 4 integer-exact max-normalized rounds
    "item_flow_hits" -> ((s, d) => Graph.itemFlowHits(s, d)),
    // deterministic synchronous label-propagation communities
    "item_communities" -> ((s, d) => Graph.itemCommunities(s, d)),
    // k-core backbone: synchronous peel to the k=8 fixpoint
    "item_kcore" -> ((s, d) => Graph.itemKcore(s, d)),
    // top hubs by co-engagement degree (salting-decision report)
    "item_hubs" -> ((s, d) => Graph.itemHubs(s, d)),
    // band recall + estimate error of the MinHash blocking vs exact
    "minhash_recall_eval" -> ((s, d) => Dedup.minhashRecallEval(s, d)),
    // candidate volume vs recall across band layouts of the k=16
    // signature — the S-curve knob measured
    "minhash_band_sweep" -> ((s, d) => Dedup.minhashBandSweep(s, d)),
    "minhash_cap_sweep" -> ((s, d) => Dedup.minhashCapSweep(s, d)),
    // embedding-space train/eval contamination with witness
    "decontaminate_semantic" -> ((s, d) => Dedup.decontaminateSemantic(s, d)),
    // binary sign-quantized search (hamming shortlist + exact rerank)
    "ann_binary_topk" -> ((s, d) => Quantized.binaryTopK(s, d, queryId = 0, c = 50, k = 10)),
    // bytes/vector vs mean/max squared reconstruction error across
    // the quantization families, float32 anchoring at zero
    "quant_error_report" -> ((s, d) => Quantized.quantErrorReport(s, d)),
    // deterministic BMP fixtures decoded through the REAL JDK ImageIO
    // path; dims/size/luminance stats hard-oracled against the
    // generative formula (the npy precedent applied to images)
    "media_quality_report" -> ((s, d) => Multimodal.mediaQualityReport(s, d)),
    // deterministic PCM fixtures framed through the REAL shared
    // pcmFrameStats path (the pcmFrameEnergy / audioActivitySummary
    // code): exact integer energy/peak/counts + VAD trim offsets
    // hard-oracled against the generative formula — the 28j precedent
    // closing the last spec-only multimodal family
    "audio_activity_report" -> ((s, d) => Multimodal.audioActivityReport(s, d)),
    // rerank-shortlist-depth pricing (the sf50 finding that c must
    // scale with corpus density): Recall@10 per depth off ONE nested
    // ADC ranking + one exact-scoring pass
    "ann_rerank_depth_sweep" -> ((s, d) => Quantized.rerankDepthSweep(s, d)),
    // the planner CONSUMING that curve (the r14 verdict's named gap):
    // smallest c clearing the recall target, nprobe escalation when
    // the curve is flat below it, hard-oracled pick
    "ann_rerank_planner" -> ((s, d) => Quantized.rerankPlanner(s, d)),
    // Gopher long-n repetition battery (top-3gram share, dup-5/10gram)
    "doc_ngram_coverage" -> ((s, d) => TextAnalysis.ngramCoverage(s, d)),
    // per-type daily-count OLS slope (exact integer moments)
    "events_trend" -> ((s, d) => Analytics.eventsTrend(s, d)),
    // hourly-count autocorrelation at 1 h / 24 h (seasonality gate)
    "events_acf" -> ((s, d) => Analytics.eventsAcf(s, d)),
    // neighborhood-Jaccard item similarity (popularity-normalized CF)
    "item_jaccard" -> ((s, d) => Analytics.itemJaccard(s, d)),
    // FAISS range_search analog: every neighbor above a cosine radius
    "vs_range_search" -> ((s, d) => VectorSearch.rangeSearch(s, d, queryId = 0, minScore = 0.25)),
    // PMI item-association matrix (independence-normalized CF)
    "item_pmi" -> ((s, d) => Analytics.itemPmi(s, d)),
    // 7x24 weekly-seasonality load profile per event type
    "events_seasonality" -> ((s, d) => Analytics.eventsSeasonality(s, d)),
    // weekly new/retained/resurrected/churned growth accounting
    "user_lifecycle" -> ((s, d) => Analytics.userLifecycle(s, d)),
    // leave-last-out hit-rate@K of the co-visitation recommender
    "rec_holdout_eval" -> ((s, d) => Rec.recHoldoutEval(s, d)),
    // leave-last-out eval of the first-order Markov next-item chain
    "rec_markov_next" -> ((s, d) => Rec.recMarkovNext(s, d)),
    // user-user CF: integer-scaled cosine neighborhoods, top-k recs
    "rec_usercf_topk" -> ((s, d) => Rec.recUserCfTopK(s, d)),
    // rank-2 ALS matrix factorization: top-k recs for sampled users
    "rec_als_topk" -> ((s, d) => Rec.recAlsTopK(s, d)),
    // ALS training-fit report: model RMSE vs global-mean baseline
    "als_fit_report" -> ((s, d) => Rec.alsFitReport(s, d)),
    // ALS incremental fold-in: affected users re-solved vs frozen items
    "als_foldin" -> ((s, d) => Rec.alsFoldIn(s, d)),
    // similar items from the trained factor space (exact BIGINT dots)
    "als_item_similar" -> ((s, d) => Rec.alsItemSimilar(s, d)),
    // sequential-recommender (context, target) training windows
    "seq_prep" -> ((s, d) => Rec.seqPrep(s, d)),
    // Welch t-test A/B readout over exact-cents revenue moments
    "experiment_ttest" -> ((s, d) => Analytics.experimentTtest(s, d)),
    // tokenizer-fertility budgeting per (lang, source)
    "token_fertility" -> ((s, d) => TextAnalysis.tokenFertility(s, d)),
    // personalized PageRank from the highest-support seed item
    "item_ppr" -> ((s, d) => Graph.itemPpr(s, d)),
    // hash-deterministic DeepWalk corpus (skip-gram training rows)
    "graph_walks" -> ((s, d) => Graph.graphWalks(s, d)),
    // word2vec (center, context) pairs from the walk corpus
    "walk_skipgrams" -> ((s, d) => Graph.walkSkipgrams(s, d)),
    // second-order biased walks (return/common/far = 1/2/1, p=q=2)
    "node2vec_walks" -> ((s, d) => Graph.node2vecWalks(s, d)),
    // unigram^0.75 SGNS negatives via the bucketized alias table
    "sgns_negatives" -> ((s, d) => Graph.sgnsNegatives(s, d)),
    // cohort-week x age revenue triangle with running LTV per user
    "user_cohort_ltv" -> ((s, d) => Analytics.userCohortLtv(s, d)),
    // event-type audience-overlap Jaccard matrix
    "events_type_overlap" -> ((s, d) => Analytics.eventsTypeOverlap(s, d)),
    // Kaplan-Meier time-to-repeat-purchase with right-censoring
    "events_survival" -> ((s, d) => Analytics.eventsSurvival(s, d)),
    // temperature-scaled (alpha-sampling) source mixture plan
    "corpus_mixture_plan" -> ((s, d) => Curation.mixturePlan(s, d)),
    // DSIR importance resampling toward the target-domain source
    "dsir_select" -> ((s, d) => Curation.dsirSelect(s, d)),
    // NB hashed-unigram source classifier: train on the 80% hash
    // split, per-source precision/recall on the held-out 20%
    "nb_source_classify" -> ((s, d) => Curation.nbSourceClassify(s, d)),
    // reliability diagram of the same classifier: softmax confidence
    // over the rounded scores, 10 equal-width bins, ECE-style gaps
    "nb_calibration" -> ((s, d) => Curation.nbCalibration(s, d)),
    // topic cartography: IVF cells named by their top summed-tf-idf
    // terms over the 1:1 vec_id = doc_id join
    "doc_clusters" -> ((s, d) => Curation.docClusters(s, d)),
    // diversity-preserving draw: md5-ranked cap per IVF cell
    "sample_cluster_balanced" -> ((s, d) => Curation.clusterBalancedSample(s, d)),
    // DoReMi one-step EG tilt of the token mixture toward sources
    // with positive held-out NLL gap
    "doremi_weights" -> ((s, d) => Curation.doremiWeights(s, d)),
    // greedy k-center coreset: farthest-point traversal, exact-double
    // argmax with lower-id ties, radius-vs-k curve out
    "coreset_kcenter" -> ((s, d) => Curation.coresetKCenter(s, d)),
    // offline max-|CUSUM| level-shift day per event type, integer-
    // exact argmax
    "events_changepoint" -> ((s, d) => Analytics.eventsChangepoint(s, d)),
    // pre-retrieval QPP: df/cf/idf/SCQ per query term + query-level
    // aggregates repeated per row
    "query_difficulty" -> ((s, d) => TextRetrieval.queryDifficulty(s, d)),
    // popularity-floor recommender eval on the shared leave-last-out
    // split; bounded global top-list, no catalog rank window
    "rec_pop_baseline" -> ((s, d) => Rec.recPopularityBaseline(s, d)),
    // who-copies-from-whom: near-dup pairs folded to a (source_a <=
    // source_b) affinity matrix
    "dedup_source_matrix" -> ((s, d) => Dedup.dedupSourceMatrix(s, d)),
    // word-level degeneracy gate: TTR / root-TTR / hapax share off
    // the persisted tf triples
    "doc_lexdiv" -> ((s, d) => TextAnalysis.docLexicalDiversity(s, d)),
    // per-label pre- vs post-filter decision table: integer-exact
    // selectivity rule + the real fit's worst-case probe volume
    "ann_filter_planner" -> ((s, d) => Ivf.filterPlanner(s, d)),
    // cost-of-recall curve for the simhash family: nested candidates
    // per hamming radius vs the exact-Jaccard truth
    "simhash_radius_sweep" -> ((s, d) => Dedup.simhashRadiusSweep(s, d)),
    // write-side shard sizing (64 KiB target at test scale; the
    // production default is 128 MiB)
    "output_shard_plan" -> ((s, d) => Curation.outputShardPlan(s, d, targetBytes = 64L * 1024)),
    // BM25 with pseudo-relevance-feedback term expansion (RM3 shape)
    "bm25_prf_topk" -> ((s, d) => TextRetrieval.bm25PrfTopK(s, d, Seq("spark", "join", "vector"))),
    // top-N bigram collocations by PMI with support floor
    "collocation_pmi" -> ((s, d) => TextAnalysis.collocationPmi(s, d)),
    // OOV occurrence share per (lang, source) vs the top-V vocab
    "vocab_oov_rate" -> ((s, d) => TextAnalysis.vocabOovRate(s, d)),
    // kNN classifier confusion matrix (which clusters overlap)
    "knn_confusion" -> ((s, d) => VectorSearch.knnConfusion(s, d)),
    // kNN plurality-disagreement label-noise triage with suggested
    // relabels, denser bounded sample
    "label_noise_suspects" -> ((s, d) => VectorSearch.labelNoiseSuspects(s, d)),
    // kNN-graph in-degree skew + mutual-edge fraction (hubness)
    "knn_hubness" -> ((s, d) => VectorSearch.knnHubness(s, d)),
    // kNN length regression RMSE/MAE (distances-carry-signal probe)
    "knn_regress_eval" -> ((s, d) => VectorSearch.knnRegressEval(s, d)),
    // linear multi-touch revenue attribution to viewed items
    "attribution_linear" -> ((s, d) => Analytics.attributionLinear(s, d)),
    // Markov removal-effect attribution over the journey chain
    "attribution_markov" -> ((s, d) => Analytics.attributionMarkov(s, d)),
    // aggregate-diversity report of the co-visitation recommender
    "rec_coverage" -> ((s, d) => Rec.recCoverage(s, d)),
    // per-minute rate percentiles per type (stream sizing table)
    "events_peak_load" -> ((s, d) => Analytics.eventsPeakLoad(s, d)),
    // occurrence coverage at doubling vocab cuts (tokenizer sizing)
    "vocab_coverage_curve" -> ((s, d) => TextAnalysis.vocabCoverageCurve(s, d)),
    // avg quantity + lift per discount level (pricing read)
    "discount_lift" -> ((s, d) => Analytics.discountLift(s, d)),
    // deterministic T5-style span-corruption (input, target) pairs
    "span_corruption_prep" -> ((s, d) => TextAnalysis.spanCorruptionPrep(s, d)),
    // IVF coarse-quantizer compactness/separation per cell
    "ann_cluster_quality" -> ((s, d) => Ivf.clusterQuality(s, d)),
    // word2vec-style vector-arithmetic analogy probe
    "vs_analogy_topk" -> ((s, d) => VectorSearch.analogyTopK(s, d, a = 1, b = 2, c = 3)),
    // day-boundary train/val/test manifest with user-leakage audit
    "temporal_split_prep" -> ((s, d) => Curation.temporalSplitPrep(s, d)),
    // leave-last-out eval of the embedding-profile recommender
    "rec_content_holdout" -> ((s, d) => Rec.recContentHoldout(s, d)),
    // user x item interaction-matrix shape report (CF feasibility)
    "ui_matrix_stats" -> ((s, d) => Rec.uiMatrixStats(s, d)),
    // mean pairwise cosine via the ||sum v||^2 identity (cone check)
    "embed_isotropy" -> ((s, d) => VectorSearch.embedIsotropy(s, d)),
  )

  /** Deterministic external query vector for the *_qvec / *_free
    * entries — the stand-in for `model.encode(text)` (app.py:169-171).
    * Every component is an exact binary fraction (k/8) so the float
    * literal in the Spark plan and the DOUBLE[] literal in the DuckDB
    * oracle are bit-identical.
    */
  private[graft] val demoQueryVec: Array[Float] =
    Array.tabulate(64)(i => ((i % 7) - 3) * 0.125f)

  private def qvSqlList: String =
    demoQueryVec.map(v => v.toDouble.toString).mkString("[", ", ", "]")

  /** DuckDB cosine identical to VectorFunctions.cosine5: double-promoted
    * dot products, rounded to 5 decimals. The trailing `+ 0.0` is the
    * SURVEY §4 signed-zero rule: DuckDB's C-style round keeps −0.0 on
    * a tiny-negative cosine while Spark's BigDecimal round (and the
    * Verify writer's normalization) always emits +0.0 — IEEE
    * −0.0 + 0.0 = +0.0 reconciles the two, identity everywhere else.
    */
  private def cos5(a: String, b: String): String =
    s"(round(${cosRaw(a, b)}, 5) + 0.0)"
  private def cosRaw(a: String, b: String): String =
    s"list_dot_product($a::DOUBLE[], $b::DOUBLE[]) / (sqrt(list_dot_product($a::DOUBLE[], $a::DOUBLE[])) * sqrt(list_dot_product($b::DOUBLE[], $b::DOUBLE[])))"

  /** Oracle for [[graft.operators.Ivf.plannedFilteredTopK]]: replay
    * the integer routing rule (n_cand·4 < 10·16 OR n_cand ≤ (n·4)
    * div 16 → prefilter), then execute the branch it picks — the
    * exact label-filtered scan, or the replayed IVF probe with the
    * label discard applied after blocking.
    */
  private def plannedFilteredSql(labels: Seq[Int]): String = {
    val inList = labels.mkString(", ")
    s"""WITH RECURSIVE
       |$ivfFitCtes,
       |lb AS (SELECT count(*) AS n,
       |              count(CASE WHEN label IN ($inList) THEN 1 END) AS n_cand
       |       FROM embeddings),
       |dec AS (SELECT CASE WHEN n_cand * 4 < 10 * 16 OR n_cand <= (n * 4) // 16
       |               THEN 'prefilter' ELSE 'postfilter' END AS strategy FROM lb),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |pre AS (SELECT 'prefilter' AS strategy, e.vec_id AS n_id,
       |               ${cos5("e.embedding", "q.qv")} AS score,
       |               CAST(row_number() OVER (ORDER BY ${cos5("e.embedding", "q.qv")} DESC, e.vec_id) AS BIGINT) AS rk
       |        FROM embeddings e, q WHERE e.vec_id <> 0 AND e.label IN ($inList)
       |        QUALIFY rk <= 10),
       |probe AS (SELECT c.cell FROM cent c, q
       |          ORDER BY list_dot_product(q.qv::DOUBLE[], c.centroid) /
       |                   (sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])) * sqrt(list_dot_product(c.centroid, c.centroid))) DESC, c.cell
       |          LIMIT 4),
       |post AS (SELECT 'postfilter' AS strategy, a.vec_id AS n_id,
       |                ${cos5("a.embedding", "q.qv")} AS score,
       |                CAST(row_number() OVER (ORDER BY ${cos5("a.embedding", "q.qv")} DESC, a.vec_id) AS BIGINT) AS rk
       |         FROM asg a JOIN embeddings el ON el.vec_id = a.vec_id
       |         JOIN probe USING (cell), q
       |         WHERE a.vec_id <> 0 AND el.label IN ($inList)
       |         QUALIFY rk <= 10)
       |SELECT * FROM pre WHERE (SELECT strategy FROM dec) = 'prefilter'
       |UNION ALL
       |SELECT * FROM post WHERE (SELECT strategy FROM dec) = 'postfilter'
       |ORDER BY rk""".stripMargin
  }

  /** Shared CTE fragments for the TF-IDF oracle (sklearn smooth-idf +
    * sklearn default tokenizer: lowercase, maximal word-char runs of
    * length ≥ 2 — see TextRetrieval.sklearnTokens).
    */
  private val tfidfCtes: String =
    """terms AS (SELECT doc_id, unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'), t -> length(t) >= 2)) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
      |dfv AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
      |nn AS (SELECT count(*) AS n FROM documents),
      |w AS (SELECT tf.doc_id, tf.term, tf.tf * (ln((nn.n + 1) / (dfv.df + 1)) + 1) AS w FROM tf JOIN dfv USING (term), nn),
      |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1)""".stripMargin

  /** Shared CTEs replaying [[graft.operators.Curation.nbScoredTest]]
    * — the hashed-unigram NB model fit on the 80% md5 split and the
    * held-out per-(doc, class) log-scores (`sc` = unrounded ll,
    * `pri` = class log-priors; consumers round ll + lp to 5 decimals
    * exactly as the engine does). ONE definition for both the
    * classify and calibration oracles.
    */
  private val nbCtes: String =
    """terms AS (SELECT doc_id, unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'), t -> length(t) >= 2)) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
      |termb AS (SELECT term, ('0x' || substr(md5(term), 1, 8))::UBIGINT::BIGINT % 256 AS b
      |          FROM (SELECT DISTINCT term FROM tf)),
      |docb AS MATERIALIZED (SELECT doc_id, b, sum(tf)::BIGINT AS cb
      |         FROM tf JOIN termb USING (term) GROUP BY 1, 2),
      |d AS MATERIALIZED (SELECT doc_id, source,
      |         substr(md5(doc_id::VARCHAR), 1, 4) < 'cccc' AS is_train FROM documents),
      |pri0 AS (SELECT source AS cls, count(*) AS nd FROM d WHERE is_train GROUP BY 1),
      |pri AS (SELECT cls, ln(nd / (SELECT sum(nd) FROM pri0)) AS lp FROM pri0),
      |clsb AS MATERIALIZED (SELECT d.source AS cls, docb.b, sum(cb)::BIGINT AS csb
      |        FROM docb JOIN d USING (doc_id) WHERE d.is_train GROUP BY 1, 2),
      |clst AS (SELECT cls, sum(csb)::BIGINT AS cst FROM clsb GROUP BY 1),
      |grid AS (SELECT clst.cls, vb.b,
      |                ln((coalesce(clsb.csb, 0) + 1.0) / (clst.cst + 256)) AS lw
      |         FROM clst CROSS JOIN (SELECT DISTINCT b FROM termb) vb
      |         LEFT JOIN clsb ON clsb.cls = clst.cls AND clsb.b = vb.b),
      |sc AS (SELECT docb.doc_id, d.source, grid.cls, sum(docb.cb * grid.lw) AS ll
      |       FROM docb JOIN d USING (doc_id) JOIN grid USING (b)
      |       WHERE NOT d.is_train GROUP BY 1, 2, 3)""".stripMargin

  /** Shared CTEs replaying [[graft.operators.TextAnalysis.lmHoldoutPpl]]
    * whole — the 80%-split interpolated bigram LM scored on both
    * splits, folded to the per-source report as `ppl` (source,
    * train/eval bigram counts, rounded NLLs, rounded gap). ONE
    * definition for the ppl oracle and the DoReMi reweighting oracle
    * built on its gap column.
    */
  private val lmHoldoutCtes: String =
    """toks AS (SELECT doc_id, list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'), t -> length(t) >= 2) AS l FROM documents),
      |bg AS (SELECT doc_id, struct_extract(z, 1) AS w1, struct_extract(z, 2) AS w2
      |       FROM (SELECT doc_id, unnest(list_zip(l[1:len(l) - 1], l[2:])) AS z FROM toks WHERE len(l) >= 2)),
      |d AS MATERIALIZED (SELECT doc_id, source,
      |       substr(md5(doc_id::VARCHAR), 1, 4) < 'cccc' AS is_train FROM documents),
      |tf12 AS MATERIALIZED (SELECT doc_id, w1, w2, count(*) AS tf12 FROM bg GROUP BY 1, 2, 3),
      |c12t AS (SELECT w1, w2, sum(tf12)::BIGINT AS c12
      |         FROM tf12 JOIN d USING (doc_id) WHERE d.is_train GROUP BY 1, 2),
      |terms AS (SELECT doc_id, unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'), t -> length(t) >= 2)) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
      |ctt AS MATERIALIZED (SELECT term, sum(tf)::BIGINT AS ct
      |        FROM tf JOIN d USING (doc_id) WHERE d.is_train GROUP BY 1),
      |tv AS (SELECT sum(ct)::BIGINT AS tot, count(*)::BIGINT AS v FROM ctt),
      |lsc AS (SELECT d.source, d.is_train, tf12.tf12,
      |              tf12.tf12 * ln(0.75::DOUBLE * coalesce(c12t.c12 / c1.ct, 0.0)
      |                + 0.25::DOUBLE * (coalesce(c2.ct, 0) + 1.0) / (tv.tot + tv.v)) AS lp
      |       FROM tf12 JOIN d USING (doc_id)
      |       LEFT JOIN c12t USING (w1, w2)
      |       LEFT JOIN ctt c1 ON tf12.w1 = c1.term
      |       LEFT JOIN ctt c2 ON tf12.w2 = c2.term, tv),
      |ppl AS (SELECT source,
      |       coalesce(sum(CASE WHEN is_train THEN tf12 END), 0)::BIGINT AS train_bigrams,
      |       coalesce(sum(CASE WHEN NOT is_train THEN tf12 END), 0)::BIGINT AS eval_bigrams,
      |       round(-sum(CASE WHEN is_train THEN lp END)
      |             / sum(CASE WHEN is_train THEN tf12 END), 5) AS train_nll,
      |       round(-sum(CASE WHEN NOT is_train THEN lp END)
      |             / sum(CASE WHEN NOT is_train THEN tf12 END), 5) AS eval_nll,
      |       round(eval_nll - train_nll, 5) + 0.0 AS gap
      |FROM lsc GROUP BY 1)""".stripMargin

  /** CTEs replaying [[graft.operators.Curation.coresetKCenter]]'s 8
    * greedy farthest-point rounds, ASSEMBLED by the same loop shape
    * the engine runs (the entropy-oracle convention): p1 = lowest id,
    * mJ chains least(prev-min, d² to the round's pick), pJ+1 = the
    * (md DESC, vec_id) argmax. Distances are the exact left-to-right
    * Σ(aᵢ−bᵢ)² folds the IVF oracles already match bit-for-bit.
    */
  private val coresetCtes: String = {
    def d2(a: String, b: String) =
      s"list_sum(list_transform(range(1, 65), i -> ($a.v[i] - $b.v[i]) * ($a.v[i] - $b.v[i])))"
    val sb = new StringBuilder
    sb.append("e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),\n")
    sb.append("p1 AS (SELECT vec_id, v FROM e WHERE vec_id = (SELECT min(vec_id) FROM e)),\n")
    sb.append(s"m1 AS (SELECT e.vec_id, e.v, ${d2("e", "p1")} AS md FROM e, p1),\n")
    for (j <- 2 to 8) {
      sb.append(s"p$j AS (SELECT vec_id, v, md FROM m${j - 1} ORDER BY md DESC, vec_id LIMIT 1)")
      if (j < 8) sb.append(s",\nm$j AS (SELECT m.vec_id, m.v, least(m.md, ${d2("m", s"p$j")}) AS md FROM m${j - 1} m, p$j),\n")
    }
    sb.toString
  }

  /** Shared CTEs replaying the leave-last-out split both recommender
    * evals use ([[graft.operators.Rec.recHoldoutEval]]'s convention:
    * distinct (user, item) with last-interaction time, 2..500 basket
    * cap, holdout = (last_ts DESC, item DESC) first row, train = the
    * rest). ONE definition for the co-visitation and popularity
    * baselines.
    */
  private val recSplitCtes: String =
    """ev AS (SELECT user_id,
      |                   json_extract_string(props, '$.k')::BIGINT AS item_id,
      |                   epoch_ms(ts) AS ts_ms
      |            FROM events
      |            WHERE event_type IN ('view', 'click', 'purchase')
      |              AND json_extract_string(props, '$.k') IS NOT NULL),
      |ui AS (SELECT user_id, item_id, max(ts_ms) AS last_ts FROM ev GROUP BY 1, 2),
      |bk AS (SELECT user_id, count(*) AS basket FROM ui GROUP BY 1),
      |capped AS (SELECT ui.* FROM ui JOIN bk USING (user_id)
      |           WHERE bk.basket BETWEEN 2 AND 500),
      |rkd AS (SELECT *, row_number() OVER (PARTITION BY user_id
      |                  ORDER BY last_ts DESC, item_id DESC) AS rk FROM capped),
      |hold AS (SELECT user_id, item_id AS h FROM rkd WHERE rk = 1),
      |train AS (SELECT user_id, item_id FROM rkd WHERE rk > 1)""".stripMargin

  /** One ALS half-step CTE: solve `ka`'s rank-2 ridge factors from the
    * other side's factor CTE `g` keyed by `kb` — the EXACT expression
    * tree [[graft.operators.Rec.alsSolve]] evaluates: exact integer
    * Gram/moment sums (DuckDB's HUGEINT sum and Spark's BIGINT sum
    * agree on these magnitudes), one branch-free double Cramer solve,
    * floor(x·10⁵ + 0.5) re-quantization, ±5·10⁶ clamp.
    */
  private def alsSolveCte(name: String, ka: String, kb: String, g: String,
                          r: String = "ar"): String =
    s"""$name AS (SELECT $ka,
       |  least(greatest(CAST(floor(((b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12)) * 100000.0 + 0.5) AS BIGINT), -5000000), 5000000) AS f1,
       |  least(greatest(CAST(floor(((a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12)) * 100000.0 + 0.5) AS BIGINT), -5000000), 5000000) AS f2
       |  FROM (SELECT r.$ka,
       |               CAST(sum(g.f1 * g.f1) + 1000000000 AS DOUBLE) AS a11,
       |               CAST(sum(g.f1 * g.f2) AS DOUBLE) AS a12,
       |               CAST(sum(g.f2 * g.f2) + 1000000000 AS DOUBLE) AS a22,
       |               CAST(sum(r.r * g.f1) * 100000 AS DOUBLE) AS b1,
       |               CAST(sum(r.r * g.f2) * 100000 AS DOUBLE) AS b2
       |        FROM $r r JOIN $g g USING ($kb) GROUP BY 1))""".stripMargin

  /** CTEs replaying the rank-2 ALS pipeline
    * ([[graft.operators.Rec.alsFactorsOf]]) with a name prefix and an
    * optional interaction-time predicate: capped implicit interaction
    * counts, md5-hash item-factor init at 10⁻⁵ granularity, and two
    * alternating half-step sweeps ending at user factors `${p}p2` /
    * item factors `${p}q2`. The fold-in oracle builds the BASE model
    * with a `< split` predicate through the same generator.
    */
  private def alsCtesFor(p: String, tsWhere: String): String = {
    val base =
      s"""${p}ev AS (SELECT user_id,
         |               json_extract_string(props, '$$.k')::BIGINT AS item_id,
         |               epoch_ms(ts) AS ts_ms
         |        FROM events
         |        WHERE event_type IN ('view', 'click', 'purchase')
         |          AND json_extract_string(props, '$$.k') IS NOT NULL$tsWhere),
         |${p}r AS (SELECT user_id, item_id, least(count(*), 20) AS r FROM ${p}ev GROUP BY 1, 2),
         |${p}q0 AS (SELECT item_id,
         |          ('0x' || substr(md5('alsq1:' || item_id::VARCHAR), 1, 8))::UBIGINT::BIGINT % 100000 AS f1,
         |          ('0x' || substr(md5('alsq2:' || item_id::VARCHAR), 1, 8))::UBIGINT::BIGINT % 100000 AS f2
         |        FROM (SELECT DISTINCT item_id FROM ${p}r))""".stripMargin
    val steps = (1 to 2).map { i =>
      alsSolveCte(s"${p}p$i", "user_id", "item_id",
        if (i == 1) s"${p}q0" else s"${p}q${i - 1}", s"${p}r") +
        ",\n" + alsSolveCte(s"${p}q$i", "item_id", "user_id", s"${p}p$i", s"${p}r")
    }.mkString(",\n")
    base + ",\n" + steps
  }

  private val alsCtes: String = alsCtesFor("a", "")

  /** CTEs replaying [[graft.operators.Ivf.recallEval]]'s measured
    * recall/MRR-per-nprobe curve over the replayed IVF fit (shared by
    * the eval query and the nprobe planner; expects `$ivfFitCtes`
    * already in scope).
    */
  /** Oracle for [[graft.operators.TextRetrieval.teamDraftInterleave]]:
    * both rankers' rounded k-row cuts, then the draft unrolled pick by
    * pick with the SAME literal coin sequence (the coin is a pure
    * function of the round index, so the generator computes it once
    * in Scala via the shared [[graft.operators.TeamDraft.coin]] and
    * burns the per-position team into the SQL).
    */
  private def teamDraftSql(k: Int): String = {
    val teams = (1 to k).map { pos =>
      val aFirst = graft.operators.TeamDraft.coin((pos - 1) / 2)
      val teamA = if ((pos - 1) % 2 == 0) aFirst else !aFirst
      if (teamA) "bm25" else "tfidf"
    }
    val picks = (1 to k).map { pos =>
      val src = if (teams(pos - 1) == "bm25") "ra" else "rb"
      val notIn = if (pos == 1) ""
        else "WHERE doc_id NOT IN (" +
          (1 until pos).map(p => s"SELECT doc_id FROM pk$p").mkString(" UNION ALL ") + ") "
      // MATERIALIZED: pk$p is referenced by every later pick's NOT IN —
      // inlining would re-expand the whole prior chain per reference
      // (the graph-walk oracle lesson: unrolled sequential CTEs must pin)
      s"""pk$pos AS MATERIALIZED (SELECT $pos AS pos, doc_id, '${teams(pos - 1)}' AS team, rk AS team_rank
         |       FROM $src ${notIn}ORDER BY rk LIMIT 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $tfidfCtes,
       |dlx AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
       |adx AS (SELECT avg(dl) AS avgdl FROM dlx),
       |q AS (SELECT unnest(['spark', 'join', 'vector']) AS term),
       |qib AS (SELECT term, ln((nn.n - dfv.df + 0.5) / (dfv.df + 0.5) + 1) AS qidf
       |        FROM q JOIN dfv USING (term), nn),
       |ra AS MATERIALIZED (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
       |       FROM (SELECT tf.doc_id,
       |                    round(sum(qib.qidf * tf.tf * (1.2 + 1.0) /
       |                              (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dlx.dl / adx.avgdl))), 5) AS score
       |             FROM tf JOIN qib USING (term) JOIN dlx USING (doc_id), adx
       |             GROUP BY tf.doc_id) QUALIFY rk <= $k),
       |qwx AS (SELECT q.term, ln((nn.n + 1) / (dfv.df + 1)) + 1 AS qw FROM q JOIN dfv USING (term), nn),
       |qnx AS (SELECT sqrt(sum(qw * qw)) AS qn FROM qwx),
       |rb AS MATERIALIZED (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
       |       FROM (SELECT w.doc_id, round(sum(w.w / nrm.nrm * qwx.qw / qnx.qn), 5) AS score
       |             FROM w JOIN qwx USING (term) JOIN nrm USING (doc_id), qnx
       |             GROUP BY 1) QUALIFY rk <= $k),
       |$picks
       |SELECT pos::BIGINT AS pos, doc_id, team, team_rank::BIGINT AS team_rank
       |FROM (${(1 to k).map(p => s"SELECT * FROM pk$p").mkString(" UNION ALL ")})
       |ORDER BY pos""".stripMargin
  }

  private def recallEvalCtes: String =
    s"""qs AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
       |nps AS (SELECT * FROM (VALUES (1), (2), (4)) t(np)),
       |probes AS (SELECT q.q_id, c.cell,
       |             row_number() OVER (PARTITION BY q.q_id ORDER BY
       |               list_dot_product(q.qv::DOUBLE[], c.centroid) /
       |               (sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])) * sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
       |               c.cell) AS crk
       |           FROM qs q, cent c),
       |cand AS (SELECT np.np, p.q_id, a.vec_id AS n_id, ${cos5("a.embedding", "q.qv")} AS score
       |         FROM nps np, probes p JOIN asg a ON a.cell = p.cell JOIN qs q ON q.q_id = p.q_id
       |         WHERE p.crk <= np.np AND a.vec_id <> p.q_id),
       |res AS (SELECT np, q_id, n_id,
       |          row_number() OVER (PARTITION BY np, q_id ORDER BY score DESC, n_id) AS rk
       |        FROM cand QUALIFY rk <= 10),
       |gt AS (SELECT q.q_id, e.vec_id AS n_id,
       |         row_number() OVER (PARTITION BY q.q_id ORDER BY ${cos5("e.embedding", "q.qv")} DESC, e.vec_id) AS rk
       |       FROM embeddings e, qs q WHERE e.vec_id <> q.q_id QUALIFY rk <= 10),
       |nqv AS (SELECT count(*)::DOUBLE AS nq FROM qs),
       |hits AS (SELECT res.np AS hnp, count(*) AS h FROM res JOIN gt USING (q_id, n_id) GROUP BY 1),
       |rr AS (SELECT res.np AS rnp, sum(1.0::DOUBLE / res.rk) AS s
       |       FROM gt g JOIN res ON res.q_id = g.q_id AND res.n_id = g.n_id
       |       WHERE g.rk = 1 GROUP BY 1)""".stripMargin

  private def recallEvalSelect: String =
    s"""SELECT np.np AS nprobe,
       |       round(coalesce((SELECT h FROM hits WHERE hnp = np.np), 0) / ((SELECT nq FROM nqv) * 10), 5) AS "Precision@K",
       |       round(coalesce((SELECT s FROM rr WHERE rnp = np.np), 0.0) / (SELECT nq FROM nqv), 5) AS "MRR",
       |       CAST((SELECT nq FROM nqv) AS BIGINT) AS "QueriesUsed"
       |FROM nps np""".stripMargin

  /** Shared CTEs replaying the SimHash signature build + capped chunk
    * blocking ([[graft.operators.Dedup.simhash]]: md5-number token
    * hashes, tf-weighted bit votes, 4×16-bit chunk buckets under the
    * occupancy cap, distinct any-chunk collisions as `scand` with
    * both signatures). ONE definition for the near-dup query and the
    * radius sweep. CTE names are s-prefixed so the sweep can compose
    * with [[cappedShingleCtes]] (whose `hot` would otherwise clash).
    */
  private val simhashCandCtes: String =
    """stoks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |hv AS (SELECT doc_id, CAST(CASE WHEN md5_number_upper(tok) >= 9223372036854775808::HUGEINT
      |         THEN md5_number_upper(tok)::HUGEINT - 18446744073709551616::HUGEINT
      |         ELSE md5_number_upper(tok)::HUGEINT END AS BIGINT) AS h FROM stoks),
      |votes AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |          FROM hv, range(64) r(b) GROUP BY 1, 2),
      |ssig AS (SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN
      |            CASE WHEN b = 63 THEN -9223372036854775808::HUGEINT ELSE (1::BIGINT << b)::HUGEINT END
      |          ELSE 0::HUGEINT END) AS BIGINT) AS sig FROM votes GROUP BY 1),
      |schunks AS (SELECT doc_id, sig, c * 65536 + ((sig >> (c * 16)) & 65535) AS bucket
      |           FROM ssig, range(4) r(c)),
      |shot AS (SELECT bucket FROM schunks GROUP BY 1 HAVING count(*) > 1000),
      |scapped AS (SELECT * FROM schunks ANTI JOIN shot USING (bucket)),
      |scand AS (SELECT DISTINCT a.doc_id AS a_id, a.sig AS a_sig, b.doc_id AS b_id, b.sig AS b_sig
      |         FROM scapped a JOIN scapped b ON a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin

  private val shingleCtes: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |shd AS (SELECT DISTINCT doc_id, shingle FROM
      |  (SELECT doc_id, unnest([array_to_string(toks[i+1:i+5], ' ') for i in range(len(toks) - 4)]) AS shingle FROM t))""".stripMargin

  /** Trigram twin of [[shingleCtes]] (n = 3, the boilerplate-detection
    * shingle length) — ONE definition for both boilerplate oracles, the
    * SQL mirror of the engine's shared `cachedShingles(n = 3)` frame.
    */
  private val trigramCtes: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sh3 AS (SELECT DISTINCT doc_id, shingle FROM
      |  (SELECT doc_id, unnest([array_to_string(toks[i+1:i+3], ' ') for i in range(len(toks) - 2)]) AS shingle FROM t)),
      |dfv AS (SELECT shingle, count(*) AS df FROM sh3 GROUP BY 1)""".stripMargin

  /** Shingles with document frequency above the skew cap removed —
    * the oracle twin of Dedup.cappedShingles (maxDf = 1000, the
    * engine default): jaccard is the exact Jaccard of the df-capped
    * shingle sets on BOTH sides.
    */
  private val cappedShingleCtes: String =
    shingleCtes + """,
      |hot AS (SELECT shingle FROM shd GROUP BY 1 HAVING count(*) > 1000),
      |shc AS (SELECT doc_id, shingle FROM shd ANTI JOIN hot USING (shingle))""".stripMargin

  /** Shared CTEs replaying the deterministic IVF coarse-quantizer fit
    * (Ivf.fitCentroidsPortable: sorted sample, k=16 evenly-spaced
    * seeds, 10 fixed Lloyd rounds, FLOAT32-quantized round centroids,
    * direct Σdiff² distances with ties to the lower cell, empty cells
    * keep their previous centroid) plus the full-corpus argmin
    * assignment. step=1 at every verify SF (corpus ≤ Ivf.fitRows), so
    * the sample is the whole sorted table. Callers prepend
    * `WITH RECURSIVE`.
    */
  private val ivfFitCtes: String =
    """s AS (SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) - 1 AS rn FROM embeddings),
      |ns AS (SELECT count(*) AS n FROM s),
      |km(iter, cell, centroid) AS (
      |  SELECT 0, c.c, (SELECT list_transform(s.embedding, x -> x::DOUBLE) FROM s, ns WHERE s.rn = (c.c * ns.n) // 16)
      |  FROM range(16) c(c)
      |  UNION ALL
      |  SELECT w.iter + 1, w.cell, coalesce(mm.cent, w.centroid)
      |  FROM km w LEFT JOIN (
      |    SELECT cell, list(CAST(av AS FLOAT)::DOUBLE ORDER BY p) AS cent
      |    FROM (
      |      SELECT win.cell, r.p, avg(win.embedding[r.p + 1]::DOUBLE) AS av
      |      FROM (
      |        SELECT s.vec_id, s.embedding, k2.cell
      |        FROM s, km k2
      |        QUALIFY row_number() OVER (PARTITION BY s.vec_id ORDER BY
      |          list_sum(list_transform(range(1, 65), i -> (s.embedding[i]::DOUBLE - k2.centroid[i]) * (s.embedding[i]::DOUBLE - k2.centroid[i]))), k2.cell) = 1
      |      ) win, range(64) r(p)
      |      GROUP BY win.cell, r.p
      |    ) GROUP BY cell
      |  ) mm ON mm.cell = w.cell
      |  WHERE w.iter < 10
      |),
      |cent AS (SELECT cell, centroid FROM km WHERE iter = 10),
      |asg AS (SELECT s.vec_id, s.embedding, c.cell
      |        FROM s, cent c
      |        QUALIFY row_number() OVER (PARTITION BY s.vec_id ORDER BY
      |          list_sum(list_transform(range(1, 65), i -> (s.embedding[i]::DOUBLE - c.centroid[i]) * (s.embedding[i]::DOUBLE - c.centroid[i]))), c.cell) = 1)""".stripMargin

  /** Shared CTEs replaying the deterministic PQ codebook fit + corpus
    * encode (Quantized.pqFit/fitCodebooks at the surfaced m=8,
    * kCents=16 over dim 64: sorted mod-step sample — step=1 at every
    * verify SF — first-16 subvector seeds, 10 fixed Lloyd rounds with
    * FLOAT32-quantized round centroids, Σdiff² distances with ties to
    * the lower centroid; encode via the engine's exact dot-identity
    * ds = ss + cc − 2·dot with first-minimum argmin). Callers prepend
    * `WITH RECURSIVE`.
    */
  private val pqFitCtes: String =
    """ps AS (SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) - 1 AS rn FROM embeddings),
      |sv AS (SELECT vec_id, rn, ss.s, list_transform(embedding[ss.s * 8 + 1 : ss.s * 8 + 8], x -> x::DOUBLE) AS v
      |       FROM ps, range(8) ss(s)),
      |pkm(iter, s, cent, centroid) AS (
      |  SELECT 0, sv.s, sv.rn::INT, sv.v FROM sv WHERE sv.rn < 16
      |  UNION ALL
      |  SELECT w.iter + 1, w.s, w.cent, coalesce(mm.cnew, w.centroid)
      |  FROM pkm w LEFT JOIN (
      |    SELECT s, cent, list(CAST(av AS FLOAT)::DOUBLE ORDER BY p) AS cnew
      |    FROM (
      |      SELECT win.s, win.cent, r.p, avg(win.v[r.p + 1]) AS av
      |      FROM (
      |        SELECT sv.rn, sv.s, sv.v, k2.cent
      |        FROM sv JOIN pkm k2 ON k2.s = sv.s
      |        QUALIFY row_number() OVER (PARTITION BY sv.rn, sv.s ORDER BY
      |          list_sum(list_transform(range(1, 9), i -> (sv.v[i] - k2.centroid[i]) * (sv.v[i] - k2.centroid[i]))), k2.cent) = 1
      |      ) win, range(8) r(p)
      |      GROUP BY win.s, win.cent, r.p
      |    ) GROUP BY s, cent
      |  ) mm ON mm.s = w.s AND mm.cent = w.cent
      |  WHERE w.iter < 10
      |),
      |books AS (SELECT s, cent, centroid FROM pkm WHERE iter = 10),
      |encw AS (SELECT sv.vec_id, sv.s, b.cent,
      |           row_number() OVER (PARTITION BY sv.vec_id, sv.s ORDER BY
      |             list_dot_product(sv.v, sv.v) + list_sum(list_transform(b.centroid, x -> x * x)) - 2.0 * list_dot_product(sv.v, b.centroid),
      |             b.cent) AS rk
      |         FROM sv JOIN books b ON b.s = sv.s),
      |codes AS (SELECT vec_id, list(cent ORDER BY s) AS codes FROM encw WHERE rk = 1 GROUP BY vec_id)""".stripMargin

  /** The per-subspace ADC lookup CTE (‖q_sub − centroid‖² per (s,
    * cent) in dimension order) plus the ordered 8-term ADC sum the
    * engine's `reduce(_ + _)` produces.
    */
  private val pqLutCte: String =
    """lut AS (SELECT b.s, b.cent,
      |          list_sum(list_transform(range(1, 9), i -> (qq.qd[b.s * 8 + i] - b.centroid[i]) * (qq.qd[b.s * 8 + i] - b.centroid[i]))) AS d
      |        FROM books b, (SELECT list_transform(embedding, x -> x::DOUBLE) AS qd FROM embeddings WHERE vec_id = 0) qq)""".stripMargin

  private def adcChain(codesCol: String): String =
    (0 until 8).map(s => s"(SELECT d FROM lut WHERE s = $s AND cent = $codesCol[${s + 1}])")
      .mkString(" + ")

  /** Shared CTEs replaying Dedup's banded Rademacher-LSH blocking
    * (32 bands; the adaptive band width resolves to its 6-bit floor at
    * every verify scale — sf0.001 and sf0.01 corpora are ≤ 2^11·32
    * vectors; dim 64 matches the testdata embeddings).
    */
  private val lshBlockCtes: String =
    """planes AS (SELECT b, j, list_transform(range(0, 64), i ->
      |             CASE WHEN (md5_number_upper(b::VARCHAR || ':' || j::VARCHAR || ':' || i::VARCHAR) & 1) = 1
      |                  THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END) AS plane
      |           FROM range(32) rb(b), range(6) rj(j)),
      |bb AS (SELECT e.vec_id, p.b,
      |              sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.plane) >= 0
      |                       THEN (1::BIGINT << p.j) ELSE 0 END) AS bucket
      |       FROM embeddings e, planes p GROUP BY 1, 2),
      |bbk AS (SELECT vec_id, b * 64 + bucket AS bbkey FROM bb),
      |hot AS (SELECT bbkey FROM bbk GROUP BY 1 HAVING count(*) > 1000),
      |capped AS (SELECT * FROM bbk ANTI JOIN hot USING (bbkey)),
      |cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
      |         FROM capped a JOIN capped b ON a.bbkey = b.bbkey AND a.vec_id < b.vec_id)""".stripMargin

  /** The IEEE 754 float32 evaluation of a u32 bit pattern `u` — exact
    * in double; shared by every reference-artifact byte-decode oracle.
    */
  private val f32FromU32: String =
    """(CASE WHEN u >= 2147483648 THEN -1.0 ELSE 1.0 END) *
      |(CASE WHEN ((u >> 23) & 255) = 0
      |      THEN (u & 8388607) * power(2.0, -149)
      |      ELSE (1.0 + (u & 8388607) * power(2.0, -23)) *
      |           power(2.0, (((u >> 23) & 255))::INTEGER - 127) END)""".stripMargin

  /** CTEs decoding a reference `.npy` f4 matrix into `name`(vec_id, p,
    * v): hex the blob ONCE, slice each vector's 3072 hex chars (never
    * the float-level cross against the whole string — that
    * materializes GBs), then reassemble little-endian u32s and
    * evaluate them. 384-dim rows at the standard 128-byte v1 preamble.
    */
  private def npyDecodeCtes(name: String, path: String, nRows: Int): String =
    s"""${name}w AS (SELECT hex(content) AS hw FROM read_blob('$path')),
       |${name}s AS (SELECT v.i AS vec_id, substring(hw, 2 * (128 + 1536 * v.i) + 1, 3072) AS hh
       |             FROM ${name}w, range(0, $nRows) v(i)),
       |${name}u AS (SELECT vec_id, r.p,
       |               ('0x' || hh[8*r.p+7 : 8*r.p+8] || hh[8*r.p+5 : 8*r.p+6] ||
       |                hh[8*r.p+3 : 8*r.p+4] || hh[8*r.p+1 : 8*r.p+2])::UBIGINT AS u
       |             FROM ${name}s, range(0, 384) r(p)),
       |$name AS (SELECT vec_id, p, $f32FromU32 AS v FROM ${name}u)""".stripMargin

  /** sklearn's ENGLISH_STOP_WORDS (a fixed public constant,
    * sklearn/feature_extraction/_stop_words.py) restricted to the
    * reference corpus' token set — the 223 members the fitted
    * vectorizer actually removed (SklearnJoblibSpec proves the
    * artifact's vocabulary is exactly the corpus tokens minus these).
    * Embedded so the sklearn oracles can REFIT the model from
    * products.csv alone — the SQL replay never touches the joblib
    * bytes the engine decodes, making the two paths fully independent.
    */
  private val sklearnStopSql: String =
    """'about', 'across', 'after', 'afterwards', 'again', 'all', 'almost',
      |'along', 'already', 'also', 'although', 'always', 'am', 'amount', 'an',
      |'and', 'another', 'any', 'anyone', 'anything', 'anyway', 'anywhere',
      |'are', 'around', 'as', 'at', 'back', 'be', 'became', 'because', 'becomes',
      |'been', 'before', 'being', 'below', 'besides', 'between', 'beyond',
      |'both', 'bottom', 'but', 'by', 'call', 'can', 'cannot', 'could',
      |'describe', 'do', 'down', 'due', 'during', 'each', 'eight', 'either',
      |'else', 'elsewhere', 'enough', 'etc', 'even', 'ever', 'every', 'everyone',
      |'everything', 'except', 'few', 'fifty', 'fill', 'find', 'fire', 'first',
      |'five', 'for', 'found', 'four', 'from', 'front', 'full', 'further', 'get',
      |'give', 'go', 'had', 'has', 'have', 'he', 'her', 'here', 'him', 'his',
      |'how', 'however', 'if', 'in', 'into', 'is', 'it', 'its', 'itself', 'keep',
      |'last', 'least', 'less', 'made', 'many', 'may', 'me', 'might', 'mine',
      |'more', 'most', 'mostly', 'move', 'much', 'must', 'my', 'myself', 'name',
      |'namely', 'never', 'next', 'no', 'none', 'nor', 'not', 'nothing', 'now',
      |'of', 'off', 'often', 'on', 'once', 'one', 'only', 'or', 'other',
      |'others', 'otherwise', 'our', 'out', 'over', 'own', 'part', 'per',
      |'perhaps', 'please', 'put', 'rather', 're', 'same', 'see', 'seem',
      |'seemed', 'seems', 'several', 'she', 'should', 'show', 'side', 'since',
      |'so', 'some', 'someone', 'something', 'sometimes', 'somewhere', 'still',
      |'such', 'system', 'take', 'than', 'that', 'the', 'their', 'them',
      |'themselves', 'then', 'there', 'these', 'they', 'thin', 'third', 'this',
      |'those', 'though', 'three', 'through', 'throughout', 'thus', 'to',
      |'together', 'too', 'top', 'two', 'under', 'until', 'up', 'upon', 'us',
      |'very', 'was', 'we', 'well', 'were', 'what', 'when', 'where', 'whereas',
      |'whether', 'which', 'while', 'who', 'whole', 'whose', 'why', 'will',
      |'with', 'within', 'without', 'would', 'yet', 'you', 'your', 'yourself'""".stripMargin

  /** CTEs refitting the reference's TfidfVectorizer from products.csv
    * entirely in SQL — vocabulary = tokens minus the english stop
    * list, smooth idf ln((1+n)/(1+df))+1, raw-tf rows L2-normalized —
    * and scoring `queryTerms` against the refit rows. Produces
    * `skp`(doc_id, id, brand), and `sksc`(doc_id, s) = the cosine of
    * the normalized query against each document (docs sharing no
    * query term are absent → coalesce to 0 downstream, app.py's
    * zero-cosine rows).
    */
  private def sklearnTfidfCtes(queryTerms: Seq[String]): String = {
    val qvals = queryTerms.map(t => s"('$t')").mkString(", ")
    s"""skp AS (SELECT row_number() OVER () - 1 AS doc_id, id, brand, example_text,
       |               avg_rating, n_reviews
       |        FROM read_csv('$Root/products.csv', header=true)),
       |sktk AS (SELECT doc_id, unnest(list_filter(regexp_extract_all(lower(example_text), '[a-z0-9_]+'),
       |                                           t -> length(t) >= 2)) AS term FROM skp),
       |sknn AS (SELECT count(*) AS n FROM skp),
       |skidf AS (SELECT term, ln((1 + sknn.n) / (1 + count(DISTINCT doc_id))) + 1 AS idf
       |          FROM sktk, sknn WHERE term NOT IN ($sklearnStopSql)
       |          GROUP BY term, sknn.n),
       |sktf AS (SELECT doc_id, term, count(*) AS c FROM sktk GROUP BY 1, 2),
       |skw AS (SELECT t.doc_id, t.term, t.c * i.idf AS v FROM sktf t JOIN skidf i USING (term)),
       |sknrm AS (SELECT doc_id, sqrt(sum(v * v)) AS dn FROM skw GROUP BY 1),
       |skq AS (SELECT q.term, count(*) * any_value(i.idf) AS v
       |        FROM (VALUES $qvals) q(term) JOIN skidf i USING (term) GROUP BY q.term),
       |skqn AS (SELECT sqrt(sum(v * v)) AS qq FROM skq),
       |sksc AS (SELECT w.doc_id, sum(w.v / n.dn * q.v / skqn.qq) AS s
       |         FROM skw w JOIN sknrm n USING (doc_id) JOIN skq q USING (term), skqn
       |         GROUP BY 1)""".stripMargin
  }

  /** 8 little-endian bytes at byte offset `off` (an SQL expression over
    * hex column `src`) as a u64 — ids and list sizes in the FAISS IVF
    * replay.
    */
  private def u64At(src: String, off: String): String =
    "('0x' || " + (7 to 0 by -1).map(i =>
      s"$src[2*(($off)+$i)+1 : 2*(($off)+$i)+2]").mkString(" || ") + ")::UBIGINT"

  /** Cosine top-10 (query = row 0) over a reference embedding artifact,
    * decoded from raw bytes entirely in SQL: hex the blob, reassemble
    * each float32's 4 little-endian bytes into a u32, and evaluate the
    * IEEE 754 value (sign · (1 + m·2⁻²³) · 2^(e−127), subnormals as
    * m·2⁻¹⁴⁹) — exact in double, and an independent decode path from
    * the engine's ByteBuffer read, so a byte-order or offset bug on
    * either side fails the hash. Constants are the reference artifact's
    * published shape: 66 vectors × 384 dims (all-MiniLM-L6-v2) = 25344
    * floats, at `off` = 128 (.npy v1 preamble) or 45 (FAISS IndexFlat
    * header).
    */
  private def refFlatTopKSql(path: String, off: Int): String =
    s"""WITH raw AS (SELECT hex(content) AS h FROM read_blob('$path')),
       |fl AS (SELECT r.i AS fi,
       |              ('0x' || h[2*($off + 4*r.i + 3)+1 : 2*($off + 4*r.i + 3)+2]
       |                    || h[2*($off + 4*r.i + 2)+1 : 2*($off + 4*r.i + 2)+2]
       |                    || h[2*($off + 4*r.i + 1)+1 : 2*($off + 4*r.i + 1)+2]
       |                    || h[2*($off + 4*r.i)+1 : 2*($off + 4*r.i)+2])::UBIGINT AS u
       |       FROM raw, range(0, 25344) r(i)),
       |fv AS (SELECT fi,
       |              (CASE WHEN u >= 2147483648 THEN -1.0 ELSE 1.0 END) *
       |              (CASE WHEN ((u >> 23) & 255) = 0
       |                    THEN (u & 8388607) * power(2.0, -149)
       |                    ELSE (1.0 + (u & 8388607) * power(2.0, -23)) *
       |                         power(2.0, (((u >> 23) & 255))::INTEGER - 127) END) AS v
       |       FROM fl),
       |emb AS (SELECT fi // 384 AS vec_id, list(v ORDER BY fi) AS e
       |        FROM fv GROUP BY 1),
       |q AS (SELECT e AS qv FROM emb WHERE vec_id = 0)
       |SELECT m.vec_id, round(list_dot_product(m.e, q.qv) /
       |       (sqrt(list_dot_product(m.e, m.e)) * sqrt(list_dot_product(q.qv, q.qv))), 5) AS score
       |FROM emb m, q WHERE m.vec_id <> 0
       |ORDER BY score DESC, m.vec_id LIMIT 10""".stripMargin

  private def langCase(prefix: String): String = {
    val langs = TextAnalysis.markers.map(_._1)
    val whens = langs.map { l =>
      val ge = langs.filter(_ != l).map(o => s"${prefix}s_$l >= ${prefix}s_$o").mkString(" AND ")
      s"WHEN $ge THEN '$l'"
    }.mkString(" ")
    s"CASE $whens ELSE 'zh' END"
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for ann_ivf_topk /
    * ann_recall_eval and the other k-means- or RNG-derived outputs
    * (not SQL-expressible) → driver records rows-only checks.
    */
  def oracleSql: Map[String, String] = Map(
    "vs_topk" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, ${cos5("e.embedding", "q.qv")} AS score
         |FROM embeddings e, q WHERE e.vec_id <> 0
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,
    // the reference's own 66×384 product matrix, decoded from raw
    // bytes IN SQL (IEEE 754 float32 from hex — an independent decode
    // path from the engine's ByteBuffer read), then the same top-k
    "vs_topk_reference" ->
      refFlatTopKSql(ReferenceInterop.ProductsNpy, 128),
    // the FAISS IndexFlatIP artifact: same payload at offset 45
    // (fourcc + d + ntotal + 2 reserved + is_trained + metric + count)
    "vs_topk_faiss" ->
      refFlatTopKSql(ReferenceInterop.ProductsFlatIndex, 45),
    // the reference's IVF artifact replayed from its bytes: the
    // embedded quantizer's 39 centroids (offset 98), the list-size
    // directory (offset 60043) and the codes-then-ids inverted lists
    // (offset 60355) all hex-decoded; inner-product probe of 4 cells,
    // exact cosine over exactly those lists' members, self excluded —
    // the constants are this artifact's parsed layout (d=384,
    // nlist=39, per-list stride = size * (1536 + 8))
    "ann_ivf_topk_reference" -> {
      val dec = f32FromU32.replace("\n", " ")
      s"""WITH rawh AS MATERIALIZED (SELECT hex(content) AS H FROM read_blob('$Root/faiss_reviews_ivf.index')),
         |qw AS (SELECT substring(hex(content), 2*128+1, 3072) AS hh FROM read_blob('$Root/review_embeddings.npy')),
         |qu AS (SELECT r.p, ('0x' || hh[8*r.p+7:8*r.p+8] || hh[8*r.p+5:8*r.p+6] ||
         |       hh[8*r.p+3:8*r.p+4] || hh[8*r.p+1:8*r.p+2])::UBIGINT AS u
         |       FROM qw, range(0, 384) r(p)),
         |qv AS (SELECT list($dec ORDER BY p) AS q FROM qu),
         |cshh AS (SELECT v.i AS cell, substring(H, 2*(98 + 1536*v.i)+1, 3072) AS hh
         |         FROM rawh, range(0, 39) v(i)),
         |cu AS (SELECT cell, r.p, ('0x' || hh[8*r.p+7:8*r.p+8] || hh[8*r.p+5:8*r.p+6] ||
         |       hh[8*r.p+3:8*r.p+4] || hh[8*r.p+1:8*r.p+2])::UBIGINT AS u
         |       FROM cshh, range(0, 384) r(p)),
         |cent AS (SELECT cell, list($dec ORDER BY p) AS c FROM cu GROUP BY 1),
         |probe AS (SELECT cell FROM cent, qv ORDER BY list_dot_product(c, q) DESC, cell LIMIT 4),
         |sz AS (SELECT v.i AS cell, ${u64At("H", "60043 + 8*v.i")}::BIGINT AS sz
         |       FROM rawh, range(0, 39) v(i)),
         |cum AS (SELECT cell, sz, coalesce(sum(sz * 1544) OVER (ORDER BY cell
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS bef FROM sz),
         |mem AS (SELECT c.cell, c.sz, c.bef, unnest(range(c.sz)) AS j
         |        FROM cum c SEMI JOIN probe USING (cell)),
         |mrow AS (SELECT ${u64At("H", "60355 + m.bef + m.sz*1536 + 8*m.j")}::BIGINT AS vec_id,
         |                substring(H, 2*(60355 + m.bef + 1536*m.j)+1, 3072) AS hh
         |         FROM mem m, rawh),
         |mu AS (SELECT vec_id, r.p, ('0x' || hh[8*r.p+7:8*r.p+8] || hh[8*r.p+5:8*r.p+6] ||
         |       hh[8*r.p+3:8*r.p+4] || hh[8*r.p+1:8*r.p+2])::UBIGINT AS u
         |       FROM mrow, range(0, 384) r(p)),
         |memb AS (SELECT vec_id, list($dec ORDER BY p) AS e FROM mu GROUP BY 1)
         |SELECT m.vec_id, round(list_dot_product(m.e, qv.q) /
         |       (sqrt(list_dot_product(m.e, m.e)) * sqrt(list_dot_product(qv.q, qv.q))), 5) AS score
         |FROM memb m, qv WHERE m.vec_id <> 0
         |ORDER BY score DESC, m.vec_id LIMIT 10""".stripMargin
    },
    // the reference build pipeline replayed from the same CSVs: blank
    // ratings → NULL on both engines, ratings are exact dyadic halves
    // so the mean replays bit-for-bit
    "reference_product_rollup" ->
      s"""WITH rev AS (SELECT id, "reviews.rating" AS rating
        |             FROM read_csv('$Root/reviews.csv', header=true)),
        |agg AS (SELECT id, count(*) AS n_reviews, round(avg(rating), 5) AS avg_rating
        |        FROM rev GROUP BY 1),
        |prod AS (SELECT id, n_reviews::BIGINT AS pub_n_reviews,
        |                round(avg_rating, 5) AS pub_avg_rating
        |         FROM read_csv('$Root/products.csv', header=true))
        |SELECT a.id, a.n_reviews, a.avg_rating, p.pub_n_reviews, p.pub_avg_rating,
        |       a.n_reviews = p.pub_n_reviews AS n_reviews_match,
        |       a.avg_rating = p.pub_avg_rating AS avg_rating_match
        |FROM agg a JOIN prod p USING (id) ORDER BY id""".stripMargin,
    "reference_brand_facets" ->
      s"""SELECT brand, count(*) AS n_products, sum(n_reviews)::BIGINT AS n_reviews
        |FROM read_csv('$Root/products.csv', header=true)
        |GROUP BY 1 ORDER BY n_products DESC, brand""".stripMargin,
    // the whole reference free-text path replayed: file-order CSV row
    // ids, independent re-tokenization, per-term float32 centroids
    // over the byte-decoded review matrix, token-order mean +
    // normalize, cosine over the byte-decoded product matrix
    "vs_topk_reference_text" ->
      s"""WITH rev AS (SELECT row_number() OVER () - 1 AS doc_id, combined_text AS text
         |             FROM read_csv('$Root/reviews.csv', header=true)),
         |toks AS (SELECT doc_id, unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'),
         |                                           t -> length(t) >= 2)) AS term FROM rev),
         |dt AS (SELECT DISTINCT doc_id, term FROM toks WHERE term IN ('kindle', 'tablet', 'battery')),
         |${npyDecodeCtes("rfl", ReferenceInterop.ReviewsNpy, 1578)},
         |dims AS (SELECT dt.term, f.p, CAST(avg(f.v) AS FLOAT) AS v
         |         FROM dt JOIN rfl f ON f.vec_id = dt.doc_id GROUP BY 1, 2),
         |m AS (SELECT a.p, (a.v::DOUBLE + b.v::DOUBLE + c.v::DOUBLE) / 3 AS mv
         |      FROM dims a JOIN dims b USING (p) JOIN dims c USING (p)
         |      WHERE a.term = 'kindle' AND b.term = 'tablet' AND c.term = 'battery'),
         |nrm AS (SELECT list_sum(list_transform(list(mv ORDER BY p), x -> x * x)) AS n2 FROM m),
         |qvf AS (SELECT list(CAST(mv * (1 / sqrt(n2)) AS FLOAT) ORDER BY p) AS q FROM m, nrm),
         |qv AS (SELECT list_transform(q, x -> x::DOUBLE) AS q FROM qvf),
         |${npyDecodeCtes("pfl", ReferenceInterop.ProductsNpy, 66)},
         |pemb AS (SELECT vec_id, list(v ORDER BY p) AS e FROM pfl GROUP BY 1)
         |SELECT p.vec_id, round(list_dot_product(p.e, qv.q) /
         |       (sqrt(list_dot_product(p.e, p.e)) * sqrt(list_dot_product(qv.q, qv.q))), 5) AS score
         |FROM pemb p, qv ORDER BY score DESC, p.vec_id LIMIT 10""".stripMargin,
    // the reference's fitted sklearn model REFIT from products.csv in
    // SQL (vocabulary/idf/rows re-derived from the corpus + the
    // public english stop list) — fully independent of the joblib
    // bytes the engine decodes, so a hash match proves the pickled
    // artifact IS that fit and the transform path replays it exactly
    "tfidf_sklearn_topk" ->
      s"""WITH ${sklearnTfidfCtes(Seq("kindle", "tablet", "battery"))}
         |SELECT p.doc_id, p.id, p.brand, round(coalesce(sksc.s, 0), 5) AS score
         |FROM skp p LEFT JOIN sksc USING (doc_id)
         |ORDER BY score DESC, p.doc_id LIMIT 10""".stripMargin,
    // app.py:188-218 whole: the MiniLM-space lexical encode + raw-dot
    // vector leg (the vs_topk_reference_text block), the refit-tfidf
    // keyword leg, min-max normalized and α-blended
    "hybrid_topk_sklearn" ->
      s"""WITH rev AS (SELECT row_number() OVER () - 1 AS doc_id, combined_text AS text
         |             FROM read_csv('$Root/reviews.csv', header=true)),
         |rtk AS (SELECT doc_id, unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'),
         |                                          t -> length(t) >= 2)) AS term FROM rev),
         |dt AS (SELECT DISTINCT doc_id, term FROM rtk WHERE term IN ('kindle', 'tablet', 'battery')),
         |${npyDecodeCtes("rfl", ReferenceInterop.ReviewsNpy, 1578)},
         |dims AS (SELECT dt.term, f.p, CAST(avg(f.v) AS FLOAT) AS v
         |         FROM dt JOIN rfl f ON f.vec_id = dt.doc_id GROUP BY 1, 2),
         |m AS (SELECT a.p, (a.v::DOUBLE + b.v::DOUBLE + c.v::DOUBLE) / 3 AS mv
         |      FROM dims a JOIN dims b USING (p) JOIN dims c USING (p)
         |      WHERE a.term = 'kindle' AND b.term = 'tablet' AND c.term = 'battery'),
         |mnrm AS (SELECT list_sum(list_transform(list(mv ORDER BY p), x -> x * x)) AS n2 FROM m),
         |qvf AS (SELECT list(CAST(mv * (1 / sqrt(n2)) AS FLOAT) ORDER BY p) AS q FROM m, mnrm),
         |qv AS (SELECT list_transform(q, x -> x::DOUBLE) AS q FROM qvf),
         |${npyDecodeCtes("pfl", ReferenceInterop.ProductsNpy, 66)},
         |pemb AS (SELECT vec_id, list(v ORDER BY p) AS e FROM pfl GROUP BY 1),
         |vsc AS (SELECT p.vec_id AS doc_id, list_dot_product(p.e, qv.q) AS vs FROM pemb p, qv),
         |${sklearnTfidfCtes(Seq("kindle", "tablet", "battery"))},
         |cand AS (SELECT v.doc_id, v.vs, coalesce(sksc.s, 0.0) AS ts
         |         FROM vsc v LEFT JOIN sksc USING (doc_id)),
         |sts AS (SELECT min(ts) AS mn, max(ts) AS mx FROM cand),
         |fin AS (SELECT doc_id, vs,
         |               CASE WHEN sts.mx > sts.mn THEN (ts - sts.mn) / (sts.mx - sts.mn + 1e-12)
         |                    ELSE ts END AS tn
         |        FROM cand, sts)
         |SELECT p.doc_id, p.id, p.brand,
         |       round(fin.vs * 0.7 + fin.tn * (1 - 0.7), 5) AS hybrid_score,
         |       round(fin.vs, 5) AS vector_score, round(fin.tn, 5) AS tfidf_score
         |FROM fin JOIN skp p USING (doc_id)
         |ORDER BY hybrid_score DESC, p.doc_id LIMIT 10""".stripMargin,
    // candidate_indices() composed with the blend: the candidate cut
    // runs BEFORE the min-max, exactly as app.py slices tf_full[cand]
    "hybrid_filtered_sklearn" ->
      s"""WITH rev AS (SELECT row_number() OVER () - 1 AS doc_id, combined_text AS text
         |             FROM read_csv('$Root/reviews.csv', header=true)),
         |rtk AS (SELECT doc_id, unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'),
         |                                          t -> length(t) >= 2)) AS term FROM rev),
         |dt AS (SELECT DISTINCT doc_id, term FROM rtk WHERE term IN ('kindle', 'tablet', 'battery')),
         |${npyDecodeCtes("rfl", ReferenceInterop.ReviewsNpy, 1578)},
         |dims AS (SELECT dt.term, f.p, CAST(avg(f.v) AS FLOAT) AS v
         |         FROM dt JOIN rfl f ON f.vec_id = dt.doc_id GROUP BY 1, 2),
         |m AS (SELECT a.p, (a.v::DOUBLE + b.v::DOUBLE + c.v::DOUBLE) / 3 AS mv
         |      FROM dims a JOIN dims b USING (p) JOIN dims c USING (p)
         |      WHERE a.term = 'kindle' AND b.term = 'tablet' AND c.term = 'battery'),
         |mnrm AS (SELECT list_sum(list_transform(list(mv ORDER BY p), x -> x * x)) AS n2 FROM m),
         |qvf AS (SELECT list(CAST(mv * (1 / sqrt(n2)) AS FLOAT) ORDER BY p) AS q FROM m, mnrm),
         |qv AS (SELECT list_transform(q, x -> x::DOUBLE) AS q FROM qvf),
         |${npyDecodeCtes("pfl", ReferenceInterop.ProductsNpy, 66)},
         |pemb AS (SELECT vec_id, list(v ORDER BY p) AS e FROM pfl GROUP BY 1),
         |${sklearnTfidfCtes(Seq("kindle", "tablet", "battery"))},
         |cf AS (SELECT doc_id FROM skp
         |       WHERE lower(brand) = 'amazon' AND coalesce(avg_rating, -1) >= 4.0
         |         AND coalesce(n_reviews, 0) >= 5),
         |vsc AS (SELECT p.vec_id AS doc_id, list_dot_product(p.e, qv.q) AS vs
         |        FROM pemb p SEMI JOIN cf ON cf.doc_id = p.vec_id, qv),
         |cand AS (SELECT v.doc_id, v.vs, coalesce(sksc.s, 0.0) AS ts
         |         FROM vsc v LEFT JOIN sksc USING (doc_id)),
         |sts AS (SELECT min(ts) AS mn, max(ts) AS mx FROM cand),
         |fin AS (SELECT doc_id, vs,
         |               CASE WHEN sts.mx > sts.mn THEN (ts - sts.mn) / (sts.mx - sts.mn + 1e-12)
         |                    ELSE ts END AS tn
         |        FROM cand, sts)
         |SELECT p.doc_id, p.id, p.brand,
         |       round(fin.vs * 0.7 + fin.tn * (1 - 0.7), 5) AS hybrid_score,
         |       round(fin.vs, 5) AS vector_score, round(fin.tn, 5) AS tfidf_score
         |FROM fin JOIN skp p USING (doc_id)
         |ORDER BY hybrid_score DESC, p.doc_id LIMIT 10""".stripMargin,
    // search_by_product_id replayed from the bytes: the typed id's
    // file-order row becomes the query, raw dot, self excluded
    "vs_item_similar_reference" ->
      s"""WITH prod AS (SELECT row_number() OVER () - 1 AS doc_id, id, brand
         |              FROM read_csv('$Root/products.csv', header=true)),
         |${npyDecodeCtes("pfl", ReferenceInterop.ProductsNpy, 66)},
         |pemb AS (SELECT vec_id, list(v ORDER BY p) AS e FROM pfl GROUP BY 1),
         |qi AS (SELECT doc_id FROM prod WHERE id = 'AV1T09fyvKc47QAVgf2R'),
         |qv AS (SELECT e AS q FROM pemb, qi WHERE vec_id = qi.doc_id)
         |SELECT p.vec_id AS doc_id, pr.id, pr.brand,
         |       round(list_dot_product(p.e, qv.q), 5) AS score
         |FROM pemb p JOIN prod pr ON pr.doc_id = p.vec_id, qv, qi
         |WHERE p.vec_id <> qi.doc_id
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // the compare matrix replayed: selected ids resolve through the
    // CSV, vectors decode from bytes, V @ V.T as pairs
    "vs_compare_reference" ->
      s"""WITH prod AS (SELECT row_number() OVER () - 1 AS doc_id, id
         |              FROM read_csv('$Root/products.csv', header=true)),
         |${npyDecodeCtes("pfl", ReferenceInterop.ProductsNpy, 66)},
         |pemb AS (SELECT vec_id, list(v ORDER BY p) AS e FROM pfl GROUP BY 1),
         |sel AS (SELECT p.id, e.e FROM prod p JOIN pemb e ON e.vec_id = p.doc_id
         |        WHERE p.id IN ('AV000tWuGV-KLJ3ac2-b', 'AV00l7jV-jtxr-f30lnX',
         |                       'AV1T09fyvKc47QAVgf2R'))
         |SELECT a.id AS a_id, b.id AS b_id,
         |       round(list_dot_product(a.e, b.e), 5) AS score
         |FROM sel a, sel b ORDER BY a_id, b_id""".stripMargin,
    // flat leg: exhaustive IP over the byte-decoded review matrix;
    // ivf leg: the probed member IDS hex-decoded from the IVF
    // artifact (centroid rank → winning lists → codes-then-ids
    // layout), vectors from the byte-identical npy rows
    "ann_demo_reference" -> {
      val dec = f32FromU32.replace("\n", " ")
      s"""WITH rawh AS MATERIALIZED (SELECT hex(content) AS H FROM read_blob('$Root/faiss_reviews_ivf.index')),
         |${npyDecodeCtes("rfl", ReferenceInterop.ReviewsNpy, 1578)},
         |remb AS (SELECT vec_id, list(v ORDER BY p) AS e FROM rfl GROUP BY 1),
         |qv AS (SELECT e AS q FROM remb WHERE vec_id = 0),
         |cshh AS (SELECT v.i AS cell, substring(H, 2*(98 + 1536*v.i)+1, 3072) AS hh
         |         FROM rawh, range(0, 39) v(i)),
         |cu AS (SELECT cell, r.p, ('0x' || hh[8*r.p+7:8*r.p+8] || hh[8*r.p+5:8*r.p+6] ||
         |       hh[8*r.p+3:8*r.p+4] || hh[8*r.p+1:8*r.p+2])::UBIGINT AS u
         |       FROM cshh, range(0, 384) r(p)),
         |cent AS (SELECT cell, list($dec ORDER BY p) AS c FROM cu GROUP BY 1),
         |probe AS (SELECT cell FROM cent, qv ORDER BY list_dot_product(c, q) DESC, cell LIMIT 5),
         |sz AS (SELECT v.i AS cell, ${u64At("H", "60043 + 8*v.i")}::BIGINT AS sz
         |       FROM rawh, range(0, 39) v(i)),
         |cum AS (SELECT cell, sz, coalesce(sum(sz * 1544) OVER (ORDER BY cell
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS bef FROM sz),
         |mem AS (SELECT c.cell, c.sz, c.bef, unnest(range(c.sz)) AS j
         |        FROM cum c SEMI JOIN probe USING (cell)),
         |mids AS (SELECT ${u64At("H", "60355 + m.bef + m.sz*1536 + 8*m.j")}::BIGINT AS vec_id
         |         FROM mem m, rawh),
         |flatk AS (SELECT 'flat' AS method, r.vec_id, round(list_dot_product(r.e, qv.q), 5) AS score
         |          FROM remb r, qv WHERE r.vec_id <> 0
         |          ORDER BY score DESC, r.vec_id LIMIT 10),
         |ivfk AS (SELECT 'ivf' AS method, r.vec_id, round(list_dot_product(r.e, qv.q), 5) AS score
         |         FROM remb r SEMI JOIN mids USING (vec_id), qv WHERE r.vec_id <> 0
         |         ORDER BY score DESC, r.vec_id LIMIT 10)
         |SELECT * FROM flatk UNION ALL SELECT * FROM ivfk
         |ORDER BY method, score DESC, vec_id""".stripMargin
    },
    "reference_ann_table" ->
      s"""SELECT nprobe, "Precision@K" AS precision_at_k, MRR AS mrr,
        |       AvgQueryTime_ms AS avg_query_time_ms, QueriesUsed AS queries_used
        |FROM read_csv('$Root/ann_tradeoff_table.csv', header=true)
        |ORDER BY nprobe""".stripMargin,
    "vs_topk_qvec" ->
      s"""WITH q AS (SELECT $qvSqlList::DOUBLE[] AS qv)
         |SELECT e.vec_id, ${cos5("e.embedding", "q.qv")} AS score
         |FROM embeddings e, q
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,
    "hybrid_topk_free" ->
      s"""WITH $tfidfCtes,
         |q AS (SELECT term FROM (VALUES ('spark'), ('join'), ('vector')) t(term)),
         |qw AS (SELECT q.term, ln((nn.n + 1) / (dfv.df + 1)) + 1 AS qw FROM q JOIN dfv USING (term), nn),
         |qn AS (SELECT sqrt(sum(qw * qw)) AS qn FROM qw),
         |ts AS (SELECT w.doc_id, sum(w.w / nrm.nrm * qw.qw / qn.qn) AS ts
         |       FROM w JOIN qw USING (term) JOIN nrm USING (doc_id), qn GROUP BY 1),
         |qv AS (SELECT $qvSqlList::DOUBLE[] AS qv),
         |cand AS (SELECT e.vec_id AS doc_id, ${cosRaw("e.embedding", "qv.qv")} AS vs,
         |                coalesce(ts.ts, 0.0) AS ts
         |         FROM embeddings e CROSS JOIN qv LEFT JOIN ts ON ts.doc_id = e.vec_id),
         |st AS (SELECT min(ts) AS mn, max(ts) AS mx FROM cand),
         |f AS (SELECT doc_id, vs,
         |             CASE WHEN st.mx > st.mn THEN (ts - st.mn) / (st.mx - st.mn + 1e-12) ELSE ts END AS tn
         |      FROM cand, st)
         |SELECT doc_id, round(vs * 0.7 + tn * (1 - 0.7), 5) AS hybrid_score,
         |       round(vs, 5) AS vector_score, round(tn, 5) AS tfidf_score
         |FROM f ORDER BY hybrid_score DESC, doc_id LIMIT 10""".stripMargin,
    // raw-text hybrid: the oracle tokenizes the string itself (DuckDB
    // regexp), so engine-side tokenizer drift breaks the hash-match
    "hybrid_topk_text" ->
      s"""WITH $tfidfCtes,
         |q AS (SELECT DISTINCT unnest(list_filter(regexp_extract_all(lower('Spark JOIN, vector-search! spark'), '[a-z0-9_]+'), t -> length(t) >= 2)) AS term),
         |qw AS (SELECT q.term, ln((nn.n + 1) / (dfv.df + 1)) + 1 AS qw FROM q JOIN dfv USING (term), nn),
         |qn AS (SELECT sqrt(sum(qw * qw)) AS qn FROM qw),
         |ts AS (SELECT w.doc_id, sum(w.w / nrm.nrm * qw.qw / qn.qn) AS ts
         |       FROM w JOIN qw USING (term) JOIN nrm USING (doc_id), qn GROUP BY 1),
         |qv AS (SELECT $qvSqlList::DOUBLE[] AS qv),
         |cand AS (SELECT e.vec_id AS doc_id, ${cosRaw("e.embedding", "qv.qv")} AS vs,
         |                coalesce(ts.ts, 0.0) AS ts
         |         FROM embeddings e CROSS JOIN qv LEFT JOIN ts ON ts.doc_id = e.vec_id),
         |st AS (SELECT min(ts) AS mn, max(ts) AS mx FROM cand),
         |f AS (SELECT doc_id, vs,
         |             CASE WHEN st.mx > st.mn THEN (ts - st.mn) / (st.mx - st.mn + 1e-12) ELSE ts END AS tn
         |      FROM cand, st)
         |SELECT doc_id, round(vs * 0.7 + tn * (1 - 0.7), 5) AS hybrid_score,
         |       round(vs, 5) AS vector_score, round(tn, 5) AS tfidf_score
         |FROM f ORDER BY hybrid_score DESC, doc_id LIMIT 10""".stripMargin,
    "hybrid_filtered_free" ->
      s"""WITH $tfidfCtes,
         |q AS (SELECT term FROM (VALUES ('spark'), ('join'), ('vector')) t(term)),
         |qw AS (SELECT q.term, ln((nn.n + 1) / (dfv.df + 1)) + 1 AS qw FROM q JOIN dfv USING (term), nn),
         |qn AS (SELECT sqrt(sum(qw * qw)) AS qn FROM qw),
         |ts AS (SELECT w.doc_id, sum(w.w / nrm.nrm * qw.qw / qn.qn) AS ts
         |       FROM w JOIN qw USING (term) JOIN nrm USING (doc_id), qn GROUP BY 1),
         |qv AS (SELECT $qvSqlList::DOUBLE[] AS qv),
         |cand AS (SELECT e.vec_id AS doc_id, ${cosRaw("e.embedding", "qv.qv")} AS vs,
         |                coalesce(ts.ts, 0.0) AS ts
         |         FROM embeddings e
         |         JOIN documents d ON d.doc_id = e.vec_id AND d.lang = 'en' AND d.n_chars >= 200
         |         CROSS JOIN qv LEFT JOIN ts ON ts.doc_id = e.vec_id),
         |st AS (SELECT min(ts) AS mn, max(ts) AS mx FROM cand),
         |f AS (SELECT doc_id, vs,
         |             CASE WHEN st.mx > st.mn THEN (ts - st.mn) / (st.mx - st.mn + 1e-12) ELSE ts END AS tn
         |      FROM cand, st)
         |SELECT doc_id, round(vs * 0.7 + tn * (1 - 0.7), 5) AS hybrid_score,
         |       round(vs, 5) AS vector_score, round(tn, 5) AS tfidf_score
         |FROM f ORDER BY hybrid_score DESC, doc_id LIMIT 10""".stripMargin,
    "vs_item_similar" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7)
         |SELECT e.vec_id, ${cos5("e.embedding", "q.qv")} AS score
         |FROM embeddings e, q WHERE e.vec_id <> 7
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,
    "vs_filtered_topk" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, ${cos5("e.embedding", "q.qv")} AS score
         |FROM embeddings e, q WHERE e.vec_id <> 0 AND e.label IN (1, 2, 3)
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,
    // the routed planner queries: the oracle replays the SAME integer
    // decision rule (Ivf.plannedFilteredTopK), then executes whichever
    // branch the rule picks — a route flip on either engine fails the
    // strategy-column hash
    "vs_planned_filtered_rare" -> plannedFilteredSql(Seq(3)),
    "vs_planned_filtered_loose" -> plannedFilteredSql(Seq(0, 1, 2, 3, 4, 5, 6, 7)),
    "vs_sim_matrix" ->
      s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id, ${cos5("a.embedding", "b.embedding")} AS score
         |FROM embeddings a, embeddings b
         |WHERE a.vec_id IN (0, 1, 2, 3) AND b.vec_id IN (0, 1, 2, 3)
         |ORDER BY a_id, b_id""".stripMargin,
    "ann_knn_join" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
         |s AS (SELECT q.q_id, e.vec_id AS n_id, ${cos5("e.embedding", "q.qv")} AS score
         |      FROM embeddings e, q WHERE e.vec_id <> q.q_id)
         |SELECT q_id, n_id, score,
         |       row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rk
         |FROM s QUALIFY rk <= 5 ORDER BY q_id, rk""".stripMargin,
    "ann_knn_join_heap" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
         |s AS (SELECT q.q_id, e.vec_id AS n_id, ${cos5("e.embedding", "q.qv")} AS score
         |      FROM embeddings e, q WHERE e.vec_id <> q.q_id)
         |SELECT q_id, n_id, score,
         |       row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rk
         |FROM s QUALIFY rk <= 5 ORDER BY q_id, rk""".stripMargin,
    // the decoded dot folded into exact-integer aggregates — the SAME
    // expression dag as sq8TopK (C/Q/P/d exact in double → bit-parity)
    "ann_sq8_topk" ->
      """WITH ed AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |st AS (SELECT min(list_min(emb)) AS mn, max(list_max(emb)) AS mx FROM ed),
        |coded AS (SELECT vec_id,
        |                 list_transform(emb, x -> CASE WHEN st.mx > st.mn
        |                   THEN least(floor((x - st.mn) / (st.mx - st.mn) * 256), 255)
        |                   ELSE 0.0 END) AS codes,
        |                 st.mn AS mn, st.mx AS mx
        |          FROM ed, st),
        |agg AS (SELECT vec_id, codes, list_sum(codes) AS csum, mn, mx,
        |               (mx - mn) / 256 AS s, len(codes) AS d
        |        FROM coded),
        |q AS (SELECT codes AS qcodes, csum AS qsum FROM agg WHERE vec_id = 0)
        |SELECT c.vec_id,
        |       round(c.d * c.mn * c.mn
        |             + c.mn * c.s * (c.csum + q.qsum + c.d)
        |             + c.s * c.s * (list_dot_product(c.codes, q.qcodes)
        |                            + 0.5 * c.csum + 0.5 * q.qsum + 0.25 * c.d), 5) AS score_q
        |FROM agg c, q WHERE c.vec_id <> 0
        |ORDER BY score_q DESC, c.vec_id LIMIT 10""".stripMargin,
    "embed_project" -> {
      val planes = graft.operators.Lsh.hyperplaneArrays(8, 64)
      val cols = planes.zipWithIndex.map { case (p, i) =>
        val lst = p.map(_.toString).mkString("[", ", ", "]")
        s"round(list_dot_product(embedding::DOUBLE[], $lst::DOUBLE[]) / sqrt(8), 5) AS p$i"
      }.mkString(",\n       ")
      s"""SELECT vec_id,
         |       $cols
         |FROM embeddings ORDER BY vec_id""".stripMargin
    },
    // a correct eigendecomposition collapses these to constants (the
    // engine computes them from the fitted model + corpus; the oracle
    // asserts what they MUST be — orthonormal directions, centered
    // projections, non-ascending eigen variances, Parseval bound)
    "pca_invariants" ->
      """SELECT invariant, CAST(value AS DOUBLE) AS value FROM (VALUES
        |  ('explained_le_total', 1.0), ('ortho_diag_max', 1.0),
        |  ('ortho_diag_min', 1.0), ('ortho_max_offdiag', 0.0),
        |  ('proj_mean_max', 0.0), ('var_descending', 1.0)
        |) t(invariant, value) ORDER BY invariant""".stripMargin,
    "text_normalize" ->
      """SELECT doc_id,
        |       regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm_text,
        |       length(text) AS raw_len,
        |       length(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS norm_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "sample_hash" ->
      """SELECT doc_id, substr(md5(doc_id::VARCHAR), 1, 4) AS bucket, lang, n_chars
        |FROM documents
        |WHERE substr(md5(doc_id::VARCHAR), 1, 4) < '0ccc'
        |ORDER BY doc_id""".stripMargin,
    // per-source expected counts and chi-square contributions rounded
    // per cell BEFORE the total; (x*x), never pow
    "sample_rep_check" ->
      """WITH per AS (SELECT source, count(*) AS n_corpus,
        |       count(CASE WHEN substr(md5(doc_id::VARCHAR), 1, 4) < '0ccc' THEN 1 END) AS n_sample
        |     FROM documents GROUP BY 1),
        |tot AS (SELECT sum(n_corpus)::BIGINT AS nc, sum(n_sample)::BIGINT AS ns FROM per),
        |rows0 AS (SELECT source, n_corpus, n_sample,
        |            round(tot.ns * per.n_corpus / tot.nc, 5) AS expected
        |          FROM per, tot),
        |rows1 AS (SELECT *,
        |            CASE WHEN expected > 0
        |              THEN round((n_sample - expected) * (n_sample - expected) / expected, 5)
        |              ELSE 0.0 END AS contrib
        |          FROM rows0),
        |t2 AS (SELECT round(sum(contrib), 5) AS chi2_total, count(*) - 1 AS df FROM rows1)
        |SELECT rows1.source, rows1.n_corpus, rows1.n_sample, rows1.expected,
        |       rows1.contrib, t2.chi2_total, t2.df
        |FROM rows1, t2 ORDER BY rows1.source""".stripMargin,
    "bigram_freq" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bg AS (SELECT unnest([array_to_string(toks[i+1:i+2], ' ') for i in range(len(toks) - 1)]) AS bigram FROM t)
        |SELECT bigram, count(*) AS n FROM bg GROUP BY 1
        |ORDER BY n DESC, bigram LIMIT 50""".stripMargin,
    "sample_stratified" ->
      """WITH b AS (SELECT doc_id, lang, md5(doc_id::VARCHAR) AS bucket FROM documents),
        |r AS (SELECT doc_id, lang, bucket,
        |             row_number() OVER (PARTITION BY lang ORDER BY bucket, doc_id) AS rk
        |      FROM b QUALIFY rk <= 50)
        |SELECT doc_id, lang, bucket, rk FROM r ORDER BY lang, rk""".stripMargin,
    "len_deciles" ->
      """WITH t AS (SELECT doc_id, n_chars,
        |                  ntile(10) OVER (ORDER BY n_chars, doc_id) AS tile
        |           FROM documents)
        |SELECT tile::BIGINT AS tile, count(*) AS n_docs,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "key_skew" ->
      """WITH sz AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1),
        |tot AS (SELECT sum(n_events)::BIGINT AS total, count(*) AS n_keys FROM sz)
        |SELECT user_id, n_events, tot.n_keys,
        |       n_events / tot.total AS share,
        |       n_events / (tot.total / tot.n_keys) AS skew_x
        |FROM sz, tot ORDER BY n_events DESC, user_id LIMIT 10""".stripMargin,
    "vs_topk_l2" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |       round(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
        |                  + list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])
        |                  - 2 * list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[])), 5) AS dist
        |FROM embeddings e, q WHERE e.vec_id <> 0
        |ORDER BY dist, e.vec_id LIMIT 10""".stripMargin,
    "vs_meta_filtered" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, ${cos5("e.embedding", "q.qv")} AS score
         |FROM embeddings e
         |JOIN documents d ON d.doc_id = e.vec_id AND d.lang = 'en' AND d.n_chars >= 200, q
         |WHERE e.vec_id <> 0
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,
    "vs_item_similar_filtered" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7)
         |SELECT e.vec_id, ${cos5("e.embedding", "q.qv")} AS score
         |FROM embeddings e
         |JOIN documents d ON d.doc_id = e.vec_id AND d.lang = 'en' AND d.n_chars >= 200, q
         |WHERE e.vec_id <> 7
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,
    "knn_label_precision" ->
      s"""WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS qv
         |           FROM embeddings WHERE vec_id % 100 = 0),
         |s AS (SELECT q.q_id, q.q_label, e.vec_id AS n_id, e.label AS n_label,
         |             ${cos5("e.embedding", "q.qv")} AS score
         |      FROM embeddings e, q WHERE e.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rk
         |      FROM s QUALIFY rk <= 10)
         |SELECT q_id, q_label::BIGINT AS q_label,
         |       count(*) FILTER (WHERE n_label = q_label) AS n_match,
         |       count(*) FILTER (WHERE n_label = q_label) / 10.0 AS precision
         |FROM r GROUP BY 1, 2 ORDER BY q_id""".stripMargin,
    // the (ts_ms, event_id) order key is unique, so the windows
    // replay row-for-row; context serializes as ':'-joined text
    "seq_prep" ->
      """WITH ev AS (SELECT user_id,
        |                   json_extract_string(props, '$.k')::BIGINT AS item_id,
        |                   epoch_ms(ts) AS ts_ms, event_id
        |            FROM events
        |            WHERE event_type IN ('view', 'click', 'purchase')
        |              AND json_extract_string(props, '$.k') IS NOT NULL),
        |n AS (SELECT user_id, count(*) AS n FROM ev GROUP BY 1),
        |capped AS (SELECT ev.* FROM ev JOIN n USING (user_id) WHERE n.n <= 200),
        |w AS (SELECT user_id, item_id,
        |             row_number() OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS pos,
        |             list(item_id) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |                                 ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS ctx_items
        |      FROM capped)
        |SELECT user_id, pos, item_id AS target_item,
        |       array_to_string(ctx_items, ':') AS ctx,
        |       len(ctx_items)::BIGINT AS ctx_len
        |FROM w WHERE pos >= 2 ORDER BY user_id, pos""".stripMargin,
    // every width's planes, buckets, probe sets, candidate reranks
    // and recall/MRR joins replayed; each vector owns ONE bucket per
    // width, so probe candidates need no dedup on either engine
    "lsh_bits_eval" -> {
      def block(b: Int) = {
        val planes = graft.operators.Lsh.hyperplaneArrays(b, 64)
        val rows = planes.zipWithIndex.map { case (p, j) =>
          s"($j, ${p.map(_.toString).mkString("[", ", ", "]")}::DOUBLE[])"
        }.mkString(",\n        ")
        s"""pl$b(j, plane) AS (VALUES
           |        $rows),
           |bb$b AS (SELECT e.vec_id,
           |  CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.plane) >= 0
           |           THEN (1::BIGINT << p.j) ELSE 0 END) AS BIGINT) AS bucket
           |  FROM embeddings e, pl$b p GROUP BY e.vec_id),
           |qb$b AS (SELECT q.q_id,
           |  CAST(sum(CASE WHEN list_dot_product(q.qv::DOUBLE[], p.plane) >= 0
           |           THEN (1::BIGINT << p.j) ELSE 0 END) AS BIGINT) AS qb
           |  FROM q, pl$b p GROUP BY q.q_id),
           |pr$b AS (SELECT q_id, qb AS bucket FROM qb$b
           |         UNION SELECT q_id, xor(qb, (1::BIGINT << r.j))
           |               FROM qb$b, range($b) r(j)),
           |top$b AS (SELECT pr.q_id, e.vec_id AS n_id,
           |  row_number() OVER (PARTITION BY pr.q_id
           |    ORDER BY ${cos5("e.embedding", "qq.qv")} DESC, e.vec_id) AS rk
           |  FROM pr$b pr JOIN bb$b bb USING (bucket)
           |       JOIN embeddings e ON e.vec_id = bb.vec_id
           |       JOIN q qq ON qq.q_id = pr.q_id
           |  WHERE e.vec_id <> pr.q_id QUALIFY rk <= 10),
           |s$b AS (SELECT $b::BIGINT AS n_bits,
           |  round((SELECT count(*) FROM top$b JOIN gt USING (q_id, n_id)) / (nn.nq * 10.0), 5) AS recall_at_k,
           |  round(coalesce((SELECT sum(1.0 / top$b.rk) FROM gt1 JOIN top$b USING (q_id, n_id)), 0) / nn.nq, 5) AS mrr,
           |  nn.nq::BIGINT AS n_queries FROM nn)""".stripMargin
      }
      val bitsSeq = Seq(4, 6, 8, 10)
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv
         |           FROM embeddings WHERE vec_id % 100 = 0
         |           ORDER BY vec_id LIMIT 64),
         |nn AS (SELECT count(*) AS nq FROM q),
         |gt AS (SELECT q.q_id, e.vec_id AS n_id,
         |  row_number() OVER (PARTITION BY q.q_id
         |    ORDER BY ${cos5("e.embedding", "q.qv")} DESC, e.vec_id) AS rk
         |  FROM embeddings e, q WHERE e.vec_id <> q.q_id QUALIFY rk <= 10),
         |gt1 AS (SELECT q_id, n_id FROM gt WHERE rk = 1),
         |${bitsSeq.map(block).mkString(",\n")}
         |${bitsSeq.map(b => s"SELECT * FROM s$b").mkString("\nUNION ALL ")}
         |ORDER BY n_bits""".stripMargin
    },
    // per-prefix top-k replayed with list slices; full-dim [1:64]
    // equals the unsliced ground truth on the 64-dim corpus
    "matryoshka_eval" -> {
      val dims = Seq(8, 16, 32, 64)
      def leg(d: Int) =
        s"""p$d AS (SELECT q.q_id, e.vec_id AS n_id,
           |  row_number() OVER (PARTITION BY q.q_id ORDER BY
           |    ${cos5(s"e.embedding[1:$d]", s"q.qv[1:$d]")} DESC, e.vec_id) AS rk
           |  FROM embeddings e, q WHERE e.vec_id <> q.q_id QUALIFY rk <= 10)""".stripMargin
      def stat(d: Int) =
        s"""s$d AS (SELECT $d::BIGINT AS prefix_dim,
           |  round((SELECT count(*) FROM p$d JOIN gt USING (q_id, n_id)) / (nn.nq * 10.0), 5) AS recall_at_k,
           |  round(coalesce((SELECT sum(1.0 / p$d.rk) FROM gt1 JOIN p$d USING (q_id, n_id)), 0) / nn.nq, 5) AS mrr,
           |  nn.nq::BIGINT AS n_queries FROM nn)""".stripMargin
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv
         |           FROM embeddings WHERE vec_id % 100 = 0
         |           ORDER BY vec_id LIMIT 64),
         |nn AS (SELECT count(*) AS nq FROM q),
         |${dims.map(leg).mkString(",\n")},
         |gt AS (SELECT q_id, n_id, rk FROM p64),
         |gt1 AS (SELECT q_id, n_id FROM gt WHERE rk = 1),
         |${dims.map(stat).mkString(",\n")}
         |${dims.map(d => s"SELECT * FROM s$d").mkString("\nUNION ALL ")}
         |ORDER BY prefix_dim""".stripMargin
    },
    // both legs replayed with the engine's tie orders: hardest
    // positive = (score ASC, id), hardest negative = (score DESC, id)
    "triplet_mine" ->
      s"""WITH q AS (SELECT vec_id AS a_id, label AS a_label, embedding AS qv
         |           FROM embeddings WHERE vec_id % 100 = 0),
         |s AS (SELECT q.a_id, q.a_label, e.vec_id AS n_id, e.label AS n_label,
         |             ${cos5("e.embedding", "q.qv")} AS score
         |      FROM embeddings e, q WHERE e.vec_id <> q.a_id),
         |p AS (SELECT a_id, a_label, n_id AS pos_id, score AS pos_score,
         |             row_number() OVER (PARTITION BY a_id ORDER BY score ASC, n_id) AS rk
         |      FROM s WHERE n_label = a_label QUALIFY rk = 1),
         |n AS (SELECT a_id, n_id AS neg_id, score AS neg_score,
         |             row_number() OVER (PARTITION BY a_id ORDER BY score DESC, n_id) AS rk
         |      FROM s WHERE n_label <> a_label QUALIFY rk = 1)
         |SELECT p.a_id, p.a_label::BIGINT AS a_label, p.pos_id, p.pos_score,
         |       n.neg_id, n.neg_score,
         |       round(p.pos_score - n.neg_score, 5) + 0.0 AS margin,
         |       (n.neg_score < p.pos_score AND
         |        round(p.pos_score - n.neg_score, 5) < 0.2) AS semi_hard
         |FROM p JOIN n USING (a_id) ORDER BY a_id""".stripMargin,
    // same top-k CTEs as the precision eval; the ln(x)/ln(2) discount
    // and the range-fold IDCG are the exact expressions Spark builds
    "knn_ndcg" ->
      s"""WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS qv
         |           FROM embeddings WHERE vec_id % 100 = 0),
         |s AS (SELECT q.q_id, q.q_label, e.vec_id AS n_id, e.label AS n_label,
         |             ${cos5("e.embedding", "q.qv")} AS score
         |      FROM embeddings e, q WHERE e.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rk
         |      FROM s QUALIFY rk <= 10),
         |per AS (SELECT q_id, q_label::BIGINT AS q_label,
         |               count(*) FILTER (WHERE n_label = q_label) AS n_rel,
         |               sum(CASE WHEN n_label = q_label
         |                        THEN 1.0 / (ln(rk + 1.0) / ln(2.0)) ELSE 0.0 END) AS dcg
         |        FROM r GROUP BY 1, 2),
         |lc AS (SELECT label::BIGINT AS q_label, count(*) AS n_lab FROM embeddings GROUP BY 1),
         |j AS (SELECT per.*, least(lc.n_lab - 1, 10) AS rr FROM per JOIN lc USING (q_label)),
         |i AS (SELECT *, CASE WHEN rr > 0
         |                     THEN list_sum(list_transform(range(1, rr + 1),
         |                          x -> 1.0 / (ln(x + 1.0) / ln(2.0))))
         |                     ELSE 0.0 END AS idcg FROM j)
         |SELECT q_id, q_label, n_rel, round(dcg, 5) AS dcg,
         |       CASE WHEN idcg > 0 THEN round(dcg / idcg, 5) ELSE 0.0 END AS ndcg
         |FROM i ORDER BY q_id""".stripMargin,
    "knn_classify" ->
      s"""WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS qv
         |           FROM embeddings WHERE vec_id % 100 = 0),
         |s AS (SELECT q.q_id, q.q_label, e.vec_id AS n_id, e.label AS n_label,
         |             ${cos5("e.embedding", "q.qv")} AS score
         |      FROM embeddings e, q WHERE e.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rk
         |      FROM s QUALIFY rk <= 10),
         |v AS (SELECT q_id, q_label, n_label, count(*) AS n_votes FROM r GROUP BY 1, 2, 3),
         |p AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY n_votes DESC, n_label) AS vr
         |      FROM v QUALIFY vr = 1)
         |SELECT q_id, q_label::BIGINT AS q_label, n_label::BIGINT AS pred_label, n_votes,
         |       q_label = n_label AS correct
         |FROM p ORDER BY q_id""".stripMargin,
    "embed_norm_stats" ->
      """WITH n AS (SELECT label::BIGINT AS label,
        |                  round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 5) AS nrm
        |           FROM embeddings)
        |SELECT label, count(*) AS n_vecs, round(avg(nrm), 4) AS avg_norm,
        |       round(stddev(nrm), 4) AS std_norm,
        |       round(min(nrm), 5) AS min_norm, round(max(nrm), 5) AS max_norm
        |FROM n GROUP BY label ORDER BY label""".stripMargin,
    "tfidf_topk" ->
      s"""WITH $tfidfCtes,
         |q AS (SELECT term FROM (VALUES ('spark'), ('join'), ('vector')) t(term)),
         |qw AS (SELECT q.term, ln((nn.n + 1) / (dfv.df + 1)) + 1 AS qw FROM q JOIN dfv USING (term), nn),
         |qn AS (SELECT sqrt(sum(qw * qw)) AS qn FROM qw)
         |SELECT w.doc_id, round(sum(w.w / nrm.nrm * qw.qw / qn.qn), 5) AS score
         |FROM w JOIN qw USING (term) JOIN nrm USING (doc_id), qn
         |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // ColBERT MaxSim replay: the tf-idf shortlist CTEs plus the
    // lexicon centroids assembled into term vectors; max and sum are
    // order-independent, the single round lands after the sum
    "maxsim_rerank" ->
      s"""WITH $tfidfCtes,
         |q AS (SELECT term FROM (VALUES ('spark'), ('join'), ('vector')) t(term)),
         |qw AS (SELECT q.term, ln((nn.n + 1) / (dfv.df + 1)) + 1 AS qw FROM q JOIN dfv USING (term), nn),
         |qn AS (SELECT sqrt(sum(qw * qw)) AS qn FROM qw),
         |short AS (SELECT w.doc_id, round(sum(w.w / nrm.nrm * qw.qw / qn.qn), 5) AS tfidf_score
         |          FROM w JOIN qw USING (term) JOIN nrm USING (doc_id), qn
         |          GROUP BY 1 ORDER BY tfidf_score DESC, doc_id LIMIT 30),
         |dt AS (SELECT DISTINCT doc_id, term FROM terms),
         |dims AS (SELECT dt.term, r.p, CAST(avg(e.embedding[r.p + 1]::DOUBLE) AS FLOAT) AS v
         |         FROM dt JOIN embeddings e ON e.vec_id = dt.doc_id, range(64) r(p)
         |         GROUP BY dt.term, r.p),
         |tv AS (SELECT term, list(v ORDER BY p) AS vec FROM dims GROUP BY term),
         |qv2 AS (SELECT term AS q_term, vec AS q_vec FROM tv
         |        WHERE term IN ('spark', 'join', 'vector')),
         |per AS (SELECT s.doc_id, s.tfidf_score, qv2.q_term,
         |               max(${cosRaw("tv.vec", "qv2.q_vec")}) AS ms
         |        FROM short s JOIN dt ON dt.doc_id = s.doc_id
         |                     JOIN tv ON tv.term = dt.term, qv2
         |        GROUP BY 1, 2, 3)
         |SELECT doc_id, tfidf_score, round(sum(ms), 5) AS maxsim_score
         |FROM per GROUP BY 1, 2
         |ORDER BY maxsim_score DESC, doc_id LIMIT 10""".stripMargin,
    // the oracle tokenizes the raw string ITSELF (DuckDB regexp, not a
    // Scala-side token list), so driver-tokenizer drift breaks parity
    "tfidf_topk_text" ->
      s"""WITH $tfidfCtes,
         |q AS (SELECT DISTINCT unnest(list_filter(regexp_extract_all(lower('Spark JOIN, vector-search! spark'), '[a-z0-9_]+'), t -> length(t) >= 2)) AS term),
         |qw AS (SELECT q.term, ln((nn.n + 1) / (dfv.df + 1)) + 1 AS qw FROM q JOIN dfv USING (term), nn),
         |qn AS (SELECT sqrt(sum(qw * qw)) AS qn FROM qw)
         |SELECT w.doc_id, round(sum(w.w / nrm.nrm * qw.qw / qn.qn), 5) AS score
         |FROM w JOIN qw USING (term) JOIN nrm USING (doc_id), qn
         |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "hybrid_topk" ->
      s"""WITH $tfidfCtes,
         |wn AS (SELECT w.doc_id, w.term, w.w / nrm.nrm AS wn FROM w JOIN nrm USING (doc_id)),
         |qv AS (SELECT term, wn AS qwn FROM wn WHERE doc_id = 0),
         |ts AS (SELECT wn.doc_id, sum(wn.wn * qv.qwn) AS ts FROM wn JOIN qv USING (term)
         |       WHERE wn.doc_id <> 0 GROUP BY 1),
         |qe AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
         |cand AS (SELECT e.vec_id AS doc_id, ${cosRaw("e.embedding", "qe.qemb")} AS vs,
         |                coalesce(ts.ts, 0.0) AS ts
         |         FROM embeddings e CROSS JOIN qe LEFT JOIN ts ON ts.doc_id = e.vec_id
         |         WHERE e.vec_id <> 0),
         |st AS (SELECT min(ts) AS mn, max(ts) AS mx FROM cand),
         |f AS (SELECT doc_id, vs,
         |             CASE WHEN st.mx > st.mn THEN (ts - st.mn) / (st.mx - st.mn + 1e-12) ELSE ts END AS tn
         |      FROM cand, st)
         |SELECT doc_id, round(vs * 0.7 + tn * (1 - 0.7), 5) AS hybrid_score,
         |       round(vs, 5) AS vector_score, round(tn, 5) AS tfidf_score
         |FROM f ORDER BY hybrid_score DESC, doc_id LIMIT 10""".stripMargin,
    "hybrid_filtered" ->
      s"""WITH $tfidfCtes,
         |wn AS (SELECT w.doc_id, w.term, w.w / nrm.nrm AS wn FROM w JOIN nrm USING (doc_id)),
         |qv AS (SELECT term, wn AS qwn FROM wn WHERE doc_id = 0),
         |ts AS (SELECT wn.doc_id, sum(wn.wn * qv.qwn) AS ts FROM wn JOIN qv USING (term)
         |       WHERE wn.doc_id <> 0 GROUP BY 1),
         |qe AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
         |cand AS (SELECT e.vec_id AS doc_id, ${cosRaw("e.embedding", "qe.qemb")} AS vs,
         |                coalesce(ts.ts, 0.0) AS ts
         |         FROM embeddings e
         |         JOIN documents d ON d.doc_id = e.vec_id AND d.lang = 'en' AND d.n_chars >= 200
         |         CROSS JOIN qe LEFT JOIN ts ON ts.doc_id = e.vec_id
         |         WHERE e.vec_id <> 0),
         |st AS (SELECT min(ts) AS mn, max(ts) AS mx FROM cand),
         |f AS (SELECT doc_id, vs,
         |             CASE WHEN st.mx > st.mn THEN (ts - st.mn) / (st.mx - st.mn + 1e-12) ELSE ts END AS tn
         |      FROM cand, st)
         |SELECT doc_id, round(vs * 0.7 + tn * (1 - 0.7), 5) AS hybrid_score,
         |       round(vs, 5) AS vector_score, round(tn, 5) AS tfidf_score
         |FROM f ORDER BY hybrid_score DESC, doc_id LIMIT 10""".stripMargin,
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q3_shipping" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_region_volume" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,
    "topn_per_group" ->
      """SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS totalprice,
        |       row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |FROM orders QUALIFY rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin,
    "product_rollup" ->
      """SELECT user_id, count(*) AS n_events,
        |       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
        |       round(avg(value), 4) AS avg_value,
        |       min(epoch_ms(ts)) AS first_ms, max(epoch_ms(ts)) AS last_ms
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "brand_facets" ->
      """SELECT p_brand, count(*) AS n_parts, round(avg(p_retailprice), 4) AS avg_retail
        |FROM part GROUP BY 1 ORDER BY n_parts DESC, p_brand""".stripMargin,
    "doc_preview" ->
      """SELECT doc_id, substr(text, 1, 180) || '...' AS preview, length(text) AS full_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "product_details" ->
      """SELECT d.doc_id, d.lang, d.source, d.n_chars, e.label::BIGINT AS label
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |WHERE d.doc_id IN (0, 1, 2, 3) ORDER BY d.doc_id""".stripMargin,
    "events_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value FROM events),
        |x AS (SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL
        |                       OR ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_sess
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
        |y AS (SELECT user_id, event_id, ts_ms, value,
        |             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS sess_id
        |      FROM x)
        |SELECT user_id, sess_id, count(*) AS n_events,
        |       min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
        |       round(sum(value), 2) AS sess_value,
        |       max(ts_ms) - min(ts_ms) AS duration_ms
        |FROM y GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_session_stats" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value FROM events),
        |x AS (SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL
        |                       OR ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_sess
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
        |y AS (SELECT user_id, event_id, ts_ms, value,
        |             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS sess_id
        |      FROM x),
        |s AS (SELECT user_id, sess_id, count(*) AS n_events,
        |             max(ts_ms) - min(ts_ms) AS duration_ms,
        |             round(sum(value), 2) AS sess_value
        |      FROM y GROUP BY 1, 2)
        |SELECT n_events, count(*) AS n_sessions,
        |       sum(duration_ms)::BIGINT AS sum_duration_ms,
        |       round(sum(sess_value), 2) AS value_total,
        |       round(sum(duration_ms)::BIGINT / count(*) / 1000.0, 3) AS avg_duration_s
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "q10_returns" ->
      """SELECT c.c_custkey, c.c_name, c.c_mktsegment,
        |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE l.l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c.c_custkey LIMIT 20""".stripMargin,
    "q14_promo_share" ->
      """WITH m AS (SELECT (year(l_shipdate) * 100 + month(l_shipdate))::BIGINT AS ship_month,
        |                  l_extendedprice * (1 - l_discount) AS rev,
        |                  p_type LIKE 'PROMO%' AS is_promo
        |           FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT ship_month,
        |       round(sum(CASE WHEN is_promo THEN rev ELSE 0.0 END), 2) AS promo_revenue,
        |       round(sum(rev), 2) AS total_revenue,
        |       round(100.0 * round(sum(CASE WHEN is_promo THEN rev ELSE 0.0 END), 2)
        |             / round(sum(rev), 2), 4) AS promo_share_pct
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "q4_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       year(l_shipdate)::BIGINT AS ship_year,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_18', 'NATION_19')
        |  AND n2.n_name IN ('NATION_18', 'NATION_19')
        |  AND n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q13_custdist" ->
      """WITH percust AS (
        |  SELECT c_custkey, count(o_orderkey) AS n_orders
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1)
        |SELECT n_orders, count(*) AS n_customers
        |FROM percust GROUP BY 1 ORDER BY n_customers DESC, n_orders DESC""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING round(sum(l_quantity), 2) > 250.0)
        |SELECT c_custkey, c_name, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |       round(o_totalprice, 2) AS totalprice, total_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q22_dormant_rich" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
        |       round(sum(c_acctbal), 2) AS total_acctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderdate >= '2000-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q2_min_price_supp" ->
      """WITH unitp AS (
        |  SELECT l_partkey, l_suppkey,
        |         min(l_extendedprice / l_quantity) AS ps_price
        |  FROM lineitem GROUP BY 1, 2),
        |best AS (
        |  SELECT *, row_number() OVER (PARTITION BY l_partkey
        |                               ORDER BY ps_price, l_suppkey) AS rn
        |  FROM unitp)
        |SELECT p_partkey, p_name, s_name, n_name,
        |       round(ps_price, 5) AS best_price
        |FROM best JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE rn = 1 AND p_type = 'STANDARD' AND p_size <= 10
        |ORDER BY best_price, p_partkey LIMIT 100""".stripMargin,
    "q8_market_share" ->
      """WITH eu AS (
        |  SELECT c_custkey FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |sn AS (
        |  SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey)
        |SELECT year(o_orderdate) AS o_year,
        |       round(sum(CASE WHEN supp_nation = 'NATION_7'
        |                 THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2)
        |         AS nation_revenue,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue,
        |       round(round(sum(CASE WHEN supp_nation = 'NATION_7'
        |                 THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2)
        |             / round(sum(l_extendedprice * (1 - l_discount)), 2), 5)
        |         AS mkt_share
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN sn ON l_suppkey = s_suppkey
        |WHERE o_custkey IN (SELECT c_custkey FROM eu)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q9_profit" ->
      """SELECT n_name AS nation, year(l_shipdate) AS o_year,
        |       round(sum(l_extendedprice * (1 - l_discount)
        |                 - 0.6 * p_retailprice * l_quantity), 2) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin,
    "q11_important_parts" ->
      """WITH tot AS (
        |  SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_value
        |  FROM lineitem)
        |SELECT l_partkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS part_value
        |FROM lineitem, tot
        |GROUP BY 1, tot.total_value
        |HAVING round(sum(l_extendedprice * (1 - l_discount)), 2) > total_value * 0.00075
        |ORDER BY part_value DESC, l_partkey""".stripMargin,
    "q12_priority_late" ->
      """SELECT l_returnflag,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE date_diff('day', o_orderdate, l_shipdate) > 30
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-07-01'
        |  GROUP BY 1)
        |SELECT l_suppkey AS s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = supplier.s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY 1""".stripMargin,
    "q16_supplier_variety" ->
      """SELECT p_brand, p_type, CAST(p_size // 10 AS BIGINT) AS size_bucket,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5'
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, size_bucket""".stripMargin,
    "q17_small_qty" ->
      """WITH pa AS (
        |  SELECT l_partkey AS a_partkey, avg(l_quantity) AS avg_qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#7' GROUP BY 1)
        |SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |JOIN pa ON l_partkey = a_partkey
        |WHERE p_brand = 'Brand#7' AND l_quantity < 0.2 * avg_qty""".stripMargin,
    "q19_disjunctive" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q20_dominant_supp" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE '%red%' AND year(l_shipdate) = 1997
        |  GROUP BY 1, 2),
        |dom AS (
        |  SELECT DISTINCT l_suppkey FROM (
        |    SELECT l_suppkey, qty,
        |           avg(qty) OVER (PARTITION BY l_partkey) AS part_avg
        |    FROM ps)
        |  WHERE qty > 1.5 * part_avg)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (SELECT l_suppkey FROM dom)
        |ORDER BY 1""".stripMargin,
    "session_conversion" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type FROM events),
        |m AS (SELECT *, CASE WHEN ts_ms - lag(ts_ms) OVER uw > 1800000
        |                       OR lag(ts_ms) OVER uw IS NULL THEN 1 ELSE 0 END AS new_sess
        |      FROM e WINDOW uw AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
        |s AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |      FROM m),
        |sess AS (SELECT user_id, sess_id,
        |                min(CASE WHEN event_type = 'view' THEN ts_ms END) AS v_ms,
        |                min(CASE WHEN event_type = 'purchase' THEN ts_ms END) AS p_ms
        |         FROM s GROUP BY 1, 2)
        |SELECT count(*) AS n_sessions,
        |       count(v_ms) AS n_with_view,
        |       count(p_ms) AS n_with_purchase,
        |       count(CASE WHEN p_ms > v_ms THEN 1 END) AS n_converted,
        |       round(count(CASE WHEN p_ms > v_ms THEN 1 END)
        |             / CAST(count(v_ms) AS DOUBLE), 5) AS session_cvr
        |FROM sess""".stripMargin,
    "item_engagement_hist" ->
      """WITH ui AS (SELECT DISTINCT user_id,
        |                   json_extract_string(props, '$.k')::BIGINT AS item_id
        |            FROM events
        |            WHERE event_type IN ('view', 'click', 'purchase')
        |              AND json_extract_string(props, '$.k') IS NOT NULL),
        |per AS (SELECT item_id, count(*) AS n_users FROM ui GROUP BY 1)
        |SELECT n_users, count(*) AS n_items FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    "revenue_pareto" ->
      """WITH per AS (SELECT o_custkey, round(sum(o_totalprice), 2) AS rev
        |             FROM orders GROUP BY 1),
        |cuts AS (SELECT round(quantile_cont(rev, 0.99), 5) AS p99,
        |                round(quantile_cont(rev, 0.95), 5) AS p95,
        |                round(quantile_cont(rev, 0.90), 5) AS p90 FROM per)
        |SELECT count(*) AS n_customers, round(sum(rev), 2) AS total_rev,
        |       round(round(sum(CASE WHEN rev > p99 THEN rev ELSE 0 END), 2)
        |             / round(sum(rev), 2), 5) AS share_top1,
        |       round(round(sum(CASE WHEN rev > p95 THEN rev ELSE 0 END), 2)
        |             / round(sum(rev), 2), 5) AS share_top5,
        |       round(round(sum(CASE WHEN rev > p90 THEN rev ELSE 0 END), 2)
        |             / round(sum(rev), 2), 5) AS share_top10
        |FROM per, cuts""".stripMargin,
    "data_quality_profile" ->
      """WITH d AS (SELECT count(*) AS rows_,
        |                  count(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 END) AS blank_text,
        |                  count(CASE WHEN lang IS NULL THEN 1 END) AS null_lang,
        |                  count(CASE WHEN source IS NULL THEN 1 END) AS null_source,
        |                  count(CASE WHEN n_chars <> length(text) THEN 1 END) AS n_chars_mismatch
        |           FROM documents),
        |e AS (SELECT count(*) AS rows_,
        |             count(CASE WHEN user_id IS NULL THEN 1 END) AS null_user,
        |             count(CASE WHEN value IS NULL OR value < 0 THEN 1 END) AS bad_value,
        |             count(CASE WHEN props IS NULL
        |                        OR json_extract_string(props, '$.k') IS NULL THEN 1 END)
        |               AS missing_item_ref
        |      FROM events)
        |SELECT * FROM (
        |  SELECT 'documents' AS tbl, 'rows' AS metric, rows_ AS n FROM d
        |  UNION ALL SELECT 'documents', 'blank_text', blank_text FROM d
        |  UNION ALL SELECT 'documents', 'null_lang', null_lang FROM d
        |  UNION ALL SELECT 'documents', 'null_source', null_source FROM d
        |  UNION ALL SELECT 'documents', 'n_chars_mismatch', n_chars_mismatch FROM d
        |  UNION ALL SELECT 'events', 'rows', rows_ FROM e
        |  UNION ALL SELECT 'events', 'null_user', null_user FROM e
        |  UNION ALL SELECT 'events', 'bad_value', bad_value FROM e
        |  UNION ALL SELECT 'events', 'missing_item_ref', missing_item_ref FROM e)
        |ORDER BY tbl, metric""".stripMargin,
    "vocab_heaps" ->
      """WITH toks AS (SELECT substr(md5(doc_id::VARCHAR), 1, 1) AS shard,
        |                     unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'),
        |                                        t -> length(t) >= 2)) AS term
        |              FROM documents),
        |t AS (SELECT shard, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |pst AS (SELECT shard, sum(tf) AS toks FROM t GROUP BY 1),
        |fs AS (SELECT shard, count(*) AS new_terms FROM (
        |         SELECT term, min(shard) AS shard FROM t GROUP BY 1) GROUP BY 1),
        |pts AS (SELECT ln(sum(toks) OVER cw) AS x, ln(sum(coalesce(new_terms, 0)) OVER cw) AS y,
        |               sum(toks) OVER cw AS n, sum(coalesce(new_terms, 0)) OVER cw AS v
        |        FROM pst LEFT JOIN fs USING (shard)
        |        WINDOW cw AS (ORDER BY shard ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |m AS (SELECT avg(x) AS xb, avg(y) AS yb FROM pts)
        |SELECT count(*) AS n_points,
        |       CAST(max(n) AS BIGINT) AS total_tokens,
        |       CAST(max(v) AS BIGINT) AS vocab_size,
        |       CASE WHEN sum((x - xb) * (x - xb)) = 0 THEN NULL
        |            ELSE round(sum((x - xb) * (y - yb))
        |                       / sum((x - xb) * (x - xb)), 5) + 0.0 END AS heaps_beta
        |FROM pts, m""".stripMargin,
    "value_robust_stats" ->
      """WITH cuts AS (SELECT event_type,
        |                     round(quantile_cont(value, 0.05), 5) AS lo,
        |                     round(quantile_cont(value, 0.95), 5) AS hi
        |              FROM events GROUP BY 1)
        |SELECT e.event_type, count(*) AS n_events,
        |       round(avg(value), 4) AS mean_value,
        |       round(avg(CASE WHEN value BETWEEN lo AND hi THEN value END), 4)
        |         AS trimmed_mean,
        |       max(lo) AS p05, max(hi) AS p95
        |FROM events e JOIN cuts USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "first_touch_conversion" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type FROM events),
        |r AS (SELECT user_id, event_type,
        |             row_number() OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS rn,
        |             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |               OVER (PARTITION BY user_id) AS converted
        |      FROM e),
        |per AS (SELECT user_id, event_type AS first_type, converted FROM r WHERE rn = 1)
        |SELECT first_type, count(*) AS n_users,
        |       CAST(sum(converted) AS BIGINT) AS n_converted,
        |       round(sum(converted) / CAST(count(*) AS DOUBLE), 5) AS conversion_rate
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    "lang_source_chi2" ->
      """WITH obs AS (SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, sum(n) AS row_n FROM obs GROUP BY 1),
        |ct AS (SELECT source, sum(n) AS col_n FROM obs GROUP BY 1),
        |tot AS (SELECT sum(n) AS total, count(DISTINCT lang) AS n_langs,
        |               count(DISTINCT source) AS n_sources FROM obs)
        |SELECT CAST(max(n_langs) AS BIGINT) AS n_langs,
        |       CAST(max(n_sources) AS BIGINT) AS n_sources,
        |       CAST(max(total) AS BIGINT) AS n_docs,
        |       CAST((max(n_langs) - 1) * (max(n_sources) - 1) AS BIGINT) AS dof,
        |       round(sum(pow(n - row_n * col_n / CAST(total AS DOUBLE), 2)
        |                 / (row_n * col_n / CAST(total AS DOUBLE))), 4) AS chi2
        |FROM obs JOIN rt USING (lang) JOIN ct USING (source), tot""".stripMargin,
    "source_log_odds" ->
      s"""WITH $tfidfCtes,
         |st AS (SELECT d.source, tf.term, sum(tf.tf) AS y
         |       FROM tf JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |srct AS (SELECT source, sum(y) AS ns FROM st GROUP BY 1),
         |termt AS (SELECT term, sum(y) AS yw FROM st GROUP BY 1),
         |tot AS (SELECT sum(y) AS nn FROM st),
         |scored AS (SELECT st.source, st.term, st.y,
         |                  round(ln((st.y + 0.5) / (srct.ns - st.y + 0.5))
         |                        - ln((termt.yw - st.y + 0.5)
         |                             / (tot.nn - srct.ns - (termt.yw - st.y) + 0.5)), 5) + 0.0
         |                    AS log_odds
         |           FROM st JOIN srct USING (source) JOIN termt USING (term), tot),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY source
         |                  ORDER BY log_odds DESC, term) AS rk FROM scored)
         |SELECT source, rk, term, CAST(y AS BIGINT) AS y, log_odds FROM rk
         |WHERE rk <= 5 ORDER BY source, rk""".stripMargin,
    "label_separation" ->
      """WITH dims AS (SELECT label::BIGINT AS cl, generate_subscripts(embedding, 1) AS pos,
        |                     unnest(embedding)::DOUBLE AS v FROM embeddings),
        |cm AS (SELECT cl, pos, round(avg(v), 5) AS m FROM dims GROUP BY 1, 2),
        |cents AS (SELECT cl, list(m ORDER BY pos) AS centroid FROM cm GROUP BY 1),
        |scored AS (SELECT e.vec_id, e.label::BIGINT AS label, c.cl,
        |                  round(list_dot_product(e.embedding::DOUBLE[], c.centroid)
        |                        / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |                           * sqrt(list_dot_product(c.centroid, c.centroid))), 5) AS cos
        |           FROM embeddings e CROSS JOIN cents c),
        |per AS (SELECT vec_id, label,
        |               max(CASE WHEN cl = label THEN cos END) AS own,
        |               max(CASE WHEN cl <> label THEN cos END) AS other
        |        FROM scored GROUP BY 1, 2)
        |SELECT label, count(*) AS n_vecs,
        |       round(avg(own), 4) + 0.0 AS mean_own_cos,
        |       round(avg(other), 4) + 0.0 AS mean_other_cos,
        |       round(avg(own - other), 4) + 0.0 AS margin
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    "chunk_passage_topk" ->
      """WITH ch AS (SELECT doc_id, i::BIGINT AS chunk_id, substr(text, i * 150 + 1, 200) AS chunk_text
        |            FROM (SELECT doc_id, text,
        |                         unnest(range(greatest((length(text) - 200 + 149) // 150, 0) + 1)) AS i
        |                  FROM documents WHERE length(text) > 0)),
        |ct AS (SELECT doc_id, chunk_id,
        |              unnest(list_filter(regexp_extract_all(lower(chunk_text), '[a-z0-9_]+'),
        |                                 t -> length(t) >= 2)) AS term
        |       FROM ch),
        |ctf AS (SELECT doc_id, chunk_id, term, count(*) AS tf FROM ct GROUP BY 1, 2, 3),
        |cdf AS (SELECT term, count(*) AS df FROM ctf GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM ch),
        |q AS (SELECT term FROM (VALUES ('spark'), ('join'), ('vector')) t(term)),
        |qw AS (SELECT q.term, ln((nn.n + 1) / (cdf.df + 1)) + 1 AS w
        |       FROM q JOIN cdf USING (term), nn),
        |cs AS (SELECT doc_id, chunk_id, round(sum(tf * w), 5) AS chunk_score
        |       FROM ctf JOIN qw USING (term) GROUP BY 1, 2),
        |best AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                    ORDER BY chunk_score DESC, chunk_id) AS rn FROM cs)
        |SELECT doc_id, chunk_id, chunk_score FROM best WHERE rn = 1
        |ORDER BY chunk_score DESC, doc_id LIMIT 10""".stripMargin,
    "ship_latency" ->
      """WITH fs AS (SELECT l_orderkey, min(l_shipdate) AS first_ship
        |            FROM lineitem GROUP BY 1),
        |lat AS (SELECT o_orderpriority,
        |               date_diff('day', o_orderdate, first_ship) AS days
        |        FROM fs JOIN orders ON l_orderkey = o_orderkey)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(sum(days) AS BIGINT) AS sum_days,
        |       round(quantile_cont(days, 0.5), 3) AS median_days,
        |       round(quantile_cont(days, 0.9), 3) AS p90_days,
        |       CAST(max(days) AS BIGINT) AS max_days,
        |       round(sum(days) / count(*), 3) AS mean_days
        |FROM lat GROUP BY 1 ORDER BY 1""".stripMargin,
    "source_embed_drift" ->
      """WITH dims AS (SELECT d.source, generate_subscripts(e.embedding, 1) AS pos,
        |                     unnest(e.embedding)::DOUBLE AS v
        |              FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
        |sp AS (SELECT source, pos, sum(v) AS sx, count(*) AS n
        |       FROM dims GROUP BY 1, 2),
        |corpus AS (SELECT pos, sum(sx) AS tx, sum(n) AS tn FROM sp GROUP BY 1),
        |j AS (SELECT source, n, sx / n AS sc, tx / tn AS cc
        |      FROM sp JOIN corpus USING (pos))
        |SELECT source, CAST(max(n) AS BIGINT) AS n_vecs,
        |       round(sum(sc * cc) / (sqrt(sum(sc * sc)) * sqrt(sum(cc * cc))), 5)
        |         AS centroid_cos
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "fuzzy_term_match" ->
      s"""WITH $tfidfCtes
         |SELECT term, df, CAST(levenshtein(term, 'vectr') AS INTEGER) AS dist
         |FROM dfv
         |WHERE abs(length(term) - 5) <= 2
         |  AND levenshtein(term, 'vectr') BETWEEN 1 AND 2
         |ORDER BY dist, df DESC, term LIMIT 10""".stripMargin,
    "search_snippets" ->
      s"""WITH $tfidfCtes,
         |q AS (SELECT DISTINCT unnest(list_filter(regexp_extract_all(lower('Spark JOIN, vector-search! spark'), '[a-z0-9_]+'), t -> length(t) >= 2)) AS term),
         |qw AS (SELECT q.term, ln((nn.n + 1) / (dfv.df + 1)) + 1 AS qw FROM q JOIN dfv USING (term), nn),
         |qn AS (SELECT sqrt(sum(qw * qw)) AS qn FROM qw),
         |hits AS (SELECT w.doc_id, round(sum(w.w / nrm.nrm * qw.qw / qn.qn), 5) AS score
         |         FROM w JOIN qw USING (term) JOIN nrm USING (doc_id), qn
         |         GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 5),
         |pos AS (SELECT h.doc_id, h.score, d.text,
         |               least(CASE WHEN strpos(lower(d.text), 'spark') > 0
         |                          THEN strpos(lower(d.text), 'spark') ELSE 2147483647 END,
         |                     CASE WHEN strpos(lower(d.text), 'join') > 0
         |                          THEN strpos(lower(d.text), 'join') ELSE 2147483647 END,
         |                     CASE WHEN strpos(lower(d.text), 'vector') > 0
         |                          THEN strpos(lower(d.text), 'vector') ELSE 2147483647 END,
         |                     CASE WHEN strpos(lower(d.text), 'search') > 0
         |                          THEN strpos(lower(d.text), 'search') ELSE 2147483647 END) AS pos
         |        FROM hits h JOIN documents d USING (doc_id))
         |SELECT doc_id, score, substr(text, greatest(1, pos - 40), 120) AS snippet
         |FROM pos ORDER BY score DESC, doc_id""".stripMargin,
    "vs_prf_topk" ->
      s"""WITH q AS (SELECT $qvSqlList::DOUBLE[] AS qv),
         |fb AS (SELECT e.vec_id FROM embeddings e, q
         |       ORDER BY ${cos5("e.embedding", "q.qv")} DESC, e.vec_id LIMIT 5),
         |fbd AS (SELECT generate_subscripts(e.embedding, 1) AS pos,
         |               unnest(e.embedding)::DOUBLE AS x
         |        FROM embeddings e WHERE e.vec_id IN (SELECT vec_id FROM fb)),
         |sums AS (SELECT pos, sum(x) AS sx FROM fbd GROUP BY 1),
         |qd AS (SELECT generate_subscripts(qv, 1) AS pos, unnest(qv) AS qx FROM q),
         |q2 AS (SELECT list(5 * qd.qx + sums.sx ORDER BY pos) AS q2v
         |       FROM qd JOIN sums USING (pos))
         |SELECT e.vec_id, ${cos5("e.embedding", "q2.q2v")} AS score
         |FROM embeddings e, q2
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,
    "events_heatmap" ->
      """SELECT (epoch_ms(ts) // 86400000 + 4) % 7 AS dow,
        |       (epoch_ms(ts) // 3600000) % 24 AS hour,
        |       count(*) AS n_events, count(DISTINCT user_id) AS n_users,
        |       round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_session_window" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, value FROM events),
        |m AS (SELECT user_id, ts_ms, value,
        |             CASE WHEN ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms)
        |                       >= 1800000 OR lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms)
        |                       IS NULL THEN 1 ELSE 0 END AS new_sess
        |      FROM e),
        |s AS (SELECT user_id, ts_ms, value,
        |             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |      FROM m)
        |SELECT user_id, min(ts_ms) AS start_ms, max(ts_ms) + 1800000 AS end_ms,
        |       count(*) AS n_events, round(sum(value), 2) AS sess_value
        |FROM s GROUP BY user_id, sess_id ORDER BY user_id, start_ms""".stripMargin,
    "events_band_join" ->
      """WITH bands(band_low, band_high, band) AS (
        |  VALUES (0.0, 45.0, 'low'), (45.0, 120.0, 'mid'),
        |         (120.0, 260.0, 'high'), (260.0, 1000.0, 'extreme'))
        |SELECT band, count(*) AS n_events, round(sum(value), 2) AS sum_value,
        |       count(DISTINCT user_id) AS n_users
        |FROM events JOIN bands ON value >= band_low AND value < band_high
        |GROUP BY band, band_low ORDER BY band_low""".stripMargin,
    "item_triangles" ->
      """WITH ui AS (SELECT DISTINCT user_id,
        |                   json_extract_string(props, '$.k')::BIGINT AS item_id
        |            FROM events
        |            WHERE event_type IN ('view', 'click', 'purchase')
        |              AND json_extract_string(props, '$.k') IS NOT NULL),
        |bk AS (SELECT user_id, count(*) AS basket FROM ui GROUP BY 1),
        |capped AS (SELECT ui.user_id, ui.item_id FROM ui
        |           JOIN bk USING (user_id) WHERE bk.basket <= 500),
        |e AS (SELECT DISTINCT a.item_id AS src, b.item_id AS dst
        |      FROM capped a JOIN capped b USING (user_id)
        |      WHERE a.item_id < b.item_id),
        |tri AS (SELECT count(*) AS n_triangles
        |        FROM e e1 JOIN e e2 ON e1.dst = e2.src
        |        WHERE EXISTS (SELECT 1 FROM e e3
        |                      WHERE e3.src = e1.src AND e3.dst = e2.dst)),
        |deg AS (SELECT v, count(*) AS d FROM (
        |          SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e)
        |        GROUP BY 1)
        |SELECT count(*) AS n_items, CAST(sum(d) // 2 AS BIGINT) AS n_edges,
        |       CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS n_wedges,
        |       (SELECT n_triangles FROM tri) AS n_triangles,
        |       round(3.0 * (SELECT n_triangles FROM tri)
        |             / sum((d * (d - 1)) // 2), 5) AS clustering_coeff
        |FROM deg""".stripMargin,
    // the charEntropy identity H = ln(n) - sum(c ln c)/n over exact
    // transition counts
    "transition_entropy" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type FROM events),
        |t AS (SELECT event_type AS from_type,
        |             lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS to_type
        |      FROM e),
        |c AS (SELECT from_type, to_type, count(*) AS n
        |      FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, sum(n)::BIGINT AS n_transitions,
        |       count(*) AS n_next_types,
        |       round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 5) AS entropy_nats,
        |       round(ln(count(*)), 5) AS max_entropy
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // exact integer gap sums (n, sum g, sum g^2); sigma via the
    // identical sqrt expression; degenerate streams report 0
    "events_burstiness" ->
      """WITH e AS (SELECT event_type, epoch_ms(ts) AS ts_ms, event_id FROM events),
        |g AS (SELECT event_type,
        |             ts_ms - lag(ts_ms, 1) OVER (PARTITION BY event_type ORDER BY ts_ms, event_id) AS gap
        |      FROM e QUALIFY gap IS NOT NULL),
        |s AS (SELECT event_type, count(*) AS n, sum(gap)::BIGINT AS sg,
        |             sum(gap * gap)::BIGINT AS sg2
        |      FROM g GROUP BY 1)
        |SELECT event_type, n,
        |       round(sg / n / 1000, 3) AS mean_gap_s,
        |       round(sqrt(sg2 / n - (sg / n) * (sg / n)) / 1000, 3) AS std_gap_s,
        |       CASE WHEN sqrt(sg2 / n - (sg / n) * (sg / n)) + sg / n = 0 THEN 0.0
        |            ELSE round((sqrt(sg2 / n - (sg / n) * (sg / n)) - sg / n)
        |                       / (sqrt(sg2 / n - (sg / n) * (sg / n)) + sg / n), 5) + 0.0 END
        |         AS burstiness
        |FROM s ORDER BY event_type""".stripMargin,
    // dense (type x day) grid zero-fills silent days; both forecasts
    // are grid self-joins at day-7 / day-1; exact integer MAE sums,
    // winner from the ROUNDED columns
    "events_forecast" ->
      """WITH daily AS MATERIALIZED (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
        |         count(*) AS n FROM events GROUP BY 1, 2),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |days AS (SELECT unnest(range(d0, d1 + 1)) AS day, d1 FROM b WHERE d1 - d0 >= 14),
        |g AS MATERIALIZED (SELECT t.event_type, days.day, days.d1, coalesce(daily.n, 0) AS n
        |     FROM (SELECT DISTINCT event_type FROM daily) t
        |     CROSS JOIN days
        |     LEFT JOIN daily ON daily.event_type = t.event_type AND daily.day = days.day)
        |SELECT g.event_type, count(*) AS n_days,
        |       round(sum(abs(g.n - s.n)) / count(*), 5) AS mae_seasonal,
        |       round(sum(abs(g.n - p.n)) / count(*), 5) AS mae_naive,
        |       CASE WHEN mae_seasonal <= mae_naive THEN 'seasonal' ELSE 'naive' END AS winner
        |FROM g JOIN g s ON s.event_type = g.event_type AND s.day = g.day - 7
        |       JOIN g p ON p.event_type = g.event_type AND p.day = g.day - 1
        |WHERE g.day > g.d1 - 7
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // rank-1 first event under the unique (ts_ms, event_id) order,
    // integer ms lags, quantile_cont ≡ percentile, one rounded
    // division to hours per cell
    "conversion_lag" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type FROM events),
        |f AS (SELECT user_id, event_type AS first_event_type, ts_ms AS t0 FROM e
        |      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) = 1),
        |p AS (SELECT user_id, min(ts_ms) AS tp FROM e WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT first_event_type, count(*) AS n_users,
        |       round(sum(tp - t0) / count(*) / 3600000.0, 5) AS mean_hours,
        |       round(quantile_cont(tp - t0, 0.5) / 3600000.0, 5) AS p50_hours,
        |       round(quantile_cont(tp - t0, 0.9) / 3600000.0, 5) AS p90_hours
        |FROM f JOIN p USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // integer epoch-day 80% boundary, (n DESC, t) train argmax,
    // eval pairs keyed to the SOURCE event's day
    "event_next_pred" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type FROM events),
        |p AS MATERIALIZED (SELECT event_type AS s,
        |        lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS t,
        |        ts_ms // 86400000 AS day
        |      FROM e QUALIFY t IS NOT NULL),
        |b AS (SELECT min(day) + (max(day) - min(day) + 1) * 80 // 100 AS t1 FROM p),
        |tc AS (SELECT s, t, count(*) AS n FROM p, b WHERE day < t1 GROUP BY 1, 2),
        |m AS (SELECT s, t AS pred FROM tc
        |      QUALIFY row_number() OVER (PARTITION BY s ORDER BY n DESC, t) = 1)
        |SELECT p.s AS state, m.pred, count(*) AS n_eval,
        |       count(CASE WHEN p.t = m.pred THEN 1 END) AS n_hit,
        |       round(count(CASE WHEN p.t = m.pred THEN 1 END) / count(*), 5) AS hit_rate
        |FROM p JOIN b ON p.day >= b.t1 JOIN m ON m.s = p.s
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "event_transitions" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type FROM events),
        |t AS (SELECT event_type AS from_type,
        |             lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS to_type
        |      FROM e),
        |c AS (SELECT from_type, to_type, count(*) AS n_transitions
        |      FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_transitions,
        |       round(n_transitions / (sum(n_transitions) OVER (PARTITION BY from_type)), 5)
        |         AS p_transition
        |FROM c ORDER BY from_type, to_type""".stripMargin,
    "engagement_gini" ->
      """WITH per AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
        |hist AS (SELECT cnt, count(*) AS m FROM per GROUP BY 1),
        |h AS (SELECT cnt, m,
        |             coalesce(sum(m) OVER (ORDER BY cnt
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |      FROM hist)
        |SELECT CAST(sum(m) AS BIGINT) AS n_users,
        |       CAST(sum(cnt * m) AS BIGINT) AS total_events,
        |       round(2.0 * sum(cnt * (m * before + (m * (m + 1)) // 2))
        |               / (sum(m) * sum(cnt * m))
        |             - (sum(m) + 1.0) / sum(m), 5) AS gini
        |FROM h""".stripMargin,
    "user_stickiness" ->
      """WITH d AS (SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS week FROM events),
        |active AS (SELECT week, count(*) AS n_active FROM d GROUP BY 1),
        |ret AS (SELECT a.week, count(*) AS n_retained
        |        FROM d a JOIN d b ON a.user_id = b.user_id AND b.week = a.week + 1
        |        GROUP BY 1)
        |SELECT active.week, n_active,
        |       CAST(coalesce(n_retained, 0) AS BIGINT) AS n_retained,
        |       round(coalesce(n_retained, 0) / CAST(n_active AS DOUBLE), 5) AS stickiness
        |FROM active LEFT JOIN ret ON active.week = ret.week
        |ORDER BY active.week""".stripMargin,
    "interevent_gaps" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id FROM events),
        |g AS (SELECT event_type,
        |             ts_ms - lag(ts_ms, 1) OVER (PARTITION BY user_id, event_type
        |                                         ORDER BY ts_ms, event_id) AS gap_ms
        |      FROM e)
        |SELECT event_type, count(*) AS n_gaps,
        |       CAST(sum(gap_ms) AS BIGINT) AS sum_gap_ms,
        |       round(quantile_cont(gap_ms, 0.5) / 1000.0, 3) AS median_gap_s,
        |       round(quantile_cont(gap_ms, 0.9) / 1000.0, 3) AS p90_gap_s,
        |       round(max(gap_ms) / 1000.0, 3) AS max_gap_s,
        |       round(sum(gap_ms) / count(*) / 1000.0, 3) AS mean_gap_s
        |FROM g WHERE gap_ms IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "value_histogram" ->
      """SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bin,
        |       count(*) AS n_events, round(sum(value), 2) AS sum_value,
        |       round(CAST(floor(value / 50.0) AS BIGINT) * 50.0, 2) AS bin_low
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q21_sole_late" ->
      """WITH os AS (
        |  SELECT l_orderkey, l_suppkey,
        |         max(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60
        |             THEN 1 ELSE 0 END) AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |flagged AS (
        |  SELECT l_suppkey FROM (
        |    SELECT l_suppkey, late,
        |           count(*) OVER (PARTITION BY l_orderkey) AS n_supp,
        |           sum(late) OVER (PARTITION BY l_orderkey) AS n_late
        |    FROM os)
        |  WHERE late = 1 AND n_supp > 1 AND n_late = 1)
        |SELECT s_suppkey, s_name, count(*) AS numwait
        |FROM flagged JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey LIMIT 50""".stripMargin,
    "events_funnel" ->
      """SELECT event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
        |       round(avg(value), 4) AS avg_value, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "vocab_stats" ->
      """WITH terms AS (SELECT doc_id, unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'), t -> length(t) >= 2)) AS term FROM documents),
        |d AS (SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf_total FROM terms GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM documents)
        |SELECT term, df, tf_total, round(ln((nn.n + 1) / (df + 1)) + 1, 5) AS idf
        |FROM d, nn ORDER BY df DESC, term""".stripMargin,
    "events_hourly" ->
      """SELECT (epoch_ms(ts) // 3600000) * 3600000 AS hour_ms, event_type,
        |       count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_props_parse" ->
      """SELECT event_type, count(*) AS n_events,
        |       sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
        |       max(json_extract_string(props, '$.k')::BIGINT) AS max_k,
        |       count(*) FILTER (WHERE json_extract_string(props, '$.k')::BIGINT > 50) AS n_high
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // distinct (user, item) engagement → per-user pair join (basket
    // cap mirrors the engine's maxBasket) → exact integer counts
    "item_cooc" ->
      """WITH ui AS (SELECT DISTINCT user_id,
        |                   json_extract_string(props, '$.k')::BIGINT AS item_id
        |            FROM events
        |            WHERE event_type IN ('view', 'click', 'purchase')
        |              AND json_extract_string(props, '$.k') IS NOT NULL),
        |deg AS (SELECT user_id, count(*) AS basket FROM ui GROUP BY 1),
        |capped AS (SELECT ui.user_id, ui.item_id FROM ui
        |           JOIN deg USING (user_id) WHERE deg.basket <= 500),
        |pairs AS (SELECT a.item_id, b.item_id AS rec_item_id, count(*) AS n_users
        |          FROM capped a JOIN capped b USING (user_id)
        |          WHERE a.item_id <> b.item_id GROUP BY 1, 2)
        |SELECT item_id, rec_item_id, n_users,
        |       row_number() OVER (PARTITION BY item_id
        |                          ORDER BY n_users DESC, rec_item_id) AS rk
        |FROM pairs QUALIFY rk <= 5 ORDER BY item_id, rk""".stripMargin,
    // recency-decayed co-visitation: pair age = the STALER leg's last
    // engagement vs the corpus-max epoch; weight = exact bit-shift
    // 2^(20 - age/halflife) so sums are exact BIGINTs on both engines
    "item_cooc_decayed" ->
      """WITH ev AS (SELECT user_id,
        |                   json_extract_string(props, '$.k')::BIGINT AS item_id,
        |                   epoch_ms(ts) AS ts_ms
        |            FROM events
        |            WHERE event_type IN ('view', 'click', 'purchase')
        |              AND json_extract_string(props, '$.k') IS NOT NULL),
        |ref AS (SELECT max(ts_ms) AS ref_ms FROM ev),
        |ui AS (SELECT user_id, item_id, max(ts_ms) AS last_ts FROM ev GROUP BY 1, 2),
        |deg AS (SELECT user_id, count(*) AS basket FROM ui GROUP BY 1),
        |capped AS (SELECT ui.user_id, ui.item_id, ui.last_ts FROM ui
        |           JOIN deg USING (user_id) WHERE deg.basket <= 500),
        |pairs AS (SELECT a.item_id, b.item_id AS rec_item_id,
        |                 CAST(sum(1::BIGINT << CAST(20 - least(
        |                        (ref_ms - least(a.last_ts, b.last_ts)) // 604800000, 20)
        |                      AS INT)) AS BIGINT) AS weight,
        |                 count(*) AS n_users
        |          FROM capped a JOIN capped b USING (user_id), ref
        |          WHERE a.item_id <> b.item_id GROUP BY 1, 2)
        |SELECT item_id, rec_item_id, weight, n_users,
        |       row_number() OVER (PARTITION BY item_id
        |                          ORDER BY weight DESC, rec_item_id) AS rk
        |FROM pairs QUALIFY rk <= 5 ORDER BY item_id, rk""".stripMargin,
    // session gap rule over (ts_ms, event_id), distinct in-session
    // items, bot-capped sessions, exact pair counts, per-item window
    "item_cooc_session" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |                   json_extract_string(props, '$.k')::BIGINT AS item_id
        |            FROM events
        |            WHERE event_type IN ('view', 'click', 'purchase')
        |              AND json_extract_string(props, '$.k') IS NOT NULL),
        |sx AS (SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL
        |                       OR ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1 ELSE 0 END AS ns
        |       FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
        |sid AS (SELECT user_id, item_id,
        |               sum(ns) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |        FROM sx),
        |si AS (SELECT DISTINCT user_id, sess_id, item_id FROM sid),
        |sz AS (SELECT user_id, sess_id, count(*) AS n_items FROM si GROUP BY 1, 2),
        |capped AS (SELECT si.* FROM si JOIN sz USING (user_id, sess_id)
        |           WHERE sz.n_items <= 100),
        |pairs AS (SELECT a.item_id, b.item_id AS rec_item_id, count(*) AS n_sessions
        |          FROM capped a JOIN capped b USING (user_id, sess_id)
        |          WHERE a.item_id <> b.item_id GROUP BY 1, 2)
        |SELECT item_id, rec_item_id, n_sessions,
        |       row_number() OVER (PARTITION BY item_id
        |                          ORDER BY n_sessions DESC, rec_item_id)::BIGINT AS rk
        |FROM pairs QUALIFY rk <= 5 ORDER BY item_id, rk""".stripMargin,
    // PSI replay: midpoint split, 5-decimal-rounded reference deciles
    // (quantile_cont ↔ Spark exact percentile), >= edge binning,
    // Laplace-smoothed shares, <= nBins-term sum rounded once
    "feature_psi" ->
      """WITH ev AS (SELECT event_type, value, epoch_ms(ts) AS ts_ms FROM events),
        |sp AS (SELECT (min(ts_ms) + max(ts_ms)) // 2 AS tsplit FROM ev),
        |mk AS (SELECT e.*, CASE WHEN e.ts_ms < sp.tsplit THEN 'ref' ELSE 'cur' END AS win
        |       FROM ev e, sp),
        |ed AS (SELECT list_transform(
        |                quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
        |                e -> round(e, 5)) AS edges
        |       FROM mk WHERE win = 'ref'),
        |binned AS (SELECT win, 'value' AS feature,
        |                  CAST(len(list_filter(ed.edges, e -> mk.value >= e)) AS VARCHAR) AS bin
        |           FROM mk, ed WHERE mk.value IS NOT NULL
        |           UNION ALL SELECT win, 'event_type', event_type FROM mk),
        |counts AS (SELECT feature, bin,
        |                  count(CASE WHEN win = 'ref' THEN 1 END) AS c_ref,
        |                  count(CASE WHEN win = 'cur' THEN 1 END) AS c_cur
        |           FROM binned GROUP BY 1, 2),
        |tot AS (SELECT feature, CAST(sum(c_ref) AS BIGINT) AS n_ref,
        |               CAST(sum(c_cur) AS BIGINT) AS n_cur, count(*) AS n_bins
        |        FROM counts GROUP BY 1),
        |sh AS (SELECT c.feature, t.n_bins, t.n_ref, t.n_cur,
        |              (c.c_ref + 0.5) / (t.n_ref + 0.5 * t.n_bins) AS p,
        |              (c.c_cur + 0.5) / (t.n_cur + 0.5 * t.n_bins) AS q
        |       FROM counts c JOIN tot t USING (feature))
        |SELECT feature, n_bins, n_ref, n_cur,
        |       round(sum((p - q) * ln(p / q)), 5) AS psi
        |FROM sh GROUP BY 1, 2, 3, 4 ORDER BY feature""".stripMargin,
    // strictly-past / strictly-future range frames exclude the current
    // instant on both engines; money in exact cents, counts exact
    "pit_training_set" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
        |                   CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |f AS (SELECT user_id, event_id, event_type, ts_ms,
        |             count(*) OVER wp AS past_events,
        |             CAST(coalesce(sum(cents) OVER wp, 0) AS BIGINT) AS past_cents,
        |             coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |                      OVER wf, 0) AS fut
        |      FROM ev
        |      WINDOW wp AS (PARTITION BY user_id ORDER BY ts_ms
        |                    RANGE BETWEEN 604800000 PRECEDING AND 1 PRECEDING),
        |             wf AS (PARTITION BY user_id ORDER BY ts_ms
        |                    RANGE BETWEEN 1 FOLLOWING AND 604800000 FOLLOWING))
        |SELECT user_id, event_id, ts_ms, past_events, past_cents,
        |       CAST(CASE WHEN fut > 0 THEN 1 ELSE 0 END AS BIGINT) AS label
        |FROM f WHERE event_type = 'click' ORDER BY user_id, ts_ms, event_id""".stripMargin,
    // right-to-be-forgotten manifest: every count an exact integer
    // over one cohort-filtered scan; seq windows/cooc contributions by
    // the operators' eligibility closed forms
    "user_erasure_plan" ->
      """WITH ev AS (SELECT user_id, event_type, props, epoch_ms(ts) AS ts_ms
        |            FROM events WHERE user_id % 97 = 0),
        |base AS (SELECT count(DISTINCT user_id) AS cohort_users,
        |                count(*) AS event_rows,
        |                count(DISTINCT ts_ms // 86400000) AS event_days FROM ev),
        |inter AS (SELECT user_id, json_extract_string(props, '$.k')::BIGINT AS item_id
        |          FROM ev WHERE event_type IN ('view', 'click', 'purchase')
        |            AND json_extract_string(props, '$.k') IS NOT NULL),
        |pu AS (SELECT user_id, count(*) AS n, count(DISTINCT item_id) AS b
        |       FROM inter GROUP BY 1),
        |der AS (SELECT count(*) AS factor_users,
        |               CAST(coalesce(sum(CASE WHEN n BETWEEN 2 AND 200
        |                                      THEN n - 1 ELSE 0 END), 0) AS BIGINT) AS seq_windows,
        |               CAST(coalesce(sum(CASE WHEN b <= 500
        |                                      THEN b * (b - 1) ELSE 0 END), 0) AS BIGINT) AS cooc_contribs
        |        FROM pu),
        |pr AS (SELECT count(DISTINCT (user_id, item_id)) AS inter_pairs,
        |              count(DISTINCT item_id) AS touched_items FROM inter)
        |SELECT artifact, action, n FROM (
        |  SELECT 'cohort' AS artifact, 'request_queue' AS action, cohort_users AS n FROM base
        |  UNION ALL SELECT 'events.rows', 'delete_rows', event_rows FROM base
        |  UNION ALL SELECT 'events.day_partitions', 'rewrite_partition', event_days FROM base
        |  UNION ALL SELECT 'interactions.pairs', 'delete_rows', inter_pairs FROM pr
        |  UNION ALL SELECT 'interactions.touched_items', 'touched_keys', touched_items FROM pr
        |  UNION ALL SELECT 'als.user_factors', 'delete_rows', factor_users FROM der
        |  UNION ALL SELECT 'seq_prep.windows', 'rebuild_artifact', seq_windows FROM der
        |  UNION ALL SELECT 'cooc.pair_contributions', 'rebuild_artifact', cooc_contribs FROM der)
        |ORDER BY artifact""".stripMargin,
    "assoc_rules" ->
      """WITH ui AS (SELECT DISTINCT user_id,
        |                   json_extract_string(props, '$.k')::BIGINT AS item_id
        |            FROM events
        |            WHERE event_type IN ('view', 'click', 'purchase')
        |              AND json_extract_string(props, '$.k') IS NOT NULL),
        |deg AS (SELECT user_id, count(*) AS basket FROM ui GROUP BY 1),
        |capped AS (SELECT ui.user_id, ui.item_id FROM ui
        |           JOIN deg USING (user_id) WHERE deg.basket <= 500),
        |tot AS (SELECT count(DISTINCT user_id) AS n_baskets FROM capped),
        |supp AS (SELECT item_id, count(*) AS supp FROM capped GROUP BY 1),
        |ps AS (SELECT a.item_id AS antecedent, b.item_id AS consequent, count(*) AS supp_ab
        |       FROM capped a JOIN capped b USING (user_id)
        |       WHERE a.item_id <> b.item_id GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT antecedent, consequent, supp_ab,
        |       round(supp_ab / sa.supp, 5) AS confidence,
        |       round(supp_ab * tot.n_baskets / (sa.supp * sb.supp), 5) AS lift
        |FROM ps JOIN supp sa ON sa.item_id = antecedent
        |JOIN supp sb ON sb.item_id = consequent, tot
        |ORDER BY lift DESC, antecedent, consequent LIMIT 25""".stripMargin,
    // quartile cutoffs via quantile_cont ≡ Spark percentile, rounded
    // to 5 on both engines before the bucket comparison
    "user_rfm" ->
      """WITH per AS (SELECT user_id, max(epoch_ms(ts)) AS last_ms, count(*) AS frequency,
        |                    round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2) AS monetary
        |             FROM events GROUP BY 1),
        |cuts AS (SELECT max(last_ms) AS corpus_max,
        |                quantile_cont(frequency, [0.25, 0.5, 0.75]) AS fq,
        |                quantile_cont(monetary, [0.25, 0.5, 0.75]) AS mq
        |         FROM per),
        |wr AS (SELECT per.*, cuts.fq, cuts.mq,
        |              (cuts.corpus_max - per.last_ms) // 3600000 AS recency_hours
        |       FROM per, cuts),
        |rc AS (SELECT quantile_cont(recency_hours, [0.25, 0.5, 0.75]) AS rq FROM wr),
        |sc AS (SELECT wr.*,
        |              5 - (1 + CASE WHEN recency_hours > round(rq[1], 5) THEN 1 ELSE 0 END
        |                     + CASE WHEN recency_hours > round(rq[2], 5) THEN 1 ELSE 0 END
        |                     + CASE WHEN recency_hours > round(rq[3], 5) THEN 1 ELSE 0 END) AS r_score,
        |              1 + CASE WHEN frequency > round(fq[1], 5) THEN 1 ELSE 0 END
        |                + CASE WHEN frequency > round(fq[2], 5) THEN 1 ELSE 0 END
        |                + CASE WHEN frequency > round(fq[3], 5) THEN 1 ELSE 0 END AS f_score,
        |              1 + CASE WHEN monetary > round(mq[1], 5) THEN 1 ELSE 0 END
        |                + CASE WHEN monetary > round(mq[2], 5) THEN 1 ELSE 0 END
        |                + CASE WHEN monetary > round(mq[3], 5) THEN 1 ELSE 0 END AS m_score
        |       FROM wr, rc)
        |SELECT user_id, recency_hours, frequency, monetary, r_score, f_score, m_score,
        |       r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR AS segment
        |FROM sc ORDER BY user_id""".stripMargin,
    // consecutive event-type trigrams per user timeline, exact counts
    "events_paths" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type FROM events),
        |t AS (SELECT event_type,
        |             lead(event_type, 1) OVER w AS t1,
        |             lead(event_type, 2) OVER w AS t2
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id))
        |SELECT event_type || '>' || t1 || '>' || t2 AS path, count(*) AS n_occurrences
        |FROM t WHERE t1 IS NOT NULL AND t2 IS NOT NULL
        |GROUP BY 1 ORDER BY n_occurrences DESC, path LIMIT 20""".stripMargin,
    // strict ordered funnel: conditional first-occurrence mins, exact
    // integer counts, one exact division
    "funnel_ordered" ->
      """WITH firsts AS (SELECT user_id,
        |                       min(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END) AS v_ms,
        |                       min(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END) AS c_ms,
        |                       min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS p_ms
        |                FROM events GROUP BY 1),
        |c AS (SELECT count(*) FILTER (WHERE v_ms IS NOT NULL) AS n1,
        |             count(*) FILTER (WHERE v_ms IS NOT NULL AND c_ms > v_ms) AS n2,
        |             count(*) FILTER (WHERE v_ms IS NOT NULL AND c_ms > v_ms AND p_ms > c_ms) AS n3
        |      FROM firsts)
        |SELECT step, stage, n_users, round(n_users / n1::DOUBLE, 5) AS conversion
        |FROM (SELECT 1::BIGINT AS step, 'view' AS stage, n1 AS n_users, n1 FROM c
        |      UNION ALL SELECT 2::BIGINT, 'view>click', n2, n1 FROM c
        |      UNION ALL SELECT 3::BIGINT, 'view>click>purchase', n3, n1 FROM c)
        |ORDER BY step""".stripMargin,
    // mean/std from EXACT integer window sums (Σx, Σx²) — identical
    // expression dag both engines, no float accumulation crosses the
    // boundary (the SQ8 precedent)
    "events_anomaly" ->
      """WITH h AS (SELECT event_type, epoch_ms(ts) // 3600000 AS hour,
        |                  count(*) AS n_events
        |           FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, hour, n_events,
        |             count(*) OVER wp AS n_prev,
        |             sum(n_events) OVER wp AS sum_prev,
        |             sum(n_events * n_events) OVER wp AS sumsq_prev
        |      FROM h WINDOW wp AS (PARTITION BY event_type ORDER BY hour
        |                           ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |x AS (SELECT event_type, hour * 3600000 AS hour_ms, n_events,
        |             sum_prev / 24.0 AS mean,
        |             (sumsq_prev - sum_prev * sum_prev / 24.0) / 23.0 AS varp
        |      FROM s WHERE n_prev = 24)
        |SELECT event_type, hour_ms, n_events, round(mean, 5) AS mean_prev,
        |       round((n_events - mean) / sqrt(varp), 5) + 0.0 AS z
        |FROM x WHERE varp > 0
        |ORDER BY abs(round((n_events - mean) / sqrt(varp), 5)) DESC, event_type, hour_ms
        |LIMIT 10""".stripMargin,
    "dedup_exact" ->
      """SELECT doc_id, md5(text) AS hash,
        |       row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1 AS is_dup
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the ngram-jaccard pair frame scored once with NO threshold
    // filter, then a 5-row conditional aggregate over the grid;
    // flagged docs are the pairs' larger ids (keep-smaller-id)
    "dedup_threshold_sweep" ->
      s"""WITH $cappedShingleCtes,
         |sz AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY 1),
         |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |          FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pr AS MATERIALIZED (SELECT b_id,
         |        round(inter / (sa.sz + sb.sz - inter), 5) AS j
         |      FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id),
         |ph AS (SELECT j, count(*) AS np FROM pr GROUP BY 1),
         |bh AS (SELECT mj, count(*) AS nb FROM (
         |         SELECT b_id, max(j) AS mj FROM pr GROUP BY 1) GROUP BY 1),
         |th AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold),
         |nd AS (SELECT count(*) AS n FROM documents),
         |npx AS (SELECT th.threshold,
         |          coalesce(sum(CASE WHEN ph.j >= th.threshold THEN ph.np END), 0)::BIGINT AS n_pairs
         |        FROM ph CROSS JOIN th GROUP BY 1),
         |nbx AS (SELECT th.threshold,
         |          coalesce(sum(CASE WHEN bh.mj >= th.threshold THEN bh.nb END), 0)::BIGINT AS n_docs_flagged
         |        FROM bh CROSS JOIN th GROUP BY 1)
         |SELECT npx.threshold, npx.n_pairs, nbx.n_docs_flagged,
         |       round(nbx.n_docs_flagged / nd.n, 5) AS pct_corpus_flagged
         |FROM npx JOIN nbx USING (threshold), nd
         |ORDER BY npx.threshold""".stripMargin,
    // existence joins from the distinct behavioral item frame; the
    // event-weighted leg reuses the same per-item event counts
    "item_coverage_audit" ->
      """WITH refs AS (SELECT json_extract_string(props, '$.k')::BIGINT AS item_id,
        |                     count(*) AS n_events
        |              FROM events
        |              WHERE event_type IN ('view', 'click', 'purchase')
        |                AND json_extract_string(props, '$.k') IS NOT NULL
        |              GROUP BY 1),
        |f AS (SELECT refs.item_id, refs.n_events,
        |             CASE WHEN e.vec_id IS NOT NULL THEN 1 END AS has_emb,
        |             CASE WHEN d.doc_id IS NOT NULL THEN 1 END AS has_doc
        |      FROM refs
        |      LEFT JOIN embeddings e ON e.vec_id = refs.item_id
        |      LEFT JOIN documents d ON d.doc_id = refs.item_id)
        |SELECT count(*) AS n_items,
        |       count(has_emb) AS n_with_embedding,
        |       count(has_doc) AS n_with_doc,
        |       round(count(has_emb) / count(*), 5) AS item_coverage,
        |       sum(n_events)::BIGINT AS n_item_events,
        |       coalesce(sum(CASE WHEN has_emb IS NOT NULL THEN n_events END), 0)::BIGINT
        |         AS n_events_covered,
        |       round(coalesce(sum(CASE WHEN has_emb IS NOT NULL THEN n_events END), 0)
        |             / sum(n_events), 5) AS event_coverage
        |FROM f""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $cappedShingleCtes,
         |sz AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY 1),
         |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |          FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT a_id, b_id, round(inter / (sa.sz + sb.sz - inter), 5) AS jaccard
         |FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
         |WHERE round(inter / (sa.sz + sb.sz - inter), 5) >= 0.8
         |ORDER BY a_id, b_id""".stripMargin,
    "boilerplate_ngrams" ->
      s"""WITH $trigramCtes
         |SELECT shingle, df FROM dfv WHERE df >= 5
         |ORDER BY df DESC, shingle LIMIT 20""".stripMargin,
    "boilerplate_ratio" ->
      s"""WITH $trigramCtes
         |SELECT s.doc_id, count(*) AS n_shingles,
        |       count(*) FILTER (WHERE d.df >= 5) AS n_boiler,
        |       round(count(*) FILTER (WHERE d.df >= 5) / count(*), 5) AS boiler_ratio
        |FROM sh3 s JOIN dfv d USING (shingle)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "source_overlap" ->
      """WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
        |shs AS (SELECT DISTINCT source, shingle FROM
        |  (SELECT source, unnest([array_to_string(toks[i+1:i+5], ' ') for i in range(len(toks) - 4)]) AS shingle FROM t)),
        |hot AS (SELECT shingle FROM shs GROUP BY 1 HAVING count(*) > 1000),
        |shc AS (SELECT source, shingle FROM shs ANTI JOIN hot USING (shingle)),
        |sz AS (SELECT source, count(*) AS sz FROM shc GROUP BY 1),
        |inter AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
        |          FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.source < b.source
        |          GROUP BY 1, 2)
        |SELECT src_a, src_b, n_shared,
        |       round(n_shared / (sa.sz + sb.sz - n_shared), 5) AS jaccard
        |FROM inter JOIN sz sa ON sa.source = src_a JOIN sz sb ON sb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin,
    "dedup_minhash" ->
      s"""WITH $shingleCtes,
         |hs AS (SELECT doc_id, i,
         |              min(substr(md5((i // 4)::VARCHAR || '|' || shingle), (i % 4) * 8 + 1, 8)) AS mh
         |       FROM shd CROSS JOIN range(16) r(i) GROUP BY 1, 2),
         |bands0 AS (SELECT doc_id, i // 2 AS band, string_agg(mh, '' ORDER BY i) AS bv
         |           FROM hs GROUP BY 1, 2),
         |bhot AS (SELECT band, bv FROM bands0 GROUP BY 1, 2 HAVING count(*) > 1000),
         |bands AS (SELECT * FROM bands0 ANTI JOIN bhot USING (band, bv)),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |         FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |est AS (SELECT c.a_id, c.b_id,
         |               round(avg(CASE WHEN x.mh = y.mh THEN 1.0 ELSE 0.0 END), 5) AS est_jaccard
         |        FROM cand c JOIN hs x ON x.doc_id = c.a_id
         |        JOIN hs y ON y.doc_id = c.b_id AND y.i = x.i GROUP BY 1, 2),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shd GROUP BY 1),
         |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |          FROM shd a JOIN shd b ON a.shingle = b.shingle
         |          JOIN cand c ON c.a_id = a.doc_id AND c.b_id = b.doc_id
         |          GROUP BY 1, 2)
         |SELECT e.a_id, e.b_id, e.est_jaccard,
         |       round(coalesce(i.inter, 0) / (sa.sz + sb.sz - coalesce(i.inter, 0)), 5) AS jaccard
         |FROM est e LEFT JOIN inter i ON i.a_id = e.a_id AND i.b_id = e.b_id
         |JOIN sz sa ON sa.doc_id = e.a_id JOIN sz sb ON sb.doc_id = e.b_id
         |WHERE round(coalesce(i.inter, 0) / (sa.sz + sb.sz - coalesce(i.inter, 0)), 5) >= 0.8
         |ORDER BY e.a_id, e.b_id""".stripMargin,
    "dedup_cc" ->
      s"""WITH RECURSIVE $cappedShingleCtes,
         |sz AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY 1),
         |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |          FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (SELECT a_id, b_id
         |          FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
         |          WHERE round(inter / (sa.sz + sb.sz - inter), 5) >= 0.8),
         |edges AS (SELECT a_id AS a, b_id AS b FROM pairs
         |          UNION ALL SELECT b_id, a_id FROM pairs),
         |nodes AS (SELECT DISTINCT a AS node FROM edges),
         |reach AS (SELECT node AS src, node AS dst FROM nodes
         |          UNION
         |          SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst)
         |SELECT src AS doc_id, min(dst) AS cluster_id, src = min(dst) AS is_kept
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
    // banded-LSH blocking replayed exactly: hash-derived ±1 planes
    // (Dedup.rademacherPlane == the md5_number_upper low bit), sign
    // buckets, occupancy cap, any-band collision, exact-cosine verify,
    // label filter POST-block — deterministic, so misses reproduce too
    "dedup_embedding" ->
      s"""WITH $lshBlockCtes
         |SELECT c.a_id, c.b_id, a.label::BIGINT AS label,
         |       ${cos5("a.embedding", "b.embedding")} AS score
         |FROM cand c JOIN embeddings a ON a.vec_id = c.a_id
         |            JOIN embeddings b ON b.vec_id = c.b_id
         |WHERE a.label = b.label AND ${cos5("a.embedding", "b.embedding")} >= 0.3
         |ORDER BY a_id, b_id""".stripMargin,
    "dedup_embedding_lsh" ->
      s"""WITH $lshBlockCtes
         |SELECT c.a_id, c.b_id, ${cos5("a.embedding", "b.embedding")} AS score
         |FROM cand c JOIN embeddings a ON a.vec_id = c.a_id
         |            JOIN embeddings b ON b.vec_id = c.b_id
         |WHERE ${cos5("a.embedding", "b.embedding")} >= 0.4
         |ORDER BY a_id, b_id""".stripMargin,
    // the same verified pairs at the same threshold, endpoints mapped
    // to document sources, folded to the unordered affinity matrix
    "dedup_source_matrix" ->
      s"""WITH $lshBlockCtes,
         |vp AS (SELECT c.a_id, c.b_id, ${cos5("a.embedding", "b.embedding")} AS score
         |       FROM cand c JOIN embeddings a ON a.vec_id = c.a_id
         |                   JOIN embeddings b ON b.vec_id = c.b_id
         |       WHERE ${cos5("a.embedding", "b.embedding")} >= 0.4),
         |sp AS (SELECT least(da.source, db.source) AS source_a,
         |              greatest(da.source, db.source) AS source_b, vp.score
         |       FROM vp JOIN documents da ON da.doc_id = vp.a_id
         |               JOIN documents db ON db.doc_id = vp.b_id)
         |SELECT source_a, source_b, count(*) AS n_pairs,
         |       round(avg(score), 5) AS avg_score
         |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the replayed fit's occupancies give the worst-case probe
    // volume; the decision comparisons are pure integers
    "ann_filter_planner" ->
      s"""WITH RECURSIVE
         |$ivfFitCtes,
         |occ AS (SELECT cell, count(*) AS c FROM asg GROUP BY 1),
         |wrst AS (SELECT sum(c)::BIGINT AS worst FROM
         |           (SELECT c FROM occ ORDER BY c DESC, cell LIMIT 4)),
         |lab AS (SELECT label, count(*) AS n_label FROM embeddings GROUP BY 1),
         |tot AS (SELECT sum(n_label)::BIGINT AS n FROM lab)
         |SELECT lab.label::BIGINT AS label, lab.n_label,
         |       round(lab.n_label / tot.n, 5) AS selectivity,
         |       lab.n_label AS scan_prefilter,
         |       (tot.n * 4) // 16 AS scan_postfilter_uniform,
         |       wrst.worst AS scan_postfilter_worst,
         |       round(lab.n_label * 4 / 16.0, 5) AS exp_probe_matches,
         |       CASE WHEN lab.n_label * 4 < 10 * 16 THEN 'prefilter'
         |            WHEN lab.n_label <= (tot.n * 4) // 16 THEN 'prefilter'
         |            ELSE 'postfilter' END AS strategy
         |FROM lab, tot, wrst ORDER BY label""".stripMargin,
    // types = triple rows per doc, tokens = sum(tf), hapax = tf=1 rows
    "doc_lexdiv" ->
      s"""WITH $tfidfCtes
         |SELECT doc_id, count(*) AS n_types, sum(tf)::BIGINT AS n_tokens,
         |       count(CASE WHEN tf = 1 THEN 1 END) AS n_hapax,
         |       round(count(*) / sum(tf), 5) AS ttr,
         |       round(count(*) / sqrt(sum(tf)), 5) AS root_ttr,
         |       round(count(CASE WHEN tf = 1 THEN 1 END) / count(*), 5) AS hapax_ratio
         |FROM tf GROUP BY 1 ORDER BY 1""".stripMargin,
    "lang_id" -> {
      val scores = TextAnalysis.markers.map { case (l, ms) =>
        val lst = ms.map(m => s"'$m'").mkString(", ")
        s"len(list_filter(string_split(text, ' '), x -> list_contains([$lst], x))) AS s_$l"
      }.mkString(",\n       ")
      s"""WITH s AS (SELECT doc_id, lang,
         |       $scores
         |FROM documents),
         |p AS (SELECT doc_id, lang, ${langCase("")} AS pred_lang FROM s)
         |SELECT doc_id, pred_lang, lang, pred_lang = lang AS correct
         |FROM p ORDER BY doc_id""".stripMargin
    },
    "vocab_zipf" ->
      """WITH terms AS (SELECT unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'), t -> length(t) >= 2)) AS term FROM documents),
        |tf AS (SELECT term, count(*) AS tf FROM terms GROUP BY 1),
        |top AS (SELECT term, tf FROM tf ORDER BY tf DESC, term LIMIT 100),
        |r AS (SELECT ln(row_number() OVER (ORDER BY tf DESC, term)) AS x, ln(tf) AS y FROM top),
        |m AS (SELECT avg(x) AS xb, avg(y) AS yb FROM r),
        |s AS (SELECT count(*) AS n, max(xb) AS xb, max(yb) AS yb,
        |             sum((x - xb) * (y - yb)) AS sxy_c,
        |             sum((x - xb) * (x - xb)) AS sxx_c FROM r, m)
        |SELECT n AS n_terms,
        |       CASE WHEN sxx_c = 0 THEN NULL
        |            ELSE round(sxy_c / sxx_c, 4) + 0.0 END AS slope,
        |       CASE WHEN sxx_c = 0 THEN NULL
        |            ELSE round(yb - sxy_c / sxx_c * xb, 4) + 0.0 END AS intercept
        |FROM s""".stripMargin,
    "source_kl" ->
      """WITH terms AS (SELECT source, unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'), t -> length(t) >= 2)) AS term FROM documents),
        |stf AS (SELECT source, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |stot AS (SELECT source, sum(tf)::BIGINT AS t_src, count(*) AS n_terms FROM stf GROUP BY 1),
        |ctf AS (SELECT term, sum(tf)::BIGINT AS ctf FROM stf GROUP BY 1),
        |ctot AS (SELECT sum(ctf)::BIGINT AS t_corp FROM ctf)
        |SELECT s.source, st.t_src AS n_tokens, st.n_terms,
        |       round(sum((s.tf / st.t_src) * ln((s.tf / st.t_src) / (c.ctf / ct.t_corp))), 4) + 0.0 AS kl
        |FROM stf s JOIN ctf c USING (term) JOIN stot st USING (source), ctot ct
        |GROUP BY 1, 2, 3 ORDER BY source""".stripMargin,
    "lang_mismatch" -> {
      val scores = TextAnalysis.markers.map { case (l, ms) =>
        val lst = ms.map(m => s"'$m'").mkString(", ")
        s"len(list_filter(string_split(text, ' '), x -> list_contains([$lst], x))) AS s_$l"
      }.mkString(",\n       ")
      s"""WITH s AS (SELECT doc_id, lang,
         |       $scores
         |FROM documents),
         |p AS (SELECT doc_id, lang, ${langCase("")} AS pred_lang FROM s)
         |SELECT lang, pred_lang, count(*) AS n_docs, min(doc_id) AS first_doc
         |FROM p WHERE pred_lang <> lang
         |GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin
    },
    "text_quality" ->
      """SELECT doc_id, length(text) AS len_chars,
        |       len(string_split(text, ' '))::BIGINT AS n_tokens,
        |       len(list_distinct(string_split(text, ' ')))::BIGINT AS n_types,
        |       len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')) AS ttr,
        |       len(list_filter(string_split(text, ' '), x -> list_contains(['the', 'a'], x)))
        |             / len(string_split(text, ' ')) AS stop_ratio,
        |       (2 * least(len(string_split(text, ' ')), 100) * len(string_split(text, ' '))
        |        + 150 * len(list_distinct(string_split(text, ' ')))
        |        + 150 * (len(string_split(text, ' '))
        |                 - len(list_filter(string_split(text, ' '), x -> list_contains(['the', 'a'], x)))))
        |       / (500 * len(string_split(text, ' '))) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    "token_count" ->
      """SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens,
        |       (len(string_split(text, ' ')) - 1)::BIGINT AS n_bigrams,
        |       length(text) AS n_chars,
        |       ceil(length(text) / 4.0)::BIGINT AS est_subtokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "skew_salted_join" ->
      """SELECT least(user_id, 20) AS bucket, 'seg_' || least(user_id, 20) AS segment,
        |       count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "quality_gate_pct" ->
      """WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
        |q AS (SELECT source,
        |             round((2 * least(len(toks), 100) * len(toks)
        |                    + 150 * len(list_distinct(toks))
        |                    + 150 * (len(toks) - len(list_filter(toks, x -> list_contains(['the', 'a'], x)))))
        |                   / (500 * len(toks)), 5) AS q
        |      FROM t),
        |c AS (SELECT round(quantile_cont(q, 0.25), 5) AS cutoff FROM q)
        |SELECT source, c.cutoff, count(*) AS n_docs,
        |       count(*) FILTER (WHERE q >= c.cutoff) AS n_kept,
        |       round(count(*) FILTER (WHERE q >= c.cutoff) / count(*), 5) AS keep_ratio
        |FROM q, c GROUP BY 1, 2 ORDER BY source""".stripMargin,
    "events_dwell" ->
      """WITH g AS (SELECT event_type, epoch_ms(ts) AS ts_ms,
        |                  lead(epoch_ms(ts)) OVER (PARTITION BY user_id
        |                                           ORDER BY epoch_ms(ts), event_id) AS next_ms
        |           FROM events)
        |SELECT event_type, count(*) AS n_gaps,
        |       round(sum(next_ms - ts_ms)::BIGINT / count(*) / 1000.0, 3) AS avg_gap_s,
        |       round(quantile_cont(next_ms - ts_ms, 0.5) / 1000.0, 3) AS median_gap_s,
        |       min(next_ms - ts_ms) AS min_ms, max(next_ms - ts_ms) AS max_ms
        |FROM g WHERE next_ms IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "curate_pipeline" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks
        |           FROM documents WHERE lang = 'en'),
        |q AS (SELECT doc_id, text, len(toks)::BIGINT AS n_tokens,
        |             (2 * least(len(toks), 100) * len(toks)
        |              + 150 * len(list_distinct(toks))
        |              + 150 * (len(toks) - len(list_filter(toks, x -> list_contains(['the', 'a'], x)))))
        |             / (500 * len(toks)) AS quality
        |      FROM t),
        |f AS (SELECT * FROM q WHERE quality >= 0.6),
        |d AS (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM f)
        |SELECT doc_id, n_tokens, quality,
        |       CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) < 'd' THEN 'train' ELSE 'eval' END AS split
        |FROM d WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "doc_winnow" ->
      """WITH kg AS (SELECT doc_id, unnest([{'pos': i, 'g': substr(text, i+1, 8)}
        |                                   for i in range(length(text) - 7)],
        |                                  recursive := true) FROM documents),
        |h AS (SELECT doc_id, pos, substr(md5(g), 1, 8) AS hh FROM kg),
        |w AS (SELECT doc_id, pos, min(hh) OVER (PARTITION BY doc_id ORDER BY pos
        |                                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
        |      FROM h)
        |SELECT doc_id, count(*) AS n_kgrams, count(DISTINCT sel) AS n_fps, min(sel) AS min_fp
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    // winnow-overlap substring dedup: same winnowing CTE at the
    // operator's k = 16 (doc_winnow keeps its own k = 8), pairs block
    // on shared selected fingerprints with the df cap, overlap =
    // containment vs the smaller fingerprint set (exact int/int double)
    "dedup_substring" ->
      """WITH kg AS (SELECT doc_id, unnest([{'pos': i, 'g': substr(text, i+1, 16)}
        |                                   for i in range(length(text) - 15)],
        |                                  recursive := true) FROM documents),
        |h AS (SELECT doc_id, pos, substr(md5(g), 1, 8) AS hh FROM kg),
        |w AS (SELECT doc_id, pos, min(hh) OVER (PARTITION BY doc_id ORDER BY pos
        |                                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
        |      FROM h),
        |fp AS (SELECT DISTINCT doc_id, sel FROM w),
        |hot AS (SELECT sel FROM fp GROUP BY 1 HAVING count(*) > 64),
        |fpc AS (SELECT doc_id, sel FROM fp ANTI JOIN hot USING (sel)),
        |sz AS (SELECT doc_id, count(*) AS n FROM fpc GROUP BY 1),
        |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
        |          FROM fpc a JOIN fpc b ON a.sel = b.sel AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT a_id, b_id, shared, shared / least(sa.n, sb.n) AS overlap
        |FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
        |WHERE shared / least(sa.n, sb.n) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,
    "doc_fingerprint" ->
      s"""WITH $shingleCtes,
         |c AS (SELECT doc_id, count(*) AS n_shingles FROM shd GROUP BY 1)
         |SELECT d.doc_id, md5(d.text) AS fp, substr(md5(d.text), 1, 16) AS fp64,
         |       coalesce(c.n_shingles, 0) AS n_shingles
         |FROM documents d LEFT JOIN c ON c.doc_id = d.doc_id ORDER BY d.doc_id""".stripMargin,
    // Okapi BM25 (k1=1.2, b=0.75): idf = ln((N-df+0.5)/(df+0.5)+1),
    // tf saturation + dl/avgdl length norm — association order mirrors
    // the Scala expression exactly so both engines round the same
    // doubles (SURVEY §4)
    "bm25_topk" -> bm25Oracle("SELECT unnest(['spark', 'join', 'vector']) AS term"),
    // both rankers' rounded cuts + the unrolled draft, literal coins
    "interleave_teamdraft" -> teamDraftSql(10),
    // host-crowding: per-source rank cap then the global rounded cut
    "serp_diversified" ->
      """WITH terms AS (SELECT doc_id, unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'), t -> length(t) >= 2)) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dfv AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM documents),
        |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
        |ad AS (SELECT avg(dl) AS avgdl FROM dl),
        |q AS (SELECT unnest(['spark', 'join', 'vector']) AS term),
        |qi AS (SELECT term, ln((nn.n - dfv.df + 0.5) / (dfv.df + 0.5) + 1) AS qidf
        |       FROM q JOIN dfv USING (term), nn),
        |sc AS (SELECT tf.doc_id, d.source,
        |              round(sum(qi.qidf * tf.tf * (1.2 + 1.0) /
        |                        (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / ad.avgdl))), 5) AS score
        |       FROM tf JOIN qi USING (term) JOIN dl USING (doc_id)
        |            JOIN documents d USING (doc_id), ad
        |       GROUP BY tf.doc_id, d.source),
        |capped AS (SELECT *, row_number() OVER (PARTITION BY source
        |                      ORDER BY score DESC, doc_id)::BIGINT AS src_rank
        |           FROM sc QUALIFY src_rank <= 2)
        |SELECT doc_id, source, score, src_rank FROM capped
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // typeahead: prefix-pruned postings, exact tf/df, TakeOrdered cut
    "autocomplete_prefix" ->
      """WITH terms AS (SELECT doc_id, unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'), t -> length(t) >= 2)) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2)
        |SELECT term, CAST(sum(tf) AS BIGINT) AS total_tf, count(*) AS df
        |FROM tf WHERE term LIKE 's%'
        |GROUP BY 1 ORDER BY total_tf DESC, term LIMIT 10""".stripMargin,
    // percolation: log-odds subscriptions fit on the md5-split
    // training 80% (the holdout really is unseen), held-out incoming
    // batch, >= 2-term firing rule, per-subscription rollup
    "percolate_alerts" ->
      s"""WITH $tfidfCtes,
         |st AS (SELECT d.source, tf.term, sum(tf.tf) AS y
         |       FROM tf JOIN documents d USING (doc_id)
         |       WHERE substr(md5(d.doc_id::VARCHAR), 1, 4) < 'cccc'
         |       GROUP BY 1, 2),
         |srct AS (SELECT source, sum(y) AS ns FROM st GROUP BY 1),
         |termt AS (SELECT term, sum(y) AS yw FROM st GROUP BY 1),
         |tot AS (SELECT sum(y) AS nn FROM st),
         |scored AS (SELECT st.source, st.term,
         |                  round(ln((st.y + 0.5) / (srct.ns - st.y + 0.5))
         |                        - ln((termt.yw - st.y + 0.5)
         |                             / (tot.nn - srct.ns - (termt.yw - st.y) + 0.5)), 5) + 0.0
         |                    AS log_odds
         |           FROM st JOIN srct USING (source) JOIN termt USING (term), tot),
         |subs AS (SELECT source AS sub_source, term FROM (
         |           SELECT *, row_number() OVER (PARTITION BY source
         |                       ORDER BY log_odds DESC, term) AS rk FROM scored)
         |         WHERE rk <= 3),
         |incoming AS (SELECT doc_id, source FROM documents
         |             WHERE substr(md5(doc_id::VARCHAR), 1, 4) >= 'cccc'),
         |nin AS (SELECT count(*) AS n_incoming FROM incoming),
         |fired AS (SELECT tf.doc_id, s.sub_source, count(*) AS hits
         |          FROM tf JOIN subs s USING (term)
         |          SEMI JOIN incoming i ON i.doc_id = tf.doc_id
         |          GROUP BY 1, 2 HAVING count(*) >= 2),
         |per AS (SELECT f.sub_source, count(*) AS n_matched,
         |               count(CASE WHEN i.source = f.sub_source THEN 1 END) AS n_own
         |        FROM fired f JOIN incoming i USING (doc_id) GROUP BY 1)
         |SELECT s.sub_source, nin.n_incoming,
         |       coalesce(per.n_matched, 0) AS n_matched,
         |       round(coalesce(per.n_matched, 0) / CAST(nin.n_incoming AS DOUBLE), 5)
         |         AS match_rate,
         |       CASE WHEN coalesce(per.n_matched, 0) = 0 THEN 0.0
         |            ELSE round(coalesce(per.n_own, 0)
         |                       / CAST(per.n_matched AS DOUBLE), 5) END AS own_share
         |FROM (SELECT DISTINCT sub_source FROM subs) s
         |LEFT JOIN per USING (sub_source), nin
         |ORDER BY sub_source""".stripMargin,
    // conjunctive containment (distinct-count equality over the must
    // postings) + mustNot anti-join, then the standard BM25 ranking
    "bool_search" ->
      """WITH terms AS (SELECT doc_id, unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'), t -> length(t) >= 2)) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dfv AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM documents),
        |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
        |ad AS (SELECT avg(dl) AS avgdl FROM dl),
        |cand AS (SELECT doc_id FROM tf WHERE term IN ('spark', 'vector')
        |         GROUP BY 1 HAVING count(*) = 2),
        |blocked AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'stream'),
        |elig AS (SELECT doc_id FROM cand ANTI JOIN blocked USING (doc_id)),
        |q AS (SELECT unnest(['spark', 'vector']) AS term),
        |qi AS (SELECT term, ln((nn.n - dfv.df + 0.5) / (dfv.df + 0.5) + 1) AS qidf
        |       FROM q JOIN dfv USING (term), nn)
        |SELECT tf.doc_id,
        |       round(sum(qi.qidf * tf.tf * (1.2 + 1.0) /
        |                 (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / ad.avgdl))), 5) AS score
        |FROM tf JOIN qi USING (term) JOIN dl USING (doc_id) JOIN elig USING (doc_id), ad
        |GROUP BY tf.doc_id ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // facet counts over the rounded, id-tie-broken top-100 result cut
    "search_facets" ->
      """WITH terms AS (SELECT doc_id, unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'), t -> length(t) >= 2)) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dfv AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM documents),
        |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
        |ad AS (SELECT avg(dl) AS avgdl FROM dl),
        |q AS (SELECT unnest(['spark', 'join', 'vector']) AS term),
        |qi AS (SELECT term, ln((nn.n - dfv.df + 0.5) / (dfv.df + 0.5) + 1) AS qidf
        |       FROM q JOIN dfv USING (term), nn),
        |top AS (SELECT tf.doc_id,
        |               round(sum(qi.qidf * tf.tf * (1.2 + 1.0) /
        |                         (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / ad.avgdl))), 5) AS score
        |        FROM tf JOIN qi USING (term) JOIN dl USING (doc_id), ad
        |        GROUP BY tf.doc_id ORDER BY score DESC, doc_id LIMIT 100)
        |SELECT facet, value, count(*) AS n_docs FROM (
        |  SELECT 'lang' AS facet, d.lang AS value
        |  FROM documents d JOIN top USING (doc_id)
        |  UNION ALL
        |  SELECT 'source', d.source FROM documents d JOIN top USING (doc_id))
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "bm25_topk_text" -> bm25Oracle(
      "SELECT DISTINCT unnest(list_filter(regexp_extract_all(lower('Spark JOIN, vector-search! spark'), '[a-z0-9_]+'), t -> length(t) >= 2)) AS term"),
    "bm25_hybrid_topk" -> bm25HybridOracle(""),
    "bm25_hybrid_filtered" -> bm25HybridOracle(
      "JOIN documents d ON d.doc_id = e.vec_id AND d.lang = 'en' AND d.n_chars >= 200"),
    "bm25_hybrid_text" -> bm25HybridOracle("",
      "SELECT DISTINCT unnest(list_filter(regexp_extract_all(lower('Spark JOIN, vector-search! spark'), '[a-z0-9_]+'), t -> length(t) >= 2)) AS term"),
    // top-N tfidf terms per doc: weight = tf·idf is the same exact
    // expression on both engines (no summation → no drift); term
    // tie-break
    "doc_keywords" ->
      s"""WITH $tfidfCtes
         |SELECT doc_id, term, round(w, 5) AS weight,
         |       row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, term) AS rk
         |FROM w QUALIFY rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    // per-label dimension means (class prototypes); engine pos is
    // 0-based posexplode, oracle generate_subscripts is 1-based
    "label_centroids" ->
      """WITH pe AS (SELECT label::BIGINT AS label, unnest(embedding::DOUBLE[]) AS v,
        |                   generate_subscripts(embedding, 1) - 1 AS pos
        |            FROM embeddings)
        |SELECT label, pos, round(avg(v), 5) AS m, count(*) AS n_vecs
        |FROM pe GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // squared-L2 to the label centroid via the dot identity
    // ‖v−c‖² = v·v − 2 v·c + c·c — every summation a deterministic
    // list_dot_product fold, centroid components pre-rounded to 5
    // exactly like label_centroids
    "embed_outliers" ->
      """WITH pe AS (SELECT label::BIGINT AS label, unnest(embedding::DOUBLE[]) AS v,
        |                   generate_subscripts(embedding, 1) AS pos
        |            FROM embeddings),
        |cm AS (SELECT label, pos, round(avg(v), 5) AS m FROM pe GROUP BY 1, 2),
        |cent AS (SELECT label, list(m ORDER BY pos) AS c FROM cm GROUP BY 1),
        |d AS (SELECT e.vec_id, cent.label,
        |             round(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
        |                   - 2.0 * list_dot_product(e.embedding::DOUBLE[], cent.c)
        |                   + list_dot_product(cent.c, cent.c), 5) AS dist_sq
        |      FROM embeddings e JOIN cent ON cent.label = e.label::BIGINT)
        |SELECT label, vec_id, dist_sq,
        |       row_number() OVER (PARTITION BY label ORDER BY dist_sq DESC, vec_id) AS rk
        |FROM d QUALIFY rk <= 5 ORDER BY label, rk""".stripMargin,
    // RRF: ranks are deterministic ((score DESC, doc_id) over
    // bit-identical scores, SURVEY §4), so the fused score is exact
    // integer arithmetic in double — no normalization anywhere
    // each grid leg scores the shared (tf, qidf, dl) frame with its
    // own literal (k1, b), ranks the rounded sums, and the metrics
    // are exact set ops against the default leg
    "bm25_param_sweep" -> {
      val grid = Seq((0.9, 0.4), (1.2, 0.0), (1.2, 0.75), (1.5, 0.75), (2.0, 1.0))
      val legs = grid.zipWithIndex.map { case ((k1, b), i) =>
        s"""t$i AS MATERIALIZED (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rk FROM (
           |  SELECT doc_id, round(sum(qidf * tf * ($k1 + 1.0) /
           |    (tf + $k1 * (1.0 - $b + $b * dl / avgdl))), 5) AS s
           |  FROM sc GROUP BY 1) QUALIFY rk <= 10)""".stripMargin
      }.mkString(",\n")
      val di = grid.indexOf((1.2, 0.75))
      val rows = grid.zipWithIndex.map { case ((k1, b), i) =>
        s"""SELECT $k1 AS k1, $b AS b,
           |  (SELECT doc_id FROM t$i WHERE rk = 1) AS top1_doc,
           |  (SELECT count(*) FROM t$i x JOIN t$di y ON x.doc_id = y.doc_id)::BIGINT AS overlap_vs_default,
           |  round((SELECT count(*) FROM t$i x JOIN t$di y ON x.doc_id = y.doc_id)
           |    / (20.0 - (SELECT count(*) FROM t$i x JOIN t$di y ON x.doc_id = y.doc_id)), 5)
           |    AS jaccard_vs_default""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH terms AS (SELECT doc_id, unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'), t -> length(t) >= 2)) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
         |dfv AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM documents),
         |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
         |ad AS (SELECT avg(dl) AS avgdl FROM dl),
         |qy AS (SELECT term FROM (VALUES ('spark'), ('join'), ('vector')) t(term)),
         |qi AS (SELECT term, ln((nn.n - dfv.df + 0.5) / (dfv.df + 0.5) + 1) AS qidf
         |       FROM qy JOIN dfv USING (term), nn),
         |sc AS MATERIALIZED (SELECT tf.doc_id, tf.tf, qi.qidf, dl.dl, ad.avgdl
         |      FROM tf JOIN qi USING (term) JOIN dl USING (doc_id), ad),
         |$legs
         |SELECT * FROM ($rows) ORDER BY k1, b""".stripMargin
    },
    // the three ranked legs replayed exactly as their own oracles,
    // then integer set metrics over the full 3-pair grid (a pair with
    // no shared docs keeps its row, NULL mean shift)
    "ranker_agreement" ->
      s"""WITH $tfidfCtes,
         |qy AS (SELECT term FROM (VALUES ('spark'), ('join'), ('vector')) t(term)),
         |qw AS (SELECT qy.term, ln((nn.n + 1) / (dfv.df + 1)) + 1 AS qw FROM qy JOIN dfv USING (term), nn),
         |qn AS (SELECT sqrt(sum(qw * qw)) AS qn FROM qw),
         |tft AS (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rk FROM (
         |  SELECT w.doc_id, round(sum(w.w / nrm.nrm * qw.qw / qn.qn), 5) AS s
         |  FROM w JOIN qw USING (term) JOIN nrm USING (doc_id), qn GROUP BY 1)
         |  QUALIFY rk <= 10),
         |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
         |ad AS (SELECT avg(dl) AS avgdl FROM dl),
         |qi AS (SELECT term, ln((nn.n - dfv.df + 0.5) / (dfv.df + 0.5) + 1) AS qidf
         |       FROM qy JOIN dfv USING (term), nn),
         |bs AS (SELECT tf.doc_id, sum(qi.qidf * tf.tf * (1.2 + 1.0) /
         |              (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / ad.avgdl))) AS ts
         |       FROM tf JOIN qi USING (term) JOIN dl USING (doc_id), ad GROUP BY 1),
         |bmt AS (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rk FROM (
         |  SELECT doc_id, round(ts, 5) AS s FROM bs) QUALIFY rk <= 10),
         |qv AS (SELECT $qvSqlList::DOUBLE[] AS qv),
         |vsx AS (SELECT e.vec_id AS doc_id, ${cosRaw("e.embedding", "qv.qv")} AS vs
         |        FROM embeddings e, qv),
         |vr AS (SELECT doc_id, row_number() OVER (ORDER BY vs DESC, doc_id) AS rv
         |       FROM vsx QUALIFY rv <= 100),
         |br AS (SELECT doc_id, row_number() OVER (ORDER BY ts DESC, doc_id) AS rb
         |       FROM bs QUALIFY rb <= 100),
         |rrft AS (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rk FROM (
         |  SELECT coalesce(vr.doc_id, br.doc_id) AS doc_id,
         |         round(coalesce(1.0 / (60 + rv), 0) + coalesce(1.0 / (60 + rb), 0), 6) AS s
         |  FROM vr FULL JOIN br ON vr.doc_id = br.doc_id)
         |  QUALIFY rk <= 10),
         |allr AS (SELECT 'bm25' AS rnk, doc_id, rk FROM bmt
         |         UNION ALL SELECT 'rrf', doc_id, rk FROM rrft
         |         UNION ALL SELECT 'tfidf', doc_id, rk FROM tft),
         |pg AS (SELECT * FROM (VALUES ('bm25', 'rrf'), ('bm25', 'tfidf'), ('rrf', 'tfidf')) t(ra, rb)),
         |ov AS (SELECT a.rnk AS ra, b.rnk AS rb,
         |              count(CASE WHEN a.rk <= 5 AND b.rk <= 5 THEN 1 END)::BIGINT AS o5,
         |              count(*)::BIGINT AS o10,
         |              round(sum(abs(a.rk - b.rk)) / count(*), 5) AS shift
         |       FROM allr a JOIN allr b ON a.doc_id = b.doc_id AND a.rnk < b.rnk
         |       GROUP BY 1, 2)
         |SELECT pg.ra AS ranker_a, pg.rb AS ranker_b,
         |       coalesce(ov.o5, 0) AS overlap_at5,
         |       coalesce(ov.o10, 0) AS overlap_at10,
         |       round(coalesce(ov.o10, 0) / (20.0 - coalesce(ov.o10, 0)), 5) AS jaccard_at10,
         |       ov.shift AS mean_rank_shift
         |FROM pg LEFT JOIN ov ON ov.ra = pg.ra AND ov.rb = pg.rb
         |ORDER BY 1, 2""".stripMargin,
    "hybrid_rrf" ->
      s"""WITH terms AS (SELECT doc_id, unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'), t -> length(t) >= 2)) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
         |dfv AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM documents),
         |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
         |ad AS (SELECT avg(dl) AS avgdl FROM dl),
         |q AS (SELECT unnest(['spark', 'join', 'vector']) AS term),
         |qi AS (SELECT term, ln((nn.n - dfv.df + 0.5) / (dfv.df + 0.5) + 1) AS qidf
         |       FROM q JOIN dfv USING (term), nn),
         |bs AS (SELECT tf.doc_id, sum(qi.qidf * tf.tf * (1.2 + 1.0) /
         |              (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / ad.avgdl))) AS ts
         |       FROM tf JOIN qi USING (term) JOIN dl USING (doc_id), ad GROUP BY 1),
         |qv AS (SELECT $qvSqlList::DOUBLE[] AS qv),
         |vsx AS (SELECT e.vec_id AS doc_id, ${cosRaw("e.embedding", "qv.qv")} AS vs
         |        FROM embeddings e, qv),
         |vr AS (SELECT doc_id, row_number() OVER (ORDER BY vs DESC, doc_id) AS rv
         |       FROM vsx QUALIFY rv <= 100),
         |br AS (SELECT doc_id, row_number() OVER (ORDER BY ts DESC, doc_id) AS rb
         |       FROM bs QUALIFY rb <= 100)
         |SELECT coalesce(vr.doc_id, br.doc_id) AS doc_id,
         |       round(coalesce(1.0 / (60 + rv), 0) + coalesce(1.0 / (60 + rb), 0), 6) AS rrf_score,
         |       coalesce(rv, 0) AS vec_rank, coalesce(rb, 0) AS bm25_rank
         |FROM vr FULL JOIN br ON vr.doc_id = br.doc_id
         |ORDER BY rrf_score DESC, doc_id LIMIT 10""".stripMargin,
    // positional phrase match: anchor p0 matches when every phrase
    // offset is satisfied (matched = |phrase|); the oracle re-tokenizes
    // both corpus AND phrase independently (generate_subscripts is
    // 1-based, the engine 0-based — relative offsets agree)
    "phrase_search" ->
      """WITH toks AS (SELECT doc_id, list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'), t -> length(t) >= 2) AS ts FROM documents),
        |p AS (SELECT doc_id, unnest(ts) AS term, generate_subscripts(ts, 1) AS pos FROM toks),
        |q AS (SELECT unnest(qts) AS term, generate_subscripts(qts, 1) - 1 AS off
        |      FROM (SELECT list_filter(regexp_extract_all(lower('table table'), '[a-z0-9_]+'), t -> length(t) >= 2) AS qts)),
        |qn AS (SELECT count(*) AS m FROM q),
        |g AS (SELECT p.doc_id, p.pos - q.off AS p0, count(*) AS matched
        |      FROM p JOIN q USING (term) GROUP BY 1, 2)
        |SELECT doc_id, count(*) AS n_hits
        |FROM g, qn WHERE matched = m
        |GROUP BY 1 ORDER BY n_hits DESC, doc_id""".stripMargin,
    // purchase → most recent STRICTLY-earlier view per user (ASOF
    // LEFT JOIN); the matched v_ms is the max below ts_ms, so the
    // output is deterministic even when several views share it
    "events_asof" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value
        |           FROM events WHERE event_type = 'purchase'),
        |     v AS (SELECT user_id AS v_user, epoch_ms(ts) AS v_ms
        |           FROM events WHERE event_type = 'view')
        |SELECT p.event_id, p.user_id, p.ts_ms, v.v_ms AS last_view_ms,
        |       p.ts_ms - v.v_ms AS gap_ms, round(p.value, 2) AS value
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.v_user AND p.ts_ms > v.v_ms
        |ORDER BY p.event_id""".stripMargin,
    // running window frames: both engines accumulate the frame in row
    // order; rounded at 4/2 decimals
    "events_rolling" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value FROM events)
        |SELECT user_id, event_id, ts_ms, value,
        |       round(avg(value) OVER w5, 4) AS avg5,
        |       round(sum(value) OVER wc, 2) AS cum_value
        |FROM e WINDOW
        |  w5 AS (PARTITION BY user_id ORDER BY ts_ms, event_id
        |         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
        |  wc AS (PARTITION BY user_id ORDER BY ts_ms, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_ms, event_id""".stripMargin,
    // Spark `percentile` and DuckDB `quantile_cont` share the exact
    // definition: rank (n-1)·p, linear interpolation
    "events_quantiles" ->
      """SELECT event_type,
        |       round(quantile_cont(value, 0.25), 5) AS q25,
        |       round(quantile_cont(value, 0.5), 5) AS q50,
        |       round(quantile_cont(value, 0.75), 5) AS q75,
        |       round(quantile_cont(value, 0.95), 5) AS p95,
        |       count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // ordering by gid first sidesteps cross-engine NULL ordering:
    // within a gid the nulled columns are null on every row
    "events_cube" ->
      """WITH e AS (SELECT event_type, (epoch_ms(ts) // 3600000) % 24 AS hod, value FROM events)
        |SELECT event_type, hod, count(*) AS n_events,
        |       round(sum(value), 2) AS total_value,
        |       grouping_id(event_type, hod)::BIGINT AS gid
        |FROM e GROUP BY CUBE(event_type, hod)
        |ORDER BY gid, event_type, hod""".stripMargin,
    "events_pivot" ->
      """SELECT user_id,
        |       count(*) FILTER (WHERE event_type = 'view') AS n_view,
        |       count(*) FILTER (WHERE event_type = 'click') AS n_click,
        |       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |       count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
        |       count(*) FILTER (WHERE event_type = 'error') AS n_error
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // chunk-level cross-doc exact dedup: same chunk CTE as doc_chunk,
    // keep-first by (doc_id, chunk_id) within each chunk hash
    "dedup_chunks" ->
      """WITH c AS (SELECT doc_id, i::BIGINT AS chunk_id, substr(text, i * 150 + 1, 200) AS chunk_text
        |           FROM (SELECT doc_id, text,
        |                        unnest(range(greatest((length(text) - 200 + 149) // 150, 0) + 1)) AS i
        |                 FROM documents WHERE length(text) > 0)),
        |d AS (SELECT doc_id,
        |             row_number() OVER (PARTITION BY md5(chunk_text) ORDER BY doc_id, chunk_id) > 1 AS is_dup
        |      FROM c)
        |SELECT doc_id, count(*) AS n_chunks,
        |       count(*) FILTER (WHERE is_dup) AS n_dup_chunks,
        |       round(count(*) FILTER (WHERE is_dup) / count(*), 4) AS dup_frac
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // corpus-unigram mean NLL per doc; same token stream as the
    // TF-IDF model, same association order for the rounded double
    "unigram_logprob" ->
      """WITH terms AS (SELECT doc_id, unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'), t -> length(t) >= 2)) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |ct AS (SELECT term, sum(tf)::BIGINT AS ct FROM tf GROUP BY 1),
        |tot AS (SELECT sum(ct)::BIGINT AS tot FROM ct)
        |SELECT tf.doc_id, sum(tf.tf)::BIGINT AS n_tokens,
        |       round(-sum(tf.tf * ln(ct.ct / tot.tot)) / sum(tf.tf), 5) AS avg_nll
        |FROM tf JOIN ct USING (term), tot
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // per-source terciles over the ROUNDED NLLs, cutoffs rounded to 5
    // — bucket boundaries compare 5-decimal values on both engines
    "ccnet_buckets" ->
      """WITH terms AS (SELECT doc_id, unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'), t -> length(t) >= 2)) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |ct AS (SELECT term, sum(tf)::BIGINT AS ct FROM tf GROUP BY 1),
        |tot AS (SELECT sum(ct)::BIGINT AS tot FROM ct),
        |nll AS (SELECT tf.doc_id, sum(tf.tf)::BIGINT AS n_tokens,
        |          round(-sum(tf.tf * ln(ct.ct / tot.tot)) / sum(tf.tf), 5) AS avg_nll
        |        FROM tf JOIN ct USING (term), tot GROUP BY 1),
        |sn AS (SELECT n.doc_id, d.source, n.n_tokens, n.avg_nll
        |       FROM nll n JOIN documents d USING (doc_id)),
        |cuts AS (SELECT source,
        |           round(quantile_cont(avg_nll, 1.0 / 3), 5) AS q1,
        |           round(quantile_cont(avg_nll, 2.0 / 3), 5) AS q2
        |         FROM sn GROUP BY 1)
        |SELECT sn.doc_id, sn.source, sn.n_tokens, sn.avg_nll,
        |       CASE WHEN sn.avg_nll <= c.q1 THEN 'head'
        |            WHEN sn.avg_nll <= c.q2 THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM sn JOIN cuts c USING (source) ORDER BY sn.doc_id""".stripMargin,
    // bigrams via list_zip of the token list against its own tail —
    // the same adjacent-pairs construction as the Spark transform;
    // float literals cast ::DOUBLE so DuckDB doesn't run the
    // interpolation in DECIMAL arithmetic
    // both legs are (count DESC, term) top-k over exact split counts;
    // set metrics over the bounded lists
    "vocab_stability" ->
      """WITH terms AS (SELECT doc_id, unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'), t -> length(t) >= 2)) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |d AS (SELECT doc_id, substr(md5(doc_id::VARCHAR), 1, 4) < 'cccc' AS is_train FROM documents),
        |c AS MATERIALIZED (SELECT term,
        |       sum(CASE WHEN is_train THEN tf END)::BIGINT AS ct,
        |       sum(CASE WHEN NOT is_train THEN tf END)::BIGINT AS ce
        |     FROM tf JOIN d USING (doc_id) GROUP BY 1),
        |ta AS (SELECT term, row_number() OVER (ORDER BY ct DESC, term) - 1 AS r
        |       FROM c WHERE ct IS NOT NULL QUALIFY r < 100),
        |tb AS (SELECT term, row_number() OVER (ORDER BY ce DESC, term) - 1 AS r
        |       FROM c WHERE ce IS NOT NULL QUALIFY r < 100),
        |ov AS (SELECT count(*) AS n_shared,
        |              sum(abs(ta.r - tb.r)) AS shift
        |       FROM ta JOIN tb USING (term))
        |SELECT 100::BIGINT AS k, ov.n_shared,
        |       round(ov.n_shared / ((SELECT count(*) FROM ta) + (SELECT count(*) FROM tb)
        |                            - ov.n_shared), 5) AS jaccard,
        |       CASE WHEN ov.n_shared = 0 THEN 0.0
        |            ELSE round(ov.shift / ov.n_shared, 5) END AS mean_rank_shift
        |FROM ov""".stripMargin,
    // bigram LM fit on the 80% hash split only, scored on both
    // splits; add-1 train-unigram backoff floors eval-only words;
    // the gap comes from the ROUNDED per-side NLLs
    "lm_holdout_ppl" ->
      s"""WITH $lmHoldoutCtes
         |SELECT * FROM ppl ORDER BY source""".stripMargin,
    // the held-out gap (already rounded) tilts exact token shares by
    // exp(eta*excess); weight rounds before the integer allocation
    "doremi_weights" ->
      s"""WITH $lmHoldoutCtes,
         |tk AS (SELECT source, count(*) AS n_docs,
         |              sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
         |       FROM documents GROUP BY 1),
         |tt AS (SELECT sum(n_tokens) AS t FROM tk),
         |tl AS (SELECT tk.source, tk.n_docs, tk.n_tokens,
         |              round(tk.n_tokens / tt.t, 5) AS base_share,
         |              greatest(coalesce(ppl.gap, 0.0), 0.0) AS excess,
         |              tk.n_tokens * exp(1.0 * greatest(coalesce(ppl.gap, 0.0), 0.0)) AS tw
         |       FROM tk LEFT JOIN ppl USING (source), tt),
         |zz AS (SELECT sum(tw) AS z FROM tl)
         |SELECT source, n_docs, n_tokens, base_share, excess,
         |       round(tw / zz.z, 5) AS weight,
         |       CAST(round(round(tw / zz.z, 5) * 1000000) AS BIGINT) AS alloc_tokens
         |FROM tl, zz ORDER BY source""".stripMargin,
    "bigram_logprob" ->
      """WITH toks AS (SELECT doc_id, list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'), t -> length(t) >= 2) AS l FROM documents),
        |bg AS (SELECT doc_id, struct_extract(z, 1) AS w1, struct_extract(z, 2) AS w2
        |       FROM (SELECT doc_id, unnest(list_zip(l[1:len(l) - 1], l[2:])) AS z FROM toks WHERE len(l) >= 2)),
        |tf12 AS (SELECT doc_id, w1, w2, count(*) AS tf12 FROM bg GROUP BY 1, 2, 3),
        |c12 AS (SELECT w1, w2, sum(tf12)::BIGINT AS c12 FROM tf12 GROUP BY 1, 2),
        |terms AS (SELECT doc_id, unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'), t -> length(t) >= 2)) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |ct AS (SELECT term, sum(tf)::BIGINT AS ct FROM tf GROUP BY 1),
        |tot AS (SELECT sum(ct)::BIGINT AS tot FROM ct)
        |SELECT tf12.doc_id, sum(tf12.tf12)::BIGINT AS n_bigrams,
        |       round(-sum(tf12.tf12 * ln(0.75::DOUBLE * c12.c12 / c1.ct + 0.25::DOUBLE * c2.ct / tot.tot)) / sum(tf12.tf12), 5) AS avg_nll
        |FROM tf12 JOIN c12 USING (w1, w2) JOIN ct c1 ON tf12.w1 = c1.term JOIN ct c2 ON tf12.w2 = c2.term, tot
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the entropy oracle is ASSEMBLED from the same SQL fragments the
    // Spark operator selectExprs — identical expression trees by
    // construction, cross-engine float drift structurally impossible
    "doc_entropy" -> {
      val inner = ("doc_id" +: TextAnalysis.entropyCountCols).mkString(", ")
      val outer = TextAnalysis.entropyOuterCols.mkString(", ")
      s"SELECT $outer FROM (SELECT $inner FROM (SELECT doc_id, lower(text) AS t FROM documents)) ORDER BY doc_id"
    },
    // exact dyadic decay: integer-scaled weights summed as BIGINT,
    // one final division by 2^40 (power() so DuckDB stays in DOUBLE)
    "item_trending" ->
      """WITH ev AS (SELECT event_type, epoch_ms(ts) AS ts_ms,
        |                   json_extract_string(props, '$.k')::BIGINT AS item_id
        |            FROM events
        |            WHERE event_type IN ('view', 'click', 'purchase')
        |              AND json_extract_string(props, '$.k') IS NOT NULL),
        |mx AS (SELECT max(ts_ms) AS t_max FROM ev),
        |sc AS (SELECT item_id,
        |              (CASE WHEN event_type = 'purchase' THEN 4 WHEN event_type = 'click' THEN 2 ELSE 1 END)::BIGINT
        |              * (1::BIGINT << CAST(40 - least((t_max - ts_ms) // 86400000, 40) AS INT)) AS scaled
        |       FROM ev, mx)
        |SELECT item_id, count(*) AS n_events,
        |       round(sum(scaled)::BIGINT / power(2.0, 40), 5) AS trend_score
        |FROM sc GROUP BY 1 ORDER BY trend_score DESC, item_id LIMIT 25""".stripMargin,
    // PII counts are taken on the RAW text per pattern independently;
    // replacement is sequential (email → ipv4 → number)
    "pii_redact" ->
      """SELECT doc_id,
        |       len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))::BIGINT AS n_email,
        |       len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ipv4,
        |       len(regexp_extract_all(text, '\d{6,}'))::BIGINT AS n_number,
        |       regexp_replace(regexp_replace(regexp_replace(text,
        |         '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |         '\d{6,}', '<NUM>', 'g') AS clean_text
        |FROM documents ORDER BY doc_id""".stripMargin,
    // per-rule fail / unique-fail / pass-without counts from the same
    // rule expressions, one row per rule via UNION ALL
    "gate_ablation" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, len(toks)::BIGINT AS n_words,
        |             list_sum(list_transform(toks, x -> length(x)))::BIGINT AS swl,
        |             len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::BIGINT AS n_alpha,
        |             len(list_filter(toks, x -> x = 'the' OR x = 'a'))::BIGINT AS n_stop
        |      FROM t),
        |r AS (SELECT doc_id,
        |       (n_words >= 10 AND n_words <= 100000) AS rule_words,
        |       (swl / n_words >= 3.0 AND swl / n_words <= 10.0) AS rule_word_len,
        |       (n_alpha / n_words >= 0.8) AS rule_alpha,
        |       (n_stop >= 2) AS rule_stop
        |      FROM s),
        |c AS (SELECT count(*) AS n_docs,
        |       count(CASE WHEN rule_words AND rule_word_len AND rule_alpha AND rule_stop THEN 1 END) AS n_pass_all,
        |       count(CASE WHEN NOT rule_words THEN 1 END) AS f_words,
        |       count(CASE WHEN NOT rule_words AND rule_word_len AND rule_alpha AND rule_stop THEN 1 END) AS u_words,
        |       count(CASE WHEN NOT rule_word_len THEN 1 END) AS f_word_len,
        |       count(CASE WHEN NOT rule_word_len AND rule_words AND rule_alpha AND rule_stop THEN 1 END) AS u_word_len,
        |       count(CASE WHEN NOT rule_alpha THEN 1 END) AS f_alpha,
        |       count(CASE WHEN NOT rule_alpha AND rule_words AND rule_word_len AND rule_stop THEN 1 END) AS u_alpha,
        |       count(CASE WHEN NOT rule_stop THEN 1 END) AS f_stop,
        |       count(CASE WHEN NOT rule_stop AND rule_words AND rule_word_len AND rule_alpha THEN 1 END) AS u_stop
        |      FROM r)
        |SELECT rule, n_fail, n_unique_fail, n_docs, n_pass_all,
        |       n_pass_all + n_unique_fail AS n_pass_without,
        |       round(n_fail / n_docs, 5) AS fail_rate
        |FROM (
        |  SELECT 'words' AS rule, f_words AS n_fail, u_words AS n_unique_fail, n_docs, n_pass_all FROM c
        |  UNION ALL SELECT 'word_len', f_word_len, u_word_len, n_docs, n_pass_all FROM c
        |  UNION ALL SELECT 'alpha', f_alpha, u_alpha, n_docs, n_pass_all FROM c
        |  UNION ALL SELECT 'stop', f_stop, u_stop, n_docs, n_pass_all FROM c)
        |ORDER BY rule""".stripMargin,
    "quality_gopher" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, len(toks)::BIGINT AS n_words,
        |             list_sum(list_transform(toks, x -> length(x)))::BIGINT AS swl,
        |             len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::BIGINT AS n_alpha,
        |             len(list_filter(toks, x -> x = 'the' OR x = 'a'))::BIGINT AS n_stop
        |      FROM t)
        |SELECT doc_id, n_words, swl / n_words AS mean_word_len,
        |       n_alpha / n_words AS frac_alpha, n_stop,
        |       (n_words >= 10 AND n_words <= 100000) AS rule_words,
        |       (swl / n_words >= 3.0 AND swl / n_words <= 10.0) AS rule_word_len,
        |       (n_alpha / n_words >= 0.8) AS rule_alpha,
        |       (n_stop >= 2) AS rule_stop,
        |       ((n_words >= 10 AND n_words <= 100000)
        |        AND (swl / n_words >= 3.0 AND swl / n_words <= 10.0)
        |        AND (n_alpha / n_words >= 0.8) AND (n_stop >= 2)) AS pass_gopher
        |FROM s ORDER BY doc_id""".stripMargin,
    "doc_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bg AS (SELECT doc_id, CASE WHEN len(toks) >= 2
        |                           THEN [array_to_string(toks[i+1:i+2], ' ') for i in range(len(toks) - 1)]
        |                           ELSE []::VARCHAR[] END AS bgs FROM t),
        |base AS (SELECT doc_id, len(bgs)::BIGINT AS n_bigrams,
        |                len(list_distinct(bgs))::BIGINT AS n_distinct FROM bg),
        |ex AS (SELECT doc_id, unnest(bgs) AS bigram FROM bg),
        |cnt AS (SELECT doc_id, bigram, count(*) AS c FROM ex GROUP BY 1, 2),
        |top AS (SELECT doc_id, max(c) AS top_bigram_n FROM cnt GROUP BY 1)
        |SELECT b.doc_id, n_bigrams, n_distinct,
        |       coalesce(top_bigram_n, 0)::BIGINT AS top_bigram_n,
        |       CASE WHEN n_bigrams > 0 THEN (n_bigrams - n_distinct) / n_bigrams ELSE 0.0 END AS dup_bigram_frac,
        |       CASE WHEN n_bigrams > 0 THEN coalesce(top_bigram_n, 0) / n_bigrams ELSE 0.0 END AS top_bigram_share
        |FROM base b LEFT JOIN top USING (doc_id) ORDER BY doc_id""".stripMargin,
    // contiguous packing: bin = cum-before div budget, per-shard
    // window — all exact integer arithmetic
    // the same per-shard cumulative pass shared by all budgets; bin =
    // the identical integer floor division per budget
    "pack_efficiency_sweep" ->
      """WITH d AS (SELECT doc_id, substr(md5(doc_id::VARCHAR), 1, 1) AS shard,
        |                  ceil(length(text) / 4.0)::BIGINT AS est_tok FROM documents),
        |c AS MATERIALIZED (SELECT doc_id, shard, est_tok,
        |             sum(est_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |                                ROWS UNBOUNDED PRECEDING) AS cum FROM d),
        |b AS (SELECT unnest([1024, 2048, 4096])::BIGINT AS budget),
        |x AS (SELECT b.budget, c.shard, c.est_tok,
        |             (c.cum - c.est_tok) // b.budget AS bin
        |      FROM c CROSS JOIN b)
        |SELECT budget,
        |       count(DISTINCT (shard, bin)) AS n_bins,
        |       round(count(*) / count(DISTINCT (shard, bin)), 5) AS mean_docs_per_bin,
        |       round(sum(est_tok) / (count(DISTINCT (shard, bin)) * budget), 5) AS fill_ratio,
        |       count(CASE WHEN est_tok > budget THEN 1 END) AS n_oversize
        |FROM x GROUP BY budget ORDER BY budget""".stripMargin,
    "pack_sequences" ->
      """WITH d AS (SELECT doc_id, substr(md5(doc_id::VARCHAR), 1, 1) AS shard,
        |                  ceil(length(text) / 4.0)::BIGINT AS est_tok FROM documents),
        |c AS (SELECT doc_id, shard, est_tok,
        |             sum(est_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |                                ROWS UNBOUNDED PRECEDING) AS cum FROM d)
        |SELECT shard, ((cum - est_tok) // 2048)::BIGINT AS bin,
        |       count(*) AS n_docs, sum(est_tok)::BIGINT AS tok_sum
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "sample_mixture" ->
      """WITH d AS (SELECT source, substr(md5(doc_id::VARCHAR), 1, 4) AS bucket,
        |                  CASE source WHEN 'src0' THEN 'cccc' WHEN 'src1' THEN '8000'
        |                              WHEN 'src2' THEN '4000' WHEN 'src3' THEN '2000'
        |                              ELSE '1000' END AS thr
        |           FROM documents)
        |SELECT source, count(*) AS n_total,
        |       sum(CASE WHEN bucket < thr THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |       sum(CASE WHEN bucket < thr THEN 1 ELSE 0 END)::BIGINT / count(*) AS rate
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
  ) ++ extraOracles

  /** Oracle entries for the decontamination and Q6 additions live in
    * [[extraOracles]] (split out so neither map literal exceeds the
    * JVM method-size limit).
    */
  private def extraOracles: Map[String, String] = Map(
    // the FULL IVF pipeline replayed in SQL — deterministic portable
    // k-means (Ivf.fitCentroidsPortable: sorted hash-mod sample, k
    // evenly-spaced seeds, 10 fixed Lloyd rounds with FLOAT32-quantized
    // centroids so aggregation-order noise rounds away), full-corpus
    // argmin assignment, cosine-ranked nprobe=4 probe, exact-cosine
    // top-10 over the probed cells. Verified bit-identical to a
    // straight-line reimplementation before wiring. step=1 at every
    // verify SF (corpus ≤ fitRows), so the sample is the whole table.
    "ann_ivf_topk" ->
      s"""WITH RECURSIVE
         |$ivfFitCtes,
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |probe AS (SELECT c.cell FROM cent c, q
         |          ORDER BY list_dot_product(q.qv::DOUBLE[], c.centroid) /
         |                   (sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])) * sqrt(list_dot_product(c.centroid, c.centroid))) DESC, c.cell
         |          LIMIT 4)
         |SELECT a.vec_id AS n_id, a.cell::BIGINT AS cell,
         |       ${cos5("a.embedding", "q.qv")} AS score,
         |       CAST(row_number() OVER (ORDER BY ${cos5("a.embedding", "q.qv")} DESC, a.vec_id) AS BIGINT) AS rk
         |FROM asg a JOIN probe USING (cell), q
         |WHERE a.vec_id <> 0
         |QUALIFY rk <= 10
         |ORDER BY rk""".stripMargin,
    // flat PQ/ADC replayed end-to-end: codebook fit, corpus encode,
    // driver LUT, ordered 8-term ADC sum — all from the shared CTEs
    "ann_pq_topk" ->
      s"""WITH RECURSIVE
         |$pqFitCtes,
         |$pqLutCte
         |SELECT c.vec_id, round(${adcChain("c.codes")}, 5) AS adc_dist
         |FROM codes c WHERE c.vec_id <> 0
         |ORDER BY adc_dist, c.vec_id LIMIT 10""".stripMargin,
    // IVFPQ (non-residual): the replayed IVF probe prunes to 4 cells,
    // the replayed flat-PQ codes rank by the same ordered ADC chain
    "ann_ivfpq_topk" ->
      s"""WITH RECURSIVE
         |$ivfFitCtes,
         |$pqFitCtes,
         |$pqLutCte,
         |q2 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |probe AS (SELECT c.cell FROM cent c, q2
         |          ORDER BY list_dot_product(q2.qv::DOUBLE[], c.centroid) /
         |            (sqrt(list_dot_product(q2.qv::DOUBLE[], q2.qv::DOUBLE[])) * sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
         |            c.cell LIMIT 4)
         |SELECT cd.vec_id, a.cell::BIGINT AS cell, round(${adcChain("cd.codes")}, 5) AS adc_dist
         |FROM codes cd JOIN asg a ON a.vec_id = cd.vec_id JOIN probe ON probe.cell = a.cell
         |WHERE cd.vec_id <> 0
         |ORDER BY adc_dist, cd.vec_id LIMIT 10""".stripMargin,
    // retrieve-then-rerank: the same ADC scan shortlists 50, only
    // those rows are rescored with the exact cosine
    "ann_ivfpq_rerank" ->
      s"""WITH RECURSIVE
         |$ivfFitCtes,
         |$pqFitCtes,
         |$pqLutCte,
         |q2 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |probe AS (SELECT c.cell FROM cent c, q2
         |          ORDER BY list_dot_product(q2.qv::DOUBLE[], c.centroid) /
         |            (sqrt(list_dot_product(q2.qv::DOUBLE[], q2.qv::DOUBLE[])) * sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
         |            c.cell LIMIT 4),
         |short AS (SELECT cd.vec_id
         |          FROM codes cd JOIN asg a ON a.vec_id = cd.vec_id JOIN probe ON probe.cell = a.cell
         |          WHERE cd.vec_id <> 0
         |          ORDER BY round(${adcChain("cd.codes")}, 5), cd.vec_id LIMIT 50)
         |SELECT e.vec_id, ${cos5("e.embedding", "q2.qv")} AS score
         |FROM embeddings e JOIN short USING (vec_id), q2
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,
    // the rerank sweep replayed: same fit/LUT/probe CTEs, ONE deepest
    // ADC ranking with explicit ranks, per-depth prefix cuts re-ranked
    // by exact cosine, hits counted against the exact top-10
    "ann_rerank_depth_sweep" ->
      s"""WITH RECURSIVE
         |$ivfFitCtes,
         |$pqFitCtes,
         |$pqLutCte,
         |q2 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |gt AS (SELECT e.vec_id FROM embeddings e, q2 WHERE e.vec_id <> 0
         |       ORDER BY ${cos5("e.embedding", "q2.qv")} DESC, e.vec_id LIMIT 10),
         |cvals(c) AS (SELECT unnest([10, 25, 50, 100])),
         |${rerankCurveCtes("", 4)}
         |SELECT c, shortlist, n_hits, recall_at_k FROM curve
         |ORDER BY c""".stripMargin,
    // the planner replayed: BOTH probe depths' curves, then the same
    // total-order cut the engine applies — smallest (nprobe, c)
    // clearing the target, else the deepest measured pair
    "ann_rerank_planner" ->
      s"""WITH RECURSIVE
         |$ivfFitCtes,
         |$pqFitCtes,
         |$pqLutCte,
         |q2 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |gt AS (SELECT e.vec_id FROM embeddings e, q2 WHERE e.vec_id <> 0
         |       ORDER BY ${cos5("e.embedding", "q2.qv")} DESC, e.vec_id LIMIT 10),
         |cvals(c) AS (SELECT unnest([10, 25, 50, 100])),
         |${rerankCurveCtes("p4", 4)},
         |${rerankCurveCtes("p8", 8)},
         |allc AS (SELECT 4 AS np, c, recall_at_k FROM p4curve
         |         UNION ALL SELECT 8, c, recall_at_k FROM p8curve),
         |met AS (SELECT np, c, recall_at_k FROM allc
         |        WHERE recall_at_k >= 0.9 ORDER BY np, c LIMIT 1),
         |fall AS (SELECT np, c, recall_at_k FROM allc ORDER BY np DESC, c DESC LIMIT 1)
         |SELECT 0.9 + 0.0 AS target_recall,
         |       coalesce(met.np, fall.np)::BIGINT AS nprobe,
         |       coalesce(met.c, fall.c)::BIGINT AS c,
         |       coalesce(met.recall_at_k, fall.recall_at_k) + 0.0 AS recall_at_k,
         |       met.np IS NOT NULL AS target_met
         |FROM fall LEFT JOIN met ON true""".stripMargin,
    // residual IVFPQ (FAISS by_residual=true): codebooks fit and codes
    // computed on x − c(cell) residuals, per-probed-cell query LUTs —
    // all from the same deterministic recipes
    "ann_ivfpq_res_topk" ->
      s"""WITH RECURSIVE
         |$ivfFitCtes,
         |q2 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |qd AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS qd FROM embeddings WHERE vec_id = 0),
         |rres AS (SELECT a.vec_id, a.embedding, a.cell, c.centroid AS ccent,
         |                row_number() OVER (ORDER BY a.vec_id) - 1 AS rn
         |         FROM asg a JOIN cent c ON c.cell = a.cell),
         |rsv AS (SELECT vec_id, rn, cell, ss.s,
         |               list_transform(range(1, 9), i -> embedding[ss.s * 8 + i]::DOUBLE - ccent[ss.s * 8 + i]) AS v
         |        FROM rres, range(8) ss(s)),
         |rkm(iter, s, cent, centroid) AS (
         |  SELECT 0, rsv.s, rsv.rn::INT, rsv.v FROM rsv WHERE rsv.rn < 16
         |  UNION ALL
         |  SELECT w.iter + 1, w.s, w.cent, coalesce(mm.cnew, w.centroid)
         |  FROM rkm w LEFT JOIN (
         |    SELECT s, cent, list(CAST(av AS FLOAT)::DOUBLE ORDER BY p) AS cnew
         |    FROM (
         |      SELECT win.s, win.cent, r.p, avg(win.v[r.p + 1]) AS av
         |      FROM (
         |        SELECT rsv.rn, rsv.s, rsv.v, k2.cent
         |        FROM rsv JOIN rkm k2 ON k2.s = rsv.s
         |        QUALIFY row_number() OVER (PARTITION BY rsv.rn, rsv.s ORDER BY
         |          list_sum(list_transform(range(1, 9), i -> (rsv.v[i] - k2.centroid[i]) * (rsv.v[i] - k2.centroid[i]))), k2.cent) = 1
         |      ) win, range(8) r(p)
         |      GROUP BY win.s, win.cent, r.p
         |    ) GROUP BY s, cent
         |  ) mm ON mm.s = w.s AND mm.cent = w.cent
         |  WHERE w.iter < 10
         |),
         |rbooks AS (SELECT s, cent, centroid FROM rkm WHERE iter = 10),
         |rencw AS (SELECT rsv.vec_id, rsv.s, b.cent,
         |            row_number() OVER (PARTITION BY rsv.vec_id, rsv.s ORDER BY
         |              list_sum(list_transform(range(1, 9), i -> (rsv.v[i] - b.centroid[i]) * (rsv.v[i] - b.centroid[i]))), b.cent) AS rk
         |          FROM rsv JOIN rbooks b ON b.s = rsv.s),
         |rcodes AS (SELECT vec_id, list(cent ORDER BY s) AS codes FROM rencw WHERE rk = 1 GROUP BY vec_id),
         |probe AS (SELECT c.cell FROM cent c, q2
         |          ORDER BY list_dot_product(q2.qv::DOUBLE[], c.centroid) /
         |            (sqrt(list_dot_product(q2.qv::DOUBLE[], q2.qv::DOUBLE[])) * sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
         |            c.cell LIMIT 4),
         |rlut AS (SELECT p.cell, b.s, b.cent,
         |           list_sum(list_transform(range(1, 9), i ->
         |             ((qd.qd[b.s * 8 + i] - cc.centroid[b.s * 8 + i]) - b.centroid[i]) *
         |             ((qd.qd[b.s * 8 + i] - cc.centroid[b.s * 8 + i]) - b.centroid[i]))) AS d
         |         FROM probe p JOIN cent cc ON cc.cell = p.cell, rbooks b, qd)
         |SELECT rc.vec_id, a.cell::BIGINT AS cell,
         |       round(${(0 until 8).map(s => s"(SELECT d FROM rlut WHERE rlut.cell = a.cell AND rlut.s = $s AND rlut.cent = rc.codes[${s + 1}])").mkString(" + ")}, 5) AS adc_dist
         |FROM rcodes rc JOIN asg a ON a.vec_id = rc.vec_id JOIN probe ON probe.cell = a.cell
         |WHERE rc.vec_id <> 0
         |ORDER BY adc_dist, rc.vec_id LIMIT 10""".stripMargin,
    // single-table sign-LSH with multi-probe (hamming ≤ 1) replayed
    // with the engine's own seed-fixed hyperplanes injected as SQL
    // literals (Double.toString round-trips, so the planes are
    // bit-identical); bucket assignment, query bucket, probe set, and
    // the exact-cosine rerank all reproduce
    "ann_lsh_topk" -> {
      val planes = graft.operators.Lsh.hyperplaneArrays(8, 64)
      val rows = planes.zipWithIndex.map { case (p, j) =>
        s"($j, ${p.map(_.toString).mkString("[", ", ", "]")}::DOUBLE[])"
      }.mkString(",\n        ")
      s"""WITH planes(j, plane) AS (VALUES
         |        $rows),
         |bb AS (SELECT e.vec_id,
         |              CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.plane) >= 0
         |                       THEN (1::BIGINT << p.j) ELSE 0 END) AS BIGINT) AS bucket
         |       FROM embeddings e, planes p GROUP BY e.vec_id),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |qb AS (SELECT CAST(sum(CASE WHEN list_dot_product(q.qv::DOUBLE[], p.plane) >= 0
         |                  THEN (1::BIGINT << p.j) ELSE 0 END) AS BIGINT) AS b FROM q, planes p),
         |probe AS (SELECT b AS bucket FROM qb
         |          UNION ALL SELECT xor(qb.b, (1::BIGINT << r.j)) FROM qb, range(8) r(j))
         |SELECT e.vec_id, bb.bucket AS bucket, ${cos5("e.embedding", "q.qv")} AS score
         |FROM bb JOIN probe USING (bucket) JOIN embeddings e ON e.vec_id = bb.vec_id, q
         |WHERE bb.vec_id <> 0
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin
    },
    // the batch walk replayed per query: top-8 rounded-cosine neighbor
    // lists over the SAME banded-LSH candidate blocking as
    // dedup_embedding_lsh, symmetrized and bridge-augmented (see
    // nswGraphCtes); a per-(q, node) rounded score frame; seeds = the
    // lowest-id (or second-lowest for q = lowest) fixed entry PLUS the
    // query's own node; 6 unrolled per-q beam steps (top-4 of
    // frontier ∪ neighbors by score DESC, id — keeping the frontier
    // makes the walk monotone); final per-q rerank over each query's
    // own visited union
    "ann_graph_knn_join" ->
      s"""WITH $lshBlockCtes,
         |$nswGraphCtes,
         |qs AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
         |bes AS MATERIALIZED (SELECT q.q_id, e.vec_id, ${cos5("e.embedding", "q.qv")} AS s
         |       FROM embeddings e, qs q),
         |mn AS (SELECT min(vec_id) AS m1 FROM embeddings),
         |mn2 AS (SELECT min(vec_id) AS m2 FROM embeddings, mn WHERE vec_id <> mn.m1),
         |bf0 AS (SELECT q_id, CASE WHEN q_id = mn.m1 THEN mn2.m2 ELSE mn.m1 END AS v
         |        FROM qs, mn, mn2
         |        UNION SELECT q_id, q_id AS v FROM qs),
         |${batchWalkSteps(6, 4)},
         |vis AS (SELECT q_id, v FROM bf0
         |${(0 until 6).map(i => s"        UNION SELECT q_id, v FROM bu$i").mkString("\n")}),
         |fin AS (SELECT q_id, v FROM vis WHERE v <> q_id)
         |SELECT fin.q_id, fin.v AS n_id, b.s AS score,
         |       CAST(row_number() OVER (PARTITION BY fin.q_id ORDER BY b.s DESC, fin.v) AS BIGINT) AS rk
         |FROM fin JOIN bes b ON b.q_id = fin.q_id AND b.vec_id = fin.v
         |QUALIFY rk <= 10 ORDER BY fin.q_id, rk""".stripMargin,
    // SemDeDup replayed over the same deterministic IVF assignment:
    // within-cell exact-cosine pairs at threshold 0.4, transitive
    // closure, keep the component-minimum id
    "dedup_semantic" ->
      s"""WITH RECURSIVE
         |$ivfFitCtes,
         |pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |          FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |          WHERE ${cos5("a.embedding", "b.embedding")} >= 0.4),
         |edges AS (SELECT a_id AS a, b_id AS b FROM pairs
         |          UNION ALL SELECT b_id, a_id FROM pairs),
         |nodes AS (SELECT DISTINCT a AS node FROM edges),
         |reach AS (SELECT node AS src, node AS dst FROM nodes
         |          UNION
         |          SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst)
         |SELECT src AS vec_id, min(dst) AS cluster_id, src = min(dst) AS is_kept
         |FROM reach GROUP BY src ORDER BY vec_id""".stripMargin,
    // inventory over the same replayed IVF build; n_epochs/n_tombstones
    // are filesystem facts of a FRESH fingerprint-addressed artifact
    // (exactly one epoch, no tombstones — verify never appends/deletes)
    "ann_index_stats" ->
      s"""WITH RECURSIVE
         |$ivfFitCtes,
         |occ AS (SELECT cell, count(*) AS c FROM asg GROUP BY 1),
         |a AS (SELECT count(*)::DOUBLE AS cells, sum(c)::DOUBLE AS rws,
         |             min(c)::DOUBLE AS mn, max(c)::DOUBLE AS mx FROM occ)
         |SELECT metric, value FROM (
         |  SELECT 0 AS o, 'n_rows' AS metric, rws AS value FROM a
         |  UNION ALL SELECT 1, 'n_cells', cells FROM a
         |  UNION ALL SELECT 2, 'n_epochs', 1.0 FROM a
         |  UNION ALL SELECT 3, 'n_tombstones', 0.0 FROM a
         |  UNION ALL SELECT 4, 'min_cell_rows', mn FROM a
         |  UNION ALL SELECT 5, 'max_cell_rows', mx FROM a
         |  UNION ALL SELECT 6, 'avg_cell_rows', rws / cells FROM a
         |  UNION ALL SELECT 7, 'occupancy_skew_x', mx / (rws / cells) FROM a) t
         |ORDER BY o""".stripMargin,
    // recall/MRR sweep over the replayed IVF: per-query probe ranking,
    // per-(nprobe, query) candidate top-10, hits vs the exact top-10
    "ann_recall_eval" ->
      s"""WITH RECURSIVE
         |$ivfFitCtes,
         |$recallEvalCtes
         |$recallEvalSelect
         |ORDER BY np.np""".stripMargin,
    // the nprobe auto-tuner replayed on the SAME measured curve: the
    // smallest nprobe meeting the target, else the deepest measured
    "ann_nprobe_planner" ->
      s"""WITH RECURSIVE
         |$ivfFitCtes,
         |$recallEvalCtes,
         |ev AS ($recallEvalSelect),
         |met AS (SELECT * FROM ev WHERE "Precision@K" >= 0.9),
         |pick AS (SELECT coalesce((SELECT min(nprobe) FROM met),
         |                         (SELECT max(nprobe) FROM ev)) AS np)
         |SELECT 0.9 AS target_precision, CAST(ev.nprobe AS BIGINT) AS nprobe,
         |       ev."Precision@K" AS precision_at_k, ev."MRR" AS mrr,
         |       ev."QueriesUsed" AS queries_used,
         |       EXISTS (SELECT 1 FROM met) AS target_met
         |FROM ev JOIN pick ON ev.nprobe = pick.np""".stripMargin,
    // SimHash replayed end-to-end in SQL: the per-token hash is the
    // engine-portable md5-derived long (Dedup.md5Long64 == DuckDB's
    // md5_number_upper reinterpreted signed), so signatures, chunk
    // buckets, the occupancy cap, and hamming verification all
    // reproduce bit-for-bit (defaults: 4×16-bit chunks, cap 1000,
    // hamming ≤ 6)
    "dedup_simhash" ->
      s"""WITH $simhashCandCtes
         |SELECT a_id, b_id, bit_count(xor(a_sig, b_sig))::BIGINT AS hamming
         |FROM scand WHERE bit_count(xor(a_sig, b_sig)) <= 6
         |ORDER BY a_id, b_id""".stripMargin,
    // the shared blocked pair frame filtered per radius; recall vs
    // the exact capped-shingle Jaccard >= 0.8 truth
    "simhash_radius_sweep" ->
      s"""WITH $simhashCandCtes,
         |ham AS MATERIALIZED (SELECT a_id, b_id,
         |         bit_count(xor(a_sig, b_sig))::BIGINT AS hamming
         |       FROM scand WHERE bit_count(xor(a_sig, b_sig)) <= 3),
         |$cappedShingleCtes,
         |sz AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY 1),
         |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |          FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |truth AS MATERIALIZED (SELECT a_id, b_id
         |       FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
         |       WHERE round(inter / (sa.sz + sb.sz - inter), 5) >= 0.8),
         |nt AS (SELECT count(*) AS n_truth FROM truth),
         |rr AS (SELECT unnest([0, 1, 2, 3])::BIGINT AS radius),
         |cc AS (SELECT rr.radius, count(h.a_id) AS n_candidates
         |       FROM rr LEFT JOIN ham h ON h.hamming <= rr.radius GROUP BY 1),
         |fx AS (SELECT DISTINCT h.a_id, h.b_id, h.hamming FROM ham h
         |       SEMI JOIN truth t ON t.a_id = h.a_id AND t.b_id = h.b_id),
         |ff AS (SELECT rr.radius, count(x.a_id) AS n_found
         |       FROM rr LEFT JOIN fx x ON x.hamming <= rr.radius GROUP BY 1)
         |SELECT cc.radius, cc.n_candidates, nt.n_truth, ff.n_found,
         |       CASE WHEN nt.n_truth = 0 THEN 0.0
         |            ELSE round(ff.n_found / nt.n_truth, 5) END AS recall
         |FROM cc JOIN ff USING (radius), nt ORDER BY radius""".stripMargin,
    // the corpus-lexical encoder end-to-end: per-term centroids of
    // containing-doc embeddings (FLOAT casts quantize away
    // aggregation-order noise, so the induced lexicon is bit-stable
    // across engines), occurrence-weighted query mean, L2 normalize,
    // cosine top-k — the full raw-text retrieval path as one SQL replay
    "vs_topk_lexenc" ->
      s"""WITH toks AS (SELECT doc_id, unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'),
         |                                                t -> length(t) >= 2)) AS term FROM documents),
         |dt AS (SELECT DISTINCT doc_id, term FROM toks),
         |dims AS (SELECT dt.term, r.p, CAST(avg(e.embedding[r.p + 1]::DOUBLE) AS FLOAT) AS v
         |         FROM dt JOIN embeddings e ON e.vec_id = dt.doc_id, range(64) r(p)
         |         GROUP BY dt.term, r.p),
         |m AS (SELECT a.p, (a.v::DOUBLE + b.v::DOUBLE) / 2 AS mv
         |      FROM dims a JOIN dims b USING (p) WHERE a.term = 'the' AND b.term = 'data'),
         |nrm AS (SELECT sum(mv * mv) AS n2 FROM m),
         |qv AS (SELECT list(CAST(mv * (1 / sqrt(n2)) AS FLOAT) ORDER BY p) AS qv FROM m, nrm)
         |SELECT e.vec_id, ${cos5("e.embedding", "qv.qv")} AS score
         |FROM embeddings e, qv
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,
    // MMR greedy replayed as a recursive CTE: one row per iteration
    // carrying the selected-id list; each step picks the argmax of
    // λ·relevance − (1−λ)·max-sim-to-selected with the engine's exact
    // tie order (score, relevance, lower id). λ and 1−λ are
    // interpolated from the SAME double arithmetic the engine uses
    // (1−0.7 ≠ 0.3 in binary), so scores agree to the last bit
    "vs_mmr_topk" ->
      s"""WITH RECURSIVE
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |cand AS (SELECT e.vec_id, ${cos5("e.embedding", "q.qv")} AS relevance, e.embedding AS emb
         |         FROM embeddings e, q WHERE e.vec_id <> 0
         |         ORDER BY relevance DESC, e.vec_id LIMIT 30),
         |pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, ${cosRaw("a.emb", "b.emb")} AS sim
         |          FROM cand a, cand b WHERE a.vec_id <> b.vec_id),
         |sel(rank, vec_id, relevance, score, ids) AS (
         |  (SELECT 1::BIGINT, vec_id, relevance, ${0.7} * relevance, [vec_id]
         |   FROM cand ORDER BY relevance DESC, vec_id LIMIT 1)
         |  UNION ALL
         |  SELECT s.rank + 1, t.vec_id, t.relevance, t.score, list_append(s.ids, t.vec_id)
         |  FROM sel s, LATERAL (
         |    SELECT c.vec_id, c.relevance,
         |           ${0.7} * c.relevance - ${1 - 0.7} *
         |             (SELECT max(p.sim) FROM pairs p
         |              WHERE p.a_id = c.vec_id AND list_contains(s.ids, p.b_id)) AS score
         |    FROM cand c WHERE NOT list_contains(s.ids, c.vec_id)
         |    ORDER BY score DESC, c.relevance DESC, c.vec_id LIMIT 1) t
         |  WHERE s.rank < 10)
         |SELECT rank, vec_id, relevance, round(score, 5) AS mmr_score FROM sel ORDER BY rank""".stripMargin,
    // derived multi-valued tag list (lang, source tag, length bucket)
    // treated as first-class array metadata — explode for facets,
    // membership for filtered search
    "tag_facets" ->
      """WITH tg AS (SELECT [lang, 'src:' || source, 'len:' || (n_chars // 500)::VARCHAR] AS tags FROM documents),
        |ex AS (SELECT unnest(tags) AS tag FROM tg)
        |SELECT tag, count(*)::BIGINT AS n_docs FROM ex
        |GROUP BY 1 ORDER BY n_docs DESC, tag""".stripMargin,
    // unordered pairs via double unnest + lexicographic guard — the
    // same construction as the Spark chained explodes
    "tag_cooc" ->
      """WITH tg AS (SELECT [lang, 'src:' || source, 'len:' || (n_chars // 500)::VARCHAR] AS tags FROM documents),
        |ex AS (SELECT tags, unnest(tags) AS tag_a FROM tg),
        |px AS (SELECT tag_a, unnest(tags) AS tag_b FROM ex)
        |SELECT tag_a, tag_b, count(*)::BIGINT AS n_docs FROM px
        |WHERE tag_a < tag_b
        |GROUP BY 1, 2 ORDER BY n_docs DESC, tag_a, tag_b LIMIT 30""".stripMargin,
    "vs_tag_filtered" ->
      s"""WITH tg AS (SELECT doc_id FROM documents
         |            WHERE list_contains([lang, 'src:' || source, 'len:' || (n_chars // 500)::VARCHAR], 'len:1')),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, ${cos5("e.embedding", "q.qv")} AS score
         |FROM embeddings e JOIN tg ON tg.doc_id = e.vec_id, q
         |WHERE e.vec_id <> 0
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,
    // same df-capped distinct-shingle CTEs as the jaccard oracle, with
    // the md5 hash split deciding eval membership
    // witness = eval doc sharing the most distinct shingles (ties →
    // lowest id; −1/0 when nothing is shared) — the provenance a
    // pipeline needs to adjudicate a contamination hit
    "decontaminate" ->
      s"""WITH $cappedShingleCtes,
         |b AS (SELECT doc_id, substr(md5(doc_id::VARCHAR), 1, 4) AS bucket FROM documents),
         |ev AS (SELECT shc.doc_id AS eval_id, shingle FROM shc JOIN b USING (doc_id) WHERE bucket < '0ccc'),
         |tr AS (SELECT shc.doc_id, shingle FROM shc JOIN b USING (doc_id) WHERE bucket >= '0ccc'),
         |hits AS (SELECT tr.doc_id, count(DISTINCT shingle) AS n_shared
         |         FROM tr JOIN ev USING (shingle) GROUP BY 1),
         |pw AS (SELECT tr.doc_id, ev.eval_id, count(DISTINCT shingle) AS ps
         |       FROM tr JOIN ev USING (shingle) GROUP BY 1, 2),
         |wit AS (SELECT doc_id, eval_id, ps FROM
         |          (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY ps DESC, eval_id) AS rk FROM pw)
         |        WHERE rk = 1)
         |SELECT d.doc_id, coalesce(h.n_shared, 0)::BIGINT AS n_shared,
         |       coalesce(h.n_shared, 0) >= 3 AS contaminated,
         |       coalesce(w.eval_id, -1)::BIGINT AS witness_id,
         |       coalesce(w.ps, 0)::BIGINT AS witness_shared
         |FROM (SELECT doc_id FROM b WHERE bucket >= '0ccc') d
         |LEFT JOIN hits h USING (doc_id) LEFT JOIN wit w USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // Bloom bitmap replay: positions are 16-bit chunks of the signed
    // md5_number_upper value, words pack 64 bits via bit_or (bit 63
    // through HUGEINT like the simhash oracle — 1::BIGINT << 63
    // overflows), membership = all k chunk bits set
    "bloom_decontaminate" ->
      s"""WITH $cappedShingleCtes,
         |b AS (SELECT doc_id, substr(md5(doc_id::VARCHAR), 1, 4) AS bucket FROM documents),
         |ev AS (SELECT DISTINCT shingle FROM shc JOIN b USING (doc_id) WHERE bucket < '0ccc'),
         |evh AS (SELECT CAST(CASE WHEN md5_number_upper(shingle) >= 9223372036854775808::HUGEINT
         |          THEN md5_number_upper(shingle)::HUGEINT - 18446744073709551616::HUGEINT
         |          ELSE md5_number_upper(shingle)::HUGEINT END AS BIGINT) AS h FROM ev),
         |epos AS (SELECT ((h >> (16 * j)) & 65535) AS pos FROM evh, range(4) r(j)),
         |words AS (SELECT pos // 64 AS word_idx,
         |                 bit_or(CAST(CASE WHEN pos % 64 = 63 THEN -9223372036854775808::HUGEINT
         |                        ELSE (1::BIGINT << (pos % 64)::INT)::HUGEINT END AS BIGINT)) AS word
         |          FROM epos GROUP BY 1),
         |tr AS (SELECT shc.doc_id, shingle FROM shc JOIN b USING (doc_id) WHERE bucket >= '0ccc'),
         |trh AS (SELECT doc_id, shingle,
         |               CAST(CASE WHEN md5_number_upper(shingle) >= 9223372036854775808::HUGEINT
         |                 THEN md5_number_upper(shingle)::HUGEINT - 18446744073709551616::HUGEINT
         |                 ELSE md5_number_upper(shingle)::HUGEINT END AS BIGINT) AS h FROM tr),
         |tpos AS (SELECT doc_id, shingle, ((h >> (16 * j)) & 65535) AS pos FROM trh, range(4) r(j)),
         |hitrows AS (SELECT doc_id, shingle,
         |              CASE WHEN (coalesce(w.word, 0) &
         |                CAST(CASE WHEN pos % 64 = 63 THEN -9223372036854775808::HUGEINT
         |                     ELSE (1::BIGINT << (pos % 64)::INT)::HUGEINT END AS BIGINT)) <> 0
         |              THEN 1 ELSE 0 END AS hit
         |            FROM tpos LEFT JOIN words w ON tpos.pos // 64 = w.word_idx),
         |shhit AS (SELECT doc_id, shingle, min(hit) AS all_hit FROM hitrows GROUP BY 1, 2),
         |agg AS (SELECT doc_id, count(*) AS n_shingles, sum(all_hit) AS n_bloom_hits
         |        FROM shhit GROUP BY 1)
         |SELECT d.doc_id, coalesce(a.n_shingles, 0)::BIGINT AS n_shingles,
         |       coalesce(a.n_bloom_hits, 0)::BIGINT AS n_bloom_hits,
         |       coalesce(a.n_bloom_hits, 0) >= 3 AS candidate
         |FROM (SELECT doc_id FROM b WHERE bucket >= '0ccc') d
         |LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    "doc_readability" ->
      """WITH c AS (SELECT doc_id,
        |  len(regexp_extract_all(lower(text), '[a-z0-9_]+'))::BIGINT AS n_words,
        |  greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT AS n_sentences,
        |  len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |       round(206.835 - 1.015 * (n_words / n_sentences)
        |             - 84.6 * (n_syllables / n_words), 4) + 0.0 AS flesch,
        |       round(0.39 * (n_words / n_sentences)
        |             + 11.8 * (n_syllables / n_words) - 15.59, 4) + 0.0 AS fk_grade
        |FROM c WHERE n_words > 0 ORDER BY doc_id""".stripMargin,
    // whitening replayed whole: per-dim rounded μ/σ lists, the
    // indexed-lambda standardize (zero-variance dims → 0), then the
    // plain cosine top-k in the whitened space
    "embed_whiten_topk" ->
      """WITH x AS (SELECT generate_subscripts(embedding, 1) - 1 AS pos,
        |                  unnest(embedding)::DOUBLE AS v FROM embeddings),
        |st AS (SELECT pos, round(sum(v) / count(*), 5) AS mu,
        |         round(sqrt(greatest((sum(v * v) - sum(v) * sum(v) / count(*))
        |               / (count(*) - 1), 0.0)), 5) AS sd
        |       FROM x GROUP BY 1),
        |ml AS (SELECT list(mu ORDER BY pos) AS mul, list(sd ORDER BY pos) AS sdl FROM st),
        |w AS (SELECT e.vec_id,
        |        list_transform(e.embedding::DOUBLE[],
        |          (x, i) -> CASE WHEN ml.sdl[i] = 0 THEN 0.0
        |                    ELSE (x - ml.mul[i]) / ml.sdl[i] END) AS wx
        |      FROM embeddings e, ml),
        |q AS (SELECT wx AS qv FROM w WHERE vec_id = 0)
        |SELECT w.vec_id,
        |       round(list_dot_product(w.wx, q.qv) /
        |             (sqrt(list_dot_product(w.wx, w.wx)) * sqrt(list_dot_product(q.qv, q.qv))), 5) AS score
        |FROM w, q WHERE w.vec_id <> 0
        |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
    "embed_dim_stats" ->
      """WITH x AS (SELECT generate_subscripts(embedding, 1) - 1 AS pos,
        |                  unnest(embedding)::DOUBLE AS v FROM embeddings)
        |SELECT pos::BIGINT AS pos, count(*) AS n,
        |       round(sum(v) / count(*), 5) + 0.0 AS mean_v,
        |       round(sqrt(greatest((sum(v * v) - sum(v) * sum(v) / count(*))
        |             / (count(*) - 1), 0.0)), 5) AS std_v,
        |       round(min(v), 5) + 0.0 AS min_v, round(max(v), 5) + 0.0 AS max_v
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    "q6_forecast" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    // chunk starts step by size-overlap = 150; last start =
    // ceil((len-200)/150) floored at 0 so the final chunk always adds
    // new content (no wholly-contained duplicate); last chunk short,
    // not padded; 1-based substr semantics agree across engines
    "doc_chunk" ->
      """SELECT doc_id, i::BIGINT AS chunk_id, substr(text, i * 150 + 1, 200) AS chunk_text,
        |       length(substr(text, i * 150 + 1, 200)) AS chunk_len
        |FROM (SELECT doc_id, text,
        |             unnest(range(greatest((length(text) - 200 + 149) // 150, 0) + 1)) AS i
        |      FROM documents WHERE length(text) > 0)
        |ORDER BY doc_id, chunk_id""".stripMargin,
    // weekly cohorts by first active week; offset cells count distinct
    // active users; exact ms-div-week arithmetic on both engines
    "events_retention" ->
      """WITH wk AS (SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS week FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY 1),
        |s AS (SELECT cohort_week, count(*) AS n_cohort FROM c GROUP BY 1),
        |a AS (SELECT c.cohort_week, wk.week - c.cohort_week AS "offset",
        |             count(DISTINCT wk.user_id) AS n_active
        |      FROM wk JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT a.cohort_week, a."offset", a.n_active, s.n_cohort,
        |       a.n_active / s.n_cohort AS retention
        |FROM a JOIN s USING (cohort_week) ORDER BY 1, 2""".stripMargin,
    "user_ltv" ->
      """WITH ev AS (SELECT user_id, epoch_ms(ts) // 604800000 AS week,
        |                   CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS rev
        |            FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY 1),
        |s AS (SELECT cohort_week, count(*) AS n_cohort FROM c GROUP BY 1),
        |o AS (SELECT c.cohort_week, ev.week - c.cohort_week AS "offset",
        |             round(sum(ev.rev), 2) AS week_revenue
        |      FROM ev JOIN c USING (user_id) GROUP BY 1, 2),
        |cum AS (SELECT cohort_week, "offset", week_revenue,
        |               round(sum(week_revenue) OVER (PARTITION BY cohort_week ORDER BY "offset"
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_revenue
        |        FROM o)
        |SELECT cum.cohort_week, cum."offset", cum.week_revenue, cum.cum_revenue,
        |       s.n_cohort, round(cum.cum_revenue / s.n_cohort, 4) AS ltv_per_user
        |FROM cum JOIN s USING (cohort_week) ORDER BY 1, 2""".stripMargin,
    "dedup_incremental" ->
      s"""WITH $cappedShingleCtes,
         |f AS (SELECT doc_id, shingle,
         |             substr(md5(doc_id::VARCHAR), 1, 4) < '1999' AS is_new FROM shc),
         |sz AS (SELECT doc_id, is_new, count(*) AS sz FROM f GROUP BY 1, 2),
         |inter AS (SELECT a.doc_id AS doc_id, b.doc_id AS match_id, count(*) AS inter
         |          FROM f a JOIN f b ON a.shingle = b.shingle AND a.is_new AND NOT b.is_new
         |          GROUP BY 1, 2),
         |j AS (SELECT i.doc_id, i.match_id,
         |             round(i.inter / (sa.sz + sb.sz - i.inter), 5) AS jaccard
         |      FROM inter i JOIN sz sa ON sa.doc_id = i.doc_id AND sa.is_new
         |      JOIN sz sb ON sb.doc_id = i.match_id AND NOT sb.is_new
         |      WHERE round(i.inter / (sa.sz + sb.sz - i.inter), 5) >= 0.8),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |                                   ORDER BY jaccard DESC, match_id) AS rk FROM j)
         |SELECT doc_id, match_id, jaccard FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    // per-source dedup summary over the SAME exact/near-dup verdicts
    // the per-document queries serve
    "dedup_report" ->
      s"""WITH $cappedShingleCtes,
         |sz AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY 1),
         |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |          FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (SELECT a_id, b_id FROM inter
         |          JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
         |          WHERE round(inter / (sa.sz + sb.sz - inter), 5) >= 0.8),
         |near AS (SELECT DISTINCT doc_id FROM
         |           (SELECT a_id AS doc_id FROM pairs UNION ALL SELECT b_id FROM pairs)),
         |ex AS (SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1 AS is_dup
         |       FROM documents)
         |SELECT d.source, count(*) AS n_docs,
         |       sum(CASE WHEN ex.is_dup THEN 1 ELSE 0 END)::BIGINT AS n_exact_dups,
         |       sum(CASE WHEN near.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_neardup_docs,
         |       (count(*) - sum(CASE WHEN ex.is_dup THEN 1 ELSE 0 END)::BIGINT) / count(*) AS keep_frac
         |FROM documents d JOIN ex USING (doc_id) LEFT JOIN near USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the full app loop: user 7's view/click items → mean profile →
    // cosine top-k over unseen items. Parallel unnests zip in DuckDB,
    // list(m ORDER BY pos) rebuilds the profile in dimension order.
    "recommend_user" ->
      """WITH seen AS (SELECT DISTINCT json_extract(props, '$.k')::BIGINT AS vec_id
        |              FROM events WHERE user_id = 7 AND event_type IN ('view', 'click')),
        |pe AS (SELECT unnest(e.embedding::DOUBLE[]) AS v,
        |              unnest(range(len(e.embedding))) AS pos
        |       FROM embeddings e JOIN seen USING (vec_id)),
        |prof AS (SELECT pos, round(avg(v), 12) AS m FROM pe GROUP BY 1),
        |pvec AS (SELECT list(m ORDER BY pos) AS pv FROM prof)
        |SELECT e.vec_id,
        |       round(list_dot_product(e.embedding::DOUBLE[], pvec.pv) /
        |             (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |              * sqrt(list_dot_product(pvec.pv, pvec.pv))), 5) AS score
        |FROM embeddings e ANTI JOIN seen USING (vec_id), pvec
        |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
    "hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv FROM e WHERE vec_id % 100 = 0),
         |s AS (SELECT q.q_id, q.q_label::BIGINT AS q_label, e.vec_id AS neg_id,
         |             e.label::BIGINT AS neg_label, ${cos5("e.v", "q.qv")} AS score
         |      FROM e JOIN q ON e.label <> q.q_label),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, neg_id) AS rk
         |      FROM s)
         |SELECT q_id, q_label, neg_id, neg_label, score, rk::BIGINT AS rk
         |FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,
    // order-independent per-source checksum: bit_xor of the signed
    // md5_number_upper value (Dedup.md5Long64) over doc_id:md5(text)
    "corpus_checksum" ->
      s"""WITH h AS (SELECT source, n_chars,
         |  ${md5SignedSql("doc_id::VARCHAR || ':' || md5(text)")} AS h
         |  FROM documents)
         |SELECT source, count(*)::BIGINT AS n_docs, bit_xor(h) AS checksum,
         |       sum(n_chars)::BIGINT AS sum_chars
         |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,
    // integer-exact weighted priority draw: u = 48-bit md5 uniform,
    // priority = n_chars * 2^44 div u (w/u surrogate of u^(1/w))
    "weighted_sample" ->
      s"""WITH u AS (SELECT doc_id, source, n_chars,
         |  (${md5SignedSql("'ws:' || doc_id::VARCHAR")} & 281474976710655) + 1 AS u
         |  FROM documents)
         |SELECT doc_id, source, n_chars,
         |       (n_chars * 17592186044416) // u AS priority
         |FROM u ORDER BY priority DESC, doc_id LIMIT 50""".stripMargin,
    // the oracle re-runs the GPT-2-ish piece regex itself under RE2
    "bpe_token_stats" ->
      """WITH p AS (SELECT doc_id,
        |  regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9 \t\n\r]') AS pieces
        |  FROM documents)
        |SELECT doc_id,
        |  len(pieces)::BIGINT AS n_pieces,
        |  len(list_filter(pieces, x -> x[1] BETWEEN 'a' AND 'z'))::BIGINT AS n_alpha,
        |  len(list_filter(pieces, x -> x[1] BETWEEN '0' AND '9'))::BIGINT AS n_digit,
        |  (len(pieces) - len(list_filter(pieces, x -> x[1] BETWEEN 'a' AND 'z'))
        |   - len(list_filter(pieces, x -> x[1] BETWEEN '0' AND '9')))::BIGINT AS n_punct,
        |  coalesce(list_sum(list_transform(pieces, x -> (length(x) + 5) // 6)), 0)::BIGINT AS est_bpe
        |FROM p ORDER BY doc_id""".stripMargin,
    // every merge round replays: pair counts (overlaps included,
    // weighted by word count), the (n DESC, a, b) argmax, and the
    // two-pass delimiter-string fuse — identical replace() consumption
    // semantics on both engines by construction
    "bpe_learn_merges" -> {
      val rounds = 8
      s"""WITH v0 AS (
         |  SELECT w, cnt, array_to_string(string_split(w, ''), ' ') AS seq
         |  FROM (SELECT w, count(*) AS cnt
         |        FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
         |              FROM documents)
         |        GROUP BY 1 ORDER BY cnt DESC, w LIMIT 20000)),
         |${bpeSteps(rounds)}
         |${(1 to rounds).map(r =>
             s"SELECT $r::BIGINT AS round, a AS lhs, b AS rhs, n::BIGINT AS pair_count, a||b AS merged FROM m$r")
             .mkString("\nUNION ALL ")}
         |ORDER BY round""".stripMargin
    },
    // the learned vocab state v8 replayed, then tokenization is a
    // word-keyed join: each word costs its fused symbol count, words
    // outside the training cap fall back to character tokens
    "bpe_apply_stats" -> {
      val rounds = 8
      s"""WITH v0 AS (
         |  SELECT w, cnt, array_to_string(string_split(w, ''), ' ') AS seq
         |  FROM (SELECT w, count(*) AS cnt
         |        FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
         |              FROM documents)
         |        GROUP BY 1 ORDER BY cnt DESC, w LIMIT 20000)),
         |${bpeSteps(rounds)},
         |nsym AS (SELECT w, len(string_split(seq, ' '))::BIGINT AS n_sym FROM v$rounds),
         |dw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
         |       FROM documents)
         |SELECT dw.doc_id, count(*) AS n_words,
         |       sum(coalesce(n.n_sym, length(dw.w)))::BIGINT AS n_tokens,
         |       sum(length(dw.w))::BIGINT AS n_chars,
         |       round(sum(length(dw.w)) / sum(coalesce(n.n_sym, length(dw.w))), 5) AS chars_per_token
         |FROM dw LEFT JOIN nsym n USING (w)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // the whole sketch replays: same md5 buckets, same collision mass
    // d=4 row buckets are disjoint 10-bit fields of ONE signed
    // md5_number_upper digest per token (w=1024 → mask 1023)
    "cms_heavy_hitters" ->
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         |th AS (SELECT tok, ${md5SignedSql("tok")} AS h FROM toks),
         |cells AS (SELECT r, (h >> (10 * r)) & 1023 AS b, count(*) AS cnt
         |          FROM th CROSS JOIN range(4) rr(r) GROUP BY 1, 2),
         |exact AS (SELECT tok, ${md5SignedSql("tok")} AS h, count(*) AS exact FROM toks
         |          GROUP BY 1, 2 ORDER BY exact DESC, tok LIMIT 20),
         |est AS (SELECT e.tok, e.exact, min(c.cnt)::BIGINT AS est
         |        FROM exact e CROSS JOIN range(4) rr(r)
         |        JOIN cells c ON c.r = rr.r
         |          AND c.b = ((e.h >> (10 * rr.r)) & 1023)
         |        GROUP BY 1, 2)
         |SELECT tok, exact, est, (est - exact)::BIGINT AS overcount
         |FROM est ORDER BY exact DESC, tok""".stripMargin,
    // 8 unrolled integer-exact damping steps (floor div both engines)
    // transition-weighted directed edges from per-user lead()
    // timelines; 4 unrolled integer HITS rounds, max-normalized
    "item_flow_hits" ->
      s"""WITH ev AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
         |                   json_extract_string(props, '$$.k')::BIGINT AS item_id
         |            FROM events
         |            WHERE event_type IN ('view', 'click', 'purchase')
         |              AND json_extract_string(props, '$$.k') IS NOT NULL),
         |cnt AS (SELECT user_id, count(*) AS c FROM ev GROUP BY 1),
         |ordv AS (SELECT e.item_id,
         |                lead(e.item_id) OVER (PARTITION BY e.user_id
         |                  ORDER BY e.ts_ms, e.event_id) AS nxt
         |         FROM ev e JOIN cnt USING (user_id) WHERE cnt.c <= 2000),
         |edges AS MATERIALIZED (SELECT item_id AS src, nxt AS dst, count(*) AS n
         |          FROM ordv WHERE nxt IS NOT NULL AND nxt <> item_id GROUP BY 1, 2),
         |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
         |h0 AS MATERIALIZED (SELECT id, 1048576::BIGINT AS s FROM nodes),
         |${hitsSteps(4)}
         |SELECT a4.id AS item_id, a4.s AS authority_scaled,
         |       round(a4.s / 1048576.0, 5) AS authority,
         |       round(coalesce(h4.s, 0) / 1048576.0, 5) AS hub
         |FROM a4 LEFT JOIN h4 USING (id)
         |ORDER BY a4.s DESC, item_id LIMIT 20""".stripMargin,
    "item_pagerank" ->
      s"""WITH ui AS (SELECT DISTINCT user_id,
         |                   json_extract_string(props, '$$.k')::BIGINT AS item_id
         |            FROM events
         |            WHERE event_type IN ('view', 'click', 'purchase')
         |              AND json_extract_string(props, '$$.k') IS NOT NULL),
         |bk AS (SELECT user_id, count(*) AS basket FROM ui GROUP BY 1),
         |capped AS (SELECT ui.user_id, ui.item_id FROM ui
         |           JOIN bk USING (user_id) WHERE bk.basket <= 500),
         |edges AS (SELECT DISTINCT a.item_id AS src, b.item_id AS dst
         |          FROM capped a JOIN capped b USING (user_id)
         |          WHERE a.item_id <> b.item_id),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |nodes AS (SELECT DISTINCT item_id FROM capped),
         |r0 AS (SELECT item_id, 17179869184::BIGINT AS r FROM nodes),
         |${pagerankSteps(8)}
         |SELECT item_id, r AS rank_scaled,
         |       round(r / 17179869184.0, 6) AS rank
         |FROM r8 ORDER BY rank_scaled DESC, item_id LIMIT 25""".stripMargin,
    // 8 unrolled synchronous peel rounds over the same capped
    // co-engagement edges; final degrees within the surviving core
    "item_kcore" ->
      s"""WITH ui AS (SELECT DISTINCT user_id,
         |                   json_extract_string(props, '$$.k')::BIGINT AS item_id
         |            FROM events
         |            WHERE event_type IN ('view', 'click', 'purchase')
         |              AND json_extract_string(props, '$$.k') IS NOT NULL),
         |bk AS (SELECT user_id, count(*) AS basket FROM ui GROUP BY 1),
         |capped AS (SELECT ui.user_id, ui.item_id FROM ui
         |           JOIN bk USING (user_id) WHERE bk.basket <= 500),
         |edges AS (SELECT DISTINCT a.item_id AS src, b.item_id AS dst
         |          FROM capped a JOIN capped b USING (user_id)
         |          WHERE a.item_id <> b.item_id),
         |a0 AS (SELECT DISTINCT item_id FROM capped),
         |${kcoreSteps(8, 8)}
         |SELECT e.src AS item_id, count(*) AS core_degree FROM edges e
         |JOIN a8 t ON t.item_id = e.dst
         |WHERE e.src IN (SELECT item_id FROM a8)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "item_communities" ->
      s"""WITH ui AS (SELECT DISTINCT user_id,
         |                   json_extract_string(props, '$$.k')::BIGINT AS item_id
         |            FROM events
         |            WHERE event_type IN ('view', 'click', 'purchase')
         |              AND json_extract_string(props, '$$.k') IS NOT NULL),
         |bk AS (SELECT user_id, count(*) AS basket FROM ui GROUP BY 1),
         |capped AS (SELECT ui.user_id, ui.item_id FROM ui
         |           JOIN bk USING (user_id) WHERE bk.basket <= 500),
         |edges AS (SELECT DISTINCT a.item_id AS src, b.item_id AS dst
         |          FROM capped a JOIN capped b USING (user_id)
         |          WHERE a.item_id <> b.item_id),
         |l0 AS (SELECT DISTINCT item_id, item_id AS lab FROM capped),
         |${lpaSteps(4)},
         |sz AS (SELECT lab, count(*) AS community_size FROM l4 GROUP BY 1)
         |SELECT l4.item_id, l4.lab AS community, sz.community_size
         |FROM l4 JOIN sz USING (lab) ORDER BY l4.item_id""".stripMargin,
    "item_hubs" ->
      s"""WITH ui AS (SELECT DISTINCT user_id,
         |                   json_extract_string(props, '$$.k')::BIGINT AS item_id
         |            FROM events
         |            WHERE event_type IN ('view', 'click', 'purchase')
         |              AND json_extract_string(props, '$$.k') IS NOT NULL),
         |bk AS (SELECT user_id, count(*) AS basket FROM ui GROUP BY 1),
         |capped AS (SELECT ui.user_id, ui.item_id FROM ui
         |           JOIN bk USING (user_id) WHERE bk.basket <= 500),
         |edges AS (SELECT DISTINCT a.item_id AS src, b.item_id AS dst
         |          FROM capped a JOIN capped b USING (user_id)
         |          WHERE a.item_id <> b.item_id),
         |tot AS (SELECT count(*) AS total_edges FROM edges)
         |SELECT src AS item_id, count(*) AS degree,
         |       count(*) / tot.total_edges AS degree_share
         |FROM edges, tot GROUP BY 1, tot.total_edges
         |ORDER BY degree DESC, item_id LIMIT 20""".stripMargin,
    "source_quality_report" ->
      """WITH q AS (SELECT doc_id, length(text)::BIGINT AS len_chars,
        |  len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')) AS ttr,
        |  len(list_filter(string_split(text, ' '), x -> list_contains(['the', 'a'], x)))
        |    / len(string_split(text, ' ')) AS stop_ratio
        |  FROM documents),
        |c AS (SELECT
        |  round(quantile_cont(len_chars, 0.25), 5) AS l1, round(quantile_cont(len_chars, 0.5), 5) AS l2,
        |  round(quantile_cont(len_chars, 0.75), 5) AS l3,
        |  round(quantile_cont(ttr, 0.25), 5) AS t1, round(quantile_cont(ttr, 0.5), 5) AS t2,
        |  round(quantile_cont(ttr, 0.75), 5) AS t3,
        |  round(quantile_cont(stop_ratio, 0.25), 5) AS s1, round(quantile_cont(stop_ratio, 0.5), 5) AS s2,
        |  round(quantile_cont(stop_ratio, 0.75), 5) AS s3
        |  FROM q),
        |b AS (SELECT doc_id, len_chars,
        |  (1 + (len_chars > l1)::INT + (len_chars > l2)::INT + (len_chars > l3)::INT)
        |  + (1 + (ttr > t1)::INT + (ttr > t2)::INT + (ttr > t3)::INT)
        |  + (1 + (stop_ratio > s1)::INT + (stop_ratio > s2)::INT + (stop_ratio > s3)::INT) AS composite
        |  FROM q, c)
        |SELECT d.source, count(*) AS n_docs,
        |       sum(b.composite) / count(*) AS mean_composite,
        |       sum(CASE WHEN b.composite >= 9 THEN 1 ELSE 0 END) / count(*) AS high_frac,
        |       sum(CASE WHEN b.composite <= 5 THEN 1 ELSE 0 END) / count(*) AS low_frac,
        |       sum(b.len_chars) / count(*) AS mean_chars
        |FROM b JOIN documents d USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_daily_active" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
        |fs AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1),
        |d AS (SELECT day, count(*) AS n_active FROM ud GROUP BY 1),
        |nw AS (SELECT first_day AS day, count(*) AS n_new FROM fs GROUP BY 1)
        |SELECT (d.day * 86400000)::BIGINT AS day_ms, n_active,
        |       coalesce(n_new, 0)::BIGINT AS n_new,
        |       (n_active - coalesce(n_new, 0))::BIGINT AS n_returning,
        |       sum(coalesce(n_new, 0)) OVER (ORDER BY d.day
        |         ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_users
        |FROM d LEFT JOIN nw USING (day) ORDER BY day_ms""".stripMargin,
    "quality_composite" ->
      """WITH q AS (SELECT doc_id, length(text)::BIGINT AS len_chars,
        |  len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')) AS ttr,
        |  len(list_filter(string_split(text, ' '), x -> list_contains(['the', 'a'], x)))
        |    / len(string_split(text, ' ')) AS stop_ratio
        |  FROM documents),
        |c AS (SELECT
        |  round(quantile_cont(len_chars, 0.25), 5) AS l1, round(quantile_cont(len_chars, 0.5), 5) AS l2,
        |  round(quantile_cont(len_chars, 0.75), 5) AS l3,
        |  round(quantile_cont(ttr, 0.25), 5) AS t1, round(quantile_cont(ttr, 0.5), 5) AS t2,
        |  round(quantile_cont(ttr, 0.75), 5) AS t3,
        |  round(quantile_cont(stop_ratio, 0.25), 5) AS s1, round(quantile_cont(stop_ratio, 0.5), 5) AS s2,
        |  round(quantile_cont(stop_ratio, 0.75), 5) AS s3
        |  FROM q),
        |b AS (SELECT doc_id, len_chars, ttr, stop_ratio,
        |  (1 + (len_chars > l1)::INT + (len_chars > l2)::INT + (len_chars > l3)::INT)::BIGINT AS q_len,
        |  (1 + (ttr > t1)::INT + (ttr > t2)::INT + (ttr > t3)::INT)::BIGINT AS q_ttr,
        |  (1 + (stop_ratio > s1)::INT + (stop_ratio > s2)::INT + (stop_ratio > s3)::INT)::BIGINT AS q_stop
        |  FROM q, c)
        |SELECT doc_id, len_chars, ttr, stop_ratio, q_len, q_ttr, q_stop,
        |       (q_len + q_ttr + q_stop)::BIGINT AS composite
        |FROM b ORDER BY doc_id""".stripMargin,
    // truth = the df-capped exact-jaccard pairs; detection = the
    // UNverified any-band minhash candidates with their estimates
    // one shared truth frame + signature build; per band width a
    // blocked self-join and exact counts
    "minhash_band_sweep" -> {
      val widths = Seq(1, 2, 4, 8)
      val legs = widths.map { r =>
        s"""bands0$r AS (SELECT doc_id, i // $r AS band, string_agg(mh, '' ORDER BY i) AS bv
           |            FROM hs GROUP BY 1, 2),
           |bhot$r AS (SELECT band, bv FROM bands0$r GROUP BY 1, 2 HAVING count(*) > 1000),
           |bands$r AS (SELECT * FROM bands0$r ANTI JOIN bhot$r USING (band, bv)),
           |cand$r AS MATERIALIZED (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |         FROM bands$r a JOIN bands$r b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)""".stripMargin
      }.mkString(",\n")
      val rows = widths.map { r =>
        s"""SELECT ${r}::BIGINT AS rows_per_band, ${16 / r}::BIGINT AS n_bands,
           |  (SELECT count(*) FROM cand$r)::BIGINT AS n_candidates,
           |  (SELECT count(*) FROM truth)::BIGINT AS n_truth,
           |  (SELECT count(*) FROM truth t JOIN cand$r c ON c.a_id = t.a_id AND c.b_id = t.b_id)::BIGINT AS n_found,
           |  CASE WHEN (SELECT count(*) FROM truth) = 0 THEN 0.0
           |       ELSE round((SELECT count(*) FROM truth t JOIN cand$r c ON c.a_id = t.a_id AND c.b_id = t.b_id)
           |                  / (SELECT count(*) FROM truth), 5) END AS recall""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH $cappedShingleCtes,
         |szc AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY 1),
         |interc AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |           FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2),
         |truth AS MATERIALIZED (SELECT a_id, b_id
         |          FROM interc JOIN szc sa ON sa.doc_id = a_id
         |                      JOIN szc sb ON sb.doc_id = b_id
         |          WHERE round(inter / (sa.sz + sb.sz - inter), 5) >= 0.8),
         |hs AS MATERIALIZED (SELECT doc_id, i,
         |              min(substr(md5((i // 4)::VARCHAR || '|' || shingle), (i % 4) * 8 + 1, 8)) AS mh
         |       FROM shd CROSS JOIN range(16) r(i) GROUP BY 1, 2),
         |$legs
         |SELECT * FROM ($rows) ORDER BY rows_per_band""".stripMargin
    },
    // the flood gate priced: one min-occupancy-tagged pair frame
    // (buckets over the largest cap can never contribute), per cap a
    // filter + recall against the exact-Jaccard truth
    "minhash_cap_sweep" -> {
      val caps = Seq(2L, 8L, 64L, 1000L)
      val rows = caps.map { c =>
        s"""SELECT ${c}::BIGINT AS bucket_cap,
           |  (SELECT count(*) FROM mpairs WHERE min_occ <= $c)::BIGINT AS n_candidates,
           |  (SELECT count(*) FROM truth)::BIGINT AS n_truth,
           |  (SELECT count(*) FROM truth t JOIN mpairs p ON p.a_id = t.a_id AND p.b_id = t.b_id
           |   WHERE p.min_occ <= $c)::BIGINT AS n_found,
           |  CASE WHEN (SELECT count(*) FROM truth) = 0 THEN 0.0
           |       ELSE round((SELECT count(*) FROM truth t JOIN mpairs p ON p.a_id = t.a_id AND p.b_id = t.b_id
           |                   WHERE p.min_occ <= $c)
           |                  / (SELECT count(*) FROM truth), 5) END AS recall""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH $cappedShingleCtes,
         |szc AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY 1),
         |interc AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |           FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2),
         |truth AS MATERIALIZED (SELECT a_id, b_id
         |          FROM interc JOIN szc sa ON sa.doc_id = a_id
         |                      JOIN szc sb ON sb.doc_id = b_id
         |          WHERE round(inter / (sa.sz + sb.sz - inter), 5) >= 0.8),
         |hs AS MATERIALIZED (SELECT doc_id, i,
         |              min(substr(md5((i // 4)::VARCHAR || '|' || shingle), (i % 4) * 8 + 1, 8)) AS mh
         |       FROM shd CROSS JOIN range(16) r(i) GROUP BY 1, 2),
         |bands0 AS (SELECT doc_id, i // 2 AS band, string_agg(mh, '' ORDER BY i) AS bv
         |           FROM hs GROUP BY 1, 2),
         |occ AS (SELECT band, bv, count(*) AS df FROM bands0 GROUP BY 1, 2
         |        HAVING count(*) <= 1000),
         |bd AS (SELECT b.doc_id, b.band, b.bv, o.df
         |       FROM bands0 b JOIN occ o ON o.band = b.band AND o.bv = b.bv),
         |mpairs AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id, min(a.df) AS min_occ
         |          FROM bd a JOIN bd b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT * FROM ($rows) ORDER BY bucket_cap""".stripMargin
    },
    "minhash_recall_eval" ->
      s"""WITH $cappedShingleCtes,
         |szc AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY 1),
         |interc AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |           FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2),
         |truth AS (SELECT a_id, b_id,
         |                 round(inter / (sa.sz + sb.sz - inter), 5) AS jaccard
         |          FROM interc JOIN szc sa ON sa.doc_id = a_id
         |                      JOIN szc sb ON sb.doc_id = b_id
         |          WHERE round(inter / (sa.sz + sb.sz - inter), 5) >= 0.8),
         |hs AS (SELECT doc_id, i,
         |              min(substr(md5((i // 4)::VARCHAR || '|' || shingle), (i % 4) * 8 + 1, 8)) AS mh
         |       FROM shd CROSS JOIN range(16) r(i) GROUP BY 1, 2),
         |bands0 AS (SELECT doc_id, i // 2 AS band, string_agg(mh, '' ORDER BY i) AS bv
         |           FROM hs GROUP BY 1, 2),
         |bhot AS (SELECT band, bv FROM bands0 GROUP BY 1, 2 HAVING count(*) > 1000),
         |bands AS (SELECT * FROM bands0 ANTI JOIN bhot USING (band, bv)),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |         FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |est AS (SELECT c.a_id, c.b_id,
         |               round(avg(CASE WHEN x.mh = y.mh THEN 1.0 ELSE 0.0 END), 5) AS est_jaccard
         |        FROM cand c JOIN hs x ON x.doc_id = c.a_id
         |        JOIN hs y ON y.doc_id = c.b_id AND y.i = x.i GROUP BY 1, 2)
         |SELECT t.a_id, t.b_id, t.jaccard,
         |       e.est_jaccard IS NOT NULL AS found, e.est_jaccard
         |FROM truth t LEFT JOIN est e ON e.a_id = t.a_id AND e.b_id = t.b_id
         |ORDER BY t.a_id, t.b_id""".stripMargin,
    // hash split + shared LSH blocking + exact verify + witness window
    "decontaminate_semantic" ->
      s"""WITH $lshBlockCtes,
         |p AS (SELECT c.a_id, c.b_id, ${cos5("a.embedding", "b.embedding")} AS score
         |      FROM cand c JOIN embeddings a ON a.vec_id = c.a_id
         |                  JOIN embeddings b ON b.vec_id = c.b_id
         |      WHERE ${cos5("a.embedding", "b.embedding")} >= 0.4),
         |o AS (SELECT CASE WHEN substr(md5(a_id::VARCHAR), 1, 4) < '1999' THEN a_id ELSE b_id END AS eval_id,
         |             CASE WHEN substr(md5(a_id::VARCHAR), 1, 4) < '1999' THEN b_id ELSE a_id END AS train_id,
         |             score FROM p),
         |f AS (SELECT * FROM o WHERE substr(md5(eval_id::VARCHAR), 1, 4) < '1999'
         |                        AND substr(md5(train_id::VARCHAR), 1, 4) >= '1999'),
         |r AS (SELECT eval_id, train_id, score,
         |             row_number() OVER (PARTITION BY eval_id ORDER BY score DESC, train_id) AS rk
         |      FROM f)
         |SELECT eval_id, train_id, score FROM r WHERE rk = 1 ORDER BY eval_id""".stripMargin,
    // sign signatures assembled like the simhash oracle (per-bit
    // HUGEINT sum with the bit-63 two's-complement arm), hamming
    // shortlist cut at (hamming, vec_id), exact-cosine rerank — the
    // whole binary-flat search replayed end-to-end
    "ann_binary_topk" ->
      s"""WITH sig AS (SELECT vec_id, CAST(sum(CASE WHEN embedding[b + 1] > 0 THEN
         |         CASE WHEN b = 63 THEN -9223372036854775808::HUGEINT ELSE (1::BIGINT << b)::HUGEINT END
         |       ELSE 0::HUGEINT END) AS BIGINT) AS sig
         |     FROM embeddings, range(64) r(b) GROUP BY 1),
         |q AS (SELECT sig AS qsig FROM sig WHERE vec_id = 0),
         |sh AS (SELECT s.vec_id, bit_count(xor(s.sig, q.qsig))::BIGINT AS hamming
         |       FROM sig s, q WHERE s.vec_id <> 0
         |       ORDER BY hamming, s.vec_id LIMIT 50),
         |qe AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT sh.vec_id, sh.hamming, ${cos5("e.embedding", "qe.qv")} AS score
         |FROM sh JOIN embeddings e ON e.vec_id = sh.vec_id, qe
         |ORDER BY score DESC, sh.vec_id LIMIT 10""".stripMargin,
    // the oracle recomputes every statistic from the BMP fixture's
    // GENERATIVE formula (dims, closed-form file size, per-pixel
    // Rec.601 luminance) — Spark got them by DECODING the real bytes
    // through ImageIO, so any writer/decoder layout disagreement
    // (row stride, padding, BGR order, header offsets) fails the hash
    "media_quality_report" ->
      """WITH ids AS (
        |  SELECT doc_id AS media_id,
        |         (4 + (doc_id % 13))::INT AS w,
        |         (4 + (doc_id % 9))::INT AS h
        |  FROM documents WHERE doc_id % 7 = 0),
        |px AS (
        |  SELECT i.media_id, i.w, i.h,
        |         ((((i.media_id*13 + 41*xs.x + 17*ys.y) % 256) * 299
        |         + ((i.media_id*11 + 29*xs.x + 47*ys.y) % 256) * 587
        |         + ((i.media_id*7 + 53*xs.x + 31*ys.y) % 256) * 114) // 1000) AS lum
        |  FROM ids i,
        |       LATERAL (SELECT unnest(range(i.w)) AS x) xs,
        |       LATERAL (SELECT unnest(range(i.h)) AS y) ys),
        |bins AS (
        |  SELECT media_id, w, h, lum // 16 AS bin,
        |         count(*)::BIGINT AS c, sum(lum)::BIGINT AS lsum
        |  FROM px GROUP BY 1, 2, 3, 4),
        |agg AS (
        |  SELECT media_id, w, h, (w::BIGINT * h) AS n_pixels,
        |         sum(lsum)::BIGINT AS lum_sum,
        |         sum(-(c / (w::BIGINT*h)) * log2(c / (w::BIGINT*h))) AS ent
        |  FROM bins GROUP BY 1, 2, 3)
        |SELECT media_id, w AS width, h AS height,
        |       (54 + h * ((3*w + 3) // 4 * 4))::BIGINT AS n_bytes,
        |       n_pixels, lum_sum,
        |       floor(lum_sum / n_pixels * 100000 + 0.5) / 100000 + 0.0 AS lum_mean,
        |       floor(ent * 100000 + 0.5) / 100000 + 0.0 AS lum_entropy,
        |       (w >= 8 AND h >= 6 AND floor(ent * 100000 + 0.5) / 100000 >= 3.0) AS quality_ok
        |FROM agg ORDER BY media_id""".stripMargin,
    // the oracle recomputes every clip statistic from the PCM
    // fixture's GENERATIVE formula (three-zone sample values, 256-
    // sample frames, exact Σ s16² energy, sqrt-over-exact-integers
    // silence decisions) — Spark got them by FRAMING the real bytes
    // through pcmFrameStats, so any byte-order/sign/stride
    // disagreement in writer or reader fails the hash
    "audio_activity_report" ->
      """WITH ids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id % 11 = 0),
        |p AS (SELECT media_id,
        |             (media_id % 4) * 256 AS lead_s,
        |             300 + media_id % 213 AS active_s,
        |             (media_id % 3) * 256 AS trail_s
        |      FROM ids),
        |p2 AS (SELECT media_id, lead_s, active_s,
        |              lead_s + active_s + trail_s AS n_samples FROM p),
        |samp AS (SELECT media_id, n_samples, r.i AS i,
        |                CASE WHEN r.i < lead_s OR r.i >= lead_s + active_s THEN 0
        |                     ELSE (37 * media_id + 73 * r.i) % 20001 - 10000 END AS s
        |         FROM p2, LATERAL (SELECT unnest(range(p2.n_samples)) AS i) r),
        |fr AS (SELECT media_id, n_samples, i // 256 AS f,
        |              count(*) AS n, sum(s * s) AS ssq, max(abs(s)) AS pk
        |       FROM samp GROUP BY 1, 2, 3),
        |fs AS (SELECT *, sqrt(ssq / (n * 32768.0 * 32768.0)) < 0.001 AS silent FROM fr),
        |agg AS (SELECT media_id, max(n_samples) AS n_samples, count(*) AS n_frames,
        |               count(*) FILTER (WHERE NOT silent) AS n_active,
        |               sum(ssq) AS energy_ssq, max(pk) AS peak_abs,
        |               min(f) FILTER (WHERE NOT silent) AS first_active,
        |               max(f) FILTER (WHERE NOT silent) AS last_active
        |        FROM fs GROUP BY 1)
        |SELECT media_id, n_samples::BIGINT AS n_samples, n_frames::BIGINT AS n_frames,
        |       n_active::BIGINT AS n_active, energy_ssq::BIGINT AS energy_ssq,
        |       peak_abs::BIGINT AS peak_abs,
        |       floor(n_active / n_frames * 100000 + 0.5) / 100000 + 0.0 AS activity_ratio,
        |       coalesce(first_active, n_frames)::BIGINT AS trim_lead_frames,
        |       (CASE WHEN first_active IS NULL THEN 0
        |             ELSE n_frames - 1 - last_active END)::BIGINT AS trim_trail_frames
        |FROM agg ORDER BY media_id""".stripMargin,
    // per-row reconstruction errors as term-for-term mirrored
    // algebraic expansions (sq8 decode, pq assignment min-distance
    // via the refit codebooks, alpha*sign binary), rounded per row
    // before the avg/max fold; pq subspace minima fold in s order
    "quant_error_report" ->
      s"""WITH RECURSIVE
         |$pqFitCtes,
         |ed AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings),
         |dm AS (SELECT len(emb) AS dim FROM ed LIMIT 1),
         |stt AS (SELECT min(list_min(emb)) AS mn, max(list_max(emb)) AS mx FROM ed),
         |al AS (SELECT round(sum(list_sum(list_transform(emb, x -> abs(x)))) / (count(*) * (SELECT dim FROM dm)), 5) AS alpha FROM ed),
         |pqe AS MATERIALIZED (
         |  SELECT vec_id, round(list_sum(list(md ORDER BY s)), 5) AS e_pq FROM (
         |    SELECT sv.vec_id, sv.s,
         |           min(list_dot_product(sv.v, sv.v) + list_sum(list_transform(b.centroid, x -> x * x)) - 2.0 * list_dot_product(sv.v, b.centroid)) AS md
         |    FROM sv JOIN books b ON b.s = sv.s GROUP BY 1, 2)
         |  GROUP BY vec_id),
         |rowe AS (SELECT ed.vec_id, emb,
         |    list_dot_product(emb, emb) AS sxx,
         |    list_sum(emb) AS sx,
         |    list_sum(list_transform(emb, x -> abs(x))) AS sabs,
         |    list_transform(emb, x -> CASE WHEN stt.mx > stt.mn
         |      THEN least(floor((x - stt.mn) / (stt.mx - stt.mn) * 256), 255.0)
         |      ELSE 0.0 END) AS codes
         |  FROM ed, stt),
         |sq8e AS MATERIALIZED (SELECT vec_id,
         |    round(sxx
         |      - 2.0 * (stt.mn * sx + ((stt.mx - stt.mn) / 256) * (list_dot_product(emb, codes) + 0.5 * sx))
         |      + (dm.dim * stt.mn * stt.mn
         |         + 2 * stt.mn * ((stt.mx - stt.mn) / 256) * (list_sum(codes) + 0.5 * dm.dim)
         |         + ((stt.mx - stt.mn) / 256) * ((stt.mx - stt.mn) / 256) * (list_dot_product(codes, codes) + list_sum(codes) + 0.25 * dm.dim)), 5) AS e_sq8,
         |    round(sxx - 2.0 * al.alpha * sabs + dm.dim * al.alpha * al.alpha, 5) AS e_bin
         |  FROM rowe, stt, al, dm)
         |SELECT * FROM (
         |  SELECT 'binary' AS family, (dim // 8)::BIGINT AS bytes_per_vec,
         |         (SELECT round(avg(e_bin), 5) FROM sq8e) AS mean_sq_err, (SELECT max(e_bin) FROM sq8e) AS max_sq_err FROM dm
         |  UNION ALL SELECT 'float32', (4 * dim)::BIGINT, 0.0, 0.0 FROM dm
         |  UNION ALL SELECT 'pq', 8::BIGINT, (SELECT round(avg(e_pq), 5) FROM pqe), (SELECT max(e_pq) FROM pqe)
         |  UNION ALL SELECT 'sq8', dim::BIGINT, (SELECT round(avg(e_sq8), 5) FROM sq8e), (SELECT max(e_sq8) FROM sq8e) FROM dm
         |) ORDER BY family""".stripMargin,
    // list-comprehension n-grams exactly like the doc_repetition
    // oracle; dup fractions are pure list arithmetic, only the
    // top-trigram count aggregates
    "doc_ngram_coverage" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id,
        |             CASE WHEN len(toks) >= 3 THEN [array_to_string(toks[i+1:i+3], ' ') for i in range(len(toks) - 2)] ELSE []::VARCHAR[] END AS g3,
        |             CASE WHEN len(toks) >= 5 THEN [array_to_string(toks[i+1:i+5], ' ') for i in range(len(toks) - 4)] ELSE []::VARCHAR[] END AS g5,
        |             CASE WHEN len(toks) >= 10 THEN [array_to_string(toks[i+1:i+10], ' ') for i in range(len(toks) - 9)] ELSE []::VARCHAR[] END AS g10
        |      FROM t),
        |base AS (SELECT doc_id, len(g3)::BIGINT AS n_3grams,
        |                CASE WHEN len(g5) > 0 THEN (len(g5) - len(list_distinct(g5)))::BIGINT / len(g5)::BIGINT ELSE 0.0 END AS dup_5gram_frac,
        |                CASE WHEN len(g10) > 0 THEN (len(g10) - len(list_distinct(g10)))::BIGINT / len(g10)::BIGINT ELSE 0.0 END AS dup_10gram_frac
        |         FROM g),
        |ex AS (SELECT doc_id, unnest(g3) AS g FROM g),
        |cnt AS (SELECT doc_id, g, count(*) AS c FROM ex GROUP BY 1, 2),
        |top AS (SELECT doc_id, max(c) AS top_3gram_n FROM cnt GROUP BY 1)
        |SELECT b.doc_id, n_3grams, coalesce(top_3gram_n, 0)::BIGINT AS top_3gram_n,
        |       CASE WHEN n_3grams > 0 THEN coalesce(top_3gram_n, 0) / n_3grams ELSE 0.0 END AS top_3gram_share,
        |       dup_5gram_frac, dup_10gram_frac
        |FROM base b LEFT JOIN top USING (doc_id) ORDER BY doc_id""".stripMargin,
    // exact BIGINT regression moments over recentered day offsets;
    // the one float op is the final slope division
    "events_trend" ->
      """WITH daily AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day, count(*) AS n
        |               FROM events GROUP BY 1, 2),
        |d0 AS (SELECT min(day) AS day0 FROM daily),
        |p AS (SELECT event_type, day - day0 AS x, n AS y FROM daily, d0)
        |SELECT event_type, count(*) AS n_days, sum(y)::BIGINT AS total,
        |       CASE WHEN count(*) * sum(x * x) - sum(x) * sum(x) = 0 THEN NULL
        |            ELSE round((count(*) * sum(x * y) - sum(x) * sum(y)) /
        |                       (count(*) * sum(x * x) - sum(x) * sum(x)), 5) + 0.0 END AS slope_per_day
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    // lagged pairs via integer-keyed self-equi-join of the hourly
    // rollup (gaps make no pair); Pearson r from exact BIGINT moments
    "events_acf" ->
      """WITH h AS (SELECT event_type, epoch_ms(ts) // 3600000 AS hour, count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type, l.lag, a.n AS x, b.n AS y
        |      FROM h a CROSS JOIN (SELECT unnest([1, 24])::BIGINT AS lag) l
        |      JOIN h b ON b.event_type = a.event_type AND b.hour = a.hour + l.lag)
        |SELECT event_type, lag, count(*) AS n_pairs,
        |       CASE WHEN count(*) * sum(x * x) - sum(x) * sum(x) = 0
        |              OR count(*) * sum(y * y) - sum(y) * sum(y) = 0 THEN NULL
        |            ELSE round((count(*) * sum(x * y) - sum(x) * sum(y)) /
        |                       sqrt((count(*) * sum(x * x) - sum(x) * sum(x)) *
        |                            (count(*) * sum(y * y) - sum(y) * sum(y))), 5) + 0.0 END AS acf
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // same capped baskets as item_cooc; jaccard = co/(sa+sb−co) from
    // exact counts, rounded once; per-item rank cut
    "item_jaccard" ->
      """WITH ui AS (SELECT DISTINCT user_id,
        |                   json_extract_string(props, '$.k')::BIGINT AS item_id
        |            FROM events
        |            WHERE event_type IN ('view', 'click', 'purchase')
        |              AND json_extract_string(props, '$.k') IS NOT NULL),
        |deg AS (SELECT user_id, count(*) AS basket FROM ui GROUP BY 1),
        |capped AS (SELECT ui.user_id, ui.item_id FROM ui
        |           JOIN deg USING (user_id) WHERE deg.basket <= 500),
        |supp AS (SELECT item_id, count(*) AS supp FROM capped GROUP BY 1),
        |pairs AS (SELECT a.item_id, b.item_id AS rec_item_id, count(*) AS co
        |          FROM capped a JOIN capped b USING (user_id)
        |          WHERE a.item_id <> b.item_id GROUP BY 1, 2
        |          HAVING count(*) >= 2),
        |sc AS (SELECT p.item_id, p.rec_item_id, p.co,
        |              round(p.co / (sa.supp + sb.supp - p.co), 5) AS jaccard
        |       FROM pairs p JOIN supp sa ON sa.item_id = p.item_id
        |                    JOIN supp sb ON sb.item_id = p.rec_item_id)
        |SELECT item_id, rec_item_id, co, jaccard,
        |       row_number() OVER (PARTITION BY item_id
        |                          ORDER BY jaccard DESC, rec_item_id) AS rk
        |FROM sc QUALIFY rk <= 5 ORDER BY item_id, rk""".stripMargin,
    // the radius cut applies to the ROUNDED score, so the boundary
    // replays bit-for-bit; result ordered, unbounded by design
    "vs_range_search" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |s AS (SELECT e.vec_id, ${cos5("e.embedding", "q.qv")} AS score
         |      FROM embeddings e, q WHERE e.vec_id <> 0)
         |SELECT vec_id, score FROM s WHERE score >= 0.25
         |ORDER BY score DESC, vec_id""".stripMargin,
    // same capped baskets as item_jaccard; PMI = ln(co*N/(sa*sb))
    // with every count exact and ln the single float op
    "item_pmi" ->
      """WITH ui AS (SELECT DISTINCT user_id,
        |                   json_extract_string(props, '$.k')::BIGINT AS item_id
        |            FROM events
        |            WHERE event_type IN ('view', 'click', 'purchase')
        |              AND json_extract_string(props, '$.k') IS NOT NULL),
        |deg AS (SELECT user_id, count(*) AS basket FROM ui GROUP BY 1),
        |capped AS (SELECT ui.user_id, ui.item_id FROM ui
        |           JOIN deg USING (user_id) WHERE deg.basket <= 500),
        |nu AS (SELECT count(DISTINCT user_id) AS n_users FROM capped),
        |supp AS (SELECT item_id, count(*) AS supp FROM capped GROUP BY 1),
        |pairs AS (SELECT a.item_id, b.item_id AS rec_item_id, count(*) AS co
        |          FROM capped a JOIN capped b USING (user_id)
        |          WHERE a.item_id <> b.item_id GROUP BY 1, 2
        |          HAVING count(*) >= 2),
        |sc AS (SELECT p.item_id, p.rec_item_id, p.co,
        |              round(ln(p.co * nu.n_users / (sa.supp * sb.supp)::DOUBLE), 5) + 0.0 AS pmi
        |       FROM pairs p JOIN supp sa ON sa.item_id = p.item_id
        |                    JOIN supp sb ON sb.item_id = p.rec_item_id, nu)
        |SELECT item_id, rec_item_id, co, pmi,
        |       row_number() OVER (PARTITION BY item_id
        |                          ORDER BY pmi DESC, rec_item_id) AS rk
        |FROM sc QUALIFY rk <= 5 ORDER BY item_id, rk""".stripMargin,
    // integer calendar keys: dow = (epoch_day + 3) mod 7 (Monday = 0),
    // hod = epoch_hour mod 24 — no timezone surface
    "events_seasonality" ->
      """WITH c AS (SELECT event_type,
        |                  (epoch_ms(ts) // 86400000 + 3) % 7 AS dow,
        |                  (epoch_ms(ts) // 3600000) % 24 AS hod,
        |                  count(*) AS n_events
        |           FROM events GROUP BY 1, 2, 3)
        |SELECT event_type, dow, hod, n_events,
        |       round(n_events / sum(n_events) OVER (PARTITION BY event_type), 5) AS share
        |FROM c ORDER BY event_type, dow, hod""".stripMargin,
    // one distinct (user,week) frame feeds first-seen, prior-week
    // presence (equi-join on week-1) and the churn anti-join
    "user_lifecycle" ->
      """WITH d AS (SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS week FROM events),
        |f AS (SELECT user_id, min(week) AS first_week FROM d GROUP BY 1),
        |c AS (SELECT d.user_id, d.week, f.first_week, p.user_id AS prev_u
        |      FROM d JOIN f USING (user_id)
        |      LEFT JOIN d p ON p.user_id = d.user_id AND p.week = d.week - 1),
        |fl AS (SELECT week, count(*) AS n_active,
        |              count(*) FILTER (week = first_week) AS n_new,
        |              count(*) FILTER (week <> first_week AND prev_u IS NOT NULL) AS n_retained,
        |              count(*) FILTER (week <> first_week AND prev_u IS NULL) AS n_resurrected
        |       FROM c GROUP BY 1),
        |ch AS (SELECT a.week + 1 AS week, count(*) AS n_churned
        |       FROM d a ANTI JOIN d b ON b.user_id = a.user_id AND b.week = a.week + 1
        |       GROUP BY 1)
        |SELECT fl.week * 604800000 AS week_ms, n_active, n_new, n_retained,
        |       n_resurrected, coalesce(ch.n_churned, 0) AS n_churned
        |FROM fl LEFT JOIN ch USING (week) ORDER BY week_ms""".stripMargin,
    // leave-last-out: holdout = rk1 by (last_ts DESC, item DESC), co
    // integer-scaled cosine (floor(co*1e5/sqrt(na*nb)) — IEEE sqrt is
    // correctly rounded on both engines, everything after the floor
    // is BIGINT), df-capped similarity join, both windows replayed
    "rec_usercf_topk" ->
      """WITH ui AS (SELECT DISTINCT user_id,
        |                   json_extract_string(props, '$.k')::BIGINT AS item_id
        |            FROM events
        |            WHERE event_type IN ('view', 'click', 'purchase')
        |              AND json_extract_string(props, '$.k') IS NOT NULL),
        |bk AS (SELECT user_id, count(*) AS basket FROM ui GROUP BY 1),
        |capped AS (SELECT ui.user_id, ui.item_id, bk.basket FROM ui
        |           JOIN bk USING (user_id) WHERE bk.basket BETWEEN 2 AND 500),
        |colditems AS (SELECT item_id FROM capped GROUP BY 1 HAVING count(*) <= 200),
        |cold AS (SELECT c.* FROM capped c JOIN colditems USING (item_id)),
        |sims AS (SELECT t.user_id AS u, o.user_id AS v,
        |           floor(count(*) * 100000 / sqrt(t.basket * o.basket))::BIGINT AS sim_scaled
        |         FROM cold t JOIN cold o USING (item_id)
        |         WHERE t.user_id % 50 = 0 AND t.user_id <> o.user_id
        |         GROUP BY t.user_id, o.user_id, t.basket, o.basket),
        |nbrs AS (SELECT u, v, sim_scaled,
        |           row_number() OVER (PARTITION BY u ORDER BY sim_scaled DESC, v) AS rk
        |         FROM sims QUALIFY rk <= 20),
        |sc AS (SELECT n.u, c.item_id AS rec_item,
        |         sum(n.sim_scaled)::BIGINT AS score_scaled, count(*)::BIGINT AS n_nbrs
        |       FROM nbrs n JOIN capped c ON c.user_id = n.v
        |       WHERE NOT EXISTS (SELECT 1 FROM capped t
        |                         WHERE t.user_id = n.u AND t.item_id = c.item_id)
        |       GROUP BY 1, 2)
        |SELECT u AS user_id,
        |       row_number() OVER (PARTITION BY u ORDER BY score_scaled DESC, rec_item)::BIGINT AS rank,
        |       rec_item, score_scaled, n_nbrs
        |FROM sc QUALIFY rank <= 10 ORDER BY user_id, rank""".stripMargin,
    // rank-2 ALS replayed end-to-end: hash init, two alternating
    // integer-exact ridge sweeps, exact BIGINT dot scoring, seen items
    // anti-joined out; +0.0 normalizes a tiny-negative score's -0.0
    "rec_als_topk" ->
      s"""WITH $alsCtes,
         |tgt AS (SELECT user_id, f1 AS p1, f2 AS p2 FROM ap2 WHERE user_id % 50 = 0),
         |sc AS (SELECT t.user_id, i.item_id, t.p1 * i.f1 + t.p2 * i.f2 AS score_scaled
         |       FROM tgt t CROSS JOIN aq2 i
         |       WHERE NOT EXISTS (SELECT 1 FROM ar r
         |                         WHERE r.user_id = t.user_id AND r.item_id = i.item_id))
         |SELECT user_id,
         |       row_number() OVER (PARTITION BY user_id
         |                          ORDER BY score_scaled DESC, item_id)::BIGINT AS rank,
         |       item_id, score_scaled,
         |       round(score_scaled / 1e10, 5) + 0.0 AS score
         |FROM sc QUALIFY rank <= 5 ORDER BY user_id, rank""".stripMargin,
    // factor-space neighbors over the replayed trained item factors
    "als_item_similar" ->
      s"""WITH $alsCtes,
         |tgt AS (SELECT item_id, f1 AS t1, f2 AS t2 FROM aq2 WHERE item_id % 10 = 0)
         |SELECT t.item_id,
         |       row_number() OVER (PARTITION BY t.item_id
         |                          ORDER BY t.t1 * i.f1 + t.t2 * i.f2 DESC, i.item_id)::BIGINT AS rank,
         |       i.item_id AS sim_item, t.t1 * i.f1 + t.t2 * i.f2 AS score_scaled
         |FROM tgt t CROSS JOIN aq2 i
         |WHERE i.item_id <> t.item_id
         |QUALIFY rank <= 5 ORDER BY t.item_id, rank""".stripMargin,
    // fold-in replay: base model on strictly-pre-split interactions
    // (same generator, b-prefix), affected users re-solved from their
    // FULL rating rows against the frozen base item factors
    "als_foldin" ->
      s"""WITH asp AS (SELECT max(epoch_ms(ts)) - 86400000 AS split FROM events
         |             WHERE event_type IN ('view', 'click', 'purchase')
         |               AND json_extract_string(props, '$$.k') IS NOT NULL),
         |${alsCtesFor("b", " AND epoch_ms(ts) < (SELECT split FROM asp)")},
         |${alsCtesFor("f", "")},
         |aff AS (SELECT DISTINCT user_id FROM fev
         |        WHERE ts_ms >= (SELECT split FROM asp)),
         |fra AS (SELECT fr.* FROM fr SEMI JOIN aff USING (user_id)),
         |${alsSolveCte("np", "user_id", "item_id", "bq2", "fra")}
         |SELECT a.user_id, p.f1 AS old_f1, p.f2 AS old_f2,
         |       n.f1 AS new_f1, n.f2 AS new_f2,
         |       abs(n.f1 - p.f1) + abs(n.f2 - p.f2) AS l1_delta
         |FROM aff a LEFT JOIN np n USING (user_id)
         |LEFT JOIN bp2 p USING (user_id) ORDER BY a.user_id""".stripMargin,
    // ALS fit vs the global-mean floor: residuals are exact scaled
    // BIGINTs, the squared sum accumulates in HUGEINT (order-free),
    // both RMSEs are single fixed expression trees over exact sums
    "als_fit_report" ->
      s"""WITH $alsCtes,
         |ae AS (SELECT r.user_id, r.item_id, r.r,
         |              r.r * 10000000000 - (p.f1 * q.f1 + p.f2 * q.f2) AS e
         |       FROM ar r JOIN ap2 p USING (user_id) JOIN aq2 q USING (item_id))
         |SELECT count(DISTINCT user_id) AS n_users,
         |       count(DISTINCT item_id) AS n_items,
         |       count(*) AS nnz,
         |       round(sqrt((CAST(sum(r * r) AS DOUBLE)
         |                   - CAST(sum(r) AS DOUBLE) * CAST(sum(r) AS DOUBLE)
         |                     / CAST(count(*) AS DOUBLE))
         |                  / CAST(count(*) AS DOUBLE)), 5) AS rmse_mean,
         |       round(sqrt(CAST(sum(e::HUGEINT * e::HUGEINT) AS DOUBLE)
         |                  / CAST(count(*) AS DOUBLE)) / 1e10, 5) AS rmse_model
         |FROM ae""".stripMargin,
    // fit on train only, the holdout's rank among candidates counted
    // directly (strictly-better + tie-smaller-id), hit@K = rank<=K
    // sequence pairs from one lead()/row_number() pass; the final hop
    // (rn = c-1) is the test case, strictly-earlier pairs train the
    // argmax chain
    "rec_markov_next" ->
      """WITH ev AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
        |                  json_extract_string(props, '$.k')::BIGINT AS item_id
        |           FROM events
        |           WHERE event_type IN ('view', 'click', 'purchase')
        |             AND json_extract_string(props, '$.k') IS NOT NULL),
        |cnt AS (SELECT user_id, count(*) AS c FROM ev GROUP BY 1),
        |sq AS MATERIALIZED (SELECT e.user_id, e.item_id AS src,
        |        lead(e.item_id) OVER (PARTITION BY e.user_id ORDER BY e.ts_ms, e.event_id) AS dst,
        |        row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts_ms, e.event_id) AS rn,
        |        cnt.c
        |      FROM ev e JOIN cnt USING (user_id)
        |      WHERE cnt.c BETWEEN 2 AND 2000 QUALIFY dst IS NOT NULL),
        |m AS (SELECT src, dst, count(*) AS n FROM sq WHERE rn < c - 1 GROUP BY 1, 2),
        |p AS (SELECT src, dst AS pred FROM m
        |      QUALIFY row_number() OVER (PARTITION BY src ORDER BY n DESC, dst) = 1),
        |t AS (SELECT user_id, src, dst FROM sq WHERE rn = c - 1)
        |SELECT count(*) AS n_users,
        |       count(p.pred) AS n_scored,
        |       count(CASE WHEN p.pred = t.dst THEN 1 END) AS n_hits,
        |       CASE WHEN count(p.pred) = 0 THEN 0.0
        |            ELSE round(count(CASE WHEN p.pred = t.dst THEN 1 END) / count(p.pred), 5) END AS hit_rate,
        |       round(count(p.pred) / count(*), 5) AS coverage
        |FROM t LEFT JOIN p USING (src)""".stripMargin,
    "rec_holdout_eval" ->
      s"""WITH $recSplitCtes,
        |co AS (SELECT a.item_id AS src, b.item_id AS dst, count(*) AS co
        |       FROM train a JOIN train b USING (user_id)
        |       WHERE a.item_id <> b.item_id GROUP BY 1, 2),
        |sc0 AS (SELECT t.user_id, c.dst, sum(c.co) AS score
        |        FROM train t JOIN co c ON c.src = t.item_id GROUP BY 1, 2),
        |sc AS (SELECT sc0.* FROM sc0 ANTI JOIN train t
        |       ON t.user_id = sc0.user_id AND t.item_id = sc0.dst),
        |sh AS (SELECT h.user_id, h.h, s.score AS s_h FROM hold h
        |       LEFT JOIN sc s ON s.user_id = h.user_id AND s.dst = h.h),
        |rnk AS (SELECT sh.user_id,
        |               1 + count(*) FILTER (s.score > sh.s_h OR
        |                   (s.score = sh.s_h AND s.dst < sh.h)) AS rnk
        |        FROM sh JOIN sc s ON s.user_id = sh.user_id
        |        WHERE sh.s_h IS NOT NULL GROUP BY 1),
        |ks AS (SELECT unnest([1, 5, 10])::BIGINT AS k),
        |nu AS (SELECT count(*) AS n_users FROM hold),
        |hits AS (SELECT ks.k, count(*) FILTER (r.rnk <= ks.k) AS n_hits
        |         FROM ks LEFT JOIN rnk r ON TRUE GROUP BY 1)
        |SELECT k, nu.n_users, hits.n_hits,
        |       round(hits.n_hits / nu.n_users, 5) AS hit_rate
        |FROM hits, nu ORDER BY k""".stripMargin,
    // the global top-(K+cap) list replayed with the same (pop DESC,
    // item) cut; per-user rank = global position minus own-above
    "rec_pop_baseline" ->
      s"""WITH $recSplitCtes,
         |pop AS (SELECT item_id, count(*) AS pop FROM train GROUP BY 1),
         |gl AS (SELECT item_id, row_number() OVER (ORDER BY pop DESC, item_id) AS gpos
         |       FROM pop ORDER BY pop DESC, item_id LIMIT 510),
         |hp AS (SELECT h.user_id, h.h, gl.gpos AS gpos_h
         |       FROM hold h JOIN gl ON gl.item_id = h.h),
         |own AS (SELECT hp.user_id, hp.gpos_h,
         |               count(*) FILTER (g2.gpos < hp.gpos_h) AS own_above
         |        FROM hp JOIN train t ON t.user_id = hp.user_id
         |        JOIN gl g2 ON g2.item_id = t.item_id
         |        GROUP BY 1, 2),
         |rnk AS (SELECT hp.user_id, hp.gpos_h - coalesce(own.own_above, 0) AS rnk
         |        FROM hp LEFT JOIN own ON own.user_id = hp.user_id
         |                            AND own.gpos_h = hp.gpos_h),
         |ks AS (SELECT unnest([1, 5, 10])::BIGINT AS k),
         |nu AS (SELECT count(*) AS n_users FROM hold),
         |hits AS (SELECT ks.k, count(*) FILTER (r.rnk <= ks.k) AS n_hits
         |         FROM ks LEFT JOIN rnk r ON TRUE GROUP BY 1)
         |SELECT k, nu.n_users, hits.n_hits,
         |       round(hits.n_hits / nu.n_users, 5) AS hit_rate
         |FROM hits, nu ORDER BY k""".stripMargin,
    // exact-cents per-user revenue moments, Welch t + df in the one
    // final double expression — same operation order as the engine
    "experiment_ttest" ->
      """WITH pu AS (SELECT user_id,
        |                   sum(CAST(round(value * 100) AS BIGINT)) AS cents
        |            FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |m AS (SELECT count(*) FILTER (user_id % 2 = 0) AS n_a,
        |             count(*) FILTER (user_id % 2 = 1) AS n_b,
        |             coalesce(sum(cents) FILTER (user_id % 2 = 0), 0) AS sx_a,
        |             coalesce(sum(cents) FILTER (user_id % 2 = 1), 0) AS sx_b,
        |             coalesce(sum(cents * cents) FILTER (user_id % 2 = 0), 0) AS sxx_a,
        |             coalesce(sum(cents * cents) FILTER (user_id % 2 = 1), 0) AS sxx_b
        |      FROM pu),
        |s AS (SELECT n_a, n_b,
        |             sx_a / 100.0 / n_a AS mu_a, sx_b / 100.0 / n_b AS mu_b,
        |             (sxx_a::DOUBLE - sx_a::DOUBLE * sx_a::DOUBLE / n_a) / (n_a - 1) / 10000.0 / n_a AS se2_a,
        |             (sxx_b::DOUBLE - sx_b::DOUBLE * sx_b::DOUBLE / n_b) / (n_b - 1) / 10000.0 / n_b AS se2_b
        |      FROM m)
        |SELECT n_a, n_b, round(mu_a, 5) AS mean_a, round(mu_b, 5) AS mean_b,
        |       round((mu_a - mu_b) / sqrt(se2_a + se2_b), 5) + 0.0 AS t_stat,
        |       round((se2_a + se2_b) * (se2_a + se2_b) /
        |             (se2_a * se2_a / (n_a - 1) + se2_b * se2_b / (n_b - 1)), 3) AS df
        |FROM s""".stripMargin,
    // whitespace words / chars / strlen bytes / ceil(len/4) subtokens,
    // all exact integer sums; the three rates divide once
    "token_fertility" ->
      """SELECT lang, source, count(*) AS n_docs,
        |       sum(len(string_split(text, ' ')))::BIGINT AS n_words,
        |       sum(length(text))::BIGINT AS n_chars,
        |       sum(strlen(text))::BIGINT AS n_bytes,
        |       sum(ceil(length(text) / 4.0)::BIGINT)::BIGINT AS est_subtokens,
        |       round(sum(ceil(length(text) / 4.0)::BIGINT) /
        |             sum(len(string_split(text, ' '))), 5) AS fertility,
        |       round(sum(length(text)) / sum(len(string_split(text, ' '))), 5) AS chars_per_word,
        |       round(sum(strlen(text)) / sum(length(text)), 5) AS bytes_per_char
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // same integer fixed-point as item_pagerank, restart mass pinned
    // to the max-support seed; 6 unrolled rounds
    // the walk corpus replays exactly: hash-selected steps over the
    // dense-ranked neighbor lists, unrolled like the PPR rounds
    "graph_walks" ->
      s"""WITH $walkCorpusCtes
         |SELECT seed_item, walk_no, pos, item_id FROM walks
         |ORDER BY seed_item, walk_no, pos""".stripMargin,
    // pow-free unigram^0.75 weights (sqrt is correctly-rounded where
    // pow is not), sharded exact-integer cums, disjoint bucket
    // ranges, md5 draws equi-joined to buckets — all replayed
    "sgns_negatives" ->
      s"""WITH $walkCorpusCtes,
         |pairsx AS (SELECT DISTINCT a.item_id AS center, b.item_id AS context
         |           FROM walks a JOIN walks b
         |             ON a.seed_item = b.seed_item AND a.walk_no = b.walk_no
         |           WHERE a.pos <> b.pos AND abs(a.pos - b.pos) <= 2),
         |wt AS (SELECT item_id,
         |              floor(sqrt(count(*)) * sqrt(sqrt(count(*))) * 1024)::BIGINT AS w,
         |              item_id % 64 AS shard
         |       FROM capped GROUP BY item_id),
         |ins AS (SELECT *, coalesce(sum(w) OVER (PARTITION BY shard ORDER BY item_id
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cb_shard
         |        FROM wt),
         |tots AS (SELECT shard, sum(w)::BIGINT AS tot FROM wt GROUP BY 1),
         |offs AS (SELECT a.shard, coalesce(sum(b.tot), 0)::BIGINT AS off
         |         FROM tots a LEFT JOIN tots b ON b.shard < a.shard GROUP BY a.shard),
         |z AS (SELECT sum(w)::BIGINT AS z FROM wt),
         |rng AS (SELECT i.item_id,
         |               (i.cb_shard + o.off) * 4096 // z.z AS lo,
         |               (i.cb_shard + o.off + i.w) * 4096 // z.z AS hi
         |        FROM ins i JOIN offs o USING (shard), z),
         |bt AS (SELECT item_id, unnest(range(lo, hi)) AS bucket
         |       FROM rng WHERE hi > lo),
         |dr AS (SELECT center, context, j.neg_no,
         |              ('0x' || substr(md5(center::VARCHAR || ':' ||
         |                context::VARCHAR || ':' || neg_no::VARCHAR), 1,
         |                8))::UBIGINT::BIGINT % 4096 AS bucket
         |       FROM pairsx CROSS JOIN
         |         (SELECT range AS neg_no FROM range(1, 4)) j)
         |SELECT center, context, neg_no, bt.item_id AS neg_item
         |FROM dr JOIN bt USING (bucket)
         |ORDER BY center, context, neg_no""".stripMargin,
    // second-order biased walks: same graph CTEs, cumulative-weight
    // hash draw per step
    "node2vec_walks" ->
      s"""WITH ui AS (SELECT DISTINCT user_id,
         |              json_extract_string(props, '$$.k')::BIGINT AS item_id
         |       FROM events
         |       WHERE event_type IN ('view', 'click', 'purchase')
         |         AND json_extract_string(props, '$$.k') IS NOT NULL),
         |bk AS (SELECT user_id, count(*) AS basket FROM ui GROUP BY 1),
         |capped AS (SELECT ui.user_id, ui.item_id FROM ui
         |           JOIN bk USING (user_id) WHERE bk.basket <= 500),
         |edges AS (SELECT DISTINCT a.item_id AS src, b.item_id AS dst
         |          FROM capped a JOIN capped b USING (user_id)
         |          WHERE a.item_id <> b.item_id),
         |nodes AS (SELECT DISTINCT item_id FROM capped),
         |t0 AS (SELECT n.item_id AS seed_item, w.walk_no,
         |              -1::BIGINT AS prev, n.item_id AS cur
         |       FROM nodes n CROSS JOIN
         |         (SELECT range AS walk_no FROM range(2)) w),
         |${n2vSteps(4)}
         |SELECT seed_item, walk_no, 0::BIGINT AS pos, cur AS item_id FROM t0
         |UNION ALL SELECT seed_item, walk_no, 1::BIGINT, cur FROM t1
         |UNION ALL SELECT seed_item, walk_no, 2::BIGINT, cur FROM t2
         |UNION ALL SELECT seed_item, walk_no, 3::BIGINT, cur FROM t3
         |UNION ALL SELECT seed_item, walk_no, 4::BIGINT, cur FROM t4
         |ORDER BY seed_item, walk_no, pos""".stripMargin,
    // the skip-gram extraction is one walk-id-keyed self-join of the
    // same replayed corpus
    "walk_skipgrams" ->
      s"""WITH $walkCorpusCtes
         |SELECT a.item_id AS center, b.item_id AS context,
         |       abs(a.pos - b.pos) AS dist, count(*) AS n_pairs
         |FROM walks a JOIN walks b
         |  ON a.seed_item = b.seed_item AND a.walk_no = b.walk_no
         |WHERE a.pos <> b.pos AND abs(a.pos - b.pos) <= 2
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "item_ppr" ->
      s"""WITH ui AS (SELECT DISTINCT user_id,
         |                   json_extract_string(props, '$$.k')::BIGINT AS item_id
         |            FROM events
         |            WHERE event_type IN ('view', 'click', 'purchase')
         |              AND json_extract_string(props, '$$.k') IS NOT NULL),
         |bk AS (SELECT user_id, count(*) AS basket FROM ui GROUP BY 1),
         |capped AS (SELECT ui.user_id, ui.item_id FROM ui
         |           JOIN bk USING (user_id) WHERE bk.basket <= 500),
         |edges AS (SELECT DISTINCT a.item_id AS src, b.item_id AS dst
         |          FROM capped a JOIN capped b USING (user_id)
         |          WHERE a.item_id <> b.item_id),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |nodes AS (SELECT DISTINCT item_id FROM capped),
         |seed AS (SELECT item_id FROM (SELECT item_id, count(*) AS supp
         |         FROM capped GROUP BY 1 ORDER BY supp DESC, item_id LIMIT 1)),
         |r0 AS (SELECT n.item_id,
         |       CASE WHEN n.item_id = s.item_id THEN 17179869184::BIGINT
         |            ELSE 0::BIGINT END AS r
         |       FROM nodes n CROSS JOIN seed s),
         |${pprSteps(6)}
         |SELECT s.item_id AS seed_item, r.item_id, r.r AS rank_scaled,
         |       round(r.r / 17179869184.0, 6) AS rank
         |FROM r6 r CROSS JOIN seed s WHERE r.r > 0
         |ORDER BY rank_scaled DESC, r.item_id LIMIT 25""".stripMargin,
    // exact-cents revenue laid over (first-seen cohort week, age);
    // the cumulative window runs per cohort over the bounded triangle
    "user_cohort_ltv" ->
      """WITH ev AS (SELECT user_id, epoch_ms(ts) // 604800000 AS week,
        |                   event_type, value FROM events),
        |f AS (SELECT user_id, min(week) AS cohort FROM ev GROUP BY 1),
        |rev AS (SELECT user_id, week, sum(CAST(round(value * 100) AS BIGINT)) AS cents
        |        FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2),
        |sz AS (SELECT cohort, count(*) AS n_users FROM f GROUP BY 1),
        |tri AS (SELECT f.cohort, r.week - f.cohort AS age_weeks, sum(r.cents) AS cents
        |        FROM rev r JOIN f USING (user_id) GROUP BY 1, 2)
        |SELECT tri.cohort * 604800000 AS cohort_week_ms, age_weeks, sz.n_users,
        |       round(cents / 100.0, 2) AS revenue,
        |       round(sum(cents) OVER (PARTITION BY tri.cohort ORDER BY age_weeks
        |             ROWS UNBOUNDED PRECEDING) / 100.0 / sz.n_users, 5) AS cum_ltv_per_user
        |FROM tri JOIN sz USING (cohort)
        |ORDER BY cohort_week_ms, age_weeks""".stripMargin,
    // one distinct (user,type) frame: self-join on user for the pair
    // counts, one row per type for supports; exact integer jaccard
    "events_type_overlap" ->
      """WITH d AS (SELECT DISTINCT user_id, event_type FROM events),
        |s AS (SELECT event_type, count(*) AS supp FROM d GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
        |      FROM d a JOIN d b USING (user_id)
        |      WHERE a.event_type < b.event_type GROUP BY 1, 2)
        |SELECT type_a, type_b, sa.supp AS supp_a, sb.supp AS supp_b, n_both,
        |       round(n_both / (sa.supp + sb.supp - n_both), 5) AS jaccard
        |FROM p JOIN s sa ON sa.event_type = p.type_a
        |       JOIN s sb ON sb.event_type = p.type_b
        |ORDER BY type_a, type_b""".stripMargin,
    // exact day histograms of repeat gaps and censor exits, risk set
    // by cumulative window, KM survivor = exp(running sum of ln(1-h))
    "events_survival" ->
      """WITH p AS (SELECT user_id, epoch_ms(ts) AS ts_ms FROM events
        |           WHERE event_type = 'purchase'),
        |mx AS (SELECT max(ts_ms) AS max_ts FROM p),
        |bu AS (SELECT user_id, min(ts_ms) AS t1, count(*) AS n FROM p GROUP BY 1),
        |sec AS (SELECT p.user_id, bu.t1, min(p.ts_ms) AS t2
        |        FROM p JOIN bu USING (user_id)
        |        WHERE bu.n >= 2 AND p.ts_ms > bu.t1 GROUP BY 1, 2),
        |ed AS (SELECT (t2 - t1) // 86400000 AS day, count(*) AS e FROM sec GROUP BY 1),
        |cd AS (SELECT (mx.max_ts - t1) // 86400000 AS day, count(*) AS c
        |       FROM bu, mx WHERE n = 1 GROUP BY 1),
        |tot AS (SELECT count(*) AS n_total FROM bu),
        |days AS (SELECT coalesce(ed.day, cd.day) AS day, coalesce(e, 0) AS e,
        |                coalesce(c, 0) AS c
        |         FROM ed FULL OUTER JOIN cd ON ed.day = cd.day),
        |rs AS (SELECT day, e, c,
        |              (tot.n_total - coalesce(sum(e + c) OVER (ORDER BY day
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT AS r
        |       FROM days, tot),
        |tm AS (SELECT day, e, c, r,
        |              CASE WHEN e < r THEN ln(1 - e / r) END AS term
        |       FROM rs)
        |SELECT day, r AS n_risk, e AS n_repeat, c AS n_censored,
        |       round(e / r, 5) AS hazard,
        |       CASE WHEN e = r THEN 0.0
        |            ELSE round(exp(sum(term) OVER (ORDER BY day
        |                 ROWS UNBOUNDED PRECEDING)), 5) END AS survival
        |FROM tm ORDER BY day""".stripMargin,
    // exact-integer ceil division on both engines
    "output_shard_plan" ->
      """SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS est_bytes,
        |       greatest(1, (sum(n_chars)::BIGINT + 65535) // 65536) AS n_shards,
        |       (count(*) + greatest(1, (sum(n_chars)::BIGINT + 65535) // 65536) - 1)
        |         // greatest(1, (sum(n_chars)::BIGINT + 65535) // 65536) AS docs_per_shard,
        |       sum(n_chars)::BIGINT // greatest(1, (sum(n_chars)::BIGINT + 65535) // 65536) AS shard_bytes
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin,
    // DSIR replay: md5-hashed unigram buckets, add-1 smoothed target
    // vs raw LMs, Gumbel noise from md5 — score ranks on the ROUNDED
    // logw + exactly-replayable noise, so both engines cut the same K
    "dsir_select" ->
      """WITH terms AS (SELECT doc_id, unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'), t -> length(t) >= 2)) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |termb AS (SELECT term, ('0x' || substr(md5(term), 1, 8))::UBIGINT::BIGINT % 256 AS b
        |          FROM (SELECT DISTINCT term FROM tf)),
        |docb AS (SELECT doc_id, b, sum(tf)::BIGINT AS cb
        |         FROM tf JOIN termb USING (term) GROUP BY 1, 2),
        |ws AS (SELECT docb.doc_id, docb.b, docb.cb, d.source
        |       FROM docb JOIN documents d USING (doc_id)),
        |rawc AS (SELECT b, sum(cb)::BIGINT AS cr FROM ws GROUP BY 1),
        |tgtc AS (SELECT b, sum(cb)::BIGINT AS ct FROM ws WHERE source = 'src0' GROUP BY 1),
        |tots AS (SELECT (SELECT sum(cr) FROM rawc)::BIGINT AS tr,
        |                (SELECT sum(ct) FROM tgtc)::BIGINT AS tt),
        |lr AS (SELECT rawc.b,
        |              ln((coalesce(tgtc.ct, 0) + 1.0) / (tots.tt + 256)) -
        |                ln((rawc.cr + 1.0) / (tots.tr + 256)) AS lr
        |       FROM rawc LEFT JOIN tgtc USING (b), tots),
        |w AS (SELECT doc_id, sum(cb)::BIGINT AS n_tokens,
        |             round(sum(cb * lr.lr), 5) + 0.0 AS logw
        |      FROM docb JOIN lr USING (b) GROUP BY 1)
        |SELECT w.doc_id, d.source, w.n_tokens, w.logw,
        |       round(w.logw + -ln(-ln((('0x' || substr(md5('dsir:' || w.doc_id::VARCHAR), 1, 8))::UBIGINT::BIGINT + 0.5) / 4294967296.0)), 5) + 0.0 AS score
        |FROM w JOIN documents d USING (doc_id)
        |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin,
    // full NB replay: hashed buckets, 80% hash split, add-1 class
    // LMs over the dense (class x vocab-bucket) grid, 5-decimal
    // rounded per-class scores, (score DESC, cls) argmax, and the
    // per-source precision/recall rollup
    "nb_source_classify" ->
      s"""WITH $nbCtes,
         |pred AS MATERIALIZED (SELECT sc.doc_id, sc.source, sc.cls AS pred
         |        FROM sc JOIN pri ON pri.cls = sc.cls
         |        QUALIFY row_number() OVER (PARTITION BY sc.doc_id
         |          ORDER BY round(sc.ll + pri.lp, 5) DESC, sc.cls) = 1),
         |bt AS (SELECT source, count(*) AS n_docs,
         |              count(CASE WHEN pred = source THEN 1 END) AS n_correct
         |       FROM pred GROUP BY 1),
         |bp AS (SELECT pred AS source, count(*) AS n_pred FROM pred GROUP BY 1)
         |SELECT bt.source, bt.n_docs, bt.n_correct,
         |       coalesce(bp.n_pred, 0) AS n_pred,
         |       round(bt.n_correct / bt.n_docs, 5) AS recall,
         |       CASE WHEN coalesce(bp.n_pred, 0) = 0 THEN 0.0
         |            ELSE round(bt.n_correct / bp.n_pred, 5) END AS precision
         |FROM bt LEFT JOIN bp USING (source) ORDER BY bt.source""".stripMargin,
    // softmax over the ROUNDED per-class scores, conf rounded before
    // the equal-width binning; argmax ties to the ascending class
    "nb_calibration" ->
      s"""WITH $nbCtes,
         |sj AS (SELECT sc.doc_id, sc.source, sc.cls, round(sc.ll + pri.lp, 5) AS score
         |       FROM sc JOIN pri ON pri.cls = sc.cls),
         |mx AS (SELECT doc_id, max(score) AS smax FROM sj GROUP BY 1),
         |fold AS (SELECT sj.doc_id, sj.source,
         |                min(CASE WHEN sj.score = mx.smax THEN sj.cls END) AS pred,
         |                round(1.0 / sum(exp(sj.score - mx.smax)), 5) AS conf
         |         FROM sj JOIN mx USING (doc_id) GROUP BY 1, 2),
         |agg AS (SELECT least(floor(conf * 10), 9)::BIGINT AS bin,
         |               count(*) AS n_docs,
         |               count(CASE WHEN pred = source THEN 1 END) AS n_correct,
         |               round(avg(conf), 5) AS mean_conf
         |        FROM fold GROUP BY 1)
         |SELECT bin, n_docs, n_correct, mean_conf,
         |       round(n_correct / n_docs, 5) AS accuracy,
         |       round(mean_conf - round(n_correct / n_docs, 5), 5) + 0.0 AS gap
         |FROM agg ORDER BY bin""".stripMargin,
    // the IVF fit replayed, clusters named by top-3 summed-tf-idf
    // terms; weight rounded BEFORE the rank window, ties term asc
    "doc_clusters" ->
      s"""WITH RECURSIVE
         |$ivfFitCtes,
         |$tfidfCtes,
         |co AS (SELECT vec_id AS doc_id, cell FROM asg),
         |nd AS (SELECT cell, count(*) AS n_docs FROM co GROUP BY 1),
         |cw AS (SELECT co.cell, w.term, round(sum(w.w), 5) AS weight
         |       FROM w JOIN co USING (doc_id) GROUP BY 1, 2),
         |rkd AS (SELECT cell, term, weight, row_number() OVER
         |          (PARTITION BY cell ORDER BY weight DESC, term) AS rk FROM cw)
         |SELECT rkd.cell::BIGINT AS cluster, nd.n_docs, rkd.rk::BIGINT AS rk,
         |       rkd.term, rkd.weight
         |FROM rkd JOIN nd USING (cell) WHERE rkd.rk <= 3
         |ORDER BY cluster, rk""".stripMargin,
    // md5('cbal:'||id) rank within each replayed IVF cell, cap 8
    "sample_cluster_balanced" ->
      s"""WITH RECURSIVE
         |$ivfFitCtes,
         |cl AS (SELECT vec_id, cell,
         |              substr(md5('cbal:' || vec_id::VARCHAR), 1, 8) AS hk FROM asg),
         |occ AS (SELECT cell, count(*) AS n_cell FROM cl GROUP BY 1),
         |r AS (SELECT vec_id, cell, hk, row_number() OVER
         |        (PARTITION BY cell ORDER BY hk, vec_id) AS rk FROM cl)
         |SELECT r.cell::BIGINT AS cluster, occ.n_cell, r.rk::BIGINT AS rk,
         |       r.vec_id, r.hk
         |FROM r JOIN occ USING (cell) WHERE r.rk <= 8
         |ORDER BY cluster, rk""".stripMargin,
    // all 8 greedy rounds unrolled; the seed row carries NULL dist,
    // later rows round the selected min-distance (= coverage radius)
    "coreset_kcenter" ->
      (s"WITH $coresetCtes\n" +
        "SELECT 1::BIGINT AS rk, vec_id, NULL::DOUBLE AS dist FROM p1\n" +
        (2 to 8).map(j =>
          s"UNION ALL SELECT $j, vec_id, round(md, 5) FROM p$j").mkString("\n") +
        "\nORDER BY rk"),
    // exact-integer CUSUM argmax: |prefix*D - t*T| peaks at the
    // level-shift day, ties earlier day; NULL after-side on a
    // last-day peak
    "events_changepoint" ->
      """WITH dly AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day, count(*) AS n
        |             FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, day, n,
        |             row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
        |             sum(n) OVER (PARTITION BY event_type ORDER BY day) AS prefix FROM dly),
        |tt AS (SELECT event_type, count(*) AS n_days, sum(n)::BIGINT AS total FROM dly GROUP BY 1),
        |s AS (SELECT c.*, tt.n_days, tt.total,
        |             c.prefix * tt.n_days - c.t * tt.total AS num
        |      FROM c JOIN tt USING (event_type)),
        |p AS (SELECT * FROM s QUALIFY row_number() OVER
        |        (PARTITION BY event_type ORDER BY abs(num) DESC, day) = 1)
        |SELECT event_type, n_days, total, day * 86400000 AS cp_day_ms,
        |       round(abs(num) / n_days, 5) AS max_abs_cusum,
        |       round(prefix / t, 5) AS mean_before,
        |       CASE WHEN n_days = t THEN NULL
        |            ELSE round((total - prefix) / (n_days - t), 5) END AS mean_after
        |FROM p ORDER BY event_type""".stripMargin,
    // OOV terms keep the df=0 smooth idf and a NULL SCQ; query-level
    // aggregates repeat per row
    "query_difficulty" ->
      s"""WITH $tfidfCtes,
         |cfv AS (SELECT term, sum(tf)::BIGINT AS cf FROM tf GROUP BY 1),
         |q AS (SELECT unnest(['join', 'spark', 'vector']) AS term),
         |per AS (SELECT q.term, coalesce(dfv.df, 0)::BIGINT AS df,
         |               coalesce(cfv.cf, 0)::BIGINT AS cf,
         |               ln((nn.n + 1) / (coalesce(dfv.df, 0) + 1)) + 1 AS idf0,
         |               CASE WHEN coalesce(cfv.cf, 0) > 0
         |                    THEN (1.0 + ln(cfv.cf)) *
         |                         (ln((nn.n + 1) / (coalesce(dfv.df, 0) + 1)) + 1) END AS scq0
         |        FROM q LEFT JOIN dfv USING (term) LEFT JOIN cfv USING (term), nn),
         |ag AS (SELECT count(*) AS n_terms, round(avg(idf0), 5) AS avg_idf,
         |              round(max(idf0), 5) AS max_idf, round(sum(scq0), 5) AS sum_scq FROM per)
         |SELECT term, df, cf, round(idf0, 5) AS idf, round(scq0, 5) AS scq,
         |       n_terms, avg_idf, max_idf, sum_scq
         |FROM per, ag ORDER BY term""".stripMargin,
    // exact token shares, alpha-scaled weights, allocation from the
    // ROUNDED weight so the printed plan is the shipped plan
    "corpus_mixture_plan" ->
      """WITH s AS (SELECT source, count(*) AS n_docs,
        |                  sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
        |           FROM documents GROUP BY 1),
        |t AS (SELECT sum(n_tokens) AS t, sum(pow(n_tokens, 0.5)) AS z FROM s)
        |SELECT source, n_docs, n_tokens,
        |       round(n_tokens / t.t, 5) AS p,
        |       round(pow(n_tokens, 0.5) / t.z, 5) AS weight,
        |       CAST(round(round(pow(n_tokens, 0.5) / t.z, 5) * 1000000) AS BIGINT)
        |         AS alloc_tokens
        |FROM s, t ORDER BY source""".stripMargin,
    // both passes + the expansion cut replayed: top-5 feedback docs,
    // top-3 new terms by rounded summed tf-idf weight, half-weight
    // expansion in the second scoring pass
    "bm25_prf_topk" ->
      s"""WITH $tfidfCtes,
         |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
         |ad AS (SELECT avg(dl) AS avgdl FROM dl),
         |q0 AS (SELECT term FROM (VALUES ('spark'), ('join'), ('vector')) t(term)),
         |qi0 AS (SELECT term, ln((nn.n - dfv.df + 0.5) / (dfv.df + 0.5) + 1) AS qidf
         |        FROM q0 JOIN dfv USING (term), nn),
         |fb AS (SELECT tf.doc_id,
         |              round(sum(qi0.qidf * tf.tf * (1.2 + 1.0) /
         |                        (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / ad.avgdl))), 5) AS score
         |       FROM tf JOIN qi0 USING (term) JOIN dl USING (doc_id), ad
         |       GROUP BY tf.doc_id ORDER BY score DESC, doc_id LIMIT 5),
         |ex AS (SELECT w.term FROM w JOIN fb USING (doc_id)
         |       WHERE w.term NOT IN (SELECT term FROM q0)
         |       GROUP BY w.term ORDER BY round(sum(w.w), 5) DESC, w.term LIMIT 3),
         |q AS (SELECT term, 1.0 AS qw FROM q0 UNION ALL SELECT term, 0.5 AS qw FROM ex),
         |qi AS (SELECT q.term, q.qw, ln((nn.n - dfv.df + 0.5) / (dfv.df + 0.5) + 1) AS qidf
         |       FROM q JOIN dfv USING (term), nn)
         |SELECT tf.doc_id,
         |       round(sum(qi.qw * qi.qidf * tf.tf * (1.2 + 1.0) /
         |                 (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / ad.avgdl))), 5) AS score
         |FROM tf JOIN qi USING (term) JOIN dl USING (doc_id), ad
         |GROUP BY tf.doc_id ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // PMI as ln(c12*U/T * U/(c1*c2)) — the overflow-safe association
    // order both engines evaluate identically; support floor 5
    "collocation_pmi" ->
      """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |wd AS (SELECT unnest(toks) AS w FROM t),
        |uni AS (SELECT w, count(*) AS c FROM wd GROUP BY 1),
        |uu AS (SELECT count(*) AS u FROM wd),
        |bg0 AS (SELECT unnest([array_to_string(toks[i+1:i+2], ' ')
        |               for i in range(len(toks) - 1)]) AS bigram FROM t),
        |tt AS (SELECT count(*) AS t FROM bg0),
        |bg AS (SELECT bigram, count(*) AS c12 FROM bg0 GROUP BY 1
        |       HAVING count(*) >= 5),
        |sp AS (SELECT bigram, c12, string_split(bigram, ' ')[1] AS w1,
        |              string_split(bigram, ' ')[2] AS w2 FROM bg)
        |SELECT sp.bigram, sp.c12, u1.c AS c1, u2.c AS c2,
        |       round(ln(sp.c12::DOUBLE * uu.u / tt.t * uu.u / u1.c / u2.c), 5) + 0.0 AS pmi
        |FROM sp JOIN uni u1 ON u1.w = sp.w1 JOIN uni u2 ON u2.w = sp.w2, uu, tt
        |ORDER BY pmi DESC, bigram LIMIT 50""".stripMargin,
    // deterministic vocab: top-V terms by corpus tf, ties
    // lexicographic; rate = exact integer ratio
    "vocab_oov_rate" ->
      """WITH tok AS (SELECT lang, source, unnest(string_split(text, ' ')) AS w
        |             FROM documents),
        |cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
        |voc AS (SELECT w FROM cnt ORDER BY c DESC, w LIMIT 2000)
        |SELECT lang, source, count(*) AS n_tokens,
        |       count(*) FILTER (v.w IS NULL) AS n_oov,
        |       round(count(*) FILTER (v.w IS NULL) / count(*), 5) AS oov_rate
        |FROM tok LEFT JOIN voc v USING (w)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the knn_classify pipeline at queryMod=20, aggregated to the
    // (true, predicted) matrix
    "knn_confusion" ->
      s"""WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS qv
         |           FROM embeddings WHERE vec_id % 20 = 0
         |           ORDER BY vec_id LIMIT 64),
         |s AS (SELECT q.q_id, q.q_label, e.vec_id AS n_id, e.label AS n_label,
         |             ${cos5("e.embedding", "q.qv")} AS score
         |      FROM embeddings e, q WHERE e.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rk
         |      FROM s QUALIFY rk <= 10),
         |v AS (SELECT q_id, q_label, n_label, count(*) AS n_votes FROM r GROUP BY 1, 2, 3),
         |p AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY n_votes DESC, n_label) AS vr
         |      FROM v QUALIFY vr = 1)
         |SELECT q_label::BIGINT AS q_label, n_label::BIGINT AS pred_label,
         |       count(*) AS n
         |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the knn_confusion scan's edge frame; in-degree counts, the
    // (d DESC, id) hub, and the reciprocal query-query pair join
    "knn_hubness" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv
         |           FROM embeddings WHERE vec_id % 20 = 0
         |           ORDER BY vec_id LIMIT 64),
         |s AS (SELECT q.q_id, e.vec_id AS n_id,
         |             ${cos5("e.embedding", "q.qv")} AS score
         |      FROM embeddings e, q WHERE e.vec_id <> q.q_id),
         |r AS MATERIALIZED (SELECT q_id, n_id FROM (
         |      SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rk
         |      FROM s) WHERE rk <= 10),
         |deg AS (SELECT n_id, count(*) AS d FROM r GROUP BY 1),
         |hub AS (SELECT n_id AS hub_vec_id, d AS max_in_degree FROM deg
         |        ORDER BY d DESC, n_id LIMIT 1),
         |qq AS MATERIALIZED (SELECT r.q_id, r.n_id FROM r
         |      JOIN (SELECT DISTINCT q_id FROM r) x ON x.q_id = r.n_id),
         |mu AS (SELECT count(*) AS n_mutual FROM qq a
         |       JOIN qq b ON a.q_id = b.n_id AND a.n_id = b.q_id),
         |base AS (SELECT count(DISTINCT q_id) AS n_queries, count(*) AS n_edges,
         |                count(DISTINCT n_id) AS n_distinct_neighbors FROM r),
         |nq AS (SELECT count(*) AS n_qq FROM qq)
         |SELECT base.n_queries, base.n_edges, base.n_distinct_neighbors,
         |       round(base.n_edges / base.n_distinct_neighbors, 5) AS mean_in_degree,
         |       hub.max_in_degree, hub.hub_vec_id, nq.n_qq, mu.n_mutual,
         |       CASE WHEN nq.n_qq = 0 THEN 0.0
         |            ELSE round(mu.n_mutual / nq.n_qq, 5) END AS mutual_fraction
         |FROM base, hub, nq, mu""".stripMargin,
    // same scan at mod-5/128; plurality vote + agree count per query,
    // suspects are plurality-disagreeing vectors ranked by the
    // rounded disagreement ratio
    "label_noise_suspects" ->
      s"""WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS qv
         |           FROM embeddings WHERE vec_id % 5 = 0
         |           ORDER BY vec_id LIMIT 128),
         |s AS (SELECT q.q_id, q.q_label, e.vec_id AS n_id, e.label AS n_label,
         |             ${cos5("e.embedding", "q.qv")} AS score
         |      FROM embeddings e, q WHERE e.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rk
         |      FROM s QUALIFY rk <= 10),
         |v AS (SELECT q_id, q_label, n_label, count(*) AS n_votes FROM r GROUP BY 1, 2, 3),
         |p AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY n_votes DESC, n_label) AS vr
         |      FROM v QUALIFY vr = 1),
         |ag AS (SELECT q_id, count(CASE WHEN n_label = q_label THEN 1 END) AS n_agree
         |       FROM r GROUP BY 1)
         |SELECT p.q_id AS vec_id, p.q_label::BIGINT AS label,
         |       p.n_label::BIGINT AS suggested_label, p.n_votes, ag.n_agree,
         |       round((10 - ag.n_agree) / 10.0, 5) AS disagreement
         |FROM p JOIN ag USING (q_id) WHERE p.n_label <> p.q_label
         |ORDER BY disagreement DESC, p.n_votes DESC, vec_id LIMIT 25""".stripMargin,
    // same exact top-k window, n_chars target joined by id; the
    // prediction is an exact k-row integer sum divided once
    "knn_regress_eval" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv
         |           FROM embeddings WHERE vec_id % 20 = 0
         |           ORDER BY vec_id LIMIT 64),
         |s AS (SELECT q.q_id, e.vec_id AS n_id,
         |             ${cos5("e.embedding", "q.qv")} AS score
         |      FROM embeddings e, q WHERE e.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rk
         |      FROM s QUALIFY rk <= 10),
         |p AS (SELECT r.q_id, sum(d.n_chars) / 10.0 AS pred
         |      FROM r JOIN documents d ON d.doc_id = r.n_id GROUP BY 1)
         |SELECT count(*) AS n_queries,
         |       round(sqrt(avg(pow(p.pred - d.n_chars, 2))), 4) AS rmse,
         |       round(avg(abs(p.pred - d.n_chars)), 4) AS mae,
         |       round(avg(d.n_chars), 4) AS mean_actual
         |FROM p JOIN documents d ON d.doc_id = p.q_id""".stripMargin,
    // user-keyed interval match, per-purchase touch count by window,
    // equal cents/n splits summed per item
    // the whole chain replays: transition extraction (purchase hands
    // off to start, first event seeded, last non-purchase absorbs to
    // null), 2^30-scaled integer probabilities, and 12 unrolled
    // mass-propagation rounds per variant (base + each channel
    // removed) — every hop is mass*p div SCALE on both engines
    "attribution_markov" -> {
      val chans = Seq("click" -> "C", "error" -> "E", "signup" -> "S", "view" -> "V")
      val all = chans.map(_._1)
      val variants = markovSteps("B", all, 12) + ",\n" +
        chans.map { case (ch, v) =>
          markovSteps(v, all.filterNot(_ == ch), 12)
        }.mkString(",\n")
      val effRows = chans.map { case (ch, v) =>
        s"SELECT '$ch' AS channel, (SELECT c FROM convB) - (SELECT c FROM conv$v) AS e"
      }.mkString("\n  UNION ALL ")
      // every CTE is AS MATERIALIZED: 60 unrolled round CTEs over 5
      // variants would otherwise re-inline the windowed events scan
      // exponentially and OOM DuckDB's planner
      s"""WITH ev AS MATERIALIZED (SELECT user_id, event_type,
         |  lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS to_type,
         |  row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS rn
         |  FROM events),
         |tr AS MATERIALIZED (SELECT CASE WHEN event_type = 'purchase' THEN 'start' ELSE event_type END AS s,
         |              to_type AS t FROM ev WHERE to_type IS NOT NULL
         |       UNION ALL SELECT 'start', event_type FROM ev WHERE rn = 1
         |       UNION ALL SELECT event_type, 'null' FROM ev
         |                 WHERE to_type IS NULL AND event_type <> 'purchase'),
         |cm AS MATERIALIZED (SELECT s, t, count(*) AS n FROM tr GROUP BY 1, 2),
         |rt AS MATERIALIZED (SELECT s, sum(n) AS tot FROM cm GROUP BY 1),
         |pm AS MATERIALIZED (SELECT cm.s, cm.t, cm.n * 1073741824 // rt.tot AS p FROM cm JOIN rt USING (s)),
         |cents AS MATERIALIZED (SELECT coalesce(sum(CAST(round(value * 100) AS BIGINT)), 0) AS total
         |          FROM events WHERE event_type = 'purchase'),
         |$variants,
         |eff AS MATERIALIZED ($effRows),
         |et AS MATERIALIZED (SELECT sum(e) AS tot FROM eff)
         |SELECT eff.channel,
         |  round((SELECT c FROM convB) / 1073741824.0, 5) AS p_conv,
         |  round(((SELECT c FROM convB) - eff.e) / 1073741824.0, 5) AS p_conv_without,
         |  CASE WHEN (SELECT c FROM convB) = 0 THEN 0.0
         |       ELSE round(eff.e / (SELECT c FROM convB), 5) END AS removal_effect,
         |  (CASE WHEN et.tot = 0 THEN 0
         |        ELSE (SELECT total FROM cents) * eff.e // et.tot END) / 100.0 AS attributed_revenue
         |FROM eff, et ORDER BY eff.channel""".stripMargin
    },
    "attribution_linear" ->
      """WITH v0 AS (SELECT user_id,
        |                   json_extract_string(props, '$.k')::BIGINT AS item_id,
        |                   epoch_ms(ts) AS v_ts
        |            FROM events WHERE event_type = 'view'
        |              AND json_extract_string(props, '$.k') IS NOT NULL),
        |p0 AS (SELECT user_id, event_id AS p_id, epoch_ms(ts) AS p_ts,
        |              CAST(round(value * 100) AS BIGINT) AS cents
        |       FROM events WHERE event_type = 'purchase'),
        |hu AS (SELECT user_id FROM
        |         (SELECT user_id, count(*) AS nv FROM v0 GROUP BY 1) vd
        |         FULL OUTER JOIN
        |         (SELECT user_id, count(*) AS np FROM p0 GROUP BY 1) pd
        |         USING (user_id)
        |       WHERE coalesce(nv, 0) <= 1000 AND coalesce(np, 0) <= 100),
        |v AS (SELECT v0.* FROM v0 SEMI JOIN hu USING (user_id)),
        |p AS (SELECT p0.* FROM p0 SEMI JOIN hu USING (user_id)),
        |m AS (SELECT p.p_id, v.item_id, p.cents FROM p JOIN v
        |      ON v.user_id = p.user_id AND v.v_ts < p.p_ts
        |     AND v.v_ts >= p.p_ts - 604800000),
        |t AS (SELECT *, count(*) OVER (PARTITION BY p_id) AS n_touch FROM m)
        |SELECT item_id, count(*) AS n_touches,
        |       count(DISTINCT p_id) AS n_purchases,
        |       ((sum((cents * 10000) // n_touch) + 5000) // 10000) / 100.0 AS attributed_revenue
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    // item_cooc's top-N lists aggregated to the coverage /
    // concentration report; decile cut by (slots, item id)
    "rec_coverage" ->
      """WITH ui AS (SELECT DISTINCT user_id,
        |                   json_extract_string(props, '$.k')::BIGINT AS item_id
        |            FROM events
        |            WHERE event_type IN ('view', 'click', 'purchase')
        |              AND json_extract_string(props, '$.k') IS NOT NULL),
        |bk AS (SELECT user_id, count(*) AS basket FROM ui GROUP BY 1),
        |capped AS (SELECT ui.user_id, ui.item_id FROM ui
        |           JOIN bk USING (user_id) WHERE bk.basket <= 500),
        |pairs AS (SELECT a.item_id, b.item_id AS rec_item_id, count(*) AS n_users
        |          FROM capped a JOIN capped b USING (user_id)
        |          WHERE a.item_id <> b.item_id GROUP BY 1, 2),
        |recs AS (SELECT item_id, rec_item_id,
        |                row_number() OVER (PARTITION BY item_id
        |                  ORDER BY n_users DESC, rec_item_id) AS rk
        |         FROM pairs QUALIFY rk <= 5),
        |cat AS (SELECT count(DISTINCT item_id) AS n_catalog FROM recs),
        |slots AS (SELECT rec_item_id, count(*) AS n_slots FROM recs GROUP BY 1),
        |tot AS (SELECT count(*) AS n_recommended, sum(n_slots)::BIGINT AS total_slots,
        |               max(n_slots) AS max_slots FROM slots),
        |rkd AS (SELECT *, row_number() OVER (ORDER BY n_slots DESC, rec_item_id) AS rk
        |        FROM slots),
        |dec AS (SELECT sum(n_slots)::BIGINT AS decile_slots FROM rkd, tot
        |        WHERE rkd.rk <= ceil(tot.n_recommended / 10.0))
        |SELECT cat.n_catalog, tot.n_recommended,
        |       round(tot.n_recommended / cat.n_catalog, 5) AS coverage,
        |       tot.total_slots,
        |       round(tot.max_slots / tot.total_slots, 5) AS max_item_share,
        |       round(dec.decile_slots / tot.total_slots, 5) AS top_decile_share
        |FROM tot, dec, cat""".stripMargin,
    // exact interpolated quantiles over the bounded (type, minute)
    // rollup — the interevent_gaps convention
    "events_peak_load" ->
      """WITH m AS (SELECT event_type, epoch_ms(ts) // 60000 AS minute, count(*) AS n
        |           FROM events GROUP BY 1, 2)
        |SELECT event_type, count(*) AS n_minutes, sum(n)::BIGINT AS n_events,
        |       round(quantile_cont(n, 0.5), 3) AS p50_per_min,
        |       round(quantile_cont(n, 0.95), 3) AS p95_per_min,
        |       round(quantile_cont(n, 0.99), 3) AS p99_per_min,
        |       max(n) AS max_per_min,
        |       round(sum(n) / count(*), 3) AS mean_per_min
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    // one TakeOrdered top-8000 cut, rank window over those rows only,
    // conditional sums per doubling cut
    "vocab_coverage_curve" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |tt AS (SELECT count(*) AS total_tokens FROM tok),
        |top AS (SELECT w, count(*) AS c FROM tok GROUP BY 1
        |        ORDER BY c DESC, w LIMIT 8000),
        |rkd AS (SELECT *, row_number() OVER (ORDER BY c DESC, w) AS rk FROM top),
        |ks AS (SELECT unnest([1000, 2000, 4000, 8000])::BIGINT AS vocab_size)
        |SELECT ks.vocab_size, sum(rkd.c)::BIGINT AS covered_tokens, tt.total_tokens,
        |       round(sum(rkd.c) / tt.total_tokens, 5) AS coverage
        |FROM ks JOIN rkd ON rkd.rk <= ks.vocab_size, tt
        |GROUP BY 1, tt.total_tokens ORDER BY 1""".stripMargin,
    // exact cent-valued discount keys, integer quantity sums, one
    // division at the end; baseline is the 1-row zero-discount level
    "discount_lift" ->
      """WITH l AS (SELECT CAST(round(l_discount * 100) AS BIGINT) AS discount_pct,
        |                  CAST(l_quantity AS BIGINT) AS q FROM lineitem),
        |per AS (SELECT discount_pct, count(*) AS n_lines, sum(q)::BIGINT AS sum_qty
        |        FROM l GROUP BY 1),
        |b AS (SELECT sum_qty / n_lines AS base_avg FROM per WHERE discount_pct = 0)
        |SELECT discount_pct, n_lines, round(sum_qty / n_lines, 5) AS avg_qty,
        |       round(sum_qty / n_lines / b.base_avg, 5) AS lift_vs_no_discount
        |FROM per, b ORDER BY 1""".stripMargin,
    // the deterministic group schedule replayed with list
    // comprehensions: every 6th 3-token group masked
    "span_corruption_prep" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, toks, CAST(ceil(len(toks) / 3.0) AS INT) AS ng
        |      FROM t WHERE len(toks) >= 3),
        |b AS (SELECT doc_id,
        |  flatten([CASE WHEN g % 6 = 0 THEN ['<extra_id>']
        |                ELSE toks[g*3+1 : g*3+3] END for g in range(ng)]) AS inp,
        |  flatten([['<extra_id>'] || toks[g*3+1 : g*3+3]
        |           for g in range(ng) if g % 6 = 0]) AS tgt
        |  FROM g)
        |SELECT doc_id, array_to_string(inp, ' ') AS input_text,
        |       array_to_string(tgt, ' ') AS target_text,
        |       (len(tgt) - len(list_filter(tgt, x -> x = '<extra_id>')))::BIGINT
        |         AS n_masked_tokens
        |FROM b ORDER BY doc_id""".stripMargin,
    // the fit's exact left-to-right sum-of-squares against every
    // centroid; own/best-other folded per vector, means per cell
    "ann_cluster_quality" ->
      s"""WITH RECURSIVE
         |$ivfFitCtes,
         |d AS (SELECT a.vec_id, a.cell, c.cell AS c2,
         |             list_sum(list_transform(range(1, 65), i ->
         |               (a.embedding[i]::DOUBLE - c.centroid[i]) *
         |               (a.embedding[i]::DOUBLE - c.centroid[i]))) AS d2
         |      FROM asg a, cent c),
         |p AS (SELECT vec_id, cell, max(CASE WHEN c2 = cell THEN d2 END) AS own,
         |             min(CASE WHEN c2 <> cell THEN d2 END) AS best_other
         |      FROM d GROUP BY 1, 2)
         |SELECT cell::BIGINT AS cell, count(*) AS n_vecs,
         |       round(avg(own), 4) AS mean_d2_own,
         |       round(avg(best_other - own), 4) AS mean_margin
         |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    // elementwise a - b + c composed as a list, then the standard
    // cosine scan with the three sources excluded
    "vs_analogy_topk" ->
      s"""WITH va AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 1),
         |vb AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 2),
         |vc AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 3),
         |q AS (SELECT list_transform(range(1, 65), i ->
         |        va.v[i]::DOUBLE - vb.v[i]::DOUBLE + vc.v[i]::DOUBLE) AS qv
         |      FROM va, vb, vc)
         |SELECT e.vec_id, ${cos5("e.embedding", "q.qv")} AS score
         |FROM embeddings e, q WHERE e.vec_id NOT IN (1, 2, 3)
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,
    // integer day-boundary split, distinct (user, split) frame feeds
    // the counts and the train-overlap SEMI join
    "temporal_split_prep" ->
      """WITH ev AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
        |bb AS (SELECT d0, d1, d0 + (d1 - d0 + 1) * 80 // 100 AS t1,
        |              d0 + (d1 - d0 + 1) * 90 // 100 AS t2 FROM b),
        |tg AS (SELECT user_id, day,
        |              CASE WHEN day < t1 THEN 'train' WHEN day < t2 THEN 'val'
        |                   ELSE 'test' END AS split FROM ev, bb),
        |us AS (SELECT DISTINCT user_id, split FROM tg),
        |tu AS (SELECT user_id FROM us WHERE split = 'train'),
        |ov AS (SELECT split, count(*) AS n_users_in_train FROM us
        |       SEMI JOIN tu USING (user_id)
        |       WHERE split <> 'train' GROUP BY 1),
        |ag AS (SELECT split, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
        |              min(day) * 86400000 AS day_from_ms,
        |              max(day) * 86400000 AS day_to_ms
        |       FROM tg GROUP BY 1)
        |SELECT ag.split, n_events, n_users, day_from_ms, day_to_ms,
        |       coalesce(ov.n_users_in_train, 0) AS n_users_in_train
        |FROM ag LEFT JOIN ov USING (split) ORDER BY day_from_ms""".stripMargin,
    // same split as rec_holdout_eval; per-user profile = 5-decimal
    // per-dim means over train embeddings (the label_centroids
    // contract); candidates from the banded sign-LSH blocking replayed
    // exactly (the dedup_embedding planes; 32 bands × the 6-bit floor —
    // the adaptive width stays at its floor for any catalog < 2048
    // items, which every verify scale is), occupancy cap, exact-cosine
    // scoring of candidates only, holdout rank counted directly —
    // deterministic, so blocking misses reproduce too
    "rec_content_holdout" ->
      s"""WITH ev AS (SELECT user_id,
         |                   json_extract_string(props, '$$.k')::BIGINT AS item_id,
         |                   epoch_ms(ts) AS ts_ms
         |            FROM events
         |            WHERE event_type IN ('view', 'click', 'purchase')
         |              AND json_extract_string(props, '$$.k') IS NOT NULL),
         |ui AS (SELECT user_id, item_id, max(ts_ms) AS last_ts FROM ev GROUP BY 1, 2),
         |bk AS (SELECT user_id, count(*) AS basket FROM ui GROUP BY 1),
         |capped AS (SELECT ui.* FROM ui JOIN bk USING (user_id)
         |           WHERE bk.basket BETWEEN 2 AND 500),
         |rkd AS (SELECT *, row_number() OVER (PARTITION BY user_id
         |                  ORDER BY last_ts DESC, item_id DESC) AS rk FROM capped),
         |hold AS (SELECT user_id, item_id AS h FROM rkd WHERE rk = 1),
         |train AS (SELECT user_id, item_id FROM rkd WHERE rk > 1),
         |pe AS (SELECT t.user_id, generate_subscripts(e.embedding, 1) AS pos,
         |              unnest(e.embedding::DOUBLE[]) AS v
         |       FROM train t JOIN embeddings e ON e.vec_id = t.item_id),
         |pm AS (SELECT user_id, pos, round(avg(v), 5) AS m FROM pe GROUP BY 1, 2),
         |prof AS (SELECT user_id, list(m ORDER BY pos) AS p FROM pm GROUP BY 1),
         |items AS (SELECT i.item_id, e.embedding
         |          FROM (SELECT DISTINCT item_id FROM capped) i
         |          JOIN embeddings e ON e.vec_id = i.item_id),
         |pl AS (SELECT b, j, list_transform(range(0, 64), i ->
         |         CASE WHEN (md5_number_upper(b::VARCHAR || ':' || j::VARCHAR || ':' || i::VARCHAR) & 1) = 1
         |              THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END) AS plane
         |       FROM range(32) rb(b), range(6) rj(j)),
         |ib AS (SELECT it.item_id, p.b,
         |              sum(CASE WHEN list_dot_product(it.embedding::DOUBLE[], p.plane) >= 0
         |                       THEN (1::BIGINT << p.j) ELSE 0 END) AS bucket
         |       FROM items it, pl p GROUP BY 1, 2),
         |ibk AS (SELECT item_id, b * 64 + bucket AS bb FROM ib),
         |hotb AS (SELECT bb FROM ibk GROUP BY 1 HAVING count(*) > 1000),
         |ibc AS (SELECT * FROM ibk ANTI JOIN hotb USING (bb)),
         |pb AS (SELECT pr.user_id, p.b,
         |              sum(CASE WHEN list_dot_product(pr.p, p.plane) >= 0
         |                       THEN (1::BIGINT << p.j) ELSE 0 END) AS bucket
         |       FROM prof pr, pl p GROUP BY 1, 2),
         |pbk AS (SELECT user_id, b * 64 + bucket AS bb FROM pb),
         |cnd AS (SELECT DISTINCT pbk.user_id, ibc.item_id
         |        FROM pbk JOIN ibc USING (bb)),
         |sc0 AS (SELECT c.user_id, c.item_id,
         |               round(list_dot_product(i.embedding::DOUBLE[], pr.p) /
         |                     (sqrt(list_dot_product(i.embedding::DOUBLE[], i.embedding::DOUBLE[])) *
         |                      sqrt(list_dot_product(pr.p, pr.p))), 5) AS score
         |        FROM cnd c JOIN prof pr ON pr.user_id = c.user_id
         |                   JOIN items i ON i.item_id = c.item_id),
         |sc AS (SELECT sc0.* FROM sc0 ANTI JOIN train t
         |       ON t.user_id = sc0.user_id AND t.item_id = sc0.item_id),
         |sh AS (SELECT h.user_id, h.h, s.score AS s_h FROM hold h
         |       LEFT JOIN sc s ON s.user_id = h.user_id AND s.item_id = h.h),
         |rnk AS (SELECT sh.user_id,
         |               1 + count(*) FILTER (s.score > sh.s_h OR
         |                   (s.score = sh.s_h AND s.item_id < sh.h)) AS rnk
         |        FROM sh JOIN sc s ON s.user_id = sh.user_id
         |        WHERE sh.s_h IS NOT NULL GROUP BY 1),
         |ks AS (SELECT unnest([1, 5, 10])::BIGINT AS k),
         |nu AS (SELECT count(*) AS n_users FROM hold),
         |hits AS (SELECT ks.k, count(*) FILTER (r.rnk <= ks.k) AS n_hits
         |         FROM ks LEFT JOIN rnk r ON TRUE GROUP BY 1)
         |SELECT k, nu.n_users, hits.n_hits,
         |       round(hits.n_hits / nu.n_users, 5) AS hit_rate
         |FROM hits, nu ORDER BY k""".stripMargin,
    // one distinct (user,item) frame feeds every number; decile cut
    // over the item-degree frame
    "ui_matrix_stats" ->
      """WITH ui AS (SELECT DISTINCT user_id,
        |                   json_extract_string(props, '$.k')::BIGINT AS item_id
        |            FROM events
        |            WHERE event_type IN ('view', 'click', 'purchase')
        |              AND json_extract_string(props, '$.k') IS NOT NULL),
        |deg AS (SELECT item_id, count(*) AS d FROM ui GROUP BY 1),
        |tot AS (SELECT count(DISTINCT user_id) AS n_users,
        |               count(DISTINCT item_id) AS n_items, count(*) AS nnz FROM ui),
        |ni AS (SELECT count(*) AS ni FROM deg),
        |rkd AS (SELECT d, row_number() OVER (ORDER BY d DESC, item_id) AS rk FROM deg),
        |dec AS (SELECT sum(d)::BIGINT AS decile_nnz FROM rkd, ni
        |        WHERE rk <= ceil(ni.ni / 10.0))
        |SELECT n_users, n_items, nnz,
        |       round(nnz / (n_users * n_items), 5) AS density,
        |       round(nnz / n_users, 5) AS mean_user_degree,
        |       round(nnz / n_items, 5) AS mean_item_degree,
        |       round(dec.decile_nnz / nnz, 5) AS top_decile_item_share
        |FROM tot, dec""".stripMargin,
    // mean pairwise dot = (||sum v||^2 - sum ||v||^2) / (n(n-1)) —
    // per-dim sums and per-row norms rounded to 5 before the algebra
    "embed_isotropy" ->
      """WITH pe AS (SELECT generate_subscripts(embedding, 1) AS pos,
        |                   unnest(embedding::DOUBLE[]) AS v FROM embeddings),
        |ds AS (SELECT pos, round(sum(v), 5) AS s FROM pe GROUP BY 1),
        |sq AS (SELECT round(sum(s * s), 5) AS sum_sq FROM ds),
        |rw AS (SELECT count(*) AS n,
        |              round(sum(round(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]), 5)), 5) AS sum_self,
        |              round(avg(round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 5)), 5) AS mean_norm
        |       FROM embeddings)
        |SELECT n, mean_norm,
        |       round((sum_sq - sum_self) / (n * (n - 1)), 5) + 0.0 AS mean_pairwise_dot,
        |       round((sum_sq - sum_self) / (n * (n - 1)) / (mean_norm * mean_norm), 5) + 0.0
        |         AS anisotropy
        |FROM rw, sq""".stripMargin,
  )

  /** The signed-BIGINT reading of DuckDB's `md5_number_upper` — the
    * exact value of [[graft.operators.Dedup.md5Long64]], shared by
    * every oracle that replays an engine-side 64-bit hash.
    */
  private def md5SignedSql(arg: String): String =
    s"""CAST(CASE WHEN md5_number_upper($arg) >= 9223372036854775808::HUGEINT
       |     THEN md5_number_upper($arg)::HUGEINT - 18446744073709551616::HUGEINT
       |     ELSE md5_number_upper($arg)::HUGEINT END AS BIGINT)""".stripMargin

  /** Unrolled Markov-chain propagation for one `attribution_markov`
    * variant `v` (base or one removed channel): per round, the
    * absorbed conversion mass cv{v}{r} and the next live-channel mass
    * frame m{v}{r}, all `mass·p div SCALE` integer hops against the
    * shared scaled transition matrix pm.
    */
  private def markovSteps(v: String, live: Seq[String], rounds: Int): String = {
    val liveIn = live.map(c => s"'$c'").mkString("(", ", ", ")")
    val blocks = (1 to rounds).map { r =>
      s"""cv$v$r AS MATERIALIZED (SELECT coalesce(sum(x.m * pm.p // 1073741824), 0) AS c
         |  FROM m$v${r - 1} x JOIN pm ON pm.s = x.st AND pm.t = 'purchase'),
         |m$v$r AS MATERIALIZED (SELECT pm.t AS st, sum(x.m * pm.p // 1073741824) AS m
         |  FROM m$v${r - 1} x JOIN pm ON pm.s = x.st
         |  WHERE pm.t IN $liveIn GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val convSum = (1 to rounds).map(r => s"(SELECT c FROM cv$v$r)").mkString(" + ")
    s"""m${v}0 AS MATERIALIZED (SELECT 'start' AS st, 1073741824::BIGINT AS m),
       |$blocks,
       |conv$v AS MATERIALIZED (SELECT $convSum AS c)""".stripMargin
  }

  /** Unrolled integer HITS rounds for `item_flow_hits`: per round,
    * the transition-weighted authority sum over incoming hub mass,
    * max-normalized to 2^20 by floor division, then the hub sum over
    * outgoing authority mass, same normalization — the exact halves
    * of [[graft.operators.Graph.itemFlowHits]].
    */
  private def hitsSteps(rounds: Int): String =
    (1 to rounds).map { r =>
      s"""ar$r AS MATERIALIZED (SELECT e.dst AS id, sum(e.n * h.s)::BIGINT AS v
         |  FROM edges e JOIN h${r - 1} h ON h.id = e.src GROUP BY 1),
         |a$r AS MATERIALIZED (SELECT id, (v * 1048576 // (SELECT max(v) FROM ar$r))::BIGINT AS s FROM ar$r),
         |hr$r AS MATERIALIZED (SELECT e.src AS id, sum(e.n * a.s)::BIGINT AS v
         |  FROM edges e JOIN a$r a ON a.id = e.dst GROUP BY 1),
         |h$r AS MATERIALIZED (SELECT id, (v * 1048576 // (SELECT max(v) FROM hr$r))::BIGINT AS s FROM hr$r)""".stripMargin
    }.mkString(",\n")

  /** Unrolled synchronous k-core peel rounds d{i}/a{i}: degree
    * against alive DST endpoints only (deg ≥ k already implies src
    * membership — degrees against a shrinking set only fall), drop
    * < k, all at once; monotone so fixed-round unrolling equals the
    * converged fixpoint.
    */
  private def kcoreSteps(rounds: Int, k: Int): String =
    (1 to rounds).map { i =>
      s"""d$i AS (SELECT e.src AS item_id, count(*) AS cd FROM edges e
         |  JOIN a${i - 1} t ON t.item_id = e.dst
         |  GROUP BY 1),
         |a$i AS (SELECT item_id FROM d$i WHERE cd >= $k)""".stripMargin
    }.mkString(",\n")

  /** Unrolled BPE merge rounds pc{i}/m{i}/v{i} — the pair count
    * (overlaps included, word-count-weighted), the (n DESC, a, b)
    * argmax, and the two-pass delimiter-string fuse of
    * [[graft.operators.TextAnalysis.bpeLearnMerges]], all replayed.
    */
  private def bpeSteps(rounds: Int): String =
    (1 to rounds).map { r =>
      s"""pc$r AS (
         |  SELECT z[1] AS a, z[2] AS b, sum(cnt) AS n
         |  FROM (SELECT cnt, unnest(list_zip(syms, syms[2:])) AS z
         |        FROM (SELECT cnt, string_split(seq, ' ') AS syms FROM v${r - 1})
         |        WHERE len(syms) >= 2)
         |  WHERE z[2] IS NOT NULL GROUP BY 1, 2),
         |m$r AS (SELECT a, b, n FROM pc$r ORDER BY n DESC, a, b LIMIT 1),
         |v$r AS (SELECT w, cnt,
         |  trim(replace(' ' || trim(replace(' '||seq||' ', ' '||m.a||' '||m.b||' ', ' '||m.a||m.b||' ')) || ' ',
         |       ' '||m.a||' '||m.b||' ', ' '||m.a||m.b||' ')) AS seq
         |  FROM v${r - 1}, m$r m)""".stripMargin
    }.mkString(",\n")

  /** Unrolled synchronous label-propagation rounds l1..lN — the same
    * most-frequent-neighbor-label update with (count DESC, label ASC)
    * ties as [[graft.operators.Graph.itemCommunities]]; isolated
    * nodes keep their label via the LEFT JOIN coalesce.
    */
  private def lpaSteps(iters: Int): String =
    (1 to iters).map { i =>
      s"""l$i AS (SELECT p.item_id, coalesce(b.new_lab, p.lab) AS lab
         |  FROM l${i - 1} p LEFT JOIN (
         |    SELECT src AS item_id, lab AS new_lab FROM (
         |      SELECT e.src, r.lab, count(*) AS n,
         |             row_number() OVER (PARTITION BY e.src ORDER BY count(*) DESC, r.lab) AS rk
         |      FROM edges e JOIN l${i - 1} r ON r.item_id = e.dst
         |      GROUP BY 1, 2)
         |    WHERE rk = 1) b USING (item_id))""".stripMargin
    }.mkString(",\n")

  /** Unrolled PageRank damping steps r1..rN — same integer ops as
    * [[graft.operators.Graph.itemPagerank]], floor division on both
    * engines.
    */
  /** PPR rounds: identical hop/damping arithmetic to [[pagerankSteps]]
    * except the 15% restart mass returns ONLY to the seed row.
    */
  /** One rerank-depth recall curve as a prefixed CTE chain ending in
    * `${pfx}curve`(c, shortlist, n_hits, recall_at_k) — the shared
    * replay of [[graft.operators.Quantized.rerankDepthSweep]] at one
    * probe depth. Callers provide `q2` (query vector), `gt` (exact
    * top-10), `cvals` (depth list) and the fit/LUT CTEs; the sweep
    * oracle instantiates it once unprefixed, the planner twice (its
    * nprobe-escalation branch needs the deeper-probe curve). No
    * trailing comma.
    */
  private def rerankCurveCtes(pfx: String, nprobe: Int): String =
    s"""${pfx}probe AS (SELECT c.cell FROM cent c, q2
       |          ORDER BY list_dot_product(q2.qv::DOUBLE[], c.centroid) /
       |            (sqrt(list_dot_product(q2.qv::DOUBLE[], q2.qv::DOUBLE[])) * sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
       |            c.cell LIMIT $nprobe),
       |${pfx}short AS (SELECT vec_id, adc_rk FROM (
       |          SELECT cd.vec_id,
       |                 row_number() OVER (ORDER BY round(${adcChain("cd.codes")}, 5), cd.vec_id) AS adc_rk
       |          FROM codes cd JOIN asg a ON a.vec_id = cd.vec_id JOIN ${pfx}probe ON ${pfx}probe.cell = a.cell
       |          WHERE cd.vec_id <> 0) WHERE adc_rk <= 100),
       |${pfx}sc AS (SELECT s.vec_id, s.adc_rk, ${cos5("e.embedding", "q2.qv")} AS score
       |       FROM embeddings e JOIN ${pfx}short s ON s.vec_id = e.vec_id, q2),
       |${pfx}cut AS (SELECT cvals.c, sc.vec_id,
       |               row_number() OVER (PARTITION BY cvals.c ORDER BY sc.score DESC, sc.vec_id) AS rk
       |        FROM cvals JOIN ${pfx}sc sc ON sc.adc_rk <= cvals.c),
       |${pfx}hits AS (SELECT c, count(*) AS n FROM ${pfx}cut JOIN gt USING (vec_id)
       |         WHERE rk <= 10 GROUP BY c),
       |${pfx}shc AS (SELECT cvals.c, count(sc.vec_id) AS sl
       |        FROM cvals LEFT JOIN ${pfx}sc sc ON sc.adc_rk <= cvals.c GROUP BY cvals.c),
       |${pfx}curve AS (SELECT shc.c::BIGINT AS c, shc.sl::BIGINT AS shortlist,
       |       coalesce(hits.n, 0)::BIGINT AS n_hits,
       |       floor(coalesce(hits.n, 0) / 10.0 * 100000 + 0.5) / 100000 + 0.0 AS recall_at_k
       |FROM ${pfx}shc shc LEFT JOIN ${pfx}hits hits USING (c))""".stripMargin

  /** Unrolled min-label propagation rounds for the NSW bridge replay
    * (GraphAnn.bridgeEdges, fixed BridgeRounds = 4): lab{i+1}(n) =
    * min(lab{i}(n), min over symmetrized neighbors' lab{i}).
    */
  private def labelRounds(rounds: Int): String =
    (0 until rounds).map { i =>
      // MATERIALIZED: each round reads the previous TWICE (self + via
      // neighbors); an inlined CTE would re-evaluate the whole chain
      // per reference — exponential in rounds
      s"""lab${i + 1} AS MATERIALIZED (SELECT l.node, least(l.lab, coalesce(min(m.lab), l.lab)) AS lab
         |  FROM lab$i l
         |  LEFT JOIN nbru s ON s.src = l.node
         |  LEFT JOIN lab$i m ON m.node = s.dst
         |  GROUP BY l.node, l.lab)""".stripMargin
    }.mkString(",\n")

  /** The query-INDEPENDENT half of the graph-walk oracle:
    * symmetrized LSH-blocked candidate pairs scored exactly
    * (`scored`), the top-8 neighbor lists (`nbrf`), their
    * bidirectional closure (`nbru` — epoch=sym), and the
    * connectivity-bridged walk graph (`nbr` — epoch=bridge) — the SQL
    * mirror of [[graft.operators.GraphAnn.buildGraph]] +
    * [[graft.operators.GraphAnn.ensureGraph]]'s derived epochs.
    * Callers prepend `$lshBlockCtes`.
    */
  private lazy val nswGraphCtes: String =
    s"""spairs AS (SELECT a_id AS src, b_id AS dst FROM cand
       |           UNION ALL SELECT b_id, a_id FROM cand),
       |scored AS MATERIALIZED (SELECT s.src, s.dst, ${cos5("a.embedding", "b.embedding")} AS s
       |           FROM spairs s JOIN embeddings a ON a.vec_id = s.src
       |                         JOIN embeddings b ON b.vec_id = s.dst),
       |nbrf AS (SELECT src, dst FROM (
       |          SELECT src, dst,
       |                 row_number() OVER (PARTITION BY src ORDER BY s DESC, dst) AS rk
       |          FROM scored) WHERE rk <= 8),
       |-- bidirectional links (GraphAnn.ensureGraph epoch=sym): the
       |-- walkable graph is the symmetrized top-8 edge set
       |nbru AS MATERIALIZED (SELECT src, dst FROM nbrf UNION SELECT dst, src FROM nbrf),
       |-- connectivity bridges (GraphAnn.bridgeEdges): 4 fixed rounds
       |-- of min-label propagation seeded by EVERY corpus node, each
       |-- distinct final label except the hub's own linked to the
       |-- global-min hub in both directions
       |lab0 AS (SELECT vec_id AS node, vec_id AS lab FROM embeddings),
       |${labelRounds(4)},
       |hubm AS (SELECT min(vec_id) AS h FROM embeddings),
       |breps AS (SELECT DISTINCT l.lab AS rep FROM lab4 l, hubm WHERE l.lab <> hubm.h),
       |nbr AS MATERIALIZED (SELECT src, dst FROM nbru
       |       UNION SELECT hubm.h AS src, rep AS dst FROM breps, hubm
       |       UNION SELECT rep AS src, hubm.h AS dst FROM breps, hubm)""".stripMargin

  /** Unrolled BATCH beam-walk steps for the `ann_graph_knn_join`
    * oracle, partitioned by q_id: bu{i} = each query's frontier ∪ its
    * neighbors, bf{i+1} = per-query top-`beam` by rounded
    * query-cosine (ties → lower id) against the per-(q, node) score
    * frame `bes` — NSW ef-search with ef = beam.
    */
  private def batchWalkSteps(hops: Int, beam: Int): String =
    (0 until hops).map { i =>
      // MATERIALIZED: bu_i reads bf_i twice and bf_{i+1} chains on
      // bu_i — inlined, the chain re-evaluates exponentially in hops
      // (measured on a deeper walk oracle: 335 s vs sub-second
      // materialized; the frames are ≤ |Q|·beam·(g+1) rows)
      s"""bu$i AS MATERIALIZED (SELECT q_id, v FROM bf$i
         |  UNION SELECT f.q_id, n.dst AS v FROM bf$i f JOIN nbr n ON n.src = f.v),
         |bf${i + 1} AS MATERIALIZED (SELECT q_id, v FROM (
         |    SELECT u.q_id, u.v,
         |           row_number() OVER (PARTITION BY u.q_id ORDER BY b.s DESC, u.v) AS rk
         |    FROM bu$i u JOIN bes b ON b.q_id = u.q_id AND b.vec_id = u.v) WHERE rk <= $beam)""".stripMargin
    }.mkString(",\n")

  /** The full replayed walk corpus (see `graph_walks`) as a CTE
    * block ending in `walks`(seed_item, walk_no, pos, item_id) —
    * shared by the walk dump and the skip-gram extraction.
    */
  private lazy val walkCorpusCtes: String =
    s"""ui AS (SELECT DISTINCT user_id,
       |              json_extract_string(props, '$$.k')::BIGINT AS item_id
       |       FROM events
       |       WHERE event_type IN ('view', 'click', 'purchase')
       |         AND json_extract_string(props, '$$.k') IS NOT NULL),
       |bk AS (SELECT user_id, count(*) AS basket FROM ui GROUP BY 1),
       |capped AS (SELECT ui.user_id, ui.item_id FROM ui
       |           JOIN bk USING (user_id) WHERE bk.basket <= 500),
       |edges AS (SELECT DISTINCT a.item_id AS src, b.item_id AS dst
       |          FROM capped a JOIN capped b USING (user_id)
       |          WHERE a.item_id <> b.item_id),
       |nbr AS (SELECT src, dst,
       |               row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
       |               count(*) OVER (PARTITION BY src) AS deg FROM edges),
       |nodes AS (SELECT DISTINCT item_id FROM capped),
       |s0 AS (SELECT n.item_id AS seed_item, w.walk_no, n.item_id AS cur
       |       FROM nodes n CROSS JOIN
       |         (SELECT range AS walk_no FROM range(2)) w),
       |${walkSteps(4)},
       |walks AS (
       |  SELECT seed_item, walk_no, 0::BIGINT AS pos, cur AS item_id FROM s0
       |  UNION ALL SELECT seed_item, walk_no, 1::BIGINT, cur FROM s1
       |  UNION ALL SELECT seed_item, walk_no, 2::BIGINT, cur FROM s2
       |  UNION ALL SELECT seed_item, walk_no, 3::BIGINT, cur FROM s3
       |  UNION ALL SELECT seed_item, walk_no, 4::BIGINT, cur FROM s4)""".stripMargin

  /** Unrolled node2vec-step CTEs: step t weights every candidate out
    * of `cur` by the search bias (return=1, common-neighbor=2,
    * far=1 ≡ p=q=2), then lands r = u32(md5(...)) mod Σw on the
    * candidate whose cumulative-weight interval (in dst order)
    * contains it — the second-order draw, exactly replayable.
    */
  private def n2vSteps(steps: Int): String =
    (0 until steps).map { t =>
      s"""c$t AS (SELECT s.seed_item, s.walk_no, s.prev, s.cur, n.dst,
         |  CASE WHEN n.dst = s.prev THEN 1
         |       WHEN e2.src IS NOT NULL THEN 2
         |       ELSE 1 END AS w
         |  FROM t$t s JOIN edges n ON n.src = s.cur
         |  LEFT JOIN edges e2 ON e2.src = s.prev AND e2.dst = n.dst),
         |w$t AS (SELECT seed_item, walk_no, cur, dst, w,
         |  sum(w) OVER (PARTITION BY seed_item, walk_no
         |               ORDER BY dst ROWS UNBOUNDED PRECEDING) AS cum,
         |  (('0x' || substr(md5(seed_item::VARCHAR || ':' ||
         |    walk_no::VARCHAR || ':$t:' || cur::VARCHAR), 1, 8))::UBIGINT
         |    % sum(w) OVER (PARTITION BY seed_item, walk_no))::BIGINT AS r
         |  FROM c$t),
         |t${t + 1} AS (SELECT seed_item, walk_no, cur AS prev, dst AS cur
         |  FROM w$t WHERE cum - w <= r AND r < cum)""".stripMargin
    }.mkString(",\n")

  /** Unrolled walk-step CTEs for the `graph_walks` oracle: step i
    * hops every walk from its `cur` node to the neighbor whose dense
    * rank equals u32(md5(seed:walk:t:cur)) mod degree — the same
    * hash-selection the Spark operator computes via conv/md5.
    */
  private def walkSteps(steps: Int): String =
    (1 to steps).map { i =>
      val t = i - 1
      s"""s$i AS (SELECT s.seed_item, s.walk_no, n.dst AS cur
         |  FROM s${i - 1} s JOIN nbr n ON n.src = s.cur
         |   AND n.idx = (('0x' || substr(md5(s.seed_item::VARCHAR || ':' ||
         |     s.walk_no::VARCHAR || ':$t:' || s.cur::VARCHAR), 1, 8))::UBIGINT
         |     % n.deg)::BIGINT)""".stripMargin
    }.mkString(",\n")

  private def pprSteps(iters: Int): String =
    (1 to iters).map { i =>
      s"""r$i AS (SELECT n.item_id,
         |  (CASE WHEN n.item_id = s.item_id THEN (15 * 17179869184) // 100
         |        ELSE 0 END)
         |    + (85 * coalesce(c.contrib, 0)) // 100 AS r
         |  FROM nodes n CROSS JOIN seed s LEFT JOIN (
         |    SELECT e.dst AS item_id, sum(r.r // d.deg)::BIGINT AS contrib
         |    FROM edges e JOIN deg d USING (src)
         |    JOIN r${i - 1} r ON r.item_id = e.src
         |    GROUP BY 1) c ON c.item_id = n.item_id)""".stripMargin
    }.mkString(",\n")

  private def pagerankSteps(iters: Int): String =
    (1 to iters).map { i =>
      s"""r$i AS (SELECT n.item_id,
         |  (15 * 17179869184) // 100 + (85 * coalesce(c.contrib, 0)) // 100 AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS item_id, sum(r.r // d.deg)::BIGINT AS contrib
         |    FROM edges e JOIN deg d USING (src)
         |    JOIN r${i - 1} r ON r.item_id = e.src
         |    GROUP BY 1) c USING (item_id))""".stripMargin
    }.mkString(",\n")

  /** BM25-hybrid oracle: the BM25 CTEs + the vector leg + the blend,
    * parameterized by the candidate join (unfiltered vs
    * metadata-filtered — the min-max runs inside the candidate set
    * either way, like the reference's tfidf hybrid).
    */
  private def bm25HybridOracle(candJoin: String,
      termsSubquery: String = "SELECT unnest(['spark', 'join', 'vector']) AS term"): String =
    s"""WITH terms AS (SELECT doc_id, unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'), t -> length(t) >= 2)) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
       |dfv AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM documents),
       |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
       |ad AS (SELECT avg(dl) AS avgdl FROM dl),
       |q AS ($termsSubquery),
       |qi AS (SELECT term, ln((nn.n - dfv.df + 0.5) / (dfv.df + 0.5) + 1) AS qidf
       |       FROM q JOIN dfv USING (term), nn),
       |bs AS (SELECT tf.doc_id, sum(qi.qidf * tf.tf * (1.2 + 1.0) /
       |              (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / ad.avgdl))) AS ts
       |       FROM tf JOIN qi USING (term) JOIN dl USING (doc_id), ad GROUP BY 1),
       |qv AS (SELECT $qvSqlList::DOUBLE[] AS qv),
       |cand AS (SELECT e.vec_id AS doc_id, ${cosRaw("e.embedding", "qv.qv")} AS vs,
       |                coalesce(bs.ts, 0.0) AS ts
       |         FROM embeddings e
       |         $candJoin
       |         CROSS JOIN qv LEFT JOIN bs ON bs.doc_id = e.vec_id),
       |st AS (SELECT min(ts) AS mn, max(ts) AS mx FROM cand),
       |f AS (SELECT doc_id, vs,
       |             CASE WHEN st.mx > st.mn THEN (ts - st.mn) / (st.mx - st.mn + 1e-12) ELSE ts END AS tn
       |      FROM cand, st)
       |SELECT doc_id, round(vs * 0.7 + tn * (1 - 0.7), 5) AS hybrid_score,
       |       round(vs, 5) AS vector_score, round(tn, 5) AS bm25_score
       |FROM f ORDER BY hybrid_score DESC, doc_id LIMIT 10""".stripMargin

  /** BM25 oracle parameterized by the query-terms subquery (term-list
    * vs raw-text tokenization — the latter re-tokenizes independently
    * of the engine, catching tokenizer drift).
    */
  private def bm25Oracle(termsSubquery: String): String =
    s"""WITH terms AS (SELECT doc_id, unnest(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'), t -> length(t) >= 2)) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
       |dfv AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM documents),
       |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
       |ad AS (SELECT avg(dl) AS avgdl FROM dl),
       |q AS ($termsSubquery),
       |qi AS (SELECT term, ln((nn.n - dfv.df + 0.5) / (dfv.df + 0.5) + 1) AS qidf
       |       FROM q JOIN dfv USING (term), nn)
       |SELECT tf.doc_id,
       |       round(sum(qi.qidf * tf.tf * (1.2 + 1.0) /
       |                 (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / ad.avgdl))), 5) AS score
       |FROM tf JOIN qi USING (term) JOIN dl USING (doc_id), ad
       |GROUP BY tf.doc_id ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
}
