package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._
import graft.llm.{TextAnalysis, Dedup, Similarity, Multimodal,
  CorpusPipeline, StoredModels}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` has a DuckDB-oracle twin in `oracleSql`
  * operating on the same parquet tables; column names and row order are
  * aligned pairwise (aggregates use exact decimal sums rendered as
  * doubles — see [[Tables.dsum]] — so hashes match bit-for-bit).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TpchQueries.q5LocalSupplier(spark, "/root/testdata/sf0.001")

  /** Queries excluded from the throughput bench (still in the
    * CORRECTNESS gate): the `near_*` family runs on a constant-size
    * golden fixture; every streaming twin ([[graft.streaming.StreamTwin
    * .twins]]) times micro-batch orchestration (checkpoint commits,
    * restarts), not data-volume work; and the model-store twins'
    * wall time is dominated by the train pass they deliberately re-run
    * to produce the stored versions — the benched train-inline queries
    * already time that work. */
  val correctnessOnly: String => Boolean =
    name => name.startsWith("near_") ||
      graft.streaming.StreamTwin.byName.contains(name) ||
      name == "s_ann_kmeans_stored" || name == "s_ann_pq_stored" ||
      name == "t_bpe_encode_stored" || name == "t_lm_score_stored" ||
      name == "s_ann_ivfpq_stored"

  /** One entry per implemented operator from SURVEY.md §2, plus one per
    * streaming twin. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    batchQueries ++ graft.streaming.StreamTwin.twins.map(t =>
      t.name -> graft.streaming.StreamTwin.query(t))

  private def batchQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Core relational / gold layer (SURVEY §2.6)
    "q1_pricing_summary"   -> (TpchQueries.q1PricingSummary _),
    "q3_shipping_priority" -> (TpchQueries.q3ShippingPriority _),
    "q5_local_supplier"    -> (TpchQueries.q5LocalSupplier _),
    "q9_product_profit"    -> (TpchQueries.q9ProductProfit _),
    "q6_forecast_revenue"  -> (TpchQueries.q6ForecastRevenue _),
    "q10_returned_items"   -> (TpchQueries.q10ReturnedItems _),
    "q4_order_priority"    -> (TpchQueries.q4OrderPriority _),
    "q18_large_orders"     -> (TpchQueries.q18LargeOrders _),
    "q17_small_qty_revenue" -> (TpchQueries.q17SmallQtyRevenue _),
    "q11_supplier_share"   -> (TpchQueries.q11SupplierShare _),
    "q2_min_cost_supplier" -> (TpchFullQueries.q2MinCostSupplier _),
    "q7_volume_shipping"   -> (TpchFullQueries.q7VolumeShipping _),
    "q8_market_share"      -> (TpchFullQueries.q8MarketShare _),
    "q12_late_priority"    -> (TpchFullQueries.q12LatePriority _),
    "q13_customer_distribution" -> (TpchFullQueries.q13CustomerDistribution _),
    "q14_promo_revenue"    -> (TpchFullQueries.q14PromoRevenue _),
    "q15_top_supplier"     -> (TpchFullQueries.q15TopSupplier _),
    "q16_parts_supplier_cnt" -> (TpchFullQueries.q16PartsSupplierCnt _),
    "q19_disjunctive_revenue" -> (TpchFullQueries.q19DisjunctiveRevenue _),
    "q20_part_availability" -> (TpchFullQueries.q20PartAvailability _),
    "q21_waiting_supplier" -> (TpchFullQueries.q21WaitingSupplier _),
    "q22_sales_opportunity" -> (TpchFullQueries.q22SalesOpportunity _),
    "p_filter_project"     -> (TpchQueries.pFilterProject _),
    "k_latest_order_per_customer" -> (TpchQueries.kLatestOrderPerCustomer _),
    // CDC between two table versions: added/removed/changed keys with
    // content fingerprints (the time-travel pins' diff operator)
    "k_snapshot_diff" -> (SnapshotDiff.kSnapshotDiff _),
    "v_orphan_orders"      -> (TpchQueries.vOrphanOrders _),
    "v_table_ranges"       -> (TpchQueries.vTableRanges _),
    "j_customers_with_big_orders" -> (TpchQueries.jCustomersWithBigOrders _),
    // Event stream / silver layer shapes (SURVEY §2.5)
    "m_json_extract"       -> (EventQueries.mJsonExtract _),
    "g_daily_metrics"      -> (EventQueries.gDailyMetrics _),
    // incremental-aggregate MV via the SummingMergeTree-analog sink
    // (replays + late replays + a background merge, all invisible)
    "k_summing_daily"      -> (EventQueries.kSummingDaily _),
    "g_hourly_activity"    -> (EventQueries.gHourlyActivity _),
    "k_latest_event_per_user" -> (EventQueries.kLatestEventPerUser _),
    "v_error_ratio"        -> (EventQueries.vErrorRatio _),
    "w_event_gaps"         -> (EventQueries.wEventGaps _),
    "w_sessionize"         -> (EventQueries.wSessionize _),
    // sweep-line interval analytic over the sessionize output:
    // max concurrent sessions per day via the two-pass prefix sum
    "w_peak_concurrency"   -> (EventQueries.wPeakConcurrency _),
    // interval-union busy time per day (utilization twin of the
    // peak-concurrency sweep, same two-pass distributed prefix sum)
    "w_interval_coverage"  -> (EventQueries.wIntervalCoverage _),
    // daily-count anomaly days per type: integer-exact 2-sigma test
    // (no float compare anywhere in the detection set)
    "w_anomaly_zscore"     -> (EventQueries.wAnomalyZscore _),
    // SCD type-2 history: per-user state runs -> validity intervals
    "k_scd2_history"       -> (EventQueries.kScd2History _),
    // dense hourly grid with forward fill (gap-filled time series)
    "w_gap_fill"           -> ((s, d) => EventQueries.wGapFill(s, d)),
    "w_hourly_window"      -> (EventQueries.wHourlyWindow _),
    "w_asof_join"          -> (EventQueries.wAsofJoin _),
    "w_range_join"         -> ((s, d) => EventQueries.wRangeJoin(s, d)),
    "g_rollup_metrics"     -> (EventQueries.gRollupMetrics _),
    "g_grouping_sets"      -> (EventQueries.gGroupingSets _),
    "w_rolling_7d"         -> (EventQueries.wRolling7d _),
    "w_value_deciles"      -> (EventQueries.wValueDeciles _),
    "g_cube_metrics"       -> (EventQueries.gCubeMetrics _),
    "v_approx_distinct"    -> (EventQueries.vApproxDistinct _),
    "v_approx_quantiles"   -> (EventQueries.vApproxQuantiles _),
    "j_full_outer_recon"   -> (EventQueries.jFullOuterRecon _),
    "g_pivot_daily"        -> (EventQueries.gPivotDaily _),
    "g_retention_cohorts"  -> (EventQueries.gRetentionCohorts _),
    "g_funnel_steps"       -> (EventQueries.gFunnelSteps _),
    "g_unpivot_daily"      -> (EventQueries.gUnpivotDaily _),
    "v_set_ops"            -> (EventQueries.vSetOps _),
    "j_salted_user_events" -> (EventQueries.jSaltedUserEvents _),
    // Benford first-digit audit over order totals (forensic screen)
    "v_benford"            -> (TpchQueries.vBenford _),
    // co-located (bucketed) join: zero-exchange join + rollup
    "j_bucketed_orders" -> (graft.operators.BucketedJoin.jBucketedOrders _),
    // LLM training-data pipeline (brief: first-class deliverables)
    "t_text_stats"      -> (TextAnalysis.tTextStats _),
    "t_lang_id"         -> (TextAnalysis.tLangId _),
    "t_quality_score"   -> (TextAnalysis.tQualityScore _),
    "t_token_count"     -> (TextAnalysis.tTokenCount _),
    // DSIR-shaped data selection: hashed-token-bucket importance
    // weights (target = English subset) via the pre-log integer ratio
    "t_dsir_weights"    -> ((s, d) => TextAnalysis.tDsirWeights(s, d)),
    // the parameterized-target path (VERDICT r14 #7): same selector
    // pointed at a held-out quality corpus — here the curated sources
    // src0/src1 — instead of a language subset
    "t_dsir_target_source" -> ((s, d) => TextAnalysis.tDsirWeights(s, d,
      target = org.apache.spark.sql.functions.col("source")
        .isin("src0", "src1"))),
    "t_fingerprint"     -> (TextAnalysis.tFingerprint _),
    "t_vocab_topk"      -> ((s, d) => TextAnalysis.tVocabTopk(s, d)),
    "t_bigram_topk"     -> ((s, d) => TextAnalysis.tBigramTopk(s, d)),
    // tokenizer training: 8 BPE merges learned on the word-type vocab
    "t_bpe_merges"      -> ((s, d) => TextAnalysis.tBpeMerges(s, d)),
    // tokenizer APPLICATION: per-doc token counts under the trained
    // vocab (segmentation computed once per word type, joined out)
    "t_bpe_encode"      -> ((s, d) => TextAnalysis.tBpeEncode(s, d)),
    // deterministic epoch shuffle: md5-keyed shard + in-shard position
    "t_epoch_shuffle"   -> ((s, d) => TextAnalysis.tEpochShuffle(s, d)),
    // CCNet-style trigram-LM quality scoring (train split -> all docs,
    // stupid backoff, floor-scaled integer probabilities)
    "t_lm_score"        -> ((s, d) => TextAnalysis.tLmScore(s, d)),
    // inverted-index posting table (tf/first_pos + df/cf per term)
    "t_inverted_index"  -> (TextAnalysis.tInvertedIndex _),
    // Okapi BM25 phrase retrieval, integer-exact end to end
    "t_bm25_topk"       -> ((s, d) => TextAnalysis.tBm25Topk(s, d)),
    // weighted priority sampling: exact-k per language, bottom-k by
    // h60(doc)/n_chars (Duffield-Lund-Thorup), two-phase cut
    "t_sample_priority" -> ((s, d) => TextAnalysis.tSamplePriority(s, d)),
    // two-phase skyline: non-dominated docs under (max chars, min tokens)
    "t_pareto_frontier" -> ((s, d) => TextAnalysis.tParetoFrontier(s, d)),
    // hybrid retrieval: BM25 + cosine rankings fused by integer RRF
    "t_rrf_fusion"      -> ((s, d) => TextAnalysis.tRrfFusion(s, d)),
    // Morton z-order locality report (the OPTIMIZE ZORDER layout math)
    "v_zorder_layout"   -> (graft.sources.ZOrderLayout.vZorderLayout _),
    // CSV/JSON round-trip integrity via V7 xor fingerprints
    "k_format_roundtrip" ->
      (graft.sources.FormatRoundtrip.kFormatRoundtrip _),
    // ClickHouse sequenceMatch analog: windowed view->click->purchase
    "g_sequence_match"  -> ((s, d) => EventQueries.gSequenceMatch(s, d)),
    // ClickHouse windowFunnel analog: per-user deepest chain level,
    // histogram with reach + step conversion
    "w_funnel_steps"    -> ((s, d) => EventQueries.wFunnelSteps(s, d)),
    // ReplacingMergeTree(ver, is_deleted) DELETE path: tombstone wave,
    // replay, compaction survival, resurrection
    "k_tombstone_delete" -> (EventQueries.kTombstoneDelete _),
    // degree-oriented triangle counting over repeat-co-occurrence graph
    "g_user_triangles"  -> (EventQueries.gUserTriangles _),
    // cell-salted two-stage pair build (triangle-block salting) — the
    // engine-independent hot-cell guard computing the IDENTICAL
    // repeat-edge relation as the plain occupancy self-join
    "g_cooccur_salted"  -> ((s, d) =>
      graft.queries.CoOccurrenceMv.cooccurSalted(s, d)),
    // per-user transitivity (2T/deg(deg-1)) over the same pipeline
    "g_clustering_coeff" -> (EventQueries.gClusteringCoeff _),
    // connected components of the co-occurrence graph (the shared
    // min-label body over the maintained edge MV)
    "g_components"      -> (EventQueries.gComponents _),
    // integer-exact damped PageRank (3 unrolled sparse mat-vec steps)
    "g_pagerank"         -> ((s, d) => EventQueries.gPageRank(s, d)),
    // last-touch attribution: windowed argMax within a 7d lookback
    "g_attribution"      -> ((s, d) => EventQueries.gAttribution(s, d)),
    // exact DAU/WAU: trailing distinct via bounded 7x fact fan-out
    "w_active_users"     -> (EventQueries.wActiveUsers _),
    // cohort LTV: cumulative DECIMAL revenue along each cohort's axis
    "w_cohort_ltv"       -> (EventQueries.wCohortLtv _),
    // two-sample KS drift (train vs holdout lengths), integer-exact
    "t_ks_drift"         -> (TextAnalysis.tKsDrift _),
    // ---- round 12 ----
    // alternating large-star/small-star connected components — second
    // published CC algorithm, same oracle as d_dup_groups
    "d_cc_stars"         -> ((s, d) => Dedup.dCcStars(s, d)),
    // RFM customer-value segmentation with value-based quartile scores
    "w_rfm"              -> (EventQueries.wRfm _),
    // k-NN majority-vote classification eval over the embedding space
    "s_knn_classify"     -> ((s, d) => Similarity.sKnnClassify(s, d)),
    // Simpson lexical concentration (exact-rational diversity index)
    "t_simpson_diversity" -> (TextAnalysis.tSimpsonDiversity _),
    // recall@k of the IVF index vs the brute-force baseline, in-gate
    "s_ann_recall"       -> ((s, d) => Similarity.sAnnRecall(s, d)),
    // exact Jaccard histogram >= 0.70 with retained-pair curve — the
    // threshold-calibration report (prefix-filtered: recall 1 at ANY t)
    "d_threshold_calibration" -> ((s, d) =>
      Dedup.dThresholdCalibration(s, d)),
    // robust (median/MAD) daily-volume anomaly days — integer-exact
    "w_anomaly_mad"      -> (EventQueries.wAnomalyMad _),
    // multi-source BFS min-hop distances (<=3) from the seed set
    "g_bfs_distance"     -> ((s, d) => EventQueries.gBfsDistance(s, d)),
    // behavior-flow transition matrix (from -> to counts + P)
    "g_event_transitions" -> (EventQueries.gEventTransitions _),
    // ---- round 13 ----
    // model-store apply twins: train -> save stale v1 -> save real v2
    // -> load latest (PK-FINAL) -> apply via the SHARED search/encode/
    // score bodies; same oracles as the train-inline queries
    "s_ann_kmeans_stored" -> ((s, d) =>
      StoredModels.sAnnKmeansStored(s, d)),
    "s_ann_pq_stored"    -> ((s, d) => StoredModels.sAnnPqStored(s, d)),
    "t_bpe_encode_stored" -> ((s, d) =>
      StoredModels.tBpeEncodeStored(s, d)),
    "t_lm_score_stored"  -> (StoredModels.tLmScoreStored _),
    "t_split_assign"    -> (TextAnalysis.tSplitAssign _),
    "t_quality_percentiles" -> ((s, d) => TextAnalysis.tQualityPercentiles(s, d)),
    // quantilesExactWeighted analog: token-weighted length quantiles
    "t_weighted_percentiles" ->
      ((s, d) => TextAnalysis.tWeightedPercentiles(s, d)),
    "t_repetition"      -> (TextAnalysis.tRepetition _),
    "t_tfidf_topk"      -> ((s, d) => TextAnalysis.tTfidfTopk(s, d)),
    "t_pii_scrub"       -> (TextAnalysis.tPiiScrub _),
    "t_decontaminate"   -> (TextAnalysis.tDecontaminate _),
    "t_stratified_sample" -> (TextAnalysis.tStratifiedSample _),
    "t_token_budget"    -> ((s, d) => TextAnalysis.tTokenBudget(s, d)),
    "t_seq_pack"        -> ((s, d) => TextAnalysis.tSeqPack(s, d)),
    "t_dataset_card"    -> (TextAnalysis.tDatasetCard _),
    // CMS candidates -> exact verify: guaranteed φ-fraction heavy
    // hitters (output exact, sketch is scan-side pruning only)
    "t_heavy_hitters"   -> ((s, d) => TextAnalysis.tHeavyHitters(s, d)),
    // sliding-window token chunking (stride overlap, truncating tail)
    "t_chunk_windows"   -> ((s, d) => TextAnalysis.tChunkWindows(s, d)),
    // greedy quality-ranked selection under a per-source token budget
    "t_curate_budget"   -> ((s, d) => TextAnalysis.tCurateBudget(s, d)),
    // mixture rebalancing: bottleneck-capped feasible mix + sampling
    // rates from target domain weights
    "t_mixture_plan"    -> ((s, d) => TextAnalysis.tMixturePlan(s, d)),
    // Heaps-curve vocabulary growth over corpus prefixes (integer)
    "t_vocab_growth"    -> ((s, d) => TextAnalysis.tVocabGrowth(s, d)),
    // collocation mining by lift (the monotone pre-log PMI ranking)
    "t_collocations"    -> ((s, d) => TextAnalysis.tCollocations(s, d)),
    "d_exact_dedup"     -> (Dedup.dExactDedup _),
    "d_minhash_pairs"   -> ((s, d) => Dedup.dMinhashPairs(s, d)),
    "d_ngram_pairs"     -> ((s, d) => Dedup.dNgramPairs(s, d)),
    // exact prefix-filtering set-similarity join: recall 1 by
    // construction, must equal the LSH family's output exactly
    "d_prefix_pairs"    -> ((s, d) => Dedup.dPrefixPairs(s, d)),
    "d_simhash"         -> (Dedup.dSimhash _),
    "d_shingle_novelty" -> (Dedup.dShingleNovelty _),
    "d_simhash_pairs"   -> ((s, d) => Dedup.dSimhashPairs(s, d)),
    "d_embed_dedup"     -> ((s, d) => Similarity.sEmbedDedup(s, d)),
    // SemDeDup: trained k-means clusters, then prune within clusters
    // only — the cluster-bounded sibling of the exact grid miner
    "d_semantic_dedup"  -> ((s, d) => Similarity.sSemanticDedup(s, d)),
    // substring-level dedup: duplicated-SPAN coverage per document
    // (corpus-wide window occurrence + per-doc island merge)
    "d_dup_spans"       -> ((s, d) => Dedup.dDupSpans(s, d)),
    // directed containment join (asymmetric set similarity): the
    // quote/excerpt relation Jaccard ignores; exact by the one-sided
    // prefix theorem over the same modeled corpus as d_dup_spans
    "d_containment_pairs" -> ((s, d) => Dedup.dContainmentPairs(s, d)),
    // connected components of the near-dup graph (min-label propagation)
    "d_dup_groups"      -> ((s, d) => Dedup.dDupGroups(s, d)),
    // canonical keeper per duplicate group (longest doc, min-id ties)
    // + remap table — the post-components curation policy
    "d_cluster_rep"     -> ((s, d) => Dedup.dClusterRep(s, d)),
    // exact 1/2/3-hop walk counts over the near-dup graph (iterative
    // sparse matrix-vector products, all integer)
    "d_walk_counts"     -> ((s, d) => Dedup.dWalkCounts(s, d)),
    // edit-distance-1 vocabulary pairs via the deletion-neighborhood
    // (FastSS) candidate join + exact levenshtein verify
    "d_fuzzy_token_pairs" -> ((s, d) => Dedup.dFuzzyTokenPairs(s, d)),
    // block-granularity (paragraph-grain) dedup report over the
    // spans remix corpus
    "d_block_dedup"     -> ((s, d) => Dedup.dBlockDedup(s, d)),
    // full cleaning pipeline: gates -> exact dedup -> near-dup removal
    "pipe_corpus_clean" -> (CorpusPipeline.pipeCorpusClean _),
    "s_cosine_topk"     -> ((s, d) => Similarity.sCosineTopk(s, d)),
    // embedding-cosine eval-set leakage report (the n-gram
    // decontamination's semantic twin): per probe, leak count at the
    // 0.4 near-dup line + worst offender; zero-leak probes keep a row
    "s_decontaminate"   -> ((s, d) => Similarity.sDecontaminate(s, d)),
    "s_cosine_pairs"    -> ((s, d) => Similarity.sCosinePairs(s, d)),
    "s_ann_ivf"         -> ((s, d) => Similarity.sAnnIvf(s, d)),
    "s_ann_lsh"         -> ((s, d) => Similarity.sAnnLsh(s, d)),
    // trained k-means quantizer: deterministic fixed-seed Lloyd with a
    // quantized (order-independent) update -> the oracle replays both
    // iterations as CTEs and hash-matches exactly
    "s_ann_kmeans"      -> ((s, d) => Similarity.sAnnKmeans(s, d)),
    "s_ann_pq"          -> ((s, d) => Similarity.sAnnPq(s, d)),
    // ---- round 14 ----
    // IVFADC (Jégou et al. TPAMI 2011 §IV): coarse k-means routing +
    // residual PQ + cell-pruned ADC + exact rerank — the composed
    // production ANN shape; oracle = the k-means replay composed with
    // the PQ replay over residuals
    // knobs PINNED to the oracle's replay (8 cells / probe-2 / 32
    // candidates — the kmeansAssignCte trains exactly that index);
    // production defaults are the r15 sweep's √n/13·k rule
    "s_ann_ivfpq"       -> ((s, d) => Similarity.sAnnIvfPq(s, d,
      nCells = 8, nprobe = 2, nCand = 32)),
    // cluster-based data pruning (Sorscher et al. 2022): prune the
    // most prototypical 25% of every k-means cell; same shared
    // quantizer, oracle composes the Lloyd replay with a per-cell rank
    "s_prune_prototypes" -> ((s, d) =>
      Similarity.sPrunePrototypes(s, d)),
    // both stored halves (coarse quantizer + residual books) ride the
    // versioned model store past a stale v1; same oracle (same pins)
    "s_ann_ivfpq_stored" -> ((s, d) =>
      StoredModels.sAnnIvfPqStored(s, d,
        nCells = 8, nprobe = 2, nCand = 32)),
    // ε-boundary multi-assignment (VERDICT r15 #6): same pinned index,
    // but vectors within a 0.05 cosine margin of their second cell are
    // indexed in BOTH cells (books still train on the primary
    // residuals; search dedupes replicas per (query, vector)); oracle
    // extends the IVFADC replay with the margin assignment + encode
    // over the replicated relation + the dedup window
    "s_ann_ivfpq_eps"   -> ((s, d) => Similarity.sAnnIvfPq(s, d,
      nCells = 8, nprobe = 2, nCand = 32, assignEps = 0.05)),
    // per-dimension affine int8 quantization + exact error accounting
    "s_quantize_int8"   -> ((s, d) => Similarity.sQuantizeInt8(s, d)),
    // MMR diverse re-rank: greedy rel - 0.5*max-sim over a top-20 pool
    "s_mmr_select"      -> ((s, d) => Similarity.sMmrSelect(s, d)),
    "mm_media_features" -> (Multimodal.mmMediaFeatures _),
    "mm_resize"         -> (Multimodal.mmResize _),
    "mm_frame_sample"   -> (Multimodal.mmFrameSample _),
    "mm_audio_features" -> (Multimodal.mmAudioFeatures _),
    // image-content dedup: md5 over DECODED rasters (real PNG round
    // trip) — the multimodal × dedup crossover
    "mm_image_dedup"    -> (Multimodal.mmImageDedup _),
    // frame-difference scene boundaries over the sampled decoded series
    "mm_scene_detect"   -> ((s, d) => Multimodal.mmSceneDetect(s, d)),
    // NEAR layer end-to-end over the deterministic fixture corpus
    // (SURVEY §2.3-§2.6: P1-P13, T2-T5, M1-M10, G1-G8)
    "near_bronze_events"       -> (NearQueries.bronzeEvents _),
    "near_bronze_transactions" -> (NearQueries.bronzeTransactions _),
    "near_bronze_receipts"     -> (NearQueries.bronzeReceipts _),
    "near_bronze_outcomes"     -> (NearQueries.bronzeOutcomes _),
    "near_resolver"            -> (NearQueries.resolver _),
    // receipt-DAG depth: frontier BFS over outcome->receipt_ids edges
    "near_receipt_depth"       -> (NearQueries.nearReceiptDepth _),
    // deep-chain scale corpus: ~4,250 blocks / 400 interleaved chains,
    // depth 3-5, hop gaps {1,5,50,51} vs the 50-block TTL — the same
    // pipeline code as the golden-fixture rows, closed-form oracles
    "near_scale_resolver"      -> (NearQueries.nearScaleResolver _),
    "near_scale_depth"         -> (NearQueries.nearScaleDepth _),
    "near_scale_events"        -> (NearQueries.nearScaleEvents _),
    "near_m1_nep245"           -> (NearQueries.m1Nep245 _),
    "near_m2_token_diff"       -> (NearQueries.m2TokenDiff _),
    "near_m3_public_keys"      -> (NearQueries.m3PublicKeys _),
    "near_m4_intents_executed" -> (NearQueries.m4IntentsExecuted _),
    "near_m5_fee_changed"      -> (NearQueries.m5FeeChanged _),
    "near_m6_transfer"         -> (NearQueries.m6Transfer _),
    "near_m7_staging_transfer" -> (NearQueries.m7StagingTransfer _),
    "near_m8_transfers"        -> (NearQueries.m8Transfers _),
    "near_m9_staging_transfers" -> (NearQueries.m9StagingTransfers _),
    "near_m10_referral"        -> (NearQueries.m10Referral _),
    "near_gold_metrics"        -> (NearQueries.goldMetrics _),
    // hot-key corpus: one receipt carries 80% of events + all diffs —
    // the gold join's natural intents.near skew, evidenced (r13)
    "near_skew_gold"           -> (NearQueries.nearSkewGold _),
    // Sink layer (K1-K4) + resume (S3) round trips
    "near_sink_roundtrip"      -> (NearQueries.sinkRoundtrip _),
    "near_sink_resume"         -> (NearQueries.sinkResume _),
    // K2 time travel: pin-0 before an overwrite+compaction, pin-1 after
    "near_read_asof"           -> (NearQueries.readAsOf _),
    // Sources: S1/S2 block-file layout, S4 assets feed
    "near_s1_file_source"      -> (NearQueries.s1FileSource _),
    "near_s4_assets"           -> (NearQueries.s4Assets _),
    // Reference-named SQL view surface
    "near_sql_gold"            -> (NearQueries.sqlGoldMetrics _),
    // Full product path with restart (runner + resume + state window)
    "near_runner_events"       -> (NearQueries.runnerEvents _),
    // incremental gold rollup (block-grain aggregate MV) via the runner
    "near_gold_daily_rollup"   -> (NearQueries.goldDailyRollup _),
    // Streaming twin (T1 streaming semantics; S1-shape micro-batches)
    "near_stream_events"       -> (NearQueries.streamEvents _),
    // Validation harness (SURVEY §2.7 V5-V8, V10-V11)
    "near_v_fingerprints"      -> (NearQueries.vFingerprints _),
    "near_v_domain"            -> (NearQueries.vDomain _),
    "near_v_json_valid"        -> (NearQueries.vJsonValid _),
    "near_v_drilldown"         -> (NearQueries.vDrilldown _),
    "near_v_diff"              -> (NearQueries.vDiff _),
    "near_v_tolerance"         -> (NearQueries.vTolerance _),
    "near_v_null_ratio"        -> (NearQueries.vNullRatio _),
  )

  /** Shared by `w_rolling_7d` and its streaming-MV twin
    * `w_stream_rolling_7d`: RANGE-frame rolling totals over the daily
    * grid — the streamed summing grid must answer identically to the
    * batch aggregate. */
  private val rolling7dSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS epoch_day,
      |    SUM(CAST(value AS DECIMAL(28,2))) AS day_dec
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, epoch_day, CAST(day_dec AS DOUBLE) AS day_value,
      |  CAST(SUM(day_dec) OVER (PARTITION BY event_type ORDER BY epoch_day
      |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS rolling_7d
      |FROM daily ORDER BY event_type, epoch_day""".stripMargin

  /** The BPE-training oracle: the 8 merge steps of
    * [[graft.llm.TextAnalysis.tBpeMerges]] unrolled as chained CTEs —
    * per step, weighted adjacent-pair counts over the evolving
    * space-separated symbol strings, (count DESC, left, right) argmax,
    * and the same literal ' l r '→' lr ' replace (left-to-right
    * non-overlapping in both engines = BPE's greedy fold). Generated by
    * a loop so the two sides can only diverge in semantics, not in
    * transcription. */
  /** The shared BPE-training CTE chain (w → v0 → … → v8): word-type
    * counts, char-split symbol strings, 8 argmax-merge steps. Used by
    * both the merge-rule oracle and the encode oracle. */
  private val bpeTrainCtes: String = {
    val steps = (1 to 8).map { k =>
      s"""p$k AS (
        |  SELECT s[i + 1] AS l, s[i + 2] AS r, SUM(cnt) AS pc FROM (
        |    SELECT s, cnt, unnest(range(0, len(s) - 1)) AS i
        |    FROM (SELECT string_split(trim(syms), ' ') AS s, cnt
        |          FROM v${k - 1}))
        |  GROUP BY 1, 2),
        |best$k AS MATERIALIZED (SELECT l, r, pc FROM p$k
        |  ORDER BY pc DESC, l, r LIMIT 1),
        |v$k AS MATERIALIZED (SELECT replace(replace(replace(syms,
        |    ' ', '  '),
        |    ' ' || (SELECT l FROM best$k) || '  ' || (SELECT r FROM best$k) || ' ',
        |    ' ' || (SELECT l FROM best$k) || (SELECT r FROM best$k) || ' '),
        |    '  ', ' ')
        |    AS syms, cnt FROM v${k - 1})""".stripMargin
    }.mkString(",\n")
    // MATERIALIZED is load-bearing: each v_k is referenced twice
    // (pair counts + the next merge), so un-materialized CTE inlining
    // re-expands the chain 2^8 times — measured fd exhaustion from
    // hundreds of parquet re-scans
    s"""w AS MATERIALIZED (
      |  SELECT w, COUNT(*) AS cnt FROM (
      |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
      |    FROM documents) x
      |  GROUP BY w),
      |v0 AS MATERIALIZED (
      |  SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS syms,
      |  cnt FROM w),
      |$steps""".stripMargin
  }

  /** The exact DAU/WAU oracle — shared by the batch query and the
    * streaming activity-MV twin. */
  private val activeUsersSql: String =
    """WITH f AS (SELECT DISTINCT user_id,
        |    epoch_ns(ts) // 86400000000000 AS epoch_day FROM events),
        |b AS (SELECT MIN(epoch_day) AS lo, MAX(epoch_day) AS hi FROM f),
        |g AS (SELECT unnest(range((SELECT lo FROM b),
        |    (SELECT hi FROM b) + 1)) AS epoch_day),
        |dau AS (SELECT epoch_day,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
        |  FROM f GROUP BY 1),
        |w AS (SELECT epoch_day + k AS epoch_day, user_id
        |  FROM f, unnest(range(0, 7)) AS u(k)),
        |wau AS (SELECT epoch_day,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau7
        |  FROM w GROUP BY 1)
        |SELECT g.epoch_day,
        |  CAST(COALESCE(dau.dau, 0) AS BIGINT) AS dau,
        |  CAST(COALESCE(wau.wau7, 0) AS BIGINT) AS wau7
        |FROM g LEFT JOIN dau USING (epoch_day)
        |  LEFT JOIN wau USING (epoch_day)
        |ORDER BY epoch_day""".stripMargin

  /** Shared CTE chain for the co-occurrence triangle family: occupancy
    * → repeat-co-occurrence edges → id-ordered triangles → per-user
    * membership counts (`tc`); `ed` stays visible for the degree CTE
    * the clustering-coefficient oracle adds. */
  private val triangleCtes: String =
    """e0 AS (SELECT DISTINCT event_type,
      |    epoch_ns(ts) // 600000000000 AS bkt, user_id FROM events),
      |ed AS (SELECT u, v FROM (
      |    SELECT a.user_id AS u, b.user_id AS v,
      |      COUNT(*) AS nco
      |    FROM e0 a JOIN e0 b ON a.event_type = b.event_type
      |      AND a.bkt = b.bkt AND a.user_id < b.user_id
      |    GROUP BY 1, 2) x
      |  WHERE nco >= 2),
      |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM ed e1 JOIN ed e2 ON e1.v = e2.u
      |  JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v),
      |m AS (SELECT unnest([a, b, c]) AS user_id FROM tri),
      |tc AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
      |  FROM m GROUP BY user_id)""".stripMargin

  private val bpeMergesSql: String = {
    val report = (1 to 8).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS merge_step, l AS left_sym,
        |  r AS right_sym, CAST(pc AS BIGINT) AS pair_count FROM best$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $bpeTrainCtes
      |SELECT * FROM (
      |$report
      |) ORDER BY merge_step""".stripMargin
  }

  /** Encode oracle: recover each word type from its final symbol string
    * (strip the spaces), count its symbols, join corpus occurrences. */
  private val bpeEncodeSql: String =
    s"""WITH $bpeTrainCtes,
      |enc AS (SELECT replace(syms, ' ', '') AS word,
      |    CAST(len(string_split(trim(syms), ' ')) AS BIGINT) AS n_sym
      |  FROM v8),
      |dw AS (SELECT doc_id,
      |    unnest(string_split_regex(trim(text), '\\s+')) AS word
      |  FROM documents)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
      |  CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens,
      |  CAST(SUM(len(word)) AS BIGINT) AS n_chars,
      |  CAST(SUM(len(word)) AS DOUBLE) / CAST(SUM(n_sym) AS DOUBLE)
      |    AS chars_per_token
      |FROM dw JOIN enc USING (word)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The trigram stupid-backoff LM oracle — shared by the batch query
    * and the streaming summing-MV/PK-FINAL twin. */
  private val lmScoreSql: String =
    """WITH d AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS t,
        |    (instr('0123456789abcdef', substring(h, 1, 1)) - 1) * 16 +
        |      instr('0123456789abcdef', substring(h, 2, 1)) - 1 < 230
        |      AS is_train
        |  FROM (SELECT doc_id, text, md5(doc_id::VARCHAR) AS h
        |        FROM documents) x),
        |uni AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cu
        |  FROM (SELECT unnest(t) AS token FROM d WHERE is_train) x
        |  GROUP BY token),
        |n AS (SELECT CAST(SUM(cu) AS BIGINT) AS n FROM uni),
        |bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM (
        |    SELECT t[i + 1] AS w1, t[i + 2] AS w2
        |    FROM d, unnest(range(0, len(t) - 1)) AS u(i)
        |    WHERE is_train AND len(t) >= 2) p
        |  GROUP BY w1, w2),
        |tg AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c3 FROM (
        |    SELECT t[i + 1] AS w1, t[i + 2] AS w2, t[i + 3] AS w3
        |    FROM d, unnest(range(0, len(t) - 2)) AS u(i)
        |    WHERE is_train AND len(t) >= 3) p
        |  GROUP BY w1, w2, w3),
        |dt AS (SELECT doc_id, t[i + 1] AS w1, t[i + 2] AS w2,
        |    t[i + 3] AS w3
        |  FROM d, unnest(range(0, len(t) - 2)) AS u(i)
        |  WHERE len(t) >= 3),
        |s AS (SELECT doc_id,
        |    CASE WHEN tg.c3 IS NOT NULL THEN (1000000000 * tg.c3) // ab.cb
        |      WHEN bc.cb IS NOT NULL THEN (400000000 * bc.cb) // u2.cu
        |      ELSE (160000000 * COALESCE(u3.cu, 0)) // (SELECT n FROM n)
        |    END AS ps
        |  FROM dt LEFT JOIN tg USING (w1, w2, w3)
        |    LEFT JOIN bi ab ON dt.w1 = ab.w1 AND dt.w2 = ab.w2
        |    LEFT JOIN bi bc ON dt.w2 = bc.w1 AND dt.w3 = bc.w2
        |    LEFT JOIN uni u2 ON dt.w2 = u2.token
        |    LEFT JOIN uni u3 ON dt.w3 = u3.token)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
        |  CAST(SUM(ps) AS BIGINT) AS sum_scaled,
        |  CAST(SUM(ps) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS lm_score
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The interval-join oracle — shared by the batch banded range join
    * and its watermarked stream-stream twin. */
  private val rangeJoinSql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events)
      |SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
      |  b.ts_us - a.ts_us AS gap_us
      |FROM e a JOIN e b ON a.user_id = b.user_id
      |  AND a.event_id < b.event_id
      |  AND abs(a.ts_us - b.ts_us) <= 3600000000
      |ORDER BY a.user_id, event_a, event_b""".stripMargin

  /** The integer-exact 2σ anomaly oracle — shared by the batch query
    * and the streaming summing-MV twin. The detection predicate is the
    * division-free (n·c − s1)² > 4·(n·s2 − s1²) form, so the flagged
    * set involves no float comparison in either engine. */
  private val anomalySql: String =
    """WITH d AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS epoch_day,
      |    CAST(COUNT(*) AS BIGINT) AS day_count
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |    CAST(SUM(day_count) AS BIGINT) AS s1,
      |    CAST(SUM(day_count * day_count) AS BIGINT) AS s2
      |  FROM d GROUP BY event_type)
      |SELECT d.event_type, d.epoch_day, d.day_count, st.n_days,
      |  CAST(st.s1 AS DOUBLE) / CAST(st.n_days AS DOUBLE) AS mean_count,
      |  (st.n_days * d.day_count - st.s1) > 0 AS is_high
      |FROM d JOIN st USING (event_type)
      |WHERE (st.n_days * d.day_count - st.s1) *
      |      (st.n_days * d.day_count - st.s1) >
      |      4 * (st.n_days * st.s2 - st.s1 * st.s1)
      |ORDER BY event_type, epoch_day""".stripMargin

  /** The φ-fraction heavy-hitter oracle — exact counts with the
    * ceil(φ·N) threshold; shared by the batch CMS-pruned query and its
    * streaming summing-MV twin (the sketch is candidate pruning only,
    * so the oracle never models it). */
  private val heavyHittersSql: String =
    """WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\s+'))
      |    AS token FROM documents),
      |th AS (SELECT CAST(ceil(0.02 * COUNT(*)) AS BIGINT) AS t FROM tok)
      |SELECT token, CAST(COUNT(*) AS BIGINT) AS tf
      |FROM tok GROUP BY token
      |HAVING COUNT(*) >= (SELECT t FROM th)
      |ORDER BY tf DESC, token""".stripMargin

  /** Shared by `pipe_corpus_clean` and its streaming twin
    * `pipe_stream_clean` - one oracle, two execution engines. */
  /** The dataset-card oracle — shared by the batch query and its
    * streaming summing-MV twin. */
  private val datasetCardSql: String =
      """WITH a AS (SELECT doc_id, lang,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens,
        |    (instr('0123456789abcdef', substring(h, 1, 1)) - 1) * 16 +
        |      instr('0123456789abcdef', substring(h, 2, 1)) - 1 AS bucket
        |  FROM (SELECT doc_id, lang, text, md5(CAST(doc_id AS VARCHAR)) AS h
        |        FROM documents) x),
        |per AS (SELECT
        |    CASE WHEN bucket < 230 THEN 'train'
        |         WHEN bucket < 243 THEN 'val' ELSE 'test' END AS split,
        |    lang, COUNT(*) AS n_docs,
        |    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        |  FROM a GROUP BY 1, 2),
        |tot AS (SELECT split, SUM(total_tokens) AS split_tokens
        |  FROM per GROUP BY split)
        |SELECT per.split, per.lang, per.n_docs, per.total_tokens,
        |  CAST(per.total_tokens AS DOUBLE) / CAST(tot.split_tokens AS DOUBLE)
        |    AS token_share
        |FROM per JOIN tot USING (split)
        |ORDER BY split, lang""".stripMargin

  private val corpusCleanSql: String =
    """WITH corpus AS (
        |  SELECT doc_id, lang, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, lang, text FROM documents),
        |m AS (SELECT doc_id, lang, text,
        |        string_split_regex(trim(text), '\s+') AS t FROM corpus),
        |g AS (SELECT doc_id, lang, text, t,
        |        CAST(len(t) AS BIGINT) AS n_tokens,
        |        CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
        |        CAST(len(list_filter(t, x -> list_contains(
        |          ['the','a','of','and','in','to','is'], x))) AS BIGINT) AS stop_count
        |      FROM m),
        |q AS (SELECT *,
        |        0.5 * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)) +
        |          CASE WHEN n_tokens >= 50 THEN 0.5
        |               ELSE CAST(n_tokens AS DOUBLE) * 0.01 END AS quality,
        |        CASE WHEN CAST(stop_count AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.1
        |               THEN 'en_like'
        |             WHEN CAST(stop_count AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.05
        |               THEN 'latin_like'
        |             ELSE 'other' END AS lang_guess
        |      FROM g),
        |gated AS (SELECT * FROM q
        |          WHERE quality >= 0.6 AND lang_guess != 'other'),
        |canon AS (SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
        |    FROM gated) r
        |  WHERE rn = 1),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(t) - 1, 1)),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS ss FROM canon),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE) /
        |      CAST(len(list_distinct(list_concat(a.ss, b.ss))) AS DOUBLE) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT doc_id, lang, lang_guess, n_tokens, quality FROM canon
        |WHERE doc_id NOT IN (SELECT doc_b FROM p WHERE jaccard >= 0.8)
        |ORDER BY doc_id""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  /** Shared by `s_ann_lsh` and its streaming-MV twin
    * `s_stream_ann_lsh`: the exact sign-bucket + hamming-1 multi-probe
    * search, recomputed from the static table — both index builds must
    * land on this one answer. */
  /** Deterministic k-means replay — seeds = 8 lowest vec_ids, two
    * Lloyd iterations (argmax-cosine assignment with first-max
    * tie-break; quantized integer-sum mean update, empty-cell
    * carry-over) — through the final assignment CTE `a3`. SHARED by
    * the `s_ann_kmeans` search oracle and the `d_semantic_dedup`
    * cluster-prune oracle, so the two replays cannot drift. Integer
    * update sums are order-independent → bit-identical to Spark's
    * trainer regardless of partitioning. */
  private val kmeansAssignCte: String =
    """WITH n AS (SELECT vec_id, emb,
      |    sqrt(list_sum(list_transform(list_zip(emb, emb), x -> x[1] * x[2]))) AS nrm
      |  FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) e),
      |c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
      |    emb AS c
      |  FROM (SELECT vec_id, emb FROM n ORDER BY vec_id LIMIT 8)),
      |s1 AS (SELECT n.vec_id, c.cell,
      |    list_sum(list_transform(list_zip(n.emb, c.c), x -> x[1] * x[2]))
      |      / sqrt(list_sum(list_transform(list_zip(c.c, c.c), x -> x[1] * x[2]))) AS score
      |  FROM n CROSS JOIN c0 c),
      |a1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rk
      |  FROM s1) WHERE rk = 1),
      |u1 AS (SELECT a1.cell, dd.d,
      |    SUM(CAST(floor(n.emb[dd.d] * 1048576.0) AS BIGINT)) AS s,
      |    COUNT(*) AS cnt
      |  FROM a1 JOIN n USING (vec_id)
      |    CROSS JOIN (SELECT unnest(range(1, 65)) AS d) dd
      |  GROUP BY a1.cell, dd.d),
      |m1 AS (SELECT cell,
      |    list(CAST(s AS DOUBLE) / (CAST(cnt AS DOUBLE) * 1048576.0) ORDER BY d) AS c
      |  FROM u1 GROUP BY cell),
      |c1 AS (SELECT c0.cell, COALESCE(m1.c, c0.c) AS c
      |  FROM c0 LEFT JOIN m1 USING (cell)),
      |s2 AS (SELECT n.vec_id, c.cell,
      |    list_sum(list_transform(list_zip(n.emb, c.c), x -> x[1] * x[2]))
      |      / sqrt(list_sum(list_transform(list_zip(c.c, c.c), x -> x[1] * x[2]))) AS score
      |  FROM n CROSS JOIN c1 c),
      |a2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rk
      |  FROM s2) WHERE rk = 1),
      |u2 AS (SELECT a2.cell, dd.d,
      |    SUM(CAST(floor(n.emb[dd.d] * 1048576.0) AS BIGINT)) AS s,
      |    COUNT(*) AS cnt
      |  FROM a2 JOIN n USING (vec_id)
      |    CROSS JOIN (SELECT unnest(range(1, 65)) AS d) dd
      |  GROUP BY a2.cell, dd.d),
      |m2 AS (SELECT cell,
      |    list(CAST(s AS DOUBLE) / (CAST(cnt AS DOUBLE) * 1048576.0) ORDER BY d) AS c
      |  FROM u2 GROUP BY cell),
      |c2 AS (SELECT c1.cell, COALESCE(m2.c, c1.c) AS c
      |  FROM c1 LEFT JOIN m2 USING (cell)),
      |s3 AS (SELECT n.vec_id, c.cell,
      |    list_sum(list_transform(list_zip(n.emb, c.c), x -> x[1] * x[2]))
      |      / sqrt(list_sum(list_transform(list_zip(c.c, c.c), x -> x[1] * x[2]))) AS score
      |  FROM n CROSS JOIN c2 c),
      |a3 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rk
      |  FROM s3) WHERE rk = 1),""".stripMargin

  /** The residual-PQ TRAINING replay (primary-assignment residuals →
    * two quantized-update Lloyd iterations per subspace → final books
    * `pcf`) plus the query-side probe/LUT CTEs — shared by
    * `s_ann_ivfpq` and `s_ann_ivfpq_eps` so the trained books and the
    * probe fan-out cannot drift between the two replays (the eps
    * variant differs only in WHAT is encoded and the replica dedup). */
  private val ivfPqTrainCtes: String =
    """rsd AS (SELECT n.vec_id, a3.cell,
      |    list_transform(list_zip(n.emb, c.c), x -> x[1] - x[2]) AS remb
      |  FROM n JOIN a3 USING (vec_id) JOIN c2 c ON c.cell = a3.cell),
      |js AS (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS j),
      |psub AS (SELECT vec_id, j, list_slice(remb, j * 8 + 1, j * 8 + 8) AS s
      |  FROM rsd CROSS JOIN js),
      |p0 AS (SELECT j,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INTEGER) AS cell,
      |    s AS c
      |  FROM psub WHERE vec_id IN (SELECT vec_id FROM n ORDER BY vec_id LIMIT 8)),
      |ps1 AS (SELECT psub.vec_id, psub.j, c.cell,
      |    list_sum(list_transform(list_zip(c.c, c.c), x -> x[1] * x[2]))
      |      - 2 * list_sum(list_transform(list_zip(psub.s, c.c), x -> x[1] * x[2])) AS d
      |  FROM psub JOIN p0 c ON c.j = psub.j),
      |pa1 AS (SELECT vec_id, j, cell FROM (SELECT vec_id, j, cell,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d ASC, cell) AS rk
      |  FROM ps1) WHERE rk = 1),
      |pu1 AS (SELECT pa1.j, pa1.cell, dd.d,
      |    SUM(CAST(floor(psub.s[dd.d] * 1048576.0) AS BIGINT)) AS sm,
      |    COUNT(*) AS cnt
      |  FROM pa1 JOIN psub ON psub.vec_id = pa1.vec_id AND psub.j = pa1.j
      |    CROSS JOIN (SELECT CAST(unnest(range(1, 9)) AS INTEGER) AS d) dd
      |  GROUP BY pa1.j, pa1.cell, dd.d),
      |pm1 AS (SELECT j, cell,
      |    list(CAST(sm AS DOUBLE) / (CAST(cnt AS DOUBLE) * 1048576.0) ORDER BY d) AS c
      |  FROM pu1 GROUP BY j, cell),
      |pc1 AS (SELECT p0.j, p0.cell, COALESCE(pm1.c, p0.c) AS c
      |  FROM p0 LEFT JOIN pm1 ON pm1.j = p0.j AND pm1.cell = p0.cell),
      |ps2 AS (SELECT psub.vec_id, psub.j, c.cell,
      |    list_sum(list_transform(list_zip(c.c, c.c), x -> x[1] * x[2]))
      |      - 2 * list_sum(list_transform(list_zip(psub.s, c.c), x -> x[1] * x[2])) AS d
      |  FROM psub JOIN pc1 c ON c.j = psub.j),
      |pa2 AS (SELECT vec_id, j, cell FROM (SELECT vec_id, j, cell,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d ASC, cell) AS rk
      |  FROM ps2) WHERE rk = 1),
      |pu2 AS (SELECT pa2.j, pa2.cell, dd.d,
      |    SUM(CAST(floor(psub.s[dd.d] * 1048576.0) AS BIGINT)) AS sm,
      |    COUNT(*) AS cnt
      |  FROM pa2 JOIN psub ON psub.vec_id = pa2.vec_id AND psub.j = pa2.j
      |    CROSS JOIN (SELECT CAST(unnest(range(1, 9)) AS INTEGER) AS d) dd
      |  GROUP BY pa2.j, pa2.cell, dd.d),
      |pm2 AS (SELECT j, cell,
      |    list(CAST(sm AS DOUBLE) / (CAST(cnt AS DOUBLE) * 1048576.0) ORDER BY d) AS c
      |  FROM pu2 GROUP BY j, cell),
      |pcf AS (SELECT pc1.j, pc1.cell, COALESCE(pm2.c, pc1.c) AS c
      |  FROM pc1 LEFT JOIN pm2 ON pm2.j = pc1.j AND pm2.cell = pc1.cell),
      |paq AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rk
      |  FROM s3 WHERE vec_id < 20) WHERE rk <= 2),
      |cdq AS (SELECT q.vec_id AS query_id, a.cell,
      |    list_sum(list_transform(list_zip(q.emb, c.c), x -> x[1] * x[2])) AS cdot
      |  FROM paq a JOIN n q ON q.vec_id = a.vec_id
      |    JOIN c2 c ON c.cell = a.cell),
      |qsub AS (SELECT vec_id, j, list_slice(emb, j * 8 + 1, j * 8 + 8) AS s
      |  FROM n CROSS JOIN js WHERE vec_id < 20),
      |lutp AS (SELECT sq.vec_id AS query_id, c.j, c.cell,
      |    list_sum(list_transform(list_zip(sq.s, c.c), x -> x[1] * x[2])) AS pdot
      |  FROM qsub sq JOIN pcf c ON c.j = sq.j),
      |lutl AS (SELECT query_id, list(pdot ORDER BY j, cell) AS lut
      |  FROM lutp GROUP BY query_id),""".stripMargin

  /** The IVF probe/search tail of the k-means replay — shared by
    * `s_ann_kmeans` and the recall report `s_ann_recall` so the two
    * replays cannot drift. */
  private val kmeansSearchCtes: String =
    """aq AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rk
      |  FROM s3) WHERE rk <= 2),
      |ax AS (SELECT n.vec_id, n.emb, n.nrm, a3.cell
      |  FROM n JOIN a3 USING (vec_id)),
      |qx AS (SELECT n.vec_id, n.emb, n.nrm, aq.cell
      |  FROM n JOIN aq USING (vec_id) WHERE n.vec_id < 20),
      |p AS (SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
      |    list_sum(list_transform(list_zip(q.emb, t.emb), x2 -> x2[1] * x2[2]))
      |      / (q.nrm * t.nrm) AS cosine
      |  FROM qx q JOIN ax t ON t.cell = q.cell
      |    AND t.vec_id != q.vec_id),
      |r AS (SELECT query_id, neighbor_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY cosine DESC, neighbor_id) AS rk FROM p)""".stripMargin

  /** Retention cohort-matrix oracle — shared by `g_retention_cohorts`
    * and its streaming activity-MV twin `g_stream_retention`. */
  private val retentionSql: String =
    """WITH act AS (SELECT DISTINCT user_id,
      |    epoch_ns(ts) // 86400000000000 AS epoch_day FROM events),
      |coh AS (SELECT user_id, MIN(epoch_day) AS cohort_day
      |  FROM act GROUP BY user_id)
      |SELECT c.cohort_day, a.epoch_day - c.cohort_day AS day_offset,
      |  COUNT(*) AS n_users
      |FROM act a JOIN coh c USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The substring family's MODELED-corpus CTE (base + head/glue/tail
    * remix under the 10^k id shift) — shared by the span oracle and
    * the containment oracle so the two corpora cannot drift. */
  private val spansCorpusCte: String =
    """WITH base AS (SELECT doc_id, trim(text) AS text FROM documents),
      |tok AS (SELECT doc_id, text,
      |    string_split_regex(text, '\s+') AS t FROM base),
      |mx AS (SELECT max(doc_id) AS m FROM base),
      |remix AS (SELECT doc_id + CAST(power(10,
      |      length(CAST((SELECT m FROM mx) AS VARCHAR))) AS BIGINT) AS doc_id,
      |    array_to_string(list_slice(t, 1, 12), ' ') || ' xq' ||
      |      CAST(doc_id AS VARCHAR) || 'xq ' ||
      |      array_to_string(list_slice(t, len(t) - 11, len(t)), ' ') AS text
      |  FROM tok WHERE doc_id % 5 = 0 AND len(t) >= 30),
      |corpus AS (SELECT doc_id, text FROM base
      |  UNION ALL SELECT doc_id, text FROM remix),""".stripMargin

  /** Substring-level dedup oracle — remix synthesis + 8-token-window
    * occurrence counts + per-doc island merge. Shared by `d_dup_spans`
    * and its streaming index twin `d_stream_spans`: one aggregation
    * semantics over two index builds, one oracle. */
  private val dupSpansSql: String = spansCorpusCte + "\n" +
    """m AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      |  FROM corpus),
      |b AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, t FROM m),
      |w AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |    concat_ws(' ', t[pos+1], t[pos+2], t[pos+3], t[pos+4],
      |      t[pos+5], t[pos+6], t[pos+7], t[pos+8]) AS win
      |  FROM (SELECT doc_id, t,
      |      unnest(range(0, greatest(n_tokens - 7, 0))) AS pos FROM b)),
      |occ AS (SELECT win, COUNT(*) AS occ FROM w GROUP BY win),
      |dup AS (SELECT w.doc_id, w.pos FROM w JOIN occ USING (win)
      |  WHERE occ.occ >= 2),
      |isl AS (SELECT doc_id, pos,
      |    MAX(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |  FROM dup),
      |g AS (SELECT doc_id, pos,
      |    SUM(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
      |      THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos
      |        ROWS UNBOUNDED PRECEDING) AS grp
      |  FROM isl),
      |sp AS (SELECT doc_id, grp, MIN(pos) AS s, MAX(pos + 7) AS e,
      |    COUNT(*) AS nw
      |  FROM g GROUP BY doc_id, grp),
      |per AS (SELECT doc_id, CAST(SUM(nw) AS BIGINT) AS n_dup_windows,
      |    CAST(COUNT(*) AS BIGINT) AS n_spans,
      |    CAST(SUM(e - s + 1) AS BIGINT) AS covered_tokens
      |  FROM sp GROUP BY doc_id)
      |SELECT b.doc_id, b.n_tokens,
      |  COALESCE(per.n_dup_windows, 0) AS n_dup_windows,
      |  COALESCE(per.n_spans, 0) AS n_spans,
      |  COALESCE(per.covered_tokens, 0) AS covered_tokens,
      |  CASE WHEN b.n_tokens > 0
      |    THEN CAST(COALESCE(per.covered_tokens, 0) AS DOUBLE)
      |      / CAST(b.n_tokens AS DOUBLE)
      |    ELSE 0.0 END AS dup_span_frac
      |FROM b LEFT JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Directed containment-join oracle: exact all-ordered-pairs
    * |host ∩ piece| / |piece| over distinct 3-token shingle sets of
    * the spans corpus. The Spark side computes the same ratio over
    * 64-bit shingle-hash sets (collision odds ≈ 1e-13 — the
    * established [[graft.functions.GramHash]] equivalence). */
  private val containmentSql: String = spansCorpusCte + "\n" +
    """m AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      |  FROM corpus),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |    range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS ss
      |  FROM m WHERE len(t) >= 3)
      |SELECT a.doc_id AS host_id, b.doc_id AS piece_id,
      |  CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
      |    / CAST(len(b.ss) AS DOUBLE) AS containment
      |FROM sh a JOIN sh b ON a.doc_id != b.doc_id
      |WHERE CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
      |    / CAST(len(b.ss) AS DOUBLE) >= 0.8
      |ORDER BY host_id, piece_id""".stripMargin

  /** MMR unrolled as k chained 1-row CTEs (the PageRank/BPE-merge
    * oracle discipline): step i excludes s1..s(i−1) and takes the
    * (mmr DESC, vec_id) argmax with max_sim = GREATEST over pairwise
    * cosines to the already-selected rows. */
  private def mmrOracleSql(k: Int = 8, pool: Int = 20,
      lam: String = "0.5"): String = {
    def dotq(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), x2 -> x2[1] * x2[2]))"
    val steps = (1 to k).map { i =>
      if (i == 1)
        "s1 AS (SELECT vec_id, emb, nrm, rel, CAST(0.0 AS DOUBLE) " +
          "AS max_sim, rel AS mmr FROM cand ORDER BY rel DESC, vec_id " +
          "LIMIT 1)"
      else {
        val prev = (1 until i).map(j => s"s$j").mkString(", ")
        val notin = (1 until i).map(j => s"c.vec_id != s$j.vec_id")
          .mkString(" AND ")
        val sims = (1 until i).map(j =>
          s"(${dotq("c.emb", s"s$j.emb")} / (c.nrm * s$j.nrm))")
        val maxs =
          if (sims.size == 1) sims.head
          else s"GREATEST(${sims.mkString(", ")})"
        s"s$i AS (SELECT c.vec_id, c.emb, c.nrm, c.rel, $maxs AS max_sim, " +
          s"c.rel - $lam * ($maxs) AS mmr FROM cand c, $prev " +
          s"WHERE $notin ORDER BY mmr DESC, c.vec_id LIMIT 1)"
      }
    }
    val unions = (1 to k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rank, vec_id, rel, max_sim, " +
        s"mmr AS mmr_score FROM s$i").mkString("\nUNION ALL\n")
    s"""WITH n AS (SELECT vec_id, emb, sqrt(${dotq("emb", "emb")}) AS nrm
       |  FROM (SELECT vec_id, embedding::DOUBLE[] AS emb
       |        FROM embeddings) e),
       |q AS (SELECT emb, nrm FROM n WHERE vec_id = 0),
       |cand AS (SELECT x.vec_id, x.emb, x.nrm,
       |    ${dotq("x.emb", "q.emb")} / (x.nrm * q.nrm) AS rel
       |  FROM n x, q WHERE x.vec_id != 0
       |  ORDER BY rel DESC, x.vec_id LIMIT $pool),
       |${steps.mkString(",\n")}
       |$unions
       |ORDER BY rank""".stripMargin
  }

  private val annLshOracle: String =
    """WITH n AS (SELECT vec_id, emb,
      |    sqrt(list_sum(list_transform(list_zip(emb, emb), x -> x[1] * x[2]))) AS nrm
      |  FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) e),
      |h AS (SELECT vec_id AS h_id, emb AS h_emb FROM n WHERE vec_id < 4),
      |d AS (SELECT n.vec_id, h.h_id,
      |    list_sum(list_transform(list_zip(n.emb, h.h_emb), x -> x[1] * x[2])) AS dt
      |  FROM n CROSS JOIN h),
      |b AS (SELECT vec_id,
      |    SUM(CASE WHEN dt >= 0 THEN CAST(pow(2, h_id) AS BIGINT) ELSE 0 END) AS bucket
      |  FROM d GROUP BY vec_id),
      |a AS (SELECT n.vec_id, n.emb, n.nrm, b.bucket
      |  FROM n JOIN b ON n.vec_id = b.vec_id),
      |p AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
      |    list_sum(list_transform(list_zip(q.emb, x.emb), x2 -> x2[1] * x2[2]))
      |      / (q.nrm * x.nrm) AS cosine
      |  FROM a q JOIN a x ON q.vec_id < 20
      |    AND bit_count(xor(x.bucket, q.bucket)) <= 1
      |    AND x.vec_id != q.vec_id),
      |r AS (SELECT query_id, neighbor_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY cosine DESC, neighbor_id) AS rk FROM p)
      |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id, cosine
      |FROM r WHERE rk <= 3 ORDER BY query_id, rank""".stripMargin

  /** A streaming twin answers with its batch query's oracle, by
    * construction of [[graft.streaming.StreamTwin.twins]]. */
  def oracleSql: Map[String, String] = {
    val base = oracleSqlBase
    val m = base ++ Map(
      // round 12: star-contraction CC computes the same component
      // labels as the pointer-doubling impl
      "d_cc_stars" -> base("d_dup_groups"),
      // the model-store apply twins read the stored latest version into
      // the SAME search/encode/score bodies as the train-inline queries
      "s_ann_kmeans_stored" -> base("s_ann_kmeans"),
      "s_ann_pq_stored" -> base("s_ann_pq"),
      "t_bpe_encode_stored" -> base("t_bpe_encode"),
      "t_lm_score_stored" -> base("t_lm_score"),
      "s_ann_ivfpq_stored" -> base("s_ann_ivfpq"))
    m ++ graft.streaming.StreamTwin.twins.map(t => t.name -> m(t.batch))
  }

  /** Exact all-pairs 3-shingle Jaccard >= 0.8 — the near-dup pair
    * oracle every candidate generator must converge on. */
  private val allPairsJaccardSql: String =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, greatest(len(t) - 1, 1)),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS ss
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      |        FROM documents) x),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE) /
      |      CAST(len(list_distinct(list_concat(a.ss, b.ss))) AS DOUBLE) AS jaccard
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, jaccard FROM p
      |WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin

  private def oracleSqlBase: Map[String, String] = Map(
    // RFM segmentation: user-grain purchase aggregates, value-based
    // nearest-rank quartile boundaries (the deciles discipline), then
    // the (r, f, m) segment census
    "w_rfm" ->
      """WITH p AS (SELECT user_id, max(epoch_us(ts)) AS last_us,
        |    CAST(count(*) AS BIGINT) AS n_purchases,
        |    SUM(CAST(value AS DECIMAL(28, 2))) AS monetary
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |u AS (SELECT user_id, n_purchases, monetary,
        |    ((SELECT max(last_us) FROM p) - last_us) // 86400000000
        |      AS recency_days
        |  FROM p),
        |rh AS (SELECT recency_days AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM u GROUP BY 1),
        |rc AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum,
        |    SUM(c) OVER () AS n FROM rh),
        |rb AS (SELECT q.p, MIN(v) AS b FROM rc,
        |    (VALUES (0.25), (0.5), (0.75)) q(p)
        |  WHERE cum >= CEIL(q.p * n) GROUP BY q.p),
        |fh AS (SELECT n_purchases AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM u GROUP BY 1),
        |fc AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum,
        |    SUM(c) OVER () AS n FROM fh),
        |fb AS (SELECT q.p, MIN(v) AS b FROM fc,
        |    (VALUES (0.25), (0.5), (0.75)) q(p)
        |  WHERE cum >= CEIL(q.p * n) GROUP BY q.p),
        |mh AS (SELECT monetary AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM u GROUP BY 1),
        |mc AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum,
        |    SUM(c) OVER () AS n FROM mh),
        |mb AS (SELECT q.p, MIN(v) AS b FROM mc,
        |    (VALUES (0.25), (0.5), (0.75)) q(p)
        |  WHERE cum >= CEIL(q.p * n) GROUP BY q.p),
        |s AS (SELECT monetary,
        |    1 + (SELECT count(*) FROM rb WHERE rb.b < u.recency_days)
        |      AS r_score,
        |    1 + (SELECT count(*) FROM fb WHERE fb.b < u.n_purchases)
        |      AS f_score,
        |    1 + (SELECT count(*) FROM mb WHERE mb.b < u.monetary)
        |      AS m_score
        |  FROM u)
        |SELECT CAST(r_score AS BIGINT) AS r_score,
        |  CAST(f_score AS BIGINT) AS f_score,
        |  CAST(m_score AS BIGINT) AS m_score,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(SUM(monetary) AS DOUBLE) AS sum_monetary
        |FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // Simpson lexical concentration: exact integer unigram counts,
    // ONE division; single-token docs are NULL in both engines
    "t_simpson_diversity" ->
      """WITH tk AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM tk GROUP BY 1, 2),
        |d AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_distinct,
        |    CAST(SUM(c * (c - 1)) AS BIGINT) AS rep_pairs
        |  FROM c GROUP BY 1)
        |SELECT doc_id, n_tokens, n_distinct, rep_pairs,
        |  CASE WHEN n_tokens > 1 THEN CAST(rep_pairs AS DOUBLE) /
        |    CAST(n_tokens * (n_tokens - 1) AS DOUBLE) END
        |    AS simpson_concentration
        |FROM d ORDER BY doc_id""".stripMargin,
    // threshold calibration: exact all-pairs Jaccard >= 0.70 (the
    // d_minhash_pairs shingle CTE), 0.05 bins, descending-cumulative
    // retained-pair curve
    "d_threshold_calibration" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(t) - 1, 1)),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS ss
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |        FROM documents) x),
        |p AS (
        |  SELECT CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE) /
        |      CAST(len(list_distinct(list_concat(a.ss, b.ss))) AS DOUBLE)
        |      AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |g AS (SELECT CAST(floor(jaccard * 20) AS BIGINT) AS bin,
        |    CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM p WHERE jaccard >= 0.7 GROUP BY 1)
        |SELECT bin, n_pairs,
        |  CAST(SUM(n_pairs) OVER (ORDER BY bin DESC) AS BIGINT)
        |    AS n_at_or_above
        |FROM g ORDER BY bin""".stripMargin,
    // robust anomaly: nearest-rank median + MAD over integer daily
    // counts, flag |count - median| > 3*MAD — no doubles anywhere
    "w_anomaly_mad" ->
      """WITH d AS (SELECT event_type,
        |    epoch_ns(ts) // 86400000000000 AS epoch_day,
        |    CAST(count(*) AS BIGINT) AS day_count
        |  FROM events GROUP BY 1, 2),
        |h1 AS (SELECT event_type, day_count AS v,
        |    CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
        |c1 AS (SELECT event_type, v,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
        |    SUM(c) OVER (PARTITION BY event_type) AS n FROM h1),
        |m1 AS (SELECT event_type, MIN(v) AS med_count FROM c1
        |  WHERE cum >= CEIL(0.5 * n) GROUP BY 1),
        |dev AS (SELECT d.event_type, d.epoch_day, d.day_count,
        |    m1.med_count, abs(d.day_count - m1.med_count) AS abs_dev
        |  FROM d JOIN m1 USING (event_type)),
        |h2 AS (SELECT event_type, abs_dev AS v,
        |    CAST(count(*) AS BIGINT) AS c FROM dev GROUP BY 1, 2),
        |c2 AS (SELECT event_type, v,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
        |    SUM(c) OVER (PARTITION BY event_type) AS n FROM h2),
        |m2 AS (SELECT event_type, MIN(v) AS mad FROM c2
        |  WHERE cum >= CEIL(0.5 * n) GROUP BY 1)
        |SELECT dev.event_type, dev.epoch_day, dev.day_count,
        |  dev.med_count, m2.mad, dev.day_count > dev.med_count AS is_high
        |FROM dev JOIN m2 USING (event_type)
        |WHERE dev.abs_dev > 3 * m2.mad
        |ORDER BY dev.event_type, dev.epoch_day""".stripMargin,
    // multi-source BFS: 3 unrolled neighbor expansions over the
    // repeat-co-occurrence graph, min-union of the labeled layers
    "g_bfs_distance" ->
      s"""WITH $triangleCtes,
        |de AS (SELECT u AS src, v AS dst FROM ed
        |  UNION ALL SELECT v, u FROM ed),
        |seeds AS (SELECT DISTINCT src AS n FROM de WHERE src % 10 = 0),
        |r1 AS (SELECT DISTINCT de.dst AS n FROM de
        |  WHERE de.src IN (SELECT n FROM seeds)),
        |r2 AS (SELECT DISTINCT de.dst AS n FROM de
        |  WHERE de.src IN (SELECT n FROM r1)),
        |r3 AS (SELECT DISTINCT de.dst AS n FROM de
        |  WHERE de.src IN (SELECT n FROM r2)),
        |lab AS (SELECT n, 0 AS dist FROM seeds
        |  UNION ALL SELECT n, 1 FROM r1
        |  UNION ALL SELECT n, 2 FROM r2
        |  UNION ALL SELECT n, 3 FROM r3)
        |SELECT n AS user_id, CAST(MIN(dist) AS BIGINT) AS dist
        |FROM lab GROUP BY 1 ORDER BY user_id""".stripMargin,
    // k-NN classification eval: 64 probes, 5 neighbors, every ranking
    // tie pinned (cosine DESC, neighbor id; votes DESC, label ASC)
    "s_knn_classify" ->
      """WITH n AS (SELECT vec_id, label, emb,
        |    sqrt(list_sum(list_transform(list_zip(emb, emb),
        |      x -> x[1] * x[2]))) AS nrm
        |  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS emb
        |        FROM embeddings) e),
        |p AS (SELECT q.vec_id AS probe_id, q.label AS true_label,
        |    x.vec_id AS nid, x.label AS vote_label,
        |    list_sum(list_transform(list_zip(q.emb, x.emb),
        |      x2 -> x2[1] * x2[2])) / (q.nrm * x.nrm) AS cosine
        |  FROM n q JOIN n x ON q.vec_id < 64 AND x.vec_id != q.vec_id),
        |r AS (SELECT probe_id, true_label, vote_label,
        |    ROW_NUMBER() OVER (PARTITION BY probe_id
        |      ORDER BY cosine DESC, nid) AS rk FROM p),
        |v AS (SELECT probe_id, true_label, vote_label,
        |    CAST(count(*) AS BIGINT) AS n_votes
        |  FROM r WHERE rk <= 5 GROUP BY 1, 2, 3),
        |pr AS (SELECT probe_id, true_label, vote_label,
        |    ROW_NUMBER() OVER (PARTITION BY probe_id
        |      ORDER BY n_votes DESC, vote_label) AS vr FROM v)
        |SELECT CAST(true_label AS BIGINT) AS label,
        |  CAST(count(*) AS BIGINT) AS n_probes,
        |  CAST(SUM(CASE WHEN vote_label = true_label THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_correct,
        |  CAST(SUM(CASE WHEN vote_label = true_label THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS accuracy
        |FROM pr WHERE vr = 1 GROUP BY 1 ORDER BY label""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin,
    "q5_local_supplier" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,
    "q9_product_profit" ->
      """SELECT n_name, p_brand,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name, p_brand
        |ORDER BY n_name, p_brand""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN CAST(0.05 AS DOUBLE) AND CAST(0.07 AS DOUBLE)
        |  AND l_quantity < 24""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey ASC
        |LIMIT 20""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) > 250.0)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
        |  total_qty
        |FROM big
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 100""".stripMargin,
    "q17_small_qty_revenue" ->
      """WITH b AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#12'),
        |a AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS avg_qty
        |  FROM b GROUP BY l_partkey)
        |SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE)
        |    / CAST(7.0 AS DOUBLE) AS avg_yearly,
        |  COUNT(*) AS n_lines
        |FROM b JOIN a USING (l_partkey)
        |WHERE l_quantity < CAST(0.2 AS DOUBLE) * avg_qty""".stripMargin,
    "q11_supplier_share" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(28,6))) AS value_dec
        |  FROM lineitem GROUP BY l_suppkey),
        |t AS (SELECT SUM(value_dec) AS total_dec FROM rev)
        |SELECT l_suppkey, s_name, CAST(value_dec AS DOUBLE) AS value
        |FROM rev CROSS JOIN t
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE CAST(value_dec AS DOUBLE) >
        |  CAST(total_dec AS DOUBLE) * CAST(0.001 AS DOUBLE)
        |ORDER BY value DESC, l_suppkey ASC""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH eu_supp AS (
        |  SELECT s_suppkey, s_name, s_acctbal FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |offers AS (
        |  SELECT p_partkey, p_brand, s_suppkey, s_name, s_acctbal,
        |    l_extendedprice
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN eu_supp ON l_suppkey = s_suppkey
        |  WHERE p_size = 15),
        |mc AS (SELECT p_partkey AS mc_partkey,
        |         MIN(l_extendedprice) AS min_price
        |       FROM offers GROUP BY 1)
        |SELECT DISTINCT p_partkey, p_brand, s_suppkey, s_name, s_acctbal,
        |  min_price
        |FROM offers JOIN mc
        |  ON p_partkey = mc_partkey AND l_extendedprice = min_price
        |ORDER BY s_acctbal DESC, p_partkey ASC, s_suppkey ASC
        |LIMIT 100""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CAST(CASE WHEN n_name = 'NATION_5'
        |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
        |    AS DECIMAL(28,6))) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(28,6))) AS DOUBLE) AS mkt_share,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(28,6))) AS DOUBLE) AS total_rev
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_type = 'PROMO'
        |  AND o_custkey IN (
        |    SELECT c_custkey FROM customer
        |    JOIN nation ON c_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey
        |    WHERE r_name = 'EUROPE')
        |GROUP BY 1 ORDER BY o_year""".stripMargin,
    "q12_late_priority" ->
      """SELECT l_returnflag,
        |  COUNT(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 1 END) AS high_line_count,
        |  COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |    THEN 1 END) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q13_customer_distribution" ->
      """WITH per_cust AS (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |SELECT c_count, COUNT(*) AS custdist
        |FROM per_cust GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT
        |  100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
        |    AS DECIMAL(28,6))) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(28,6))) AS DOUBLE) AS promo_share_pct,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(28,6))) AS DOUBLE) AS total_rev,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey, SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(28,6))) AS rev_dec
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey),
        |m AS (SELECT MAX(rev_dec) AS max_rev FROM rev)
        |SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
        |FROM rev JOIN m ON rev_dec = max_rev
        |JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY s_suppkey""".stripMargin,
    "q16_parts_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND p_size IN (1,4,9,14,19,23,36,45)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q19_disjunctive_revenue" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |    AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |    AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q20_part_availability" ->
      """WITH shipped AS (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_partkey IN
        |      (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        |  GROUP BY l_partkey, l_suppkey
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE)
        |    > 40.0)
        |SELECT s_suppkey, s_name FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND s_suppkey IN (SELECT l_suppkey FROM shipped)
        |ORDER BY s_suppkey""".stripMargin,
    "q21_waiting_supplier" ->
      """WITH lines AS (
        |  SELECT l_orderkey, l_suppkey,
        |    l_shipdate > o_orderdate + INTERVAL 60 DAY AS is_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'),
        |per_order AS (
        |  SELECT l_orderkey AS po_orderkey,
        |    COUNT(DISTINCT l_suppkey) AS n_supp,
        |    COUNT(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late
        |  FROM lines GROUP BY 1
        |  HAVING COUNT(DISTINCT l_suppkey) > 1
        |    AND COUNT(DISTINCT CASE WHEN is_late THEN l_suppkey END) = 1),
        |waiters AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey FROM lines WHERE is_late)
        |SELECT s_suppkey, s_name, COUNT(*) AS numwait
        |FROM waiters JOIN per_order ON l_orderkey = po_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_suppkey, s_name
        |ORDER BY numwait DESC, s_suppkey ASC
        |LIMIT 100""".stripMargin,
    "q22_sales_opportunity" ->
      """WITH a AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT n_name, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE)
        |    AS totacctbal
        |FROM customer CROSS JOIN a
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > avg_bal
        |  AND c_custkey NOT IN (SELECT o_custkey FROM orders
        |    WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "p_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |FROM lineitem
        |WHERE l_returnflag IN ('R','A') AND l_quantity >= 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "k_latest_order_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) t
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,
    "v_orphan_orders" ->
      """SELECT COUNT(*) AS orphan_count FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)""".stripMargin,
    "v_table_ranges" ->
      """SELECT * FROM (
        |  SELECT 'orders' AS table_name, CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
        |         CAST(MAX(o_orderkey) AS BIGINT) AS max_key, COUNT(*) AS row_count FROM orders
        |  UNION ALL
        |  SELECT 'lineitem', CAST(MIN(l_orderkey) AS BIGINT), CAST(MAX(l_orderkey) AS BIGINT), COUNT(*) FROM lineitem
        |  UNION ALL
        |  SELECT 'customer', CAST(MIN(c_custkey) AS BIGINT), CAST(MAX(c_custkey) AS BIGINT), COUNT(*) FROM customer
        |  UNION ALL
        |  SELECT 'part', CAST(MIN(p_partkey) AS BIGINT), CAST(MAX(p_partkey) AS BIGINT), COUNT(*) FROM part) t
        |ORDER BY table_name""".stripMargin,
    "j_customers_with_big_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |              AND o_totalprice > 100000.0)
        |ORDER BY c_custkey""".stripMargin,
    "m_json_extract" ->
      """SELECT event_id, user_id, event_type,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
        |FROM events
        |WHERE event_type IN ('purchase','signup')
        |  AND CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
        |ORDER BY event_id""".stripMargin,
    // the summing sink's read must equal ONE plain GROUP BY over the
    // raw events — partial batches, redeliveries, the merge, and the
    // late replay are all storage-side mechanics the oracle never sees
    "k_summing_daily" ->
      """SELECT epoch_ns(ts) // 86400000000000 AS epoch_day,
        |  event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "g_daily_metrics" ->
      """SELECT epoch_ns(ts) // 86400000000000 AS epoch_day,
        |  CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value END AS DECIMAL(28,2))) AS DOUBLE) AS purchase_value,
        |  CAST(SUM(CAST(CASE WHEN event_type = 'view' THEN value END AS DECIMAL(28,2))) AS DOUBLE) AS view_value,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error_count,
        |  COUNT(*) AS n_events
        |FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "g_hourly_activity" ->
      """SELECT epoch_ns(ts) - (epoch_ns(ts) % 3600000000000) AS hour_bucket,
        |  event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "k_latest_event_per_user" ->
      """SELECT user_id, event_id, ts_us, event_type FROM (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin,
    "v_error_ratio" ->
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error_count,
        |  COUNT(*) AS total_count,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS error_ratio
        |FROM events
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "w_event_gaps" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
        |  COALESCE(LAG(event_type) OVER w, 'none') AS prev_type,
        |  epoch_us(ts) - COALESCE(LAG(epoch_us(ts)) OVER w, epoch_us(ts)) AS gap_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY user_id, epoch_us(ts), event_id""".stripMargin,
    // gaps-and-islands twin of the flatMapGroupsWithState operator:
    // a break opens where the gap to the previous event exceeds 30 min
    "w_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events),
        |m AS (
        |  SELECT user_id, ts_us, event_id,
        |    CASE WHEN ts_us - LAG(ts_us) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s AS (
        |  SELECT user_id, ts_us,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, MIN(ts_us) AS session_start_us,
        |  MAX(ts_us) AS session_end_us, CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,
    // same session construction as w_sessionize, then the +1/-1 sweep
    // (end-inclusive sessions: -1 at end+1), per-ts delta aggregation,
    // one global ordered prefix sum, per-day max at transition points
    "w_peak_concurrency" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events),
        |m AS (
        |  SELECT user_id, ts_us, event_id,
        |    CASE WHEN ts_us - LAG(ts_us) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s AS (
        |  SELECT user_id, ts_us,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |sess AS (SELECT user_id, MIN(ts_us) AS s_us, MAX(ts_us) AS e_us
        |  FROM s GROUP BY user_id, sid),
        |pts AS (SELECT ts_us, SUM(delta) AS net FROM (
        |    SELECT s_us AS ts_us, 1 AS delta FROM sess
        |    UNION ALL SELECT e_us + 1, -1 FROM sess)
        |  GROUP BY ts_us),
        |c AS (SELECT ts_us, ts_us // 86400000000 AS day,
        |    SUM(net) OVER (ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM pts)
        |SELECT day AS epoch_day, CAST(MAX(cum) AS BIGINT) AS peak_concurrency,
        |  CAST(COUNT(*) AS BIGINT) AS n_points
        |FROM c GROUP BY day ORDER BY day""".stripMargin,
    // same sweep as w_peak_concurrency; active segments [t, next_t)
    // where the running count > 0, exploded to their day range and
    // clamped — interval-union busy time per epoch-day
    "w_interval_coverage" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events),
        |m AS (
        |  SELECT user_id, ts_us, event_id,
        |    CASE WHEN ts_us - LAG(ts_us) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s AS (
        |  SELECT user_id, ts_us,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |sess AS (SELECT user_id, MIN(ts_us) AS s_us, MAX(ts_us) AS e_us
        |  FROM s GROUP BY user_id, sid),
        |pts AS (SELECT ts_us, SUM(delta) AS net FROM (
        |    SELECT s_us AS ts_us, 1 AS delta FROM sess
        |    UNION ALL SELECT e_us + 1, -1 FROM sess)
        |  GROUP BY ts_us),
        |c AS (SELECT ts_us,
        |    SUM(net) OVER (ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS cum,
        |    LEAD(ts_us) OVER (ORDER BY ts_us) AS seg_end
        |  FROM pts),
        |segs AS (SELECT ts_us AS seg_start, seg_end
        |  FROM c WHERE cum > 0 AND seg_end IS NOT NULL),
        |d AS (SELECT seg_start, seg_end,
        |    unnest(range(seg_start // 86400000000,
        |      (seg_end - 1) // 86400000000 + 1)) AS epoch_day
        |  FROM segs)
        |SELECT epoch_day,
        |  CAST(SUM(LEAST(seg_end, (epoch_day + 1) * 86400000000) -
        |    GREATEST(seg_start, epoch_day * 86400000000)) AS BIGINT)
        |    AS busy_us,
        |  CAST(COUNT(*) AS BIGINT) AS n_segments
        |FROM d GROUP BY epoch_day ORDER BY epoch_day""".stripMargin,
    "w_hourly_window" ->
      """SELECT epoch_us(ts) - (epoch_us(ts) % 3600000000) AS hour_start_us,
        |  event_type, CAST(COUNT(*) AS BIGINT) AS n
        |FROM events
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the UNSALTED join — salting must be invisible in the result
    "j_salted_user_events" ->
      """SELECT e.user_id, e.event_id, e.event_type, d.first_event_id
        |FROM events e
        |JOIN (SELECT user_id, MIN(event_id) AS first_event_id
        |      FROM events GROUP BY user_id) d USING (user_id)
        |ORDER BY e.user_id, e.event_id""".stripMargin,
    "t_text_stats" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_chars,
        |  CAST(CAST(SUM(n_tokens) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_tokens
        |FROM (SELECT lang, source, n_chars,
        |        len(string_split_regex(trim(text), '\s+')) AS n_tokens
        |      FROM documents) t
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "t_lang_id" ->
      """SELECT doc_id, lang, n_tokens, stop_count,
        |  CAST(stop_count AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
        |  CASE WHEN CAST(stop_count AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.1 THEN 'en_like'
        |       WHEN CAST(stop_count AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.05 THEN 'latin_like'
        |       ELSE 'other' END AS lang_guess
        |FROM (SELECT doc_id, lang,
        |        CAST(len(t) AS BIGINT) AS n_tokens,
        |        CAST(len(list_filter(t, x -> list_contains(
        |          ['the','a','of','and','in','to','is'], x))) AS BIGINT) AS stop_count
        |      FROM (SELECT doc_id, lang,
        |              string_split_regex(trim(text), '\s+') AS t
        |            FROM documents) x) y
        |ORDER BY doc_id""".stripMargin,
    "t_quality_score" ->
      """SELECT doc_id, lang, n_tokens, n_distinct,
        |  CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS distinct_ratio,
        |  CAST(nonspace AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
        |  0.5 * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)) +
        |    CASE WHEN n_tokens >= 50 THEN 0.5
        |         ELSE CAST(n_tokens AS DOUBLE) * 0.01 END AS quality
        |FROM (SELECT doc_id, lang,
        |        CAST(len(t) AS BIGINT) AS n_tokens,
        |        CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
        |        CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT) AS nonspace
        |      FROM (SELECT doc_id, lang, text,
        |              string_split_regex(trim(text), '\s+') AS t
        |            FROM documents) x) y
        |ORDER BY doc_id""".stripMargin,
    "t_token_count" ->
      """SELECT doc_id, lang,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]', 0)) AS BIGINT) AS n_bpeish_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]', 0)) AS DOUBLE)
        |    / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS tokens_per_word
        |FROM documents ORDER BY doc_id""".stripMargin,
    // DSIR weights: replay the hashed-bucket model (h60 = the portable
    // md5-nibble positional hash, the near_v_fingerprints spelling) and
    // the per-doc integer fold
    "t_dsir_weights" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |db AS (
        |  SELECT doc_id, lang,
        |    CAST(list_sum(list_transform(range(1, 16),
        |      i -> CAST(instr('0123456789abcdef',
        |             substring(md5(token), i, 1)) - 1 AS BIGINT)
        |           * CAST(pow(16, 15 - i) AS BIGINT))) AS BIGINT)
        |      % 1024 AS b,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM tok WHERE token <> '' GROUP BY 1, 2, 3),
        |m AS (
        |  SELECT b,
        |    (1000000 * (SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) + 1))
        |      // (SUM(c) + 1) AS s
        |  FROM db GROUP BY b),
        |d AS (
        |  SELECT doc_id, SUM(c) AS n_tokens, SUM(c * s) AS dsir_sum
        |  FROM db JOIN m USING (b) GROUP BY doc_id),
        |r AS (
        |  SELECT doc_id,
        |    CAST(n_tokens AS BIGINT) AS n_tokens,
        |    CAST(dsir_sum AS BIGINT) AS dsir_sum,
        |    CAST(dsir_sum // n_tokens AS BIGINT) AS dsir_avg_scaled,
        |    ROW_NUMBER() OVER (ORDER BY dsir_sum // n_tokens DESC, doc_id)
        |      AS rank
        |  FROM d)
        |SELECT rank, doc_id, n_tokens, dsir_sum, dsir_avg_scaled
        |FROM r WHERE rank <= 100 ORDER BY rank""".stripMargin,
    // same replay with the source-based target (VERDICT r14 #7)
    "t_dsir_target_source" ->
      """WITH tok AS (
        |  SELECT doc_id, source IN ('src0', 'src1') AS is_target,
        |    unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |db AS (
        |  SELECT doc_id, is_target,
        |    CAST(list_sum(list_transform(range(1, 16),
        |      i -> CAST(instr('0123456789abcdef',
        |             substring(md5(token), i, 1)) - 1 AS BIGINT)
        |           * CAST(pow(16, 15 - i) AS BIGINT))) AS BIGINT)
        |      % 1024 AS b,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM tok WHERE token <> '' GROUP BY 1, 2, 3),
        |m AS (
        |  SELECT b,
        |    (1000000 * (SUM(CASE WHEN is_target THEN c ELSE 0 END) + 1))
        |      // (SUM(c) + 1) AS s
        |  FROM db GROUP BY b),
        |d AS (
        |  SELECT doc_id, SUM(c) AS n_tokens, SUM(c * s) AS dsir_sum
        |  FROM db JOIN m USING (b) GROUP BY doc_id),
        |r AS (
        |  SELECT doc_id,
        |    CAST(n_tokens AS BIGINT) AS n_tokens,
        |    CAST(dsir_sum AS BIGINT) AS dsir_sum,
        |    CAST(dsir_sum // n_tokens AS BIGINT) AS dsir_avg_scaled,
        |    ROW_NUMBER() OVER (ORDER BY dsir_sum // n_tokens DESC, doc_id)
        |      AS rank
        |  FROM d)
        |SELECT rank, doc_id, n_tokens, dsir_sum, dsir_avg_scaled
        |FROM r WHERE rank <= 100 ORDER BY rank""".stripMargin,
    "t_fingerprint" ->
      """SELECT doc_id, md5(text) AS content_hash,
        |  md5(lower(trim(text))) AS norm_hash,
        |  substring(md5(text), 1, 16) AS fp64,
        |  CAST(CASE WHEN len(t) >= 3 THEN
        |    len(list_distinct(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])))
        |    ELSE 0 END AS BIGINT) AS n_shingles
        |FROM (SELECT doc_id, text,
        |        string_split_regex(trim(text), '\s+') AS t FROM documents) x
        |ORDER BY doc_id""".stripMargin,
    "w_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
        |           FROM events),
        |p AS (SELECT user_id, ts_us, MAX(event_id) AS purchase_event_id
        |      FROM e WHERE event_type = 'purchase' GROUP BY user_id, ts_us)
        |SELECT e.event_id, e.user_id, e.ts_us, e.event_type,
        |  p.purchase_event_id AS last_purchase_event_id
        |FROM e ASOF LEFT JOIN p
        |  ON e.user_id = p.user_id AND e.ts_us >= p.ts_us
        |ORDER BY e.event_id""".stripMargin,
    "v_benford" ->
      """WITH d AS (SELECT CAST(substring(
        |    CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR),
        |    1, 1) AS INT) AS digit FROM orders),
        |c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM d GROUP BY digit),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM c),
        |e AS (SELECT * FROM (VALUES
        |    (1, 0.3010299956639812), (2, 0.17609125905568124),
        |    (3, 0.12493873660829992), (4, 0.09691001300805642),
        |    (5, 0.07918124604762482), (6, 0.06694678963061322),
        |    (7, 0.05799194697768673), (8, 0.05115252244738129),
        |    (9, 0.04575749056067514)) AS v(digit, expected_share))
        |SELECT c.digit, c.n,
        |  CAST(c.n AS DOUBLE) / CAST((SELECT tot FROM t) AS DOUBLE)
        |    AS observed_share,
        |  e.expected_share,
        |  CAST(c.n AS DOUBLE) / CAST((SELECT tot FROM t) AS DOUBLE)
        |    - e.expected_share AS deviation
        |FROM c JOIN e USING (digit) ORDER BY digit""".stripMargin,
    "w_range_join" -> rangeJoinSql,
    "w_value_deciles" ->
      """WITH e AS (SELECT event_id, event_type, value FROM events),
        |hist AS (SELECT event_type, value, COUNT(*) AS cnt
        |  FROM e GROUP BY event_type, value),
        |cum AS (SELECT event_type, value, cnt,
        |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM hist),
        |targets AS (SELECT event_type, CAST(p AS DOUBLE) AS p,
        |    CAST(ceil(CAST(p AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT)
        |      AS target_rn
        |  FROM (SELECT event_type, SUM(cnt) AS n FROM hist GROUP BY 1) c
        |  CROSS JOIN (SELECT unnest([0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])
        |                AS p) ps),
        |b AS (SELECT t.event_type, t.p, MIN(c.value) AS b
        |  FROM targets t JOIN cum c ON t.event_type = c.event_type
        |    AND c.cum >= t.target_rn
        |  GROUP BY 1, 2),
        |bs AS (SELECT event_type, list(b ORDER BY b) AS bs FROM b GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        |  CAST(1 + len(list_filter(bs.bs, x -> x < e.value)) AS BIGINT)
        |    AS decile
        |FROM e JOIN bs USING (event_type)
        |ORDER BY event_id""".stripMargin,
    "g_rollup_metrics" ->
      """SELECT CAST(GROUPING(event_type, epoch_day) AS BIGINT) AS lvl,
        |  event_type, epoch_day, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
        |FROM (SELECT event_type, epoch_us(ts) // 86400000000 AS epoch_day,
        |        value FROM events) e
        |GROUP BY ROLLUP(event_type, epoch_day)
        |ORDER BY lvl, event_type, epoch_day""".stripMargin,
    "g_grouping_sets" ->
      """SELECT CAST(GROUPING(event_type, epoch_day) AS BIGINT) AS lvl,
        |  event_type, epoch_day, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
        |FROM (SELECT event_type, epoch_us(ts) // 86400000000 AS epoch_day,
        |        value FROM events) e
        |GROUP BY GROUPING SETS ((event_type), (epoch_day), ())
        |ORDER BY lvl, event_type, epoch_day""".stripMargin,
    "w_rolling_7d" -> rolling7dSql,
    "g_pivot_daily" ->
      """SELECT epoch_us(ts) // 86400000000 AS epoch_day,
        |  COUNT(*) FILTER (event_type = 'click') AS click,
        |  COUNT(*) FILTER (event_type = 'error') AS error,
        |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY epoch_day""".stripMargin,
    "g_unpivot_daily" ->
      """WITH d AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS epoch_day
        |           FROM events),
        |t AS (SELECT unnest(['click','error','purchase','signup','view'])
        |        AS event_type),
        |c AS (SELECT epoch_us(ts) // 86400000000 AS epoch_day, event_type,
        |        COUNT(*) AS n FROM events GROUP BY 1, 2)
        |SELECT d.epoch_day, t.event_type, COALESCE(c.n, 0) AS n
        |FROM d CROSS JOIN t
        |LEFT JOIN c ON c.epoch_day = d.epoch_day
        |  AND c.event_type = t.event_type
        |ORDER BY d.epoch_day, t.event_type""".stripMargin,
    "v_set_ops" ->
      """WITH e AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderkey % 2 = 0),
        |l AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderkey % 2 = 1)
        |SELECT o_custkey, 'both' AS cohort
        |FROM (SELECT o_custkey FROM e INTERSECT SELECT o_custkey FROM l) a
        |UNION ALL
        |SELECT o_custkey, 'early_only' AS cohort
        |FROM (SELECT o_custkey FROM e EXCEPT SELECT o_custkey FROM l) b
        |ORDER BY cohort, o_custkey""".stripMargin,
    "g_cube_metrics" ->
      """SELECT CAST(GROUPING(event_type, epoch_day) AS BIGINT) AS lvl,
        |  event_type, epoch_day, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
        |FROM (SELECT event_type, epoch_us(ts) // 86400000000 AS epoch_day,
        |        value FROM events) e
        |GROUP BY CUBE(event_type, epoch_day)
        |ORDER BY lvl, event_type, epoch_day""".stripMargin,
    "v_approx_distinct" ->
      """SELECT n_exact,
        |  CAST(abs(n_approx - n_exact) AS DOUBLE) <=
        |    CAST(n_exact AS DOUBLE) * 0.05 AS within_bound
        |FROM (SELECT COUNT(DISTINCT user_id) AS n_exact,
        |        approx_count_distinct(user_id) AS n_approx
        |      FROM events) x""".stripMargin,
    "j_full_outer_recon" ->
      """WITH p AS (SELECT user_id, COUNT(*) AS n_purchases FROM events
        |           WHERE event_type = 'purchase' AND value >= 95.0
        |           GROUP BY 1),
        |s AS (SELECT user_id, COUNT(*) AS n_signups FROM events
        |      WHERE event_type = 'signup' AND value >= 95.0
        |      GROUP BY 1)
        |SELECT user_id, n_purchases, n_signups,
        |  CASE WHEN n_purchases IS NULL THEN 'signup_only'
        |       WHEN n_signups IS NULL THEN 'purchase_only'
        |       ELSE 'both' END AS side
        |FROM p FULL OUTER JOIN s USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "v_approx_quantiles" ->
      // engines compare only the deterministic surface: exact
      // nearest-rank quantiles + TRUE for the engine-local bound check
      """WITH hist AS (SELECT value, COUNT(*) AS cnt FROM events
        |             GROUP BY value),
        |cum AS (SELECT value, SUM(cnt) OVER (ORDER BY value) AS cum
        |        FROM hist),
        |t AS (SELECT COUNT(*) AS n FROM events)
        |SELECT
        |  (SELECT MIN(value) FROM cum, t
        |    WHERE cum >= ceil(0.5 * n)) AS q50_exact,
        |  (SELECT MIN(value) FROM cum, t
        |    WHERE cum >= ceil(0.9 * n)) AS q90_exact,
        |  (SELECT MIN(value) FROM cum, t
        |    WHERE cum >= ceil(0.99 * n)) AS q99_exact,
        |  TRUE AS within_rank_bound""".stripMargin,
    "t_split_assign" ->
      """SELECT doc_id,
        |  CAST((instr('0123456789abcdef', substring(h, 1, 1)) - 1) * 16 +
        |    instr('0123456789abcdef', substring(h, 2, 1)) - 1 AS BIGINT) AS bucket,
        |  CASE WHEN (instr('0123456789abcdef', substring(h, 1, 1)) - 1) * 16 +
        |         instr('0123456789abcdef', substring(h, 2, 1)) - 1 < 230 THEN 'train'
        |       WHEN (instr('0123456789abcdef', substring(h, 1, 1)) - 1) * 16 +
        |         instr('0123456789abcdef', substring(h, 2, 1)) - 1 < 243 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, md5(doc_id::VARCHAR) AS h FROM documents) x
        |ORDER BY doc_id""".stripMargin,
    "t_quality_percentiles" ->
      """WITH scored AS (SELECT doc_id, lang,
        |    0.5 * (CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE)) +
        |      CASE WHEN len(t) >= 50 THEN 0.5
        |           ELSE CAST(len(t) AS DOUBLE) * 0.01 END AS quality
        |  FROM (SELECT doc_id, lang,
        |          string_split_regex(trim(text), '\s+') AS t
        |        FROM documents) x),
        |ranked AS (SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY lang ORDER BY quality, doc_id) AS rn FROM scored),
        |targets AS (SELECT lang, CAST(p AS DOUBLE) AS p,
        |    CAST(ceil(CAST(p AS DOUBLE) * n) AS BIGINT) AS target_rn
        |  FROM (SELECT lang, COUNT(*) AS n FROM scored GROUP BY lang) c
        |  CROSS JOIN (SELECT unnest([0.25, 0.5, 0.75, 0.9]) AS p) ps)
        |SELECT t.lang, t.p, r.quality AS q_at_p
        |FROM targets t JOIN ranked r
        |  ON t.lang = r.lang AND r.rn = t.target_rn
        |ORDER BY t.lang, t.p""".stripMargin,
    "t_repetition" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS t FROM documents),
        |base AS (SELECT doc_id,
        |    CAST(len(t) AS BIGINT) AS n_tokens,
        |    CAST(greatest(len(t) - 1, 0) AS BIGINT) AS n_bigrams,
        |    CAST(greatest(len(t) - 2, 0) AS BIGINT) AS n_shingles3,
        |    CAST(CASE WHEN len(t) >= 3 THEN len(list_distinct(list_transform(
        |      range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])))
        |      ELSE 0 END AS BIGINT) AS n_distinct_shingles3
        |  FROM tok),
        |big AS (SELECT doc_id, MAX(c) AS top_bigram_cnt FROM (
        |    SELECT doc_id, gram, COUNT(*) AS c FROM (
        |      SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |        i -> t[i] || ' ' || t[i+1])) AS gram
        |      FROM tok WHERE len(t) >= 2) g
        |    GROUP BY doc_id, gram) m GROUP BY doc_id),
        |f AS (SELECT b.doc_id, b.n_tokens,
        |    CAST(COALESCE(big.top_bigram_cnt, 0) AS BIGINT) AS top_bigram_cnt,
        |    CASE WHEN b.n_bigrams > 0
        |      THEN CAST(COALESCE(big.top_bigram_cnt, 0) AS DOUBLE)
        |        / CAST(b.n_bigrams AS DOUBLE)
        |      ELSE CAST(0 AS DOUBLE) END AS top_bigram_frac,
        |    CASE WHEN b.n_shingles3 > 0
        |      THEN CAST(b.n_shingles3 - b.n_distinct_shingles3 AS DOUBLE)
        |        / CAST(b.n_shingles3 AS DOUBLE)
        |      ELSE CAST(0 AS DOUBLE) END AS dup_shingle_frac
        |  FROM base b LEFT JOIN big USING (doc_id))
        |SELECT doc_id, n_tokens, top_bigram_cnt, top_bigram_frac,
        |  dup_shingle_frac,
        |  top_bigram_frac > CAST(0.1 AS DOUBLE)
        |    OR dup_shingle_frac > CAST(0.3 AS DOUBLE) AS repetitive
        |FROM f ORDER BY doc_id""".stripMargin,
    "t_tfidf_topk" ->
      """WITH tf AS (SELECT doc_id, token, COUNT(*) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(string_split_regex(trim(text), '\s+')) AS token
        |        FROM documents) x
        |  GROUP BY doc_id, token),
        |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |s AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |    CAST(tf.tf AS DOUBLE) *
        |      (CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE)) AS tfidf
        |  FROM tf JOIN df USING (token) CROSS JOIN n),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, token) AS BIGINT) AS rn FROM s)
        |SELECT doc_id, token, tf, df, tfidf, rn FROM r
        |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,
    "t_pii_scrub" ->
      """WITH aug AS (SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN text || ' reach user' ||
        |           CAST(doc_id AS VARCHAR) || '@mail.example.com now'
        |         WHEN doc_id % 10 = 5 THEN text || ' call 555-' ||
        |           lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
        |         ELSE text END AS text2
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text2,
        |    '[a-z0-9]+@[a-z0-9.]+[.][a-z]+', 0)) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text2,
        |    '555-[0-9]{4}', 0)) AS BIGINT) AS n_phones,
        |  len(regexp_extract_all(text2, '[a-z0-9]+@[a-z0-9.]+[.][a-z]+', 0))
        |    + len(regexp_extract_all(text2, '555-[0-9]{4}', 0)) > 0 AS has_pii,
        |  md5(regexp_replace(regexp_replace(text2,
        |    '[a-z0-9]+@[a-z0-9.]+[.][a-z]+', '[EMAIL]', 'g'),
        |    '555-[0-9]{4}', '[PHONE]', 'g')) AS redacted_hash
        |FROM aug ORDER BY doc_id""".stripMargin,
    "t_decontaminate" ->
      """WITH sh AS (SELECT CAST('1' || repeat('0',
        |    len(CAST(max(doc_id) AS VARCHAR))) AS BIGINT) AS shift
        |  FROM documents),
        |ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
        |scan AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT ev.doc_id + sh.shift AS doc_id,
        |    text || ' leaked into the training crawl' AS text
        |  FROM ev CROSS JOIN sh),
        |evt AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS t FROM ev),
        |sct AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS t FROM scan),
        |evsh AS (SELECT DISTINCT unnest(list_distinct(list_transform(
        |    range(1, len(t) - 6),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] ||
        |      ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' ||
        |      t[i+7]))) AS shingle
        |  FROM evt WHERE len(t) >= 8),
        |csh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(t) - 6),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] ||
        |      ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' ||
        |      t[i+7]))) AS shingle
        |  FROM sct WHERE len(t) >= 8),
        |m AS (SELECT csh.doc_id, COUNT(*) AS n_matched
        |  FROM csh JOIN evsh USING (shingle) GROUP BY csh.doc_id)
        |SELECT s.doc_id,
        |  CAST(COALESCE(m.n_matched, 0) AS BIGINT) AS n_matched,
        |  COALESCE(m.n_matched, 0) > 0 AS contaminated
        |FROM scan s LEFT JOIN m USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "t_stratified_sample" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang),
        |mn AS (SELECT MIN(n_l) AS n_min FROM c),
        |b AS (SELECT doc_id, lang,
        |    CAST((instr('0123456789abcdef', substring(h, 1, 1)) - 1) * 4096 +
        |      (instr('0123456789abcdef', substring(h, 2, 1)) - 1) * 256 +
        |      (instr('0123456789abcdef', substring(h, 3, 1)) - 1) * 16 +
        |      instr('0123456789abcdef', substring(h, 4, 1)) - 1 AS BIGINT)
        |      AS bucket
        |  FROM (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h
        |        FROM documents) x)
        |SELECT b.doc_id, b.lang, b.bucket, c.n_l,
        |  sqrt(CAST(mn.n_min AS DOUBLE) / CAST(c.n_l AS DOUBLE)) AS keep_rate
        |FROM b JOIN c USING (lang) CROSS JOIN mn
        |WHERE CAST(b.bucket AS DOUBLE) <
        |  sqrt(CAST(mn.n_min AS DOUBLE) / CAST(c.n_l AS DOUBLE)) * 65536.0
        |ORDER BY doc_id""".stripMargin,
    "t_token_budget" ->
      """WITH s AS (SELECT doc_id,
        |    CAST((instr('0123456789abcdef', substring(h, 1, 1)) - 1) * 16 +
        |      instr('0123456789abcdef', substring(h, 2, 1)) - 1 AS BIGINT)
        |      AS bucket,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM (SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS h
        |        FROM documents) x)
        |SELECT doc_id, bucket, n_tokens,
        |  CAST(SUM(n_tokens) OVER (ORDER BY bucket, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_tokens
        |FROM s
        |QUALIFY cum_tokens <= 20000
        |ORDER BY bucket, doc_id""".stripMargin,
    "t_seq_pack" ->
      """WITH s AS (SELECT doc_id,
        |    CAST((instr('0123456789abcdef', substring(h, 1, 1)) - 1) * 16 +
        |      instr('0123456789abcdef', substring(h, 2, 1)) - 1 AS BIGINT)
        |      AS bucket,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM (SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS h
        |        FROM documents) x),
        |p AS (SELECT doc_id, bucket, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY bucket, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS tok_start
        |  FROM s)
        |SELECT doc_id, bucket, n_tokens, tok_start,
        |  tok_start // 512 AS seq_first,
        |  (tok_start + n_tokens - 1) // 512 AS seq_last,
        |  (tok_start + n_tokens - 1) // 512 - tok_start // 512 + 1 AS spans
        |FROM p ORDER BY bucket, doc_id""".stripMargin,
    "t_dataset_card" -> datasetCardSql,
    "t_vocab_growth" ->
      """WITH tk AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS t FROM documents),
        |mx AS (SELECT MAX(doc_id) AS m FROM documents),
        |fu AS (SELECT ty, MIN(doc_id) AS first_doc FROM (
        |    SELECT doc_id, unnest(t) AS ty FROM tk) x GROUP BY ty),
        |fs AS (SELECT ty, MIN(doc_id) AS first_doc FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS ty
        |    FROM tk WHERE len(t) >= 3) x GROUP BY ty),
        |pu AS (SELECT
        |    CAST(first_doc * 10 // ((SELECT m FROM mx) + 1) AS BIGINT)
        |      AS bucket, CAST(COUNT(*) AS BIGINT) AS new_tokens
        |  FROM fu GROUP BY 1),
        |ps AS (SELECT
        |    CAST(first_doc * 10 // ((SELECT m FROM mx) + 1) AS BIGINT)
        |      AS bucket, CAST(COUNT(*) AS BIGINT) AS new_shingles
        |  FROM fs GROUP BY 1),
        |g AS (SELECT unnest(range(0, 10)) AS bucket)
        |SELECT g.bucket,
        |  COALESCE(pu.new_tokens, 0) AS new_tokens,
        |  CAST(SUM(COALESCE(pu.new_tokens, 0)) OVER (ORDER BY g.bucket
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size,
        |  COALESCE(ps.new_shingles, 0) AS new_shingles,
        |  CAST(SUM(COALESCE(ps.new_shingles, 0)) OVER (ORDER BY g.bucket
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS shingle_vocab_size
        |FROM g LEFT JOIN pu USING (bucket) LEFT JOIN ps USING (bucket)
        |ORDER BY g.bucket""".stripMargin,
    // lift via exact integer products (HUGEINT here, decimal(38,0) in
    // Spark — both exact), each cast to double ONCE before the single
    // division, so the ranking doubles are bit-identical
    "t_collocations" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS t FROM documents),
        |uni AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cu
        |  FROM (SELECT unnest(t) AS token FROM t) x GROUP BY token),
        |nu AS (SELECT CAST(SUM(cu) AS BIGINT) AS n FROM uni),
        |bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM (
        |    SELECT t[i + 1] AS w1, t[i + 2] AS w2
        |    FROM t, unnest(range(0, len(t) - 1)) AS u(i)
        |    WHERE len(t) >= 2) p
        |  GROUP BY w1, w2 HAVING COUNT(*) >= 5),
        |nb AS (SELECT CAST(SUM(len(t) - 1) AS BIGINT) AS n
        |  FROM t WHERE len(t) >= 2)
        |SELECT w1 || ' ' || w2 AS bigram, cb,
        |  u1.cu AS cu1, u2.cu AS cu2,
        |  CAST(CAST(cb AS HUGEINT) * (SELECT n FROM nu)
        |      * (SELECT n FROM nu) AS DOUBLE) /
        |    CAST(CAST((SELECT n FROM nb) AS HUGEINT) * u1.cu * u2.cu
        |      AS DOUBLE) AS lift
        |FROM bi JOIN uni u1 ON bi.w1 = u1.token
        |        JOIN uni u2 ON bi.w2 = u2.token
        |ORDER BY lift DESC, bigram LIMIT 50""".stripMargin,
    "t_heavy_hitters" -> heavyHittersSql,
    "w_anomaly_zscore" -> anomalySql,
    "k_scd2_history" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts_us, event_id, event_type,
        |    CASE WHEN LAG(event_type) OVER w IS NULL
        |           OR LAG(event_type) OVER w <> event_type
        |      THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |r AS (
        |  SELECT user_id, ts_us, event_type,
        |    SUM(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM m),
        |runs AS (
        |  SELECT user_id, run_id, MIN(event_type) AS state,
        |    MIN(ts_us) AS valid_from_us,
        |    CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM r GROUP BY user_id, run_id)
        |SELECT user_id, state, valid_from_us,
        |  LEAD(valid_from_us) OVER (PARTITION BY user_id ORDER BY run_id)
        |    AS valid_to_us,
        |  n_events,
        |  LEAD(valid_from_us) OVER (PARTITION BY user_id ORDER BY run_id)
        |    IS NULL AS is_current
        |FROM runs ORDER BY user_id, valid_from_us""".stripMargin,
    "t_mixture_plan" ->
      """WITH a AS (
        |  SELECT 'domain_' || (CAST(substring(source, 4, 10) AS INT) % 4)
        |      AS domain,
        |    CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
        |      AS avail_tokens
        |  FROM documents GROUP BY 1),
        |w AS (
        |  SELECT domain, avail_tokens,
        |    CASE domain WHEN 'domain_0' THEN 0.4 WHEN 'domain_1' THEN 0.3
        |      WHEN 'domain_2' THEN 0.2 ELSE 0.1 END AS weight
        |  FROM a),
        |f AS (
        |  SELECT domain, avail_tokens, weight,
        |    MIN(CAST(avail_tokens AS DOUBLE) / weight) OVER ()
        |      AS feasible_total
        |  FROM w)
        |SELECT domain, avail_tokens, CAST(weight AS DOUBLE) AS weight,
        |  CAST(FLOOR(weight * feasible_total) AS BIGINT) AS plan_tokens,
        |  CAST(CAST(FLOOR(weight * feasible_total) AS BIGINT) AS DOUBLE) /
        |    CAST(avail_tokens AS DOUBLE) AS sampling_rate
        |FROM f ORDER BY domain""".stripMargin,
    "w_gap_fill" ->
      """WITH d AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS epoch_hour,
        |    SUM(CAST(value AS DECIMAL(28,2))) AS hour_dec
        |  FROM events WHERE value >= 90.0 GROUP BY 1, 2),
        |g AS (SELECT event_type, unnest(range(mn, mx + 1)) AS epoch_hour
        |  FROM (SELECT event_type, MIN(epoch_hour) AS mn, MAX(epoch_hour) AS mx
        |        FROM d GROUP BY 1) b),
        |j AS (SELECT g.event_type, g.epoch_hour, d.hour_dec
        |  FROM g LEFT JOIN d USING (event_type, epoch_hour))
        |SELECT event_type, epoch_hour,
        |  CAST(LAST_VALUE(hour_dec IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY epoch_hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS hour_value,
        |  hour_dec IS NULL AS is_filled
        |FROM j ORDER BY event_type, epoch_hour""".stripMargin,
    // same modeled remix corpus as d_dup_spans, cut into aligned
    // non-overlapping 12-token blocks; dup = block in >= 2 documents
    "d_block_dedup" -> (spansCorpusCte + "\n" +
      """tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM corpus),
        |blk AS (SELECT doc_id, md5(b) AS bh FROM (
        |    SELECT doc_id, unnest(list_transform(range(0, len(t), 12),
        |      s -> array_to_string(list_slice(t, s + 1, s + 12), ' '))) AS b
        |    FROM tk) x),
        |df AS (SELECT bh, COUNT(*) AS bdf FROM (
        |    SELECT DISTINCT doc_id, bh FROM blk) u GROUP BY bh)
        |SELECT blk.doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |  CAST(SUM(CASE WHEN df.bdf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_blocks,
        |  CAST(CAST(SUM(CASE WHEN df.bdf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_ratio
        |FROM blk JOIN df USING (bh)
        |GROUP BY blk.doc_id ORDER BY blk.doc_id""".stripMargin),
    "s_mmr_select" -> mmrOracleSql(),
    "s_quantize_int8" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
        |  FROM embeddings),
        |x AS (SELECT vec_id, dd.d, emb[dd.d] AS v
        |  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS d) dd),
        |b AS (SELECT d, MIN(v) AS mn, (MAX(v) - MIN(v)) / 256.0 AS sc
        |  FROM x GROUP BY d),
        |er AS (SELECT x.vec_id, x.d,
        |    x.v - (CASE WHEN b.sc = 0 THEN b.mn
        |      ELSE b.mn + (LEAST(255.0, FLOOR((x.v - b.mn) / b.sc)) + 0.5)
        |        * b.sc END) AS ev
        |  FROM x JOIN b USING (d)),
        |l AS (SELECT vec_id, list(ev ORDER BY d) AS evs
        |  FROM er GROUP BY vec_id)
        |SELECT vec_id,
        |  list_max(list_transform(evs, v -> abs(v))) AS max_abs_err,
        |  list_sum(list_transform(evs, v -> v * v)) AS sum_sq_err
        |FROM l ORDER BY vec_id""".stripMargin,
    "d_fuzzy_token_pairs" ->
      """WITH v0 AS (SELECT DISTINCT
        |    unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents),
        |v AS (SELECT t FROM v0
        |      UNION SELECT substring(t, 2) FROM v0 WHERE length(t) >= 4)
        |SELECT a.t AS tok_a, b.t AS tok_b
        |FROM v a JOIN v b ON a.t < b.t
        |WHERE levenshtein(a.t, b.t) = 1
        |ORDER BY tok_a, tok_b""".stripMargin,
    "t_chunk_windows" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS t FROM documents),
        |c AS (SELECT doc_id, t, len(t) AS n,
        |    unnest(range(0, len(t), 12)) AS s
        |  FROM t WHERE len(t) >= 1)
        |SELECT doc_id, CAST(s // 12 AS BIGINT) AS chunk_idx,
        |  CAST(s AS BIGINT) AS start_tok,
        |  CAST(LEAST(16, n - s) AS BIGINT) AS chunk_len,
        |  array_to_string(list_slice(t, s + 1, s + LEAST(16, n - s)), ' ')
        |    AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "t_curate_budget" ->
      """WITH q AS (SELECT doc_id, source,
        |    CAST(len(t) AS BIGINT) AS n_tokens,
        |    0.5 * (CAST(len(list_distinct(t)) AS DOUBLE) /
        |           CAST(len(t) AS DOUBLE)) +
        |      CASE WHEN len(t) >= 50 THEN 0.5
        |           ELSE CAST(len(t) AS DOUBLE) * 0.01 END AS quality
        |  FROM (SELECT doc_id, source,
        |          string_split_regex(trim(text), '\s+') AS t
        |        FROM documents) x),
        |c AS (SELECT doc_id, source, n_tokens, quality,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
        |      ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_before
        |  FROM q)
        |SELECT doc_id, source, n_tokens, quality, cum_before
        |FROM c WHERE cum_before + n_tokens <= 800
        |ORDER BY source, cum_before""".stripMargin,

    "t_vocab_topk" ->
      """SELECT token, CAST(SUM(tf_doc) AS BIGINT) AS tf,
        |  CAST(COUNT(*) AS BIGINT) AS df
        |FROM (SELECT token, doc_id, COUNT(*) AS tf_doc
        |      FROM (SELECT doc_id,
        |              unnest(string_split_regex(trim(text), '\s+')) AS token
        |            FROM documents) t
        |      GROUP BY token, doc_id) g
        |GROUP BY token ORDER BY tf DESC, token LIMIT 100""".stripMargin,
    "t_bpe_merges" -> bpeMergesSql,
    "t_bpe_encode" -> bpeEncodeSql,
    // md5 hex + its string order are engine-identical, so the shard
    // assignment and the in-shard permutation replay bit-for-bit
    "t_epoch_shuffle" ->
      """WITH k AS (SELECT doc_id,
        |    md5('epoch1:' || doc_id::VARCHAR) AS shuffle_key
        |  FROM documents),
        |s AS (SELECT doc_id, shuffle_key,
        |    CAST((instr('0123456789abcdef', substring(shuffle_key, 1, 1))
        |      - 1) % 8 AS BIGINT) AS shard
        |  FROM k)
        |SELECT doc_id, shuffle_key, shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard
        |    ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos_in_shard
        |FROM s ORDER BY shard, pos_in_shard""".stripMargin,
    // trigram stupid-backoff LM trained on the md5-bucket train split,
    // scored over ALL docs; probabilities as floor-scaled integers
    // (seen: (1e9*c_abc)//c_ab; bigram backoff: (4e8*c_bc)//c_b;
    // unigram floor: (1.6e8*c_c)//N) so the only float is ONE
    // division of two exact Longs per doc
    "t_lm_score" -> lmScoreSql,
    "w_active_users" -> activeUsersSql,
    "w_cohort_ltv" ->
      """WITH e AS (SELECT user_id, event_type, value,
        |    epoch_ns(ts) // 86400000000000 AS d FROM events),
        |c AS (SELECT user_id, MIN(d) AS cohort_day FROM e GROUP BY 1),
        |r AS (SELECT c.cohort_day, e.d - c.cohort_day AS day_offset,
        |    SUM(CAST(e.value AS DECIMAL(28,2))) AS rev_dec
        |  FROM e JOIN c USING (user_id) WHERE e.event_type = 'purchase'
        |  GROUP BY 1, 2)
        |SELECT cohort_day, day_offset, CAST(rev_dec AS DOUBLE) AS revenue,
        |  CAST(SUM(rev_dec) OVER (PARTITION BY cohort_day
        |    ORDER BY day_offset ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |    AS cum_revenue
        |FROM r ORDER BY cohort_day, day_offset""".stripMargin,
    // the KS gap rides as the cross-multiplied integer |c1*n2 - c2*n1|
    // so the argmax involves no float comparison in either engine
    "t_ks_drift" ->
      """WITH d AS (SELECT
        |    CASE WHEN (instr('0123456789abcdef', substring(h, 1, 1)) - 1)
        |        * 16 + instr('0123456789abcdef', substring(h, 2, 1)) - 1
        |        < 230 THEN 'train' ELSE 'holdout' END AS grp,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS len
        |  FROM (SELECT text, md5(doc_id::VARCHAR) AS h FROM documents) x),
        |p AS (SELECT len,
        |    CAST(SUM(CASE WHEN grp = 'train' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d1,
        |    CAST(SUM(CASE WHEN grp = 'holdout' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d2
        |  FROM d GROUP BY len),
        |c AS (SELECT len,
        |    CAST(SUM(d1) OVER (ORDER BY len
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c1,
        |    CAST(SUM(d2) OVER (ORDER BY len
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c2,
        |    CAST(SUM(d1) OVER () AS BIGINT) AS n1,
        |    CAST(SUM(d2) OVER () AS BIGINT) AS n2
        |  FROM p)
        |SELECT len AS at_len, c1, c2, n1, n2,
        |  abs(c1 * n2 - c2 * n1) AS gap_scaled,
        |  CAST(abs(c1 * n2 - c2 * n1) AS DOUBLE) /
        |    CAST(n1 * n2 AS DOUBLE) AS ks_stat
        |FROM c ORDER BY gap_scaled DESC, at_len LIMIT 1""".stripMargin,
    // last-touch argmax replayed as ROW_NUMBER over (ts DESC, event_id
    // DESC) — identical tie-break to Spark's lexicographic struct max
    "g_attribution" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ns(ts) AS ts, value FROM events),
        |p AS (SELECT user_id, event_id, ts, value FROM e
        |  WHERE event_type = 'purchase'),
        |m AS (SELECT p.event_id AS pe, t.event_type AS ch,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_id
        |      ORDER BY t.ts DESC, t.event_id DESC) AS rn
        |  FROM p JOIN e t ON t.user_id = p.user_id
        |    AND t.event_type <> 'purchase'
        |    AND t.ts < p.ts AND t.ts >= p.ts - 604800000000000),
        |ch AS (SELECT pe, ch FROM m WHERE rn = 1)
        |SELECT COALESCE(ch.ch, 'direct') AS channel,
        |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  CAST(SUM(CAST(p.value AS DECIMAL(28,2))) AS DOUBLE)
        |    AS attributed_value
        |FROM p LEFT JOIN ch ON p.event_id = ch.pe
        |GROUP BY 1 ORDER BY channel""".stripMargin,
    "g_event_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ns(ts) AS ts FROM events),
        |s AS (SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM e),
        |c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT)
        |    AS n_steps
        |  FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(SUM(n_steps) AS BIGINT)
        |    AS from_total FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n_steps, t.from_total,
        |  CAST(c.n_steps AS DOUBLE) / CAST(t.from_total AS DOUBLE)
        |    AS p_step
        |FROM c JOIN t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,
    "t_inverted_index" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS t FROM documents),
        |p AS (SELECT doc_id, t[i + 1] AS token, i + 1 AS pos
        |  FROM t, unnest(range(0, len(t))) AS u(i)),
        |pt AS (SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf,
        |    CAST(MIN(pos) AS BIGINT) AS first_pos
        |  FROM p GROUP BY 1, 2),
        |st AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
        |    CAST(SUM(tf) AS BIGINT) AS cf
        |  FROM pt GROUP BY 1)
        |SELECT pt.token, doc_id, tf, first_pos, df, cf
        |FROM pt JOIN st USING (token)
        |ORDER BY token, doc_id""".stripMargin,
    // BM25 with both factors floor-scaled to integers: the
    // tf-saturation fraction multiplied through by 10*A, the idf as
    // the pre-log argument (2(N-df)+1)/(2df+1) — ranking-preserving,
    // no log in either engine
    "t_bm25_topk" ->
      """WITH t0 AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS t FROM documents),
        |d AS (SELECT doc_id, t, CAST(len(t) - 1 AS BIGINT) AS dl
        |  FROM t0 WHERE len(t) >= 2),
        |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
        |    CAST(SUM(dl) AS BIGINT) AS na FROM d),
        |q(query_id, phrase) AS (VALUES
        |  (CAST(1 AS BIGINT), 'table hash'), (1, 'hash join'),
        |  (2, 'stream big'), (2, 'data line'),
        |  (3, 'slow line'), (3, 'batch batch'), (3, 'small big')),
        |dp AS (SELECT phrase, doc_id, dl, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, dl, t[i + 1] || ' ' || t[i + 2] AS phrase
        |        FROM d, unnest(range(0, len(t) - 1)) AS u(i)) x
        |  JOIN (SELECT DISTINCT phrase FROM q) qq USING (phrase)
        |  GROUP BY 1, 2, 3),
        |f AS (SELECT phrase, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM dp GROUP BY 1),
        |s AS (SELECT q.query_id, dp.doc_id,
        |    SUM(((1000 * (2 * ((SELECT nd FROM c) - f.df) + 1))
        |          // (2 * f.df + 1))
        |      * ((1000000 * 22 * dp.tf * (SELECT na FROM c))
        |          // (10 * dp.tf * (SELECT na FROM c)
        |            + 3 * (SELECT na FROM c)
        |            + 9 * dp.dl * (SELECT nd FROM c)))) AS score
        |  FROM dp JOIN f USING (phrase) JOIN q USING (phrase)
        |  GROUP BY 1, 2)
        |SELECT query_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
        |  doc_id, CAST(score AS BIGINT) AS score
        |FROM s QUALIFY rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // Morton interleave spelled with the same shift/mask fold; the day
    // dimension rebased to the corpus's first day, buckets = 64 equal
    // slices of the OCCUPIED z-range
    "v_zorder_layout" ->
      """WITH k0 AS (SELECT CAST(user_id % 65536 AS BIGINT) AS x,
        |    epoch_ns(ts) // 86400000000000 AS yd FROM events),
        |k AS (SELECT x, yd - (SELECT MIN(yd) FROM k0) AS y FROM k0),
        |z AS (SELECT x, y, CAST(list_sum(list_transform(range(0, 16),
        |    i -> (((x >> i) & 1) << (2 * i))
        |      + (((y >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS zcode
        |  FROM k)
        |SELECT (zcode * 64) // ((SELECT MAX(zcode) FROM z) + 1)
        |    AS z_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  MIN(x) AS min_user, MAX(x) AS max_user,
        |  MIN(y) AS min_day, MAX(y) AS max_day,
        |  (MAX(x) - MIN(x) + 1) * (MAX(y) - MIN(y) + 1) AS box_area
        |FROM z GROUP BY 1 ORDER BY z_bucket""".stripMargin,
    // ONE fingerprint from parquet (the only copy DuckDB can see),
    // cross-joined to the three format labels: every Spark-side format
    // must hash-match the second engine, not just agree with itself
    "k_format_roundtrip" ->
      """WITH e AS (SELECT concat_ws('|',
        |    coalesce(CAST(event_id AS VARCHAR), ''),
        |    coalesce(CAST(epoch_us(ts) AS VARCHAR), ''),
        |    coalesce(CAST(user_id AS VARCHAR), ''),
        |    coalesce(CAST(event_type AS VARCHAR), ''),
        |    coalesce(CAST(CAST(value AS DECIMAL(28, 2)) AS VARCHAR), ''),
        |    coalesce(CAST(props AS VARCHAR), '')) AS img, value
        |  FROM events),
        |f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    bit_xor(CAST(list_sum(list_transform(range(1, 16), i ->
        |      CAST(instr('0123456789abcdef', substring(md5(img), i, 1))
        |        - 1 AS BIGINT)
        |      * CAST(pow(16, 15 - i) AS BIGINT))) AS BIGINT)) AS row_fp,
        |    CAST(SUM(CAST(value AS DECIMAL(28, 2))) AS DOUBLE)
        |      AS sum_value
        |  FROM e)
        |SELECT v.fmt, f.n_rows, f.row_fp, f.sum_value
        |FROM f, (VALUES ('csv'), ('json'), ('parquet')) v(fmt)
        |ORDER BY fmt""".stripMargin,
    // token-weighted nearest-rank quantiles over the (lang, value)
    // weight histogram — cumulative window over DISTINCT values only
    "t_weighted_percentiles" ->
      """WITH d AS (SELECT lang, n_chars AS value,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS w
        |  FROM documents),
        |h AS (SELECT lang, value, CAST(SUM(w) AS BIGINT) AS wsum
        |  FROM d GROUP BY 1, 2),
        |c AS (SELECT lang, value, CAST(SUM(wsum) OVER (
        |    PARTITION BY lang ORDER BY value
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum FROM h),
        |t AS (SELECT lang, CAST(SUM(wsum) AS BIGINT) AS wtot
        |  FROM h GROUP BY 1),
        |tg AS (SELECT lang, p,
        |    CAST(CEIL(p * CAST(wtot AS DOUBLE)) AS BIGINT) AS target
        |  FROM (SELECT lang, wtot, unnest([0.25, 0.5, 0.75, 0.9]) AS p
        |        FROM t) x)
        |SELECT tg.lang, tg.p, MIN(c.value) AS v_at_p
        |FROM tg JOIN c ON c.lang = tg.lang AND c.cum >= tg.target
        |GROUP BY 1, 2 ORDER BY tg.lang, tg.p""".stripMargin,
    // priority sampling: u60 = the portable 60-bit md5 fingerprint
    // (same nibble sum as the V7 oracles), key = ONE double division
    "t_sample_priority" ->
      """WITH u AS (SELECT doc_id, lang, n_chars,
        |    CAST(list_sum(list_transform(range(1, 16), i ->
        |      CAST(instr('0123456789abcdef',
        |        substring(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
        |      * CAST(pow(16, 15 - i) AS BIGINT))) AS BIGINT) AS u60
        |  FROM documents WHERE n_chars > 0),
        |k AS (SELECT lang, doc_id, n_chars,
        |    CAST(u60 AS DOUBLE) / CAST(n_chars AS DOUBLE) AS pkey FROM u)
        |SELECT lang, CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY pkey, doc_id) AS BIGINT) AS rn,
        |  doc_id, n_chars, pkey
        |FROM k QUALIFY rn <= 25 ORDER BY lang, rn""".stripMargin,
    // skyline ground truth: the NOT EXISTS dominance anti-join (the
    // Spark side is the two-phase windowed cut — same set)
    "t_pareto_frontier" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents)
        |SELECT p.doc_id, p.n_chars, p.n_tokens FROM d p
        |WHERE NOT EXISTS (SELECT 1 FROM d q
        |  WHERE q.n_chars >= p.n_chars AND q.n_tokens <= p.n_tokens
        |    AND (q.n_chars > p.n_chars OR q.n_tokens < p.n_tokens))
        |ORDER BY p.doc_id""".stripMargin,
    // RRF fusion: BM25 CTEs (pool 20) + cosine CTEs (queries 1-3,
    // pool 20) fused by the floor-scaled reciprocal 10^12 // (60+rank)
    "t_rrf_fusion" ->
      """WITH t0 AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS t FROM documents),
        |d AS (SELECT doc_id, t, CAST(len(t) - 1 AS BIGINT) AS dl
        |  FROM t0 WHERE len(t) >= 2),
        |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
        |    CAST(SUM(dl) AS BIGINT) AS na FROM d),
        |q(query_id, phrase) AS (VALUES
        |  (CAST(1 AS BIGINT), 'table hash'), (1, 'hash join'),
        |  (2, 'stream big'), (2, 'data line'),
        |  (3, 'slow line'), (3, 'batch batch'), (3, 'small big')),
        |dp AS (SELECT phrase, doc_id, dl, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, dl, t[i + 1] || ' ' || t[i + 2] AS phrase
        |        FROM d, unnest(range(0, len(t) - 1)) AS u(i)) x
        |  JOIN (SELECT DISTINCT phrase FROM q) qq USING (phrase)
        |  GROUP BY 1, 2, 3),
        |f AS (SELECT phrase, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM dp GROUP BY 1),
        |s AS (SELECT q.query_id, dp.doc_id,
        |    SUM(((1000 * (2 * ((SELECT nd FROM c) - f.df) + 1))
        |          // (2 * f.df + 1))
        |      * ((1000000 * 22 * dp.tf * (SELECT na FROM c))
        |          // (10 * dp.tf * (SELECT na FROM c)
        |            + 3 * (SELECT na FROM c)
        |            + 9 * dp.dl * (SELECT nd FROM c)))) AS score
        |  FROM dp JOIN f USING (phrase) JOIN q USING (phrase)
        |  GROUP BY 1, 2),
        |bm AS (SELECT query_id, doc_id, rk FROM (
        |    SELECT query_id, doc_id, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
        |    FROM s) WHERE rk <= 20),
        |n AS (SELECT vec_id, emb,
        |    sqrt(list_sum(list_transform(list_zip(emb, emb),
        |      x -> x[1] * x[2]))) AS nrm
        |  FROM (SELECT vec_id, embedding::DOUBLE[] AS emb
        |        FROM embeddings) e),
        |p AS (SELECT qv.vec_id AS query_id, x.vec_id AS doc_id,
        |    list_sum(list_transform(list_zip(qv.emb, x.emb),
        |      x2 -> x2[1] * x2[2])) / (qv.nrm * x.nrm) AS cosine
        |  FROM n qv JOIN n x
        |    ON qv.vec_id IN (1, 2, 3) AND x.vec_id != qv.vec_id),
        |cm AS (SELECT query_id, doc_id, rk FROM (
        |    SELECT query_id, doc_id, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rk
        |    FROM p) WHERE rk <= 20),
        |fused AS (SELECT coalesce(bm.query_id, cm.query_id) AS query_id,
        |    coalesce(bm.doc_id, cm.doc_id) AS doc_id,
        |    coalesce(1000000000000 // (60 + bm.rk), 0)
        |      + coalesce(1000000000000 // (60 + cm.rk), 0) AS rrf_score,
        |    coalesce(bm.rk, 0) AS bm25_rank,
        |    coalesce(cm.rk, 0) AS cos_rank
        |  FROM bm FULL OUTER JOIN cm
        |    ON bm.query_id = cm.query_id AND bm.doc_id = cm.doc_id)
        |SELECT query_id, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rank,
        |  doc_id, CAST(rrf_score AS BIGINT) AS rrf_score,
        |  CAST(bm25_rank AS BIGINT) AS bm25_rank,
        |  CAST(cos_rank AS BIGINT) AS cos_rank
        |FROM fused QUALIFY rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // literal EXISTS chains per level (the Spark side is cascaded
    // running maxima); dense 0..3 grid, desc-cumulative reach, guarded
    // single-division conversions
    "w_funnel_steps" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS ts
        |    FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |l1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'view'),
        |l2 AS (SELECT DISTINCT c.user_id FROM e c JOIN e v
        |  ON v.user_id = c.user_id AND c.event_type = 'click'
        |    AND v.event_type = 'view' AND v.ts < c.ts
        |    AND c.ts - v.ts <= 86400000000000),
        |l3 AS (SELECT DISTINCT p.user_id FROM e p
        |  JOIN e c ON c.user_id = p.user_id AND p.event_type = 'purchase'
        |    AND c.event_type = 'click' AND c.ts < p.ts
        |  JOIN e v ON v.user_id = c.user_id AND v.event_type = 'view'
        |    AND v.ts < c.ts AND p.ts - v.ts <= 86400000000000),
        |lvl AS (SELECT u.user_id,
        |    CASE WHEN l3.user_id IS NOT NULL THEN 3
        |         WHEN l2.user_id IS NOT NULL THEN 2
        |         WHEN l1.user_id IS NOT NULL THEN 1 ELSE 0 END AS level
        |  FROM u LEFT JOIN l3 USING (user_id)
        |    LEFT JOIN l2 USING (user_id) LEFT JOIN l1 USING (user_id)),
        |h AS (SELECT level, CAST(COUNT(*) AS BIGINT) AS n_users
        |  FROM lvl GROUP BY 1),
        |g AS (SELECT CAST(unnest(range(0, 4)) AS BIGINT) AS level),
        |d AS (SELECT g.level, coalesce(h.n_users, 0) AS n_users
        |  FROM g LEFT JOIN h USING (level)),
        |r AS (SELECT level, n_users,
        |    CAST(SUM(n_users) OVER (ORDER BY level DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS n_reached FROM d)
        |SELECT level, n_users, n_reached,
        |  CASE WHEN level > 0
        |      AND lag(n_reached) OVER (ORDER BY level) > 0
        |    THEN CAST(n_reached AS DOUBLE)
        |      / CAST(lag(n_reached) OVER (ORDER BY level) AS DOUBLE)
        |  END AS conv_from_prev
        |FROM r ORDER BY level""".stripMargin,
    // closed-form alive set: deleted = id ≡ 0 (mod 7) minus the
    // resurrected id ≡ 0 (mod 21); the Spark side replays the real
    // insert/delete/replay/compact/re-insert sequence through the sink
    "k_tombstone_delete" ->
      """WITH a AS (SELECT event_id, value FROM events
        |  WHERE event_id % 21 = 0 OR event_id % 7 <> 0)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_alive,
        |  bit_xor(CAST(list_sum(list_transform(range(1, 16), i ->
        |    CAST(instr('0123456789abcdef',
        |      substring(md5(CAST(event_id AS VARCHAR)), i, 1)) - 1
        |      AS BIGINT)
        |    * CAST(pow(16, 15 - i) AS BIGINT))) AS BIGINT)) AS alive_fp,
        |  CAST(SUM(CAST(value AS DECIMAL(28, 2))) AS DOUBLE) AS sum_value
        |FROM a""".stripMargin,
    // EXISTS-over-(v,c,p)-triples ground truth for the windowed
    // sequence match; the Spark side collapses it to running maxima
    "g_sequence_match" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ns(ts) AS ts FROM events),
        |p AS (SELECT user_id, event_id, ts FROM e
        |  WHERE event_type = 'purchase'),
        |mt AS (SELECT DISTINCT p.event_id
        |  FROM p
        |  JOIN e c ON c.user_id = p.user_id AND c.event_type = 'click'
        |    AND c.ts < p.ts
        |  JOIN e v ON v.user_id = c.user_id AND v.event_type = 'view'
        |    AND v.ts < c.ts AND v.ts >= p.ts - 86400000000000)
        |SELECT p.user_id, CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  CAST(SUM(CASE WHEN mt.event_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_matches,
        |  MIN(CASE WHEN mt.event_id IS NOT NULL THEN p.ts END)
        |    AS first_match_ts
        |FROM p LEFT JOIN mt ON p.event_id = mt.event_id
        |GROUP BY p.user_id ORDER BY user_id""".stripMargin,
    // the salted build must reproduce the PLAIN self-join relation —
    // the oracle is the unsalted pair mine (integer counts, bit-exact)
    "g_cooccur_salted" ->
      """WITH e0 AS (SELECT DISTINCT event_type,
        |    epoch_ns(ts) // 600000000000 AS bkt, user_id FROM events)
        |SELECT a.user_id AS u, b.user_id AS v,
        |  CAST(COUNT(*) AS BIGINT) AS nco
        |FROM e0 a JOIN e0 b ON a.event_type = b.event_type
        |  AND a.bkt = b.bkt AND a.user_id < b.user_id
        |GROUP BY 1, 2
        |HAVING COUNT(*) >= 2
        |ORDER BY u, v""".stripMargin,
    // components via recursive transitive closure + min reachable id
    // (the d_dup_groups oracle discipline over the ed edge relation)
    "g_components" ->
      (s"""WITH RECURSIVE $triangleCtes,
        |e AS (SELECT u AS src, v AS dst FROM ed
        |      UNION ALL SELECT v, u FROM ed),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src)
        |SELECT v.user_id,
        |  LEAST(v.user_id,
        |    (SELECT MIN(dst) FROM reach WHERE src = v.user_id)) AS group_id
        |FROM (SELECT DISTINCT src AS user_id FROM e) v
        |ORDER BY user_id""".stripMargin),
    // id-ordered triangle enumeration (orientation-free ground truth
    // for the degree-oriented Spark plan — same triangle set)
    "g_user_triangles" ->
      s"""WITH $triangleCtes
        |SELECT user_id, n_triangles FROM tc ORDER BY user_id""".stripMargin,
    // 3 damped iterations with contributions floored as (17*pr)//(20*deg)
    // — the exact rational 0.85*pr/deg, replayed as chained CTEs
    "g_pagerank" ->
      s"""WITH $triangleCtes,
        |de AS (SELECT u AS src, v AS dst FROM ed
        |  UNION ALL SELECT v, u FROM ed),
        |du AS (SELECT src AS n, CAST(COUNT(*) AS BIGINT) AS deg
        |  FROM de GROUP BY 1),
        |p0 AS (SELECT n, deg, CAST(1000000000 AS BIGINT) AS pr FROM du),
        |c1 AS (SELECT de.dst AS n,
        |    SUM((17 * p.pr) // (20 * p.deg)) AS c
        |  FROM de JOIN p0 p ON de.src = p.n GROUP BY 1),
        |p1 AS (SELECT d.n, d.deg,
        |    CAST(150000000 + COALESCE(c1.c, 0) AS BIGINT) AS pr
        |  FROM du d LEFT JOIN c1 USING (n)),
        |c2 AS (SELECT de.dst AS n,
        |    SUM((17 * p.pr) // (20 * p.deg)) AS c
        |  FROM de JOIN p1 p ON de.src = p.n GROUP BY 1),
        |p2 AS (SELECT d.n, d.deg,
        |    CAST(150000000 + COALESCE(c2.c, 0) AS BIGINT) AS pr
        |  FROM du d LEFT JOIN c2 USING (n)),
        |c3 AS (SELECT de.dst AS n,
        |    SUM((17 * p.pr) // (20 * p.deg)) AS c
        |  FROM de JOIN p2 p ON de.src = p.n GROUP BY 1),
        |p3 AS (SELECT d.n, d.deg,
        |    CAST(150000000 + COALESCE(c3.c, 0) AS BIGINT) AS pr
        |  FROM du d LEFT JOIN c3 USING (n))
        |SELECT n AS user_id, deg, pr FROM p3
        |ORDER BY user_id""".stripMargin,
    // per-user transitivity over the same graph: 2T/deg(deg-1) with
    // the wedge count exact-integer and ONE double division
    "g_clustering_coeff" ->
      s"""WITH $triangleCtes,
        |dg AS (SELECT n AS user_id, CAST(COUNT(*) AS BIGINT) AS deg
        |  FROM (SELECT u AS n FROM ed UNION ALL SELECT v FROM ed) x
        |  GROUP BY 1)
        |SELECT tc.user_id, dg.deg, tc.n_triangles,
        |  (dg.deg * (dg.deg - 1)) // 2 AS n_wedges,
        |  CAST(tc.n_triangles AS DOUBLE) /
        |    CAST((dg.deg * (dg.deg - 1)) // 2 AS DOUBLE) AS clustering
        |FROM tc JOIN dg USING (user_id) ORDER BY user_id""".stripMargin,
    "t_bigram_topk" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |b AS (SELECT doc_id,
        |    unnest(list_transform(range(0, len(toks) - 1),
        |      i -> toks[i + 1] || ' ' || toks[i + 2])) AS bigram
        |  FROM t WHERE len(toks) >= 2)
        |SELECT bigram, CAST(SUM(tf_doc) AS BIGINT) AS tf,
        |  CAST(COUNT(*) AS BIGINT) AS df
        |FROM (SELECT bigram, doc_id, COUNT(*) AS tf_doc
        |      FROM b GROUP BY bigram, doc_id) g
        |GROUP BY bigram ORDER BY tf DESC, bigram LIMIT 100""".stripMargin,
    "j_bucketed_orders" ->
      """SELECT c_custkey, c_name, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1, 2 ORDER BY c_custkey""".stripMargin,
    "pipe_corpus_clean" -> corpusCleanSql,
    "d_embed_dedup" ->
      """WITH c AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, embedding::DOUBLE[], label FROM embeddings),
        |n AS (SELECT vec_id, label, emb,
        |    sqrt(list_sum(list_transform(list_zip(emb, emb), x -> x[1] * x[2]))) AS nrm
        |  FROM c),
        |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    list_sum(list_transform(list_zip(a.emb, b.emb), x2 -> x2[1] * x2[2]))
        |      / (a.nrm * b.nrm) AS cosine
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id),
        |dup AS (SELECT * FROM p WHERE cosine >= 0.95)
        |SELECT n.vec_id, n.label,
        |  CAST(COALESCE(cnt.n_dups, 0) AS BIGINT) AS n_dups
        |FROM n LEFT JOIN (SELECT vec_a, COUNT(*) AS n_dups
        |                  FROM dup GROUP BY vec_a) cnt
        |  ON n.vec_id = cnt.vec_a
        |WHERE n.vec_id NOT IN (SELECT vec_b FROM dup)
        |ORDER BY n.vec_id""".stripMargin,
    "d_exact_dedup" ->
      """SELECT md5(lower(trim(text))) AS norm_hash,
        |  COUNT(*) AS group_size,
        |  CAST(MIN(doc_id) AS BIGINT) AS canonical_id
        |FROM (SELECT doc_id, text FROM documents
        |      UNION ALL SELECT doc_id + 100000, text FROM documents) u
        |GROUP BY 1 ORDER BY canonical_id""".stripMargin,
    "d_shingle_novelty" ->
      """WITH sh AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |        FROM documents) x
        |  WHERE len(t) >= 3),
        |df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle)
        |SELECT sh.doc_id, COUNT(*) AS n_shingles,
        |  CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_shared,
        |  CAST(1 AS DOUBLE) -
        |    CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) /
        |      CAST(COUNT(*) AS DOUBLE) AS novelty
        |FROM sh JOIN df USING (shingle)
        |GROUP BY sh.doc_id ORDER BY doc_id""".stripMargin,
    "d_minhash_pairs" -> allPairsJaccardSql,
    // same exact all-pairs oracle as d_minhash_pairs: prefix filtering
    // is exact, so the two candidate generators must converge on
    // identical verified output
    "d_prefix_pairs" -> allPairsJaccardSql,
    "d_ngram_pairs" ->
      """WITH cg AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(length(text) - 14, 1)),
        |    i -> substring(text, i, 16))) AS gs
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
        |      CAST(len(list_distinct(list_concat(a.gs, b.gs))) AS DOUBLE) AS jaccard
        |  FROM cg a JOIN cg b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, jaccard FROM p
        |WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin,
    "d_dup_groups" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(t) - 1, 1)),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS ss
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |        FROM documents) x),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE) /
        |      CAST(len(list_distinct(list_concat(a.ss, b.ss))) AS DOUBLE) >= 0.8),
        |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
        |      UNION ALL SELECT doc_b, doc_a FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src)
        |SELECT v.doc_id,
        |  LEAST(v.doc_id,
        |    (SELECT MIN(dst) FROM reach WHERE src = v.doc_id)) AS group_id
        |FROM (SELECT DISTINCT src AS doc_id FROM e) v
        |ORDER BY doc_id""".stripMargin,
    // same pair relation as d_dup_groups, then three exact
    // matrix-vector products (degree, 2-walks, 3-walks)
    "d_walk_counts" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(t) - 1, 1)),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS ss
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |        FROM documents) x),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE) /
        |      CAST(len(list_distinct(list_concat(a.ss, b.ss))) AS DOUBLE) >= 0.8),
        |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
        |      UNION ALL SELECT doc_b, doc_a FROM p),
        |c1 AS (SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM e GROUP BY src),
        |c2 AS (SELECT e.src AS doc_id, CAST(SUM(c1.c) AS BIGINT) AS c
        |  FROM e JOIN c1 ON e.dst = c1.doc_id GROUP BY e.src),
        |c3 AS (SELECT e.src AS doc_id, CAST(SUM(c2.c) AS BIGINT) AS c
        |  FROM e JOIN c2 ON e.dst = c2.doc_id GROUP BY e.src)
        |SELECT c1.doc_id, c1.c AS walks_1, c2.c AS walks_2, c3.c AS walks_3
        |FROM c1 JOIN c2 USING (doc_id) JOIN c3 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // same component construction as d_dup_groups, then the keeper
    // policy (longest doc, min-id ties) + group size per member
    "d_cluster_rep" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(t) - 1, 1)),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS ss
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |        FROM documents) x),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE) /
        |      CAST(len(list_distinct(list_concat(a.ss, b.ss))) AS DOUBLE) >= 0.8),
        |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
        |      UNION ALL SELECT doc_b, doc_a FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |g AS (SELECT v.doc_id,
        |    LEAST(v.doc_id,
        |      (SELECT MIN(dst) FROM reach WHERE src = v.doc_id)) AS group_id
        |  FROM (SELECT DISTINCT src AS doc_id FROM e) v),
        |sized AS (SELECT g.doc_id, g.group_id, d.n_chars
        |  FROM g JOIN documents d USING (doc_id)),
        |rep AS (SELECT group_id, doc_id AS rep_id,
        |    ROW_NUMBER() OVER (PARTITION BY group_id
        |      ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM sized)
        |SELECT s.doc_id, s.group_id, r.rep_id,
        |  CAST(COUNT(*) OVER (PARTITION BY s.group_id) AS BIGINT) AS group_sz
        |FROM sized s
        |JOIN (SELECT group_id, rep_id FROM rep WHERE rk = 1) r USING (group_id)
        |ORDER BY s.doc_id""".stripMargin,
    "d_simhash_pairs" ->
      """WITH t AS (SELECT doc_id,
        |    list_distinct(string_split_regex(trim(text), '\s+')) AS dt
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(dt) AS tok FROM t),
        |bits AS (SELECT doc_id, tok, b,
        |    instr('0123456789abcdef', substring(md5(tok), (b // 4) + 1, 1)) - 1 AS nib
        |  FROM tok CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bs),
        |bv AS (SELECT doc_id, b,
        |    SUM(2 * (CASE b % 4 WHEN 0 THEN nib // 8 WHEN 1 THEN (nib // 4) % 2
        |             WHEN 2 THEN (nib // 2) % 2 ELSE nib % 2 END) - 1) AS s
        |  FROM bits GROUP BY doc_id, b),
        |sh AS (SELECT doc_id,
        |  CAST(SUM(CASE WHEN s >= 0 AND b < 32 THEN CAST(pow(2, b) AS BIGINT)
        |           ELSE 0 END) AS BIGINT) AS sim_lo,
        |  CAST(SUM(CASE WHEN s >= 0 AND b >= 32 THEN CAST(pow(2, b - 32) AS BIGINT)
        |           ELSE 0 END) AS BIGINT) AS sim_hi
        |  FROM bv GROUP BY doc_id)
        |SELECT doc_a, doc_b, hamming FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(bit_count(xor(a.sim_lo, b.sim_lo)) +
        |         bit_count(xor(a.sim_hi, b.sim_hi)) AS BIGINT) AS hamming
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id) p
        |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin,
    "d_simhash" ->
      """WITH t AS (SELECT doc_id,
        |    list_distinct(string_split_regex(trim(text), '\s+')) AS dt
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(dt) AS tok FROM t),
        |bits AS (SELECT doc_id, tok, b,
        |    instr('0123456789abcdef', substring(md5(tok), (b // 4) + 1, 1)) - 1 AS nib
        |  FROM tok CROSS JOIN (SELECT unnest(range(0, 32)) AS b) bs),
        |bv AS (SELECT doc_id, b,
        |    SUM(2 * (CASE b % 4 WHEN 0 THEN nib // 8 WHEN 1 THEN (nib // 4) % 2
        |             WHEN 2 THEN (nib // 2) % 2 ELSE nib % 2 END) - 1) AS s
        |  FROM bits GROUP BY doc_id, b)
        |SELECT doc_id,
        |  CAST(SUM((CASE WHEN s >= 0 THEN 1 ELSE 0 END) *
        |    CAST(pow(2, b) AS BIGINT)) AS BIGINT) AS simhash
        |FROM bv GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "s_cosine_topk" ->
      """WITH n AS (SELECT vec_id, emb,
        |    sqrt(list_sum(list_transform(list_zip(emb, emb), x -> x[1] * x[2]))) AS nrm
        |  FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) e),
        |p AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(q.emb, x.emb), x2 -> x2[1] * x2[2]))
        |      / (q.nrm * x.nrm) AS cosine
        |  FROM n q JOIN n x ON q.vec_id < 10 AND x.vec_id != q.vec_id),
        |r AS (SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS rk FROM p)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id, cosine
        |FROM r WHERE rk <= 10 ORDER BY query_id, rank""".stripMargin,
    "s_cosine_pairs" ->
      """WITH n AS (SELECT vec_id, emb,
        |    sqrt(list_sum(list_transform(list_zip(emb, emb), x -> x[1] * x[2]))) AS nrm
        |  FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) e),
        |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    list_sum(list_transform(list_zip(a.emb, b.emb), x -> x[1] * x[2]))
        |      / (a.nrm * b.nrm) AS cosine
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, cosine FROM p
        |WHERE cosine >= 0.4 ORDER BY vec_a, vec_b""".stripMargin,
    // per-probe leak census at the same 0.4 line; worst offender =
    // the (cosine DESC, vec_id) rank-1 row; zero-leak probes keep a
    // 0-count row via the left join back to the probe set
    "s_decontaminate" ->
      """WITH n AS (SELECT vec_id, emb,
        |    sqrt(list_sum(list_transform(list_zip(emb, emb), x -> x[1] * x[2]))) AS nrm
        |  FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) e),
        |h AS (SELECT q.vec_id AS probe_id, x.vec_id AS vec_id,
        |    list_sum(list_transform(list_zip(q.emb, x.emb), x2 -> x2[1] * x2[2]))
        |      / (q.nrm * x.nrm) AS cosine
        |  FROM n q JOIN n x ON q.vec_id < 32 AND x.vec_id != q.vec_id),
        |f AS (SELECT * FROM h WHERE cosine >= 0.4),
        |r AS (SELECT probe_id, vec_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY probe_id
        |      ORDER BY cosine DESC, vec_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY probe_id) AS nl
        |  FROM f)
        |SELECT q.probe_id,
        |  CAST(COALESCE(r.nl, 0) AS BIGINT) AS n_leaked,
        |  r.vec_id AS top_vec_id, r.cosine AS top_cosine
        |FROM (SELECT vec_id AS probe_id FROM n WHERE vec_id < 32) q
        |LEFT JOIN (SELECT * FROM r WHERE rk = 1) r USING (probe_id)
        |ORDER BY probe_id""".stripMargin,
    "s_ann_ivf" ->
      """WITH n AS (SELECT vec_id, label, emb,
        |    sqrt(list_sum(list_transform(list_zip(emb, emb), x -> x[1] * x[2]))) AS nrm
        |  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings) e),
        |p AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(q.emb, x.emb), x2 -> x2[1] * x2[2]))
        |      / (q.nrm * x.nrm) AS cosine
        |  FROM n q JOIN n x ON q.vec_id < 20 AND x.label = q.label
        |    AND x.vec_id != q.vec_id),
        |r AS (SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS rk FROM p)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id, cosine
        |FROM r WHERE rk <= 3 ORDER BY query_id, rank""".stripMargin,
    "s_ann_lsh" -> annLshOracle,
    // the trainer replayed exactly: seeds = 8 lowest vec_ids; two Lloyd
    // iterations, each = argmax-cosine assignment (first-max tie-break
    // = ORDER BY score DESC, cell) + quantized mean update
    // (sum(floor(x*2^20)) as exact int64, one division) with
    // empty-cell carry-over; then MULTI-PROBE top-3: corpus vectors sit
    // in their rank-1 cell (a3), queries search their TOP-2 cells (aq,
    // rk <= 2) — same ranking, wider probe (VERDICT r8 #6).
    // Integer update sums are order-independent -> bit-identical to
    // Spark regardless of partitioning.
    "s_ann_kmeans" -> (kmeansAssignCte + "\n" + kmeansSearchCtes + "\n" +
      """SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id, cosine
        |FROM r WHERE rk <= 3 ORDER BY query_id, rank""".stripMargin),
    // prototype pruning: the SAME Lloyd replay, then each vector's
    // cosine to its own (argmax) centroid recovered by re-joining the
    // final score relation, ranked per cell, integer-ceil cut at 25%
    "s_prune_prototypes" -> (kmeansAssignCte + "\n" +
      """pr AS (SELECT a3.vec_id, a3.cell, s3.score / n.nrm AS proto
        |  FROM a3 JOIN s3 USING (vec_id, cell)
        |    JOIN n ON n.vec_id = a3.vec_id),
        |rk AS (SELECT vec_id, cell, proto,
        |    ROW_NUMBER() OVER (PARTITION BY cell
        |      ORDER BY proto DESC, vec_id) AS proto_rank,
        |    COUNT(*) OVER (PARTITION BY cell) AS n_cell
        |  FROM pr)
        |SELECT cell, CAST(proto_rank AS BIGINT) AS proto_rank, vec_id,
        |  CAST(n_cell AS BIGINT) AS n_cell, proto,
        |  proto_rank > least((n_cell * 25 + 99) // 100, n_cell - 1) AS kept
        |FROM rk ORDER BY cell, proto_rank""".stripMargin),
    // recall@k contract of the IVF index, hash-checked: the SAME
    // k-means search replay vs the SAME brute-force replay, composed
    "s_ann_recall" -> (kmeansAssignCte + "\n" + kmeansSearchCtes + ",\n" +
      """ann AS (SELECT query_id, neighbor_id FROM r WHERE rk <= 3),
        |bp AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(q.emb, x.emb), x2 -> x2[1] * x2[2]))
        |      / (q.nrm * x.nrm) AS cosine
        |  FROM n q JOIN n x ON q.vec_id < 20 AND x.vec_id != q.vec_id),
        |br AS (SELECT query_id, neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS rk FROM bp),
        |brute AS (SELECT query_id, neighbor_id FROM br WHERE rk <= 3)
        |SELECT b.query_id AS query_id, CAST(3 AS BIGINT) AS k,
        |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit,
        |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / 3.0 AS recall
        |FROM brute b LEFT JOIN ann a
        |  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
        |GROUP BY b.query_id ORDER BY query_id""".stripMargin),
    // SemDeDup replayed exactly: the SAME k-means replay (shared CTE —
    // the two oracles cannot drift), then pairs WITHIN the final `a3`
    // clusters only, dropping every vector with a smaller-id
    // within-cluster neighbor at cosine >= 0.4. Cross-cluster pairs are
    // invisible by design (the documented SemDeDup approximation).
    "d_semantic_dedup" -> (kmeansAssignCte + "\n" +
      """ax AS (SELECT n.vec_id, n.emb, n.nrm, a3.cell
        |  FROM n JOIN a3 USING (vec_id)),
        |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    list_sum(list_transform(list_zip(a.emb, b.emb), x -> x[1] * x[2]))
        |      / (a.nrm * b.nrm) AS cosine
        |  FROM ax a JOIN ax b ON a.cell = b.cell AND a.vec_id < b.vec_id),
        |hits AS (SELECT vec_b AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_closer
        |  FROM p WHERE cosine >= 0.4 GROUP BY vec_b)
        |SELECT ax.vec_id, ax.cell,
        |  COALESCE(hits.n_closer, 0) AS n_closer,
        |  (COALESCE(hits.n_closer, 0) = 0) AS kept
        |FROM ax LEFT JOIN hits USING (vec_id) ORDER BY vec_id""".stripMargin),
    // substring-level dedup: remix docs (head-12 + unique glue +
    // tail-12 of every doc_id % 5 == 0 with >= 30 tokens, under the
    // 10^k id shift) model partial duplication; a position is
    // duplicated iff its 8-token window occurs >= 2 times corpus-wide;
    // overlapping/adjacent duplicated windows merge into maximal spans
    "d_dup_spans" -> dupSpansSql,
    "d_containment_pairs" -> containmentSql,
    // raster rebuilt from text: payload bytes truncated/zero-padded to
    // width*height (the encodePng contract); chars == bytes under the
    // mediaTable ASCII pin, so substring + chr(0) padding is byte-exact
    "mm_image_dedup" ->
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |base AS (SELECT doc_id, text,
        |    (n_chars % 64) + 16 AS w, ((n_chars // 64) % 64) + 16 AS h
        |  FROM documents),
        |corpus AS (SELECT doc_id, text, w, h FROM base
        |  UNION ALL SELECT doc_id + CAST(power(10,
        |      length(CAST((SELECT m FROM mx) AS VARCHAR))) AS BIGINT),
        |    text, w, h
        |  FROM base),
        |r AS (SELECT doc_id,
        |    md5(substring(text, 1, least(length(text), w * h)) ||
        |        repeat(chr(0), greatest(w * h - length(text), 0)))
        |      AS raster_hash
        |  FROM corpus)
        |SELECT raster_hash, COUNT(*) AS group_size,
        |  CAST(MIN(doc_id) AS BIGINT) AS canonical_id
        |FROM r GROUP BY raster_hash ORDER BY canonical_id""".stripMargin,
    "k_snapshot_diff" ->
      """WITH a AS (SELECT doc_id, md5(text) AS ha FROM documents),
        |mx AS (SELECT max(doc_id) AS m FROM documents),
        |b AS (
        |  SELECT doc_id, md5(CASE WHEN doc_id % 7 = 0 THEN text || ' rev2'
        |    ELSE text END) AS hb
        |  FROM documents WHERE doc_id % 11 != 0
        |  UNION ALL
        |  SELECT doc_id + CAST(power(10,
        |      length(CAST((SELECT m FROM mx) AS VARCHAR))) AS BIGINT),
        |    md5(text || ' new doc')
        |  FROM documents WHERE doc_id % 13 = 0),
        |j AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, a.ha, b.hb
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT doc_id,
        |  CASE WHEN ha IS NULL THEN 'added'
        |       WHEN hb IS NULL THEN 'removed'
        |       ELSE 'changed' END AS status,
        |  COALESCE(ha, '') AS old_hash, COALESCE(hb, '') AS new_hash
        |FROM j WHERE ha IS NULL OR hb IS NULL OR ha != hb
        |ORDER BY doc_id""".stripMargin,
    "g_retention_cohorts" -> retentionSql,
    // sequenced funnel: each stage's min-ts must strictly follow the
    // previous stage's min-ts (temporal order, not mere existence)
    "g_funnel_steps" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS ts
        |  FROM events),
        |s1 AS (SELECT user_id, MIN(ts) AS t1 FROM e
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s2.t2 GROUP BY e.user_id),
        |s4 AS (SELECT e.user_id, MIN(e.ts) AS t4 FROM e
        |  JOIN s3 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s3.t3
        |  GROUP BY e.user_id)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage_idx, 'signup' AS stage,
        |    COUNT(*) AS n_users FROM s1
        |  UNION ALL SELECT 2, 'view', COUNT(*) FROM s2
        |  UNION ALL SELECT 3, 'click', COUNT(*) FROM s3
        |  UNION ALL SELECT 4, 'purchase', COUNT(*) FROM s4)
        |ORDER BY stage_idx""".stripMargin,
    // PQ replayed exactly: per-SUBSPACE Lloyd (seeds = 8 lowest
    // vec_ids' slices; assignment argmin over c2 - 2*(x_j.c) with
    // first-min tie-break; quantized integer-sum mean update with
    // empty-cell carry-over; 2 iterations), then encode, then the
    // ADC scan (per-query LUT of m*ksub partial dots in (j, cell)
    // order; score = sequential fold over subspaces — list_sum of a
    // list_transform, matching Spark's `aggregate` HOF fold), top-64
    // candidates by (adc DESC, vec_id), exact-cosine rerank, top-3.
    "s_ann_pq" ->
      """WITH n AS (SELECT vec_id, emb,
        |    sqrt(list_sum(list_transform(list_zip(emb, emb), x -> x[1] * x[2]))) AS nrm
        |  FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) e),
        |js AS (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS j),
        |sub AS (SELECT vec_id, j, list_slice(emb, j * 8 + 1, j * 8 + 8) AS s
        |  FROM n CROSS JOIN js),
        |c0 AS (SELECT j,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INTEGER) AS cell,
        |    s AS c
        |  FROM sub WHERE vec_id IN (SELECT vec_id FROM n ORDER BY vec_id LIMIT 8)),
        |s1 AS (SELECT sub.vec_id, sub.j, c.cell,
        |    list_sum(list_transform(list_zip(c.c, c.c), x -> x[1] * x[2]))
        |      - 2 * list_sum(list_transform(list_zip(sub.s, c.c), x -> x[1] * x[2])) AS d
        |  FROM sub JOIN c0 c ON c.j = sub.j),
        |a1 AS (SELECT vec_id, j, cell FROM (SELECT vec_id, j, cell,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d ASC, cell) AS rk
        |  FROM s1) WHERE rk = 1),
        |u1 AS (SELECT a1.j, a1.cell, dd.d,
        |    SUM(CAST(floor(sub.s[dd.d] * 1048576.0) AS BIGINT)) AS sm,
        |    COUNT(*) AS cnt
        |  FROM a1 JOIN sub ON sub.vec_id = a1.vec_id AND sub.j = a1.j
        |    CROSS JOIN (SELECT CAST(unnest(range(1, 9)) AS INTEGER) AS d) dd
        |  GROUP BY a1.j, a1.cell, dd.d),
        |m1 AS (SELECT j, cell,
        |    list(CAST(sm AS DOUBLE) / (CAST(cnt AS DOUBLE) * 1048576.0) ORDER BY d) AS c
        |  FROM u1 GROUP BY j, cell),
        |c1 AS (SELECT c0.j, c0.cell, COALESCE(m1.c, c0.c) AS c
        |  FROM c0 LEFT JOIN m1 ON m1.j = c0.j AND m1.cell = c0.cell),
        |s2 AS (SELECT sub.vec_id, sub.j, c.cell,
        |    list_sum(list_transform(list_zip(c.c, c.c), x -> x[1] * x[2]))
        |      - 2 * list_sum(list_transform(list_zip(sub.s, c.c), x -> x[1] * x[2])) AS d
        |  FROM sub JOIN c1 c ON c.j = sub.j),
        |a2 AS (SELECT vec_id, j, cell FROM (SELECT vec_id, j, cell,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d ASC, cell) AS rk
        |  FROM s2) WHERE rk = 1),
        |u2 AS (SELECT a2.j, a2.cell, dd.d,
        |    SUM(CAST(floor(sub.s[dd.d] * 1048576.0) AS BIGINT)) AS sm,
        |    COUNT(*) AS cnt
        |  FROM a2 JOIN sub ON sub.vec_id = a2.vec_id AND sub.j = a2.j
        |    CROSS JOIN (SELECT CAST(unnest(range(1, 9)) AS INTEGER) AS d) dd
        |  GROUP BY a2.j, a2.cell, dd.d),
        |m2 AS (SELECT j, cell,
        |    list(CAST(sm AS DOUBLE) / (CAST(cnt AS DOUBLE) * 1048576.0) ORDER BY d) AS c
        |  FROM u2 GROUP BY j, cell),
        |cf AS (SELECT c1.j, c1.cell, COALESCE(m2.c, c1.c) AS c
        |  FROM c1 LEFT JOIN m2 ON m2.j = c1.j AND m2.cell = c1.cell),
        |s3 AS (SELECT sub.vec_id, sub.j, c.cell,
        |    list_sum(list_transform(list_zip(c.c, c.c), x -> x[1] * x[2]))
        |      - 2 * list_sum(list_transform(list_zip(sub.s, c.c), x -> x[1] * x[2])) AS d
        |  FROM sub JOIN cf c ON c.j = sub.j),
        |a3 AS (SELECT vec_id, j, cell FROM (SELECT vec_id, j, cell,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d ASC, cell) AS rk
        |  FROM s3) WHERE rk = 1),
        |codes AS (SELECT vec_id, list(cell ORDER BY j) AS code
        |  FROM a3 GROUP BY vec_id),
        |lutp AS (SELECT sq.vec_id AS query_id, c.j, c.cell,
        |    list_sum(list_transform(list_zip(sq.s, c.c), x -> x[1] * x[2])) AS pdot
        |  FROM sub sq JOIN cf c ON c.j = sq.j WHERE sq.vec_id < 20),
        |lutl AS (SELECT query_id, list(pdot ORDER BY j, cell) AS lut
        |  FROM lutp GROUP BY query_id),
        |adc AS (SELECT l.query_id, x.vec_id,
        |    list_sum(list_transform(range(0, 8),
        |      j -> l.lut[j * 8 + x.code[j + 1] + 1])) AS adc
        |  FROM lutl l JOIN codes x ON x.vec_id != l.query_id),
        |cand AS (SELECT query_id, vec_id, adc FROM (SELECT query_id, vec_id, adc,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) AS crk
        |  FROM adc) WHERE crk <= 64),
        |rer AS (SELECT c.query_id, c.vec_id AS neighbor_id, c.adc,
        |    list_sum(list_transform(list_zip(q.emb, t.emb), x2 -> x2[1] * x2[2]))
        |      / (q.nrm * t.nrm) AS cosine
        |  FROM cand c JOIN n q ON q.vec_id = c.query_id
        |    JOIN n t ON t.vec_id = c.vec_id),
        |r AS (SELECT query_id, neighbor_id, adc, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS rk FROM rer)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id, adc, cosine
        |FROM r WHERE rk <= 3 ORDER BY query_id, rank""".stripMargin,
    // IVFADC replayed exactly, COMPOSED from the two existing replays
    // (the kmeansSearchCtes/pq discipline): the shared k-means CTE
    // trains the coarse quantizer (final centroids = c2, assignment =
    // a3); residuals r = v − c2[cell] (one exact IEEE subtraction per
    // dim); the PQ chain retrains on the residual slices (p-prefixed
    // twin of the s_ann_pq CTEs); queries probe their top-2 cells by
    // the SAME s3 ranking as multi-probe IVF; ADC score = dot(q, cell
    // centroid) + the sequential LUT fold over residual codewords
    // (one add of two exactly-derived doubles); top-32 candidates by
    // (adc DESC, vec_id), exact-cosine rerank, top-3.
    "s_ann_ivfpq" -> (kmeansAssignCte + "\n" + ivfPqTrainCtes + "\n" +
      """ps3 AS (SELECT psub.vec_id, psub.j, c.cell,
        |    list_sum(list_transform(list_zip(c.c, c.c), x -> x[1] * x[2]))
        |      - 2 * list_sum(list_transform(list_zip(psub.s, c.c), x -> x[1] * x[2])) AS d
        |  FROM psub JOIN pcf c ON c.j = psub.j),
        |pa3 AS (SELECT vec_id, j, cell FROM (SELECT vec_id, j, cell,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d ASC, cell) AS rk
        |  FROM ps3) WHERE rk = 1),
        |pcodes AS (SELECT vec_id, list(cell ORDER BY j) AS code
        |  FROM pa3 GROUP BY vec_id),
        |codesx AS (SELECT c.vec_id, a3.cell, c.code
        |  FROM pcodes c JOIN a3 USING (vec_id)),
        |adcx AS (SELECT cd.query_id, x.vec_id,
        |    cd.cdot + list_sum(list_transform(range(0, 8),
        |      j -> l.lut[j * 8 + x.code[j + 1] + 1])) AS adc
        |  FROM cdq cd JOIN codesx x ON x.cell = cd.cell
        |    AND x.vec_id != cd.query_id
        |    JOIN lutl l ON l.query_id = cd.query_id),
        |cand AS (SELECT query_id, vec_id, adc FROM (SELECT query_id, vec_id, adc,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) AS crk
        |  FROM adcx) WHERE crk <= 32),
        |rer AS (SELECT c.query_id, c.vec_id AS neighbor_id, c.adc,
        |    list_sum(list_transform(list_zip(q.emb, t.emb), x2 -> x2[1] * x2[2]))
        |      / (q.nrm * t.nrm) AS cosine
        |  FROM cand c JOIN n q ON q.vec_id = c.query_id
        |    JOIN n t ON t.vec_id = c.vec_id),
        |r AS (SELECT query_id, neighbor_id, adc, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS rk FROM rer)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id, adc, cosine
        |FROM r WHERE rk <= 3 ORDER BY query_id, rank""".stripMargin),
    // eps multi-assignment replay: margin assignment over the SAME
    // trained index (a3m), replica residual encode (rsdm/pcodesm keyed
    // by (vec, cell)), per-(query, vector) best-replica dedup (adcd) —
    // everything else (books, probes, LUTs, rerank) shared verbatim
    "s_ann_ivfpq_eps" -> (kmeansAssignCte + "\n" + ivfPqTrainCtes + "\n" +
      """a3m AS (SELECT s.vec_id, s.cell FROM (
        |    SELECT vec_id, cell, score,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rk,
        |      MAX(score) OVER (PARTITION BY vec_id) AS smax
        |    FROM s3) s JOIN n ON n.vec_id = s.vec_id
        |  WHERE s.rk = 1 OR (s.rk = 2 AND (s.smax - s.score) / n.nrm < 0.05)),
        |rsdm AS (SELECT n.vec_id, am.cell,
        |    list_transform(list_zip(n.emb, c.c), x -> x[1] - x[2]) AS remb
        |  FROM n JOIN a3m am ON am.vec_id = n.vec_id JOIN c2 c ON c.cell = am.cell),
        |psubm AS (SELECT vec_id, cell, j, list_slice(remb, j * 8 + 1, j * 8 + 8) AS s
        |  FROM rsdm CROSS JOIN js),
        |ps3m AS (SELECT psubm.vec_id, psubm.cell, psubm.j, c.cell AS code,
        |    list_sum(list_transform(list_zip(c.c, c.c), x -> x[1] * x[2]))
        |      - 2 * list_sum(list_transform(list_zip(psubm.s, c.c), x -> x[1] * x[2])) AS d
        |  FROM psubm JOIN pcf c ON c.j = psubm.j),
        |pa3m AS (SELECT vec_id, cell, j, code FROM (SELECT vec_id, cell, j, code,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, cell, j ORDER BY d ASC, code) AS rk
        |  FROM ps3m) WHERE rk = 1),
        |pcodesm AS (SELECT vec_id, cell, list(code ORDER BY j) AS code
        |  FROM pa3m GROUP BY vec_id, cell),
        |adcm AS (SELECT cd.query_id, x.vec_id, x.cell,
        |    cd.cdot + list_sum(list_transform(range(0, 8),
        |      j -> l.lut[j * 8 + x.code[j + 1] + 1])) AS adc
        |  FROM cdq cd JOIN pcodesm x ON x.cell = cd.cell
        |    AND x.vec_id != cd.query_id
        |    JOIN lutl l ON l.query_id = cd.query_id),
        |adcd AS (SELECT query_id, vec_id, adc FROM (SELECT query_id, vec_id, adc,
        |    ROW_NUMBER() OVER (PARTITION BY query_id, vec_id
        |      ORDER BY adc DESC, cell) AS dr
        |  FROM adcm) WHERE dr = 1),
        |cand AS (SELECT query_id, vec_id, adc FROM (SELECT query_id, vec_id, adc,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) AS crk
        |  FROM adcd) WHERE crk <= 32),
        |rer AS (SELECT c.query_id, c.vec_id AS neighbor_id, c.adc,
        |    list_sum(list_transform(list_zip(q.emb, t.emb), x2 -> x2[1] * x2[2]))
        |      / (q.nrm * t.nrm) AS cosine
        |  FROM cand c JOIN n q ON q.vec_id = c.query_id
        |    JOIN n t ON t.vec_id = c.vec_id),
        |r AS (SELECT query_id, neighbor_id, adc, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS rk FROM rer)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id, adc, cosine
        |FROM r WHERE rk <= 3 ORDER BY query_id, rank""".stripMargin),
    // the decoded raster is the text bytes zero-padded / truncated to
    // width*height (PNG grayscale is lossless), so every feature of the
    // ACTUALLY DECODED pixels is closed-form over the source text
    "mm_media_features" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len,
        |    (n_chars % 64) + 16 AS w,
        |    ((n_chars // 64) % 64) + 16 AS h FROM documents),
        |c AS (SELECT doc_id, w, h,
        |    coalesce(list_sum(list_transform(range(0, w * h),
        |      i -> CASE WHEN 3 * i + 1 <= len
        |        THEN ascii(substring(text, 3 * i + 1, 1)) ELSE 0 END)), 0) AS sr,
        |    coalesce(list_sum(list_transform(range(0, w * h),
        |      i -> CASE WHEN 3 * i + 2 <= len
        |        THEN ascii(substring(text, 3 * i + 2, 1)) ELSE 0 END)), 0) AS sg,
        |    coalesce(list_sum(list_transform(range(0, w * h),
        |      i -> CASE WHEN 3 * i + 3 <= len
        |        THEN ascii(substring(text, 3 * i + 3, 1)) ELSE 0 END)), 0) AS sb
        |  FROM d)
        |SELECT doc_id, 'image/png' AS media_type,
        |  CAST(3 * w * h AS BIGINT) AS n_bytes,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(sr + sg + sb AS DOUBLE) / CAST(3 * w * h AS DOUBLE) AS mean_byte,
        |  CAST(sr AS DOUBLE) / CAST(w * h AS DOUBLE) AS mean_r,
        |  CAST(sg AS DOUBLE) / CAST(w * h AS DOUBLE) AS mean_g,
        |  CAST(sb AS DOUBLE) / CAST(w * h AS DOUBLE) AS mean_b,
        |  CAST((3 * w * h + 15) // 16 AS BIGINT) AS frames_sampled
        |FROM c ORDER BY doc_id""".stripMargin,
    "mm_audio_features" ->
      // sample i = (ascii(byte i) - 128) * 256; PCM16 WAV is lossless,
      // so the decoded stream is exactly these samples. Integer sums
      // exact; the divisions and sqrt are IEEE-correctly-rounded in
      // both engines.
      """WITH d AS (SELECT doc_id, text, length(text) AS len,
        |    8000 + (n_chars % 8) * 1000 AS rate FROM documents),
        |s AS (SELECT doc_id, rate, len,
        |    coalesce(list_sum(list_transform(range(1, len + 1),
        |      i -> abs((ascii(substring(text, i, 1)) - 128) * 256))), 0)
        |      AS sum_abs,
        |    coalesce(list_max(list_transform(range(1, len + 1),
        |      i -> abs((ascii(substring(text, i, 1)) - 128) * 256))), 0)
        |      AS peak,
        |    coalesce(list_sum(list_transform(range(1, len + 1),
        |      i -> CAST((ascii(substring(text, i, 1)) - 128) * 256 AS BIGINT)
        |        * ((ascii(substring(text, i, 1)) - 128) * 256))), 0) AS sum_sq
        |  FROM d)
        |SELECT doc_id, 'audio/wav' AS media_type,
        |  CAST(rate AS INTEGER) AS sample_rate,
        |  CAST(len AS BIGINT) AS n_samples,
        |  CAST(len AS DOUBLE) / CAST(rate AS DOUBLE) AS duration_s,
        |  CAST(peak AS BIGINT) AS peak_abs,
        |  CASE WHEN len = 0 THEN 0.0
        |    ELSE CAST(sum_abs AS DOUBLE) / CAST(len AS DOUBLE) END AS mean_abs,
        |  CASE WHEN len = 0 THEN 0.0
        |    ELSE sqrt(CAST(sum_sq AS DOUBLE) / CAST(len AS DOUBLE)) END AS rms
        |FROM s ORDER BY doc_id""".stripMargin,
    // nearest-neighbor 16x16 resize replayed with integer index math:
    // out pixel p=(y*16+x) reads source index (y*h//16)*w + (x*w//16),
    // positions past the payload read 0; mean over 256 = sum/2^8, exact
    "mm_resize" ->
      """WITH px AS (
        |  SELECT doc_id, text, length(text) AS len,
        |    (n_chars % 64) + 16 AS w, ((n_chars // 64) % 64) + 16 AS h,
        |    unnest(range(0, 256)) AS p
        |  FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    ((p // 16) * h // 16) * w + ((p % 16) * w // 16) + 1 AS idx,
        |    text, len
        |  FROM px)
        |SELECT doc_id, CAST(256 AS BIGINT) AS n_bytes,
        |  CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
        |  CAST(SUM(CASE WHEN idx <= len
        |    THEN ascii(substring(text, idx, 1)) ELSE 0 END) AS DOUBLE) / 256
        |    AS mean_byte
        |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // every 4th 64-byte frame of the DECODED width*height raster (full
    // frames only; positions past the text are the encoder's zero
    // padding); window mean = sum/2^6, exact in both engines
    "mm_frame_sample" ->
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS len,
        |    ((n_chars % 64) + 16) * (((n_chars // 64) % 64) + 16) AS n_px
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, text, len,
        |    unnest(range(0, n_px // 64, 4)) AS frame_idx
        |  FROM d),
        |b AS (
        |  SELECT doc_id, frame_idx, text, len,
        |    unnest(range(1, 65)) AS j
        |  FROM f)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(SUM(CASE WHEN frame_idx * 64 + j <= len
        |    THEN ascii(substring(text, frame_idx * 64 + j, 1))
        |    ELSE 0 END) AS DOUBLE) / 64 AS mean_byte
        |FROM b GROUP BY doc_id, frame_idx
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // same sampled-frame means as mm_frame_sample, then the
    // frame-difference boundary rule (|Δmean| > 10) via lag per asset
    "mm_scene_detect" ->
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS len,
        |    ((n_chars % 64) + 16) * (((n_chars // 64) % 64) + 16) AS n_px
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, text, len,
        |    unnest(range(0, n_px // 64, 4)) AS frame_idx
        |  FROM d),
        |b AS (
        |  SELECT doc_id, frame_idx, text, len,
        |    unnest(range(1, 65)) AS j
        |  FROM f),
        |mf AS (
        |  SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |    CAST(SUM(CASE WHEN frame_idx * 64 + j <= len
        |      THEN ascii(substring(text, frame_idx * 64 + j, 1))
        |      ELSE 0 END) AS DOUBLE) / 64 AS mean_byte
        |  FROM b GROUP BY doc_id, frame_idx),
        |lg AS (
        |  SELECT doc_id, frame_idx,
        |    LAG(frame_idx) OVER w AS prev_idx,
        |    LAG(mean_byte) OVER w AS prev_mean, mean_byte,
        |    mean_byte - LAG(mean_byte) OVER w AS jump
        |  FROM mf WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx))
        |SELECT doc_id, frame_idx, prev_idx, prev_mean, mean_byte, jump
        |FROM lg WHERE prev_mean IS NOT NULL AND abs(jump) > 10.0
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // NEAR fixture oracles: bronze/resolver = pinned VALUES golden rows;
    // silver/gold = independent DuckDB JSON SQL re-implementations.
    "near_bronze_events"       -> graft.fixtures.NearFixtures.eventsSql,
    "near_bronze_transactions" -> graft.fixtures.NearFixtures.transactionsSql,
    "near_bronze_receipts"     -> graft.fixtures.NearFixtures.receiptsSql,
    "near_bronze_outcomes"     -> graft.fixtures.NearFixtures.outcomesSql,
    "near_resolver"            -> graft.fixtures.NearFixtures.resolverSql,
    "near_receipt_depth"       -> graft.fixtures.NearFixtures.receiptDepthSql,
    // deep-chain scale corpus: closed-form ground truth from range()
    "near_scale_resolver"      -> graft.fixtures.NearOracles.scaleResolverSql,
    "near_scale_depth"         -> graft.fixtures.NearOracles.scaleDepthSql,
    "near_scale_events"        -> graft.fixtures.NearOracles.scaleEventsSql,
    "near_m1_nep245"           -> graft.fixtures.NearOracles.m1Sql,
    "near_m2_token_diff"       -> graft.fixtures.NearOracles.m2Sql,
    "near_m3_public_keys"      -> graft.fixtures.NearOracles.m3Sql,
    "near_m4_intents_executed" -> graft.fixtures.NearOracles.m4Sql,
    "near_m5_fee_changed"      -> graft.fixtures.NearOracles.m5Sql,
    "near_m6_transfer"         -> graft.fixtures.NearOracles.m6Sql,
    "near_m7_staging_transfer" -> graft.fixtures.NearOracles.m7Sql,
    "near_m8_transfers"        -> graft.fixtures.NearOracles.m8Sql,
    "near_m9_staging_transfers" -> graft.fixtures.NearOracles.m9Sql,
    "near_m10_referral"        -> graft.fixtures.NearOracles.m10Sql,
    "near_gold_metrics"        -> graft.fixtures.NearOracles.goldSql,
    "near_skew_gold"           -> graft.fixtures.NearOracles.skewGoldSql,
    // After a duplicate re-insert, FINAL-read restores exactly the
    // original rows; resume sees the max height, raw sees 2x rows.
    "near_sink_roundtrip"      -> graft.fixtures.NearFixtures.eventsSql,
    "near_sink_resume" ->
      """SELECT CAST(161 AS BIGINT) AS last_height,
        |  CAST(22 AS BIGINT) AS n_raw,
        |  CAST(11 AS BIGINT) AS n_final""".stripMargin,
    // pin 0 = the pristine image; pin 1 = the post-overwrite FINAL
    // image (index_in_log = 0 payloads mutated), which must survive
    // compaction unchanged
    "near_read_asof" ->
      (s"WITH ${graft.fixtures.NearFixtures.eventsCte}\n" +
        """SELECT CAST(0 AS BIGINT) AS pin, * FROM ne
          |UNION ALL
          |SELECT CAST(1 AS BIGINT) AS pin, block_height,
          |  block_timestamp_ns, block_hash, contract_id,
          |  execution_status, version, standard, index_in_log,
          |  CASE WHEN index_in_log = 0 THEN 'mutated' ELSE event END AS event,
          |  data, related_receipt_id, related_receipt_receiver_id,
          |  related_receipt_predecessor_id, tx_hash,
          |  receipt_index_in_block
          |FROM ne
          |ORDER BY pin, block_height, receipt_index_in_block,
          |  index_in_log""".stripMargin),
    "near_s1_file_source"      -> graft.fixtures.NearFixtures.eventsSql,
    "near_s4_assets" ->
      (s"WITH ${graft.fixtures.NearFixtures.assetsCte}\n" +
        "SELECT * FROM na ORDER BY defuse_asset_id, price_updated_at_ns"),
    "near_sql_gold"            -> graft.fixtures.NearOracles.goldSql,
    "near_runner_events"       -> graft.fixtures.NearFixtures.eventsSql,
    // daily rollup over the M1 silver relation (the m1 oracle as a
    // subquery) — resumed partial batches + the merge must be invisible
    "near_gold_daily_rollup" ->
      (s"""SELECT block_timestamp_ns // 86400000000000 AS epoch_day,
         |  token_id, COUNT(*) AS n_transfers,
         |  CAST(SUM(CAST(amount AS DECIMAL(28,6))) AS DOUBLE) AS amount_sum
         |FROM (""".stripMargin +
        graft.fixtures.NearOracles.m1Sql +
        ") GROUP BY 1, 2 ORDER BY 1, 2"),
    "near_stream_events"       -> graft.fixtures.NearFixtures.eventsSql,
    "near_v_fingerprints"      -> graft.fixtures.NearOracles.vFingerprintsSql,
    "near_v_domain"            -> graft.fixtures.NearOracles.vDomainSql,
    "near_v_json_valid"        -> graft.fixtures.NearOracles.vJsonValidSql,
    "near_v_drilldown"         -> graft.fixtures.NearOracles.vDrilldownSql,
    "near_v_diff"              -> graft.fixtures.NearOracles.vDiffSql,
    "near_v_tolerance"         -> graft.fixtures.NearOracles.vToleranceSql,
    // 13 events when unresolved rows are kept (11 resolved + r7 + r9)
    "near_v_null_ratio" ->
      """SELECT CAST(13 AS BIGINT) AS n_events,
        |  CAST(2 AS BIGINT) AS n_null_tx,
        |  CAST(2 AS DOUBLE) / CAST(13 AS DOUBLE) AS null_ratio,
        |  FALSE AS within_tolerance""".stripMargin,
  )
}
