package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is deterministic (explicit total order with a
  * unique tie-break) and every float aggregate is canonicalized (see
  * [[Canon]]) so the DuckDB oracle in [[oracleSql]] hash-matches exactly.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // — the reference's own three queries (SURVEY §2.2), on both corpora
    //   per the reference README:15-39; K is a real parameter (the
    //   reference takes it as argv — top50/top50.cpp:117) —
    "q_wordcount" -> ((s, _) => RefQueries.wordCount(s)),
    "q_topk" -> ((s, _) => RefQueries.topK(s, 50)),
    "q_inverted_index" -> ((s, _) => RefQueries.invertedIndex(s)),
    "q_wordcount_republic" -> ((s, _) => RefQueries.wordCount(s, RefQueries.Republic)),
    "q_topk_republic" -> ((s, _) => RefQueries.topK(s, 100, RefQueries.Republic)),
    "q_inverted_index_republic" -> ((s, _) => RefQueries.invertedIndex(s, RefQueries.Republic)),
    // — relational surface (SURVEY §2.4) —
    "e01_scan_filter" -> (Relational.scanFilter _),
    "e02_broadcast_join" -> (Relational.broadcastJoin _),
    "e03_shuffle_join_agg" -> (Relational.shuffleJoinAgg _),
    "e04_left_outer_join" -> (Relational.leftOuterJoin _),
    "e04b_right_outer_join" -> (Relational.rightOuterJoin _),
    "e05_full_outer_join" -> (Relational.fullOuterJoin _),
    "e06_semi_anti_join" -> (Relational.semiAntiJoin _),
    "e07_range_join" -> (Relational.rangeJoin _),
    "e08_pricing_summary" -> (Relational.pricingSummary _),
    "e09_distinct_agg" -> (Relational.distinctAgg _),
    "e09b_approx_distinct" -> (Relational.approxDistinct _),
    "e09c_percentiles" -> (Relational.percentiles _),
    "e10_rollup_agg" -> (Relational.rollupAgg _),
    "e11_cube_agg" -> (Relational.cubeAgg _),
    "e11b_grouping_sets" -> (Relational.groupingSets _),
    "e12_rank_window" -> (Relational.rankWindow _),
    "e12b_distribution_window" -> (Relational.distributionWindow _),
    "e15b_pivot" -> (Relational.pivotOrders _),
    "e15c_unpivot" -> (Relational.unpivotParts _),
    "e13_analytic_window" -> (Relational.analyticWindow _),
    "e13b_range_frame" -> (Relational.rangeFrame _),
    "e13c_value_windows" -> (Relational.valueWindows _),
    "e24_date_spine" -> (Relational.dateSpine _),
    "e25_map_funcs" -> (Relational.mapFuncs _),
    "e14_topk_orders" -> (Relational.topkOrders _),
    "e15_set_ops" -> (Relational.setOps _),
    "e15d_bag_set_ops" -> (Relational.bagSetOps _),
    "e16_scalar_funcs" -> (Relational.scalarFuncs _),
    "e17_date_funcs" -> (Relational.dateFuncs _),
    "e18_json_events" -> (Relational.jsonEvents _),
    "e18b_try_funcs" -> (Relational.tryFuncs _),
    "e19_region_supplier" -> (Relational.regionSupplier _),
    "e20_asof_join" -> (AsofJoin.errorAsofPurchase _),
    "e42_nearest_event" -> (AsofJoin.nearestEvent _),
    // the two-pass (key, time-bucket) variant — same contract, bounded
    // window partitions under key skew; same DuckDB ASOF oracle
    "e20b_asof_bucketed" -> ((s, d) => AsofJoin.errorAsofPurchaseBucketed(s, d)),
    "e21_salted_agg" -> (Relational.saltedAgg _),
    // the SQL front-end surface (spark.sql over temp views)
    "e22_sql_frontend" -> (Relational.sqlFrontend _),
    "e23_correlated_subquery" -> (Relational.correlatedSubquery _),
    "e26_string_agg" -> (Relational.stringAgg _),
    "e27_stats_agg" -> (Relational.statsAgg _),
    "e28_array_hof" -> (Relational.arrayHof _),
    "e29_locf_fill" -> (Relational.locfFill _),
    // linear interpolation between bracketing observations (LOCF's twin)
    "e43_interp_fill" -> (Relational.interpFill _),
    // quantity-weighted price quartiles (exact cum-weight crossing rule)
    "e44_weighted_quantiles" -> (Relational.weightedQuantiles _),
    // per-group top-k: rank window over the aggregated (user, type) table
    "e30_topk_per_group" -> (Relational.topkPerGroup _),
    // typed Dataset + custom Aggregator surface (same contract as q_topk)
    "t01_typed_topk" -> ((s, _) => TypedOps.typedTopK(s, 50)),
    // typed cogroup: both per-key iterators at once, left-complete
    "t03_typed_cogroup" -> (TypedOps.typedCogroup _),
    "t04_secondary_sort" -> (TypedOps.secondarySort _),
    "t05_geomean_udaf" -> (TypedOps.geomeanSql _),
    // the Phoenix MapReduce facade (same contract as q_wordcount)
    "t02_phoenix_wordcount" -> ((s, _) => PhoenixApi.phoenixWordCount(s)),
    // — LLM-data-pipeline surface (SURVEY §2.4 E18–E21) —
    "d01_exact_dedup" -> (DedupOps.exactDedup _),
    "d02_ngram_jaccard" -> (PairGraph.ngramJaccard _),
    "d03_minhash_lsh" -> (PairGraph.minhashNearDup _),
    "d04_cosine_topk" -> (EmbeddingOps.cosineTopK _),
    "d05_embed_neardup" -> (EmbeddingOps.embedNearDup _),
    "d06_ann_lsh" -> (EmbeddingOps.annLsh _),               // no SQL oracle: bucket recall is probabilistic by design; spec-checked vs brute force
    "d06b_ivf_ann" -> ((s, d) => EmbeddingOps.ivfAnn(s, d)),
    "d73_ivfpq_ann" -> ((s, d) => EmbeddingOps.ivfPqAnn(s, d)),
    "d74_index_publish" -> (VectorIndexStore.publish _),
    // batched multi-query ANN: a query TABLE (vec_id % 25 = 0) against
    // the published store, top-3 per query
    "d86_batched_ann" -> ((s, d) => EmbeddingOps.batchedAnn(s, d)),
    "d78_filtered_ann" -> ((s, d) => EmbeddingOps.filteredAnn(s, d)),
    "d79_ann_delete" -> ((s, d) => EmbeddingOps.annDelete(s, d)),
    "d80_knn_graph" -> ((s, d) => EmbeddingOps.knnGraph(s, d)),
    "d80b_knn_graph_cells" -> ((s, d) => EmbeddingOps.knnGraphCells(s, d)),
    "d82_knn_graph_dedup" -> ((s, d) => EmbeddingOps.knnGraphDedup(s, d)),
    "d84_graph_dedup_delta" -> ((s, d) => EmbeddingOps.knnGraphDedupDelta(s, d)),
    "d07_tfidf" -> (QualityOps.tfidf _),
    "d08_text_stats" -> (QualityOps.textStats _),
    "d09_lang_profile" -> (QualityOps.langProfile _),
    "d10_lang_id" -> (QualityOps.langId _),
    "d11_fingerprint" -> (PairGraph.fingerprint _),
    "d12_simhash" -> (PairGraph.simhash _),
    "d13_simhash_pairs" -> (PairGraph.simhashPairs _),
    "d14_doc_chunks" -> (SamplingOps.docChunks _),
    "d15_quantize" -> (EmbeddingOps.quantizeEmbeddings _),
    // composed prep pipeline: dedup → quality gate → chunk, one plan
    "d16_prep_pipeline" -> (SamplingOps.prepPipeline _),
    "d17_hash_split" -> (SamplingOps.hashSplit _),
    "d18_bigram_lm" -> (QualityOps.bigramLm _),
    // near-dup groups (transitive closure of d02's pair graph) and
    // train/test split contamination (d02 pairs × d17 splits)
    "d19_neardup_clusters" -> (PairGraph.neardupClusters _),
    "d20_contamination" -> (PairGraph.contamination _),
    // Gopher-style within-document repetition quality rule
    "d21_repetition" -> (QualityOps.repetition _),
    // corpus top-K vocabulary + per-document OOV rate
    "d22_vocab_coverage" -> ((s, d) => QualityOps.vocabCoverage(s, d)),
    // deterministic per-language stratified sampling (corpus rebalance)
    "d23_stratified_sample" -> (SamplingOps.stratifiedSample _),
    // sharded concat-and-chunk packing into fixed context windows
    "d24_seq_packing" -> (SamplingOps.seqPacking _),
    // content-defined (rolling-hash-boundary) chunking
    "d25_cdc_chunks" -> (SamplingOps.cdcChunks _),
    // token-budget domain mixing via bucketed distributed prefix sum
    "d26_token_budget" -> ((s, d) => SamplingOps.tokenBudget(s, d)),
    // per-document unigram Shannon entropy quality score
    "d27_token_entropy" -> (QualityOps.tokenEntropy _),
    // per-language percentile length trim (histogram-based percent_rank)
    "d28_length_trim" -> ((s, d) => QualityOps.lengthTrim(s, d)),
    // Matryoshka truncation: normalize → k-dim prefix → requantize
    "d29_matryoshka" -> ((s, d) => EmbeddingOps.matryoshka(s, d)),
    // delta-batch admission gate against the ingested corpus
    "d30_incremental_dedup" -> (PairGraph.incrementalDedup _),
    // the same gate fed from the published pair store (read side)
    "d30b_store_incremental" -> (PairStore.storeIncrementalDedup _),
    "d31_bm25" -> ((s, d) => QualityOps.bm25(s, d)),
    // PII-scrub-shaped pattern redaction (zero-shuffle projection)
    "d32_pii_redact" -> ((s, d) => QualityOps.redact(s, d)),
    // benchmark-leakage check: train/test 5-gram overlap, capped equi-join
    "d33_decontam_ngram" -> ((s, d) => QualityOps.decontamNgrams(s, d)),
    // DSIR importance weights over hashed-bigram bucket distributions
    "d34_dsir_weights" -> ((s, d) => QualityOps.dsirWeights(s, d)),
    // SemDeDup-shaped semantic dedup in LSH sign-bit buckets
    "d35_semdedup" -> ((s, d) => EmbeddingOps.semdedup(s, d)),
    // embedding-space train↔eval leakage (the semantic d20)
    "d55_semantic_contamination" -> ((s, d) => EmbeddingOps.semanticContamination(s, d)),
    // per-language exact-k deterministic reservoir draw
    "d56_reservoir" -> ((s, d) => SamplingOps.reservoirSample(s, d)),
    // Gumbel-top-k importance resampling over the d34 weights
    "d36_importance_sample" -> ((s, d) => SamplingOps.importanceSample(s, d)),
    // GDPR tombstone purge manifest across source + derived stores
    "d37_tombstone_purge" -> ((s, d) => DedupOps.tombstonePurge(s, d)),
    // — multimodal binary-column plumbing —
    "m01_binary_meta" -> (Multimodal.binaryMeta _),
    // flat projection (f0..f3) of the ARRAY<FLOAT> stub-decode features:
    // the driver compare can't hash arrays; MultimodalSpec checks the
    // array-shaped library surface itself.
    "m02_frame_features" -> (Multimodal.frameFeaturesFlat _),
    // overlapping 64-byte windows every 48 bytes (the STFT-hop analog)
    "m03_hop_windows" -> (Multimodal.hopWindowMeta _),
    // windowed byte statistics computed from the payload content itself
    "m04_payload_stats" -> (Multimodal.payloadStats _),
    // 2-D ViT-style patchify: strided non-contiguous patch slices
    "m05_patch_grid" -> (Multimodal.patchGrid _),
    "m06_rle_stats" -> (Multimodal.rleStats _),
    "m07_motion_energy" -> (Multimodal.motionEnergy _),
    // asset-level near-dup over binary payloads (frame-set Jaccard)
    "m08_asset_dedup" -> ((s, d) => Multimodal.assetDedup(s, d)),
    // interleaved multimodal packing: per-(shard, bin) text/vision occupancy
    "m09_interleaved_pack" -> (Multimodal.interleavedPack _),
    // shot segmentation: frames grouped into scenes at motion-energy spikes
    "m10_shot_segments" -> (Multimodal.shotSegments _),
    "m11_clip_containment" -> ((s, d) => Multimodal.clipContainment(s, d)),
    // — streaming surface (E16–E17), batch form of the shared
    //   transformations; StreamingSpec runs the same transformations as
    //   real streams and asserts streaming ≡ batch —
    "s01_tumbling_window" -> (Streaming.tumbling _),
    "s02_sliding_window" -> (Streaming.sliding _),
    "s03_session_window" -> (Streaming.sessions _),
    "s04_dedup_first" -> (Streaming.dedupFirst _),
    "s05_stateful_ordinal" -> (Streaming.stateOrdinal _),
    "s06_stream_stream_join" -> (Streaming.streamJoin _),
    // same ordinal contract as s05 via the Spark 4 transformWithState API
    "s07_stateful_ordinal_tws" -> (Streaming.stateOrdinalTws _),
    // stream-static broadcast enrichment then windowed aggregation
    "s08_stream_static_join" -> (Streaming.staticEnrich _),
    // chained stateful ops: dedup → tumbling window agg in one query
    "s09_dedup_window" -> (Streaming.dedupThenWindow _),
    // — file-format source/sink round-trips (CSV, line-JSON) —
    "f01_csv_roundtrip" -> (Sources.csvRoundtrip _),
    "f02_json_roundtrip" -> (Sources.jsonRoundtrip _),
    "f03_partitioned_parquet" -> (Sources.partitionedParquet _),
    "f04_orc_roundtrip" -> (Sources.orcRoundtrip _),
    "f05_bucketed_join" -> (Sources.bucketedJoin _),
    "f06_schema_evolution" -> (Sources.schemaEvolution _),
    // whole-file binaryFile source over a multi-file text layout
    "f07_binary_source" -> (Sources.binarySource _),
    // Z-order (Morton-curve) layout write + 2-d box-pruned re-read
    "f08_zorder_scan" -> (Sources.zorderScan _),
    // — data profiling / data-quality validation —
    "p01_column_profile" -> (Profiling.columnProfile _),
    "p02_dq_checks" -> (Profiling.dqChecks _),
    // exact equi-width histogram (two-pass: extrema row → arithmetic bins)
    "p03_histogram" -> ((s, d) => Profiling.histogram(s, d)),
    // SCD Type-2 validity intervals from the append-only event log
    "e31_scd2_intervals" -> (Relational.scd2Intervals _),
    // duplicate-multiplicity sampling weights (soft dedup)
    "d38_dup_weights" -> (DedupOps.dupWeights _),
    // bloom-gated cross-corpus membership (scan-time incremental dedup)
    "d39_bloom_gate" -> (DedupOps.bloomGate _),
    // shingle-set containment pairs (partial-duplicate / subset detector)
    "d40_containment" -> ((s, d) => PairGraph.containmentPairs(s, d)),
    // clusters over the UNION of jaccard + containment edges (what
    // substring-level dedup pipelines actually group on)
    "d41_partialdup_clusters" -> (PairGraph.partialDupClusters _),
    // C4-style cross-document span dedup at 32-token chunk granularity
    "d42_span_dedup" -> (DedupOps.spanDedup _),
    // C4-style paragraph-grain dedup (newline split, first-seen keep)
    "d57_paragraph_dedup" -> (DedupOps.paragraphDedup _),
    // per-source (domain-cap) top-K by quality score
    "d43_source_cap" -> (DedupOps.sourceCap _),
    // exact equi-depth quantile binning via distributed rank (no global
    // single-task sort)
    "p04_equidepth_bins" -> ((s, d) => Profiling.equidepthBins(s, d)),
    // hashed-feature linear quality classifier (model-based filter)
    "d44_quality_classifier" -> (QualityOps.qualityClassifier _),
    // stream-stream LEFT OUTER join, batch form (errors without a recent
    // purchase surface with null purchase columns)
    "s10_stream_stream_left" -> (Streaming.streamLeftJoin _),
    // stream-stream FULL outer: both sides emit unmatched after watermark
    "s15_stream_stream_full" -> (Streaming.streamFullJoin _),
    // versioned lakehouse sink: foreachBatch → MERGE → retained WAP versions
    "s16_versioned_sink" -> (Streaming.versionedFeed _),
    "s17_pair_maintenance" -> (Streaming.pairMaintFeed _),
    "s18_label_maintenance" -> (Streaming.labelMaintFeed _),
    "d75_substring_dedup" -> (DedupOps.substringDedup _),
    "f23_deletion_vectors" -> (Sources.deletionVectors _),
    "f24_branch_merge" -> (Sources.branchMerge _),
    "f25_bucket_rescale" -> (Sources.bucketRescale _),
    "s19_index_maintenance" -> (Streaming.vectorIndexMaintFeed _),
    "s21_asof_enrich" -> (Streaming.asofEnrichBatch _),
    "s22_asof_disordered" -> (Streaming.asofEnrichDisorderedFeed _),
    "s23_index_deletes" -> (Streaming.indexDeleteFeed _),
    "s24_drift_monitor" -> (Streaming.driftMonitorFeed _),
    "s25_drift_multi" -> (Streaming.driftMultiFeed _),
    "s26_family_maintenance" -> (Streaming.familyMaintFeed _),
    "s20_cdc_replication" -> (Streaming.cdcReplicationFeed _),
    // PSI drift detection between reference/current corpus slices
    "p05_psi_drift" -> ((s, d) => Profiling.psiDrift(s, d)),
    // snapshot reconciliation: added/removed/changed + per-column counts
    "p06_table_diff" -> (Profiling.tableDiff _),
    "p07_mad_outliers" -> (Profiling.madOutliers _),
    "p08_skew_profile" -> (Profiling.skewProfile _),
    "p09_fd_profile" -> (Profiling.fdProfile _),
    // per-group Pearson r + OLS line from exact decimal power sums
    "p10_regression_profile" -> (Profiling.regressionProfile _),
    "p11_embedding_profile" -> (Profiling.embeddingProfile _),
    // complete-mode running totals (the no-watermark dashboard aggregate)
    "s11_running_totals" -> (Streaming.runningTotalsBatch _),
    "s12_timer_sessions" -> ((s, d) => Streaming.timerSessionsBatch(s, d)),
    "s13_trending_topk" -> (Streaming.trendingTopKBatch _),
    // write-audit-publish staging gate for derived tables
    "f09_write_audit_publish" -> (Sources.writeAuditPublish _),
    // small-file compaction job: fragment 64-way, rewrite to size-derived
    // file count, report content-derived facts from the compacted re-read
    "f10_compaction" -> (Sources.compaction _),
    "f11_partition_overwrite" -> (Sources.partitionOverwrite _),
    "f12_corrupt_records" -> (Sources.corruptRecords _),
    // batch keyed MERGE (Type-1 upsert/delete) through the WAP gate
    "f13_merge_upsert" -> (Sources.mergeUpsert _),
    // snapshot AS-OF read over retained WAP versions (time travel)
    "f14_time_travel" -> (Sources.timeTravel _),
    // change-data-feed read between two retained versions (CDC diff)
    "f15_change_feed" -> (Sources.changeFeed _),
    // version retention / vacuum: purge old versions, prove reads intact
    "f16_version_retention" -> (Sources.versionRetention _),
    // manifest-stats file skipping: per-file min/max prunes a data-column scan
    "f17_stats_pruned_scan" -> (Sources.statsPrunedScan _),
    // dynamic partition pruning: a dim filter prunes fact dirs at runtime
    "f18_dynamic_pruning" -> (Sources.dynamicPruning _),
    // atomic two-table snapshot publish: all tables promote or none do
    "f19_atomic_publish" -> (Sources.atomicPublish _),
    // runtime bloom-filter join: dim keys prune the fact pre-shuffle
    "f20_runtime_bloom_join" -> (Sources.runtimeBloomJoin _),
    "f21_optimistic_publish" -> (Sources.optimisticPublish _),
    "f22_atomic_cas_publish" -> (Sources.atomicCasFeed _),
    // ordered conversion funnel (view → click-after → purchase-after)
    "e32_funnel" -> (Relational.funnel _),
    // time-weighted average per user (irregular-sampling TWAP)
    "e33_twap" -> (Relational.twap _),
    // edit-distance verification over the d02 near-dup pair relation
    "d45_edit_verify" -> ((s, d) => PairGraph.editVerify(s, d)),
    // delete-1-blocked fuzzy equi-join (exact recall at distance 1)
    "d58_fuzzy_join" -> (DedupOps.fuzzyJoin _),
    // recursive-delete-blocked fuzzy join at distance 2 (per-key decision row)
    "d58b_fuzzy_join2" -> (DedupOps.fuzzyJoin2 _),
    // deterministic distributed k-means over the embedding corpus
    "d59_kmeans" -> (EmbeddingOps.kmeans _),
    // cluster-scoped SemDeDup: d59 labels scope the τ-verify pair join
    "d60_cluster_semdedup" -> ((s, d) => EmbeddingOps.clusterSemdedup(s, d)),
    // k-means label relation published through the WAP gate (manifest)
    "d61_label_store_publish" -> (LabelStore.publish _),
    // lexical (d20) × semantic (d55) contamination union per eval doc
    "d62_contamination_ensemble" -> (EmbeddingOps.contaminationEnsemble _),
    // exact-k uniform draw per kmeans cluster (store-fed labels)
    "d63_cluster_sample" -> ((s, d) => EmbeddingOps.clusterSample(s, d)),
    // cluster × language domain-mixture profile (store-fed labels)
    "d64_cluster_profile" -> (EmbeddingOps.clusterProfile _),
    // BPE merge-rule training over the word-frequency table (3 rounds)
    "d65_bpe_merges" -> (QualityOps.bpeMerges _),
    "d76_unigram_lm" -> (QualityOps.unigramLm _),
    "d77_unigram_encode" -> (QualityOps.unigramEncode _),
    "d81_wordpiece_encode" -> (QualityOps.wordpieceEncode _),
    "d83_tokenizer_profile" -> (QualityOps.tokenizerProfile _),
    // tokenizer-model store publisher: train all three families once,
    // WAP-publish wf/merges/costs/vocab (the d74 discipline)
    "d85_tokenizer_store" -> (TokenizerStore.publish _),
    // BPE encode: apply the learned merges, per-doc token counts
    "d68_bpe_encode" -> (QualityOps.bpeEncode _),
    // threshold sweep: model-vs-rule PR curve at 11 logit cutoffs
    "d71_threshold_sweep" -> (QualityOps.thresholdSweep _),
    // hybrid retrieval: BM25 ∪ cosine top-k fused by reciprocal rank
    "d66_hybrid_rrf" -> ((s, d) => EmbeddingOps.hybridRrf(s, d)),
    "d66b_hybrid_rrf_multi" -> ((s, d) => EmbeddingOps.hybridRrfMulti(s, d)),
    // source-conditional boilerplate removal (CCNet rule): drop paras
    // frequent within their source, every occurrence incl. the first
    "d67_boilerplate_removal" -> (QualityOps.boilerplateRemoval _),
    // verified-pair relation published through the WAP gate (manifest)
    "d46_pair_store_publish" -> (PairStore.publish _),
    // d20 contamination fed from the published pair store (read side)
    "d47_store_contamination" -> (PairStore.storeContamination _),
    // contrastive (anchor, positive, negatives) triples off the store
    "d69_contrastive_pairs" -> (PairStore.contrastivePairs _),
    // LSH banding sweep: expected recall per (b, r) against the store
    "d70_lsh_tuning" -> (PairStore.lshTuning _),
    // leakage-free split: the d17 rule at near-dup-cluster grain
    "d72_leakage_free_split" -> (PairStore.leakageFreeSplit _),
    // d45 edit verify fed from the published pair store (read side)
    "d48_store_edit_verify" -> (PairStore.storeEditVerify _),
    // d19 cluster refresh fed from the published pair store (read side)
    "d49_store_clusters" -> (PairStore.storeClusters _),
    // CCNet-style perplexity terciles via the p04 distributed-rank kernel
    "d50_perplexity_buckets" -> ((s, d) => QualityOps.perplexityBuckets(s, d)),
    // per-document novel-shingle fraction (marginal-contribution score)
    "d51_gram_novelty" -> (QualityOps.gramNovelty _),
    // batch gap-based sessionization (gaps-and-islands over events)
    "e34_sessionize" -> ((s, d) => Relational.sessionize(s, d)),
    "e36_interval_merge" -> (Relational.intervalMerge _),
    "e37_cooccurrence" -> (Relational.cooccurrence _),
    "e38_ohlc_bars" -> (Relational.ohlcBars _),
    "e39_rolling_median" -> (Relational.rollingMedian _),
    "e40_conversion_latency" -> (Relational.conversionLatency _),
    "e41_usage_apportion" -> (Relational.usageApportion _),
    // C4/Gopher-style composite filter with per-rule flags + bitmask
    "d52_quality_ensemble" -> (QualityOps.qualityEnsemble _),
    "d53_cluster_keep_best" -> (DedupOps.clusterKeepBest _),
    "d54_filter_agreement" -> (QualityOps.filterAgreement _),
    // cohort retention matrix (per-user anchor → (cohort, week k) grid)
    "e35_retention" -> (Relational.retention _),
    // directed transitive closure with min hop count (BFS, no recursive CTE)
    "e45_transitive_closure" -> (TransitiveClosure.bomReachability _),
    // path-doubling min-hop closure (the deep-chain swap for e45's BFS)
    "e45b_deep_closure" -> (TransitiveClosure.deepChainReachability _),
    // weighted min-cost closure (the e45b kernel with d0 = w)
    "e45c_weighted_closure" -> (TransitiveClosure.weightedBomCost _),
  )

  // DuckDB-side canonicalization mirrors (see Canon.scala):
  //   dsum(x)  → CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE)
  //   davg(x)  → dsum(x) / COUNT(x)
  //   round2/4 → CAST(CAST(x AS DECIMAL(30,{2|4})) AS DOUBLE)
  //   tsStr    → strftime(ts, '%Y-%m-%d %H:%M:%S')
  private def dsum(x: String) = s"CAST(SUM(CAST(($x) AS DECIMAL(30,6))) AS DOUBLE)"
  private def davg(x: String) = s"${dsum(x)} / COUNT($x)"

  private def textCtes(file: String) =
    s"""toks AS (
       |  SELECT unnest(regexp_extract_all(lower(content), '[a-z][a-z'']*')) AS word
       |  FROM read_text('${RefQueries.RefDir}/$file')),
       |stop AS (
       |  SELECT DISTINCT w AS word FROM (
       |    SELECT unnest(string_split_regex(trim(content), '\\s+')) AS w
       |    FROM read_text('${RefQueries.StopWordsPath}')) WHERE w <> '')""".stripMargin

  private def wordCountSql(file: String) =
    s"""WITH ${textCtes(file)}
       |SELECT word, count(*) AS cnt FROM toks
       |WHERE word NOT IN (SELECT word FROM stop)
       |GROUP BY word ORDER BY cnt ASC, word DESC""".stripMargin

  private def topkSql(file: String, k: Int) =
    s"""WITH ${textCtes(file)}
       |SELECT word, count(*) AS cnt FROM toks
       |WHERE word NOT IN (SELECT word FROM stop)
       |GROUP BY word ORDER BY cnt DESC, word DESC LIMIT $k""".stripMargin

  private def invertedIndexSql(file: String) =
    s"""WITH f AS (SELECT string_split(content, chr(10)) AS ls
       |           FROM read_text('${RefQueries.RefDir}/$file')),
       |lines AS (SELECT unnest(range(len(ls))) AS line, unnest(ls) AS text FROM f),
       |toks AS (SELECT line, unnest(regexp_extract_all(lower(text), '[a-z][a-z'']*')) AS word
       |         FROM lines),
       |stop AS (
       |  SELECT DISTINCT w AS word FROM (
       |    SELECT unnest(string_split_regex(trim(content), '\\s+')) AS w
       |    FROM read_text('${RefQueries.StopWordsPath}')) WHERE w <> '')
       |SELECT word,
       |  array_to_string(list_sort(list_distinct(list(line))), ',') AS postings,
       |  count(DISTINCT line) AS n_lines
       |FROM toks WHERE word NOT IN (SELECT word FROM stop)
       |GROUP BY word ORDER BY word""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q_wordcount" -> wordCountSql("Dracula.txt"),
    "q_topk" -> topkSql("Dracula.txt", 50),
    "q_inverted_index" -> invertedIndexSql("Dracula.txt"),
    "q_wordcount_republic" -> wordCountSql("File2ForLab3.txt"),
    "q_topk_republic" -> topkSql("File2ForLab3.txt", 100),
    "q_inverted_index_republic" -> invertedIndexSql("File2ForLab3.txt"),
    "e01_scan_filter" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  l_quantity, l_extendedprice, strftime(l_shipdate, '%Y-%m-%d') AS ship_date
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "e02_broadcast_join" ->
      """SELECT o.o_orderkey, c.c_name, n.n_name, o.o_totalprice
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |ORDER BY o.o_orderkey""".stripMargin,
    "e03_shuffle_join_agg" ->
      s"""SELECT o.o_orderpriority, count(*) AS n_items,
         |  ${dsum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
         |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin,
    "e04_left_outer_join" ->
      s"""SELECT c.c_custkey, c.c_name, count(o.o_orderkey) AS n_big_orders,
         |  ${dsum("coalesce(o.o_totalprice, 0.0)")} AS big_total
         |FROM customer c
         |LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000.0) o
         |  ON c.c_custkey = o.o_custkey
         |GROUP BY c.c_custkey, c.c_name ORDER BY c.c_custkey""".stripMargin,
    "e04b_right_outer_join" ->
      // same contract as e04 — the preserved side is just written on the
      // right; one SQL checks the mirror-image join shape.
      s"""SELECT c.c_custkey, c.c_name, count(o.o_orderkey) AS n_big_orders,
         |  ${dsum("coalesce(o.o_totalprice, 0.0)")} AS big_total
         |FROM (SELECT * FROM orders WHERE o_totalprice > 300000.0) o
         |RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
         |GROUP BY c.c_custkey, c.c_name ORDER BY c.c_custkey""".stripMargin,
    "e05_full_outer_join" ->
      """SELECT coalesce(f.k, p.k) AS k,
        |  coalesce(f.n_f, 0) AS n_f, coalesce(p.n_o, 0) AS n_o
        |FROM (SELECT o_custkey AS k, count(*) AS n_f FROM orders
        |      WHERE o_orderstatus = 'F' GROUP BY o_custkey) f
        |FULL OUTER JOIN (SELECT o_custkey AS k, count(*) AS n_o FROM orders
        |      WHERE o_orderstatus = 'O' GROUP BY o_custkey) p
        |  ON f.k = p.k
        |ORDER BY k""".stripMargin,
    "e06_semi_anti_join" ->
      // NOT EXISTS (not NOT IN): mirrors left-anti-join semantics exactly
      // even if o_custkey were ever NULL.
      """SELECT c_custkey, 'semi' AS op FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 350000.0)
        |UNION ALL
        |SELECT c_custkey, 'anti' AS op FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 350000.0)
        |ORDER BY op, c_custkey""".stripMargin,
    "e07_range_join" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT a.user_id, count(*) AS n_pairs, count(DISTINCT a.event_id) AS n_heads
        |FROM e a JOIN e b ON a.user_id = b.user_id
        |  AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin,
    "e08_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsum("l_quantity")} AS sum_qty,
         |  ${dsum("l_extendedprice")} AS sum_base_price,
         |  ${dsum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |  ${dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
         |  ${davg("l_quantity")} AS avg_qty,
         |  ${davg("l_extendedprice")} AS avg_price,
         |  ${davg("l_discount")} AS avg_disc,
         |  min(l_quantity) AS min_qty,
         |  max(l_extendedprice) AS max_price,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1999-12-01'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "e09_distinct_agg" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "e09c_percentiles" ->
      // price_median can land between two doubles (interpolated midpoint)
      // — round4 guards the representation; the quantity quartiles are
      // exactly representable (k or k.5) either way.
      s"""SELECT l_returnflag,
         |  quantile_cont(l_quantity, 0.25) AS q25,
         |  quantile_cont(l_quantity, 0.5) AS median,
         |  quantile_cont(l_quantity, 0.75) AS q75,
         |  ${round4("quantile_cont(l_extendedprice, 0.5)")} AS price_median
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "e10_rollup_agg" ->
      s"""SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
         |  count(*) AS n_orders, ${dsum("o_totalprice")} AS revenue
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY ROLLUP(n_name, CAST(year(o_orderdate) AS BIGINT))
         |ORDER BY n_name NULLS FIRST, yr NULLS FIRST""".stripMargin,
    "e11_cube_agg" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
         |  ${dsum("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY CUBE(l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "e11b_grouping_sets" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(year(l_shipdate) AS BIGINT) AS ship_yr,
         |  count(*) AS n_rows, ${dsum("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
         |                        (CAST(year(l_shipdate) AS BIGINT)))
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST,
         |  ship_yr NULLS FIRST""".stripMargin,
    "e12_rank_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk, drnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER w AS BIGINT) AS rn,
        |    CAST(rank() OVER w AS BIGINT) AS rnk,
        |    CAST(dense_rank() OVER w AS BIGINT) AS drnk
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey))
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "e12b_distribution_window" ->
      s"""SELECT o_custkey, o_orderkey, o_totalprice,
         |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
         |  ${round4("percent_rank() OVER w")} AS pct_rank,
         |  ${round4("cume_dist() OVER w")} AS cume
         |FROM orders
         |WINDOW w AS (PARTITION BY o_custkey
         |             ORDER BY o_totalprice DESC, o_orderkey)
         |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "e13_analytic_window" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  o_totalprice,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "e13b_range_frame" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
        |       AS BIGINT) AS day_num,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) OVER w AS DOUBLE) AS rev_30d,
        |  count(*) OVER w AS n_30d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
        |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "e13c_value_windows" ->
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_totalprice) OVER w AS first_price,
        |  last_value(o_totalprice) OVER w AS last_price,
        |  nth_value(o_totalprice, 2) OVER w AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "e24_date_spine" ->
      s"""WITH spine AS (
         |  SELECT CAST(unnest(generate_series(DATE '1995-01-01',
         |    DATE '2001-08-01', INTERVAL 1 MONTH)) AS DATE) AS month_start),
         |counts AS (
         |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
         |    count(*) AS n_orders, ${dsum("o_totalprice")} AS revenue
         |  FROM orders GROUP BY 1)
         |SELECT strftime(spine.month_start, '%Y-%m-%d') AS month_start,
         |  coalesce(n_orders, 0) AS n_orders,
         |  coalesce(revenue, 0.0) AS revenue
         |FROM spine LEFT JOIN counts USING (month_start)
         |ORDER BY month_start""".stripMargin,
    "e25_map_funcs" ->
      // DuckDB mirrors the map's scalar projections with ordered list
      // aggregates — `list(x ORDER BY st)` pins the same entry order the
      // Spark side gets from sort_array before map_from_entries.
      """WITH c AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |             o_orderstatus AS st, count(*) AS cnt
        |           FROM orders GROUP BY 1, 2)
        |SELECT yr, CAST(count(*) AS BIGINT) AS n_statuses,
        |  array_to_string(list(st ORDER BY st), ',') AS statuses,
        |  array_to_string(list(cnt ORDER BY st), ',') AS counts,
        |  coalesce(max(CASE WHEN st = 'F' THEN cnt END), 0) AS n_f
        |FROM c GROUP BY yr ORDER BY yr""".stripMargin,
    "e14_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "e15_set_ops" ->
      """SELECT k, op FROM (
        |  SELECT k, 'intersect' AS op FROM (
        |    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        |    INTERSECT
        |    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O')
        |  UNION ALL
        |  SELECT k, 'except' AS op FROM (
        |    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        |    EXCEPT
        |    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O')
        |  UNION ALL
        |  SELECT DISTINCT o_custkey AS k, 'union' AS op FROM orders
        |  WHERE o_orderstatus IN ('F', 'O'))
        |ORDER BY op, k""".stripMargin,
    "e15d_bag_set_ops" ->
      """WITH fa AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
        |     oa AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'),
        |     ia AS (SELECT k FROM fa INTERSECT ALL SELECT k FROM oa),
        |     ea AS (SELECT k FROM fa EXCEPT ALL SELECT k FROM oa)
        |SELECT op, k, n FROM (
        |  SELECT 'intersect_all' AS op, k, CAST(count(*) AS BIGINT) AS n
        |  FROM ia GROUP BY k
        |  UNION ALL
        |  SELECT 'except_all' AS op, k, CAST(count(*) AS BIGINT) AS n
        |  FROM ea GROUP BY k)
        |ORDER BY op, k""".stripMargin,
    "e15b_pivot" -> {
      def cell(v: String) =
        s"""  count(*) FILTER (o_orderstatus = '$v') AS ${v}_n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6)))
           |       FILTER (o_orderstatus = '$v') AS DOUBLE) AS ${v}_rev""".stripMargin
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
         |${Seq("F", "O", "P").map(cell).mkString(",\n")}
         |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin
    },
    "e15c_unpivot" ->
      // portable long-form equivalent of UNPIVOT
      """SELECT p_partkey, metric, value FROM (
        |  SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'retail_price', p_retailprice FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'name_len', CAST(length(p_name) AS DOUBLE) FROM part)
        |ORDER BY p_partkey, metric""".stripMargin,
    "e16_scalar_funcs" ->
      """SELECT p_partkey,
        |  upper(substr(p_name, 1, 8)) AS name_prefix,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  p_name LIKE '%steel%' AS is_steel,
        |  regexp_extract(p_name, '[aeiou]+') AS first_vowels,
        |  CAST(CAST(p_retailprice * 1.1 AS DECIMAL(30,2)) AS DOUBLE) AS bumped_price,
        |  CAST(abs(p_size - 25) AS BIGINT) AS size_dist,
        |  CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_name_tokens,
        |  array_to_string(list_sort(list_distinct(string_split(p_name, ' ')))[1:3], ',')
        |    AS first_tokens
        |FROM part ORDER BY p_partkey""".stripMargin,
    "e17_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(month(o_orderdate) AS BIGINT) AS mth,
        |  CAST(dayofmonth(o_orderdate) AS BIGINT) AS dom,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2001-01-01') AS BIGINT)
        |    AS days_to_2001,
        |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "e18_json_events" ->
      """SELECT event_id, event_type,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  CAST(year(CAST(ts AS TIMESTAMP)) AS BIGINT) AS yr,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H') AS event_hour,
        |  value
        |FROM events WHERE event_type IN ('error', 'purchase')
        |ORDER BY event_id""".stripMargin,
    "e18b_try_funcs" ->
      s"""SELECT p_partkey,
         |  CASE WHEN p_size - p_size = 0 THEN NULL
         |       ELSE p_retailprice / (p_size - p_size) END AS div_zero,
         |  p_retailprice / p_size AS price_per_size,
         |  TRY_CAST(p_name AS INT) AS name_as_int,
         |  string_split(p_name, ' ')[100] AS tok100,
         |  CAST(p_size + 1 AS BIGINT) AS size_plus
         |FROM part ORDER BY p_partkey""".stripMargin,
    "e19_region_supplier" ->
      // min() mirrors Spark's any_value: r_regionkey is functionally
      // dependent on r_name, so every choice is the same value.
      s"""SELECT r_name, n_name, CAST(min(r_regionkey) AS BIGINT) AS region_key,
         |  count(*) AS n_suppliers, ${dsum("s_acctbal")} AS total_acctbal
         |FROM supplier
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "e20_asof_join" -> asofSql,
    "e42_nearest_event" ->
      // candidates = per-(user, ts) deduped purchases (max event_id —
      // the e20 dedup mirrored); argmin by (µs |Δt|, back-before-fwd,
      // ts) — LEFT join keeps purchase-less errors with NULL match.
      """WITH p AS (SELECT user_id, ts, max(event_id) AS p_id FROM events
        |  WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |err AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS e_ts
        |  FROM events WHERE event_type = 'error'),
        |cand AS (SELECT e.event_id, e.user_id, e.e_ts, p.p_id,
        |    abs(epoch_us(e.e_ts) - epoch_us(CAST(p.ts AS TIMESTAMP)))
        |      AS adelta,
        |    CASE WHEN CAST(p.ts AS TIMESTAMP) <= e.e_ts THEN 0 ELSE 1 END
        |      AS dirp,
        |    CAST(p.ts AS TIMESTAMP) AS p_ts
        |  FROM err e JOIN p ON e.user_id = p.user_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_id
        |    ORDER BY adelta, dirp, p_ts) AS rn FROM cand)
        |SELECT err.event_id, err.user_id,
        |  strftime(err.e_ts, '%Y-%m-%d %H:%M:%S') AS err_ts,
        |  r.p_id AS nearest_id,
        |  CASE WHEN r.p_id IS NULL THEN NULL
        |       WHEN r.dirp = 0 THEN 'back' ELSE 'fwd' END AS direction,
        |  CAST(r.adelta AS BIGINT) AS abs_lag_us
        |FROM err LEFT JOIN r ON err.event_id = r.event_id AND r.rn = 1
        |ORDER BY err.event_id""".stripMargin,
    // the two-pass bucketed plan has the identical output contract, so
    // the same native-ASOF oracle applies verbatim
    "e20b_asof_bucketed" -> asofSql,
    "t01_typed_topk" -> topkSql("Dracula.txt", 50),
    "t03_typed_cogroup" ->
      // the typed cogroup's imperative fold IS a LEFT JOIN + GROUP BY;
      // prices decimal-cast pre-sum (dsum discipline), one →double cast
      """SELECT c_custkey, c_name, count(o_custkey) AS n_orders,
        |  CAST(COALESCE(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0)
        |       AS DOUBLE) AS sum_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY c_custkey""".stripMargin,
    "t05_geomean_udaf" ->
      // exp(mean of DECIMAL(30,6)-canonicalized ln terms) — the d34 ln
      // discipline; output round4-contracted (libm exp is 1-ulp).
      s"""SELECT l_returnflag, count(*) AS n,
         |  ${round4("""exp(CAST(SUM(CAST(ln(l_extendedprice)
         |    AS DECIMAL(30,6))) AS DOUBLE) / count(*))""")} AS geomean
         |FROM lineitem GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,
    "t04_secondary_sort" ->
      // the sorted-run fold IS the lag-window computation: max gap and
      // strictly-increasing value steps over consecutive ordered pairs,
      // first/last type by rank; all integer counts/µs diffs.
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type, value
        |  FROM events),
        |l AS (SELECT *,
        |    lag(ts_us) OVER w AS pts, lag(value) OVER w AS pv,
        |    row_number() OVER w AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS cnt
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        |SELECT user_id, count(*) AS n_events,
        |  CAST(COALESCE(max(ts_us - pts), 0) AS BIGINT) AS max_gap_us,
        |  CAST(COALESCE(sum(CASE WHEN value > pv THEN 1 ELSE 0 END), 0)
        |       AS BIGINT) AS n_incr,
        |  max(CASE WHEN rn = 1 THEN event_type END) AS first_type,
        |  max(CASE WHEN rn = cnt THEN event_type END) AS last_type
        |FROM l GROUP BY user_id ORDER BY user_id""".stripMargin,
    "t02_phoenix_wordcount" -> wordCountSql("Dracula.txt"),
    "e21_salted_agg" ->
      s"""SELECT user_id, count(*) AS n_events, ${dsum("value")} AS sum_value,
         |  max(value) AS max_value
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "s05_stateful_ordinal" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT user_id, event_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |       AS BIGINT) AS ordinal
        |FROM e ORDER BY user_id, ordinal""".stripMargin,
    "d01_exact_dedup" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
        |  CAST(length(norm) AS BIGINT) AS norm_len
        |FROM (SELECT doc_id,
        |        lower(trim(regexp_replace(nfc_normalize(text), '\s+', ' ', 'g'))) AS norm
        |      FROM documents)
        |GROUP BY norm ORDER BY keep_id""".stripMargin,
    "d02_ngram_jaccard" ->
      s"""WITH $pairsCtes
         |SELECT i, j, jac FROM pairs ORDER BY i, j""".stripMargin,
    "s17_pair_maintenance" ->
      // d02's one-shot derivation over the WHOLE corpus: three-batch
      // incremental maintenance must converge to exactly the batch
      // publish (set-equality precondition spec-pinned per sf — the
      // union-so-far's df cap can only be LOOSER than the final one)
      s"""WITH $pairsCtes
         |SELECT i, j, jac FROM pairs ORDER BY i, j""".stripMargin,
    "s18_label_maintenance" -> {
      // the d59 Lloyd chain TRAINED on the reference slice (the frozen
      // centroids), final assignment over every vector — incremental
      // maintenance IS the frozen-centroid assignment, so equality is
      // structural, not a fixture accident
      val (ctes, fin) = kmeansCtesOver(Some("vec_id % 10 < 8"))
      s"""WITH $ctes
         |SELECT vec_id, cid, CAST(dist2 AS DOUBLE) AS dist2
         |FROM $fin ORDER BY vec_id""".stripMargin
    },
    "d75_substring_dedup" ->
      // the k-gram-cover semantics mirrored verbatim: position p is
      // covered iff its 20-gram occurs ≥ 2 times corpus-wide; spans =
      // maximal covered runs via the p − row_number island trick.
      // substr is character-based in BOTH engines, so the gram grouping
      // keys are byte-identical strings.
      """WITH base AS (SELECT doc_id, text FROM documents
        |              WHERE length(text) >= 20),
        |pts AS (SELECT doc_id, text,
        |          unnest(generate_series(1, length(text) - 19)) AS p
        |        FROM base),
        |pos AS (SELECT doc_id, CAST(p AS BIGINT) AS p,
        |          substr(text, CAST(p AS INT), 20) AS g FROM pts),
        |dup AS (SELECT g FROM pos GROUP BY g HAVING count(*) >= 2),
        |cov AS (SELECT doc_id, p FROM pos
        |        WHERE g IN (SELECT g FROM dup)),
        |isl AS (SELECT doc_id, p, p - row_number() OVER
        |          (PARTITION BY doc_id ORDER BY p) AS grp FROM cov)
        |SELECT doc_id, min(p) AS span_start,
        |  max(p) + 19 AS span_end,
        |  count(*) + 19 AS span_len
        |FROM isl GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin,
    "s19_index_maintenance" ->
      // the per-vector STORE-SHAPE invariant: after the reference batch
      // and both deltas, the index holds exactly one cell row and m = 4
      // code words for EVERY vector — an unadmitted delta vector is a
      // missing row, a double admission a dup. The cid/code values are
      // engine artifacts no SQL oracle could reproduce (the d73/d74
      // footnote discipline); their deep equality (final store ≡
      // frozen-model assignment over the whole corpus; deltas never
      // move reference rows) is spec-pinned.
      """SELECT vec_id, CAST(1 AS BIGINT) AS n_cell_rows,
        |  CAST(4 AS BIGINT) AS n_code_words
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "s22_asof_disordered" ->
      // s21's oracle VERBATIM: the disorder-tolerant variant must give
      // the ordered answer back from a deliberately disordered replay —
      // that identity is the operator's whole claim
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id
        |           FROM events WHERE event_type = 'error'),
        |p AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value
        |      FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT e.event_id AS err_id, p.event_id AS purchase_id,
        |        p.value AS purchase_value,
        |        row_number() OVER (PARTITION BY e.event_id
        |          ORDER BY p.ts DESC, p.event_id DESC) AS rn
        |      FROM e JOIN p ON p.user_id = e.user_id AND p.ts <= e.ts)
        |SELECT e.event_id AS err_id, e.user_id, c.purchase_id,
        |  c.purchase_value
        |FROM e LEFT JOIN (SELECT * FROM c WHERE rn = 1) c
        |  ON c.err_id = e.event_id
        |ORDER BY err_id""".stripMargin,
    "s21_asof_enrich" ->
      // per error, the argmax purchase by (p_ts, p_event_id) among the
      // same user's purchases at-or-before the error's ts (µs grain —
      // CAST truncates DuckDB's ns to Spark's µs), left-complete for
      // purchase-less errors; purchase values copy through
      // unaggregated, so the doubles are engine-identical
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id
        |           FROM events WHERE event_type = 'error'),
        |p AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value
        |      FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT e.event_id AS err_id, p.event_id AS purchase_id,
        |        p.value AS purchase_value,
        |        row_number() OVER (PARTITION BY e.event_id
        |          ORDER BY p.ts DESC, p.event_id DESC) AS rn
        |      FROM e JOIN p ON p.user_id = e.user_id AND p.ts <= e.ts)
        |SELECT e.event_id AS err_id, e.user_id, c.purchase_id,
        |  c.purchase_value
        |FROM e LEFT JOIN (SELECT * FROM c WHERE rn = 1) c
        |  ON c.err_id = e.event_id
        |ORDER BY err_id""".stripMargin,
    "s20_cdc_replication" ->
      // the replica after tailing the 3-version s16 ladder's change
      // feed must equal the source's CURRENT version row-for-row —
      // derived directly from `customer`: v2 = snapshot merged with the
      // f13 feed (bucket-2 +100 updates, bucket-5 deletes, +1000000
      // bucket-8 inserts), v3 = v2 minus the bucket-7 deletes. Applying
      // feeds ≡ the direct derivation is exactly the CDC inverse
      // property f15 pins; balances copy through unaggregated, so the
      // doubles are engine-identical.
      """WITH t AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |u AS (SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal
        |      FROM customer WHERE c_custkey % 10 = 2
        |      UNION ALL
        |      SELECT c_custkey + 1000000,
        |        'New#' || CAST(c_custkey AS VARCHAR),
        |        CAST(c_custkey AS DOUBLE)
        |      FROM customer WHERE c_custkey % 10 = 8),
        |v2 AS (
        |  SELECT COALESCE(u.c_custkey, t.c_custkey) AS c_custkey,
        |    CASE WHEN u.c_custkey IS NOT NULL THEN u.c_name
        |         ELSE t.c_name END AS c_name,
        |    CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal
        |         ELSE t.c_acctbal END AS c_acctbal
        |  FROM t FULL OUTER JOIN u ON t.c_custkey = u.c_custkey
        |  WHERE COALESCE(u.c_custkey, t.c_custkey) NOT IN
        |    (SELECT c_custkey FROM customer WHERE c_custkey % 10 = 5))
        |SELECT c_custkey, c_name, c_acctbal FROM v2
        |WHERE c_custkey % 10 <> 7 ORDER BY c_custkey""".stripMargin,
    "d03_minhash_lsh" ->
      // Same oracle as d02: the banded-MinHash candidates are verified
      // with EXACT Jaccard before emission, so the output contract is
      // identical to the exact plan whenever every ≥0.8 pair survives
      // banding — P[miss] ≈ 2e-4 per pair at the 0.8 boundary under the
      // fixed splitmix64 hash family, and LlmOpsSpec pins LSH ≡ exact on
      // this corpus (deterministic: no RNG state anywhere).
      s"""WITH $pairsCtes
         |SELECT i, j, jac FROM pairs ORDER BY i, j""".stripMargin,
    "d04_cosine_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT vec_id, ${round4(cosSql("v", "qv"))} AS sim
         |FROM e, q ORDER BY sim DESC, vec_id LIMIT 20""".stripMargin,
    "d05_embed_neardup" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT a.vec_id AS i, b.vec_id AS j, CAST(a.label AS BIGINT) AS label,
         |  ${round4(cosSql("a.v", "b.v"))} AS sim
         |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         |ORDER BY sim DESC, i, j LIMIT 20""".stripMargin,
    "d06b_ivf_ann" ->
      // Global brute-force NN as the oracle: IVF with nprobe=1 attains
      // exact recall on this corpus (each query's true NN shares its
      // cell — deterministic: seeded Lloyd centroids, no RNG), and ties
      // in the rounded sim break by nid exactly as the window does.
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         |s AS (SELECT qid, e.vec_id AS nid,
         |        ${round4(cosSql("qv", "v"))} AS sim
         |      FROM q JOIN e ON e.vec_id <> qid),
         |r AS (SELECT *, row_number() OVER
         |        (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM s)
         |SELECT qid, nid, sim FROM r WHERE rn = 1 ORDER BY qid""".stripMargin,
    "d73_ivfpq_ann" ->
      // d06b's global brute-force NN oracle verbatim: the exact re-rank
      // over the ADC shortlist returns the true NN because every query's
      // NN survives both the cell probe and the PQ cut on this corpus —
      // the fixture property LlmOpsSpec verifies at every available sf
      // (the d03 banded-LSH + exact-verify precedent). Cell ids and code
      // words are engine artifacts the oracle never sees.
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         |s AS (SELECT qid, e.vec_id AS nid,
         |        ${round4(cosSql("qv", "v"))} AS sim
         |      FROM q JOIN e ON e.vec_id <> qid),
         |r AS (SELECT *, row_number() OVER
         |        (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM s)
         |SELECT qid, nid, sim FROM r WHERE rn = 1 ORDER BY qid""".stripMargin,
    "d86_batched_ann" ->
      // per-query brute-force top-3 over the corpus (the d73 oracle at
      // batch grain): exact because all cells are probed (the d78
      // IDSelector mode — this fixture's near-uniform geometry defeats
      // any fixed small nprobe) and every true top-3 neighbor survives
      // its own list's per-cell ADC cut at 192 (measured max rank 168;
      // LlmOpsSpec pins bound + differential at every sf)
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 25 = 0),
         |s AS (SELECT qid, e.vec_id AS nid,
         |        ${round4(cosSql("qv", "v"))} AS sim
         |      FROM q JOIN e ON e.vec_id <> qid),
         |r AS (SELECT *, row_number() OVER
         |        (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM s)
         |SELECT qid, CAST(rn AS BIGINT) AS rnk, nid, sim FROM r
         |WHERE rn <= 3 ORDER BY qid, rnk""".stripMargin,
    "d78_filtered_ann" ->
      // brute force over the FILTERED corpus: exact because the true
      // filtered NN survives its own inverted list's per-cell ADC cut
      // (all cells probed — IDSelector mode; LlmOpsSpec pins the
      // precondition and the differential per sf)
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         |s AS (SELECT qid, e.vec_id AS nid,
         |        ${round4(cosSql("qv", "v"))} AS sim
         |      FROM q JOIN e ON e.vec_id <> qid AND e.label % 2 = 0),
         |r AS (SELECT *, row_number() OVER
         |        (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM s)
         |SELECT qid, nid, sim FROM r WHERE rn = 1 ORDER BY qid""".stripMargin,
    "d79_ann_delete" ->
      // brute force excluding the tombstoned ids: the deleted entries'
      // cells rows are DV-tombstoned so they can never be candidates,
      // and each query's post-delete NN stays inside its top-2 cells'
      // per-list cuts on this corpus (LlmOpsSpec pins both halves)
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         |s AS (SELECT qid, e.vec_id AS nid,
         |        ${round4(cosSql("qv", "v"))} AS sim
         |      FROM q JOIN e ON e.vec_id <> qid AND e.vec_id % 7 <> 3),
         |r AS (SELECT *, row_number() OVER
         |        (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM s)
         |SELECT qid, nid, sim FROM r WHERE rn = 1 ORDER BY qid""".stripMargin,
    "d80_knn_graph" ->
      // the block key (label) makes the graph semantics exact and
      // SQL-expressible — the per-vertex window reproduces verbatim
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |p AS (SELECT a.vec_id AS i, b.vec_id AS j,
         |        ${round4(cosSql("a.v", "b.v"))} AS sim
         |      FROM e a JOIN e b
         |        ON a.label = b.label AND a.vec_id <> b.vec_id),
         |r AS (SELECT *, row_number() OVER
         |        (PARTITION BY i ORDER BY sim DESC, j) AS knn_rank FROM p)
         |SELECT i, knn_rank, j, sim FROM r WHERE knn_rank <= 3
         |ORDER BY i, knn_rank""".stripMargin,
    "d80b_knn_graph_cells" -> {
      // the production blocking key: the published d74 coarse cells.
      // The WHOLE cell chain is engine-deterministic (seed cells =
      // vec_id < 10, two cosine-argmax rounds with decimal-canonical
      // centroid means, final assignment), so the oracle unrolls it as
      // CTEs — the d59 Lloyd-mirror discipline — then runs the
      // within-cell window verbatim (the d80 pattern).
      val (ctes, fin) = ivfCellCtes
      s"""WITH $ctes,
         |g AS (SELECT e.vec_id, a.cid, e.v
         |      FROM e JOIN $fin a ON e.vec_id = a.vec_id),
         |p AS (SELECT a.vec_id AS i, b.vec_id AS j,
         |        ${round4(cosSql("a.v", "b.v"))} AS sim
         |      FROM g a JOIN g b ON a.cid = b.cid AND a.vec_id <> b.vec_id),
         |r AS (SELECT *, row_number() OVER
         |        (PARTITION BY i ORDER BY sim DESC, j) AS knn_rank FROM p)
         |SELECT i, knn_rank, j, sim FROM r WHERE knn_rank <= 3
         |ORDER BY i, knn_rank""".stripMargin
    },
    "d82_knn_graph_dedup" -> {
      // the d80b adjacency chain verbatim (engine-deterministic cells +
      // the within-cell window), edges kept at sim >= tau, transitive
      // closure via recursive CTE (the d19 oracle shape), then the d53
      // keep-best window per family — three existing oracle shapes
      // composed, exactly as the operator composes their kernels
      val (ctes, fin) = ivfCellCtes
      s"""WITH RECURSIVE $ctes,
         |g AS (SELECT e.vec_id, a.cid, e.v
         |      FROM e JOIN $fin a ON e.vec_id = a.vec_id),
         |p AS (SELECT a.vec_id AS i, b.vec_id AS j,
         |        ${round4(cosSql("a.v", "b.v"))} AS sim
         |      FROM g a JOIN g b ON a.cid = b.cid AND a.vec_id <> b.vec_id),
         |r AS (SELECT *, row_number() OVER
         |        (PARTITION BY i ORDER BY sim DESC, j) AS knn_rank FROM p),
         |eg AS (SELECT i, j FROM r WHERE knn_rank <= 3 AND sim >= 0.40
         |       UNION ALL
         |       SELECT j, i FROM r WHERE knn_rank <= 3 AND sim >= 0.40),
         |reach(src, node) AS (
         |  SELECT DISTINCT i, i FROM eg
         |  UNION
         |  SELECT rc.src, e2.j FROM reach rc JOIN eg e2 ON e2.i = rc.node),
         |lbl AS (SELECT src AS vec_id, min(node) AS family_id
         |        FROM reach GROUP BY src),
         |asg AS (SELECT e0.vec_id, coalesce(l.family_id, e0.vec_id) AS family_id
         |        FROM (SELECT vec_id FROM embeddings) e0
         |        LEFT JOIN lbl l USING (vec_id)),
         |sz AS (SELECT family_id, count(*) AS family_size FROM asg GROUP BY 1),
         |tq AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |q AS (SELECT doc_id AS vec_id,
         |        ${round4(s"ln(1.0 + len(t)) * ${round4("len(list_distinct(t))::DOUBLE / len(t)")}")}
         |          AS quality_score
         |      FROM tq),
         |jn AS (SELECT a.vec_id, a.family_id, sz.family_size, q.quality_score
         |       FROM asg a JOIN sz USING (family_id) JOIN q USING (vec_id)),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY family_id
         |        ORDER BY quality_score DESC, vec_id) AS rnk FROM jn),
         |kb AS (SELECT family_id, vec_id AS keep_id FROM rk WHERE rnk = 1)
         |SELECT jn.vec_id, jn.family_id, jn.family_size, jn.quality_score,
         |  kb.keep_id, jn.vec_id = kb.keep_id AS kept
         |FROM jn JOIN kb USING (family_id) ORDER BY jn.vec_id""".stripMargin
    },
    "d84_graph_dedup_delta" -> {
      // d82's chain restricted to the EXISTING corpus (vec_id%10<8),
      // then per NEW vector the argmax existing neighbor within its
      // own (full-corpus-deterministic) cell and the join/new decision
      val (ctes, fin) = ivfCellCtes
      s"""WITH RECURSIVE $ctes,
         |g AS (SELECT e.vec_id, a.cid, e.v
         |      FROM e JOIN $fin a ON e.vec_id = a.vec_id),
         |ex AS (SELECT * FROM g WHERE vec_id % 10 < 8),
         |nb AS (SELECT * FROM g WHERE vec_id % 10 >= 8),
         |p AS (SELECT a.vec_id AS i, b.vec_id AS j,
         |        ${round4(cosSql("a.v", "b.v"))} AS sim
         |      FROM ex a JOIN ex b ON a.cid = b.cid AND a.vec_id <> b.vec_id),
         |r AS (SELECT *, row_number() OVER
         |        (PARTITION BY i ORDER BY sim DESC, j) AS knn_rank FROM p),
         |eg AS (SELECT i, j FROM r WHERE knn_rank <= 3 AND sim >= 0.40
         |       UNION ALL
         |       SELECT j, i FROM r WHERE knn_rank <= 3 AND sim >= 0.40),
         |reach(src, node) AS (
         |  SELECT DISTINCT i, i FROM eg
         |  UNION
         |  SELECT rc.src, e2.j FROM reach rc JOIN eg e2 ON e2.i = rc.node),
         |lbl AS (SELECT src AS eid, min(node) AS fid
         |        FROM reach GROUP BY src),
         |fam AS (SELECT ex.vec_id AS eid, coalesce(l.fid, ex.vec_id) AS fid
         |        FROM ex LEFT JOIN lbl l ON l.eid = ex.vec_id),
         |cnd AS (SELECT nb.vec_id, ex.vec_id AS cand_id,
         |          ${round4(cosSql("nb.v", "ex.v"))} AS csim
         |        FROM nb JOIN ex ON ex.cid = nb.cid),
         |bst AS (SELECT vec_id, cand_id AS best_id, csim AS sim FROM (
         |          SELECT *, row_number() OVER (PARTITION BY vec_id
         |            ORDER BY csim DESC, cand_id) AS rn FROM cnd) WHERE rn = 1)
         |SELECT nb.vec_id,
         |  CASE WHEN b.sim >= 0.40 THEN 'join' ELSE 'new' END AS decision,
         |  CASE WHEN b.sim >= 0.40 THEN f.fid ELSE nb.vec_id END AS family_id,
         |  b.best_id, b.sim
         |FROM nb LEFT JOIN bst b ON b.vec_id = nb.vec_id
         |LEFT JOIN fam f ON f.eid = b.best_id
         |ORDER BY nb.vec_id""".stripMargin
    },
    "s23_index_deletes" ->
      // streaming ≡ batch: three streamed tombstone batches land the
      // store in exactly d79's post-delete state, so the oracle is
      // d79's brute force minus the tombstoned ids
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         |s AS (SELECT qid, e.vec_id AS nid,
         |        ${round4(cosSql("qv", "v"))} AS sim
         |      FROM q JOIN e ON e.vec_id <> qid AND e.vec_id % 7 <> 3),
         |r AS (SELECT *, row_number() OVER
         |        (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM s)
         |SELECT qid, nid, sim FROM r WHERE rn = 1 ORDER BY qid""".stripMargin,
    "s24_drift_monitor" ->
      // p05's PSI construction mirrored per monitored snapshot (s24 is
      // its streaming twin): reference bins from
      // the %4<2 slice's extrema, counts CLAMPED into the edge bins
      // (greatest/least keeps the integral div on non-negative
      // operands, where DuckDB // ≡ Spark div), add-one-smoothed
      // shares as IEEE divisions of exact integers, each ln
      // DECIMAL(30,6)-canonical before the product
      s"""WITH l AS (SELECT doc_id % 4 AS g,
         |        CAST(length(text) AS BIGINT) AS x FROM documents),
         |gr AS (SELECT min(x) AS lo, greatest(max(x) - min(x) + 1, 1) AS rng,
         |        count(*) AS t_ref FROM l WHERE g < 2),
         |rc AS (SELECT least(9, (x - gr.lo) * 10 // gr.rng) AS bucket,
         |        count(*) AS n_ref
         |      FROM l, gr WHERE g < 2 GROUP BY 1),
         |sp AS (SELECT unnest(range(0, 10)) AS bucket),
         |r AS (SELECT sp.bucket, CAST(coalesce(rc.n_ref, 0) AS BIGINT) AS n_ref
         |      FROM sp LEFT JOIN rc ON sp.bucket = rc.bucket),
         |oc AS (SELECT g - 1 AS batch_id,
         |        greatest(0, least(9, (x - gr.lo) * 10 // gr.rng)) AS bucket,
         |        count(*) AS n_obs
         |      FROM l, gr WHERE g >= 2 GROUP BY 1, 2),
         |ot AS (SELECT g - 1 AS batch_id, count(*) AS t_obs
         |      FROM l WHERE g >= 2 GROUP BY 1),
         |j AS (SELECT ot.batch_id, r.bucket, r.n_ref,
         |        CAST(coalesce(oc.n_obs, 0) AS BIGINT) AS n_obs,
         |        gr.t_ref, ot.t_obs
         |      FROM ot CROSS JOIN r CROSS JOIN gr
         |      LEFT JOIN oc ON oc.batch_id = ot.batch_id
         |        AND oc.bucket = r.bucket),
         |w AS (SELECT batch_id, bucket, n_ref, n_obs,
         |        CAST(n_ref + 1 AS DOUBLE) / CAST(t_ref + 10 AS DOUBLE) AS p,
         |        CAST(n_obs + 1 AS DOUBLE) / CAST(t_obs + 10 AS DOUBLE) AS q
         |      FROM j)
         |SELECT batch_id, bucket, n_ref, n_obs,
         |  ${round4("p")} AS share_ref, ${round4("q")} AS share_obs,
         |  ${round4("(p - q) * CAST(CAST(ln(p / q) AS DECIMAL(30,6)) AS DOUBLE)")}
         |    AS psi
         |FROM w ORDER BY batch_id, bucket""".stripMargin,
    "s26_family_maintenance" ->
      // the reference-slice d82 chain + two unrolled d84 admission
      // rounds — sequential store evolution, see s26Sql
      s26Sql,
    "s25_drift_multi" ->
      // s24's PSI construction at (feature, bin) grain: the same
      // frozen-reference bins / clamped counts / smoothed shares /
      // canonical-ln terms, PER monitored feature — the feature rows
      // mirror Streaming.DriftFeatures term for term (len ≡
      // length(text); words ≡ len(string_split(text, ' ')), the d64
      // token-count pair)
      s"""WITH f AS (SELECT doc_id % 4 AS g, 'len' AS feature,
         |        CAST(length(text) AS BIGINT) AS x FROM documents
         |      UNION ALL
         |      SELECT doc_id % 4, 'words',
         |        CAST(len(string_split(text, ' ')) AS BIGINT) FROM documents),
         |gr AS (SELECT feature, min(x) AS lo,
         |        greatest(max(x) - min(x) + 1, 1) AS rng, count(*) AS t_ref
         |      FROM f WHERE g < 2 GROUP BY 1),
         |rc AS (SELECT feature, least(9, (x - gr.lo) * 10 // gr.rng) AS bucket,
         |        count(*) AS n_ref
         |      FROM f JOIN gr USING (feature) WHERE g < 2 GROUP BY 1, 2),
         |sp AS (SELECT feature, unnest(range(0, 10)) AS bucket
         |      FROM (SELECT DISTINCT feature FROM gr)),
         |r AS (SELECT sp.feature, sp.bucket,
         |        CAST(coalesce(rc.n_ref, 0) AS BIGINT) AS n_ref
         |      FROM sp LEFT JOIN rc
         |        ON sp.feature = rc.feature AND sp.bucket = rc.bucket),
         |oc AS (SELECT g - 1 AS batch_id, f.feature,
         |        greatest(0, least(9, (x - gr.lo) * 10 // gr.rng)) AS bucket,
         |        count(*) AS n_obs
         |      FROM f JOIN gr USING (feature) WHERE g >= 2 GROUP BY 1, 2, 3),
         |ot AS (SELECT g - 1 AS batch_id, feature, count(*) AS t_obs
         |      FROM f WHERE g >= 2 GROUP BY 1, 2),
         |j AS (SELECT ot.batch_id, r.feature, r.bucket, r.n_ref,
         |        CAST(coalesce(oc.n_obs, 0) AS BIGINT) AS n_obs,
         |        gr.t_ref, ot.t_obs
         |      FROM ot JOIN r ON r.feature = ot.feature
         |      JOIN gr ON gr.feature = r.feature
         |      LEFT JOIN oc ON oc.batch_id = ot.batch_id
         |        AND oc.feature = r.feature AND oc.bucket = r.bucket),
         |w AS (SELECT batch_id, feature, bucket, n_ref, n_obs,
         |        CAST(n_ref + 1 AS DOUBLE) / CAST(t_ref + 10 AS DOUBLE) AS p,
         |        CAST(n_obs + 1 AS DOUBLE) / CAST(t_obs + 10 AS DOUBLE) AS q
         |      FROM j)
         |SELECT batch_id, feature, bucket, n_ref, n_obs,
         |  ${round4("p")} AS share_ref, ${round4("q")} AS share_obs,
         |  ${round4("(p - q) * CAST(CAST(ln(p / q) AS DECIMAL(30,6)) AS DOUBLE)")}
         |    AS psi
         |FROM w ORDER BY batch_id, feature, bucket""".stripMargin,
    "d74_index_publish" ->
      // the WAP manifests over the four index relations, by invariant:
      // cells partitions the corpus (n), the PACKED code table is one
      // array row per vector (n), codebook is m·kPq·sw = 1024 (iff no
      // PQ cluster is empty), centroids is k = 10 (iff no IVF cell is
      // empty) — the per-sf preconditions LlmOpsSpec pins; an empty
      // corpus publishes four empty tables
      """WITH n AS (SELECT count(*) AS cnt FROM embeddings),
        |rows4 AS (
        |  SELECT 'cells' AS tbl, cnt AS exp FROM n
        |  UNION ALL SELECT 'codes', cnt FROM n
        |  UNION ALL SELECT 'codebook',
        |    CASE WHEN cnt = 0 THEN 0 ELSE 1024 END FROM n
        |  UNION ALL SELECT 'centroids',
        |    CASE WHEN cnt = 0 THEN 0 ELSE 10 END FROM n)
        |SELECT tbl, check_name, observed, ok FROM (
        |  SELECT tbl, 'rows_match_expected' AS check_name,
        |         CAST(exp AS BIGINT) AS observed, true AS ok FROM rows4
        |  UNION ALL SELECT tbl, 'null_keys', 0, true FROM rows4
        |  UNION ALL SELECT tbl, 'dup_keys', 0, true FROM rows4
        |  UNION ALL SELECT tbl, 'published_rows', CAST(exp AS BIGINT), true
        |  FROM rows4)
        |ORDER BY tbl, check_name""".stripMargin,
    "d07_tfidf" ->
      s"""WITH $tokCte,
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2),
         |df AS (SELECT word, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         |sc AS (SELECT doc_id, word, tf, df,
         |         ${round4("tf * ln(n_docs::DOUBLE / df)")} AS score
         |       FROM tf JOIN df USING (word), n),
         |r AS (SELECT *, row_number() OVER
         |        (PARTITION BY doc_id ORDER BY score DESC, word) AS rnk FROM sc)
         |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, word, tf, df, score
         |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "d08_text_stats" ->
      s"""WITH s AS (SELECT doc_id, lang, text, n_chars,
         |             string_split(text, ' ') AS t FROM documents),
         |b AS (SELECT doc_id, lang,
         |        CAST(len(t) AS BIGINT) AS n_tokens,
         |        CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
         |        CAST(length(text) AS BIGINT) AS text_len,
         |        n_chars = length(text) AS chars_match,
         |        ${round4("len(list_distinct(t))::DOUBLE / len(t)")} AS distinct_ratio,
         |        ${round4("(length(text) - (len(t) - 1))::DOUBLE / len(t)")} AS avg_token_len,
         |        ${round4("len(list_filter(t, w -> length(w) >= 6))::DOUBLE / len(t)")} AS long_token_ratio,
         |        CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT)
         |          AS n_subword_tokens
         |      FROM s)
         |SELECT *, ${round4("ln(1.0 + n_tokens) * distinct_ratio")} AS quality_score
         |FROM b ORDER BY doc_id""".stripMargin,
    "d09_lang_profile" ->
      s"""WITH tok AS (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS word
         |             FROM documents),
         |pw AS (SELECT lang, word, count(*) AS cnt FROM tok GROUP BY 1, 2),
         |top AS (SELECT lang, word AS top_word, cnt AS top_word_cnt FROM (
         |          SELECT *, row_number() OVER
         |            (PARTITION BY lang ORDER BY cnt DESC, word) AS rn FROM pw)
         |        WHERE rn = 1),
         |st AS (SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_tokens,
         |         count(DISTINCT word) AS n_distinct_words FROM tok GROUP BY lang)
         |SELECT st.lang, n_docs, n_tokens, n_distinct_words, top_word, top_word_cnt,
         |  ${round4("n_tokens::DOUBLE / n_docs")} AS avg_tokens_per_doc
         |FROM st JOIN top ON st.lang = top.lang ORDER BY st.lang""".stripMargin,
    "d10_lang_id" ->
      s"""WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
         |             FROM documents),
         |lt AS (SELECT lang AS l, count(*) AS total FROM tok GROUP BY 1),
         |vocab AS (SELECT DISTINCT word FROM tok),
         |v AS (SELECT count(*) AS v FROM vocab),
         |cnt AS (SELECT lang AS l, word, count(*) AS cnt FROM tok GROUP BY 1, 2),
         |grid AS (SELECT lt.l, vocab.word,
         |           CAST(ln((coalesce(cnt.cnt, 0) + 1)::DOUBLE / (lt.total + v.v))
         |                AS DECIMAL(30,6)) AS logp
         |         FROM lt CROSS JOIN vocab
         |         LEFT JOIN cnt ON cnt.l = lt.l AND cnt.word = vocab.word, v),
         |sc AS (SELECT tok.doc_id, tok.lang, grid.l,
         |         CAST(sum(grid.logp) AS DOUBLE) AS score
         |       FROM tok JOIN grid ON tok.word = grid.word GROUP BY 1, 2, 3),
         |r AS (SELECT *, row_number() OVER
         |        (PARTITION BY doc_id ORDER BY score DESC, l) AS rn FROM sc)
         |SELECT doc_id, lang, l AS pred, ${round4("score")} AS score,
         |  l = lang AS correct
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "d11_fingerprint" ->
      s"""WITH $shingleCte
         |SELECT doc_id, min(md5(shingle)) AS fp, count(*) AS n_shingles
         |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d12_simhash" -> simhashSql,
    "d13_simhash_pairs" ->
      s"""WITH s AS ($simhashSql)
         |SELECT a.doc_id AS i, b.doc_id AS j,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
         |ORDER BY i, j""".stripMargin,
    "d14_doc_chunks" ->
      // list slices are 1-based inclusive and clamp at the end, matching
      // Spark's slice(); (len-1)//40 integer-div ≡ floor((n-1)/40).
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |c AS (SELECT doc_id, t,
        |        unnest(range((len(t) - 1) // 40 + 1)) AS chunk_id FROM t),
        |ch AS (SELECT doc_id, chunk_id,
        |         t[chunk_id * 40 + 1 : chunk_id * 40 + 50] AS chunk FROM c)
        |SELECT doc_id, chunk_id, CAST(chunk_id * 40 AS BIGINT) AS start_tok,
        |  CAST(len(chunk) AS BIGINT) AS n_chunk_toks,
        |  chunk[1] AS head_tok,
        |  md5(array_to_string(chunk, ' ')) AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,
    "d15_quantize" ->
      // DECIMAL(30,0) casts round half-away-from-zero in both engines
      // (double `round` does not agree); the integer aggregates are exact.
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sc AS (SELECT vec_id, v,
         |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
         |       FROM e),
         |q AS (SELECT vec_id, scale,
         |        CASE WHEN scale > 0
         |          THEN list_transform(v,
         |                 x -> CAST(CAST(x / scale AS DECIMAL(30,0)) AS BIGINT))
         |          ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS q
         |      FROM sc)
         |SELECT vec_id, ${round4("scale")} AS scale4,
         |  CAST(list_aggregate(list_transform(q, x -> x * x), 'sum') AS BIGINT)
         |    AS q_norm2,
         |  CAST(list_aggregate(list_transform(q, x -> abs(x)), 'sum') AS BIGINT)
         |    AS q_l1,
         |  CAST(list_max(q) AS BIGINT) AS q_max,
         |  CAST(list_min(q) AS BIGINT) AS q_min
         |FROM q ORDER BY vec_id""".stripMargin,
    "e30_topk_per_group" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS n_events
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, event_type, n_events,
        |        CAST(row_number() OVER (PARTITION BY user_id
        |          ORDER BY n_events DESC, event_type ASC) AS BIGINT) AS rnk
        |      FROM c)
        |SELECT user_id, event_type, n_events, rnk
        |FROM r WHERE rnk <= 2 ORDER BY user_id, rnk""".stripMargin,
    "d30_incremental_dedup" -> incrementalDedupSql,
    // d30b reads the PUBLISHED pair store (the deterministic d02
    // relation), so d30's oracle applies verbatim, like d47/d48/d49.
    "d30b_store_incremental" -> incrementalDedupSql,
    "d31_bm25" ->
      s"""WITH $bm25Cte
         |SELECT doc_id, dl, tf_spark, tf_join, tf_window, score
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "d32_pii_redact" -> {
      // generated from the SAME pattern list the Spark side binds, so
      // the two can never drift; sequential-count semantics mirrored
      // (pattern i counts on the text after patterns 1..i-1 applied);
      // 'g' flag — DuckDB replaces first-match-only by default where
      // Spark's regexp_replace is global
      val ps = graft.operators.QualityOps.DefaultRedactions
      var cur = "text"
      val counts = ps.map { case (nm, re, tok) =>
        val c = s"CAST(len(regexp_extract_all($cur, '$re')) AS INTEGER) AS n_$nm"
        cur = s"regexp_replace($cur, '$re', '$tok', 'g')"
        c
      }.mkString(",\n|  ")
      s"""SELECT doc_id,
         |  $counts,
         |  $cur AS redacted,
         |  CAST(length($cur) AS INTEGER) AS n_redacted_chars
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "d33_decontam_ngram" ->
      // 5-grams via list slices (1-based inclusive: t[i:i+4] is 5
      // tokens); the test-side DF cap (≤20) mirrors the Spark plan's
      // zipf-head exclusion — it never fires on these fixtures (max
      // 5-gram DF is 3) but the oracle carries it so the contract is
      // the CAPPED semantics, not a fixture accident
      s"""WITH $splitCte,
         |g AS (SELECT doc_id, unnest(list_distinct(
         |    [array_to_string(t[i:i+4], ' ') for i in range(1, len(t) - 3)])) AS gram
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
         |tr AS (SELECT g.doc_id AS train_doc, gram
         |       FROM g JOIN sp USING (doc_id) WHERE split = 'train'),
         |te AS (SELECT g.doc_id AS test_doc, gram
         |       FROM g JOIN sp USING (doc_id) WHERE split = 'test'),
         |cold AS (SELECT gram FROM te GROUP BY gram
         |         HAVING count(DISTINCT test_doc) <= ${graft.operators.PairGraph.MaxShingleDf}),
         |tec AS (SELECT te.* FROM te JOIN cold USING (gram))
         |SELECT train_doc AS doc_id,
         |  count(DISTINCT gram) AS n_shared_grams,
         |  count(DISTINCT test_doc) AS n_test_docs
         |FROM tr JOIN tec USING (gram)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "d34_dsir_weights" ->
      // same md5-bucket arithmetic as d17's split; smoothed bucket
      // ratios are 3 IEEE ops in the same order as the Spark side, and
      // the per-occurrence ln is DECIMAL(30,6)-canonicalized pre-sum
      // (d18's trick) so the sum is order-independent
      s"""WITH $dsirCtes
         |SELECT doc_id, count(*) AS n_bigrams, CAST(SUM(logr) AS DOUBLE) AS weight
         |FROM bb JOIN r USING (b) GROUP BY 1 ORDER BY 1""".stripMargin,
    "d36_importance_sample" ->
      // Gumbel-top-k over the d34 weights (shared CTEs — the two can't
      // drift): salted-md5 uniforms, DECIMAL(30,6)-canonicalized key
      // with doc_id tiebreak, per-bucket ⌈frac·n_b⌉ take
      s"""WITH $dsirCtes,
         |wt AS (SELECT doc_id, CAST(SUM(logr) AS DOUBLE) AS weight
         |       FROM bb JOIN r USING (b) GROUP BY 1),
         |k AS (SELECT doc_id, weight,
         |        CAST(('0x' || substr(md5('s:' || CAST(doc_id AS VARCHAR)), 1, 8))
         |          AS BIGINT) % GREATEST(16, CAST(CEIL(
         |            (SELECT count(*) FROM documents) / 250000.0) AS BIGINT)) AS bucket,
         |        CAST(CAST(weight - ln(-ln(
         |          (CAST(('0x' || substr(md5('g:' || CAST(doc_id AS VARCHAR)), 1, 8))
         |             AS BIGINT)::DOUBLE + 0.5) / 4294967296.0))
         |          AS DECIMAL(30,6)) AS DOUBLE) AS key
         |      FROM wt),
         |rk AS (SELECT *, row_number() OVER
         |         (PARTITION BY bucket ORDER BY key DESC, doc_id) AS rn,
         |         count(*) OVER (PARTITION BY bucket) AS n_b
         |       FROM k)
         |SELECT doc_id, bucket, ${round4("weight")} AS weight,
         |  ${round4("key")} AS key
         |FROM rk WHERE rn <= ceil(n_b * 0.25) ORDER BY doc_id""".stripMargin,
    "d37_tombstone_purge" ->
      // counts per store; the fingerprint store exists for docs with ≥3
      // tokens (they have shingles), same as the d11 oracle's GROUP BY
      """WITH f AS (SELECT doc_id FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3)
        |SELECT 'documents' AS store, count(*) AS n_before,
        |  CAST(COALESCE(sum(CASE WHEN doc_id % 17 = 0 THEN 1 END), 0) AS BIGINT) AS n_purged,
        |  count(*) - CAST(COALESCE(sum(CASE WHEN doc_id % 17 = 0 THEN 1 END), 0) AS BIGINT) AS n_after
        |FROM documents
        |UNION ALL
        |SELECT 'embeddings', count(*),
        |  CAST(COALESCE(sum(CASE WHEN vec_id % 17 = 0 THEN 1 END), 0) AS BIGINT),
        |  count(*) - CAST(COALESCE(sum(CASE WHEN vec_id % 17 = 0 THEN 1 END), 0) AS BIGINT)
        |FROM embeddings
        |UNION ALL
        |SELECT 'fingerprints', count(*),
        |  CAST(COALESCE(sum(CASE WHEN doc_id % 17 = 0 THEN 1 END), 0) AS BIGINT),
        |  count(*) - CAST(COALESCE(sum(CASE WHEN doc_id % 17 = 0 THEN 1 END), 0) AS BIGINT)
        |FROM f
        |ORDER BY store""".stripMargin,
    "d35_semdedup" -> {
      // the oracle buckets with the SAME hyperplanes: the plane
      // components are inlined as literals generated from planeComp, and
      // list_inner_product matches the native array_dot's in-order fold
      val sig = (0 until 4).map { p =>
        val arr = (0 until 64).map(j =>
          graft.operators.EmbeddingOps.planeComp(7, p, j)).mkString("[", ", ", "]")
        s"(CASE WHEN list_inner_product(v, $arr::DOUBLE[]) > 0 THEN ${1 << p} ELSE 0 END)"
      }.mkString("\n|    + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sg AS (SELECT vec_id, v,
         |  $sig AS sig FROM e),
         |p AS (SELECT a.vec_id AS i, b.vec_id AS j,
         |        ${round4(cosSql("a.v", "b.v"))} AS sim
         |      FROM sg a JOIN sg b ON a.sig = b.sig AND a.vec_id < b.vec_id),
         |f AS (SELECT *, row_number() OVER (PARTITION BY j ORDER BY i) AS rn
         |      FROM p WHERE sim >= 0.40)
         |SELECT j AS vec_id, i AS kept_id, sim FROM f WHERE rn = 1
         |ORDER BY vec_id""".stripMargin
    },
    "d55_semantic_contamination" ->
      s"""WITH $semContamCtes
         |SELECT vec_id, split, train_id, sim FROM semp
         |ORDER BY vec_id""".stripMargin,
    "d62_contamination_ensemble" ->
      // the d20 pair chain (train↔eval pairs only — a val↔test near-dup
      // is not leakage) aggregated per eval doc, full-outer joined with
      // the d55 per-eval semantic rows; leak_source classifies the union
      s"""WITH $pairsCtes,
         |$splitCte,
         |lexp AS (
         |  SELECT CASE WHEN si.split = 'train' THEN p.j ELSE p.i END AS doc_id,
         |         CASE WHEN si.split = 'train' THEN sj.split ELSE si.split END
         |           AS split,
         |         p.jac
         |  FROM pairs p JOIN sp si ON si.doc_id = p.i
         |  JOIN sp sj ON sj.doc_id = p.j
         |  WHERE (si.split = 'train') <> (sj.split = 'train')),
         |lex AS (SELECT doc_id, split, max(jac) AS max_jac,
         |          CAST(count(*) AS BIGINT) AS n_lex_pairs
         |        FROM lexp GROUP BY 1, 2),
         |$semContamCtes
         |SELECT COALESCE(l.doc_id, s.vec_id) AS doc_id,
         |  COALESCE(l.split, s.split) AS split,
         |  l.max_jac, l.n_lex_pairs,
         |  s.train_id AS sem_train_id, s.sim AS sem_sim,
         |  CASE WHEN l.doc_id IS NOT NULL AND s.vec_id IS NOT NULL THEN 'both'
         |       WHEN l.doc_id IS NOT NULL THEN 'lexical'
         |       ELSE 'semantic' END AS leak_source
         |FROM lex l FULL OUTER JOIN semp s
         |  ON l.doc_id = s.vec_id AND l.split = s.split
         |ORDER BY doc_id""".stripMargin,
    "d29_matryoshka" ->
      // prefix/full energies as exact decimal sums of per-element x²
      // (order-independent); d15's DECIMAL(30,0) trick for the int8 step
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |p AS (SELECT vec_id, v, v[1:16] AS pr,
         |        CAST(list_aggregate(list_transform(v,
         |               x -> CAST(x * x AS DECIMAL(30,6))), 'sum')
         |             AS DOUBLE) AS ss_full,
         |        CAST(list_aggregate(list_transform(v[1:16],
         |               x -> CAST(x * x AS DECIMAL(30,6))), 'sum')
         |             AS DOUBLE) AS ss_pre
         |      FROM e),
         |u AS (SELECT vec_id, v, ss_full, ss_pre,
         |        CASE WHEN ss_pre > 0
         |          THEN list_transform(pr, x -> x / sqrt(ss_pre))
         |          ELSE list_transform(pr, x -> 0.0) END AS un
         |      FROM p),
         |sc AS (SELECT vec_id, v, ss_full, ss_pre, un,
         |         CASE WHEN ss_pre > 0
         |           THEN list_max(list_transform(un, x -> abs(x))) / 127.0
         |           ELSE 0.0 END AS qscale
         |       FROM u),
         |z AS (SELECT vec_id, v, ss_full, ss_pre, un, qscale,
         |        CASE WHEN qscale > 0
         |          THEN list_transform(un,
         |                 x -> CAST(CAST(x / qscale AS DECIMAL(30,0)) AS BIGINT))
         |          ELSE list_transform(un, x -> CAST(0 AS BIGINT)) END AS q
         |      FROM sc)
         |SELECT vec_id, CAST(len(v) AS BIGINT) AS d_full,
         |  CASE WHEN ss_full > 0
         |    THEN ${round8("ss_pre / ss_full")} ELSE 0.0 END AS energy,
         |  ${round8("CASE WHEN ss_pre > 0 THEN v[1] / sqrt(ss_pre) ELSE 0.0 END")}
         |    AS head_unit,
         |  CAST(list_aggregate(list_transform(q, x -> x * x), 'sum') AS BIGINT)
         |    AS q_norm2,
         |  CAST(list_max(q) AS BIGINT) AS q_max,
         |  CAST(list_min(q) AS BIGINT) AS q_min
         |FROM z ORDER BY vec_id""".stripMargin,
    "f07_binary_source" ->
      // layout-independent totals: each written line is the doc's UTF-8
      // bytes + one '\n'; line count recovered from the binary payloads;
      // COALESCE matches the Spark side's empty-corpus (0, 0)
      """SELECT CAST(COALESCE(sum(octet_length(encode(text)) + 1), 0) AS BIGINT)
        |    AS total_bytes,
        |  count(*) AS n_docs
        |FROM documents""".stripMargin,
    "f08_zorder_scan" ->
      // the Z-order curve is layout only — the oracle box-filters the
      // ORIGINAL table, so the clustered write+read must lose nothing
      s"""SELECT count(*) AS n_rows,
         |  ${dsum("l_quantity")} AS sum_qty,
         |  ${dsum("l_extendedprice")} AS revenue
         |FROM lineitem
         |WHERE l_orderkey BETWEEN 500 AND 2500
         |  AND l_partkey BETWEEN 50 AND 250""".stripMargin,
    "d16_prep_pipeline" ->
      // mirrors d01 (dedup keep-rule) → d08 (quality formula, with the
      // same intermediate round4 on the ratio) → d14 (chunk CTEs).
      """WITH keep AS (
        |  SELECT min(doc_id) AS doc_id FROM (
        |    SELECT doc_id, lower(trim(regexp_replace(nfc_normalize(text), '\s+', ' ', 'g'))) AS norm
        |    FROM documents)
        |  GROUP BY norm),
        |d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |      WHERE doc_id IN (SELECT doc_id FROM keep)),
        |g AS (SELECT doc_id, t FROM d
        |      WHERE CAST(CAST(ln(1.0 + len(t)) *
        |              CAST(CAST(len(list_distinct(t))::DOUBLE / len(t)
        |                   AS DECIMAL(30,4)) AS DOUBLE)
        |            AS DECIMAL(30,4)) AS DOUBLE) >= 1.8),
        |c AS (SELECT doc_id, t,
        |        unnest(range((len(t) - 1) // 40 + 1)) AS chunk_id FROM g),
        |ch AS (SELECT doc_id, chunk_id,
        |         t[chunk_id * 40 + 1 : chunk_id * 40 + 50] AS chunk FROM c)
        |SELECT doc_id, chunk_id, CAST(chunk_id * 40 AS BIGINT) AS start_tok,
        |  CAST(len(chunk) AS BIGINT) AS n_chunk_toks,
        |  chunk[1] AS head_tok,
        |  md5(array_to_string(chunk, ' ')) AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,
    "d17_hash_split" ->
      s"""WITH $splitCte
         |SELECT doc_id, bucket, split FROM sp ORDER BY doc_id""".stripMargin,
    "d18_bigram_lm" ->
      // parallel unnest of two shifted list slices zips them into bigram
      // pairs; logp is canonicalized to DECIMAL(30,6) pre-sum (d10's
      // trick) and avg_logp is one division of identical doubles (raw).
      s"""WITH $bigramLpCtes
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(SUM(logp) AS DOUBLE) AS sum_logp,
         |  CAST(SUM(logp) AS DOUBLE) / count(*) AS avg_logp
         |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d50_perplexity_buckets" ->
      // d18's score CTEs verbatim; the Spark side's distributed-rank
      // ntile arithmetic reproduces NTILE(3) exactly (big tiles first),
      // so one window here is the whole oracle. avg_logp doubles are
      // engine-identical (d18's discipline), ties broken by doc_id.
      s"""WITH $bigramLpCtes,
         |sc AS (SELECT doc_id, CAST(SUM(logp) AS DOUBLE) / count(*)
         |         AS avg_logp FROM lp GROUP BY doc_id)
         |SELECT doc_id, avg_logp, bucket,
         |  CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 3 THEN 'tail'
         |       ELSE 'middle' END AS band
         |FROM (SELECT doc_id, avg_logp,
         |        CAST(ntile(3) OVER (ORDER BY avg_logp DESC, doc_id)
         |             AS BIGINT) AS bucket
         |      FROM sc)
         |ORDER BY doc_id""".stripMargin,
    "d51_gram_novelty" ->
      // novelty = one IEEE division of engine-identical integers — raw,
      // no rounding (Canon round4 note).
      s"""WITH $shingleCte,
         |f AS (SELECT shingle, min(doc_id) AS first_doc
         |      FROM sh GROUP BY shingle)
         |SELECT sh.doc_id AS doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_novel,
         |  CAST(CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0
         |                END) AS BIGINT) AS DOUBLE) / count(*) AS novelty
         |FROM sh JOIN f USING (shingle)
         |GROUP BY sh.doc_id ORDER BY doc_id""".stripMargin,
    "d52_quality_ensemble" ->
      // all four verdicts are integer cross-multiplications — bit-exact
      // across engines, no float division anywhere.
      s"""WITH $tokCte,
         |c AS (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY 1, 2),
         |a AS (SELECT doc_id, sum(c) AS n, sum(c * len(word)) AS sl,
         |        max(c) AS mx, count(*) AS nd
         |      FROM c GROUP BY doc_id)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |  CAST(nd AS BIGINT) AS n_distinct,
         |  n >= 12 AS r_len,
         |  (sl * 10 >= n * 40 AND sl * 10 <= n * 50) AS r_wordlen,
         |  mx * 5 <= n AS r_maxshare,
         |  nd * 10 >= n * 3 AS r_distinct,
         |  CAST((CASE WHEN n >= 12 THEN 0 ELSE 1 END)
         |     + (CASE WHEN sl * 10 >= n * 40 AND sl * 10 <= n * 50
         |             THEN 0 ELSE 2 END)
         |     + (CASE WHEN mx * 5 <= n THEN 0 ELSE 4 END)
         |     + (CASE WHEN nd * 10 >= n * 3 THEN 0 ELSE 8 END)
         |     AS BIGINT) AS reasons,
         |  (n >= 12 AND sl * 10 >= n * 40 AND sl * 10 <= n * 50
         |   AND mx * 5 <= n AND nd * 10 >= n * 3) AS keep
         |FROM a ORDER BY doc_id""".stripMargin,
    "e35_retention" ->
      // week_k is integer day arithmetic on week-start dates; retention
      // is one division of engine-identical integers — raw.
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |f AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE)
        |        AS cohort FROM e GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id,
        |        CAST(date_trunc('week', ts) AS DATE) AS wk FROM e),
        |m AS (SELECT cohort, (wk - cohort) // 7 AS week_k,
        |        count(*) AS n_active
        |      FROM a JOIN f USING (user_id) GROUP BY 1, 2),
        |s AS (SELECT cohort, count(*) AS n_cohort FROM f GROUP BY cohort)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
        |  CAST(week_k AS BIGINT) AS week_k,
        |  CAST(n_active AS BIGINT) AS n_active,
        |  CAST(n_cohort AS BIGINT) AS n_cohort,
        |  CAST(n_active AS BIGINT)::DOUBLE / n_cohort AS retention
        |FROM m JOIN s USING (cohort)
        |ORDER BY cohort, week_k""".stripMargin,
    "e41_usage_apportion" ->
      // explode to covered days (bounded by duration), clamp to the day
      // window, one keyed sum — all integer-µs arithmetic.
      """WITH iv AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS start_us,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      + (CAST(json_extract_string(props, '$.k') AS BIGINT) + 1)
        |        * 60000000 AS end_us
        |  FROM events),
        |days AS (SELECT user_id, start_us, end_us,
        |    unnest(range(start_us // 86400000000,
        |                 (end_us - 1) // 86400000000 + 1)) AS day_idx
        |  FROM iv),
        |c AS (SELECT user_id, day_idx * 86400000000 AS day_start_us,
        |    least(end_us, day_idx * 86400000000 + 86400000000)
        |      - greatest(start_us, day_idx * 86400000000) AS covered_us
        |  FROM days)
        |SELECT user_id,
        |  strftime(CAST(to_timestamp(day_start_us // 1000000) AS DATE),
        |           '%Y-%m-%d') AS day,
        |  count(*) AS n_intervals,
        |  CAST(sum(covered_us) AS BIGINT) AS usage_us
        |FROM c GROUP BY user_id, day_start_us
        |ORDER BY user_id, day""".stripMargin,
    "e40_conversion_latency" ->
      // purchase strictly after the first view (e32 anchors); integer-µs
      // latencies, ONE division for the rate, round4 percentiles.
      s"""WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
         |  FROM events),
         |v AS (SELECT user_id, min(ts) AS v_ts FROM e
         |  WHERE event_type = 'view' GROUP BY 1),
         |p AS (SELECT e.user_id, min(e.ts) AS p_ts, min(v.v_ts) AS v_ts2
         |  FROM e JOIN v USING (user_id)
         |  WHERE e.event_type = 'purchase' AND e.ts > v.v_ts GROUP BY 1),
         |l AS (SELECT epoch_us(p_ts) - epoch_us(v_ts2) AS lat_us,
         |        (epoch_us(p_ts) - epoch_us(v_ts2)) // 1000000 AS lat_s
         |      FROM p),
         |nv AS (SELECT count(*) AS n_viewers FROM v)
         |SELECT n_viewers, count(*) AS n_converted,
         |  count(*)::DOUBLE / n_viewers AS conv_rate,
         |  CAST(min(lat_us) AS BIGINT) AS min_us,
         |  CAST(max(lat_us) AS BIGINT) AS max_us,
         |  ${round4("quantile_cont(lat_s, 0.5)")} AS p50_s,
         |  ${round4("quantile_cont(lat_s, 0.9)")} AS p90_s
         |FROM l, nv GROUP BY n_viewers""".stripMargin,
    "e39_rolling_median" ->
      // trailing 7-day RANGE frame over the integer day number (gaps
      // bound by VALUE, not row count); med7 round4-contracted.
      s"""WITH daily AS (SELECT event_type,
         |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         |    ${dsum("value")} AS daily_sum
         |  FROM events GROUP BY 1, 2),
         |n AS (SELECT *, day - DATE '1970-01-01' AS day_num FROM daily)
         |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, daily_sum,
         |  ${round4("quantile_cont(daily_sum, 0.5) OVER w")} AS med7,
         |  min(daily_sum) OVER w AS min7,
         |  max(daily_sum) OVER w AS max7,
         |  count(*) OVER w AS n7
         |FROM n
         |WINDOW w AS (PARTITION BY event_type ORDER BY day_num
         |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
         |ORDER BY event_type, day""".stripMargin,
    "e38_ohlc_bars" ->
      // open/close = first/last value by (ts, event_id) — the oracle
      // states them via rank, the Spark side via min_by/max_by on a
      // struct key; raw doubles carry no arithmetic, mean is dsum/count.
      s"""WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
         |    event_id, value, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
         |  FROM events),
         |r AS (SELECT *, row_number() OVER
         |    (PARTITION BY event_type, day ORDER BY ts, event_id) AS rn,
         |    count(*) OVER (PARTITION BY event_type, day) AS cnt
         |  FROM e)
         |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
         |  max(CASE WHEN rn = 1 THEN value END) AS open,
         |  max(value) AS high, min(value) AS low,
         |  max(CASE WHEN rn = cnt THEN value END) AS close,
         |  count(*) AS volume,
         |  ${dsum("value")} / count(value) AS mean_value
         |FROM r GROUP BY event_type, day
         |ORDER BY event_type, day""".stripMargin,
    "e37_cooccurrence" ->
      // basket = per-user top-20 items (freq desc, item asc); pairs
      // a.item < b.item; support ≥ 2; lift = ONE IEEE division of
      // exact-integer numerator/denominator.
      """WITH ev AS (SELECT user_id,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
        |  FROM events),
        |cnt AS (SELECT user_id, item, count(*) AS n FROM ev GROUP BY 1, 2),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY n DESC, item) AS r FROM cnt),
        |basket AS (SELECT user_id, item FROM rk WHERE r <= 20),
        |tot AS (SELECT count(DISTINCT user_id) AS nt FROM basket),
        |icnt AS (SELECT item, count(*) AS ni FROM basket GROUP BY item),
        |pairs AS (SELECT a.item AS item_a, b.item AS item_b,
        |    count(*) AS support
        |  FROM basket a JOIN basket b
        |    ON a.user_id = b.user_id AND a.item < b.item
        |  GROUP BY 1, 2)
        |SELECT item_a, item_b, CAST(support AS BIGINT) AS support,
        |  CAST(support * nt AS DOUBLE) / (ia.ni * ib.ni) AS lift
        |FROM pairs, tot
        |JOIN icnt ia ON item_a = ia.item
        |JOIN icnt ib ON item_b = ib.item
        |WHERE support >= 2
        |ORDER BY item_a, item_b""".stripMargin,
    "e36_interval_merge" ->
      // running-max-of-ends islands (NOT the lag-gap rule — a short
      // interval inside a long one must not split); closed-open
      // adjacency merges; all integer-µs arithmetic.
      """WITH iv AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS start_us,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      + (CAST(json_extract_string(props, '$.k') AS BIGINT) + 1)
        |        * 60000000 AS end_us
        |  FROM events),
        |m AS (SELECT *, max(end_us) OVER (PARTITION BY user_id
        |        ORDER BY start_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |        AS max_prev_end
        |      FROM iv),
        |n AS (SELECT *, CASE WHEN max_prev_end IS NULL
        |        OR start_us > max_prev_end THEN 1 ELSE 0 END AS is_new
        |      FROM m),
        |isl AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id
        |          ORDER BY start_us, event_id ROWS UNBOUNDED PRECEDING)
        |          AS island
        |        FROM n)
        |SELECT user_id, CAST(island AS BIGINT) AS island,
        |  count(*) AS n_events,
        |  min(start_us) AS merged_start_us,
        |  max(end_us) AS merged_end_us,
        |  max(end_us) - min(start_us) AS covered_us,
        |  CAST(sum(end_us - start_us) AS BIGINT) AS sum_dur_us
        |FROM isl GROUP BY user_id, island
        |ORDER BY user_id, island""".stripMargin,
    "e34_sessionize" ->
      // gaps-and-islands: lag → boundary flag → running sum; 8h gap
      // (Relational.sessionize default), integer-µs duration.
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |             event_type FROM events),
        |l AS (SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
        |      FROM e),
        |n AS (SELECT *, CASE WHEN gap_us IS NULL
        |        OR gap_us > 28800000000 THEN 1 ELSE 0 END AS is_new
        |      FROM l),
        |si AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id
        |         ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
        |         AS session_idx
        |       FROM n)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  count(*) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us,
        |  count(DISTINCT event_type) AS n_types
        |FROM si GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
    "s07_stateful_ordinal_tws" ->
      // identical contract to s05 — same row_number oracle, different
      // state API on the Spark side.
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT user_id, event_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |       AS BIGINT) AS ordinal
        |FROM e ORDER BY user_id, ordinal""".stripMargin,
    "s08_stream_static_join" ->
      s"""WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, value FROM events),
         |j AS (SELECT date_trunc('hour', e.ts) AS ws, c.c_mktsegment, e.value
         |      FROM e JOIN customer c ON e.user_id = c.c_custkey)
         |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
         |  c_mktsegment, count(*) AS n_events, ${dsum("value")} AS sum_value
         |FROM j GROUP BY ws, c_mktsegment
         |ORDER BY window_start, c_mktsegment""".stripMargin,
    "s06_stream_stream_join" ->
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |             event_type, value FROM events),
        |err AS (SELECT event_id AS err_id, user_id, ts AS err_ts FROM e
        |        WHERE event_type = 'error'),
        |p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts,
        |        value AS purchase_value FROM e
        |      WHERE event_type = 'purchase')
        |SELECT err.err_id, err.user_id, p.purchase_id,
        |  strftime(err.err_ts, '%Y-%m-%d %H:%M:%S') AS err_ts,
        |  strftime(p.p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |  p.purchase_value
        |FROM err JOIN p ON err.user_id = p.user_id
        |  AND p.p_ts <= err.err_ts
        |  AND p.p_ts >= err.err_ts - INTERVAL 30 MINUTE
        |ORDER BY err_id, purchase_id""".stripMargin,
    // s10: the left-outer form of s06 — unmatched errors surface with
    // NULL purchase columns (the alerting query inner joins can't ask)
    "s10_stream_stream_left" ->
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |             event_type, value FROM events),
        |err AS (SELECT event_id AS err_id, user_id, ts AS err_ts FROM e
        |        WHERE event_type = 'error'),
        |p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts,
        |        value AS purchase_value FROM e
        |      WHERE event_type = 'purchase')
        |SELECT err.err_id, err.user_id, p.purchase_id,
        |  strftime(err.err_ts, '%Y-%m-%d %H:%M:%S') AS err_ts,
        |  strftime(p.p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |  p.purchase_value
        |FROM err LEFT JOIN p ON err.user_id = p.user_id
        |  AND p.p_ts <= err.err_ts
        |  AND p.p_ts >= err.err_ts - INTERVAL 30 MINUTE
        |ORDER BY err_id, purchase_id""".stripMargin,
    "s15_stream_stream_full" ->
      // s10's mirror with FULL OUTER and a null-safe order key (Spark
      // sorts nulls first, DuckDB last — coalesce sidesteps it)
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |             event_type, value FROM events),
        |err AS (SELECT event_id AS err_id, user_id, ts AS err_ts FROM e
        |        WHERE event_type = 'error'),
        |p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts,
        |        value AS purchase_value FROM e
        |      WHERE event_type = 'purchase')
        |SELECT err.err_id, p.purchase_id,
        |  COALESCE(err.user_id, p.p_user) AS user_id,
        |  strftime(err.err_ts, '%Y-%m-%d %H:%M:%S') AS err_ts,
        |  strftime(p.p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |  p.purchase_value
        |FROM err FULL OUTER JOIN p ON err.user_id = p.p_user
        |  AND p.p_ts <= err.err_ts
        |  AND p.p_ts >= err.err_ts - INTERVAL 30 MINUTE
        |ORDER BY COALESCE(err_id, -1), COALESCE(purchase_id, -1)""".stripMargin,
    "s16_versioned_sink" ->
      // the three batch effects re-derived: v1 = snapshot, v2 = the f13
      // merge (balances included), v3 = v2 minus the bucket-7 deletes;
      // per version a count + exact-decimal balance sum — what the
      // Spark side re-reads from the sink's promoted directories
      s"""WITH t AS (SELECT c_custkey, c_acctbal FROM customer),
         |u AS (SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal
         |      FROM customer WHERE c_custkey % 10 = 2
         |      UNION ALL
         |      SELECT c_custkey + 1000000, CAST(c_custkey AS DOUBLE)
         |      FROM customer WHERE c_custkey % 10 = 8),
         |v2 AS (
         |  SELECT COALESCE(u.c_custkey, t.c_custkey) AS c_custkey,
         |    CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal
         |         ELSE t.c_acctbal END AS c_acctbal
         |  FROM t FULL OUTER JOIN u ON t.c_custkey = u.c_custkey
         |  WHERE COALESCE(u.c_custkey, t.c_custkey) NOT IN
         |    (SELECT c_custkey FROM customer WHERE c_custkey % 10 = 5)),
         |v3 AS (SELECT * FROM v2 WHERE c_custkey % 10 <> 7),
         |m AS (
         |  SELECT 1 AS version, (SELECT count(*) FROM t) AS n_rows,
         |    (SELECT ${dsum("c_acctbal")} FROM t) AS bal_sum
         |  UNION ALL SELECT 2, (SELECT count(*) FROM v2),
         |    (SELECT ${dsum("c_acctbal")} FROM v2)
         |  UNION ALL SELECT 3, (SELECT count(*) FROM v3),
         |    (SELECT ${dsum("c_acctbal")} FROM v3))
         |SELECT CAST(version AS BIGINT) AS version,
         |  CAST(n_rows AS BIGINT) AS n_rows, bal_sum
         |FROM m ORDER BY version""".stripMargin,
    "f21_optimistic_publish" ->
      // the race's three versions re-derived as SEQUENTIAL merges: v1 =
      // snapshot, v2 = bucket-2 +100 updates (publisher A, base 1), v3 =
      // v2 minus bucket-7 deletes (publisher B's RETRIED merge, base 2 —
      // so it must still contain A's updates; a lost update hashes
      // wrong). base_version literals mirror the lineage markers the
      // Spark side reads back from disk.
      s"""WITH v2 AS (SELECT c_custkey,
         |    CASE WHEN c_custkey % 10 = 2 THEN c_acctbal + 100.0
         |         ELSE c_acctbal END AS c_acctbal
         |  FROM customer),
         |m AS (
         |  SELECT 1 AS version, 0 AS base_version,
         |    (SELECT count(*) FROM customer) AS n_rows,
         |    (SELECT ${dsum("c_acctbal")} FROM customer) AS bal_sum
         |  UNION ALL SELECT 2, 1, (SELECT count(*) FROM v2),
         |    (SELECT ${dsum("c_acctbal")} FROM v2)
         |  UNION ALL SELECT 3, 2,
         |    (SELECT count(*) FROM v2 WHERE c_custkey % 10 <> 7),
         |    (SELECT ${dsum("c_acctbal")} FROM v2 WHERE c_custkey % 10 <> 7))
         |SELECT CAST(version AS BIGINT) AS version,
         |  CAST(base_version AS BIGINT) AS base_version,
         |  CAST(n_rows AS BIGINT) AS n_rows, bal_sum
         |FROM m ORDER BY version""".stripMargin,
    "f25_bucket_rescale" ->
      // content preservation through the rescale is pure customer
      // arithmetic (the two insert-only deltas tile the table); the
      // per-row routing measurement is Spark-side (bucket ids are
      // xxhash64 artifacts) and the oracle pins the all-true column
      """SELECT c_custkey, c_name, c_acctbal, TRUE AS routed_ok
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "f24_branch_merge" ->
      // the four lifecycle stages from pure customer arithmetic:
      // main_v1 = the snapshot; branch_exp / main_merged /
      // main_after_stale_reject = the snapshot with bucket-2 balances
      // +100 (the merge adopted the branch; the stale rejection moved
      // nothing). Exact-decimal balance sums per bucket.
      s"""WITH b AS (SELECT c_custkey % 10 AS bucket, c_acctbal,
         |    CASE WHEN c_custkey % 10 = 2 THEN c_acctbal + 100.0
         |         ELSE c_acctbal END AS bumped
         |  FROM customer),
         |v1 AS (SELECT bucket, count(*) AS n_rows,
         |    ${dsum("c_acctbal")} AS bal_sum FROM b GROUP BY 1),
         |v2 AS (SELECT bucket, count(*) AS n_rows,
         |    ${dsum("bumped")} AS bal_sum FROM b GROUP BY 1)
         |SELECT stage, bucket, CAST(n_rows AS BIGINT) AS n_rows, bal_sum
         |FROM (
         |  SELECT 'main_v1' AS stage, * FROM v1
         |  UNION ALL SELECT 'branch_exp', * FROM v2
         |  UNION ALL SELECT 'main_merged', * FROM v2
         |  UNION ALL SELECT 'main_after_stale_reject', * FROM v2)
         |ORDER BY stage, bucket""".stripMargin,
    "f23_deletion_vectors" ->
      // the per-bucket live/deleted split after tombstoning buckets 5
      // and 7: pure bucket arithmetic over `customer` — the DV read
      // path must reproduce exactly the rows a predicate delete would
      // keep, with the deleted populations recovered from the vector.
      // bal_live stays NULL for fully-deleted buckets (no coalesce) —
      // both engines agg an absent group to NULL through the full join.
      s"""WITH l AS (SELECT c_custkey % 10 AS bucket, count(*) AS n_live,
         |    ${dsum("c_acctbal")} AS bal_live
         |  FROM customer WHERE c_custkey % 10 NOT IN (5, 7) GROUP BY 1),
         |d AS (SELECT c_custkey % 10 AS bucket, count(*) AS n_deleted
         |  FROM customer WHERE c_custkey % 10 IN (5, 7) GROUP BY 1)
         |SELECT COALESCE(l.bucket, d.bucket) AS bucket,
         |  CAST(COALESCE(n_live, 0) AS BIGINT) AS n_live, bal_live,
         |  CAST(COALESCE(n_deleted, 0) AS BIGINT) AS n_deleted
         |FROM l FULL OUTER JOIN d ON l.bucket = d.bucket
         |ORDER BY bucket""".stripMargin,
    "f22_atomic_cas_publish" -> {
      // the race's three versions per table as slice rollups: v1 =
      // buckets 0–7, v2 = 0–8 (publisher A), v3 = all (publisher B's
      // RETRIED bucket-9 merge over v2 — so a torn snapshot or a lost
      // update in EITHER table hashes wrong); base lineage 0/1/2
      val vers = Seq((1, "doc_id % 10 < 8"), (2, "doc_id % 10 < 9"),
        (3, "true"))
      val rows = Seq("by_lang" -> "lang", "by_source" -> "source").flatMap {
        case (tbl, k) => vers.map { case (v, w) =>
          s"""  SELECT '$tbl' AS tbl, $v AS version, ${v - 1} AS base_version,
             |    (SELECT count(DISTINCT $k) FROM documents WHERE $w) AS n_groups,
             |    (SELECT count(*) FROM documents WHERE $w) AS total_n""".stripMargin
        }
      }.mkString("\nUNION ALL\n")
      s"""SELECT tbl, CAST(version AS BIGINT) AS version,
         |  CAST(base_version AS BIGINT) AS base_version,
         |  CAST(n_groups AS BIGINT) AS n_groups,
         |  CAST(total_n AS BIGINT) AS total_n
         |FROM (
         |$rows)
         |ORDER BY tbl, version""".stripMargin
    },
    // d44: integer weight numerators ⇒ exact sums; the logit is one IEEE
    // division of engine-identical integers — no rounding.
    "d44_quality_classifier" ->
      s"""WITH $tokCte,
         |b AS (SELECT doc_id,
         |        CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % 64 AS b
         |      FROM tok),
         |w AS (SELECT doc_id, (b * 37 + 11) % 101 - 50 AS wnum FROM b),
         |a AS (SELECT doc_id, count(*) AS n_tokens,
         |        CAST(sum(wnum) AS BIGINT) AS znum
         |      FROM w GROUP BY doc_id)
         |SELECT doc_id, n_tokens,
         |  znum::DOUBLE / (n_tokens * 100) AS logit,
         |  znum::DOUBLE / (n_tokens * 100) >= 0.0 AS keep
         |FROM a ORDER BY doc_id""".stripMargin,
    // p05: p03's equi-width bin arithmetic over the combined extrema;
    // Laplace-smoothed slice shares; ln canonicalized to DECIMAL(30,6)
    // before the one multiply (d34 discipline) — terms bit-exact.
    "p05_psi_drift" ->
      """WITH t AS (SELECT doc_id,
        |             CAST(len(string_split(text, ' ')) AS DOUBLE) AS x
        |           FROM documents),
        |ext AS (SELECT min(x) AS lo, max(x) AS hi FROM t),
        |c AS (SELECT least(9, CAST(floor((x - lo) / ((hi - lo) / 10))
        |                          AS BIGINT)) AS bin,
        |        doc_id % 2 = 0 AS is_ref
        |      FROM t, ext),
        |h AS (SELECT bin,
        |        CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
        |        CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS cur_n
        |      FROM c GROUP BY bin),
        |tot AS (SELECT CAST(sum(ref_n) AS BIGINT) AS nr,
        |          CAST(sum(cur_n) AS BIGINT) AS nc FROM h)
        |SELECT bin, ref_n, cur_n,
        |  ((ref_n + 1)::DOUBLE / (nr + 10) - (cur_n + 1)::DOUBLE / (nc + 10))
        |  * CAST(CAST(ln(((ref_n + 1)::DOUBLE / (nr + 10)) /
        |                 ((cur_n + 1)::DOUBLE / (nc + 10)))
        |              AS DECIMAL(30,6)) AS DOUBLE) AS psi_term
        |FROM h, tot ORDER BY bin""".stripMargin,
    "p10_regression_profile" ->
      // the same decimal power sums, the same IEEE expression tree
      // textually — both engines round each sum to double once, then
      // every product/difference/sqrt is bit-identical
      s"""WITH a AS (SELECT l_returnflag AS flag, count(*) AS n,
         |    ${dsum("l_quantity")} AS sx, ${dsum("l_extendedprice")} AS sy,
         |    ${dsum("l_quantity * l_extendedprice")} AS sxy,
         |    ${dsum("l_quantity * l_quantity")} AS sxx,
         |    ${dsum("l_extendedprice * l_extendedprice")} AS syy
         |  FROM lineitem GROUP BY 1)
         |SELECT flag, n, sx AS sum_x, sy AS sum_y,
         |  CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
         |    THEN ${round4("(n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))")}
         |    END AS pearson_r,
         |  CASE WHEN (n * sxx - sx * sx) > 0
         |    THEN ${round4("(n * sxy - sx * sy) / (n * sxx - sx * sx)")}
         |    END AS slope,
         |  CASE WHEN (n * sxx - sx * sx) > 0
         |    THEN ${round4("(sy * sxx - sx * sxy) / (n * sxx - sx * sx)")}
         |    END AS intercept
         |FROM a ORDER BY flag""".stripMargin,
    "p11_embedding_profile" ->
      // p01's decimal power-sum discipline over the unnested vector
      // positions: both engines round each sum to double once, then
      // mean/stddev are the same IEEE expression tree on identical
      // inputs; min/max exact
      s"""WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
         |x0 AS (SELECT v, unnest(range(len(v))) AS i FROM e),
         |x AS (SELECT CAST(i AS INT) AS pos, v[CAST(i + 1 AS INT)] AS val
         |      FROM x0),
         |a AS (SELECT pos, count(val) AS n, ${dsum("val")} AS s,
         |        ${dsum("val * val")} AS s2,
         |        min(val) AS min, max(val) AS max
         |      FROM x GROUP BY pos)
         |SELECT pos, n, s / n AS mean,
         |  sqrt((s2 - s * s / n) / (n - 1)) AS stddev, min, max
         |FROM a ORDER BY pos""".stripMargin,
    "p09_fd_profile" ->
      // key rules: violations = rows − distinct; FD rules: LHS groups
      // with >1 distinct RHS. All integer counts.
      """SELECT 'key_orders_orderkey' AS rule,
        |  count(*) AS lhs_count,
        |  count(*) - count(DISTINCT o_orderkey) AS violations,
        |  count(*) = count(DISTINCT o_orderkey) AS holds
        |FROM orders
        |UNION ALL
        |SELECT 'key_lineitem_orderkey_linenumber', count(*),
        |  count(*) - count(DISTINCT (l_orderkey, l_linenumber)),
        |  count(*) = count(DISTINCT (l_orderkey, l_linenumber))
        |FROM lineitem
        |UNION ALL
        |SELECT 'key_orders_custkey', count(*),
        |  count(*) - count(DISTINCT o_custkey),
        |  count(*) = count(DISTINCT o_custkey)
        |FROM orders
        |UNION ALL
        |SELECT 'fd_orderkey_to_orderdate', count(*),
        |  CAST(COALESCE(sum(CASE WHEN ny > 1 THEN 1 END), 0) AS BIGINT),
        |  COALESCE(sum(CASE WHEN ny > 1 THEN 1 END), 0) = 0
        |FROM (SELECT o_orderkey, count(DISTINCT o_orderdate) AS ny
        |      FROM orders GROUP BY 1)
        |UNION ALL
        |SELECT 'fd_custkey_to_orderpriority', count(*),
        |  CAST(COALESCE(sum(CASE WHEN ny > 1 THEN 1 END), 0) AS BIGINT),
        |  COALESCE(sum(CASE WHEN ny > 1 THEN 1 END), 0) = 0
        |FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS ny
        |      FROM orders GROUP BY 1)
        |UNION ALL
        |SELECT 'fd_lang_to_source', count(*),
        |  CAST(COALESCE(sum(CASE WHEN ny > 1 THEN 1 END), 0) AS BIGINT),
        |  COALESCE(sum(CASE WHEN ny > 1 THEN 1 END), 0) = 0
        |FROM (SELECT lang, count(DISTINCT source) AS ny
        |      FROM documents GROUP BY 1)
        |ORDER BY rule""".stripMargin,
    "p08_skew_profile" ->
      // top-10 heavy keys (count desc, key asc) + global distribution;
      // share and ratio_to_mean are exact-integer numerators with ONE
      // IEEE division; percentiles round4-contracted (e33 discipline).
      s"""WITH c AS (SELECT user_id, count(*) AS n FROM events
         |  GROUP BY user_id),
         |st AS (SELECT count(*) AS n_keys,
         |    CAST(sum(n) AS BIGINT) AS total_rows,
         |    ${round4("quantile_cont(n, 0.5)")} AS p50,
         |    ${round4("quantile_cont(n, 0.9)")} AS p90,
         |    ${round4("quantile_cont(n, 0.99)")} AS p99
         |  FROM c),
         |top AS (SELECT user_id, n FROM c
         |  ORDER BY n DESC, user_id LIMIT 10)
         |SELECT user_id, n,
         |  CAST(n AS DOUBLE) / total_rows AS share,
         |  CAST(n * n_keys AS DOUBLE) / total_rows AS ratio_to_mean,
         |  n_keys, total_rows, p50, p90, p99
         |FROM top, st
         |ORDER BY n DESC, user_id""".stripMargin,
    "p07_mad_outliers" ->
      // med/MAD are round4-contracted interpolated medians (the e33
      // contract); threshold = one multiply by the folded constant
      // 3·1.4826 = 4.4478, itself round4-contracted.
      s"""WITH v AS (SELECT event_type, value FROM events),
         |m AS (SELECT event_type,
         |        ${round4("quantile_cont(value, 0.5)")} AS med
         |      FROM v GROUP BY event_type),
         |d AS (SELECT v.event_type, abs(v.value - m.med) AS dev, m.med
         |      FROM v JOIN m USING (event_type)),
         |md AS (SELECT event_type,
         |         ${round4("quantile_cont(dev, 0.5)")} AS mad
         |       FROM d GROUP BY event_type)
         |SELECT d.event_type, d.med, md.mad,
         |  ${round4("md.mad * 4.4478")} AS thr,
         |  count(*) AS n,
         |  CAST(COALESCE(sum(CASE WHEN d.dev >
         |    ${round4("md.mad * 4.4478")} THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS n_outliers,
         |  ${round4("max(d.dev)")} AS max_dev
         |FROM d JOIN md USING (event_type)
         |GROUP BY d.event_type, d.med, md.mad
         |ORDER BY d.event_type""".stripMargin,
    "p06_table_diff" ->
      // prev snapshot derived deterministically (mod-17 absent → added,
      // mod-10 draft text / mod-13 blank lang → changed, mod-23
      // synthetic keys → removed); all outputs integer counts.
      """WITH cur AS (SELECT doc_id, text, lang, source FROM documents),
        |prev AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN text || ' [draft]' ELSE text END
        |      AS text,
        |    CASE WHEN doc_id % 13 = 0 THEN '' ELSE lang END AS lang,
        |    source
        |  FROM cur WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, lang, source FROM cur
        |  WHERE doc_id % 23 = 0),
        |j AS (SELECT c.doc_id AS cid, p.doc_id AS pid,
        |        c.text AS ct, p.text AS pt, c.lang AS cl, p.lang AS pl,
        |        c.source AS cs, p.source AS ps
        |      FROM cur c FULL OUTER JOIN prev p ON c.doc_id = p.doc_id)
        |SELECT
        |  CAST(sum(CASE WHEN pid IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_added,
        |  CAST(sum(CASE WHEN cid IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed,
        |  CAST(sum(CASE WHEN cid IS NOT NULL AND pid IS NOT NULL
        |        AND (ct <> pt OR cl <> pl OR cs <> ps) THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_changed,
        |  CAST(sum(CASE WHEN cid IS NOT NULL AND pid IS NOT NULL
        |        AND ct = pt AND cl = pl AND cs = ps THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_unchanged,
        |  CAST(sum(CASE WHEN cid IS NOT NULL AND pid IS NOT NULL
        |        AND ct <> pt THEN 1 ELSE 0 END) AS BIGINT) AS chg_text,
        |  CAST(sum(CASE WHEN cid IS NOT NULL AND pid IS NOT NULL
        |        AND cl <> pl THEN 1 ELSE 0 END) AS BIGINT) AS chg_lang,
        |  CAST(sum(CASE WHEN cid IS NOT NULL AND pid IS NOT NULL
        |        AND cs <> ps THEN 1 ELSE 0 END) AS BIGINT) AS chg_source
        |FROM j""".stripMargin,
    "s11_running_totals" ->
      s"""SELECT event_type, count(*) AS n_events, ${dsum("value")} AS sum_value
         |FROM events WHERE event_type <> 'sentinel'
         |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "s13_trending_topk" ->
      // running item counts ranked desc, item-id tie-break, top 10;
      // the streaming side re-emits this whole table per batch.
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
        |  count(*) AS n
        |FROM events WHERE event_type <> 'sentinel'
        |GROUP BY 1 ORDER BY n DESC, item LIMIT 10""".stripMargin,
    "s12_timer_sessions" ->
      // gaps-and-islands at a 30-min gap; session_end = LAST EVENT (not
      // last+gap, which is s03's convention). The streaming side is the
      // timer-based TWS operator, pinned ≡ this form by StreamingSpec.
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |l AS (SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
        |  FROM e),
        |n AS (SELECT *, CASE WHEN gap_us IS NULL
        |    OR gap_us > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM l),
        |si AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sidx
        |  FROM n)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  count(*) AS n_events
        |FROM si GROUP BY user_id, sidx
        |ORDER BY user_id, session_start""".stripMargin,
    // f09: the derived table is the d01 survivor set, so every audit
    // observation is a deterministic function of `documents`; on this
    // clean input all checks pass and published_rows = survivor count.
    "f12_corrupt_records" ->
      // corruption planted at p_partkey ≡ 0 mod 13; clean-row sums
      // recomputed from the source (the quarantine contract, not the
      // version-dependent partial-field behavior of PERMISSIVE).
      s"""WITH c AS (SELECT p_partkey % 13 = 0 AS bad, p_size,
         |    p_retailprice FROM part)
         |SELECT count(*) AS n_rows,
         |  CAST(COALESCE(sum(CASE WHEN bad THEN 1 END), 0) AS BIGINT)
         |    AS n_corrupt,
         |  CAST(COALESCE(sum(CASE WHEN NOT bad THEN 1 END), 0) AS BIGINT)
         |    AS n_clean,
         |  CAST(COALESCE(sum(CASE WHEN NOT bad THEN p_size END), 0)
         |    AS BIGINT) AS size_sum,
         |  CAST(SUM(CAST((CASE WHEN NOT bad THEN p_retailprice END)
         |    AS DECIMAL(30,6))) AS DOUBLE) AS retail_sum
         |FROM c""".stripMargin,
    "f13_merge_upsert" ->
      // the change feed is re-derived from `customer` (mod-10 rules),
      // then merged: tombstoned keys absent, updates overwrite in
      // place, new keys offset by 10⁶ — the published snapshot re-read
      // must equal this row for row (storage round-trip included)
      s"""WITH t AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
         |u AS (SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal,
         |        'upsert' AS op FROM customer WHERE c_custkey % 10 = 2
         |      UNION ALL
         |      SELECT c_custkey + 1000000, 'New#' || CAST(c_custkey AS VARCHAR),
         |        CAST(c_custkey AS DOUBLE), 'upsert' FROM customer
         |      WHERE c_custkey % 10 = 8),
         |merged AS (
         |  SELECT COALESCE(u.c_custkey, t.c_custkey) AS c_custkey,
         |    CASE WHEN u.op IS NOT NULL THEN u.c_name ELSE t.c_name END
         |      AS c_name,
         |    CASE WHEN u.op IS NOT NULL THEN u.c_acctbal ELSE t.c_acctbal END
         |      AS c_acctbal,
         |    CASE WHEN u.op IS NOT NULL AND t.c_custkey IS NOT NULL
         |           THEN 'updated'
         |         WHEN u.op IS NOT NULL THEN 'inserted'
         |         ELSE 'kept' END AS action
         |  FROM t FULL OUTER JOIN u ON t.c_custkey = u.c_custkey)
         |SELECT c_custkey, c_name, c_acctbal, action FROM merged
         |WHERE c_custkey NOT IN
         |  (SELECT c_custkey FROM customer WHERE c_custkey % 10 = 5)
         |ORDER BY c_custkey""".stripMargin,
    "e45_transitive_closure" ->
      // the engine-native recursive-CTE form of the BFS kernel: same
      // fixture edges (p div 2 / p div 3), same mod-97 roots; UNION
      // (distinct) bounds the recursion on the DAG and the min() picks
      // the shortest of the multiple paths the shared substructure
      // creates.
      """WITH RECURSIVE e AS (
        |  SELECT p_partkey AS src, p_partkey // 2 AS dst FROM part
        |  WHERE p_partkey >= 2
        |  UNION ALL
        |  SELECT p_partkey, p_partkey // 3 FROM part WHERE p_partkey >= 3),
        |r AS (
        |  SELECT p_partkey AS root, p_partkey AS node, 0 AS hops
        |  FROM part WHERE p_partkey % 97 = 1
        |  UNION
        |  SELECT r.root, e.dst, r.hops + 1
        |  FROM r JOIN e ON e.src = r.node)
        |SELECT root, node, CAST(min(hops) AS BIGINT) AS min_hops
        |FROM r GROUP BY root, node ORDER BY root, node""".stripMargin,
    "e45b_deep_closure" ->
      // same recursive-CTE mirror over the segmented-chain fixture —
      // the engine's iteration count is its own business (DuckDB walks
      // the 63-deep chain level by level; Spark doubles in ~7 rounds);
      // only the closure must match. UNION ALL is safe: within-block
      // descending chains have exactly one path per pair.
      """WITH RECURSIVE e AS (
        |  SELECT p_partkey AS src, p_partkey - 1 AS dst FROM part
        |  WHERE p_partkey >= 2 AND p_partkey % 64 <> 0),
        |r AS (
        |  SELECT p_partkey AS root, p_partkey AS node, 0 AS hops
        |  FROM part WHERE p_partkey % 64 = 63
        |  UNION ALL
        |  SELECT r.root, e.dst, r.hops + 1
        |  FROM r JOIN e ON e.src = r.node)
        |SELECT root, node, CAST(min(hops) AS BIGINT) AS min_hops
        |FROM r GROUP BY root, node ORDER BY root, node""".stripMargin,
    "e45c_weighted_closure" ->
      // the weighted recursive-CTE mirror: same e45 DAG, integer edge
      // costs (div-2: src%7+1, div-3: src%5+3), min(cost) per pair.
      // UNION (distinct) bounds the recursion: costs are bounded small
      // integers on a finite DAG, so the (root,node,cost) triple set is
      // finite.
      """WITH RECURSIVE e AS (
        |  SELECT p_partkey AS src, p_partkey // 2 AS dst,
        |         (p_partkey % 7) + 1 AS w FROM part WHERE p_partkey >= 2
        |  UNION ALL
        |  SELECT p_partkey, p_partkey // 3, (p_partkey % 5) + 3 FROM part
        |  WHERE p_partkey >= 3),
        |r AS (
        |  SELECT p_partkey AS root, p_partkey AS node, 0 AS cost
        |  FROM part WHERE p_partkey % 97 = 1
        |  UNION
        |  SELECT r.root, e.dst, r.cost + e.w
        |  FROM r JOIN e ON e.src = r.node)
        |SELECT root, node, CAST(min(cost) AS BIGINT) AS min_cost
        |FROM r GROUP BY root, node ORDER BY root, node""".stripMargin,
    "f15_change_feed" ->
      // v1 and the merged current re-derived (the f14 CTEs with names),
      // then the four CDC row kinds: inserts = keys only in current,
      // deletes = keys only in v1, update pre/post pairs = keys whose
      // payload changed; unchanged keys emit nothing.
      s"""WITH v1 AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
         |u AS (SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal,
         |        'upsert' AS op FROM customer WHERE c_custkey % 10 = 2
         |      UNION ALL
         |      SELECT c_custkey + 1000000, 'New#' || CAST(c_custkey AS VARCHAR),
         |        CAST(c_custkey AS DOUBLE), 'upsert' FROM customer
         |      WHERE c_custkey % 10 = 8),
         |cur AS (
         |  SELECT COALESCE(u.c_custkey, t.c_custkey) AS c_custkey,
         |    CASE WHEN u.op IS NOT NULL THEN u.c_name ELSE t.c_name END
         |      AS c_name,
         |    CASE WHEN u.op IS NOT NULL THEN u.c_acctbal ELSE t.c_acctbal END
         |      AS c_acctbal
         |  FROM v1 t FULL OUTER JOIN u ON t.c_custkey = u.c_custkey
         |  WHERE COALESCE(u.c_custkey, t.c_custkey) NOT IN
         |    (SELECT c_custkey FROM customer WHERE c_custkey % 10 = 5)),
         |upd AS (SELECT t.c_custkey,
         |          t.c_name AS pre_name, t.c_acctbal AS pre_bal,
         |          c.c_name AS post_name, c.c_acctbal AS post_bal
         |        FROM v1 t JOIN cur c ON t.c_custkey = c.c_custkey
         |        WHERE t.c_name IS DISTINCT FROM c.c_name
         |           OR t.c_acctbal IS DISTINCT FROM c.c_acctbal)
         |SELECT c_custkey, c_name, c_acctbal, change_type FROM (
         |  SELECT c.c_custkey, c.c_name, c.c_acctbal, 'insert' AS change_type
         |  FROM cur c LEFT JOIN v1 t ON c.c_custkey = t.c_custkey
         |  WHERE t.c_custkey IS NULL
         |  UNION ALL
         |  SELECT t.c_custkey, t.c_name, t.c_acctbal, 'delete'
         |  FROM v1 t LEFT JOIN cur c ON t.c_custkey = c.c_custkey
         |  WHERE c.c_custkey IS NULL
         |  UNION ALL
         |  SELECT c_custkey, pre_name, pre_bal, 'update_preimage' FROM upd
         |  UNION ALL
         |  SELECT c_custkey, post_name, post_bal, 'update_postimage' FROM upd)
         |ORDER BY c_custkey, change_type""".stripMargin,
    "f16_version_retention" ->
      // the three-version ladder re-derived: v1 = snapshot, v2 = the
      // f13 merge (updates/tombstones/inserts), v3 = v2 minus the
      // bucket-7 delete feed. Manifest arithmetic mirrors the purge:
      // v1 purged (keepLast = 2 of 3), n_read = n_rows where retained,
      // NULL where vacuumed — the Spark side's n_read comes from
      // post-purge DISK reads, so retention fidelity is what hashes.
      s"""WITH t AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
         |u AS (SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal,
         |        'upsert' AS op FROM customer WHERE c_custkey % 10 = 2
         |      UNION ALL
         |      SELECT c_custkey + 1000000, 'New#' || CAST(c_custkey AS VARCHAR),
         |        CAST(c_custkey AS DOUBLE), 'upsert' FROM customer
         |      WHERE c_custkey % 10 = 8),
         |v2 AS (
         |  SELECT COALESCE(u.c_custkey, t.c_custkey) AS c_custkey
         |  FROM t FULL OUTER JOIN u ON t.c_custkey = u.c_custkey
         |  WHERE COALESCE(u.c_custkey, t.c_custkey) NOT IN
         |    (SELECT c_custkey FROM customer WHERE c_custkey % 10 = 5)),
         |v3 AS (SELECT c_custkey FROM v2 WHERE c_custkey % 10 <> 7),
         |m AS (
         |  SELECT 1 AS version, 'purged' AS status,
         |    (SELECT count(*) FROM t) AS n_rows
         |  UNION ALL SELECT 2, 'kept', (SELECT count(*) FROM v2)
         |  UNION ALL SELECT 3, 'current', (SELECT count(*) FROM v3))
         |SELECT CAST(version AS BIGINT) AS version, status,
         |  CAST(n_rows AS BIGINT) AS n_rows,
         |  CAST(CASE WHEN status = 'purged' THEN NULL ELSE n_rows END AS BIGINT)
         |    AS n_read
         |FROM m ORDER BY version""".stripMargin,
    "f17_stats_pruned_scan" ->
      // the manifest arithmetic re-derived: the same closed-form bins
      // (DuckDB `//` ≡ Spark long division), per-bin min/max, overlap
      // count vs the [500, 2500] box = files_read; the aggregate is the
      // plain filter (pruning + residual must lose nothing). The Spark
      // side's numbers come from the on-disk manifest + pruned read, so
      // a wrong prune hashes as a wrong file count or a wrong sum.
      s"""WITH b AS (SELECT min(l_orderkey) AS lo,
         |    GREATEST(max(l_orderkey) - min(l_orderkey) + 1, 1) AS rng
         |  FROM lineitem),
         |f AS (SELECT l_orderkey,
         |    LEAST(15, (l_orderkey - lo) * 16 // rng) AS file_id
         |  FROM lineitem, b),
         |m AS (SELECT file_id, min(l_orderkey) AS mn, max(l_orderkey) AS mx
         |  FROM f GROUP BY file_id),
         |k AS (SELECT count(*) AS files_total,
         |    count(*) FILTER (WHERE mx >= 500 AND mn <= 2500) AS files_read
         |  FROM m),
         |a AS (SELECT count(*) AS n_rows,
         |    ${dsum("l_quantity")} AS sum_qty,
         |    ${dsum("l_extendedprice")} AS revenue
         |  FROM lineitem WHERE l_orderkey BETWEEN 500 AND 2500)
         |SELECT n_rows, sum_qty, revenue,
         |  CAST(files_total AS BIGINT) AS files_total,
         |  CAST(files_read AS BIGINT) AS files_read
         |FROM a, k""".stripMargin,
    "f20_runtime_bloom_join" ->
      // the plain join — the bloom prefilter is conservative and the
      // real join runs after it, so results must be identical
      s"""SELECT p_brand, count(*) AS n_items,
         |  ${dsum("l_quantity")} AS sum_qty,
         |  ${dsum("l_extendedprice")} AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_size = 1
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "f19_atomic_publish" ->
      // the manifest recomputed from the corpus: both rollups are
      // clean partitions of documents, so every check passes and the
      // published row counts are the distinct-key counts
      """WITH n AS (SELECT count(*) AS total FROM documents),
        |kl AS (SELECT count(DISTINCT lang) AS k FROM documents),
        |ks AS (SELECT count(DISTINCT source) AS k FROM documents)
        |SELECT check_name, CAST(observed AS BIGINT) AS observed, ok FROM (
        |  SELECT 'by_lang_null_keys' AS check_name, 0 AS observed,
        |    TRUE AS ok
        |  UNION ALL SELECT 'by_lang_dup_keys', 0, TRUE
        |  UNION ALL SELECT 'by_lang_total_rows', total, TRUE FROM n
        |  UNION ALL SELECT 'by_source_null_keys', 0, TRUE
        |  UNION ALL SELECT 'by_source_dup_keys', 0, TRUE
        |  UNION ALL SELECT 'by_source_total_rows', total, TRUE FROM n
        |  UNION ALL SELECT 'totals_consistent', total, TRUE FROM n
        |  UNION ALL SELECT 'by_lang_published_rows', k, TRUE FROM kl
        |  UNION ALL SELECT 'by_source_published_rows', k, TRUE FROM ks)
        |ORDER BY check_name""".stripMargin,
    "f18_dynamic_pruning" ->
      // the dimension's Monday filter re-expressed as a plain WHERE —
      // the join on the distinct-day dim is an equi-join on a key the
      // filter fully determines, so pruning must lose nothing
      s"""WITH e AS (SELECT date_diff('day', DATE '1970-01-01',
         |    CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day_id, value
         |  FROM events)
         |SELECT CAST(day_id AS BIGINT) AS day_id, count(*) AS n_events,
         |  ${dsum("value")} AS sum_value
         |FROM e WHERE day_id % 7 = 4
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "f14_time_travel" ->
      // version 1 = the customer snapshot; version 2 = the f13 merge
      // applied; both re-derived here, aggregated per bucket and
      // full-outer joined — the Spark side reads the two versions from
      // the RETAINED directories, so the archive bytes must reproduce
      // this exactly (bucket 2 balance drift, bucket 5 tombstoned out
      // of current, bucket 8 count doubled by the offset inserts).
      s"""WITH v1 AS (SELECT c_custkey, c_acctbal FROM customer),
         |u AS (SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal,
         |        'upsert' AS op FROM customer WHERE c_custkey % 10 = 2
         |      UNION ALL
         |      SELECT c_custkey + 1000000, CAST(c_custkey AS DOUBLE),
         |        'upsert' FROM customer WHERE c_custkey % 10 = 8),
         |cur AS (
         |  SELECT COALESCE(u.c_custkey, t.c_custkey) AS c_custkey,
         |    CASE WHEN u.op IS NOT NULL THEN u.c_acctbal
         |         ELSE t.c_acctbal END AS c_acctbal
         |  FROM v1 t FULL OUTER JOIN u ON t.c_custkey = u.c_custkey
         |  WHERE COALESCE(u.c_custkey, t.c_custkey) NOT IN
         |    (SELECT c_custkey FROM customer WHERE c_custkey % 10 = 5)),
         |a AS (SELECT c_custkey % 10 AS bucket,
         |        CAST(count(*) AS BIGINT) AS n_v1,
         |        CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE)
         |          AS bal_v1
         |      FROM v1 GROUP BY 1),
         |c AS (SELECT c_custkey % 10 AS bucket,
         |        CAST(count(*) AS BIGINT) AS n_cur,
         |        CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE)
         |          AS bal_cur
         |      FROM cur GROUP BY 1)
         |SELECT COALESCE(a.bucket, c.bucket) AS bucket,
         |  COALESCE(n_v1, 0) AS n_v1, COALESCE(bal_v1, 0.0) AS bal_v1,
         |  COALESCE(n_cur, 0) AS n_cur, COALESCE(bal_cur, 0.0) AS bal_cur
         |FROM a FULL OUTER JOIN c ON a.bucket = c.bucket
         |ORDER BY bucket""".stripMargin,
    "f11_partition_overwrite" ->
      // per-lang checksum after the dynamic overwrite: the min lang
      // carries UPPERCASED content, every other lang the original — a
      // static-mode regression would empty the untouched partitions.
      """WITH t AS (SELECT lang,
        |    CASE WHEN lang = (SELECT min(lang) FROM documents)
        |         THEN upper(text) ELSE text END AS text
        |  FROM documents)
        |SELECT lang, count(*) AS n_rows,
        |  CAST(COALESCE(sum(('0x' || substr(md5(text), 1, 8))::BIGINT), 0)
        |       AS BIGINT) AS content_sum
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "f10_compaction" ->
      // content-derived facts only (layout facts live in StorageSpec);
      // the checksum sums per-doc md5 prefixes — order-independent
      // exact integers, the simhash-oracle technique.
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(COALESCE(sum(octet_length(encode(text))), 0) AS BIGINT)
        |    AS text_bytes,
        |  CASE WHEN count(*) = 0 THEN 0
        |       ELSE greatest(1, CAST(ceil(
        |         COALESCE(sum(octet_length(encode(text))), 0)::DOUBLE
        |           / 262144) AS BIGINT))
        |  END AS n_target_files,
        |  CAST(COALESCE(sum(('0x' || substr(md5(text), 1, 8))::BIGINT), 0)
        |       AS BIGINT) AS content_sum
        |FROM documents""".stripMargin,
    "f09_write_audit_publish" ->
      """WITH n AS (SELECT count(DISTINCT
        |             lower(trim(regexp_replace(nfc_normalize(text), '\s+', ' ', 'g'))))
        |             AS cnt FROM documents)
        |SELECT * FROM (
        |  SELECT 'rows_match_expected' AS check_name, cnt AS observed,
        |         true AS ok FROM n
        |  UNION ALL SELECT 'null_keys', 0, true FROM n
        |  UNION ALL SELECT 'dup_keys', 0, true FROM n
        |  UNION ALL SELECT 'published_rows', cnt, true FROM n)
        |ORDER BY check_name""".stripMargin,
    // e32: the same three conditional-min phases, clause for clause
    "e32_funnel" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events),
        |v AS (SELECT user_id, min(ts) AS v_ts FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS c_ts
        |      FROM e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.v_ts
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS p_ts
        |      FROM e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
        |      GROUP BY e.user_id),
        |u AS (SELECT DISTINCT user_id FROM e)
        |SELECT u.user_id,
        |  strftime(v.v_ts, '%Y-%m-%d %H:%M:%S') AS first_view,
        |  strftime(c.c_ts, '%Y-%m-%d %H:%M:%S') AS first_click_after,
        |  strftime(p.p_ts, '%Y-%m-%d %H:%M:%S') AS first_purchase_after,
        |  CAST((v.v_ts IS NOT NULL)::INT + (c.c_ts IS NOT NULL)::INT
        |       + (p.p_ts IS NOT NULL)::INT AS BIGINT) AS stage
        |FROM u LEFT JOIN v USING (user_id)
        |  LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin,
    // e33: integer microsecond weights; v·w DECIMAL-canonicalized before
    // the order-independent sum. The ratio carries round4, because the
    // large-magnitude decimal sum's →DOUBLE cast is not correctly
    // rounded in DuckDB (Canon.round8 note) — raw division diverged by
    // 1 ulp on 3/150 users.
    "e33_twap" ->
      s"""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
         |             value FROM events),
         |l AS (SELECT user_id, value,
         |        epoch_us(lead(ts) OVER (PARTITION BY user_id
         |                    ORDER BY ts, event_id)) - epoch_us(ts) AS w_us
         |      FROM e)
         |SELECT user_id, count(*) AS n_held,
         |  CAST(sum(w_us) AS BIGINT) AS held_us,
         |  ${round4("CAST(SUM(CAST(value * w_us AS DECIMAL(30,6))) AS DOUBLE) / CAST(sum(w_us) AS BIGINT)")} AS twap
         |FROM l WHERE w_us IS NOT NULL
         |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // d45: levenshtein is the same integer DP in both engines; edit_sim
    // is one division of identical integers — no rounding.
    "d45_edit_verify" -> editVerifySql,
    "e22_sql_frontend" ->
      s"""SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
         |  count(*) AS n_items,
         |  ${dsum("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name, year(o_orderdate)
         |ORDER BY n_name, yr""".stripMargin,
    "e23_correlated_subquery" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_totalprice > 1.5 *
        |      (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |              / COUNT(*)
        |       FROM orders))
        |ORDER BY c_custkey""".stripMargin,
    // The round-trip oracles aggregate the ORIGINAL parquet — a lossy
    // CSV/JSON write+read (type, precision, quoting) breaks the match.
    "f01_csv_roundtrip" -> partSummarySql,
    "f02_json_roundtrip" -> partSummarySql,
    "f04_orc_roundtrip" -> partSummarySql,
    "f05_bucketed_join" ->
      // oracle joins the ORIGINAL parquet — the bucketed write+read must
      // round-trip every row and value to hash-match
      s"""SELECT o_orderstatus, count(*) AS n_items,
         |  ${dsum("l_extendedprice")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "e26_string_agg" ->
      s"""SELECT r_name,
         |  array_to_string(list_sort(list_distinct(list(n_name))), ',') AS nations,
         |  count(*) AS n_suppliers, ${dsum("s_acctbal")} AS total_acctbal
         |FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "e27_stats_agg" ->
      // co-moments from EXACT decimal-product sums (inputs cast to
      // DECIMAL(18,2) BEFORE multiplying — rounding the double products
      // at scale 6 would misround in DuckDB at p·p ~ 10¹⁰), then the
      // identical double formula shapes as the Spark side, rounded at
      // small magnitudes only (see Relational.statsAgg scaladoc)
      s"""WITH b AS (
         |  SELECT l_returnflag,
         |    CAST(l_quantity AS DECIMAL(18,2)) AS x,
         |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y
         |  FROM lineitem),
         |a AS (
         |  SELECT l_returnflag, count(*) AS n,
         |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         |    CAST(sum(x * y) AS DOUBLE) AS sxy,
         |    CAST(sum(x * x) AS DOUBLE) AS sxx,
         |    CAST(sum(y * y) AS DOUBLE) AS syy
         |  FROM b GROUP BY l_returnflag)
         |SELECT l_returnflag, n,
         |  ${round4("sx / n")} AS mean_qty, ${round4("sy / n")} AS mean_price,
         |  ${round4("(sxy - sx * sy / n) / (n - 1)")} AS covar_qty_price,
         |  ${round8("(sxy - sx * sy / n) / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n))")}
         |    AS corr_qty_price,
         |  ${round4("sqrt((sxx - sx * sx / n) / (n - 1))")} AS stddev_qty,
         |  ${round4("sqrt((syy - sy * sy / n) / (n - 1))")} AS stddev_price
         |FROM a ORDER BY l_returnflag""".stripMargin,
    "e28_array_hof" ->
      // sum_qty: Spark folds exact decimals via the HOF aggregate;
      // dsum over the same group is the same exact value
      s"""WITH g AS (
         |  SELECT l_orderkey,
         |    list(l_quantity ORDER BY l_linenumber, l_quantity) AS qs,
         |    ${dsum("l_quantity")} AS sum_qty
         |  FROM lineitem GROUP BY l_orderkey)
         |SELECT l_orderkey, CAST(len(qs) AS BIGINT) AS n_items,
         |  qs[1] AS first_qty,
         |  len(list_filter(qs, x -> x > 45.0)) > 0 AS has_large,
         |  len(list_filter(qs, x -> NOT (x >= 10.0))) = 0 AS all_ge10,
         |  CAST(len(list_filter(qs, x -> x >= 25.0)) AS BIGINT) AS n_ge25,
         |  sum_qty
         |FROM g ORDER BY l_orderkey""".stripMargin,
    "e29_locf_fill" ->
      // dense per-user daily spine; gaps carry the previous day's value
      // via IGNORE NULLS last_value — same window shape as Spark's
      // last(col, ignoreNulls=true)
      s"""WITH e AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         |             value FROM events),
         |daily AS (SELECT user_id, day, ${dsum("value")} AS day_value
         |          FROM e GROUP BY 1, 2),
         |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
         |         FROM daily GROUP BY 1),
         |spine AS (SELECT user_id,
         |            CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
         |          FROM span),
         |j AS (SELECT s.user_id, s.day, d.day_value
         |      FROM spine s LEFT JOIN daily d USING (user_id, day))
         |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
         |  last_value(day_value IGNORE NULLS) OVER (
         |    PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
         |  day_value IS NULL AS was_gap
         |FROM j ORDER BY user_id, day""".stripMargin,
    "e43_interp_fill" ->
      // e29's spine + bracketing-observation windows; the interpolation
      // expression mirrors the Spark side's operand association exactly
      // (double arithmetic, days/days division, round4 canon)
      s"""WITH e AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         |             value FROM events),
         |daily AS (SELECT user_id, day, ${dsum("value")} AS day_value
         |          FROM e GROUP BY 1, 2),
         |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
         |         FROM daily GROUP BY 1),
         |spine AS (SELECT user_id,
         |            CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
         |          FROM span),
         |j AS (SELECT s.user_id, s.day, d.day_value
         |      FROM spine s LEFT JOIN daily d USING (user_id, day)),
         |w AS (SELECT user_id, day, day_value,
         |  last_value(day_value IGNORE NULLS) OVER (
         |    PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         |  last_value(CASE WHEN day_value IS NOT NULL THEN day END IGNORE NULLS)
         |    OVER (PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
         |  first_value(day_value IGNORE NULLS) OVER (
         |    PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         |  first_value(CASE WHEN day_value IS NOT NULL THEN day END IGNORE NULLS)
         |    OVER (PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
         |  FROM j)
         |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
         |  ${round4("""CASE WHEN day_value IS NOT NULL THEN day_value
         |    ELSE pv + (nv - pv) * (CAST(day - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE))
         |    END""")} AS filled_value,
         |  day_value IS NULL AS was_gap
         |FROM w ORDER BY user_id, day""".stripMargin,
    "e44_weighted_quantiles" ->
      // exact-decimal cumulative weights (Canon.dsum's rule applied to a
      // window); crossing comparisons are integer-scaled decimals; the
      // selected prices are raw input doubles — no rounding canon needed
      """WITH t AS (SELECT l_suppkey, l_extendedprice AS price,
        |             CAST(l_quantity AS DECIMAL(30,6)) AS w FROM lineitem),
        |c AS (SELECT l_suppkey, price,
        |        sum(w) OVER (PARTITION BY l_suppkey ORDER BY price
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |        sum(w) OVER (PARTITION BY l_suppkey) AS tot
        |      FROM t)
        |SELECT l_suppkey, count(*) AS n_items,
        |  CAST(max(tot) AS DOUBLE) AS total_qty,
        |  min(CASE WHEN cumw * 4 >= tot THEN price END) AS wq1,
        |  min(CASE WHEN cumw * 2 >= tot THEN price END) AS w_median,
        |  min(CASE WHEN cumw * 4 >= tot * 3 THEN price END) AS wq3
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "f06_schema_evolution" ->
      // the merged read must reproduce what the unsplit table computes:
      // pre-1995 rows have no o_orderstatus in their files → '<legacy>'
      s"""SELECT CASE WHEN year(o_orderdate) <= 1994 THEN '<legacy>'
         |            ELSE o_orderstatus END AS status,
         |  count(*) AS n_orders, ${dsum("o_totalprice")} AS total_price
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "d23_stratified_sample" ->
      // same md5-bucket arithmetic as d17, salted with the stratum
      """SELECT doc_id, lang,
        |  CAST(('0x' || substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 8))
        |         AS BIGINT) % 100 AS bucket,
        |  CAST(CASE WHEN lang = 'en' THEN 30 ELSE 90 END AS BIGINT) AS keep_rate,
        |  CAST(('0x' || substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 8))
        |         AS BIGINT) % 100
        |    < CASE WHEN lang = 'en' THEN 30 ELSE 90 END AS sampled
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d56_reservoir" ->
      // single-window bottom-k by the seeded md5 tag — equal to the
      // Spark side's salted two-phase form by bottom-k associativity
      """WITH t AS (SELECT doc_id, lang,
        |             substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 16)
        |               AS tag
        |           FROM documents),
        |r AS (SELECT doc_id, lang,
        |        CAST(row_number() OVER (PARTITION BY lang
        |          ORDER BY tag, doc_id) AS BIGINT) AS draw_rank
        |      FROM t)
        |SELECT doc_id, lang, draw_rank FROM r WHERE draw_rank <= 10
        |ORDER BY lang, draw_rank""".stripMargin,
    "d24_seq_packing" ->
      // per-shard running token total; bins are pure integer divisions
      """WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |c AS (SELECT doc_id, shard, n_tokens,
        |        CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
        |             AS BIGINT) AS cum
        |      FROM t)
        |SELECT doc_id, shard, n_tokens,
        |  cum - n_tokens AS start_off,
        |  (cum - n_tokens) // 256 AS first_bin,
        |  CASE WHEN n_tokens > 0 THEN (cum - 1) // 256
        |       ELSE (cum - n_tokens) // 256 END AS last_bin
        |FROM c ORDER BY doc_id""".stripMargin,
    "d25_cdc_chunks" ->
      // boundary iff md5-hash(token) % 16 = 0 (token ENDS its chunk);
      // chunk id = boundaries strictly before the token
      """WITH tok AS (SELECT doc_id, generate_subscripts(string_split(text,' '), 1) - 1 AS pos,
        |               unnest(string_split(text, ' ')) AS w
        |             FROM documents),
        |b AS (SELECT doc_id, pos, w,
        |        CASE WHEN CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % 16 = 0
        |             THEN 1 ELSE 0 END AS is_boundary
        |      FROM tok),
        |cid AS (SELECT doc_id, pos, w,
        |          CAST(COALESCE(sum(is_boundary) OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |               AS BIGINT) AS chunk_id
        |        FROM b)
        |SELECT doc_id, chunk_id, count(*) AS n_toks,
        |  CAST(min(pos) AS BIGINT) AS start_tok,
        |  md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_md5
        |FROM cid GROUP BY doc_id, chunk_id ORDER BY doc_id, chunk_id""".stripMargin,
    "d22_vocab_coverage" ->
      // top-20 vocab (corpus draws from 31 words — see LlmOps scaladoc)
      // with (freq DESC, word ASC) boundary tie-break;
      // membership via left join, oov_rate canonicalized at 4 dp
      s"""WITH $tokCte,
         |v AS (SELECT word FROM (
         |        SELECT word, count(*) AS freq FROM tok GROUP BY 1
         |        ORDER BY freq DESC, word ASC LIMIT 20)),
         |m AS (SELECT t.doc_id, t.word, v.word IS NULL AS oov
         |      FROM tok t LEFT JOIN v ON t.word = v.word)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  ${round4("sum(CASE WHEN oov THEN 1 ELSE 0 END)::DOUBLE / count(*)")} AS oov_rate
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d21_repetition" ->
      // occurrence (not distinct) 3-gram stream; dup_frac and top_share
      // are single divisions of exact counts, canonicalized at 4 dp
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |g AS (SELECT doc_id, unnest(
         |        [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS g
         |      FROM t WHERE len(t) >= 3),
         |pg AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
         |pd AS (SELECT doc_id, sum(c) AS n_grams, count(*) AS n_distinct,
         |         max(c) AS top_count FROM pg GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(pd.n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(coalesce(pd.n_distinct, 0) AS BIGINT) AS n_distinct,
         |  ${round4("CASE WHEN pd.n_grams IS NULL THEN 0.0 ELSE (pd.n_grams - pd.n_distinct)::DOUBLE / pd.n_grams END")} AS dup_frac,
         |  ${round4("CASE WHEN pd.n_grams IS NULL THEN 0.0 ELSE pd.top_count::DOUBLE / pd.n_grams END")} AS top_share,
         |  ${round4("CASE WHEN pd.n_grams IS NULL THEN 0.0 ELSE (pd.n_grams - pd.n_distinct)::DOUBLE / pd.n_grams END")} < 0.2 AS keep
         |FROM documents d LEFT JOIN pd USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "d71_threshold_sweep" -> {
      // d44's logit CTEs + d21's rule-label CTEs (prefixed names, the
      // d54 pattern), crossed with the shared integer τ grid; counts
      // integer-exact, ratios single guarded divisions
      val taus = graft.operators.QualityOps.SweepPcts
        .map(p => s"SELECT CAST($p AS BIGINT) AS tau_pct")
        .mkString("(", " UNION ALL ", ")")
      s"""WITH $tokCte,
         |mb AS (SELECT doc_id,
         |    CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % 64 AS b
         |  FROM tok),
         |mw AS (SELECT doc_id, (b * 37 + 11) % 101 - 50 AS wnum FROM mb),
         |ma AS (SELECT doc_id, count(*) AS n_tokens,
         |    CAST(sum(wnum) AS BIGINT) AS znum FROM mw GROUP BY doc_id),
         |model AS (SELECT doc_id, znum::DOUBLE / (n_tokens * 100) AS logit
         |  FROM ma),
         |rt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |rg AS (SELECT doc_id, unnest(
         |    [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])
         |      AS g
         |  FROM rt WHERE len(t) >= 3),
         |rpg AS (SELECT doc_id, g, count(*) AS c FROM rg GROUP BY 1, 2),
         |rpd AS (SELECT doc_id, sum(c) AS n_grams, count(*) AS n_distinct
         |  FROM rpg GROUP BY 1),
         |rule AS (SELECT d.doc_id,
         |    ${round4("CASE WHEN rpd.n_grams IS NULL THEN 0.0 ELSE (rpd.n_grams - rpd.n_distinct)::DOUBLE / rpd.n_grams END")} < 0.2
         |      AS label
         |  FROM documents d LEFT JOIN rpd USING (doc_id)),
         |x AS (SELECT tau_pct, logit >= tau_pct / 100.0 AS pred, label
         |  FROM model JOIN rule USING (doc_id), $taus),
         |c AS (SELECT tau_pct,
         |    CAST(SUM(CASE WHEN pred AND label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(SUM(CASE WHEN pred AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(SUM(CASE WHEN NOT pred AND label THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(SUM(CASE WHEN NOT pred AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM x GROUP BY 1)
         |SELECT tau_pct, tp, fp, fn, tn,
         |  CASE WHEN tp + fp > 0
         |    THEN ${round4("tp::DOUBLE / (tp + fp)")} END AS precision,
         |  CASE WHEN tp + fn > 0
         |    THEN ${round4("tp::DOUBLE / (tp + fn)")} END AS recall,
         |  CASE WHEN tp * 2 + fp + fn > 0
         |    THEN ${round4("tp::DOUBLE * 2 / (tp * 2 + fp + fn)")} END AS f1
         |FROM c ORDER BY tau_pct""".stripMargin
    },
    "d19_neardup_clusters" -> clustersSql,
    // d49 reads the PUBLISHED pair store (same deterministic d02
    // relation) — d19's oracle applies verbatim, like d47/d48.
    "d49_store_clusters" -> clustersSql,
    "d72_leakage_free_split" ->
      // the shared cluster chain + the d17 bucket rule at BOTH grains
      s"""WITH RECURSIVE $pairsCtes,
         |$clusterCtes,
         |b AS (SELECT doc_id, cluster_id,
         |    CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))
         |      AS BIGINT) % 100 AS cb,
         |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |      AS BIGINT) % 100 AS db
         |  FROM asg)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN cb < 80 THEN 'train' WHEN cb < 90 THEN 'val'
         |       ELSE 'test' END AS split,
         |  CASE WHEN db < 80 THEN 'train' WHEN db < 90 THEN 'val'
         |       ELSE 'test' END AS naive_split,
         |  (CASE WHEN cb < 80 THEN 'train' WHEN cb < 90 THEN 'val'
         |        ELSE 'test' END) <>
         |  (CASE WHEN db < 80 THEN 'train' WHEN db < 90 THEN 'val'
         |        ELSE 'test' END) AS moved
         |FROM b ORDER BY doc_id""".stripMargin,
    "d53_cluster_keep_best" -> keepBestSql,
    "d54_filter_agreement" ->
      // both scorers' CTEs verbatim (d44 model, d52 rules), joined on
      // doc_id → 2×2 confusion; share is ONE division.
      s"""WITH $tokCte,
         |mb AS (SELECT doc_id,
         |    CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % 64 AS b
         |  FROM tok),
         |mw AS (SELECT doc_id, (b * 37 + 11) % 101 - 50 AS wnum FROM mb),
         |ma AS (SELECT doc_id, count(*) AS n,
         |    CAST(sum(wnum) AS BIGINT) AS z FROM mw GROUP BY doc_id),
         |mk AS (SELECT doc_id, z::DOUBLE / (n * 100) >= 0.0 AS model_keep
         |  FROM ma),
         |rc AS (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY 1, 2),
         |ra AS (SELECT doc_id, sum(c) AS n, sum(c * len(word)) AS sl,
         |    max(c) AS mx, count(*) AS nd FROM rc GROUP BY doc_id),
         |rk AS (SELECT doc_id, (n >= 12 AND sl * 10 >= n * 40
         |    AND sl * 10 <= n * 50 AND mx * 5 <= n AND nd * 10 >= n * 3)
         |    AS rules_keep FROM ra),
         |j AS (SELECT m.model_keep, r.rules_keep
         |  FROM mk m JOIN rk r USING (doc_id)),
         |t AS (SELECT count(*) AS n_docs FROM j)
         |SELECT model_keep, rules_keep, count(*) AS n,
         |  count(*)::DOUBLE / n_docs AS share
         |FROM j, t GROUP BY model_keep, rules_keep, n_docs
         |ORDER BY model_keep, rules_keep""".stripMargin,
    "d26_token_budget" ->
      // flat per-source prefix sum over the md5 order key — equivalent
      // to the Spark side's 16-way bucketed decomposition because the
      // bucket (first hex char) is a PREFIX of the order key
      """WITH t AS (SELECT doc_id, source,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |             md5(CAST(doc_id AS VARCHAR)) AS h
        |           FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |        CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |        CAST(ceil(sum(n_tokens) OVER (PARTITION BY source) * 0.5)
        |             AS BIGINT) AS budget
        |      FROM t)
        |SELECT doc_id, source, n_tokens,
        |  cum - n_tokens AS cum_before, budget,
        |  cum - n_tokens < budget AS selected
        |FROM c ORDER BY doc_id""".stripMargin,
    "d27_token_entropy" ->
      // per-term ln canonicalized to DECIMAL(30,6) before the exact sum
      // (Canon discipline); entropy is ONE division, shipped raw
      s"""WITH $tokCte,
         |c AS (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY 1, 2),
         |t AS (SELECT doc_id, c,
         |        CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n,
         |        CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS nd
         |      FROM c),
         |e AS (SELECT doc_id, max(n) AS n_tokens, max(nd) AS n_distinct,
         |        CAST(SUM(CAST((c * (ln(n) - ln(c))) AS DECIMAL(30,6)))
         |             AS DOUBLE) / max(n) AS entropy
         |      FROM t GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_distinct, entropy,
         |  entropy >= 2.5 AS keep
         |FROM e ORDER BY doc_id""".stripMargin,
    "d28_length_trim" ->
      // native percent_rank — ties share a rank, so the Spark side's
      // histogram-based (rows-shorter)/(total-1) is the same quantity
      """WITH t AS (SELECT doc_id, lang,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |p AS (SELECT doc_id, lang, n_tokens,
        |        percent_rank() OVER (PARTITION BY lang ORDER BY n_tokens) AS pct
        |      FROM t)
        |SELECT doc_id, lang, n_tokens, pct,
        |  pct >= 0.1 AND pct <= 0.9 AS keep
        |FROM p ORDER BY doc_id""".stripMargin,
    "s09_dedup_window" ->
      // first event per (user, event_type) by (ts, event_id), then the
      // same tumbling hour aggregation as s01
      s"""WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
         |             value,
         |             row_number() OVER (PARTITION BY user_id, event_type
         |               ORDER BY ts, event_id) AS rn
         |           FROM events)
         |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
         |    AS window_start,
         |  event_type, count(*) AS n_events, ${dsum("value")} AS sum_value
         |FROM e WHERE rn = 1
         |GROUP BY date_trunc('hour', ts), event_type
         |ORDER BY window_start, event_type""".stripMargin,
    "d20_contamination" -> contaminationSql,
    // d47/d48 read the PUBLISHED pair store; the store's content is the
    // deterministic d02 relation, so the recomputing twins' oracles
    // apply verbatim — sharing the literal string keeps store-fed ≡
    // recomputed definitional.
    "d47_store_contamination" -> contaminationSql,
    "d70_lsh_tuning" -> {
      // generated from the SAME LshConfigs the Spark side sweeps, with
      // s^r and (1-s^r)^b as the same fixed-order multiplication
      // chains (pow is libm — 1-ulp engine drift — so neither side
      // calls it on data; s* is one shared driver-side literal)
      val selects = graft.operators.PairStore.LshConfigs.map {
        case (name, b, r) =>
          val sr = Seq.fill(r)("jac").mkString(" * ")
          val miss = Seq.fill(b)(s"(1.0 - $sr)").mkString(" * ")
          val catchP = round4(s"1.0 - $miss")
          val sStar = BigDecimal(math.pow(1.0 / b, 1.0 / r))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          s"""SELECT '$name' AS config, CAST($b AS BIGINT) AS bands,
             |  CAST($r AS BIGINT) AS rows_per_band,
             |  CAST($sStar AS DOUBLE) AS s_star,
             |  count(*) AS n_pairs,
             |  ${round4(s"${dsum(catchP)} / count(*)")} AS expected_recall,
             |  min($catchP) AS min_p
             |FROM pairs""".stripMargin
      }
      s"""WITH $pairsCtes
         |${selects.mkString("\n", "\nUNION ALL\n", "\n")}
         |ORDER BY config""".stripMargin
    },
    "d69_contrastive_pairs" ->
      // the shared pair CTEs, then: best partner per anchor by
      // (jac DESC, id), md5 probes over the id domain, existence join,
      // family ANTI JOIN, collision dedup by min c, top-3 by (c, cand)
      s"""WITH $pairsCtes,
         |sym AS (SELECT i AS a, j AS b, jac FROM pairs
         |        UNION ALL SELECT j, i, jac FROM pairs),
         |best AS (SELECT anchor, b AS positive, jac AS pos_jac FROM (
         |    SELECT a AS anchor, b, jac, row_number() OVER
         |      (PARTITION BY a ORDER BY jac DESC, b) AS rn FROM sym)
         |  WHERE rn = 1),
         |nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
         |pr AS (SELECT anchor,
         |         CAST(c AS BIGINT) AS c,
         |         CAST(('0x' || substr(md5(anchor::VARCHAR || '_' ||
         |           c::VARCHAR), 1, 8)) AS BIGINT) % n AS cand
         |       FROM best, nn, (SELECT unnest(range(1, 9)) AS c)),
         |ex AS (SELECT pr.anchor, pr.c, pr.cand FROM pr
         |       JOIN documents dd ON dd.doc_id = pr.cand
         |       WHERE pr.cand <> pr.anchor),
         |fam AS (SELECT ex.anchor, ex.c, ex.cand FROM ex
         |        ANTI JOIN sym ON sym.a = ex.anchor AND sym.b = ex.cand),
         |ded AS (SELECT anchor, cand, min(c) AS c FROM fam GROUP BY 1, 2),
         |rk AS (SELECT anchor, cand, row_number() OVER
         |         (PARTITION BY anchor ORDER BY c, cand) AS rn FROM ded)
         |SELECT b.anchor, b.positive, b.pos_jac,
         |  n1.cand AS neg1, n2.cand AS neg2, n3.cand AS neg3
         |FROM best b
         |LEFT JOIN rk n1 ON n1.anchor = b.anchor AND n1.rn = 1
         |LEFT JOIN rk n2 ON n2.anchor = b.anchor AND n2.rn = 2
         |LEFT JOIN rk n3 ON n3.anchor = b.anchor AND n3.rn = 3
         |ORDER BY b.anchor""".stripMargin,
    "d48_store_edit_verify" -> editVerifySql,
    "d58_fuzzy_join" ->
      // UNBLOCKED mirror: cross join + levenshtein ≤ 1 — hash equality
      // also proves the Spark side's delete-1 blocking lost no pair
      """WITH pert AS (SELECT c_custkey AS r_id,
        |    substr(c_name, 1, p - 1)
        |      || CAST((CAST(substr(c_name, p, 1) AS INT) + 1) % 10 AS VARCHAR)
        |      || substr(c_name, p + 1) AS r_key
        |  FROM (SELECT c_custkey, c_name,
        |          CAST(c_custkey % 9 + 10 AS INT) AS p FROM customer
        |        WHERE c_custkey % 7 = 3)),
        |l AS (SELECT c_custkey AS l_id, c_name AS l_key FROM customer)
        |SELECT l_id, l_key, r_id, r_key,
        |  CAST(levenshtein(l_key, r_key) AS BIGINT) AS lev
        |FROM l, pert WHERE levenshtein(l_key, r_key) <= 1
        |ORDER BY l_id, r_id""".stripMargin,
    "d59_kmeans" -> kmeansSql,
    "d60_cluster_semdedup" -> clusterSemdedupSql,
    "d63_cluster_sample" -> clusterSampleSql,
    "d64_cluster_profile" -> clusterProfileSql,
    "d65_bpe_merges" ->
      // the 3 BPE rounds unrolled (shared bpeCtes): per round, pair
      // counts off the space-joined symbol reps (overlaps included —
      // the classic formulation), argmax by (count DESC, l, r), merge =
      // the SAME left-to-right non-overlapping `replace` the Spark side
      // runs. Integer counts and exact strings — nothing to round.
      s"""WITH $bpeCtes
         |SELECT CAST(step AS BIGINT) AS step, lhs, rhs, pair_count FROM (
         |  SELECT 1 AS step, l AS lhs, r AS rhs, pair_count FROM b1
         |  UNION ALL SELECT 2, l, r, pair_count FROM b2
         |  UNION ALL SELECT 3, l, r, pair_count FROM b3)
         |ORDER BY step""".stripMargin,
    "d76_unigram_lm" ->
      // the two hard-EM rounds unrolled: seed substring counts,
      // Viterbi round 1 (the packed-string DP, 12 per-position CTE
      // steps), prune-unused (chars survive), re-score, Viterbi
      // round 2; ln canonicalized to DECIMAL(30,6) per term (d34),
      // usage counts integer-exact, share round4-contracted
      d76Sql,
    "d77_unigram_encode" ->
      // the shared trained vocabulary applied: per-word token counts
      // off the round-2 best segmentations + the d68 doc-grain join
      d77Sql,
    "d81_wordpiece_encode" ->
      // the positional (##) seed vocabulary + the greedy longest-match
      // steps unrolled (12 per-position CTEs, each consuming the
      // longest vocabulary piece), then the d77 doc-grain join
      d81Sql,
    "d83_tokenizer_profile" ->
      // the three families' training/segmentation chains composed under
      // one tok/wf + per-family vocabulary-grain stats (see d83Sql)
      d83Sql,
    "d85_tokenizer_store" ->
      // the four store tables' WAP manifests by invariant (see d85Sql)
      d85Sql,
    "d68_bpe_encode" ->
      // the same 3 training rounds, then the THIRD rule applied (r3 —
      // training materializes only r2), symbol counts on the vocab,
      // doc grain via the token stream joined back on word
      s"""WITH $bpeCtes,
         |r3 AS (SELECT word, replace(replace(rep,
         |    ' ' || (SELECT l FROM b3) || ' ' || (SELECT r FROM b3) || ' ',
         |    ' ' || (SELECT l FROM b3) || (SELECT r FROM b3) || ' '),
         |    ' ' || (SELECT l FROM b3) || ' ' || (SELECT r FROM b3) || ' ',
         |    ' ' || (SELECT l FROM b3) || (SELECT r FROM b3) || ' ') AS rep
         |    FROM r2),
         |wt AS (SELECT word,
         |        CAST(len(string_split(trim(rep), ' ')) AS BIGINT) AS n_sym,
         |        CAST(length(word) AS BIGINT) AS n_chr FROM r3),
         |tw AS (SELECT doc_id, word FROM tok WHERE length(word) > 0),
         |pd AS (SELECT doc_id, count(*) AS n_words,
         |         SUM(n_chr) AS n_chars, SUM(n_sym) AS n_tokens
         |       FROM tw JOIN wt USING (word) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(pd.n_words, 0) AS BIGINT) AS n_words,
         |  CAST(COALESCE(pd.n_chars, 0) AS BIGINT) AS n_chars,
         |  CAST(COALESCE(pd.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  CASE WHEN pd.n_chars IS NOT NULL AND pd.n_chars > 0
         |    THEN ${round4("pd.n_tokens::DOUBLE / pd.n_chars")}
         |    ELSE NULL END AS compression
         |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "d66_hybrid_rrf" ->
      // the two retrievers' own oracles (d31's scored CTE, d04's cosine
      // list) ranked inside their top-20 frames, full-outer fused by
      // Σ 1/(60+rank) — one IEEE division per list + one addition, so
      // the fused double is bit-identical cross-engine; absent list →
      // exactly 0 via COALESCE; ties break by doc_id
      s"""WITH $bm25Cte,
         |lex AS (SELECT doc_id, score FROM sc
         |        ORDER BY score DESC, doc_id LIMIT 20),
         |lexr AS (SELECT doc_id, row_number() OVER
         |           (ORDER BY score DESC, doc_id) AS lex_rank FROM lex),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |sem AS (SELECT doc_id, sim FROM (
         |          SELECT vec_id AS doc_id, ${round4(cosSql("v", "qv"))} AS sim
         |          FROM e, q) ORDER BY sim DESC, doc_id LIMIT 20),
         |semr AS (SELECT doc_id, row_number() OVER
         |           (ORDER BY sim DESC, doc_id) AS sem_rank FROM sem)
         |SELECT doc_id,
         |  CAST(lex_rank AS BIGINT) AS lex_rank,
         |  CAST(sem_rank AS BIGINT) AS sem_rank,
         |  ${round4("COALESCE(1.0 / (60 + lex_rank), 0.0)" +
                     " + COALESCE(1.0 / (60 + sem_rank), 0.0)")} AS rrf
         |FROM lexr FULL OUTER JOIN semr USING (doc_id)
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    "d66b_hybrid_rrf_multi" -> {
      // the multi-query mirror: per-query term pairs generated from the
      // SAME pool rotation the Spark side builds (can't drift); lexical
      // contributions at posting grain (tf > 0 only — inverted-index
      // semantics) with d31's exact term arithmetic; per-query rank
      // windows; (query_id, doc_id)-keyed fusion. Per-query term sets
      // are size 2, so SUM(tscore) is a commutative 2-value IEEE sum —
      // order-independent.
      val pool = Seq("spark", "join", "window")
      val qt = (0 until 5).flatMap(q =>
          Seq((q, pool(q % 3)), (q, pool((q + 1) % 3))))
        .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
      val contrib =
        "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))" +
          " * (tf::DOUBLE * (1.2 + 1.0))" +
          " / (tf::DOUBLE + 1.2 * ((1.0 - 0.75)" +
          " + 0.75 * dl / (sum_dl::DOUBLE / n_docs)))"
      s"""WITH s AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |d AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
         |        CAST(len(list_filter(t, w -> w = 'spark')) AS BIGINT) AS tf_spark,
         |        CAST(len(list_filter(t, w -> w = 'join')) AS BIGINT) AS tf_join,
         |        CAST(len(list_filter(t, w -> w = 'window')) AS BIGINT) AS tf_window
         |      FROM s),
         |g AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
         |        sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS df_spark,
         |        sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
         |        sum(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS df_window
         |      FROM d),
         |m AS (SELECT doc_id, dl, 'spark' AS term, tf_spark AS tf FROM d WHERE tf_spark > 0
         |      UNION ALL SELECT doc_id, dl, 'join', tf_join FROM d WHERE tf_join > 0
         |      UNION ALL SELECT doc_id, dl, 'window', tf_window FROM d WHERE tf_window > 0),
         |tstats AS (SELECT 'spark' AS term, df_spark AS df, n_docs, sum_dl FROM g
         |       UNION ALL SELECT 'join', df_join, n_docs, sum_dl FROM g
         |       UNION ALL SELECT 'window', df_window, n_docs, sum_dl FROM g),
         |qt AS (SELECT CAST(q AS BIGINT) AS query_id, term
         |       FROM (VALUES $qt) v(q, term)),
         |c AS (SELECT doc_id, term, $contrib AS tscore
         |      FROM m JOIN tstats USING (term)),
         |lexsc AS (SELECT query_id, doc_id, ${round4("SUM(tscore)")} AS score
         |          FROM c JOIN qt USING (term) GROUP BY 1, 2),
         |lexr AS (SELECT query_id, doc_id, CAST(rn AS BIGINT) AS lex_rank FROM (
         |           SELECT query_id, doc_id, row_number() OVER
         |             (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
         |           FROM lexsc) WHERE rn <= 20),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |semsc AS (SELECT query_id, e.vec_id AS doc_id,
         |            ${round4(cosSql("v", "qv"))} AS sim FROM e, q),
         |semr AS (SELECT query_id, doc_id, CAST(rn AS BIGINT) AS sem_rank FROM (
         |           SELECT query_id, doc_id, row_number() OVER
         |             (PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rn
         |           FROM semsc) WHERE rn <= 20),
         |f AS (SELECT query_id, doc_id, lex_rank, sem_rank,
         |        ${round4("COALESCE(1.0 / (60 + lex_rank), 0.0)" +
                           " + COALESCE(1.0 / (60 + sem_rank), 0.0)")} AS rrf
         |      FROM lexr FULL OUTER JOIN semr USING (query_id, doc_id))
         |SELECT query_id, CAST(rn AS BIGINT) AS rnk, doc_id, lex_rank,
         |       sem_rank, rrf
         |FROM (SELECT *, row_number() OVER
         |        (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rn FROM f)
         |WHERE rn <= 10 ORDER BY query_id, rnk""".stripMargin
    },
    "d67_boilerplate_removal" ->
      // the d57 paragraphize/normalize CTEs with the SAME deterministic
      // planting the Spark side applies (footer on every doc, %3
      // banner, %20 promo), then: per-(source, para) doc frequency,
      // boilerplate = df >= 2 AND df/n_docs >= 30% (integer arithmetic
      // — no float share), anti-join removal of EVERY occurrence,
      // in-order reassembly of the survivors
      """WITH p AS (SELECT doc_id, source,
        |             regexp_replace(text, '((?:\S+ ){8})', '\1' || chr(10), 'g')
        |               || chr(10) || 'footer nav ' || source
        |               || CASE WHEN doc_id % 3 = 0
        |                    THEN chr(10) || 'cookie banner ' || source
        |                    ELSE '' END
        |               || CASE WHEN doc_id % 20 = 0
        |                    THEN chr(10) || 'rare promo' ELSE '' END
        |               AS pt
        |           FROM documents),
        |sp AS (SELECT doc_id, source,
        |         CAST(generate_subscripts(string_split(pt, chr(10)), 1) - 1
        |           AS BIGINT) AS pos,
        |         trim(nfc_normalize(unnest(string_split(pt, chr(10))))) AS norm
        |       FROM p),
        |spn AS (SELECT * FROM sp WHERE len(norm) > 0),
        |n AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |f AS (SELECT source, norm, count(DISTINCT doc_id) AS df
        |      FROM spn GROUP BY 1, 2),
        |bp AS (SELECT source, norm FROM f JOIN n USING (source)
        |       WHERE df >= 2 AND df * 100 >= 30 * n_docs),
        |k AS (SELECT doc_id, count(*) AS n_kept,
        |        string_agg(norm, chr(10) ORDER BY pos) AS kept_text
        |      FROM spn ANTI JOIN bp USING (source, norm) GROUP BY doc_id),
        |t AS (SELECT doc_id, count(*) AS n_paras FROM spn GROUP BY doc_id)
        |SELECT d.doc_id, d.source,
        |  CAST(COALESCE(t.n_paras, 0) AS BIGINT) AS n_paras,
        |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(length(COALESCE(k.kept_text, '')) AS BIGINT) AS kept_len,
        |  md5(COALESCE(k.kept_text, '')) AS kept_md5
        |FROM documents d
        |LEFT JOIN t ON d.doc_id = t.doc_id
        |LEFT JOIN k ON d.doc_id = k.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "d61_label_store_publish" ->
      // the WAP manifest over the label relation: Lloyd assignment is a
      // PARTITION of the corpus (every vector exactly one label), so
      // the audit counts are the embeddings count — the d46 shape
      """WITH n AS (SELECT count(*) AS cnt FROM embeddings)
        |SELECT * FROM (
        |  SELECT 'rows_match_expected' AS check_name, cnt AS observed,
        |         true AS ok FROM n
        |  UNION ALL SELECT 'null_keys', 0, true FROM n
        |  UNION ALL SELECT 'dup_keys', 0, true FROM n
        |  UNION ALL SELECT 'published_rows', cnt, true FROM n)
        |ORDER BY check_name""".stripMargin,
    "d58b_fuzzy_join2" ->
      // UNBLOCKED mirror at distance 2: cross join + levenshtein ≤ 2,
      // aggregated per batch key — hash equality proves the recursive
      // delete-2 blocking lost no pair. best_master decodes the integer
      // min over (lev, master id) — deterministic in both engines
      // (DuckDB arg_min leaves ties unspecified, so neither side uses it).
      """WITH pert AS (SELECT c_custkey AS r_id,
        |    substr(c_name, 1, p - 1)
        |      || CAST((CAST(substr(c_name, p, 1) AS INT) + 1) % 10 AS VARCHAR)
        |      || CAST((CAST(substr(c_name, p + 1, 1) AS INT) + 1) % 10 AS VARCHAR)
        |      || substr(c_name, p + 2) AS r_key
        |  FROM (SELECT c_custkey, c_name,
        |          CAST(c_custkey % 8 + 10 AS INT) AS p FROM customer
        |        WHERE c_custkey % 101 = 3)),
        |l AS (SELECT c_custkey AS l_id, c_name AS l_key FROM customer),
        |m AS (SELECT r_id, r_key, l_id,
        |        CAST(levenshtein(l_key, r_key) AS BIGINT) AS lev
        |      FROM l, pert WHERE levenshtein(l_key, r_key) <= 2)
        |SELECT r_id, r_key,
        |  CAST(count(*) AS BIGINT) AS n_matches,
        |  CAST(COALESCE(sum(CASE WHEN lev = 0 THEN 1 END), 0) AS BIGINT) AS n_d0,
        |  CAST(COALESCE(sum(CASE WHEN lev = 1 THEN 1 END), 0) AS BIGINT) AS n_d1,
        |  CAST(COALESCE(sum(CASE WHEN lev = 2 THEN 1 END), 0) AS BIGINT) AS n_d2,
        |  min(lev) AS min_lev,
        |  min(lev * 10000000000 + l_id) % 10000000000 AS best_master
        |FROM m GROUP BY r_id, r_key ORDER BY r_id""".stripMargin,
    // d46: every manifest observation is a deterministic function of
    // `documents` (the pair count via the shared pair CTEs); clean
    // input ⇒ all audits pass, published_rows = pair count.
    "d46_pair_store_publish" ->
      s"""WITH $pairsCtes,
         |n AS (SELECT count(*) AS cnt FROM pairs)
         |SELECT * FROM (
         |  SELECT 'rows_match_expected' AS check_name, cnt AS observed,
         |         true AS ok FROM n
         |  UNION ALL SELECT 'null_keys', 0, true FROM n
         |  UNION ALL SELECT 'dup_keys', 0, true FROM n
         |  UNION ALL SELECT 'published_rows', cnt, true FROM n)
         |ORDER BY check_name""".stripMargin,
    "f03_partitioned_parquet" ->
      s"""SELECT o_orderstatus, count(*) AS n_orders,
         |  ${dsum("o_totalprice")} AS total_price
         |FROM orders WHERE year(o_orderdate) = 1995
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "m01_binary_meta" ->
      // head_hex is sliced from hex(encode(text)) — BYTE semantics (first
      // 8 bytes of the UTF-8 payload), mirroring Spark's substring on
      // BINARY even for non-ASCII text; DuckDB v1.0 has no BLOB substring,
      // but 2 hex chars per byte makes the hex string slice byte-exact.
      // md5(VARCHAR) already hashes the UTF-8 bytes, so it needs no fix.
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS payload_md5,
        |  CAST(ceil(octet_length(encode(text))::DOUBLE / 64) AS BIGINT) AS n_frames,
        |  upper(substr(hex(encode(text)), 1, 16)) AS head_hex
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m02_frame_features" ->
      // BYTE-TRUE for arbitrary payloads: frames are sliced in HEX space
      // (2 hex chars per byte — the m01 head_hex idiom), so the oracle
      // mirrors Spark's BINARY substring even for non-ASCII text (the
      // old char-sliced oracle was ASCII-only). Features recomputed from
      // first principles over the hex-decoded byte values; every
      // numerator/denominator is an exact integer, each feature ONE
      // double division + float32 cast — bit-exact, round4 only as the
      // shared presentation canon (see Multimodal.frameFeatures).
      s"""WITH fr AS (
         |  SELECT doc_id, hex(encode(text)) AS hx,
         |    unnest(range(CAST(ceil(octet_length(encode(text))::DOUBLE / 64)
         |                      AS BIGINT))) AS frame_id
         |  FROM documents),
         |fb AS (
         |  SELECT doc_id, frame_id,
         |    substr(hx, CAST(frame_id * 128 + 1 AS BIGINT), 128) AS fh
         |  FROM fr),
         |b AS (SELECT doc_id, frame_id,
         |        CAST(length(fh) / 2 AS BIGINT) AS n, fh FROM fb),
         |bv AS (SELECT doc_id, frame_id, n, k,
         |         CAST(('0x' || substr(fh, CAST(k * 2 + 1 AS BIGINT), 2))
         |              AS BIGINT) AS v
         |       FROM (SELECT doc_id, frame_id, fh, n, unnest(range(n)) AS k
         |             FROM b)),
         |d AS (SELECT doc_id, frame_id, n, k, v,
         |        lag(v) OVER (PARTITION BY doc_id, frame_id ORDER BY k) AS pv
         |      FROM bv),
         |agg AS (SELECT doc_id, frame_id, n,
         |    CAST(sum(v) AS BIGINT) AS s1,
         |    CAST(sum(v * v) AS BIGINT) AS s2,
         |    CAST(count(DISTINCT v) AS BIGINT) AS nd,
         |    CAST(sum(CASE WHEN pv IS NULL THEN 0
         |             ELSE (v - pv) * (v - pv) END) AS BIGINT) AS de
         |  FROM d GROUP BY doc_id, frame_id, n)
         |SELECT doc_id, frame_id, n AS frame_len,
         |  ${round4("CAST(CAST(s1::DOUBLE / (255 * n) AS REAL) AS DOUBLE)")} AS f0,
         |  ${round4("CAST(CAST((n * s2 - s1 * s1)::DOUBLE / (65025 * n * n) AS REAL) AS DOUBLE)")} AS f1,
         |  ${round4("CAST(CAST(CASE WHEN n > 1 THEN de::DOUBLE / (65025 * (n - 1)) ELSE 0.0 END AS REAL) AS DOUBLE)")} AS f2,
         |  ${round4("CAST(CAST(nd::DOUBLE / n AS REAL) AS DOUBLE)")} AS f3
         |FROM agg ORDER BY doc_id, frame_id""".stripMargin,
    "m03_hop_windows" ->
      // ASCII-ONLY oracle, by necessity: win_md5 needs md5 of the sliced
      // BYTES, and DuckDB v1.0's md5 takes VARCHAR only — so the slice
      // must stay in char space, where char ≡ byte holds iff the corpus
      // is pure ASCII. MultimodalSpec's "corpus is pure ASCII" test
      // asserts octet_length == char length for every document at every
      // available sf, so a future non-ASCII fixture fails THERE with a
      // pointed message, not here as a mystery hash mismatch. win_len is
      // byte-exact via encode() regardless. (m01/m02/m04 are fully
      // byte-true via hex-space slicing and need no such assumption.)
      """WITH w AS (
        |  SELECT doc_id, text,
        |    unnest(range(CAST(ceil(octet_length(encode(text))::DOUBLE / 48)
        |                      AS BIGINT))) AS win_id
        |  FROM documents),
        |s AS (SELECT doc_id, win_id,
        |        substr(text, CAST(win_id * 48 + 1 AS BIGINT), 64) AS ws
        |      FROM w)
        |SELECT doc_id, win_id, CAST(win_id * 48 AS BIGINT) AS start_byte,
        |  CAST(octet_length(encode(ws)) AS BIGINT) AS win_len,
        |  md5(ws) AS win_md5
        |FROM s ORDER BY doc_id, win_id""".stripMargin,
    "m04_payload_stats" ->
      // BYTE-TRUE for arbitrary payloads: windows sliced in HEX space
      // (2 chars per byte — 48-byte hop = 96 chars, 64-byte window =
      // 128 chars), so slicing matches Spark's BINARY substring even for
      // non-ASCII text (the old oracle char-sliced first, a latent
      // ASCII-only assumption). All aggregates are integer-exact;
      // byte_mean / byte_var are each one IEEE division of
      // engine-identical integers (variance via n·Σv² − (Σv)² over n²),
      // so no rounding.
      """WITH w AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    unnest(range(CAST(ceil(octet_length(encode(text))::DOUBLE / 48)
        |                      AS BIGINT))) AS win_id
        |  FROM documents),
        |b AS (SELECT doc_id, win_id,
        |        substr(hx, CAST(win_id * 96 + 1 AS BIGINT), 128) AS h,
        |        CAST(length(substr(hx, CAST(win_id * 96 + 1 AS BIGINT), 128)) / 2
        |             AS BIGINT) AS n
        |      FROM w),
        |bv AS (SELECT doc_id, win_id, n, k,
        |         CAST(('0x' || substr(h, CAST(k * 2 + 1 AS BIGINT), 2))
        |              AS BIGINT) AS v
        |       FROM (SELECT doc_id, win_id, h, n, unnest(range(n)) AS k
        |             FROM b)),
        |d AS (SELECT doc_id, win_id, n, k, v,
        |        lag(v) OVER (PARTITION BY doc_id, win_id ORDER BY k) AS pv
        |      FROM bv)
        |SELECT doc_id, win_id, n AS win_len,
        |  min(v) AS byte_min, max(v) AS byte_max,
        |  CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
        |  CAST(sum(v) AS BIGINT)::DOUBLE / n AS byte_mean,
        |  CAST(n * sum(v * v) - sum(v) * sum(v) AS BIGINT)::DOUBLE
        |    / (n * n) AS byte_var,
        |  CAST(sum(CASE WHEN pv IS NULL THEN 0
        |           ELSE (v - pv) * (v - pv) END) AS BIGINT) AS delta_energy
        |FROM d GROUP BY doc_id, win_id, n
        |ORDER BY doc_id, win_id""".stripMargin,
    "m05_patch_grid" ->
      // 2-D patchify in HEX space (the m04 byte-true discipline): a
      // patch's 4 strided row slices are concatenated, then bytes
      // recovered as hex pairs. All outputs integer-exact.
      """WITH m AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    (octet_length(encode(text)) // 16) // 4 AS n_pr
        |  FROM documents),
        |g AS (SELECT doc_id, hx, unnest(range(n_pr * 4)) AS pid
        |      FROM m WHERE n_pr > 0),
        |p AS (SELECT doc_id, pid // 4 AS pr, pid % 4 AS pc,
        |        substr(hx, CAST((((pid // 4) * 4 + 0) * 16 + (pid % 4) * 4) * 2 + 1 AS BIGINT), 8)
        |        || substr(hx, CAST((((pid // 4) * 4 + 1) * 16 + (pid % 4) * 4) * 2 + 1 AS BIGINT), 8)
        |        || substr(hx, CAST((((pid // 4) * 4 + 2) * 16 + (pid % 4) * 4) * 2 + 1 AS BIGINT), 8)
        |        || substr(hx, CAST((((pid // 4) * 4 + 3) * 16 + (pid % 4) * 4) * 2 + 1 AS BIGINT), 8)
        |          AS ph
        |      FROM g),
        |bv AS (SELECT doc_id, pr, pc, length(ph) // 2 AS n,
        |         CAST(('0x' || substr(ph, CAST(k * 2 + 1 AS BIGINT), 2))
        |              AS BIGINT) AS v
        |       FROM (SELECT *, unnest(range(CAST(length(ph) // 2 AS BIGINT))) AS k
        |             FROM p))
        |SELECT doc_id, CAST(pr AS BIGINT) AS patch_row,
        |  CAST(pc AS BIGINT) AS patch_col, CAST(n AS BIGINT) AS patch_len,
        |  CAST(sum(v) AS BIGINT) AS byte_sum, min(v) AS byte_min,
        |  max(v) AS byte_max
        |FROM bv GROUP BY doc_id, pr, pc, n
        |ORDER BY doc_id, patch_row, patch_col""".stripMargin,
    "m08_asset_dedup" ->
      // the derived asset corpus (exact re-uploads ≡ 7 mod 20, one-
      // frame head trims ≡ 3 mod 20) re-built in HEX space (1 frame =
      // 128 hex chars), then the d02 CTE shapes at frame grain: per-doc
      // distinct frames, DF cap, rare-frame candidates, full-set verify
      s"""WITH bd AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
         |assets AS (
         |  SELECT doc_id, hx FROM bd
         |  UNION ALL SELECT doc_id + 200000, hx FROM bd WHERE doc_id % 20 = 7
         |  UNION ALL SELECT doc_id + 100000, substr(hx, 129) FROM bd
         |    WHERE doc_id % 20 = 3 AND length(hx) > 128),
         |fr AS (SELECT doc_id, unnest(list_distinct(
         |         [substr(hx, (i - 1) * 128 + 1, 128)
         |          for i in range(1, CAST(ceil(length(hx) / 128.0) AS BIGINT) + 1)]))
         |         AS fh
         |       FROM assets),
         |freq AS (SELECT fh, count(*) AS df FROM fr GROUP BY fh),
         |rare AS (SELECT doc_id, fh FROM fr JOIN freq USING (fh)
         |         WHERE df <= ${graft.operators.PairGraph.MaxShingleDf}),
         |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
         |         FROM rare a JOIN rare b
         |           ON a.fh = b.fh AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n_fr FROM fr GROUP BY doc_id),
         |common AS (SELECT c.i, c.j, count(*) AS n_common
         |           FROM cand c JOIN fr a ON a.doc_id = c.i
         |           JOIN fr b ON b.doc_id = c.j AND b.fh = a.fh
         |           GROUP BY 1, 2)
         |SELECT i, j, CAST(n_common AS BIGINT) AS n_common,
         |  CAST(si.n_fr AS BIGINT) AS n_i, CAST(sj.n_fr AS BIGINT) AS n_j,
         |  ${round4("n_common::DOUBLE / (si.n_fr + sj.n_fr - n_common)")} AS jac
         |FROM common JOIN sizes si ON si.doc_id = i
         |JOIN sizes sj ON sj.doc_id = j
         |WHERE n_common::DOUBLE / (si.n_fr + sj.n_fr - n_common) >= 0.5
         |ORDER BY i, j""".stripMargin,
    "m11_clip_containment" ->
      // m08's frame-grain candidate CTEs verbatim with the d40
      // containment denominator, over the base corpus + the derived
      // CLIP population (docs ≡ 5 mod 20 with > 4 frames contribute
      // frames 2..4, frame-aligned — hex chars 257..640)
      s"""WITH bd AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
         |assets AS (
         |  SELECT doc_id, hx FROM bd
         |  UNION ALL SELECT doc_id + 300000, substr(hx, 257, 384) FROM bd
         |    WHERE doc_id % 20 = 5 AND length(hx) > 512),
         |fr AS (SELECT doc_id, unnest(list_distinct(
         |         [substr(hx, (i - 1) * 128 + 1, 128)
         |          for i in range(1, CAST(ceil(length(hx) / 128.0) AS BIGINT) + 1)]))
         |         AS fh
         |       FROM assets),
         |freq AS (SELECT fh, count(*) AS df FROM fr GROUP BY fh),
         |rare AS (SELECT doc_id, fh FROM fr JOIN freq USING (fh)
         |         WHERE df <= ${graft.operators.PairGraph.MaxShingleDf}),
         |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
         |         FROM rare a JOIN rare b
         |           ON a.fh = b.fh AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n_fr FROM fr GROUP BY doc_id),
         |common AS (SELECT c.i, c.j, count(*) AS n_common
         |           FROM cand c JOIN fr a ON a.doc_id = c.i
         |           JOIN fr b ON b.doc_id = c.j AND b.fh = a.fh
         |           GROUP BY 1, 2)
         |SELECT i, j, CAST(n_common AS BIGINT) AS n_common,
         |  CAST(si.n_fr AS BIGINT) AS n_i, CAST(sj.n_fr AS BIGINT) AS n_j,
         |  ${round4("n_common::DOUBLE / least(si.n_fr, sj.n_fr)")} AS containment
         |FROM common JOIN sizes si ON si.doc_id = i
         |JOIN sizes sj ON sj.doc_id = j
         |WHERE n_common::DOUBLE / least(si.n_fr, sj.n_fr) >= 0.9
         |ORDER BY i, j""".stripMargin,
    "m09_interleaved_pack" ->
      // the d24 running-total bins with a 64-token vision prefix on
      // ~75% of docs; per-(shard, bin) occupancy by pure interval
      // arithmetic — integer `//` everywhere, nothing to round
      """WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT)
        |      + CASE WHEN doc_id % 4 < 3 THEN 64 ELSE 0 END AS n_tok,
        |    CAST(CASE WHEN doc_id % 4 < 3 THEN 64 ELSE 0 END AS BIGINT)
        |      AS n_vision
        |  FROM documents),
        |c AS (SELECT doc_id, shard, n_tok, n_vision,
        |        CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id)
        |             AS BIGINT) AS end_off
        |      FROM t),
        |sp AS (SELECT shard, n_vision, end_off, end_off - n_tok AS start_off
        |       FROM c WHERE n_tok > 0),
        |x AS (SELECT shard, start_off, end_off, n_vision,
        |        unnest(range(start_off // 256, (end_off - 1) // 256 + 1))
        |          AS bin
        |      FROM sp),
        |o AS (SELECT shard, bin,
        |        LEAST(end_off, (bin + 1) * 256)
        |          - GREATEST(start_off, bin * 256) AS tok_in_bin,
        |        GREATEST(0, LEAST(start_off + n_vision, (bin + 1) * 256)
        |          - GREATEST(start_off, bin * 256)) AS vis_in_bin
        |      FROM x)
        |SELECT shard, CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
        |  CAST(SUM(tok_in_bin - vis_in_bin) AS BIGINT) AS n_text_tokens,
        |  CAST(SUM(vis_in_bin) AS BIGINT) AS n_vision_tokens,
        |  CAST(SUM(tok_in_bin) AS BIGINT) AS fill
        |FROM o GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "m07_motion_energy" ->
      // frame differencing in HEX space: frame f's bytes start at
      // global position f*64; the pair compares the tail frame's own
      // (short) length. Integer energy; mean_sq ONE division.
      """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n
        |  FROM documents WHERE octet_length(encode(text)) > 0),
        |f AS (SELECT doc_id, hx, n,
        |    unnest(range(CAST(ceil(n::DOUBLE / 64) AS BIGINT))) AS fid
        |  FROM h),
        |p AS (SELECT doc_id, fid, hx, least(64, n - fid * 64) AS flen
        |  FROM f WHERE fid >= 1),
        |k AS (SELECT doc_id, fid, flen, hx,
        |    unnest(range(CAST(flen AS BIGINT))) AS kk
        |  FROM p),
        |v AS (SELECT doc_id, fid, flen,
        |    CAST(('0x' || substr(hx, CAST((fid * 64 + kk) * 2 + 1 AS BIGINT), 2))
        |      AS BIGINT) AS va,
        |    CAST(('0x' || substr(hx, CAST(((fid - 1) * 64 + kk) * 2 + 1 AS BIGINT), 2))
        |      AS BIGINT) AS vb
        |  FROM k)
        |SELECT doc_id, CAST(fid AS BIGINT) AS frame_id,
        |  CAST(flen AS BIGINT) AS n_common,
        |  CAST(sum((va - vb) * (va - vb)) AS BIGINT) AS motion_energy,
        |  CAST(sum((va - vb) * (va - vb)) AS BIGINT)::DOUBLE / flen AS mean_sq
        |FROM v GROUP BY doc_id, fid, flen
        |ORDER BY doc_id, frame_id""".stripMargin,
    "m10_shot_segments" ->
      // m07's HEX differencing verbatim, then the integer-exact
      // adaptive threshold (2·energy·n_pairs > 3·Σenergy — 1.5× mean,
      // no IEEE division) and a cumulative-cut islands window; frame 0
      // anchors shot 1, the cut frame opens its shot
      """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n
        |  FROM documents WHERE octet_length(encode(text)) > 0),
        |f AS (SELECT doc_id, hx, n,
        |    unnest(range(CAST(ceil(n::DOUBLE / 64) AS BIGINT))) AS fid
        |  FROM h),
        |p AS (SELECT doc_id, fid, hx, least(64, n - fid * 64) AS flen
        |  FROM f WHERE fid >= 1),
        |k AS (SELECT doc_id, fid, flen, hx,
        |    unnest(range(CAST(flen AS BIGINT))) AS kk
        |  FROM p),
        |v AS (SELECT doc_id, fid,
        |    CAST(('0x' || substr(hx, CAST((fid * 64 + kk) * 2 + 1 AS BIGINT), 2))
        |      AS BIGINT) AS va,
        |    CAST(('0x' || substr(hx, CAST(((fid - 1) * 64 + kk) * 2 + 1 AS BIGINT), 2))
        |      AS BIGINT) AS vb
        |  FROM k),
        |e AS (SELECT doc_id, fid,
        |    CAST(sum((va - vb) * (va - vb)) AS BIGINT) AS energy
        |  FROM v GROUP BY doc_id, fid),
        |t AS (SELECT doc_id, CAST(sum(energy) AS BIGINT) AS tot_e,
        |    count(*) AS n_pairs FROM e GROUP BY doc_id),
        |c AS (SELECT e.doc_id, fid, energy,
        |    CASE WHEN energy * n_pairs * 2 > tot_e * 3 THEN 1 ELSE 0 END AS cut
        |  FROM e JOIN t ON e.doc_id = t.doc_id),
        |u AS (SELECT f.doc_id, f.fid, coalesce(c.cut, 0) AS cut,
        |    coalesce(c.energy, 0) AS energy
        |  FROM f LEFT JOIN c ON f.doc_id = c.doc_id AND f.fid = c.fid),
        |g AS (SELECT *, 1 + sum(cut) OVER (PARTITION BY doc_id ORDER BY fid
        |    ROWS UNBOUNDED PRECEDING) AS shot_id FROM u)
        |SELECT doc_id, CAST(shot_id AS BIGINT) AS shot_id,
        |  CAST(min(fid) AS BIGINT) AS first_frame,
        |  CAST(max(fid) AS BIGINT) AS last_frame, count(*) AS n_frames,
        |  CAST(sum(energy) AS BIGINT) AS shot_energy
        |FROM g GROUP BY doc_id, shot_id
        |ORDER BY doc_id, shot_id""".stripMargin,
    "m06_rle_stats" ->
      // run counting in HEX space (2 hex chars = 1 byte, byte-true for
      // any payload): change-flag islands over generated positions;
      // n_runs/max_run integer-exact, rle_ratio ONE IEEE division.
      """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n
        |  FROM documents WHERE octet_length(encode(text)) > 0),
        |pos AS (SELECT doc_id, n, CAST(k AS BIGINT) AS i,
        |    substr(hx, CAST(k * 2 + 1 AS BIGINT), 2) AS b
        |  FROM (SELECT *, unnest(range(CAST(n AS BIGINT))) AS k FROM h)),
        |ch AS (SELECT *, CASE WHEN lag(b) OVER
        |    (PARTITION BY doc_id ORDER BY i) IS DISTINCT FROM b
        |    THEN 1 ELSE 0 END AS nw
        |  FROM pos),
        |isl AS (SELECT *, sum(nw) OVER (PARTITION BY doc_id ORDER BY i
        |    ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM ch),
        |runs AS (SELECT doc_id, n, run_id, count(*) AS rl
        |  FROM isl GROUP BY doc_id, n, run_id)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
        |  count(*) AS n_runs, CAST(max(rl) AS BIGINT) AS max_run,
        |  count(*)::DOUBLE / n AS rle_ratio
        |FROM runs GROUP BY doc_id, n
        |ORDER BY doc_id""".stripMargin,
    "s01_tumbling_window" ->
      s"""SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
         |         '%Y-%m-%d %H:%M:%S') AS window_start,
         |  event_type, count(*) AS n_events, ${dsum("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "s02_sliding_window" ->
      // 1h windows sliding by 30min: an event at t is in exactly the two
      // windows starting at floor30(t) and floor30(t) − 30min.
      s"""WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, value FROM events),
         |x AS (SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
         |                     time_bucket(INTERVAL '30 minutes', ts)
         |                       - INTERVAL '30 minutes']) AS ws,
         |        user_id, value
         |      FROM e)
         |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
         |  count(*) AS n_events, max(value) AS max_value,
         |  ${dsum("value")} AS sum_value
         |FROM x GROUP BY ws ORDER BY window_start""".stripMargin,
    "s03_session_window" ->
      // gap-based sessionization: new session when the gap since the
      // previous event is >= 30min (mirrors Spark session_window, whose
      // reported end is last event + gap).
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
         |l AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
         |      FROM e),
         |f AS (SELECT *, CASE WHEN prev IS NULL
         |                       OR ts - prev >= INTERVAL '30 minutes'
         |                     THEN 1 ELSE 0 END AS flag FROM l),
         |s AS (SELECT *, sum(flag) OVER (PARTITION BY user_id ORDER BY ts
         |                                ROWS UNBOUNDED PRECEDING) AS sid FROM f)
         |SELECT user_id,
         |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         |  strftime(max(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS session_end,
         |  count(*) AS n_events, ${dsum("value")} AS sum_value
         |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "p01_column_profile" -> p01Sql,
    "p02_dq_checks" -> p02Sql,
    "s04_dedup_first" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |             CAST(ts AS TIMESTAMP) AS ts FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                                   ORDER BY ts, event_id) AS rn FROM e)
        |SELECT user_id, event_type, event_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
        |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    // p03: bin index and edges are single-IEEE-op chains on identical
    // doubles (sub/div/mul/floor) — bit-identical across engines with no
    // rounding; DuckDB's floor() returns DOUBLE, hence the BIGINT cast.
    "p03_histogram" ->
      """WITH x AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem),
        |ext AS (SELECT min(x) AS lo, max(x) AS hi FROM x),
        |b AS (SELECT least(15, CAST(floor((x - lo) / ((hi - lo) / 16))
        |                             AS BIGINT)) AS bin, lo, hi
        |      FROM x, ext)
        |SELECT bin, lo + bin * ((hi - lo) / 16) AS bin_lo,
        |  lo + (bin + 1) * ((hi - lo) / 16) AS bin_hi,
        |  count(*) AS n
        |FROM b GROUP BY bin, lo, hi ORDER BY bin""".stripMargin,
    "e31_scd2_intervals" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |             event_type FROM events),
        |c AS (SELECT *, lag(event_type) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e),
        |ch AS (SELECT * FROM c WHERE prev IS NULL OR prev <> event_type),
        |iv AS (SELECT user_id, event_type, ts,
        |         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |           AS valid_to_ts,
        |         CAST(row_number() OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
        |           AS version
        |       FROM ch)
        |SELECT user_id, version, event_type,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  strftime(valid_to_ts, '%Y-%m-%d %H:%M:%S') AS valid_to,
        |  (valid_to_ts IS NULL) AS is_current
        |FROM iv ORDER BY user_id, version""".stripMargin,
    // d38: weight = 1.0 / n_copies is one IEEE division on identical
    // operands — bit-exact, no rounding (Canon.round4 note).
    "d38_dup_weights" ->
      """WITH n AS (SELECT doc_id,
        |             lower(trim(regexp_replace(nfc_normalize(text), '\s+', ' ', 'g'))) AS norm
        |           FROM documents)
        |SELECT doc_id,
        |  count(*) OVER (PARTITION BY norm) AS n_copies,
        |  CAST(1.0 AS DOUBLE) / (count(*) OVER (PARTITION BY norm)) AS weight
        |FROM n ORDER BY doc_id""".stripMargin,
    // d39: the Spark plan gates on a bloom filter then exact-verifies, so
    // the result is exact membership — the oracle is plain EXISTS on the
    // normalized text (Spark matches on xxhash64(norm); the d01 64-bit
    // collision note applies).
    "d39_bloom_gate" ->
      """WITH doc AS (SELECT doc_id,
        |               lower(trim(regexp_replace(nfc_normalize(text), '\s+', ' ', 'g'))) AS norm
        |             FROM documents),
        |hist AS (SELECT norm FROM doc WHERE doc_id % 10 < 8),
        |batch AS (SELECT doc_id, norm FROM doc WHERE doc_id % 10 >= 8)
        |SELECT b.doc_id,
        |  EXISTS (SELECT 1 FROM hist h WHERE h.norm = b.norm) AS dup_of_history
        |FROM batch b ORDER BY doc_id""".stripMargin,
    // d40: same capped candidate generation + exact-verify chain as the
    // Jaccard oracle (pairsCtes), scored as containment of the smaller
    // shingle set. cont = n_common / min(n_i, n_j) is one IEEE division
    // of engine-identical integers — bit-exact, no rounding (Canon.round4
    // note). The unused `pairs` CTE in the chain is inert.
    "d40_containment" ->
      s"""WITH $pairsCtes
         |SELECT c.i, c.j, si.n_sh AS n_i, sj.n_sh AS n_j,
         |  n_common::DOUBLE / least(si.n_sh, sj.n_sh) AS cont
         |FROM common c
         |JOIN sizes si ON si.doc_id = c.i
         |JOIN sizes sj ON sj.doc_id = c.j
         |WHERE n_common::DOUBLE / least(si.n_sh, sj.n_sh) >= 0.9
         |ORDER BY i, j""".stripMargin,
    // d41: transitive closure over the union of the d02 (jac ≥ 0.8) and
    // d40 (cont ≥ 0.9) pair graphs — same recursive-CTE closure as d19,
    // with containment pairs derived from the SAME shared cand/common/
    // sizes chain so the two oracles cannot drift.
    "d41_partialdup_clusters" ->
      s"""WITH RECURSIVE $pairsCtes,
         |cpairs AS (
         |  SELECT c.i, c.j FROM common c
         |  JOIN sizes si ON si.doc_id = c.i
         |  JOIN sizes sj ON sj.doc_id = c.j
         |  WHERE n_common::DOUBLE / least(si.n_sh, sj.n_sh) >= 0.9),
         |u AS (SELECT i, j FROM pairs UNION SELECT i, j FROM cpairs),
         |e AS (SELECT i, j FROM u UNION ALL SELECT j, i FROM u),
         |reach(src, node) AS (
         |  SELECT DISTINCT i, i FROM e
         |  UNION
         |  SELECT r.src, e2.j FROM reach r JOIN e e2 ON e2.i = r.node),
         |lbl AS (SELECT src AS doc_id, min(node) AS cluster_id
         |        FROM reach GROUP BY src),
         |asg AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |        FROM documents d LEFT JOIN lbl l USING (doc_id)),
         |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM asg GROUP BY 1)
         |SELECT a.doc_id, a.cluster_id, sz.cluster_size,
         |  a.doc_id = a.cluster_id AS is_canonical
         |FROM asg a JOIN sz USING (cluster_id) ORDER BY a.doc_id""".stripMargin,
    // d42: disjoint 32-token tiling; an occurrence survives iff it is the
    // global (doc_id, chunk_id)-first for its content; docs reassemble
    // from survivors in chunk order (string_agg skips the NULLed dropped
    // chunks exactly as concat_ws skips them; all-dropped docs coalesce
    // to the empty string on both sides).
    "d42_span_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |c AS (SELECT doc_id, t, unnest(range((len(t) - 1) // 32 + 1)) AS cid
        |      FROM t WHERE len(t) > 0),
        |ch AS (SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id,
        |         array_to_string(t[cid * 32 + 1 : cid * 32 + 32], ' ')
        |           AS chunk_text
        |       FROM c),
        |r AS (SELECT *, row_number() OVER (PARTITION BY chunk_text
        |                  ORDER BY doc_id, chunk_id) AS rn
        |      FROM ch),
        |agg AS (SELECT doc_id,
        |          count(*) AS n_chunks,
        |          CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |            AS n_kept,
        |          coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END,
        |                              ' ' ORDER BY chunk_id), '') AS cleaned
        |        FROM r GROUP BY doc_id)
        |SELECT doc_id, n_chunks, n_kept,
        |  CAST(length(cleaned) AS BIGINT) AS cleaned_len,
        |  md5(cleaned) AS cleaned_md5
        |FROM agg ORDER BY doc_id""".stripMargin,
    "d57_paragraph_dedup" ->
      // boundary every 8 tokens (the single-line fixture's stand-in
      // for real newlines), trim-normalized paragraphs, first
      // occurrence by (doc_id, pos) wins, in-order reassembly
      """WITH p AS (SELECT doc_id,
        |             regexp_replace(text, '((?:\S+ ){8})', '\1' || chr(10), 'g')
        |               AS pt
        |           FROM documents),
        |sp AS (SELECT doc_id,
        |         CAST(generate_subscripts(string_split(pt, chr(10)), 1) - 1
        |           AS BIGINT) AS pos,
        |         trim(nfc_normalize(unnest(string_split(pt, chr(10))))) AS norm
        |       FROM p),
        |spn AS (SELECT * FROM sp WHERE len(norm) > 0),
        |r AS (SELECT doc_id, pos, norm,
        |        row_number() OVER (PARTITION BY norm ORDER BY doc_id, pos)
        |          AS rn
        |      FROM spn),
        |k AS (SELECT doc_id, count(*) AS n_kept,
        |        string_agg(norm, chr(10) ORDER BY pos) AS kept_text
        |      FROM r WHERE rn = 1 GROUP BY doc_id),
        |t AS (SELECT doc_id, count(*) AS n_paras FROM spn GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(t.n_paras, 0) AS BIGINT) AS n_paras,
        |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(length(COALESCE(k.kept_text, '')) AS BIGINT) AS kept_len,
        |  md5(COALESCE(k.kept_text, '')) AS kept_md5
        |FROM documents d
        |LEFT JOIN t ON d.doc_id = t.doc_id
        |LEFT JOIN k ON d.doc_id = k.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // d43: the d08 quality score (same round4'd expression), ranked desc
    // within source with doc_id tie-break, capped at 15.
    "d43_source_cap" ->
      s"""WITH s AS (SELECT doc_id, source, string_split(text, ' ') AS t
         |           FROM documents),
         |q AS (SELECT doc_id, source,
         |        ${round4(s"ln(1.0 + len(t)) * ${round4("len(list_distinct(t))::DOUBLE / len(t)")}")}
         |          AS quality_score
         |      FROM s),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source
         |                  ORDER BY quality_score DESC, doc_id) AS rnk
         |      FROM q)
         |SELECT doc_id, source, quality_score, CAST(rnk AS BIGINT) AS rnk,
         |  rnk <= 15 AS kept
         |FROM r ORDER BY doc_id""".stripMargin,
    // p04: the distributed sharded rank ≡ one global row_number by
    // construction (shards are ordered and non-overlapping); bucket is
    // integer arithmetic on the zero-based rank.
    "p04_equidepth_bins" ->
      """WITH r AS (SELECT o_orderkey, o_totalprice,
        |             row_number() OVER (ORDER BY o_totalprice, o_orderkey)
        |               - 1 AS r0,
        |             count(*) OVER () AS n
        |           FROM orders)
        |SELECT o_orderkey, o_totalprice,
        |  CAST((r0 * 10) // n AS BIGINT) AS bucket
        |FROM r ORDER BY o_orderkey""".stripMargin,
  )

  private val profileSqlOne =
    (c: String) => s"""SELECT '$c' AS "column", count($c) AS n,
       |  count(*) - count($c) AS n_null,
       |  ${dsum(c)} AS s, ${dsum(s"$c * $c")} AS s2,
       |  CAST(min($c) AS DOUBLE) AS min, CAST(max($c) AS DOUBLE) AS max
       |FROM lineitem""".stripMargin

  // ——— p-family oracles ———

  private def p01Sql: String =
    s"""WITH p AS (
       |${Seq("l_quantity", "l_extendedprice", "l_discount")
           .map(profileSqlOne).mkString("\nUNION ALL\n")})
       |SELECT "column", n, n_null, s / n AS mean, min, max,
       |  sqrt((s2 - s * s / n) / (n - 1)) AS stddev
       |FROM p ORDER BY "column"""".stripMargin

  private def p02Sql: String =
    """SELECT 'lineitem_quantity_in_1_50' AS rule, count(*) AS n_violations
      |FROM lineitem WHERE NOT (l_quantity BETWEEN 1.0 AND 50.0)
      |UNION ALL
      |SELECT 'lineitem_orphan_orderkey', count(*) FROM lineitem
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
      |UNION ALL
      |SELECT 'orders_nonpositive_total', count(*) FROM orders
      |WHERE o_totalprice <= 0.0
      |UNION ALL
      |SELECT 'customer_duplicate_key', count(*) FROM
      |  (SELECT c_custkey FROM customer GROUP BY 1 HAVING count(*) > 1)
      |UNION ALL
      |SELECT 'events_null_ts', count(*) FROM events WHERE ts IS NULL
      |ORDER BY rule""".stripMargin

  private def partSummarySql: String =
    s"""SELECT p_brand, count(*) AS n_parts,
       |  ${dsum("p_retailprice")} AS total_retail,
       |  CAST(sum(p_size) AS BIGINT) AS sum_size,
       |  min(p_name) AS min_name, max(p_name) AS max_name
       |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ——— shared DuckDB fragments for the d* oracles ———

  /** DuckDB's native ASOF LEFT JOIN — the one oracle for BOTH as-of
    * plans (e20 single-window, e20b two-pass bucketed); purchases
    * deduped per (user, ts) to max event_id so the as-of pick is unique
    * in both engines. */
  private val asofSql =
    """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
      |             event_type, value FROM events),
      |p0 AS (SELECT user_id, ts, max(event_id) AS p_event_id FROM e
      |       WHERE event_type = 'purchase' GROUP BY 1, 2),
      |p AS (SELECT p0.user_id, p0.ts, p0.p_event_id, e.value AS p_value
      |      FROM p0 JOIN e ON e.event_id = p0.p_event_id),
      |err AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'error')
      |SELECT err.event_id, err.user_id,
      |  strftime(err.ts, '%Y-%m-%d %H:%M:%S') AS err_ts,
      |  p.p_event_id AS purchase_event_id, p.p_value AS purchase_value,
      |  CAST(date_diff('second', p.ts, err.ts) AS BIGINT) AS lag_seconds
      |FROM err ASOF LEFT JOIN p
      |  ON err.user_id = p.user_id AND err.ts >= p.ts
      |ORDER BY event_id""".stripMargin

  private def round4(x: String) = s"CAST(CAST(($x) AS DECIMAL(30,4)) AS DOUBLE)"
  private def round8(x: String) = s"CAST(CAST(($x) AS DECIMAL(30,8)) AS DOUBLE)"

  /** Shared near-dup pair CTEs (d02/d03/d19/d20/d30). The oracle
    * carries the SAME hot-shingle DF cap as `jaccardPairsOver` — the
    * contract is the CAPPED semantics (candidates need one shared
    * shingle with document frequency ≤ MaxShingleDf; Jaccard is then
    * exact over FULL shingle sets), not a fixture accident: a duplicate
    * family larger than the cap must diverge in NEITHER engine. */
  private def pairsCtes =
    s"""$shingleCte,
       |sdf AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
       |rare AS (SELECT doc_id, shingle FROM sh JOIN sdf USING (shingle)
       |         WHERE df <= ${graft.operators.PairGraph.MaxShingleDf}),
       |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |         FROM rare a JOIN rare b
       |           ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |common AS (
       |  SELECT c.i, c.j, count(*) AS n_common
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.i
       |  JOIN sh b ON b.doc_id = c.j AND b.shingle = a.shingle
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT i, j,
       |    ${round4("n_common::DOUBLE / (si.n_sh + sj.n_sh - n_common)")} AS jac
       |  FROM common
       |  JOIN sizes si ON si.doc_id = i JOIN sizes sj ON sj.doc_id = j
       |  WHERE n_common::DOUBLE / (si.n_sh + sj.n_sh - n_common) >= 0.8)""".stripMargin

  /** d30's oracle — shared verbatim with its store-fed twin d30b.
    * Batch = doc_id % 10 ≥ 8; near-dup partners from the shared d02
    * pair CTE decide dup_existing / dup_batch / new. */
  private def incrementalDedupSql =
    s"""WITH $pairsCtes,
       |e AS (SELECT i AS b, j AS p FROM pairs
       |      UNION ALL SELECT j AS b, i AS p FROM pairs),
       |f AS (SELECT b AS doc_id,
       |        max(CASE WHEN p % 10 < 8 THEN 1 ELSE 0 END) AS has_existing,
       |        max(CASE WHEN p % 10 >= 8 AND p < b THEN 1 ELSE 0 END)
       |          AS has_earlier
       |      FROM e WHERE b % 10 >= 8 GROUP BY b),
       |s AS (SELECT d.doc_id,
       |        COALESCE(CASE WHEN f.has_existing = 1 THEN 'dup_existing'
       |                      WHEN f.has_earlier = 1 THEN 'dup_batch' END,
       |                 'new') AS status
       |      FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 8) d
       |      LEFT JOIN f ON d.doc_id = f.doc_id)
       |SELECT doc_id, status, status = 'new' AS admitted
       |FROM s ORDER BY doc_id""".stripMargin

  /** d20's oracle — shared verbatim with its store-fed twin d47: both
    * must equal the same SQL over `documents`, making store-fed ≡
    * recomputed definitional at the oracle layer too. */
  private def contaminationSql =
    s"""WITH $pairsCtes,
       |$splitCte
       |SELECT i, j, jac, si.split AS split_i, sj.split AS split_j,
       |  si.split <> sj.split AS contaminated
       |FROM pairs JOIN sp si ON si.doc_id = i JOIN sp sj ON sj.doc_id = j
       |ORDER BY i, j""".stripMargin

  /** d19's oracle — transitive closure of the near-dup pair graph via
    * recursive CTE; cluster id = min reachable doc_id, singletons label
    * themselves. Shared verbatim with its store-fed twin d49. */
  /** The CC labeling CTE chain (transitive closure → min-label →
    * singleton-complete assignment → sizes) — shared by the d19/d49
    * cluster oracles and d53's keep-best oracle. */
  private def clusterCtes =
    """e AS (SELECT i, j FROM pairs UNION ALL SELECT j, i FROM pairs),
      |reach(src, node) AS (
      |  SELECT DISTINCT i, i FROM e
      |  UNION
      |  SELECT r.src, e2.j FROM reach r JOIN e e2 ON e2.i = r.node),
      |lbl AS (SELECT src AS doc_id, min(node) AS cluster_id
      |        FROM reach GROUP BY src),
      |asg AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
      |        FROM documents d LEFT JOIN lbl l USING (doc_id)),
      |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM asg GROUP BY 1)""".stripMargin

  private def clustersSql =
    s"""WITH RECURSIVE $pairsCtes,
       |$clusterCtes
       |SELECT a.doc_id, a.cluster_id, sz.cluster_size,
       |  a.doc_id = a.cluster_id AS is_canonical
       |FROM asg a JOIN sz USING (cluster_id) ORDER BY a.doc_id""".stripMargin

  /** d53's oracle: the shared cluster chain + the d43 quality
    * expression + an arg-max by (score desc, doc_id asc) per cluster. */
  private def keepBestSql =
    s"""WITH RECURSIVE $pairsCtes,
       |$clusterCtes,
       |tq AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |q AS (SELECT doc_id,
       |        ${round4(s"ln(1.0 + len(t)) * ${round4("len(list_distinct(t))::DOUBLE / len(t)")}")}
       |          AS quality_score
       |      FROM tq),
       |jn AS (SELECT a.doc_id, a.cluster_id, sz.cluster_size, q.quality_score
       |       FROM asg a JOIN sz USING (cluster_id) JOIN q USING (doc_id)),
       |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
       |        ORDER BY quality_score DESC, doc_id) AS rnk FROM jn),
       |k AS (SELECT cluster_id, doc_id AS keep_id FROM r WHERE rnk = 1)
       |SELECT jn.doc_id, jn.cluster_id, jn.cluster_size, jn.quality_score,
       |  k.keep_id, jn.doc_id = k.keep_id AS kept
       |FROM jn JOIN k USING (cluster_id) ORDER BY jn.doc_id""".stripMargin

  /** d45's oracle — shared verbatim with its store-fed twin d48. */
  /** d59's oracle — the SAME Lloyd iterations unrolled as CTEs (the
    * iteration count is a fixed constant precisely so the oracle can
    * mirror the whole loop, not just the final labels). Per-dimension
    * squared-distance terms are DECIMAL(30,6)-canonicalized before
    * summation in BOTH engines, so distances are exact and the argmin
    * (dist2, cid) ranking can never be flipped by float summation
    * order. Generated by a Scala loop — one CTE triple (distance,
    * assignment, centroid update) per iteration, then the final
    * assignment and the per-cluster rollup. */
  /** The unrolled-Lloyd CTE chain up to the final per-vector assignment
    * `a{iters+1}(vec_id, cid, dist2)` — shared by d59 (per-cluster
    * rollup) and d60 (within-cluster pair verify). Returns (ctes,
    * finalAssignName). */
  /** The unrolled IVF coarse-quantizer chain — `ivfCellsOver` mirrored
    * exactly: seed cells = the vec_id < 10 vectors, two Lloyd rounds of
    * cosine-argmax assignment (ties → smaller cid) + decimal-canonical
    * per-dimension centroid means, then the final assignment
    * `a3(vec_id, cid)`. Engine-deterministic end to end: the means are
    * DECIMAL(30,6)-canonical (the d59 rule) and cosine is an in-order
    * double dot product in both engines. */
  private def ivfCellCtes: (String, String) = {
    def assign(i: Int, cIn: String) =
      s"""a$i AS (SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cid) AS rn
         |    FROM e CROSS JOIN $cIn c) WHERE rn = 1)""".stripMargin
    def update(i: Int) =
      s"""c$i AS (SELECT cid, list(cm ORDER BY dim) AS cv FROM (
         |    SELECT a.cid, ed.dim,
         |      CAST(SUM(CAST(ed.x AS DECIMAL(30,6))) AS DOUBLE) / COUNT(ed.x) AS cm
         |    FROM ed JOIN a$i a ON ed.vec_id = a.vec_id
         |    GROUP BY a.cid, ed.dim) GROUP BY cid)""".stripMargin
    (s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |ed AS (SELECT vec_id, CAST(generate_subscripts(v, 1) AS BIGINT) AS dim,
        |         unnest(v) AS x FROM e),
        |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 10),
        |${assign(1, "c0")},
        |${update(1)},
        |${assign(2, "c1")},
        |${update(2)},
        |${assign(3, "c2")}""".stripMargin, "a3")
  }

  private def kmeansCtes: (String, String) = kmeansCtesOver(None)

  /** The d59 Lloyd CTE chain, optionally TRAINED on a vec_id slice
    * (`trainWhere`) while the FINAL assignment covers every vector —
    * the s18 frozen-centroid shape. With no filter the emitted SQL is
    * byte-identical to the original d59 chain (no extra CTE), so the
    * d59/d60/d63/d64 oracles are untouched. */
  private def kmeansCtesOver(trainWhere: Option[String]): (String, String) = {
    val k = operators.EmbeddingOps.KmeansK
    val iters = operators.EmbeddingOps.KmeansIters
    val src = if (trainWhere.isDefined) "et" else "e"
    def as_e(rel: String) = if (rel == "e") "e" else s"$rel e"
    def assignCtes(i: Int, cIn: String, over: String) =
      s"""d$i AS (SELECT e.vec_id, c.cid,
         |    SUM(CAST((e.v - c.c) * (e.v - c.c) AS DECIMAL(30,6))) AS dist2
         |  FROM ${as_e(over)} JOIN $cIn c ON e.dim = c.dim GROUP BY e.vec_id, c.cid),
         |a$i AS (SELECT vec_id, cid, dist2 FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY dist2, cid) AS rn FROM d$i) WHERE rn = 1)""".stripMargin
    def updateCte(i: Int) =
      s"""c$i AS (SELECT a.cid, e.dim,
         |    CAST(SUM(CAST(e.v AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS c
         |  FROM ${as_e(src)} JOIN a$i a ON e.vec_id = a.vec_id GROUP BY a.cid, e.dim)""".stripMargin
    val loop = (1 to iters).map(i =>
      assignCtes(i, s"c${i - 1}", src) + ",\n" + updateCte(i)).mkString(",\n")
    val fin = iters + 1
    val etCte = trainWhere
      .map(w => s"\net AS (SELECT * FROM e WHERE $w),")
      .getOrElse("")
    val seedWhere = trainWhere.map(w => s"WHERE $w ").getOrElse("")
    (s"""e AS (SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),$etCte
        |c0 AS (SELECT vec_id AS cid, dim, v AS c FROM $src
        |  WHERE vec_id IN
        |    (SELECT vec_id FROM embeddings ${seedWhere}ORDER BY vec_id LIMIT $k)),
        |$loop,
        |${assignCtes(fin, s"c$iters", "e")}""".stripMargin, s"a$fin")
  }

  /** d63's oracle: the d59 chain's final assignment + the d56
    * single-window bottom-k model (≡ the Spark two-phase plan by
    * bottom-k associativity — the d56 model-equivalence property). */
  private def clusterSampleSql: String = {
    val (ctes, fin) = kmeansCtes
    s"""WITH $ctes,
       |t AS (SELECT vec_id, cid,
       |        substr(md5(CAST(cid AS VARCHAR) || ':' || CAST(vec_id AS VARCHAR)),
       |               1, 16) AS tag
       |      FROM $fin),
       |r AS (SELECT *, row_number() OVER (PARTITION BY cid
       |        ORDER BY tag, vec_id) AS draw_rank FROM t)
       |SELECT vec_id, cid AS cluster_id, CAST(draw_rank AS BIGINT) AS draw_rank
       |FROM r WHERE draw_rank <= 5 ORDER BY cluster_id, draw_rank""".stripMargin
  }

  /** d64's oracle: the final assignment joined to the documents'
    * (lang, token count), two integer aggregates, one IEEE share. */
  private def clusterProfileSql: String = {
    val (ctes, fin) = kmeansCtes
    s"""WITH $ctes,
       |doc AS (SELECT doc_id, lang,
       |          len(string_split(text, ' ')) AS n_tokens FROM documents),
       |jl AS (SELECT a.cid, doc.lang, doc.n_tokens
       |       FROM $fin a JOIN doc ON doc.doc_id = a.vec_id),
       |cell AS (SELECT cid, lang, count(*) AS n_docs,
       |           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
       |         FROM jl GROUP BY 1, 2),
       |tot AS (SELECT cid, CAST(sum(n_docs) AS BIGINT) AS n_cluster
       |        FROM cell GROUP BY 1)
       |SELECT cell.cid AS cluster_id, lang,
       |  CAST(n_docs AS BIGINT) AS n_docs, sum_tokens,
       |  ${round4("n_docs::DOUBLE / n_cluster")} AS doc_share
       |FROM cell JOIN tot ON tot.cid = cell.cid
       |ORDER BY cluster_id, lang""".stripMargin
  }

  private def kmeansSql: String = {
    val (ctes, fin) = kmeansCtes
    s"""WITH $ctes
       |SELECT cid AS cluster_id, CAST(count(*) AS BIGINT) AS n_vecs,
       |  min(vec_id) AS min_vec, CAST(SUM(dist2) AS DOUBLE) AS inertia
       |FROM $fin GROUP BY cid ORDER BY cluster_id""".stripMargin
  }

  /** d60's oracle: the d59 chain's final assignment scopes the pair
    * join; seniority keep = min-i per dropped j (row_number mirror of
    * the Spark min-of-struct aggregate). */
  private def clusterSemdedupSql: String = {
    val (ctes, fin) = kmeansCtes
    s"""WITH $ctes,
       |ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |g AS (SELECT ev.vec_id, ev.v, a.cid FROM ev JOIN $fin a USING (vec_id)),
       |p AS (SELECT x.vec_id AS i, y.vec_id AS j, x.cid AS cid,
       |        ${round4(cosSql("x.v", "y.v"))} AS sim
       |      FROM g x JOIN g y ON x.cid = y.cid AND x.vec_id < y.vec_id),
       |f AS (SELECT * FROM p WHERE sim >= 0.40),
       |r AS (SELECT *, row_number() OVER (PARTITION BY j ORDER BY i) AS rn
       |      FROM f)
       |SELECT j AS vec_id, i AS kept_id, sim, cid AS cluster_id
       |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin
  }

  private def editVerifySql =
    s"""WITH $pairsCtes,
       |nrm AS (SELECT doc_id,
       |          lower(trim(regexp_replace(nfc_normalize(text), '\\s+', ' ', 'g'))) AS norm
       |        FROM documents)
       |SELECT p.i, p.j,
       |  CAST(levenshtein(a.norm, b.norm) AS BIGINT) AS lev,
       |  1.0 - levenshtein(a.norm, b.norm)::DOUBLE
       |        / greatest(length(a.norm), length(b.norm)) AS edit_sim,
       |  1.0 - levenshtein(a.norm, b.norm)::DOUBLE
       |        / greatest(length(a.norm), length(b.norm)) >= 0.8 AS verified
       |FROM pairs p
       |JOIN nrm a ON a.doc_id = p.i
       |JOIN nrm b ON b.doc_id = p.j
       |ORDER BY i, j""".stripMargin

  /** Shared CTE chain for d34/d36: hashed-bigram buckets and the
    * smoothed per-bucket log-likelihood ratio (target = 'en'). */
  private def dsirCtes =
    """t AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
      |bg AS (SELECT doc_id, lang, unnest(t[1:len(t)-1]) AS w0,
      |         unnest(t[2:len(t)]) AS w1
      |       FROM t WHERE len(t) >= 2),
      |bb AS (SELECT doc_id, lang,
      |         CAST(('0x' || substr(md5(w0 || ' ' || w1), 1, 8)) AS BIGINT)
      |           % 64 AS b FROM bg),
      |tgt AS (SELECT b, count(*) AS ct FROM bb WHERE lang = 'en' GROUP BY 1),
      |raw AS (SELECT b, count(*) AS cr FROM bb GROUP BY 1),
      |tot AS (SELECT count(*) AS rt,
      |          count(*) FILTER (lang = 'en') AS tt FROM bb),
      |r AS (SELECT raw.b,
      |        CAST(ln(((COALESCE(ct, 0) + 1)::DOUBLE / (tt + 64)) /
      |                ((cr + 1)::DOUBLE / (rt + 64))) AS DECIMAL(30,6)) AS logr
      |      FROM raw LEFT JOIN tgt USING (b), tot)""".stripMargin

  /** The d17 deterministic hash-split assignment as a CTE (`sp`) —
    * shared by the d17, d20, and d33 oracles so all three stay
    * definitionally in sync with `SamplingOps.splitAssign`. */
  private def splitCte =
    """sp AS (SELECT doc_id, bucket,
      |  CASE WHEN bucket < 80 THEN 'train'
      |       WHEN bucket < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM (SELECT doc_id,
      |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |          % 100 AS bucket
      |      FROM documents))""".stripMargin

  /** d55's CTE chain (names prefixed s* so they compose with the pair
    * and split CTEs in one query) ending in the per-eval best-train
    * rows `semp(vec_id, split, train_id, sim)` — shared by d55 and the
    * d62 ensemble. Sig construction = d35's hyperplanes on plane table
    * 9 + the d17 split rule keyed on vec_id; argmax train neighbor via
    * row_number (≡ the Spark max_by over (sim, −id)). */
  private def semContamCtes: String = {
    val sig = (0 until 4).map { p =>
      val arr = (0 until 64).map(j =>
        graft.operators.EmbeddingOps.planeComp(9, p, j)).mkString("[", ", ", "]")
      s"(CASE WHEN list_inner_product(v, $arr::DOUBLE[]) > 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString("\n|    + ")
    s"""se AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |  CASE WHEN CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
       |              AS BIGINT) % 100 < 80 THEN 'train'
       |       WHEN CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
       |              AS BIGINT) % 100 < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |  FROM embeddings),
       |ssg AS (SELECT vec_id, v, split,
       |  $sig AS sig FROM se),
       |scand AS (SELECT a.vec_id AS vec_id, a.split AS split,
       |        b.vec_id AS train_id,
       |        ${round4(cosSql("a.v", "b.v"))} AS sim
       |      FROM ssg a JOIN ssg b ON a.sig = b.sig
       |      WHERE a.split <> 'train' AND b.split = 'train'),
       |sbest AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |        ORDER BY sim DESC, train_id ASC) AS rn
       |      FROM scand WHERE sim >= 0.32),
       |semp AS (SELECT vec_id, split, train_id, sim FROM sbest WHERE rn = 1)""".stripMargin
  }

  /** d31's BM25 scored-docs CTE chain (s/d/g/sc, ending in
    * sc(doc_id, dl, tf_*, score)) — shared by d31 and the d66 fusion.
    * Same IEEE evaluation order as the Spark side: idf * (tf*(k1+1)) /
    * (tf + k1*(1-b + b*dl/avgdl)), summed over the 3 query terms. */
  private def bm25Cte =
    s"""s AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |d AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
       |        CAST(len(list_filter(t, w -> w = 'spark')) AS BIGINT) AS tf_spark,
       |        CAST(len(list_filter(t, w -> w = 'join')) AS BIGINT) AS tf_join,
       |        CAST(len(list_filter(t, w -> w = 'window')) AS BIGINT) AS tf_window
       |      FROM s),
       |g AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
       |        sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS df_spark,
       |        sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
       |        sum(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS df_window
       |      FROM d),
       |sc AS (SELECT doc_id, dl, tf_spark, tf_join, tf_window,
       |         ${round4(Seq("spark", "join", "window").map(q =>
                   s"ln(1.0 + (n_docs - df_$q + 0.5) / (df_$q + 0.5))" +
                   s" * (tf_$q::DOUBLE * (1.2 + 1.0))" +
                   s" / (tf_$q::DOUBLE + 1.2 * ((1.0 - 0.75)" +
                   s" + 0.75 * dl / (sum_dl::DOUBLE / n_docs)))")
                   .mkString(" + "))} AS score
       |       FROM d, g)""".stripMargin

  /** d65's BPE training CTE chain — tokens (tok), word frequencies
    * (wf), spaced symbol reps (r0), and three unrolled
    * pair-count/argmax/merge rounds (p1/b1/r1 … p3/b3) — shared by d65
    * (reads b1..b3) and d68 (applies b3 to r2 and joins tok back). */
  /** One Viterbi pass for the d76 oracle, unrolled: `{tag}_d0..dMaxW`
    * per-position CTE steps over the SAME packed dp strings the Spark
    * fold carries — 12-char zero-padded DECIMAL(30,6) cost ‖ piece
    * path — with the 3-candidate argmin as one `least` (both engines
    * skip nulls and compare byte-wise). `costsCte` must expose
    * (piece, c DECIMAL(30,6)). */
  private def d76ViterbiCtes(tag: String, costsCte: String): String = {
    val lMax = operators.QualityOps.UniMaxPiece
    val maxW = operators.QualityOps.UniMaxWord
    val steps = (1 to maxW).map { j =>
      val cands = (1 to lMax).filter(_ <= j).map { k =>
        val prev = s"dp${j - k}"
        val piece = s"substr(word, ${j - k + 1}, $k)"
        // single-line candidate: the surrounding templates stripMargin,
        // and a continuation line starting with '||' would lose a pipe
        s"CASE WHEN $prev IS NOT NULL AND len(m[$piece]) = 1 THEN " +
          s"lpad(CAST(CAST(CAST(substr($prev, 1, 12) AS DECIMAL(30,6)) " +
          s"+ m[$piece][1] AS DECIMAL(30,6)) AS VARCHAR), 12, '0') " +
          s"|| substr($prev, 13) || ' ' || $piece END"
      } :+ "CAST(NULL AS VARCHAR)" // least needs >= 2 args at j = 1
      s"""${tag}_d$j AS (SELECT *, least(${cands.mkString(",\n  ")}) AS dp$j
         |  FROM ${tag}_d${j - 1})""".stripMargin
    }
    val whens = (1 to maxW).map(j => s"WHEN $j THEN dp$j").mkString(" ")
    (Seq(
      s"${tag}_vm AS (SELECT map(list(piece), list(c)) AS m FROM $costsCte)",
      s"${tag}_d0 AS (SELECT word, cnt, m, '00000.000000' AS dp0 FROM wf, ${tag}_vm)") ++
      steps ++ Seq(
      s"""${tag}_best AS (SELECT word, cnt,
         |  CASE length(word) $whens END AS dp FROM ${tag}_d$maxW)""".stripMargin,
      s"""${tag}_seg AS (SELECT word, cnt,
         |  unnest(string_split(trim(substr(dp, 13)), ' ')) AS piece
         |  FROM ${tag}_best)""".stripMargin)).mkString(",\n")
  }

  /** The shared d76/d77 training CTE block: the full two-round hard-EM
    * loop — seed counts, Viterbi round 1, prune-unused (chars
    * survive), re-score, Viterbi round 2 — over the exact
    * packed-string DP of [[d76ViterbiCtes]]. Costs canonicalize each
    * ln to DECIMAL(30,6) before arithmetic (the d34 contract); counts
    * are integer sums — exact. Exposes `tok` (doc_id, word), `wf`,
    * `r2_seg` (word, cnt, piece) and `r2_best` (word, cnt, dp). */
  private def d76TrainCtes: String = {
    val lMax = operators.QualityOps.UniMaxPiece
    val v = operators.QualityOps.UniSeedMulti
    val maxW = operators.QualityOps.UniMaxWord
    val subsArms = (1 to lMax).map { k =>
      s"""SELECT substr(word, p, $k) AS piece, cnt FROM wf,
         |  (SELECT unnest(range(1, ${maxW + 2 - k})) AS p) ps
         |  WHERE length(word) >= p + $k - 1""".stripMargin
    }.mkString(" UNION ALL ")
    def costs(name: String, from: String) =
      s"""$name AS (SELECT piece,
         |  CAST(CAST(ln((SELECT SUM(ucnt) FROM $from) + (SELECT COUNT(*) FROM $from))
         |      AS DECIMAL(30,6))
         |    - CAST(ln(ucnt + 1) AS DECIMAL(30,6)) AS DECIMAL(30,6)) AS c
         |  FROM $from)""".stripMargin
    s"""tok AS (SELECT doc_id, unnest(string_split(lower(trim(regexp_replace(
       |    nfc_normalize(text), '\\s+', ' ', 'g'))), ' ')) AS word
       |  FROM documents),
       |wf AS (SELECT word, count(*) AS cnt FROM tok
       |  WHERE length(word) > 0 GROUP BY word),
       |subs AS (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS ucnt
       |  FROM ($subsArms) GROUP BY piece),
       |chars AS (SELECT piece, ucnt FROM subs WHERE length(piece) = 1),
       |v0 AS (SELECT piece, ucnt FROM chars
       |  UNION ALL
       |  SELECT piece, ucnt FROM (SELECT piece, ucnt FROM subs
       |    WHERE length(piece) > 1 ORDER BY ucnt DESC, piece LIMIT $v)),
       |${costs("v0c", "v0")},
       |${d76ViterbiCtes("r1", "v0c")},
       |u1 AS (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS ucnt
       |  FROM r1_seg GROUP BY piece),
       |v1 AS (SELECT c.piece, coalesce(u1.ucnt, 0) AS ucnt
       |    FROM chars c LEFT JOIN u1 ON c.piece = u1.piece
       |  UNION ALL
       |  SELECT piece, ucnt FROM u1 WHERE length(piece) > 1),
       |${costs("v1c", "v1")},
       |${d76ViterbiCtes("r2", "v1c")}""".stripMargin
  }

  private def d76Sql: String =
    s"""WITH $d76TrainCtes,
       |u2 AS (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS n_used
       |  FROM r2_seg GROUP BY piece)
       |SELECT piece, n_used,
       |  ${round4("CAST(n_used AS DOUBLE) / CAST((SELECT SUM(n_used) FROM u2) AS DOUBLE)")}
       |    AS share
       |FROM u2 ORDER BY piece""".stripMargin

  /** The d77 oracle: the same trained vocabulary applied — per-word
    * token counts off the round-2 best segmentations, doc grain via
    * the token stream joined back on word (the d68 shape). */
  private def d77Sql: String =
    s"""WITH $d76TrainCtes,
       |wt AS (SELECT word,
       |    CAST(len(string_split(trim(substr(dp, 13)), ' ')) AS BIGINT) AS n_sym,
       |    CAST(length(word) AS BIGINT) AS n_chr FROM r2_best),
       |tw AS (SELECT doc_id, word FROM tok WHERE length(word) > 0),
       |pd AS (SELECT doc_id, count(*) AS n_words,
       |    CAST(SUM(n_chr) AS BIGINT) AS n_chars,
       |    CAST(SUM(n_sym) AS BIGINT) AS n_tokens
       |  FROM tw JOIN wt USING (word) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(pd.n_words, 0) AS n_words,
       |  coalesce(pd.n_chars, 0) AS n_chars,
       |  coalesce(pd.n_tokens, 0) AS n_tokens,
       |  CASE WHEN pd.n_chars > 0 THEN
       |    ${round4("CAST(pd.n_tokens AS DOUBLE) / pd.n_chars")} END AS compression
       |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** The d81 oracle: the positional (`##`) seed vocabulary — every
    * substring counted under its positional form, all single-char
    * forms + top-V multi-char — then the greedy longest-match walk
    * unrolled as [[operators.QualityOps.UniMaxWord]] per-position CTE
    * steps: each step computes the LONGEST matching piece length
    * (`adv`) at the current position and appends that positional
    * piece; a position inside a consumed piece (or past the word)
    * passes through. Then the d77 doc-grain join verbatim. */
  /** The d81 positional-vocabulary + greedy-walk CTE chain over a
    * previously-defined `wf` — every CTE name prefixed `t` so d81
    * (t = "") and d83 (t = "w", beside the d76 chain whose `subs`/`v0`
    * names would otherwise collide) share one generator. Ends in
    * `${t}g<UniMaxWord>` (word, cnt, pos, path). */
  private def wpGreedyCtes(t: String): String = {
    val lMax = operators.QualityOps.UniMaxPiece
    val v = operators.QualityOps.UniSeedMulti
    val maxW = operators.QualityOps.UniMaxWord
    val subsArms = (1 to lMax).map { k =>
      s"""SELECT CASE WHEN p = 1 THEN substr(word, p, $k)
         |         ELSE '##' || substr(word, p, $k) END AS piece,
         |    $k AS stem_len, cnt FROM wf,
         |  (SELECT unnest(range(1, ${maxW + 2 - k})) AS p) ps
         |  WHERE length(word) >= p + $k - 1""".stripMargin
    }.mkString(" UNION ALL ")
    def tagged(len: String) =
      s"CASE WHEN pos = 1 THEN substr(word, pos, $len) " +
        s"ELSE '##' || substr(word, pos, $len) END"
    val advArms = (lMax to 2 by -1).map(k =>
      s"WHEN length(word) >= pos + ${k - 1} " +
        s"AND len(m[${tagged(k.toString)}]) = 1 THEN $k").mkString(" ")
    val steps = (1 to maxW).map { j =>
      s"""${t}g$j AS (SELECT word, cnt, m, pos + adv AS pos,
         |    CASE WHEN adv = 0 THEN path
         |         ELSE path || ' ' || ${tagged("adv")} END AS path
         |  FROM (SELECT *, CASE WHEN pos > length(word) THEN 0
         |      $advArms ELSE 1 END AS adv FROM ${t}g${j - 1}))""".stripMargin
    }.mkString(",\n")
    s"""${t}subs AS (SELECT piece, stem_len, CAST(SUM(cnt) AS BIGINT) AS ucnt
       |  FROM ($subsArms) GROUP BY piece, stem_len),
       |${t}v0 AS (SELECT piece FROM ${t}subs WHERE stem_len = 1
       |  UNION ALL
       |  SELECT piece FROM (SELECT piece, ucnt FROM ${t}subs
       |    WHERE stem_len > 1 ORDER BY ucnt DESC, piece LIMIT $v)),
       |${t}vm AS (SELECT map(list(piece), list(1)) AS m FROM ${t}v0),
       |${t}g0 AS (SELECT word, cnt, m, 1 AS pos, '' AS path FROM wf, ${t}vm),
       |$steps""".stripMargin
  }

  private def d81Sql: String = {
    val maxW = operators.QualityOps.UniMaxWord
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(lower(trim(regexp_replace(
       |    nfc_normalize(text), '\\s+', ' ', 'g'))), ' ')) AS word
       |  FROM documents),
       |wf AS (SELECT word, count(*) AS cnt FROM tok
       |  WHERE length(word) > 0 GROUP BY word),
       |${wpGreedyCtes("")},
       |wt AS (SELECT word,
       |    CAST(len(string_split(trim(path), ' ')) AS BIGINT) AS n_sym,
       |    CAST(length(word) AS BIGINT) AS n_chr FROM g$maxW),
       |tw AS (SELECT doc_id, word FROM tok WHERE length(word) > 0),
       |pd AS (SELECT doc_id, count(*) AS n_words,
       |    CAST(SUM(n_chr) AS BIGINT) AS n_chars,
       |    CAST(SUM(n_sym) AS BIGINT) AS n_tokens
       |  FROM tw JOIN wt USING (word) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(pd.n_words, 0) AS n_words,
       |  coalesce(pd.n_chars, 0) AS n_chars,
       |  coalesce(pd.n_tokens, 0) AS n_tokens,
       |  CASE WHEN pd.n_chars > 0 THEN
       |    ${round4("CAST(pd.n_tokens AS DOUBLE) / pd.n_chars")} END AS compression
       |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** The s26 oracle: the reference-slice (vec_id % 10 < 8) IVF chain
    * (seeds = slice ∩ vec_id < 10, two decimal-canonical Lloyd rounds,
    * final assignment — `ivfCellsOver` trained on batch 0, mirrored),
    * the d82 family chain over that slice's cells-blocked adjacency,
    * then TWO unrolled admission rounds of the d84 rule: the 8-bucket
    * batch probes the reference members, the 9-bucket batch probes
    * reference ∪ batch-1 (with batch-1's decided families) — the
    * sequential store evolution the twin's three batches perform. */
  private def s26Sql: String = {
    def assign(name: String, src: String, cents: String) =
      s"""$name AS (SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cid) AS rn
         |    FROM $src e CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
    def update(name: String, asg: String) =
      s"""$name AS (SELECT cid, list(cm ORDER BY dim) AS cv FROM (
         |    SELECT a.cid, ed.dim,
         |      CAST(SUM(CAST(ed.x AS DECIMAL(30,6))) AS DOUBLE) / COUNT(ed.x) AS cm
         |    FROM ed JOIN $asg a ON ed.vec_id = a.vec_id
         |    GROUP BY a.cid, ed.dim) GROUP BY cid)""".stripMargin
    def admit(n: Int, slice: Int, members: String, fams: String) =
      s"""n$n AS (SELECT * FROM e WHERE vec_id % 10 = $slice),
         |${assign(s"an$n", s"n$n", "c2")},
         |g$n AS (SELECT n.vec_id, a.cid, n.v
         |      FROM n$n n JOIN an$n a ON n.vec_id = a.vec_id),
         |cnd$n AS (SELECT g.vec_id, m.vec_id AS cand_id,
         |        ${round4(cosSql("g.v", "m.v"))} AS csim
         |      FROM g$n g JOIN $members m ON m.cid = g.cid),
         |bst$n AS (SELECT vec_id, cand_id AS best_id, csim AS sim FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id
         |          ORDER BY csim DESC, cand_id) AS rn FROM cnd$n) WHERE rn = 1),
         |d$n AS (SELECT g.vec_id,
         |        CASE WHEN b.sim >= 0.40 THEN f.family_id
         |             ELSE g.vec_id END AS family_id, g.cid, g.v
         |      FROM g$n g LEFT JOIN bst$n b ON b.vec_id = g.vec_id
         |      LEFT JOIN $fams f ON f.vec_id = b.best_id)""".stripMargin
    s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v
       |    FROM embeddings),
       |b0 AS (SELECT * FROM e WHERE vec_id % 10 < 8),
       |ed AS (SELECT vec_id, CAST(generate_subscripts(v, 1) AS BIGINT) AS dim,
       |         unnest(v) AS x FROM b0),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM b0 WHERE vec_id < 10),
       |${assign("a1", "b0", "c0")},
       |${update("c1", "a1")},
       |${assign("a2", "b0", "c1")},
       |${update("c2", "a2")},
       |${assign("a3", "b0", "c2")},
       |g0 AS (SELECT b.vec_id, a.cid, b.v
       |      FROM b0 b JOIN a3 a ON b.vec_id = a.vec_id),
       |p AS (SELECT a.vec_id AS i, b.vec_id AS j,
       |        ${round4(cosSql("a.v", "b.v"))} AS sim
       |      FROM g0 a JOIN g0 b ON a.cid = b.cid AND a.vec_id <> b.vec_id),
       |r AS (SELECT *, row_number() OVER
       |        (PARTITION BY i ORDER BY sim DESC, j) AS knn_rank FROM p),
       |eg AS (SELECT i, j FROM r WHERE knn_rank <= 3 AND sim >= 0.40
       |       UNION ALL
       |       SELECT j, i FROM r WHERE knn_rank <= 3 AND sim >= 0.40),
       |reach(src, node) AS (
       |  SELECT DISTINCT i, i FROM eg
       |  UNION
       |  SELECT rc.src, e2.j FROM reach rc JOIN eg e2 ON e2.i = rc.node),
       |lbl AS (SELECT src AS vec_id, min(node) AS fid
       |        FROM reach GROUP BY src),
       |f0 AS (SELECT g0.vec_id, coalesce(l.fid, g0.vec_id) AS family_id
       |       FROM g0 LEFT JOIN lbl l ON l.vec_id = g0.vec_id),
       |${admit(1, 8, "g0", "f0")},
       |mem AS (SELECT vec_id, cid, v FROM g0
       |        UNION ALL SELECT vec_id, cid, v FROM d1),
       |fam1 AS (SELECT vec_id, family_id FROM f0
       |         UNION ALL SELECT vec_id, family_id FROM d1),
       |${admit(2, 9, "mem", "fam1")}
       |SELECT vec_id, family_id FROM f0
       |UNION ALL SELECT vec_id, family_id FROM d1
       |UNION ALL SELECT vec_id, family_id FROM d2
       |ORDER BY vec_id""".stripMargin
  }

  /** The d83 oracle: the three trained families' chains composed under
    * ONE tok/wf — the d76 two-round hard-EM block (tok/wf/…/r2_best),
    * the d65/d68 BPE rounds ([[bpeRoundCtes]], which is why bpeCtes
    * split) with the third rule applied, and the d81 greedy chain
    * prefixed `w` (its bare `subs`/`v0` would collide with d76's) —
    * then one vocabulary-grain stat block per family and a 3-row
    * union. Counts integer-exact; each ratio ONE IEEE division of
    * exact integers, round4-contracted. */
  private def d83Sql: String = {
    val maxW = operators.QualityOps.UniMaxWord
    def statCtes(p: String, fam: String) =
      s"""${p}st AS (SELECT '$fam' AS family,
         |    CAST(coalesce(SUM(cnt), 0) AS BIGINT) AS n_words,
         |    CAST(coalesce(SUM(cnt * length(word)), 0) AS BIGINT) AS n_chars,
         |    CAST(coalesce(SUM(cnt * len(ps)), 0) AS BIGINT) AS n_tokens,
         |    CAST(coalesce(SUM(CASE WHEN len(ps) = 1 THEN cnt ELSE 0 END), 0)
         |      AS BIGINT) AS n_single
         |  FROM ${p}wt),
         |${p}pc AS (SELECT CAST(count(DISTINCT piece) AS BIGINT)
         |    AS n_pieces_used
         |  FROM (SELECT unnest(ps) AS piece FROM ${p}wt))""".stripMargin
    s"""WITH $d76TrainCtes,
       |$bpeRoundCtes,
       |br3 AS (SELECT word, cnt, replace(replace(rep,
       |    ' ' || (SELECT l FROM b3) || ' ' || (SELECT r FROM b3) || ' ',
       |    ' ' || (SELECT l FROM b3) || (SELECT r FROM b3) || ' '),
       |    ' ' || (SELECT l FROM b3) || ' ' || (SELECT r FROM b3) || ' ',
       |    ' ' || (SELECT l FROM b3) || (SELECT r FROM b3) || ' ') AS rep
       |    FROM r2),
       |${wpGreedyCtes("w")},
       |bwt AS (SELECT word, cnt, string_split(trim(rep), ' ') AS ps FROM br3),
       |uwt AS (SELECT word, cnt,
       |    string_split(trim(substr(dp, 13)), ' ') AS ps FROM r2_best),
       |wwt AS (SELECT word, cnt, string_split(trim(path), ' ') AS ps
       |    FROM wg$maxW),
       |${statCtes("b", "bpe")},
       |${statCtes("u", "unigram")},
       |${statCtes("w", "wordpiece")},
       |prof AS (SELECT bst.*, bpc.n_pieces_used FROM bst, bpc
       |  UNION ALL SELECT ust.*, upc.n_pieces_used FROM ust, upc
       |  UNION ALL SELECT wst.*, wpc.n_pieces_used FROM wst, wpc)
       |SELECT family, n_words, n_chars, n_tokens, n_pieces_used,
       |  CASE WHEN n_words > 0 THEN ${round4("n_tokens::DOUBLE / n_words")} END
       |    AS fertility,
       |  CASE WHEN n_chars > 0 THEN ${round4("n_tokens::DOUBLE / n_chars")} END
       |    AS compression,
       |  CASE WHEN n_words > 0 THEN ${round4("n_single::DOUBLE / n_words")} END
       |    AS single_share
       |FROM prof ORDER BY family""".stripMargin
  }

  /** The d85 oracle: the four tokenizer-store tables' WAP manifests by
    * invariant (the d74 oracle shape) — word_freq = |wf|, bpe_merges =
    * iters = 3 (iff every round finds an adjacent pair — a fixture
    * property TokenizerStoreSpec pins per sf; an empty corpus publishes
    * 0 merges), uni_costs = |final piece costs| (the d76 chain's v1c),
    * wp_vocab = |positional seed vocabulary| (the d81 chain's wv0 via
    * [[wpGreedyCtes]]'s "w" prefix — the unused greedy-walk CTEs are
    * pruned by the engine). */
  private def d85Sql: String =
    s"""WITH $d76TrainCtes,
       |${wpGreedyCtes("w")},
       |n AS (SELECT count(*) AS cnt FROM documents),
       |rows4 AS (
       |  SELECT 'bpe_merges' AS tbl,
       |    CASE WHEN (SELECT cnt FROM n) = 0 THEN 0 ELSE 3 END AS exp
       |  UNION ALL SELECT 'uni_costs', (SELECT count(*) FROM v1c)
       |  UNION ALL SELECT 'word_freq', (SELECT count(*) FROM wf)
       |  UNION ALL SELECT 'wp_vocab', (SELECT count(*) FROM wv0))
       |SELECT tbl, check_name, observed, ok FROM (
       |  SELECT tbl, 'rows_match_expected' AS check_name,
       |         CAST(exp AS BIGINT) AS observed, true AS ok FROM rows4
       |  UNION ALL SELECT tbl, 'null_keys', 0, true FROM rows4
       |  UNION ALL SELECT tbl, 'dup_keys', 0, true FROM rows4
       |  UNION ALL SELECT tbl, 'published_rows', CAST(exp AS BIGINT), true
       |  FROM rows4)
       |ORDER BY tbl, check_name""".stripMargin

  /** bpeCtes split (round 17): the shared tok/wf head and the three
    * merge rounds separate, so [[d83Sql]] can compose the rounds with
    * the d76 chain's OWN tok/wf (identical definitions — one set of
    * names per query). `bpeCtes` is byte-wise the round-16 string. */
  private def bpeCtes = tokWfCtes + ",\n" + bpeRoundCtes

  private def tokWfCtes =
    """tok AS (
      |  SELECT doc_id, unnest(string_split(lower(trim(regexp_replace(
      |      nfc_normalize(text), '\s+', ' ', 'g'))), ' ')) AS word
      |  FROM documents),
      |wf AS (SELECT word, count(*) AS cnt FROM tok
      |       WHERE length(word) > 0 GROUP BY word)""".stripMargin

  private def bpeRoundCtes =
    """r0 AS (SELECT word,
      |         ' ' || regexp_replace(word, '(.)', '\1 ', 'g') AS rep,
      |         cnt FROM wf),
      |p1 AS (SELECT pr.l AS l, pr.r AS r, CAST(SUM(cnt) AS BIGINT) AS pair_count
      |  FROM (SELECT unnest(list_transform(range(1, len(s)),
      |          i -> {'l': s[i], 'r': s[i+1]})) AS pr, cnt
      |        FROM (SELECT string_split(trim(rep), ' ') AS s, cnt FROM r0))
      |  GROUP BY 1, 2),
      |b1 AS (SELECT l, r, pair_count FROM p1
      |       ORDER BY pair_count DESC, l, r LIMIT 1),
      |r1 AS (SELECT word, replace(replace(rep,
      |    ' ' || (SELECT l FROM b1) || ' ' || (SELECT r FROM b1) || ' ',
      |    ' ' || (SELECT l FROM b1) || (SELECT r FROM b1) || ' '),
      |    ' ' || (SELECT l FROM b1) || ' ' || (SELECT r FROM b1) || ' ',
      |    ' ' || (SELECT l FROM b1) || (SELECT r FROM b1) || ' ') AS rep,
      |    cnt FROM r0),
      |p2 AS (SELECT pr.l AS l, pr.r AS r, CAST(SUM(cnt) AS BIGINT) AS pair_count
      |  FROM (SELECT unnest(list_transform(range(1, len(s)),
      |          i -> {'l': s[i], 'r': s[i+1]})) AS pr, cnt
      |        FROM (SELECT string_split(trim(rep), ' ') AS s, cnt FROM r1))
      |  GROUP BY 1, 2),
      |b2 AS (SELECT l, r, pair_count FROM p2
      |       ORDER BY pair_count DESC, l, r LIMIT 1),
      |r2 AS (SELECT word, replace(replace(rep,
      |    ' ' || (SELECT l FROM b2) || ' ' || (SELECT r FROM b2) || ' ',
      |    ' ' || (SELECT l FROM b2) || (SELECT r FROM b2) || ' '),
      |    ' ' || (SELECT l FROM b2) || ' ' || (SELECT r FROM b2) || ' ',
      |    ' ' || (SELECT l FROM b2) || (SELECT r FROM b2) || ' ') AS rep,
      |    cnt FROM r1),
      |p3 AS (SELECT pr.l AS l, pr.r AS r, CAST(SUM(cnt) AS BIGINT) AS pair_count
      |  FROM (SELECT unnest(list_transform(range(1, len(s)),
      |          i -> {'l': s[i], 'r': s[i+1]})) AS pr, cnt
      |        FROM (SELECT string_split(trim(rep), ' ') AS s, cnt FROM r2))
      |  GROUP BY 1, 2),
      |b3 AS (SELECT l, r, pair_count FROM p3
      |       ORDER BY pair_count DESC, l, r LIMIT 1)""".stripMargin

  /** In-order cosine; DuckDB's list_inner_product folds left-to-right,
    * matching Spark's `aggregate` fold (verified empirically by
    * tools/compare.py). */
  private def cosSql(a: String, b: String) =
    s"list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b)))"

  /** Distinct 3-token shingles per doc — mirrors LlmOps.shingles (DuckDB
    * list slices are 1-based inclusive: t[i:i+2] is 3 tokens). */
  private val shingleCte =
    """sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])) AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))""".stripMargin

  private val tokCte =
    """tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |        FROM documents)""".stripMargin

  /** Add-one-smoothed bigram log-probs per occurrence — mirrors
    * QualityOps.bigramLm's scoring stage; shared by the d18 and d50
    * oracles so the LM contract can never diverge between them. */
  private val bigramLpCtes =
    """t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |bg AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS w0,
      |         unnest(t[2:len(t)]) AS w1
      |       FROM t WHERE len(t) >= 2),
      |c2 AS (SELECT w0, w1, count(*) AS c2 FROM bg GROUP BY 1, 2),
      |c1 AS (SELECT w0, count(*) AS c1 FROM bg GROUP BY 1),
      |v AS (SELECT count(DISTINCT word) AS v FROM
      |        (SELECT unnest(string_split(text, ' ')) AS word FROM documents)),
      |lp AS (SELECT doc_id,
      |         CAST(ln((c2.c2 + 1)::DOUBLE / (c1.c1 + v.v)) AS DECIMAL(30,6))
      |           AS logp
      |       FROM bg JOIN c2 USING (w0, w1) JOIN c1 USING (w0), v)""".stripMargin

  private val simhashSql =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |             FROM documents),
      |th AS (SELECT doc_id,
      |         CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) AS h FROM tok),
      |votes AS (SELECT doc_id, bit,
      |            sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      |          FROM th, (SELECT unnest(range(32)) AS bit) bits GROUP BY 1, 2)
      |SELECT doc_id,
      |  CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER))
      |           ELSE 0 END) AS BIGINT) AS simhash
      |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
