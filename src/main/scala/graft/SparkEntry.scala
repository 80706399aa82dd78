package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Ann, Bpe, Curation, Dedup, Multimodal, Relational, TextAnalysis}
import graft.graph.GraphQueries

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> (Relational.q1PricingSummary _),
    "q3_top_revenue" -> (Relational.q3TopRevenue _),
    "q5_region_revenue" -> (Relational.q5RegionRevenue _),
    "q_mktseg_window" -> (Relational.qMktsegWindow _),
    "q_events_hourly" -> (Relational.qEventsHourly _),
    "q_order_priority" -> (Relational.qOrderPriority _),
    "g_edges" -> (GraphQueries.edges _),
    "g_degree" -> (GraphQueries.degree _),
    "g_degree_histogram" -> (GraphQueries.degreeHistogram _),
    "g_avg_degree" -> (GraphQueries.avgDegree _),
    "g_triangles" -> (GraphQueries.triangles _),
    "g_clustering_coeff" -> (GraphQueries.clusteringCoeff _),
    "g_avg_clustering" -> (GraphQueries.avgClustering _),
    "g_transitivity" -> (GraphQueries.transitivity _),
    "g_induced_subgraph" -> (GraphQueries.inducedSubgraph _),
    "g_motif_open_wedges" -> (GraphQueries.motifOpenWedges _),
    "g_sample_export_dot" -> (GraphQueries.sampleExportDot _),
    "g_connected_components" -> (GraphQueries.connectedComponents _),
    "g_label_propagation" -> (GraphQueries.labelPropagation _),
    "g_community_count" -> (GraphQueries.communityCount _),
    "g_pagerank" -> (GraphQueries.pageRank _),
    "g_bfs_landmarks" -> (GraphQueries.bfsLandmarks _),
    "g_closeness" -> (GraphQueries.closeness _),
    "g_diameter" -> (GraphQueries.diameter _),
    "g_betweenness" -> (GraphQueries.betweenness _),
    "g_edge_betweenness" -> (GraphQueries.edgeBetweenness _),
    "g_community_sample" -> (GraphQueries.communitySample _),
    "d_exact_dedup" -> (Dedup.exactDedup _),
    "d_minhash_lsh_dups" -> ((s, d) =>
      Dedup.cachedMinhashPairs(d, Tables(s, d).documents, threshold = 0.8)
        .filter(org.apache.spark.sql.functions.col("est_jaccard") >= 0.9)
        .orderBy("a", "b")),
    // maxHamming=3: the 4x16-bit chunk bucketing guarantees recall only
    // for hamming <= 3 (pigeonhole) — a higher threshold would silently
    // drop pairs whose differing bits span all four chunks
    "d_simhash_dups" -> ((s, d) =>
      Dedup.simhashDupPairs(Tables(s, d).documents, maxHamming = 3)
        .orderBy("a", "b")),
    "d_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Tables(s, d).documents, cacheKey = Some(d))
        .orderBy("a", "b")),
    // sim column dropped for the oracle: engines agree on the exact
    // neighbor ranking but differ ~1e-6 in the cosine value itself
    "e_knn_brute" -> ((s, d) =>
      Ann.knnBrute(s, d).select("query_id", "rank", "neighbor_id")
        .orderBy("query_id", "rank")),
    // sim dropped like e_knn_brute: ranking is engine-comparable, the
    // raw cosine differs in the last float ulps
    "e_knn_ivf" -> ((s, d) =>
      Ann.knnIvf(s, d).select("query_id", "rank", "neighbor_id")
        .orderBy("query_id", "rank")),
    "e_knn_pq" -> ((s, d) =>
      Ann.knnPq(s, d).select("query_id", "rank", "neighbor_id")
        .orderBy("query_id", "rank")),
    "d_semantic_dedup" -> ((s, d) => Ann.semanticDedup(s, d)),
    "e_centroid_assign" -> (Ann.centroidAssign _),
    "e_cluster_entropy" -> (Ann.clusterEntropy _),
    "e_ivf_recall" -> ((s, d) => Ann.ivfRecall(s, d)),
    "e_pq_recall" -> ((s, d) => Ann.pqRecall(s, d)),
    "e_opq_recall" -> ((s, d) => Ann.opqRecall(s, d)),
    "e_kcenter_coreset" -> ((s, d) => Ann.kcenterCoreset(s, d)),
    "e_knn_ivfpq" -> ((s, d) => Ann.knnIvfPq(s, d)),
    "e_ivfpq_recall" -> ((s, d) => Ann.ivfpqRecall(s, d)),
    // sim dropped like e_knn_brute: ranking is engine-comparable
    "e_knn_sq" -> ((s, d) =>
      Ann.knnSq(s, d).select("query_id", "rank", "neighbor_id")
        .orderBy("query_id", "rank")),
    "e_sq_recall" -> ((s, d) => Ann.sqRecall(s, d)),
    "e_embedding_covariance" -> (Ann.embeddingCovariance _),
    "e_pca_power" -> (Ann.pcaPower(_, _)),
    "g_core_sizes" -> (GraphQueries.coreSizes _),
    "g_community_graph" -> (GraphQueries.communityGraph _),
    "d_minhash_est_error" -> (Dedup.minhashEstError _),
    "m_avg_hash" -> (Multimodal.avgHashBuckets _),
    "m_media_neardup" -> ((s, d) => Multimodal.mediaNearDups(s, d)),
    "d_bigram_logprob" -> (TextAnalysis.bigramLogProb _),
    "d_dup_modality_agreement" -> ((s, d) =>
      graft.operators.Dedup.dupModalityAgreement(s, d)),
    "d_embedding_neardup" -> ((s, d) =>
      Ann.embeddingNearDups(s, d).orderBy("a", "b")),
    "q_events_sessions" -> (Relational.qEventsSessions _),
    "q_event_transitions" -> (Relational.qEventTransitions _),
    "q_basket_lift" -> (Relational.qBasketLift _),
    "q_asof_attribution" -> (Relational.qAsofAttribution _),
    "q_range_join" -> (Relational.qRangeJoin _),
    "q_pivot_revenue" -> (Relational.qPivotRevenue _),
    "q6_forecast_revenue" -> (Relational.q6ForecastRevenue _),
    "q_rollup_revenue" -> (Relational.qRollupRevenue _),
    "q_value_percentiles" -> (Relational.qValuePercentiles _),
    "q_customers_no_orders" -> (Relational.qCustomersNoOrders _),
    "g_weighted_degree" -> (GraphQueries.weightedDegree _),
    "g_weighted_clustering" -> (GraphQueries.weightedClustering _),
    "g_pagerank_weighted" -> (GraphQueries.weightedPageRank _),
    "d_token_count" -> (TextAnalysis.tokenCounts _),
    "d_quality_score" -> (TextAnalysis.qualityScores _),
    "d_lang_id" -> (TextAnalysis.langId _),
    "d_fingerprint" -> (TextAnalysis.fingerprints _),
    "d_top_tokens" -> ((s, d) => TextAnalysis.topTokens(s, d)),
    "m_multimodal_meta" -> (Multimodal.multimodalMeta _),
    "m_frame_sample" -> (Multimodal.frameSample _),
    "d_lang_confusion" -> (TextAnalysis.langConfusion _),
    "d_source_quality" -> (TextAnalysis.sourceQuality _),
    "g_density" -> (GraphQueries.density _),
    "g_assortativity" -> (GraphQueries.assortativity _),
    "g_neighbor_jaccard" -> (GraphQueries.neighborJaccard _),
    "g_kcore" -> (GraphQueries.kCore _),
    "g_ktruss" -> (GraphQueries.kTruss _),
    "g_core_number" -> (GraphQueries.coreNumbers _),
    "g_walk_corpus" -> ((s, d) => GraphQueries.walkCorpus(s, d)),
    "g_modularity" -> (GraphQueries.modularity _),
    "g_component_sizes" -> (GraphQueries.componentSizes _),
    "g_summary" -> (GraphQueries.summary _),
    "g_personalized_pagerank" -> (GraphQueries.personalizedPageRank _),
    "g_avg_path_length" -> (GraphQueries.avgPathLength _),
    "g_eccentricity" -> (GraphQueries.eccentricity _),
    "q_approx_distinct_users" -> (Relational.qApproxDistinctUsers _),
    "q9_profit_by_nation" -> (Relational.q9ProfitByNation _),
    "q_key_skew" -> (graft.operators.Skew.qKeySkew _),
    "q_approx_percentiles" -> (Relational.qApproxPercentiles _),
    "q_events_anomaly" -> (Relational.qEventsAnomaly _),
    "d_pack_efficiency" -> (Curation.packEfficiency(_, _)),
    "d_epoch_plan" -> (Curation.epochPlan(_, _)),
    "d_containment_dups" -> (Dedup.containmentDups(_, _)),
    "g_triangle_estimate" -> (GraphQueries.triangleEstimate(_, _)),
    "q11_important_parts" -> (Relational.q11ImportantParts _),
    "q12_shipping_priority" -> (Relational.q12ShippingPriority _),
    "q16_supplier_counts" -> (Relational.q16SupplierCounts _),
    "q20_excess_suppliers" -> (Relational.q20ExcessSuppliers _),
    "q21_waiting_suppliers" -> (Relational.q21WaitingSuppliers _),
    "g_sample_metrics" -> (GraphQueries.sampleMetrics _),
    // transitive near-dup clusters over the LSH pair graph (GraphX CC)
    "d_dup_clusters" -> ((s, d) =>
      Dedup.nearDupClusters(s, Tables(s, d).documents, cacheKey = d)),
    "d_dup_survivors" -> ((s, d) => Dedup.qualitySurvivors(s, d)),
    "d_substring_dups" -> ((s, d) => Dedup.substringDups(s, d)),
    "d_bpe_merges" -> ((s, d) => Bpe.bpeMerges(s, d)),
    "d_bpe_token_count" -> ((s, d) => Bpe.bpeTokenCounts(s, d)),
    "g_scc" -> (GraphQueries.scc _),
    "g_scc_sizes" -> (GraphQueries.sccSizes _),
    "g_reciprocity" -> (GraphQueries.reciprocity _),
    "g_bfs_paths" -> (GraphQueries.bfsPaths _),
    // end-to-end curation decision + deterministic data mixing
    "d_curation_pipeline" -> ((s, d) => Curation.curationDecisions(s, d)),
    "d_stratified_sample" -> ((s, d) => Curation.stratifiedSample(s, d)),
    "d_temperature_mix" -> ((s, d) => Curation.temperatureMix(s, d)),
    "g_max_neighbor_degree" -> (GraphQueries.maxNeighborDegree _),
    "g_directed_degrees" -> (GraphQueries.directedDegrees _),
    "g_ppr_parallel" -> (GraphQueries.pprParallel _),
    // Gopher-style repetition quality rules + unigram-LM scoring
    "d_repetition" -> (TextAnalysis.repetitionSignals _),
    "d_unigram_logprob" -> (TextAnalysis.unigramLogProb _),
    // benchmark decontamination + sequence packing (training-data prep)
    "d_contamination" -> ((s, d) => Curation.contamination(s, d)),
    "d_seq_packing" -> ((s, d) => Curation.sequencePacking(s, d)),
    "d_doc_chunking" -> ((s, d) => Curation.docChunks(s, d)),
    "d_chunk_dedup" -> ((s, d) => Curation.chunkDedupReport(s, d)),
    "d_line_dedup" -> ((s, d) => Curation.lineDedup(s, d)),
    "d_source_divergence" ->
      ((s, d) => TextAnalysis.sourceDivergence(s, d)),
    "d_lsh_plan" -> ((s, d) => Dedup.lshPlan(s, d)),
    "e_knn_filtered" -> ((s, d) => Ann.knnFiltered(s, d)),
    "e_knn_filtered_ivf" -> ((s, d) => Ann.knnFilteredIvf(s, d)),
    "e_filtered_recall" -> ((s, d) => Ann.filteredRecall(s, d)),
    "e_filtered_recall_ivf" -> ((s, d) => Ann.filteredIvfRecall(s, d)),
    "e_cell_sizes" -> ((s, d) => Ann.cellSizes(s, d)),
    "e_incremental_semdedup" -> ((s, d) =>
      graft.operators.AnnIndex.incrementalSemDedup(s, d)),
    "d_lsh_bucket_stats" -> ((s, d) => Dedup.lshBucketStats(s, d)),
    "q_kmv_distinct" -> ((s, d) => Relational.qKmvDistinct(s, d)),
    "d_curation_report" -> (Curation.curationReport _),
    "m_byte_resize" -> ((s, d) => Multimodal.byteResize(s, d)),
    "q17_small_qty_revenue" -> (Relational.q17SmallQtyRevenue _),
    "g_avg_neighbor_degree" -> (GraphQueries.avgNeighborDegree _),
    "g_katz" -> (GraphQueries.katz _),
    "g_eigenvector" -> (GraphQueries.eigenvectorCentrality _),
    "g_hits" -> (GraphQueries.hits _),
    "g_degree_centrality" -> (GraphQueries.degreeCentrality _),
    "g_adamic_adar" -> (GraphQueries.adamicAdar _),
    "d_tfidf_top_terms" -> ((s, d) => TextAnalysis.tfidfTopTerms(s, d)),
    "g_rich_club" -> (GraphQueries.richClub _),
    "g_clique4" -> (GraphQueries.clique4 _),
    "g_square_count" -> (GraphQueries.squareCount _),
    "g_graphlet_census" -> (GraphQueries.graphletCensus _),
    "g_community_conductance" -> (GraphQueries.communityConductance _),
    "g_community_assortativity" -> (GraphQueries.communityAssortativity _),
    "g_dyad_census" -> (GraphQueries.dyadCensus _),
    "g_triad_census" ->
      ((s: SparkSession, d: String) => graph.TriadCensus.census(s, d)),
    "e_label_centroids" -> (Ann.labelCentroids _),
    "e_silhouette" -> (Ann.silhouette _),
    "q18_large_orders" -> (Relational.q18LargeOrders _),
    "q_running_total" -> (Relational.qRunningTotal _),
    "q7_volume_shipping" -> (Relational.q7VolumeShipping _),
    "q8_market_share" -> (Relational.q8MarketShare _),
    "q14_promo_revenue" -> (Relational.q14PromoRevenue _),
    "g_sssp_weighted" -> (GraphQueries.weightedSssp _),
    "d_dsir_weights" -> ((s, d) => Curation.dsirWeights(s, d)),
    "g_louvain" -> (GraphQueries.louvain _),
    "g_louvain2" -> (GraphQueries.louvain2 _),
    "g_node2vec_corpus" -> ((s, d) => GraphQueries.node2vecCorpus(s, d)),
    "d_gopher_rules" -> (TextAnalysis.gopherRules _),
    "g_harmonic" -> (GraphQueries.harmonic _),
    "q2_min_price_supplier" -> (Relational.q2MinPriceSupplier _),
    "q_events_funnel" -> (Relational.qEventsFunnel _),
    "d_ccnet_buckets" -> ((s, d) => Curation.ccnetBuckets(s, d)),
    "e_knn_graph" -> ((s, d) => Ann.knnGraph(s, d)),
    "e_knn_graph_refined" -> ((s, d) => Ann.knnGraphRefined(s, d)),
    "g_mst" -> (GraphQueries.mst _),
    "g_local_bridges" -> (GraphQueries.localBridges _),
    "d_dup_cluster_sizes" -> ((s, d) =>
      Dedup.dupClusterSizes(s, Tables(s, d).documents, cacheKey = d)),
    "d_dup_cluster_purity" -> ((s, d) => Dedup.dupClusterPurity(s, d)),
    "q_cohort_retention" -> (Relational.qCohortRetention _),
    "g_coloring" -> (GraphQueries.coloring _),
    "q10_returned_items" -> (Relational.q10ReturnedItems _),
    "d_word_entropy" -> (TextAnalysis.wordEntropy _),
    "d_pii_scrub" -> (TextAnalysis.piiScrub _),
    "d_zipf_slope" -> ((s, d) => TextAnalysis.zipfSlope(s, d)),
    "g_knn_by_degree" -> (GraphQueries.knnByDegree _),
    "g_edge_arrival" -> (GraphQueries.edgeArrival _),
    "d_tokenizer_fertility" -> (TextAnalysis.tokenizerFertility _),
    "q_qoq_growth" -> (Relational.qQoqGrowth _),
    "g_global_efficiency" -> (GraphQueries.globalEfficiency _),
    "q_cube_revenue" -> (Relational.qCubeRevenue _),
    "d_holdout_split" -> (Curation.holdoutSplit _),
    "d_ngram_novelty" -> (TextAnalysis.ngramNovelty _),
    "d_hash_embedding" -> ((s, d) => TextAnalysis.hashEmbedding(s, d)),
    "d_chunk_retrieval" -> ((s, d) => TextAnalysis.chunkRetrieval(s, d)),
    "e_random_projection" -> ((s, d) => Ann.randomProjection(s, d)),
    "e_norm_stats" -> (Ann.normStats _),
    "g_link_prediction" -> ((s, d) => GraphQueries.linkPrediction(s, d)),
    "q13_order_distribution" -> (Relational.q13OrderDistribution _),
    "q15_top_supplier" -> (Relational.q15TopSupplier _),
    "q19_discounted_revenue" -> (Relational.q19DiscountedRevenue _),
    "q_late_shipments" -> (Relational.qLateShipments _),
    "q22_idle_customers" -> (Relational.q22IdleCustomers _),
    "g_anf" -> (GraphQueries.anf _),
    "g_salsa" -> (GraphQueries.salsa _),
    "q_grouping_sets" -> (Relational.qGroupingSets _),
    "g_percolation" -> (GraphQueries.percolation _),
    "g_powerlaw_alpha" -> ((s, d) => GraphQueries.powerlawAlpha(s, d)),
    "g_clustering_null" -> (GraphQueries.clusteringVsNull _),
    "g_community_nmi" -> (GraphQueries.communityNmi _),
    "g_link_temporal_eval" -> ((s, d) => GraphQueries.linkTemporalEval(s, d)),
    "q_props_json" -> (Relational.qPropsJson _),
    "q_decayed_activity" -> (Relational.qDecayedActivity _),
    "d_threshold_sweep" -> ((s, d) => Dedup.dedupThresholdSweep(s, d)),
    "g_effective_diameter" -> (GraphQueries.effectiveDiameter _),
    "g_neighbor_features" -> (GraphQueries.neighborFeatures _),
    "g_distance_histogram" -> (GraphQueries.distanceHistogram _),
    "g_attack_robustness" -> (GraphQueries.attackRobustness _),
    "g_influence_cascade" -> ((s, d) => GraphQueries.influenceCascade(s, d)),
    "m_paired_quality" -> ((s, d) => Multimodal.pairedQuality(s, d)),
    "q_heavy_hitters" -> ((s, d) => Relational.qHeavyHitters(s, d)),
    "g_densification" -> (GraphQueries.densification _),
    "d_readability" -> (TextAnalysis.readability _),
    "q_interarrival" -> (Relational.qInterarrival _),
    "g_seed_comparison" -> ((s, d) => GraphQueries.seedComparison(s, d)),
    "q_corr_matrix" -> (Relational.qCorrMatrix _),
    "q_skew_kurtosis" -> (Relational.qSkewKurtosis _),
    "q_median_mad" -> (Relational.qMedianMad _),
    "g_bowtie" -> (GraphQueries.bowtie _),
    "g_customer_projection" -> ((s, d) =>
      GraphQueries.customerProjection(s, d)),
    "e_kmeans_step" -> ((s, d) => Ann.kmeansStep(s, d)),
    "d_source_overlap" -> (Dedup.sourceOverlap _),
    "q_countmin" -> ((s, d) => Relational.qCountMin(s, d)),
    "e_centroid_outliers" -> ((s, d) => Ann.centroidOutliers(s, d)),
    "e_knn_eval" -> ((s, d) => Ann.knnEval(s, d)),
    "g_degree_entropy" -> (GraphQueries.degreeEntropy _),
    "e_bq_codes" -> (Ann.bqCodes _),
    "e_knn_bq" -> ((s, d) => Ann.knnBq(s, d)),
    "e_bq_recall" -> ((s, d) => Ann.bqRecall(s, d)),
    "e_matryoshka_recall" -> ((s, d) => Ann.matryoshkaRecall(s, d)),
    "e_mips_topk" -> ((s, d) => Ann.mipsTopK(s, d)),
    "q_rfm" -> (Relational.qRfm _),
    "q_abc_pareto" -> (Relational.qAbcPareto _),
    "q_benford" -> (Relational.qBenford _),
    "q_bloom_prefilter" -> (Relational.qBloomPrefilter _),
    "g_degree_gini" -> (GraphQueries.degreeGini _),
    "g_joint_degree" -> (GraphQueries.jointDegree _),
    "d_dup_inflation" -> (Dedup.dupInflation _),
    "q_value_deciles" -> (Relational.qValueDeciles _),
    "q_event_type_overlap" -> (Relational.qEventTypeOverlap _),
    "e_ivf_probe_sweep" -> ((s, d) => Ann.ivfProbeSweep(s, d)),
    "e_ivfpq_probe_sweep" -> ((s, d) => Ann.ivfpqProbeSweep(s, d)),
    "q_day_partition_pruning" ->
      ((s, d) => graft.sources.ZOrder.dayPruningReport(s, d)),
    "d_incremental_dedup" -> ((s, d) => Dedup.incrementalDedup(s, d)),
    "q_value_gini" -> (Relational.qValueGini _),
    "e_bq_rerank" -> ((s, d) => Ann.bqRerank(s, d)),
    "d_weighted_sample" -> ((s, d) => Curation.weightedSample(s, d)),
  )

  /** Shared oracle CTE: canonical co-purchase edge list + degree +
    * id-ordered triangle enumeration (each triangle a<b<c once). The
    * Spark side enumerates via degree-ordered orientation instead —
    * different traversal, identical counts. */
  /** Shared avg-hash (aHash) CTEs ending in `h` (doc_id, ahash as a
    * 64-char bit string) — consumed by m_avg_hash and m_media_neardup,
    * mirroring the one AvgHash64 expression both Spark queries share. */
  private val AvgHashCtes: String =
    """WITH cs AS (
      |  SELECT doc_id, string_split(text, '') AS chars FROM documents),
      |by AS (
      |  SELECT doc_id,
      |    CAST(((generate_subscripts(chars, 1) - 1) * 64)
      |      // len(chars) AS INT) AS b,
      |    unicode(unnest(chars)) AS v
      |  FROM cs),
      |agg AS (
      |  SELECT doc_id, b, sum(v) AS s, count(*) AS c
      |  FROM by GROUP BY 1, 2),
      |tot AS (
      |  SELECT doc_id, sum(v) AS st, count(*) AS lt FROM by GROUP BY 1),
      |bits AS (
      |  SELECT t.doc_id, g.b,
      |    CASE WHEN ag.s IS NOT NULL AND ag.s * t.lt > t.st * ag.c
      |      THEN '1' ELSE '0' END AS bit
      |  FROM tot t CROSS JOIN range(64) g(b)
      |  LEFT JOIN agg ag ON ag.doc_id = t.doc_id AND ag.b = g.b),
      |h AS (
      |  SELECT doc_id, string_agg(bit, '' ORDER BY b) AS ahash
      |  FROM bits GROUP BY doc_id)
      |""".stripMargin

  private val GraphCte: String =
    """WITH e AS (
      |  SELECT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      |  WHERE a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2),
      |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
      |deg AS (SELECT src AS id, count(*) AS degree FROM sym GROUP BY 1),
      |tri AS (
      |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM e e1 JOIN e e2 ON e1.dst = e2.src
      |  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      |tv AS (
      |  SELECT v AS id, count(*) AS triangles FROM (
      |    SELECT a AS v FROM tri UNION ALL
      |    SELECT b AS v FROM tri UNION ALL
      |    SELECT c AS v FROM tri)
      |  GROUP BY 1),
      |tvd AS (
      |  SELECT d.id, d.degree, coalesce(t.triangles, 0) AS triangles
      |  FROM deg d LEFT JOIN tv t USING (id))
      |""".stripMargin

  /** Shared oracle CTE for the DIRECTED purchase-sequence graph + exact
    * SCC labels via transitive closure. The closure is fine at sf0.01
    * (~2 s in DuckDB) and definitionally exact; SCC labels are canonical
    * (min member id), so the distributed FW-BW result must hash-match it
    * bit for bit. `reach` is a recursive CTE — DuckDB materializes the
    * working table, so the double reference in `mutual` is safe (unlike
    * plain CTEs, which inline per reference). */
  private val SccCte: String =
    """WITH RECURSIVE li AS (
      |  SELECT l_orderkey, l_partkey, l_linenumber FROM lineitem
      |  WHERE l_quantity >= 42),
      |seq AS (
      |  SELECT l_partkey AS src,
      |    lead(l_partkey) OVER (PARTITION BY l_orderkey
      |                          ORDER BY l_linenumber, l_partkey) AS dst
      |  FROM li),
      |de AS (SELECT DISTINCT src, dst FROM seq
      |       WHERE dst IS NOT NULL AND dst <> src),
      |dv AS (SELECT src AS id FROM de UNION SELECT dst FROM de),
      |reach(a, b) AS (
      |  SELECT src, dst FROM de
      |  UNION
      |  SELECT r.a, de.dst FROM reach r JOIN de ON de.src = r.b),
      |mutual AS (
      |  SELECT r1.a AS vv, r1.b AS uu
      |  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a),
      |sccl AS (
      |  SELECT dv.id, coalesce(least(dv.id, min(m.uu)), dv.id) AS scc_id
      |  FROM dv LEFT JOIN mutual m ON m.vv = dv.id
      |  GROUP BY dv.id)
      |""".stripMargin

  // ---- unrolled-iteration oracle builders ----------------------------
  // The iterative graph algorithms are deterministic (fixed iteration
  // counts, min/mode tie-breaks), so their oracles are the SAME update
  // rule unrolled as chained CTEs over the GraphCte tables. Generated
  // here rather than hand-written; all reference `e`/`sym`/`deg`.

  /** Min-label propagation to fixpoint: component = min reachable id.
    * `rounds` must exceed the max distance from each component's min
    * vertex (sf0.01 diameter ≈ 2; 8 rounds is a wide margin).
    *
    * Self-loops are folded into the propagation stream (`symp`) so each
    * round references the previous state exactly ONCE — DuckDB inlines
    * CTEs per reference, and a double reference per round re-evaluates
    * the whole chain (measured 360 s vs 1.7 s for 8 rounds). */
  private def ccUnrolled(rounds: Int): String =
    (1 to rounds).map { i =>
      s""", c$i AS (
         |  SELECT s.src AS id, min(n.lbl) AS lbl
         |  FROM symp s JOIN c${i - 1} n ON n.id = s.dst
         |  GROUP BY s.src)
         |""".stripMargin
    }.mkString(
      """, symp AS (SELECT src, dst FROM sym UNION ALL SELECT id, id FROM deg)
        |, c0 AS (SELECT id, id AS lbl FROM deg)
        |""".stripMargin, "", "")

  /** Synchronous LPA, mode-of-neighbor-labels with min-label tie-break —
    * exact [[graft.graph.Gx.labelPropagation]] semantics, unrolled. */
  private def lpaUnrolled(iters: Int): String =
    (1 to iters).map { i =>
      s""", n$i AS (
         |  SELECT s.src AS id, l.label, count(*) AS cnt
         |  FROM sym s JOIN l${i - 1} l ON l.id = s.dst
         |  GROUP BY s.src, l.label)
         |, l$i AS (
         |  SELECT id, label FROM (
         |    SELECT id, label, row_number() OVER (
         |      PARTITION BY id ORDER BY cnt DESC, label ASC) AS rn
         |    FROM n$i) WHERE rn = 1)
         |""".stripMargin
    }.mkString(", l0 AS (SELECT id, id AS label FROM deg)\n", "", "")

  /** Fixed-iteration PageRank (rank₀=1; rankᵢ₊₁ = 0.15 + 0.85·Σ rank/deg)
    * unrolled; `personalized` concentrates init + teleport on `srcv`. */
  private def prUnrolled(iters: Int, personalized: Boolean): String = {
    val init =
      if (!personalized) "SELECT id, 1.0 AS rank FROM deg"
      else
        """SELECT d.id, CASE WHEN d.id = (SELECT id FROM srcv)
          |    THEN 1.0 ELSE 0.0 END AS rank FROM deg d""".stripMargin
    val teleport =
      if (!personalized) "0.15"
      else "(CASE WHEN d.id = (SELECT id FROM srcv) THEN 0.15 ELSE 0.0 END)"
    (1 to iters).map { i =>
      s""", r$i AS (
         |  SELECT d.id, $teleport + 0.85 * coalesce(acc.a, 0.0) AS rank
         |  FROM deg d LEFT JOIN (
         |    SELECT s.dst AS id, sum(r.rank / dg.degree) AS a
         |    FROM sym s JOIN r${i - 1} r ON r.id = s.src
         |    JOIN deg dg ON dg.id = s.src
         |    GROUP BY s.dst) acc ON acc.id = d.id)
         |""".stripMargin
    }.mkString(s", r0 AS ($init)\n", "", "")
  }

  /** Weighted-PageRank rounds (exactly `Gx.weightedPageRank`): the
    * [[prUnrolled]] update with rank·w/strength message mass. */
  private def wprUnrolled(iters: Int): String =
    (1 to iters).map { i =>
      s""", w$i AS (
         |  SELECT v.id, 0.15 + 0.85 * coalesce(acc.a, 0.0) AS rank
         |  FROM ws v LEFT JOIN (
         |    SELECT y.dst AS id, sum(r.rank * y.weight / st.strength) AS a
         |    FROM wsym y JOIN w${i - 1} r ON r.id = y.src
         |    JOIN ws st ON st.id = y.src
         |    GROUP BY y.dst) acc ON acc.id = v.id)
         |""".stripMargin
    }.mkString(", w0 AS (SELECT id, 1.0 AS rank FROM ws)\n", "", "")

  /** Rank-offset speculative coloring rounds unrolled (exactly
    * Iterative.greedyColoring): per round every uncolored vertex takes
    * the (rk+1)-th color unused by colored neighbors, rk = #uncolored
    * neighbors with higher priority; adjacent same-color picks keep the
    * higher-priority endpoint. Priority = md5("jp:"||id) first 8 hex
    * digits, ties by id. */
  private def coloringUnrolled(rounds: Int): String = {
    val body = (1 to rounds).map { r =>
      s""", unc$r AS MATERIALIZED (
         |  SELECT p.id, p.h FROM pri p
         |  LEFT JOIN col${r - 1} c ON c.id = p.id WHERE c.id IS NULL),
         |rnk$r AS MATERIALIZED (
         |  SELECT u.id, u.h, d.degree, count(n.id) AS rk
         |  FROM unc$r u JOIN deg d ON d.id = u.id
         |  LEFT JOIN sym s ON s.src = u.id
         |  LEFT JOIN unc$r n ON n.id = s.dst
         |    AND (n.h > u.h OR (n.h = u.h AND n.id > u.id))
         |  GROUP BY u.id, u.h, d.degree),
         |nc$r AS (
         |  SELECT s.src AS id, c.color
         |  FROM sym s JOIN col${r - 1} c ON c.id = s.dst),
         |cand$r AS (
         |  SELECT id, rk, h, unnest(range(0, degree + 1)) AS c
         |  FROM rnk$r),
         |avl$r AS (
         |  SELECT cd.id, cd.rk, cd.h, cd.c,
         |         row_number() OVER (PARTITION BY cd.id ORDER BY cd.c) - 1
         |           AS rn
         |  FROM cand$r cd
         |  LEFT JOIN nc$r n ON n.id = cd.id AND n.color = cd.c
         |  WHERE n.id IS NULL),
         |pk$r AS MATERIALIZED (
         |  SELECT id, h, c AS color FROM avl$r WHERE rn = rk),
         |ls$r AS (
         |  SELECT DISTINCT p.id FROM pk$r p
         |  JOIN sym s ON s.src = p.id
         |  JOIN pk$r n ON n.id = s.dst AND n.color = p.color
         |    AND (n.h > p.h OR (n.h = p.h AND n.id > p.id))),
         |col$r AS MATERIALIZED (
         |  SELECT id, color FROM col${r - 1}
         |  UNION ALL
         |  SELECT p.id, p.color FROM pk$r p
         |  LEFT JOIN ls$r l ON l.id = p.id WHERE l.id IS NULL)
         |""".stripMargin
    }.mkString
    s""", pri AS MATERIALIZED (
       |  SELECT id, ('0x' || substr(md5('jp:' || CAST(id AS VARCHAR)),
       |    1, 8))::BIGINT AS h
       |  FROM deg),
       |col0 AS (SELECT id, CAST(0 AS BIGINT) AS color FROM deg LIMIT 0)
       |""".stripMargin + body +
    s"""SELECT id, color FROM col$rounds ORDER BY id""".stripMargin
  }

  /** Borůvka rounds unrolled (exactly Iterative.minimumSpanningForest):
    * per round each component picks its min outgoing edge under the
    * strict (weight, src, dst) order, then merges by `doubling`
    * pointer-doubling steps over the selection graph (2-cycles rooted
    * at the smaller id). Expects `we` (src, dst, weight) and emits
    * l0..l{rounds} labels + sel1..sel{rounds} picked edges. */
  private def msfUnrolled(rounds: Int, doubling: Int): String = {
    val body = (1 to rounds).map { r =>
      val dbl = (1 to doubling).map { i =>
        s""", p${r}_$i AS MATERIALIZED (
           |  SELECT a.c, coalesce(b.p, a.p) AS p
           |  FROM p${r}_${i - 1} a LEFT JOIN p${r}_${i - 1} b ON b.c = a.p)
           |""".stripMargin
      }.mkString
      s""", ec$r AS MATERIALIZED (
         |  SELECT e.src, e.dst, e.weight, la.comp AS ca, lb.comp AS cb
         |  FROM we e
         |  JOIN l${r - 1} la ON la.id = e.src
         |  JOIN l${r - 1} lb ON lb.id = e.dst
         |  WHERE la.comp <> lb.comp),
         |sel$r AS MATERIALIZED (
         |  SELECT comp, src, dst, weight, other FROM (
         |    SELECT comp, src, dst, weight, other, row_number() OVER (
         |      PARTITION BY comp ORDER BY weight, src, dst) AS rn
         |    FROM (SELECT ca AS comp, src, dst, weight, cb AS other FROM ec$r
         |          UNION ALL
         |          SELECT cb AS comp, src, dst, weight, ca AS other FROM ec$r))
         |  WHERE rn = 1),
         |p${r}_0 AS MATERIALIZED (
         |  SELECT x.comp AS c,
         |    CASE WHEN y.other = x.comp AND x.comp < x.other THEN x.comp
         |         ELSE x.other END AS p
         |  FROM sel$r x LEFT JOIN sel$r y ON y.comp = x.other)
         |""".stripMargin + dbl +
      s""", l$r AS MATERIALIZED (
         |  SELECT l.id, coalesce(pp.p, l.comp) AS comp
         |  FROM l${r - 1} l LEFT JOIN p${r}_$doubling pp ON pp.c = l.comp)
         |""".stripMargin
    }.mkString
    val forest = (1 to rounds)
      .map(r => s"SELECT src, dst, weight FROM sel$r")
      .mkString(" UNION ALL ")
    s""", l0 AS MATERIALIZED (
       |  SELECT src AS id, src AS comp FROM we
       |  UNION SELECT dst, dst FROM we)
       |""".stripMargin + body +
    s"""SELECT DISTINCT src, dst, CAST(weight AS BIGINT) AS weight
       |FROM ($forest)
       |ORDER BY src, dst""".stripMargin
  }

  /** Louvain phase-1 move rounds unrolled (see Iterative.louvainMoves):
    * round i moves only vertices with id%2 == i%2; the gain argmax is
    * the exact-integer numerator 2·m·k_{v,in}(C) − k_v·Σ_tot(C \ v),
    * ties to the smaller community id. Expects wsym/st/mm CTEs. */
  /** Weighted co-purchase graph + strengths + total mass — the shared
    * prefix of the Louvain oracles (phase-1 move loop inputs). */
  private val LouvainCte: String =
    """WITH we AS (
      |  SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS weight
      |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      |  WHERE a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2),
      |wsym AS MATERIALIZED (
      |  SELECT src, dst, weight FROM we
      |  UNION ALL SELECT dst, src, weight FROM we),
      |st AS MATERIALIZED (
      |  SELECT src AS id, CAST(sum(weight) AS BIGINT) AS k
      |  FROM wsym GROUP BY 1),
      |mm AS (SELECT CAST(sum(weight) AS BIGINT) AS m FROM we)
      |""".stripMargin

  private def louvainUnrolled(rounds: Int): String =
    louvainUnrolledOver(rounds, "l", "wsym", "st", "mm")

  /** Full two-level Louvain pipeline (phase-1 `l4`, contracted
    * supergraph, phase-2 `t4`) — shared by g_louvain2 and the NMI
    * agreement query. */
  private lazy val Louvain2Ctes: String = LouvainCte + louvainUnrolled(4) +
    """, sup AS MATERIALIZED (SELECT DISTINCT comm AS id FROM l4),
      |e2 AS MATERIALIZED (
      |  SELECT least(a.comm, b.comm) AS src,
      |    greatest(a.comm, b.comm) AS dst,
      |    CAST(sum(w.weight) AS BIGINT) AS weight
      |  FROM we w JOIN l4 a ON a.id = w.src JOIN l4 b ON b.id = w.dst
      |  WHERE a.comm <> b.comm GROUP BY 1, 2),
      |wsym2 AS MATERIALIZED (
      |  SELECT src, dst, weight FROM e2
      |  UNION ALL SELECT dst, src, weight FROM e2),
      |sw AS MATERIALIZED (
      |  SELECT s.id, CAST(coalesce(x.selfw, 0) AS BIGINT) AS selfw
      |  FROM sup s LEFT JOIN (
      |    SELECT a.comm AS id, sum(w.weight) AS selfw
      |    FROM we w JOIN l4 a ON a.id = w.src JOIN l4 b ON b.id = w.dst
      |    WHERE a.comm = b.comm GROUP BY 1) x USING (id)),
      |st2 AS MATERIALIZED (
      |  SELECT s.id, CAST(coalesce(k.ke, 0) + 2 * s.selfw AS BIGINT) AS k
      |  FROM sw s LEFT JOIN (
      |    SELECT src AS id, sum(weight) AS ke FROM wsym2 GROUP BY 1) k
      |    USING (id)),
      |mm2 AS (SELECT CAST(
      |  (SELECT coalesce(sum(weight), 0) FROM e2) +
      |  (SELECT coalesce(sum(selfw), 0) FROM sw) AS BIGINT) AS m)
      |""".stripMargin +
    louvainUnrolledOver(4, "t", "wsym2", "st2", "mm2")

  /** The Louvain move-round unroll over parameterized CTE names, so the
    * same SQL rule replays phase 1 (`l`, `wsym`, `st`, `mm`) and the
    * contracted phase 2 of g_louvain2 (`t`, `wsym2`, `st2`, `mm2` —
    * where st2/mm2 already fold in the supernode self-loops, which
    * never appear in wsym2/kvin, mirroring Iterative.moveRounds). */
  private def louvainUnrolledOver(rounds: Int, lp: String, wsym: String,
      st: String, mm: String): String =
    (1 to rounds).map { i =>
      val p = i % 2
      s""", ${lp}stot$i AS MATERIALIZED (
         |  SELECT l.comm, CAST(sum(s.k) AS BIGINT) AS stot
         |  FROM $lp${i - 1} l JOIN $st s USING (id) GROUP BY 1),
         |${lp}cand$i AS MATERIALIZED (
         |  SELECT id, comm, CAST(sum(kvin) AS BIGINT) AS kvin FROM (
         |    SELECT y.src AS id, l.comm, y.weight AS kvin
         |    FROM $wsym y JOIN $lp${i - 1} l ON l.id = y.dst
         |    UNION ALL
         |    SELECT id, comm, 0 FROM $lp${i - 1})
         |  WHERE id % 2 = $p
         |  GROUP BY 1, 2),
         |${lp}sc$i AS MATERIALIZED (
         |  SELECT c.id, c.comm,
         |    2 * (SELECT m FROM $mm) * c.kvin
         |      - s.k * (t.stot - CASE WHEN c.comm = cl.comm
         |                        THEN s.k ELSE 0 END) AS gain
         |  FROM ${lp}cand$i c
         |  JOIN $lp${i - 1} cl ON cl.id = c.id
         |  JOIN ${lp}stot$i t ON t.comm = c.comm
         |  JOIN $st s ON s.id = c.id),
         |$lp$i AS MATERIALIZED (
         |  SELECT id, comm FROM (
         |    SELECT id, comm, row_number() OVER (PARTITION BY id
         |      ORDER BY gain DESC, comm ASC) AS rn FROM ${lp}sc$i) WHERE rn = 1
         |  UNION ALL
         |  SELECT id, comm FROM $lp${i - 1} WHERE id % 2 <> $p)
         |""".stripMargin
    }.mkString(s", ${lp}0 AS MATERIALIZED (SELECT id, id AS comm FROM $st)\n",
      "", "")

  /** Bellman-Ford relaxation unrolled: s₀ = 0 at the source / INF
    * sentinel elsewhere; each round takes the min over incoming
    * (dist + weight). Mirrors Gx.weightedSssp's synchronous Pregel
    * rounds exactly — rounds past the fixpoint are no-ops, and integer
    * costs keep every distance exact. Expects `wsym` (src, dst, weight)
    * and `lm` (the single source) CTEs. */
  private def ssspUnrolled(rounds: Int): String = {
    val Inf = "1000000000000000"
    (1 to rounds).map { i =>
      s""", s$i AS MATERIALIZED (
         |  SELECT v.id,
         |    CAST(least(v.dist, coalesce(acc.m, v.dist)) AS BIGINT) AS dist
         |  FROM s${i - 1} v LEFT JOIN (
         |    SELECT y.dst AS id, min(r.dist + y.weight) AS m
         |    FROM wsym y JOIN s${i - 1} r ON r.id = y.src
         |    WHERE r.dist < $Inf
         |    GROUP BY y.dst) acc ON acc.id = v.id)
         |""".stripMargin
    }.mkString(
      s""", s0 AS MATERIALIZED (
         |  SELECT d.id, CAST(CASE WHEN d.id = (SELECT id FROM lm)
         |    THEN 0 ELSE $Inf END AS BIGINT) AS dist
         |  FROM deg d)
         |""".stripMargin, "", "")
  }

  /** Fixed-iteration Katz centrality unrolled (x₀=1; xᵢ₊₁ = 1 +
    * 0.005·Σ_nbr xᵢ — [[prUnrolled]] without the degree division). */
  private def katzUnrolled(iters: Int): String =
    (1 to iters).map { i =>
      s""", k$i AS (
         |  SELECT d.id, 1.0 + 0.005 * coalesce(acc.a, 0.0) AS rank
         |  FROM deg d LEFT JOIN (
         |    SELECT s.dst AS id, sum(r.rank) AS a
         |    FROM sym s JOIN k${i - 1} r ON r.id = s.src
         |    GROUP BY s.dst) acc ON acc.id = d.id)
         |""".stripMargin
    }.mkString(", k0 AS (SELECT id, 1.0 AS rank FROM deg)\n", "", "")

  /** Power iteration unrolled (x₀=1; xᵢ₊₁ = round(A·xᵢ/‖A·xᵢ‖₂, 8)):
    * the per-round 8-dp rounding replays the engine's pinned state
    * exactly — see Gx.eigenvector. */
  private def evUnrolled(iters: Int): String =
    (1 to iters).map { i =>
      // m_i is referenced twice (norm + state) and ev_i feeds the next
      // level: both MATERIALIZED, or DuckDB's per-reference inlining
      // recomputes the whole prefix 2^iters times
      // micro-int state: sums of BIGINTs are exact (DuckDB widens the
      // aggregate to HUGEINT), so no parallel-summation order can move
      // a value across its rounding grid — mirrors the engine exactly
      s""", m$i AS MATERIALIZED (
         |  SELECT s.dst AS id, CAST(sum(x.q) AS BIGINT) AS m
         |  FROM sym s JOIN ev${i - 1} x ON x.id = s.src
         |  GROUP BY s.dst)
         |, n$i AS (SELECT sqrt(CAST(sum(m * m) AS DOUBLE)) AS nv FROM m$i)
         |, ev$i AS MATERIALIZED (
         |  SELECT d.id, CAST(round(1000000.0 * coalesce(m.m, 0)
         |    / (SELECT nv FROM n$i)) AS BIGINT) AS q
         |  FROM deg d LEFT JOIN m$i m ON m.id = d.id)
         |""".stripMargin
    }.mkString(
      ", ev0 AS (SELECT id, CAST(1000000 AS BIGINT) AS q FROM deg)\n", "", "")

  /** HITS unrolled over the directed `de`/`dv` tables: per round the
    * I-step (auth from in-hub) then the O-step (hub from the NEW auth),
    * each L2-normalized and rounded to 8 dp like the engine state. */
  private def hitsUnrolled(iters: Int): String =
    (1 to iters).map { i =>
      // every multiply-referenced stage MATERIALIZED (see evUnrolled)
      // micro-int state like evUnrolled — exact integer sums, no
      // summation-order sensitivity
      s""", ar$i AS MATERIALIZED (
         |  SELECT d.dst AS id, CAST(sum(h.q) AS BIGINT) AS m
         |  FROM de d JOIN h${i - 1} h ON h.id = d.src
         |  GROUP BY d.dst)
         |, an$i AS (SELECT sqrt(CAST(sum(m * m) AS DOUBLE)) AS nv FROM ar$i)
         |, a$i AS MATERIALIZED (
         |  SELECT v.id, CAST(round(1000000.0 * coalesce(ar.m, 0)
         |    / (SELECT nv FROM an$i)) AS BIGINT) AS q
         |  FROM dv v LEFT JOIN ar$i ar ON ar.id = v.id)
         |, hr$i AS MATERIALIZED (
         |  SELECT d.src AS id, CAST(sum(a.q) AS BIGINT) AS m
         |  FROM de d JOIN a$i a ON a.id = d.dst
         |  GROUP BY d.src)
         |, hn$i AS (SELECT sqrt(CAST(sum(m * m) AS DOUBLE)) AS nv FROM hr$i)
         |, h$i AS MATERIALIZED (
         |  SELECT v.id, CAST(round(1000000.0 * coalesce(hr.m, 0)
         |    / (SELECT nv FROM hn$i)) AS BIGINT) AS q
         |  FROM dv v LEFT JOIN hr$i hr ON hr.id = v.id)
         |""".stripMargin
    }.mkString(
      ", h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS q FROM dv)\n", "", "")

  /** Directed purchase-sequence edge CTE (the [[SccCte]] derivation
    * minus the transitive closure): `de` (src,dst) + `dv` (id). */
  /** 64-way dyad-code classifier CASE, generated from the engine's
    * [[graph.TriadCensus.codeToType]] so the oracle and the engine
    * share ONE classification by construction. */
  private def triadCaseSql: String =
    graph.TriadCensus.codeToType.toSeq.sortBy(_._1)
      .map { case (k, v) => s"WHEN $k THEN '$v'" }
      .mkString("CASE cab * 16 + cac * 4 + cbc ", " ", " END")

  private val DirectedCte: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_partkey, l_linenumber FROM lineitem
      |  WHERE l_quantity >= 42),
      |seq AS (
      |  SELECT l_partkey AS src,
      |    lead(l_partkey) OVER (PARTITION BY l_orderkey
      |                          ORDER BY l_linenumber, l_partkey) AS dst
      |  FROM li),
      |de AS (SELECT DISTINCT src, dst FROM seq
      |       WHERE dst IS NOT NULL AND dst <> src),
      |dv AS (SELECT src AS id FROM de UNION SELECT dst FROM de)
      |""".stripMargin

  /** Parallel personalized PageRank unrolled: the [[prUnrolled]] update
    * rule keyed on (src, id) — all sources in `srcv` iterate jointly,
    * exactly like the engine's array-state message loop. */
  private def pprParallelUnrolled(iters: Int): String = {
    (1 to iters).map { i =>
      s""", p$i AS (
         |  SELECT sv.id AS src, d.id,
         |    (CASE WHEN d.id = sv.id THEN 0.15 ELSE 0.0 END)
         |      + 0.85 * coalesce(acc.a, 0.0) AS rank
         |  FROM srcv sv CROSS JOIN deg d LEFT JOIN (
         |    SELECT r.src, s.dst AS id, sum(r.rank / dg.degree) AS a
         |    FROM sym s JOIN p${i - 1} r ON r.id = s.src
         |    JOIN deg dg ON dg.id = s.src
         |    GROUP BY r.src, s.dst) acc
         |    ON acc.id = d.id AND acc.src = sv.id)
         |""".stripMargin
    }.mkString(
      """, p0 AS (
        |  SELECT s.id AS src, d.id,
        |    CASE WHEN d.id = s.id THEN 1.0 ELSE 0.0 END AS rank
        |  FROM srcv s CROSS JOIN deg d)
        |""".stripMargin, "", "")
  }

  /** Shared curation-decision CTE chain: minhash CC labels (near-dup),
    * exact window-min (exact-dup), quality signals, and language ID —
    * the already-oracled building blocks composed once, consumed by
    * both the per-doc decision and the corpus-level report oracles.
    * Ends inside the WITH clause (callers append `dec`/final SELECT). */
  /** Min-label CC replay over the ≥0.8 LSH pair graph, as CTEs ending
    * in `pcf` (id, lbl) — the shared skeleton of the six near-dup
    * cluster oracles: 16 unrolled propagation rounds PLUS a
    * convergence assertion (ADVICE r9). `pcguard` raises a DuckDB
    * error('pc16 CC replay not converged') whenever pc16 still
    * differs from pc15, so a cluster whose min-label radius exceeds
    * the unroll turns from a silently-diverging oracle into a loud
    * self-identifying failure (the `WHERE ok = 1` keeps the guard
    * column LIVE — an unreferenced column falls to projection
    * pushdown and the CASE never evaluates); on every converged
    * input `pcf` is
    * byte-identical to the old raw pc16. pc15/pc16 are MATERIALIZED
    * because the guard reads both a second time. */
  private lazy val PairCcCte: String =
    """, pe AS MATERIALIZED (
      |  SELECT a AS src, b AS dst FROM est WHERE est >= 0.8),
      |pv AS MATERIALIZED (SELECT src AS id FROM pe UNION SELECT dst FROM pe),
      |psymp AS MATERIALIZED (
      |  SELECT src, dst FROM pe UNION ALL SELECT dst, src FROM pe
      |  UNION ALL SELECT id, id FROM pv),
      |pc0 AS (SELECT id, id AS lbl FROM pv)""".stripMargin +
    (1 to 16).map { i =>
      val mat = if (i >= 15) "MATERIALIZED " else ""
      s""", pc$i AS $mat(
         |  SELECT s.src AS id, min(n.lbl) AS lbl
         |  FROM psymp s JOIN pc${i - 1} n ON n.id = s.dst GROUP BY s.src)
         |""".stripMargin
    }.mkString +
    """, pcguard AS (
      |  SELECT CASE WHEN (SELECT count(*) FROM pc16 p
      |      JOIN pc15 q ON q.id = p.id AND q.lbl <> p.lbl) = 0 THEN 1
      |    ELSE CAST(error('pc16 CC replay not converged') AS INT)
      |  END AS ok),
      |pcf AS (SELECT p.id, p.lbl FROM pc16 p CROSS JOIN pcguard
      |        WHERE pcguard.ok = 1)""".stripMargin

  private lazy val CurationCte: String = MinhashCte +
    PairCcCte +
    """, nearf AS (
      |  SELECT id AS doc_id,
      |    CASE WHEN id <> lbl THEN 1 ELSE 0 END AS near_dup FROM pcf),
      |exactf AS (
      |  SELECT doc_id, CASE WHEN doc_id <> min(doc_id)
      |    OVER (PARTITION BY text) THEN 1 ELSE 0 END AS exact_dup
      |  FROM documents),
      |qm AS (
      |  SELECT doc_id,
      |    length(text)::DOUBLE AS n_chars,
      |    (length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))::DOUBLE AS n_alpha,
      |    len(string_split_regex(text, '\s+'))::DOUBLE AS n_tokens,
      |    len(list_filter(string_split_regex(text, '\s+'),
      |      x -> x IN ('the','a','of','and','to','in')))::DOUBLE AS n_stop
      |  FROM documents),
      |qf AS (
      |  SELECT doc_id, round(least(n_tokens / 64.0, 1.0) * 0.5
      |    + (n_alpha / n_chars) * 0.3
      |    + least((n_stop / n_tokens) * 5.0, 1.0) * 0.2, 4) AS quality
      |  FROM qm),
      |lt AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS toks
      |  FROM documents),
      |ls AS (
      |  SELECT doc_id, 'de' AS lang, round(len(list_filter(toks, x -> x IN
      |    ('der','die','das','und','ist','nicht','ein','zu')))::DOUBLE
      |    / len(toks), 4) AS score FROM lt
      |  UNION ALL
      |  SELECT doc_id, 'en', round(len(list_filter(toks, x -> x IN
      |    ('the','a','of','and','to','in','is','that')))::DOUBLE
      |    / len(toks), 4) FROM lt
      |  UNION ALL
      |  SELECT doc_id, 'es', round(len(list_filter(toks, x -> x IN
      |    ('el','la','los','y','es','un','una','que')))::DOUBLE
      |    / len(toks), 4) FROM lt
      |  UNION ALL
      |  SELECT doc_id, 'fr', round(len(list_filter(toks, x -> x IN
      |    ('le','la','les','et','est','un','une','dans')))::DOUBLE
      |    / len(toks), 4) FROM lt),
      |lb AS (
      |  SELECT doc_id, lang, score, row_number() OVER (
      |    PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
      |  FROM ls),
      |lf AS (
      |  SELECT doc_id,
      |    CASE WHEN score >= 0.02 THEN lang ELSE 'und' END AS lang_pred
      |  FROM lb WHERE rn = 1)
      |""".stripMargin

  /** Iterative k-core peeling unrolled: drop vertices with residual
    * degree < k until fixpoint (`rounds` ≥ peel depth; sf0.01 converges
    * in 1 round — the whole graph is a 4-core). Each peel references
    * the previous edge set more than once, so the stages are pinned
    * MATERIALIZED — DuckDB's per-reference inlining would otherwise
    * re-evaluate the whole chain exponentially. */
  private def kcoreUnrolled(rounds: Int, k: Int): String =
    (1 to rounds).map { i =>
      s""", kk$i AS MATERIALIZED (
         |  SELECT src AS id FROM (
         |    SELECT src, dst FROM ke${i - 1}
         |    UNION ALL SELECT dst, src FROM ke${i - 1})
         |  GROUP BY src HAVING count(*) >= $k)
         |, ke$i AS MATERIALIZED (
         |  SELECT t.src, t.dst FROM ke${i - 1} t
         |  JOIN kk$i a ON a.id = t.src
         |  JOIN kk$i b ON b.id = t.dst)
         |""".stripMargin
    }.mkString(", ke0 AS MATERIALIZED (SELECT src, dst FROM e)\n", "", "")

  /** Unrolled iterated-h-index core decomposition (exactly
    * `Metrics.coreNumbers`): h₀ = degree; each round every vertex
    * takes the h-index of its neighbors' values (rank neighbors'
    * values descending, h = max rank with value ≥ rank). `rounds`
    * must cover the fixpoint at the oracle SF (sf0.01 converges in
    * 19; extra rounds are no-ops at the fixpoint). */
  private def coreUnrolled(rounds: Int): String =
    (1 to rounds).map { i =>
      s""", h$i AS MATERIALIZED (
         |  SELECT v AS id, max(CASE WHEN cv >= rn THEN rn ELSE 0 END) AS c
         |  FROM (
         |    SELECT s.dst AS v, p.c AS cv,
         |      row_number() OVER (PARTITION BY s.dst ORDER BY p.c DESC) AS rn
         |    FROM sym s JOIN h${i - 1} p ON p.id = s.src)
         |  GROUP BY v)
         |""".stripMargin
    }.mkString(
      ", h0 AS MATERIALIZED (SELECT id, degree AS c FROM deg)\n", "", "")

  /** Unrolled ANF Flajolet-Martin fixpoint (exactly [[graft.graph.Gx.anf]]):
    * sketch j of vertex v starts as the lowest-set-bit mask of the
    * md5-derived 28-bit hash of "anf:j:v"; each round OR-aggregates
    * over sym∪self. `rr` carries the per-round EXACT integer statistic
    * Σ lowestZeroBitMask — bit-identical to the engine's long sum. */
  private def anfUnrolled(rounds: Int, sketches: Int): String = {
    val body = (1 to rounds).map { i =>
      s""", a$i AS MATERIALIZED (
         |  SELECT s.src AS id, p.j, bit_or(p.mask) AS mask
         |  FROM symp s JOIN a${i - 1} p ON p.id = s.dst
         |  GROUP BY 1, 2)
         |""".stripMargin
    }.mkString
    val totals = (0 to rounds).map { i =>
      s"SELECT $i AS t, CAST(sum((mask + 1) & (~mask)) AS BIGINT) AS mask_total FROM a$i"
    }.mkString("\n  UNION ALL ")
    s""", js AS (SELECT unnest(range(0, $sketches)) AS j)
       |, a0h AS (
       |  SELECT d.id, js.j,
       |    ('0x' || substr(md5('anf:' || js.j || ':' || d.id), 1, 7))
       |      ::BIGINT AS h
       |  FROM deg d CROSS JOIN js)
       |, a0 AS MATERIALIZED (
       |  SELECT id, j,
       |    CASE WHEN h = 0 THEN 268435456 ELSE h & (-h) END AS mask
       |  FROM a0h)
       |, symp AS (SELECT src, dst FROM sym
       |    UNION ALL SELECT id, id FROM deg)
       |$body, rr AS (
       |  $totals)
       |""".stripMargin
  }

  /** One dedup-sweep level's CTEs (exactly `Dedup.dedupThresholdSweep`
    * at est-Jaccard ≥ pct%): filtered pair graph off the shared `est`
    * table, 16-round min-label CC, one aggregate row `t{pct}r`. */
  private def dedupSweepCtes(pct: Int, rounds: Int): String = {
    val pre = s"t$pct"
    val tau = pct / 100.0
    val body = (1 to rounds).map { i =>
      s""", ${pre}c$i AS MATERIALIZED (
         |  SELECT s.src AS id, min(n.lbl) AS lbl
         |  FROM ${pre}s s JOIN ${pre}c${i - 1} n ON n.id = s.dst
         |  GROUP BY s.src)
         |""".stripMargin
    }.mkString
    s""", ${pre}e AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM est WHERE est >= $tau)
       |, ${pre}v AS (SELECT src AS id FROM ${pre}e
       |    UNION SELECT dst FROM ${pre}e)
       |, ${pre}s AS (SELECT src, dst FROM ${pre}e
       |    UNION ALL SELECT dst AS src, src AS dst FROM ${pre}e
       |    UNION ALL SELECT id, id FROM ${pre}v)
       |, ${pre}c0 AS (SELECT id, id AS lbl FROM ${pre}v)
       |$body, ${pre}r AS (
       |  SELECT $pct AS threshold_pct,
       |    (SELECT count(*) FROM ${pre}e) AS n_pairs,
       |    CAST(count(*) AS BIGINT) AS n_clusters,
       |    CAST(coalesce(sum(m), 0) AS BIGINT) AS n_dup_docs,
       |    CAST((SELECT count(*) FROM documents) - coalesce(sum(m), 0)
       |      + count(*) AS BIGINT) AS n_survivors
       |  FROM (SELECT lbl, count(*) AS m FROM ${pre}c$rounds
       |        GROUP BY lbl HAVING count(*) > 1))
       |""".stripMargin
  }

  /** Unrolled independent-cascade rounds (exactly
    * `GraphQueries.influenceCascade`): seeds = top-4 degree hubs;
    * round t activates unseen neighbors of round t−1's activations
    * when the md5 coin of (infector, target, t) lands under p%. */
  private def icUnrolled(rounds: Int, p: Int): String =
    icUnrolledOver("ic", rounds, p,
      "SELECT id FROM deg ORDER BY degree DESC, id ASC LIMIT 4")

  /** IC unroll over a parameterized prefix + seed query — the SAME
    * coin regardless of seeds (common random numbers), so two seed
    * sets replayed in one statement form a paired comparison. */
  private def icUnrolledOver(pre: String, rounds: Int, p: Int,
                             seedsSql: String): String = {
    val body = (1 to rounds).map { i =>
      val f = if (i == 1) s"${pre}s" else s"${pre}n${i - 1}"
      s""", ${pre}n$i AS MATERIALIZED (
         |  SELECT DISTINCT s.dst AS id
         |  FROM sym s JOIN $f f ON f.id = s.src
         |  WHERE ('0x' || substr(md5('ic:' || s.src || ':' || s.dst ||
         |      ':$i'), 1, 7))::BIGINT % 100 < $p
         |    AND s.dst NOT IN (SELECT id FROM ${pre}i${i - 1}))
         |, ${pre}i$i AS MATERIALIZED (
         |  SELECT id FROM ${pre}i${i - 1} UNION SELECT id FROM ${pre}n$i)
         |""".stripMargin
    }.mkString
    val rows = (1 to rounds).map { i =>
      s"SELECT $i AS round, CAST(count(*) AS BIGINT) AS newly_activated FROM ${pre}n$i"
    }.mkString("\n  UNION ALL ")
    s""", ${pre}s AS ($seedsSql)
       |, ${pre}i0 AS (SELECT id FROM ${pre}s)
       |$body, ${pre}r AS (
       |  SELECT 0 AS round,
       |    CAST((SELECT count(*) FROM ${pre}s) AS BIGINT)
       |      AS newly_activated
       |  UNION ALL $rows)
       |""".stripMargin
  }

  /** One targeted-attack level's CTEs (exactly
    * `GraphQueries.attackRobustness` at pct% hubs removed): rank by
    * (degree DESC, id ASC), drop the top floor(|V|·pct/100), CC the
    * induced subgraph, one aggregate row `a{pct}r`. Needs `rk` (the
    * shared ranked degree table) emitted once by the caller. */
  private def attackCtes(pct: Int, rounds: Int): String = {
    val pre = s"a$pct"
    val body = (1 to rounds).map { i =>
      s""", ${pre}c$i AS MATERIALIZED (
         |  SELECT s.src AS id, min(n.lbl) AS lbl
         |  FROM ${pre}s s JOIN ${pre}c${i - 1} n ON n.id = s.dst
         |  GROUP BY s.src)
         |""".stripMargin
    }.mkString
    s""", ${pre}k AS MATERIALIZED (
       |  SELECT id FROM rk
       |  WHERE rnk > (SELECT count(*) FROM deg) * $pct // 100)
       |, ${pre}e AS MATERIALIZED (
       |  SELECT e.src, e.dst FROM e
       |  JOIN ${pre}k x ON x.id = e.src JOIN ${pre}k y ON y.id = e.dst)
       |, ${pre}v AS (SELECT src AS id FROM ${pre}e
       |    UNION SELECT dst FROM ${pre}e)
       |, ${pre}s AS (SELECT src, dst FROM ${pre}e
       |    UNION ALL SELECT dst AS src, src AS dst FROM ${pre}e
       |    UNION ALL SELECT id, id FROM ${pre}v)
       |, ${pre}c0 AS (SELECT id, id AS lbl FROM ${pre}v)
       |$body, ${pre}r AS (
       |  SELECT $pct AS removed_pct,
       |    (SELECT count(*) FROM ${pre}k) AS n_kept_vertices,
       |    CAST(count(*) + (SELECT count(*) FROM ${pre}k)
       |      - CAST(coalesce(sum(sz), 0) AS BIGINT) AS BIGINT)
       |      AS n_components,
       |    CAST(coalesce(max(sz), 1) AS BIGINT) AS giant_size
       |  FROM (SELECT lbl, count(*) AS sz FROM ${pre}c$rounds
       |        GROUP BY 1))
       |""".stripMargin
  }

  /** One percolation level's CTEs (exactly `GraphQueries.percolation`
    * at keep-probability p%): md5-coin edge sample, min-label CC
    * (sampled subgraphs fragment — sf0.01 converges by 8 rounds at
    * every level; callers pass margin), one aggregate row `p{p}r`.
    * Isolates = |deg| − Σ sizes, counted as size-1 components. */
  private def percCtes(p: Int, rounds: Int): String = {
    val pre = s"p$p"
    val body = (1 to rounds).map { i =>
      s""", ${pre}c$i AS MATERIALIZED (
         |  SELECT s.src AS id, min(n.lbl) AS lbl
         |  FROM ${pre}s s JOIN ${pre}c${i - 1} n ON n.id = s.dst
         |  GROUP BY s.src)
         |""".stripMargin
    }.mkString
    s""", ${pre}e AS MATERIALIZED (
       |  SELECT src, dst FROM e
       |  WHERE ('0x' || substr(md5('perc:' || src || ':' || dst), 1, 7))
       |    ::BIGINT % 100 < $p)
       |, ${pre}v AS (SELECT src AS id FROM ${pre}e
       |    UNION SELECT dst FROM ${pre}e)
       |, ${pre}s AS (SELECT src, dst FROM ${pre}e
       |    UNION ALL SELECT dst AS src, src AS dst FROM ${pre}e
       |    UNION ALL SELECT id, id FROM ${pre}v)
       |, ${pre}c0 AS (SELECT id, id AS lbl FROM ${pre}v)
       |$body, ${pre}r AS (
       |  SELECT $p AS p_pct,
       |    (SELECT count(*) FROM ${pre}e) AS n_edges_kept,
       |    CAST(count(*) + (SELECT count(*) FROM deg)
       |      - CAST(sum(sz) AS BIGINT) AS BIGINT) AS n_components,
       |    max(sz) AS giant_size
       |  FROM (SELECT lbl, count(*) AS sz FROM ${pre}c$rounds GROUP BY 1))
       |""".stripMargin
  }

  /** SQ8 shared CTEs (exactly `Ann.sqDecoded` + `Ann.knnSq`): per-dim
    * [min,max] → 8-bit linear codes → dequantized REAL corpus `dvec`
    * → cosine ranking `sqr`; `q` is the shared query slice. */
  private def sqCtes: String =
    """WITH ev AS MATERIALIZED (
      |  SELECT vec_id, i, CAST(x AS DOUBLE) AS x FROM (
      |    SELECT vec_id, unnest(embedding) AS x,
      |           generate_subscripts(embedding, 1) AS i FROM embeddings)),
      |st AS MATERIALIZED (
      |  SELECT i, min(x) AS mn, max(x) AS mx FROM ev GROUP BY i),
      |cd AS (
      |  SELECT e.vec_id, e.i,
      |    CASE WHEN s.mx = s.mn THEN 0
      |         ELSE CAST(round((e.x - s.mn) * 255.0 / (s.mx - s.mn))
      |              AS INT) END AS code
      |  FROM ev e JOIN st s ON s.i = e.i),
      |dq AS (
      |  SELECT c.vec_id, c.i,
      |    CAST(round(s.mn + c.code * (s.mx - s.mn) / 255.0, 6) AS REAL)
      |      AS d
      |  FROM cd c JOIN st s ON s.i = c.i),
      |dvec AS MATERIALIZED (
      |  SELECT vec_id, list(d ORDER BY i) AS dv FROM dq GROUP BY vec_id),
      |q AS (
      |  SELECT vec_id AS query_id, embedding AS q_emb
      |  FROM embeddings WHERE vec_id < 20),
      |sqs AS (
      |  SELECT q.query_id, d.vec_id AS neighbor_id,
      |    list_cosine_similarity(q.q_emb, d.dv) AS sim
      |  FROM dvec d CROSS JOIN q WHERE d.vec_id <> q.query_id),
      |sqr AS (
      |  SELECT query_id, neighbor_id, sim,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
      |  FROM sqs)
      |""".stripMargin

  /** Min-label CC over the SALSA bipartite support graph (built from
    * the [[DirectedCte]] `de`/`dv` tables): hub copy 2v, authority
    * copy 2v+1. Plain label propagation needs diameter-many rounds —
    * the sf0.01 bipartite graph converges by ~35; 56 leaves margin
    * across testdata regenerations. Final table: `bcc(id, lbl)`. */
  private def salsaCcUnrolled(rounds: Int): String = {
    val body = (1 to rounds).map { i =>
      s""", b$i AS MATERIALIZED (
         |  SELECT s.src AS id, min(n.lbl) AS lbl
         |  FROM bsp s JOIN b${i - 1} n ON n.id = s.dst
         |  GROUP BY s.src)
         |""".stripMargin
    }.mkString
    s""", be AS (SELECT src * 2 AS src, dst * 2 + 1 AS dst FROM de)
       |, bvv AS (SELECT src AS id FROM be UNION SELECT dst FROM be)
       |, bsp AS (SELECT src, dst FROM be
       |    UNION ALL SELECT dst AS src, src AS dst FROM be
       |    UNION ALL SELECT id, id FROM bvv)
       |, b0 AS (SELECT id, id AS lbl FROM bvv)
       |$body, bcc AS (SELECT id, lbl FROM b$rounds)
       |""".stripMargin
  }

  /** Unrolled k-truss peel (exactly `Metrics.kTruss`): per round,
    * enumerate each triangle once on the canonical surviving edges,
    * count per-edge support via the 3-leg union, drop edges below
    * k−2. `rounds` must cover the fixpoint at the oracle SF (sf0.01
    * converges in 5 rounds at k=12; extra rounds are no-ops on the
    * converged set). Final support is within the converged subgraph. */
  private def ktrussUnrolled(rounds: Int, k: Int): String =
    (1 to rounds).map { i =>
      s""", tt$i AS MATERIALIZED (
         |  SELECT ab.src AS a, ab.dst AS b, ac.dst AS c
         |  FROM te${i - 1} ab
         |  JOIN te${i - 1} ac ON ac.src = ab.src AND ac.dst > ab.dst
         |  JOIN te${i - 1} bc ON bc.src = ab.dst AND bc.dst = ac.dst)
         |, ts$i AS MATERIALIZED (
         |  SELECT src, dst, count(*) AS support FROM (
         |    SELECT a AS src, b AS dst FROM tt$i
         |    UNION ALL SELECT a, c FROM tt$i
         |    UNION ALL SELECT b, c FROM tt$i)
         |  GROUP BY src, dst)
         |, te$i AS MATERIALIZED (
         |  SELECT s.src, s.dst FROM ts$i s
         |  JOIN te${i - 1} t ON t.src = s.src AND t.dst = s.dst
         |  WHERE s.support >= ${k - 2})
         |""".stripMargin
    }.mkString(", te0 AS MATERIALIZED (SELECT src, dst FROM e)\n", "", "")

  /** Unrolled DeepWalk steps (exactly `GraphQueries.walkCorpus`): one
    * adjacency join per step, next = sorted-neighbor list indexed by
    * md5("seed:walk:step") mod degree (1-based list index in DuckDB). */
  private def walkUnrolled(steps: Int, stride: Long, seed: Long): String =
    (1 to steps).map { t =>
      s""", wk$t AS MATERIALIZED (
         |  SELECT w.walk_id,
         |    a.nbrs[CAST(('0x' || substr(md5('$seed:' ||
         |      CAST(w.walk_id AS VARCHAR) || ':$t'), 1, 8))::BIGINT
         |      % len(a.nbrs) AS INT) + 1] AS pos,
         |    list_append(w.seq, a.nbrs[CAST(('0x' || substr(md5('$seed:' ||
         |      CAST(w.walk_id AS VARCHAR) || ':$t'), 1, 8))::BIGINT
         |      % len(a.nbrs) AS INT) + 1]) AS seq
         |  FROM wk${t - 1} w JOIN wadj a ON a.pos = w.pos)
         |""".stripMargin
    }.mkString(
      s""", wadj AS MATERIALIZED (
         |  SELECT src AS pos, list_sort(list(dst)) AS nbrs
         |  FROM sym GROUP BY src)
         |, wk0 AS (
         |  SELECT id AS walk_id, id AS pos, [id] AS seq
         |  FROM deg WHERE id % $stride = 0)
         |""".stripMargin, "", "")

  /** Unrolled node2vec steps (exactly `GraphQueries.node2vecCorpus`):
    * per step, neighbors of the current vertex get integer weights
    * {4: = prev, 2: neighbor of prev, 1: otherwise} (p=1/2, q=2,
    * scaled ×2); the draw r = md5("n2v:seed:walk:t") mod Σwt picks the
    * sorted neighbor whose cumulative range covers r. */
  private def n2vUnrolled(steps: Int, stride: Long, seed: Long): String =
    (1 to steps).map { t =>
      s""", nx$t AS MATERIALIZED (
         |  SELECT w.walk_id, w.pos, w.prev, w.seq,
         |    unnest(a.nbrs) AS nbr, generate_subscripts(a.nbrs, 1) AS i
         |  FROM nw${t - 1} w JOIN wadj a ON a.pos = w.pos),
         |nwt$t AS MATERIALIZED (
         |  SELECT x.*, CASE WHEN x.nbr = x.prev THEN 4
         |              WHEN list_contains(ap.nbrs, x.nbr) THEN 2
         |              ELSE 1 END AS wt
         |  FROM nx$t x JOIN wadj ap ON ap.pos = x.prev),
         |nc$t AS MATERIALIZED (
         |  SELECT *, sum(wt) OVER (PARTITION BY walk_id ORDER BY i) AS cum,
         |    sum(wt) OVER (PARTITION BY walk_id) AS tot
         |  FROM nwt$t),
         |nw$t AS MATERIALIZED (
         |  SELECT walk_id, nbr AS pos, pos AS prev,
         |    list_append(seq, nbr) AS seq
         |  FROM (SELECT *, ('0x' || substr(md5('n2v:$seed:' ||
         |      CAST(walk_id AS VARCHAR) || ':$t'), 1, 8))::BIGINT % tot AS r
         |    FROM nc$t)
         |  WHERE cum > r AND cum - wt <= r)
         |""".stripMargin
    }.mkString(
      s""", wadj AS MATERIALIZED (
         |  SELECT src AS pos, list_sort(list(dst)) AS nbrs
         |  FROM sym GROUP BY src)
         |, nw0 AS (
         |  SELECT id AS walk_id, id AS pos, id AS prev, [id] AS seq
         |  FROM deg WHERE id % $stride = 0)
         |""".stripMargin, "", "")

  /** Shared portable-MinHash pipeline CTEs: md5-derived 28-bit base
    * hash, Carter–Wegman permutations (a·h + b) mod 2³¹−1 with
    * index-derived coefficients, 8 bands × 16 rows bucketed on the raw
    * signature slice — EXACTLY `Dedup.minhashSignatures(portable)` +
    * the band join, so candidate sets and estimates reproduce
    * bit-for-bit (see functions.TextHashes.tokenHashPortable). */
  private val MinhashCte: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |th AS (
      |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 7))::BIGINT AS h FROM tok),
      |perms AS (
      |  SELECT i, ((i + 1) * 2654435761) % 1073741823 + 1 AS a,
      |         ((i + 1) * 40503 * 65537) % 2147483647 AS b
      |  FROM range(128) t(i)),
      |sig AS MATERIALIZED (
      |  SELECT doc_id, i, min((a * h + b) % 2147483647) AS s
      |  FROM th CROSS JOIN perms GROUP BY doc_id, i),
      |bands AS MATERIALIZED (
      |  SELECT doc_id, CAST(i // 16 AS INT) AS band, list(s ORDER BY i) AS bsig
      |  FROM sig GROUP BY doc_id, CAST(i // 16 AS INT)),
      |cand AS MATERIALIZED (
      |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM bands x JOIN bands y ON x.band = y.band AND x.bsig = y.bsig
      |  WHERE x.doc_id < y.doc_id),
      |est AS MATERIALIZED (
      |  SELECT c.a, c.b, sum(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) / 128.0 AS est
      |  FROM cand c
      |  JOIN sig sa ON sa.doc_id = c.a
      |  JOIN sig sb ON sb.doc_id = c.b AND sb.i = sa.i
      |  GROUP BY c.a, c.b)
      |""".stripMargin

  /** Hyperplane-LSH embedding near-dup pipeline (CTE list, no WITH /
    * leading comma): portable md5-parity planes, 8-bit band buckets,
    * candidate pairs, norms and exact pair dots — shared by
    * d_embedding_neardup and d_dup_modality_agreement. */
  private val EmbNearDupBody: String =
    """ev AS MATERIALIZED (
      |  SELECT vec_id, CAST(x AS DOUBLE) AS x, i FROM (
      |    SELECT vec_id, unnest(embedding) AS x,
      |           generate_subscripts(embedding, 1) AS i
      |    FROM embeddings)),
      |planes AS MATERIALIZED (
      |  SELECT b.b, i.i,
      |    CASE WHEN ('0x' || substr(md5(b.b || '_' || (i.i - 1)), 1, 1))::INT >= 8
      |      THEN 1.0 ELSE -1.0 END AS p
      |  FROM range(48) b(b) CROSS JOIN (SELECT DISTINCT i FROM ev) i),
      |dots AS MATERIALIZED (
      |  SELECT ev.vec_id, pl.b, sum(ev.x * pl.p) AS dot
      |  FROM ev JOIN planes pl ON pl.i = ev.i
      |  GROUP BY ev.vec_id, pl.b),
      |bkts AS MATERIALIZED (
      |  SELECT vec_id, CAST(b // 8 AS INT) AS band,
      |    CAST(sum(CASE WHEN dot > 0 THEN 1 ELSE 0 END * (1 << (b % 8))) AS BIGINT)
      |      AS bucket
      |  FROM dots GROUP BY vec_id, b // 8),
      |ecand AS MATERIALIZED (
      |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
      |  FROM bkts x JOIN bkts y ON x.band = y.band AND x.bucket = y.bucket
      |  WHERE x.vec_id < y.vec_id),
      |norms AS MATERIALIZED (
      |  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ev GROUP BY vec_id),
      |pairdot AS MATERIALIZED (
      |  SELECT c.a, c.b, sum(ea.x * eb.x) AS dot
      |  FROM ecand c
      |  JOIN ev ea ON ea.vec_id = c.a
      |  JOIN ev eb ON eb.vec_id = c.b AND eb.i = ea.i
      |  GROUP BY c.a, c.b)""".stripMargin

  /** Nearest-centroid assignment pipeline shared by e_centroid_assign
    * and e_cluster_entropy: 6-dp float-pinned label centroids, cosine
    * argmax with clabel-DESC tie-break (the max-struct convention). */
  private val CentroidCte: String =
    """WITH ev AS MATERIALIZED (
      |  SELECT vec_id, label, i, CAST(x AS DOUBLE) AS x FROM (
      |    SELECT vec_id, label, unnest(embedding) AS x,
      |           generate_subscripts(embedding, 1) AS i FROM embeddings)),
      |ce AS MATERIALIZED (
      |  SELECT label AS clabel, i,
      |    CAST(CAST(round(sum(CAST(round(x * 1000000) AS BIGINT))
      |      / (count(*) * 1.0)) / 1000000.0 AS REAL) AS DOUBLE) AS c
      |  FROM ev GROUP BY label, i),
      |evn AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ev GROUP BY vec_id),
      |cn AS (SELECT clabel, sqrt(sum(c * c)) AS cnrm FROM ce GROUP BY clabel),
      |dots AS (
      |  SELECT e.vec_id, c.clabel, sum(e.x * c.c) AS dot
      |  FROM ev e JOIN ce c ON c.i = e.i
      |  GROUP BY e.vec_id, c.clabel),
      |asg AS (
      |  SELECT vec_id, clabel FROM (
      |    SELECT d.vec_id, d.clabel, row_number() OVER (
      |      PARTITION BY d.vec_id
      |      ORDER BY d.dot / (n.nrm * cn.cnrm) DESC, d.clabel DESC) AS rn
      |    FROM dots d
      |    JOIN evn n ON n.vec_id = d.vec_id
      |    JOIN cn ON cn.clabel = d.clabel)
      |  WHERE rn = 1),
      |tl AS (SELECT DISTINCT vec_id, label FROM ev)
      |""".stripMargin

  /** Sign-bit binary-quantization codes, two 32-bit halves packed as
    * BIGINTs (bit 63 is the sign bit and `1 << 63` overflows — in
    * BOTH engines; 31-bit-max shifts are portable). Mirrors
    * Ann.bqHalf exactly: bit i of half h set iff dim h·32+i is
    * strictly positive. */
  private val BqCte: String =
    """WITH bits AS (
      |  SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS d,
      |    unnest(embedding) AS x
      |  FROM embeddings),
      |codes AS (
      |  SELECT vec_id, label,
      |    CAST(coalesce(sum(CASE WHEN x > 0 AND d < 32
      |      THEN 1::BIGINT << (d % 32) END), 0) AS BIGINT) AS code_lo,
      |    CAST(coalesce(sum(CASE WHEN x > 0 AND d >= 32
      |      THEN 1::BIGINT << (d % 32) END), 0) AS BIGINT) AS code_hi
      |  FROM bits GROUP BY vec_id, label)
      |""".stripMargin

  /** Hamming top-k over the BQ codes (integer-exact ranking, ties by
    * smaller neighbor_id — the TopKByScore convention). */
  private val BqTopCte: String =
    """, bqq AS (
      |  SELECT vec_id AS query_id, code_lo AS q_lo, code_hi AS q_hi
      |  FROM codes WHERE vec_id < 20),
      |bqs AS (
      |  SELECT bqq.query_id, c.vec_id AS neighbor_id,
      |    bit_count(xor(c.code_lo, bqq.q_lo)) +
      |    bit_count(xor(c.code_hi, bqq.q_hi)) AS ham
      |  FROM codes c CROSS JOIN bqq WHERE c.vec_id <> bqq.query_id),
      |bqr AS (
      |  SELECT query_id, neighbor_id, ham,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY ham ASC, neighbor_id ASC) AS rank
      |  FROM bqs)
      |""".stripMargin

  /** Exact-integer embedding co-moments (CoMoments' 1e-3 quantization):
    * per-dim sums `s(i, sx, n)` and upper-triangle product sums
    * `p(i, j, sxy)`. BIGINT sums promote to HUGEINT — exact like the
    * aggregate's long/BigInt path. */
  private val CovCte: String =
    """WITH mv AS MATERIALIZED (
      |  SELECT vec_id, i - 1 AS i,
      |    CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS mx
      |  FROM (SELECT vec_id, unnest(embedding) AS x,
      |        generate_subscripts(embedding, 1) AS i FROM embeddings)),
      |s AS MATERIALIZED (
      |  SELECT i, sum(mx) AS sx, count(*) AS n FROM mv GROUP BY i),
      |p AS MATERIALIZED (
      |  SELECT a.i AS i, b.i AS j, sum(a.mx * b.mx) AS sxy
      |  FROM mv a JOIN mv b ON b.vec_id = a.vec_id AND b.i >= a.i
      |  GROUP BY a.i, b.i)
      |""".stripMargin

  /** Power iteration on the integer micro-covariance, unrolled: each
    * round y = C·v is an exact HUGEINT mat-vec, the norm is √(Σy²)
    * carried exactly until ONE double conversion, and the next vector
    * re-quantizes y/‖y‖ at 1e-6 — the identical integer walk
    * [[graft.operators.Ann.pcaPower]] takes (see its scaladoc). */
  private def pcaPowerUnrolled(iters: Int): String = {
    val steps = (1 to iters).map { t =>
      s""", y$t AS (
         |  SELECT c.i, sum(c.mc * v.vm) AS y
         |  FROM cf c JOIN v${t - 1} v ON v.i = c.j GROUP BY c.i),
         |n$t AS (
         |  SELECT sqrt(CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE)) AS nrm
         |  FROM y$t),
         |v$t AS (
         |  SELECT i, CAST(round(CAST(y AS DOUBLE) / nrm * 1000000) AS BIGINT)
         |    AS vm
         |  FROM y$t, n$t)
         |""".stripMargin
    }.mkString
    s""", cm AS MATERIALIZED (
       |  SELECT p.i, p.j, CAST(round((si.n * p.sxy - si.sx * sj.sx)
       |    / (si.n * si.n)) AS BIGINT) AS mc
       |  FROM p JOIN s si ON si.i = p.i JOIN s sj ON sj.i = p.j),
       |cf AS MATERIALIZED (
       |  SELECT i, j, mc FROM cm
       |  UNION ALL SELECT j, i, mc FROM cm WHERE i <> j),
       |v0 AS (
       |  SELECT i, CAST(round(1000000 / sqrt(CAST(
       |    (SELECT count(*) FROM s) AS DOUBLE))) AS BIGINT) AS vm FROM s)
       |""".stripMargin + steps
  }

  /** Oracle for the FLAGSHIP seeded community-sample walk. The Spark
    * walk draws every choice from md5("seed:community:step") (see
    * Csr.portableChoice), so the whole sampler — LPA
    * communities → intra-community clustering → walk lengths → the
    * step-by-step walk itself — reproduces in DuckDB: the walk is a
    * recursive CTE whose per-step choice is the same md5 arithmetic.
    * MATERIALIZED pins the tables the recursion re-references each
    * round (DuckDB inlines CTEs per reference). */
  private val SampleCte: String =
    "WITH RECURSIVE " + GraphCte.stripPrefix("WITH ") + lpaUnrolled(5) +
    """, comm AS MATERIALIZED (
      |  SELECT id, dense_rank() OVER (ORDER BY label) - 1 AS community FROM l5)
      |, intra AS MATERIALIZED (
      |  SELECT c1.community, e.src, e.dst
      |  FROM e JOIN comm c1 ON c1.id = e.src JOIN comm c2 ON c2.id = e.dst
      |  WHERE c1.community = c2.community)
      |, ideg AS (
      |  SELECT community, v, count(*) AS degree FROM (
      |    SELECT community, src AS v FROM intra
      |    UNION ALL SELECT community, dst AS v FROM intra) GROUP BY 1, 2)
      |, itri AS (
      |  SELECT c1.community, t.a, t.b, t.c FROM tri t
      |  JOIN comm c1 ON c1.id = t.a JOIN comm c2 ON c2.id = t.b
      |  JOIN comm c3 ON c3.id = t.c
      |  WHERE c1.community = c2.community AND c2.community = c3.community)
      |, itriv AS (
      |  SELECT v, count(*) AS triangles FROM (
      |    SELECT a AS v FROM itri UNION ALL SELECT b AS v FROM itri
      |    UNION ALL SELECT c AS v FROM itri) GROUP BY 1)
      |, vcc AS (
      |  SELECT cm.community,
      |    CASE WHEN coalesce(d.degree, 0) >= 2
      |      THEN 2.0 * coalesce(t.triangles, 0) / (d.degree * (d.degree - 1))
      |      ELSE 0.0 END AS cc
      |  FROM comm cm
      |  LEFT JOIN ideg d ON d.community = cm.community AND d.v = cm.id
      |  LEFT JOIN itriv t ON t.v = cm.id)
      |, cwalk AS MATERIALIZED (
      |  SELECT community, count(*) AS n_vertices, round(avg(cc), 6) AS avg_cc
      |  FROM vcc GROUP BY community)
      |, adj AS MATERIALIZED (
      |  SELECT community, v, list(n ORDER BY n) AS nbrs FROM (
      |    SELECT community, src AS v, dst AS n FROM intra
      |    UNION ALL SELECT community, dst AS v, src AS n FROM intra)
      |  GROUP BY 1, 2)
      |, wl AS MATERIALIZED (
      |  SELECT a.community,
      |    CAST(trunc(c.n_vertices / (1 + 2.0 * c.avg_cc)) AS INT) + 1 AS walk_len,
      |    list_extract(list(a.v ORDER BY a.v), 1 + CAST(
      |      ('0x' || substr(md5(concat(42, ':', a.community, ':', 0)), 1, 8))::BIGINT
      |      % count(*) AS INT)) AS start
      |  FROM adj a JOIN cwalk c USING (community)
      |  GROUP BY a.community, c.n_vertices, c.avg_cc)
      |, walk AS (
      |  SELECT community, 1 AS t, start AS cur FROM wl
      |  UNION ALL
      |  SELECT w.community, w.t + 1, list_extract(a.nbrs, 1 + CAST(
      |    ('0x' || substr(md5(concat(42, ':', w.community, ':', w.t)), 1, 8))::BIGINT
      |    % len(a.nbrs) AS INT))
      |  FROM walk w
      |  JOIN wl l ON l.community = w.community
      |  JOIN adj a ON a.community = w.community AND a.v = w.cur
      |  WHERE w.t < l.walk_len)
      |""".stripMargin

  /** Oracle for IVF ANN: the k-means-lite coarse quantizer is unrolled
    * Lloyd iterations in SQL. Portability hinges on
    * `Ann.kmeansCentroids` taking each round's means from exact
    * micro-int sums, rounded at scale 0 (`round(S/n)/1e6`) before the
    * float cast — no summation-order noise exists to begin with, so
    * centroids (and hence assignments, probes and rankings, whose
    * decision gaps are far wider than the residual ~1e-14 cosine
    * noise) are engine-identical. Cosines are manual double arithmetic
    * (the d_embedding_neardup precedent), tie-breaks mirror the Spark
    * side exactly: assignment max(struct(sim, cell)) → cell DESC;
    * probes → cell ASC; top-k → neighbor_id ASC. */
  /** The trained IVF index CTEs (unrolled Lloyd, exactly
    * `Ann.kmeansCentroids` + `Ann.assignCells`), ending with `idx`
    * (vec_id → cell) — shared by the e_knn_ivf and d_semantic_dedup
    * oracles, which are two consumers of the one trained index just
    * like the Spark side's shared `ivfIndex`. */
  private def ivfTrainedCtes(iters: Int, where: String = "TRUE"): String = {
    val rounds = (1 to iters).map { k =>
      s""", d$k AS (
         |  SELECT e.vec_id, c.cell, sum(e.x * c.c) AS dot,
         |    sqrt(sum(c.c * c.c)) AS cn
         |  FROM ev e JOIN c${k - 1} c ON c.i = e.i
         |  GROUP BY e.vec_id, c.cell)
         |, a$k AS MATERIALIZED (
         |  SELECT vec_id, cell FROM (
         |    SELECT d.vec_id, d.cell, row_number() OVER (
         |      PARTITION BY d.vec_id
         |      ORDER BY d.dot / (n.nrm * d.cn) DESC, d.cell DESC) AS rn
         |    FROM d$k d JOIN evn n ON n.vec_id = d.vec_id)
         |  WHERE rn = 1)
         |, c$k AS MATERIALIZED (
         |  SELECT a.cell, e.i,
         |    CAST(CAST(round(sum(e.xi) / (count(*) * 1.0)) / 1000000.0
         |      AS REAL) AS DOUBLE) AS c
         |  FROM a$k a JOIN ev e ON e.vec_id = a.vec_id
         |  GROUP BY a.cell, e.i)
         |""".stripMargin
    }.mkString(
      s"""WITH ev AS MATERIALIZED (
        |  SELECT vec_id, i, CAST(x AS DOUBLE) AS x,
        |    CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS xi FROM (
        |    SELECT vec_id, unnest(embedding) AS x,
        |           generate_subscripts(embedding, 1) AS i FROM embeddings
        |    WHERE $where)),
        |evn AS MATERIALIZED (
        |  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ev GROUP BY vec_id),
        |c0 AS MATERIALIZED (
        |  SELECT vec_id AS cell, i, x AS c FROM ev WHERE vec_id < 16)
        |""".stripMargin, "", "")
    // final inverted index under the converged centroids
    rounds +
    s""", dx AS (
       |  SELECT e.vec_id, c.cell, sum(e.x * c.c) AS dot,
       |    sqrt(sum(c.c * c.c)) AS cn
       |  FROM ev e JOIN c$iters c ON c.i = e.i
       |  GROUP BY e.vec_id, c.cell)
       |, idx AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT d.vec_id, d.cell, row_number() OVER (
       |      PARTITION BY d.vec_id
       |      ORDER BY d.dot / (n.nrm * d.cn) DESC, d.cell DESC) AS rn
       |    FROM dx d JOIN evn n ON n.vec_id = d.vec_id)
       |  WHERE rn = 1)
       |""".stripMargin
  }

  /** The filtered-IVF probe pipeline (exactly `Ann.knnFilteredIvf`):
    * queries carry their label, probe the 4 nearest cells, and the
    * label predicate joins INSIDE the probed-cell candidate set —
    * ranked `frr` is shared by e_knn_filtered_ivf and its recall
    * report. */
  private lazy val filteredIvfCtes: String = ivfTrainedCtes(3) +
    """, fq AS MATERIALIZED (
      |  SELECT vec_id AS query_id, label AS q_label
      |  FROM embeddings WHERE vec_id < 20)
      |, fprobes AS MATERIALIZED (
      |  SELECT query_id, cell FROM (
      |    SELECT d.vec_id AS query_id, d.cell, row_number() OVER (
      |      PARTITION BY d.vec_id
      |      ORDER BY d.dot / (n.nrm * d.cn) DESC, d.cell ASC) AS rk
      |    FROM dx d JOIN evn n ON n.vec_id = d.vec_id
      |    WHERE d.vec_id < 20)
      |  WHERE rk <= 4)
      |, fcd AS (
      |  SELECT p.query_id, f.q_label, x.vec_id AS neighbor_id,
      |    sum(eq.x * ex.x) AS dot
      |  FROM fprobes p
      |  JOIN fq f ON f.query_id = p.query_id
      |  JOIN idx x ON x.cell = p.cell
      |  JOIN embeddings el ON el.vec_id = x.vec_id
      |    AND el.label = f.q_label
      |  JOIN ev eq ON eq.vec_id = p.query_id
      |  JOIN ev ex ON ex.vec_id = x.vec_id AND ex.i = eq.i
      |  WHERE x.vec_id <> p.query_id
      |  GROUP BY p.query_id, f.q_label, x.vec_id)
      |, frr AS (
      |  SELECT c.query_id, c.q_label, c.neighbor_id, row_number() OVER (
      |    PARTITION BY c.query_id
      |    ORDER BY c.dot / (nq.nrm * nn.nrm) DESC, c.neighbor_id ASC)
      |    AS rank
      |  FROM fcd c JOIN evn nq ON nq.vec_id = c.query_id
      |  JOIN evn nn ON nn.vec_id = c.neighbor_id)
      |""".stripMargin

  /** The IVF probe query on top of the trained index (exactly
    * `Ann.knnIvf`): probe the 4 nearest cells per query, rank
    * candidates by exact cosine. */
  private def ivfUnrolled(iters: Int): String =
    ivfTopCtes(iters) +
      """SELECT query_id, rank, neighbor_id FROM rr
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** The trained-index probe/candidate/rank pipeline as CTEs ending in
    * `rr` — shared by e_knn_ivf and the recall report. */
  private def ivfTopCtes(iters: Int): String = {
    ivfTrainedCtes(iters) +
    s""", probes AS MATERIALIZED (
       |  SELECT query_id, cell FROM (
       |    SELECT d.vec_id AS query_id, d.cell, row_number() OVER (
       |      PARTITION BY d.vec_id
       |      ORDER BY d.dot / (n.nrm * d.cn) DESC, d.cell ASC) AS rk
       |    FROM dx d JOIN evn n ON n.vec_id = d.vec_id
       |    WHERE d.vec_id < 20)
       |  WHERE rk <= 4)
       |, cd AS (
       |  SELECT p.query_id, x.vec_id AS neighbor_id, sum(eq.x * ex.x) AS dot
       |  FROM probes p
       |  JOIN idx x ON x.cell = p.cell
       |  JOIN ev eq ON eq.vec_id = p.query_id
       |  JOIN ev ex ON ex.vec_id = x.vec_id AND ex.i = eq.i
       |  WHERE x.vec_id <> p.query_id
       |  GROUP BY p.query_id, x.vec_id)
       |, rr AS (
       |  SELECT cd.query_id, cd.neighbor_id, row_number() OVER (
       |    PARTITION BY cd.query_id
       |    ORDER BY cd.dot / (nq.nrm * nn.nrm) DESC, cd.neighbor_id ASC) AS rank
       |  FROM cd JOIN evn nq ON nq.vec_id = cd.query_id
       |  JOIN evn nn ON nn.vec_id = cd.neighbor_id)
       |""".stripMargin
  }

  /** The probe sweep on top of the trained index (exactly
    * `Ann.ivfProbeSweep`): probe ranking computed once, filtered to
    * each nProbe level; per-level candidate count + recall@10 vs the
    * brute baseline. hits·50 is an integer, so the 4-dp mean_recall is
    * engine-exact. */
  private def ivfSweepUnrolled(iters: Int, probes: Seq[Int]): String = {
    val levels = probes.sorted
    ivfTrainedCtes(iters) +
      """, pall AS MATERIALIZED (
        |  SELECT query_id, cell, rk FROM (
        |    SELECT d.vec_id AS query_id, d.cell, row_number() OVER (
        |      PARTITION BY d.vec_id
        |      ORDER BY d.dot / (n.nrm * d.cn) DESC, d.cell ASC) AS rk
        |    FROM dx d JOIN evn n ON n.vec_id = d.vec_id
        |    WHERE d.vec_id < 20)),
        |swq AS (
        |  SELECT vec_id AS query_id, embedding AS q_emb
        |  FROM embeddings WHERE vec_id < 20),
        |swbs AS (
        |  SELECT swq.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(swq.q_emb, e.embedding) AS sim
        |  FROM embeddings e CROSS JOIN swq WHERE e.vec_id <> swq.query_id),
        |swbr AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM swbs),
        |swbt AS (SELECT query_id, neighbor_id FROM swbr WHERE rank <= 10)
        |""".stripMargin +
      levels.map { p =>
        s""", cd$p AS MATERIALIZED (
           |  SELECT p.query_id, x.vec_id AS neighbor_id,
           |    sum(eq.x * ex.x) AS dot
           |  FROM pall p
           |  JOIN idx x ON x.cell = p.cell AND p.rk <= $p
           |  JOIN ev eq ON eq.vec_id = p.query_id
           |  JOIN ev ex ON ex.vec_id = x.vec_id AND ex.i = eq.i
           |  WHERE x.vec_id <> p.query_id
           |  GROUP BY p.query_id, x.vec_id),
           |rr$p AS (
           |  SELECT cd.query_id, cd.neighbor_id, row_number() OVER (
           |    PARTITION BY cd.query_id
           |    ORDER BY cd.dot / (nq.nrm * nn.nrm) DESC,
           |      cd.neighbor_id ASC) AS rank
           |  FROM cd$p cd JOIN evn nq ON nq.vec_id = cd.query_id
           |  JOIN evn nn ON nn.vec_id = cd.neighbor_id),
           |tp$p AS (SELECT query_id, neighbor_id FROM rr$p WHERE rank <= 10),
           |agg$p AS (
           |  SELECT CAST($p AS INT) AS n_probe,
           |    (SELECT CAST(count(*) AS BIGINT) FROM cd$p) AS n_candidates,
           |    round(count(t.neighbor_id) / 200.0, 4) AS mean_recall
           |  FROM swbt b LEFT JOIN tp$p t USING (query_id, neighbor_id))
           |""".stripMargin
      }.mkString +
      levels.map(p => s"SELECT * FROM agg$p")
        .mkString("", " UNION ALL ", " ORDER BY n_probe")
  }

  /** Within-cell kNN graph CTEs on top of the trained index (exactly
    * `Ann.knnGraph`): every vector's cell-mates ranked by exact cosine
    * (sim desc, id asc) in `rr` — shared by [[knnGraphUnrolled]] and
    * the NN-Descent refinement oracle. */
  private def knnGraphCtes(iters: Int): String =
    ivfTrainedCtes(iters) +
    """, pr AS (
       |  SELECT la.vec_id AS a, lb.vec_id AS b
       |  FROM idx la JOIN idx lb
       |    ON la.cell = lb.cell AND la.vec_id <> lb.vec_id)
       |, cosab AS (
       |  SELECT pr.a, pr.b, sum(ea.x * eb.x) AS dot
       |  FROM pr
       |  JOIN ev ea ON ea.vec_id = pr.a
       |  JOIN ev eb ON eb.vec_id = pr.b AND eb.i = ea.i
       |  GROUP BY pr.a, pr.b)
       |, rr AS (
       |  SELECT c.a AS vec_id, c.b AS neighbor_id, row_number() OVER (
       |    PARTITION BY c.a
       |    ORDER BY c.dot / (na.nrm * nb.nrm) DESC, c.b ASC) AS rank
       |  FROM cosab c
       |  JOIN evn na ON na.vec_id = c.a
       |  JOIN evn nb ON nb.vec_id = c.b)
       |""".stripMargin

  private def knnGraphUnrolled(iters: Int, k: Int): String =
    knnGraphCtes(iters) +
    s"""SELECT vec_id, rank, neighbor_id FROM rr
       |WHERE rank <= $k ORDER BY vec_id, rank""".stripMargin

  /** ONE NN-Descent round over the cell-local graph ∪ md5
    * pseudo-random seed edges (exactly `Ann.knnGraphRefined`):
    * candidates = co-neighbors of the undirected current graph ∪
    * current edges, re-scored with exact cosine, top-k per vertex. */
  private def knnGraphRefinedUnrolled(iters: Int, k: Int,
                                      seedsPerVec: Int): String =
    knnGraphCtes(iters) +
    s""", sd AS (
       |  SELECT vec_id AS a,
       |    ('0x' || substr(md5('nnd:' || CAST(vec_id AS VARCHAR) || ':'
       |      || CAST(s AS VARCHAR)), 1, 7))::BIGINT
       |      % ((SELECT count(*) FROM embeddings) - 1) AS m
       |  FROM embeddings,
       |    (SELECT unnest(range(1, ${seedsPerVec + 1})) AS s))
       |, g0 AS (
       |  SELECT vec_id AS a, neighbor_id AS b FROM rr WHERE rank <= $k
       |  UNION ALL
       |  SELECT a, CASE WHEN m >= a THEN m + 1 ELSE m END AS b FROM sd)
       |, und AS (SELECT a, b FROM g0 UNION SELECT b AS a, a AS b FROM g0)
       |, cand AS (
       |  SELECT x.b AS a, y.b AS b
       |  FROM und x JOIN und y ON x.a = y.a
       |  WHERE x.b <> y.b
       |  UNION
       |  SELECT a, b FROM und)
       |, csc AS (
       |  SELECT c.a, c.b, sum(ea.x * eb.x) AS dot
       |  FROM cand c
       |  JOIN ev ea ON ea.vec_id = c.a
       |  JOIN ev eb ON eb.vec_id = c.b AND eb.i = ea.i
       |  GROUP BY c.a, c.b)
       |, rr2 AS (
       |  SELECT c.a AS vec_id, c.b AS neighbor_id, row_number() OVER (
       |    PARTITION BY c.a
       |    ORDER BY c.dot / (na.nrm * nb.nrm) DESC, c.b ASC) AS rank
       |  FROM csc c
       |  JOIN evn na ON na.vec_id = c.a
       |  JOIN evn nb ON nb.vec_id = c.b)
       |SELECT vec_id, rank, neighbor_id FROM rr2
       |WHERE rank <= $k ORDER BY vec_id, rank""".stripMargin

  /** SemDeDup on top of the trained index (exactly
    * `Ann.semanticDedup`): within-cell pairs, exact cosine, drop to
    * the smallest qualifying lower id. */
  private def semDedupUnrolled(iters: Int, threshold: Double): String =
    ivfTrainedCtes(iters) +
    s""", pr AS (
       |  SELECT la.vec_id AS a, lb.vec_id AS b
       |  FROM idx la JOIN idx lb
       |    ON la.cell = lb.cell AND la.vec_id < lb.vec_id)
       |, cosab AS (
       |  SELECT pr.a, pr.b, sum(ea.x * eb.x) AS dot
       |  FROM pr
       |  JOIN ev ea ON ea.vec_id = pr.a
       |  JOIN ev eb ON eb.vec_id = pr.b AND eb.i = ea.i
       |  GROUP BY pr.a, pr.b)
       |, dup AS (
       |  SELECT c.b AS vec_id, min(c.a) AS dup_of
       |  FROM cosab c
       |  JOIN evn na ON na.vec_id = c.a
       |  JOIN evn nb ON nb.vec_id = c.b
       |  WHERE c.dot / (na.nrm * nb.nrm) >= $threshold
       |  GROUP BY c.b)
       |SELECT i.vec_id, i.cell, d.dup_of, d.dup_of IS NULL AS keep
       |FROM idx i LEFT JOIN dup d USING (vec_id)
       |ORDER BY i.vec_id""".stripMargin

  /** Unrolled PQ training + ADC search (exactly `Ann.pqCodebooks` +
    * `Ann.knnPq`): per-subspace Lloyd with 6-dp mean rounding,
    * L2 code assignment (d2 rounded 6 dp, ties → smaller code), then
    * the per-(query, subspace, code) LUT of 6-dp partial dots. */
  private def pqUnrolled(iters: Int, m: Int, sub: Int): String =
    pqCore(iters, m, sub) +
    """SELECT query_id, rank, neighbor_id FROM rr
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Shared PQ replay (micro-int subvector k-means, encode, LUT score,
    * ranked `rr`) — consumed by [[pqUnrolled]] and
    * [[pqRecallUnrolled]]. */
  private def pqCore(iters: Int, m: Int, sub: Int): String =
    s"""WITH ev AS MATERIALIZED (
       |  SELECT vec_id, i, CAST(x AS DOUBLE) AS x,
       |    CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS xi FROM (
       |    SELECT vec_id, unnest(embedding) AS x,
       |           generate_subscripts(embedding, 1) AS i FROM embeddings))
       |""".stripMargin + pqCoreBody(iters, m, sub)

  /** [[pqCore]] minus the `ev` definition — consumed with the default
    * corpus by [[pqCore]] and with the OPQ-ROTATED corpus by
    * [[opqRecallUnrolled]]; expects an `ev(vec_id, i, x, xi)` CTE
    * (1-based i, x double, xi = round(x·1e6)) to be in scope. */
  private def pqCoreBody(iters: Int, m: Int, sub: Int): String = {
    val rounds = (1 to iters).map { k =>
      s""", pd$k AS (
         |  SELECT e.vec_id, e.m, c.code,
         |    sum((e.xi - c.ci) * (e.xi - c.ci)) AS d2
         |  FROM sv e JOIN pc${k - 1} c ON c.m = e.m AND c.j = e.j
         |  GROUP BY e.vec_id, e.m, c.code)
         |, pa$k AS MATERIALIZED (
         |  SELECT vec_id, m, code FROM (
         |    SELECT vec_id, m, code, row_number() OVER (
         |      PARTITION BY vec_id, m
         |      ORDER BY d2 ASC, code ASC) AS rn
         |    FROM pd$k)
         |  WHERE rn = 1)
         |, pc$k AS MATERIALIZED (
         |  SELECT m, code, j, c, CAST(round(c * 1000000) AS BIGINT) AS ci
         |  FROM (
         |    SELECT a.m, a.code, e.j,
         |      CAST(CAST(round(sum(e.xi) / (count(*) * 1.0)) / 1000000.0
         |        AS REAL) AS DOUBLE) AS c
         |    FROM pa$k a JOIN sv e ON e.vec_id = a.vec_id AND e.m = a.m
         |    GROUP BY a.m, a.code, e.j))
         |""".stripMargin
    }.mkString(
      s""", sv AS MATERIALIZED (
         |  SELECT vec_id, CAST((i - 1) // $sub AS INT) AS m,
         |         CAST((i - 1) % $sub AS INT) AS j, x, xi
         |  FROM ev),
         |pc0 AS MATERIALIZED (
         |  SELECT m, CAST(vec_id AS INT) AS code, j, x AS c,
         |    CAST(round(x * 1000000) AS BIGINT) AS ci
         |  FROM sv WHERE vec_id < 16)
         |""".stripMargin, "", "")
    rounds +
    s""", pdx AS (
       |  SELECT e.vec_id, e.m, c.code,
       |    sum((e.xi - c.ci) * (e.xi - c.ci)) AS d2
       |  FROM sv e JOIN pc$iters c ON c.m = e.m AND c.j = e.j
       |  GROUP BY e.vec_id, e.m, c.code)
       |, enc AS MATERIALIZED (
       |  SELECT vec_id, m, code FROM (
       |    SELECT vec_id, m, code, row_number() OVER (
       |      PARTITION BY vec_id, m
       |      ORDER BY d2 ASC, code ASC) AS rn
       |    FROM pdx)
       |  WHERE rn = 1)
       |, lut AS MATERIALIZED (
       |  SELECT q.vec_id AS query_id, c.m, c.code,
       |    sum(q.xi * c.ci) AS pdot
       |  FROM sv q JOIN pc$iters c ON c.m = q.m AND c.j = q.j
       |  WHERE q.vec_id < 20
       |  GROUP BY q.vec_id, c.m, c.code)
       |, pn AS MATERIALIZED (
       |  SELECT m, code, sum(ci * ci) AS pn2
       |  FROM pc$iters GROUP BY m, code)
       |, qn AS (
       |  SELECT vec_id AS query_id,
       |    sqrt(CAST(sum(xi * xi) AS DOUBLE)) AS qnorm
       |  FROM ev WHERE vec_id < 20 GROUP BY vec_id)
       |, sc AS (
       |  SELECT l.query_id, e.vec_id,
       |    sum(l.pdot) AS dot, sum(p.pn2) AS rn2
       |  FROM enc e
       |  JOIN lut l ON l.m = e.m AND l.code = e.code
       |  JOIN pn p ON p.m = e.m AND p.code = e.code
       |  WHERE e.vec_id <> l.query_id
       |  GROUP BY l.query_id, e.vec_id)
       |, rr AS (
       |  SELECT sc.query_id, sc.vec_id AS neighbor_id, row_number() OVER (
       |    PARTITION BY sc.query_id
       |    ORDER BY CAST(sc.dot AS DOUBLE)
       |      / (q.qnorm * sqrt(CAST(sc.rn2 AS DOUBLE))) DESC, sc.vec_id ASC)
       |    AS rank
       |  FROM sc JOIN qn q ON q.query_id = sc.query_id)
       |""".stripMargin
  }

  /** k-center greedy coreset oracle (exactly `Ann.kcenterCoreset`):
    * farthest-point traversal from vec 0, min-dist² maintained
    * incrementally (one join per pick to the previous pick's vector),
    * argmax with the smaller-id tie-break, selected ids excluded. All
    * distances are exact BIGINT sums of micro-int squared diffs. */
  private def kcenterUnrolled(k: Int): String = {
    val steps = (1 until k).map { r =>
      val centerSel = if (r == 1) "0" else s"(SELECT vec_id FROM p${r - 1})"
      val mBody =
        if (r == 1) "SELECT vec_id, d2 FROM d1"
        else s"SELECT m.vec_id, least(m.d2, d.d2) AS d2 " +
          s"FROM m${r - 1} m JOIN d$r d ON d.vec_id = m.vec_id"
      val excluded = "0" +
        (1 until r).map(i => s", (SELECT vec_id FROM p$i)").mkString
      s""", c$r AS MATERIALIZED (
         |  SELECT i, xi FROM xm WHERE vec_id = $centerSel)
         |, d$r AS MATERIALIZED (
         |  SELECT a.vec_id, CAST(sum((a.xi - b.xi) * (a.xi - b.xi))
         |    AS BIGINT) AS d2
         |  FROM xm a JOIN c$r b ON b.i = a.i
         |  GROUP BY a.vec_id)
         |, m$r AS MATERIALIZED ($mBody)
         |, p$r AS MATERIALIZED (
         |  SELECT vec_id, d2 FROM m$r
         |  WHERE vec_id NOT IN ($excluded)
         |  ORDER BY d2 DESC, vec_id ASC LIMIT 1)
         |""".stripMargin
    }.mkString
    val rows = Seq(
      "SELECT 0 AS rank, CAST(0 AS BIGINT) AS vec_id, " +
        "CAST(0 AS BIGINT) AS radius_d2") ++
      (1 until k).map(r =>
        s"SELECT $r, (SELECT vec_id FROM p$r), (SELECT d2 FROM p$r)")
    """WITH xm AS MATERIALIZED (
      |  SELECT vec_id, i,
      |    CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS xi
      |  FROM (SELECT vec_id, unnest(embedding) AS x,
      |        generate_subscripts(embedding, 1) AS i FROM embeddings))
      |""".stripMargin + steps +
      s"SELECT * FROM (${rows.mkString(" UNION ALL ")}) ORDER BY rank"
  }

  /** OPQ oracle: the ENTIRE pipeline unrolled — integer covariance
    * (CovCte's moment pass), `nRefl` deflated HUGEINT power
    * iterations, exact-integer Householder reflections composed into
    * the 1e-6-pinned rotation, micro-dot rotation of the corpus, then
    * the standard PQ train/encode/ADC replay ([[pqCoreBody]]) over the
    * rotated `ev` and the recall join vs the ORIGINAL-space brute
    * top-10. Every division is the shared half-away-from-zero integer
    * form (negative numerators routed through the non-negative case,
    * so HUGEINT `//` semantics never matter); the rotated micro
    * coordinate is the ONE double-rounded quotient, at scale 0 where
    * ties are representation-exact. Mirrors `Ann.opqRotationMicro` +
    * `Ann.opqRotatedEmb` + `Ann.knnOpq` step for step. */
  private def opqRecallUnrolled(nRefl: Int, powIters: Int, pqIters: Int,
                                m: Int, sub: Int): String = {
    def rdiv(num: String, den: String): String =
      s"CASE WHEN $num >= 0 THEN (2 * ($num) + $den) // (2 * ($den)) " +
        s"ELSE -((-2 * ($num) + $den) // (2 * ($den))) END"
    val reflections = (0 until nRefl).map { j =>
      val ax = j * sub
      // every round CTE is MATERIALIZED: DuckDB inlines plain CTEs per
      // reference, and v/n are each read more than once (w + deflation
      // + next round) — un-pinned, the 16-round chains re-expand
      // multiplicatively across reflections (observed: a 39 GB plan)
      val power = (1 to powIters).map { t =>
        s""", f${j}y$t AS MATERIALIZED (
           |  SELECT c.i, sum(CAST(c.mc AS HUGEINT) * v.vm) AS y
           |  FROM cf$j c JOIN f${j}v${t - 1} v ON v.i = c.j GROUP BY c.i),
           |f${j}n$t AS MATERIALIZED (
           |  SELECT sqrt(CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE)) AS nrm
           |  FROM f${j}y$t),
           |f${j}v$t AS MATERIALIZED (
           |  SELECT i, CAST(round(CAST(y AS DOUBLE) / nrm * 1000000)
           |    AS BIGINT) AS vm
           |  FROM f${j}y$t, f${j}n$t)
           |""".stripMargin
      }.mkString
      val deflate =
        if (j == nRefl - 1) ""
        else
          s""", f${j}lam AS MATERIALIZED (
             |  SELECT CAST(round((SELECT nrm FROM f${j}n$powIters) / 1e6)
             |    AS BIGINT) AS lam)
             |, cf${j + 1} AS MATERIALIZED (
             |  SELECT i, j, mc - (${rdiv("n2", "1000000000000")}) AS mc
             |  FROM (SELECT c.i, c.j, CAST(c.mc AS HUGEINT) AS mc,
             |          CAST(l.lam AS HUGEINT) * va.vm * vb.vm AS n2
             |        FROM cf$j c
             |        JOIN f${j}v$powIters va ON va.i = c.i
             |        JOIN f${j}v$powIters vb ON vb.i = c.j, f${j}lam l))
             |""".stripMargin
      s""", f${j}v0 AS MATERIALIZED (
         |  SELECT i, CAST(round(1000000 / sqrt(64.0)) AS BIGINT) AS vm
         |  FROM (SELECT DISTINCT i FROM cf$j))
         |""".stripMargin + power +
      s""", f${j}w AS MATERIALIZED (
         |  SELECT a, ${rdiv("s", "1000000")} AS w
         |  FROM (SELECT r.a, sum(CAST(r.v AS HUGEINT) * v.vm) AS s
         |        FROM r$j r JOIN f${j}v$powIters v ON v.i = r.b
         |        GROUP BY r.a))
         |, f${j}wn AS MATERIALIZED (
         |  SELECT CAST(round(sqrt(CAST(sum(CAST(w AS HUGEINT) * w)
         |    AS DOUBLE))) AS BIGINT) AS wn FROM f${j}w)
         |, f${j}u AS MATERIALIZED (
         |  SELECT a, CAST(w AS HUGEINT) - CASE WHEN a = $ax THEN
         |      CASE WHEN (SELECT w FROM f${j}w WHERE a = $ax) > 0
         |        THEN -(SELECT wn FROM f${j}wn)
         |        ELSE (SELECT wn FROM f${j}wn) END
         |    ELSE 0 END AS u
         |  FROM f${j}w)
         |, f${j}uu AS MATERIALIZED (SELECT sum(u * u) AS uu FROM f${j}u)
         |, h$j AS MATERIALIZED (
         |  SELECT a, b, CASE WHEN a = b THEN 1000000 ELSE 0 END
         |    - (${rdiv("n2", "uu")}) AS v
         |  FROM (SELECT ua.a AS a, ub.a AS b, 2 * ua.u * ub.u * 1000000 AS n2,
         |          q.uu AS uu
         |        FROM f${j}u ua, f${j}u ub, f${j}uu q))
         |, r${j + 1} AS MATERIALIZED (
         |  SELECT a, b, ${rdiv("s", "1000000")} AS v
         |  FROM (SELECT h.a AS a, r.b AS b,
         |          sum(CAST(h.v AS HUGEINT) * r.v) AS s
         |        FROM h$j h JOIN r$j r ON r.a = h.b GROUP BY h.a, r.b))
         |""".stripMargin + deflate
    }.mkString
    CovCte +
    s""", cm2 AS MATERIALIZED (
       |  SELECT p.i, p.j, CAST(round((si.n * p.sxy - si.sx * sj.sx)
       |    / (si.n * si.n)) AS BIGINT) AS mc
       |  FROM p JOIN s si ON si.i = p.i JOIN s sj ON sj.i = p.j),
       |cf0 AS MATERIALIZED (
       |  SELECT i, j, mc FROM cm2
       |  UNION ALL SELECT j, i, mc FROM cm2 WHERE i <> j),
       |r0 AS MATERIALIZED (
       |  SELECT ar.range AS a, br.range AS b,
       |    CASE WHEN ar.range = br.range THEN 1000000 ELSE 0 END AS v
       |  FROM range(64) ar, range(64) br)
       |""".stripMargin +
    reflections +
    s""", xm AS MATERIALIZED (
       |  SELECT vec_id, i - 1 AS i,
       |    CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS xi
       |  FROM (SELECT vec_id, unnest(embedding) AS x,
       |        generate_subscripts(embedding, 1) AS i FROM embeddings)),
       |ev AS MATERIALIZED (
       |  SELECT vec_id, a + 1 AS i, CAST(rm AS DOUBLE) / 1000000.0 AS x,
       |    rm AS xi
       |  FROM (SELECT x.vec_id, r.a,
       |          CAST(round(CAST(sum(CAST(r.v AS HUGEINT) * x.xi) AS DOUBLE)
       |            / 1000000.0) AS BIGINT) AS rm
       |        FROM r$nRefl r JOIN xm x ON x.i = r.b
       |        GROUP BY x.vec_id, r.a))
       |""".stripMargin +
    pqCoreBody(pqIters, m, sub) +
    """, bq AS (
      |  SELECT vec_id AS query_id, embedding AS q_emb
      |  FROM embeddings WHERE vec_id < 20),
      |bs AS (
      |  SELECT bq.query_id, e.vec_id AS neighbor_id,
      |    list_cosine_similarity(bq.q_emb, e.embedding) AS sim
      |  FROM embeddings e CROSS JOIN bq WHERE e.vec_id <> bq.query_id),
      |br AS (
      |  SELECT query_id, neighbor_id,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
      |  FROM bs),
      |brt AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 10),
      |pqt AS (SELECT query_id, neighbor_id FROM rr WHERE rank <= 10)
      |SELECT b.query_id,
      |  CAST(count(p.neighbor_id) AS BIGINT) AS n_hits,
      |  round(count(p.neighbor_id) / 10.0, 4) AS recall_at_10
      |FROM brt b LEFT JOIN pqt p USING (query_id, neighbor_id)
      |GROUP BY 1 ORDER BY query_id""".stripMargin
  }

  /** PQ recall oracle: [[pqUnrolled]]'s ranking (the CTE prefix up to
    * `rr`) joined against the exact cosine top-10 — same shape as the
    * IVF recall oracle. */
  private def pqRecallUnrolled(iters: Int, m: Int, sub: Int): String =
    pqCore(iters, m, sub) +
    """, bq AS (
      |  SELECT vec_id AS query_id, embedding AS q_emb
      |  FROM embeddings WHERE vec_id < 20),
      |bs AS (
      |  SELECT bq.query_id, e.vec_id AS neighbor_id,
      |    list_cosine_similarity(bq.q_emb, e.embedding) AS sim
      |  FROM embeddings e CROSS JOIN bq WHERE e.vec_id <> bq.query_id),
      |br AS (
      |  SELECT query_id, neighbor_id,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
      |  FROM bs),
      |brt AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 10),
      |pqt AS (SELECT query_id, neighbor_id FROM rr WHERE rank <= 10)
      |SELECT b.query_id,
      |  CAST(count(p.neighbor_id) AS BIGINT) AS n_hits,
      |  round(count(p.neighbor_id) / 10.0, 4) AS recall_at_10
      |FROM brt b LEFT JOIN pqt p USING (query_id, neighbor_id)
      |GROUP BY 1 ORDER BY query_id""".stripMargin

  /** Unrolled IVF-PQ (exactly `Ann.ivfpqIndex` + `Ann.knnIvfPq`): the
    * trained coarse index (shared [[ivfTrainedCtes]]), 6-dp-pinned
    * residuals, residual-subspace Lloyd (micro-int, same discipline as
    * [[pqCore]]), per-(query, probed-cell) residual LUTs, and the
    * all-integer ADC ranking — `adc_d2` is an exact BIGINT in micro²
    * units, so the compare needs no float tolerance anywhere. */
  private def ivfpqCore(ivfIters: Int, pqIters: Int, sub: Int): String = {
    val cN = s"c$ivfIters"
    val pqRounds = (1 to pqIters).map { k =>
      s""", rpd$k AS (
         |  SELECT e.vec_id, e.m, c.code,
         |    sum((e.xi - c.ci) * (e.xi - c.ci)) AS d2
         |  FROM rsv e JOIN rpc${k - 1} c ON c.m = e.m AND c.j = e.j
         |  GROUP BY e.vec_id, e.m, c.code)
         |, rpa$k AS MATERIALIZED (
         |  SELECT vec_id, m, code FROM (
         |    SELECT vec_id, m, code, row_number() OVER (
         |      PARTITION BY vec_id, m ORDER BY d2 ASC, code ASC) AS rn
         |    FROM rpd$k)
         |  WHERE rn = 1)
         |, rpc$k AS MATERIALIZED (
         |  SELECT m, code, j, c, CAST(round(c * 1000000) AS BIGINT) AS ci
         |  FROM (
         |    SELECT a.m, a.code, e.j,
         |      CAST(CAST(round(sum(e.xi) / (count(*) * 1.0)) / 1000000.0
         |        AS REAL) AS DOUBLE) AS c
         |    FROM rpa$k a JOIN rsv e ON e.vec_id = a.vec_id AND e.m = a.m
         |    GROUP BY a.m, a.code, e.j))
         |""".stripMargin
    }.mkString
    ivfTrainedCtes(ivfIters) +
    s""", rve AS MATERIALIZED (
       |  SELECT e.vec_id, e.i, e.x - c.c AS rx,
       |    CAST(round((e.x - c.c) * 1000000) AS BIGINT) AS rxi
       |  FROM ev e JOIN idx x ON x.vec_id = e.vec_id
       |  JOIN $cN c ON c.cell = x.cell AND c.i = e.i)
       |, rsv AS MATERIALIZED (
       |  SELECT vec_id, CAST((i - 1) // $sub AS INT) AS m,
       |         CAST((i - 1) % $sub AS INT) AS j, rx AS x, rxi AS xi
       |  FROM rve)
       |, rpc0 AS MATERIALIZED (
       |  SELECT m, CAST(vec_id AS INT) AS code, j, x AS c,
       |    CAST(round(x * 1000000) AS BIGINT) AS ci
       |  FROM rsv WHERE vec_id < 16)
       |""".stripMargin +
    pqRounds +
    s""", rpdx AS (
       |  SELECT e.vec_id, e.m, c.code,
       |    sum((e.xi - c.ci) * (e.xi - c.ci)) AS d2
       |  FROM rsv e JOIN rpc$pqIters c ON c.m = e.m AND c.j = e.j
       |  GROUP BY e.vec_id, e.m, c.code)
       |, renc AS MATERIALIZED (
       |  SELECT vec_id, m, code FROM (
       |    SELECT vec_id, m, code, row_number() OVER (
       |      PARTITION BY vec_id, m ORDER BY d2 ASC, code ASC) AS rn
       |    FROM rpdx)
       |  WHERE rn = 1)
       |, probes AS MATERIALIZED (
       |  SELECT query_id, cell FROM (
       |    SELECT d.vec_id AS query_id, d.cell, row_number() OVER (
       |      PARTITION BY d.vec_id
       |      ORDER BY d.dot / (n.nrm * d.cn) DESC, d.cell ASC) AS rk
       |    FROM dx d JOIN evn n ON n.vec_id = d.vec_id
       |    WHERE d.vec_id < 20)
       |  WHERE rk <= 4)
       |, qrv AS (
       |  SELECT p.query_id, p.cell, e.i,
       |    CAST(round((e.x - c.c) * 1000000) AS BIGINT) AS qxi
       |  FROM probes p JOIN ev e ON e.vec_id = p.query_id
       |  JOIN $cN c ON c.cell = p.cell AND c.i = e.i)
       |, qsv AS (
       |  SELECT query_id, cell, CAST((i - 1) // $sub AS INT) AS m,
       |         CAST((i - 1) % $sub AS INT) AS j, qxi
       |  FROM qrv)
       |, lut AS MATERIALIZED (
       |  SELECT q.query_id, q.cell, c.m, c.code,
       |    sum((q.qxi - c.ci) * (q.qxi - c.ci)) AS d2
       |  FROM qsv q JOIN rpc$pqIters c ON c.m = q.m AND c.j = q.j
       |  GROUP BY q.query_id, q.cell, c.m, c.code)
       |, sc AS (
       |  SELECT l.query_id, e.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
       |  FROM renc e JOIN idx x ON x.vec_id = e.vec_id
       |  JOIN lut l ON l.cell = x.cell AND l.m = e.m AND l.code = e.code
       |  WHERE e.vec_id <> l.query_id
       |  GROUP BY l.query_id, e.vec_id)
       |, rr AS (
       |  SELECT query_id, vec_id AS neighbor_id, adc_d2, row_number() OVER (
       |    PARTITION BY query_id ORDER BY adc_d2 ASC, vec_id ASC) AS rank
       |  FROM sc)
       |""".stripMargin
  }

  private def ivfpqUnrolled(ivfIters: Int, pqIters: Int, sub: Int): String =
    ivfpqCore(ivfIters, pqIters, sub) +
    """SELECT query_id, rank, neighbor_id, adc_d2 FROM rr
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  private def ivfpqRecallUnrolled(ivfIters: Int, pqIters: Int, sub: Int): String =
    ivfpqCore(ivfIters, pqIters, sub) +
    """, bq AS (
      |  SELECT vec_id AS query_id, embedding AS q_emb
      |  FROM embeddings WHERE vec_id < 20),
      |bs AS (
      |  SELECT bq.query_id, e.vec_id AS neighbor_id,
      |    list_cosine_similarity(bq.q_emb, e.embedding) AS sim
      |  FROM embeddings e CROSS JOIN bq WHERE e.vec_id <> bq.query_id),
      |br AS (
      |  SELECT query_id, neighbor_id,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
      |  FROM bs),
      |brt AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 10),
      |ipt AS (SELECT query_id, neighbor_id FROM rr WHERE rank <= 10)
      |SELECT b.query_id,
      |  CAST(count(p.neighbor_id) AS BIGINT) AS n_hits,
      |  round(count(p.neighbor_id) / 10.0, 4) AS recall_at_10
      |FROM brt b LEFT JOIN ipt p USING (query_id, neighbor_id)
      |GROUP BY 1 ORDER BY query_id""".stripMargin

  /** IVF-PQ probe sweep oracle (exactly `Ann.ivfpqProbeSweep`): on top
    * of [[ivfpqCore]]'s trained coarse index + residual codebooks +
    * encoded corpus, a probe ranking kept to the DEEPEST sweep level
    * with its rank retained (`pall2`), one rk-carrying residual LUT,
    * and per level an ADC scoring + top-10 + recall against the exact
    * cosine baseline. hits·50 is an integer so the 4-dp mean_recall is
    * engine-exact; n_candidates and adc_d2 are exact BIGINTs. */
  private def ivfpqSweepUnrolled(ivfIters: Int, pqIters: Int, sub: Int,
                                 probes: Seq[Int]): String = {
    val levels = probes.sorted
    val maxP = levels.max
    val cN = s"c$ivfIters"
    ivfpqCore(ivfIters, pqIters, sub) +
    s""", pall2 AS MATERIALIZED (
       |  SELECT query_id, cell, rk FROM (
       |    SELECT d.vec_id AS query_id, d.cell, row_number() OVER (
       |      PARTITION BY d.vec_id
       |      ORDER BY d.dot / (n.nrm * d.cn) DESC, d.cell ASC) AS rk
       |    FROM dx d JOIN evn n ON n.vec_id = d.vec_id
       |    WHERE d.vec_id < 20)
       |  WHERE rk <= $maxP)
       |, qrv2 AS (
       |  SELECT p.query_id, p.cell, p.rk, e.i,
       |    CAST(round((e.x - c.c) * 1000000) AS BIGINT) AS qxi
       |  FROM pall2 p JOIN ev e ON e.vec_id = p.query_id
       |  JOIN $cN c ON c.cell = p.cell AND c.i = e.i)
       |, qsv2 AS (
       |  SELECT query_id, cell, rk, CAST((i - 1) // $sub AS INT) AS m,
       |         CAST((i - 1) % $sub AS INT) AS j, qxi
       |  FROM qrv2)
       |, lut2 AS MATERIALIZED (
       |  SELECT q.query_id, q.cell, q.rk, c.m, c.code,
       |    sum((q.qxi - c.ci) * (q.qxi - c.ci)) AS d2
       |  FROM qsv2 q JOIN rpc$pqIters c ON c.m = q.m AND c.j = q.j
       |  GROUP BY q.query_id, q.cell, q.rk, c.m, c.code)
       |, swq AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb
       |  FROM embeddings WHERE vec_id < 20)
       |, swbs AS (
       |  SELECT swq.query_id, e.vec_id AS neighbor_id,
       |    list_cosine_similarity(swq.q_emb, e.embedding) AS sim
       |  FROM embeddings e CROSS JOIN swq WHERE e.vec_id <> swq.query_id)
       |, swbr AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
       |  FROM swbs)
       |, swbt AS (SELECT query_id, neighbor_id FROM swbr WHERE rank <= 10)
       |""".stripMargin +
    levels.map { p =>
      s""", scp$p AS MATERIALIZED (
         |  SELECT l.query_id, e.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
         |  FROM renc e JOIN idx x ON x.vec_id = e.vec_id
         |  JOIN lut2 l ON l.cell = x.cell AND l.m = e.m
         |    AND l.code = e.code AND l.rk <= $p
         |  WHERE e.vec_id <> l.query_id
         |  GROUP BY l.query_id, e.vec_id)
         |, rrp$p AS (
         |  SELECT query_id, vec_id AS neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY adc_d2 ASC, vec_id ASC) AS rank
         |  FROM scp$p)
         |, tpp$p AS (SELECT query_id, neighbor_id FROM rrp$p WHERE rank <= 10)
         |, aggp$p AS (
         |  SELECT CAST($p AS INT) AS n_probe,
         |    (SELECT CAST(count(*) AS BIGINT) FROM scp$p) AS n_candidates,
         |    round(count(t.neighbor_id) / 200.0, 4) AS mean_recall
         |  FROM swbt b LEFT JOIN tpp$p t USING (query_id, neighbor_id))
         |""".stripMargin
    }.mkString +
    levels.map(p => s"SELECT * FROM aggp$p")
      .mkString("", " UNION ALL ", " ORDER BY n_probe")
  }

  /** Unrolled BPE training (exactly `Bpe.train`): word-frequency dict
    * with marker-prefixed symbol strings, then per round count adjacent
    * pairs weighted by frequency, adopt the top pair (count DESC, pair
    * ASC) and rewrite via plain string `replace` — identical
    * left-to-right non-overlapping semantics in both engines, which is
    * what makes the trained merge table itself oracle-checkable. */
  private def bpeUnrolled(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s""", pr$i AS (
         |  SELECT freq, s || ' ' || lead(s) OVER (
         |    PARTITION BY word ORDER BY j) AS pr
         |  FROM (SELECT word, freq, unnest(string_split(sym, ' ')) AS s,
         |        generate_subscripts(string_split(sym, ' '), 1) AS j
         |        FROM w${i - 1}))
         |, tp$i AS MATERIALIZED (
         |  SELECT pr, CAST(sum(freq) AS BIGINT) AS cnt FROM pr$i
         |  WHERE pr IS NOT NULL GROUP BY pr
         |  ORDER BY cnt DESC, pr ASC LIMIT 1)
         |, w$i AS MATERIALIZED (
         |  SELECT word, freq, replace(sym, (SELECT pr FROM tp$i),
         |    replace((SELECT pr FROM tp$i), ' _', '')) AS sym
         |  FROM w${i - 1})
         |""".stripMargin
    }.mkString(
      s"""WITH wf AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  GROUP BY word ORDER BY freq DESC, word ASC
         |  LIMIT ${graft.operators.Bpe.VocabCap})
         |, w0 AS MATERIALIZED (
         |  SELECT word, freq,
         |    '_' || array_to_string(string_split(word, ''), ' _') AS sym
         |  FROM wf)
         |""".stripMargin, "", "")
    rounds
  }

  /** Oracle for sampled Brandes betweenness. Portable because the
    * Spark side (a) picks sources by md5 ordering, (b) keeps σ as exact
    * integer-valued doubles (order-free sums), and (c) accumulates
    * backward dependencies in FIXED-POINT micro-units — each
    * contribution floor(σv/σw·(1e9+δw)+0.5) is a long, so sums are
    * exact in any order and any engine. The oracle replays both sweeps
    * level-unrolled to depth `maxDepth` (≥ max source eccentricity;
    * BFS distances come from the same recursive CTE as the BFS-family
    * oracles). */
  /** Edge-betweenness oracle: shares [[btwCore]]'s forward/backward
    * replay; the per-edge dependency at level l is the SAME fixed-point
    * term the vertex sweep routes (σv/σw·(1e9+δw) for v at l−1, w at
    * l), summed over sources and both edge orientations. */
  private def edgeBtwUnrolled(maxDepth: Int, numSources: Int,
                              seed: Long): String = {
    val levels = (0 until maxDepth).map { l =>
      s"""SELECT least(cur.v, nxt.v) AS lo, greatest(cur.v, nxt.v) AS hi,
         |  CAST(floor(cur.sigma / nxt.sigma * (1000000000.0 + nd.dmicro)
         |    + 0.5) AS BIGINT) AS c
         |FROM (SELECT s, v, sigma FROM sg$maxDepth WHERE dist = $l) cur
         |JOIN sym e ON e.src = cur.v
         |JOIN (SELECT s, v, sigma FROM sg$maxDepth
         |      WHERE dist = ${l + 1}) nxt
         |  ON nxt.s = cur.s AND nxt.v = e.dst
         |JOIN dl${l + 1} nd ON nd.s = cur.s AND nd.v = e.dst
         |""".stripMargin
    }.mkString(" UNION ALL ")
    btwCore(maxDepth, numSources, seed) +
    s""", ec AS (
       |  SELECT lo, hi, CAST(sum(c) AS BIGINT) AS depmicro
       |  FROM ($levels) GROUP BY lo, hi)
       |SELECT e.src, e.dst,
       |  CAST(coalesce(ec.depmicro, 0) * (SELECT count(*) FROM deg)
       |    AS DOUBLE) / ($numSources * 2.0 * 1000000000.0)
       |    AS edge_betweenness
       |FROM e LEFT JOIN ec ON ec.lo = e.src AND ec.hi = e.dst
       |ORDER BY e.src, e.dst""".stripMargin
  }

  private def btwUnrolled(maxDepth: Int, numSources: Int, seed: Long): String = {
    val allDl = (0 to maxDepth).map(l => s"SELECT s, v, dmicro FROM dl$l")
      .mkString(" UNION ALL ")
    btwCore(maxDepth, numSources, seed) +
    s""", bw AS (
       |  SELECT v AS id, CAST(sum(dmicro) AS BIGINT) AS depmicro
       |  FROM ($allDl) WHERE s <> v GROUP BY v)
       |SELECT dg.id,
       |  CAST(coalesce(b.depmicro, 0) * (SELECT count(*) FROM deg) AS DOUBLE)
       |    / ($numSources * 2.0 * 1000000000.0) AS betweenness
       |FROM deg dg LEFT JOIN bw b ON b.id = dg.id
       |ORDER BY dg.id""".stripMargin
  }

  /** Shared forward/backward Brandes replay (sources, BFS dists, σ by
    * level, fixed-point δ by level) — consumed by [[btwUnrolled]] and
    * [[edgeBtwUnrolled]]. */
  private def btwCore(maxDepth: Int, numSources: Int, seed: Long): String = {
    val fwd = (1 to maxDepth).map { l =>
      s""", sgl$l AS MATERIALIZED (
         |  SELECT d.s, d.v, $l AS dist, sum(p.sigma) AS sigma
         |  FROM dist d JOIN sym e ON e.dst = d.v
         |  JOIN sg${l - 1} p ON p.s = d.s AND p.v = e.src AND p.dist = ${l - 1}
         |  WHERE d.dist = $l GROUP BY d.s, d.v)
         |, sg$l AS MATERIALIZED (
         |  SELECT * FROM sg${l - 1} UNION ALL SELECT * FROM sgl$l)
         |""".stripMargin
    }.mkString
    val bwd = (maxDepth - 1 to 0 by -1).map { l =>
      s""", dl$l AS MATERIALIZED (
         |  SELECT cur.s, cur.v, CAST(coalesce(sum(
         |      CAST(floor(cur.sigma / nxt.sigma * (1000000000.0 + nd.dmicro)
         |        + 0.5) AS BIGINT)), 0) AS BIGINT) AS dmicro
         |  FROM (SELECT s, v, sigma FROM sg$maxDepth WHERE dist = $l) cur
         |  LEFT JOIN sym e ON e.src = cur.v
         |  LEFT JOIN (SELECT s, v, sigma FROM sg$maxDepth
         |             WHERE dist = ${l + 1}) nxt
         |    ON nxt.s = cur.s AND nxt.v = e.dst
         |  LEFT JOIN dl${l + 1} nd ON nd.s = cur.s AND nd.v = e.dst
         |    AND nxt.v IS NOT NULL
         |  GROUP BY cur.s, cur.v)
         |""".stripMargin
    }.mkString
    "WITH RECURSIVE " + GraphCte.stripPrefix("WITH ") +
    s""", srcs AS MATERIALIZED (
       |  SELECT id AS s FROM deg
       |  ORDER BY md5(id || ':' || $seed), id LIMIT $numSources)
       |, bfs(s, v, d) AS (
       |  SELECT s, s, 0 FROM srcs
       |  UNION
       |  SELECT b.s, e.dst, b.d + 1
       |  FROM bfs b JOIN sym e ON e.src = b.v WHERE b.d < $maxDepth)
       |, dist AS MATERIALIZED (
       |  SELECT s, v, min(d) AS dist FROM bfs GROUP BY s, v)
       |, sg0 AS MATERIALIZED (
       |  SELECT s, s AS v, 0 AS dist, CAST(1 AS DOUBLE) AS sigma FROM srcs)
       |""".stripMargin + fwd +
    s""", dl$maxDepth AS MATERIALIZED (
       |  SELECT s, v, CAST(0 AS BIGINT) AS dmicro
       |  FROM sg$maxDepth WHERE dist = $maxDepth)
       |""".stripMargin + bwd
  }

  /** DuckDB-runnable oracle SQL, column names aligned with the Spark side. */
  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_top_revenue" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin,
    "q5_region_revenue" ->
      """SELECT r_name, n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,
    "q_mktseg_window" ->
      """SELECT c_mktsegment, rank_in_seg, c_custkey, c_name FROM (
        |  SELECT c_mktsegment, c_custkey, c_name,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY c_acctbal DESC, c_custkey ASC)
        |      AS rank_in_seg
        |  FROM customer)
        |WHERE rank_in_seg <= 3
        |ORDER BY c_mktsegment, rank_in_seg""".stripMargin,
    // within_tolerance is computed Spark-side from the live HLL sketch
    // vs the exact count; the oracle pins it TRUE — an out-of-tolerance
    // estimate therefore hash-mismatches (the sketch stays gated).
    "q_approx_distinct_users" ->
      """SELECT event_type,
        |  count(DISTINCT user_id) AS exact_users,
        |  count(*) AS n_events,
        |  TRUE AS within_tolerance
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "q_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "g_edges" -> (GraphCte +
      "SELECT src, dst FROM e ORDER BY src, dst"),
    "g_degree" -> (GraphCte +
      "SELECT id, degree FROM deg ORDER BY id"),
    "g_degree_histogram" -> (GraphCte +
      """SELECT degree, count(*) AS n_vertices,
        |  round(count(*) / (SELECT count(*) FROM deg), 6) AS pk
        |FROM deg GROUP BY degree ORDER BY degree""".stripMargin),
    "g_avg_degree" -> (GraphCte +
      "SELECT round(avg(degree), 4) AS avg_degree FROM deg"),
    "g_triangles" -> (GraphCte +
      "SELECT id, triangles FROM tvd ORDER BY id"),
    "g_motif_open_wedges" -> (GraphCte +
      """, sv AS (SELECT p_partkey AS id FROM part WHERE p_size <= 10)
        |, se AS (
        |  SELECT src, dst FROM e
        |  WHERE src IN (SELECT id FROM sv) AND dst IN (SELECT id FROM sv))
        |, ssym AS (SELECT src, dst FROM se
        |           UNION ALL SELECT dst, src FROM se)
        |SELECT s1.dst AS id, count(*) AS open_wedges
        |FROM ssym s1 JOIN ssym s2 ON s1.dst = s2.src AND s1.src <> s2.dst
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM ssym s3 WHERE s3.src = s1.src AND s3.dst = s2.dst)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    "g_clustering_coeff" -> (GraphCte +
      """SELECT id, degree, triangles,
        |  round(CASE WHEN degree >= 2
        |    THEN 2.0 * triangles / (degree * (degree - 1))
        |    ELSE 0.0 END, 6) AS clustering_coeff
        |FROM tvd ORDER BY id""".stripMargin),
    "g_avg_clustering" -> (GraphCte +
      """SELECT round(avg(CASE WHEN degree >= 2
        |  THEN 2.0 * triangles / (degree * (degree - 1))
        |  ELSE 0.0 END), 6) AS avg_clustering FROM tvd""".stripMargin),
    // CSN discrete-MLE tail exponent; ln terms 1e-6-quantized to longs
    "g_powerlaw_alpha" -> (GraphCte +
      """SELECT 5 AS k_min, count(*) AS n_tail,
        |  round(1.0 + count(*) * 1e6 /
        |    CAST(sum(CAST(round(ln(degree / 4.5) * 1e6) AS BIGINT))
        |      AS BIGINT), 6) AS alpha
        |FROM deg WHERE degree >= 5""".stripMargin),
    // observed avg clustering vs Newman's configuration-model null
    "g_clustering_null" -> (GraphCte +
      """, mom AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(degree) AS DOUBLE) / count(*) AS m1,
        |    CAST(sum(degree * degree) AS DOUBLE) / count(*) AS m2
        |  FROM deg),
        |nl AS (
        |  SELECT (m2 - m1) * (m2 - m1) / (n * m1 * m1 * m1) AS nullcc
        |  FROM mom),
        |ob AS (
        |  SELECT round(avg(CASE WHEN degree >= 2
        |    THEN 2.0 * triangles / (degree * (degree - 1))
        |    ELSE 0.0 END), 6) AS avg_clustering FROM tvd)
        |SELECT ob.avg_clustering, round(nl.nullcc, 6) AS null_clustering,
        |  round(ob.avg_clustering / nl.nullcc, 6) AS ratio
        |FROM ob, nl""".stripMargin),
    "g_transitivity" -> (GraphCte +
      """SELECT round(3.0 * (SELECT sum(triangles) / 3.0 FROM tvd)
        |  / (SELECT sum(degree * (degree - 1) / 2) FROM deg), 6)
        |  AS transitivity""".stripMargin),
    "g_induced_subgraph" -> (GraphCte +
      """SELECT src, dst FROM e
        |WHERE src IN (SELECT p_partkey FROM part WHERE p_size <= 10)
        |  AND dst IN (SELECT p_partkey FROM part WHERE p_size <= 10)
        |ORDER BY src, dst""".stripMargin),
    "e_knn_brute" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS q_emb
        |  FROM embeddings WHERE vec_id < 20),
        |s AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.q_emb, e.embedding) AS sim
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |r AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM s)
        |SELECT query_id, rank, neighbor_id
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // sim dropped like e_knn_brute; the label filter applies BEFORE
    // ranking (pre-filter semantics), short labels yield short lists
    "e_knn_filtered" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
        |  FROM embeddings WHERE vec_id < 20),
        |s AS (
        |  SELECT q.query_id, q.q_label, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.q_emb, e.embedding) AS sim
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id <> q.query_id AND e.label = q.q_label),
        |r AS (
        |  SELECT query_id, q_label AS label, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM s)
        |SELECT query_id, label, rank, neighbor_id
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // exact integer counting; the rate is a scale-0 quotient round
    // against the DATA's true-list size (short labels shrink it)
    "e_filtered_recall" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
        |  FROM embeddings WHERE vec_id < 20),
        |s AS MATERIALIZED (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    (e.label = q.q_label) AS mt,
        |    list_cosine_similarity(q.q_emb, e.embedding) AS sim
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |tt AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC)
        |      AS rk
        |    FROM s WHERE mt) WHERE rk <= 10),
        |uf AS (
        |  SELECT query_id, neighbor_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC)
        |      AS rank
        |  FROM s),
        |j AS (
        |  SELECT t.query_id, t.neighbor_id, u.rank
        |  FROM tt t LEFT JOIN uf u USING (query_id, neighbor_id)),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS total,
        |    CAST(sum(CASE WHEN rank <= 10 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS h10,
        |    CAST(sum(CASE WHEN rank <= 20 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS h20,
        |    CAST(sum(CASE WHEN rank <= 40 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS h40,
        |    CAST(sum(CASE WHEN rank <= 80 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS h80
        |  FROM j)
        |SELECT v.fetch_k, v.hits,
        |  CAST(round(v.hits * 10000.0 / a.total) AS BIGINT)
        |    AS recall_per_10k
        |FROM a, LATERAL (VALUES (10, a.h10), (20, a.h20), (40, a.h40),
        |  (80, a.h80)) AS v(fetch_k, hits)
        |ORDER BY v.fetch_k""".stripMargin,
    "e_knn_ivf" -> ivfUnrolled(3),
    // indexed filtered search: the label predicate lives INSIDE the
    // probed-cell candidate join (pre-filter within the probed cells),
    // exactly Ann.knnFilteredIvf; thin labels yield short lists
    "e_knn_filtered_ivf" -> (filteredIvfCtes +
      """SELECT query_id, q_label AS label, rank, neighbor_id
        |FROM frr WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),
    // per-query recall of the indexed filtered search vs the exact
    // pre-filter baseline — denominator is the DATA's true-list size
    // (thin labels shrink it); rate is the scale-0 ×10⁴ quotient
    "e_filtered_recall_ivf" -> (filteredIvfCtes +
      """, xcd AS (
        |  SELECT f.query_id, el.vec_id AS neighbor_id,
        |    sum(eq.x * ex.x) AS dot
        |  FROM fq f
        |  JOIN embeddings el ON el.label = f.q_label
        |    AND el.vec_id <> f.query_id
        |  JOIN ev eq ON eq.vec_id = f.query_id
        |  JOIN ev ex ON ex.vec_id = el.vec_id AND ex.i = eq.i
        |  GROUP BY f.query_id, el.vec_id)
        |, xrr AS (
        |  SELECT c.query_id, c.neighbor_id, row_number() OVER (
        |    PARTITION BY c.query_id
        |    ORDER BY c.dot / (nq.nrm * nn.nrm) DESC, c.neighbor_id ASC)
        |    AS rank
        |  FROM xcd c JOIN evn nq ON nq.vec_id = c.query_id
        |  JOIN evn nn ON nn.vec_id = c.neighbor_id)
        |, xtop AS (SELECT query_id, neighbor_id FROM xrr WHERE rank <= 10)
        |, itop AS (SELECT query_id, neighbor_id FROM frr WHERE rank <= 10)
        |SELECT x.query_id, CAST(count(*) AS BIGINT) AS n_true,
        |  CAST(count(i.neighbor_id) AS BIGINT) AS n_hits,
        |  CAST(round(count(i.neighbor_id) * 10000.0 / count(*)) AS BIGINT)
        |    AS recall_per_10k
        |FROM xtop x LEFT JOIN itop i USING (query_id, neighbor_id)
        |GROUP BY x.query_id ORDER BY query_id""".stripMargin),
    // IVF cell-occupancy: member count + exact ×10⁴ corpus share per
    // cell of the shared trained index
    "e_cell_sizes" -> (ivfTrainedCtes(3) +
      """, tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM idx)
        |SELECT i.cell, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(round(count(*) * 10000.0 / tot.t) AS BIGINT)
        |    AS share_per_10k
        |FROM idx i, tot GROUP BY i.cell, tot.t ORDER BY i.cell""".stripMargin),
    // the REAL nightly dataflow replayed: IVF trained on the BASE
    // slice only (vec_id % 7 <> 3 — init is the base's first 16 ids),
    // each delta vector assigned to its cell under the converged
    // centroids (sim DESC, cell DESC — the assign tie-break), then
    // compared against ONLY that cell's base members at cos >= 0.35
    "e_incremental_semdedup" -> (ivfTrainedCtes(3, "vec_id % 7 <> 3") +
      """, dev AS MATERIALIZED (
        |  SELECT vec_id, i, CAST(x AS DOUBLE) AS x FROM (
        |    SELECT vec_id, unnest(embedding) AS x,
        |           generate_subscripts(embedding, 1) AS i FROM embeddings
        |    WHERE vec_id % 7 = 3)),
        |devn AS MATERIALIZED (
        |  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM dev GROUP BY vec_id)
        |, dd AS (
        |  SELECT e.vec_id, c.cell, sum(e.x * c.c) AS dot,
        |    sqrt(sum(c.c * c.c)) AS cn
        |  FROM dev e JOIN c3 c ON c.i = e.i
        |  GROUP BY e.vec_id, c.cell)
        |, dassign AS MATERIALIZED (
        |  SELECT vec_id, cell FROM (
        |    SELECT d.vec_id, d.cell, row_number() OVER (
        |      PARTITION BY d.vec_id
        |      ORDER BY d.dot / (n.nrm * d.cn) DESC, d.cell DESC) AS rn
        |    FROM dd d JOIN devn n ON n.vec_id = d.vec_id)
        |  WHERE rn = 1)
        |, dp AS (
        |  SELECT da.vec_id AS d, x.vec_id AS b, sum(ed.x * eb.x) AS dot
        |  FROM dassign da
        |  JOIN idx x ON x.cell = da.cell
        |  JOIN dev ed ON ed.vec_id = da.vec_id
        |  JOIN ev eb ON eb.vec_id = x.vec_id AND eb.i = ed.i
        |  GROUP BY da.vec_id, x.vec_id)
        |, sdups AS (
        |  SELECT DISTINCT p.d FROM dp p
        |  JOIN devn nd ON nd.vec_id = p.d
        |  JOIN evn nb ON nb.vec_id = p.b
        |  WHERE p.dot / (nd.nrm * nb.nrm) >= 0.35)
        |SELECT e.label, count(*) AS n_new,
        |  CAST(coalesce(sum(CASE WHEN du.d IS NOT NULL THEN 1 END), 0)
        |    AS BIGINT) AS n_dup,
        |  round(coalesce(sum(CASE WHEN du.d IS NOT NULL THEN 1 END), 0)
        |    / CAST(count(*) AS DOUBLE), 4) AS dup_rate
        |FROM embeddings e LEFT JOIN sdups du ON du.d = e.vec_id
        |WHERE e.vec_id % 7 = 3
        |GROUP BY e.label ORDER BY e.label""".stripMargin),
    // recall@10 of the IVF probe against exact brute force — BOTH
    // pipelines replayed in one statement from the shared ev/evn CTEs
    "e_ivf_recall" -> (ivfTopCtes(3) +
      """, bq AS (
        |  SELECT vec_id AS query_id, embedding AS q_emb
        |  FROM embeddings WHERE vec_id < 20),
        |bs AS (
        |  SELECT bq.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(bq.q_emb, e.embedding) AS sim
        |  FROM embeddings e CROSS JOIN bq WHERE e.vec_id <> bq.query_id),
        |br AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM bs),
        |brt AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 10),
        |ivft AS (SELECT query_id, neighbor_id FROM rr WHERE rank <= 10)
        |SELECT b.query_id,
        |  CAST(count(i.neighbor_id) AS BIGINT) AS n_hits,
        |  round(count(i.neighbor_id) / 10.0, 4) AS recall_at_10
        |FROM brt b LEFT JOIN ivft i USING (query_id, neighbor_id)
        |GROUP BY 1 ORDER BY query_id""".stripMargin),
    "e_knn_pq" -> pqUnrolled(2, 4, 16),
    "e_pq_recall" -> pqRecallUnrolled(2, 4, 16),
    "e_opq_recall" -> opqRecallUnrolled(4, 16, 2, 4, 16),
    "e_kcenter_coreset" -> kcenterUnrolled(16),
    "e_knn_ivfpq" -> ivfpqUnrolled(3, 2, 16),
    "e_ivfpq_recall" -> ivfpqRecallUnrolled(3, 2, 16),
    // SQ8: per-dim [min,max] linear codes, dequantized values 6-dp
    // rounded and pinned through REAL — exactly Ann.sqDecoded
    "e_knn_sq" -> (sqCtes +
      """SELECT query_id, rank, neighbor_id
        |FROM sqr WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),
    "e_sq_recall" -> (sqCtes +
      """, bs AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.q_emb, e.embedding) AS sim
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |br AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM bs),
        |brt AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 10),
        |sqt AS (SELECT query_id, neighbor_id FROM sqr WHERE rank <= 10)
        |SELECT b.query_id,
        |  CAST(count(s.neighbor_id) AS BIGINT) AS n_hits,
        |  round(count(s.neighbor_id) / 10.0, 4) AS recall_at_10
        |FROM brt b LEFT JOIN sqt s USING (query_id, neighbor_id)
        |GROUP BY 1 ORDER BY query_id""".stripMargin),
    // nearest-centroid confusion: centroids = 6-dp label means pinned
    // through REAL; argmax cosine with clabel-DESC tie-break (the
    // max-struct convention)
    "e_centroid_assign" -> (CentroidCte +
      """SELECT t.label, a.clabel AS assigned_label, count(*) AS n
        |FROM tl t JOIN asg a USING (vec_id)
        |GROUP BY t.label, a.clabel
        |ORDER BY t.label, a.clabel""".stripMargin),
    // cluster balance over the same nearest-centroid assignment:
    // entropy terms 1e-6-quantized to exact longs (the word-entropy
    // portability move) before the order-free sum
    "e_cluster_entropy" -> (CentroidCte +
      """, sizes AS (SELECT clabel, count(*) AS nc FROM asg GROUP BY clabel),
        |t AS (SELECT CAST(sum(nc) AS BIGINT) AS tot,
        |             CAST(count(*) AS BIGINT) AS k, max(nc) AS mx FROM sizes),
        |u AS (
        |  SELECT CAST(round((nc / CAST(t.tot AS DOUBLE)) *
        |    log2(nc / CAST(t.tot AS DOUBLE)) * 1000000) AS BIGINT) AS u
        |  FROM sizes, t)
        |SELECT (SELECT k FROM t) AS n_clusters,
        |  (SELECT tot FROM t) AS n_vecs,
        |  round(-sum(u) / 1e6, 6) AS entropy,
        |  round(-sum(u) / 1e6 /
        |    log2(CAST((SELECT k FROM t) AS DOUBLE)), 6) AS norm_entropy,
        |  round((SELECT mx FROM t) /
        |    CAST((SELECT tot FROM t) AS DOUBLE), 6) AS max_share
        |FROM u""".stripMargin),
    // covariance: identical 1e-3 input quantization, exact integer
    // moments (HUGEINT here, long/BigInt in CoMoments), one shared
    // division order — see CoMoments scaladoc
    // cov_micro is an exact BIGINT of 1e-6 units: DOUBLE output flaked
    // on DuckDB's round() emitting -0.0 where Spark emits +0.0 on
    // 3 near-zero covariances; integers carry no signed zero.
    "e_embedding_covariance" -> (CovCte +
      """SELECT p.i, p.j,
        |  CAST(round((si.n * p.sxy - si.sx * sj.sx)
        |    / CAST(si.n * si.n AS DOUBLE)) AS BIGINT) AS cov_micro
        |FROM p JOIN s si ON si.i = p.i JOIN s sj ON sj.i = p.j
        |ORDER BY p.i, p.j""".stripMargin),
    "e_pca_power" -> (CovCte + pcaPowerUnrolled(8) +
      """SELECT v.i AS dim, round(v.vm / 1000000.0, 6) AS component,
        |  round((SELECT nrm FROM n8) / 1e12, 6) AS eigenvalue
        |FROM v8 v ORDER BY dim""".stripMargin),
    "d_semantic_dedup" -> semDedupUnrolled(3, 0.35),
    "e_knn_graph" -> knnGraphUnrolled(3, 5),
    "e_knn_graph_refined" -> knnGraphRefinedUnrolled(3, 5, 3),
    "g_betweenness" -> btwUnrolled(12, 8, 42L),
    "g_edge_betweenness" -> edgeBtwUnrolled(12, 8, 42L),
    // payload = utf-8 bytes of text, so md5(payload ++ k) ==
    // md5(text || k); the float cast + double norm mirror decodeStub
    // CLIP-style pairing coverage: stub features + text quality joined
    // on doc_id, 4-dp values summed as exact 1e-4 integer units
    "m_paired_quality" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(text || CAST(k AS VARCHAR)), 1, 8))::BIGINT
        |      / 4294967296.0 AS REAL) AS fv
        |  FROM documents CROSS JOIN range(8) t(k)),
        |n AS (
        |  SELECT doc_id,
        |    round(sqrt(sum(CAST(fv AS DOUBLE) * CAST(fv AS DOUBLE))), 4)
        |      AS fn
        |  FROM f GROUP BY doc_id),
        |qm AS (
        |  SELECT doc_id,
        |    round(least(n_tokens / 64.0, 1.0) * 0.5
        |      + (n_alpha / n_chars) * 0.3
        |      + least((n_stop / n_tokens) * 5.0, 1.0) * 0.2, 4) AS quality
        |  FROM (
        |    SELECT doc_id,
        |      length(text)::DOUBLE AS n_chars,
        |      (length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))::DOUBLE AS n_alpha,
        |      len(string_split_regex(text, '\s+'))::DOUBLE AS n_tokens,
        |      len(list_filter(string_split_regex(text, '\s+'),
        |        x -> x IN ('the','a','of','and','to','in')))::DOUBLE AS n_stop
        |    FROM documents)),
        |j AS (
        |  SELECT CASE CAST(d.doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |      WHEN 1 THEN 'audio' ELSE 'video' END AS format,
        |    n.fn, qm.quality
        |  FROM documents d JOIN n USING (doc_id) JOIN qm USING (doc_id))
        |SELECT format, count(*) AS n_pairs,
        |  round(CAST(sum(CAST(round(quality * 10000) AS BIGINT)) AS BIGINT)
        |    / (count(*) * 10000.0), 4) AS mean_quality,
        |  round(CAST(sum(CAST(round(fn * 10000) AS BIGINT)) AS BIGINT)
        |    / (count(*) * 10000.0), 4) AS mean_feature_norm
        |FROM j GROUP BY format ORDER BY format""".stripMargin,
    "m_multimodal_meta" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(text || CAST(k AS VARCHAR)), 1, 8))::BIGINT
        |      / 4294967296.0 AS REAL) AS fv
        |  FROM documents CROSS JOIN range(8) t(k)),
        |n AS (
        |  SELECT doc_id, sqrt(sum(CAST(fv AS DOUBLE) * CAST(fv AS DOUBLE)))
        |    AS feature_norm
        |  FROM f GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE CAST(d.doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |    WHEN 1 THEN 'audio' ELSE 'video' END AS format,
        |  octet_length(CAST(d.text AS BLOB)) AS n_bytes,
        |  round(n.feature_norm, 4) AS feature_norm
        |FROM documents d JOIN n USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "d_substring_dups" ->
      """WITH tokp AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |wnd AS MATERIALIZED (
        |  SELECT doc_id, md5(concat_ws(' ', t0, t1, t2, t3, t4, t5, t6, t7)) AS wh
        |  FROM (
        |    SELECT doc_id, tok AS t0,
        |      lead(tok, 1) OVER w AS t1, lead(tok, 2) OVER w AS t2,
        |      lead(tok, 3) OVER w AS t3, lead(tok, 4) OVER w AS t4,
        |      lead(tok, 5) OVER w AS t5, lead(tok, 6) OVER w AS t6,
        |      lead(tok, 7) OVER w AS t7
        |    FROM tokp WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
        |  WHERE t7 IS NOT NULL),
        |duph AS (
        |  SELECT wh FROM wnd GROUP BY wh HAVING count(DISTINCT doc_id) > 1),
        |pd AS (
        |  SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |    CAST(sum(CASE WHEN d.wh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup_windows
        |  FROM wnd w LEFT JOIN duph d USING (wh) GROUP BY w.doc_id)
        |SELECT doc.doc_id,
        |  coalesce(p.n_windows, 0) AS n_windows,
        |  coalesce(p.n_dup_windows, 0) AS n_dup_windows,
        |  CASE WHEN coalesce(p.n_windows, 0) > 0
        |    THEN round(p.n_dup_windows / p.n_windows, 4)
        |    ELSE 0.0 END AS dup_ratio
        |FROM documents doc LEFT JOIN pd p USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "d_bpe_merges" -> (bpeUnrolled(16) +
      "SELECT * FROM (" +
      (1 to 16).map(i =>
        s"SELECT $i AS rank, (SELECT pr FROM tp$i) AS pair, " +
        s"replace((SELECT pr FROM tp$i), ' _', '') AS merged")
        .mkString(" UNION ALL ") +
      ") ORDER BY rank"),
    "d_bpe_token_count" -> (bpeUnrolled(16) +
      """SELECT d.doc_id,
        |  CAST(sum(len(string_split(w.sym, ' '))) AS BIGINT) AS n_bpe_tokens
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |      FROM documents) d
        |JOIN w16 w USING (word)
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin),
    "g_bfs_paths" ->
      """WITH RECURSIVE e AS (
        |  SELECT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2),
        |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |deg AS (SELECT src AS id, count(*) AS degree FROM sym GROUP BY 1),
        |lm AS (SELECT id FROM deg ORDER BY degree DESC, id ASC LIMIT 1),
        |bfs(v, dist) AS (
        |  SELECT id, 0 FROM lm
        |  UNION
        |  SELECT s.dst, b.dist + 1
        |  FROM bfs b JOIN sym s ON s.src = b.v WHERE b.dist < 25),
        |d1 AS (SELECT v, min(dist) AS dist FROM bfs GROUP BY v),
        |par AS (
        |  SELECT dw.v AS cur, min(s.src) AS parent
        |  FROM sym s JOIN d1 dw ON dw.v = s.dst JOIN d1 du ON du.v = s.src
        |  WHERE du.dist = dw.dist - 1 GROUP BY dw.v),
        |tgt AS (SELECT v, dist FROM d1 WHERE dist > 0
        |        ORDER BY dist DESC, v ASC LIMIT 10),
        |walk(v, dist, cur, path) AS (
        |  SELECT v, dist, v, CAST(v AS VARCHAR) FROM tgt
        |  UNION ALL
        |  SELECT w.v, w.dist, p.parent,
        |         CAST(p.parent AS VARCHAR) || '->' || w.path
        |  FROM walk w JOIN par p ON p.cur = w.cur
        |  WHERE w.cur <> (SELECT id FROM lm))
        |SELECT v AS id, dist, path FROM walk
        |WHERE cur = (SELECT id FROM lm) ORDER BY id""".stripMargin,
    "g_max_neighbor_degree" -> (GraphCte +
      """SELECT s.src AS id, max(d.degree) AS max_nbr_degree
        |FROM sym s JOIN deg d ON d.id = s.dst
        |GROUP BY s.src ORDER BY id""".stripMargin),
    "g_avg_neighbor_degree" -> (GraphCte +
      """SELECT s.src AS id, round(avg(d.degree), 4) AS avg_nbr_degree
        |FROM sym s JOIN deg d ON d.id = s.dst
        |GROUP BY s.src ORDER BY id""".stripMargin),
    "q_cube_revenue" ->
      """SELECT
        |  CASE WHEN grouping(l_returnflag) = 1 THEN 'ALL'
        |    ELSE l_returnflag END AS returnflag,
        |  CASE WHEN grouping(l_linestatus) = 1 THEN 'ALL'
        |    ELSE l_linestatus END AS linestatus,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "q_grouping_sets" ->
      """SELECT
        |  CASE WHEN grouping(o_orderpriority) = 1 THEN 'ALL'
        |    ELSE o_orderpriority END AS priority,
        |  CASE WHEN grouping(o_orderstatus) = 1 THEN 'ALL'
        |    ELSE o_orderstatus END AS status,
        |  CAST(grouping_id(o_orderpriority, o_orderstatus) AS BIGINT)
        |    AS gid,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
        |  (o_orderpriority, o_orderstatus), ())
        |ORDER BY gid, priority, status""".stripMargin,
    "d_ngram_novelty" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS ts
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id, ts[j] || ' ' || ts[j+1] || ' ' || ts[j+2] AS g
        |  FROM tok, UNNEST(range(1, len(ts) - 1)) AS t(j)),
        |firsts AS (SELECT g, min(doc_id) AS first_doc FROM tri GROUP BY 1)
        |SELECT t.doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel,
        |  round(sum(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 6) AS novelty
        |FROM tri t JOIN firsts f ON f.g = t.g
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "d_hash_embedding" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('fh:' || token), 1, 7))::BIGINT % 16 AS dim,
        |    ('0x' || substr(md5('fhs:' || token), 1, 7))::BIGINT % 2 * 2 - 1
        |      AS sign
        |  FROM tok WHERE token <> '')
        |SELECT doc_id, dim, CAST(sum(sign) AS BIGINT) AS value
        |FROM h GROUP BY 1, 2 ORDER BY doc_id, dim""".stripMargin,
    // chunk-level retrieval: integer sign-sum chunk vectors in the same
    // fh:/fhs: hash space as d_hash_embedding; `dot` is exact BIGINT,
    // ranking consults the engine-identical cosine doubles only
    "d_chunk_retrieval" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS t
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, t, unnest(range(1, len(t) + 1, 24)) AS start
        |  FROM toks),
        |ctk AS (
        |  SELECT doc_id, CAST((start - 1) // 24 AS INT) AS chunk_idx,
        |    unnest(list_slice(t, start, start + 31)) AS token
        |  FROM st),
        |ts2 AS (
        |  SELECT doc_id, chunk_idx,
        |    ('0x' || substr(md5('fh:' || token), 1, 7))::BIGINT % 16 AS dim,
        |    ('0x' || substr(md5('fhs:' || token), 1, 7))::BIGINT % 2 * 2 - 1
        |      AS sign
        |  FROM ctk WHERE token <> ''),
        |emb AS MATERIALIZED (
        |  SELECT doc_id, chunk_idx, dim, CAST(sum(sign) AS BIGINT) AS v
        |  FROM ts2 GROUP BY 1, 2, 3 HAVING sum(sign) <> 0),
        |n2 AS MATERIALIZED (
        |  SELECT doc_id, chunk_idx, sum(v * v) AS n2
        |  FROM emb GROUP BY 1, 2),
        |dots AS (
        |  SELECT q.doc_id AS q_doc, q.chunk_idx AS q_chunk,
        |    e.doc_id AS n_doc, e.chunk_idx AS n_chunk,
        |    CAST(sum(q.v * e.v) AS BIGINT) AS dot
        |  FROM emb q JOIN emb e ON e.dim = q.dim AND e.doc_id <> q.doc_id
        |  WHERE q.doc_id < 3
        |  GROUP BY 1, 2, 3, 4),
        |rr AS (
        |  SELECT d.*, row_number() OVER (
        |    PARTITION BY d.q_doc, d.q_chunk
        |    ORDER BY d.dot / (sqrt(nq.n2 * 1.0) * sqrt(ne.n2 * 1.0)) DESC,
        |      d.n_doc, d.n_chunk) AS rank
        |  FROM dots d
        |  JOIN n2 nq ON nq.doc_id = d.q_doc AND nq.chunk_idx = d.q_chunk
        |  JOIN n2 ne ON ne.doc_id = d.n_doc AND ne.chunk_idx = d.n_chunk)
        |SELECT q_doc, q_chunk, CAST(rank AS INT) AS rank,
        |  n_doc, n_chunk, dot
        |FROM rr WHERE rank <= 5
        |ORDER BY q_doc, q_chunk, rank""".stripMargin,
    "d_holdout_split" ->
      """SELECT
        |  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
        |    ELSE 'test' END AS split,
        |  lang, count(*) AS n_docs
        |FROM (
        |  SELECT lang,
        |    ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
        |      1, 7))::BIGINT % 100 AS b
        |  FROM documents)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_qoq_growth" ->
      """WITH q AS (
        |  SELECT date_trunc('quarter', o_orderdate) AS quarter,
        |    round(sum(o_totalprice), 2) AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT quarter, revenue,
        |  round(100.0 * (revenue - lag(revenue) OVER (ORDER BY quarter))
        |    / lag(revenue) OVER (ORDER BY quarter), 4) + 0.0 AS qoq_pct
        |FROM q ORDER BY quarter""".stripMargin,
    "d_tokenizer_fertility" ->
      """WITH r AS (
        |  SELECT lang,
        |    CAST(round(round(
        |      len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
        |      / CAST(len(string_split_regex(text, '\s+')) AS DOUBLE), 6)
        |      * 1e6) AS BIGINT) AS fert_u,
        |    CAST(round(round(
        |      length(text) /
        |      CAST(len(regexp_extract_all(text,
        |        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS DOUBLE), 6)
        |      * 1e6) AS BIGINT) AS cpt_u
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  round(sum(fert_u) / (count(*) * 1.0)) / 1e6 AS fertility,
        |  round(sum(cpt_u) / (count(*) * 1.0)) / 1e6 AS chars_per_token
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
    // Leskovec densification exponent: exact-integer micro-ln
    // regression over the monthly cumulative (n, e) curve
    "g_densification" ->
      """WITH pe AS (
        |  SELECT a.l_partkey AS src, b.l_partkey AS dst,
        |    date_trunc('month', o.o_orderdate) AS m
        |  FROM lineitem a
        |  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  JOIN orders o ON o.o_orderkey = a.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey),
        |fs AS MATERIALIZED (
        |  SELECT src, dst, min(m) AS em FROM pe GROUP BY 1, 2),
        |vf AS (
        |  SELECT id, min(em) AS vm FROM (
        |    SELECT src AS id, em FROM fs
        |    UNION ALL SELECT dst, em FROM fs) GROUP BY 1),
        |vmo AS (SELECT vm AS month, count(*) AS nv FROM vf GROUP BY 1),
        |emo AS (SELECT em AS month, count(*) AS ne FROM fs GROUP BY 1),
        |cum AS (
        |  SELECT month,
        |    CAST(sum(coalesce(v.nv, 0)) OVER (ORDER BY month
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS vcum,
        |    CAST(sum(e.ne) OVER (ORDER BY month
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS ecum
        |  FROM emo e LEFT JOIN vmo v USING (month)),
        |xy AS (
        |  SELECT CAST(round(ln(vcum) * 1000000) AS BIGINT) AS x,
        |    CAST(round(ln(ecum) * 1000000) AS BIGINT) AS y,
        |    vcum, ecum
        |  FROM cum),
        |ag AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    max(vcum) AS final_vertices, max(ecum) AS final_edges
        |  FROM xy)
        |SELECT n AS n_months, final_vertices, final_edges,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |    (n * sxx - sx * sx), 4) + 0.0 AS densification_exponent
        |FROM ag""".stripMargin,
    "g_edge_arrival" ->
      """WITH pe AS (
        |  SELECT a.l_partkey AS src, b.l_partkey AS dst,
        |    date_trunc('month', o.o_orderdate) AS m
        |  FROM lineitem a
        |  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  JOIN orders o ON o.o_orderkey = a.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey),
        |fs AS (SELECT src, dst, min(m) AS month FROM pe GROUP BY 1, 2),
        |mo AS (SELECT month, count(*) AS new_edges FROM fs GROUP BY 1)
        |SELECT month, new_edges,
        |  CAST(sum(new_edges) OVER (ORDER BY month
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_edges
        |FROM mo ORDER BY month""".stripMargin,
    "g_knn_by_degree" -> (GraphCte +
      """, andv AS (
        |  SELECT s.src AS id,
        |    CAST(round(round(avg(d.degree), 4) * 1e4) AS BIGINT) AS andu
        |  FROM sym s JOIN deg d ON d.id = s.dst
        |  GROUP BY s.src)
        |SELECT g.degree, count(*) AS n_vertices,
        |  round(sum(a.andu) / count(*) / 1e4, 4) AS knn
        |FROM deg g JOIN andv a ON a.id = g.id
        |GROUP BY g.degree ORDER BY g.degree""".stripMargin),
    "g_rich_club" -> (GraphCte +
      """, dc AS (SELECT degree, count(*) AS nv FROM deg GROUP BY 1),
        |mdh AS (
        |  SELECT least(d1.degree, d2.degree) AS mdeg, count(*) AS ne
        |  FROM e JOIN deg d1 ON d1.id = e.src JOIN deg d2 ON d2.id = e.dst
        |  GROUP BY 1),
        |ks AS (SELECT unnest(generate_series(0,
        |         (SELECT max(degree) FROM deg) - 1)) AS k),
        |nk AS (
        |  SELECT k,
        |    CAST(coalesce((SELECT sum(nv) FROM dc WHERE degree > k), 0)
        |      AS BIGINT) AS n_k,
        |    CAST(coalesce((SELECT sum(ne) FROM mdh WHERE mdeg > k), 0)
        |      AS BIGINT) AS e_k
        |  FROM ks)
        |SELECT k, n_k, e_k,
        |  round(2.0 * e_k / (n_k * (n_k - 1.0)), 6) AS rich_club
        |FROM nk WHERE n_k >= 2 ORDER BY k""".stripMargin),
    // 4-clique count: id-ordered enumeration (each K4 a<b<c<d counted
    // once, at triangle (a,b,c) via the 4th-vertex intersection) — the
    // engine's degree-ordered kernel counts the same invariant.
    "g_clique4" -> (GraphCte +
      """, adjid AS (
        |  SELECT src AS u, list(dst ORDER BY dst) AS nbrs FROM e
        |  GROUP BY 1)
        |SELECT CAST(coalesce(sum(len(list_intersect(
        |    list_intersect(ax.nbrs, ay.nbrs), az.nbrs))), 0) AS BIGINT)
        |  AS clique4_count
        |FROM tri t JOIN adjid ax ON ax.u = t.a
        |JOIN adjid ay ON ay.u = t.b
        |JOIN adjid az ON az.u = t.c""".stripMargin),
    // 4-cycle count via the wedge-pair identity: every square has two
    // endpoint diagonals, so C4 = (1/2) sum over pairs of C(n_uw, 2).
    "g_square_count" -> (GraphCte +
      """, wp AS (
        |  SELECT s1.dst AS u, s2.dst AS w, count(*) AS n
        |  FROM sym s1 JOIN sym s2 ON s2.src = s1.src AND s1.dst < s2.dst
        |  GROUP BY 1, 2)
        |SELECT CAST(coalesce(sum(n * (n - 1) // 2), 0) // 2 AS BIGINT)
        |  AS square_count
        |FROM wp""".stripMargin),
    // Induced 4-node graphlet census: the SAME closed-form
    // inclusion-exclusion as GraphQueries.graphletCensus, over the same
    // five primitives (per-vertex degree/triangles, per-edge common
    // neighbors, wedge-pair squares, ordered-intersection 4-cliques).
    "g_graphlet_census" -> (GraphCte +
      """, ec AS (
        |  SELECT e.src, e.dst, count(*) AS cn
        |  FROM e JOIN sym a ON a.src = e.src
        |  JOIN sym b ON b.src = e.dst AND b.dst = a.dst
        |  GROUP BY 1, 2),
        |adjid AS (SELECT src AS u, list(dst ORDER BY dst) AS nbrs
        |          FROM e GROUP BY 1),
        |prim AS (
        |  SELECT
        |    (SELECT CAST(count(*) AS BIGINT) FROM tri) AS t3,
        |    (SELECT CAST(coalesce(sum(
        |        degree * (degree - 1) * (degree - 2) // 6), 0) AS BIGINT)
        |      FROM deg) AS claw_n,
        |    (SELECT CAST(coalesce(sum(triangles * (degree - 2)), 0) AS BIGINT)
        |      FROM tvd) AS paw_n,
        |    (SELECT CAST(coalesce(sum((da.degree - 1) * (db.degree - 1)), 0)
        |        AS BIGINT)
        |      FROM e JOIN deg da ON da.id = e.src
        |      JOIN deg db ON db.id = e.dst) AS p4_ext,
        |    (SELECT CAST(coalesce(sum(cn * (cn - 1) // 2), 0) AS BIGINT)
        |      FROM ec) AS diamond_n,
        |    (SELECT CAST(coalesce(sum(n * (n - 1) // 2), 0) // 2 AS BIGINT)
        |      FROM (SELECT s1.dst AS u, s2.dst AS w, count(*) AS n
        |            FROM sym s1 JOIN sym s2
        |              ON s2.src = s1.src AND s1.dst < s2.dst
        |            GROUP BY 1, 2)) AS sq,
        |    (SELECT CAST(coalesce(sum(len(list_intersect(
        |        list_intersect(ax.nbrs, ay.nbrs), az.nbrs))), 0) AS BIGINT)
        |      FROM tri t JOIN adjid ax ON ax.u = t.a
        |      JOIN adjid ay ON ay.u = t.b
        |      JOIN adjid az ON az.u = t.c) AS k4),
        |ind AS (
        |  SELECT t3, claw_n, paw_n, p4_ext - 3 * t3 AS p4_n, sq, k4,
        |    diamond_n - 6 * k4 AS di
        |  FROM prim),
        |ind2 AS (
        |  SELECT *, sq - di - 3 * k4 AS c4i,
        |    paw_n - 4 * di - 12 * k4 AS pawi
        |  FROM ind),
        |ind3 AS (
        |  SELECT *, claw_n - pawi - 2 * di - 4 * k4 AS clawi,
        |    p4_n - 4 * c4i - 2 * pawi - 6 * di - 12 * k4 AS p4i
        |  FROM ind2)
        |SELECT graphlet, CAST(n AS BIGINT) AS n FROM (
        |  SELECT '1_path4' AS graphlet, p4i AS n FROM ind3 UNION ALL
        |  SELECT '2_claw', clawi FROM ind3 UNION ALL
        |  SELECT '3_cycle4', c4i FROM ind3 UNION ALL
        |  SELECT '4_paw', pawi FROM ind3 UNION ALL
        |  SELECT '5_diamond', di FROM ind3 UNION ALL
        |  SELECT '6_clique4', k4 FROM ind3)
        |ORDER BY graphlet""".stripMargin),
    "g_dyad_census" -> (DirectedCte +
      """, pd AS (
        |  SELECT least(src, dst) AS lo, greatest(src, dst) AS hi,
        |    count(*) AS ndir
        |  FROM de GROUP BY 1, 2),
        |ag AS (
        |  SELECT
        |    CAST(coalesce(sum(CASE WHEN ndir = 2 THEN 1 END), 0) AS BIGINT) AS mutual,
        |    CAST(coalesce(sum(CASE WHEN ndir = 1 THEN 1 END), 0) AS BIGINT) AS asym
        |  FROM pd),
        |nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dv)
        |SELECT nv.n AS n_vertices, ag.mutual, ag.asym,
        |  CAST((nv.n * (nv.n - 1)) // 2 - ag.mutual - ag.asym AS BIGINT)
        |    AS nulld
        |FROM ag, nv""".stripMargin),
    // Full 16-type triad census: the same Batagelj–Mrvar decomposition
    // as the engine (vertex-ordered >=2-dyad triple enumeration +
    // counting formulas for 012/102/003); the 64-way classifier CASE is
    // GENERATED from the engine's own codeToType map, so both sides
    // share one classification by construction.
    "g_triad_census" -> (DirectedCte +
      s""", pc AS (
        |  SELECT least(src, dst) AS lo, greatest(src, dst) AS hi,
        |    max(CASE WHEN src < dst THEN 1 ELSE 0 END)
        |      + 2 * max(CASE WHEN src > dst THEN 1 ELSE 0 END) AS code
        |  FROM de GROUP BY 1, 2),
        |nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dv),
        |t1 AS (
        |  SELECT p1.code AS cab, p2.code AS cac,
        |    coalesce(p3.code, 0) AS cbc
        |  FROM pc p1 JOIN pc p2 ON p2.lo = p1.lo AND p2.hi > p1.hi
        |  LEFT JOIN pc p3 ON p3.lo = p1.hi AND p3.hi = p2.hi),
        |t2 AS (
        |  SELECT p1.code AS cab, 0 AS cac, p3.code AS cbc
        |  FROM pc p1 JOIN pc p3 ON p3.lo = p1.hi
        |  WHERE NOT EXISTS (SELECT 1 FROM pc p2
        |                    WHERE p2.lo = p1.lo AND p2.hi = p3.hi)),
        |t3 AS (
        |  SELECT 0 AS cab, p2.code AS cac, p3.code AS cbc
        |  FROM pc p2 JOIN pc p3 ON p3.hi = p2.hi AND p3.lo > p2.lo
        |  WHERE NOT EXISTS (SELECT 1 FROM pc p1
        |                    WHERE p1.lo = p2.lo AND p1.hi = p3.lo)),
        |tri AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2
        |        UNION ALL SELECT * FROM t3),
        |cls AS (
        |  SELECT ${triadCaseSql} AS triad_type,
        |    (CASE WHEN cab = 3 THEN 1 ELSE 0 END)
        |      + (CASE WHEN cac = 3 THEN 1 ELSE 0 END)
        |      + (CASE WHEN cbc = 3 THEN 1 ELSE 0 END) AS nmut,
        |    (CASE WHEN cab IN (1, 2) THEN 1 ELSE 0 END)
        |      + (CASE WHEN cac IN (1, 2) THEN 1 ELSE 0 END)
        |      + (CASE WHEN cbc IN (1, 2) THEN 1 ELSE 0 END) AS nasym
        |  FROM tri),
        |agg AS (SELECT triad_type, CAST(count(*) AS BIGINT) AS cnt
        |        FROM cls GROUP BY 1),
        |subs AS (
        |  SELECT CAST(coalesce(sum(nmut), 0) AS BIGINT) AS sm,
        |    CAST(coalesce(sum(nasym), 0) AS BIGINT) AS sa,
        |    CAST(count(*) AS BIGINT) AS tot
        |  FROM cls),
        |dy AS (
        |  SELECT
        |    CAST(coalesce(sum(CASE WHEN code = 3 THEN 1 END), 0) AS BIGINT) AS m,
        |    CAST(coalesce(sum(CASE WHEN code IN (1, 2) THEN 1 END), 0) AS BIGINT) AS a
        |  FROM pc),
        |names AS (SELECT unnest(['003','012','021C','021D','021U','030C',
        |  '030T','102','111D','111U','120C','120D','120U','201','210',
        |  '300']) AS triad_type)
        |SELECT nm.triad_type,
        |  CAST(CASE nm.triad_type
        |    WHEN '012' THEN (nv.n - 2) * dy.a - subs.sa
        |    WHEN '102' THEN (nv.n - 2) * dy.m - subs.sm
        |    WHEN '003' THEN (nv.n * (nv.n - 1) * (nv.n - 2)) // 6
        |      - subs.tot - ((nv.n - 2) * dy.a - subs.sa)
        |      - ((nv.n - 2) * dy.m - subs.sm)
        |    ELSE coalesce(ag.cnt, 0) END AS BIGINT) AS n_triads
        |FROM names nm
        |LEFT JOIN agg ag ON ag.triad_type = nm.triad_type
        |CROSS JOIN nv CROSS JOIN dy CROSS JOIN subs
        |ORDER BY nm.triad_type""".stripMargin),
    "q18_large_orders" ->
      """WITH bo AS (
        |  SELECT l_orderkey, sum(l_quantity) AS total_qty FROM lineitem
        |  GROUP BY 1 HAVING sum(l_quantity) > 150)
        |SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
        |  round(o.o_totalprice, 2) AS o_total,
        |  round(b.total_qty, 2) AS total_qty
        |FROM orders o
        |JOIN bo b ON b.l_orderkey = o.o_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |ORDER BY total_qty DESC, o.o_orderkey ASC LIMIT 20""".stripMargin,
    "d_word_entropy" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(text, '\s+')) AS token
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM tok
        |  WHERE token <> '' GROUP BY 1, 2),
        |tot AS (
        |  SELECT doc_id, sum(tf) AS tot, count(*) AS types
        |  FROM tf GROUP BY 1),
        |units AS (
        |  SELECT t.doc_id,
        |    CAST(round((t.tf / CAST(o.tot AS DOUBLE)) *
        |      log2(t.tf / CAST(o.tot AS DOUBLE)) * 1000000) AS BIGINT) AS u
        |  FROM tf t JOIN tot o ON o.doc_id = t.doc_id),
        |ent AS (
        |  SELECT doc_id, round(-sum(u) / 1e6, 6) AS entropy
        |  FROM units GROUP BY 1)
        |SELECT e.doc_id, e.entropy,
        |  round(o.types / CAST(o.tot AS DOUBLE), 6) AS ttr
        |FROM ent e JOIN tot o ON o.doc_id = e.doc_id
        |ORDER BY e.doc_id""".stripMargin,
    // patterns are RE2-compatible copies of TextAnalysis.EmailRe/Ipv4Re/
    // PhoneRe; scrub order email → ip → phone matches the operator
    "d_pii_scrub" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(text,
        |    '\b\d{1,3}(\.\d{1,3}){3}\b')) AS n_ips,
        |  len(regexp_extract_all(text,
        |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
        |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d_zipf_slope" ->
      """WITH f AS (
        |  SELECT token, count(*) AS freq
        |  FROM (SELECT unnest(string_split_regex(text, '\s+')) AS token
        |        FROM documents)
        |  WHERE token <> ''
        |  GROUP BY token
        |  ORDER BY freq DESC, token ASC LIMIT 100),
        |r AS (
        |  SELECT row_number() OVER (ORDER BY freq DESC, token ASC) AS rank,
        |    freq
        |  FROM f),
        |p AS (
        |  SELECT CAST(round(ln(rank) * 1000000) AS BIGINT) AS x,
        |    CAST(round(ln(freq) * 1000000) AS BIGINT) AS y
        |  FROM r)
        |SELECT count(*) AS n_tokens,
        |  round(
        |    CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS DOUBLE) /
        |    CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE),
        |    6) AS zipf_slope
        |FROM p""".stripMargin,
    "e_norm_stats" ->
      """WITH ev AS (
        |  SELECT vec_id, label, CAST(x AS DOUBLE) AS x FROM (
        |    SELECT vec_id, label, unnest(embedding) AS x FROM embeddings)),
        |n AS (
        |  SELECT vec_id, any_value(label) AS label,
        |    round(sqrt(sum(CAST(round(x * x * 1000000) AS BIGINT))
        |      / 1000000.0), 6) AS nrm
        |  FROM ev GROUP BY vec_id)
        |SELECT label, count(*) AS n_vecs,
        |  round(sum(CAST(round(nrm * 1000000) AS BIGINT))
        |    / (count(*) * 1.0)) / 1000000.0 AS avg_norm,
        |  min(nrm) AS min_norm,
        |  max(nrm) AS max_norm
        |FROM n GROUP BY label ORDER BY label""".stripMargin,
    "e_random_projection" ->
      """WITH ve AS (
        |  SELECT vec_id, j,
        |    CAST(round(CAST(embedding[j + 1] AS DOUBLE) * 1000000)
        |      AS BIGINT) AS vi
        |  FROM embeddings, UNNEST(range(0, len(embedding))) AS t(j)),
        |sgn AS (
        |  SELECT j, k,
        |    CASE WHEN ('0x' || substr(md5('rp:' || CAST(j AS VARCHAR)
        |      || ':' || CAST(k AS VARCHAR)), 1, 1))::INT % 2 = 0
        |    THEN 1 ELSE -1 END AS s
        |  FROM (SELECT DISTINCT j FROM ve),
        |       (SELECT unnest(range(0, 8)) AS k))
        |SELECT ve.vec_id, sgn.k,
        |  round(sum(ve.vi * sgn.s) / 1e6, 6) AS proj
        |FROM ve JOIN sgn ON sgn.j = ve.j
        |GROUP BY ve.vec_id, sgn.k
        |ORDER BY ve.vec_id, sgn.k""".stripMargin,
    "g_link_prediction" -> (GraphCte +
      """, sv AS (SELECT p_partkey AS id FROM part WHERE p_size <= 10),
        |se AS (
        |  SELECT s.src, s.dst FROM sym s
        |  JOIN sv a ON a.id = s.src JOIN sv b ON b.id = s.dst),
        |wedge AS (
        |  SELECT s1.src AS w, s1.dst AS u, s2.dst AS v
        |  FROM se s1 JOIN se s2 ON s2.src = s1.src AND s1.dst < s2.dst),
        |sc AS (
        |  SELECT wd.u AS src, wd.v AS dst, count(*) AS common_cnt,
        |    round(sum(1.0 / ln(d.degree)), 6) AS aa_score
        |  FROM wedge wd JOIN deg d ON d.id = wd.w
        |  LEFT JOIN e ON e.src = wd.u AND e.dst = wd.v
        |  WHERE e.src IS NULL
        |  GROUP BY wd.u, wd.v)
        |SELECT src, dst, common_cnt, aa_score FROM sc
        |ORDER BY aa_score DESC, src, dst LIMIT 50""".stripMargin),
    // Flesch with vowel-group syllables — entirely row-local
    "d_readability" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_words,
        |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |    AS BIGINT) AS n_sentences,
        |  CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
        |    AS BIGINT) AS n_syllables,
        |  round(206.835
        |    - 1.015 * (len(string_split_regex(text, '\s+'))
        |        / CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |          AS DOUBLE))
        |    - 84.6 * (len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
        |        / CAST(len(string_split_regex(text, '\s+')) AS DOUBLE)), 4)
        |    AS flesch
        |FROM documents ORDER BY doc_id""".stripMargin,
    // CV of per-(user,type) gaps from exact integer moments
    "q_interarrival" ->
      """WITH g AS (
        |  SELECT event_type,
        |    (epoch_ms(ts) - lag(epoch_ms(ts)) OVER
        |      (PARTITION BY user_id, event_type
        |       ORDER BY ts, event_id)) // 1000 AS gap
        |  FROM events),
        |m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(sum(gap) AS BIGINT) AS sg,
        |    CAST(sum(gap * gap) AS BIGINT) AS sg2
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_gaps,
        |  round(sg / (n_gaps * 1.0), 4) AS mean_gap_s,
        |  round(sqrt(greatest(
        |    CAST(n_gaps AS DOUBLE) * sg2 - CAST(sg AS DOUBLE) * sg,
        |    0.0)) / sg, 4) AS cv_gap
        |FROM m ORDER BY event_type""".stripMargin,
    // the MG soundness theorem forces the flag TRUE — a buggy sketch
    // hash-mismatches (same gate as the HLL/GK approx queries)
    "q_heavy_hitters" ->
      """SELECT l_partkey AS item, count(*) AS exact_cnt,
        |  TRUE AS within_bound
        |FROM lineitem GROUP BY 1
        |ORDER BY exact_cnt DESC, item ASC LIMIT 10""".stripMargin,
    // half-life decayed counters: micro-quantized terms, order-free sum
    "q_decayed_activity" ->
      """WITH mx AS (SELECT max(epoch_ms(ts)) AS m FROM events)
        |SELECT event_type, count(*) AS n_events,
        |  round(CAST(sum(CAST(round(value * pow(2.0,
        |      -(((SELECT m FROM mx) - epoch_ms(ts)) / 86400000.0) / 7.0)
        |    * 1000000) AS BIGINT)) AS BIGINT) / 1000000.0, 4)
        |    AS decayed_value,
        |  round(sum(value), 2) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_props_json" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
        |    AS sum_k,
        |  min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k,
        |  round(sum(CAST(json_extract(props, '$.k') AS BIGINT)) /
        |    (count(*) * 1.0), 4) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Liben-Nowell-Kleinberg temporal protocol: AA trained strictly
    // before the split, scored on edges that arrived after it
    "g_link_temporal_eval" ->
      """WITH fs AS (
        |  SELECT a.l_partkey AS src, b.l_partkey AS dst,
        |    min(o.o_orderdate) AS fd
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  JOIN orders o ON o.o_orderkey = a.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2),
        |ee AS (SELECT src, dst FROM fs WHERE fd < TIMESTAMP '1996-01-01'),
        |le AS (SELECT src, dst FROM fs WHERE fd >= TIMESTAMP '1996-01-01'),
        |esym AS (SELECT src, dst FROM ee
        |         UNION ALL SELECT dst, src FROM ee),
        |edeg AS (SELECT src AS id, count(*) AS degree FROM esym
        |         GROUP BY 1),
        |sv AS (SELECT p_partkey AS id FROM part WHERE p_size <= 10),
        |se AS (SELECT s.src, s.dst FROM esym s
        |       JOIN sv a ON a.id = s.src JOIN sv b ON b.id = s.dst),
        |sc AS MATERIALIZED (
        |  SELECT wd.u, wd.v, round(sum(1.0 / ln(d.degree)), 6) AS aa
        |  FROM (SELECT s1.src AS w, s1.dst AS u, s2.dst AS v
        |        FROM se s1 JOIN se s2 ON s2.src = s1.src
        |          AND s1.dst < s2.dst) wd
        |  JOIN edeg d ON d.id = wd.w
        |  LEFT JOIN ee ON ee.src = wd.u AND ee.dst = wd.v
        |  WHERE ee.src IS NULL
        |  GROUP BY wd.u, wd.v),
        |t50 AS (
        |  SELECT u, v FROM (
        |    SELECT u, v, row_number() OVER (ORDER BY aa DESC, u, v)
        |      AS rk FROM sc) WHERE rk <= 50)
        |SELECT 50 AS k,
        |  (SELECT count(*) FROM sc) AS n_candidates,
        |  (SELECT count(*) FROM le) AS n_late_new,
        |  count(l.src) AS hits,
        |  round(count(l.src) / (50 * 1.0), 4) AS precision_at_k,
        |  round((SELECT count(*) FROM sc s
        |         JOIN le ON le.src = s.u AND le.dst = s.v) /
        |    ((SELECT count(*) FROM sc) * 1.0), 6) AS random_baseline
        |FROM t50 LEFT JOIN le l ON l.src = t50.u AND l.dst = t50.v""".stripMargin,
    "q10_returned_items" ->
      """SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1996-07-01'
        |GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        |ORDER BY revenue DESC, c.c_custkey ASC LIMIT 20""".stripMargin,
    "q13_order_distribution" ->
      """WITH oc AS (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c
        |  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |    AND o.o_orderpriority <> '1-URGENT'
        |  GROUP BY c.c_custkey)
        |SELECT c_count, count(*) AS custdist FROM oc
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    round(sum(l_extendedprice * (1 - l_discount)), 2)
        |      AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s.s_suppkey, s.s_name, r.total_revenue
        |FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
        |WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s.s_suppkey""".stripMargin,
    "q19_discounted_revenue" ->
      """SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
        |  AS revenue
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity BETWEEN 1 AND 11)
        |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
        |       AND l.l_quantity BETWEEN 10 AND 20)
        |   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
        |       AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q_late_shipments" ->
      """SELECT o.o_orderpriority, count(*) AS late_count,
        |  round(sum(l.l_extendedprice), 2) AS late_value
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin,
    "q22_idle_customers" ->
      """WITH t AS (
        |  SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS tot,
        |    count(*) AS cnt
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT n.n_name, count(*) AS numcust,
        |  round(sum(c.c_acctbal), 2) AS totacctbal
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey, t
        |WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) * t.cnt > t.tot
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,
    // hottest key via (n, k) lexicographic max — ORDER BY n DESC,
    // k DESC mirrors Spark's max(struct(n, k)) convention
    "q_key_skew" ->
      """WITH c AS (
        |  SELECT l_partkey AS k, count(*) AS n FROM lineitem GROUP BY 1),
        |hot AS (SELECT k, n FROM c ORDER BY n DESC, k DESC LIMIT 1),
        |t AS (SELECT count(*) AS n_keys,
        |  CAST(sum(n) AS BIGINT) AS n_rows FROM c)
        |SELECT t.n_keys, hot.k AS hottest_key, hot.n AS max_n,
        |  round(t.n_rows / CAST(t.n_keys AS DOUBLE), 4) AS avg_n,
        |  round(hot.n * t.n_keys / CAST(t.n_rows AS DOUBLE), 4)
        |    AS skew_ratio
        |FROM t, hot""".stripMargin,
    "q9_profit_by_nation" ->
      """SELECT n.n_name AS nation,
        |  CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)
        |    - 0.4 * p.p_retailprice * l.l_quantity), 2) AS sum_profit
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |  AND p.p_name LIKE '%widget%'
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,
    // cents·500 > total-cents: the 0.2% importance threshold as exact
    // integer cross-multiplication (no float summation boundary)
    "q11_important_parts" ->
      """WITH vals AS (
        |  SELECT l_partkey AS p_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * l_quantity * 100)
        |      AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS tot_cents,
        |  count(*) AS n_parts FROM vals)
        |SELECT p_partkey, round(cents / 100.0, 2) AS value
        |FROM vals, tot WHERE cents * n_parts * 10 > tot_cents * 14
        |ORDER BY value DESC, p_partkey""".stripMargin,
    "q12_shipping_priority" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q16_supplier_counts" ->
      """WITH bridge AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |  WHERE l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
        |SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM bridge JOIN part ON p_partkey = l_partkey
        |WHERE p_size <= 8 AND p_brand <> 'Brand#1'
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q20_excess_suppliers" ->
      """WITH qty AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |      AS qty_cents
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_name LIKE 'small%' AND year(l_shipdate) = 1997
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(qty_cents) AS BIGINT) AS tot_cents,
        |  count(*) AS n_supp FROM qty),
        |heavy AS (
        |  SELECT l_suppkey FROM qty, tot
        |  WHERE qty_cents * n_supp * 2 > tot_cents * 3)
        |SELECT s_name, n_name AS nation
        |FROM supplier JOIN nation ON n_nationkey = s_nationkey
        |WHERE s_suppkey IN (SELECT l_suppkey FROM heavy)
        |ORDER BY s_name""".stripMargin,
    "q21_waiting_suppliers" ->
      """WITH lines AS (
        |  SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate, o.o_orderdate,
        |    max(l.l_shipdate) OVER (PARTITION BY l.l_orderkey) AS max_ship
        |  FROM lineitem l
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |    AND o.o_orderstatus = 'F'),
        |ord AS (
        |  SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp,
        |    count(DISTINCT CASE WHEN l_shipdate = max_ship
        |      THEN l_suppkey END) AS late_supp
        |  FROM lines GROUP BY 1),
        |wait AS (
        |  SELECT DISTINCT li.l_orderkey, li.l_suppkey
        |  FROM lines li JOIN ord ON ord.l_orderkey = li.l_orderkey
        |  WHERE ord.n_supp >= 2 AND ord.late_supp = 1
        |    AND li.l_shipdate = li.max_ship
        |    AND li.l_shipdate > li.o_orderdate + INTERVAL 60 DAY)
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM wait JOIN supplier ON s_suppkey = l_suppkey
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "q_running_total" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  round(sum(o_totalprice) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |    AS running_total
        |FROM orders WHERE o_custkey <= 100
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    "q2_min_price_supplier" ->
      """WITH sp AS (
        |  SELECT l_partkey, l_suppkey,
        |    round(avg(l_extendedprice), 4) AS avg_price
        |  FROM lineitem GROUP BY 1, 2),
        |b AS (
        |  SELECT l_partkey AS p_key, l_suppkey AS s_suppkey,
        |    avg_price AS best_price,
        |    row_number() OVER (PARTITION BY l_partkey
        |                       ORDER BY avg_price, l_suppkey) AS rn
        |  FROM sp)
        |SELECT p_partkey, p_name, s_suppkey, s_name, best_price
        |FROM b
        |JOIN part ON p_partkey = p_key
        |JOIN supplier USING (s_suppkey)
        |WHERE rn = 1 AND p_size <= 3
        |ORDER BY p_partkey""".stripMargin,
    "q_events_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
        |v AS (SELECT user_id, min(ms) AS v_ms FROM ev
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ms) AS c_ms
        |      FROM ev e JOIN v ON v.user_id = e.user_id
        |      WHERE e.event_type = 'click' AND e.ms > v.v_ms
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ms) AS p_ms
        |      FROM ev e JOIN c ON c.user_id = e.user_id
        |      WHERE e.event_type = 'purchase' AND e.ms > c.c_ms
        |      GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM v) AS n_viewed,
        |  (SELECT count(*) FROM c) AS n_clicked_after_view,
        |  (SELECT count(*) FROM p) AS n_purchased_after_click""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE (sn.n_name = 'NATION_18' AND cn.n_name = 'NATION_19')
        |   OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_18')
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,
    "q8_market_share" ->
      """SELECT year(o_orderdate) AS o_year,
        |  round(sum(CASE WHEN sn.n_name = 'NATION_3'
        |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)
        |    / sum(l_extendedprice * (1.0 - l_discount)), 6) AS mkt_share
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region ON cn.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE r_name = 'AMERICA'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT date_trunc('month', l_shipdate) AS ship_month,
        |  round(sum(CASE WHEN p_type = 'PROMO'
        |    THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END), 2)
        |    AS promo_revenue,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2)
        |    AS total_revenue,
        |  round(sum(CASE WHEN p_type = 'PROMO'
        |    THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)
        |    * 100.0 / sum(l_extendedprice * (1.0 - l_discount)), 4)
        |    AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "e_label_centroids" ->
      """SELECT e.label, x.i - 1 AS dim,
        |  round(sum(CAST(round(CAST(e.embedding[x.i] AS DOUBLE) * 1000000)
        |    AS BIGINT)) / (count(*) * 1.0)) / 1000000.0 AS centroid,
        |  count(*) AS n_vecs
        |FROM embeddings e
        |CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) x
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // centroid silhouette, exact-integer replica of the engine's
    // micro-int pipeline: micro vectors -> floor-mean micro centroids
    // -> BIGINT squared distances -> IEEE sqrt ratio -> micro-pinned
    // order-free mean. Every d2 is an exact integer in both engines.
    "e_silhouette" ->
      """WITH cent AS (
        |  SELECT e.label AS clabel, x.i AS dim,
        |    CAST(floor(sum(CAST(round(CAST(e.embedding[x.i] AS DOUBLE)
        |      * 1000000) AS BIGINT)) / count(*)) AS BIGINT) AS mu
        |  FROM embeddings e
        |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) x
        |  GROUP BY 1, 2),
        |dist AS (
        |  SELECT e.vec_id, e.label, c.clabel,
        |    CAST(sum(
        |      (CAST(round(CAST(e.embedding[c.dim] AS DOUBLE) * 1000000)
        |         AS BIGINT) - c.mu)
        |      * (CAST(round(CAST(e.embedding[c.dim] AS DOUBLE) * 1000000)
        |           AS BIGINT) - c.mu)) AS BIGINT) AS d2
        |  FROM embeddings e CROSS JOIN cent c
        |  GROUP BY 1, 2, 3),
        |ab AS (
        |  SELECT vec_id, label,
        |    max(CASE WHEN clabel = label THEN d2 END) AS a2,
        |    min(CASE WHEN clabel <> label THEN d2 END) AS b2
        |  FROM dist GROUP BY 1, 2),
        |sv AS (
        |  SELECT label,
        |    CAST(round((CASE WHEN greatest(a2, b2) = 0 THEN 0.0
        |      ELSE (sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
        |        / greatest(sqrt(CAST(a2 AS DOUBLE)),
        |                   sqrt(CAST(b2 AS DOUBLE))) END) * 1000000)
        |      AS BIGINT) AS sm
        |  FROM ab)
        |SELECT label, count(*) AS n_vecs,
        |  round(CAST(sum(sm) AS BIGINT) / (count(*) * 1.0)) / 1000000.0 + 0.0
        |    AS silhouette
        |FROM sv GROUP BY 1 ORDER BY 1""".stripMargin,
    "g_katz" -> (GraphCte + katzUnrolled(8) +
      "SELECT id, round(rank, 6) AS katz FROM k8 ORDER BY id"),
    "g_eigenvector" -> (GraphCte + evUnrolled(8) +
      "SELECT id, round(q / 1000000.0, 6) AS eigenvector FROM ev8 ORDER BY id"),
    "g_hits" -> (DirectedCte + hitsUnrolled(8) +
      """SELECT a.id, round(a.q / 1000000.0, 6) AS auth,
        |  round(h.q / 1000000.0, 6) AS hub
        |FROM a8 a JOIN h8 h ON h.id = a.id ORDER BY a.id""".stripMargin),
    // SALSA closed form: min-label CC over the bipartite support graph
    // (hub copy 2v / authority copy 2v+1), then component-weighted
    // degree ratios — all-integer inputs, one rounded division per score
    "g_salsa" -> (DirectedCte + salsaCcUnrolled(56) +
      """, ind AS (SELECT dst AS v, count(*) AS ind FROM de GROUP BY 1)
        |, outd AS (SELECT src AS v, count(*) AS outd FROM de GROUP BY 1)
        |, acc AS (SELECT (id - 1) // 2 AS v, lbl AS comp FROM bcc
        |          WHERE id % 2 = 1)
        |, hcc AS (SELECT id // 2 AS v, lbl AS comp FROM bcc
        |          WHERE id % 2 = 0)
        |, aagg AS (SELECT a.comp, sum(i.ind) AS sind, count(*) AS na
        |           FROM acc a JOIN ind i ON i.v = a.v GROUP BY 1)
        |, hagg AS (SELECT h.comp, sum(o.outd) AS soutd, count(*) AS nh
        |           FROM hcc h JOIN outd o ON o.v = h.v GROUP BY 1)
        |, ta AS (SELECT count(*) AS n FROM acc)
        |, th AS (SELECT count(*) AS n FROM hcc)
        |, ascore AS (
        |  SELECT a.v, round((g.na * CAST(i.ind AS DOUBLE)) /
        |      ((SELECT n FROM ta) * CAST(g.sind AS DOUBLE)), 6) AS auth
        |  FROM acc a JOIN ind i ON i.v = a.v
        |  JOIN aagg g ON g.comp = a.comp)
        |, hscore AS (
        |  SELECT h.v, round((g.nh * CAST(o.outd AS DOUBLE)) /
        |      ((SELECT n FROM th) * CAST(g.soutd AS DOUBLE)), 6) AS hub
        |  FROM hcc h JOIN outd o ON o.v = h.v
        |  JOIN hagg g ON g.comp = h.comp)
        |SELECT d.id, coalesce(a.auth, 0.0) AS auth,
        |  coalesce(h.hub, 0.0) AS hub
        |FROM dv d LEFT JOIN ascore a ON a.v = d.id
        |LEFT JOIN hscore h ON h.v = d.id
        |ORDER BY d.id""".stripMargin),
    "g_degree_centrality" -> (GraphCte +
      ", nv AS (SELECT count(*) AS c FROM deg)\n" +
      """SELECT id, round(degree / ((SELECT c FROM nv) - 1.0), 6)
        |  AS degree_centrality
        |FROM deg ORDER BY id""".stripMargin),
    "g_adamic_adar" -> (GraphCte +
      """, aa AS (
        |  SELECT l.src, l.dst, count(*) AS common_cnt,
        |    round(sum(1.0 / ln(d.degree)), 6) AS adamic_adar
        |  FROM e l
        |  JOIN sym s1 ON s1.src = l.src
        |  JOIN sym s2 ON s2.src = l.dst AND s2.dst = s1.dst
        |  JOIN deg d ON d.id = s1.dst
        |  GROUP BY l.src, l.dst)
        |SELECT e.src, e.dst, coalesce(a.common_cnt, 0) AS common_cnt,
        |  coalesce(a.adamic_adar, 0.0) AS adamic_adar
        |FROM e LEFT JOIN aa a ON a.src = e.src AND a.dst = e.dst
        |ORDER BY e.src, e.dst""".stripMargin),
    "d_tfidf_top_terms" ->
      """WITH tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS c FROM documents),
        |sc AS (
        |  SELECT t.doc_id, t.token,
        |    round(t.tf * ln((SELECT c FROM n) / CAST(d.df AS DOUBLE)), 6)
        |      AS tfidf
        |  FROM tf t JOIN dfq d ON d.token = t.token),
        |r AS (
        |  SELECT doc_id, token, tfidf,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY tfidf DESC, token ASC) AS rank
        |  FROM sc)
        |SELECT doc_id, rank, token, tfidf
        |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,
    "g_directed_degrees" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_partkey, l_linenumber FROM lineitem
        |  WHERE l_quantity >= 42),
        |seq AS (
        |  SELECT l_partkey AS src,
        |    lead(l_partkey) OVER (PARTITION BY l_orderkey
        |                          ORDER BY l_linenumber, l_partkey) AS dst
        |  FROM li),
        |de AS (SELECT DISTINCT src, dst FROM seq
        |       WHERE dst IS NOT NULL AND dst <> src),
        |dv AS (SELECT src AS id FROM de UNION SELECT dst FROM de),
        |i AS (SELECT dst AS id, CAST(count(*) AS BIGINT) AS c
        |      FROM de GROUP BY 1),
        |o AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS c
        |      FROM de GROUP BY 1)
        |SELECT dv.id,
        |  coalesce(i.c, CAST(0 AS BIGINT)) AS in_degree,
        |  coalesce(o.c, CAST(0 AS BIGINT)) AS out_degree
        |FROM dv LEFT JOIN i USING (id) LEFT JOIN o USING (id)
        |ORDER BY id""".stripMargin,
    "g_scc" -> (SccCte + "SELECT id, scc_id FROM sccl ORDER BY id"),
    "g_scc_sizes" -> (SccCte +
      """, sz AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS size
        |        FROM sccl GROUP BY scc_id)
        |SELECT size, CAST(count(*) AS BIGINT) AS n_sccs
        |FROM sz GROUP BY size ORDER BY size""".stripMargin),
    "g_bfs_landmarks" ->
      """WITH RECURSIVE e AS (
        |  SELECT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2),
        |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |deg AS (SELECT src AS id, count(*) AS degree FROM sym GROUP BY 1),
        |lm AS (SELECT id FROM deg ORDER BY degree DESC, id ASC LIMIT 4),
        |bfs(landmark, v, dist) AS (
        |  SELECT id, id, 0 FROM lm
        |  UNION
        |  SELECT b.landmark, s.dst, b.dist + 1
        |  FROM bfs b JOIN sym s ON s.src = b.v WHERE b.dist < 25)
        |SELECT landmark, v, min(dist) AS dist FROM bfs
        |GROUP BY landmark, v ORDER BY landmark, v""".stripMargin,
    // SAGE-style 1-hop aggregate features; price sums in exact cents
    "g_neighbor_features" -> (GraphCte +
      """SELECT s.src AS id, count(*) AS n_nbrs,
        |  round(CAST(sum(CAST(round(p.p_retailprice * 100) AS BIGINT))
        |    AS BIGINT) / (count(*) * 100.0), 4) AS avg_nbr_price,
        |  max(p.p_retailprice) AS max_nbr_price
        |FROM sym s JOIN part p ON p.p_partkey = s.dst
        |GROUP BY s.src ORDER BY id""".stripMargin),
    "g_distance_histogram" ->
      """WITH RECURSIVE e AS (
        |  SELECT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2),
        |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |deg AS (SELECT src AS id, count(*) AS degree FROM sym GROUP BY 1),
        |lm AS (SELECT id FROM deg ORDER BY degree DESC, id ASC LIMIT 8),
        |bfs(landmark, v, dist) AS (
        |  SELECT id, id, 0 FROM lm
        |  UNION
        |  SELECT b.landmark, s.dst, b.dist + 1
        |  FROM bfs b JOIN sym s ON s.src = b.v WHERE b.dist < 25),
        |md AS (SELECT landmark, v, min(dist) AS dist FROM bfs
        |       GROUP BY 1, 2)
        |SELECT dist, count(*) AS n_pairs FROM md
        |GROUP BY dist ORDER BY dist""".stripMargin,
    "g_global_efficiency" ->
      """WITH RECURSIVE e AS (
        |  SELECT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2),
        |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |deg AS (SELECT src AS id, count(*) AS degree FROM sym GROUP BY 1),
        |lm AS (SELECT id FROM deg ORDER BY degree DESC, id ASC LIMIT 8),
        |bfs(landmark, v, dist) AS (
        |  SELECT id, id, 0 FROM lm
        |  UNION
        |  SELECT b.landmark, s.dst, b.dist + 1
        |  FROM bfs b JOIN sym s ON s.src = b.v WHERE b.dist < 25),
        |md AS (
        |  SELECT landmark, v, min(dist) AS dist FROM bfs
        |  GROUP BY landmark, v)
        |SELECT round(sum(CAST(round(1e9 / dist) AS BIGINT))
        |  / count(*) / 1e9, 6) AS global_efficiency
        |FROM md WHERE dist > 0""".stripMargin,
    "g_closeness" ->
      """WITH RECURSIVE e AS (
        |  SELECT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2),
        |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |deg AS (SELECT src AS id, count(*) AS degree FROM sym GROUP BY 1),
        |lm AS (SELECT id FROM deg ORDER BY degree DESC, id ASC LIMIT 8),
        |bfs(landmark, v, dist) AS (
        |  SELECT id, id, 0 FROM lm
        |  UNION
        |  SELECT b.landmark, s.dst, b.dist + 1
        |  FROM bfs b JOIN sym s ON s.src = b.v WHERE b.dist < 25),
        |md AS (
        |  SELECT landmark, v, min(dist) AS dist FROM bfs GROUP BY 1, 2)
        |SELECT v AS id, round(count(*) / CAST(sum(dist) AS DOUBLE), 6)
        |  AS closeness
        |FROM md WHERE dist > 0 GROUP BY v ORDER BY id""".stripMargin,
    // harmonic centrality: Σ 1/d over the same 8-landmark BFS, summed
    // as 1e-9 micro-longs (order-free, matches Iterative.harmonicFrom)
    "g_harmonic" ->
      """WITH RECURSIVE e AS (
        |  SELECT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2),
        |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |deg AS (SELECT src AS id, count(*) AS degree FROM sym GROUP BY 1),
        |lm AS (SELECT id FROM deg ORDER BY degree DESC, id ASC LIMIT 8),
        |bfs(landmark, v, dist) AS (
        |  SELECT id, id, 0 FROM lm
        |  UNION
        |  SELECT b.landmark, s.dst, b.dist + 1
        |  FROM bfs b JOIN sym s ON s.src = b.v WHERE b.dist < 25),
        |md AS (
        |  SELECT landmark, v, min(dist) AS dist FROM bfs GROUP BY 1, 2)
        |SELECT v AS id,
        |  round(CAST(sum(CAST(round(1000000000.0 / dist) AS BIGINT))
        |    AS BIGINT) / 1000000000.0, 6) AS harmonic
        |FROM md WHERE dist > 0 GROUP BY v ORDER BY id""".stripMargin,
    "g_avg_path_length" ->
      """WITH RECURSIVE e AS (
        |  SELECT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2),
        |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |deg AS (SELECT src AS id, count(*) AS degree FROM sym GROUP BY 1),
        |lm AS (SELECT id FROM deg ORDER BY degree DESC, id ASC LIMIT 8),
        |bfs(landmark, v, dist) AS (
        |  SELECT id, id, 0 FROM lm
        |  UNION
        |  SELECT b.landmark, s.dst, b.dist + 1
        |  FROM bfs b JOIN sym s ON s.src = b.v WHERE b.dist < 25),
        |md AS (
        |  SELECT landmark, v, min(dist) AS dist FROM bfs GROUP BY 1, 2)
        |SELECT round(avg(dist), 4) AS avg_path_length
        |FROM md WHERE dist > 0""".stripMargin,
    "g_density" -> (GraphCte +
      """SELECT round(2.0 * (SELECT count(*) FROM e)
        |  / ((SELECT count(*) FROM deg) * ((SELECT count(*) FROM deg) - 1)), 8)
        |  AS density""".stripMargin),
    "g_assortativity" -> (GraphCte +
      """SELECT round(corr(d1.degree, d2.degree), 4) + 0.0 AS assortativity
        |FROM sym JOIN deg d1 ON sym.src = d1.id
        |         JOIN deg d2 ON sym.dst = d2.id""".stripMargin),
    "g_neighbor_jaccard" -> (GraphCte +
      """, cn AS (
        |  SELECT e.src, e.dst, count(*) AS common
        |  FROM e
        |  JOIN sym s1 ON s1.src = e.src
        |  JOIN sym s2 ON s2.src = e.dst AND s2.dst = s1.dst
        |  GROUP BY e.src, e.dst)
        |SELECT e.src, e.dst, coalesce(cn.common, 0) AS common,
        |  round(coalesce(cn.common, 0)
        |    / (d1.degree + d2.degree - coalesce(cn.common, 0)), 6) AS jaccard
        |FROM e
        |LEFT JOIN cn ON e.src = cn.src AND e.dst = cn.dst
        |JOIN deg d1 ON e.src = d1.id
        |JOIN deg d2 ON e.dst = d2.id
        |ORDER BY e.src, e.dst""".stripMargin),
    "g_connected_components" -> (GraphCte + ccUnrolled(8) +
      "SELECT id, lbl AS component FROM c8 ORDER BY id"),
    // the reference's printed end-of-run metric block as ONE row —
    // composed from the same proven CTE pieces (counts/clustering/
    // transitivity from GraphCte, components from ccUnrolled, diameter
    // from the double-sweep recursive CTE)
    "g_summary" -> ("WITH RECURSIVE " + GraphCte.stripPrefix("WITH ") +
      ccUnrolled(8) +
      """, lm1 AS (SELECT id FROM deg ORDER BY degree DESC, id ASC LIMIT 1),
        |b1(v, dist) AS (
        |  SELECT id, 0 FROM lm1
        |  UNION
        |  SELECT s.dst, b.dist + 1
        |  FROM b1 b JOIN sym s ON s.src = b.v WHERE b.dist < 25),
        |b1m AS (SELECT v, min(dist) AS dist FROM b1 GROUP BY v),
        |far AS (SELECT v FROM b1m ORDER BY dist DESC, v ASC LIMIT 1),
        |b2(v, dist) AS (
        |  SELECT v, 0 FROM far
        |  UNION
        |  SELECT s.dst, b.dist + 1
        |  FROM b2 b JOIN sym s ON s.src = b.v WHERE b.dist < 25),
        |b2m AS (SELECT v, min(dist) AS dist FROM b2 GROUP BY v)
        |SELECT
        |  (SELECT count(*) FROM deg) AS n_vertices,
        |  (SELECT count(*) FROM e) AS n_edges,
        |  (SELECT round(avg(degree), 4) FROM deg) AS avg_degree,
        |  (SELECT round(avg(CASE WHEN degree >= 2
        |     THEN 2.0 * triangles / (degree * (degree - 1))
        |     ELSE 0.0 END), 6) FROM tvd) AS avg_clustering,
        |  (SELECT round(3.0 * (SELECT sum(triangles) / 3.0 FROM tvd)
        |     / (SELECT sum(degree * (degree - 1) / 2) FROM deg), 6))
        |    AS transitivity,
        |  (SELECT count(DISTINCT lbl) FROM c8) AS n_components,
        |  (SELECT max(dist) FROM b2m) AS diameter_lower_bound""".stripMargin),
    "g_component_sizes" -> (GraphCte + ccUnrolled(8) +
      """, comp AS (SELECT lbl, count(*) AS size FROM c8 GROUP BY lbl)
        |SELECT size, count(*) AS n_components FROM comp
        |GROUP BY size ORDER BY size""".stripMargin),
    "g_label_propagation" -> (GraphCte + lpaUnrolled(5) +
      """SELECT id, dense_rank() OVER (ORDER BY label) - 1 AS community
        |FROM l5 ORDER BY id""".stripMargin),
    "g_community_count" -> (GraphCte + lpaUnrolled(5) +
      "SELECT count(DISTINCT label) AS n_communities FROM l5"),
    "g_community_conductance" -> (GraphCte + lpaUnrolled(5) +
      """, lab AS (
        |  SELECT id, dense_rank() OVER (ORDER BY label) - 1 AS community
        |  FROM l5),
        |ec AS (
        |  SELECT la.community AS ca, lb.community AS cb
        |  FROM e JOIN lab la ON la.id = e.src
        |  JOIN lab lb ON lb.id = e.dst),
        |cut AS (
        |  SELECT community, CAST(count(*) AS BIGINT) AS cut_edges FROM (
        |    SELECT ca AS community FROM ec WHERE ca <> cb
        |    UNION ALL SELECT cb FROM ec WHERE ca <> cb)
        |  GROUP BY 1),
        |vol AS (
        |  SELECT l.community, CAST(count(*) AS BIGINT) AS n_vertices,
        |    CAST(sum(d.degree) AS BIGINT) AS volume
        |  FROM lab l JOIN deg d ON d.id = l.id GROUP BY 1),
        |tot AS (SELECT CAST(sum(volume) AS BIGINT) AS vt FROM vol)
        |SELECT v.community, v.n_vertices,
        |  coalesce(c.cut_edges, 0) AS cut_edges, v.volume,
        |  round(CASE WHEN least(v.volume, tot.vt - v.volume) = 0 THEN 0.0
        |    ELSE coalesce(c.cut_edges, 0)
        |      / least(v.volume, tot.vt - v.volume) END, 6) AS conductance
        |FROM vol v LEFT JOIN cut c USING (community)
        |CROSS JOIN tot ORDER BY v.community""".stripMargin),
    "g_community_assortativity" -> (GraphCte + lpaUnrolled(5) +
      """, lab AS (
        |  SELECT id, dense_rank() OVER (ORDER BY label) - 1 AS community
        |  FROM l5),
        |ec AS (
        |  SELECT la.community AS ca, lb.community AS cb
        |  FROM e JOIN lab la ON la.id = e.src
        |  JOIN lab lb ON lb.id = e.dst),
        |ia AS (
        |  SELECT CAST(coalesce(sum(CASE WHEN ca = cb THEN 2 END), 0)
        |    AS BIGINT) AS intra2, CAST(count(*) AS BIGINT) AS m
        |  FROM ec),
        |mg AS (
        |  SELECT CAST(sum(a * a) AS BIGINT) AS sum_a2 FROM (
        |    SELECT c, CAST(count(*) AS BIGINT) AS a FROM (
        |      SELECT ca AS c FROM ec UNION ALL SELECT cb FROM ec)
        |    GROUP BY c))
        |SELECT CAST(ia.m * 2 AS BIGINT) AS endpoints,
        |  ia.intra2 AS intra_endpoints, mg.sum_a2,
        |  CASE WHEN (ia.m * 2) * (ia.m * 2) - mg.sum_a2 = 0 THEN 0.0
        |    ELSE round(
        |      CAST((ia.m * 2) * ia.intra2 - mg.sum_a2 AS DOUBLE)
        |      / ((ia.m * 2) * (ia.m * 2) - mg.sum_a2), 6) + 0.0 END
        |    AS assortativity
        |FROM ia, mg""".stripMargin),
    "g_community_sample" -> (SampleCte +
      "SELECT DISTINCT community, cur AS id FROM walk ORDER BY community, id"),
    "g_sample_export_dot" -> (SampleCte +
      """, samp AS MATERIALIZED (SELECT DISTINCT cur AS id FROM walk)
        |, se AS (
        |  SELECT e.src, e.dst FROM e
        |  JOIN samp s1 ON s1.id = e.src JOIN samp s2 ON s2.id = e.dst)
        |SELECT * FROM (
        |  SELECT 0 AS section, 0 AS k1, 0 AS k2, 'graph sample {' AS line
        |  UNION ALL
        |  SELECT 1, id, 0, '  ' || id || ';' FROM samp
        |  UNION ALL
        |  SELECT 2, src, dst, '  ' || src || ' -- ' || dst || ';' FROM se
        |  UNION ALL
        |  SELECT 3, 0, 0, '}')
        |ORDER BY section, k1, k2""".stripMargin),
    "g_sample_metrics" -> (SampleCte +
      """, samp AS MATERIALIZED (SELECT DISTINCT cur AS id FROM walk)
        |, se AS MATERIALIZED (
        |  SELECT e.src, e.dst FROM e
        |  JOIN samp s1 ON s1.id = e.src JOIN samp s2 ON s2.id = e.dst)
        |, sdeg AS (
        |  SELECT v AS id, count(*) AS degree FROM (
        |    SELECT src AS v FROM se UNION ALL SELECT dst AS v FROM se)
        |  GROUP BY 1)
        |, stri AS (
        |  SELECT t.a, t.b, t.c FROM tri t
        |  JOIN samp x ON x.id = t.a JOIN samp y ON y.id = t.b
        |  JOIN samp z ON z.id = t.c)
        |, striv AS (
        |  SELECT v AS id, count(*) AS triangles FROM (
        |    SELECT a AS v FROM stri UNION ALL SELECT b AS v FROM stri
        |    UNION ALL SELECT c AS v FROM stri) GROUP BY 1)
        |, scc AS (
        |  SELECT s.id, coalesce(d.degree, 0) AS degree,
        |    coalesce(t.triangles, 0) AS triangles
        |  FROM samp s LEFT JOIN sdeg d ON d.id = s.id
        |  LEFT JOIN striv t ON t.id = s.id)
        |SELECT
        |  (SELECT count(*) FROM samp) AS sample_vertices,
        |  (SELECT count(*) FROM se) AS sample_edges,
        |  (SELECT round(CAST(sum(degree) AS DOUBLE) / count(*), 6)
        |     FROM scc) AS sample_avg_degree,
        |  (SELECT round(avg(degree), 6) FROM deg) AS orig_avg_degree,
        |  (SELECT round(avg(CASE WHEN degree >= 2
        |     THEN 2.0 * triangles / (degree * (degree - 1))
        |     ELSE 0.0 END), 6) FROM scc) AS sample_avg_clustering,
        |  (SELECT CASE WHEN sum(degree * (degree - 1) / 2.0) > 0
        |     THEN round(3.0 * (sum(triangles) / 3.0)
        |       / sum(degree * (degree - 1) / 2.0), 6)
        |     ELSE 0.0 END FROM scc) AS sample_transitivity,
        |  (SELECT round(avg(CASE WHEN degree >= 2
        |     THEN 2.0 * triangles / (degree * (degree - 1))
        |     ELSE 0.0 END), 6) FROM tvd) AS orig_avg_clustering,
        |  (SELECT round(3.0 * (SELECT sum(triangles) / 3.0 FROM tvd)
        |     / (SELECT sum(degree * (degree - 1) / 2) FROM deg), 6))
        |     AS orig_transitivity""".stripMargin),
    "g_modularity" -> (GraphCte + lpaUnrolled(5) +
      """, mm AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM e)
        |, intra AS (
        |  SELECT la.label AS c, count(*) AS e_c
        |  FROM e JOIN l5 la ON la.id = e.src JOIN l5 lb ON lb.id = e.dst
        |  WHERE la.label = lb.label GROUP BY la.label)
        |, dc AS (
        |  SELECT l.label AS c, CAST(sum(d.degree) AS DOUBLE) AS d_c
        |  FROM deg d JOIN l5 l ON l.id = d.id GROUP BY l.label)
        |SELECT round(sum(coalesce(i.e_c, 0) / (SELECT m FROM mm)
        |  - pow(dc.d_c / (2 * (SELECT m FROM mm)), 2)), 6) AS modularity
        |FROM dc LEFT JOIN intra i ON i.c = dc.c""".stripMargin),
    "g_pagerank" -> (GraphCte + prUnrolled(10, personalized = false) +
      "SELECT id, round(rank, 6) AS pagerank FROM r10 ORDER BY id"),
    "g_personalized_pagerank" -> (GraphCte +
      ", srcv AS (SELECT id FROM deg ORDER BY degree DESC, id LIMIT 1)\n" +
      prUnrolled(10, personalized = true) +
      "SELECT id, round(rank, 6) AS ppr FROM r10 ORDER BY id"),
    "g_ppr_parallel" -> (GraphCte +
      ", srcv AS (SELECT id FROM deg ORDER BY degree DESC, id LIMIT 4)\n" +
      pprParallelUnrolled(10) +
      """SELECT id, src AS source, round(rank, 6) AS ppr
        |FROM p10 ORDER BY id, source""".stripMargin),
    // DeepWalk corpus: every step choice replayed via
    // md5('42:'||walk||':'||t) over the sorted adjacency list
    "g_walk_corpus" -> (GraphCte + walkUnrolled(8, 20, 42L) +
      """SELECT walk_id, generate_subscripts(seq, 1) - 1 AS step,
        |  unnest(seq) AS vertex
        |FROM wk8 ORDER BY walk_id, step""".stripMargin),
    // node2vec corpus: every biased step choice replayed via weighted
    // cumulative ranges over the sorted adjacency (p=1/2, q=2)
    "g_node2vec_corpus" -> (GraphCte + n2vUnrolled(8, 20, 42L) +
      """SELECT walk_id, generate_subscripts(seq, 1) - 1 AS step,
        |  unnest(seq) AS vertex
        |FROM nw8 ORDER BY walk_id, step""".stripMargin),
    "g_core_number" -> (GraphCte + coreUnrolled(22) +
      """SELECT d.id, CAST(coalesce(h.c, 0) AS BIGINT) AS core
        |FROM deg d LEFT JOIN h22 h USING (id)
        |ORDER BY d.id""".stripMargin),
    "g_core_sizes" -> (GraphCte + coreUnrolled(22) +
      """SELECT CAST(coalesce(h.c, 0) AS BIGINT) AS core,
        |  count(*) AS n_vertices
        |FROM deg d LEFT JOIN h22 h USING (id)
        |GROUP BY 1 ORDER BY core""".stripMargin),
    "g_reciprocity" -> (DirectedCte +
      """SELECT
        |  (SELECT count(*) FROM de) AS n_edges,
        |  (SELECT count(*) FROM de a
        |   WHERE EXISTS (SELECT 1 FROM de b
        |     WHERE b.src = a.dst AND b.dst = a.src)) AS n_reciprocal,
        |  round((SELECT count(*) FROM de a
        |   WHERE EXISTS (SELECT 1 FROM de b
        |     WHERE b.src = a.dst AND b.dst = a.src))
        |   / CAST((SELECT count(*) FROM de) AS DOUBLE), 6) AS reciprocity
        |""".stripMargin),
    "g_ktruss" -> (GraphCte + ktrussUnrolled(8, 12) +
      """SELECT s.src, s.dst, s.support
        |FROM ts8 s JOIN te8 t ON t.src = s.src AND t.dst = s.dst
        |WHERE s.support >= 10
        |ORDER BY s.src, s.dst""".stripMargin),
    "g_kcore" -> (GraphCte + kcoreUnrolled(10, 4) +
      """SELECT id, 4 AS k FROM (
        |  SELECT src AS id FROM ke10 UNION SELECT dst AS id FROM ke10)
        |GROUP BY id ORDER BY id""".stripMargin),
    "g_eccentricity" ->
      """WITH RECURSIVE e AS (
        |  SELECT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2),
        |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |deg AS (SELECT src AS id, count(*) AS degree FROM sym GROUP BY 1),
        |lm AS (SELECT id FROM deg ORDER BY degree DESC, id ASC LIMIT 8),
        |bfs(landmark, v, dist) AS (
        |  SELECT id, id, 0 FROM lm
        |  UNION
        |  SELECT b.landmark, s.dst, b.dist + 1
        |  FROM bfs b JOIN sym s ON s.src = b.v WHERE b.dist < 25),
        |md AS (
        |  SELECT landmark, v, min(dist) AS dist FROM bfs GROUP BY 1, 2)
        |SELECT landmark, max(dist) AS eccentricity FROM md
        |GROUP BY landmark ORDER BY landmark""".stripMargin,
    "g_diameter" ->
      """WITH RECURSIVE e AS (
        |  SELECT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2),
        |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |deg AS (SELECT src AS id, count(*) AS degree FROM sym GROUP BY 1),
        |lm1 AS (SELECT id FROM deg ORDER BY degree DESC, id ASC LIMIT 1),
        |b1(v, dist) AS (
        |  SELECT id, 0 FROM lm1
        |  UNION
        |  SELECT s.dst, b.dist + 1
        |  FROM b1 b JOIN sym s ON s.src = b.v WHERE b.dist < 25),
        |b1m AS (SELECT v, min(dist) AS dist FROM b1 GROUP BY v),
        |far AS (SELECT v FROM b1m ORDER BY dist DESC, v ASC LIMIT 1),
        |b2(v, dist) AS (
        |  SELECT v, 0 FROM far
        |  UNION
        |  SELECT s.dst, b.dist + 1
        |  FROM b2 b JOIN sym s ON s.src = b.v WHERE b.dist < 25),
        |b2m AS (SELECT v, min(dist) AS dist FROM b2 GROUP BY v)
        |SELECT max(dist) AS diameter_lower_bound FROM b2m""".stripMargin,
    "d_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, 'de' AS lang, round(len(list_filter(toks, x -> x IN
        |    ('der','die','das','und','ist','nicht','ein','zu')))::DOUBLE
        |    / len(toks), 4) AS score FROM t
        |  UNION ALL
        |  SELECT doc_id, 'en', round(len(list_filter(toks, x -> x IN
        |    ('the','a','of','and','to','in','is','that')))::DOUBLE
        |    / len(toks), 4) FROM t
        |  UNION ALL
        |  SELECT doc_id, 'es', round(len(list_filter(toks, x -> x IN
        |    ('el','la','los','y','es','un','una','que')))::DOUBLE
        |    / len(toks), 4) FROM t
        |  UNION ALL
        |  SELECT doc_id, 'fr', round(len(list_filter(toks, x -> x IN
        |    ('le','la','les','et','est','un','une','dans')))::DOUBLE
        |    / len(toks), 4) FROM t),
        |b AS (
        |  SELECT doc_id, lang, score, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
        |  FROM s)
        |SELECT doc_id,
        |  CASE WHEN score >= 0.02 THEN lang ELSE 'und' END AS lang_pred,
        |  score AS lang_score
        |FROM b WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "d_exact_dedup" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    // same stopword-score pipeline as d_lang_id, joined to ground truth
    "d_lang_confusion" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, 'de' AS lang, round(len(list_filter(toks, x -> x IN
        |    ('der','die','das','und','ist','nicht','ein','zu')))::DOUBLE
        |    / len(toks), 4) AS score FROM t
        |  UNION ALL
        |  SELECT doc_id, 'en', round(len(list_filter(toks, x -> x IN
        |    ('the','a','of','and','to','in','is','that')))::DOUBLE
        |    / len(toks), 4) FROM t
        |  UNION ALL
        |  SELECT doc_id, 'es', round(len(list_filter(toks, x -> x IN
        |    ('el','la','los','y','es','un','una','que')))::DOUBLE
        |    / len(toks), 4) FROM t
        |  UNION ALL
        |  SELECT doc_id, 'fr', round(len(list_filter(toks, x -> x IN
        |    ('le','la','les','et','est','un','une','dans')))::DOUBLE
        |    / len(toks), 4) FROM t),
        |b AS (
        |  SELECT doc_id, lang AS plang, score, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
        |  FROM s),
        |p AS (
        |  SELECT doc_id,
        |    CASE WHEN score >= 0.02 THEN plang ELSE 'und' END AS lang_pred
        |  FROM b WHERE rn = 1)
        |SELECT d.lang, p.lang_pred, count(*) AS n_docs
        |FROM p JOIN documents d USING (doc_id)
        |GROUP BY d.lang, p.lang_pred
        |ORDER BY d.lang, p.lang_pred""".stripMargin,
    "d_source_quality" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    length(text)::DOUBLE AS n_chars,
        |    (length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))::DOUBLE AS n_alpha,
        |    len(string_split_regex(text, '\s+'))::DOUBLE AS n_tokens,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x IN ('the','a','of','and','to','in')))::DOUBLE AS n_stop
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    round(n_alpha / n_chars, 4) AS alpha_ratio,
        |    round((n_chars - n_tokens + 1) / n_tokens, 4) AS mean_word_len,
        |    round(least(n_tokens / 64.0, 1.0) * 0.5
        |      + (n_alpha / n_chars) * 0.3
        |      + least((n_stop / n_tokens) * 5.0, 1.0) * 0.2, 4) AS quality
        |  FROM m)
        |SELECT d.source, count(*) AS n_docs,
        |  round(avg(q.quality), 4) AS avg_quality,
        |  round(avg(q.alpha_ratio), 4) AS avg_alpha_ratio,
        |  round(avg(q.mean_word_len), 4) AS avg_word_len
        |FROM q JOIN documents d USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // portable 64-bit md5 token hashes → simhash votes, signature,
    // 16-bit chunk buckets and hamming all reproduce in SQL (UBIGINT
    // keeps bit 63 unsigned; only pairs + hamming leave the engine)
    "d_simhash_dups" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |th AS (
        |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h FROM tok),
        |votes AS MATERIALIZED (
        |  SELECT doc_id, j.j,
        |    sum(CASE WHEN (h >> j.j) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th CROSS JOIN range(64) j(j)
        |  GROUP BY doc_id, j.j),
        |sigs AS MATERIALIZED (
        |  SELECT doc_id,
        |    sum(CASE WHEN v > 0 THEN 1::UBIGINT << CAST(j AS INT)
        |        ELSE 0::UBIGINT END) AS sig
        |  FROM votes GROUP BY doc_id),
        |chunks AS MATERIALIZED (
        |  SELECT doc_id, sig, c.c AS chunk,
        |    (sig >> CAST(c.c * 16 AS INT)) & 65535::UBIGINT AS val
        |  FROM sigs CROSS JOIN range(4) c(c)),
        |scand AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
        |    bit_count(xor(x.sig, y.sig)) AS hamming
        |  FROM chunks x JOIN chunks y ON x.chunk = y.chunk AND x.val = y.val
        |  WHERE x.doc_id < y.doc_id)
        |SELECT a, b, hamming FROM scand WHERE hamming <= 3
        |ORDER BY a, b""".stripMargin,
    // portable hyperplane LSH (plane signs from md5 nibbles) → the
    // signature bits, band buckets, candidate set and double-precision
    // cosine all reproduce in SQL
    "d_embedding_neardup" ->
      ("WITH " + EmbNearDupBody +
      """
        |SELECT p.a, p.b, round(p.dot / (na.nrm * nb.nrm), 6) AS cos
        |FROM pairdot p
        |JOIN norms na ON na.vec_id = p.a
        |JOIN norms nb ON nb.vec_id = p.b
        |WHERE p.dot / (na.nrm * nb.nrm) >= 0.35
        |ORDER BY a, b""".stripMargin),
    // text-LSH vs embedding-LSH agreement: both shared pipelines, one
    // full join on the canonical pair key, scale-0 micro-quotient ratio
    "d_dup_modality_agreement" -> (MinhashCte + ", " + EmbNearDupBody +
      """, eids AS (SELECT DISTINCT vec_id FROM embeddings),
        |tp AS (
        |  SELECT a, b FROM est
        |  WHERE est >= 0.8 AND a IN (SELECT vec_id FROM eids)
        |    AND b IN (SELECT vec_id FROM eids)),
        |ep AS (
        |  SELECT p.a, p.b FROM pairdot p
        |  JOIN norms na ON na.vec_id = p.a
        |  JOIN norms nb ON nb.vec_id = p.b
        |  WHERE p.dot / (na.nrm * nb.nrm) >= 0.35),
        |u AS (
        |  SELECT CASE WHEN t.a IS NOT NULL THEN 1 ELSE 0 END AS t,
        |         CASE WHEN e.a IS NOT NULL THEN 1 ELSE 0 END AS e
        |  FROM tp t FULL JOIN ep e ON e.a = t.a AND e.b = t.b),
        |agr AS (
        |  SELECT CAST(sum(CASE WHEN t = 1 AND e = 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_text_only,
        |         CAST(sum(CASE WHEN t = 0 AND e = 1 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_emb_only,
        |         CAST(sum(CASE WHEN t = 1 AND e = 1 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_both
        |  FROM u)
        |SELECT n_text_only, n_emb_only, n_both,
        |  round(10000.0 * n_both / (n_text_only + n_emb_only + n_both))
        |    / 10000.0 AS agreement_jaccard
        |FROM agr""".stripMargin),
    // stricter levels are pure filters of the shared est table —
    // banding fixed, the retention curve replays level by level
    "d_threshold_sweep" -> (MinhashCte + dedupSweepCtes(80, 16) +
      dedupSweepCtes(90, 16) + dedupSweepCtes(95, 16) +
      """SELECT * FROM t80r UNION ALL SELECT * FROM t90r
        |UNION ALL SELECT * FROM t95r ORDER BY threshold_pct""".stripMargin),
    "d_minhash_lsh_dups" -> (MinhashCte +
      """SELECT a, b, round(est, 4) AS est_jaccard FROM est
        |WHERE est >= 0.9 ORDER BY a, b""".stripMargin),
    // S-curve terms are non-rational powers (micro-quantized, exact
    // long sums; k=0/128 endpoints are exactly 0/1 - no .5 micro tie);
    // the caught-rate is a scale-0 micro-quotient round
    "d_lsh_plan" -> (MinhashCte +
      """, hist AS (
        |  SELECT CAST(round(est * 128) AS INT) AS k, count(*) AS cnt
        |  FROM est WHERE est >= 0.8 GROUP BY 1),
        |cfg AS (
        |  SELECT * FROM (VALUES (4, 32), (8, 16), (16, 8), (32, 4),
        |    (64, 2)) AS t(bands, rows_per_band)),
        |caught AS (
        |  SELECT bands, rows_per_band,
        |    CAST(sum(CAST(round((1.0 - pow(1.0 - pow(k / 128.0,
        |      rows_per_band), bands)) * cnt * 1000000.0) AS BIGINT))
        |      AS BIGINT) AS cp,
        |    CAST(sum(cnt) AS BIGINT) AS n
        |  FROM cfg, hist GROUP BY 1, 2),
        |fp AS (
        |  SELECT bands, rows_per_band,
        |    CAST(sum(CAST(round((1.0 - pow(1.0 - pow(k / 128.0,
        |      rows_per_band), bands)) / 128.0 * 1000000.0) AS BIGINT))
        |      AS BIGINT) AS fpm
        |  FROM cfg, range(103) t(k) GROUP BY 1, 2)
        |SELECT c.bands, c.rows_per_band,
        |  round(pow(1.0 / c.bands, 1.0 / c.rows_per_band), 6)
        |    AS threshold_50,
        |  CAST(round(c.cp / (c.n * 100.0)) AS BIGINT)
        |    AS exp_caught_per_10k,
        |  f.fpm AS fp_area_ppm
        |FROM caught c JOIN fp f USING (bands, rows_per_band)
        |ORDER BY bands""".stripMargin),
    "d_ngram_jaccard" -> (MinhashCte +
      """, ds AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents),
        |ngj AS (
        |  SELECT e.a, e.b,
        |    len(list_intersect(da.toks, db.toks))::DOUBLE /
        |      (len(da.toks) + len(db.toks)
        |        - len(list_intersect(da.toks, db.toks))) AS j
        |  FROM (SELECT a, b FROM est WHERE est >= 0.8) e
        |  JOIN ds da ON da.doc_id = e.a
        |  JOIN ds db ON db.doc_id = e.b)
        |SELECT a, b, round(j, 4) AS jaccard FROM ngj
        |WHERE j >= 0.8 ORDER BY a, b""".stripMargin),
    // estimate-vs-exact calibration on the same candidate set; error
    // terms 1e-6-quantized before the order-free bucket means
    "d_minhash_est_error" -> (MinhashCte +
      """, ds AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents),
        |pj AS (
        |  SELECT round(e.est, 4) AS ej,
        |    len(list_intersect(da.toks, db.toks))::DOUBLE /
        |      (len(da.toks) + len(db.toks)
        |        - len(list_intersect(da.toks, db.toks))) AS j
        |  FROM (SELECT a, b, est FROM est WHERE est >= 0.8) e
        |  JOIN ds da ON da.doc_id = e.a
        |  JOIN ds db ON db.doc_id = e.b)
        |SELECT LEAST(CAST(floor(j * 10) AS INT), 9) AS bucket,
        |  count(*) AS n_pairs,
        |  round(sum(CAST(round(abs(ej - j) * 1000000) AS BIGINT))
        |    / (count(*) * 1.0)) / 1000000.0 AS avg_abs_err,
        |  round(sum(CAST(round(ej * 1000000) AS BIGINT))
        |    / (count(*) * 1.0)) / 1000000.0 AS avg_est,
        |  round(sum(CAST(round(j * 1000000) AS BIGINT))
        |    / (count(*) * 1.0)) / 1000000.0 AS avg_exact
        |FROM pj GROUP BY 1 ORDER BY 1""".stripMargin),
    "d_dup_clusters" -> (MinhashCte +
      PairCcCte +
      """SELECT lbl AS cluster, min(id) AS survivor, count(*) AS n_members
        |FROM pcf GROUP BY lbl HAVING count(*) > 1 ORDER BY cluster""".stripMargin),
    // quality-ranked retention: pcf CC replay + the d_quality_score
    // blend, survivor = row_number 1 by (quality DESC, id ASC)
    "d_dup_survivors" -> (MinhashCte +
      PairCcCte +
      """, qmm AS (
        |  SELECT doc_id,
        |    length(text)::DOUBLE AS n_chars,
        |    (length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))::DOUBLE AS n_alpha,
        |    len(string_split_regex(text, '\s+'))::DOUBLE AS n_tokens,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x IN ('the','a','of','and','to','in')))::DOUBLE AS n_stop
        |  FROM documents),
        |qm AS (
        |  SELECT doc_id,
        |    round(least(n_tokens / 64.0, 1.0) * 0.5
        |      + (n_alpha / n_chars) * 0.3
        |      + least((n_stop / n_tokens) * 5.0, 1.0) * 0.2, 4) AS quality
        |  FROM qmm),
        |cl AS (SELECT lbl, count(*) AS n_members FROM pcf
        |       GROUP BY lbl HAVING count(*) > 1),
        |ranked AS (
        |  SELECT p.lbl AS cluster, p.id, q.quality,
        |    row_number() OVER (PARTITION BY p.lbl
        |      ORDER BY q.quality DESC, p.id ASC) AS rk
        |  FROM pcf p JOIN qm q ON q.doc_id = p.id)
        |SELECT r.cluster, r.id AS survivor, r.quality AS survivor_quality,
        |  c.n_members
        |FROM ranked r JOIN cl c ON c.lbl = r.cluster
        |WHERE r.rk = 1 ORDER BY r.cluster""".stripMargin),
    "d_dup_cluster_sizes" -> (MinhashCte +
      PairCcCte +
      """, sz AS (SELECT lbl, count(*) AS m FROM pcf
        |         GROUP BY lbl HAVING count(*) > 1)
        |SELECT m AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
        |FROM sz GROUP BY m ORDER BY m""".stripMargin),
    // exact-dup fraction inside each LSH cluster: the dedup-quality
    // split between hash-catchable copies and true near-dups
    "d_dup_cluster_purity" -> (MinhashCte +
      PairCcCte +
      """, wt AS (
        |  SELECT p.lbl AS cluster, md5(d.text) AS h
        |  FROM pcf p JOIN documents d ON d.doc_id = p.id),
        |g AS (SELECT cluster, h, count(*) AS c FROM wt GROUP BY 1, 2),
        |per AS (
        |  SELECT cluster, CAST(sum(c) AS BIGINT) AS n_members,
        |    CAST(count(*) AS BIGINT) AS n_distinct_texts,
        |    CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT)
        |      AS n_exact_dup_members
        |  FROM g GROUP BY 1)
        |SELECT cluster, n_members, n_distinct_texts, n_exact_dup_members,
        |  CAST(round(n_exact_dup_members * 10000.0 / n_members) AS BIGINT)
        |    AS dup_per_10k
        |FROM per WHERE n_members > 1 ORDER BY cluster""".stripMargin),
    // the per-doc curation decision composes the already-oracled
    // building blocks: minhash CC labels + exact window-min + quality +
    // langid — same CTEs, one decision row per document
    "d_curation_pipeline" -> (CurationCte +
      """SELECT e.doc_id, e.exact_dup, coalesce(n.near_dup, 0) AS near_dup,
        |  q.quality, l.lang_pred,
        |  CASE WHEN e.exact_dup = 0 AND coalesce(n.near_dup, 0) = 0
        |    AND q.quality >= 0.6 AND l.lang_pred <> 'und'
        |    THEN 1 ELSE 0 END AS keep
        |FROM exactf e
        |JOIN qf q USING (doc_id)
        |JOIN lf l USING (doc_id)
        |LEFT JOIN nearf n USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    // corpus-level curation yield: the same decision table aggregated
    // per predicted language — what a pipeline dashboard reports
    "d_curation_report" -> (CurationCte +
      """, dec AS (
        |  SELECT e.doc_id, e.exact_dup, coalesce(n.near_dup, 0) AS near_dup,
        |    q.quality, l.lang_pred,
        |    CASE WHEN e.exact_dup = 0 AND coalesce(n.near_dup, 0) = 0
        |      AND q.quality >= 0.6 AND l.lang_pred <> 'und'
        |      THEN 1 ELSE 0 END AS keep
        |  FROM exactf e
        |  JOIN qf q USING (doc_id)
        |  JOIN lf l USING (doc_id)
        |  LEFT JOIN nearf n USING (doc_id))
        |SELECT lang_pred, count(*) AS n_docs,
        |  CAST(sum(exact_dup) AS BIGINT) AS n_exact_dup,
        |  CAST(sum(near_dup) AS BIGINT) AS n_near_dup,
        |  CAST(sum(keep) AS BIGINT) AS n_keep,
        |  round(avg(quality), 4) AS avg_quality
        |FROM dec GROUP BY lang_pred ORDER BY lang_pred""".stripMargin),
    // α=0.5 temperature reweighting: sqrt is an exact IEEE op in both
    // engines; weight/keep_rate rounded 6 dp; same md5 bucket sampler
    // as d_stratified_sample
    "d_temperature_mix" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |t AS (
        |  SELECT CAST(sum(sqrt(n_docs)) AS DOUBLE) AS z,
        |    CAST(sum(n_docs) AS BIGINT) AS n_total FROM c),
        |r AS (
        |  SELECT source, n_docs,
        |    round(sqrt(n_docs) / (SELECT z FROM t), 6) AS weight,
        |    least(1.0, round(0.5 * (SELECT n_total FROM t)
        |      * round(sqrt(n_docs) / (SELECT z FROM t), 6) / n_docs, 6))
        |      AS keep_rate
        |  FROM c),
        |k AS (
        |  SELECT d.source, count(*) AS n_kept
        |  FROM documents d JOIN r USING (source)
        |  WHERE CAST(('0x' || substr(md5('mixt:' || CAST(doc_id AS VARCHAR)),
        |      1, 7))::BIGINT % 10000 AS INT) < keep_rate * 10000
        |  GROUP BY d.source)
        |SELECT r.source, r.n_docs, r.weight, r.keep_rate,
        |  coalesce(k.n_kept, 0) AS n_kept
        |FROM r LEFT JOIN k USING (source)
        |ORDER BY r.source""".stripMargin,
    "d_stratified_sample" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)),
        |      1, 7))::BIGINT % 100 AS INT) AS bucket
        |  FROM documents)
        |SELECT doc_id, lang, bucket FROM b
        |WHERE bucket < CASE lang WHEN 'en' THEN 40 WHEN 'zh' THEN 60
        |  ELSE 100 END
        |ORDER BY doc_id""".stripMargin,
    // Gopher repetition rules: dup-token / top-2gram / dup-2gram ratios
    "d_repetition" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i + 1])) AS gram
        |  FROM tk),
        |pg AS (SELECT doc_id, gram, count(*) AS cnt
        |       FROM g GROUP BY doc_id, gram),
        |pd AS (
        |  SELECT doc_id, sum(cnt) AS n2, max(cnt) AS topc,
        |    sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dupc
        |  FROM pg GROUP BY doc_id)
        |SELECT t.doc_id,
        |  round(1.0 - len(list_distinct(toks)) / len(toks), 4)
        |    AS dup_token_ratio,
        |  CASE WHEN coalesce(p.n2, 0) > 0
        |    THEN round(p.topc / p.n2, 4) ELSE 0.0 END AS top_2gram_ratio,
        |  CASE WHEN coalesce(p.n2, 0) > 0
        |    THEN round(p.dupc / p.n2, 4) ELSE 0.0 END AS dup_2gram_ratio
        |FROM tk t LEFT JOIN pd p USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // unigram-LM mean log-likelihood (the model-free perplexity proxy)
    // Gopher filter rules: word count, mean word length, stopword hits
    "d_gopher_rules" ->
      """WITH t AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |    string_split_regex(text, '\s+') AS w
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    len(w) AS n_words,
        |    (n_chars - len(w) + 1.0) / len(w) AS mean_len,
        |    len(list_filter(w, x -> list_contains(
        |      ['the', 'a', 'of', 'and', 'to', 'in', 'is', 'that'], x)))
        |      AS stop_hits
        |  FROM t)
        |SELECT doc_id, n_words,
        |  round(mean_len, 4) AS mean_word_len, stop_hits,
        |  CAST(n_words >= 50 AND n_words <= 100000 AS INTEGER)
        |    AS r_word_count,
        |  CAST(mean_len >= 3.0 AND mean_len <= 10.0 AS INTEGER)
        |    AS r_mean_len,
        |  CAST(stop_hits >= 2 AS INTEGER) AS r_stopwords,
        |  CAST(n_words >= 50 AND n_words <= 100000
        |    AND mean_len >= 3.0 AND mean_len <= 10.0
        |    AND stop_hits >= 2 AS INTEGER) AS keep
        |FROM s ORDER BY doc_id""".stripMargin,
    // DSIR importance weights: unigram+bigram features md5-hashed into
    // 4096 buckets; target = lang='en', raw = all; add-1 smoothing
    "d_dsir_weights" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    unnest(string_split_regex(text, '\s+')) AS feat,
        |    generate_subscripts(string_split_regex(text, '\s+'), 1) AS pos
        |  FROM documents),
        |bg AS MATERIALIZED (
        |  SELECT doc_id, lang, feat AS w1,
        |    lead(feat) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM t),
        |f AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5('dsir:' || feat), 1, 7))::BIGINT % 4096
        |      AS INTEGER) AS bucket
        |  FROM (SELECT doc_id, lang, feat FROM t
        |        UNION ALL
        |        SELECT doc_id, lang, w1 || ' ' || w2 AS feat
        |        FROM bg WHERE w2 IS NOT NULL)),
        |raw AS (SELECT bucket, count(*) AS cr FROM f GROUP BY bucket),
        |tgt AS (SELECT bucket, count(*) AS ct FROM f
        |        WHERE lang = 'en' GROUP BY bucket),
        |tot AS (SELECT
        |  (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS nr,
        |  (SELECT CAST(sum(ct) AS BIGINT) FROM tgt) AS nt)
        |SELECT doc_id, count(*) AS n_feats,
        |  round(avg(ln(((coalesce(ct, 0) + 1.0) * (nr + 4096))
        |    / ((cr + 1.0) * (nt + 4096)))), 4) AS dsir_logw
        |FROM f JOIN raw USING (bucket) LEFT JOIN tgt USING (bucket)
        |CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // CCNet buckets: per-language terciles of the bigram-LM score
    // (same LM CTEs as d_bigram_logprob), head = highest likelihood
    "d_ccnet_buckets" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token,
        |         generate_subscripts(string_split_regex(text, '\s+'), 1) AS pos
        |  FROM documents),
        |v AS (SELECT token, count(*) AS cnt FROM t GROUP BY token),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM v),
        |bg AS MATERIALIZED (
        |  SELECT doc_id, token AS w1,
        |    lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM t),
        |bgx AS (SELECT doc_id, w1, w2 FROM bg WHERE w2 IS NOT NULL),
        |c2 AS (SELECT w1, w2, count(*) AS cnt2 FROM bgx GROUP BY w1, w2),
        |sc AS (
        |  SELECT doc_id,
        |    round(avg(ln(0.75 * c2.cnt2 / v1.cnt
        |      + 0.25 * v2.cnt / (SELECT total FROM tot))), 4) AS avg_logprob
        |  FROM bgx
        |  JOIN c2 USING (w1, w2)
        |  JOIN v v1 ON v1.token = bgx.w1
        |  JOIN v v2 ON v2.token = bgx.w2
        |  GROUP BY doc_id),
        |scored AS MATERIALIZED (
        |  SELECT d.doc_id, d.lang,
        |    coalesce(sc.avg_logprob, 0.0) AS avg_logprob
        |  FROM documents d LEFT JOIN sc USING (doc_id)),
        |cuts AS (
        |  SELECT lang,
        |    round(percentile_cont(2.0/3.0)
        |      WITHIN GROUP (ORDER BY avg_logprob), 4) AS t_head,
        |    round(percentile_cont(1.0/3.0)
        |      WITHIN GROUP (ORDER BY avg_logprob), 4) AS t_mid
        |  FROM scored GROUP BY lang)
        |SELECT doc_id, lang, avg_logprob,
        |  CASE WHEN avg_logprob >= t_head THEN 'head'
        |       WHEN avg_logprob >= t_mid THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM scored JOIN cuts USING (lang)
        |ORDER BY doc_id""".stripMargin,
    "d_unigram_logprob" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token
        |  FROM documents),
        |v AS (SELECT token, count(*) AS cnt FROM t GROUP BY token),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM v)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(avg(ln(v.cnt / (SELECT total FROM tot))), 4) AS avg_logprob
        |FROM t JOIN v USING (token)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // interpolated bigram LM: p = 0.75·c2/c1(prev) + 0.25·c1(cur)/N
    "d_bigram_logprob" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token,
        |         generate_subscripts(string_split_regex(text, '\s+'), 1) AS pos
        |  FROM documents),
        |v AS (SELECT token, count(*) AS cnt FROM t GROUP BY token),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM v),
        |bg AS MATERIALIZED (
        |  SELECT doc_id, token AS w1,
        |    lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM t),
        |bgx AS (SELECT doc_id, w1, w2 FROM bg WHERE w2 IS NOT NULL),
        |c2 AS (SELECT w1, w2, count(*) AS cnt2 FROM bgx GROUP BY w1, w2),
        |sc AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    round(avg(ln(0.75 * c2.cnt2 / v1.cnt
        |      + 0.25 * v2.cnt / (SELECT total FROM tot))), 4) AS avg_logprob
        |  FROM bgx
        |  JOIN c2 USING (w1, w2)
        |  JOIN v v1 ON v1.token = bgx.w1
        |  JOIN v v2 ON v2.token = bgx.w2
        |  GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
        |  coalesce(sc.avg_logprob, 0.0) AS avg_logprob
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // eval set = every 50th doc; train-doc windows probed against it
    "d_contamination" ->
      """WITH tokp AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |wnd AS MATERIALIZED (
        |  SELECT doc_id, md5(concat_ws(' ', t0, t1, t2, t3, t4, t5, t6, t7)) AS wh
        |  FROM (
        |    SELECT doc_id, tok AS t0,
        |      lead(tok, 1) OVER w AS t1, lead(tok, 2) OVER w AS t2,
        |      lead(tok, 3) OVER w AS t3, lead(tok, 4) OVER w AS t4,
        |      lead(tok, 5) OVER w AS t5, lead(tok, 6) OVER w AS t6,
        |      lead(tok, 7) OVER w AS t7
        |    FROM tokp WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
        |  WHERE t7 IS NOT NULL),
        |evw AS (SELECT DISTINCT wh FROM wnd WHERE doc_id % 50 = 0),
        |pd AS (
        |  SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |    CAST(sum(CASE WHEN e.wh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_contaminated
        |  FROM wnd w LEFT JOIN evw e USING (wh)
        |  WHERE w.doc_id % 50 <> 0
        |  GROUP BY w.doc_id)
        |SELECT doc.doc_id,
        |  coalesce(p.n_windows, 0) AS n_windows,
        |  coalesce(p.n_contaminated, 0) AS n_contaminated,
        |  CASE WHEN coalesce(p.n_windows, 0) > 0
        |    THEN round(p.n_contaminated / p.n_windows, 4)
        |    ELSE 0.0 END AS contamination_ratio
        |FROM documents doc LEFT JOIN pd p USING (doc_id)
        |WHERE doc.doc_id % 50 <> 0
        |ORDER BY doc_id""".stripMargin,
    // greedy concat-and-chunk packing: per-shard running token offsets
    "d_seq_packing" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)),
        |      1, 7))::BIGINT % 32 AS INT) AS shard,
        |    len(string_split_regex(text, '\s+')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens AS start_tok
        |  FROM b)
        |SELECT doc_id, shard, n_tokens,
        |  CAST(floor(start_tok / 2048.0) AS BIGINT) AS seq_id,
        |  CAST(start_tok % 2048 AS BIGINT) AS seq_offset
        |FROM c ORDER BY doc_id""".stripMargin,
    "d_epoch_plan" ->
      """WITH toks AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY 1),
        |z AS (SELECT sum(sqrt(n_docs)) AS z FROM toks),
        |w AS (
        |  SELECT source, n_docs, n_tokens,
        |    round(sqrt(n_docs) / z.z, 6) AS weight
        |  FROM toks, z),
        |t AS (
        |  SELECT source, n_docs, n_tokens, weight,
        |    CAST(round(weight * 1000000) AS BIGINT) AS target_tokens
        |  FROM w)
        |SELECT source, n_docs, n_tokens, weight, target_tokens,
        |  round(target_tokens / CAST(n_tokens AS DOUBLE), 4) AS epochs,
        |  target_tokens > n_tokens * 4 AS oversampled
        |FROM t ORDER BY source""".stripMargin,
    "d_pack_efficiency" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)),
        |      1, 7))::BIGINT % 32 AS INT) AS shard,
        |    len(string_split_regex(text, '\s+')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens AS start_tok
        |  FROM b),
        |p AS (
        |  SELECT shard, n_tokens, CAST(start_tok % 2048 AS BIGINT)
        |    AS seq_offset
        |  FROM c)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST((sum(n_tokens) + 2047) // 2048 AS BIGINT) AS n_seqs,
        |  CAST(sum(CASE WHEN seq_offset + n_tokens > 2048
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling,
        |  round(sum(n_tokens) /
        |    CAST(((sum(n_tokens) + 2047) // 2048) * 2048 AS DOUBLE), 6)
        |    AS utilization
        |FROM p GROUP BY shard ORDER BY shard""".stripMargin,
    // chunk layout is closed-form from token counts; md5 content keys
    // make the chunk table itself hash-comparable across engines
    "d_doc_chunking" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS t
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, t, unnest(range(1, len(t) + 1, 24)) AS start
        |  FROM toks)
        |SELECT doc_id,
        |  CAST((start - 1) // 24 AS INT) AS chunk_idx,
        |  CAST(start AS INT) AS start_tok,
        |  CAST(least(32, len(t) - start + 1) AS INT) AS n_tokens,
        |  md5(array_to_string(list_slice(t, start, start + 31), ' '))
        |    AS chunk_md5
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,
    // same chunk layout; the report is counts + a scale-0-rounded
    // exact 1e-4 duplicated fraction
    "d_chunk_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, source, string_split_regex(text, '\s+') AS t
        |  FROM documents),
        |st AS (
        |  SELECT source, t, unnest(range(1, len(t) + 1, 24)) AS start
        |  FROM toks),
        |ch AS (
        |  SELECT source,
        |    md5(array_to_string(list_slice(t, start, start + 31), ' ')) AS h
        |  FROM st)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(count(DISTINCT h) AS BIGINT) AS n_unique_chunks,
        |  CAST(round((count(*) - count(DISTINCT h)) * 10000.0 / count(*))
        |    AS BIGINT) AS dup_per_10k
        |FROM ch GROUP BY source ORDER BY source""".stripMargin,
    // "line" = non-overlapping 3-token segment (corpus has no
    // newlines); boilerplate = segment text in >= 3 distinct docs;
    // kept_md5 value-checks the rebuilt text, not just the counts
    "d_line_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS t
        |  FROM documents),
        |segs AS (
        |  SELECT doc_id, CAST((start - 1) / 3 AS BIGINT) AS seg,
        |    array_to_string(list_slice(t, start, start + 2), ' ')
        |      AS segtext,
        |    least(3, len(t) - start + 1) AS seglen, len(t) AS n_tokens
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1, 3))
        |          AS start FROM toks)),
        |boiler AS (
        |  SELECT segtext FROM segs WHERE seglen = 3
        |  GROUP BY segtext HAVING count(DISTINCT doc_id) >= 3),
        |flag AS (
        |  SELECT s.doc_id, s.seg, s.segtext, s.seglen, s.n_tokens,
        |    (b.segtext IS NOT NULL AND s.seglen = 3) AS is_boiler
        |  FROM segs s LEFT JOIN boiler b ON s.segtext = b.segtext)
        |SELECT doc_id, CAST(max(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(count(*) FILTER (WHERE seglen = 3) AS BIGINT)
        |    AS n_segments,
        |  CAST(count(*) FILTER (WHERE is_boiler) AS BIGINT)
        |    AS n_boiler_segments,
        |  CAST(coalesce(sum(seglen) FILTER (WHERE NOT is_boiler), 0)
        |    AS BIGINT) AS tokens_kept,
        |  md5(coalesce(string_agg(segtext, ' ' ORDER BY seg)
        |    FILTER (WHERE NOT is_boiler), '')) AS kept_md5
        |FROM flag GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // common-token JS terms are non-rational (rational only when
    // p1 = p2, where they are exactly 0) -> 1e-6 micro quantization is
    // tie-safe; the rational EXCLUSIVE mass rounds at scale 0 in micro
    // units. Expression trees mirror the Spark side node for node.
    "d_source_divergence" ->
      """WITH tf AS (
        |  SELECT source, unnest(string_split_regex(text, '\s+')) AS token
        |  FROM documents),
        |tfc AS (
        |  SELECT source, token, CAST(count(*) AS BIGINT) AS c
        |  FROM tf WHERE token <> '' GROUP BY 1, 2),
        |tot AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS vocab
        |  FROM tfc GROUP BY 1),
        |pairs AS (
        |  SELECT a.source AS source_a, a.t AS ta, a.vocab AS vocab_a,
        |    b.source AS source_b, b.t AS tb, b.vocab AS vocab_b
        |  FROM tot a, tot b WHERE a.source < b.source),
        |j AS (
        |  SELECT p.source_a, p.source_b, x.c AS c1, y.c AS c2,
        |    CAST(round((
        |      x.c / CAST(p.ta AS DOUBLE)
        |        * log2(x.c / CAST(p.ta AS DOUBLE) * 2.0
        |          / (x.c / CAST(p.ta AS DOUBLE)
        |             + y.c / CAST(p.tb AS DOUBLE)))
        |      + y.c / CAST(p.tb AS DOUBLE)
        |        * log2(y.c / CAST(p.tb AS DOUBLE) * 2.0
        |          / (x.c / CAST(p.ta AS DOUBLE)
        |             + y.c / CAST(p.tb AS DOUBLE)))
        |    ) * 0.5 * 1000000.0) AS BIGINT) AS u
        |  FROM tfc x
        |  JOIN tfc y ON x.token = y.token AND x.source < y.source
        |  JOIN pairs p ON p.source_a = x.source AND p.source_b = y.source),
        |common AS (
        |  SELECT source_a, source_b, CAST(count(*) AS BIGINT)
        |      AS vocab_common,
        |    CAST(sum(c1) AS BIGINT) AS ca, CAST(sum(c2) AS BIGINT) AS cb,
        |    CAST(sum(u) AS BIGINT) AS uc
        |  FROM j GROUP BY 1, 2)
        |SELECT p.source_a, p.source_b, p.vocab_a, p.vocab_b,
        |  CAST(coalesce(c.vocab_common, 0) AS BIGINT) AS vocab_common,
        |  round((
        |    CAST(round((p.ta - coalesce(c.ca, 0)) * 500000.0 / p.ta)
        |      AS BIGINT)
        |    + CAST(round((p.tb - coalesce(c.cb, 0)) * 500000.0 / p.tb)
        |      AS BIGINT)
        |    + coalesce(c.uc, 0)) / 1000000.0, 6) AS js_bits
        |FROM pairs p LEFT JOIN common c USING (source_a, source_b)
        |ORDER BY source_a, source_b""".stripMargin,
    // the md5 IS the randomness: the KMV estimate replays bit-for-bit
    // ((k-1)*2^60 is exactly representable; final round at scale 0)
    "q_kmv_distinct" ->
      """WITH hs AS (
        |  SELECT DISTINCT
        |    ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)),
        |      1, 15))::BIGINT AS h
        |  FROM events),
        |bk AS (
        |  SELECT max(h) AS hk, count(*) AS kk
        |  FROM (SELECT h FROM hs ORDER BY h LIMIT 64)),
        |ex AS (
        |  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        |  FROM events),
        |es AS (
        |  SELECT CAST(64 AS INT) AS k, bk.hk AS kth_min_hash,
        |    CAST(CASE WHEN bk.kk < 64 THEN bk.kk
        |      ELSE round(63.0 * 1152921504606846976.0 / bk.hk) END
        |      AS BIGINT) AS est_distinct,
        |    ex.exact_distinct
        |  FROM bk, ex)
        |SELECT k, kth_min_hash, est_distinct, exact_distinct,
        |  CAST(round(abs(est_distinct - exact_distinct) * 10000.0
        |    / exact_distinct) AS BIGINT) AS err_per_10k
        |FROM es""".stripMargin,
    // md5 k-gram hashes are engine-portable, so the whole winnowing
    // pipeline (3-token grams, min per 4-window, distinct) is oracled
    "d_fingerprint" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok,
        |    generate_subscripts(string_split_regex(text, '\s+'), 1) AS pos
        |  FROM documents),
        |kg AS (
        |  SELECT doc_id, pos, md5(concat_ws(' ', tok,
        |    lead(tok, 1) OVER w, lead(tok, 2) OVER w)) AS kh,
        |    lead(tok, 2) OVER w AS t2
        |  FROM toks
        |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |wn AS (
        |  SELECT doc_id, min(kh) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |  FROM kg WHERE t2 IS NOT NULL)
        |SELECT DISTINCT doc_id, fp FROM wn ORDER BY doc_id, fp""".stripMargin,
    // stride-subsample resize stub: every 4th byte of the payload,
    // oracle-comparable through the text view (ascii corpus)
    "m_byte_resize" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |    WHEN 1 THEN 'audio' ELSE 'video' END AS format,
        |  octet_length(CAST(text AS BLOB)) AS n_bytes,
        |  length(rz) AS n_resized,
        |  md5(rz) AS resized_md5
        |FROM (
        |  SELECT doc_id, text, array_to_string(
        |    list_transform(range(1, length(text) + 1, 4),
        |      i -> substr(text, i, 1)), '') AS rz
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // payload = utf-8 text bytes, so the binary frame slices are
    // oracle-comparable through their text view
    "m_frame_sample" ->
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |    ELSE 'video' END AS format,
        |  CAST(start / 128 AS INT) AS frame_idx,
        |  CAST(least(64, length(text) - start) AS INT) AS n_bytes,
        |  substring(text, CAST(start AS INT) + 1, 64) AS frame_text
        |FROM (
        |  SELECT doc_id, text,
        |    unnest(range(0, greatest(length(text) - 64, 0) + 1, 128)) AS start
        |  FROM documents)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // aHash bits are pure integer cross-multiplies (s_b·L > S·c_b) over
    // the ASCII byte view — no floats, bit-exact in any engine
    "m_avg_hash" -> (AvgHashCtes +
      """SELECT doc_id, ahash,
        |  count(*) OVER (PARTITION BY ahash) AS bucket_size
        |FROM h ORDER BY doc_id""".stripMargin),
    // band-bucketed perceptual near-dup shortlist: 8×8-bit bands
    // guarantee a candidate for every pair with hamming <= 7; DuckDB's
    // hamming() ranks the candidates
    "m_media_neardup" -> (AvgHashCtes +
      """, bd AS (
        |  SELECT doc_id, ahash, CAST(r.b AS INT) AS band,
        |    substr(ahash, CAST(r.b AS INT) * 8 + 1, 8) AS key
        |  FROM h CROSS JOIN range(8) r(b)),
        |cand AS (
        |  SELECT DISTINCT la.doc_id AS a, lb.doc_id AS b,
        |    la.ahash AS ha, lb.ahash AS hb
        |  FROM bd la JOIN bd lb
        |    ON la.band = lb.band AND la.key = lb.key
        |    AND la.doc_id < lb.doc_id)
        |SELECT CAST(row_number() OVER (
        |    ORDER BY hamming(ha, hb), a, b) AS INT) AS rank,
        |  a, b, CAST(hamming(ha, hb) AS BIGINT) AS hdist
        |FROM cand ORDER BY rank LIMIT 10""".stripMargin),
    "q6_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    // the correlated form — DuckDB decorrelates it into the same
    // aggregate+join plan the Spark side declares explicitly
    "q17_small_qty_revenue" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem l1
        |WHERE l_quantity < (
        |  SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        |  WHERE l2.l_partkey = l1.l_partkey)""".stripMargin,
    // CAST: DuckDB sum(BIGINT) widens to HUGEINT, which the driver's
    // hasher renders differently from Spark's long — cast back to BIGINT
    "g_weighted_clustering" -> (GraphCte +
      """, we AS (
        |  SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS weight
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |tc AS (
        |  SELECT t.a AS id, t.a AS sx, t.b AS sy FROM tri t
        |  UNION ALL SELECT t.b, t.a, t.b FROM tri t
        |  UNION ALL SELECT t.a, t.a, t.c FROM tri t
        |  UNION ALL SELECT t.c, t.a, t.c FROM tri t
        |  UNION ALL SELECT t.b, t.b, t.c FROM tri t
        |  UNION ALL SELECT t.c, t.b, t.c FROM tri t),
        |tw AS (
        |  SELECT tc.id, CAST(sum(w.weight) AS BIGINT) AS tri_w2
        |  FROM tc JOIN we w ON w.src = tc.sx AND w.dst = tc.sy
        |  GROUP BY 1),
        |st AS (
        |  SELECT id, CAST(sum(weight) AS BIGINT) AS strength FROM (
        |    SELECT src AS id, weight FROM we
        |    UNION ALL SELECT dst, weight FROM we)
        |  GROUP BY 1)
        |SELECT d.id, d.degree, st.strength,
        |  CASE WHEN d.degree >= 2 THEN
        |    round((coalesce(tw.tri_w2, 0) / 2.0)
        |      / (st.strength * (d.degree - 1)), 6)
        |  ELSE 0.0 END AS weighted_clustering
        |FROM deg d JOIN st ON st.id = d.id
        |LEFT JOIN tw ON tw.id = d.id
        |ORDER BY d.id""".stripMargin),
    "g_weighted_degree" ->
      """WITH we AS (
        |  SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS weight
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2)
        |SELECT id, CAST(sum(weight) AS BIGINT) AS strength FROM (
        |  SELECT src AS id, weight FROM we
        |  UNION ALL SELECT dst AS id, weight FROM we)
        |GROUP BY id ORDER BY id""".stripMargin,
    // weighted PageRank: transition mass ∝ edge weight / strength(u);
    // same fixed-iteration update as g_pagerank otherwise
    "g_pagerank_weighted" -> ("""WITH we AS (
        |  SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS weight
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |wsym AS MATERIALIZED (
        |  SELECT src, dst, weight FROM we
        |  UNION ALL SELECT dst, src, weight FROM we),
        |ws AS MATERIALIZED (
        |  SELECT src AS id, CAST(sum(weight) AS DOUBLE) AS strength
        |  FROM wsym GROUP BY src)
        |""".stripMargin + wprUnrolled(10) +
      "SELECT id, round(rank, 6) AS wpagerank FROM w10 ORDER BY id"),
    // rank-offset speculative coloring: converges in <=6 rounds at
    // every test SF (measured); 12 unrolled rounds leave margin, the
    // post-fixpoint rounds are empty-set no-ops on both engines
    "g_coloring" -> (GraphCte + coloringUnrolled(12)),
    // local bridges: edges whose endpoints share no common neighbor
    "g_local_bridges" -> (GraphCte +
      """, ec AS (
        |  SELECT e.src, e.dst,
        |    (SELECT count(*) FROM sym s1 JOIN sym s2 ON s1.dst = s2.dst
        |     WHERE s1.src = e.src AND s2.src = e.dst) AS common_cnt
        |  FROM e)
        |SELECT ec.src, ec.dst, ec.common_cnt,
        |  CASE WHEN ec.common_cnt = 0 THEN 1 ELSE 0 END AS is_bridge,
        |  d1.degree AS du, d2.degree AS dv
        |FROM ec
        |JOIN deg d1 ON d1.id = ec.src
        |JOIN deg d2 ON d2.id = ec.dst
        |ORDER BY ec.common_cnt ASC, ec.src ASC, ec.dst ASC
        |LIMIT 20""".stripMargin),
    "q_cohort_retention" ->
      """WITH ev AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS ad
        |  FROM events),
        |f AS (SELECT user_id, min(ad) AS cohort FROM ev GROUP BY user_id)
        |SELECT f.cohort,
        |  CAST(datediff('day', f.cohort, ev.ad) AS BIGINT) AS days_since,
        |  count(*) AS n_users
        |FROM ev JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Borůvka MSF: 10 rounds × 5 pointer-doubling merges, strict
    // (weight, src, dst) edge order makes the forest unique
    "g_mst" -> ("""WITH we AS (
        |  SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS weight
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2)
        |""".stripMargin + msfUnrolled(10, 5)),
    // Louvain phase-1: 4 parity-alternating exact-integer gain rounds
    "g_louvain" -> (LouvainCte + louvainUnrolled(4) +
      "SELECT id, CAST(comm AS BIGINT) AS community FROM l4 ORDER BY id"),
    // NMI between phase-1 and two-level Louvain: both levels come from
    // the shared Louvain2Ctes pipeline; every MI/entropy term
    // micro-quantized to an exact long before the order-free sum
    "g_community_nmi" -> (Louvain2Ctes +
      """, lvv AS (SELECT id, comm AS a FROM l4)
        |, lpb AS (SELECT v.id, t.comm AS b
        |          FROM l4 v JOIN t4 t ON t.id = v.comm)
        |, ctg AS MATERIALIZED (
        |  SELECT a, b, count(*) AS nij
        |  FROM lvv JOIN lpb USING (id) GROUP BY 1, 2)
        |, nn AS (SELECT CAST(sum(nij) AS BIGINT) AS n FROM ctg)
        |, maa AS (SELECT a, CAST(sum(nij) AS BIGINT) AS na
        |          FROM ctg GROUP BY 1)
        |, mbb AS (SELECT b, CAST(sum(nij) AS BIGINT) AS nb
        |          FROM ctg GROUP BY 1)
        |, mim AS (
        |  SELECT CAST(sum(CAST(round((c.nij / (SELECT n FROM nn)) *
        |      ln((c.nij * (SELECT n FROM nn)) / (maa.na * mbb.nb)) *
        |      1000000) AS BIGINT)) AS BIGINT) AS mi_l
        |  FROM ctg c JOIN maa USING (a) JOIN mbb USING (b))
        |, ham AS (
        |  SELECT CAST(sum(CAST(round((na / (SELECT n FROM nn)) *
        |      ln(na / (SELECT n FROM nn)) * 1000000) AS BIGINT))
        |    AS BIGINT) AS ha_l FROM maa)
        |, hbm AS (
        |  SELECT CAST(sum(CAST(round((nb / (SELECT n FROM nn)) *
        |      ln(nb / (SELECT n FROM nn)) * 1000000) AS BIGINT))
        |    AS BIGINT) AS hb_l FROM mbb)
        |SELECT (SELECT n FROM nn) AS n_vertices,
        |  round(mi_l / 1000000.0, 6) + 0.0 AS mi,
        |  round(ha_l / -1000000.0, 6) + 0.0 AS h_a,
        |  round(hb_l / -1000000.0, 6) + 0.0 AS h_b,
        |  CASE WHEN ha_l = 0 OR hb_l = 0 THEN 0.0
        |    ELSE round((mi_l / 1000000.0) /
        |      sqrt((ha_l / -1000000.0) * (hb_l / -1000000.0)), 6) + 0.0
        |  END AS nmi
        |FROM mim, ham, hbm""".stripMargin),
    "g_community_graph" -> (LouvainCte + louvainUnrolled(4) +
      """, lbl AS MATERIALIZED (SELECT id, comm FROM l4)
        |SELECT least(x.comm, y.comm) AS ca,
        |  greatest(x.comm, y.comm) AS cb,
        |  count(*) AS n_edges,
        |  CAST(sum(e.weight) AS BIGINT) AS weight
        |FROM we e JOIN lbl x ON x.id = e.src JOIN lbl y ON y.id = e.dst
        |GROUP BY 1, 2 ORDER BY ca, cb""".stripMargin),
    // Blondel's full loop: phase-1 unroll, contract communities to
    // supernodes (inter weights summed; intra weight = self-loop,
    // entering strength 2× and m but never kvin), phase-2 unroll over
    // the supergraph, map coarse labels down
    "g_louvain2" -> (Louvain2Ctes +
      """SELECT v.id, CAST(t.comm AS BIGINT) AS community
        |FROM l4 v JOIN t4 t ON t.id = v.comm ORDER BY v.id""".stripMargin),
    // weighted SSSP: 30 synchronous Bellman-Ford relaxation rounds from
    // the top-degree vertex (fixpoint is earlier; extra rounds no-op)
    "g_sssp_weighted" -> ("""WITH we AS (
        |  SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS weight
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |wsym AS MATERIALIZED (
        |  SELECT src, dst, weight FROM we
        |  UNION ALL SELECT dst, src, weight FROM we),
        |deg AS (SELECT src AS id, count(*) AS degree FROM wsym GROUP BY 1),
        |lm AS (SELECT id FROM deg ORDER BY degree DESC, id ASC LIMIT 1)
        |""".stripMargin + ssspUnrolled(30) +
      "SELECT id, dist FROM s30 WHERE dist < 1000000000000000 ORDER BY id"),
    "q_rollup_revenue" ->
      """SELECT coalesce(r_name, 'ALL') AS r_name,
        |  coalesce(n_name, 'ALL') AS n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name, n_name""".stripMargin,
    "q_value_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90,
        |  round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // z computed from exact integer moments in the IDENTICAL operation
    // order as the Spark side — the 2σ cut can't drift between engines
    "q_events_anomaly" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, count(*) AS h,
        |    CAST(sum(n) AS BIGINT) AS s,
        |    CAST(sum(n * n) AS BIGINT) AS sq
        |  FROM hourly GROUP BY 1)
        |SELECT h.event_type, h.hour, h.n AS n_events,
        |  round((h.n - st.s / CAST(st.h AS DOUBLE)) /
        |    sqrt(st.sq / CAST(st.h AS DOUBLE) -
        |      (st.s / CAST(st.h AS DOUBLE)) *
        |      (st.s / CAST(st.h AS DOUBLE))), 4) AS z
        |FROM hourly h JOIN st USING (event_type)
        |WHERE abs((h.n - st.s / CAST(st.h AS DOUBLE)) /
        |    sqrt(st.sq / CAST(st.h AS DOUBLE) -
        |      (st.s / CAST(st.h AS DOUBLE)) *
        |      (st.s / CAST(st.h AS DOUBLE)))) > 2.0
        |ORDER BY event_type, hour""".stripMargin,
    // containment on the same candidate set as the Jaccard verify
    "d_containment_dups" -> (MinhashCte +
      """, ds AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents),
        |cont AS (
        |  SELECT e.a, e.b,
        |    len(list_intersect(da.toks, db.toks))::DOUBLE /
        |      least(len(da.toks), len(db.toks)) AS c
        |  FROM (SELECT a, b FROM est WHERE est >= 0.8) e
        |  JOIN ds da ON da.doc_id = e.a
        |  JOIN ds db ON db.doc_id = e.b)
        |SELECT a, b, round(c, 4) AS containment FROM cont
        |WHERE c >= 0.9 ORDER BY a, b""".stripMargin),
    // the md5 coin makes the "random" 1/4 edge sample replay exactly;
    // est = sampled × 4³ (DOULION unbiased estimator)
    "g_triangle_estimate" -> (GraphCte +
      """, se AS MATERIALIZED (
        |  SELECT src, dst FROM e
        |  WHERE ('0x' || substr(md5(src || ':' || dst || ':42'), 1, 7))
        |    ::BIGINT % 4 = 0),
        |stri AS (
        |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM se e1 JOIN se e2 ON e1.dst = e2.src
        |  JOIN se e3 ON e3.src = e1.src AND e3.dst = e2.dst)
        |SELECT (SELECT count(*) FROM e) AS n_edges,
        |  (SELECT count(*) FROM se) AS n_sampled,
        |  (SELECT count(*) FROM stri) AS sampled_triangles,
        |  CAST((SELECT count(*) FROM stri) * 64 AS BIGINT)
        |    AS est_triangles""".stripMargin),
    // md5-coin edge sampling replays exactly; CC per level unrolled
    "g_percolation" -> (GraphCte + percCtes(25, 24) + percCtes(50, 24) +
      percCtes(75, 24) +
      """SELECT * FROM p25r UNION ALL SELECT * FROM p50r
        |UNION ALL SELECT * FROM p75r ORDER BY p_pct""".stripMargin),
    // the IC cascade's coin IS the randomness — the spread replays
    "g_influence_cascade" -> (GraphCte + icUnrolled(6, 20) +
      """SELECT round, newly_activated,
        |  CAST(sum(newly_activated) OVER (ORDER BY round
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_activated
        |FROM icr ORDER BY round""".stripMargin),
    // paired cascade (same coin) from hub vs md5-uniform random seeds
    "g_seed_comparison" -> (GraphCte +
      icUnrolledOver("sd", 6, 2,
        "SELECT id FROM deg ORDER BY degree DESC, id ASC LIMIT 4") +
      icUnrolledOver("sp", 6, 2,
        "SELECT id FROM deg ORDER BY md5('seed:' || id), id LIMIT 4") +
      """SELECT 'hub' AS seed_set,
        |  CAST((SELECT count(*) FROM sdi6) AS BIGINT) AS total_activated
        |UNION ALL SELECT 'random',
        |  CAST((SELECT count(*) FROM spi6) AS BIGINT)
        |ORDER BY seed_set""".stripMargin),
    // the Albert-Barabasi-Jeong attack curve: deterministic hub rank
    "g_attack_robustness" -> (GraphCte +
      """, rk AS MATERIALIZED (
        |  SELECT id, row_number() OVER (ORDER BY degree DESC, id ASC)
        |    AS rnk FROM deg)
        |""".stripMargin +
      attackCtes(1, 32) + attackCtes(5, 32) + attackCtes(10, 32) +
      """SELECT * FROM a1r UNION ALL SELECT * FROM a5r
        |UNION ALL SELECT * FROM a10r ORDER BY removed_pct""".stripMargin),
    // ANF/FM sketch replayed exactly: the round statistic is an exact
    // integer sum, so only the final division touches floats
    "g_anf" -> (GraphCte + anfUnrolled(8, 8) +
      """SELECT t, mask_total,
        |  round(mask_total / (8 * 0.77351), 2) AS reached_est
        |FROM rr ORDER BY t""".stripMargin),
    // HyperANF's summary statistic off the same replayed fixpoint
    "g_effective_diameter" -> (GraphCte + anfUnrolled(8, 8) +
      """, fin AS (SELECT max(mask_total) AS f FROM rr)
        |SELECT min(t) AS effective_diameter_90,
        |  (SELECT f FROM fin) AS final_mask_total
        |FROM rr WHERE CAST(mask_total AS DOUBLE) >=
        |  0.9 * (SELECT f FROM fin)""".stripMargin),
    // the oracle asserts the tolerance flag TRUE (the same gating move
    // as q_approx_distinct_users): a drifting GK sketch hash-mismatches
    "q_approx_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS exact_p50,
        |  count(*) AS n_events,
        |  TRUE AS within_tolerance
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_customers_no_orders" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "d_top_tokens" ->
      """SELECT token, count(*) AS doc_freq FROM (
        |  SELECT DISTINCT doc_id, unnest(string_split_regex(text, '\s+'))
        |    AS token
        |  FROM documents)
        |GROUP BY token
        |ORDER BY doc_freq DESC, token ASC
        |LIMIT 25""".stripMargin,
    "q_events_sessions" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (
        |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM x)
        |SELECT user_id, sid, min(epoch_ms(ts)) AS session_start_ms,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM y GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin,
    "q_event_transitions" ->
      """WITH x AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |n AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM x WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(n / sum(n) OVER (PARTITION BY from_type), 6) AS p
        |FROM n ORDER BY from_type, to_type""".stripMargin,
    "q_basket_lift" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |pcnt AS (SELECT pk, CAST(count(*) AS BIGINT) AS c FROM op GROUP BY 1),
        |tot AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM op),
        |pw AS (
        |  SELECT a.pk AS src, b.pk AS dst, CAST(count(*) AS BIGINT) AS w
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT pw.src, pw.dst, pw.w, cs.c AS c_src, cd.c AS c_dst,
        |  round(pw.w * tot.n_orders / (cs.c * cd.c), 6) AS lift
        |FROM pw JOIN pcnt cs ON cs.pk = pw.src
        |JOIN pcnt cd ON cd.pk = pw.dst CROSS JOIN tot
        |ORDER BY lift DESC, pw.src, pw.dst LIMIT 20""".stripMargin,
    // the oracle uses DuckDB's NATIVE ASOF JOIN against our
    // union+window implementation — two independent algorithms, one
    // hash
    "q_asof_attribution" ->
      """WITH p AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS purchase_ms
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id, epoch_ms(ts) AS view_ms
        |  FROM events WHERE event_type = 'view')
        |SELECT p.user_id, p.event_id, p.purchase_ms,
        |  v.view_ms AS last_view_ms,
        |  p.purchase_ms - v.view_ms AS gap_ms
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND v.view_ms <= p.purchase_ms
        |ORDER BY p.event_id""".stripMargin,
    // oracle = straight inequality join (DuckDB IEJoin); the engine
    // side buckets time and equi-joins — same result, one hash
    "q_range_join" ->
      """WITH er AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS error_ms
        |  FROM events WHERE event_type = 'error'),
        |cl AS (
        |  SELECT user_id, epoch_ms(ts) AS click_ms
        |  FROM events WHERE event_type = 'click')
        |SELECT er.user_id, er.event_id, er.error_ms,
        |  count(cl.click_ms) AS n_nearby_clicks
        |FROM er LEFT JOIN cl
        |  ON er.user_id = cl.user_id
        |  AND abs(cl.click_ms - er.error_ms) <= 300000
        |GROUP BY er.user_id, er.event_id, er.error_ms
        |ORDER BY er.event_id""".stripMargin,
    // pivot = five conditional sums with a fixed column list
    "q_pivot_revenue" ->
      """SELECT n_name,
        |  coalesce(round(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |    THEN rev END), 2), 0.0) AS p_urgent,
        |  coalesce(round(sum(CASE WHEN o_orderpriority = '2-HIGH'
        |    THEN rev END), 2), 0.0) AS p_high,
        |  coalesce(round(sum(CASE WHEN o_orderpriority = '3-MEDIUM'
        |    THEN rev END), 2), 0.0) AS p_medium,
        |  coalesce(round(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED'
        |    THEN rev END), 2), 0.0) AS p_not_specified,
        |  coalesce(round(sum(CASE WHEN o_orderpriority = '5-LOW'
        |    THEN rev END), 2), 0.0) AS p_low
        |FROM (
        |  SELECT n_name, o_orderpriority,
        |    l_extendedprice * (1.0 - l_discount) AS rev
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey)
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "d_token_count" ->
      """SELECT doc_id, length(text) AS n_chars,
        |  len(string_split_regex(text, '\s+')) AS n_tokens,
        |  len(list_distinct(string_split_regex(text, '\s+')))
        |    AS n_distinct_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
        |    AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d_quality_score" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    length(text)::DOUBLE AS n_chars,
        |    (length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))::DOUBLE AS n_alpha,
        |    (length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))::DOUBLE AS n_upper,
        |    len(string_split_regex(text, '\s+'))::DOUBLE AS n_tokens,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x IN ('the','a','of','and','to','in')))::DOUBLE AS n_stop
        |  FROM documents)
        |SELECT doc_id,
        |  round(n_alpha / n_chars, 4) AS alpha_ratio,
        |  round(n_upper / n_chars, 4) AS upper_ratio,
        |  round(n_stop / n_tokens, 4) AS stopword_ratio,
        |  round((n_chars - n_tokens + 1) / n_tokens, 4) AS mean_word_len,
        |  round(least(n_tokens / 64.0, 1.0) * 0.5
        |    + (n_alpha / n_chars) * 0.3
        |    + least((n_stop / n_tokens) * 5.0, 1.0) * 0.2, 4) AS quality
        |FROM m ORDER BY doc_id""".stripMargin,
    // exact HUGEINT power sums (mirror of Spark's DECIMAL(38,0)), then
    // ONE structurally identical IEEE double expression per engine
    "q_corr_matrix" ->
      """WITH p AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_quantity) AS BIGINT) AS q,
        |    CAST(round(l_extendedprice) AS BIGINT) AS e,
        |    CAST(round(l_discount * 1e4) AS BIGINT) AS d
        |  FROM lineitem),
        |u AS (
        |  SELECT l_returnflag, 'qty_price' AS pair, q AS x, e AS y FROM p
        |  UNION ALL SELECT l_returnflag, 'qty_disc', q, d FROM p
        |  UNION ALL SELECT l_returnflag, 'price_disc', e, d FROM p),
        |m AS (
        |  SELECT l_returnflag, pair, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x * y AS HUGEINT)) AS sxy,
        |    sum(CAST(x * x AS HUGEINT)) AS sxx,
        |    sum(CAST(y * y AS HUGEINT)) AS syy
        |  FROM u GROUP BY 1, 2)
        |SELECT l_returnflag, pair, n,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |      sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
        |        CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) + 0.0 AS corr
        |FROM m ORDER BY l_returnflag, pair""".stripMargin,
    // σ³ as v·sqrt(v) (correctly-rounded IEEE ops only — pow is
    // libm-dependent); both sides bind the doubles, then share the
    // central-moment expression verbatim
    "q_skew_kurtosis" ->
      """WITH b AS (
        |  SELECT o_orderpriority, CAST(round(o_totalprice) AS BIGINT) AS b
        |  FROM orders),
        |s AS (
        |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(b AS HUGEINT)) AS s1,
        |    sum(CAST(b * b AS HUGEINT)) AS s2,
        |    sum(CAST(b AS HUGEINT) * b * b) AS s3,
        |    sum(CAST(b AS HUGEINT) * b * b * b) AS s4
        |  FROM b GROUP BY 1),
        |d AS (
        |  SELECT o_orderpriority, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
        |    CAST(s3 AS DOUBLE) AS s3d, CAST(s4 AS DOUBLE) AS s4d
        |  FROM s),
        |f AS (
        |  SELECT o_orderpriority, n, nd, s1d, s2d, s3d, s4d,
        |    s1d / nd AS m, s2d / nd - (s1d / nd) * (s1d / nd) AS v
        |  FROM d)
        |SELECT o_orderpriority, n,
        |  round(m, 2) AS mean_price,
        |  round(sqrt(v), 2) AS stddev_pop,
        |  round((s3d / nd - 3.0 * m * (s2d / nd) + 2.0 * m * m * m) /
        |    (v * sqrt(v)), 4) + 0.0 AS skewness,
        |  round((s4d / nd - 4.0 * m * (s3d / nd) +
        |    6.0 * m * m * (s2d / nd) - 3.0 * m * m * m * m) /
        |    (v * v) - 3.0, 4) + 0.0 AS excess_kurtosis
        |FROM f ORDER BY o_orderpriority""".stripMargin,
    // doubled integer units keep the median and every |x−med| on an
    // exact 0.5-grid — quantile_cont and Spark's percentile agree
    // bit-for-bit there
    "q_median_mad" ->
      """WITH o AS (
        |  SELECT o_orderpriority,
        |    CAST(round(o_totalprice) * 2 AS BIGINT) AS b2
        |  FROM orders),
        |med AS (
        |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |    quantile_cont(b2, 0.5) AS med2
        |  FROM o GROUP BY 1),
        |dev AS (
        |  SELECT o.o_orderpriority, med.n_orders, med.med2,
        |    abs(CAST(o.b2 AS DOUBLE) - med.med2) AS dev2
        |  FROM o JOIN med USING (o_orderpriority))
        |SELECT o_orderpriority, n_orders,
        |  round(med2 / 2.0, 2) AS median_price,
        |  round(quantile_cont(dev2, 0.5) / 2.0, 2) AS mad_price
        |FROM dev GROUP BY o_orderpriority, n_orders, med2
        |ORDER BY o_orderpriority""".stripMargin,
    // reuses SccCte's directed-edge derivation (unreferenced CTEs in
    // it — reach/mutual/sccl — are never evaluated by DuckDB); the two
    // BFS sweeps replay as recursive CTEs anchored at the same
    // max-degree pivot
    "g_bowtie" -> (SccCte +
      """, bdeg AS (
        |  SELECT id, count(*) AS degree FROM (
        |    SELECT src AS id FROM de UNION ALL SELECT dst FROM de)
        |  GROUP BY 1),
        |piv AS (SELECT id FROM bdeg ORDER BY degree DESC, id LIMIT 1),
        |fwd(id) AS (
        |  SELECT id FROM piv
        |  UNION
        |  SELECT de.dst FROM fwd JOIN de ON de.src = fwd.id),
        |bwd(id) AS (
        |  SELECT id FROM piv
        |  UNION
        |  SELECT de.src FROM bwd JOIN de ON de.dst = bwd.id),
        |cls AS (
        |  -- DISTINCT: inside WITH RECURSIVE DuckDB evaluates dv's
        |  -- UNION without dedup (the g_scc oracle masks this by
        |  -- grouping on dv.id)
        |  SELECT DISTINCT dv.id,
        |    CASE WHEN f.id IS NOT NULL AND b.id IS NOT NULL THEN 'scc'
        |         WHEN b.id IS NOT NULL THEN 'in'
        |         WHEN f.id IS NOT NULL THEN 'out'
        |         ELSE 'other' END AS region
        |  FROM dv LEFT JOIN fwd f ON f.id = dv.id
        |          LEFT JOIN bwd b ON b.id = dv.id)
        |SELECT region, CAST(count(*) AS BIGINT) AS n_vertices
        |FROM cls GROUP BY 1 ORDER BY region""".stripMargin),
    "g_customer_projection" ->
      """WITH inc AS (
        |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |pc AS (SELECT part, count(*) AS nc FROM inc GROUP BY 1),
        |keep AS (
        |  SELECT inc.cust, inc.part FROM inc
        |  JOIN pc ON pc.part = inc.part WHERE pc.nc <= 25),
        |pr AS (
        |  SELECT a.cust AS ca, b.cust AS cb,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM keep a JOIN keep b
        |    ON a.part = b.part AND a.cust < b.cust
        |  GROUP BY 1, 2)
        |SELECT w, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM pr GROUP BY 1 ORDER BY w""".stripMargin,
    // exact-integer Lloyd step: micro-int components make every
    // squared-L2 distance an exact BIGINT (order-free), seeds are the
    // k smallest vec_ids, argmin tie-breaks on centroid id, updated
    // centroids are round(mean) micro longs — identical half-away
    // rounding both engines
    "e_kmeans_step" ->
      """WITH x AS (
        |  SELECT vec_id, CAST(i - 1 AS INT) AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT) AS v
        |  FROM embeddings, range(1, 65) t(i)),
        |sd AS (
        |  SELECT vec_id,
        |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
        |  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)),
        |c0 AS (
        |  SELECT sd.cid, x.dim, x.v AS cv
        |  FROM sd JOIN x ON x.vec_id = sd.vec_id),
        |d AS (
        |  SELECT x.vec_id, c.cid,
        |    sum((x.v - c.cv) * (x.v - c.cv)) AS dist
        |  FROM x JOIN c0 c ON c.dim = x.dim
        |  GROUP BY 1, 2),
        |asg AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id
        |                         ORDER BY dist, cid) AS rn
        |    FROM d) WHERE rn = 1)
        |SELECT asg.cid AS centroid_id, x.dim,
        |  CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(round(sum(x.v) / (count(*) * 1.0)) AS BIGINT) AS c_micro
        |FROM asg JOIN x ON x.vec_id = asg.vec_id
        |GROUP BY 1, 2 ORDER BY centroid_id, dim""".stripMargin,
    "d_source_overlap" -> (MinhashCte +
      """, srcm AS (SELECT doc_id, source FROM documents),
        |sp AS (
        |  SELECT least(sa.source, sb.source) AS source_a,
        |    greatest(sa.source, sb.source) AS source_b
        |  FROM est e JOIN srcm sa ON sa.doc_id = e.a
        |             JOIN srcm sb ON sb.doc_id = e.b
        |  WHERE e.est >= 0.8)
        |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS dup_pairs
        |FROM sp GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin),
    // the CMS counters are a deterministic function of the multiset
    // (commutative bucket sums) — the oracle replays the whole sketch,
    // not just a tolerance flag
    "q_countmin" ->
      """WITH it AS (SELECT l_partkey AS item FROM lineitem),
        |hb AS (
        |  SELECT item, r,
        |    ('0x' || substr(md5('cms:' || CAST(r AS VARCHAR) || ':' ||
        |      CAST(item AS VARCHAR)), 1, 7))::BIGINT % 256 AS b
        |  FROM it CROSS JOIN range(4) t(r)),
        |counters AS (
        |  SELECT r, b, CAST(count(*) AS BIGINT) AS cnt
        |  FROM hb GROUP BY 1, 2),
        |top AS (
        |  SELECT item, CAST(count(*) AS BIGINT) AS exact_cnt
        |  FROM it GROUP BY 1 ORDER BY exact_cnt DESC, item LIMIT 10),
        |tb AS (
        |  SELECT item, r,
        |    ('0x' || substr(md5('cms:' || CAST(r AS VARCHAR) || ':' ||
        |      CAST(item AS VARCHAR)), 1, 7))::BIGINT % 256 AS b
        |  FROM top CROSS JOIN range(4) t(r))
        |SELECT t.item, t.exact_cnt, min(c.cnt) AS cms_est
        |FROM top t JOIN tb ON tb.item = t.item
        |JOIN counters c ON c.r = tb.r AND c.b = tb.b
        |GROUP BY 1, 2 ORDER BY t.exact_cnt DESC, t.item""".stripMargin,
    // exact micro-int centroids + order-free BIGINT distances — the
    // ranking is bit-stable on any partitioning
    "e_centroid_outliers" ->
      """WITH x AS (
        |  SELECT vec_id, label, CAST(i - 1 AS INT) AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT) AS v
        |  FROM embeddings, range(1, 65) t(i)),
        |c AS (
        |  SELECT label, dim,
        |    CAST(round(sum(v) / (count(*) * 1.0)) AS BIGINT) AS cv
        |  FROM x GROUP BY 1, 2),
        |d AS (
        |  SELECT x.vec_id, x.label,
        |    CAST(sum((x.v - c.cv) * (x.v - c.cv)) AS BIGINT) AS sq_dist
        |  FROM x JOIN c ON c.label = x.label AND c.dim = x.dim
        |  GROUP BY 1, 2)
        |SELECT vec_id, label, sq_dist
        |FROM d ORDER BY sq_dist DESC, vec_id LIMIT 10""".stripMargin,
    // same exact top-10 sets as the (passing) e_knn_brute oracle, then
    // a deterministic majority vote (ties -> smaller label)
    "e_knn_eval" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS q_emb
        |  FROM embeddings WHERE vec_id < 20),
        |s AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.q_emb, e.embedding) AS sim
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |r AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM s),
        |nn AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 10),
        |v AS (
        |  SELECT nn.query_id, e.label, CAST(count(*) AS BIGINT) AS votes
        |  FROM nn JOIN embeddings e ON e.vec_id = nn.neighbor_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT query_id, label AS pred_label, votes,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY votes DESC, label) AS rn
        |  FROM v)
        |SELECT p.query_id, t.label AS true_label, p.pred_label, p.votes,
        |  CAST(CASE WHEN p.pred_label = t.label THEN 1 ELSE 0 END AS INT)
        |    AS correct
        |FROM p JOIN embeddings t ON t.vec_id = p.query_id
        |WHERE p.rn = 1 ORDER BY p.query_id""".stripMargin,
    // order-free entropy: per-row p*log2(p) quantized to exact 1e-6
    // longs before the sum (the cluster/token entropy idiom)
    "g_degree_entropy" -> (GraphCte +
      """, hst AS (
        |  SELECT degree, CAST(count(*) AS BIGINT) AS cnt
        |  FROM deg GROUP BY 1),
        |tt AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS tot,
        |    CAST(count(*) AS BIGINT) AS k FROM hst),
        |u AS (
        |  SELECT k, tot,
        |    CAST(round((cnt / CAST(tot AS DOUBLE)) *
        |      log2(cnt / CAST(tot AS DOUBLE)) * 1e6) AS BIGINT) AS u
        |  FROM hst CROSS JOIN tt)
        |SELECT max(k) AS n_degree_values, max(tot) AS n_vertices,
        |  round(-sum(u) / 1e6, 6) + 0.0 AS degree_entropy,
        |  round(-sum(u) / 1e6 / log2(CAST(max(k) AS DOUBLE)), 6) + 0.0
        |    AS norm_entropy
        |FROM u""".stripMargin),
    // sign-bit codes: two 32-bit halves (1 << 63 overflows BIGINT in
    // any engine); strict x > 0 test — float sign is exact, so the
    // whole BQ family is integer-deterministic end to end
    "e_bq_codes" -> (BqCte +
      """SELECT vec_id, label, code_lo, code_hi FROM codes
        |ORDER BY vec_id""".stripMargin),
    "e_knn_bq" -> (BqCte + BqTopCte +
      """SELECT query_id, rank, neighbor_id, CAST(ham AS BIGINT) AS hamming
        |FROM bqr WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),
    "e_bq_recall" -> (BqCte + BqTopCte +
      """, bqt AS (SELECT query_id, neighbor_id FROM bqr WHERE rank <= 10),
        |fq AS (
        |  SELECT vec_id AS query_id, embedding AS q_emb
        |  FROM embeddings WHERE vec_id < 20),
        |bs AS (
        |  SELECT fq.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(fq.q_emb, e.embedding) AS sim
        |  FROM embeddings e CROSS JOIN fq WHERE e.vec_id <> fq.query_id),
        |br AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM bs),
        |brt AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 10)
        |SELECT b.query_id,
        |  CAST(count(t.neighbor_id) AS BIGINT) AS n_hits,
        |  round(count(t.neighbor_id) / 10.0, 4) AS recall_at_10
        |FROM brt b LEFT JOIN bqt t USING (query_id, neighbor_id)
        |GROUP BY 1 ORDER BY query_id""".stripMargin),
    // two-stage: hamming top-100 shortlist, exact-cosine rerank top-10,
    // recall vs brute — the quantized-scan + rerank architecture
    "e_bq_rerank" -> (BqCte + BqTopCte +
      """, cand AS (
        |  SELECT query_id, neighbor_id FROM bqr WHERE rank <= 100),
        |rrk AS (
        |  SELECT c.query_id, c.neighbor_id,
        |    list_cosine_similarity(q.embedding, e.embedding) AS sim
        |  FROM cand c
        |  JOIN embeddings q ON q.vec_id = c.query_id
        |  JOIN embeddings e ON e.vec_id = c.neighbor_id),
        |rrt AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY sim DESC, neighbor_id ASC) AS rank
        |    FROM rrk)
        |  WHERE rank <= 10),
        |rbq AS (
        |  SELECT vec_id AS query_id, embedding AS q_emb
        |  FROM embeddings WHERE vec_id < 20),
        |rbs AS (
        |  SELECT rbq.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(rbq.q_emb, e.embedding) AS sim
        |  FROM embeddings e CROSS JOIN rbq WHERE e.vec_id <> rbq.query_id),
        |rbr AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM rbs),
        |rbt AS (SELECT query_id, neighbor_id FROM rbr WHERE rank <= 10)
        |SELECT b.query_id,
        |  CAST(count(t.neighbor_id) AS BIGINT) AS n_hits,
        |  round(count(t.neighbor_id) / 10.0, 4) AS recall_at_10
        |FROM rbt b LEFT JOIN rrt t USING (query_id, neighbor_id)
        |GROUP BY 1 ORDER BY query_id""".stripMargin),
    // first-16-dims (Matryoshka prefix) ranking vs full-dim exact
    "e_matryoshka_recall" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding[1:16] AS q_emb,
        |    embedding AS q_full
        |  FROM embeddings WHERE vec_id < 20),
        |ts AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.q_emb, e.embedding[1:16]) AS sim
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |tr AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM ts),
        |tt AS (SELECT query_id, neighbor_id FROM tr WHERE rank <= 10),
        |bs AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.q_full, e.embedding) AS sim
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |br AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM bs),
        |brt AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 10)
        |SELECT b.query_id,
        |  CAST(count(t.neighbor_id) AS BIGINT) AS n_hits,
        |  round(count(t.neighbor_id) / 10.0, 4) AS recall_at_10
        |FROM brt b LEFT JOIN tt t USING (query_id, neighbor_id)
        |GROUP BY 1 ORDER BY query_id""".stripMargin,
    // raw-dot ranking (MIPS); score dropped like every float-scored knn
    "e_mips_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS q_emb
        |  FROM embeddings WHERE vec_id < 20),
        |s AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_dot_product(q.q_emb, e.embedding) AS score
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |r AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY score DESC, neighbor_id ASC) AS rank
        |  FROM s)
        |SELECT query_id, rank, neighbor_id
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // monetary summed as exact cent longs; scores are SQL ntile —
    // graft computes them via the two-phase distributed rank
    "q_rfm" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    date_diff('day', CAST(max(o_orderdate) AS DATE),
        |      (SELECT CAST(max(o_orderdate) AS DATE) FROM orders))
        |      AS recency_days,
        |    count(*) AS frequency,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS monetary_cents
        |  FROM orders GROUP BY 1),
        |scored AS (
        |  SELECT monetary_cents,
        |    ntile(5) OVER (ORDER BY recency_days ASC, o_custkey ASC)
        |      AS r_score,
        |    ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC)
        |      AS f_score,
        |    ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey ASC)
        |      AS m_score
        |  FROM per)
        |SELECT r_score, f_score, m_score, count(*) AS n_customers,
        |  CAST(round(sum(monetary_cents) / CAST(count(*) AS DOUBLE))
        |    AS BIGINT) AS avg_monetary_cents
        |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // exact-integer class boundaries: cum*5 <= tot*4 etc — no float on
    // a classification edge; graft's cumsum is the Blelloch two-phase
    "q_abc_pareto" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
        |      AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM lineitem GROUP BY 1),
        |rk AS (
        |  SELECT l_partkey, rev_cents,
        |    sum(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents
        |  FROM rev),
        |tot AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS t FROM rev)
        |SELECT CASE WHEN cum_cents * 5 <= t * 4 THEN 'A'
        |            WHEN cum_cents * 20 <= t * 19 THEN 'B'
        |            ELSE 'C' END AS abc_class,
        |  count(*) AS n_parts,
        |  CAST(sum(rev_cents) AS BIGINT) AS class_rev_cents,
        |  round(sum(rev_cents) / CAST(max(t) AS DOUBLE), 6) AS rev_share
        |FROM rk, tot GROUP BY 1 ORDER BY 1""".stripMargin,
    // leading digit from the cent-integer's decimal string (no log10
    // near the classification); expected shares are pinned literals
    // because JVM and C libm log10 may differ in the last ulp
    "q_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders),
        |h AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM h),
        |e AS (
        |  SELECT unnest([1,2,3,4,5,6,7,8,9]) AS digit,
        |    unnest([0.301030e0, 0.176091e0, 0.124939e0, 0.096910e0,
        |      0.079181e0, 0.066947e0, 0.057992e0, 0.051153e0, 0.045757e0])
        |      AS benford_p)
        |SELECT h.digit, h.n,
        |  round(h.n / CAST(t.tot AS DOUBLE), 6) AS observed_p,
        |  e.benford_p,
        |  round(abs(h.n / CAST(t.tot AS DOUBLE) - e.benford_p), 6)
        |    AS abs_dev
        |FROM h JOIN e USING (digit), t ORDER BY digit""".stripMargin,
    // the bloom prefilter has no false negatives and the exact join
    // removes false positives — the oracle is the PLAIN join
    "q_bloom_prefilter" ->
      """SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
        |  count(*) AS n_items,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // tie-grouped exact rank formula over the degree HISTOGRAM; all
    // integer until the final division (see GraphQueries.degreeGini)
    "g_degree_gini" -> (GraphCte +
      """, h AS (SELECT degree, CAST(count(*) AS BIGINT) AS c
        |       FROM deg GROUP BY 1),
        |cm AS (
        |  SELECT degree, c,
        |    sum(c) OVER (ORDER BY degree
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c
        |  FROM h),
        |u AS (
        |  SELECT degree, c,
        |    degree * (c * (cum_c - c + 1) + (c * (c - 1)) // 2) AS u
        |  FROM cm),
        |a AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(degree * c) AS BIGINT) AS s1,
        |    CAST(sum(u) AS BIGINT) AS s2 FROM u)
        |SELECT n AS n_vertices,
        |  round(s2 * 2 / CAST(n * s1 AS DOUBLE)
        |    - (n + 1) / CAST(n AS DOUBLE), 6) AS degree_gini
        |FROM a""".stripMargin),
    // CC labels replayed to convergence (pcf, the d_dup_clusters
    // idiom); removed = non-min members; token counts row-local
    "d_dup_inflation" -> (MinhashCte +
      PairCcCte +
      """, cl AS (SELECT id AS doc_id, lbl FROM pcf),
        |sv AS (SELECT lbl, min(doc_id) AS survivor FROM cl GROUP BY lbl),
        |rem AS (
        |  SELECT c.doc_id FROM cl c JOIN sv s USING (lbl)
        |  WHERE c.doc_id <> s.survivor),
        |dtok AS (
        |  SELECT doc_id, len(string_split_regex(text, '\s+')) AS n_tokens
        |  FROM documents)
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(sum(t.n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(coalesce(sum(CASE WHEN r.doc_id IS NOT NULL
        |    THEN t.n_tokens END), 0) AS BIGINT) AS dup_tokens,
        |  round(coalesce(sum(CASE WHEN r.doc_id IS NOT NULL
        |      THEN t.n_tokens END), 0)
        |    / CAST(sum(t.n_tokens) AS DOUBLE), 6) AS dup_token_share
        |FROM documents d JOIN dtok t USING (doc_id)
        |LEFT JOIN rem r USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // graft's deciles come from the two-phase distributed rank; value
    // summed as exact cent longs on both sides
    "q_value_deciles" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS value_cents
        |  FROM orders GROUP BY 1),
        |dec AS (
        |  SELECT value_cents,
        |    ntile(10) OVER (ORDER BY value_cents DESC, o_custkey ASC)
        |      AS decile
        |  FROM per),
        |tot AS (SELECT CAST(sum(value_cents) AS BIGINT) AS t FROM per)
        |SELECT decile, count(*) AS n_customers,
        |  min(value_cents) AS min_cents, max(value_cents) AS max_cents,
        |  CAST(sum(value_cents) AS BIGINT) AS decile_cents,
        |  round(sum(value_cents) / CAST(max(t) AS DOUBLE), 6) AS value_share
        |FROM dec, tot GROUP BY decile ORDER BY decile""".stripMargin,
    // one trained index (iters=3, the e_knn_ivf configuration), probe
    // ranking filtered per level; hit counts exact ints
    "e_ivf_probe_sweep" -> ivfSweepUnrolled(3, Seq(1, 2, 4, 8)),
    "e_ivfpq_probe_sweep" -> ivfpqSweepUnrolled(3, 2, 16, Seq(1, 2, 4, 8)),
    // the one-file-per-day layout contract lets the oracle derive the
    // MEASURED post-pruning file counts from the raw dates alone: a
    // hash match proves Catalyst's PartitionFilters pruned the listing
    // to exactly the predicate's directories
    "q_day_partition_pruning" ->
      """WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS ed FROM events),
        |lo AS (SELECT min(ed) AS mn FROM d),
        |sel AS (SELECT count(*) AS c FROM d, lo
        |        WHERE ed BETWEEN lo.mn AND lo.mn + 6)
        |SELECT CAST((SELECT count(*) FROM d) AS BIGINT) AS days_total,
        |  CAST((SELECT count(*) FROM d) AS BIGINT) AS files_total,
        |  CAST((SELECT c FROM sel) AS BIGINT) AS days_selected,
        |  CAST((SELECT c FROM sel) AS BIGINT) AS files_pruned""".stripMargin,
    // delta = doc_id % 7 == 3 (coprime with the 20-source cycle, so
    // every source contributes); dup iff a ≥0.8 pair links it to a
    // base doc or an earlier delta doc — the est pair set IS the oracle
    // shuffle-width forecast of the band join over REP-collapSED
    // buckets: per band, bucket count / largest bucket / Σ C(s,2)
    "d_lsh_bucket_stats" -> (MinhashCte +
      """, bsfsig AS MATERIALIZED (
        |  SELECT doc_id, list(s ORDER BY i) AS fs FROM sig GROUP BY doc_id),
        |bsgrp AS (SELECT min(doc_id) AS rep FROM bsfsig GROUP BY fs),
        |bsrb AS (
        |  SELECT g.rep, b.band, b.bsig
        |  FROM bsgrp g JOIN bands b ON b.doc_id = g.rep),
        |bssz AS (
        |  SELECT band, bsig, CAST(count(*) AS BIGINT) AS s
        |  FROM bsrb GROUP BY band, bsig)
        |SELECT band, CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(max(s) AS BIGINT) AS max_bucket,
        |  CAST(sum(s * (s - 1) // 2) AS BIGINT) AS candidate_pairs
        |FROM bssz GROUP BY band ORDER BY band""".stripMargin),
    "d_incremental_dedup" -> (MinhashCte +
      """, symp AS (
        |  SELECT a AS d, b AS x FROM est WHERE est >= 0.8
        |  UNION ALL SELECT b AS d, a AS x FROM est WHERE est >= 0.8),
        |dups AS (
        |  SELECT DISTINCT d FROM symp
        |  WHERE d % 7 = 3 AND (x % 7 <> 3 OR x < d))
        |SELECT source, count(*) AS n_new,
        |  CAST(coalesce(sum(CASE WHEN dp.d IS NOT NULL THEN 1 END), 0)
        |    AS BIGINT) AS n_dup,
        |  round(coalesce(sum(CASE WHEN dp.d IS NOT NULL THEN 1 END), 0)
        |    / CAST(count(*) AS DOUBLE), 4) AS dup_rate
        |FROM documents LEFT JOIN dups dp ON doc_id = dp.d
        |WHERE doc_id % 7 = 3
        |GROUP BY source ORDER BY source""".stripMargin),
    // systematic resampling on the md5-shuffled cumulative token line;
    // membership is pure integer arithmetic (odd multiples of W in
    // (lo·2k, hi·2k]) — no float near the selection
    "d_weighted_sample" ->
      """WITH wdoc AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT)
        |      AS n_tokens,
        |    md5('wsamp:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |rk AS (
        |  SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY h ASC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
        |  FROM wdoc),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS w FROM wdoc),
        |sel AS (
        |  SELECT r.doc_id, r.source, r.n_tokens, r.hi, t.w,
        |    ((r.hi - r.n_tokens) * 100) // t.w + 1 AS m0
        |  FROM rk r, t),
        |ms AS (
        |  SELECT doc_id, source, n_tokens, hi, w,
        |    CASE WHEN m0 % 2 = 0 THEN m0 + 1 ELSE m0 END AS m
        |  FROM sel)
        |SELECT doc_id, source, n_tokens FROM ms
        |WHERE m * w <= hi * 100 AND m < 100
        |ORDER BY doc_id""".stripMargin,
    // rank-weighted sum in HUGEINT (rank×cents passes 2^63 at ~1e9
    // customers); one identical double expression at the end
    "q_value_gini" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS v
        |  FROM orders GROUP BY 1),
        |rk AS (
        |  SELECT v, row_number() OVER (ORDER BY v ASC, o_custkey ASC) AS rk
        |  FROM per),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s1,
        |    sum(CAST(rk AS HUGEINT) * v) AS s2
        |  FROM rk)
        |SELECT n AS n_customers,
        |  round(2 * CAST(s2 AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE))
        |    - (n + 1) / CAST(n AS DOUBLE), 6) AS value_gini
        |FROM a""".stripMargin,
    // two-phase exact distinct pairs, then a user-keyed self-join
    // bounded by types² per user — the overlap HLL cannot compute
    "q_event_type_overlap" ->
      """WITH p AS (SELECT DISTINCT event_type, user_id FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  count(*) AS n_common_users
        |FROM p a JOIN p b ON a.user_id = b.user_id
        |  AND a.event_type <= b.event_type
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // log2 buckets via binary-string length — exact at powers of two
    "g_joint_degree" -> (GraphCte +
      """, b AS (SELECT id, CAST(length(bin(degree)) - 1 AS INT) AS bk
        |       FROM deg)
        |SELECT least(bu.bk, bv.bk) AS bucket_lo,
        |  greatest(bu.bk, bv.bk) AS bucket_hi,
        |  count(*) AS n_edges
        |FROM e JOIN b bu ON e.src = bu.id JOIN b bv ON e.dst = bv.id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
  )
}
