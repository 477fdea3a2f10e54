package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.QuerySpec.{RowsOnly, Sql}
import graft.queries.{Extensions => E, ExtensionOracles => EO, Inventory => I, Oracles => O, StreamingOracles => SO, StreamingQueries => SQ}

/** One declared query: its driver name, how to build it over an sf
  * directory, and how the driver checks its rows. */
final case class QuerySpec(name: String, build: (SparkSession, String) => DataFrame, oracle: QuerySpec.Oracle)

object QuerySpec {
  sealed trait Oracle
  /** DuckDB SQL with the query's column names, total ORDER BY and
    * rounding; the driver hash-compares the two results. */
  final case class Sql(text: String) extends Oracle
  /** No SQL twin can exist. The driver checks rows > 0; `reason` says
    * why there is no twin and which suite asserts the rows instead. */
  final case class RowsOnly(reason: String) extends Oracle
}

/** Driver contract — see SURVEY.md §7.
  *
  * `specs` declares every query exactly once, in one row with its
  * oracle. `queries` and `oracleSql` are the driver's two views of it.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    I.q5GroupbyAgg(spark, "/root/testdata/sf0.001")

  /** A registry table; a name declared twice fails here instead of one
    * row silently replacing the other in the derived maps. */
  def registry(rows: QuerySpec*): Seq[QuerySpec] = {
    val dup = rows.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"query declared more than once: ${dup.toSeq.sorted.mkString(", ")}")
    rows
  }

  val specs: Seq[QuerySpec] = registry(
    QuerySpec("q1_derived_key", I.q1DerivedKey, Sql(O.q1DerivedKey)),
    QuerySpec("q2_anti_join", I.q2AntiJoin, Sql(O.q2AntiJoin)),
    QuerySpec("q3_dim_join", I.q3DimJoin, Sql(O.q3DimJoin)),
    QuerySpec("q4_scalar_subquery", I.q4ScalarSubquery, Sql(O.q4ScalarSubquery)),
    QuerySpec("q5_groupby_agg", I.q5GroupbyAgg, Sql(O.q5GroupbyAgg)),
    QuerySpec("q6_distinct", I.q6Distinct, Sql(O.q6Distinct)),
    QuerySpec("q6b_distinct_values", I.q6bDistinctValues, Sql(O.q6bDistinctValues)),
    QuerySpec("q7_rollup", I.q7Rollup, Sql(O.q7Rollup)),
    QuerySpec("q8_approx_distinct", I.q8ApproxDistinct, Sql(O.q8ApproxDistinct)),
    QuerySpec("q9_window_rank", I.q9WindowRank, Sql(O.q9WindowRank)),
    QuerySpec("q10_window_frame", I.q10WindowFrame, Sql(O.q10WindowFrame)),
    QuerySpec("q11_topk", I.q11TopK, Sql(O.q11TopK)),
    QuerySpec("q12_setops", I.q12SetOps, Sql(O.q12SetOps)),
    QuerySpec("q13_semi_join", I.q13SemiJoin, Sql(O.q13SemiJoin)),
    QuerySpec("q14_range_join", I.q14RangeJoin, Sql(O.q14RangeJoin)),
    QuerySpec("q15_phone_regex", I.q15PhoneRegex, Sql(O.q15PhoneRegex)),
    QuerySpec("q16_date_json", I.q16DateJson, Sql(O.q16DateJson)),
    QuerySpec("q17_cross_join", I.q17CrossJoin, Sql(O.q17CrossJoin)),
    QuerySpec("q18_tumbling_day", I.q18TumblingDay, Sql(O.q18TumblingDay)),
    QuerySpec("q19_grouping_sets", I.q19GroupingSets, Sql(O.q19GroupingSets)),
    QuerySpec("q20_cosine_topk", I.q20CosineTopk, Sql(O.q20CosineTopk)),
    QuerySpec("q21_array_ops", I.q21ArrayOps, Sql(O.q21ArrayOps)),
    QuerySpec("q22_asof_join", I.q22AsofJoin, Sql(O.q22AsofJoin)),
    QuerySpec("q23_sessionize", I.q23Sessionize, Sql(O.q23Sessionize)),
    QuerySpec("q24_percentiles", I.q24Percentiles, Sql(O.q24Percentiles)),
    QuerySpec("q24b_approx_percentiles", I.q24bApproxPercentiles, Sql(O.q24bApproxPercentiles)),
    QuerySpec("q25_topk_agg", I.q25TopkAgg, Sql(O.q25TopkAgg)),
    QuerySpec("q26_cube", I.q26Cube, Sql(O.q26Cube)),
    QuerySpec("q27_pivot", I.q27Pivot, Sql(O.q27Pivot)),
    QuerySpec("q27b_unpivot", I.q27bUnpivot, Sql(O.q27bUnpivot)),
    QuerySpec("q28_window_nav", I.q28WindowNav, Sql(O.q28WindowNav)),
    QuerySpec("q29_funnel", I.q29Funnel, Sql(O.q29Funnel)),
    QuerySpec("q30_full_outer", I.q30FullOuter, Sql(O.q30FullOuter)),
    QuerySpec("q31_correlated", I.q31Correlated, Sql(O.q31Correlated)),
    QuerySpec("q32_recursive", I.q32Recursive, Sql(O.q32Recursive)),
    QuerySpec("q33_graph_walk", I.q33GraphWalk, Sql(O.q33GraphWalk)),
    QuerySpec("q34_range_frame", I.q34RangeFrame, Sql(O.q34RangeFrame)),
    QuerySpec("q35_window_distinct", I.q35WindowDistinct, Sql(O.q35WindowDistinct)),
    QuerySpec("q36_ntile", I.q36Ntile, Sql(O.q36Ntile)),
    QuerySpec("q37_gap_fill", I.q37GapFill, Sql(O.q37GapFill)),
    // LLM-data-pipeline operators (BASELINE.json north star)
    QuerySpec("dedup_exact", E.dedupExact, Sql(EO.dedupExact)),
    QuerySpec("dedup_url", E.dedupUrl, Sql(EO.dedupUrl)),
    QuerySpec("domain_quota", E.domainQuota, Sql(EO.domainQuota)),
    QuerySpec("dedup_substring", E.dedupSubstring, Sql(EO.dedupSubstring)),
    QuerySpec("text_ngrams", E.textNgrams, Sql(EO.textNgrams)),
    QuerySpec("text_pmi", E.textPmi, Sql(EO.textPmi)),
    QuerySpec("text_heavy_hitters", E.textHeavyHitters, Sql(EO.textHeavyHitters)),
    QuerySpec("events_hll_daily", E.eventsHllDaily, Sql(EO.eventsHllDaily)),
    QuerySpec("dedup_jaccard", E.dedupJaccard, Sql(EO.dedupJaccard)),
    QuerySpec("dedup_containment", E.dedupContainment, Sql(EO.dedupContainment)),
    QuerySpec("dedup_jaccard_char", E.dedupJaccardChar, Sql(EO.dedupJaccardChar)),
    QuerySpec("dedup_minhash", E.dedupMinhash, Sql(EO.dedupMinhash)),
    QuerySpec("dedup_minhash_clusters", E.dedupMinhashClusters, Sql(EO.dedupMinhashClusters)),
    QuerySpec("corpus_overlap", E.corpusOverlap, Sql(EO.corpusOverlap)),
    QuerySpec("dedup_minhash_verify", E.dedupMinhashVerify, Sql(EO.dedupMinhashVerify)),
    QuerySpec("corpus_incremental", E.corpusIncremental, Sql(EO.corpusIncremental)),
    QuerySpec("dedup_simhash", E.dedupSimhash, Sql(EO.dedupSimhash)),
    QuerySpec("dedup_embedding", E.dedupEmbedding, Sql(EO.dedupEmbedding)),
    QuerySpec("dedup_semantic", E.dedupSemantic, Sql(EO.dedupSemantic)),
    // shared exact top-10 — the index must find the exact neighbours
    QuerySpec("ann_lsh_topk", E.annLsh, Sql(EO.annExactTop10)),
    // shared exact top-10 — the index must find the exact neighbours
    QuerySpec("ann_ivf_topk", E.annIvf, Sql(EO.annExactTop10)),
    QuerySpec("ann_ivf_stored", E.annIvfStored, RowsOnly(
      "an exact twin would reintroduce the full scan the stored partition-pruned probe exists to avoid; " +
        "SimilaritySpec pins its pruned probes and results identical to the in-memory IVF")),
    // shared with the exact top-10 — merge-on-read freshness is the gate
    QuerySpec("ann_ivf_delta", E.annIvfDelta, Sql(EO.annExactTop10)),
    // shared exact top-10 — the index must find the exact neighbours
    QuerySpec("ann_ivf_kmeans", E.annIvfKmeans, Sql(EO.annExactTop10)),
    QuerySpec("ann_filtered", E.annFiltered, Sql(EO.annFilteredExact)),
    // shared exact top-10 — the index must find the exact neighbours
    QuerySpec("ann_ivfpq_topk", E.annIvfPq, Sql(EO.annExactTop10)),
    QuerySpec("ann_knn_join", E.annKnnJoin, RowsOnly(
      "an exact twin is the quadratic all-pairs join the list_id equi-join exists to avoid; " +
        "SimilaritySpec pins exact re-ranked sims, a recall floor and an equi-join-only plan")),
    QuerySpec("emb_quantize", E.embQuantize, Sql(EO.embQuantize)),
    QuerySpec("emb_centroid", E.embCentroid, Sql(EO.embCentroid)),
    QuerySpec("emb_classify", E.embClassify, Sql(EO.embClassify)),
    QuerySpec("ann_q8_topk", E.annQ8, Sql(EO.annQ8)),
    QuerySpec("ann_q8_range", E.annQ8Range, Sql(EO.annQ8Range)),
    QuerySpec("corpus_split", E.corpusSplit, Sql(EO.corpusSplit)),
    QuerySpec("corpus_sample", E.corpusSample, Sql(EO.corpusSample)),
    QuerySpec("corpus_reservoir", E.corpusReservoir, Sql(EO.corpusReservoir)),
    QuerySpec("corpus_leakage", E.corpusLeakage, Sql(EO.corpusLeakage)),
    QuerySpec("corpus_pack", E.corpusPack, Sql(EO.corpusPack)),
    QuerySpec("corpus_interleave", E.corpusInterleave, Sql(EO.corpusInterleave)),
    QuerySpec("corpus_mix", E.corpusMix, Sql(EO.corpusMix)),
    QuerySpec("corpus_decontam", E.corpusDecontam, Sql(EO.corpusDecontam)),
    // shared with the exact path — the Bloom prefilter must not change a row
    QuerySpec("corpus_decontam_bloom", E.corpusDecontamBloom, Sql(EO.corpusDecontam)),
    QuerySpec("corpus_chunk", E.corpusChunk, Sql(EO.corpusChunk)),
    QuerySpec("corpus_offsets", E.corpusOffsets, Sql(EO.corpusOffsets)),
    QuerySpec("corpus_shard", E.corpusShard, Sql(EO.corpusShard)),
    QuerySpec("corpus_token_budget", E.corpusTokenBudget, Sql(EO.corpusTokenBudget)),
    QuerySpec("corpus_hist", E.corpusHist, Sql(EO.corpusHist)),
    QuerySpec("corpus_stats", E.corpusStats, Sql(EO.corpusStats)),
    QuerySpec("layout_zorder", E.layoutZorder, Sql(EO.layoutZorder)),
    QuerySpec("layout_hilbert", E.layoutHilbert, Sql(EO.layoutHilbert)),
    QuerySpec("layout_hilbert_stored", E.layoutHilbertStored, Sql(EO.layoutHilbertStored)),
    QuerySpec("layout_zorder_stored", E.layoutZorderStored, Sql(EO.layoutZorderStored)),
    QuerySpec("line_dedup", E.lineDedup, Sql(EO.lineDedup)),
    QuerySpec("corpus_curate", E.corpusCurate, Sql(EO.corpusCurate)),
    QuerySpec("corpus_curate2", E.corpusCurate2, Sql(EO.corpusCurate2)),
    QuerySpec("corpus_curate3", E.corpusCurate3, Sql(EO.corpusCurate3)),
    QuerySpec("corpus_curate4", E.corpusCurate4, Sql(EO.corpusCurate4)),
    QuerySpec("text_tokens", E.textTokens, Sql(EO.textTokens)),
    QuerySpec("text_quality", E.textQuality, Sql(EO.textQuality)),
    QuerySpec("text_langid", E.textLangid, Sql(EO.textLangid)),
    QuerySpec("text_tfidf", E.textTfidf, Sql(EO.textTfidf)),
    QuerySpec("text_bm25", E.textBm25, Sql(EO.textBm25)),
    QuerySpec("retrieve_hybrid", E.retrieveHybrid, Sql(EO.retrieveHybrid)),
    QuerySpec("emb_hard_negatives", E.embHardNegatives, Sql(EO.embHardNegatives)),
    QuerySpec("text_redact", E.textRedact, Sql(EO.textRedact)),
    QuerySpec("text_repetition", E.textRepetition, Sql(EO.textRepetition)),
    QuerySpec("text_familiarity", E.textFamiliarity, Sql(EO.textFamiliarity)),
    QuerySpec("text_lm_bigram", E.textLmBigram, Sql(EO.textLmBigram)),
    QuerySpec("text_lm_trigram", E.textLmTrigram, Sql(EO.textLmTrigram)),
    QuerySpec("bpe_tokens", E.bpeTokens, RowsOnly(
      "the merges come from a trained, corpus-dependent artifact no SQL engine reproduces; " +
        "BpeSpec pins hand-computed merges, determinism and partition independence")),
    QuerySpec("text_compress", E.textCompress, RowsOnly(
      "the zlib bit stream is specific to the library version; " +
        "TextAnalysisSpec pins a deterministic ratio order (repetitive < prose < noise)")),
    QuerySpec("text_script", E.textScript, Sql(EO.textScript)),
    QuerySpec("text_gopher", E.textGopher, Sql(EO.textGopher)),
    QuerySpec("url_filter", E.urlFilter, Sql(EO.urlFilter)),
    QuerySpec("url_robots", E.urlRobots, Sql(EO.urlRobots)),
    QuerySpec("text_fingerprint", E.textFingerprint, RowsOnly(
      "seeded rolling-FNV values are engine-specific by construction; " +
        "TextAnalysisSpec pins determinism, and the portable md5-bounds twin is oracle-checked")),
    QuerySpec("text_winnow", E.textWinnow, Sql(EO.textWinnow)),
    QuerySpec("mm_bytes", E.mmBytes, Sql(EO.mmBytes)),
    QuerySpec("mm_decode", E.mmDecode, Sql(EO.mmDecode)),
    QuerySpec("mm_frames", E.mmFrames, Sql(EO.mmFrames)),
    QuerySpec("mm_resize", E.mmResize, Sql(EO.mmResize)),
    QuerySpec("mm_audio", E.mmAudio, Sql(EO.mmAudio)),
    QuerySpec("mm_pcm", E.mmPcm, Sql(EO.mmPcm)),
    QuerySpec("mm_video", E.mmVideo, Sql(EO.mmVideo)),
    QuerySpec("mm_video_frames", E.mmVideoFrames, Sql(EO.mmVideoFrames)),
    QuerySpec("mm_video_sample", E.mmVideoSample, Sql(EO.mmVideoSample)),
    QuerySpec("mm_video_dedup", E.mmVideoDedup, Sql(EO.mmVideoDedup)),
    QuerySpec("mm_video_phash", E.mmVideoPhash, Sql(EO.mmVideoPhash)),
    QuerySpec("mm_video_scene", E.mmVideoScene, Sql(EO.mmVideoScene)),
    QuerySpec("mm_audio_scene", E.mmAudioScene, Sql(EO.mmAudioScene)),
    QuerySpec("mm_audio_dedup", E.mmAudioDedup, Sql(EO.mmAudioDedup)),
    QuerySpec("mm_audio_fp", E.mmAudioFp, Sql(EO.mmAudioFp)),
    QuerySpec("mm_audio_neardup", E.mmAudioNeardup, Sql(EO.mmAudioNeardup)),
    QuerySpec("mm_image_dedup", E.mmImageDedup, Sql(EO.mmImageDedup)),
    QuerySpec("mm_image_phash", E.mmImagePhash, Sql(EO.mmImagePhash)),
    QuerySpec("mm_image_neardup", E.mmImageNeardup, Sql(EO.mmImageNeardup)),
    QuerySpec("mm_census", E.mmCensus, Sql(EO.mmCensus)),
    QuerySpec("mm_curate", E.mmCurate, Sql(EO.mmCurate)),
    // scale utilities on the declared surface: salt-invariant skew join,
    // layout-invariant bucketed join (zero-Exchange plan in PlanAuditSpec)
    QuerySpec("skew_join", E.skewJoin, Sql(EO.skewJoin)),
    QuerySpec("bucketed_join", E.bucketedJoin, Sql(EO.bucketedJoin)),
    // iterative BSP graph computation (fixed-point integer PageRank,
    // min-label connected components)
    QuerySpec("graph_pagerank", E.graphPagerank, Sql(EO.graphPagerank)),
    QuerySpec("graph_hits", E.graphHits, Sql(EO.graphHits)),
    QuerySpec("graph_modularity", E.graphModularity, Sql(EO.graphModularity)),
    QuerySpec("graph_conductance", E.graphConductance, Sql(EO.graphConductance)),
    QuerySpec("graph_modularity_volume", E.graphModularityVolume, Sql(EO.graphModularityVolume)),
    QuerySpec("graph_hits_volume", E.graphHitsVolume, Sql(EO.graphHitsVolume)),
    // shared with the i64 path — wide arithmetic must not change a rank
    QuerySpec("graph_pagerank_wide", E.graphPagerankWide, Sql(EO.graphPagerank)),
    QuerySpec("graph_pagerank_weighted", E.graphPagerankWeighted, Sql(EO.graphPagerankWeighted)),
    QuerySpec("graph_pagerank_volume", E.graphPagerankVolume, Sql(EO.graphPagerankVolume)),
    QuerySpec("graph_ppr_volume", E.graphPprVolume, Sql(EO.graphPprVolume)),
    QuerySpec("graph_pagerank_weighted_volume", E.graphPagerankWeightedVolume, Sql(EO.graphPagerankWeightedVolume)),
    QuerySpec("graph_cc_volume", E.graphCcVolume, Sql(EO.graphCcVolume)),
    QuerySpec("graph_sssp_volume", E.graphSsspVolume, Sql(EO.graphSsspVolume)),
    QuerySpec("graph_ppr", E.graphPpr, Sql(EO.graphPpr)),
    QuerySpec("graph_cc", E.graphCc, Sql(EO.graphCc)),
    QuerySpec("graph_scc", E.graphScc, Sql(EO.graphScc)),
    QuerySpec("graph_scc_volume", E.graphSccVolume, Sql(EO.graphSccVolume)),
    QuerySpec("graph_kcore_volume", E.graphKcoreVolume, Sql(EO.graphKcoreVolume)),
    QuerySpec("graph_lpa_volume", E.graphLpaVolume, Sql(EO.graphLpaVolume)),
    QuerySpec("graph_triangles_volume", E.graphTrianglesVolume, Sql(EO.graphTrianglesVolume)),
    QuerySpec("graph_sssp", E.graphSssp, Sql(EO.graphSssp)),
    QuerySpec("graph_reciprocity", E.graphReciprocity, Sql(EO.graphReciprocity)),
    QuerySpec("corpus_novelty", E.corpusNovelty, Sql(EO.corpusNovelty)),
    QuerySpec("corpus_dup_hist", E.corpusDupHist, Sql(EO.corpusDupHist)),
    QuerySpec("graph_harmonic", E.graphHarmonic, Sql(EO.graphHarmonic)),
    QuerySpec("graph_harmonic_hll", E.graphHarmonicHll, Sql(EO.graphHarmonicHll)),
    QuerySpec("graph_nf", E.graphNf, Sql(EO.graphNf)),
    QuerySpec("graph_nf_hll", E.graphNfHll, Sql(EO.graphNfHll)),
    QuerySpec("graph_triangles", E.graphTriangles, Sql(EO.graphTriangles)),
    QuerySpec("graph_clustering", E.graphClustering, Sql(EO.graphClustering)),
    QuerySpec("graph_linkpred", E.graphLinkpred, Sql(EO.graphLinkpred)),
    QuerySpec("graph_linkpred_volume", E.graphLinkpredVolume, Sql(EO.graphLinkpredVolume)),
    QuerySpec("graph_kcore", E.graphKcore, Sql(EO.graphKcore)),
    QuerySpec("graph_lpa", E.graphLpa, Sql(EO.graphLpa)),
    QuerySpec("graph_coaccess", E.graphCoaccess, Sql(EO.graphCoaccess)),
    QuerySpec("graph_betweenness", E.graphBetweenness, Sql(EO.graphBetweenness)),
    QuerySpec("graph_betweenness_volume", E.graphBetweennessVolume, Sql(EO.graphBetweennessVolume)),
    // temporal warehouse maintenance: SCD2 validity ranges, interval algebra
    QuerySpec("scd2_history", E.scd2History, Sql(EO.scd2History)),
    // shared with the full rebuild — merge ≡ rebuild is the gate
    QuerySpec("scd2_merge", E.scd2Merge, Sql(EO.scd2History)),
    QuerySpec("scd2_lookup", E.scd2Lookup, Sql(EO.scd2Lookup)),
    QuerySpec("events_anomaly", E.eventsAnomaly, Sql(EO.eventsAnomaly)),
    QuerySpec("events_retention", E.eventsRetention, Sql(EO.eventsRetention)),
    QuerySpec("events_retention_weekly", E.eventsRetentionWeekly, Sql(EO.eventsRetentionWeekly)),
    QuerySpec("events_stickiness", E.eventsStickiness, Sql(EO.eventsStickiness)),
    QuerySpec("events_changepoint", E.eventsChangepoint, Sql(EO.eventsChangepoint)),
    QuerySpec("interval_merge", E.intervalMerge, Sql(EO.intervalMerge)),
    QuerySpec("interval_join", E.intervalJoin, Sql(EO.intervalJoin)),
    QuerySpec("dq_drift", E.dqDrift, Sql(EO.dqDrift)),
    QuerySpec("cdc_apply", E.cdcApply, Sql(EO.cdcApply)),
    QuerySpec("cdc_apply_stored", E.cdcApplyStored, Sql(EO.cdcApplyStored)),
    // shared with merge-on-read — the compacted rewrite ≡ merged read is the gate
    QuerySpec("cdc_compact_rewrite", E.cdcCompactRewrite, Sql(EO.cdcApplyStored)),
    QuerySpec("cdc_time_travel", E.cdcTimeTravel, Sql(EO.cdcTimeTravel)),
    QuerySpec("layout_compact_stored", E.layoutCompactStored, Sql(EO.layoutCompactStored)),
    QuerySpec("layout_zonemap_stored", E.layoutZonemapStored, Sql(EO.layoutZonemapStored)),
    QuerySpec("index_inverted_stored", E.indexInvertedStored, Sql(EO.indexInvertedStored)),
    QuerySpec("index_bm25_probe", E.indexBm25Probe, Sql(EO.indexBm25Probe)),
    QuerySpec("index_phrase_probe", E.indexPhraseProbe, Sql(EO.indexPhraseProbe)),
    QuerySpec("index_bm25_phrase", E.indexBm25Phrase, Sql(EO.indexBm25Phrase)),
    // shared with the full-index probe — merge-on-read ≡ full is the gate
    QuerySpec("index_inverted_delta", E.indexInvertedDelta, Sql(EO.indexInvertedStored)),
    QuerySpec("index_trgm_probe", E.indexTrgmProbe, Sql(EO.indexTrgmProbe)),
    QuerySpec("dq_expectations", E.dqExpectations, Sql(EO.dqExpectations)),
    QuerySpec("emb_knn_graph", E.embKnnGraph, Sql(EO.embKnnGraph)),
    QuerySpec("emb_mmr", E.embMmr, Sql(EO.embMmr)),
    QuerySpec("emb_pca_power", E.embPcaPower, Sql(EO.embPcaPower)),
    QuerySpec("emb_trunc_recall", E.embTruncRecall, Sql(EO.embTruncRecall)),
    // §2.7 streaming operators, drained to deterministic batch shapes
    QuerySpec("stream_session", SQ.streamSession, Sql(SO.streamSession)),
    QuerySpec("stream_session_native", SQ.streamSessionNative, Sql(SO.streamSessionNative)),
    QuerySpec("stream_dedup", SQ.streamDedup, Sql(SO.streamDedup)),
    QuerySpec("stream_join", SQ.streamJoin, Sql(SO.streamJoin)),
    QuerySpec("stream_join_outer", SQ.streamJoinOuter, Sql(SO.streamJoinOuter)),
    QuerySpec("stream_window", SQ.streamWindow, Sql(SO.streamWindow)),
    // shared with the batch twin — drain ≡ batch is the gate
    QuerySpec("stream_retention", SQ.streamRetention, Sql(EO.eventsRetention)),
    // shared with the batch twin — drain ≡ batch is the gate
    QuerySpec("stream_changepoint", SQ.streamChangepoint, Sql(EO.eventsChangepoint)),
    // shared with the batch twin — drain ≡ batch is the gate
    QuerySpec("stream_drift", SQ.streamDrift, Sql(EO.dqDrift)),
    QuerySpec("stream_window_append", SQ.streamWindowAppend, Sql(SO.streamWindowAppend)),
    QuerySpec("stream_funnel", SQ.streamFunnel, Sql(SO.streamFunnel)),
    QuerySpec("stream_topk", SQ.streamTopK, Sql(SO.streamTopK)),
    QuerySpec("stream_asof", SQ.streamAsof, Sql(SO.streamAsof)),
    QuerySpec("stream_interval", SQ.streamInterval, Sql(SO.streamInterval)),
    QuerySpec("stream_decontam", SQ.streamDecontam, Sql(SO.streamDecontam)),
    QuerySpec("stream_minhash", SQ.streamMinhash, Sql(SO.streamMinhash)),
    // shared with the batch twin — drain ≡ batch is the gate
    QuerySpec("stream_cdc", SQ.streamCdc, Sql(EO.cdcApply)),
    QuerySpec("stream_scd", SQ.streamScd, Sql(SO.streamScd)),
    QuerySpec("stream_hll_daily", SQ.streamHllDaily, Sql(SO.streamHllDaily)),
    QuerySpec("stream_curate", SQ.streamCurate, Sql(SO.streamCurate)),
    // shared with the batch twin — drain ≡ batch is the gate
    QuerySpec("stream_classify", SQ.streamClassify, Sql(EO.embClassify)),
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(s => s.name -> s.build).toMap

  val oracleSql: Map[String, String] =
    specs.collect { case QuerySpec(name, _, Sql(text)) => name -> text }.toMap

  /** The specs named by a dev subset argument, in declaration order;
    * an unknown name fails with every bad name listed. */
  def resolve(names: Seq[String]): Seq[QuerySpec] = {
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    specs.filter(s => names.contains(s.name))
  }
}
