package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._
import graft.sources.Catalog

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every implemented operator has a `queries` entry; every
  * SQL-expressible one also has an `oracleSql` entry (DuckDB dialect)
  * producing the SAME column names and rounded values.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- relational backbone -------------------------------------
    "q1_pricing_summary"  -> Relational.pricingSummary _,
    "q3_shipping_priority" -> Relational.shippingPriority _,
    "q5_local_supplier"   -> Relational.localSupplierVolume _,
    "topk_per_group"      -> Relational.topOrdersPerSegment _,
    "events_json_extract" -> Relational.eventsJsonExtract _,
    "q4_priority_returns" -> Relational.orderPriorityReturns _,
    "q10_returned_items"  -> Relational.returnedItemsRevenue _,
    "q6_revenue_change"   -> Relational.revenueChange _,
    "q19_discounted_revenue" -> Relational.discountedRevenue _,
    "q14_promo_revenue"      -> Relational.promoRevenueShare _,
    "order_ship_lag"         -> Relational.orderShipLag _,
    "supplier_concentration" -> Relational.supplierConcentration _,
    "events_value_histogram" -> Relational.eventsValueHistogram _,
    "q7_volume_shipping"  -> Relational.volumeShipping _,
    "q8_market_share"     -> Relational.marketShare _,
    "distinct_users_daily" -> Relational.distinctUsersDaily _,
    "dau_mau_stickiness"  -> Relational.dauMauStickiness _,
    "distinct_users_daily_approx" -> Relational.distinctUsersDailyApprox _,
    // --- time-series ---------------------------------------------
    "ts_resample_daily"      -> TimeSeries.resampleDaily _,
    "ts_resample_weekly_max" -> TimeSeries.resampleWeeklyMax _,
    "ts_resample_monthly"    -> TimeSeries.resampleMonthlyScaled _,
    "ts_rolling_sum"         -> TimeSeries.rollingSum _,
    "ts_rolling_sum_range"   -> TimeSeries.rollingSumRange _,
    "ts_cumsum"              -> TimeSeries.cumSum _,
    "ts_cumsum_clamped"      -> TimeSeries.cumSumClamped _,
    "ts_cusum_drift"         -> TimeSeries.cusumDrift _,
    "ts_asof_join"           -> TimeSeries.asofJoin _,
    "ts_asof_tolerance"      -> TimeSeries.asofJoinTolerance _,
    "ts_gapfill"             -> TimeSeries.gapFill _,
    "ts_lag_delta"           -> TimeSeries.lagDelta _,
    "ts_sessionize"          -> TimeSeries.sessionize _,
    "events_funnel"          -> TimeSeries.eventsFunnel _,
    "events_retention"       -> TimeSeries.eventsRetention _,
    "ts_rolling_anomaly"     -> TimeSeries.rollingAnomaly _,
    "ts_interp_linear"       -> TimeSeries.interpLinear _,
    "ts_ewma"                -> TimeSeries.ewma _,
    "ts_rolling_median"      -> TimeSeries.rollingMedian _,
    "ts_outlier_mad"         -> TimeSeries.outlierMad _,
    "ts_m4_downsample"       -> TimeSeries.m4Downsample _,
    "ts_lttb_downsample"     -> TimeSeries.lttbDownsample _,
    "ts_trend"               -> TimeSeries.trend _,
    "ts_theil_sen"           -> TimeSeries.theilSen _,
    "ts_hurst"               -> TimeSeries.tsHurst _,
    "ts_spectral_entropy"    -> TimeSeries.spectralEntropy _,
    "ts_effective_n"         -> TimeSeries.effectiveN _,
    "funnel_latency"         -> TimeSeries.funnelLatency _,
    "events_entropy_rate"    -> TimeSeries.eventsEntropyRate _,
    "ts_seasonal_strength"   -> TimeSeries.seasonalStrength _,
    "events_dow_hour_heatmap" -> TimeSeries.eventsDowHourHeatmap _,
    "ts_missing_report"      -> TimeSeries.tsMissingReport _,
    "ts_benford"             -> TimeSeries.benfordScreen _,
    "ts_mann_kendall"        -> TimeSeries.mannKendall _,
    "ts_seasonal_mk"         -> TimeSeries.seasonalMannKendall _,
    "ts_drawdown"            -> TimeSeries.drawdown _,
    "ts_pctl_of_record"      -> TimeSeries.percentileOfRecord _,
    "ts_runs_test"           -> TimeSeries.runsTest _,
    "ts_mann_whitney"        -> TimeSeries.mannWhitney _,
    "ts_coverage_uptime"     -> TimeSeries.coverageUptime _,
    "ts_extreme_day_freq"    -> TimeSeries.extremeDayFreq _,
    "ts_autocorr"            -> TimeSeries.autocorr _,
    "ts_ljung_box"           -> TimeSeries.ljungBox _,
    "ts_changepoint"         -> TimeSeries.changepoint _,
    "ts_holt_forecast"       -> TimeSeries.holtForecast _,
    "ts_periodogram"         -> TimeSeries.periodogram _,
    "ts_cross_corr_ref"      -> TimeSeries.crossCorrRef _,
    "ts_dtw_ref"             -> TimeSeries.dtwRef _,
    "ts_seasonal_decompose"  -> TimeSeries.seasonalDecompose _,
    "events_burst_flag"      -> TimeSeries.burstFlag _,
    "events_markov"          -> TimeSeries.eventsMarkov _,
    "ts_climatology_anomaly" -> TimeSeries.climatologyAnomaly _,
    "interval_join"          -> TimeSeries.intervalJoin _,
    // --- geo/climate analytics -----------------------------------
    "spi_zscore"            -> Climate.spiZscore _,
    "drought_episodes"      -> Climate.droughtEpisodes _,
    "spi_gamma"             -> Climate.spiGamma _,
    // climatology fit on the first half of the span, applied to all —
    // the reference's fixed 1980-2010 reference period, scaled down
    "spi_gamma_ref"         -> ((s, d) => Climate.spiGammaRef(s, d, 7,
      "2024-01-01T00:00:00Z", "2024-01-16T00:00:00Z")),
    "bias_delta"            -> Climate.biasDelta _,
    "bias_reconstruct"      -> Climate.biasReconstruct _,
    "bias_qmap"             -> Climate.biasQmap _,
    "bias_qmap_key"         -> Climate.biasQmapKey _,
    "bias_qmap_spline"      -> Climate.biasQmapSpline _,
    "bias_bspline_apply"    -> Climate.biasBsplineApply _,
    "bias_parametric_apply" -> Climate.biasParametricApply _,
    "bias_qdm"              -> Climate.biasQdm _,
    "bias_skill"            -> Climate.biasSkill _,
    "forecast_crps"         -> Climate.forecastCrps _,
    "forecast_brier"        -> Climate.forecastBrier _,
    "forecast_reliability"  -> Climate.forecastReliability _,
    "forecast_rank_hist"    -> Climate.forecastRankHist _,
    "rating_curve"          -> Climate.ratingCurve _,
    "rating_curve_station"  -> Climate.ratingCurveStation _,
    "rating_volume_daily"   -> Climate.ratingVolumeDaily _,
    "danger_levels"         -> Climate.dangerLevels _,
    "return_levels"         -> Climate.returnLevels _,
    "ts_pot_gpd"            -> Climate.potGpd _,
    "flow_duration_curve"   -> Climate.flowDurationCurve _,
    "baseflow_lh"           -> Climate.baseflowLh _,
    "pet_hargreaves"        -> Climate.petHargreaves _,
    "pet_oudin"             -> Climate.petOudin _,
    "spei_zscore"           -> Climate.speiZscore _,
    "growing_degree_days"   -> Climate.growingDegreeDays _,
    "heat_wave_episodes"    -> Climate.heatWaveEpisodes _,
    "snow_pack_ddm"         -> Climate.snowPackDdm _,
    "ts_freeze_thaw"        -> Climate.freezeThawCycles _,
    "ts_recession_k"        -> Climate.recessionConstant _,
    "ts_double_mass"        -> Climate.doubleMass _,
    "station_neighbor_corr" -> Climate.stationNeighborCorr _,
    "spi_multiscale"        -> Climate.spiMultiscale _,
    "spi_ensemble_median"   -> Climate.spiEnsembleMedian _,
    "forecast_deficit_bands" -> Climate.forecastDeficitBands _,
    "grid_contour_bands"    -> Climate.gridContourBands _,
    "grid_polygonize"       -> Polygonize.gridPolygonize _,
    "grid_contour_lines"    -> Polygonize.gridContourLines _,
    "spi_ensemble_gamma"    -> Climate.spiEnsembleGamma _,
    "zonal_stats"           -> Climate.zonalStats _,
    "zonal_class_area"      -> Climate.zonalClassArea _,
    "zonal_drought_extent"  -> Climate.zonalDroughtExtent _,
    "zonal_transitions"     -> Climate.zonalTransitions _,
    "zonal_spi"             -> Climate.zonalSpi _,
    "zonal_spi_quantiles"   -> Climate.zonalSpiQuantiles _,
    "zonal_spi_quantiles_approx" -> Climate.zonalSpiQuantilesApprox _,
    "zonal_poly_spi"        -> Climate.zonalPolySpi _,
    "grid_regrid"           -> Climate.gridRegrid _,
    "grid_sample_poi"       -> Climate.gridSamplePoi _,
    "grid_idw"              -> Climate.gridIdw _,
    "forecast_skill"        -> Climate.forecastSkill _,
    "tokenizer_fertility"   -> TextOps.tokenizerFertility _,
    "grid_coarsen"          -> Climate.gridCoarsen _,
    "grid_pyramid"          -> Climate.gridPyramid _,
    "grid_gradient"         -> Climate.gridGradient _,
    "grid_curvature"        -> Climate.gridCurvature _,
    "climate_etccdi"        -> Climate.etccdiIndices _,
    "climate_etccdi_temp"   -> Climate.etccdiTemperature _,
    "grid_tpi"              -> Climate.gridTpi _,
    "grid_ruggedness"       -> Climate.gridRuggedness _,
    "ts_extremal_index"     -> Climate.extremalIndex _,
    "grid_aspect_rose"      -> Climate.gridAspectRose _,
    "grid_hillshade"        -> Climate.gridHillshade _,
    "grid_flow_dir"         -> Climate.gridFlowDir _,
    "grid_flow_acc"         -> Climate.gridFlowAcc _,
    "grid_watershed"        -> Climate.gridWatershed _,
    "grid_fill_nodata"      -> Climate.gridFillNodata _,
    "bbox_filter"           -> Climate.bboxFilter _,
    "extent_summary"        -> Climate.extentSummary _,
    "healthcheck_freshness" -> Climate.healthcheckFreshness _,
    "catalog_health"        -> Catalog.health _,
    "catalog_diff"          -> Catalog.registryDiff _,
    "catalog_name_normalize" -> Catalog.nameNormalize _,
    "catalog_maps_registry" -> Catalog.mapsRegistry _,
    "schedule_due"          -> graft.sources.Schedule.scheduleDue _,
    "obs_upsert_merge"      -> graft.sources.Ingest.obsUpsertMerge _,
    "obs_collection_extents" -> graft.sources.Ingest.obsCollectionExtents _,
    "ftp_hydro_select"      -> graft.sources.Ingest.ftpHydroSelect _,
    "stations_reproject"    -> Geo.stationsReproject _,
    "grid_affine_stack"     -> graft.sources.Grids.gridAffineStack _,
    "grid_asc_decode"       -> graft.sources.Grids.gridAscDecode _,
    "grid_tiff_decode"      -> graft.sources.Grids.gridTiffDecode _,
    "grid_nc_decode"        -> graft.sources.NetCdf.gridNcDecode _,
    "grid_grib_decode"      -> graft.sources.Grib.gridGribDecode _,
    "grid_h5_decode"        -> graft.sources.Hdf5.gridH5Decode _,
    "grid_h5_text"          -> graft.sources.Hdf5.gridH5Text _,
    // ROWS-ONLY by declaration: DuckDB cannot decode JPEG; the gate
    // is JpegSpec's cross-implementation differential + stat bounds
    "image_jpeg_stats"      -> graft.sources.Jpeg.imageJpegStats _,
    "video_frame_index"     -> graft.sources.Mp4.videoFrameIndex _,
    "video_keyframe_sample" -> graft.sources.Mp4.videoKeyframeSample _,
    "video_codec_meta"      -> graft.sources.Mp4.videoCodecMeta _,
    "audio_mp3_index"       -> graft.sources.AudioFrames.audioMp3Index _,
    "audio_adts_index"      -> graft.sources.AudioFrames.audioAdtsIndex _,
    "audio_ogg_index"       -> graft.sources.AudioFrames.audioOggIndex _,
    "audio_flac_meta"       -> graft.sources.AudioFrames.audioFlacMeta _,
    "audio_flac_decode"     -> graft.sources.AudioFrames.audioFlacDecode _,
    "stac_search_items"     -> graft.sources.Stac.stacSearchItems _,
    "grid_zarr_decode"      -> graft.sources.Zarr.gridZarrDecode _,
    "phenology_slices"      -> graft.sources.Zarr.phenologySlices _,
    "zarr_publish_roundtrip" -> graft.sources.Zarr.zarrPublishRoundtrip _,
    "audio_wav_stats"       -> graft.sources.Wav.audioWavStats _,
    "image_png_stats"       -> graft.sources.Png.imagePngStats _,
    "video_container_meta"  -> graft.sources.Mp4.videoContainerMeta _,
    "image_resize_pyramid"  -> graft.sources.Png.imageResizePyramid _,
    "audio_resample_pcm"    -> graft.sources.Wav.audioResamplePcm _,
    "multimodal_container_meta" -> Multimodal.containerMeta _,
    "spi_forecast_coverage" -> Climate.spiForecastCoverage _,
    "rijn_deficit_weekly"   -> Climate.rijnDeficitWeekly _,
    "items_query"           -> Serving.itemsQuery _,
    "items_tiles"           -> Serving.itemsTiles _,
    "items_page_cursor"     -> Serving.itemsPageCursor _,
    "features_items"        -> Serving.featuresItems _,
    "features_extent"       -> Serving.featuresExtent _,
    "station_feature_series" -> Serving.stationFeatureSeries _,
    // --- LLM pipeline: text + exact dedup ------------------------
    "dedup_exact"     -> TextOps.dedupExact _,
    "dedup_report"    -> TextOps.dedupReport _,
    "lang_id"         -> TextOps.langId _,
    "lang_id_confusion" -> TextOps.langIdConfusion _,
    "text_quality"    -> TextOps.textQuality _,
    "quality_rules"   -> TextOps.qualityRules _,
    "quality_funnel"  -> TextOps.qualityFunnel _,
    "token_count"     -> TextOps.tokenCount _,
    "doc_fingerprint" -> TextOps.docFingerprint _,
    "corpus_sample"   -> TextOps.corpusSample _,
    "text_repetition" -> TextOps.textRepetition _,
    "corpus_clean"    -> TextOps.corpusClean _,
    "vocab_topk"      -> TextOps.vocabTopk _,
    "vocab_heavy_hitters" -> TextOps.vocabHeavyHitters _,
    "ngram_novelty"   -> TextOps.ngramNovelty _,
    "corpus_contamination" -> TextOps.corpusContamination _,
    "boilerplate_ngrams"   -> TextOps.boilerplateNgrams _,
    "dedup_repeated_spans" -> TextOps.dedupRepeatedSpans _,
    "dedup_spans_apply"    -> TextOps.dedupSpansApply _,
    "bpe_pair_counts" -> TextOps.bpePairCounts _,
    "bpe_train_merges" -> TextOps.bpeTrainMerges _,
    "dup_growth"      -> TextOps.dupGrowth _,
    "length_drift_psi" -> TextOps.lengthDriftPsi _,
    "vocab_coverage"  -> TextOps.vocabCoverage _,
    "vocab_growth"    -> TextOps.vocabGrowth _,
    "corpus_stats"    -> TextOps.corpusStats _,
    "corpus_mix"      -> TextOps.corpusMix _,
    "corpus_mix_temperature" -> TextOps.corpusMixTemperature _,
    "corpus_mix_docs" -> TextOps.corpusMixDocs _,
    "doc_keywords"    -> TextOps.docKeywords _,
    "pii_scrub"       -> TextOps.piiScrub _,
    "corpus_split"    -> TextOps.corpusSplit _,
    "corpus_shard_manifest" -> TextOps.corpusShardManifest _,
    "corpus_curriculum_order" -> TextOps.corpusCurriculumOrder _,
    "quality_signal_corr"   -> TextOps.qualitySignalCorr _,
    "vocab_zipf_fit"        -> TextOps.vocabZipfFit _,
    "lang_mismatch_by_source" -> TextOps.langMismatchBySource _,
    "corpus_split_leakage_safe" -> TextOps.corpusSplitSafe _,
    "corpus_rag_chunks" -> TextOps.ragChunks _,
    "pack_sequences"  -> TextOps.packSequences _,
    "doc_lm_score"    -> TextOps.docLmScore _,
    "bigram_pmi"      -> TextOps.bigramPmi _,
    // --- LLM pipeline: near-dup + similarity ---------------------
    "dedup_ngram_jaccard" -> Dedup.ngramJaccard _,
    "dedup_incremental"   -> Dedup.dedupIncremental _,
    "dedup_containment"   -> Dedup.ngramContainment _,
    "decontaminate"       -> Dedup.decontaminate _,
    "contamination_by_source" -> Dedup.contaminationBySource _,
    "source_overlap"      -> Dedup.sourceOverlap _,
    "dedup_survivorship"  -> Dedup.dedupSurvivorship _,
    "dedup_survivorship_apply" -> Dedup.dedupSurvivorshipApply _,
    "dedup_savings"       -> Dedup.dedupSavings _,
    "dedup_clusters"      -> Dedup.dedupClusters _,
    "dedup_minhash_lsh"   -> Dedup.minhashLsh _,
    "dedup_lsh_audit"     -> Dedup.lshRecallAudit _,
    "dedup_lsh_audit_sampled" -> Dedup.lshRecallAuditSampled _,
    "quality_vs_dup"      -> Dedup.qualityVsDup _,
    "dedup_simhash"       -> Dedup.simhash _,
    "dedup_chunks"        -> Dedup.dedupChunks _,
    "dedup_chunks_apply"  -> Dedup.dedupChunksApply _,
    "dedup_embedding"     -> Similarity.embeddingPairs _,
    "dedup_embedding_incremental" -> Similarity.embeddingIncremental _,
    "dedup_embedding_lsh" -> Similarity.embeddingPairsLsh _,
    "dedup_embedding_lsh_audit" -> Similarity.embeddingLshAudit _,
    "dedup_embedding_lsh_audit_sampled" -> Similarity.embeddingLshAuditSampled _,
    "ann_topk_bruteforce" -> Similarity.annTopkBruteforce _,
    "embedding_contamination" -> Similarity.embeddingContamination _,
    "ann_lsh_topk"        -> Similarity.annLshTopk _,
    "ann_recall_audit"    -> Similarity.annRecallAudit _,
    "ann_recall_audit_sampled" -> Similarity.annRecallAuditSampled _,
    "ann_matryoshka_audit" -> Similarity.annMatryoshkaAudit _,
    "ann_ivf_topk"        -> Similarity.annIvfTopk _,
    "ann_ivf_two_level"   -> Similarity.annIvfTwoLevel _,
    "ann_ivf_two_level_topk" -> Similarity.annIvfTwoLevelTopk _,
    "ann_two_level_recall_audit" -> Similarity.annTwoLevelRecallAudit _,
    "ann_nprobe_sweep"    -> Similarity.annNprobeSweep _,
    "ann_nlist_sweep"     -> Similarity.annNlistSweep _,
    "ann_pq_topk"         -> Similarity.annPqTopk _,
    "knn_graph"           -> Similarity.knnGraph _,
    "knn_graph_mutuality" -> Similarity.knnGraphMutuality _,
    "embedding_intrinsic_dim" -> Similarity.embeddingIntrinsicDim _,
    "knn_graph_ivf"       -> Similarity.knnGraphIvf _,
    "dedup_semantic"      -> Similarity.dedupSemantic _,
    "dedup_semantic_sweep" -> Similarity.semanticSweep _,
    "embedding_label_purity" -> Similarity.embeddingLabelPurity _,
    "embedding_covariance" -> Similarity.embeddingCovariance _,
    "embedding_whiten"    -> Similarity.embeddingWhiten _,
    "embedding_centroids" -> Similarity.embeddingCentroids _,
    "embedding_drift"     -> Similarity.embeddingDrift _,
    "embedding_quantize"  -> Similarity.embeddingQuantize _,
    "embedding_outliers"  -> Similarity.embeddingOutliers _,
    "embedding_norm_audit" -> Similarity.embeddingNormAudit _,
    "multimodal_features" -> Multimodal.features _,
    "multimodal_frames"   -> ((s, d) => Multimodal.frameSample(s, d)),
    "multimodal_stats"    -> Multimodal.mediaStats _,
    "multimodal_dedup"    -> Multimodal.payloadDedup _,
    "multimodal_resample" -> Multimodal.payloadResample _,
  )

  /** SQL for one simple ring's even-odd ray-casting point-in-polygon
    * test — generated from the SAME vertex data the Spark plan uses
    * ([[Climate.pointInPoly]] over [[Climate.basinPolygons]]), edge
    * for edge: half-open latitude span, cross-multiplied abscissa
    * comparison with the inequality direction baked from the literal
    * sign of (y2−y1), horizontal edges dropped. Both engines run the
    * identical division-free multiply chain bit-for-bit. */
  /** VALUES rows for the periodogram's literal trig-weight table —
    * the SAME Scala-rendered doubles the Spark plan embeds, so both
    * engines parse identical bits (the polyCondSql literal pattern). */
  private def pgramWeightRows: String =
    graft.operators.TimeSeries.PgramPeriods.flatMap { t =>
      val cw = graft.operators.TimeSeries.pgramCos(t)
      val sw = graft.operators.TimeSeries.pgramSin(t)
      (0 until t).map(r => s"($t, $r, ${cw(r)}, ${sw(r)})")
    }.mkString(", ")

  private def polyCondSql(verts: Seq[(Double, Double)]): String = {
    val crossings = verts.indices.flatMap { i =>
      val (x1, y1) = verts(i)
      val (x2, y2) = verts((i + 1) % verts.size)
      if (y1 == y2) None
      else {
        val op = if (y2 > y1) "<" else ">"
        Some(s"(CASE WHEN (($y1 > lat) != ($y2 > lat)) AND " +
          s"((lon - ($x1)) * (${y2 - y1}) $op (lat - ($y1)) * (${x2 - x1}))" +
          " THEN 1 ELSE 0 END)")
      }
    }
    s"(${crossings.mkString(" + ")}) % 2 = 1"
  }

  private def basinCaseSql: String =
    Climate.basinPolygons.map { case (id, vs) =>
      s"WHEN ${polyCondSql(vs)} THEN $id"
    }.mkString("CASE ", " ", " ELSE NULL END")

  /** ln Γ SQL (Lanczos g=7) — operation-for-operation the rendering
    * of [[graft.functions.StatKernels.lnGamma]], constants taken from
    * the SAME array the kernel uses, so both engines run the
    * identical multiply/divide/ln chain (left-associated exactly like
    * the Scala fold). */
  private def lnGammaSql(v: String): String = {
    val pi = math.Pi.toString
    def pos(e: String): String = {
      val zz = s"($e - 1.0)"
      val asum = graft.functions.StatKernels.LanczosC.zipWithIndex.map {
        case (c0, 0) => c0.toString
        case (ci, i) => s"$ci / ($zz + $i.0)"
      }.mkString(" + ")
      val t = s"($zz + 7.0 + 0.5)"
      s"(0.5 * ln(2.0 * $pi) + ($zz + 0.5) * ln$t - $t + ln($asum))"
    }
    s"(CASE WHEN $v < 0.5 THEN ln($pi / sin($pi * $v)) - ${pos(s"(1.0 - $v)")}" +
      s" ELSE ${pos(v)} END)"
  }

  /** Full gamma-SPI oracle: Thom fit (SQL aggregates) → regularized
    * lower incomplete gamma P(a, x/β) via the SAME power series and
    * Lentz continued fraction as [[graft.functions.StatKernels
    * .gammaP]], expressed as recursive CTEs stepping the identical
    * recurrences with the identical constants and convergence tests
    * (1e-14, 500 iterations, 1e-300 floor) → zero-correction
    * H = q0 + (1−q0)·G → clamp → A&S 26.2.23 normal quantile. Every
    * operation SEQUENCE matches the Scala kernels, so the two
    * engines' doubles agree to the last few ulps and the final
    * floor-quantization is the only rounding step; DuckDB can
    * therefore hash-check the full fit+apply path even though it has
    * no incomplete-gamma builtin.
    *
    * `accSql` must yield (event_id, keys…, [carry…,] x); the result
    * has columns (event_id, keys…, carry…, accum, spi) matching
    * [[graft.operators.Climate.spiGammaApply]]. `ridSql` must be a
    * DETERMINISTIC per-row unique id over acc's columns (NOT
    * row_number() — DuckDB inlines the CTE at each of its four
    * references and would re-number in nondeterministic order,
    * misaligning the joins). */
  /** The text_quality oracle body — factored out because the
    * curriculum-order query consumes the quality score (composition
    * mirrored on both sides). */
  private val textQualitySql: String =
    """WITH t AS (
      |  SELECT doc_id, n_chars, text,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents
      |), u AS (SELECT doc_id, n_chars, text, toks, len(toks) AS n_tokens FROM t)
      |SELECT doc_id,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  round((len(list_filter(toks, x -> x = 'the')) + len(list_filter(toks, x -> x = 'a')))
      |    / CAST(n_tokens AS DOUBLE), 4) AS stop_ratio,
      |  round(len(regexp_replace(text, '[^0-9]', '', 'g')) / CAST(n_chars AS DOUBLE), 4) AS digit_ratio,
      |  round((n_chars - (n_tokens - 1)) / CAST(n_tokens AS DOUBLE), 4) AS mean_token_len,
      |  round(least(1.0, n_tokens / 100.0)
      |    * (1.0 - round((len(list_filter(toks, x -> x = 'the')) + len(list_filter(toks, x -> x = 'a')))
      |                   / CAST(n_tokens AS DOUBLE), 4)), 4) AS quality_score
      |FROM u""".stripMargin

  /** The forecast_deficit_bands oracle body — factored out because
    * the rijnland weekly product consumes the q50 band as its input
    * (composition mirrored on both sides). */
  private val deficitBandsSql: String =
    """WITH md AS (
      |  SELECT user_id, event_id % 5 AS member,
      |    strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
      |      / (100.0 * count(*)) - 50.0 AS delta
      |  FROM events GROUP BY 1, 2, 3),
      |g AS (
      |  SELECT user_id, day, list_sort(list(delta)) AS ds,
      |    count(*) AS n
      |  FROM md GROUP BY 1, 2),
      |b AS (
      |  SELECT user_id, day, q,
      |    ds[CAST(floor((n - 1) * q) AS INT) + 1]
      |      + ((n - 1) * q - floor((n - 1) * q))
      |        * (ds[least(CAST(floor((n - 1) * q) AS INT) + 2, CAST(n AS INT))]
      |           - ds[CAST(floor((n - 1) * q) AS INT) + 1]) AS band
      |  FROM g CROSS JOIN (VALUES (CAST(0.1 AS DOUBLE)), (CAST(0.3 AS DOUBLE)),
      |    (CAST(0.5 AS DOUBLE)), (CAST(0.7 AS DOUBLE)),
      |    (CAST(0.9 AS DOUBLE))) AS qs(q)),
      |s AS (
      |  SELECT user_id, day, q,
      |    CAST(sum(CAST(floor(band * 1e6 + 0.5) AS BIGINT))
      |      OVER (PARTITION BY user_id, q ORDER BY day
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cs
      |  FROM b)
      |SELECT user_id, day, q,
      |  floor(CAST(cs - least(0, min(cs) OVER (PARTITION BY user_id, q
      |    ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS DOUBLE)
      |    / 100.0 + 0.5) / 1e4 AS deficit
      |FROM s""".stripMargin

  /** The ts_periodogram oracle body — factored out because the
    * spectral-entropy query consumes the power table (composition
    * mirrored on both sides). */
  private def pgramSql: String =
    s"""WITH daily AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', date_trunc('day', ts)) AS x,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sc,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT user_id, CAST(sum(sc) AS DOUBLE) / (sum(cnt) * 100.0) AS ybar
        |  FROM daily GROUP BY 1),
        |dev AS (
        |  SELECT d.user_id, d.x,
        |    (CAST(d.sc AS DOUBLE) / (d.cnt * 100.0)) - s.ybar AS dev
        |  FROM daily d JOIN stats s ON d.user_id = s.user_id),
        |wt(period, r, cw, sw) AS (VALUES $pgramWeightRows),
        |agg AS (
        |  SELECT v.user_id, w.period,
        |    count(*) AS n_days,
        |    CAST(sum(CAST(floor(v.dev * w.cw * 1e6 + 0.5) AS BIGINT))
        |      AS BIGINT) AS c_u,
        |    CAST(sum(CAST(floor(v.dev * w.sw * 1e6 + 0.5) AS BIGINT))
        |      AS BIGINT) AS s_u
        |  FROM dev v JOIN wt w ON v.x % w.period = w.r
        |  GROUP BY 1, 2)
        |SELECT user_id, CAST(period AS BIGINT) AS period,
        |  CAST(n_days AS BIGINT) AS n_days,
        |  floor((CAST(c_u AS DOUBLE) * CAST(c_u AS DOUBLE)
        |    + CAST(s_u AS DOUBLE) * CAST(s_u AS DOUBLE))
        |    / (n_days * n_days) / 1e12 * 1e4 + 0.5) / 1e4 AS power
        |FROM agg""".stripMargin

  /** The ts_autocorr oracle body — factored out because the
    * effective-sample-size query consumes the acf table (composition
    * mirrored on both sides). */
  private val acfSql: String =
    """WITH daily AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', date_trunc('day', ts)) AS x,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sc,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT user_id,
        |    CAST(sum(sc) AS DOUBLE) / (sum(cnt) * 100.0) AS ybar
        |  FROM daily GROUP BY 1),
        |dev AS (
        |  SELECT d.user_id, d.x,
        |    (CAST(d.sc AS DOUBLE) / (d.cnt * 100.0)) - s.ybar AS dev
        |  FROM daily d JOIN stats s ON d.user_id = s.user_id),
        |den AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(floor(dev * dev * 1e8 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS den_u,
        |    count(*) AS n_days
        |  FROM dev GROUP BY 1),
        |num AS (
        |  SELECT a.user_id, k.lag,
        |    CAST(sum(CAST(floor(a.dev * b.dev * 1e8 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS num_u,
        |    count(*) AS n_pairs
        |  FROM dev a
        |  JOIN (VALUES (1), (2), (3)) AS k(lag) ON true
        |  JOIN dev b ON b.user_id = a.user_id AND b.x = a.x + k.lag
        |  GROUP BY 1, 2)
        |SELECT n.user_id, n.lag, d.n_days, n.n_pairs,
        |  CASE WHEN n.n_pairs >= 5 AND d.den_u > 0
        |    THEN floor(CAST(n.num_u AS DOUBLE) / d.den_u * 1e4 + 0.5) / 1e4
        |  END AS acf
        |FROM num n JOIN den d ON n.user_id = d.user_id""".stripMargin

  /** The survivorship CTE chain (minhash clusters + quality-ranked
    * members) — factored out so the apply emission and the savings
    * report share one oracle body. Ends with the `m` CTE: cluster
    * members ranked by quality (rn = 1 is the keeper). */
  private val survivorshipMembersSql: String =
    """WITH RECURSIVE sh AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |          for i in range(1, len(toks) - 1)])) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 3
        |), cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |p0 AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM p0
        |  JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |clus AS (
        |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        |  FROM reach GROUP BY src),
        |q AS (
        |  SELECT doc_id,
        |    round(least(1.0, len(toks) / 100.0)
        |      * (1.0 - round((len(list_filter(toks, x -> x = 'the'))
        |                      + len(list_filter(toks, x -> x = 'a')))
        |                     / CAST(len(toks) AS DOUBLE), 4)), 4) AS qs
        |  FROM (SELECT doc_id,
        |          string_split(regexp_replace(lower(trim(text)), '\s+', ' ',
        |            'g'), ' ') AS toks
        |        FROM documents)),
        |m AS (
        |  SELECT c.cluster_id, c.doc_id, q.qs,
        |    row_number() OVER (PARTITION BY c.cluster_id
        |      ORDER BY q.qs DESC, c.doc_id ASC) AS rn
        |  FROM clus c JOIN q ON c.doc_id = q.doc_id)"""
    .stripMargin

  /** The exact-kNN-graph oracle body — factored out because the
    * mutuality audit consumes the edge set (composition mirrored on
    * both sides). */
  private val knnGraphSql: String =
    """WITH p AS (SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pe
      |           FROM embeddings),
      |c AS (SELECT probe_id, vec_id AS nb_id,
      |        list_cosine_similarity(pe, embedding::DOUBLE[]) AS cos
      |      FROM p, embeddings WHERE vec_id != probe_id),
      |r AS (SELECT probe_id, nb_id,
      |        row_number() OVER (PARTITION BY probe_id
      |                           ORDER BY floor(cos * 1e6 + 0.5) / 1e6 DESC, nb_id ASC) AS rk,
      |        floor(cos * 1e4 + 0.5) / 1e4 AS cosine
      |      FROM c)
      |SELECT probe_id AS vec_id, nb_id AS neighbor_id, rk, cosine
      |FROM r WHERE rk <= 5""".stripMargin


  /** The events_markov oracle body — factored out because the
    * entropy-rate query consumes the transition matrix (composition
    * mirrored on both sides). */
  private val markovSql: String =
    """WITH s AS (
      |  SELECT event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS from_type
      |  FROM events),
      |t AS (
      |  SELECT from_type, event_type AS to_type, count(*) AS n_trans
      |  FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2),
      |w AS (
      |  SELECT from_type, to_type, n_trans,
      |    CAST(sum(n_trans) OVER (PARTITION BY from_type) AS BIGINT) AS n_from
      |  FROM t)
      |SELECT from_type, to_type, n_trans, n_from,
      |  floor(CAST(n_trans AS DOUBLE) / n_from * 1e4 + 0.5) / 1e4 AS p
      |FROM w""".stripMargin


  /** The ts_seasonal_decompose oracle body — factored out because
    * the strength query consumes the components (composition
    * mirrored on both sides). */
  private val decomposeSql: String =
    """WITH daily AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', date_trunc('day', ts)) AS x,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM events GROUP BY 1, 2),
        |tr AS (
        |  SELECT user_id, x, cents,
        |    CAST(floor(CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY x
        |      RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS DOUBLE) * 100.0
        |      / count(*) OVER (PARTITION BY user_id ORDER BY x
        |      RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) + 0.5) AS BIGINT)
        |      AS trend_u,
        |    x % 7 AS dow
        |  FROM daily),
        |det AS (
        |  SELECT user_id, x, cents, trend_u, dow,
        |    cents * 100 - trend_u AS det_u
        |  FROM tr),
        |sea AS (
        |  SELECT user_id, x, cents, trend_u, det_u,
        |    CAST(floor(CAST(sum(det_u) OVER (PARTITION BY user_id, dow)
        |      AS DOUBLE) / count(*) OVER (PARTITION BY user_id, dow) + 0.5)
        |      AS BIGINT) AS sea_u
        |  FROM det)
        |SELECT user_id,
        |  strftime(DATE '2024-01-01' + CAST(x AS INTEGER), '%Y-%m-%d') AS day,
        |  CAST(cents AS DOUBLE) / 100.0 AS value,
        |  CAST(trend_u AS DOUBLE) / 1e4 AS trend,
        |  CAST(sea_u AS DOUBLE) / 1e4 AS seasonal,
        |  CAST(det_u - sea_u AS DOUBLE) / 1e4 AS residual
        |FROM sea""".stripMargin

  /** The grid_gradient oracle body — factored out because the aspect
    * rose consumes the per-cell aspect (composition mirrored on both
    * sides). */
  private val gradientSql: String =
    """WITH c AS (
        |  SELECT user_id % 8 AS gy, (user_id // 8) % 8 AS gx,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 10000
        |      AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v_us
        |  FROM events GROUP BY 1, 2)
        |SELECT c.gy, c.gx,
        |  floor((xp.v_us - xm.v_us) / 2.0 + 0.5) / 1e6 AS dzdx,
        |  floor((yp.v_us - ym.v_us) / 2.0 + 0.5) / 1e6 AS dzdy,
        |  floor(sqrt(CAST((xp.v_us - xm.v_us) * (xp.v_us - xm.v_us)
        |    + (yp.v_us - ym.v_us) * (yp.v_us - ym.v_us) AS DOUBLE)) / 2.0 + 0.5)
        |    / 1e6 AS slope,
        |  CASE
        |    WHEN xp.v_us - xm.v_us = 0 AND yp.v_us - ym.v_us = 0 THEN 'flat'
        |    WHEN abs(xp.v_us - xm.v_us) >= 2 * abs(yp.v_us - ym.v_us)
        |      THEN CASE WHEN xp.v_us - xm.v_us > 0 THEN 'E' ELSE 'W' END
        |    WHEN abs(yp.v_us - ym.v_us) >= 2 * abs(xp.v_us - xm.v_us)
        |      THEN CASE WHEN yp.v_us - ym.v_us > 0 THEN 'N' ELSE 'S' END
        |    WHEN xp.v_us - xm.v_us > 0
        |      THEN CASE WHEN yp.v_us - ym.v_us > 0 THEN 'NE' ELSE 'SE' END
        |    ELSE CASE WHEN yp.v_us - ym.v_us > 0 THEN 'NW' ELSE 'SW' END
        |  END AS aspect
        |FROM c
        |JOIN c xp ON xp.gy = c.gy AND xp.gx = c.gx + 1
        |JOIN c xm ON xm.gy = c.gy AND xm.gx = c.gx - 1
        |JOIN c yp ON yp.gy = c.gy + 1 AND yp.gx = c.gx
        |JOIN c ym ON ym.gy = c.gy - 1 AND ym.gx = c.gx""".stripMargin

  /** The lang_id oracle body — factored out because the per-source
    * mismatch census consumes the predictions (composition mirrored
    * on both sides). */
  private val langIdSql: String =
    """WITH t AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(toks, x -> x = 'the')) + len(list_filter(toks, x -> x = 'a'))
        |       + len(list_filter(toks, x -> x = 'data')) + len(list_filter(toks, x -> x = 'fast'))
        |       + len(list_filter(toks, x -> x = 'small')) AS BIGINT) AS score_en,
        |    CAST(len(list_filter(toks, x -> x = 'window')) + len(list_filter(toks, x -> x = 'batch'))
        |       + len(list_filter(toks, x -> x = 'stream')) + len(list_filter(toks, x -> x = 'slow')) AS BIGINT) AS score_de,
        |    CAST(len(list_filter(toks, x -> x = 'merge')) + len(list_filter(toks, x -> x = 'sort'))
        |       + len(list_filter(toks, x -> x = 'join')) + len(list_filter(toks, x -> x = 'line')) AS BIGINT) AS score_fr,
        |    CAST(len(list_filter(toks, x -> x = 'spark')) + len(list_filter(toks, x -> x = 'query'))
        |       + len(list_filter(toks, x -> x = 'vector')) + len(list_filter(toks, x -> x = 'row')) AS BIGINT) AS score_es
        |  FROM t)
        |SELECT doc_id, score_en, score_de, score_fr, score_es,
        |  CASE WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
        |       WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
        |       WHEN score_fr >= score_es THEN 'fr'
        |       ELSE 'es' END AS lang_pred
        |FROM s""".stripMargin

  private def spiGammaSql(accSql: String, keys: Seq[String],
      carry: Seq[String] = Nil, fitWhere: String = "",
      ridSql: String = "acc.event_id", rowsWhere: String = ""): String = {
    val k = keys.mkString(", ")
    val rk = keys.map("r." + _).mkString(", ")
    val rcarry = carry.map(c => s"r.$c, ").mkString
    val ocarry = carry.map(c => s"$c, ").mkString
    s"""WITH RECURSIVE acc AS (
      |$accSql
      |), fit AS (
      |  SELECT $k,
      |    CAST(count(*) AS DOUBLE) AS n,
      |    CAST(sum(CASE WHEN x <= 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n_zero,
      |    avg(CASE WHEN x > 0 THEN x END) AS mean_pos,
      |    avg(CASE WHEN x > 0 THEN ln(x) END) AS mean_ln
      |  FROM acc $fitWhere GROUP BY $k
      |), astat AS (
      |  SELECT *, ln(mean_pos) - mean_ln AS a_stat FROM fit
      |), par0 AS (
      |  SELECT *, (1.0 + sqrt(1.0 + 4.0 * a_stat / 3.0)) / (4.0 * a_stat) AS alpha
      |  FROM astat
      |), par AS (
      |  SELECT *, mean_pos / alpha AS beta, n_zero / n AS q0,
      |    ${lnGammaSql("alpha")} AS lng
      |  FROM par0
      |), rows0 AS (
      |  SELECT $ridSql AS rid, acc.*,
      |    par.alpha, par.beta, par.q0, par.a_stat, par.lng,
      |    acc.x / par.beta AS xs
      |  FROM acc LEFT JOIN par USING ($k) $rowsWhere
      |), ser AS (
      |  SELECT rid, alpha AS a, xs AS z, alpha AS ap,
      |    1.0 / alpha AS s, 1.0 / alpha AS del, 0 AS it
      |  FROM rows0 WHERE x > 0 AND xs < alpha + 1.0
      |  UNION ALL
      |  SELECT rid, a, z, ap + 1.0,
      |    s + del * (z / (ap + 1.0)), del * (z / (ap + 1.0)), it + 1
      |  FROM ser WHERE it < 500 AND abs(del) >= abs(s) * 1e-14
      |), serf AS (
      |  SELECT rid, s FROM ser
      |  WHERE NOT (it < 500 AND abs(del) >= abs(s) * 1e-14)
      |), cf AS (
      |  SELECT rid, alpha AS a, xs AS z, xs + 1.0 - alpha AS b, 1e300 AS c,
      |    1.0 / (xs + 1.0 - alpha) AS d, 1.0 / (xs + 1.0 - alpha) AS h,
      |    1 AS it, FALSE AS done
      |  FROM rows0 WHERE x > 0 AND xs >= alpha + 1.0
      |  UNION ALL
      |  SELECT rid, a, z, b2, c2, 1.0 / d2, h * ((1.0 / d2) * c2), it + 1,
      |    abs(((1.0 / d2) * c2) - 1.0) < 1e-14
      |  FROM (
      |    SELECT rid, a, z, h, it, b + 2.0 AS b2,
      |      CASE WHEN abs((-CAST(it AS DOUBLE)) * (CAST(it AS DOUBLE) - a) * d + (b + 2.0)) < 1e-300
      |           THEN 1e-300
      |           ELSE (-CAST(it AS DOUBLE)) * (CAST(it AS DOUBLE) - a) * d + (b + 2.0) END AS d2,
      |      CASE WHEN abs((b + 2.0) + ((-CAST(it AS DOUBLE)) * (CAST(it AS DOUBLE) - a)) / c) < 1e-300
      |           THEN 1e-300
      |           ELSE (b + 2.0) + ((-CAST(it AS DOUBLE)) * (CAST(it AS DOUBLE) - a)) / c END AS c2
      |    FROM cf WHERE it < 500 AND NOT done) t
      |), cff AS (
      |  SELECT rid, h FROM cf WHERE NOT (it < 500 AND NOT done)
      |), gv AS (
      |  SELECT r.rid,
      |    CASE WHEN r.x <= 0 THEN 0.0
      |         WHEN sf.rid IS NOT NULL THEN
      |           sf.s * exp(- r.xs + r.alpha * ln(r.xs) - r.lng)
      |         WHEN cq.rid IS NOT NULL THEN
      |           1.0 - exp(- r.xs + r.alpha * ln(r.xs) - r.lng) * cq.h
      |         ELSE NULL END AS g
      |  FROM rows0 r LEFT JOIN serf sf USING (rid) LEFT JOIN cff cq USING (rid)
      |), hval AS (
      |  SELECT r.rid, r.event_id, $rk, $rcarry r.x, r.a_stat,
      |    least(greatest(r.q0 + (1.0 - r.q0) * gv.g, 1e-6), 1.0 - 1e-6) AS h
      |  FROM rows0 r JOIN gv USING (rid)
      |), n1 AS (
      |  SELECT *, CASE WHEN h < 0.5 THEN h ELSE 1.0 - h END AS pp FROM hval
      |), n2 AS (
      |  SELECT *, sqrt(-2.0 * ln(pp)) AS tq FROM n1
      |), n3 AS (
      |  SELECT *, tq - (2.515517 + tq * (0.802853 + tq * 0.010328))
      |            / (1.0 + tq * (1.432788 + tq * (0.189269 + tq * 0.001308))) AS xq
      |  FROM n2
      |)
      |SELECT event_id, $k, $ocarry round(x, 2) AS accum,
      |  CASE WHEN a_stat > 1e-10 THEN
      |    floor((CASE WHEN h < 0.5 THEN -xq ELSE xq END) * 1e4 + 0.5) / 1e4
      |  ELSE NULL END AS spi
      |FROM n3""".stripMargin
  }

  /** The [[graft.operators.Climate.biasParametricApply]] oracle:
    * literal pretrained params + the SAME gamma series/continued-
    * fraction recurrences as [[spiGammaSql]] (with per-group literal
    * α, β and the Lanczos lnΓ inline), then the literal obs-quantile
    * anchor segments interpolated linearly; the normal branch is the
    * closed form. */
  private def biasParametricSql: String = {
    val parRows = graft.operators.Climate.pretrainedParametric.map {
      case (g, muF, sdF, muO, sdO, aF, bF, aO, bO) =>
        s"($g, ${dLit(muF)}, ${dLit(sdF)}, ${dLit(muO)}, ${dLit(sdO)}, " +
          s"${dLit(aF)}, ${dLit(bF)}, ${dLit(aO)}, ${dLit(bO)})"
    }.mkString(",\n  ")
    val segRows = graft.operators.Climate.pretrainedGammaAnchors.flatMap {
      case (g, as) => as.zip(as.tail).map { case ((pl, ql), (ph, qh)) =>
        s"($g, ${dLit(pl)}, ${dLit(ql)}, ${dLit(ph)}, ${dLit(qh)})"
      }
    }.mkString(",\n  ")
    val p0 = dLit(graft.operators.Climate.ParamQGrid.head)
    val p1 = dLit(graft.operators.Climate.ParamQGrid.last)
    s"""WITH RECURSIVE par(grp, mu_f, sd_f, mu_o, sd_o, a_f, b_f, a_o, b_o)
      |  AS (VALUES
      |  $parRows),
      |seg(grp, p_lo, q_lo, p_hi, q_hi) AS (VALUES
      |  $segRows),
      |ev AS (
      |  SELECT event_id, user_id % 20 AS grp, event_type AS var, value AS x
      |  FROM events WHERE event_type IN ('click', 'view')),
      |rows0 AS (
      |  SELECT ev.event_id AS rid, ev.event_id, ev.grp, ev.var, ev.x,
      |    p.mu_f, p.sd_f, p.mu_o, p.sd_o,
      |    p.a_f AS alpha, ${lnGammaSql("p.a_f")} AS lng,
      |    ev.x / p.b_f AS xs
      |  FROM ev JOIN par p ON p.grp = ev.grp),
      |ser AS (
      |  SELECT rid, alpha AS a, xs AS z, alpha AS ap,
      |    1.0 / alpha AS s, 1.0 / alpha AS del, 0 AS it
      |  FROM rows0 WHERE var = 'click' AND x > 0 AND xs < alpha + 1.0
      |  UNION ALL
      |  SELECT rid, a, z, ap + 1.0,
      |    s + del * (z / (ap + 1.0)), del * (z / (ap + 1.0)), it + 1
      |  FROM ser WHERE it < 500 AND abs(del) >= abs(s) * 1e-14
      |), serf AS (
      |  SELECT rid, s FROM ser
      |  WHERE NOT (it < 500 AND abs(del) >= abs(s) * 1e-14)
      |), cf AS (
      |  SELECT rid, alpha AS a, xs AS z, xs + 1.0 - alpha AS b, 1e300 AS c,
      |    1.0 / (xs + 1.0 - alpha) AS d, 1.0 / (xs + 1.0 - alpha) AS h,
      |    1 AS it, FALSE AS done
      |  FROM rows0 WHERE var = 'click' AND x > 0 AND xs >= alpha + 1.0
      |  UNION ALL
      |  SELECT rid, a, z, b2, c2, 1.0 / d2, h * ((1.0 / d2) * c2), it + 1,
      |    abs(((1.0 / d2) * c2) - 1.0) < 1e-14
      |  FROM (
      |    SELECT rid, a, z, h, it, b + 2.0 AS b2,
      |      CASE WHEN abs((-CAST(it AS DOUBLE)) * (CAST(it AS DOUBLE) - a) * d + (b + 2.0)) < 1e-300
      |           THEN 1e-300
      |           ELSE (-CAST(it AS DOUBLE)) * (CAST(it AS DOUBLE) - a) * d + (b + 2.0) END AS d2,
      |      CASE WHEN abs((b + 2.0) + ((-CAST(it AS DOUBLE)) * (CAST(it AS DOUBLE) - a)) / c) < 1e-300
      |           THEN 1e-300
      |           ELSE (b + 2.0) + ((-CAST(it AS DOUBLE)) * (CAST(it AS DOUBLE) - a)) / c END AS c2
      |    FROM cf WHERE it < 500 AND NOT done) t
      |), cff AS (
      |  SELECT rid, h FROM cf WHERE NOT (it < 500 AND NOT done)
      |), gv AS (
      |  SELECT r.rid,
      |    CASE WHEN r.x <= 0 THEN 0.0
      |         WHEN sf.rid IS NOT NULL THEN
      |           sf.s * exp(- r.xs + r.alpha * ln(r.xs) - r.lng)
      |         WHEN cq.rid IS NOT NULL THEN
      |           1.0 - exp(- r.xs + r.alpha * ln(r.xs) - r.lng) * cq.h
      |         ELSE NULL END AS g
      |  FROM rows0 r LEFT JOIN serf sf USING (rid) LEFT JOIN cff cq USING (rid)
      |), pv AS (
      |  SELECT r.*, CASE WHEN r.var = 'click'
      |    THEN least(greatest(gv.g, $p0), $p1) END AS p
      |  FROM rows0 r LEFT JOIN gv USING (rid)
      |), fin AS (
      |  SELECT r.event_id, r.grp, r.var, r.x,
      |    CASE WHEN r.var = 'view'
      |         THEN r.mu_o + r.sd_o * (r.x - r.mu_f) / r.sd_f
      |         ELSE s.q_lo + (r.p - s.p_lo) * (s.q_hi - s.q_lo)
      |           / (s.p_hi - s.p_lo) END AS raw
      |  FROM pv r LEFT JOIN seg s ON s.grp = r.grp AND r.p IS NOT NULL
      |    AND r.p >= s.p_lo AND (r.p < s.p_hi OR s.p_hi = $p1))
      |SELECT event_id, CAST(grp AS BIGINT) AS grp, var,
      |  round(x, 2) AS fcst_value,
      |  floor(raw * 1e4 + 0.5) / 1e4 AS corrected
      |FROM fin""".stripMargin
  }

  /** VALUES list for the day-of-year radiation table, generated from
    * [[Climate.raByDoy]] so both engines share every literal
    * bit-for-bit (the stationCalibSql pattern). */
  private def raTableSql: String =
    Climate.raByDoy.map { case (d, r) => s"($d, $r)" }.mkString(", ")

  /** VALUES list for the per-station calibration, generated from
    * [[Climate.stationBreakpoints]]. */
  private def stationCalibSql: String =
    Climate.stationBreakpoints.toSeq.flatMap { case (st, bps) =>
      bps.map { case (h, q) => s"($st, $h, $q)" }
    }.mkString(", ")

  /** VALUES list for the source-mixing weights, generated from
    * [[TextOps.mixWeights]]. */
  private def mixWeightsSql: String =
    TextOps.mixWeights.map { case (s, w) => s"('$s', $w)" }.mkString(", ")

  /** The shared mixing-fit CTE chain (weights → per-doc base →
    * bucket histogram → availability → rates/cuts), the SQL twin of
    * [[TextOps.mixFit]]; `corpus_mix` aggregates it, `corpus_mix_docs`
    * emits the admitted rows. */
  private def mixFitSql: String =
    s"""WITH w(source, weight) AS (VALUES $mixWeightsSql),
      |base AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split(
      |      regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_tok,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT AS bucket
      |  FROM documents),
      |hist AS (
      |  SELECT source, bucket, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(n_tok) AS BIGINT) AS n_tok
      |  FROM base GROUP BY 1, 2),
      |avail AS (
      |  SELECT source, CAST(sum(n_docs) AS BIGINT) AS n_docs,
      |         CAST(sum(n_tok) AS BIGINT) AS avail_tokens
      |  FROM hist GROUP BY 1),
      |tot AS (SELECT CAST(sum(avail_tokens) AS BIGINT) AS total_tokens FROM avail),
      |rates AS (
      |  SELECT avail.source, avail.n_docs, avail.avail_tokens,
      |    CAST(floor(CAST(total_tokens AS DOUBLE) * ${TextOps.mixBudgetShare}
      |         * weight) AS BIGINT) AS target_tokens
      |  FROM avail JOIN w USING (source) CROSS JOIN tot),
      |r2 AS (
      |  SELECT *, least(1.0, CAST(target_tokens AS DOUBLE) / avail_tokens) AS rate
      |  FROM rates),
      |r3 AS (SELECT *, CAST(floor(rate * 65536.0) AS BIGINT) AS cut FROM r2)""".stripMargin

  /** VALUES list for the deterministic feature drop, generated from
    * [[Serving.featureDrop]] — both engines parse the identical WKT
    * text, so the derived bbox doubles are bit-equal. */
  private def featureValuesSql: String =
    Serving.featureDrop.map { case (id, g, p) => s"($id, '$g', '$p')" }
      .mkString(", ")

  /** The shared WKT parse + geometry QC, the SQL twin of
    * [[graft.sources.Features.normalize]] (point/polygon extraction,
    * closed-ring validity, bbox derivation). */
  private def featureParseSql: String =
    s"""WITH f(feature_id, geometry, props) AS (VALUES $featureValuesSql),
      |p AS (
      |  SELECT feature_id, props,
      |    upper(regexp_extract(geometry, '^\\s*([A-Za-z]+)', 1)) AS gtype,
      |    TRY_CAST(regexp_extract(geometry, '^\\s*[Pp][Oo][Ii][Nn][Tt]\\s*\\(\\s*([-+0-9.eE]+)\\s+([-+0-9.eE]+)\\s*\\)\\s*$$', 1) AS DOUBLE) AS lon,
      |    TRY_CAST(regexp_extract(geometry, '^\\s*[Pp][Oo][Ii][Nn][Tt]\\s*\\(\\s*([-+0-9.eE]+)\\s+([-+0-9.eE]+)\\s*\\)\\s*$$', 2) AS DOUBLE) AS lat,
      |    regexp_extract(geometry, '^\\s*[Pp][Oo][Ll][Yy][Gg][Oo][Nn]\\s*\\(\\(\\s*([^()]+?)\\s*\\)\\)\\s*$$', 1) AS ringstr
      |  FROM f),
      |r AS (
      |  SELECT *, list_transform(string_split_regex(ringstr, '\\s*,\\s*'),
      |    v -> struct_pack(
      |      lon := TRY_CAST(regexp_extract(trim(v), '^(\\S+)\\s+(\\S+)$$', 1) AS DOUBLE),
      |      lat := TRY_CAST(regexp_extract(trim(v), '^(\\S+)\\s+(\\S+)$$', 2) AS DOUBLE))) AS ring
      |  FROM p),
      |g AS (
      |  SELECT *,
      |    CASE WHEN gtype = 'POINT' THEN lon IS NOT NULL AND lat IS NOT NULL
      |         WHEN gtype = 'POLYGON' THEN len(ring) >= 4
      |              AND NOT list_contains(list_transform(ring, q -> q.lon IS NULL OR q.lat IS NULL), TRUE)
      |              AND ring[1] = ring[-1]
      |         ELSE FALSE END AS geom_ok,
      |    CASE WHEN gtype = 'POINT' THEN lon ELSE list_min(list_transform(ring, q -> q.lon)) END AS minx,
      |    CASE WHEN gtype = 'POINT' THEN lat ELSE list_min(list_transform(ring, q -> q.lat)) END AS miny,
      |    CASE WHEN gtype = 'POINT' THEN lon ELSE list_max(list_transform(ring, q -> q.lon)) END AS maxx,
      |    CASE WHEN gtype = 'POINT' THEN lat ELSE list_max(list_transform(ring, q -> q.lat)) END AS maxy
      |  FROM r)""".stripMargin

  /** One LSH table's bucket signature as SQL — generated from the
    * SAME deterministic LCG hyperplanes the Spark plan uses
    * ([[graft.operators.Similarity.hyperplane]]), each dot product
    * rendered as the identical left-associated 64-term multiply-add
    * chain the codegen'd kernel executes, so the sign (and hence
    * every bucket id) is bit-for-bit reproducible in DuckDB. `e` is
    * the row's DOUBLE[] embedding (1-indexed). */
  private def lshSigSql(table: Int,
      bits: Int = graft.operators.Similarity.BitsPerTable): String =
    (0 until bits).map { bit =>
      val plane = graft.operators.Similarity.hyperplane(table, bit, 64)
      val dot = plane.zipWithIndex
        .map { case (h, i) => s"e[${i + 1}]*($h)" }.mkString(" + ")
      s"(CASE WHEN ($dot) >= 0 THEN ${1 << bit} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** All vectors exploded to (vec_id, e, t, sig) — the bucketing CTE
    * both hyperplane-LSH oracles share. */
  private def lshBucketsSql: String = {
    val tables = (0 until graft.operators.Similarity.NumTables).map { t =>
      s"SELECT vec_id, e, $t AS t, ${lshSigSql(t)} AS sig FROM v"
    }.mkString("\n  UNION ALL ")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |b AS (
       |  $tables)""".stripMargin
  }

  /** Portable 48-bit base hash — the SQL twin of
    * [[graft.operators.Dedup.h48]] (first 12 hex digits of md5,
    * parsed base-16): both engines hash the identical UTF-8 bytes
    * through the identical digest, so every value agrees
    * bit-for-bit. */
  private def h48Sql(e: String): String =
    s"('0x' || substr(md5($e), 1, 12))::BIGINT"

  /** The word-3-shingle CTE body shared by the dedup oracles —
    * identical to the regex-pass shingling at Dedup.shingleArrays. */
  private val shingleCteSql: String =
    """  SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
      |          for i in range(1, len(toks) - 1)])) AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      |  WHERE len(toks) >= 3""".stripMargin

  /** MinHash+LSH oracle: the identical affine family
    * g_i(h48) = (a_i·h + b_i) mod (2^61−1) with the constants
    * interpolated from [[graft.operators.Dedup.minhashA]]/`minhashB`,
    * the same 16×4 raw-tuple banding, the same bucket-frequency cap,
    * and the same exact-Jaccard verification — all integer/md5
    * arithmetic, so DuckDB reproduces the Spark output exactly. */
  /** CTE chain ending in `lshp(doc_a, doc_b, jaccard)` — the
    * verified MinHash+LSH pairs; shared by the operator oracle and
    * the recall-audit oracle (which also reuses `sh`/`cnt` for the
    * exhaustive truth pairs). */
  /** CTE chain for the D8 flow lane: aggregated grid cells → offset
    * table (rendered from the SAME [[graft.operators.Climate.D8]]
    * literals) → strictly-downhill candidates with the exact integer
    * `mult·drop²` steepness → per-cell priority pick → `fd(gy, gx,
    * dir, to_gy, to_gx)`. */
  private def flowDirCtes: String = {
    val offs = graft.operators.Climate.D8
      .map { case (dy, dx, prio, name, mult) =>
        s"($dy, $dx, $prio, '$name', $mult)" }.mkString(", ")
    s"""c AS (
       |  SELECT user_id % 8 AS gy, (user_id // 8) % 8 AS gx,
       |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 10000
       |      AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v_us
       |  FROM events GROUP BY 1, 2),
       |offs(dy, dx, prio, dir, mult) AS (VALUES $offs),
       |cand AS (
       |  SELECT c.gy, c.gx, o.dir, o.prio, n.gy AS ny, n.gx AS nx,
       |    o.mult * (c.v_us - n.v_us) * (c.v_us - n.v_us) AS score
       |  FROM c JOIN offs o ON true
       |  JOIN c n ON n.gy = c.gy + o.dy AND n.gx = c.gx + o.dx
       |  WHERE c.v_us > n.v_us),
       |picked AS (
       |  SELECT * FROM (
       |    SELECT cand.*, row_number() OVER (PARTITION BY gy, gx
       |      ORDER BY score DESC, prio ASC) AS rk
       |    FROM cand)
       |  WHERE rk = 1),
       |fd AS (
       |  SELECT c.gy, c.gx, coalesce(p.dir, 'pit') AS dir,
       |    p.ny AS to_gy, p.nx AS to_gx
       |  FROM c LEFT JOIN picked p ON c.gy = p.gy AND c.gx = p.gx)"""
      .stripMargin
  }

  /** The `video_frame_index` closed forms as a CTE chain ending in
    * `fidx(name, sample, dts, size, sync, "offset")` — shared by the
    * index oracle and the keyframe-sampling oracle. */
  private def frameIndexCtes: String =
    """s AS (
      |  SELECT user_id % 6 AS g,
      |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 10000
      |      AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS seed
      |  FROM events GROUP BY 1),
      |p AS (
      |  SELECT g, abs(seed) AS a, 24 + (g % 3) * 12 AS nf,
      |    12 + (g % 3) * 6 AS half, 1000 + abs(seed) % 500 AS d1
      |  FROM s),
      |fi AS (SELECT p.*, unnest(generate_series(0, nf - 1)) AS i FROM p),
      |fidx AS (
      |  SELECT 'movie_' || g || '.mp4' AS name, CAST(i AS BIGINT) AS sample,
      |    CAST(least(i, half) * d1 + greatest(i - half, 0) * (d1 + 250)
      |      AS BIGINT) AS dts,
      |    CAST(800 + (i % 4) * 100 + (a % 7) * 10 AS BIGINT) AS size,
      |    i % 8 = 0 AS sync,
      |    CAST(4096 + i * (800 + (a % 7) * 10) + (i // 4) * 600
      |      + CASE i % 4 WHEN 2 THEN 100 WHEN 3 THEN 300 ELSE 0 END
      |      AS BIGINT) AS "offset"
      |  FROM fi)""".stripMargin

  private def minhashPairsCtes: String = {
    import graft.operators.Dedup
    val mins = (0 until Dedup.NumHashes).map { i =>
      s"min((bh * ${Dedup.minhashA(i)} + ${Dedup.minhashB(i)}) % ${Dedup.MinhashP}) AS h$i"
    }.mkString(",\n  ")
    val bands = (0 until Dedup.NumBands).map { b =>
      val ks = (0 until Dedup.RowsPerBand)
        .map(r => s"h${b * Dedup.RowsPerBand + r} AS k$r").mkString(", ")
      s"SELECT doc_id, $b AS band, $ks FROM sig"
    }.mkString("\n  UNION ALL ")
    val kEq = (0 until Dedup.RowsPerBand).map(r => s"a.k$r = c.k$r").mkString(" AND ")
    s"""sh AS (
       |$shingleCteSql
       |), bh AS (SELECT doc_id, ${h48Sql("shingle")} AS bh FROM sh),
       |sig AS (SELECT doc_id,
       |  $mins
       |  FROM bh GROUP BY doc_id),
       |bands AS (
       |  $bands),
       |bucketed AS (
       |  SELECT bands.*, count(*) OVER (PARTITION BY band, k0, k1, k2, k3) AS bucket_n
       |  FROM bands),
       |capped AS (
       |  SELECT * FROM bucketed WHERE bucket_n <= ${Dedup.BucketCap}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |  FROM capped a JOIN capped c ON a.band = c.band AND $kEq
       |  WHERE a.doc_id < c.doc_id),
       |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |shared AS (
       |  SELECT doc_a, doc_b, count(*) AS shared
       |  FROM cand
       |  JOIN sh sa ON sa.doc_id = doc_a
       |  JOIN sh sb ON sb.doc_id = doc_b AND sa.shingle = sb.shingle
       |  GROUP BY 1, 2),
       |lshp AS (
       |  SELECT doc_a, doc_b,
       |    round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) AS jaccard
       |  FROM shared JOIN cnt ca ON doc_a = ca.doc_id
       |    JOIN cnt cb ON doc_b = cb.doc_id
       |  WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.5)"""
      .stripMargin
  }

  /** Shared weekly exceedance CTEs for the Brier pair — mirrors
    * Climate.exceedanceFrame: complete m=5 ensembles, k = members
    * above the station's mean observed weekly value, o = observed
    * exceedance. */
  private def exceedanceCtes: String =
    """obs AS (
      |  SELECT user_id, strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
      |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
      |      AS DOUBLE) / count(*) * 100.0 + 0.5) AS BIGINT) AS y_u
      |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
      |thr AS (
      |  SELECT user_id,
      |    CAST(floor(CAST(sum(y_u) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
      |      AS thr_u
      |  FROM obs GROUP BY 1),
      |mem AS (
      |  SELECT user_id, event_id % 5 AS member,
      |    strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
      |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
      |      AS DOUBLE) / count(*) * 100.0 + 0.5) AS BIGINT) AS u
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2, 3),
      |ko AS (
      |  SELECT m.user_id, m.week, CAST(count(*) AS BIGINT) AS m,
      |    CAST(sum(CASE WHEN m.u > t.thr_u THEN 1 ELSE 0 END) AS BIGINT) AS k,
      |    CAST(max(CASE WHEN o.y_u > t.thr_u THEN 1 ELSE 0 END) AS BIGINT) AS o
      |  FROM mem m JOIN obs o ON m.user_id = o.user_id AND m.week = o.week
      |    JOIN thr t ON m.user_id = t.user_id
      |  GROUP BY 1, 2)""".stripMargin

  private def minhashLshSql: String =
    s"""WITH $minhashPairsCtes
       |SELECT doc_a, doc_b, jaccard FROM lshp""".stripMargin

  /** Incremental-screen oracle: the full-corpus verified LSH pairs
    * (`lshp`), restricted to pairs touching a batch doc, re-oriented
    * per batch doc under the partner rule (index partner: any id;
    * batch partner: smaller id), best match by (jaccard desc,
    * partner asc). */
  private def dedupIncrementalSql: String =
    s"""WITH $minhashPairsCtes,
       |batch AS (SELECT doc_id FROM documents WHERE doc_id % 10 >= 8),
       |partners AS (
       |  SELECT l.doc_b AS doc_id, l.doc_a AS p, l.jaccard
       |  FROM lshp l JOIN batch b ON l.doc_b = b.doc_id
       |  UNION ALL
       |  SELECT l.doc_a AS doc_id, l.doc_b AS p, l.jaccard
       |  FROM lshp l JOIN batch b ON l.doc_a = b.doc_id
       |  WHERE l.doc_b NOT IN (SELECT doc_id FROM batch)),
       |best AS (
       |  SELECT doc_id, p, jaccard FROM (
       |    SELECT partners.*, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY jaccard DESC, p ASC) AS rk FROM partners)
       |  WHERE rk = 1)
       |SELECT b.doc_id, best.p IS NOT NULL AS is_dup,
       |  best.p AS dup_of, best.jaccard
       |FROM batch b LEFT JOIN best ON b.doc_id = best.doc_id""".stripMargin

  /** Recall-audit oracle: the exhaustive shared-shingle truth pairs
    * (reusing `sh`/`cnt`) one-sided-joined against the `lshp` CTE,
    * bucketed by Jaccard decile, cross-joined with the 1-row
    * dropped-mass summary of the BucketCap filter. */
  private def lshAuditSql: String =
    s"""WITH $minhashPairsCtes,
       |truth AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truep AS (
       |  SELECT doc_a, doc_b,
       |    round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) AS jaccard
       |  FROM truth JOIN cnt ca ON doc_a = ca.doc_id
       |    JOIN cnt cb ON doc_b = cb.doc_id
       |  WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.5),
       |dropped AS (
       |  SELECT * FROM bucketed WHERE bucket_n > ${graft.operators.Dedup.BucketCap}),
       |drop_s AS (
       |  SELECT
       |    CAST(count(DISTINCT struct_pack(band := band, k0 := k0,
       |      k1 := k1, k2 := k2, k3 := k3)) AS BIGINT) AS dropped_buckets,
       |    CAST(count(*) AS BIGINT) AS dropped_memberships,
       |    CAST(count(DISTINCT doc_id) AS BIGINT) AS dropped_docs,
       |    CAST(coalesce(sum(bucket_n - 1), 0) // 2 AS BIGINT)
       |      AS est_dropped_pairs
       |  FROM dropped)
       |SELECT r.*, d.dropped_buckets, d.dropped_memberships,
       |  d.dropped_docs, d.est_dropped_pairs
       |FROM (
       |  SELECT least(floor(t.jaccard * 10), 9) / 10.0 AS bucket,
       |    CAST(count(*) AS BIGINT) AS n_true,
       |    CAST(sum(CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_found,
       |    round(sum(CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END) * 1.0
       |      / count(*), 4) AS recall
       |  FROM truep t LEFT JOIN lshp l ON t.doc_a = l.doc_a AND t.doc_b = l.doc_b
       |  GROUP BY 1) r CROSS JOIN drop_s d""".stripMargin

  /** Sampled recall-audit oracle — the md5-prefix probe selector
    * rendered verbatim: probe-oriented truth (sampled docs against
    * ALL partners) and probe-touching capped candidates, with the
    * sample-rate/probe-count columns and the exact dropped-mass
    * ledger. */
  private def lshAuditSampledSql: String = {
    import graft.operators.Dedup
    val kEq = (0 until Dedup.RowsPerBand)
      .map(r => s"a.k$r = c.k$r").mkString(" AND ")
    s"""WITH $minhashPairsCtes,
       |probe AS (SELECT doc_id FROM documents
       |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1,
       |    ${Dedup.AuditSampleHex.length}) = '${Dedup.AuditSampleHex}'),
       |truthp AS (
       |  SELECT a.doc_id AS probe_id, b.doc_id AS doc_b, count(*) AS shared
       |  FROM sh a JOIN probe p ON a.doc_id = p.doc_id
       |  JOIN sh b ON a.shingle = b.shingle AND b.doc_id != a.doc_id
       |  GROUP BY 1, 2),
       |truep AS (
       |  SELECT probe_id, doc_b,
       |    round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) AS jaccard
       |  FROM truthp JOIN cnt ca ON probe_id = ca.doc_id
       |    JOIN cnt cb ON doc_b = cb.doc_id
       |  WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.5),
       |candp AS (
       |  SELECT DISTINCT a.doc_id AS probe_id, c.doc_id AS doc_b
       |  FROM capped a JOIN probe p ON a.doc_id = p.doc_id
       |  JOIN capped c ON a.band = c.band AND $kEq
       |  WHERE c.doc_id != a.doc_id),
       |dropped AS (
       |  SELECT * FROM bucketed WHERE bucket_n > ${Dedup.BucketCap}),
       |drop_s AS (
       |  SELECT
       |    CAST(count(DISTINCT struct_pack(band := band, k0 := k0,
       |      k1 := k1, k2 := k2, k3 := k3)) AS BIGINT) AS dropped_buckets,
       |    CAST(count(*) AS BIGINT) AS dropped_memberships,
       |    CAST(count(DISTINCT doc_id) AS BIGINT) AS dropped_docs,
       |    CAST(coalesce(sum(bucket_n - 1), 0) // 2 AS BIGINT)
       |      AS est_dropped_pairs
       |  FROM dropped),
       |np AS (SELECT CAST(count(*) AS BIGINT) AS n_probes FROM probe)
       |SELECT r.*, CAST(0.0625 AS DOUBLE) AS sample_rate, np.n_probes,
       |  d.dropped_buckets, d.dropped_memberships, d.dropped_docs,
       |  d.est_dropped_pairs
       |FROM (
       |  SELECT least(floor(t.jaccard * 10), 9) / 10.0 AS bucket,
       |    CAST(count(*) AS BIGINT) AS n_true,
       |    CAST(sum(CASE WHEN l.probe_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_found,
       |    round(sum(CASE WHEN l.probe_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
       |      / count(*), 4) AS recall
       |  FROM truep t LEFT JOIN candp l
       |    ON t.probe_id = l.probe_id AND t.doc_b = l.doc_b
       |  GROUP BY 1) r CROSS JOIN np CROSS JOIN drop_s d""".stripMargin
  }

  /** SimHash oracle: per-token [[h48Sql]] hashes vote ±1 per bit
    * (48 conditional sums), the sign vector reassembles the
    * fingerprint, 4×12-bit chunk equi-join generates candidates, and
    * `bit_count(xor)` scores Hamming — the identical integer pipeline
    * as Dedup.simhash. */
  private def simhashSql: String = {
    import graft.operators.Dedup
    val fpTerms = (0 until Dedup.SimhashBits).map { b =>
      s"(CASE WHEN sum(CASE WHEN (th >> $b) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("\n    + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |th AS (SELECT doc_id, ${h48Sql("tok")} AS th FROM toks),
       |fp AS (SELECT doc_id,
       |    $fpTerms AS simhash
       |  FROM th GROUP BY doc_id),
       |ck AS (
       |  SELECT doc_id, simhash, c.chunk AS chunk,
       |         (simhash >> (c.chunk * 12)) & 4095 AS cv
       |  FROM fp, (VALUES (0), (1), (2), (3)) c(chunk)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |  FROM ck a JOIN ck b ON a.chunk = b.chunk AND a.cv = b.cv
       |  WHERE a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3""".stripMargin
  }

  /** The [[graft.operators.TextOps.bpeTrainMerges]] oracle: the
    * greedy merge loop unrolled into [[graft.operators.TextOps
    * .BpeMergeSteps]] chained MATERIALIZED CTE rounds (DuckDB
    * inlines plain CTEs, so an un-hinted chain re-evaluates
    * exponentially). The left-to-right non-overlapping merge has a
    * closed form the fold and SQL both satisfy: for l != r every
    * (l,r) adjacency merges (occurrences cannot overlap); for l = r
    * a maximal run merges at even offsets from the run start — the
    * gaps-and-islands window (i - row_number per (tok, sym)) finds
    * run starts, offset parity picks the merge heads, and a lag()
    * drops each head's consumed right symbol. */
  private def bpeMergeOracle: String = {
    val steps = graft.operators.TextOps.BpeMergeSteps
    val cap = graft.operators.TextOps.BpeVocabCap
    val head = s"""WITH tokc AS (
      |  SELECT unnest(string_split(
      |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
      |  FROM documents),
      |v0 AS MATERIALIZED (
      |  SELECT tok, n_occ, [tok[i:i] for i in range(1, len(tok) + 1)] AS syms
      |  FROM (SELECT tok, CAST(count(*) AS BIGINT) AS n_occ FROM tokc
      |        WHERE len(tok) >= 2 GROUP BY 1
      |        ORDER BY n_occ DESC, tok ASC LIMIT $cap))""".stripMargin
    val rounds = (1 to steps).map { r =>
      val p = r - 1
      s"""p$r AS MATERIALIZED (
      |  SELECT pr[1] AS lft, pr[2] AS rgt, CAST(sum(n_occ) AS BIGINT) AS n
      |  FROM (SELECT unnest([[syms[i], syms[i+1]]
      |          for i in range(1, len(syms))]) AS pr, n_occ FROM v$p)
      |  GROUP BY 1, 2),
      |b$r AS MATERIALIZED (
      |  SELECT lft, rgt, n FROM p$r
      |  ORDER BY n DESC, lft ASC, rgt ASC LIMIT 1),
      |h$r AS (
      |  SELECT tok, n_occ, i, sym, nxt,
      |    ROW_NUMBER() OVER (PARTITION BY tok, sym, isl ORDER BY i) - 1 AS off
      |  FROM (
      |    SELECT tok, n_occ, i, syms[i] AS sym,
      |      CASE WHEN i < len(syms) THEN syms[i+1] END AS nxt,
      |      i - ROW_NUMBER() OVER (PARTITION BY tok, syms[i] ORDER BY i) AS isl
      |    FROM (SELECT tok, n_occ, unnest(range(1, len(syms) + 1)) AS i, syms
      |          FROM v$p))),
      |l$r AS (
      |  SELECT tok, n_occ, i, sym, nxt, ms,
      |    coalesce(lag(ms) OVER (PARTITION BY tok ORDER BY i), false) AS prev_ms
      |  FROM (
      |    SELECT h.tok, h.n_occ, h.i, h.sym, h.nxt,
      |      (h.sym = b.lft AND h.nxt IS NOT NULL AND h.nxt = b.rgt
      |       AND (b.lft <> b.rgt OR h.off % 2 = 0)) AS ms
      |    FROM h$r h CROSS JOIN b$r b)),
      |v$r AS MATERIALIZED (
      |  SELECT tok, n_occ,
      |    list(CASE WHEN ms THEN sym || nxt ELSE sym END ORDER BY i)
      |      FILTER (WHERE ms OR NOT prev_ms) AS syms
      |  FROM l$r GROUP BY 1, 2)""".stripMargin
    }
    val sel = (1 to steps).map { r =>
      s"""SELECT $r AS step, lft AS "left", rgt AS "right", n AS n_occ FROM b$r"""
    }.mkString("\nUNION ALL\n")
    (head +: rounds).mkString(",\n") + "\n" + sel
  }

  /** The [[graft.operators.Climate.biasBsplineApply]] oracle: the
    * pretrained (t, c, dmin, dmax) rows rendered as literal DuckDB
    * DOUBLE lists ([[dLit]]; bare decimals would type the lists
    * DECIMAL(3,1)[] and DECIMAL(19,16)[], and DuckDB's DECIMAL→DOUBLE
    * cast is not correctly rounded) and `splev`'s unrolled k=3 de
    * Boor triangle in the canonical op order of
    * [[graft.functions.SplineKernels.splev]]. */
  private def bsplineApplyOracle: String = {
    val rows = graft.operators.Climate.pretrainedBspline.map {
      case (g, t, c, dmin, dmax) =>
        s"($g, [${t.map(dLit).mkString(", ")}], [${c.map(dLit).mkString(", ")}], " +
          s"${dLit(dmin)}, ${dLit(dmax)})"
    }.mkString(",\n  ")
    s"""WITH par(grp, t, c, dmin, dmax) AS (VALUES
      |  $rows),
      |ev AS (
      |  SELECT event_id, user_id % 20 AS grp, value AS x
      |  FROM events WHERE event_type = 'click'),
      |j AS (
      |  SELECT ev.event_id, ev.grp, ev.x, par.t, par.c, par.dmin, par.dmax,
      |    t[4] AS tmin, t[len(t) - 2] AS tmax,
      |    greatest(4, least(len(list_filter(t, e -> e <= x)),
      |                      len(t) - 4)) AS p1
      |  FROM ev JOIN par ON par.grp = ev.grp),
      |dd AS (
      |  SELECT *,
      |    (x - t[p1]) / (t[p1 + 3] - t[p1]) AS a1,
      |    (x - t[p1 - 1]) / (t[p1 + 2] - t[p1 - 1]) AS a2,
      |    (x - t[p1 - 2]) / (t[p1 + 1] - t[p1 - 2]) AS a3,
      |    (x - t[p1]) / (t[p1 + 2] - t[p1]) AS b1,
      |    (x - t[p1 - 1]) / (t[p1 + 1] - t[p1 - 1]) AS b2,
      |    (x - t[p1]) / (t[p1 + 1] - t[p1]) AS g1
      |  FROM j),
      |ee AS (
      |  SELECT *,
      |    (1 - a1) * c[p1 - 1] + a1 * c[p1] AS e3,
      |    (1 - a2) * c[p1 - 2] + a2 * c[p1 - 1] AS e2,
      |    (1 - a3) * c[p1 - 3] + a3 * c[p1 - 2] AS e1
      |  FROM dd),
      |ff AS (
      |  SELECT *, (1 - b1) * e2 + b1 * e3 AS f3,
      |            (1 - b2) * e1 + b2 * e2 AS f2
      |  FROM ee),
      |ss AS (
      |  SELECT *,
      |    CASE WHEN x < tmin THEN 'low' WHEN x > tmax THEN 'high'
      |         ELSE 'in' END AS oob,
      |    CASE WHEN x < tmin THEN x + dmin
      |         WHEN x > tmax THEN x + dmax
      |         ELSE (1 - g1) * f2 + g1 * f3 END AS raw
      |  FROM ff)
      |SELECT event_id, CAST(grp AS BIGINT) AS grp,
      |  round(x, 2) AS fcst_value, oob,
      |  floor(raw * 1e4 + 0.5E0) / 1e4 AS corrected
      |FROM ss""".stripMargin
  }

  /** Oracle-render context: the (session, data dir) the queries ran
    * against, set by [[Verify]] AFTER the query pass and BEFORE the
    * oracle dump. The IVF/PQ quantizers are FIT on the data (bounded
    * deterministic sample, driver Lloyd's), so their oracles can only
    * be rendered once the fitted constants exist — with the context
    * set, the memoized fit ([[graft.operators.Similarity
    * .ivfCentroids]] / `pqCodebooks`) is rendered into literal VALUES
    * and DuckDB replays assignment + routing + ranking exactly;
    * without it those entries are omitted (rows-only, the pre-r9
    * behavior). */
  @volatile private var oracleCtx: Option[(SparkSession, String)] = None
  def setOracleContext(spark: SparkSession, dir: String): Unit =
    oracleCtx = Some((spark, dir))

  /** Render a double so DuckDB parses the identical bits (E0 suffix
    * forces DOUBLE inference — a short literal like 45.0 would type
    * the VALUES column DECIMAL). */
  private def dLit(x: Double): String = {
    val s = java.lang.Double.toString(x)
    if (s.contains("E") || s.contains("e")) s else s + "E0"
  }

  /** VALUES rows `(b, ss, c)` for the IVF centroid table: bucket id,
    * precomputed |c|² (the SAME driver-Scala sum the Spark plan embeds
    * as a literal), and the centroid as a DOUBLE list literal. */
  private def centroidRowsSql(cents: Array[Array[Double]]): String =
    cents.zipWithIndex.map { case (c, b) =>
      s"($b, ${dLit(c.map(x => x * x).sum)}, [${c.map(dLit).mkString(", ")}])"
    }.mkString(",\n  ")

  /** The `ann_ivf_topk` oracle: literal fitted centroids; assignment
    * argmin, probe routing (top-2 cells by 6-dp rounded centroid
    * cosine), candidate equi-join on the cell, exact-cosine top-10 —
    * operation-for-operation the Spark plan's discipline. */
  private def ivfTopkSql(cents: Array[Array[Double]]): String =
    s"""WITH cents(b, ss, c) AS (VALUES
      |  ${centroidRowsSql(cents)}),
      |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |asgn AS (
      |  SELECT vec_id, e, b,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY floor((ss - 2 * list_inner_product(e, c)) * 1e6 + 0.5) / 1e6 ASC,
      |               b ASC) AS rn
      |  FROM v, cents),
      |hm AS (SELECT vec_id, e, b AS bucket FROM asgn WHERE rn = 1),
      |p AS (SELECT vec_id AS probe_id, e AS pe FROM v
      |       WHERE vec_id IN (SELECT vec_id FROM embeddings
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 5)),
      |rt AS (
      |  SELECT probe_id, pe, b,
      |    row_number() OVER (PARTITION BY probe_id
      |      ORDER BY floor(list_cosine_similarity(pe, c) * 1e6 + 0.5) / 1e6 DESC,
      |               b ASC) AS rn
      |  FROM p, cents),
      |pb AS (SELECT probe_id, pe, b AS bucket FROM rt WHERE rn <= 2),
      |cand AS (
      |  SELECT DISTINCT pb.probe_id, hm.vec_id
      |  FROM pb JOIN hm USING (bucket) WHERE hm.vec_id != pb.probe_id),
      |r AS (
      |  SELECT cd.probe_id, cd.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY cd.probe_id
      |      ORDER BY floor(list_cosine_similarity(vp.e, vc.e) * 1e6 + 0.5) / 1e6 DESC,
      |               cd.vec_id ASC) AS rk,
      |    floor(list_cosine_similarity(vp.e, vc.e) * 1e4 + 0.5) / 1e4 AS cosine
      |  FROM cand cd JOIN v vp ON vp.vec_id = cd.probe_id
      |    JOIN v vc ON vc.vec_id = cd.vec_id)
      |SELECT probe_id, neighbor_id, rk, cosine FROM r WHERE rk <= 10"""
      .stripMargin

  /** The `knn_graph_ivf` oracle: same literal centroids; every vector
    * ranks ALL cells by 6-dp rounded distance (home = rank 1, probes
    * = rank ≤ 4), candidates via the cell equi-join, exact-cosine
    * top-5 per vector. */
  private def knnGraphIvfSql(cents: Array[Array[Double]]): String =
    s"""WITH cents(b, ss, c) AS (VALUES
      |  ${centroidRowsSql(cents)}),
      |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |rk0 AS (
      |  SELECT vec_id, e, b,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY floor((ss - 2 * list_inner_product(e, c)) * 1e6 + 0.5) / 1e6 ASC,
      |               b ASC) AS rn
      |  FROM v, cents),
      |hm AS (SELECT vec_id, e, b AS cell FROM rk0 WHERE rn = 1),
      |pr AS (SELECT vec_id AS probe_id, e AS pe, b AS cell
      |       FROM rk0 WHERE rn <= 4),
      |cand AS (
      |  SELECT DISTINCT pr.probe_id, pr.pe, hm.vec_id, hm.e
      |  FROM pr JOIN hm USING (cell) WHERE hm.vec_id != pr.probe_id),
      |r AS (
      |  SELECT probe_id, vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY probe_id
      |      ORDER BY floor(list_cosine_similarity(pe, e) * 1e6 + 0.5) / 1e6 DESC,
      |               vec_id ASC) AS rk,
      |    floor(list_cosine_similarity(pe, e) * 1e4 + 0.5) / 1e4 AS cosine
      |  FROM cand)
      |SELECT probe_id AS vec_id, neighbor_id, rk, cosine
      |FROM r WHERE rk <= 5""".stripMargin

  /** The `ann_ivf_two_level` oracle: literal fitted super and sub
    * centroids (the distributed-Lloyd's level-1 fit is exact-
    * arithmetic deterministic, so its output renders like any other
    * fitted constant); routing replays the kernel's law — top-2
    * super-cells by 6-dp rounded distance (id tie-break), argmin
    * over their sub-cells by (6-dp distance, product id) — then the
    * per-product-cell rollup. */
  private def twoLevelSql(sup: Array[Array[Double]],
      subs: Array[Array[Array[Double]]]): String = {
    val subK = subs(0).length
    val subRows = subs.flatten.zipWithIndex.map { case (c, pid) =>
      s"($pid, ${dLit(c.map(x => x * x).sum)}, [${c.map(dLit).mkString(", ")}])"
    }.mkString(",\n  ")
    s"""WITH sup(b, ss, c) AS (VALUES
      |  ${centroidRowsSql(sup)}),
      |subs(pid, ss, c) AS (VALUES
      |  $subRows),
      |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |sr AS (
      |  SELECT vec_id, e, b,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY floor((ss - 2 * list_inner_product(e, c)) * 1e6 + 0.5) / 1e6 ASC,
      |               b ASC) AS rn
      |  FROM v, sup),
      |pr AS (SELECT vec_id, e, b FROM sr
      |       WHERE rn <= ${graft.operators.Similarity.TwoLevelNprobeSuper}),
      |cand AS (
      |  SELECT pr.vec_id, s.pid,
      |    row_number() OVER (PARTITION BY pr.vec_id
      |      ORDER BY floor((s.ss - 2 * list_inner_product(pr.e, s.c)) * 1e6 + 0.5) / 1e6 ASC,
      |               s.pid ASC) AS rn
      |  FROM pr JOIN subs s ON s.pid // $subK = pr.b),
      |asgn AS (SELECT vec_id, pid FROM cand WHERE rn = 1)
      |SELECT CAST(pid // $subK AS INTEGER) AS super_cell,
      |  CAST(pid % $subK AS INTEGER) AS sub_cell,
      |  count(*) AS n_vectors, min(vec_id) AS min_vec_id
      |FROM asgn GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** The `ann_ivf_two_level_topk` oracle: same literal super/sub
    * centroids; home assignment is the census's routing (rn = 1 over
    * the probed supers' product cells), probe routing is the SAME
    * ranked CTE cut at [[graft.operators.Similarity
    * .TwoLevelProbeCells]] for the fixed probe set, candidates come
    * from the cell equi-join, exact cosine re-ranks to top-10 —
    * operation-for-operation the Spark lane. */
  private def twoLevelTopkSql(sup: Array[Array[Double]],
      subs: Array[Array[Array[Double]]]): String =
    s"""${twoLevelTopkCtes(sup, subs)}
      |SELECT probe_id, neighbor_id, rk, cosine FROM r WHERE rk <= 10"""
      .stripMargin

  /** The CTE chain shared by the `ann_ivf_two_level_topk` oracle and
    * the `ann_two_level_recall_audit` oracle: literal centroids →
    * home assignment → probe routing → candidate cosines ranked in
    * `r`. */
  private def twoLevelTopkCtes(sup: Array[Array[Double]],
      subs: Array[Array[Array[Double]]]): String = {
    val subK = subs(0).length
    val subRows = subs.flatten.zipWithIndex.map { case (c, pid) =>
      s"($pid, ${dLit(c.map(x => x * x).sum)}, [${c.map(dLit).mkString(", ")}])"
    }.mkString(",\n  ")
    s"""WITH sup(b, ss, c) AS (VALUES
      |  ${centroidRowsSql(sup)}),
      |subs(pid, ss, c) AS (VALUES
      |  $subRows),
      |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |sr AS (
      |  SELECT vec_id, e, b,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY floor((ss - 2 * list_inner_product(e, c)) * 1e6 + 0.5) / 1e6 ASC,
      |               b ASC) AS rn
      |  FROM v, sup),
      |pr AS (SELECT vec_id, e, b FROM sr
      |       WHERE rn <= ${graft.operators.Similarity.TwoLevelNprobeSuper}),
      |cand AS (
      |  SELECT pr.vec_id, s.pid,
      |    row_number() OVER (PARTITION BY pr.vec_id
      |      ORDER BY floor((s.ss - 2 * list_inner_product(pr.e, s.c)) * 1e6 + 0.5) / 1e6 ASC,
      |               s.pid ASC) AS rn
      |  FROM pr JOIN subs s ON s.pid // $subK = pr.b),
      |asgn AS (SELECT vec_id, pid FROM cand WHERE rn = 1),
      |pcand AS (SELECT vec_id AS probe_id, pid FROM cand
      |          WHERE vec_id IN (SELECT vec_id FROM embeddings
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 5)
      |            AND rn <= ${graft.operators.Similarity.TwoLevelProbeCells}),
      |cd AS (
      |  SELECT DISTINCT pc.probe_id, a.vec_id
      |  FROM pcand pc JOIN asgn a USING (pid)
      |  WHERE a.vec_id != pc.probe_id),
      |r AS (
      |  SELECT cd.probe_id, cd.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY cd.probe_id
      |      ORDER BY floor(list_cosine_similarity(vp.e, vc.e) * 1e6 + 0.5) / 1e6 DESC,
      |               cd.vec_id ASC) AS rk,
      |    floor(list_cosine_similarity(vp.e, vc.e) * 1e4 + 0.5) / 1e4 AS cosine
      |  FROM cd JOIN v vp ON vp.vec_id = cd.probe_id
      |    JOIN v vc ON vc.vec_id = cd.vec_id)""".stripMargin
  }

  /** The `ann_two_level_recall_audit` oracle: the two-level topk CTE
    * chain as the approximate arm, exact brute force over the same
    * md5-drawn probes as truth, the recall/regret rollup verbatim
    * from `ann_recall_audit`. */
  private def twoLevelRecallAuditSql(sup: Array[Array[Double]],
      subs: Array[Array[Array[Double]]]): String =
    s"""${twoLevelTopkCtes(sup, subs)},
      |tlr AS (SELECT probe_id, neighbor_id AS nb_id,
      |    CAST(floor(cosine * 1e4 + 0.5) AS BIGINT) AS cos_u
      |  FROM r WHERE rk <= 10),
      |bc AS (SELECT p.vec_id AS probe_id, c.vec_id AS nb_id,
      |    list_cosine_similarity(p.e, c.e) AS cos
      |  FROM v p, v c WHERE p.vec_id IN (SELECT vec_id FROM embeddings
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 5)
      |    AND c.vec_id != p.vec_id),
      |br AS (SELECT probe_id, nb_id,
      |    row_number() OVER (PARTITION BY probe_id
      |      ORDER BY floor(cos * 1e6 + 0.5) / 1e6 DESC, nb_id ASC) AS rk,
      |    floor(cos * 1e4 + 0.5) / 1e4 AS cosine
      |  FROM bc),
      |bfr AS (SELECT probe_id, nb_id,
      |    CAST(floor(cosine * 1e4 + 0.5) AS BIGINT) AS cos_u
      |  FROM br WHERE rk <= 10),
      |per AS (
      |  SELECT bf.probe_id, CAST(count(*) AS BIGINT) AS k,
      |    CAST(sum(CASE WHEN l.nb_id IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_hit,
      |    sum(bf.cos_u) AS bf_u
      |  FROM bfr bf LEFT JOIN tlr l
      |    ON bf.probe_id = l.probe_id AND bf.nb_id = l.nb_id
      |  GROUP BY 1),
      |ls AS (SELECT probe_id, sum(cos_u) AS ap_u,
      |    CAST(count(*) AS BIGINT) AS n_l
      |  FROM tlr GROUP BY 1)
      |SELECT per.probe_id, n_hit,
      |  floor(n_hit * 1.0 / k * 1e4 + 0.5) / 1e4 AS recall,
      |  floor((CAST(bf_u AS DOUBLE) / k - CAST(ap_u AS DOUBLE) / n_l)
      |    / 1e4 * 1e4 + 0.5) / 1e4 AS cos_regret
      |FROM per LEFT JOIN ls ON per.probe_id = ls.probe_id""".stripMargin

  /** The `ann_pq_topk` oracle: literal fitted codebooks (M=8 × 16 of
    * dim 8, each with its precomputed |c|²); encode = per-subspace
    * rounded argmin, ADC = Σ_m lut[m][code_m] replayed from the same
    * |c|²−2·(p_m·c) terms, shortlist-50 by 6-dp rounded ADC, exact
    * cosine re-rank to top-10. */
  private def pqTopkSql(books: Array[Array[Array[Double]]]): String = {
    val sd = graft.operators.Similarity.PqSubDim
    val rows = books.zipWithIndex.flatMap { case (bk, m) =>
      bk.zipWithIndex.map { case (c, k) =>
        s"($m, $k, ${dLit(c.map(x => x * x).sum)}, [${c.map(dLit).mkString(", ")}])"
      }
    }.mkString(",\n  ")
    s"""WITH books(m, k, ss, c) AS (VALUES
      |  $rows),
      |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |sub AS (
      |  SELECT vec_id, m, e[m * $sd + 1 : m * $sd + $sd] AS sv
      |  FROM v, range(0, ${books.length}) r(m)),
      |enc AS (
      |  SELECT vec_id, m, k,
      |    row_number() OVER (PARTITION BY vec_id, m
      |      ORDER BY floor((ss - 2 * list_inner_product(sv, c)) * 1e6 + 0.5) / 1e6 ASC,
      |               k ASC) AS rn
      |  FROM sub JOIN books USING (m)),
      |codes AS (SELECT vec_id, m, k AS code FROM enc WHERE rn = 1),
      |p AS (SELECT vec_id AS probe_id, e AS pe FROM v
      |       WHERE vec_id IN (SELECT vec_id FROM embeddings
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 5)),
      |lut AS (
      |  SELECT probe_id, m, k,
      |    ss - 2 * list_inner_product(pe[m * $sd + 1 : m * $sd + $sd], c) AS ld
      |  FROM p, books),
      |adc AS (
      |  SELECT cs.vec_id, l.probe_id,
      |    CAST(sum(CAST(floor(l.ld * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS adc_u
      |  FROM codes cs JOIN lut l ON l.m = cs.m AND l.k = cs.code
      |  WHERE cs.vec_id != l.probe_id
      |  GROUP BY 1, 2),
      |sh AS (
      |  SELECT probe_id, vec_id,
      |    row_number() OVER (PARTITION BY probe_id
      |      ORDER BY adc_u ASC, vec_id ASC) AS srn
      |  FROM adc),
      |r AS (
      |  SELECT s.probe_id, s.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY s.probe_id
      |      ORDER BY floor(list_cosine_similarity(vp.e, vc.e) * 1e6 + 0.5) / 1e6 DESC,
      |               s.vec_id ASC) AS rk,
      |    floor(list_cosine_similarity(vp.e, vc.e) * 1e4 + 0.5) / 1e4 AS cosine
      |  FROM sh s JOIN v vp ON vp.vec_id = s.probe_id
      |    JOIN v vc ON vc.vec_id = s.vec_id
      |  WHERE s.srn <= 50)
      |SELECT probe_id, neighbor_id, rk, cosine FROM r WHERE rk <= 10"""
      .stripMargin
  }

  /** The exact-integer z-score SQL fragment (DuckDB), mirroring
    * [[graft.operators.Climate.zExactOfInt]]/`zScore4`
    * operation-for-operation: n/Σc/Σc² are exact integer window sums
    * (DuckDB widens Σ BIGINT to HUGEINT — same values), the z chain
    * is one fixed double expression over those bits, degenerate
    * windows (n ≤ 1 or zero variance) are NULL. Expects an integer
    * column `c` and a named WINDOW `w` in scope. */
  private val zScore4Sql: String =
    """CASE WHEN count(c) OVER w > 1
      |   AND count(c) OVER w * sum(c * c) OVER w
      |       - sum(c) OVER w * sum(c) OVER w > 0
      |  THEN floor(CAST(count(c) OVER w * c - sum(c) OVER w AS DOUBLE)
      |    / sqrt(CAST(count(c) OVER w * sum(c * c) OVER w
      |                - sum(c) OVER w * sum(c) OVER w AS DOUBLE)
      |           * CAST(count(c) OVER w AS DOUBLE)
      |           / (CAST(count(c) OVER w AS DOUBLE) - 1.0)) * 1e4 + 0.5) / 1e4
      |  END""".stripMargin

  /** The shared per-(station, variable) z-score CTE body over the
    * cents-quantized events table. */
  private def zCteSql(cols: String): String =
    s"""SELECT $cols, $zScore4Sql AS zscore
      |  FROM (SELECT *, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      |        FROM events)
      |  WINDOW w AS (PARTITION BY user_id, event_type)""".stripMargin

  /** CTE chain for the CAPPED adaptive-width pairs lane, ending in
    * `pairs(id_a, id_b)` — the SQL twin of
    * [[graft.operators.Similarity.pairBuckets]] +
    * `cappedPairsFrom`: per-(t, sig) occupancy window, the
    * [[graft.operators.Similarity.EmbBucketCap]] filter, then the
    * bucket self-join. `b` (with `bucket_n`) stays visible for the
    * audit oracle's dropped-mass ledger. */
  private def lshPairsCtes(bits: Int): String = {
    val tables = (0 until graft.operators.Similarity.NumTables).map { t =>
      s"SELECT vec_id, e, $t AS t, ${lshSigSql(t, bits)} AS sig FROM v"
    }.mkString("\n  UNION ALL ")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |b0 AS (
       |  $tables),
       |b AS (SELECT *, count(*) OVER (PARTITION BY t, sig) AS bucket_n
       |      FROM b0),
       |bc AS (SELECT * FROM b
       |       WHERE bucket_n <= ${graft.operators.Similarity.EmbBucketCap}),
       |pairs AS (
       |  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
       |  FROM bc a JOIN bc c ON a.t = c.t AND a.sig = c.sig
       |  WHERE a.vec_id < c.vec_id)""".stripMargin
  }

  private def lshPairsSql(bits: Int): String =
    s"""${lshPairsCtes(bits)}
      |SELECT id_a, id_b,
      |  floor(list_cosine_similarity(va.e, vb.e) * 1e4 + 0.5) / 1e4 AS cosine
      |FROM pairs JOIN v va ON va.vec_id = id_a JOIN v vb ON vb.vec_id = id_b
      |WHERE list_cosine_similarity(va.e, vb.e) >= 0.35""".stripMargin

  private def lshPairsAuditSql(bits: Int): String =
    s"""${lshPairsCtes(bits)},
      |cand AS (SELECT id_a, id_b, 1 AS found FROM pairs),
      |drops AS (
      |  SELECT CAST(count(DISTINCT (t, sig)) AS BIGINT) AS dropped_buckets,
      |    CAST(count(*) AS BIGINT) AS dropped_memberships,
      |    CAST(coalesce(sum(bucket_n - 1), 0) // 2 AS BIGINT)
      |      AS est_dropped_pairs
      |  FROM b WHERE bucket_n > ${graft.operators.Similarity.EmbBucketCap}),
      |truth AS (
      |  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
      |    floor(list_cosine_similarity(a.e, c.e) * 1e4 + 0.5) / 1e4 AS cos4
      |  FROM v a JOIN v c ON a.vec_id < c.vec_id),
      |per AS (
      |  SELECT least(floor(cos4 * 10), 9.0) / 10.0 AS bucket,
      |    CAST(count(*) AS BIGINT) AS n_true,
      |    CAST(sum(CASE WHEN cand.found IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_found
      |  FROM truth LEFT JOIN cand USING (id_a, id_b)
      |  WHERE cos4 >= 0.35 GROUP BY 1)
      |SELECT bucket, n_true, n_found,
      |  floor(CAST(n_found AS DOUBLE) / n_true * 1e4 + 0.5) / 1e4 AS recall,
      |  dropped_buckets, dropped_memberships, est_dropped_pairs
      |FROM per CROSS JOIN drops""".stripMargin

  /** Sampled twin of [[lshPairsAuditSql]]: identical md5-prefix
    * probe selector as the text side, probe-oriented truth and
    * candidates, sample-rate/probe-count columns, exact ledger. */
  private def lshPairsAuditSampledSql(bits: Int): String = {
    import graft.operators.{Dedup, Similarity}
    s"""${lshPairsCtes(bits)},
      |probe AS (SELECT vec_id FROM v
      |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1,
      |    ${Dedup.AuditSampleHex.length}) = '${Dedup.AuditSampleHex}'),
      |candp AS (
      |  SELECT DISTINCT a.vec_id AS probe_id, c.vec_id AS id_b, 1 AS found
      |  FROM bc a JOIN probe p ON a.vec_id = p.vec_id
      |  JOIN bc c ON a.t = c.t AND a.sig = c.sig
      |  WHERE c.vec_id != a.vec_id),
      |drops AS (
      |  SELECT CAST(count(DISTINCT (t, sig)) AS BIGINT) AS dropped_buckets,
      |    CAST(count(*) AS BIGINT) AS dropped_memberships,
      |    CAST(coalesce(sum(bucket_n - 1), 0) // 2 AS BIGINT)
      |      AS est_dropped_pairs
      |  FROM b WHERE bucket_n > ${Similarity.EmbBucketCap}),
      |np AS (SELECT CAST(count(*) AS BIGINT) AS n_probes FROM probe),
      |truth AS (
      |  SELECT a.vec_id AS probe_id, c.vec_id AS id_b,
      |    floor(list_cosine_similarity(a.e, c.e) * 1e4 + 0.5) / 1e4 AS cos4
      |  FROM v a JOIN probe p ON a.vec_id = p.vec_id
      |  JOIN v c ON c.vec_id != a.vec_id),
      |per AS (
      |  SELECT least(floor(cos4 * 10), 9.0) / 10.0 AS bucket,
      |    CAST(count(*) AS BIGINT) AS n_true,
      |    CAST(sum(CASE WHEN candp.found IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_found
      |  FROM truth LEFT JOIN candp USING (probe_id, id_b)
      |  WHERE cos4 >= 0.35 GROUP BY 1)
      |SELECT bucket, n_true, n_found,
      |  floor(CAST(n_found AS DOUBLE) / n_true * 1e4 + 0.5) / 1e4 AS recall,
      |  CAST(0.0625 AS DOUBLE) AS sample_rate, n_probes,
      |  dropped_buckets, dropped_memberships, est_dropped_pairs
      |FROM per CROSS JOIN np CROSS JOIN drops""".stripMargin
  }

  /** The `ann_nprobe_sweep` oracle: identical literal centroids,
    * assignment argmin and routing ranks; every sweep rung filters on
    * the same `first_rn`, ranks by the same 6-dp quantized cosine,
    * and the recall/regret reductions run on exact integer cos_u. */
  private def nprobeSweepSql(cents: Array[Array[Double]]): String =
    s"""WITH cents(b, ss, c) AS (VALUES
      |  ${centroidRowsSql(cents)}),
      |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |rk0 AS (
      |  SELECT vec_id, e, b,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY floor((ss - 2 * list_inner_product(e, c)) * 1e6 + 0.5) / 1e6 ASC,
      |               b ASC) AS rn
      |  FROM v, cents),
      |hm AS (SELECT vec_id, e, b AS bucket FROM rk0 WHERE rn = 1),
      |p AS (SELECT vec_id AS probe_id, e AS pe FROM v
      |       WHERE vec_id IN (SELECT vec_id FROM embeddings
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 5)),
      |rt AS (
      |  SELECT probe_id, b AS bucket,
      |    row_number() OVER (PARTITION BY probe_id
      |      ORDER BY floor(list_cosine_similarity(pe, c) * 1e6 + 0.5) / 1e6 DESC,
      |               b ASC) AS rn
      |  FROM p, cents),
      |sc AS (
      |  SELECT fr.probe_id, fr.vec_id, fr.first_rn,
      |    list_cosine_similarity(p.pe, hv.e) AS cos,
      |    CAST(floor(list_cosine_similarity(p.pe, hv.e) * 1e4 + 0.5)
      |      AS BIGINT) AS cos_u
      |  FROM (
      |    SELECT rt.probe_id, hm.vec_id, min(rt.rn) AS first_rn
      |    FROM rt JOIN hm USING (bucket)
      |    WHERE hm.vec_id != rt.probe_id
      |    GROUP BY 1, 2) fr
      |  JOIN p ON p.probe_id = fr.probe_id
      |  JOIN v hv ON hv.vec_id = fr.vec_id),
      |tw AS (
      |  SELECT probe_id, vec_id, cos_u,
      |    row_number() OVER (PARTITION BY probe_id
      |      ORDER BY floor(cos * 1e6 + 0.5) / 1e6 DESC, vec_id ASC) AS rk
      |  FROM sc),
      |truth AS (SELECT probe_id, vec_id, cos_u FROM tw WHERE rk <= 10),
      |tt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth,
      |         CAST(sum(cos_u) AS BIGINT) AS tu FROM truth),
      |sweep(nprobe) AS (VALUES ${
        graft.operators.Similarity.nprobeLadder(cents.length)
          .map(n => s"($n)").mkString(", ")}),
      |rung AS (
      |  SELECT s.nprobe, sc.probe_id, sc.vec_id, sc.cos, sc.cos_u
      |  FROM sc, sweep s WHERE sc.first_rn <= s.nprobe),
      |it AS (
      |  SELECT nprobe, probe_id, vec_id, cos_u,
      |    row_number() OVER (PARTITION BY nprobe, probe_id
      |      ORDER BY floor(cos * 1e6 + 0.5) / 1e6 DESC, vec_id ASC) AS rk
      |  FROM rung),
      |top AS (
      |  SELECT it.nprobe,
      |    CAST(sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_hit,
      |    CAST(sum(it.cos_u) AS BIGINT) AS iu
      |  FROM it LEFT JOIN truth t
      |    ON t.probe_id = it.probe_id AND t.vec_id = it.vec_id
      |  WHERE it.rk <= 10 GROUP BY 1),
      |nc AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS n_cands
      |       FROM rung GROUP BY 1)
      |SELECT CAST(nc.nprobe AS BIGINT) AS nprobe, n_cands, n_hit, n_truth,
      |  floor(n_hit * 1.0 / n_truth * 1e4 + 0.5) / 1e4 AS recall_at10,
      |  floor(CAST(tu - iu AS DOUBLE) / n_truth + 0.5) / 1e4 AS mean_regret
      |FROM nc JOIN top USING (nprobe), tt""".stripMargin

  /** The `ann_nlist_sweep` oracle: one shared corpus×probe scoring
    * CTE and exact-truth top-10, then per rung the SAME literal
    * centroids as the Spark fit drive assignment argmin, routing
    * ranks (≤ nprobe) and the cell equi-join; rung rows union. */
  private def nlistSweepSql(
      rungs: Seq[(Int, Int, Array[Array[Double]])]): String = {
    val rungCtes = rungs.map { case (nl, np, cents) =>
      s"""c$nl(b, ss, c) AS (VALUES
         |  ${centroidRowsSql(cents)}),
         |hm$nl AS (
         |  SELECT vec_id, b AS cell FROM (
         |    SELECT vec_id, b, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY floor((ss - 2 * list_inner_product(e, c)) * 1e6 + 0.5) / 1e6 ASC,
         |               b ASC) AS rn
         |    FROM v, c$nl) WHERE rn = 1),
         |rt$nl AS (
         |  SELECT probe_id, b AS cell FROM (
         |    SELECT probe_id, b, row_number() OVER (PARTITION BY probe_id
         |      ORDER BY floor(list_cosine_similarity(pe, c) * 1e6 + 0.5) / 1e6 DESC,
         |               b ASC) AS rn
         |    FROM p, c$nl) WHERE rn <= $np),
         |sc$nl AS (
         |  SELECT sa.probe_id, sa.vec_id, sa.cos, sa.cos_u
         |  FROM rt$nl r JOIN hm$nl h USING (cell)
         |  JOIN sa ON sa.probe_id = r.probe_id AND sa.vec_id = h.vec_id),
         |it$nl AS (
         |  SELECT probe_id, vec_id, cos_u FROM (
         |    SELECT probe_id, vec_id, cos_u,
         |      row_number() OVER (PARTITION BY probe_id
         |        ORDER BY floor(cos * 1e6 + 0.5) / 1e6 DESC, vec_id ASC) AS rk
         |    FROM sc$nl) WHERE rk <= 10),
         |row$nl AS (
         |  SELECT CAST($nl AS BIGINT) AS nlist, CAST($np AS BIGINT) AS nprobe,
         |    (SELECT CAST(count(*) AS BIGINT) FROM sc$nl) AS n_cands,
         |    (SELECT CAST(sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |       AS BIGINT)
         |     FROM it$nl i LEFT JOIN truth t
         |       ON t.probe_id = i.probe_id AND t.vec_id = i.vec_id) AS n_hit,
         |    (SELECT CAST(coalesce(sum(cos_u), 0) AS BIGINT) FROM it$nl) AS iu)"""
        .stripMargin
    }.mkString(",\n")
    val unioned = rungs.map { case (nl, _, _) =>
      s"SELECT * FROM row$nl" }.mkString("\n  UNION ALL ")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |p AS (SELECT vec_id AS probe_id, e AS pe FROM v
      |       WHERE vec_id IN (SELECT vec_id FROM embeddings
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 5)),
       |sa AS (
       |  SELECT p.probe_id, v.vec_id,
       |    list_cosine_similarity(p.pe, v.e) AS cos,
       |    CAST(floor(list_cosine_similarity(p.pe, v.e) * 1e4 + 0.5)
       |      AS BIGINT) AS cos_u
       |  FROM v JOIN p ON v.vec_id != p.probe_id),
       |truth AS (
       |  SELECT probe_id, vec_id, cos_u AS t_u FROM (
       |    SELECT probe_id, vec_id, cos_u,
       |      row_number() OVER (PARTITION BY probe_id
       |        ORDER BY floor(cos * 1e6 + 0.5) / 1e6 DESC, vec_id ASC) AS rk
       |    FROM sa) WHERE rk <= 10),
       |tt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth,
       |         CAST(sum(t_u) AS BIGINT) AS tu FROM truth),
       |$rungCtes,
       |allrungs AS (
       |  $unioned)
       |SELECT nlist, nprobe, n_cands, n_hit, n_truth,
       |  floor(n_hit * 1.0 / n_truth * 1e4 + 0.5) / 1e4 AS recall_at10,
       |  floor(CAST(tu - iu AS DOUBLE) / n_truth + 0.5) / 1e4 AS mean_regret
       |FROM allrungs, tt
       |ORDER BY nlist""".stripMargin
  }

  /** The data-fitted oracle entries — only renderable once the fit
    * context exists (see [[setOracleContext]]). The pairs-lane LSH
    * oracles live here too: their signature WIDTH adapts to the
    * corpus size ([[graft.operators.Similarity.pairsBits]]), so the
    * hyperplane CASE chains can only be rendered knowing the count. */
  private def fittedOracles: Map[String, String] = oracleCtx match {
    case None => Map.empty
    case Some((s, d)) =>
      val bits = graft.operators.Similarity.pairsBits(
        graft.operators.Similarity.corpusCount(s, d))
      Map(
      "ann_ivf_topk"  -> ivfTopkSql(graft.operators.Similarity.ivfCentroids(s, d)),
      "ann_ivf_two_level" -> (twoLevelSql _).tupled(
        graft.operators.Similarity.twoLevelCentroids(s, d)),
      "ann_ivf_two_level_topk" -> (twoLevelTopkSql _).tupled(
        graft.operators.Similarity.twoLevelCentroids(s, d)),
      "ann_two_level_recall_audit" -> (twoLevelRecallAuditSql _).tupled(
        graft.operators.Similarity.twoLevelCentroids(s, d)),
      "knn_graph_ivf" -> knnGraphIvfSql(graft.operators.Similarity.ivfCentroids(s, d)),
      "ann_pq_topk"   -> pqTopkSql(graft.operators.Similarity.pqCodebooks(s, d)),
      "ann_nprobe_sweep" ->
        nprobeSweepSql(graft.operators.Similarity.ivfCentroids(s, d)),
      "ann_nlist_sweep" -> nlistSweepSql(
        graft.operators.Similarity.NlistSweep.map(nl =>
          (nl, math.min(graft.operators.Similarity.NlistSweepNprobe, nl),
            graft.operators.Similarity.nlistCentroids(s, d, nl)))),
      "dedup_embedding_lsh"       -> lshPairsSql(bits),
      "dedup_embedding_lsh_audit" -> lshPairsAuditSql(bits),
      "dedup_embedding_lsh_audit_sampled" -> lshPairsAuditSampledSql(bits))
  }

  /** DuckDB oracle SQL per query (same tables, same column names,
    * same rounding). Omitted keys get a weaker rows-only check. */
  def oracleSql: Map[String, String] = fittedOracles ++ Map(
    "bpe_train_merges" -> bpeMergeOracle,

    // the stub decode is deterministic in the payload BYTES, so it
    // oracle-checks: bytes come back out of the blob via hex pairs
    // (UTF-8-safe — no ascii() shortcut), mean_byte replays the
    // identical double op chain with round_even (Scala math.rint is
    // half-EVEN; plain round() flipped 2 of 500 docs on exact .5
    // rationals), and the entropy/bin sums are the disclosed
    // float-residual class (order-differing reductions absorbed by
    // the 1e-4 quantization)
    // 64 generated hex-pair slices at ⌊i·n/64⌋ — the identical
    // position arithmetic as the Spark plan, byte-exact via hex
    "multimodal_resample" -> {
      val n = graft.operators.Multimodal.ResampleN
      val hexTerms = (0 until n)
        .map(i => s"substr(hx, 2 * (($i * n) // $n) + 1, 2)")
        .mkString(" || ")
      val valTerms = (0 until n)
        .map(i => s"('0x' || substr(hx, 2 * (($i * n) // $n) + 1, 2))::BIGINT")
        .mkString("\n        |    + ")
      s"""WITH raw AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |      ELSE 'wav' END AS format,
        |    hex(encode(text)) AS hx, octet_length(encode(text)) AS n
        |  FROM documents WHERE octet_length(encode(text)) > 0)
        |SELECT doc_id, format, CAST(n AS BIGINT) AS n_bytes,
        |  md5($hexTerms) AS resample_fp,
        |  floor(CAST($valTerms AS DOUBLE) / $n * 1e4 + 0.5) / 1e4
        |    AS mean_sample
        |FROM raw""".stripMargin
    },

    "multimodal_features" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |      ELSE 'wav' END AS format,
        |    hex(encode(text)) AS hx, octet_length(encode(text)) AS n
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, i, ('0x' || substr(hx, 2 * i - 1, 2))::INT AS v, n
        |  FROM (SELECT doc_id, hx, n, unnest(range(1, n + 1)) AS i
        |        FROM raw WHERE n > 0)),
        |hist AS (
        |  SELECT doc_id, v, count(*) AS c, max(n) AS n FROM b GROUP BY 1, 2),
        |ent AS (
        |  SELECT doc_id,
        |    round_even(sum(-(c * 1.0 / n) * ln(c * 1.0 / n) / ln(2))
        |      * 10000, 0) / 10000 AS byte_entropy
        |  FROM hist GROUP BY 1),
        |mb AS (
        |  SELECT doc_id, CAST(max(n) AS INT) AS n_bytes,
        |    round_even(CAST(sum(v) AS DOUBLE) / max(n) * 10000, 0) / 10000
        |      AS mean_byte,
        |    round_even(sum(CASE WHEN (i - 1) % 8 = 0 THEN v / 255.0
        |      ELSE 0 END) / max(n) * 8 * 10000, 0) / 10000 AS f0,
        |    round_even(sum(CASE WHEN (i - 1) % 8 = 7 THEN v / 255.0
        |      ELSE 0 END) / max(n) * 8 * 10000, 0) / 10000 AS f7
        |  FROM b GROUP BY 1)
        |SELECT r.doc_id, r.format,
        |  coalesce(mb.n_bytes, 0) AS n_bytes,
        |  coalesce(mb.mean_byte, 0.0) AS mean_byte,
        |  coalesce(ent.byte_entropy, 0.0) AS byte_entropy,
        |  coalesce(mb.f0, 0.0) AS f0, coalesce(mb.f7, 0.0) AS f7
        |FROM raw r LEFT JOIN mb ON r.doc_id = mb.doc_id
        |LEFT JOIN ent ON r.doc_id = ent.doc_id""".stripMargin,
    // exact integer sums (cents / basis points; DuckDB's BIGINT sum
    // widens to HUGEINT, Spark's to DECIMAL(38)), one division each —
    // merge-order-free on both engines
    "q1_pricing_summary" ->
      """WITH s AS (
        |  SELECT l_returnflag, l_linestatus,
        |    sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS sq,
        |    sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sep,
        |    sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |      * (10000 - CAST(floor(l_discount * 10000 + 0.5) AS BIGINT))) AS sdp,
        |    sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |      * (10000 - CAST(floor(l_discount * 10000 + 0.5) AS BIGINT))
        |      * (10000 + CAST(floor(l_tax * 10000 + 0.5) AS BIGINT))) AS sch,
        |    sum(CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)) AS sd,
        |    count(*) AS count_order
        |  FROM lineitem
        |  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |  GROUP BY l_returnflag, l_linestatus)
        |SELECT l_returnflag, l_linestatus,
        |  CAST(sq AS DOUBLE) AS sum_qty,
        |  CAST(sep AS DOUBLE) / 100.0 AS sum_base_price,
        |  round(CAST(sdp AS DOUBLE) / 1e6, 2) AS sum_disc_price,
        |  round(CAST(sch AS DOUBLE) / 1e10, 2) AS sum_charge,
        |  floor(CAST(sq AS DOUBLE) * 1e4 / count_order + 0.5) / 1e4 AS avg_qty,
        |  floor(CAST(sep AS DOUBLE) * 100.0 / count_order + 0.5) / 1e4 AS avg_price,
        |  floor(CAST(sd AS DOUBLE) / count_order + 0.5) / 1e4 AS avg_disc,
        |  count_order
        |FROM s""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l.l_orderkey,
        |  round(CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
        |    * (10000 - CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT)))
        |    AS DOUBLE) / 1e6, 2) AS revenue,
        |  strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l.l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l.l_orderkey, o.o_orderdate
        |ORDER BY revenue DESC, l.l_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q6_revenue_change" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |  round(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |    * CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
        |    / 1e6, 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.04 AND l_discount <= 0.06
        |  AND l_quantity < 24""".stripMargin,

    "q19_discounted_revenue" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |  round(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |    * (10000 - CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)))
        |    AS DOUBLE) / 1e6, 2) AS revenue
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
        |       AND l.l_quantity BETWEEN 1 AND 11)
        |   OR (p.p_brand = 'Brand#14' AND p.p_size BETWEEN 1 AND 10
        |       AND l.l_quantity BETWEEN 10 AND 20)
        |   OR (p.p_brand = 'Brand#21' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin,

    // numerator and denominator from ONE conditional aggregation
    "q14_promo_revenue" ->
      """SELECT strftime(date_trunc('month', l.l_shipdate), '%Y-%m') AS month,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  round(CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN
        |      CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
        |      * (10000 - CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT))
        |    ELSE 0 END) AS DOUBLE) / 1e6, 2) AS promo_revenue,
        |  round(CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
        |    * (10000 - CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT)))
        |    AS DOUBLE) / 1e6, 2) AS revenue,
        |  CASE WHEN sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
        |      * (10000 - CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT))) > 0
        |    THEN floor(CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN
        |        CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
        |        * (10000 - CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT))
        |      ELSE 0 END) AS DOUBLE)
        |      / CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
        |        * (10000 - CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT)))
        |        AS DOUBLE) * 100.0 * 1e4 + 0.5) / 1e4
        |  END AS promo_share_pct
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY 1""".stripMargin,

    // all boundary math in exact integer cents so bucket edges are
    // engine-invariant
    "events_value_histogram" ->
      """WITH c AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
        |    min(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      OVER (PARTITION BY event_type) AS cmin,
        |    max(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      OVER (PARTITION BY event_type) AS cmax
        |  FROM events),
        |b AS (
        |  SELECT event_type, c, cmin,
        |    greatest(cmax - cmin, 1) AS span,
        |    least(9, ((c - cmin) * 10) // greatest(cmax - cmin, 1)) AS bucket
        |  FROM c)
        |SELECT event_type, bucket, count(*) AS n,
        |  CAST(min(cmin) + (min(span) * min(bucket)) // 10 AS DOUBLE) / 100.0
        |    AS lo,
        |  CAST(min(cmin) + (min(span) * (min(bucket) + 1)) // 10 AS DOUBLE)
        |    / 100.0 AS hi
        |FROM b GROUP BY 1, 2""".stripMargin,

    // shares quantized to 1e-6 before the cross-supplier square sum
    "supplier_concentration" ->
      """WITH bs AS (
        |  SELECT l.l_suppkey,
        |    CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
        |      * (10000 - CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT)))
        |      AS HUGEINT) AS rev_u
        |  FROM lineitem l GROUP BY 1),
        |j AS (
        |  SELECT n.n_name, bs.rev_u,
        |    sum(bs.rev_u) OVER (PARTITION BY n.n_name) AS tot_u
        |  FROM bs
        |  JOIN supplier s ON bs.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey),
        |sh AS (
        |  SELECT n_name, tot_u,
        |    CAST(floor(CAST(rev_u AS DOUBLE) / CAST(tot_u AS DOUBLE)
        |      * 1e6 + 0.5) AS BIGINT) AS share_u
        |  FROM j)
        |SELECT n_name, count(*) AS n_suppliers,
        |  round(CAST(min(tot_u) AS DOUBLE) / 1e6, 2) AS revenue,
        |  CAST(max(share_u) AS DOUBLE) / 1e6 AS top_share,
        |  floor(CAST(sum(share_u * share_u) AS DOUBLE) / 1e8 + 0.5) / 1e4
        |    AS hhi
        |FROM sh GROUP BY 1""".stripMargin,

    // integer lag days; exact mean + rank-interpolated percentiles on
    // one window sort per priority
    "order_ship_lag" ->
      """WITH lag AS (
        |  SELECT o.o_orderpriority AS priority,
        |    date_diff('day', o.o_orderdate, l.l_shipdate) AS lag_days
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |r AS (
        |  SELECT priority, lag_days,
        |    row_number() OVER (PARTITION BY priority ORDER BY lag_days) AS rn,
        |    count(*) OVER (PARTITION BY priority) AS n
        |  FROM lag)
        |SELECT priority, count(*) AS n_lines,
        |  floor(CAST(sum(lag_days) AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4
        |    AS mean_lag,
        |  floor((min(CASE WHEN rn = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1
        |      THEN lag_days END)
        |    + ((min(n) - 1) * 0.5 - floor((min(n) - 1) * 0.5))
        |      * (min(CASE WHEN rn = least(CAST(floor((n - 1) * 0.5) AS BIGINT)
        |          + 2, n) THEN lag_days END)
        |        - min(CASE WHEN rn = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1
        |          THEN lag_days END))) * 1e4 + 0.5) / 1e4 AS p50,
        |  floor((min(CASE WHEN rn = CAST(floor((n - 1) * 0.9) AS BIGINT) + 1
        |      THEN lag_days END)
        |    + ((min(n) - 1) * 0.9 - floor((min(n) - 1) * 0.9))
        |      * (min(CASE WHEN rn = least(CAST(floor((n - 1) * 0.9) AS BIGINT)
        |          + 2, n) THEN lag_days END)
        |        - min(CASE WHEN rn = CAST(floor((n - 1) * 0.9) AS BIGINT) + 1
        |          THEN lag_days END))) * 1e4 + 0.5) / 1e4 AS p90,
        |  floor((min(CASE WHEN rn = CAST(floor((n - 1) * 0.99) AS BIGINT) + 1
        |      THEN lag_days END)
        |    + ((min(n) - 1) * 0.99 - floor((min(n) - 1) * 0.99))
        |      * (min(CASE WHEN rn = least(CAST(floor((n - 1) * 0.99) AS BIGINT)
        |          + 2, n) THEN lag_days END)
        |        - min(CASE WHEN rn = CAST(floor((n - 1) * 0.99) AS BIGINT) + 1
        |          THEN lag_days END))) * 1e4 + 0.5) / 1e4 AS p99
        |FROM r GROUP BY 1""".stripMargin,

    "q10_returned_items" ->
      """SELECT c.c_custkey, c.c_name, round(c.c_acctbal, 2) AS c_acctbal,
        |  n.n_name,
        |  round(CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
        |    * (10000 - CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT)))
        |    AS DOUBLE) / 1e6, 2) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o.o_orderdate <  TIMESTAMP '1997-04-01'
        |GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        |ORDER BY revenue DESC, c.c_custkey ASC
        |LIMIT 20""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n.n_name,
        |  round(CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
        |    * (10000 - CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT)))
        |    AS DOUBLE) / 1e6, 2) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
        |GROUP BY n.n_name""".stripMargin,

    "topk_per_group" ->
      """SELECT c_mktsegment, rk, o_orderkey, totalprice FROM (
        |  SELECT c.c_mktsegment,
        |    row_number() OVER (PARTITION BY c.c_mktsegment
        |                       ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS rk,
        |    o.o_orderkey,
        |    round(o.o_totalprice, 2) AS totalprice
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |) WHERE rk <= 5""".stripMargin,

    "events_json_extract" ->
      """SELECT event_type,
        |  count(*) AS n,
        |  floor(CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS DOUBLE) * 1e4 / count(*) + 0.5) / 1e4 AS avg_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events
        |GROUP BY event_type""".stripMargin,

    "distinct_users_daily" ->
      """SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin,
    "ts_resample_daily" ->
      """SELECT event_type,
        |  strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS sum_value,
        |  floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |    * 100.0 / count(*) + 0.5) / 1e4 AS avg_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,

    "ts_resample_weekly_max" ->
      """SELECT user_id,
        |  strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |  round(max(value), 2) AS max_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,

    "ts_resample_monthly" ->
      """SELECT user_id,
        |  strftime(date_trunc('month', ts), '%Y-%m-%d') AS month,
        |  count(*) AS n,
        |  floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |    * 100.0 / count(*) + 0.5) / 1e4 AS avg_rate,
        |  floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 100
        |      * day(last_day(date_trunc('month', ts))) AS DOUBLE)
        |    / count(*) + 0.5) / 1e4 AS month_total
        |FROM events
        |GROUP BY user_id, date_trunc('month', ts)""".stripMargin,

    "ts_rolling_sum" ->
      """SELECT event_id, user_id,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS rolling_sum
        |FROM events""".stripMargin,

    // integer-cent window sum: float window sums associate differently
    // across engines (segment tree vs sequential)
    "ts_rolling_sum_range" ->
      """SELECT event_id, user_id,
        |  strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER (
        |    PARTITION BY user_id
        |    ORDER BY datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0
        |    AS rolling_sum_7d
        |FROM events""".stripMargin,

    "ts_cumsum" ->
      """SELECT event_id, user_id,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_value
        |FROM events""".stripMargin,

    // the max(d+x, 0) recurrence as pure prefix aggregates:
    // d_i = S_i - min(0, running_min(S))
    "ts_cumsum_clamped" ->
      """WITH s AS (
        |  SELECT event_id, user_id, ts,
        |    sum(value - 50.0) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |  FROM events)
        |SELECT event_id, user_id,
        |  round(cs - least(0.0, min(cs) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 2) AS deficit
        |FROM s""".stripMargin,

    "ts_m4_downsample" ->
      """WITH b AS (
        |  SELECT user_id, event_id, ts, value,
        |    epoch_us(ts) // 21600000000 AS bucket
        |  FROM events),
        |r AS (
        |  SELECT user_id, bucket, value,
        |    row_number() OVER (PARTITION BY user_id, bucket
        |      ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY user_id, bucket
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM b)
        |SELECT user_id,
        |  strftime(make_timestamp(bucket * 21600000000),
        |    '%Y-%m-%d %H:%M:%S') AS bucket_start,
        |  count(*) AS n,
        |  round(max(CASE WHEN rn_a = 1 THEN value END), 2) AS v_first,
        |  round(max(CASE WHEN rn_d = 1 THEN value END), 2) AS v_last,
        |  round(min(value), 2) AS v_min,
        |  round(max(value), 2) AS v_max
        |FROM r GROUP BY user_id, bucket""".stripMargin,

    // CUSUM on integer micro-unit deltas: the clamp identity again,
    // with the station mean from exact integer cents
    "ts_cusum_drift" ->
      """WITH c AS (
        |  SELECT event_id, user_id, ts, value,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |m AS (
        |  SELECT event_id, user_id, ts,
        |    CAST(floor((value
        |      - CAST(sum(cents) OVER (PARTITION BY user_id) AS DOUBLE)
        |        / (100.0 * count(*) OVER (PARTITION BY user_id))
        |      - 5.0) * 1e6 + 0.5) AS BIGINT) AS d_u
        |  FROM c),
        |s AS (
        |  SELECT event_id, user_id, ts,
        |    CAST(sum(d_u) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cs
        |  FROM m),
        |u AS (
        |  SELECT event_id, user_id,
        |    cs - least(0, min(cs) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum_u
        |  FROM s)
        |SELECT event_id, user_id, cusum_u / 1e6 AS cusum,
        |  cusum_u > 50000000 AS drift
        |FROM u""".stripMargin,

    "ts_asof_join" ->
      """SELECT c.event_id, c.user_id,
        |  round(c.value, 2) AS click_value,
        |  round(p.value, 2) AS last_purchase_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, max_by(value, event_id) AS value
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts) p
        |  ON c.user_id = p.user_id AND c.ts > p.ts""".stripMargin,

    // the tolerance test is one integer-microsecond comparison on the
    // ASOF match — exact both sides
    "ts_asof_tolerance" ->
      """SELECT c.event_id, c.user_id,
        |  round(c.value, 2) AS click_value,
        |  CASE WHEN p.ts IS NOT NULL
        |      AND epoch_us(c.ts) - epoch_us(p.ts) <= 86400000000
        |    THEN round(p.value, 2) END AS last_purchase_value,
        |  CASE WHEN p.ts IS NOT NULL
        |      AND epoch_us(c.ts) - epoch_us(p.ts) <= 86400000000
        |    THEN (epoch_us(c.ts) - epoch_us(p.ts)) // 1000000 END
        |    AS staleness_s
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, max_by(value, event_id) AS value
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts) p
        |  ON c.user_id = p.user_id AND c.ts > p.ts""".stripMargin,

    "ts_gapfill" ->
      """WITH daily AS (
        |  SELECT user_id, date_trunc('day', ts) AS d, round(sum(value), 2) AS v
        |  FROM events GROUP BY 1, 2
        |), bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
        |days AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM bounds),
        |grid AS (SELECT u.user_id, days.d
        |         FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN days)
        |SELECT g.user_id, strftime(g.d, '%Y-%m-%d') AS day,
        |  coalesce(last_value(dl.v IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS value_ffill
        |FROM grid g LEFT JOIN daily dl ON g.user_id = dl.user_id AND g.d = dl.d""".stripMargin,

    "ts_interp_linear" ->
      """WITH daily AS (
        |  SELECT user_id, date_trunc('day', ts) AS d, round(sum(value), 2) AS v
        |  FROM events GROUP BY 1, 2
        |), bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
        |days AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM bounds),
        |grid AS (SELECT u.user_id, days.d
        |         FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN days),
        |j AS (
        |  SELECT g.user_id, g.d, dl.v,
        |    last_value(dl.v IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN dl.v IS NOT NULL THEN g.d END IGNORE NULLS) OVER wp AS pd,
        |    first_value(dl.v IGNORE NULLS) OVER wf AS nv,
        |    first_value(CASE WHEN dl.v IS NOT NULL THEN g.d END IGNORE NULLS) OVER wf AS nd
        |  FROM grid g LEFT JOIN daily dl ON g.user_id = dl.user_id AND g.d = dl.d
        |  WINDOW wp AS (PARTITION BY g.user_id ORDER BY g.d
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wf AS (PARTITION BY g.user_id ORDER BY g.d
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, strftime(d, '%Y-%m-%d') AS day, v AS value_obs,
        |  CASE WHEN v IS NOT NULL THEN v
        |       ELSE floor((pv + (nv - pv) * (CAST(date_diff('day', pd, d) AS DOUBLE)
        |         / CAST(date_diff('day', pd, nd) AS DOUBLE))) * 1e4 + 0.5) / 1e4 END
        |    AS value_interp,
        |  v IS NULL AS interpolated
        |FROM j""".stripMargin,

    "ts_ewma" -> {
      val terms = TimeSeries.ewmaWeights.zipWithIndex
      def lv(i: Int) = if (i == 0) "value" else s"lag(value, $i) OVER w"
      val num = terms.map { case (w, i) => s"$w * coalesce(${lv(i)}, 0)" }
        .mkString(" + ")
      val den = terms.map { case (w, i) =>
        s"$w * (CASE WHEN ${lv(i)} IS NULL THEN 0.0 ELSE 1.0 END)"
      }.mkString(" + ")
      s"""SELECT event_id, user_id, round(value, 2) AS value,
        |  floor(($num) / ($den) * 1e4 + 0.5) / 1e4 AS ewma
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin
    },

    "q4_priority_returns" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_returnflag = 'R')
        |GROUP BY 1""".stripMargin,

    "zonal_class_area" ->
      s"""WITH z AS (
        |  ${zCteSql("user_id, ts")}),
        |g AS (
        |  SELECT CAST(floor(((user_id % 36) * 5.0 - 87.5) / 30) AS INT) AS zone_y,
        |    CAST(floor(((user_id % 72) * 5.0 - 177.5) / 30) AS INT) AS zone_x,
        |    strftime(date_trunc('week', ts), '%Y-%m-%d') AS week, zscore
        |  FROM z)
        |SELECT zone_y, zone_x, week, count(*) AS n_obs,
        |  CAST(sum(CASE WHEN zscore <= -0.5 THEN 1 ELSE 0 END) AS BIGINT) AS d0_n,
        |  CAST(sum(CASE WHEN zscore <= -0.8 THEN 1 ELSE 0 END) AS BIGINT) AS d1_n,
        |  CAST(sum(CASE WHEN zscore <= -1.3 THEN 1 ELSE 0 END) AS BIGINT) AS d2_n,
        |  CAST(sum(CASE WHEN zscore <= -1.6 THEN 1 ELSE 0 END) AS BIGINT) AS d3_n,
        |  CAST(sum(CASE WHEN zscore <= -2.0 THEN 1 ELSE 0 END) AS BIGINT) AS d4_n,
        |  floor(CAST(sum(CASE WHEN zscore <= -0.5 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) * 1e4 + 0.5) / 1e4 AS d0_share,
        |  floor(CAST(sum(CASE WHEN zscore <= -0.8 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) * 1e4 + 0.5) / 1e4 AS d1_share,
        |  floor(CAST(sum(CASE WHEN zscore <= -1.3 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) * 1e4 + 0.5) / 1e4 AS d2_share,
        |  floor(CAST(sum(CASE WHEN zscore <= -1.6 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) * 1e4 + 0.5) / 1e4 AS d3_share,
        |  floor(CAST(sum(CASE WHEN zscore <= -2.0 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) * 1e4 + 0.5) / 1e4 AS d4_share
        |FROM g GROUP BY 1, 2, 3""".stripMargin,

    "zonal_drought_extent" ->
      s"""WITH z AS (
        |  ${zCteSql("user_id, ts")}),
        |g AS (
        |  SELECT CAST(floor(((user_id % 36) * 5.0 - 87.5) / 30) AS INT) AS zone_y,
        |    CAST(floor(((user_id % 72) * 5.0 - 177.5) / 30) AS INT) AS zone_x,
        |    strftime(date_trunc('week', ts), '%Y-%m-%d') AS week, zscore
        |  FROM z)
        |SELECT zone_y, zone_x, week, count(*) AS n_obs,
        |  CAST(sum(CASE WHEN zscore <= -1.0 THEN 1 ELSE 0 END) AS BIGINT) AS drought_n,
        |  floor(CAST(sum(CASE WHEN zscore <= -1.0 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) * 1e4 + 0.5) / 1e4 AS extent
        |FROM g GROUP BY 1, 2, 3""".stripMargin,

    // the zonal_drought_extent chain verbatim, then the week-over-week
    // state machine on the O(zones × weeks) sliver — all integers
    "zonal_transitions" ->
      s"""WITH z AS (
        |  ${zCteSql("user_id, ts")}),
        |g AS (
        |  SELECT CAST(floor(((user_id % 36) * 5.0 - 87.5) / 30) AS INT) AS zone_y,
        |    CAST(floor(((user_id % 72) * 5.0 - 177.5) / 30) AS INT) AS zone_x,
        |    strftime(date_trunc('week', ts), '%Y-%m-%d') AS week, zscore
        |  FROM z),
        |e AS (
        |  SELECT zone_y, zone_x, week,
        |    floor(CAST(sum(CASE WHEN zscore <= -1.0 THEN 1 ELSE 0 END) AS DOUBLE)
        |      / count(*) * 1e4 + 0.5) / 1e4 AS extent
        |  FROM g GROUP BY 1, 2, 3),
        |b AS (
        |  SELECT zone_y, zone_x, week,
        |    CASE WHEN extent >= 0.075 THEN 1 ELSE 0 END AS droughty
        |  FROM e),
        |w1 AS (
        |  SELECT *, lag(droughty) OVER
        |    (PARTITION BY zone_y, zone_x ORDER BY week) AS prev
        |  FROM b),
        |w2 AS (
        |  SELECT *,
        |    CASE WHEN droughty = 1 AND prev = 0 THEN 1 ELSE 0 END AS onset,
        |    CASE WHEN droughty = 0 AND prev = 1 THEN 1 ELSE 0 END AS recovery,
        |    CASE WHEN droughty = 1 AND (prev IS NULL OR prev = 0)
        |      THEN 1 ELSE 0 END AS run_start
        |  FROM w1),
        |w3 AS (
        |  SELECT *, sum(run_start) OVER (PARTITION BY zone_y, zone_x
        |    ORDER BY week ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM w2),
        |agg AS (
        |  SELECT zone_y, zone_x, count(*) AS n_weeks,
        |    CAST(sum(droughty) AS BIGINT) AS n_drought_weeks,
        |    CAST(sum(onset) AS BIGINT) AS n_onsets,
        |    CAST(sum(recovery) AS BIGINT) AS n_recoveries
        |  FROM w3 GROUP BY 1, 2),
        |runs AS (
        |  SELECT zone_y, zone_x, run_id, count(*) AS len
        |  FROM w3 WHERE droughty = 1 GROUP BY 1, 2, 3),
        |mx AS (
        |  SELECT zone_y, zone_x, max(len) AS max_run FROM runs GROUP BY 1, 2)
        |SELECT a.zone_y, a.zone_x, a.n_weeks, a.n_drought_weeks,
        |  a.n_onsets, a.n_recoveries,
        |  coalesce(m.max_run, CAST(0 AS BIGINT)) AS max_run_weeks
        |FROM agg a LEFT JOIN mx m
        |  ON a.zone_y = m.zone_y AND a.zone_x = m.zone_x""".stripMargin,

    // all sufficient statistics are exact integer sums (x in days,
    // y in cents), divided back to doubles once — merge-order-free
    "ts_trend" ->
      """WITH s AS (
        |  SELECT user_id, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx,
        |    CAST(sum(yc) AS DOUBLE) / 100.0 AS sy,
        |    CAST(sum(x * yc) AS DOUBLE) / 100.0 AS sxy,
        |    CAST(sum(x * x) AS DOUBLE) AS sx2,
        |    CAST(sum(yc * yc) AS DOUBLE) / 10000.0 AS sy2
        |  FROM (SELECT user_id,
        |          date_diff('day', DATE '2024-01-01', date_trunc('day', ts)) AS x,
        |          CAST(floor(value * 100 + 0.5) AS BIGINT) AS yc
        |        FROM events)
        |  GROUP BY 1)
        |SELECT user_id, CAST(n AS BIGINT) AS n_obs,
        |  CASE WHEN n * sx2 - sx * sx > 0
        |    THEN floor((n * sxy - sx * sy) / (n * sx2 - sx * sx) * 1e6 + 0.5) / 1e6 END
        |    AS slope_per_day,
        |  CASE WHEN n * sx2 - sx * sx > 0
        |    THEN floor((sy - (n * sxy - sx * sy) / (n * sx2 - sx * sx) * sx) / n * 1e4 + 0.5) / 1e4 END
        |    AS intercept,
        |  CASE WHEN n * sx2 - sx * sx > 0 AND n * sy2 - sy * sy > 0
        |    THEN floor((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |      / ((n * sx2 - sx * sx) * (n * sy2 - sy * sy)) * 1e4 + 0.5) / 1e4 END AS r2
        |FROM s""".stripMargin,

    // daily means are exact rationals (cent sums / count), each pair
    // slope one IEEE division, and the median is an ORDER STATISTIC —
    // exact-integer R/S identity per block (mean subtraction and the
    // std division cancel into integer operands); dyadic-ladder slope
    // collapses to (ln rs16 - ln rs4) / (2 ln 2)
    "ts_hurst" -> {
      val twoLn2 = 2.0 * math.log(2.0)
      s"""WITH d AS (
        |  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS c
        |  FROM events GROUP BY 1, 2),
        |ix AS (
        |  SELECT user_id, c,
        |    row_number() OVER (PARTITION BY user_id ORDER BY day) AS i
        |  FROM d),
        |e AS (
        |  SELECT user_id, c, i, m.m, (i - 1) // m.m AS blk
        |  FROM ix CROSS JOIN (VALUES (4), (8), (16)) m(m)),
        |s AS (
        |  SELECT user_id, m, blk, i, c,
        |    row_number() OVER wo AS jj,
        |    sum(c) OVER (wo ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cum,
        |    count(*) OVER wa AS n,
        |    sum(c) OVER wa AS tot,
        |    sum(c * c) OVER wa AS s2
        |  FROM e
        |  WINDOW wo AS (PARTITION BY user_id, m, blk ORDER BY i),
        |    wa AS (PARTITION BY user_id, m, blk ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        |w3 AS (
        |  SELECT user_id, m, blk, jj, n, tot, s2,
        |    max(n * cum - jj * tot) OVER wa AS wmax,
        |    min(n * cum - jj * tot) OVER wa AS wmin
        |  FROM s
        |  WINDOW wa AS (PARTITION BY user_id, m, blk ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        |b AS (
        |  SELECT user_id, m,
        |    CAST(floor(CAST(wmax - wmin AS DOUBLE)
        |      / sqrt(CAST(n * s2 - tot * tot AS DOUBLE)) * 1e6 + 0.5)
        |      AS BIGINT) AS rs_u
        |  FROM w3
        |  WHERE jj = n AND n = m AND n * s2 - tot * tot > 0),
        |p AS (
        |  SELECT user_id, m, count(*) AS n_blocks,
        |    CAST(sum(rs_u) AS DOUBLE) / count(*) / 1e6 AS mean_rs
        |  FROM b GROUP BY 1, 2)
        |SELECT user_id,
        |  floor(min(CASE WHEN m = 4 THEN mean_rs END) * 1e4 + 0.5) / 1e4
        |    AS rs4,
        |  floor(min(CASE WHEN m = 8 THEN mean_rs END) * 1e4 + 0.5) / 1e4
        |    AS rs8,
        |  floor(min(CASE WHEN m = 16 THEN mean_rs END) * 1e4 + 0.5) / 1e4
        |    AS rs16,
        |  CASE WHEN min(CASE WHEN m = 4 THEN mean_rs END) > 0
        |        AND min(CASE WHEN m = 16 THEN mean_rs END) > 0
        |    THEN floor((ln(min(CASE WHEN m = 16 THEN mean_rs END))
        |      - ln(min(CASE WHEN m = 4 THEN mean_rs END)))
        |      / $twoLn2 * 1e4 + 0.5) / 1e4
        |  END AS hurst
        |FROM p GROUP BY 1""".stripMargin
    },

    // partition order can't reach it the way it reaches a sum
    "ts_theil_sen" ->
      """WITH daily AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', date_trunc('day', ts)) AS x,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (count(*) * 100.0) AS y
        |  FROM events GROUP BY 1, 2),
        |nd AS (SELECT user_id, count(*) AS n_days FROM daily GROUP BY 1),
        |p AS (
        |  SELECT a.user_id, (b.y - a.y) / (b.x - a.x) AS s
        |  FROM daily a JOIN daily b ON a.user_id = b.user_id AND b.x > a.x),
        |m AS (
        |  SELECT user_id, count(*) AS n_pairs, list_sort(list(s)) AS ss
        |  FROM p GROUP BY 1)
        |SELECT m.user_id, nd.n_days, m.n_pairs,
        |  floor((CASE WHEN len(ss) % 2 = 1 THEN ss[(len(ss) + 1) // 2]
        |         ELSE (ss[len(ss) // 2] + ss[len(ss) // 2 + 1]) / 2.0 END)
        |    * 1e6 + 0.5) / 1e6 AS sen_slope
        |FROM m JOIN nd ON m.user_id = nd.user_id""".stripMargin,

    // S and the tie term are INTEGER sums (order-free); Var(S) is one
    // integer expression /18; Z one sqrt+divide from identical bits —
    // the trend CASE compares the UNQUANTIZED z both sides
    // the greedy LTTB walk as a recursive CTE: per bucket an
    // anti-join argmax on the EXACT integer triangle score (average
    // multiplied through by the bucket count), ties to the earlier day
    "ts_lttb_downsample" ->
      """WITH RECURSIVE daily AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', date_trunc('day', ts)) AS x,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT user_id, x, y,
        |    row_number() OVER (PARTITION BY user_id ORDER BY x) - 1 AS i,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM daily),
        |small AS (
        |  SELECT user_id, CAST(i AS BIGINT) AS pt_rank, x, y
        |  FROM idx WHERE n <= 20),
        |big AS (SELECT * FROM idx WHERE n > 20),
        |mid AS (
        |  SELECT user_id, x, y, i, (i - 1) * 18 // (n - 2) AS b
        |  FROM big WHERE i >= 1 AND i <= n - 2),
        |bsum AS (
        |  SELECT user_id, b, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy, CAST(count(*) AS BIGINT) AS c
        |  FROM mid GROUP BY 1, 2),
        |lastp AS (SELECT user_id, x, y FROM big WHERE i = n - 1),
        |firstp AS (SELECT user_id, x, y FROM big WHERE i = 0),
        |anchor AS (
        |  SELECT user_id, b - 1 AS forb, sx, sy, c FROM bsum WHERE b >= 1
        |  UNION ALL
        |  SELECT user_id, 17, x, y, CAST(1 AS BIGINT) FROM lastp),
        |sel(user_id, b, x, y) AS (
        |  SELECT user_id, -1, x, y FROM firstp
        |  UNION ALL
        |  SELECT s.user_id, s.b + 1, c1.x, c1.y
        |  FROM sel s
        |  JOIN mid c1 ON c1.user_id = s.user_id AND c1.b = s.b + 1
        |  JOIN anchor a ON a.user_id = s.user_id AND a.forb = s.b + 1
        |  WHERE s.b + 1 <= 17 AND NOT EXISTS (
        |    SELECT 1 FROM mid c2
        |    WHERE c2.user_id = c1.user_id AND c2.b = c1.b AND (
        |      abs((s.x * a.c - a.sx) * (c2.y - s.y)
        |        - (s.x - c2.x) * (a.sy - s.y * a.c))
        |      > abs((s.x * a.c - a.sx) * (c1.y - s.y)
        |        - (s.x - c1.x) * (a.sy - s.y * a.c))
        |      OR (abs((s.x * a.c - a.sx) * (c2.y - s.y)
        |            - (s.x - c2.x) * (a.sy - s.y * a.c))
        |          = abs((s.x * a.c - a.sx) * (c1.y - s.y)
        |            - (s.x - c1.x) * (a.sy - s.y * a.c))
        |          AND c2.x < c1.x))))
        |SELECT user_id, pt_rank, x AS x_day, CAST(y AS DOUBLE) / 100.0 AS value
        |FROM (
        |  SELECT user_id, CAST(b + 1 AS BIGINT) AS pt_rank, x, y FROM sel
        |  UNION ALL
        |  SELECT user_id, CAST(19 AS BIGINT), x, y FROM lastp
        |  UNION ALL
        |  SELECT user_id, pt_rank, x, y FROM small)""".stripMargin,

    // first digit from the cent value's decimal STRING (libm-proof);
    // p_d frozen as Scala-rendered literals (the periodogram trick);
    // chi-squared folds nine terms in one fixed left-assoc chain
    // integer-rank threshold, exact long exceedance sums, one double
    // division (m^2/v = S1^2/(k*S2 - S1^2)); every figure one fixed
    // expression over (k, S1, S2, u, n)
    "ts_pot_gpd" ->
      """WITH daily AS (
        |  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |rk AS (
        |  SELECT user_id, c,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_days,
        |    row_number() OVER (PARTITION BY user_id ORDER BY c) AS r
        |  FROM daily),
        |thr AS (
        |  SELECT user_id, c AS u FROM rk
        |  WHERE r = (n_days * 8 + 9) // 10),
        |ex AS (
        |  SELECT rk.user_id, rk.n_days, t.u, rk.c - t.u AS y
        |  FROM rk JOIN thr t ON rk.user_id = t.user_id
        |  WHERE rk.c > t.u),
        |s AS (
        |  SELECT user_id, n_days, u, CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(y) AS BIGINT) AS s1, CAST(sum(y * y) AS BIGINT) AS s2
        |  FROM ex GROUP BY 1, 2, 3
        |  HAVING count(*) >= 5 AND count(*) * sum(y * y) > sum(y) * sum(y))
        |SELECT user_id, n_days,
        |  CAST(u AS DOUBLE) / 100.0 AS threshold,
        |  k AS n_exceed,
        |  floor(CAST(k AS DOUBLE) / n_days * 1e4 + 0.5) / 1e4 AS exceed_rate,
        |  floor(CAST(s1 AS DOUBLE) / k / 100.0 * 1e4 + 0.5) / 1e4 AS mean_excess,
        |  floor(0.5 * (1.0 - CAST(s1 * s1 AS DOUBLE)
        |    / CAST(k * s2 - s1 * s1 AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS xi,
        |  floor(0.5 * (CAST(s1 AS DOUBLE) / k / 100.0)
        |    * (CAST(s1 * s1 AS DOUBLE) / CAST(k * s2 - s1 * s1 AS DOUBLE) + 1.0)
        |    * 1e4 + 0.5) / 1e4 AS sigma
        |FROM s""".stripMargin,

    "ts_benford" ->
      """WITH c AS (
        |  SELECT user_id,
        |    substr(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS d1
        |  FROM events WHERE floor(value * 100 + 0.5) > 0),
        |g AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_obs,
        |    CAST(sum(CASE WHEN d1 = '1' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN d1 = '2' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN d1 = '3' THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |    CAST(sum(CASE WHEN d1 = '4' THEN 1 ELSE 0 END) AS BIGINT) AS n4,
        |    CAST(sum(CASE WHEN d1 = '5' THEN 1 ELSE 0 END) AS BIGINT) AS n5,
        |    CAST(sum(CASE WHEN d1 = '6' THEN 1 ELSE 0 END) AS BIGINT) AS n6,
        |    CAST(sum(CASE WHEN d1 = '7' THEN 1 ELSE 0 END) AS BIGINT) AS n7,
        |    CAST(sum(CASE WHEN d1 = '8' THEN 1 ELSE 0 END) AS BIGINT) AS n8,
        |    CAST(sum(CASE WHEN d1 = '9' THEN 1 ELSE 0 END) AS BIGINT) AS n9
        |  FROM c GROUP BY 1 HAVING count(*) >= 50)
        |SELECT user_id, n_obs, n1, n2, n3, n4, n5, n6, n7, n8, n9,
        |  floor(((n1 - n_obs * 0.3010299956639812) * (n1 - n_obs * 0.3010299956639812) / (n_obs * 0.3010299956639812) + (n2 - n_obs * 0.17609125905568124) * (n2 - n_obs * 0.17609125905568124) / (n_obs * 0.17609125905568124) + (n3 - n_obs * 0.12493873660829992) * (n3 - n_obs * 0.12493873660829992) / (n_obs * 0.12493873660829992) + (n4 - n_obs * 0.09691001300805642) * (n4 - n_obs * 0.09691001300805642) / (n_obs * 0.09691001300805642) + (n5 - n_obs * 0.07918124604762482) * (n5 - n_obs * 0.07918124604762482) / (n_obs * 0.07918124604762482) + (n6 - n_obs * 0.06694678963061322) * (n6 - n_obs * 0.06694678963061322) / (n_obs * 0.06694678963061322) + (n7 - n_obs * 0.05799194697768673) * (n7 - n_obs * 0.05799194697768673) / (n_obs * 0.05799194697768673) + (n8 - n_obs * 0.05115252244738129) * (n8 - n_obs * 0.05115252244738129) / (n_obs * 0.05115252244738129) + (n9 - n_obs * 0.04575749056067514) * (n9 - n_obs * 0.04575749056067514) / (n_obs * 0.04575749056067514)) * 1e4 + 0.5) / 1e4 AS chi2,
        |  ((n1 - n_obs * 0.3010299956639812) * (n1 - n_obs * 0.3010299956639812) / (n_obs * 0.3010299956639812) + (n2 - n_obs * 0.17609125905568124) * (n2 - n_obs * 0.17609125905568124) / (n_obs * 0.17609125905568124) + (n3 - n_obs * 0.12493873660829992) * (n3 - n_obs * 0.12493873660829992) / (n_obs * 0.12493873660829992) + (n4 - n_obs * 0.09691001300805642) * (n4 - n_obs * 0.09691001300805642) / (n_obs * 0.09691001300805642) + (n5 - n_obs * 0.07918124604762482) * (n5 - n_obs * 0.07918124604762482) / (n_obs * 0.07918124604762482) + (n6 - n_obs * 0.06694678963061322) * (n6 - n_obs * 0.06694678963061322) / (n_obs * 0.06694678963061322) + (n7 - n_obs * 0.05799194697768673) * (n7 - n_obs * 0.05799194697768673) / (n_obs * 0.05799194697768673) + (n8 - n_obs * 0.05115252244738129) * (n8 - n_obs * 0.05115252244738129) / (n_obs * 0.05115252244738129) + (n9 - n_obs * 0.04575749056067514) * (n9 - n_obs * 0.04575749056067514) / (n_obs * 0.04575749056067514)) > 20.09 AS flagged
        |FROM g""".stripMargin,

    "ts_mann_kendall" ->
      """WITH daily AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', date_trunc('day', ts)) AS x,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (count(*) * 100.0) AS y
        |  FROM events GROUP BY 1, 2),
        |nd AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |       FROM daily GROUP BY 1 HAVING count(*) >= 3),
        |s AS (
        |  SELECT a.user_id,
        |    CAST(sum(CAST(sign(b.y - a.y) AS BIGINT)) AS BIGINT) AS s_stat
        |  FROM daily a JOIN daily b ON a.user_id = b.user_id AND b.x > a.x
        |  GROUP BY 1),
        |t AS (
        |  SELECT user_id,
        |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        |  FROM (SELECT user_id, y, CAST(count(*) AS BIGINT) AS t
        |        FROM daily GROUP BY 1, 2)
        |  GROUP BY 1),
        |c AS (
        |  SELECT nd.user_id, nd.n, s.s_stat,
        |    CAST(nd.n * (nd.n - 1) * (2 * nd.n + 5) - t.tie_term AS DOUBLE)
        |      / 18.0 AS var_s
        |  FROM nd JOIN s ON nd.user_id = s.user_id
        |    JOIN t ON nd.user_id = t.user_id),
        |z AS (
        |  SELECT *, CASE WHEN var_s > 0 THEN
        |      CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
        |           WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
        |           ELSE 0.0 END END AS z_raw
        |  FROM c)
        |SELECT user_id, n AS n_days, s_stat, var_s,
        |  floor(z_raw * 1e4 + 0.5) / 1e4 AS z_stat,
        |  CASE WHEN z_raw IS NULL THEN 'undefined'
        |       WHEN z_raw > 1.96 THEN 'increasing'
        |       WHEN z_raw < -1.96 THEN 'decreasing'
        |       ELSE 'no_trend' END AS trend
        |FROM z""".stripMargin,

    // per-season S and tie terms are exact integers; they SUM before
    // the single /18 division, so the combine is merge-order-free
    "ts_seasonal_mk" ->
      """WITH daily AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', date_trunc('day', ts)) AS x,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (count(*) * 100.0) AS y
        |  FROM events GROUP BY 1, 2),
        |ds AS (SELECT user_id, (x % 7 + 7) % 7 AS season, x, y FROM daily),
        |nd AS (SELECT user_id, season, CAST(count(*) AS BIGINT) AS n
        |       FROM ds GROUP BY 1, 2 HAVING count(*) >= 3),
        |s AS (
        |  SELECT a.user_id, a.season,
        |    CAST(sum(CAST(sign(b.y - a.y) AS BIGINT)) AS BIGINT) AS s_m
        |  FROM ds a JOIN ds b ON a.user_id = b.user_id
        |    AND a.season = b.season AND b.x > a.x
        |  GROUP BY 1, 2),
        |t AS (
        |  SELECT user_id, season,
        |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        |  FROM (SELECT user_id, season, y, CAST(count(*) AS BIGINT) AS t
        |        FROM ds GROUP BY 1, 2, 3)
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT nd.user_id, CAST(count(*) AS BIGINT) AS n_seasons,
        |    CAST(sum(nd.n) AS BIGINT) AS n_total,
        |    CAST(sum(s.s_m) AS BIGINT) AS s_stat,
        |    CAST(sum(nd.n * (nd.n - 1) * (2 * nd.n + 5) - t.tie_term) AS BIGINT)
        |      AS vi
        |  FROM nd JOIN s ON nd.user_id = s.user_id AND nd.season = s.season
        |    JOIN t ON nd.user_id = t.user_id AND nd.season = t.season
        |  GROUP BY 1),
        |z AS (
        |  SELECT user_id, n_seasons, n_total, s_stat,
        |    CAST(vi AS DOUBLE) / 18.0 AS var_s,
        |    CASE WHEN CAST(vi AS DOUBLE) / 18.0 > 0 THEN
        |      CASE WHEN s_stat > 0
        |             THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(CAST(vi AS DOUBLE) / 18.0)
        |           WHEN s_stat < 0
        |             THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(CAST(vi AS DOUBLE) / 18.0)
        |           ELSE 0.0 END END AS z_raw
        |  FROM c)
        |SELECT user_id, n_seasons, n_total, s_stat, var_s,
        |  floor(z_raw * 1e4 + 0.5) / 1e4 AS z_stat,
        |  CASE WHEN z_raw IS NULL THEN 'undefined'
        |       WHEN z_raw > 1.96 THEN 'increasing'
        |       WHEN z_raw < -1.96 THEN 'decreasing'
        |       ELSE 'no_trend' END AS trend
        |FROM z""".stripMargin,

    // running max is an ORDER STATISTIC over exact rationals; the
    // subtraction is one exact-double op — merge order can't reach it
    "ts_drawdown" ->
      """WITH daily AS (
        |  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (count(*) * 100.0) AS level
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT user_id, day, level,
        |    max(level) OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM daily)
        |SELECT user_id, day,
        |  floor(level * 1e4 + 0.5) / 1e4 AS level,
        |  floor(peak * 1e4 + 0.5) / 1e4 AS peak,
        |  floor((peak - level) * 1e4 + 0.5) / 1e4 AS drawdown
        |FROM w""".stripMargin,

    // R, n₁, n₂ are integers from exact comparisons (median is an
    // order statistic); E/Var/z are fixed double expressions, verdict
    // compares the UNQUANTIZED z both sides
    "ts_runs_test" ->
      """WITH daily AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', date_trunc('day', ts)) AS x,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (count(*) * 100.0) AS y
        |  FROM events GROUP BY 1, 2),
        |nd AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |       FROM daily GROUP BY 1 HAVING count(*) >= 2),
        |r AS (SELECT user_id, y,
        |        row_number() OVER (PARTITION BY user_id ORDER BY y) AS rn
        |      FROM daily),
        |med AS (
        |  SELECT r.user_id,
        |    CASE WHEN nd.n % 2 = 1
        |      THEN max(CASE WHEN rn = (nd.n + 1) // 2 THEN y END)
        |      ELSE (max(CASE WHEN rn = nd.n // 2 THEN y END)
        |        + max(CASE WHEN rn = nd.n // 2 + 1 THEN y END)) / 2.0 END AS med
        |  FROM r JOIN nd ON r.user_id = nd.user_id
        |  GROUP BY r.user_id, nd.n),
        |f AS (
        |  SELECT d.user_id, d.x,
        |    CASE WHEN d.y > m.med THEN 1 ELSE -1 END AS sg
        |  FROM daily d JOIN med m ON d.user_id = m.user_id
        |  WHERE d.y != m.med),
        |runs AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN sg = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_plus,
        |    CAST(sum(CASE WHEN sg = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_minus,
        |    CAST(1 + sum(CASE WHEN prev IS NOT NULL AND sg != prev
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
        |  FROM (SELECT user_id, sg,
        |          lag(sg) OVER (PARTITION BY user_id ORDER BY x) AS prev
        |        FROM f)
        |  GROUP BY 1),
        |z AS (
        |  SELECT nd.user_id, nd.n,
        |    COALESCE(r2.n_plus, 0) AS n_plus,
        |    COALESCE(r2.n_minus, 0) AS n_minus, r2.n_runs,
        |    CASE WHEN COALESCE(r2.n_plus, 0) > 0
        |        AND COALESCE(r2.n_minus, 0) > 0
        |        AND r2.n_plus + r2.n_minus > 1
        |        AND CAST(2 * r2.n_plus * r2.n_minus
        |          * (2 * r2.n_plus * r2.n_minus - (r2.n_plus + r2.n_minus))
        |          AS DOUBLE)
        |          / CAST((r2.n_plus + r2.n_minus) * (r2.n_plus + r2.n_minus)
        |            * (r2.n_plus + r2.n_minus - 1) AS DOUBLE) > 0
        |      THEN (CAST(r2.n_runs AS DOUBLE)
        |        - (CAST(2 * r2.n_plus * r2.n_minus AS DOUBLE)
        |          / (r2.n_plus + r2.n_minus) + 1.0))
        |        / sqrt(CAST(2 * r2.n_plus * r2.n_minus
        |          * (2 * r2.n_plus * r2.n_minus - (r2.n_plus + r2.n_minus))
        |          AS DOUBLE)
        |          / CAST((r2.n_plus + r2.n_minus) * (r2.n_plus + r2.n_minus)
        |            * (r2.n_plus + r2.n_minus - 1) AS DOUBLE))
        |    END AS z_raw
        |  FROM nd LEFT JOIN runs r2 ON nd.user_id = r2.user_id)
        |SELECT user_id, n AS n_days, n_plus, n_minus, n_runs,
        |  floor(z_raw * 1e4 + 0.5) / 1e4 AS z_stat,
        |  CASE WHEN z_raw IS NULL THEN 'undefined'
        |       WHEN abs(z_raw) > 1.96 THEN 'non_random'
        |       ELSE 'random' END AS verdict
        |FROM z""".stripMargin,

    // threshold = the ⌈0.9n⌉-th smallest daily value (integer rank,
    // tie-order-invariant); comparisons and counts exact
    "ts_extreme_day_freq" ->
      """WITH daily AS (
        |  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (count(*) * 100.0) AS y
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, y,
        |        row_number() OVER (PARTITION BY user_id ORDER BY y) AS rn,
        |        count(*) OVER (PARTITION BY user_id) AS n
        |      FROM daily),
        |thr AS (
        |  SELECT user_id, max(CASE WHEN rn = (n * 9 + 9) // 10 THEN y END)
        |    AS thr
        |  FROM r GROUP BY 1)
        |SELECT d.user_id, substring(d.day, 1, 7) AS month,
        |  CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(CASE WHEN d.y > t.thr THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_extreme,
        |  floor(min(t.thr) * 1e4 + 0.5) / 1e4 AS threshold,
        |  floor(CAST(sum(CASE WHEN d.y > t.thr THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) * 1e4 + 0.5) / 1e4 AS extreme_share
        |FROM daily d JOIN thr t ON d.user_id = t.user_id
        |GROUP BY 1, 2""".stripMargin,

    // epoch seconds are integers end to end; islands from a running
    // max over the same ordered frame in both engines
    "ts_coverage_uptime" ->
      """WITH ev AS (
        |  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    epoch_us(ts) // 1000000 AS s, event_id
        |  FROM events),
        |isl AS (
        |  SELECT user_id, day, s,
        |    CASE WHEN max(s + 300) OVER (PARTITION BY user_id, day
        |        ORDER BY s, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR max(s + 300) OVER (PARTITION BY user_id, day
        |        ORDER BY s, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) < s
        |      THEN 1 ELSE 0 END AS new_island,
        |    event_id
        |  FROM ev),
        |num AS (
        |  SELECT user_id, day, s,
        |    sum(new_island) OVER (PARTITION BY user_id, day
        |      ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM isl),
        |grp AS (
        |  SELECT user_id, day, island,
        |    min(s) AS start_s, max(s + 300) AS end_s
        |  FROM num GROUP BY 1, 2, 3)
        |SELECT user_id, day,
        |  CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(sum(end_s - start_s) AS BIGINT) AS covered_s,
        |  floor(CAST(sum(end_s - start_s) AS DOUBLE) / 86400.0 * 1e4 + 0.5)
        |    / 1e4 AS uptime_share
        |FROM grp GROUP BY 1, 2""".stripMargin,

    // 2·midrank = 2·rank + t − 1 is integral, so rank sums and the
    // tie term stay exact longs; E/Var/z are fixed double expressions
    "ts_mann_whitney" ->
      """WITH daily AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', date_trunc('day', ts)) AS x,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (count(*) * 100.0) AS y
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT user_id, y,
        |        CASE WHEN x < 15 THEN 1 ELSE 0 END AS a
        |      FROM daily),
        |r AS (SELECT user_id, y, a,
        |    2 * rank() OVER (PARTITION BY user_id ORDER BY y)
        |      + count(*) OVER (PARTITION BY user_id, y) - 1 AS r2,
        |    count(*) OVER (PARTITION BY user_id, y) AS t
        |  FROM s),
        |g AS (SELECT user_id,
        |    CAST(sum(CASE WHEN a = 1 THEN r2 ELSE 0 END) AS BIGINT) AS ra2,
        |    CAST(sum(a) AS BIGINT) AS na,
        |    CAST(sum(1 - a) AS BIGINT) AS nb,
        |    CAST(sum(t * t - 1) AS BIGINT) AS tie
        |  FROM r GROUP BY 1),
        |z AS (SELECT user_id, na, nb,
        |    ra2 - na * (na + 1) AS u2,
        |    CASE WHEN na > 0 AND nb > 0
        |        AND CAST(na * nb AS DOUBLE) / 12.0
        |          * (CAST(na + nb + 1 AS DOUBLE)
        |            - CAST(tie AS DOUBLE)
        |              / CAST((na + nb) * (na + nb - 1) AS DOUBLE)) > 0
        |      THEN CAST(ra2 - na * (na + 1) - na * nb AS DOUBLE)
        |        / (sqrt(CAST(na * nb AS DOUBLE) / 12.0
        |          * (CAST(na + nb + 1 AS DOUBLE)
        |            - CAST(tie AS DOUBLE)
        |              / CAST((na + nb) * (na + nb - 1) AS DOUBLE))) * 2.0)
        |    END AS z_raw
        |  FROM g)
        |SELECT user_id, na AS n_pre, nb AS n_post,
        |  CAST(u2 AS DOUBLE) / 2.0 AS u_stat,
        |  floor(z_raw * 1e4 + 0.5) / 1e4 AS z_stat,
        |  CASE WHEN z_raw IS NULL THEN 'undefined'
        |       WHEN abs(z_raw) > 1.96 THEN 'shifted'
        |       ELSE 'consistent' END AS verdict
        |FROM z""".stripMargin,

    // cume_dist is the SQL-standard ≤-tie empirical CDF in both
    // engines: two exact integers divided once, quantized once
    "ts_pctl_of_record" ->
      """WITH daily AS (
        |  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (count(*) * 100.0) AS level
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, day,
        |  floor(level * 1e4 + 0.5) / 1e4 AS level,
        |  floor(cume_dist() OVER (PARTITION BY user_id ORDER BY level)
        |    * 1e4 + 0.5) / 1e4 AS pctl,
        |  CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_days
        |FROM daily""".stripMargin,

    // pooled mean = exact integer ratio; num/den are integer sums of
    // per-term 1e-8-quantized products — merge-order-free both sides
    "ts_autocorr" -> acfSql,

    // exact percentiles from the latency-second histogram's
    // cumulative counts — value-at-rank via conditional aggregates,
    // no row-level global sort
    "funnel_latency" -> {
      val pq = Seq(("p50_s", 0.5), ("p90_s", 0.9), ("p99_s", 0.99))
      val pctAggSql = pq.flatMap { case (nm, q) =>
        Seq(
          s"""min(CASE WHEN cum >= CAST(floor((n - 1) * $q) AS BIGINT) + 1
            |      THEN lat_s END) AS ${nm}_lo""".stripMargin,
          s"""min(CASE WHEN cum >= least(CAST(floor((n - 1) * $q) AS BIGINT)
            |      + 2, n) THEN lat_s END) AS ${nm}_hi""".stripMargin,
          s"((min(n) - 1) * $q - floor((min(n) - 1) * $q)) AS ${nm}_f")
      }.mkString(",\n        |    ")
      val pctOutSql = pq.map { case (nm, _) =>
        s"""floor((agg.${nm}_lo + agg.${nm}_f
          |    * (agg.${nm}_hi - agg.${nm}_lo)) * 1e4 + 0.5) / 1e4
          |    AS $nm""".stripMargin
      }.mkString(",\n        |  ")
      s"""WITH s AS (
        |  SELECT user_id, session_id, event_type, ts FROM (
        |    SELECT user_id, event_id, event_type, ts,
        |      CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        AS BIGINT) AS session_id
        |    FROM (SELECT user_id, event_id, event_type, ts,
        |        (epoch_us(ts) - epoch_us(lag(ts, 1)
        |          OVER (PARTITION BY user_id ORDER BY ts, event_id))) / 1e6
        |          AS gap
        |      FROM events))),
        |t1 AS (
        |  SELECT user_id, session_id, min(ts) AS t1
        |  FROM s WHERE event_type = 'signup' GROUP BY 1, 2),
        |cv AS (
        |  SELECT (epoch_us(min(s.ts)) - epoch_us(min(t1.t1))) // 1000000
        |    AS lat_s
        |  FROM s JOIN t1 USING (user_id, session_id)
        |  WHERE s.event_type = 'purchase' AND s.ts > t1.t1
        |  GROUP BY s.user_id, s.session_id),
        |h AS (SELECT lat_s, count(*) AS cnt FROM cv GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
        |               CAST(sum(lat_s * cnt) AS BIGINT) AS sl FROM h),
        |cum AS (
        |  SELECT h.lat_s, h.cnt,
        |    CAST(sum(h.cnt) OVER (ORDER BY h.lat_s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum,
        |    tot.n, tot.sl
        |  FROM h CROSS JOIN tot),
        |ns AS (SELECT count(*) AS n_sessions
        |       FROM (SELECT DISTINCT user_id, session_id FROM s)),
        |agg AS (
        |  SELECT min(n) AS n_converted,
        |    floor(CAST(min(sl) AS DOUBLE) / min(n) * 1e4 + 0.5) / 1e4
        |      AS mean_s,
        |    $pctAggSql
        |  FROM cum)
        |SELECT ns.n_sessions, agg.n_converted, agg.mean_s,
        |  $pctOutSql
        |FROM agg CROSS JOIN ns""".stripMargin
    },

    // lag-1 AR effective sample size (the climate-trend significance
    // standard): Neff = n(1-r1)/(1+r1) on the clamped r1, VIF its
    // inverse ratio, decorrelation lag = first acf below 1/e
    "ts_effective_n" -> {
      val invE = 1.0 / math.E
      s"""WITH acf AS ($acfSql)
        |SELECT user_id, min(n_days) AS n_days,
        |  min(CASE WHEN lag = 1 THEN acf END) AS r1,
        |  CASE WHEN min(CASE WHEN lag = 1 THEN acf END) IS NOT NULL THEN
        |    floor(min(n_days)
        |      * (1.0 - greatest(least(min(CASE WHEN lag = 1 THEN acf END),
        |          0.9999), -0.9999))
        |      / (1.0 + greatest(least(min(CASE WHEN lag = 1 THEN acf END),
        |          0.9999), -0.9999)) * 1e4 + 0.5) / 1e4
        |  END AS n_eff,
        |  CASE WHEN min(CASE WHEN lag = 1 THEN acf END) IS NOT NULL THEN
        |    floor((1.0 + greatest(least(min(CASE WHEN lag = 1 THEN acf END),
        |          0.9999), -0.9999))
        |      / (1.0 - greatest(least(min(CASE WHEN lag = 1 THEN acf END),
        |          0.9999), -0.9999)) * 1e4 + 0.5) / 1e4
        |  END AS vif,
        |  min(CASE WHEN acf < $invE THEN lag END) AS decorrelation_lag
        |FROM acf GROUP BY 1""".stripMargin
    },

    // the ts_autocorr chain verbatim, then the Q pivot: both engines
    // fold the same 4dp-quantized acf bits in the same textual order
    "ts_ljung_box" ->
      """WITH daily AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', date_trunc('day', ts)) AS x,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sc,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT user_id,
        |    CAST(sum(sc) AS DOUBLE) / (sum(cnt) * 100.0) AS ybar
        |  FROM daily GROUP BY 1),
        |dev AS (
        |  SELECT d.user_id, d.x,
        |    (CAST(d.sc AS DOUBLE) / (d.cnt * 100.0)) - s.ybar AS dev
        |  FROM daily d JOIN stats s ON d.user_id = s.user_id),
        |den AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(floor(dev * dev * 1e8 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS den_u,
        |    count(*) AS n_days
        |  FROM dev GROUP BY 1),
        |num AS (
        |  SELECT a.user_id, k.lag,
        |    CAST(sum(CAST(floor(a.dev * b.dev * 1e8 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS num_u,
        |    count(*) AS n_pairs
        |  FROM dev a
        |  JOIN (VALUES (1), (2), (3)) AS k(lag) ON true
        |  JOIN dev b ON b.user_id = a.user_id AND b.x = a.x + k.lag
        |  GROUP BY 1, 2),
        |acf_t AS (
        |  SELECT n.user_id, n.lag, d.n_days,
        |    CASE WHEN n.n_pairs >= 5 AND d.den_u > 0
        |      THEN floor(CAST(n.num_u AS DOUBLE) / d.den_u * 1e4 + 0.5) / 1e4
        |    END AS acf
        |  FROM num n JOIN den d ON n.user_id = d.user_id),
        |p AS (
        |  SELECT user_id, max(n_days) AS n_days,
        |    max(CASE WHEN lag = 1 THEN acf END) AS acf1,
        |    max(CASE WHEN lag = 2 THEN acf END) AS acf2,
        |    max(CASE WHEN lag = 3 THEN acf END) AS acf3
        |  FROM acf_t GROUP BY 1),
        |q AS (
        |  SELECT user_id, n_days, acf1, acf2, acf3,
        |    CASE WHEN acf1 IS NOT NULL AND acf2 IS NOT NULL
        |          AND acf3 IS NOT NULL AND n_days > 3
        |      THEN floor(CAST(n_days * (n_days + 2) AS DOUBLE)
        |        * (acf1 * acf1 / (n_days - 1) + acf2 * acf2 / (n_days - 2)
        |           + acf3 * acf3 / (n_days - 3)) * 1e4 + 0.5) / 1e4
        |    END AS q_stat
        |  FROM p)
        |SELECT user_id, n_days, acf1, acf2, acf3, q_stat,
        |  CASE WHEN q_stat IS NOT NULL
        |    THEN CASE WHEN q_stat <= 7.8147 THEN 1 ELSE 0 END
        |  END AS white_noise
        |FROM q""".stripMargin,

    "ts_periodogram" -> pgramSql,

    // powers re-quantized to exact 1e-4 units, per-term entropy
    // quantized to 1e-6 BEFORE the cross-period sum; dominant period
    // breaks ties toward the shorter period on both sides
    "ts_spectral_entropy" -> {
      val ln3 = math.log(graft.operators.TimeSeries.PgramPeriods.size.toDouble)
      s"""WITH pg AS ($pgramSql),
        |u AS (
        |  SELECT user_id, period,
        |    CAST(floor(power * 1e4 + 0.5) AS BIGINT) AS pu
        |  FROM pg),
        |t AS (
        |  SELECT user_id, count(*) AS n_periods,
        |    CAST(sum(pu) AS BIGINT) AS tot_u, max(pu) AS max_u
        |  FROM u GROUP BY 1),
        |e AS (
        |  SELECT u.user_id,
        |    CAST(sum(CASE WHEN u.pu > 0 AND t.tot_u > 0 THEN
        |      CAST(floor(-(CAST(u.pu AS DOUBLE) / t.tot_u)
        |        * ln(CAST(u.pu AS DOUBLE) / t.tot_u) * 1e6 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS h_u,
        |    min(CASE WHEN u.pu = t.max_u THEN u.period END) AS dom
        |  FROM u JOIN t USING (user_id) GROUP BY 1)
        |SELECT t.user_id, t.n_periods,
        |  CAST(e.dom AS BIGINT) AS dominant_period,
        |  CASE WHEN t.tot_u > 0
        |    THEN floor(CAST(t.max_u AS DOUBLE) / t.tot_u * 1e4 + 0.5) / 1e4
        |  END AS dominant_share,
        |  CASE WHEN t.tot_u > 0
        |    THEN floor(CAST(e.h_u AS DOUBLE) / 1e6 / $ln3 * 1e4 + 0.5) / 1e4
        |  END AS spectral_entropy
        |FROM t JOIN e USING (user_id)""".stripMargin
    },



    // the banded DP replayed as a recursive CTE over anti-diagonal
    // frontiers: each iteration's working table carries the newest
    // diagonal (age 0) plus the one before it (age 1), so a cell
    // joins its three predecessors exactly once, with identical
    // |a-b| + least(...) double arithmetic -> bit-equal to the
    // kernel's row-major DP (each cell is a fixed op chain, no
    // reassociation freedom)
    "ts_dtw_ref" ->
      s"""WITH RECURSIVE daily AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', date_trunc('day', ts)) AS x,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sc,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |s AS MATERIALIZED (
        |  SELECT user_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY x) AS i,
        |    floor(CAST(sc AS DOUBLE) * 100.0 / cnt + 0.5) / 1e4 AS y
        |  FROM daily),
        |r AS MATERIALIZED (
        |  SELECT row_number() OVER (ORDER BY x) AS j, y FROM (
        |    SELECT x,
        |      floor(CAST(sum(sc) AS DOUBLE) * 100.0 / sum(cnt) + 0.5) / 1e4 AS y
        |    FROM daily GROUP BY x)),
        |wb AS MATERIALIZED (
        |  SELECT sn.user_id, sn.n, rm.m,
        |    greatest(${graft.operators.TimeSeries.DtwBand}, abs(sn.n - rm.m)) AS w
        |  FROM (SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |        FROM s GROUP BY 1) sn
        |  CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS m FROM r) rm),
        |walk(user_id, i, j, v, age) AS (
        |  SELECT s.user_id, CAST(1 AS BIGINT), CAST(1 AS BIGINT),
        |    abs(s.y - r.y), 0
        |  FROM s JOIN r ON r.j = 1 WHERE s.i = 1
        |  UNION ALL
        |  (
        |  SELECT c.user_id, c.i, c.j,
        |    abs(c.ay - c.by) + least(
        |      coalesce(n1.v, 'infinity'::DOUBLE),
        |      coalesce(n2.v, 'infinity'::DOUBLE),
        |      coalesce(n3.v, 'infinity'::DOUBLE)) AS v,
        |    0 AS age
        |  FROM (
        |    SELECT DISTINCT f.user_id, f.i + di.x AS i, f.j + dj.x AS j,
        |      s.y AS ay, r.y AS by
        |    FROM walk f
        |    JOIN (VALUES (0), (1)) di(x) ON true
        |    JOIN (VALUES (0), (1)) dj(x) ON di.x + dj.x > 0
        |    JOIN wb ON wb.user_id = f.user_id
        |    JOIN s ON s.user_id = f.user_id AND s.i = f.i + di.x
        |    JOIN r ON r.j = f.j + dj.x
        |    WHERE f.age = 0 AND abs(s.i - r.j) <= wb.w) c
        |  LEFT JOIN walk n1 ON n1.age = 0 AND n1.user_id = c.user_id
        |    AND n1.i = c.i - 1 AND n1.j = c.j
        |  LEFT JOIN walk n2 ON n2.age = 0 AND n2.user_id = c.user_id
        |    AND n2.i = c.i AND n2.j = c.j - 1
        |  LEFT JOIN walk n3 ON n3.age = 1 AND n3.user_id = c.user_id
        |    AND n3.i = c.i - 1 AND n3.j = c.j - 1
        |  WHERE n1.user_id IS NOT NULL OR n2.user_id IS NOT NULL
        |  UNION ALL
        |  SELECT wk.user_id, wk.i, wk.j, wk.v, 1
        |  FROM walk wk JOIN wb ON wb.user_id = wk.user_id
        |  WHERE wk.age = 0 AND wk.i + wk.j < wb.n + wb.m
        |  )
        |)
        |SELECT w.user_id, wb.n AS n_days, wb.m AS ref_days,
        |  floor(min(w.v) * 1e4 + 0.5) / 1e4 AS dtw_dist,
        |  floor(min(w.v) / (wb.n + wb.m) * 1e4 + 0.5) / 1e4 AS dtw_per_step
        |FROM walk w JOIN wb ON wb.user_id = w.user_id
        |WHERE w.i = wb.n AND w.j = wb.m
        |GROUP BY 1, 2, 3""".stripMargin,

    "ts_cross_corr_ref" ->
      """WITH daily AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', date_trunc('day', ts)) AS x,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sc,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |refall AS (
        |  SELECT CAST(sum(sc) AS BIGINT) AS tsc, CAST(sum(cnt) AS BIGINT)
        |    AS tcnt FROM daily),
        |ref AS (
        |  SELECT d.x + k.lag AS xs, k.lag,
        |    (CAST(sum(d.sc) AS DOUBLE) / (sum(d.cnt) * 100.0))
        |      - (CAST(max(a.tsc) AS DOUBLE) / (max(a.tcnt) * 100.0)) AS rdev
        |  FROM daily d CROSS JOIN refall a
        |  JOIN (VALUES (0), (1), (2), (3)) AS k(lag) ON true
        |  GROUP BY d.x, k.lag),
        |stats AS (
        |  SELECT user_id, CAST(sum(sc) AS DOUBLE) / (sum(cnt) * 100.0) AS ybar
        |  FROM daily GROUP BY 1),
        |dev AS (
        |  SELECT d.user_id, d.x,
        |    (CAST(d.sc AS DOUBLE) / (d.cnt * 100.0)) - s.ybar AS dev
        |  FROM daily d JOIN stats s ON d.user_id = s.user_id),
        |agg AS (
        |  SELECT v.user_id, r.lag,
        |    count(*) AS n_pairs,
        |    CAST(sum(CAST(floor(v.dev * r.rdev * 1e8 + 0.5) AS BIGINT))
        |      AS BIGINT) AS num_u,
        |    CAST(sum(CAST(floor(v.dev * v.dev * 1e8 + 0.5) AS BIGINT))
        |      AS BIGINT) AS dx_u,
        |    CAST(sum(CAST(floor(r.rdev * r.rdev * 1e8 + 0.5) AS BIGINT))
        |      AS BIGINT) AS dy_u
        |  FROM dev v JOIN ref r ON v.x = r.xs
        |  GROUP BY 1, 2)
        |SELECT user_id, CAST(lag AS BIGINT) AS lag,
        |  CAST(n_pairs AS BIGINT) AS n_pairs,
        |  CASE WHEN n_pairs >= 5 AND dx_u > 0 AND dy_u > 0
        |    THEN floor(CAST(num_u AS DOUBLE)
        |      / sqrt(CAST(dx_u AS DOUBLE) * CAST(dy_u AS DOUBLE))
        |      * 1e4 + 0.5) / 1e4
        |  END AS r
        |FROM agg""".stripMargin,

    // anchor (l₂,b₂) = (y₂, y₂−y₁) verbatim; the recursive step
    // recomputes l_t inside b_t with the identical expression the
    // Spark fold uses, so the doubles are bit-identical
    "ts_holt_forecast" ->
      """WITH RECURSIVE daily AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', date_trunc('day', ts)) AS x,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (count(*) * 100.0) AS y
        |  FROM events GROUP BY 1, 2),
        |ord AS (
        |  SELECT user_id, y,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY x)
        |      AS BIGINT) AS t,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
        |  FROM daily),
        |rec AS (
        |  SELECT o2.user_id, CAST(2 AS BIGINT) AS t, o2.n,
        |    o2.y AS l, o2.y - o1.y AS b
        |  FROM ord o2 JOIN ord o1
        |    ON o1.user_id = o2.user_id AND o1.t = 1 AND o2.t = 2
        |  UNION ALL
        |  SELECT r.user_id, r.t + 1, r.n,
        |    0.5 * o.y + 0.5 * (r.l + r.b) AS l,
        |    0.25 * ((0.5 * o.y + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b AS b
        |  FROM rec r JOIN ord o ON o.user_id = r.user_id AND o.t = r.t + 1),
        |fin AS (SELECT user_id, n, l, b FROM rec WHERE t = n)
        |SELECT f.user_id, f.n AS n_days, CAST(h.h AS BIGINT) AS h,
        |  floor(l * 1e4 + 0.5) / 1e4 AS level,
        |  floor(b * 1e4 + 0.5) / 1e4 AS trend,
        |  floor((l + h.h * b) * 1e4 + 0.5) / 1e4 AS forecast
        |FROM fin f JOIN (VALUES (1), (2), (3)) AS h(h) ON true""".stripMargin,

    // smoothed shares are exact integer ratios; each bin's ln() term
    // floor-quantizes at 1e-8 before an exact integer-valued sum
    "length_drift_psi" -> {
      val binCase = TextOps.PsiBins.zipWithIndex
        .map { case (e, i) => s"WHEN n_chars <= $e THEN $i" }
        .mkString("CASE ", " ", s" ELSE ${TextOps.PsiBins.size} END")
      val nB = TextOps.PsiBins.size + 1
      val binVals = (0 until nB).map(i => s"($i)").mkString(", ")
      s"""WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
        |h AS (
        |  SELECT CAST(doc_id * 32 // (mx + 1) AS BIGINT) AS bucket,
        |    $binCase AS bin
        |  FROM documents, mx),
        |hist AS (SELECT bucket, bin, CAST(count(*) AS BIGINT) AS c
        |         FROM h GROUP BY 1, 2),
        |ref AS (SELECT bin, c AS c_ref FROM hist WHERE bucket = 0),
        |refn AS (SELECT CAST(sum(c_ref) AS BIGINT) AS n_ref FROM ref),
        |pb AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS n
        |       FROM hist GROUP BY 1),
        |grid AS (SELECT pb.bucket, pb.n, b.bin
        |         FROM pb CROSS JOIN (VALUES $binVals) AS b(bin)),
        |t AS (
        |  SELECT g.bucket, g.n,
        |    floor(((COALESCE(hist.c, 0) + 1) / CAST(g.n + $nB AS DOUBLE)
        |        - (COALESCE(ref.c_ref, 0) + 1)
        |          / CAST(refn.n_ref + $nB AS DOUBLE))
        |      * ln(((COALESCE(hist.c, 0) + 1) / CAST(g.n + $nB AS DOUBLE))
        |        / ((COALESCE(ref.c_ref, 0) + 1)
        |          / CAST(refn.n_ref + $nB AS DOUBLE)))
        |      * 1e8 + 0.5) AS term
        |  FROM grid g
        |  LEFT JOIN hist ON g.bucket = hist.bucket AND g.bin = hist.bin
        |  LEFT JOIN ref ON g.bin = ref.bin
        |  CROSS JOIN refn)
        |SELECT bucket, CAST(max(n) AS BIGINT) AS n_docs,
        |  floor(sum(term) / 1e8 * 1e6 + 0.5) / 1e6 AS psi,
        |  CASE WHEN sum(term) / 1e8 > 0.25 THEN 'shifted'
        |       WHEN sum(term) / 1e8 > 0.1 THEN 'drifting'
        |       ELSE 'stable' END AS verdict
        |FROM t GROUP BY bucket""".stripMargin
    },

    // first-occurrence = min(bucket) per fingerprint (integer order
    // statistic); the rate divides two exact longs once
    "dup_growth" ->
      """WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
        |fp AS (
        |  SELECT CAST(doc_id * 32 // (mx + 1) AS BIGINT) AS bucket,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents, mx),
        |pb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs
        |       FROM fp GROUP BY 1),
        |fs AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_first FROM (
        |  SELECT fp, min(bucket) AS bucket FROM fp GROUP BY 1) GROUP BY 1),
        |c AS (
        |  SELECT pb.bucket, pb.n_docs,
        |    CAST(COALESCE(fs.n_first, 0) AS BIGINT) AS n_first,
        |    CAST(sum(pb.n_docs) OVER (ORDER BY pb.bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_docs,
        |    CAST(sum(COALESCE(fs.n_first, 0)) OVER (ORDER BY pb.bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_unique
        |  FROM pb LEFT JOIN fs ON pb.bucket = fs.bucket)
        |SELECT bucket, n_docs, n_first, cum_docs, cum_unique,
        |  round(1.0 - cum_unique * 1.0 / cum_docs, 4) AS dup_rate
        |FROM c""".stripMargin,

    "vocab_growth" ->
      """WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
        |tok AS (
        |  SELECT CAST(doc_id * 32 // (mx + 1) AS BIGINT) AS bucket,
        |    unnest(string_split(
        |      regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        |  FROM documents, mx),
        |bt AS (SELECT bucket, tok, count(*) AS n_occ FROM tok GROUP BY 1, 2),
        |pb AS (SELECT bucket, CAST(sum(n_occ) AS BIGINT) AS n_tok
        |       FROM bt GROUP BY 1),
        |nv AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_new FROM (
        |  SELECT tok, min(bucket) AS bucket FROM bt GROUP BY 1) GROUP BY 1),
        |nd AS (SELECT CAST(doc_id * 32 // (mx + 1) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs FROM documents, mx GROUP BY 1)
        |SELECT pb.bucket, nd.n_docs,
        |  CAST(sum(pb.n_tok) OVER (ORDER BY pb.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_tokens,
        |  CAST(sum(COALESCE(nv.n_new, 0)) OVER (ORDER BY pb.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_vocab
        |FROM pb JOIN nd ON pb.bucket = nd.bucket
        |  LEFT JOIN nv ON pb.bucket = nv.bucket""".stripMargin,

    // G(t)·1e4 = a²/(n·t·(n−t)) exactly; every operand non-negative,
    // so DuckDB `//` and Spark `div` (both truncating) agree
    "ts_changepoint" ->
      """WITH daily AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', date_trunc('day', ts)) AS x,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sc
        |  FROM events GROUP BY 1, 2),
        |pre AS (
        |  SELECT user_id, x,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY x)
        |      AS BIGINT) AS t,
        |    CAST(sum(sc) OVER (PARTITION BY user_id ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS st,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
        |    CAST(sum(sc) OVER (PARTITION BY user_id) AS BIGINT) AS sn
        |  FROM daily),
        |scored AS (
        |  SELECT user_id, x, t, n, st, sn,
        |    n * st - t * sn AS a, n * t * (n - t) AS den
        |  FROM pre WHERE t < n),
        |best AS (
        |  SELECT user_id, x, t, n, st, sn,
        |    (2 * a * a + den) // (2 * den) AS score_u,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY (2 * a * a + den) // (2 * den) DESC, x ASC) AS rn
        |  FROM scored)
        |SELECT user_id,
        |  strftime(DATE '2024-01-01' + CAST(x AS INTEGER), '%Y-%m-%d')
        |    AS cp_day,
        |  n AS n_days, t AS n_before,
        |  CAST(score_u AS DOUBLE) / 1e4 AS score,
        |  CAST((200 * st + t) // (2 * t) AS DOUBLE) / 1e4 AS mean_before,
        |  CAST((200 * (sn - st) + (n - t)) // (2 * (n - t)) AS DOUBLE) / 1e4
        |    AS mean_after
        |FROM best WHERE rn = 1""".stripMargin,

    "ts_seasonal_decompose" -> decomposeSql,

    // Hyndman strength-of-components: variances from exact component
    // sums with per-term quantized squares (fold order never reaches
    // the figures)
    "ts_seasonal_strength" ->
      s"""WITH d AS ($decomposeSql),
        |u AS (
        |  SELECT user_id,
        |    CAST(floor(residual * 1e4 + 0.5) AS BIGINT) AS r_u,
        |    CAST(floor((value - seasonal) * 1e4 + 0.5) AS BIGINT) AS tr_u,
        |    CAST(floor((value - trend) * 1e4 + 0.5) AS BIGINT) AS sr_u
        |  FROM d),
        |m AS (
        |  SELECT user_id, count(*) AS n,
        |    CAST(sum(r_u) AS BIGINT) AS s_r,
        |    CAST(sum(CAST(floor((CAST(r_u AS DOUBLE) / 1e4)
        |      * (CAST(r_u AS DOUBLE) / 1e4) * 1e4 + 0.5) AS BIGINT))
        |      AS BIGINT) AS q_r,
        |    CAST(sum(tr_u) AS BIGINT) AS s_tr,
        |    CAST(sum(CAST(floor((CAST(tr_u AS DOUBLE) / 1e4)
        |      * (CAST(tr_u AS DOUBLE) / 1e4) * 1e4 + 0.5) AS BIGINT))
        |      AS BIGINT) AS q_tr,
        |    CAST(sum(sr_u) AS BIGINT) AS s_sr,
        |    CAST(sum(CAST(floor((CAST(sr_u AS DOUBLE) / 1e4)
        |      * (CAST(sr_u AS DOUBLE) / 1e4) * 1e4 + 0.5) AS BIGINT))
        |      AS BIGINT) AS q_sr
        |  FROM u GROUP BY 1),
        |v AS (
        |  SELECT user_id, n,
        |    CAST(q_r AS DOUBLE) / 1e4 / n
        |      - (CAST(s_r AS DOUBLE) / 1e4 / n) * (CAST(s_r AS DOUBLE) / 1e4 / n)
        |      AS var_r,
        |    CAST(q_tr AS DOUBLE) / 1e4 / n
        |      - (CAST(s_tr AS DOUBLE) / 1e4 / n) * (CAST(s_tr AS DOUBLE) / 1e4 / n)
        |      AS var_tr,
        |    CAST(q_sr AS DOUBLE) / 1e4 / n
        |      - (CAST(s_sr AS DOUBLE) / 1e4 / n) * (CAST(s_sr AS DOUBLE) / 1e4 / n)
        |      AS var_sr
        |  FROM m)
        |SELECT user_id, CAST(n AS BIGINT) AS n_days,
        |  floor(var_r * 1e4 + 0.5) / 1e4 AS var_resid,
        |  CASE WHEN var_tr > 0
        |    THEN floor(greatest(0.0, 1.0 - var_r / var_tr) * 1e4 + 0.5) / 1e4
        |  END AS f_trend,
        |  CASE WHEN var_sr > 0
        |    THEN floor(greatest(0.0, 1.0 - var_r / var_sr) * 1e4 + 0.5) / 1e4
        |  END AS f_seasonal
        |FROM v""".stripMargin,

    "events_burst_flag" ->
      """WITH d AS (
        |  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT user_id, CAST(sum(cnt) AS BIGINT) AS n_events,
        |    count(*) AS n_active_days, max(cnt) AS peak_day_events
        |  FROM d GROUP BY 1)
        |SELECT p.user_id, p.n_events, p.n_active_days, p.peak_day_events,
        |  min(d.day) AS peak_day,
        |  p.n_active_days >= 3
        |    AND p.peak_day_events * p.n_active_days > 2 * p.n_events AS is_bursty
        |FROM p JOIN d ON d.user_id = p.user_id AND d.cnt = p.peak_day_events
        |GROUP BY ALL""".stripMargin,

    "events_markov" -> markovSql,

    // integer calendar arithmetic; gaps from one lag on the daily sort
    "ts_missing_report" ->
      """WITH d AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01',
        |      date_trunc('day', ts)) AS dn,
        |    count(*) AS n_obs
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT user_id, dn,
        |    dn - lag(dn) OVER (PARTITION BY user_id ORDER BY dn) - 1 AS gap
        |  FROM d)
        |SELECT user_id, count(*) AS n_days,
        |  CAST(max(dn) - min(dn) + 1 AS BIGINT) AS expected_days,
        |  CAST(sum(CASE WHEN gap > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
        |  CAST(coalesce(max(CASE WHEN gap > 0 THEN gap END), 0) AS BIGINT)
        |    AS longest_gap,
        |  floor(CAST(count(*) AS DOUBLE) / (max(dn) - min(dn) + 1)
        |    * 1e4 + 0.5) / 1e4 AS completeness
        |FROM g GROUP BY 1""".stripMargin,

    // ISO dow on both engines; bounded 7x24 output, one reduce
    "events_dow_hour_heatmap" ->
      """WITH c AS (
        |  SELECT CAST(isodow(ts) AS INT) AS dow,
        |    CAST(hour(ts) AS INT) AS hour,
        |    count(*) AS n,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sc
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c)
        |SELECT dow, hour, n,
        |  floor(CAST(sc AS DOUBLE) / n + 0.5) / 100.0 AS mean_value,
        |  floor(CAST(n AS DOUBLE) / nn * 1e6 + 0.5) / 1e6 AS share
        |FROM c CROSS JOIN tot""".stripMargin,

    // per-term n·ln p quantized to 1e-6 units before both sums; the
    // chain's entropy rate is the sum of the h_contrib column
    "events_entropy_rate" ->
      s"""WITH m AS ($markovSql),
        |tot AS (SELECT CAST(sum(n_trans) AS BIGINT) AS nn FROM m),
        |t AS (
        |  SELECT from_type, n_from,
        |    CAST(floor(-(CAST(n_trans AS DOUBLE)
        |      * ln(CAST(n_trans AS DOUBLE) / n_from)) * 1e6 + 0.5)
        |      AS BIGINT) AS tu
        |  FROM m)
        |SELECT from_type, min(t.n_from) AS n_from,
        |  floor(CAST(min(t.n_from) AS DOUBLE) / min(tot.nn) * 1e4 + 0.5) / 1e4
        |    AS pi,
        |  floor(CAST(sum(t.tu) AS DOUBLE) / 1e6 / min(t.n_from) * 1e4 + 0.5)
        |    / 1e4 AS h_cond,
        |  floor(CAST(sum(t.tu) AS DOUBLE) / 1e6 / min(tot.nn) * 1e4 + 0.5)
        |    / 1e4 AS h_contrib
        |FROM t CROSS JOIN tot GROUP BY 1""".stripMargin,

    "ts_rolling_median" ->
      """WITH h AS (
        |  SELECT event_id, user_id, value,
        |    list_sort(list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)) AS hist
        |  FROM events)
        |SELECT event_id, user_id, round(value, 2) AS value,
        |  floor((CASE WHEN len(hist) % 2 = 1 THEN hist[(len(hist)+1)//2]
        |         ELSE (hist[len(hist)//2] + hist[len(hist)//2 + 1]) / 2.0 END)
        |    * 1e4 + 0.5) / 1e4 AS rolling_med
        |FROM h""".stripMargin,

    // 2*median of integers is exactly integral in double, so the
    // BIGINT casts are lossless on both engines (DuckDB rounds,
    // Spark truncates — identical on integral doubles) and the
    // Hampel comparison is pure integer arithmetic
    "ts_outlier_mad" ->
      """WITH c AS (
        |  SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |w1 AS (
        |  SELECT user_id, c,
        |    CAST(2 * median(c) OVER (PARTITION BY user_id) AS BIGINT) AS m2
        |  FROM c),
        |w2 AS (SELECT user_id, c, m2, abs(2 * c - m2) AS dev2 FROM w1),
        |w3 AS (
        |  SELECT user_id, m2, dev2,
        |    CAST(2 * median(dev2) OVER (PARTITION BY user_id) AS BIGINT) AS mad4
        |  FROM w2)
        |SELECT user_id, count(*) AS n, max(m2) / 200.0 AS median_value,
        |  max(mad4) / 400.0 AS mad_value,
        |  CAST(sum(CASE WHEN 2 * dev2 > 3 * mad4 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM w3 GROUP BY 1""".stripMargin,

    // exact integer-cent sufficient statistics behind mu/sd: no
    // merge-order noise, no engine-specific streaming moments
    "ts_climatology_anomaly" ->
      """WITH clim AS (
        |  SELECT user_id, hod, count(*) AS n_obs,
        |    floor(CAST(sum(c) AS DOUBLE) / count(*) / 100.0 * 1e6 + 0.5) / 1e6 AS mu,
        |    CASE WHEN count(*) > 1 THEN
        |      floor(sqrt(greatest(CAST(count(*) AS DOUBLE) * CAST(sum(c * c) AS DOUBLE)
        |          - CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE), 0.0)
        |        / (CAST(count(*) AS DOUBLE) * (CAST(count(*) AS DOUBLE) - 1.0)))
        |        / 100.0 * 1e6 + 0.5) / 1e6 END AS sd
        |  FROM (SELECT user_id, CAST(hour(ts) AS INT) AS hod,
        |          CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events)
        |  GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, c.hod,
        |  round(e.value, 2) AS value,
        |  floor((e.value - c.mu) * 1e4 + 0.5) / 1e4 AS anom,
        |  CASE WHEN c.n_obs >= 5 AND c.sd > 0
        |    THEN floor((e.value - c.mu) / c.sd * 1e4 + 0.5) / 1e4 END AS anom_std
        |FROM events e
        |JOIN clim c ON e.user_id = c.user_id AND CAST(hour(e.ts) AS INT) = c.hod""".stripMargin,

    "ts_lag_delta" ->
      """SELECT event_id, user_id, round(value, 2) AS value,
        |  round(value - lag(value, 1) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id), 2) AS delta
        |FROM events""".stripMargin,

    "ts_sessionize" ->
      """WITH g AS (
        |  SELECT event_id, user_id, ts,
        |    epoch_us(ts) - epoch_us(lag(ts, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id)) AS gap_us
        |  FROM events)
        |SELECT event_id, user_id,
        |  CAST(sum(CASE WHEN gap_us IS NULL OR gap_us / 1e6 > 1800 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM g""".stripMargin,

    "events_funnel" ->
      """WITH s AS (
        |  SELECT user_id, event_type, ts,
        |    CAST(sum(CASE WHEN gap_us IS NULL OR gap_us / 1e6 > 1800 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM (SELECT *, epoch_us(ts) - epoch_us(lag(ts, 1) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id)) AS gap_us FROM events)),
        |t1 AS (SELECT user_id, session_id,
        |         min(CASE WHEN event_type = 'signup' THEN ts END) AS t1
        |       FROM s GROUP BY 1, 2),
        |t2 AS (SELECT s.user_id, s.session_id,
        |         min(CASE WHEN s.event_type = 'click' AND s.ts > t1.t1 THEN s.ts END) AS t2
        |       FROM s JOIN t1 USING (user_id, session_id) GROUP BY 1, 2),
        |t3 AS (SELECT s.user_id, s.session_id,
        |         min(CASE WHEN s.event_type = 'purchase' AND s.ts > t2.t2 THEN s.ts END) AS t3
        |       FROM s JOIN t2 USING (user_id, session_id) GROUP BY 1, 2),
        |f AS (SELECT count(*) AS n_sessions, count(t1.t1) AS n_signup,
        |        count(t2.t2) AS n_signup_click, count(t3.t3) AS n_full
        |      FROM t1 JOIN t2 USING (user_id, session_id)
        |           JOIN t3 USING (user_id, session_id))
        |SELECT CAST(1 AS INT) AS stage, 'session' AS name, n_sessions AS n,
        |  CASE WHEN n_sessions > 0 THEN floor(CAST(n_sessions AS DOUBLE) / n_sessions * 1e4 + 0.5) / 1e4 END AS conversion FROM f
        |UNION ALL SELECT 2, 'signup', n_signup,
        |  CASE WHEN n_sessions > 0 THEN floor(CAST(n_signup AS DOUBLE) / n_sessions * 1e4 + 0.5) / 1e4 END FROM f
        |UNION ALL SELECT 3, 'signup>click', n_signup_click,
        |  CASE WHEN n_signup > 0 THEN floor(CAST(n_signup_click AS DOUBLE) / n_signup * 1e4 + 0.5) / 1e4 END FROM f
        |UNION ALL SELECT 4, 'signup>click>purchase', n_full,
        |  CASE WHEN n_signup_click > 0 THEN floor(CAST(n_full AS DOUBLE) / n_signup_click * 1e4 + 0.5) / 1e4 END FROM f""".stripMargin,

    "events_retention" ->
      """WITH active AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
        |c AS (
        |  SELECT user_id, day,
        |    min(day) OVER (PARTITION BY user_id) AS cohort_day
        |  FROM active),
        |cell AS (
        |  SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
        |    CAST(date_diff('day', cohort_day, day) AS INT) AS offset_days,
        |    count(*) AS n_active
        |  FROM c GROUP BY 1, 2),
        |sz AS (
        |  SELECT cohort_day, n_active AS cohort_size
        |  FROM cell WHERE offset_days = 0)
        |SELECT cohort_day, offset_days, n_active, cohort_size,
        |  floor(CAST(n_active AS DOUBLE) / cohort_size * 1e4 + 0.5) / 1e4
        |    AS retention
        |FROM cell JOIN sz USING (cohort_day)""".stripMargin,

    "interval_join" ->
      """SELECT i.event_id AS interval_id, CAST(count(*) AS BIGINT) AS n_clicks
        |FROM (SELECT event_id, ts AS start_ts, ts + INTERVAL 4 HOUR AS end_ts
        |      FROM events WHERE event_type = 'signup') i
        |JOIN (SELECT ts FROM events WHERE event_type = 'click') c
        |  ON c.ts >= i.start_ts AND c.ts < i.end_ts
        |GROUP BY 1""".stripMargin,
    "ts_rolling_anomaly" ->
      s"""WITH h AS (
        |  SELECT event_id, user_id, value,
        |    count(c) OVER w AS n_hist,
        |    $zScore4Sql AS z
        |  FROM (SELECT *, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |        FROM events)
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 30 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, round(value, 2) AS value, z,
        |  abs(z) > 3.0 AS is_anomaly
        |FROM h WHERE n_hist >= 10 AND z IS NOT NULL""".stripMargin,
    "spi_zscore" ->
      s"""SELECT event_id, user_id, event_type, $zScore4Sql AS zscore
        |FROM (SELECT *, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |      FROM events)
        |WINDOW w AS (PARTITION BY user_id, event_type)""".stripMargin,
    "drought_episodes" ->
      s"""WITH z AS (
        |  ${zCteSql("event_id, user_id, event_type, ts")}),
        |f AS (
        |  SELECT *, CASE WHEN zscore <= -1.0 THEN 1 ELSE 0 END AS dry FROM z),
        |r AS (
        |  SELECT *, CASE WHEN dry = 1 AND coalesce(lag(dry) OVER
        |      (PARTITION BY user_id, event_type ORDER BY ts, event_id), 0) = 0
        |    THEN 1 ELSE 0 END AS run_start
        |  FROM f),
        |e AS (
        |  SELECT *, CAST(sum(run_start) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS episode
        |  FROM r)
        |SELECT user_id, event_type, episode,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS t_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS t_end,
        |  count(*) AS n_obs,
        |  min(zscore) AS peak,
        |  -CAST(sum(CAST(round(zscore * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS severity
        |FROM e WHERE dry = 1
        |GROUP BY user_id, event_type, episode""".stripMargin,

    "spi_gamma" -> spiGammaSql(
      """  SELECT event_id, user_id,
        |    sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS x
        |  FROM events""".stripMargin,
      Seq("user_id")),

    "spi_gamma_ref" -> spiGammaSql(
      """  SELECT event_id, user_id, ts,
        |    sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS x
        |  FROM events""".stripMargin,
      Seq("user_id"),
      fitWhere = "WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'" +
        " AND ts < TIMESTAMP '2024-01-16 00:00:00'"),

    "spi_multiscale" -> spiGammaSql(
      """  SELECT event_id, user_id, s.scale,
        |    CASE s.scale WHEN 3 THEN x3 WHEN 7 THEN x7 ELSE x14 END AS x
        |  FROM (
        |    SELECT event_id, user_id,
        |      sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS x3,
        |      sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS x7,
        |      sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS x14
        |    FROM events) w
        |  CROSS JOIN (VALUES (3), (7), (14)) s(scale)""".stripMargin,
      Seq("user_id", "scale"),
      ridSql = "acc.event_id * 100 + acc.scale"),

    "spi_ensemble_gamma" ->
      s"""SELECT user_id,
        |  strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |  count(spi) AS n,
        |  floor(quantile_cont(spi, 0.5) * 1e4 + 0.5) / 1e4 AS spi_med
        |FROM (${spiGammaSql(
          """  SELECT event_id, user_id, event_id % 5 AS member, ts,
            |    sum(value) OVER (PARTITION BY user_id, event_id % 5
            |      ORDER BY ts, event_id
            |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS x
            |  FROM events""".stripMargin,
          Seq("user_id", "member"), carry = Seq("ts"))}) q
        |GROUP BY 1, 2""".stripMargin,

    "bias_delta" ->
      """WITH ref AS (SELECT user_id,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (count(*) * 100.0) AS ref_mean FROM events
        |             WHERE event_type = 'view' GROUP BY 1),
        |fm AS (SELECT user_id,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (count(*) * 100.0) AS fcst_mean FROM events
        |       WHERE event_type = 'click' GROUP BY 1)
        |SELECT e.event_id, e.user_id, round(e.value, 2) AS fcst_value,
        |  floor((e.value + coalesce(r.ref_mean - f.fcst_mean, 0.0)) * 1e4 + 0.5) / 1e4 AS corrected
        |FROM events e
        |LEFT JOIN fm f ON e.user_id = f.user_id
        |LEFT JOIN ref r ON e.user_id = r.user_id
        |WHERE e.event_type = 'click'""".stripMargin,
    "bias_reconstruct" ->
      """WITH fc AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         min(value) AS vmin, max(value) - min(value) AS vrange
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
        |), ref AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         min(value) AS vmin, max(value) - min(value) AS vrange
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2
        |), d AS (
        |  SELECT f.user_id,
        |         floor((r.r_min_mean - f.f_min_mean) * 1e6 + 0.5) / 1e6 AS d_min,
        |         floor((r.r_range_mean - f.f_range_mean) * 1e6 + 0.5) / 1e6 AS d_range
        |  FROM (SELECT user_id,
        |          CAST(sum(CAST(floor(vmin * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |            / (count(*) * 100.0) AS f_min_mean,
        |          CAST(sum(CAST(floor(vrange * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |            / (count(*) * 100.0) AS f_range_mean
        |        FROM fc GROUP BY 1) f
        |  JOIN (SELECT user_id,
        |          CAST(sum(CAST(floor(vmin * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |            / (count(*) * 100.0) AS r_min_mean,
        |          CAST(sum(CAST(floor(vrange * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |            / (count(*) * 100.0) AS r_range_mean
        |        FROM ref GROUP BY 1) r ON f.user_id = r.user_id
        |), adj AS (
        |  SELECT fc.user_id, fc.day,
        |         fc.vmin + d.d_min AS min_adj,
        |         (fc.vmin + d.d_min)
        |           + greatest(fc.vrange + d.d_range, 0.0) AS max_adj
        |  FROM fc JOIN d ON fc.user_id = d.user_id)
        |SELECT user_id, day, t_min_adj, t_max_adj,
        |  floor((t_min_adj + t_max_adj) / 2 * 1e4 + 0.5) / 1e4 AS t_avg_adj
        |FROM (SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |        floor(min_adj * 1e4 + 0.5) / 1e4 AS t_min_adj,
        |        floor(max_adj * 1e4 + 0.5) / 1e4 AS t_max_adj
        |      FROM adj)""".stripMargin,

    "bias_qmap" ->
      """WITH f AS (SELECT event_id, user_id, value FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id, value AS ref_value,
        |        row_number() OVER (PARTITION BY user_id ORDER BY value) - 1 AS idx
        |      FROM events WHERE event_type = 'view'),
        |n AS (SELECT user_id, count(*) AS n_ref FROM r GROUP BY 1),
        |p AS (SELECT event_id, user_id, value,
        |        CASE WHEN count(*) OVER (PARTITION BY user_id) = 1 THEN 0.0
        |             ELSE percent_rank() OVER (PARTITION BY user_id ORDER BY value)
        |        END AS pr
        |      FROM f),
        |q AS (SELECT p.*, p.pr * (n.n_ref - 1) AS fpos,
        |        CAST(floor(p.pr * (n.n_ref - 1)) AS INT) AS idx_lo,
        |        CAST(ceil(p.pr * (n.n_ref - 1)) AS INT) AS idx_hi
        |      FROM p JOIN n ON p.user_id = n.user_id)
        |SELECT q.event_id, q.user_id, round(q.value, 2) AS fcst_value,
        |  floor((lo.ref_value + (q.fpos - q.idx_lo) * (hi.ref_value - lo.ref_value))
        |        * 1e4 + 0.5) / 1e4 AS mapped
        |FROM q JOIN r lo ON q.user_id = lo.user_id AND q.idx_lo = lo.idx
        |       JOIN r hi ON q.user_id = hi.user_id AND q.idx_hi = hi.idx""".stripMargin,

    // strict-inequality ranks on exact 1e-4 weekly means, complete
    // ensembles only; O(m+1) histogram with a windowed share
    "forecast_rank_hist" ->
      """WITH obs AS (
        |  SELECT user_id, strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) / count(*) * 100.0 + 0.5) AS BIGINT) AS y_u
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |mem AS (
        |  SELECT user_id, event_id % 5 AS member,
        |    strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) / count(*) * 100.0 + 0.5) AS BIGINT) AS u
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2, 3),
        |ranked AS (
        |  SELECT m.user_id, m.week, count(*) AS m,
        |    CAST(sum(CASE WHEN m.u < o.y_u THEN 1 ELSE 0 END) + 1 AS BIGINT)
        |      AS rank
        |  FROM mem m JOIN obs o ON m.user_id = o.user_id AND m.week = o.week
        |  GROUP BY 1, 2
        |  HAVING count(*) = 5)
        |SELECT rank, CAST(count(*) AS BIGINT) AS n,
        |  round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 4) AS share
        |FROM ranked GROUP BY rank""".stripMargin,

    // weekly means quantized once to exact 1e-4 longs; both CRPS
    // sums exact; one fixed double expression at the end
    // k and o are exact integers ((p−o)² = (k−5o)²/25 exactly); every
    // score is one fixed double expression over integer sums
    "forecast_brier" ->
      s"""WITH $exceedanceCtes,
         |s AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_weeks,
         |    CAST(sum(CAST(floor((k - m * o) * (k - m * o) * 1e8
         |      / (m * m) + 0.5) AS BIGINT)) AS BIGINT) AS se,
         |    CAST(sum(o) AS BIGINT) AS no
         |  FROM ko GROUP BY 1 HAVING count(*) >= 5)
         |SELECT user_id, n_weeks,
         |  floor(CAST(se AS DOUBLE) / (n_weeks * 1e8) * 1e4 + 0.5) / 1e4
         |    AS brier,
         |  floor(CAST(no AS DOUBLE) / n_weeks * 1e4 + 0.5) / 1e4 AS base_rate,
         |  CASE WHEN no > 0 AND no < n_weeks THEN
         |    floor((1.0 - (CAST(se AS DOUBLE) / (n_weeks * 1e8))
         |      / ((CAST(no AS DOUBLE) / n_weeks)
         |         * (1.0 - CAST(no AS DOUBLE) / n_weeks))) * 1e4 + 0.5) / 1e4
         |  END AS bss
         |FROM s""".stripMargin,

    "forecast_reliability" ->
      s"""WITH $exceedanceCtes,
         |kb AS (SELECT CAST(floor(k * 5.0 / m + 0.5) AS BIGINT) AS bin, o
         |       FROM ko)
         |SELECT bin, bin / 5.0 AS p_forecast,
         |  CAST(count(*) AS BIGINT) AS n_cases,
         |  CAST(sum(o) AS BIGINT) AS n_events,
         |  floor(CAST(sum(o) AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4
         |    AS obs_freq
         |FROM kb GROUP BY 1""".stripMargin,

    "forecast_crps" ->
      """WITH obs AS (
        |  SELECT user_id, strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) / count(*) * 100.0 + 0.5) AS BIGINT) AS y_u
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |mem AS (
        |  SELECT user_id, event_id % 5 AS member,
        |    strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) / count(*) * 100.0 + 0.5) AS BIGINT) AS u
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2, 3),
        |s1 AS (
        |  SELECT m.user_id, m.week, CAST(count(*) AS BIGINT) AS m,
        |    sum(abs(m.u - o.y_u)) AS sae
        |  FROM mem m JOIN obs o ON m.user_id = o.user_id AND m.week = o.week
        |  GROUP BY 1, 2),
        |s2 AS (
        |  SELECT a.user_id, a.week, sum(abs(a.u - b.u)) AS spread
        |  FROM mem a JOIN mem b ON a.user_id = b.user_id AND a.week = b.week
        |  GROUP BY 1, 2)
        |SELECT s1.user_id, s1.week, s1.m AS n_members,
        |  floor(CAST(sae AS DOUBLE) / s1.m
        |    - CAST(spread AS DOUBLE) / (2 * s1.m * s1.m) + 0.5) / 1e4 AS crps
        |FROM s1 JOIN s2 ON s1.user_id = s2.user_id AND s1.week = s2.week"""
        .stripMargin,

    // decile grid quantized once to exact 1e-4 longs; 9-term squared
    // sums exact; RMSE/ratio one fixed double expression each
    "bias_skill" ->
      """WITH f AS (SELECT event_id, user_id, value FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id, value AS ref_value,
        |        row_number() OVER (PARTITION BY user_id ORDER BY value) - 1 AS idx
        |      FROM events WHERE event_type = 'view'),
        |n AS (SELECT user_id, count(*) AS n_ref FROM r GROUP BY 1),
        |p AS (SELECT event_id, user_id, value,
        |        CASE WHEN count(*) OVER (PARTITION BY user_id) = 1 THEN 0.0
        |             ELSE percent_rank() OVER (PARTITION BY user_id ORDER BY value)
        |        END AS pr
        |      FROM f),
        |q AS (SELECT p.*, p.pr * (n.n_ref - 1) AS fpos,
        |        CAST(floor(p.pr * (n.n_ref - 1)) AS INT) AS idx_lo,
        |        CAST(ceil(p.pr * (n.n_ref - 1)) AS INT) AS idx_hi
        |      FROM p JOIN n ON p.user_id = n.user_id),
        |mapped AS (
        |  SELECT q.user_id,
        |    floor((lo.ref_value + (q.fpos - q.idx_lo) * (hi.ref_value - lo.ref_value))
        |          * 1e4 + 0.5) / 1e4 AS value
        |  FROM q JOIN r lo ON q.user_id = lo.user_id AND q.idx_lo = lo.idx
        |         JOIN r hi ON q.user_id = hi.user_id AND q.idx_hi = hi.idx),
        |ds AS (SELECT 'ref' AS src, user_id, value FROM events WHERE event_type = 'view'
        |       UNION ALL SELECT 'raw', user_id, value FROM events WHERE event_type = 'click'
        |       UNION ALL SELECT 'corr', user_id, value FROM mapped),
        |dq AS (SELECT src, user_id,
        |         list_transform(
        |           quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
        |           x -> CAST(floor(x * 1e4 + 0.5) AS BIGINT)) AS qs
        |       FROM ds GROUP BY 1, 2),
        |w AS (SELECT rq.user_id, rq.qs AS rq, fq.qs AS fq, cq.qs AS cq
        |      FROM (SELECT user_id, qs FROM dq WHERE src = 'ref') rq
        |      JOIN (SELECT user_id, qs FROM dq WHERE src = 'raw') fq USING (user_id)
        |      JOIN (SELECT user_id, qs FROM dq WHERE src = 'corr') cq USING (user_id)),
        |sums AS (
        |  SELECT user_id,
        |    list_sum([(fq[i] - rq[i]) * (fq[i] - rq[i]) for i in range(1, 10)]) AS ssd_raw,
        |    list_sum([(cq[i] - rq[i]) * (cq[i] - rq[i]) for i in range(1, 10)]) AS ssd_corr
        |  FROM w)
        |SELECT user_id,
        |  round(sqrt(CAST(ssd_raw AS DOUBLE) / 9.0) / 1e4, 4) AS rmse_raw,
        |  round(sqrt(CAST(ssd_corr AS DOUBLE) / 9.0) / 1e4, 4) AS rmse_corrected,
        |  CASE WHEN ssd_raw > 0 THEN
        |    round(1.0 - (sqrt(CAST(ssd_corr AS DOUBLE) / 9.0) / 1e4)
        |      / (sqrt(CAST(ssd_raw AS DOUBLE) / 9.0) / 1e4), 4)
        |  END AS improvement
        |FROM sums""".stripMargin,

    // QDM: p from the future distribution itself (trend-preserving),
    // two lead-carried quantile interpolations, identical IEEE
    // expressions both sides, floor-quantized once
    "bias_qdm" ->
      """WITH obs AS (SELECT event_id, user_id, value FROM events
        |  WHERE event_type = 'view'),
        |hist AS (SELECT event_id, user_id, value FROM events
        |  WHERE event_type = 'click'
        |    AND ts < TIMESTAMP '2024-01-16 00:00:00'),
        |fut AS (SELECT event_id, user_id, value FROM events
        |  WHERE event_type = 'click'
        |    AND ts >= TIMESTAMP '2024-01-16 00:00:00'),
        |ok AS (SELECT user_id,
        |    row_number() OVER w - 1 AS o_idx, value AS ov,
        |    lead(value) OVER w AS ov_next
        |  FROM obs WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)),
        |hk AS (SELECT user_id,
        |    row_number() OVER w - 1 AS h_idx, value AS hv,
        |    lead(value) OVER w AS hv_next
        |  FROM hist WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)),
        |onn AS (SELECT user_id, count(*) AS n_obs FROM obs GROUP BY 1),
        |hnn AS (SELECT user_id, count(*) AS n_hist FROM hist GROUP BY 1),
        |p AS (SELECT event_id, user_id, value,
        |    CASE WHEN count(*) OVER (PARTITION BY user_id) = 1 THEN 0.0
        |         ELSE percent_rank() OVER (PARTITION BY user_id ORDER BY value)
        |    END AS pr
        |  FROM fut),
        |q AS (SELECT p.*,
        |    p.pr * (o.n_obs - 1) AS opos,
        |    CAST(floor(p.pr * (o.n_obs - 1)) AS INT) AS o_idx,
        |    p.pr * (h.n_hist - 1) AS hpos,
        |    CAST(floor(p.pr * (h.n_hist - 1)) AS INT) AS h_idx
        |  FROM p JOIN onn o ON p.user_id = o.user_id
        |    JOIN hnn h ON p.user_id = h.user_id),
        |i AS (SELECT q.*,
        |    ok.ov, CASE WHEN q.opos = q.o_idx THEN ok.ov ELSE ok.ov_next END
        |      AS o_hi,
        |    hk.hv, CASE WHEN q.hpos = q.h_idx THEN hk.hv ELSE hk.hv_next END
        |      AS h_hi
        |  FROM q JOIN ok ON q.user_id = ok.user_id AND q.o_idx = ok.o_idx
        |    JOIN hk ON q.user_id = hk.user_id AND q.h_idx = hk.h_idx)
        |SELECT event_id, user_id, round(value, 2) AS fcst_value,
        |  floor(((ov + (opos - o_idx) * (o_hi - ov))
        |    - (hv + (hpos - h_idx) * (h_hi - hv))) * 1e4 + 0.5) / 1e4 AS delta,
        |  floor(greatest(value + ((ov + (opos - o_idx) * (o_hi - ov))
        |    - (hv + (hpos - h_idx) * (h_hi - hv))), 0.0) * 1e4 + 0.5) / 1e4
        |    AS corrected
        |FROM i""".stripMargin,

    "bias_qmap_key" ->
      """WITH ev AS (
        |  SELECT event_id, user_id % 20 AS grp, event_id % 3 AS member,
        |         event_type, value, ts
        |  FROM events),
        |fct AS (SELECT event_id, grp, member, value FROM ev
        |        WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-16 00:00:00'),
        |reft AS (SELECT event_id, grp, member, value FROM ev
        |        WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-16 00:00:00'),
        |app AS (SELECT event_id, grp, member, value FROM ev
        |        WHERE event_type = 'click' AND ts >= TIMESTAMP '2024-01-16 00:00:00'),
        |fk AS (SELECT grp, member, value AS fv, event_id AS tie,
        |         row_number() OVER (PARTITION BY grp, member ORDER BY value, event_id) - 1 AS fidx
        |       FROM fct),
        |rk AS (SELECT grp, member, value AS rv, event_id AS tie,
        |         row_number() OVER (PARTITION BY grp, member ORDER BY value, event_id) - 1 AS ridx
        |       FROM reft),
        |fagg AS (SELECT grp, member, count(*) AS nf, min(fv) AS fmin, max(fv) AS fmax
        |         FROM fk GROUP BY 1, 2),
        |ragg AS (SELECT grp, member, count(*) AS nr, min(rv) AS rmin, max(rv) AS rmax
        |         FROM rk GROUP BY 1, 2),
        |u AS (
        |  SELECT grp, member, fv AS sortv, 0 AS kind, tie,
        |         fidx AS k_idx, fv AS k_fv,
        |         CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS DOUBLE) AS x
        |  FROM fk
        |  UNION ALL
        |  SELECT grp, member, value, 1, event_id, NULL, NULL, event_id, value FROM app),
        |w AS (
        |  SELECT *,
        |    last_value(k_idx IGNORE NULLS) OVER (PARTITION BY grp, member
        |      ORDER BY sortv ASC, kind ASC, tie ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lo_idx,
        |    last_value(k_fv IGNORE NULLS) OVER (PARTITION BY grp, member
        |      ORDER BY sortv ASC, kind ASC, tie ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lo_fv,
        |    last_value(k_fv IGNORE NULLS) OVER (PARTITION BY grp, member
        |      ORDER BY sortv DESC, kind DESC, tie DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi_fv
        |  FROM u),
        |pos AS (
        |  SELECT w.event_id, w.grp, w.member, w.x,
        |    CASE WHEN lo_idx IS NULL THEN 'low'
        |         WHEN hi_fv IS NULL THEN 'high' ELSE 'in' END AS oob,
        |    fagg.nf, fagg.fmin, fagg.fmax, ragg.nr, ragg.rmin, ragg.rmax,
        |    (lo_idx + (x - lo_fv) / (hi_fv - lo_fv)) / (fagg.nf - 1) * (ragg.nr - 1) AS fpos
        |  FROM w JOIN fagg USING (grp, member) JOIN ragg USING (grp, member)
        |  WHERE kind = 1),
        |q AS (SELECT *, CAST(floor(fpos) AS INT) AS idx_lo,
        |             CAST(ceil(fpos) AS INT) AS idx_hi FROM pos)
        |SELECT q.event_id, q.grp, q.member, round(q.x, 2) AS fcst_value, q.oob,
        |  floor(greatest(
        |    CASE WHEN q.oob = 'low' THEN q.x + (q.rmin - q.fmin)
        |         WHEN q.oob = 'high' THEN q.x + (q.rmax - q.fmax)
        |         ELSE lo.rv + (q.fpos - q.idx_lo) * (hi.rv - lo.rv) END,
        |    0.0) * 1e4 + 0.5) / 1e4 AS corrected
        |FROM q
        |LEFT JOIN rk lo ON q.grp = lo.grp AND q.member = lo.member AND q.idx_lo = lo.ridx
        |LEFT JOIN rk hi ON q.grp = hi.grp AND q.member = hi.member AND q.idx_hi = hi.ridx""".stripMargin,

    // the pretrained literal-spline apply: the oracle carries the
    // IDENTICAL knot/coefficient literals (rendered from the same
    // Scala Seq as the Spark param table) and replays splev's
    // unrolled de Boor triangle with the same op order — doubles
    // match bit-for-bit
    "bias_bspline_apply" -> bsplineApplyOracle,

    "bias_parametric_apply" -> biasParametricSql,

    // the spline fit is SQL-expressible: the bias_qmap_key oracle's
    // union+window scaffolding, extended with lead/lag CTEs for the
    // knot ordinates / Fritsch–Carlson tangents and a struct-carried
    // segment (the same one-struct trick as the Spark plan, so a
    // trailing knot's null lead fields can't mix with an older knot's)
    "bias_qmap_spline" ->
      """WITH ev AS (
        |  SELECT event_id, user_id % 20 AS grp, event_id % 3 AS member,
        |         event_type, value, ts
        |  FROM events),
        |fct AS (SELECT event_id, grp, member, value FROM ev
        |        WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-16 00:00:00'),
        |reft AS (SELECT event_id, grp, member, value FROM ev
        |        WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-16 00:00:00'),
        |app AS (SELECT event_id, grp, member, value FROM ev
        |        WHERE event_type = 'click' AND ts >= TIMESTAMP '2024-01-16 00:00:00'),
        |fk AS (SELECT grp, member, value AS fv, event_id AS tie,
        |         row_number() OVER (PARTITION BY grp, member ORDER BY value, event_id) - 1 AS fidx
        |       FROM fct),
        |rk AS (SELECT grp, member, value AS rv, event_id AS tie,
        |         row_number() OVER (PARTITION BY grp, member ORDER BY value, event_id) - 1 AS ridx
        |       FROM reft),
        |fagg AS (SELECT grp, member, count(*) AS nf, min(fv) AS fmin, max(fv) AS fmax
        |         FROM fk GROUP BY 1, 2),
        |ragg AS (SELECT grp, member, count(*) AS nr, min(rv) AS rmin, max(rv) AS rmax
        |         FROM rk GROUP BY 1, 2),
        |fkn AS (SELECT grp, member, fv, max(fidx) AS fidx FROM fk GROUP BY 1, 2, 3),
        |pos AS (
        |  SELECT fkn.grp, fkn.member, fkn.fv,
        |    CASE WHEN fagg.nf = 1 THEN 0.0
        |         ELSE fkn.fidx / (fagg.nf - 1) * (ragg.nr - 1) END AS fpos
        |  FROM fkn JOIN fagg USING (grp, member) JOIN ragg USING (grp, member)),
        |q AS (SELECT *, CAST(floor(fpos) AS INT) AS idx_lo,
        |             CAST(ceil(fpos) AS INT) AS idx_hi FROM pos),
        |wy AS (
        |  SELECT q.grp, q.member, q.fv,
        |    lo.rv + (q.fpos - q.idx_lo) * (hi.rv - lo.rv) AS y
        |  FROM q
        |  JOIN rk lo ON q.grp = lo.grp AND q.member = lo.member AND q.idx_lo = lo.ridx
        |  JOIN rk hi ON q.grp = hi.grp AND q.member = hi.member AND q.idx_hi = hi.ridx),
        |wd1 AS (
        |  SELECT *, lead(fv) OVER wk AS x1, lead(y) OVER wk AS y1
        |  FROM wy WINDOW wk AS (PARTITION BY grp, member ORDER BY fv)),
        |wd AS (SELECT *, (y1 - y) / (x1 - fv) AS d FROM wd1),
        |wd2 AS (SELECT *, lag(d) OVER (PARTITION BY grp, member ORDER BY fv) AS d_prev FROM wd),
        |wmb AS (SELECT *,
        |  CASE WHEN d_prev IS NULL AND d IS NULL THEN 0.0
        |       WHEN d_prev IS NULL THEN d
        |       WHEN d IS NULL THEN d_prev
        |       WHEN d_prev = 0.0 OR d = 0.0 THEN 0.0
        |       ELSE (d_prev + d) / 2.0 END AS mbase
        |  FROM wd2),
        |wm1 AS (SELECT *, least(mbase, coalesce(3.0 * d_prev, mbase),
        |                        coalesce(3.0 * d, mbase)) AS m0 FROM wmb),
        |wm AS (SELECT *, lead(m0) OVER (PARTITION BY grp, member ORDER BY fv) AS m1 FROM wm1),
        |useg AS (
        |  SELECT grp, member, fv AS sortv, 0 AS kind, CAST(0 AS BIGINT) AS tie,
        |    struct_pack(x0 := fv, x1 := x1, y0 := y, y1 := y1, m0 := m0, m1 := m1) AS seg,
        |    CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS DOUBLE) AS x
        |  FROM wm
        |  UNION ALL
        |  SELECT grp, member, value, 1, event_id,
        |    CAST(NULL AS STRUCT(x0 DOUBLE, x1 DOUBLE, y0 DOUBLE, y1 DOUBLE, m0 DOUBLE, m1 DOUBLE)),
        |    event_id, value
        |  FROM app),
        |wseg AS (
        |  SELECT *, last_value(seg IGNORE NULLS) OVER (PARTITION BY grp, member
        |    ORDER BY sortv ASC, kind ASC, tie ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sg
        |  FROM useg),
        |fin AS (
        |  SELECT wseg.event_id, wseg.grp, wseg.member, wseg.x, wseg.sg,
        |    fagg.fmin, fagg.fmax, ragg.rmin, ragg.rmax,
        |    (wseg.x - sg.x0) / (sg.x1 - sg.x0) AS t
        |  FROM wseg JOIN fagg USING (grp, member) JOIN ragg USING (grp, member)
        |  WHERE kind = 1)
        |SELECT event_id, grp, member, round(x, 2) AS fcst_value,
        |  CASE WHEN sg IS NULL THEN 'low' WHEN sg.x1 IS NULL THEN 'high'
        |       ELSE 'in' END AS oob,
        |  floor(greatest(
        |    CASE WHEN sg IS NULL THEN x + (rmin - fmin)
        |         WHEN sg.x1 IS NULL THEN x + (rmax - fmax)
        |         ELSE sg.y0 * (1.0 + 2.0 * t) * (1.0 - t) * (1.0 - t)
        |            + (sg.x1 - sg.x0) * sg.m0 * t * (1.0 - t) * (1.0 - t)
        |            + sg.y1 * t * t * (3.0 - 2.0 * t)
        |            + (sg.x1 - sg.x0) * sg.m1 * t * t * (t - 1.0) END,
        |    0.0) * 1e4 + 0.5) / 1e4 AS corrected
        |FROM fin""".stripMargin,

    "dedup_embedding" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35""".stripMargin,

    // ranking by the 4-dp rounded cosine (+ id tie-break) is the
    // engine-portable total order; raw-ulp argmax would not be
    "dedup_embedding_incremental" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |batch AS (SELECT vec_id, e FROM v WHERE vec_id % 10 >= 8),
        |cand AS (
        |  SELECT b.vec_id AS bid, p.vec_id AS p,
        |    floor(list_cosine_similarity(b.e, p.e) * 1e4 + 0.5) / 1e4 AS cosine
        |  FROM batch b JOIN v p ON p.vec_id <> b.vec_id
        |    AND (p.vec_id % 10 < 8 OR p.vec_id < b.vec_id)),
        |best AS (
        |  SELECT bid, p, cosine FROM (
        |    SELECT cand.*, row_number() OVER (PARTITION BY bid
        |      ORDER BY cosine DESC, p ASC) AS rk
        |    FROM cand WHERE cosine >= 0.35) WHERE rk = 1)
        |SELECT b.vec_id, best.p IS NOT NULL AS is_dup,
        |  best.p AS dup_of, best.cosine
        |FROM batch b LEFT JOIN best ON b.vec_id = best.bid""".stripMargin,

    // dedup_embedding_lsh / dedup_embedding_lsh_audit are rendered in
    // [[fittedOracles]]: their signature width adapts to corpus size.

    "rating_curve" ->
      """WITH calib(h, q) AS (VALUES (0.0, 0.0), (50.0, 10.0), (100.0, 40.0),
        |                            (150.0, 100.0), (200.0, 200.0), (300.0, 500.0)),
        |seg AS (SELECT * FROM (
        |  SELECT h, q, lead(h) OVER (ORDER BY h) AS h_hi, lead(q) OVER (ORDER BY h) AS q_hi
        |  FROM calib) WHERE h_hi IS NOT NULL),
        |ev AS (SELECT event_id, least(greatest(value, 0.0), 300.0) AS stage FROM events)
        |SELECT ev.event_id, round(ev.stage, 2) AS stage,
        |  round(s.q + (ev.stage - s.h) / (s.h_hi - s.h) * (s.q_hi - s.q), 4) AS discharge
        |FROM ev JOIN seg s
        |  ON ev.stage >= s.h AND (ev.stage < s.h_hi OR s.h_hi = 300.0)""".stripMargin,

    "danger_levels" ->
      """WITH wk AS (
        |  SELECT user_id, strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |    round(max(value), 2) AS max_value
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, week, max_value,
        |  CASE WHEN max_value < 80 THEN 'low' WHEN max_value < 140 THEN 'medium'
        |       WHEN max_value < 180 THEN 'high' ELSE 'extreme' END AS level
        |FROM wk""".stripMargin,

    "return_levels" ->
      s"""WITH daily AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', CAST(date_trunc('day', ts) AS DATE)) AS x,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |wk AS (
        |  SELECT user_id, x // 7 AS w, max(cents) AS bm FROM daily GROUP BY 1, 2),
        |st AS (
        |  SELECT user_id, count(*) AS n,
        |    CAST(sum(bm) AS BIGINT) AS s1, CAST(sum(bm * bm) AS BIGINT) AS s2
        |  FROM wk GROUP BY 1 HAVING count(*) >= 2),
        |sb AS (
        |  SELECT user_id, n,
        |    CAST(s1 AS DOUBLE) / (n * 100.0) AS m,
        |    sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / (n * (n - 1)) / 1e4)
        |      * ${Climate.GumbelSqrt6Pi} AS beta
        |  FROM st)
        |SELECT user_id, n AS n_blocks, CAST(p.t AS BIGINT) AS t,
        |  CASE WHEN beta > 0 THEN
        |    floor((m - ${Climate.GumbelGamma} * beta + p.y * beta) * 1e4 + 0.5) / 1e4
        |  END AS level
        |FROM sb CROSS JOIN (VALUES ${Climate.ReturnPeriods.map { case (t, y) => s"($t, $y)" }.mkString(", ")}) AS p(t, y)""".stripMargin,

    // rank = (p·n+99)//100 in pure INTEGER arithmetic both sides; the
    // selected k-th-largest VALUE is tie-order-invariant
    "flow_duration_curve" ->
      s"""WITH daily AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', CAST(date_trunc('day', ts) AS DATE)) AS x,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (count(*) * 100.0) AS y
        |  FROM events GROUP BY 1, 2),
        |nd AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY 1),
        |r AS (
        |  SELECT user_id, y,
        |    row_number() OVER (PARTITION BY user_id ORDER BY y DESC) AS rn
        |  FROM daily)
        |SELECT r.user_id, CAST(p.p AS BIGINT) AS p, nd.n AS n_days,
        |  floor(r.y * 1e4 + 0.5) / 1e4 AS q_exceed
        |FROM (VALUES ${Climate.FdcProbs.map(p => s"($p)").mkString(", ")}) AS p(p)
        |CROSS JOIN nd
        |JOIN r ON r.user_id = nd.user_id AND r.rn = (p.p * nd.n + 99) // 100"""
        .stripMargin,

    // the recursive CTE iterates the IDENTICAL literal expression as
    // the Spark fold (α·f + 0.9625·(q − q_prev), anchor q₁/2) in time
    // order — bit-identical; clamp is min/max order statistics
    "baseflow_lh" ->
      s"""WITH RECURSIVE daily AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', CAST(date_trunc('day', ts) AS DATE)) AS x,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (count(*) * 100.0) AS y
        |  FROM events GROUP BY 1, 2),
        |ord AS (
        |  SELECT user_id, x, y,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY x)
        |      AS BIGINT) AS t,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
        |  FROM daily),
        |rec AS (
        |  SELECT user_id, x, y, t, CAST(y AS DOUBLE) AS py,
        |    y / 2.0 AS f
        |  FROM ord WHERE t = 1 AND n >= 2
        |  UNION ALL
        |  SELECT o.user_id, o.x, o.y, o.t, o.y AS py,
        |    ${Climate.LhAlpha} * r.f + ${Climate.LhHalf} * (o.y - r.py) AS f
        |  FROM rec r JOIN ord o ON o.user_id = r.user_id AND o.t = r.t + 1)
        |SELECT user_id,
        |  strftime(DATE '2024-01-01' + CAST(x AS INTEGER), '%Y-%m-%d')
        |    AS day,
        |  floor(y * 1e4 + 0.5) / 1e4 AS q,
        |  floor((y - least(greatest(f, 0.0), y)) * 1e4 + 0.5) / 1e4 AS baseflow,
        |  floor(least(greatest(f, 0.0), y) * 1e4 + 0.5) / 1e4 AS quickflow
        |FROM rec""".stripMargin,

    "pet_hargreaves" ->
      s"""WITH ra(doy, ra) AS (VALUES $raTableSql),
        |daily AS (
        |  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    max(value)/10.0 AS tmax, min(value)/10.0 AS tmin,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (count(*) * 1000.0) AS tmean
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT user_id, day,
        |    0.0023 * ra.ra * (tmean + 17.8)
        |      * sqrt(greatest(tmax - tmin, 0.0)) AS pet
        |  FROM daily JOIN ra ON dayofyear(CAST(day AS DATE)) = ra.doy)
        |SELECT user_id, day, floor(pet * 1e4 + 0.5) / 1e4 AS pet,
        |  floor(sum(pet) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1e4 + 0.5) / 1e4 AS cum_pet
        |FROM p""".stripMargin,

    // the calc_delta_PET op chain verbatim (kc=1, rho=1000, Tadd=5,
    // Tscale=45), identical literal order both engines
    "pet_oudin" ->
      s"""WITH ra(doy, ra) AS (VALUES $raTableSql),
        |daily AS (
        |  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (count(*) * 1000.0) AS ta,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (count(*) * 5000.0) AS p
        |  FROM events GROUP BY 1, 2),
        |x AS (
        |  SELECT user_id, day, p,
        |    CASE WHEN ta + 5.0 > 0.0
        |      THEN ra.ra / ((2.501 - 0.002361 * ta) * 1000.0)
        |        * ((ta + 5.0) / 45.0) * 1000.0
        |      ELSE 0.0 END AS pet
        |  FROM daily JOIN ra ON dayofyear(CAST(day AS DATE)) = ra.doy)
        |SELECT user_id, day, floor(pet * 1e4 + 0.5) / 1e4 AS pet,
        |  floor((pet - p) * 1e4 + 0.5) / 1e4 AS delta_precip_def
        |FROM x""".stripMargin,

    // daily GDD quantizes once to integer 1e-4 units; the seasonal
    // accumulation is an exact long window sum
    "growing_degree_days" ->
      """WITH daily AS (
        |  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    max(value)/10.0 AS tmax, min(value)/10.0 AS tmin
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT user_id, day,
        |    CAST(floor(greatest((least(tmax, 30.0)
        |      + greatest(least(tmin, 30.0), 10.0)) / 2.0 - 10.0, 0.0)
        |      * 1e4 + 0.5) AS BIGINT) AS gdd_u
        |  FROM daily)
        |SELECT user_id, day, gdd_u / 1e4 AS gdd,
        |  CAST(sum(gdd_u) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / 1e4 AS cum_gdd
        |FROM g""".stripMargin,

    // daily Tmax kept in integer cents; station moments are exact
    // long sums; the z >= 1 comparison is one double expression on
    // exact integers — no rounding gate needed
    "heat_wave_episodes" ->
      """WITH daily AS (
        |  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS tmax_u
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT user_id, day, tmax_u,
        |    count(*) OVER (PARTITION BY user_id) AS n,
        |    sum(tmax_u) OVER (PARTITION BY user_id) AS s1,
        |    sum(tmax_u * tmax_u) OVER (PARTITION BY user_id) AS s2
        |  FROM daily),
        |h AS (
        |  SELECT user_id, day, tmax_u,
        |    CASE WHEN CAST(tmax_u * n - s1 AS DOUBLE)
        |      >= n * sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / (n * (n - 1)))
        |      THEN 1 ELSE 0 END AS hot,
        |    date_diff('day',
        |      (lag(day) OVER (PARTITION BY user_id ORDER BY day))::DATE,
        |      day::DATE) AS gap
        |  FROM m WHERE n >= 2 AND n * s2 - s1 * s1 > 0),
        |r AS (
        |  SELECT *, CASE WHEN hot = 1
        |      AND (coalesce(lag(hot) OVER (PARTITION BY user_id ORDER BY day),
        |                    0) = 0 OR gap > 1)
        |    THEN 1 ELSE 0 END AS run_start
        |  FROM h),
        |e AS (
        |  SELECT *, sum(run_start) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS episode
        |  FROM r)
        |SELECT user_id, CAST(episode AS BIGINT) AS episode,
        |  min(day) AS d_start, max(day) AS d_end,
        |  CAST(count(*) AS BIGINT) AS n_days, max(tmax_u) / 100.0 AS peak_tmax
        |FROM e WHERE hot = 1
        |GROUP BY user_id, episode
        |HAVING count(*) >= 3""".stripMargin,

    // falling-day ratios quantized once; median interpolates exact
    // integers; >= 3 recession days per station
    "ts_recession_k" ->
      """WITH daily AS (
        |  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (count(*) * 100.0) AS q
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT user_id, day, q,
        |    lag(q) OVER (PARTITION BY user_id ORDER BY day) AS q_prev
        |  FROM daily),
        |r AS (
        |  SELECT user_id,
        |    CAST(floor(q / q_prev * 1e4 + 0.5) AS BIGINT) AS ratio_u
        |  FROM l
        |  WHERE q_prev IS NOT NULL AND q < q_prev AND q_prev > 0)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_recession,
        |  floor(quantile_cont(ratio_u, 0.5) + 0.5) / 1e4 AS k
        |FROM r GROUP BY user_id
        |HAVING count(*) >= 3""".stripMargin,

    "dau_mau_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS d
        |  FROM events),
        |dau AS (SELECT d AS day, count(DISTINCT user_id) AS dau
        |        FROM ud GROUP BY 1),
        |fan AS (
        |  SELECT user_id, (d + INTERVAL (i) DAY)::DATE AS day
        |  FROM ud, range(0, 30) t(i)),
        |mau AS (SELECT day, count(DISTINCT user_id) AS mau
        |        FROM fan GROUP BY 1)
        |SELECT strftime(dau.day, '%Y-%m-%d') AS day,
        |  CAST(dau AS BIGINT) AS dau, CAST(mau AS BIGINT) AS mau,
        |  round(dau / CAST(mau AS DOUBLE), 4) AS stickiness
        |FROM dau JOIN mau ON dau.day = mau.day""".stripMargin,

    // exact daily tmean verdicts + one lag on the resample sort
    "ts_freeze_thaw" ->
      """WITH daily AS (
        |  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (count(*) * 1000.0) AS tmean
        |  FROM events GROUP BY 1, 2),
        |f AS (
        |  SELECT user_id, day,
        |    CASE WHEN tmean < 3.0 THEN 1 ELSE 0 END AS frozen
        |  FROM daily),
        |c AS (
        |  SELECT user_id, frozen,
        |    CASE WHEN lag(frozen) OVER (PARTITION BY user_id ORDER BY day)
        |           IS NOT NULL
        |         AND lag(frozen) OVER (PARTITION BY user_id ORDER BY day)
        |           != frozen
        |      THEN 1 ELSE 0 END AS crossed
        |  FROM f)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(frozen) AS BIGINT) AS n_frozen,
        |  CAST(sum(crossed) AS BIGINT) AS n_crossings
        |FROM c GROUP BY user_id""".stripMargin,

    // daily water balance quantizes once to integer 1e-4 units; the
    // clamped-at-zero pack is the two-window closed form, exact longs
    "snow_pack_ddm" ->
      """WITH daily AS (
        |  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (count(*) * 1000.0) AS tmean,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (count(*) * 100.0) AS prcp
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT user_id, day,
        |    CASE WHEN tmean < 3.0
        |      THEN CAST(floor(prcp * 1e4 + 0.5) AS BIGINT) ELSE 0 END AS snow_u,
        |    CAST(floor(3.0 * greatest(tmean - 3.0, 0.0) * 1e4 + 0.5)
        |      AS BIGINT) AS melt_u
        |  FROM daily),
        |s AS (
        |  SELECT user_id, day, snow_u,
        |    sum(snow_u - melt_u) OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |  FROM b)
        |SELECT user_id, day, snow_u / 1e4 AS snowfall,
        |  CAST(cs - least(0, min(cs) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS DOUBLE)
        |    / 1e4 AS swe
        |FROM s""".stripMargin,

    // balance quantizes once to integer 1e-4 units, so the moment
    // sums are exact longs and z is one fixed double expression
    "spei_zscore" ->
      s"""WITH ra(doy, ra) AS (VALUES $raTableSql),
        |daily AS (
        |  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    max(value)/10.0 AS tmax, min(value)/10.0 AS tmin,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (count(*) * 1000.0) AS tmean,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (count(*) * 100.0) AS prcp
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT user_id, day,
        |    CAST(floor((prcp - 0.0023 * ra.ra * (tmean + 17.8)
        |      * sqrt(greatest(tmax - tmin, 0.0))) * 1e4 + 0.5) AS BIGINT)
        |      AS bal_u
        |  FROM daily JOIN ra ON dayofyear(CAST(day AS DATE)) = ra.doy),
        |m AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(bal_u) AS BIGINT) AS s1,
        |    CAST(sum(bal_u * bal_u) AS BIGINT) AS s2
        |  FROM b GROUP BY 1 HAVING count(*) >= 2),
        |z AS (
        |  SELECT b.user_id, b.day, b.bal_u,
        |    CASE WHEN m.n * m.s2 - m.s1 * m.s1 > 0
        |      THEN CAST(b.bal_u * m.n - m.s1 AS DOUBLE)
        |        / (m.n * sqrt(CAST(m.n * m.s2 - m.s1 * m.s1 AS DOUBLE)
        |          / (m.n * (m.n - 1))))
        |    END AS spei_raw
        |  FROM b JOIN m ON b.user_id = m.user_id)
        |SELECT user_id, day,
        |  CAST(bal_u AS DOUBLE) / 1e4 AS balance,
        |  floor(spei_raw * 1e4 + 0.5) / 1e4 AS spei,
        |  CASE WHEN spei_raw <= -1.0 THEN true ELSE false END AS drought
        |FROM z""".stripMargin,

    "zonal_stats" ->
      """SELECT CAST(floor(((user_id % 36) * 5.0 - 87.5) / 30) AS INT) AS zone_y,
        |       CAST(floor(((user_id % 72) * 5.0 - 177.5) / 30) AS INT) AS zone_x,
        |  count(*) AS n,
        |  floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |    * 100.0 / count(*) + 0.5) / 1e4 AS avg_value,
        |  round(min(value), 2) AS min_value, round(max(value), 2) AS max_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "zonal_spi" ->
      s"""WITH z AS (
        |  ${zCteSql("event_id, user_id, event_type")}),
        |u AS (SELECT *, CAST(floor(zscore * 1e4 + 0.5) AS BIGINT) AS zu FROM z)
        |SELECT CAST(floor(((user_id % 36) * 5.0 - 87.5) / 30) AS INT) AS zone_y,
        |       CAST(floor(((user_id % 72) * 5.0 - 177.5) / 30) AS INT) AS zone_x,
        |  count(*) AS n,
        |  floor(CAST(sum(zu) AS DOUBLE) / count(zu) + 0.5) / 1e4 AS avg_z,
        |  round(min(zscore), 4) AS min_z,
        |  round(max(zscore), 4) AS max_z,
        |  CAST(sum(CASE WHEN zscore <= -1.0 THEN 1 ELSE 0 END) AS BIGINT) AS drought_n
        |FROM u GROUP BY 1, 2""".stripMargin,

    // each trapezoid quantizes once to integer 1e-4 units; the daily
    // rollup sums exact BIGINTs
    "rating_volume_daily" ->
      """WITH d AS (
        |  SELECT user_id, event_id, ts, value,
        |    strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
        |  FROM events),
        |t AS (
        |  SELECT user_id, day, value, ts,
        |    lag(value, 1) OVER w AS q_prev,
        |    lag(ts, 1) OVER w AS t_prev
        |  FROM d WINDOW w AS (PARTITION BY user_id, day ORDER BY ts, event_id)),
        |u AS (
        |  SELECT user_id, day,
        |    CAST(floor((value + q_prev) / 2.0
        |      * (CAST(epoch_us(ts) - epoch_us(t_prev) AS DOUBLE) / 1e6)
        |      * 1e4 + 0.5) AS BIGINT) AS term_u
        |  FROM t)
        |SELECT user_id, day, count(*) AS n_samples,
        |  CAST(sum(term_u) AS DOUBLE) / 1e4 AS volume
        |FROM u GROUP BY 1, 2""".stripMargin,

    "rating_curve_station" ->
      s"""WITH calib(station, h, q) AS (VALUES $stationCalibSql),
        |seg AS (SELECT * FROM (
        |  SELECT station, h, q,
        |    lead(h) OVER (PARTITION BY station ORDER BY h) AS h_hi,
        |    lead(q) OVER (PARTITION BY station ORDER BY h) AS q_hi
        |  FROM calib) WHERE h_hi IS NOT NULL),
        |bounds AS (SELECT station, min(h) AS h_min, min_by(q, h) AS q_min,
        |                  max(h) AS h_max, max_by(q, h) AS q_max
        |           FROM calib GROUP BY 1),
        |ev AS (SELECT event_id, user_id % 4 AS station, value AS stage FROM events)
        |SELECT ev.event_id, ev.station, round(ev.stage, 2) AS stage,
        |  floor(CASE WHEN ev.stage < b.h_min THEN b.q_min
        |             WHEN ev.stage >= b.h_max THEN b.q_max
        |             ELSE s.q + (ev.stage - s.h) / (s.h_hi - s.h) * (s.q_hi - s.q)
        |        END * 1e4 + 0.5) / 1e4 AS discharge
        |FROM ev JOIN bounds b USING (station)
        |LEFT JOIN seg s ON ev.station = s.station
        |  AND ev.stage >= s.h AND ev.stage < s.h_hi""".stripMargin,

    "spi_ensemble_median" ->
      """WITH cell AS (
        |  SELECT user_id, event_id % 5 AS member,
        |    strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) * 1e4 / count(*) + 0.5) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2, 3),
        |z AS (
        |  SELECT user_id, week,
        |    CASE WHEN count(c) OVER w > 1
        |       AND count(c) OVER w * sum(c * c) OVER w
        |           - sum(c) OVER w * sum(c) OVER w > 0
        |      THEN CAST(count(c) OVER w * c - sum(c) OVER w AS DOUBLE)
        |        / sqrt(CAST(count(c) OVER w * sum(c * c) OVER w
        |                    - sum(c) OVER w * sum(c) OVER w AS DOUBLE)
        |               * CAST(count(c) OVER w AS DOUBLE)
        |               / (CAST(count(c) OVER w AS DOUBLE) - 1.0))
        |      END AS z
        |  FROM cell WINDOW w AS (PARTITION BY user_id, member))
        |SELECT user_id, week, count(*) AS n_members,
        |  floor(quantile_cont(z, 0.5) * 1e4 + 0.5) / 1e4 AS spi_median
        |FROM z GROUP BY 1, 2""".stripMargin,

    // ensemble percentile bands with hand-written (n-1)*q rank
    // interpolation (bit-identical across engines), then the clamped
    // deficit identity per band
    "forecast_deficit_bands" -> deficitBandsSql,

    // sunday-anchored masked weekly max over the q50 deficit product,
    // ISO week/month labels, last sunday dropped, color-classified
    "rijn_deficit_weekly" ->
      s"""WITH pd AS ($deficitBandsSql),
        |m AS (
        |  SELECT strftime(date_trunc('week', CAST(day AS DATE))
        |           + INTERVAL 6 DAY, '%Y-%m-%d') AS sunday,
        |    deficit
        |  FROM pd
        |  WHERE q = 0.5
        |    AND (((user_id // 8) % 8) * 3 + (user_id % 8) * 5) % 7 = 3),
        |w AS (
        |  SELECT sunday, count(*) AS n_vals, max(deficit) AS max_deficit
        |  FROM m GROUP BY 1)
        |SELECT sunday,
        |  CAST(week(CAST(sunday AS DATE)) AS INT) AS week_no,
        |  CAST(month(CAST(sunday AS DATE)) AS INT) AS month_no,
        |  n_vals, max_deficit,
        |  CASE WHEN max_deficit < 50 THEN 'darkblue'
        |       WHEN max_deficit < 100 THEN 'blue'
        |       WHEN max_deficit < 125 THEN 'green'
        |       WHEN max_deficit < 150 THEN 'yellow'
        |       WHEN max_deficit < 175 THEN 'orange'
        |       WHEN max_deficit < 200 THEN 'red'
        |       ELSE 'darkred' END AS color
        |FROM w WHERE sunday < (SELECT max(sunday) FROM w)""".stripMargin,

    "zonal_spi_quantiles" ->
      s"""WITH z AS (
        |  ${zCteSql("event_id, user_id")}),
        |u AS (SELECT *, CAST(floor(zscore * 1e4 + 0.5) AS BIGINT) AS zu FROM z)
        |SELECT CAST(floor(((user_id % 36) * 5.0 - 87.5) / 30) AS INT) AS zone_y,
        |       CAST(floor(((user_id % 72) * 5.0 - 177.5) / 30) AS INT) AS zone_x,
        |  count(*) AS n,
        |  floor(CAST(sum(zu) AS DOUBLE) / count(zu) + 0.5) / 1e4 AS avg_z,
        |  floor(quantile_cont(zscore, 0.1) * 1e4 + 0.5) / 1e4 AS p10_z,
        |  floor(quantile_cont(zscore, 0.5) * 1e4 + 0.5) / 1e4 AS med_z,
        |  floor(quantile_cont(zscore, 0.9) * 1e4 + 0.5) / 1e4 AS p90_z
        |FROM u GROUP BY 1, 2""".stripMargin,

    "zonal_poly_spi" ->
      s"""WITH z AS (
        |  ${zCteSql("event_id, user_id, " +
            "(user_id % 36) * 5.0 - 87.5 AS lat, " +
            "(user_id % 72) * 5.0 - 177.5 AS lon")}),
        |b AS (SELECT *, $basinCaseSql AS basin FROM z)
        |SELECT basin, count(*) AS n,
        |  floor(quantile_cont(zscore, 0.5) * 1e4 + 0.5) / 1e4 AS med_z,
        |  round(min(zscore), 4) AS min_z,
        |  round(max(zscore), 4) AS max_z,
        |  CAST(sum(CASE WHEN zscore <= -1.0 THEN 1 ELSE 0 END) AS BIGINT) AS drought_n
        |FROM b WHERE basin IS NOT NULL GROUP BY 1""".stripMargin,

    "grid_regrid" ->
      """WITH g AS (
        |  SELECT user_id % 8 AS gy, (user_id // 8) % 8 AS gx,
        |    floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 10000
        |      AS DOUBLE) / count(*) + 0.5) / 1e6 AS v
        |  FROM events GROUP BY 1, 2)
        |SELECT g00.gy AS cell_y, g00.gx AS cell_x,
        |  round(g00.gy + 0.25, 2) AS target_y,
        |  round(g00.gx + 0.75, 2) AS target_x,
        |  round(g00.v * (0.75 * 0.25) + g01.v * (0.75 * 0.75)
        |      + g10.v * (0.25 * 0.25) + g11.v * (0.25 * 0.75), 4) AS value_interp
        |FROM g g00
        |JOIN g g01 ON g01.gy = g00.gy     AND g01.gx = g00.gx + 1
        |JOIN g g10 ON g10.gy = g00.gy + 1 AND g10.gx = g00.gx
        |JOIN g g11 ON g11.gy = g00.gy + 1 AND g11.gx = g00.gx + 1""".stripMargin,

    // POI coords are shared literals (Climate.SamplePois); weights
    // are exact binary quarter fractions, corners 6dp-quantized —
    // the blend folds identical bits on both engines
    "grid_sample_poi" -> {
      val vals = graft.operators.Climate.SamplePois
        .map { case (id, py, px) => s"($id, $py, $px)" }.mkString(", ")
      s"""WITH g AS (
         |  SELECT user_id % 8 AS gy, (user_id // 8) % 8 AS gx,
         |    floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 10000
         |      AS DOUBLE) / count(*) + 0.5) / 1e6 AS v
         |  FROM events GROUP BY 1, 2),
         |q AS (
         |  SELECT poi_id, py, px,
         |    CAST(floor(py) AS BIGINT) AS y0, CAST(floor(px) AS BIGINT) AS x0,
         |    py - CAST(floor(py) AS BIGINT) AS fy,
         |    px - CAST(floor(px) AS BIGINT) AS fx
         |  FROM (VALUES $vals) AS p(poi_id, py, px))
         |SELECT poi_id, py, px,
         |  round(g00.v * ((1 - fy) * (1 - fx)) + g01.v * ((1 - fy) * fx)
         |      + g10.v * (fy * (1 - fx)) + g11.v * (fy * fx), 4) AS value_interp
         |FROM q
         |JOIN g g00 ON g00.gy = y0     AND g00.gx = x0
         |JOIN g g01 ON g01.gy = y0     AND g01.gx = x0 + 1
         |JOIN g g10 ON g10.gy = y0 + 1 AND g10.gx = x0
         |JOIN g g11 ON g11.gy = y0 + 1 AND g11.gx = x0 + 1""".stripMargin
    },

    // exact 2.5°-lattice distances, integer-quantized weights and
    // station means → the weighted sum is an exact long dot product;
    // one division at the end
    "grid_idw" ->
      s"""WITH st AS (
         |  SELECT CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
         |      AS DOUBLE) * 100.0 / count(*) + 0.5) AS BIGINT) AS v_u,
         |    (user_id % 36) * 5.0 - 87.5 AS slat,
         |    (user_id % 72) * 5.0 - 177.5 AS slon
         |  FROM events GROUP BY user_id),
         |cells AS (
         |  SELECT (i // 36) * 10.0 - 85.0 AS lat, (i % 36) * 10.0 - 175.0 AS lon
         |  FROM (SELECT unnest(generate_series(0, 647)) AS i)),
         |w AS (
         |  SELECT lat, lon, v_u,
         |    CAST(floor(${graft.operators.Climate.IdwWScale} /
         |      ((lat - slat) * (lat - slat) + (lon - slon) * (lon - slon))
         |      + 0.5) AS BIGINT) AS wq
         |  FROM cells, st
         |  WHERE (lat - slat) * (lat - slat) + (lon - slon) * (lon - slon)
         |    <= ${graft.operators.Climate.IdwRadius2})
         |SELECT lat, lon, CAST(count(*) AS BIGINT) AS n_stations,
         |  floor(CAST(sum(wq * v_u) AS DOUBLE) / CAST(sum(wq) AS DOUBLE) + 0.5)
         |    / 1e4 AS value_idw
         |FROM w GROUP BY 1, 2""".stripMargin,

    // six exact-long sufficient statistics per station; NSE/r/alpha/
    // beta/KGE are each ONE fixed double expression over them
    "forecast_skill" ->
      """WITH obs AS (
        |  SELECT user_id, strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) / count(*) * 100.0 + 0.5) AS BIGINT) AS y_u
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |mem AS (
        |  SELECT user_id, event_id % 5 AS member,
        |    strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) / count(*) * 100.0 + 0.5) AS BIGINT) AS u
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2, 3),
        |fc AS (
        |  SELECT user_id, week,
        |    CAST(floor(CAST(sum(u) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS f_u
        |  FROM mem GROUP BY 1, 2),
        |s AS (
        |  SELECT f.user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(f_u) AS BIGINT) AS sf, CAST(sum(y_u) AS BIGINT) AS so,
        |    CAST(sum(f_u * f_u) AS BIGINT) AS sff,
        |    CAST(sum(y_u * y_u) AS BIGINT) AS soo,
        |    CAST(sum(f_u * y_u) AS BIGINT) AS sfo
        |  FROM fc f JOIN obs o ON f.user_id = o.user_id AND f.week = o.week
        |  GROUP BY 1),
        |d AS (
        |  SELECT user_id, n, sf, so, sff, soo, sfo,
        |    n * soo - so * so AS dxo, n * sff - sf * sf AS dxf,
        |    n * sfo - sf * so AS num, sff - 2 * sfo + soo AS sse
        |  FROM s),
        |e AS (
        |  SELECT user_id, n, dxo, dxf, sse,
        |    CAST(num AS DOUBLE) / sqrt(CAST(dxf AS DOUBLE) * CAST(dxo AS DOUBLE)) AS r,
        |    sqrt(CAST(dxf AS DOUBLE) / CAST(dxo AS DOUBLE)) AS alpha,
        |    CAST(sf AS DOUBLE) / CAST(so AS DOUBLE) AS beta
        |  FROM d WHERE n >= 5 AND dxo > 0 AND dxf > 0 AND so <> 0)
        |SELECT user_id, n AS n_weeks,
        |  floor((1.0 - CAST(n * sse AS DOUBLE) / CAST(dxo AS DOUBLE)) * 1e4 + 0.5)
        |    / 1e4 AS nse,
        |  floor(r * 1e4 + 0.5) / 1e4 AS r,
        |  floor(alpha * 1e4 + 0.5) / 1e4 AS alpha,
        |  floor(beta * 1e4 + 0.5) / 1e4 AS beta,
        |  floor((1.0 - sqrt((r - 1) * (r - 1) + (alpha - 1) * (alpha - 1)
        |    + (beta - 1) * (beta - 1))) * 1e4 + 0.5) / 1e4 AS kge
        |FROM e""".stripMargin,

    // exact integer token/byte sums, two single-division ratios
    "tokenizer_fertility" ->
      """WITH t AS (
        |  SELECT lang,
        |    CAST(len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS nw,
        |    CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS nt,
        |    CAST(strlen(text) AS BIGINT) AS nb
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(nw) AS BIGINT) AS ws_tokens,
        |  CAST(sum(nt) AS BIGINT) AS subword_tokens,
        |  CAST(sum(nb) AS BIGINT) AS text_bytes,
        |  round(CAST(sum(nt) AS DOUBLE) / CAST(sum(nw) AS DOUBLE), 4) AS fertility,
        |  round(CAST(sum(nb) AS DOUBLE) / CAST(sum(nt) AS DOUBLE), 4) AS bytes_per_token
        |FROM t GROUP BY 1""".stripMargin,

    "grid_coarsen" ->
      """WITH g AS (
        |  SELECT user_id % 8 AS gy, (user_id // 8) % 8 AS gx,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 10000
        |      AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v_us,
        |    count(*) AS n_obs
        |  FROM events GROUP BY 1, 2)
        |SELECT gy - gy % 2 AS block_y, gx - gx % 2 AS block_x,
        |  count(*) AS n_cells,
        |  CAST(sum(n_obs) AS BIGINT) AS n_obs,
        |  floor(CAST(sum(v_us) AS DOUBLE) / count(*) + 0.5) / 1e6 AS v_mean,
        |  CAST(min(v_us) AS DOUBLE) / 1e6 AS v_min,
        |  CAST(max(v_us) AS DOUBLE) / 1e6 AS v_max
        |FROM g GROUP BY 1, 2""".stripMargin,

    // differences are exact longs, slope one correctly-rounded sqrt
    // of an exact integer, aspect pure integer octant comparisons
    "grid_gradient" -> gradientSql,

    // octant rollup of the gradient's aspect classes with mean slope
    "grid_aspect_rose" ->
      s"""WITH g AS ($gradientSql)
        |SELECT aspect, count(*) AS n_cells,
        |  floor(CAST(sum(CAST(floor(slope * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
        |    / count(*) / 100.0 + 0.5) / 1e4 AS mean_slope
        |FROM g GROUP BY 1""".stripMargin,

    // daily min/max are order statistics on exact cents; the TX90p
    // threshold rank-interpolates on one station window
    "climate_etccdi_temp" ->
      """WITH d AS (
        |  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    min(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS tn,
        |    max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS tx
        |  FROM events GROUP BY 1, 2),
        |flat AS (
        |  SELECT user_id, count(*) AS n_days,
        |    CAST(sum(CASE WHEN tn < 2000 THEN 1 ELSE 0 END) AS BIGINT) AS fd,
        |    CAST(sum(CASE WHEN tx > 8000 THEN 1 ELSE 0 END) AS BIGINT) AS su,
        |    floor(CAST(sum(tx - tn) AS DOUBLE) / count(*) / 100.0 * 1e4 + 0.5)
        |      / 1e4 AS dtr_mean
        |  FROM d GROUP BY 1),
        |r AS (
        |  SELECT user_id, tx,
        |    row_number() OVER (PARTITION BY user_id ORDER BY tx) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM d),
        |p90 AS (
        |  SELECT user_id,
        |    (min(CASE WHEN rn = CAST(floor((n - 1) * 0.9) AS BIGINT) + 1
        |        THEN tx END)
        |     + ((min(n) - 1) * 0.9 - floor((min(n) - 1) * 0.9))
        |       * (min(CASE WHEN rn = least(CAST(floor((n - 1) * 0.9)
        |            AS BIGINT) + 2, n) THEN tx END)
        |          - min(CASE WHEN rn = CAST(floor((n - 1) * 0.9) AS BIGINT)
        |            + 1 THEN tx END))) / 100.0 AS tx90_thresh
        |  FROM r GROUP BY 1),
        |ex AS (
        |  SELECT d.user_id,
        |    CAST(sum(CASE WHEN CAST(d.tx AS DOUBLE) / 100.0 > p90.tx90_thresh
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_exceed
        |  FROM d JOIN p90 USING (user_id) GROUP BY 1)
        |SELECT f.user_id, f.n_days, f.fd, f.su, f.dtr_mean,
        |  floor(p90.tx90_thresh * 1e4 + 0.5) / 1e4 AS tx90_thresh,
        |  floor(CAST(ex.n_exceed AS DOUBLE) / f.n_days * 1e4 + 0.5) / 1e4
        |    AS tx90p
        |FROM flat f LEFT JOIN p90 USING (user_id)
        |LEFT JOIN ex USING (user_id)""".stripMargin,

    // gaps-and-islands on the calendar day number (a missing day
    // breaks a spell); R95p rank-interpolated over the wet-day subset
    "climate_etccdi" ->
      """WITH d AS (
        |  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS c
        |  FROM events GROUP BY 1, 2),
        |dd AS (
        |  SELECT user_id, c,
        |    date_diff('day', DATE '2024-01-01', CAST(day AS DATE)) AS dn,
        |    c >= 100 AS wet
        |  FROM d),
        |runs AS (
        |  SELECT user_id, wet,
        |    dn - row_number() OVER (PARTITION BY user_id, wet ORDER BY dn)
        |      AS grp
        |  FROM dd),
        |rl AS (
        |  SELECT user_id, wet, grp, count(*) AS len
        |  FROM runs GROUP BY 1, 2, 3),
        |spells AS (
        |  SELECT user_id, max(CASE WHEN NOT wet THEN len END) AS cdd,
        |         max(CASE WHEN wet THEN len END) AS cwd
        |  FROM rl GROUP BY 1),
        |flat AS (
        |  SELECT user_id, count(*) AS n_days,
        |    CAST(sum(CASE WHEN c >= 1000 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS r10mm,
        |    CAST(sum(CASE WHEN wet THEN c ELSE 0 END) AS DOUBLE) / 100.0
        |      AS prcptot
        |  FROM dd GROUP BY 1),
        |wr AS (
        |  SELECT user_id, c,
        |    row_number() OVER (PARTITION BY user_id ORDER BY c) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM dd WHERE wet),
        |p95 AS (
        |  SELECT user_id,
        |    (min(CASE WHEN rn = CAST(floor((n - 1) * 0.95) AS BIGINT) + 1
        |        THEN c END)
        |     + ((min(n) - 1) * 0.95 - floor((min(n) - 1) * 0.95))
        |       * (min(CASE WHEN rn = least(CAST(floor((n - 1) * 0.95)
        |            AS BIGINT) + 2, n) THEN c END)
        |          - min(CASE WHEN rn = CAST(floor((n - 1) * 0.95) AS BIGINT)
        |            + 1 THEN c END))) / 100.0 AS r95p
        |  FROM wr GROUP BY 1),
        |rt AS (
        |  SELECT dd.user_id,
        |    CAST(sum(CASE WHEN CAST(dd.c AS DOUBLE) / 100.0 > p95.r95p
        |      THEN dd.c ELSE 0 END) AS DOUBLE) / 100.0 AS r95ptot
        |  FROM dd JOIN p95 USING (user_id) WHERE dd.wet GROUP BY 1)
        |SELECT f.user_id, f.n_days, s.cdd, s.cwd, f.r10mm, f.prcptot,
        |  floor(p95.r95p * 1e4 + 0.5) / 1e4 AS r95p, rt.r95ptot
        |FROM flat f LEFT JOIN spells s USING (user_id)
        |LEFT JOIN p95 USING (user_id) LEFT JOIN rt USING (user_id)""".stripMargin,

    // integer-rank threshold, runs declustering on day-number gaps
    "ts_extremal_index" ->
      """WITH d AS (
        |  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS c
        |  FROM events GROUP BY 1, 2),
        |dd AS (
        |  SELECT user_id, c,
        |    date_diff('day', DATE '2024-01-01', CAST(day AS DATE)) AS dn
        |  FROM d),
        |t AS (
        |  SELECT user_id, c AS u, n AS n_days FROM (
        |    SELECT user_id, c,
        |      row_number() OVER (PARTITION BY user_id ORDER BY c) AS rn,
        |      count(*) OVER (PARTITION BY user_id) AS n
        |    FROM dd)
        |  WHERE rn = CAST(ceil(n * 0.9) AS BIGINT)),
        |e AS (
        |  SELECT dd.user_id, t.n_days, t.u, dd.dn,
        |    dd.dn - lag(dd.dn) OVER (PARTITION BY dd.user_id ORDER BY dd.dn)
        |      AS gap
        |  FROM dd JOIN t USING (user_id) WHERE dd.c > t.u)
        |SELECT user_id, min(n_days) AS n_days,
        |  CAST(min(u) AS DOUBLE) / 100.0 AS threshold,
        |  count(*) AS n_exceed,
        |  CAST(sum(CASE WHEN gap IS NULL OR gap > 2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clusters,
        |  floor(CAST(sum(CASE WHEN gap IS NULL OR gap > 2 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4 AS theta
        |FROM e GROUP BY 1""".stripMargin,

    // Σ|v−nᵢ| exact in micro-units; classes are integer thresholds
    "grid_ruggedness" ->
      """WITH c AS (
        |  SELECT user_id % 8 AS gy, (user_id // 8) % 8 AS gx,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 10000
        |      AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v_us
        |  FROM events GROUP BY 1, 2)
        |SELECT c.gy, c.gx,
        |  CAST(abs(c.v_us - n00.v_us) + abs(c.v_us - n01.v_us)
        |    + abs(c.v_us - n02.v_us) + abs(c.v_us - n10.v_us)
        |    + abs(c.v_us - n12.v_us) + abs(c.v_us - n20.v_us)
        |    + abs(c.v_us - n21.v_us) + abs(c.v_us - n22.v_us) AS DOUBLE)
        |    / 8.0 / 1e6 AS tri,
        |  CASE WHEN abs(c.v_us - n00.v_us) + abs(c.v_us - n01.v_us)
        |    + abs(c.v_us - n02.v_us) + abs(c.v_us - n10.v_us)
        |    + abs(c.v_us - n12.v_us) + abs(c.v_us - n20.v_us)
        |    + abs(c.v_us - n21.v_us) + abs(c.v_us - n22.v_us)
        |      <= 8 * 2000000 THEN 'smooth'
        |       WHEN abs(c.v_us - n00.v_us) + abs(c.v_us - n01.v_us)
        |    + abs(c.v_us - n02.v_us) + abs(c.v_us - n10.v_us)
        |    + abs(c.v_us - n12.v_us) + abs(c.v_us - n20.v_us)
        |    + abs(c.v_us - n21.v_us) + abs(c.v_us - n22.v_us)
        |      <= 8 * 5000000 THEN 'intermediate'
        |    ELSE 'rugged' END AS ruggedness
        |FROM c
        |JOIN c n00 ON n00.gy = c.gy - 1 AND n00.gx = c.gx - 1
        |JOIN c n01 ON n01.gy = c.gy - 1 AND n01.gx = c.gx
        |JOIN c n02 ON n02.gy = c.gy - 1 AND n02.gx = c.gx + 1
        |JOIN c n10 ON n10.gy = c.gy AND n10.gx = c.gx - 1
        |JOIN c n12 ON n12.gy = c.gy AND n12.gx = c.gx + 1
        |JOIN c n20 ON n20.gy = c.gy + 1 AND n20.gx = c.gx - 1
        |JOIN c n21 ON n21.gy = c.gy + 1 AND n21.gx = c.gx
        |JOIN c n22 ON n22.gy = c.gy + 1 AND n22.gx = c.gx + 1""".stripMargin,

    // v·8 − Σ neighbors stays integer; the dead band is an integer
    // micro-unit threshold, /8 is exact (power of two)
    "grid_tpi" ->
      """WITH c AS (
        |  SELECT user_id % 8 AS gy, (user_id // 8) % 8 AS gx,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 10000
        |      AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v_us
        |  FROM events GROUP BY 1, 2)
        |SELECT c.gy, c.gx,
        |  CAST(c.v_us * 8 - (n00.v_us + n01.v_us + n02.v_us + n10.v_us
        |    + n12.v_us + n20.v_us + n21.v_us + n22.v_us) AS DOUBLE)
        |    / 8.0 / 1e6 AS tpi,
        |  CASE WHEN c.v_us * 8 - (n00.v_us + n01.v_us + n02.v_us + n10.v_us
        |      + n12.v_us + n20.v_us + n21.v_us + n22.v_us) > 400000
        |    THEN 'ridge'
        |       WHEN c.v_us * 8 - (n00.v_us + n01.v_us + n02.v_us + n10.v_us
        |      + n12.v_us + n20.v_us + n21.v_us + n22.v_us) < -400000
        |    THEN 'valley'
        |    ELSE 'plane' END AS landform
        |FROM c
        |JOIN c n00 ON n00.gy = c.gy - 1 AND n00.gx = c.gx - 1
        |JOIN c n01 ON n01.gy = c.gy - 1 AND n01.gx = c.gx
        |JOIN c n02 ON n02.gy = c.gy - 1 AND n02.gx = c.gx + 1
        |JOIN c n10 ON n10.gy = c.gy AND n10.gx = c.gx - 1
        |JOIN c n12 ON n12.gy = c.gy AND n12.gx = c.gx + 1
        |JOIN c n20 ON n20.gy = c.gy + 1 AND n20.gx = c.gx - 1
        |JOIN c n21 ON n21.gy = c.gy + 1 AND n21.gx = c.gx
        |JOIN c n22 ON n22.gy = c.gy + 1 AND n22.gx = c.gx + 1""".stripMargin,

    // central second differences on exact micro-units; 'flat' is a
    // bit-exact zero class, not a tolerance
    "grid_curvature" ->
      """WITH c AS (
        |  SELECT user_id % 8 AS gy, (user_id // 8) % 8 AS gx,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 10000
        |      AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v_us
        |  FROM events GROUP BY 1, 2)
        |SELECT c.gy, c.gx,
        |  CAST(xp.v_us - c.v_us * 2 + xm.v_us AS DOUBLE) / 1e6 AS d2zdx2,
        |  CAST(yp.v_us - c.v_us * 2 + ym.v_us AS DOUBLE) / 1e6 AS d2zdy2,
        |  CAST((xp.v_us - c.v_us * 2 + xm.v_us)
        |    + (yp.v_us - c.v_us * 2 + ym.v_us) AS DOUBLE) / 1e6 AS laplacian,
        |  CASE WHEN (xp.v_us - c.v_us * 2 + xm.v_us)
        |           + (yp.v_us - c.v_us * 2 + ym.v_us) > 0 THEN 'concave'
        |       WHEN (xp.v_us - c.v_us * 2 + xm.v_us)
        |           + (yp.v_us - c.v_us * 2 + ym.v_us) < 0 THEN 'convex'
        |       ELSE 'flat' END AS landform
        |FROM c
        |JOIN c xp ON xp.gy = c.gy AND xp.gx = c.gx + 1
        |JOIN c xm ON xm.gy = c.gy AND xm.gx = c.gx - 1
        |JOIN c yp ON yp.gy = c.gy + 1 AND yp.gx = c.gx
        |JOIN c ym ON ym.gy = c.gy - 1 AND ym.gx = c.gx""".stripMargin,

    "grid_flow_dir" ->
      s"""WITH $flowDirCtes
        |SELECT gy, gx, dir, to_gy, to_gx FROM fd""".stripMargin,

    // functional + acyclic (strictly downhill), so the walk CTE
    // terminates; acc(c) = # of walks passing c, itself included
    "grid_flow_acc" ->
      s"""WITH RECURSIVE $flowDirCtes,
        |walk(sy, sx, gy, gx) AS (
        |  SELECT gy, gx, gy, gx FROM fd
        |  UNION ALL
        |  SELECT w.sy, w.sx, f.to_gy, f.to_gx
        |  FROM walk w JOIN fd f ON w.gy = f.gy AND w.gx = f.gx
        |  WHERE f.dir != 'pit')
        |SELECT gy, gx, CAST(count(*) AS BIGINT) AS n_draining
        |FROM walk GROUP BY 1, 2""".stripMargin,

    // same walk CTE, but the TERMINAL row per cell labels its basin;
    // basin_n is a window count over the O(cells) label table
    "grid_watershed" ->
      s"""WITH RECURSIVE $flowDirCtes,
        |walk(gy, gx, cy, cx, cdir) AS (
        |  SELECT gy, gx, gy, gx, dir FROM fd
        |  UNION ALL
        |  SELECT w.gy, w.gx, f.to_gy, f.to_gx, f2.dir
        |  FROM walk w
        |  JOIN fd f ON w.cy = f.gy AND w.cx = f.gx AND f.dir != 'pit'
        |  JOIN fd f2 ON f2.gy = f.to_gy AND f2.gx = f.to_gx),
        |lab AS (
        |  SELECT gy, gx, cy AS pit_y, cx AS pit_x FROM walk
        |  WHERE cdir = 'pit')
        |SELECT gy, gx, pit_y, pit_x,
        |  CAST(count(*) OVER (PARTITION BY pit_y, pit_x) AS BIGINT) AS basin_n
        |FROM lab""".stripMargin,

    // trig-free normal-dot-sun shading on the exact gradient
    // components; identical literal multiply/divide/sqrt chain
    "grid_hillshade" ->
      s"""WITH c AS (
        |  SELECT user_id % 8 AS gy, (user_id // 8) % 8 AS gx,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 10000
        |      AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v_us
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT c.gy, c.gx,
        |    floor((xp.v_us - xm.v_us) / 2.0 + 0.5) / 1e6 AS dzdx,
        |    floor((yp.v_us - ym.v_us) / 2.0 + 0.5) / 1e6 AS dzdy
        |  FROM c
        |  JOIN c xp ON xp.gy = c.gy AND xp.gx = c.gx + 1
        |  JOIN c xm ON xm.gy = c.gy AND xm.gx = c.gx - 1
        |  JOIN c yp ON yp.gy = c.gy + 1 AND yp.gx = c.gx
        |  JOIN c ym ON ym.gy = c.gy - 1 AND ym.gx = c.gx),
        |h AS (
        |  SELECT gy, gx,
        |    greatest(0.0, (dzdx * 0.5 + dzdy * -0.5 + ${graft.operators.Climate.HsCz})
        |      / sqrt(dzdx * dzdx + dzdy * dzdy + 1.0)) AS shade
        |  FROM g)
        |SELECT gy, gx, round(shade, 4) AS hillshade,
        |  CAST(floor(shade * 255 + 0.5) AS BIGINT) AS shade255
        |FROM h""".stripMargin,

    // neighbor mean is integer micro-units summed (order-free) with
    // ONE final division; the mask is integer modular arithmetic
    "grid_fill_nodata" ->
      """WITH c AS (
        |  SELECT user_id % 8 AS gy, (user_id // 8) % 8 AS gx,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 10000
        |      AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v_us
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT *, (gx * 8 + gy) % 7 = 3 AS masked FROM c),
        |f AS (
        |  SELECT t.gy, t.gx, CAST(sum(v.v_us) AS BIGINT) AS nb_sum,
        |    CAST(count(*) AS BIGINT) AS nb_n
        |  FROM m t
        |  JOIN (VALUES (-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1),
        |    (1, -1), (1, 0), (1, 1)) AS o(dy, dx) ON t.masked
        |  JOIN m v ON NOT v.masked
        |    AND v.gy = t.gy + o.dy AND v.gx = t.gx + o.dx
        |  GROUP BY 1, 2)
        |SELECT m.gy, m.gx, m.masked AS filled,
        |  CASE WHEN NOT m.masked THEN CAST(m.v_us AS DOUBLE) / 1e6
        |       ELSE floor(CAST(f.nb_sum AS DOUBLE) / f.nb_n + 0.5) / 1e6
        |  END AS v,
        |  CASE WHEN m.masked THEN f.nb_n END AS n_neighbors
        |FROM m LEFT JOIN f ON m.gy = f.gy AND m.gx = f.gx""".stripMargin,

    "grid_pyramid" ->
      """WITH g AS (
        |  SELECT user_id % 8 AS gy, (user_id // 8) % 8 AS gx,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 10000
        |      AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v_us,
        |    count(*) AS n_obs
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT *, gy - gy % 2 AS b2y, gx - gx % 2 AS b2x,
        |             gy - gy % 4 AS b4y, gx - gx % 4 AS b4x FROM g),
        |p AS (
        |  SELECT grouping(b2y, b2x, b4y, b4x) AS gid, b2y, b2x, b4y, b4x,
        |    count(*) AS n_cells, CAST(sum(n_obs) AS BIGINT) AS n_obs,
        |    floor(CAST(sum(v_us) AS DOUBLE) / count(*) + 0.5) / 1e6 AS v_mean,
        |    CAST(min(v_us) AS DOUBLE) / 1e6 AS v_min,
        |    CAST(max(v_us) AS DOUBLE) / 1e6 AS v_max
        |  FROM c GROUP BY GROUPING SETS ((b2y, b2x), (b4y, b4x), ()))
        |SELECT CAST(CASE WHEN gid = 3 THEN 2 WHEN gid = 12 THEN 4 ELSE 0 END AS INT) AS level,
        |  coalesce(b2y, b4y, -1) AS block_y,
        |  coalesce(b2x, b4x, -1) AS block_x,
        |  n_cells, n_obs, v_mean, v_min, v_max
        |FROM p""".stripMargin,

    "bbox_filter" ->
      """SELECT event_type, count(*) AS n,
        |  floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |    * 100.0 / count(*) + 0.5) / 1e4 AS avg_value
        |FROM (SELECT event_type, value,
        |        (user_id % 36) * 5.0 - 87.5 AS lat,
        |        (user_id % 72) * 5.0 - 177.5 AS lon
        |      FROM events)
        |WHERE lat BETWEEN -45 AND 45 AND lon BETWEEN -60 AND 60
        |GROUP BY 1""".stripMargin,

    "extent_summary" ->
      """SELECT event_type, count(*) AS n,
        |  round(min((user_id % 72) * 5.0 - 177.5), 2) AS min_lon,
        |  round(max((user_id % 72) * 5.0 - 177.5), 2) AS max_lon,
        |  round(min((user_id % 36) * 5.0 - 87.5), 2) AS min_lat,
        |  round(max((user_id % 36) * 5.0 - 87.5), 2) AS max_lat,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS time_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS time_end
        |FROM events GROUP BY 1""".stripMargin,

    "healthcheck_freshness" ->
      """WITH t AS (
        |  SELECT event_type, count(*) AS n,
        |    count(DISTINCT date_trunc('day', ts)) AS n_days,
        |    min(ts) AS min_ts, max(ts) AS max_ts
        |  FROM events GROUP BY 1),
        |g AS (SELECT *, round((epoch_us(max(max_ts) OVER ()) - epoch_us(max_ts))
        |                      / 3600000000.0, 4) AS lag_hours FROM t)
        |SELECT event_type, n, n_days,
        |  strftime(max_ts, '%Y-%m-%d %H:%M:%S') AS last_seen,
        |  lag_hours, lag_hours <= 24.0 AS is_fresh,
        |  n_days = date_diff('day', CAST(min_ts AS DATE), CAST(max_ts AS DATE)) + 1 AS is_complete
        |FROM g""".stripMargin,

    "catalog_health" ->
      """WITH reg AS (
        |  SELECT 'region' AS collection_id, count(*) AS n_rows,
        |         CAST(NULL AS TIMESTAMP) AS end_ts FROM region
        |  UNION ALL SELECT 'nation', count(*), CAST(NULL AS TIMESTAMP) FROM nation
        |  UNION ALL SELECT 'customer', count(*), CAST(NULL AS TIMESTAMP) FROM customer
        |  UNION ALL SELECT 'supplier', count(*), CAST(NULL AS TIMESTAMP) FROM supplier
        |  UNION ALL SELECT 'part', count(*), CAST(NULL AS TIMESTAMP) FROM part
        |  UNION ALL SELECT 'orders', count(*), max(o_orderdate) FROM orders
        |  UNION ALL SELECT 'lineitem', count(*), max(l_shipdate) FROM lineitem
        |  -- second-truncated: the registry's time_end is a formatted
        |  -- seconds string, so the health math sees second precision
        |  UNION ALL SELECT 'events', count(*), date_trunc('second', max(ts)) FROM events
        |  UNION ALL SELECT 'documents', count(*), CAST(NULL AS TIMESTAMP) FROM documents
        |  UNION ALL SELECT 'embeddings', count(*), CAST(NULL AS TIMESTAMP) FROM embeddings
        |), g AS (SELECT *, max(end_ts) OVER () AS lake_max_ts FROM reg),
        |h AS (
        |  SELECT collection_id, n_rows, end_ts,
        |    strftime(end_ts, '%Y-%m-%d %H:%M:%S') AS time_end,
        |    floor((epoch_us(lake_max_ts) - epoch_us(end_ts) + 180000) / 360000.0) / 10000.0 AS lag_hours
        |  FROM g)
        |SELECT collection_id, n_rows, time_end, lag_hours,
        |  coalesce(lag_hours <= 24.0, FALSE) AS is_fresh,
        |  CASE WHEN n_rows = 0 THEN 'empty'
        |       WHEN end_ts IS NULL THEN 'static'
        |       WHEN lag_hours <= 24.0 THEN 'fresh'
        |       ELSE 'stale' END AS status
        |FROM h""".stripMargin,

    "catalog_diff" ->
      """WITH cur AS (
        |  SELECT 'region' AS collection_id, count(*) AS n_rows,
        |         CAST(NULL AS VARCHAR) AS time_end FROM region
        |  UNION ALL SELECT 'nation', count(*), NULL FROM nation
        |  UNION ALL SELECT 'customer', count(*), NULL FROM customer
        |  UNION ALL SELECT 'supplier', count(*), NULL FROM supplier
        |  UNION ALL SELECT 'part', count(*), NULL FROM part
        |  UNION ALL SELECT 'orders', count(*),
        |    strftime(CAST(max(o_orderdate) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') FROM orders
        |  UNION ALL SELECT 'lineitem', count(*),
        |    strftime(CAST(max(l_shipdate) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') FROM lineitem
        |  UNION ALL SELECT 'events', count(*),
        |    strftime(date_trunc('second', max(ts)), '%Y-%m-%d %H:%M:%S') FROM events
        |  UNION ALL SELECT 'documents', count(*), NULL FROM documents
        |  UNION ALL SELECT 'embeddings', count(*), NULL FROM embeddings),
        |prev AS (
        |  SELECT 'region' AS collection_id, count(*) AS n_rows,
        |         CAST(NULL AS VARCHAR) AS time_end FROM region
        |  UNION ALL SELECT 'nation', count(*), NULL FROM nation
        |  UNION ALL SELECT 'customer', count(*), NULL FROM customer
        |  UNION ALL SELECT 'supplier', count(*), NULL FROM supplier
        |  UNION ALL SELECT 'part', count(*), NULL FROM part
        |  UNION ALL SELECT 'orders', count(*),
        |    strftime(CAST(max(o_orderdate) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')
        |    FROM orders WHERE o_orderdate < DATE '1995-06-01'
        |  UNION ALL SELECT 'lineitem', count(*),
        |    strftime(CAST(max(l_shipdate) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')
        |    FROM lineitem WHERE l_shipdate < DATE '1995-06-01'
        |  UNION ALL SELECT 'events', count(*),
        |    strftime(date_trunc('second', max(ts)), '%Y-%m-%d %H:%M:%S')
        |    FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
        |  UNION ALL SELECT 'legacy_grib', CAST(42 AS BIGINT), NULL)
        |SELECT coalesce(p.collection_id, c.collection_id) AS collection_id,
        |  CASE WHEN p.collection_id IS NULL THEN 'added'
        |       WHEN c.collection_id IS NULL THEN 'removed'
        |       WHEN p.n_rows IS NOT DISTINCT FROM c.n_rows
        |        AND p.time_end IS NOT DISTINCT FROM c.time_end THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  p.n_rows AS prev_rows, c.n_rows AS cur_rows,
        |  p.time_end AS prev_end, c.time_end AS cur_end
        |FROM prev p FULL OUTER JOIN cur c ON p.collection_id = c.collection_id""".stripMargin,

    "schedule_due" ->
      """WITH sched(pipeline, cadence, backfill_start) AS (
        |  VALUES ('clicks_hourly','hour',TIMESTAMP '2024-01-29 00:00:00'),
        |         ('purchases_daily','day',TIMESTAMP '2024-01-25 00:00:00'),
        |         ('sensors_weekly','week',TIMESTAMP '2024-01-01 00:00:00')),
        |wm AS (
        |  SELECT CASE event_type WHEN 'click' THEN 'clicks_hourly'
        |         ELSE 'purchases_daily' END AS pipeline,
        |         max(ts) AS watermark
        |  FROM events WHERE event_type IN ('click','purchase') GROUP BY 1),
        |base AS (
        |  SELECT s.pipeline,
        |    date_trunc(s.cadence, coalesce(w.watermark, s.backfill_start)) AS from_ts,
        |    CASE s.cadence WHEN 'hour' THEN INTERVAL 1 HOUR
        |         WHEN 'day' THEN INTERVAL 1 DAY
        |         ELSE INTERVAL 7 DAY END AS step,
        |    TIMESTAMP '2024-02-01 00:00:00' AS now_ts
        |  FROM sched s LEFT JOIN wm w USING (pipeline))
        |SELECT pipeline,
        |  strftime(t.ts, '%Y-%m-%d %H:%M:%S') AS tick_start,
        |  strftime(t.ts + step, '%Y-%m-%d %H:%M:%S') AS tick_end
        |FROM base, LATERAL unnest(generate_series(from_ts, now_ts - step, step)) AS t(ts)
        |WHERE t.ts + step <= now_ts
        |ORDER BY pipeline, tick_start""".stripMargin,

    // the add_leading_zero.sh sed rule verbatim; rank pairs quantify
    // which unpadded listings a lexicographic consumer misorders
    "catalog_name_normalize" ->
      """WITH f AS (
        |  SELECT m.ym, r.r,
        |    'knmi_fc_' || m.ym || '_r' || r.r || '_tp.nc' AS name
        |  FROM (SELECT DISTINCT strftime(date_trunc('month', ts), '%Y%m')
        |          AS ym FROM events) m
        |  CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5), (6), (7), (8),
        |    (9), (10), (11), (12)) r(r))
        |SELECT ym, r, name,
        |  regexp_replace(name, '_r([0-9])_', '_r0\1_') AS canonical,
        |  regexp_replace(name, '_r([0-9])_', '_r0\1_') != name AS was_padded,
        |  CAST(rank() OVER (PARTITION BY ym ORDER BY name) AS INT) AS lex_rank,
        |  CAST(rank() OVER (PARTITION BY ym ORDER BY r) AS INT) AS num_rank,
        |  rank() OVER (PARTITION BY ym ORDER BY name)
        |    != rank() OVER (PARTITION BY ym ORDER BY r) AS misordered
        |FROM f""".stripMargin,

    // MapServer layer/style registry: the same literal WKT drop,
    // classification CASE, numeric-token bbox (1-based odd positions
    // are lons ⇔ Spark's 0-based even) and path/crs/format columns
    "catalog_maps_registry" -> {
      val rows = graft.sources.Catalog.mapsLayerDrop
        .map { case (l, id, g) => s"('$l', $id, '$g')" }.mkString(",\n  ")
      s"""WITH f(layer, feature_id, geometry) AS (VALUES
        |  $rows),
        |p AS (
        |  SELECT layer, feature_id,
        |    upper(regexp_extract(geometry, '^\\s*([A-Za-z]+)', 1)) AS gtype,
        |    list_transform(regexp_extract_all(geometry,
        |      '-?[0-9]+(\\.[0-9]+)?'), v -> v::DOUBLE) AS nums
        |  FROM f),
        |c AS (
        |  SELECT *,
        |    CASE WHEN gtype IN ('POINT', 'MULTIPOINT') THEN 'MS_LAYER_POINT'
        |         WHEN gtype IN ('POLYGON', 'MULTIPOLYGON')
        |           THEN 'MS_LAYER_POLYGON'
        |         WHEN gtype IN ('LINESTRING', 'MULTILINESTRING')
        |           THEN 'MS_LAYER_LINE'
        |    END AS ms_type
        |  FROM p),
        |agg AS (
        |  SELECT layer,
        |    min(list_min(list_filter(nums, (v, i) -> i % 2 = 1))) AS min_lon,
        |    max(list_max(list_filter(nums, (v, i) -> i % 2 = 1))) AS max_lon,
        |    min(list_min(list_filter(nums, (v, i) -> i % 2 = 0))) AS min_lat,
        |    max(list_max(list_filter(nums, (v, i) -> i % 2 = 0))) AS max_lat
        |  FROM c GROUP BY 1),
        |cls AS (
        |  SELECT layer, CAST(count(*) AS BIGINT) AS n_features,
        |    CASE WHEN count(DISTINCT ms_type) = 1
        |           AND count(*) = count(ms_type)
        |         THEN min(ms_type) END AS ms_layer_type
        |  FROM c GROUP BY 1)
        |SELECT 'maps_api_' || cls.layer AS resource_id, cls.layer,
        |  ms_layer_type,
        |  CASE WHEN ms_layer_type IS NULL THEN 'unsupported'
        |       ELSE 'ok' END AS status,
        |  n_features, min_lon, min_lat, max_lon, max_lat,
        |  'EPSG:4326' AS crs,
        |  '/sld/' || cls.layer || '.sld' AS style_path,
        |  '/shp/' || cls.layer || '/' || cls.layer || '.shp' AS data_path,
        |  'png' AS fmt
        |FROM cls LEFT JOIN agg ON cls.layer = agg.layer""".stripMargin
    },

    // per-station feature assembly: each (var, model) series joins as
    // an integer-cents string property; empty combos are '' on both
    // sides (FILTERed DuckDB lists are NULL on empty → coalesce)
    "station_feature_series" -> {
      val combos = graft.operators.Serving.SeriesCombos.map { case (v, m) =>
        s"coalesce(array_to_string(list(CAST(c AS VARCHAR) ORDER BY day) " +
          s"FILTER (WHERE var = '$v' AND model = '$m'), ','), '') AS ${v}_$m"
      }.mkString(",\n        |  ")
      s"""WITH daily AS (
        |  SELECT user_id AS station, event_type AS var,
        |    CASE WHEN event_id % 2 = 0 THEN 'ec' ELSE 'mf' END AS model,
        |    strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS c
        |  FROM events WHERE event_type IN ('view', 'click')
        |  GROUP BY 1, 2, 3, 4)
        |SELECT station,
        |  (station % 72) * 5.0 - 177.5 AS lon,
        |  (station % 36) * 5.0 - 87.5 AS lat,
        |  array_to_string(list_sort(list(DISTINCT day)), ',') AS time,
        |  $combos
        |FROM daily GROUP BY 1""".stripMargin
    },

    // keep-last upsert: batch side wins on (station, ts) collision,
    // larger event_id breaks ties within a side
    "obs_upsert_merge" ->
      """WITH ev AS (
        |  SELECT user_id AS station, ts, event_id,
        |    round(value, 4) AS level FROM events),
        |u AS (
        |  SELECT station, ts, event_id, level, 'hist' AS src, 0 AS prio FROM ev
        |  UNION ALL
        |  SELECT station, ts, event_id, round(level + 0.5, 4) AS level,
        |    'batch' AS src, 1 AS prio
        |  FROM ev WHERE event_id % 7 = 0),
        |m AS (
        |  SELECT station, ts, event_id, level, src,
        |    row_number() OVER (PARTITION BY station, ts
        |      ORDER BY prio DESC, event_id DESC) AS rn
        |  FROM u)
        |SELECT station, epoch_us(ts) AS ts_us, level, src
        |FROM m WHERE rn = 1""".stripMargin,

    "obs_collection_extents" ->
      """WITH ev AS (
        |  SELECT user_id AS station, ts, event_id,
        |    round(value, 4) AS level FROM events),
        |u AS (
        |  SELECT station, ts, event_id, level, 'hist' AS src, 0 AS prio FROM ev
        |  UNION ALL
        |  SELECT station, ts, event_id, round(level + 0.5, 4) AS level,
        |    'batch' AS src, 1 AS prio
        |  FROM ev WHERE event_id % 7 = 0),
        |m AS (
        |  SELECT station, ts, level, src,
        |    row_number() OVER (PARTITION BY station, ts
        |      ORDER BY prio DESC, event_id DESC) AS rn
        |  FROM u)
        |SELECT station, count(*) AS n_obs,
        |  CAST(sum(CASE WHEN src = 'batch' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_revised,
        |  min(epoch_us(ts)) AS ts_min_us, max(epoch_us(ts)) AS ts_max_us,
        |  round(min(level), 4) AS level_min, round(max(level), 4) AS level_max
        |FROM m WHERE rn = 1 GROUP BY 1""".stripMargin,

    // the reference's unpadded-date regex quirk is mirrored on both
    // engines: '.*1.*1.*2024\.xlsx' happily selects the day-10 file
    // for a day-1 request because 10_1 sorts first and CONTAINS the
    // digits — first match in listing order wins, faithfully
    "ftp_hydro_select" ->
      """WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
        |listing AS (
        |  SELECT 'Alazani-Shaqriani-Hydro-' || CAST(day(d) AS VARCHAR)
        |    || '_' || CAST(month(d) AS VARCHAR) || '_'
        |    || CAST(year(d) AS VARCHAR) || '.xlsx' AS fname
        |  FROM days),
        |ordered AS (
        |  SELECT fname, row_number() OVER (ORDER BY fname) AS idx
        |  FROM listing),
        |reqs AS (
        |  SELECT DATE '2023-12-31' + CAST(n AS INT) AS rd
        |  FROM range(1, 10) t(n)
        |  UNION ALL SELECT DATE '2024-02-15'),
        |sel AS (
        |  SELECT r.rd, min_by(o.fname, o.idx) AS f
        |  FROM reqs r JOIN ordered o
        |    ON regexp_matches(o.fname, 'Alazani-Shaqriani-Hydro-.*'
        |      || CAST(day(r.rd) AS VARCHAR) || '.*'
        |      || CAST(month(r.rd) AS VARCHAR) || '.*'
        |      || CAST(year(r.rd) AS VARCHAR) || '\.xlsx')
        |  GROUP BY 1)
        |SELECT strftime(r.rd, '%Y-%m-%d') AS req_date,
        |  CASE WHEN s.f IS NULL THEN 'SKIPPED' ELSE 'OK' END AS status,
        |  coalesce(s.f, '') AS selected_file
        |FROM reqs r LEFT JOIN sel s ON r.rd = s.rd
        |ORDER BY req_date""".stripMargin,

    // inverse transverse Mercator with the series coefficients
    // rendered from the SAME driver doubles as the Spark plan — the
    // literal-folding engine-invariance pattern
    "stations_reproject" -> {
      val (lonExpr, latExpr) = Geo.inverseSqlExprs
      s"""WITH st AS (
        |  SELECT DISTINCT user_id FROM events),
        |xy AS (
        |  SELECT user_id AS station,
        |    CAST(${Geo.EastingExpr} AS DOUBLE) AS easting,
        |    CAST(${Geo.NorthingExpr} AS DOUBLE) AS northing
        |  FROM st)
        |SELECT station, easting, northing,
        |  floor($lonExpr * 1e6 + 0.5) / 1e6 AS lon,
        |  floor($latExpr * 1e6 + 0.5) / 1e6 AS lat
        |FROM xy""".stripMargin
    },

    // the AAIGrid round trip: the oracle computes the expected decode
    // straight from the source grid, so the gate proves the in-plan
    // .asc render + the Scala parser invert each other exactly (cell
    // centres are exact binary rationals — corner + half-cell)
    "grid_asc_decode" ->
      """WITH c AS (
        |  SELECT user_id % 8 AS gy, (user_id // 8) % 8 AS gx,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      * 10000 AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v_us
        |  FROM events GROUP BY 1, 2)
        |SELECT 'precip' AS var, '2024-01-15' AS day,
        |  42.125 + gy * 0.25 AS lat, -9.875 + gx * 0.25 AS lon,
        |  CAST(v_us AS DOUBLE) / 1e6 AS value
        |FROM c WHERE (gx * 8 + gy) % 7 != 3""".stripMargin,

    // the binary twin: the expected decode of the in-plan GeoTIFF is
    // the same grid (int32 micro-unit samples; the nodata guard on
    // v_us mirrors the decoder's GDAL_NODATA skip exactly, so even a
    // real value colliding with the sentinel stays consistent)
    "grid_tiff_decode" ->
      """WITH c AS (
        |  SELECT user_id % 8 AS gy, (user_id // 8) % 8 AS gx,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      * 10000 AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v_us
        |  FROM events GROUP BY 1, 2)
        |SELECT 'precip' AS var, '2024-01-15' AS day,
        |  42.125 + gy * 0.25 AS lat, -9.875 + gx * 0.25 AS lon,
        |  CAST(v_us AS DOUBLE) / 1e6 AS value
        |FROM c
        |WHERE (gx * 8 + gy) % 7 != 3 AND v_us != -2147483648""".stripMargin,

    // the NetCDF twin: packed int32 × the stored scale_factor — the
    // oracle MULTIPLIES by 1e-6 (not divides by 1e6) because that is
    // the unpacking arithmetic the codec runs, bit-identical IEEE
    "grid_nc_decode" ->
      """WITH c AS (
        |  SELECT user_id % 8 AS gy, (user_id // 8) % 8 AS gx,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      * 10000 AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v_us
        |  FROM events GROUP BY 1, 2)
        |SELECT 'precip' AS var, '2024-01-15' AS day,
        |  42.125 + gy * 0.25 AS lat, -9.875 + gx * 0.25 AS lon,
        |  CAST(v_us AS DOUBLE) * 1e-6 AS value
        |FROM c
        |WHERE (gx * 8 + gy) % 7 != 3 AND v_us != -2147483648""".stripMargin,

    // the GRIB-1 twin: N = v_us + 2^31 against IBM-float R = -2^31,
    // E = 0, D = 6 unpacks to exactly v_us / 1e6 on both engines
    "grid_grib_decode" ->
      """WITH c AS (
        |  SELECT user_id % 8 AS gy, (user_id // 8) % 8 AS gx,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      * 10000 AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v_us
        |  FROM events GROUP BY 1, 2)
        |SELECT 'p61' AS var, '2024-01-15' AS day,
        |  42.125 + gy * 0.25 AS lat, -9.875 + gx * 0.25 AS lon,
        |  CAST(v_us AS DOUBLE) / 1e6 AS value
        |FROM c
        |WHERE (gx * 8 + gy) % 7 != 3 AND v_us != -2147483648""".stripMargin,

    // the zarr twin of the GRIB/TIFF lanes: i4 chunk packing, edge
    // padding, zlib, fill mask and the parsed scale_factor * raw —
    // v_us * 1e-6 is the identical IEEE multiply on both engines
    "grid_zarr_decode" ->
      """WITH c AS (
        |  SELECT user_id % 8 AS gy, (user_id // 8) % 8 AS gx,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      * 10000 AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v_us
        |  FROM events GROUP BY 1, 2)
        |SELECT 'precip' AS var, '2024-01-15' AS day,
        |  42.125 + gy * 0.25 AS lat, -9.875 + gx * 0.25 AS lon,
        |  CAST(v_us AS DOUBLE) * 1e-6 AS value
        |FROM c
        |WHERE (gx * 8 + gy) % 7 != 3 AND v_us != -2147483648""".stripMargin,

    // the box-mean pyramid replays level by level; the POSITIONAL
    // checksum makes pixel placement load-bearing, not just masses
    "image_resize_pyramid" ->
      """WITH grid AS (
        |  SELECT user_id % 8 AS y, (user_id // 8) % 8 AS x,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      * 10000 AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v_us
        |  FROM events GROUP BY 1, 2),
        |lattice AS (
        |  SELECT g.n AS g, yy.n AS y, xx.n AS x
        |  FROM range(0, 4) g(n), range(0, 8) yy(n), range(0, 8) xx(n)),
        |px AS (
        |  SELECT l.g, l.y, l.x,
        |    ((coalesce(gr.v_us, 0) + l.g * 7) % 256 + 256) % 256 AS p
        |  FROM lattice l LEFT JOIN grid gr ON l.y = gr.y AND l.x = gr.x),
        |cmap AS (SELECT * FROM (VALUES (0, 0, 1), (1, 2, 3), (2, 4, 2),
        |  (3, 6, 4)) AS t(g, ct, nch)),
        |l0 AS (
        |  SELECT p.g, c.n AS c, p.y, p.x,
        |    CAST((p.p * (2 * c.n + 1) + c.n + p.g) % 256 AS BIGINT) AS v
        |  FROM px p JOIN cmap m ON p.g = m.g
        |  JOIN range(0, 4) c(n) ON c.n < m.nch),
        |l1 AS (SELECT g, c, y // 2 AS y, x // 2 AS x,
        |  CAST(floor(CAST(sum(v) AS DOUBLE) / 2.0 / 2.0) AS BIGINT) AS v
        |  FROM l0 GROUP BY 1, 2, 3, 4),
        |l2 AS (SELECT g, c, y // 2 AS y, x // 2 AS x,
        |  CAST(floor(CAST(sum(v) AS DOUBLE) / 2.0 / 2.0) AS BIGINT) AS v
        |  FROM l1 GROUP BY 1, 2, 3, 4),
        |l3 AS (SELECT g, c, y // 2 AS y, x // 2 AS x,
        |  CAST(floor(CAST(sum(v) AS DOUBLE) / 2.0 / 2.0) AS BIGINT) AS v
        |  FROM l2 GROUP BY 1, 2, 3, 4),
        |u AS (
        |  SELECT g, c, 0 AS level, 8 AS dim, y, x, v FROM l0
        |  UNION ALL SELECT g, c, 1, 4, y, x, v FROM l1
        |  UNION ALL SELECT g, c, 2, 2, y, x, v FROM l2
        |  UNION ALL SELECT g, c, 3, 1, y, x, v FROM l3)
        |SELECT 'img_' || CAST(g AS VARCHAR) || '.png' AS name, level, c,
        |  count(*) AS n_px, CAST(sum(v) AS BIGINT) AS sum_v,
        |  CAST(sum(v * (y * dim + x + 1)) AS BIGINT) AS poschk
        |FROM u GROUP BY 1, 2, 3 ORDER BY name, level, c""".stripMargin,

    // pair means floor on an exactly-halved double — identical on
    // both engines even for negative odd sums
    "audio_resample_pcm" ->
      """WITH seeds AS (
        |  SELECT user_id % 8 AS g,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      * 10000 AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS seed
        |  FROM events GROUP BY 1),
        |ser AS (
        |  SELECT s.g, r.k,
        |    (s.seed + (r.k + 1) * 2654435761) % 65536 - 32768 AS smp
        |  FROM seeds s JOIN range(0, 320) r(k)
        |    ON r.k < 160 + s.g * 16),
        |p AS (
        |  SELECT g, k // 2 AS j,
        |    CAST(floor(CAST(sum(smp) AS DOUBLE) / 2.0) AS BIGINT) AS r
        |  FROM ser GROUP BY 1, 2),
        |l AS (
        |  SELECT g, j, r, lag(r) OVER (PARTITION BY g ORDER BY j) AS prev
        |  FROM p)
        |SELECT 'clip_' || CAST(g AS VARCHAR) || '.wav' AS name,
        |  count(*) AS n_out,
        |  CAST(sum(r * r) AS BIGINT) AS sum_sq,
        |  CAST(max(abs(r)) AS BIGINT) AS peak,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND ((r >= 0 AND prev < 0)
        |    OR (r < 0 AND prev >= 0)) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS zero_cross
        |FROM l GROUP BY g ORDER BY name""".stripMargin,

    // both mvhd versions and the optional audio trak are g-arithmetic;
    // 16.16 dims come back as exact integral doubles on both engines
    "video_container_meta" ->
      """WITH seeds AS (
        |  SELECT user_id % 6 AS g,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      * 10000 AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS seed
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT g, abs(seed) % 600000 + 1000 AS duration,
        |    320 + CAST(g % 3 AS INT) * 320 AS w,
        |    180 + CAST(g % 3 AS INT) * 180 AS h,
        |    CASE WHEN g % 3 = 0 THEN 1 ELSE 0 END AS audio
        |  FROM seeds)
        |SELECT 'movie_' || CAST(g AS VARCHAR) || '.mp4' AS name,
        |  'isom' AS major_brand, CAST(1000 AS BIGINT) AS timescale,
        |  CAST(duration AS BIGINT) AS duration,
        |  CAST(1 + audio AS BIGINT) AS n_tracks,
        |  CAST(audio AS BIGINT) AS audio_tracks,
        |  CAST(w AS DOUBLE) AS video_w, CAST(h AS DOUBLE) AS video_h,
        |  CASE WHEN audio = 1 THEN CAST(2 AS BIGINT) END AS audio_aot,
        |  CASE WHEN audio = 1 THEN CAST(CASE WHEN g % 2 = 0
        |    THEN 48000 ELSE 44100 END AS BIGINT) END AS audio_rate,
        |  CASE WHEN audio = 1 THEN CAST(1 + g % 2 AS BIGINT) END
        |    AS audio_channels,
        |  CASE WHEN audio = 1
        |    THEN CAST((abs(seed) % 256 + 64) * 1000 AS BIGINT) END
        |    AS audio_bps
        |FROM m JOIN seeds USING (g) ORDER BY name""".stripMargin,

    // the four images' pixels are closed-form mod arithmetic over
    // the events grid (all terms nonnegative, so % agrees across
    // engines); channels expand per the g→(color_type, nch) map
    "image_png_stats" ->
      """WITH grid AS (
        |  SELECT user_id % 8 AS y, (user_id // 8) % 8 AS x,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      * 10000 AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v_us
        |  FROM events GROUP BY 1, 2),
        |lattice AS (
        |  SELECT g.n AS g, yy.n AS y, xx.n AS x
        |  FROM range(0, 4) g(n), range(0, 8) yy(n), range(0, 8) xx(n)),
        |px AS (
        |  SELECT l.g, l.y, l.x,
        |    ((coalesce(gr.v_us, 0) + l.g * 7) % 256 + 256) % 256 AS p
        |  FROM lattice l LEFT JOIN grid gr ON l.y = gr.y AND l.x = gr.x),
        |cmap AS (SELECT * FROM (VALUES (0, 0, 1), (1, 2, 3), (2, 4, 2),
        |  (3, 6, 4)) AS t(g, ct, nch)),
        |s AS (
        |  SELECT p.g, m.ct, c.n AS c,
        |    (p.p * (2 * c.n + 1) + c.n + p.g) % 256 AS v
        |  FROM px p JOIN cmap m ON p.g = m.g
        |  JOIN range(0, 4) c(n) ON c.n < m.nch)
        |SELECT 'img_' || CAST(g AS VARCHAR) || '.png' AS name,
        |  CAST(ct AS INT) AS color_type, c, count(*) AS n_px,
        |  CAST(sum(v) AS BIGINT) AS sum_v,
        |  CAST(min(v) AS BIGINT) AS min_v,
        |  CAST(max(v) AS BIGINT) AS max_v
        |FROM s GROUP BY 1, 2, 3 ORDER BY name, c""".stripMargin,

    // the PCM series is a Weyl sequence seeded by the events grid;
    // (seed + (k+1)*2654435761) stays positive, so truncated-division
    // mod agrees across engines; all features exact-integer
    "audio_wav_stats" ->
      """WITH seeds AS (
        |  SELECT user_id % 8 AS g,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      * 10000 AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS seed
        |  FROM events GROUP BY 1),
        |ser AS (
        |  SELECT s.g, r.k,
        |    (s.seed + (r.k + 1) * 2654435761) % 65536 - 32768 AS smp
        |  FROM seeds s JOIN range(0, 320) r(k)
        |    ON r.k < 160 + s.g * 16),
        |l AS (
        |  SELECT g, k, smp,
        |    lag(smp) OVER (PARTITION BY g ORDER BY k) AS prev
        |  FROM ser)
        |SELECT 'clip_' || CAST(g AS VARCHAR) || '.wav' AS name,
        |  count(*) AS n_samples,
        |  CAST(sum(smp * smp) AS BIGINT) AS sum_sq,
        |  CAST(max(abs(smp)) AS BIGINT) AS peak,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND ((smp >= 0 AND prev < 0)
        |    OR (smp < 0 AND prev >= 0)) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS zero_cross,
        |  CAST(sum(CASE WHEN abs(smp) < 256 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS near_silence
        |FROM l GROUP BY g ORDER BY name""".stripMargin,

    // decode∘encode identity for the PUBLIC publish path: every cell
    // the cube carries comes back at v_us * 1e-6 (identical IEEE
    // multiply both engines); fill/padding cells never surface
    "zarr_publish_roundtrip" ->
      """WITH g AS (
        |  SELECT (day(ts) - 1) % 3 AS t,
        |    (user_id + day(ts)) % 8 AS i,
        |    (user_id * 3 + day(ts)) % 8 AS j,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      * 10000 AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v_us
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT 'precip' AS var,
        |  strftime(DATE '2024-01-15' + CAST(t AS INT), '%Y-%m-%d') AS day,
        |  40.125 + CAST(i AS DOUBLE) * 0.25 AS lat,
        |  -9.875 + CAST(j AS DOUBLE) * 0.25 AS lon,
        |  CAST(v_us AS DOUBLE) * 1e-6 AS value
        |FROM g""".stripMargin,

    // the zarr-cube fan-out recompute: slice indices are the same
    // closed-form ranges the coordinate arrays induce, missing cells
    // zero-filled exactly like the rendered raster
    "phenology_slices" ->
      """WITH g AS (
        |  SELECT (day(ts) - 1) % 3 AS t,
        |    (user_id + day(ts)) % 8 AS i,
        |    (user_id * 3 + day(ts)) % 8 AS j,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      * 10000 AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v_us
        |  FROM events GROUP BY 1, 2, 3),
        |lattice AS (
        |  SELECT t.n AS t, yi.n AS i, xj.n AS j
        |  FROM range(0, 3) t(n), range(2, 6) yi(n), range(4, 8) xj(n)),
        |s AS (
        |  SELECT l.t, count(*) AS n_cells,
        |    CAST(sum(coalesce(g.v_us, 0)) AS BIGINT) AS sum_us,
        |    CAST(min(coalesce(g.v_us, 0)) AS BIGINT) AS min_us,
        |    CAST(max(coalesce(g.v_us, 0)) AS BIGINT) AS max_us
        |  FROM lattice l LEFT JOIN g
        |    ON l.t = g.t AND l.i = g.i AND l.j = g.j
        |  GROUP BY 1),
        |d AS (
        |  SELECT t, strftime(DATE '2024-01-01' + CAST(14 + t AS INT),
        |    '%Y-%m-%d') AS day
        |  FROM s),
        |tj AS (
        |  SELECT '{"time": ["' || string_agg(day || 'T00:00:00.000000000',
        |    '", "' ORDER BY day) || '"]}' AS times_json
        |  FROM d)
        |SELECT 'tx90_' || d.day AS file_name, d.day AS day,
        |  -9.0 AS ulx, 41.5 AS uly, -8.0 AS lrx, 40.5 AS lry,
        |  s.n_cells, s.sum_us, s.min_us, s.max_us, tj.times_json
        |FROM s JOIN d ON s.t = d.t CROSS JOIN tj
        |ORDER BY day""".stripMargin,

    // recomputes the STAC search survivors straight from events: the
    // four drop mechanisms (collection, datetime interval, query
    // ensemble<=3, asset probe) are gid arithmetic; value = exact
    // micro-unit mean / 1e6 * factor 2.5 (both exact in IEEE)
    "stac_search_items" ->
      """WITH g AS (
        |  SELECT user_id % 12 AS gid, count(*) AS cnt,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      * 10000 AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v_us
        |  FROM events GROUP BY 1)
        |SELECT 'item_' || lpad(CAST(gid AS VARCHAR), 3, '0') AS item_id,
        |  ['era5','cmip6','obs'][CAST(gid % 3 AS INT) + 1] AS collection,
        |  strftime(DATE '2024-03-01' + CAST(gid AS INT), '%Y-%m-%d') AS day,
        |  './data/' || ['era5','cmip6','obs'][CAST(gid % 3 AS INT) + 1]
        |    || '/item_' || lpad(CAST(gid AS VARCHAR), 3, '0')
        |    || '_tp.nc' AS href,
        |  'application/netcdf' AS media_type,
        |  -10.0 + CAST(gid % 4 AS DOUBLE) * 5.0 AS west,
        |  40.0 + CAST(gid // 4 AS DOUBLE) * 2.0 AS south,
        |  -10.0 + CAST(gid % 4 AS DOUBLE) * 5.0 + 2.0 AS east,
        |  40.0 + CAST(gid // 4 AS DOUBLE) * 2.0 + 2.0 AS north,
        |  cnt AS n_obs,
        |  CAST(v_us AS DOUBLE) / 1e6 * 2.5 AS value
        |FROM g
        |WHERE gid % 3 != 2 AND gid >= 2 AND gid <= 9
        |  AND gid % 5 <= 3 AND gid % 4 != 1
        |ORDER BY item_id""".stripMargin,

    // the filename parse drives which statistic each file renders, so
    // a parse bug cannot hash-match; percentiles are hand-rank
    // interpolated on exact micro-unit daily means
    "grid_affine_stack" ->
      """WITH d AS (
        |  SELECT user_id % 8 AS gy, (user_id // 8) % 8 AS gx,
        |    strftime(date_trunc('month', ts), '%Y%m') AS ym,
        |    strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      * 10000 AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v_us
        |  FROM events GROUP BY 1, 2, 3, 4),
        |files AS (
        |  SELECT 'creaf_fc_iberia_m_' || v.varname || '_' || m.ym AS filename,
        |    m.ym
        |  FROM (SELECT DISTINCT ym FROM d) m
        |  CROSS JOIN (VALUES ('pc_50'), ('pc_90'), ('yield')) v(varname)),
        |pv AS (
        |  SELECT filename, ym,
        |    CASE WHEN len(parts) > 5 AND length(parts[5]) = 2
        |           AND regexp_full_match(parts[5], '[A-Za-z]+')
        |           AND regexp_full_match(parts[6], '[0-9]+')
        |      THEN parts[5] || '_' || parts[6] ELSE parts[5] END AS var,
        |    CASE WHEN len(parts) > 5 AND length(parts[5]) = 2
        |           AND regexp_full_match(parts[5], '[A-Za-z]+')
        |           AND regexp_full_match(parts[6], '[0-9]+')
        |      THEN CAST(parts[6] AS DOUBLE) / 100.0 ELSE NULL END AS q
        |  FROM (SELECT filename, ym, string_split(filename, '_') AS parts
        |        FROM files)),
        |g AS (
        |  SELECT pv.filename, pv.var, pv.q, pv.ym, d.gy, d.gx,
        |    list(v_us ORDER BY v_us) AS l, count(*) AS n, sum(v_us) AS s
        |  FROM pv JOIN d USING (ym) GROUP BY 1, 2, 3, 4, 5, 6)
        |SELECT filename, var, ym, gy, gx,
        |  -10.0 + 0.25 * gx + 0.125 AS x_c,
        |  44.0 + -0.25 * gy + -0.125 AS y_c,
        |  CASE WHEN q IS NULL
        |    THEN floor(CAST(s AS DOUBLE) / n / 100.0 + 0.5) / 1e4
        |    ELSE floor((CAST(l[CAST(floor((n - 1) * q) AS BIGINT) + 1]
        |        AS DOUBLE)
        |      + ((n - 1) * q - floor((n - 1) * q))
        |        * (CAST(l[least(CAST(floor((n - 1) * q) AS BIGINT) + 2, n)]
        |            AS DOUBLE)
        |          - CAST(l[CAST(floor((n - 1) * q) AS BIGINT) + 1]
        |            AS DOUBLE))) / 100.0 + 0.5) / 1e4
        |  END AS value
        |FROM g""".stripMargin,

    // expanding-history ensemble SPI per forecast lead: fit over
    // ref ∪ member-forecast ≤ lead day, evaluate the lead day only
    // (rowsWhere); the day>refEnd forecast slice IS the overlap
    // dedup's closed form (spec + Spark side use the live anti-join)
    "spi_forecast_coverage" -> {
      val leadRows = graft.operators.Climate.CoverageLeads
        .map { case (l, d) => s"($l, '$d')" }.mkString(", ")
      val refEnd = graft.operators.Climate.CoverageRefEnd
      spiGammaSql(
        s"""  SELECT user_id * 1000 + member * 10 + lead AS event_id,
          |    user_id, member, lead, day, day_l, x
          |  FROM (
          |    SELECT d.user_id, m.member, l.lead, d.day, l.day_l,
          |      CAST(d.c AS DOUBLE) / 100.0 AS x
          |    FROM (SELECT user_id,
          |            strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
          |            sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS c
          |          FROM events GROUP BY 1, 2) d
          |    CROSS JOIN (VALUES (0), (1), (2), (3), (4)) m(member)
          |    CROSS JOIN (VALUES $leadRows) l(lead, day_l)
          |    WHERE d.day <= '$refEnd'
          |    UNION ALL
          |    SELECT f.user_id, f.member, l.lead, f.day, l.day_l,
          |      CAST(f.c AS DOUBLE) / 100.0 AS x
          |    FROM (
          |      SELECT d.user_id, m.member, d.day,
          |        (d.c * (100 + m.member * 3)) // 100 AS c
          |      FROM (SELECT user_id,
          |              strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
          |              sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS c
          |            FROM events GROUP BY 1, 2) d
          |      CROSS JOIN (VALUES (0), (1), (2), (3), (4)) m(member)
          |      WHERE d.day > '$refEnd') f
          |    JOIN (VALUES $leadRows) l(lead, day_l) ON f.day <= l.day_l
          |  ) u""".stripMargin,
        keys = Seq("user_id", "member", "lead"), carry = Seq("day"),
        rowsWhere = "WHERE acc.day = acc.day_l")
    },

    "features_items" -> {
      val (minLon, minLat, maxLon, maxLat) = Serving.featuresBbox
      s"""$featureParseSql
        |SELECT CAST(feature_id AS BIGINT) AS feature_id, gtype, lon, lat,
        |  minx, miny, maxx, maxy,
        |  json_extract_string(props, '$$.name') AS name
        |FROM g
        |WHERE geom_ok
        |  AND NOT (maxx < $minLon OR minx > $maxLon
        |        OR maxy < $minLat OR miny > $maxLat)""".stripMargin
    },

    "features_extent" ->
      s"""$featureParseSql
        |SELECT 'features' AS collection_id,
        |  count(*) AS n_features,
        |  min(minx) AS min_lon, max(maxx) AS max_lon,
        |  min(miny) AS min_lat, max(maxy) AS max_lat
        |FROM g WHERE geom_ok""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
        |  min(doc_id) AS keeper,
        |  count(*) AS dup_count
        |FROM documents
        |GROUP BY 1""".stripMargin,

    "dedup_report" ->
      """WITH g AS (
        |  SELECT source,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |    count(*) AS cnt
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs,
        |  count(*) AS n_unique,
        |  CAST(sum(cnt) - count(*) AS BIGINT) AS n_dup_docs,
        |  CAST(max(cnt) AS BIGINT) AS max_group,
        |  floor(CAST(sum(cnt) - count(*) AS DOUBLE) / sum(cnt) * 1e4 + 0.5)
        |    / 1e4 AS dup_rate
        |FROM g GROUP BY 1""".stripMargin,

    "q7_volume_shipping" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
        |  round(CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
        |    * (10000 - CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT)))
        |    AS DOUBLE) / 1e6, 2) AS revenue
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |WHERE sn.n_name IN ('NATION_1', 'NATION_2')
        |  AND cn.n_name IN ('NATION_1', 'NATION_2')
        |  AND sn.n_name != cn.n_name
        |  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3""".stripMargin,

    // share = (exact HUGEINT sum) / (exact HUGEINT sum), divided once
    "q8_market_share" ->
      """SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |  round(CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
        |      THEN CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
        |        * (10000 - CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT))
        |      ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
        |      * (10000 - CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT)))
        |      AS DOUBLE), 4) AS mkt_share,
        |  round(CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
        |    * (10000 - CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT)))
        |    AS DOUBLE) / 1e6, 2) AS volume
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation cu ON c.c_nationkey = cu.n_nationkey
        |JOIN region r ON cu.n_regionkey = r.r_regionkey
        |WHERE p.p_type = 'PROMO' AND r.r_name = 'EUROPE'
        |GROUP BY 1""".stripMargin,

    "lang_id" -> langIdSql,

    // declared-vs-predicted disagreement per source — the mislabeled
    // upstream-metadata signal a curation run reads next to the
    // confusion matrix
    "lang_mismatch_by_source" ->
      s"""WITH p AS ($langIdSql)
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN d.lang != p.lang_pred THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_mismatch,
        |  floor(CAST(sum(CASE WHEN d.lang != p.lang_pred THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4 AS mismatch_rate
        |FROM documents d JOIN p USING (doc_id)
        |GROUP BY 1""".stripMargin,

    "lang_id_confusion" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(toks, x -> x = 'the')) + len(list_filter(toks, x -> x = 'a'))
        |       + len(list_filter(toks, x -> x = 'data')) + len(list_filter(toks, x -> x = 'fast'))
        |       + len(list_filter(toks, x -> x = 'small')) AS BIGINT) AS score_en,
        |    CAST(len(list_filter(toks, x -> x = 'window')) + len(list_filter(toks, x -> x = 'batch'))
        |       + len(list_filter(toks, x -> x = 'stream')) + len(list_filter(toks, x -> x = 'slow')) AS BIGINT) AS score_de,
        |    CAST(len(list_filter(toks, x -> x = 'merge')) + len(list_filter(toks, x -> x = 'sort'))
        |       + len(list_filter(toks, x -> x = 'join')) + len(list_filter(toks, x -> x = 'line')) AS BIGINT) AS score_fr,
        |    CAST(len(list_filter(toks, x -> x = 'spark')) + len(list_filter(toks, x -> x = 'query'))
        |       + len(list_filter(toks, x -> x = 'vector')) + len(list_filter(toks, x -> x = 'row')) AS BIGINT) AS score_es
        |  FROM t),
        |pred AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
        |         WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
        |         WHEN score_fr >= score_es THEN 'fr'
        |         ELSE 'es' END AS lang_pred
        |  FROM s),
        |cm AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
        |       FROM pred GROUP BY 1, 2)
        |SELECT lang, lang_pred, n,
        |  round(n / CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE), 4) AS rate
        |FROM cm""".stripMargin,

    "text_quality" -> textQualitySql,

    // literal centered ln-rank weights: the regression is one
    // weighted sum of ln-frequencies, terms quantized before summing
    "vocab_zipf_fit" -> {
      val rows = graft.operators.TextOps.zipfWeights
        .map { case (r, wt) => s"($r, ${java.lang.Double.toString(wt)})" }
        .mkString(", ")
      s"""WITH w(rank, wt) AS (VALUES $rows),
        |c AS (
        |  SELECT source, token, count(*) AS n FROM (
        |    SELECT source, unnest(string_split(
        |      regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))
        |      AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |t AS (
        |  SELECT source, token, n,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n DESC, token ASC) AS rank
        |  FROM c),
        |fit AS (
        |  SELECT t.source, count(*) AS n_ranks,
        |    CAST(sum(CAST(floor(w.wt * ln(CAST(t.n AS DOUBLE)) * 1e6 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS su,
        |    CAST(sum(t.n) AS BIGINT) AS head_mass
        |  FROM t JOIN w USING (rank) WHERE t.rank <= 100 GROUP BY 1),
        |tot AS (
        |  SELECT source, CAST(sum(n) AS BIGINT) AS total_mass,
        |    count(*) AS vocab_size
        |  FROM c GROUP BY 1)
        |SELECT tot.source, tot.vocab_size, tot.total_mass, fit.n_ranks,
        |  floor(CAST(fit.su AS DOUBLE) / 1e6 * 1e4 + 0.5) / 1e4 AS zipf_slope,
        |  floor(CAST(fit.head_mass AS DOUBLE) / tot.total_mass * 1e4 + 0.5)
        |    / 1e4 AS head_share
        |FROM tot LEFT JOIN fit USING (source)""".stripMargin
    },

    // all 20 moments in ONE reduce; each r from exact integer sums
    "quality_signal_corr" -> {
      val sigs = graft.operators.TextOps.QualitySignals
      val sums = (0 until 5).map(i => s"sum(v$i) AS s$i") ++
        (for { i <- 0 until 5; j <- i until 5 }
          yield s"sum(v$i * v$j) AS ss${i}_$j")
      val pairSelects =
        (for { i <- 0 until 5; j <- (i + 1) until 5 } yield {
          val num = s"CAST(n * ss${i}_$j - s$i * s$j AS DOUBLE)"
          val denA = s"sqrt(CAST(n * ss${i}_$i - s$i * s$i AS DOUBLE))"
          val denB = s"sqrt(CAST(n * ss${j}_$j - s$j * s$j AS DOUBLE))"
          s"""SELECT '${sigs(i)}' AS sig_a, '${sigs(j)}' AS sig_b,
            |  CAST(n AS BIGINT) AS n,
            |  CASE WHEN $denA > 0 AND $denB > 0
            |    THEN floor($num / ($denA * $denB) * 1e4 + 0.5) / 1e4
            |  END AS r
            |FROM m""".stripMargin
        }).mkString("\n        |UNION ALL\n        |")
      s"""WITH q AS ($textQualitySql),
        |v AS (
        |  SELECT n_tokens AS v0,
        |    CAST(floor(stop_ratio * 1e4 + 0.5) AS BIGINT) AS v1,
        |    CAST(floor(digit_ratio * 1e4 + 0.5) AS BIGINT) AS v2,
        |    CAST(floor(mean_token_len * 1e4 + 0.5) AS BIGINT) AS v3,
        |    CAST(floor(quality_score * 1e4 + 0.5) AS BIGINT) AS v4
        |  FROM q),
        |m AS (SELECT count(*) AS n, ${sums.mkString(", ")} FROM v)
        |$pairSelects""".stripMargin
    },

    // curriculum order: quality-descending rank + running token
    // budget inside each md5 shard, deterministic doc_id tiebreak
    "corpus_curriculum_order" ->
      s"""WITH q AS ($textQualitySql),
        |s AS (
        |  SELECT doc_id, n_tokens, quality_score,
        |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
        |      AS BIGINT) % 32 AS shard
        |  FROM q)
        |SELECT shard, row_number() OVER w AS position,
        |  doc_id, quality_score, n_tokens,
        |  CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens
        |FROM s WINDOW w AS (PARTITION BY shard
        |  ORDER BY quality_score DESC, doc_id)""".stripMargin,

    // integer cross-multiplied thresholds — no ratio ever computed in
    // floats before a comparison
    "quality_rules" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks,
        |    CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digits
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, n_chars, n_digits,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |    CAST(len(list_filter(toks, x -> x = 'the'))
        |       + len(list_filter(toks, x -> x = 'a')) AS BIGINT) AS n_stop
        |  FROM t),
        |r AS (
        |  SELECT doc_id, n_tokens < 5 AS too_few_tokens,
        |    (n_chars - (n_tokens - 1)) < 3 * n_tokens
        |      OR (n_chars - (n_tokens - 1)) > 10 * n_tokens AS mean_token_len_out,
        |    5 * n_digits > n_chars AS digit_heavy,
        |    n_stop = 0 AS no_stopwords,
        |    10 * n_distinct < 3 * n_tokens AS low_diversity
        |  FROM u),
        |a AS (
        |  SELECT count(*) AS n_docs,
        |    CAST(sum(CASE WHEN too_few_tokens THEN 1 ELSE 0 END) AS BIGINT) AS f_too_few_tokens,
        |    CAST(sum(CASE WHEN mean_token_len_out THEN 1 ELSE 0 END) AS BIGINT) AS f_mean_token_len_out,
        |    CAST(sum(CASE WHEN digit_heavy THEN 1 ELSE 0 END) AS BIGINT) AS f_digit_heavy,
        |    CAST(sum(CASE WHEN no_stopwords THEN 1 ELSE 0 END) AS BIGINT) AS f_no_stopwords,
        |    CAST(sum(CASE WHEN low_diversity THEN 1 ELSE 0 END) AS BIGINT) AS f_low_diversity,
        |    CAST(sum(CASE WHEN too_few_tokens OR mean_token_len_out OR digit_heavy
        |      OR no_stopwords OR low_diversity THEN 1 ELSE 0 END) AS BIGINT) AS f_any_rule
        |  FROM r)
        |SELECT v.rule, v.n_fail, a.n_docs,
        |  floor(CAST(v.n_fail AS DOUBLE) / a.n_docs * 1e4 + 0.5) / 1e4 AS fail_rate
        |FROM a, LATERAL (VALUES
        |  ('too_few_tokens', f_too_few_tokens),
        |  ('mean_token_len_out', f_mean_token_len_out),
        |  ('digit_heavy', f_digit_heavy),
        |  ('no_stopwords', f_no_stopwords),
        |  ('low_diversity', f_low_diversity),
        |  ('any_rule', f_any_rule)) AS v(rule, n_fail)""".stripMargin,

    // ordered first-failure CASE; the n_in ladder is rendered into
    // the VALUES rows — same exact-integer thresholds as quality_rules
    "quality_funnel" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks,
        |    CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digits
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, n_chars, n_digits,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |    CAST(len(list_filter(toks, x -> x = 'the'))
        |       + len(list_filter(toks, x -> x = 'a')) AS BIGINT) AS n_stop
        |  FROM t),
        |r AS (
        |  SELECT CASE
        |    WHEN n_tokens < 5 THEN 1
        |    WHEN (n_chars - (n_tokens - 1)) < 3 * n_tokens
        |      OR (n_chars - (n_tokens - 1)) > 10 * n_tokens THEN 2
        |    WHEN 5 * n_digits > n_chars THEN 3
        |    WHEN n_stop = 0 THEN 4
        |    WHEN 10 * n_distinct < 3 * n_tokens THEN 5
        |    ELSE 0 END AS ff
        |  FROM u),
        |a AS (
        |  SELECT count(*) AS n_docs,
        |    CAST(sum(CASE WHEN ff = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |    CAST(sum(CASE WHEN ff = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
        |    CAST(sum(CASE WHEN ff = 3 THEN 1 ELSE 0 END) AS BIGINT) AS f3,
        |    CAST(sum(CASE WHEN ff = 4 THEN 1 ELSE 0 END) AS BIGINT) AS f4,
        |    CAST(sum(CASE WHEN ff = 5 THEN 1 ELSE 0 END) AS BIGINT) AS f5
        |  FROM r)
        |SELECT v.stage, v.rule, v.n_in, v.n_dropped,
        |  v.n_in - v.n_dropped AS n_out,
        |  CASE WHEN v.n_in > 0
        |    THEN floor(CAST(v.n_dropped AS DOUBLE) / v.n_in * 1e4 + 0.5) / 1e4
        |  END AS drop_rate
        |FROM a, LATERAL (VALUES
        |  (1, 'too_few_tokens', n_docs, f1),
        |  (2, 'mean_token_len_out', n_docs - f1, f2),
        |  (3, 'digit_heavy', n_docs - f1 - f2, f3),
        |  (4, 'no_stopwords', n_docs - f1 - f2 - f3, f4),
        |  (5, 'low_diversity', n_docs - f1 - f2 - f3 - f4, f5))
        |  AS v(stage, rule, n_in, n_dropped)""".stripMargin,

    "token_count" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars, text,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_regex_tokens,
        |  CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_bpe_tokens
        |FROM t""".stripMargin,

    "doc_fingerprint" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |  FROM documents)
        |SELECT doc_id,
        |  md5(norm) AS content_fp,
        |  md5(array_to_string(list_sort(list_distinct(string_split(norm, ' '))), ' ')) AS bow_fp
        |FROM t""".stripMargin,

    "corpus_sample" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, x -> x = 'the')) + len(list_filter(toks, x -> x = 'a'))
        |       + len(list_filter(toks, x -> x = 'data')) + len(list_filter(toks, x -> x = 'fast'))
        |       + len(list_filter(toks, x -> x = 'small')) AS score_en,
        |    len(list_filter(toks, x -> x = 'window')) + len(list_filter(toks, x -> x = 'batch'))
        |       + len(list_filter(toks, x -> x = 'stream')) + len(list_filter(toks, x -> x = 'slow')) AS score_de,
        |    len(list_filter(toks, x -> x = 'merge')) + len(list_filter(toks, x -> x = 'sort'))
        |       + len(list_filter(toks, x -> x = 'join')) + len(list_filter(toks, x -> x = 'line')) AS score_fr,
        |    len(list_filter(toks, x -> x = 'spark')) + len(list_filter(toks, x -> x = 'query'))
        |       + len(list_filter(toks, x -> x = 'vector')) + len(list_filter(toks, x -> x = 'row')) AS score_es
        |  FROM t
        |), lang AS (
        |  SELECT doc_id,
        |    CASE WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
        |         WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
        |         WHEN score_fr >= score_es THEN 'fr'
        |         ELSE 'es' END AS lang_pred
        |  FROM s)
        |SELECT doc_id, lang_pred, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS sel
        |FROM lang
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <=
        |  CASE lang_pred WHEN 'en' THEN '19' WHEN 'de' THEN '4c'
        |                 WHEN 'fr' THEN '7f' ELSE 'ff' END""".stripMargin,
    "text_repetition" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents
        |), tokc AS (
        |  SELECT doc_id, tok, count(*) AS c
        |  FROM (SELECT doc_id, unnest(toks) AS tok FROM base) GROUP BY 1, 2
        |), toka AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    floor((ln(sum(c)) - sum(c * ln(c)) / sum(c)) * 1e4 + 0.5) / 1e4 AS token_entropy
        |  FROM tokc GROUP BY 1
        |), bic AS (
        |  SELECT doc_id, bg, count(*) AS c
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(1, len(toks)),
        |                                i -> toks[i] || ' ' || toks[i+1])) AS bg
        |        FROM base) GROUP BY 1, 2
        |), bia AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |    floor((1.0 - count(*) / CAST(sum(c) AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS dup_bigram_ratio,
        |    floor((max(c) / CAST(sum(c) AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS top_bigram_ratio
        |  FROM bic GROUP BY 1)
        |SELECT t.doc_id, t.n_tokens, t.token_entropy,
        |       b.n_bigrams, b.dup_bigram_ratio, b.top_bigram_ratio
        |FROM toka t LEFT JOIN bia b USING (doc_id)""".stripMargin,
    "corpus_clean" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, norm, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    len(list_filter(toks, x -> x = 'the')) + len(list_filter(toks, x -> x = 'a'))
        |       + len(list_filter(toks, x -> x = 'data')) + len(list_filter(toks, x -> x = 'fast'))
        |       + len(list_filter(toks, x -> x = 'small')) AS score_en,
        |    len(list_filter(toks, x -> x = 'window')) + len(list_filter(toks, x -> x = 'batch'))
        |       + len(list_filter(toks, x -> x = 'stream')) + len(list_filter(toks, x -> x = 'slow')) AS score_de,
        |    len(list_filter(toks, x -> x = 'merge')) + len(list_filter(toks, x -> x = 'sort'))
        |       + len(list_filter(toks, x -> x = 'join')) + len(list_filter(toks, x -> x = 'line')) AS score_fr,
        |    len(list_filter(toks, x -> x = 'spark')) + len(list_filter(toks, x -> x = 'query'))
        |       + len(list_filter(toks, x -> x = 'vector')) + len(list_filter(toks, x -> x = 'row')) AS score_es,
        |    floor(least(1.0, len(toks) / 100.0)
        |      * (1.0 - (len(list_filter(toks, x -> x = 'the')) + len(list_filter(toks, x -> x = 'a')))
        |               / CAST(len(toks) AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS quality_score
        |  FROM t
        |), lang AS (
        |  SELECT doc_id, n_tokens, quality_score,
        |    CASE WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
        |         WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
        |         WHEN score_fr >= score_es THEN 'fr'
        |         ELSE 'es' END AS lang_pred,
        |    min(doc_id) OVER (PARTITION BY md5(norm)) AS keeper
        |  FROM s)
        |SELECT doc_id, lang_pred, n_tokens, quality_score
        |FROM lang
        |WHERE doc_id = keeper AND quality_score >= 0.25
        |  AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <=
        |    CASE lang_pred WHEN 'en' THEN '60' WHEN 'de' THEN 'a0'
        |                   WHEN 'fr' THEN 'd0' ELSE 'ff' END""".stripMargin,
    // the payload is the UTF-8 text bytes and the corpus is ASCII, so
    // byte-space frame slicing in Spark == char-space substr here
    "multimodal_frames" ->
      """WITH m AS (
        |  SELECT doc_id, text,
        |         CAST(ceil(length(text) / 64.0) AS INT) AS n_frames
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, text, unnest(range(0, n_frames, 4)) AS fi FROM m)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |  CAST(length(substr(text, CAST(fi AS INT) * 64 + 1, 64)) AS INT) AS frame_bytes,
        |  md5(substr(text, CAST(fi AS INT) * 64 + 1, 64)) AS frame_fp
        |FROM f""".stripMargin,
    // UDF-free binary profile: byte counts exact longs, the 2-byte
    // magic sniff is a hex of identical bytes in both engines
    // full content-keyed registry (dedup reads n_assets > 1, the
    // mislabel census reads n_formats > 1); exact longs, sorted census
    "multimodal_dedup" ->
      """WITH m AS (
        |  SELECT doc_id, md5(text) AS payload_hash,
        |    CAST(strlen(text) AS BIGINT) AS n_bytes,
        |    CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |      ELSE 'wav' END AS format
        |  FROM documents)
        |SELECT payload_hash,
        |  CAST(count(*) AS BIGINT) AS n_assets,
        |  CAST(count(DISTINCT format) AS BIGINT) AS n_formats,
        |  array_to_string(list_sort(list(DISTINCT format)), ',') AS formats,
        |  min(doc_id) AS keeper_doc,
        |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes
        |FROM m GROUP BY payload_hash""".stripMargin,

    // real container-header round trip: DuckDB rebuilds the identical
    // PNG/JPEG/WAV header hex (same BE/LE byte renderings) and replays
    // the structural parse, marker scan included
    "multimodal_container_meta" -> {
      // little-endian n-byte hex of SQL expression e (byte-reversed BE)
      def leSql(e: String, n: Int): String = {
        val p = s"lpad(hex($e), ${n * 2}, '0')"
        (n - 1 to 0 by -1).map(i => s"substr($p, ${i * 2 + 1}, 2)")
          .mkString(" || ")
      }
      def le16At(b: Int): String = // 1-based byte offset in hx
        s"('0x' || substr(hx, ${b * 2 - 1}, 2))::BIGINT" +
          s" + 256 * ('0x' || substr(hx, ${b * 2 + 1}, 2))::BIGINT"
      def le32At(b: Int): String =
        (0 until 4).map(i =>
          s"('0x' || substr(hx, ${(b + i) * 2 - 1}, 2))::BIGINT * ${1L << (8 * i)}")
          .mkString(" + ")
      s"""WITH d AS (
        |  SELECT doc_id, hex(encode(text)) AS bodyhex,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS blen,
        |    (doc_id % 8) * 64 + 64 AS w, (doc_id % 5) * 64 + 64 AS h,
        |    doc_id % 2 + 1 AS ch, (doc_id % 5 + 1) * 8000 AS rate,
        |    (doc_id % 2 + 1) * 8 AS bits,
        |    ['png', 'jpeg', 'wav'][CAST(doc_id % 3 + 1 AS INT)] AS declared,
        |    ['png', 'jpeg', 'wav'][CAST((CASE WHEN doc_id % 17 = 0
        |      THEN doc_id + 1 ELSE doc_id END) % 3 + 1 AS INT)] AS actual
        |  FROM documents),
        |built AS (
        |  SELECT doc_id, declared,
        |    CASE actual
        |      WHEN 'png' THEN '89504E470D0A1A0A' || '0000000D' || '49484452'
        |        || lpad(hex(w), 8, '0') || lpad(hex(h), 8, '0')
        |        || '08' || '06' || '000000' || '00000000' || bodyhex
        |      WHEN 'jpeg' THEN 'FFD8' || 'FFE0' || '0010' || '4A46494600'
        |        || '0101' || '00' || '00010001' || '0000'
        |        || 'FFC0' || '0011' || '08'
        |        || lpad(hex(h), 4, '0') || lpad(hex(w), 4, '0')
        |        || '03' || '011100' || '021101' || '031101' || bodyhex
        |      ELSE '52494646' || ${leSql("blen + 36", 4)} || '57415645'
        |        || '666D7420' || '10000000' || '0100'
        |        || ${leSql("ch", 2)} || ${leSql("rate", 4)}
        |        || ${leSql("rate * ch * bits // 8", 4)}
        |        || ${leSql("ch * bits // 8", 2)} || ${leSql("bits", 2)}
        |        || '64617461' || ${leSql("blen", 4)} || bodyhex
        |    END AS hx
        |  FROM d),
        |dec AS (
        |  SELECT doc_id, declared, hx,
        |    CASE WHEN substr(hx, 1, 16) = '89504E470D0A1A0A' THEN 'png'
        |         WHEN substr(hx, 1, 4) = 'FFD8' THEN 'jpeg'
        |         WHEN substr(hx, 1, 8) = '52494646'
        |           AND substr(hx, 17, 8) = '57415645' THEN 'wav' END AS detected,
        |    list_min(list_filter(range(0, 62), p ->
        |      substr(hx, 2 * p + 1, 2) = 'FF' AND
        |      list_contains(['C0', 'C1', 'C2'], substr(hx, 2 * p + 3, 2))))
        |      AS sof
        |  FROM built)
        |SELECT doc_id, declared, detected,
        |  coalesce(detected != declared, TRUE) AS mislabeled,
        |  CASE WHEN detected = 'png' THEN ('0x' || substr(hx, 33, 8))::BIGINT
        |       WHEN detected = 'jpeg'
        |         THEN ('0x' || substr(hx, 2 * sof + 15, 4))::BIGINT END AS width,
        |  CASE WHEN detected = 'png' THEN ('0x' || substr(hx, 41, 8))::BIGINT
        |       WHEN detected = 'jpeg'
        |         THEN ('0x' || substr(hx, 2 * sof + 11, 4))::BIGINT END AS height,
        |  CASE WHEN detected = 'png'
        |    THEN ('0x' || substr(hx, 49, 2))::BIGINT END AS bit_depth,
        |  CASE WHEN detected = 'png'
        |    THEN ('0x' || substr(hx, 51, 2))::BIGINT END AS color_type,
        |  CASE WHEN detected = 'wav' THEN ${le16At(23)} END AS channels,
        |  CASE WHEN detected = 'wav' THEN ${le32At(25)} END AS sample_rate,
        |  CASE WHEN detected = 'wav' THEN ${le16At(35)} END AS bits_per_sample,
        |  CASE WHEN detected = 'wav' THEN ${le32At(41)} END AS n_body_bytes
        |FROM dec""".stripMargin
    },

    "multimodal_stats" ->
      """WITH m AS (
        |  SELECT CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |           ELSE 'wav' END AS format,
        |    CAST(strlen(text) AS BIGINT) AS n_bytes,
        |    hex(substring(text, 1, 2)) AS magic
        |  FROM documents)
        |SELECT format,
        |  CAST(count(*) AS BIGINT) AS n_assets,
        |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |  CAST(min(n_bytes) AS BIGINT) AS min_bytes,
        |  CAST(max(n_bytes) AS BIGINT) AS max_bytes,
        |  CAST(count(DISTINCT magic) AS BIGINT) AS n_magics,
        |  CAST(floor(CAST(sum(n_bytes) AS DOUBLE) / count(*) + 0.5)
        |    AS BIGINT) AS mean_bytes
        |FROM m GROUP BY 1""".stripMargin,

    "doc_keywords" ->
      """WITH base AS (
        |  SELECT doc_id, unnest(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM base GROUP BY 1, 2
        |), wdf AS (
        |  SELECT doc_id, term, tf, count(*) OVER (PARTITION BY term) AS df FROM tf
        |), n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT wdf.doc_id, wdf.term,
        |    floor(wdf.tf * (floor(ln(CAST(n.n_docs AS DOUBLE) / wdf.df) * 1e6 + 0.5) / 1e6)
        |          * 1e4 + 0.5) / 1e4 AS score
        |  FROM wdf CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, score,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY score DESC, term ASC) AS rk
        |  FROM scored)
        |SELECT doc_id, CAST(rk AS INT) AS rk, term, score
        |FROM ranked WHERE rk <= 3""".stripMargin,
    "corpus_stats" ->
      """SELECT coalesce(lang, 'ALL') AS lang,
        |       coalesce(source, 'ALL') AS source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(
        |        regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))) AS BIGINT)
        |    AS n_tokens,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM documents
        |GROUP BY CUBE(lang, source)""".stripMargin,
    "corpus_mix" ->
      s"""$mixFitSql,
        |kept AS (
        |  SELECT hist.source, CAST(sum(hist.n_docs) AS BIGINT) AS kept_docs,
        |         CAST(sum(hist.n_tok) AS BIGINT) AS kept_tokens
        |  FROM hist JOIN r3 USING (source)
        |  WHERE hist.bucket < r3.cut
        |  GROUP BY 1)
        |SELECT source, n_docs, avail_tokens, target_tokens, rate,
        |  coalesce(kept_docs, 0) AS kept_docs,
        |  coalesce(kept_tokens, 0) AS kept_tokens
        |FROM r3 LEFT JOIN kept USING (source)""".stripMargin,

    // availability-derived weights: each sqrt(avail) quantized to
    // 1e-6 units before the cross-source sum, then the identical
    // bucket-admission machinery as corpus_mix
    "corpus_mix_temperature" ->
      s"""WITH base AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(
        |      regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_tok,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT AS bucket
        |  FROM documents),
        |hist AS (
        |  SELECT source, bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(n_tok) AS BIGINT) AS n_tok
        |  FROM base GROUP BY 1, 2),
        |avail AS (
        |  SELECT source, CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |         CAST(sum(n_tok) AS BIGINT) AS avail_tokens
        |  FROM hist GROUP BY 1),
        |su AS (
        |  SELECT *, CAST(floor(sqrt(CAST(avail_tokens AS DOUBLE)) * 1e6 + 0.5)
        |    AS BIGINT) AS su
        |  FROM avail),
        |tot AS (SELECT CAST(sum(su) AS BIGINT) AS sum_su,
        |               CAST(sum(avail_tokens) AS BIGINT) AS total_tokens
        |        FROM su),
        |rates AS (
        |  SELECT su.source, su.n_docs, su.avail_tokens,
        |    CAST(su.su AS DOUBLE) / sum_su AS weight,
        |    CAST(floor(CAST(total_tokens AS DOUBLE) * ${TextOps.mixBudgetShare}
        |         * (CAST(su.su AS DOUBLE) / sum_su)) AS BIGINT) AS target_tokens
        |  FROM su CROSS JOIN tot),
        |r2 AS (
        |  SELECT *, least(1.0, CAST(target_tokens AS DOUBLE) / avail_tokens) AS rate
        |  FROM rates),
        |r3 AS (SELECT *, CAST(floor(rate * 65536.0) AS BIGINT) AS cut FROM r2),
        |kept AS (
        |  SELECT hist.source, CAST(sum(hist.n_docs) AS BIGINT) AS kept_docs,
        |         CAST(sum(hist.n_tok) AS BIGINT) AS kept_tokens
        |  FROM hist JOIN r3 USING (source)
        |  WHERE hist.bucket < r3.cut
        |  GROUP BY 1)
        |SELECT source, n_docs, avail_tokens, weight, target_tokens, rate,
        |  coalesce(kept_docs, 0) AS kept_docs,
        |  coalesce(kept_tokens, 0) AS kept_tokens
        |FROM r3 LEFT JOIN kept USING (source)""".stripMargin,

    "corpus_mix_docs" ->
      s"""$mixFitSql
        |SELECT doc_id, base.source, n_tok
        |FROM base JOIN r3 USING (source)
        |WHERE base.bucket < r3.cut""".stripMargin,

    "doc_lm_score" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(toks) AS cur, generate_subscripts(toks, 1) AS pos
        |  FROM base WHERE len(toks) >= 2),
        |big AS (
        |  SELECT doc_id, lag(cur) OVER (PARTITION BY doc_id ORDER BY pos) AS prev, cur
        |  FROM tok),
        |bi AS (
        |  SELECT doc_id, prev, cur, count(*) AS n_occ
        |  FROM big WHERE prev IS NOT NULL GROUP BY 1, 2, 3),
        |model AS (
        |  SELECT prev, cur, sum(n_occ) AS c_bi,
        |    sum(sum(n_occ)) OVER (PARTITION BY prev) AS c_prev
        |  FROM bi GROUP BY 1, 2),
        |voc AS (SELECT count(DISTINCT cur) AS v FROM bi),
        |scored AS (
        |  SELECT prev, cur,
        |    floor(ln((c_bi + 1) / CAST(c_prev + v AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS logp
        |  FROM model CROSS JOIN voc)
        |SELECT bi.doc_id, CAST(sum(bi.n_occ) AS BIGINT) AS n_bigrams,
        |  floor(sum(s.logp * bi.n_occ) / sum(bi.n_occ) * 1e4 + 0.5) / 1e4 AS mean_logp
        |FROM bi JOIN scored s ON bi.prev = s.prev AND bi.cur = s.cur
        |GROUP BY 1""".stripMargin,

    "bigram_pmi" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(toks) AS cur, generate_subscripts(toks, 1) AS pos
        |  FROM base WHERE len(toks) >= 2),
        |big AS (
        |  SELECT lag(cur) OVER (PARTITION BY doc_id ORDER BY pos) AS a, cur AS b
        |  FROM tok),
        |bi AS (SELECT a, b, count(*) AS n_ab FROM big WHERE a IS NOT NULL GROUP BY 1, 2),
        |uni AS (SELECT cur AS tok, count(*) AS n_tok FROM tok GROUP BY 1),
        |total AS (SELECT count(*) AS n_total FROM tok)
        |SELECT bi.a, bi.b, CAST(bi.n_ab AS BIGINT) AS n_ab,
        |  floor(ln(CAST(bi.n_ab AS DOUBLE) * n_total
        |    / (CAST(ua.n_tok AS DOUBLE) * ub.n_tok)) * 1e6 + 0.5) / 1e6 AS pmi
        |FROM bi
        |JOIN uni ua ON bi.a = ua.tok
        |JOIN uni ub ON bi.b = ub.tok
        |CROSS JOIN total
        |WHERE bi.n_ab >= 5
        |ORDER BY pmi DESC, a ASC, b ASC LIMIT 50""".stripMargin,

    "corpus_split" ->
      """WITH a AS (
        |  SELECT source, n_chars,
        |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
        |         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars
        |FROM a GROUP BY 1, 2""".stripMargin,

    // per-term 1e-6 quantization BEFORE the cross-source entropy sum
    // keeps the float fold order out of the hash
    "corpus_shard_manifest" ->
      """WITH s AS (
        |  SELECT CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
        |      AS BIGINT) % 32 AS shard,
        |    source, n_chars
        |  FROM documents),
        |g AS (
        |  SELECT shard, source, count(*) AS nd,
        |    CAST(sum(n_chars) AS BIGINT) AS nc
        |  FROM s GROUP BY 1, 2)
        |SELECT shard, CAST(sum(nd) AS BIGINT) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS n_chars,
        |  count(*) AS n_sources,
        |  floor((ln(CAST(sum(nd) AS DOUBLE))
        |    - CAST(sum(CAST(floor(CAST(nd AS DOUBLE) * ln(CAST(nd AS DOUBLE))
        |        * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 / sum(nd))
        |    * 1e4 + 0.5) / 1e4 AS src_entropy
        |FROM g GROUP BY 1""".stripMargin,

    "corpus_split_leakage_safe" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |          for i in range(1, len(toks) - 1)])) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 3
        |), cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |p0 AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM p0
        |  JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |clus AS (
        |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        |  FROM reach GROUP BY src),
        |a AS (
        |  SELECT d.source, d.n_chars,
        |    CASE WHEN substring(md5(CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
        |         WHEN substring(md5(CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents d LEFT JOIN clus c ON d.doc_id = c.doc_id)
        |SELECT split, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars
        |FROM a GROUP BY 1, 2""".stripMargin,

    // band membership on exact integers (mean >= L  <=>  cents >= L*100*n);
    // the CASE chains are generated from the same contourLevels Seq the
    // Spark plan folds over
    "grid_contour_bands" -> {
      val lvls = graft.operators.Climate.contourLevels
      val minCase = lvls.reverse.map(l =>
        s"WHEN sum_c >= $l * 100 * n_obs THEN $l").mkString("\n         ")
      val maxCase = lvls.map(l =>
        s"WHEN sum_c < $l * 100 * n_obs THEN $l").mkString("\n         ")
      s"""WITH cell AS (
        |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, user_id,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_c,
        |    count(*) AS n_obs
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT day, sum_c, n_obs,
        |    CASE $minCase END AS lvl_min,
        |    CASE $maxCase END AS lvl_max,
        |    (user_id % 36) * 5.0 - 87.5 AS lat,
        |    (user_id % 72) * 5.0 - 177.5 AS lon
        |  FROM cell)
        |SELECT day, lvl_min, lvl_max, count(*) AS n_cells,
        |  min(lon) AS min_lon, max(lon) AS max_lon,
        |  min(lat) AS min_lat, max(lat) AS max_lat,
        |  floor(CAST(sum(sum_c) AS DOUBLE) / (100.0 * sum(n_obs)) * 1e4 + 0.5)
        |    / 1e4 AS v_mean
        |FROM b GROUP BY 1, 2, 3""".stripMargin
    },

    // raster polygonize: gaps-and-islands runs, interval-overlap
    // adjacency, recursive-CTE min-label components (the
    // dedup_semantic reachability pattern on the run graph), and the
    // GeoJSON string assembled from the same integers in the same
    // (row, x0) order — byte-identical across engines
    "grid_polygonize" ->
      s"""WITH RECURSIVE c AS (
        |  SELECT user_id % 8 AS gy, (user_id // 8) % 8 AS gx,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 10000
        |      AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v_us
        |  FROM events GROUP BY 1, 2),
        |bd AS (
        |  SELECT gy, gx, CAST(floor(v_us / ${graft.operators.Polygonize.BandMicroUnits}) AS BIGINT) AS band
        |  FROM c),
        |runs AS (
        |  SELECT gy, band, CAST(min(gx) AS BIGINT) AS x0,
        |    CAST(max(gx) AS BIGINT) AS x1, CAST(count(*) AS BIGINT) AS len,
        |    CAST(gy * 8 + min(gx) AS BIGINT) AS run_id
        |  FROM (SELECT *, gx - row_number()
        |          OVER (PARTITION BY gy, band ORDER BY gx) AS grp FROM bd)
        |  GROUP BY gy, band, grp),
        |edges AS (
        |  SELECT a.run_id AS src, bb.run_id AS dst
        |  FROM runs a JOIN runs bb ON a.band = bb.band AND bb.gy = a.gy + 1
        |    AND a.x0 <= bb.x1 AND bb.x0 <= a.x1),
        |sym AS (SELECT src, dst FROM edges
        |        UNION ALL SELECT dst, src FROM edges),
        |reach AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN sym e ON r.dst = e.src),
        |lbl AS (SELECT src AS run_id, least(src, min(dst)) AS region
        |        FROM reach GROUP BY src),
        |lr AS (SELECT runs.*, coalesce(lbl.region, runs.run_id) AS region
        |       FROM runs LEFT JOIN lbl USING (run_id)),
        |rect AS (
        |  SELECT *, '[[[' || x0 || ',' || gy || '],[' || (x1 + 1) || ',' || gy
        |    || '],[' || (x1 + 1) || ',' || (gy + 1) || '],[' || x0 || ','
        |    || (gy + 1) || '],[' || x0 || ',' || gy || ']]]' AS s
        |  FROM lr)
        |SELECT region AS region_id, band,
        |  CAST(count(*) AS BIGINT) AS n_runs, CAST(sum(len) AS BIGINT) AS n_cells,
        |  min(x0) AS min_gx, max(x1) AS max_gx,
        |  CAST(min(gy) AS BIGINT) AS min_gy, CAST(max(gy) AS BIGINT) AS max_gy,
        |  '{"type":"Feature","properties":{"band":' || band || ',"cells":'
        |    || CAST(sum(len) AS BIGINT)
        |    || '},"geometry":{"type":"MultiPolygon","coordinates":['
        |    || string_agg(s, ',' ORDER BY gy, x0) || ']}}' AS geojson
        |FROM rect GROUP BY region, band""".stripMargin,

    // the frame index replays as pure closed forms: two-run stts dts
    // via least/greatest, period-4 size cycle prefix-summed in a
    // CASE, every-8th sync, single-chunk offsets
    "video_frame_index" ->
      s"""WITH $frameIndexCtes
        |SELECT name, sample, dts, size, sync, "offset" FROM fidx"""
        .stripMargin,

    // keyframe sampling: the seek rule (last sync sample with
    // dts ≤ tick) replayed as a ranked join over the same index
    "video_keyframe_sample" ->
      s"""WITH $frameIndexCtes,
        |k AS (SELECT name, sample, dts FROM fidx WHERE sync),
        |h AS (SELECT name, max(dts) AS horizon FROM fidx GROUP BY 1),
        |t AS (SELECT name, unnest(generate_series(0, horizon, 5000)) AS tick
        |      FROM h),
        |j AS (
        |  SELECT t.name, t.tick, k.sample, k.dts,
        |    row_number() OVER (PARTITION BY t.name, t.tick
        |      ORDER BY k.dts DESC) AS rk
        |  FROM t JOIN k ON k.name = t.name AND k.dts <= t.tick)
        |SELECT name, CAST(tick AS BIGINT) AS tick,
        |  sample AS keyframe_sample, dts AS keyframe_dts,
        |  CAST(tick - dts AS BIGINT) AS lag
        |FROM j WHERE rk = 1""".stripMargin,

    // the stsd/avcC codec census replays as closed forms: coded dims
    // macroblock-align up from the display dims, avc1/hvc1 alternate
    // by parity, profile cycles the three public AVC profiles, level
    // derives from the clip seed
    "video_codec_meta" ->
      s"""WITH s AS (
        |  SELECT user_id % 6 AS g,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 10000
        |      AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS seed
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT g, abs(seed) AS a,
        |    320 + (g % 3) * 320 AS w,
        |    CASE WHEN g % 3 = 0 THEN 192 ELSE 180 + (g % 3) * 180 END AS h
        |  FROM s)
        |SELECT 'movie_' || g || '.mp4' AS name,
        |  CASE WHEN g % 2 = 0 THEN 'avc1'
        |    WHEN g = 3 THEN 'av01' ELSE 'hvc1' END AS format,
        |  CAST(w AS DOUBLE) AS display_w, CAST(h AS DOUBLE) AS display_h,
        |  CAST(w AS BIGINT) AS coded_w,
        |  CAST((h + 15) // 16 * 16 AS BIGINT) AS coded_h,
        |  CASE WHEN g % 2 = 0 THEN CAST(CASE (g // 2) % 3
        |    WHEN 0 THEN 66 WHEN 1 THEN 77 ELSE 100 END AS BIGINT)
        |    WHEN g <> 3 THEN CAST(1 AS BIGINT) END
        |    AS profile,
        |  CASE WHEN g % 2 = 0 THEN CAST(192 AS BIGINT) END AS compat,
        |  CASE WHEN g % 2 = 0 OR g <> 3
        |    THEN CAST(30 + a % 21 AS BIGINT) END AS level,
        |  (h + 15) // 16 * 16 <> h AS dim_mismatch,
        |  CASE WHEN g <> 3 THEN CAST(w AS BIGINT) END AS sps_w,
        |  CASE WHEN g <> 3 THEN CAST(h AS BIGINT) END AS sps_h,
        |  CASE WHEN g % 2 = 0 THEN
        |    CAST(CASE WHEN (g // 2) % 3 <> 0 THEN 1 ELSE 0 END AS BIGINT)
        |    WHEN g <> 3 THEN CAST(1 AS BIGINT)
        |    END AS cabac,
        |  CASE WHEN g <> 3 THEN CAST(1 AS BIGINT) END
        |    AS sps_matches_display,
        |  CASE WHEN g % 2 = 1 AND g <> 3
        |    THEN CAST((g // 2) % 2 AS BIGINT) END AS tier,
        |  CASE WHEN g % 2 = 1 AND g <> 3
        |    THEN CAST((30 + a % 21) % 2 AS BIGINT) END AS wpp,
        |  CASE WHEN g % 2 = 1 AND g <> 3
        |    THEN CAST(CASE WHEN (30 + a % 21) % 6 = 0 THEN 1 ELSE 0 END
        |      AS BIGINT) END AS tiles
        |FROM p""".stripMargin,

    // the MP3 frame index replays as closed forms: ISO 11172-3
    // frame length 144·bitrate/rate + padding (integer division),
    // period-3 padding prefix-summed as (f+2)//3, ID3v2 tag skip as
    // a constant offset, 1152 samples per frame
    "audio_mp3_index" ->
      s"""WITH s AS (
        |  SELECT user_id % 8 AS g,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 10000
        |      AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS seed
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT g, abs(seed) AS a,
        |    CASE g % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |      ELSE 32000 END AS rate,
        |    12 + (g % 4) * 4 AS nf,
        |    g % 2 = 0 AS vbr,
        |    CASE WHEN g % 2 = 0 THEN 0
        |      ELSE 10 + 64 + abs(seed) % 100 END AS tagtot
        |  FROM s),
        |fr AS (SELECT p.*, unnest(generate_series(0, nf - 1)) AS f FROM p),
        |x AS (SELECT *,
        |    CASE (CASE WHEN vbr THEN (a + f) % 6 ELSE a % 6 END)
        |      WHEN 0 THEN 128 WHEN 1 THEN 160 WHEN 2 THEN 192
        |      WHEN 3 THEN 224 WHEN 4 THEN 256 ELSE 320 END AS bitrate
        |  FROM fr),
        |y AS (SELECT *,
        |    (144 * bitrate * 1000) // rate
        |      + CASE WHEN f % 3 = 0 THEN 1 ELSE 0 END AS fb,
        |    CASE WHEN vbr THEN (144 * 128000) // rate ELSE 0 END AS xlen
        |  FROM x),
        |z AS (SELECT *, tagtot + xlen
        |    + coalesce(sum(fb) OVER (PARTITION BY g ORDER BY f
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM y)
        |SELECT 'track_' || g || '.mp3' AS name, CAST(f AS BIGINT) AS frame,
        |  CAST(off AS BIGINT) AS "offset",
        |  CAST(bitrate AS BIGINT) AS bitrate_kbps,
        |  CAST(rate AS BIGINT) AS sample_rate,
        |  f % 3 = 0 AS padded,
        |  CAST(fb AS BIGINT) AS frame_bytes,
        |  CAST(f * 1152 AS BIGINT) AS cum_samples,
        |  CAST((f * 13) % 512 AS BIGINT) AS main_data_begin,
        |  vbr,
        |  CASE WHEN vbr THEN CAST(nf AS BIGINT) ELSE NULL END AS decl_frames,
        |  CAST((nf * 1152 * 1000) // rate AS BIGINT) AS duration_ms
        |FROM z""".stripMargin,

    // the ADTS index: 13-bit frame_length includes the 7/9-byte
    // header, offsets prefix-sum the data-derived frame sizes, 1024
    // samples per raw data block
    "audio_adts_index" ->
      s"""WITH s AS (
        |  SELECT user_id % 8 AS g,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 10000
        |      AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS seed
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT g, abs(seed) AS a,
        |    CASE g % 4 WHEN 0 THEN 48000 WHEN 1 THEN 44100
        |      WHEN 2 THEN 32000 ELSE 24000 END AS rate,
        |    1 + g % 3 AS profile, 1 + g % 2 AS channels,
        |    g % 2 = 1 AS has_crc,
        |    CASE WHEN g % 2 = 1 THEN 9 ELSE 7 END AS hdr,
        |    10 + (g % 5) * 3 AS nf
        |  FROM s),
        |fr AS (SELECT p.*, unnest(generate_series(0, nf - 1)) AS f FROM p),
        |x AS (SELECT *, hdr + 200 + (a + f * 37) % 150 AS fb FROM fr),
        |y AS (SELECT *, coalesce(sum(fb) OVER (PARTITION BY g ORDER BY f
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM x)
        |SELECT 'clip_' || g || '.aac' AS name, CAST(f AS BIGINT) AS frame,
        |  CAST(off AS BIGINT) AS "offset", CAST(profile AS BIGINT) AS profile,
        |  CAST(rate AS BIGINT) AS sample_rate,
        |  CAST(channels AS BIGINT) AS channels,
        |  CAST(fb AS BIGINT) AS frame_bytes, has_crc,
        |  CAST(f * 1024 AS BIGINT) AS cum_samples
        |FROM y""".stripMargin,

    // the Ogg/Opus page index: RFC 3533 page lengths (27 + table +
    // lacing sum) prefix-summed per stream, the OpusHead fields
    // joined onto every row, 960-sample granule cadence
    "audio_ogg_index" ->
      s"""WITH s AS (
        |  SELECT user_id % 8 AS g,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 10000
        |      AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS seed
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT g, abs(seed) AS a, 1 + g % 2 AS channels,
        |    312 + abs(seed) % 100 AS pre_skip,
        |    8 + (g % 4) * 2 AS na, 1000 + g AS serial
        |  FROM s),
        |au AS (SELECT p.*, unnest(generate_series(0, na - 1)) AS ap FROM p),
        |ax AS (SELECT *, 100 + (a + ap * 13) % 80 AS payload FROM au),
        |ay AS (SELECT *, coalesce(sum(28 + payload) OVER (PARTITION BY g
        |    ORDER BY ap ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) AS prev FROM ax),
        |pages AS (
        |  SELECT g, 0 AS page, 0 AS off, true AS bos, false AS eos,
        |    0 AS granule, serial, 0 AS seq, 19 AS payload, 47 AS pb,
        |    channels, pre_skip FROM p
        |  UNION ALL
        |  SELECT g, 1, 47, false, false, 0, serial, 1, 16, 44,
        |    channels, pre_skip FROM p
        |  UNION ALL
        |  SELECT g, ap + 2, 91 + prev, false, ap = na - 1,
        |    (ap + 1) * 960, serial, ap + 2, payload, 28 + payload,
        |    channels, pre_skip FROM ay)
        |SELECT 'voice_' || g || '.opus' AS name,
        |  CAST(page AS BIGINT) AS page, CAST(off AS BIGINT) AS "offset",
        |  bos, eos, CAST(granule AS BIGINT) AS granule,
        |  CAST(serial AS BIGINT) AS serial, CAST(seq AS BIGINT) AS seq,
        |  CAST(1 AS BIGINT) AS n_segs, CAST(pb AS BIGINT) AS page_bytes,
        |  CAST(payload AS BIGINT) AS payload_bytes,
        |  CAST(channels AS BIGINT) AS channels,
        |  CAST(pre_skip AS BIGINT) AS pre_skip
        |FROM pages""".stripMargin,

    // the FLAC census: STREAMINFO fields and the MD5 fingerprint
    // replayed byte-for-byte (hex via a generated series)
    // the FLAC sample-decode lane: the oracle regenerates the PCM
    // from the closed-form Weyl/constant generator and replays the
    // block-type schedule (64-sample blocks: b%8==7 CONSTANT, b%4==1
    // LPC, b%8==3 FIXED, rest VERBATIM — per channel)
    "audio_flac_decode" ->
      s"""WITH s AS (
        |  SELECT user_id % 8 AS g,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 10000
        |      AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS seed
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT g, abs(seed) AS a,
        |    CASE g % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |      WHEN 2 THEN 96000 ELSE 22050 END AS rate,
        |    1 + g % 2 AS ch, 600 + (g % 4) * 100 AS n
        |  FROM s),
        |fr AS (SELECT p.*, unnest(generate_series(0, ch - 1)) AS c FROM p),
        |sk AS (SELECT fr.*, unnest(generate_series(0, n - 1)) AS k FROM fr),
        |v AS (
        |  SELECT g, rate, ch, n,
        |    CASE WHEN (k // 64) % 8 = 7 THEN (a + c * 7) % 1000 - 500
        |      ELSE (a + c * 131 + (k + 1) * 2654435761) % 65536 - 32768
        |    END AS val
        |  FROM sk),
        |agg AS (
        |  SELECT g, max(rate) AS rate, max(ch) AS ch, max(n) AS n,
        |    CAST(max(abs(val)) AS BIGINT) AS peak,
        |    CAST(sum(abs(val)) AS BIGINT) AS sum_abs
        |  FROM v GROUP BY g),
        |blk AS (
        |  SELECT g, unnest(generate_series(0, (n + 63) // 64 - 1)) AS b
        |  FROM p),
        |sched AS (
        |  SELECT g,
        |    count(*) FILTER (WHERE b % 8 = 7) AS c_const,
        |    count(*) FILTER (WHERE b % 4 = 1) AS c_lpc,
        |    count(*) FILTER (WHERE b % 8 = 3) AS c_fixed,
        |    count(*) FILTER (WHERE b % 8 <> 7 AND b % 4 <> 1 AND b % 8 <> 3)
        |      AS c_verb
        |  FROM blk GROUP BY g)
        |SELECT 'track_' || agg.g || '.flac' AS name,
        |  CAST(rate AS BIGINT) AS sample_rate, CAST(ch AS BIGINT) AS channels,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(ch * c_const AS BIGINT) AS n_constant,
        |  CAST(ch * c_verb AS BIGINT) AS n_verbatim,
        |  CAST(ch * c_fixed AS BIGINT) AS n_fixed,
        |  CAST(ch * c_lpc AS BIGINT) AS n_lpc,
        |  peak, sum_abs
        |FROM agg JOIN sched ON agg.g = sched.g""".stripMargin,

    "audio_flac_meta" ->
      s"""WITH s AS (
        |  SELECT user_id % 8 AS g,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 10000
        |      AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS seed
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT g, abs(seed) AS a,
        |    CASE g % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |      WHEN 2 THEN 96000 ELSE 22050 END AS rate,
        |    1 + g % 2 AS channels, 16 + (g % 2) * 8 AS bps,
        |    abs(seed) % 100000000 AS total,
        |    CASE WHEN g % 2 = 1 THEN 2 ELSE 1 END AS n_blocks
        |  FROM s),
        |m AS (
        |  SELECT g, string_agg(upper(lpad(to_hex((a + i * 31) % 256), 2,
        |    '0')), '' ORDER BY i) AS md5_hex
        |  FROM p, unnest(generate_series(0, 15)) AS t(i)
        |  GROUP BY g, a)
        |SELECT 'song_' || p.g || '.flac' AS name,
        |  CAST(rate AS BIGINT) AS sample_rate,
        |  CAST(channels AS BIGINT) AS channels,
        |  CAST(bps AS BIGINT) AS bits_per_sample,
        |  CAST(total AS BIGINT) AS total_samples,
        |  CAST(4096 AS BIGINT) AS min_block, CAST(4096 AS BIGINT) AS max_block,
        |  CAST(1200 AS BIGINT) AS min_frame, CAST(9000 AS BIGINT) AS max_frame,
        |  md5_hex, CAST(n_blocks AS BIGINT) AS n_blocks
        |FROM p JOIN m ON p.g = m.g""".stripMargin,

    // the HDF5 lane: f64 micro-unit payload round-trips IEEE
    // (exact ≤ 2^53), CF unpack is raw·scale + offset with scale
    // 1e-6 — the MULTIPLY form, mirrored exactly (x·1e-6 and x/1e6
    // are different IEEE results)
    "grid_h5_decode" ->
      """WITH c AS (
        |  SELECT user_id % 8 AS gy, (user_id // 8) % 8 AS gx,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 10000
        |      AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v_us,
        |    CAST(count(*) AS BIGINT) AS n_obs
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT CAST(i // 8 AS BIGINT) AS gy, CAST(i % 8 AS BIGINT) AS gx
        |      FROM range(0, 64) t(i)),
        |j AS (
        |  SELECT l.gy, l.gx, coalesce(c.v_us, 0) AS v_us,
        |    coalesce(c.n_obs, 0) AS n_obs
        |  FROM l LEFT JOIN c ON l.gy = c.gy AND l.gx = c.gx)
        |SELECT 'cell_cx.mean_us' AS dataset, 'f8' AS dtype, gy, gx,
        |  CAST(v_us AS DOUBLE) AS value FROM j
        |UNION ALL
        |SELECT 'cell_cx.n', 'i4', gy, gx, CAST(n_obs AS DOUBLE) FROM j
        |UNION ALL
        |SELECT 'n_obs', 'i4', gy, gx, CAST(n_obs AS DOUBLE) FROM j
        |UNION ALL
        |SELECT 'n_obs_be', 'i4be', gy, gx, CAST(n_obs AS DOUBLE) FROM j
        |UNION ALL
        |SELECT 'n_obs_bt2', 'i4', gy, gx, CAST(n_obs AS DOUBLE) FROM j
        |UNION ALL
        |SELECT 'n_obs_imp', 'i4', gy, gx, CAST(n_obs AS DOUBLE) FROM j
        |UNION ALL
        |SELECT 'st.c', 'i4', gy, gx, CAST(n_obs AS DOUBLE) FROM j
        |UNION ALL
        |SELECT 'st.m', 'f8', gy, gx, CAST(v_us AS DOUBLE) FROM j
        |UNION ALL
        |SELECT 'tp_be_us', 'f8be', gy, gx,
        |  CAST(v_us AS DOUBLE) * 1.0e-6 FROM j
        |UNION ALL
        |SELECT 'tp2_us', 'f8', gy, gx, CAST(v_us AS DOUBLE) * 1.0e-6 FROM j
        |UNION ALL
        |SELECT 'tp_ea_us', 'f8', gy, gx, CAST(v_us AS DOUBLE) * 1.0e-6 FROM j
        |UNION ALL
        |SELECT 'tp_us', 'f8', gy, gx, CAST(v_us AS DOUBLE) * 1.0e-6 FROM j
        |UNION ALL
        |SELECT 'tp_year_us', 'f8', CAST(t // 8 AS BIGINT),
        |  CAST(t % 8 AS BIGINT),
        |  CAST(j.v_us + (t // 64) * 1000000 AS DOUBLE) * 1.0e-6
        |FROM range(0, 360) r(t)
        |JOIN j ON j.gy = (t % 64) // 8 AND j.gx = t % 8"""
        .stripMargin,

    // the HDF5 STRING lane: ASCII labels round-trip verbatim through
    // fixed-width (null-terminated and space-padded) and vlen/GCOL
    // string datasets; the oracle rebuilds every label from events
    "grid_h5_text" ->
      """WITH c AS (
        |  SELECT user_id % 8 AS gy, (user_id // 8) % 8 AS gx,
        |    CAST(count(*) AS BIGINT) AS n_obs
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 64) t(i)),
        |j AS (
        |  SELECT l.i, coalesce(c.n_obs, 0) AS n_obs
        |  FROM l LEFT JOIN c ON l.i // 8 = c.gy AND l.i % 8 = c.gx)
        |SELECT 'note' AS dataset, 'vs' AS dtype, i AS idx,
        |  'cell=' || CAST(i AS VARCHAR) || ';obs=' || CAST(n_obs AS VARCHAR)
        |    AS sval FROM j
        |UNION ALL
        |SELECT 'tag', 's8', i, 'n' || CAST(n_obs AS VARCHAR) FROM j
        |UNION ALL
        |SELECT 'tag_sp', 's8', i, 'n' || CAST(n_obs AS VARCHAR) FROM j"""
        .stripMargin,

    // marching squares: identical 16-case edge-pair table, the
    // integer center rule on saddles, and the same
    // double-cast-then-divide interpolation quantized to 1e-6
    "grid_contour_lines" -> {
      val lvls = graft.operators.Climate.contourLevels
        .map(l => s"($l)").mkString(", ")
      s"""WITH c AS (
        |  SELECT user_id % 8 AS gy, (user_id // 8) % 8 AS gx,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 10000
        |      AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v_us
        |  FROM events GROUP BY 1, 2),
        |win AS (
        |  SELECT tl.gy, tl.gx, tl.v_us AS tl, tr.v_us AS tr,
        |    bl.v_us AS bl, br.v_us AS br, CAST(l.lv AS BIGINT) AS lv,
        |    CAST(l.lv AS BIGINT) * 1000000 AS lus
        |  FROM c tl
        |  JOIN c tr ON tr.gy = tl.gy AND tr.gx = tl.gx + 1
        |  JOIN c bl ON bl.gy = tl.gy + 1 AND bl.gx = tl.gx
        |  JOIN c br ON br.gy = tl.gy + 1 AND br.gx = tl.gx + 1
        |  CROSS JOIN (VALUES $lvls) l(lv)),
        |cs AS (
        |  SELECT *,
        |    (CASE WHEN tl >= lus THEN 8 ELSE 0 END) +
        |    (CASE WHEN tr >= lus THEN 4 ELSE 0 END) +
        |    (CASE WHEN br >= lus THEN 2 ELSE 0 END) +
        |    (CASE WHEN bl >= lus THEN 1 ELSE 0 END) AS cse,
        |    tl + tr + br + bl >= lus * 4 AS ctr
        |  FROM win),
        |ep AS (
        |  SELECT *,
        |    CASE cse WHEN 1 THEN 'L' WHEN 2 THEN 'B' WHEN 3 THEN 'L'
        |      WHEN 4 THEN 'T' WHEN 5 THEN 'T' WHEN 6 THEN 'T'
        |      WHEN 7 THEN 'T' WHEN 8 THEN 'T' WHEN 9 THEN 'T'
        |      WHEN 10 THEN 'T' WHEN 11 THEN 'T' WHEN 12 THEN 'L'
        |      WHEN 13 THEN 'R' WHEN 14 THEN 'B' END AS a1,
        |    CASE WHEN cse = 5 THEN (CASE WHEN ctr THEN 'L' ELSE 'R' END)
        |      WHEN cse = 10 THEN (CASE WHEN ctr THEN 'R' ELSE 'L' END)
        |      ELSE CASE cse WHEN 1 THEN 'B' WHEN 2 THEN 'R' WHEN 3 THEN 'R'
        |        WHEN 4 THEN 'R' WHEN 6 THEN 'B' WHEN 7 THEN 'L'
        |        WHEN 8 THEN 'L' WHEN 9 THEN 'B' WHEN 11 THEN 'R'
        |        WHEN 12 THEN 'R' WHEN 13 THEN 'B' WHEN 14 THEN 'L' END END AS a2,
        |    CASE WHEN cse = 5 THEN (CASE WHEN ctr THEN 'B' ELSE 'L' END)
        |      WHEN cse = 10 THEN (CASE WHEN ctr THEN 'L' ELSE 'B' END) END AS b1,
        |    CASE WHEN cse = 5 THEN (CASE WHEN ctr THEN 'R' ELSE 'B' END)
        |      WHEN cse = 10 THEN (CASE WHEN ctr THEN 'B' ELSE 'R' END) END AS b2
        |  FROM cs),
        |sg AS (
        |  SELECT ep.*, s.seg,
        |    CASE WHEN s.seg = 0 THEN a1 ELSE b1 END AS e1,
        |    CASE WHEN s.seg = 0 THEN a2 ELSE b2 END AS e2
        |  FROM ep CROSS JOIN (VALUES (0), (1)) s(seg)
        |  WHERE (CASE WHEN s.seg = 0 THEN a1 ELSE b1 END) IS NOT NULL)
        |SELECT lv AS level, gy, gx, CAST(seg AS INT) AS seg,
        |  floor((CASE e1
        |    WHEN 'T' THEN gx + CAST(lus - tl AS DOUBLE) / CAST(tr - tl AS DOUBLE)
        |    WHEN 'B' THEN gx + CAST(lus - bl AS DOUBLE) / CAST(br - bl AS DOUBLE)
        |    WHEN 'L' THEN CAST(gx AS DOUBLE)
        |    ELSE CAST(gx + 1 AS DOUBLE) END) * 1e6 + 0.5) / 1e6 AS x1,
        |  floor((CASE e1
        |    WHEN 'T' THEN CAST(gy AS DOUBLE)
        |    WHEN 'B' THEN CAST(gy + 1 AS DOUBLE)
        |    WHEN 'L' THEN gy + CAST(lus - tl AS DOUBLE) / CAST(bl - tl AS DOUBLE)
        |    ELSE gy + CAST(lus - tr AS DOUBLE) / CAST(br - tr AS DOUBLE)
        |    END) * 1e6 + 0.5) / 1e6 AS y1,
        |  floor((CASE e2
        |    WHEN 'T' THEN gx + CAST(lus - tl AS DOUBLE) / CAST(tr - tl AS DOUBLE)
        |    WHEN 'B' THEN gx + CAST(lus - bl AS DOUBLE) / CAST(br - bl AS DOUBLE)
        |    WHEN 'L' THEN CAST(gx AS DOUBLE)
        |    ELSE CAST(gx + 1 AS DOUBLE) END) * 1e6 + 0.5) / 1e6 AS x2,
        |  floor((CASE e2
        |    WHEN 'T' THEN CAST(gy AS DOUBLE)
        |    WHEN 'B' THEN CAST(gy + 1 AS DOUBLE)
        |    WHEN 'L' THEN gy + CAST(lus - tl AS DOUBLE) / CAST(bl - tl AS DOUBLE)
        |    ELSE gy + CAST(lus - tr AS DOUBLE) / CAST(br - tr AS DOUBLE)
        |    END) * 1e6 + 0.5) / 1e6 AS y2
        |FROM sg""".stripMargin
    },

    // all-integer packing arithmetic — engines agree exactly
    // elementwise chunking; DuckDB list slice l[a:b] is 1-based
    // inclusive and truncates at the end, matching Spark's slice
    "corpus_rag_chunks" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
         |  FROM documents),
         |n AS (SELECT doc_id, toks, len(toks) AS n_toks FROM t WHERE len(toks) > 0),
         |c AS (SELECT doc_id, toks, n_toks,
         |    unnest(generate_series(0, (n_toks - 1) // ${graft.operators.TextOps.RagStride})) AS chunk_idx
         |  FROM n)
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(chunk_idx * ${graft.operators.TextOps.RagStride} AS BIGINT) AS start_token,
         |  CAST(least(${graft.operators.TextOps.RagWindow},
         |    n_toks - chunk_idx * ${graft.operators.TextOps.RagStride}) AS BIGINT) AS chunk_tokens,
         |  md5(array_to_string(
         |    toks[chunk_idx * ${graft.operators.TextOps.RagStride} + 1 :
         |         chunk_idx * ${graft.operators.TextOps.RagStride} + ${graft.operators.TextOps.RagWindow}], ' ')) AS chunk_hash
         |FROM c""".stripMargin,

    "pack_sequences" ->
      s"""WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    md5(CAST(doc_id AS VARCHAR)) AS k,
        |    CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_tokens
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
        |      AS BIGINT) AS pos,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY k, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - n_tokens AS start
        |  FROM t)
        |SELECT doc_id, shard, pos, n_tokens,
        |  start // ${graft.operators.TextOps.packBudget} AS seq_id,
        |  start % ${graft.operators.TextOps.packBudget} AS seq_off
        |FROM s""".stripMargin,

    "vocab_coverage" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
        |  FROM documents),
        |total AS (SELECT count(*) AS total_tokens FROM toks),
        |ranked AS (
        |  SELECT token, n,
        |    row_number() OVER (ORDER BY n DESC, token ASC) AS rk,
        |    sum(n) OVER (ORDER BY n DESC, token ASC
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM (SELECT token, count(*) AS n FROM toks GROUP BY 1
        |        ORDER BY n DESC, token ASC LIMIT 100)),
        |ks AS (SELECT unnest([5, 10, 25]) AS k)
        |SELECT CAST(k AS INT) AS k, CAST(cum AS BIGINT) AS covered_tokens,
        |  CAST(total_tokens AS BIGINT) AS total_tokens,
        |  floor(CAST(cum AS DOUBLE) / total_tokens * 1e4 + 0.5) / 1e4 AS coverage
        |FROM ranked JOIN ks ON rk = k CROSS JOIN total""".stripMargin,

    "pii_scrub" -> {
      val vals = TextOps.piiDrop
        .map { case (id, t) => s"($id, '$t')" }.mkString(", ")
      val pat = TextOps.piiPatterns.toMap
      val (email, phone, ip) = (pat("email"), pat("phone"), pat("ip"))
      s"""WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT * FROM (VALUES $vals) AS t(doc_id, text)),
        |c AS (
        |  SELECT doc_id, text,
        |    CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_email,
        |    CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_phone,
        |    CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ip
        |  FROM base)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g'),
        |    '$ip', '<IP>', 'g') AS clean_text,
        |  n_email, n_phone, n_ip,
        |  (n_email + n_phone + n_ip) > 0 AS had_pii
        |FROM c""".stripMargin
    },

    // first-occurrence is min(doc_id) per trigram — an integer order
    // statistic; novelty is one integer ratio rounded once
    "ngram_novelty" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |          for i in range(1, len(toks) - 1)])) AS tg
        |  FROM (SELECT doc_id, string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |    FROM documents)
        |  WHERE len(toks) >= 3),
        |nn AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_new
        |  FROM (SELECT tg, min(doc_id) AS doc_id FROM sh GROUP BY 1)
        |  GROUP BY 1),
        |nt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tg
        |       FROM sh GROUP BY 1)
        |SELECT nt.doc_id, nt.n_tg,
        |  CAST(COALESCE(nn.n_new, 0) AS BIGINT) AS n_new,
        |  round(COALESCE(nn.n_new, 0) * 1.0 / nt.n_tg, 4) AS novelty
        |FROM nt LEFT JOIN nn ON nt.doc_id = nn.doc_id""".stripMargin,

    // decontamination screen: the eval set is words 11-18 of docs
    // with id % 97 = 3; any shared 8-gram contaminates; the probe's
    // own source doc must self-flag (the positive control)
    "corpus_contamination" ->
      s"""WITH d AS (
        |  SELECT doc_id, string_split(
        |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |ev AS (
        |  SELECT doc_id AS eval_id, array_to_string(toks[11:18], ' ') AS gram
        |  FROM d
        |  WHERE doc_id % ${graft.operators.TextOps.ContamEvalMod}
        |      = ${graft.operators.TextOps.ContamEvalRem}
        |    AND len(toks) >= 18),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(
        |      [array_to_string(toks[i:i+7], ' ')
        |       for i in range(1, len(toks) - 6)])) AS gram
        |  FROM d WHERE len(toks) >= 8)
        |SELECT g.doc_id,
        |  CAST(count(DISTINCT ev.eval_id) AS BIGINT) AS n_eval_hits,
        |  max(CASE WHEN g.doc_id = ev.eval_id THEN 1 ELSE 0 END) = 1
        |    AS self_hit
        |FROM g JOIN ev USING (gram)
        |GROUP BY g.doc_id""".stripMargin,

    // boilerplate census: an 8-gram POSITION is boilerplate when its
    // gram spans >= BoilerplateMinDocs distinct docs; positions are
    // non-distinct (every overlap counts toward the strip fraction)
    "boilerplate_ngrams" ->
      s"""WITH d AS (
        |  SELECT doc_id, string_split(
        |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest([array_to_string(toks[i:i+7], ' ')
        |       for i in range(1, len(toks) - 6)]) AS gram
        |  FROM d WHERE len(toks) >= 8),
        |b AS (
        |  SELECT gram FROM (
        |    SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1)
        |  WHERE nd >= ${graft.operators.TextOps.BoilerplateMinDocs}),
        |pd AS (
        |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_boiler
        |  FROM g LEFT JOIN b ON g.gram = b.gram
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(COALESCE(pd.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(COALESCE(pd.n_boiler, 0) AS BIGINT) AS n_boiler,
        |  CASE WHEN COALESCE(pd.n_grams, 0) > 0
        |    THEN round(pd.n_boiler * 1.0 / pd.n_grams, 4) END AS boiler_frac
        |FROM d LEFT JOIN pd ON d.doc_id = pd.doc_id""".stripMargin,

    // exact-substring repeated spans: a position repeats when its
    // 8-gram occurs anywhere else (>= 2 corpus-wide, same doc
    // counts); consecutive repeated positions merge by the
    // gaps-and-islands key (pos - row_number — 0- vs 1-based
    // position origins cancel inside the per-doc group key); span
    // token length = max - min + 8
    "dedup_repeated_spans" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest([array_to_string(toks[i:i+7], ' ')
        |            for i in range(1, len(toks) - 6)]) AS gram,
        |    unnest(range(1, len(toks) - 6)) AS pos
        |  FROM d WHERE len(toks) >= 8),
        |rep AS (
        |  SELECT gram FROM (SELECT gram, count(*) AS n FROM g GROUP BY 1)
        |  WHERE n >= 2),
        |isl AS (
        |  SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |      AS island
        |  FROM g JOIN rep USING (gram)),
        |sp AS (
        |  SELECT doc_id, island, max(pos) - min(pos) + 8 AS span_tokens
        |  FROM isl GROUP BY 1, 2),
        |pd AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(sum(span_tokens) AS BIGINT) AS covered_tokens,
        |    CAST(max(span_tokens) AS BIGINT) AS longest_span
        |  FROM sp GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(COALESCE(pd.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(COALESCE(pd.covered_tokens, 0) AS BIGINT) AS covered_tokens,
        |  CAST(COALESCE(pd.longest_span, 0) AS BIGINT) AS longest_span
        |FROM d LEFT JOIN pd ON d.doc_id = pd.doc_id""".stripMargin,

    // the CUT step: same islands, spans >= 16 tokens, TRUE interval
    // union (running-max window) before the per-doc rollup; both
    // engines' position origins cancel inside start/end arithmetic
    "dedup_spans_apply" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest([array_to_string(toks[i:i+7], ' ')
        |            for i in range(1, len(toks) - 6)]) AS gram,
        |    unnest(range(1, len(toks) - 6)) AS pos
        |  FROM d WHERE len(toks) >= 8),
        |rep AS (
        |  SELECT gram FROM (SELECT gram, count(*) AS n FROM g GROUP BY 1)
        |  WHERE n >= 2),
        |isl AS (
        |  SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |      AS island
        |  FROM g JOIN rep USING (gram)),
        |sp AS (
        |  SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
        |  FROM isl GROUP BY doc_id, island
        |  HAVING max(pos) + 7 - min(pos) + 1 >= 16),
        |u AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    THEN 1 ELSE 0 END AS ng
        |  FROM sp),
        |gg AS (
        |  SELECT doc_id, s, e,
        |    sum(ng) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM u),
        |cuts AS (
        |  SELECT doc_id, grp, max(e) - min(s) + 1 AS cut_len
        |  FROM gg GROUP BY 1, 2),
        |pd AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cuts,
        |    CAST(sum(cut_len) AS BIGINT) AS cut_tokens
        |  FROM cuts GROUP BY 1)
        |SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(pd.n_cuts, 0) AS BIGINT) AS n_cuts,
        |  CAST(COALESCE(pd.cut_tokens, 0) AS BIGINT) AS cut_tokens,
        |  CAST(len(d.toks) - COALESCE(pd.cut_tokens, 0) AS BIGINT)
        |    AS kept_tokens,
        |  floor((len(d.toks) - COALESCE(pd.cut_tokens, 0))
        |    / CAST(len(d.toks) AS DOUBLE) * 10000 + 0.5) / 10000
        |    AS kept_frac
        |FROM d LEFT JOIN pd ON d.doc_id = pd.doc_id""".stripMargin,

    // vocab collapse first (exact integer weights), pair fan-out over
    // vocab rows; top-50 ordered (n desc, pair asc) in both engines
    "bpe_pair_counts" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        |  FROM documents),
        |vocab AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS n_occ FROM tok
        |  WHERE len(tok) >= 2 GROUP BY 1),
        |pairs AS (
        |  SELECT unnest([tok[i:i+1] for i in range(1, len(tok))]) AS pair,
        |    n_occ
        |  FROM vocab)
        |SELECT pair, CAST(sum(n_occ) AS BIGINT) AS n
        |FROM pairs GROUP BY 1
        |ORDER BY n DESC, pair ASC LIMIT 50""".stripMargin,

    "vocab_topk" ->
      """SELECT tok AS token, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(string_split(
        |        regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        |      FROM documents)
        |GROUP BY 1
        |ORDER BY n DESC, token ASC LIMIT 100""".stripMargin,
    // per-element 1e-6 quantization makes the squared norm an exact
    // integer; percentiles rank-interpolate on one window sort
    "embedding_norm_audit" -> {
      val pct = Seq(("p10", 0.1), ("p50", 0.5), ("p90", 0.9)).map {
        case (nm, q) =>
          val lo = s"CAST(floor((n - 1) * $q) AS BIGINT) + 1"
          s"""floor((min(CASE WHEN rn = $lo THEN norm END)
            |    + ((min(n) - 1) * $q - floor((min(n) - 1) * $q))
            |      * (min(CASE WHEN rn = least($lo + 1, n) THEN norm END)
            |         - min(CASE WHEN rn = $lo THEN norm END)))
            |    * 1e4 + 0.5) / 1e4 AS $nm""".stripMargin
      }.mkString(",\n        |  ")
      s"""WITH q AS (
        |  SELECT vec_id, label,
        |    CAST(floor(unnest(embedding)::DOUBLE * 1e6 + 0.5) AS BIGINT) AS eu
        |  FROM embeddings),
        |v AS (
        |  SELECT vec_id, label, CAST(sum(eu * eu) AS BIGINT) AS nsq_u
        |  FROM q GROUP BY 1, 2),
        |r AS (
        |  SELECT label, nsq_u,
        |    sqrt(CAST(nsq_u AS DOUBLE)) / 1e6 AS norm,
        |    CAST(floor(sqrt(CAST(nsq_u AS DOUBLE)) + 0.5) AS BIGINT) AS norm_u,
        |    row_number() OVER (PARTITION BY label ORDER BY nsq_u) AS rn,
        |    count(*) OVER (PARTITION BY label) AS n
        |  FROM v)
        |SELECT label, count(*) AS n_vecs,
        |  CAST(sum(CASE WHEN nsq_u = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  floor(CAST(sum(norm_u) AS DOUBLE) / count(*) / 1e6 * 1e4 + 0.5) / 1e4
        |    AS mean_norm,
        |  $pct
        |FROM r GROUP BY 1""".stripMargin
    },

    "embedding_centroids" ->
      """SELECT label, count(*) AS n_vecs, CAST(dim AS INT) AS dim,
        |  floor(sum(x) / count(*) * 1e6 + 0.5) / 1e6 AS c
        |FROM (
        |  SELECT label, generate_subscripts(embedding, 1) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings)
        |GROUP BY 1, 3""".stripMargin,

    // int8 affine quantization: codes are integers the moment they
    // exist, the checksum sums exact BIGINTs
    // element quantization makes every VecSum partial an integer-
    // valued double (exact at any merge order); per-dim L2/dot terms
    // quantize to 1e-8 longs before the dim sum, so engine row order
    // can't reach any reported figure
    "embedding_drift" ->
      """WITH q AS (
        |  SELECT label, vec_id % 2 AS half,
        |    generate_subscripts(embedding, 1) AS dim,
        |    floor(unnest(embedding)::DOUBLE * 1e6 + 0.5) AS eq
        |  FROM embeddings),
        |h AS (
        |  SELECT label, half, dim, sum(eq) AS s, count(*) AS n
        |  FROM q GROUP BY 1, 2, 3),
        |j AS (
        |  SELECT a.label, a.dim, a.s AS s0, a.n AS n0, b.s AS s1, b.n AS n1
        |  FROM h a JOIN h b ON a.label = b.label AND a.dim = b.dim
        |    AND a.half = 0 AND b.half = 1),
        |t AS (
        |  SELECT label, n0, n1,
        |    CAST(floor((s0 / n0 - s1 / n1) * (s0 / n0 - s1 / n1) / 1e4 + 0.5)
        |      AS BIGINT) AS d2t,
        |    CAST(floor((s0 / n0) * (s1 / n1) / 1e4 + 0.5) AS BIGINT) AS dott,
        |    CAST(floor(s0 / n0 * s0 / n0 / 1e4 + 0.5) AS BIGINT) AS nat,
        |    CAST(floor(s1 / n1 * s1 / n1 / 1e4 + 0.5) AS BIGINT) AS nbt
        |  FROM j),
        |g AS (
        |  SELECT label, CAST(min(n0) AS BIGINT) AS n_first,
        |    CAST(min(n1) AS BIGINT) AS n_second,
        |    CAST(sum(d2t) AS BIGINT) AS d2_u, CAST(sum(dott) AS BIGINT) AS dot_u,
        |    CAST(sum(nat) AS BIGINT) AS na_u, CAST(sum(nbt) AS BIGINT) AS nb_u
        |  FROM t GROUP BY 1)
        |SELECT label, n_first, n_second,
        |  floor(sqrt(CAST(d2_u AS DOUBLE)) + 0.5) / 1e4 AS l2_drift,
        |  CASE WHEN na_u > 0 AND nb_u > 0 THEN
        |    floor(CAST(dot_u AS DOUBLE)
        |      / sqrt(CAST(na_u AS DOUBLE) * CAST(nb_u AS DOUBLE))
        |      * 1e4 + 0.5) / 1e4 END AS cos_centroid
        |FROM g""".stripMargin,

    "embedding_quantize" ->
      """WITH v AS (
        |  SELECT vec_id, label,
        |    CAST(list_min(embedding) AS DOUBLE) AS vmin,
        |    CAST(list_max(embedding) AS DOUBLE) AS vmax,
        |    embedding
        |  FROM embeddings)
        |SELECT vec_id, label, vmin, vmax,
        |  (vmax - vmin) / 255.0 AS scale,
        |  CASE WHEN (vmax - vmin) / 255.0 = 0.0 THEN 0
        |       ELSE CAST(list_sum(list_transform(embedding,
        |         x -> CAST(floor((CAST(x AS DOUBLE) - vmin)
        |           / ((vmax - vmin) / 255.0) + 0.5) AS BIGINT))) AS BIGINT)
        |  END AS qsum
        |FROM v""".stripMargin,

    // centroids on the shared 1e-6 grid, distances as exact integer
    // 1e-8 units, gate operands bit-identical on both engines
    "embedding_outliers" ->
      """WITH cd AS (
        |  SELECT label, dim, floor(sum(x) / count(*) * 1e6 + 0.5) / 1e6 AS c
        |  FROM (SELECT label, generate_subscripts(embedding, 1) AS dim,
        |          CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings)
        |  GROUP BY 1, 2),
        |cl AS (SELECT label, list(c ORDER BY dim) AS centroid FROM cd GROUP BY 1),
        |sc AS (
        |  SELECT e.vec_id, e.label,
        |    CAST(list_sum(list_transform(range(1, len(e.embedding) + 1),
        |      i -> CAST(floor((CAST(e.embedding[i] AS DOUBLE) - cl.centroid[i])
        |                    * (CAST(e.embedding[i] AS DOUBLE) - cl.centroid[i])
        |                    * 1e8 + 0.5) AS BIGINT))) AS BIGINT) AS dist2_u
        |  FROM embeddings e JOIN cl USING (label)),
        |m AS (SELECT CAST(sum(dist2_u) AS DOUBLE) / count(*) AS mean_u FROM sc)
        |SELECT vec_id, label, dist2_u / 1e8 AS dist2,
        |  CAST(dist2_u AS DOUBLE) > 1.05 * mean_u AS is_outlier
        |FROM sc, m""".stripMargin,

    "dedup_chunks" -> {
      val c = Dedup.ChunkTokens
      s"""WITH base AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, CAST(len(toks) // $c AS INT)),
        |      i -> list_aggregate(toks[i*$c+1 : i*$c+$c], 'string_agg', ' '))) AS chunk
        |  FROM base WHERE len(toks) // $c > 0)
        |SELECT md5(chunk) AS chunk_hash,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_occ,
        |  min(doc_id) AS first_doc
        |FROM ch GROUP BY 1
        |HAVING count(DISTINCT doc_id) >= 2""".stripMargin
    },

    "dedup_chunks_apply" -> {
      val c = Dedup.ChunkTokens
      s"""WITH base AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, ci,
        |    list_aggregate(toks[ci*$c+1 : ci*$c+$c], 'string_agg', ' ') AS chunk
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(0, CAST(len(toks) // $c AS INT))) AS ci
        |        FROM base WHERE len(toks) // $c > 0)),
        |k AS (SELECT doc_id, ci, chunk,
        |        row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, ci) = 1 AS keep
        |      FROM ch)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        |  coalesce(string_agg(CASE WHEN keep THEN chunk END, ' ' ORDER BY ci), '')
        |    AS clean_text
        |FROM k GROUP BY 1""".stripMargin
    },

    "decontaminate" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, len(toks) - 6),
        |             i -> list_aggregate(toks[i:i+7], 'string_agg', ' '))) AS shingle
        |    FROM base)
        |), bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0)
        |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_hit_shingles
        |FROM sh s JOIN bench b USING (shingle)
        |WHERE s.doc_id % 10 != 0
        |GROUP BY 1""".stripMargin,
    "contamination_by_source" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, len(toks) - 6),
        |             i -> list_aggregate(toks[i:i+7], 'string_agg', ' '))) AS shingle
        |    FROM base)
        |), bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),
        |hits AS (
        |  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_hit_shingles
        |  FROM sh s JOIN bench b USING (shingle)
        |  WHERE s.doc_id % 10 != 0
        |  GROUP BY 1)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN h.n_hit_shingles IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_contaminated,
        |  CAST(coalesce(sum(h.n_hit_shingles), 0) AS BIGINT) AS hit_shingles,
        |  round(sum(CASE WHEN h.n_hit_shingles IS NOT NULL THEN 1 ELSE 0 END)
        |    * 1.0 / count(*), 4) AS contamination_rate
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |WHERE d.doc_id % 10 != 0
        |GROUP BY 1""".stripMargin,

    // exact-quantum coords -> deterministic argmin; raw-sum Pearson
    // on exact 1e-4 longs, double cast only inside the sqrt
    "station_neighbor_corr" ->
      """WITH daily AS (
        |  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) * 100.0 / count(*) + 0.5) AS BIGINT) AS m_u
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT DISTINCT user_id,
        |    (user_id % 36) * 5.0 - 87.5 AS lat,
        |    (user_id % 72) * 5.0 - 177.5 AS lon
        |  FROM daily),
        |nb AS (
        |  SELECT * FROM (
        |    SELECT a.user_id, b.user_id AS neighbor_id,
        |      sqrt((a.lat - b.lat) * (a.lat - b.lat)
        |        + (a.lon - b.lon) * (a.lon - b.lon)) AS dist_deg,
        |      row_number() OVER (PARTITION BY a.user_id
        |        ORDER BY (a.lat - b.lat) * (a.lat - b.lat)
        |          + (a.lon - b.lon) * (a.lon - b.lon) ASC,
        |          b.user_id ASC) AS rk
        |    FROM st a JOIN st b ON a.user_id != b.user_id)
        |  WHERE rk = 1),
        |paired AS (
        |  SELECT nb.user_id, nb.neighbor_id, nb.dist_deg,
        |    da.m_u, db.m_u AS n_u
        |  FROM nb
        |  JOIN daily da ON da.user_id = nb.user_id
        |  JOIN daily db ON db.user_id = nb.neighbor_id AND db.day = da.day),
        |agg AS (
        |  SELECT user_id, neighbor_id, dist_deg,
        |    CAST(count(*) AS BIGINT) AS n_days,
        |    sum(m_u) AS sx, sum(n_u) AS sy, sum(m_u * n_u) AS sxy,
        |    sum(m_u * m_u) AS sxx, sum(n_u * n_u) AS syy
        |  FROM paired GROUP BY 1, 2, 3)
        |SELECT user_id, neighbor_id,
        |  floor(dist_deg * 1e4 + 0.5) / 1e4 AS dist_deg, n_days,
        |  CASE WHEN n_days >= 5
        |        AND n_days * sxx - sx * sx > 0
        |        AND n_days * syy - sy * sy > 0 THEN
        |    floor(CAST(n_days * sxy - sx * sy AS DOUBLE)
        |      / sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE)
        |        * CAST(n_days * syy - sy * sy AS DOUBLE)) * 1e4 + 0.5) / 1e4
        |  END AS r
        |FROM agg""".stripMargin,

    // daily cents exact; reference day-mean quantized once; both
    // cumulatives exact long window sums, ratio divided once
    "ts_double_mass" ->
      """WITH daily AS (
        |  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS day_c
        |  FROM events GROUP BY 1, 2),
        |ref AS (
        |  SELECT day, CAST(floor(CAST(sum(day_c) AS DOUBLE) / count(*)
        |    * 100.0 + 0.5) AS BIGINT) AS ref_u
        |  FROM daily GROUP BY 1),
        |c AS (
        |  SELECT d.user_id, d.day,
        |    sum(d.day_c) OVER (PARTITION BY d.user_id ORDER BY d.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s,
        |    sum(r.ref_u) OVER (PARTITION BY d.user_id ORDER BY d.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_r
        |  FROM daily d JOIN ref r ON d.day = r.day)
        |SELECT user_id, day,
        |  CAST(cum_s AS DOUBLE) / 100.0 AS cum_station,
        |  CAST(cum_r AS DOUBLE) / 1e4 AS cum_reference,
        |  CASE WHEN cum_r > 0
        |    THEN round(cum_s * 100.0 / CAST(cum_r AS DOUBLE), 4) END AS ratio
        |FROM c""".stripMargin,

    // integer/floor tile math on the derived coordinates; exact mean
    "items_tiles" ->
      """WITH e AS (
        |  SELECT (user_id % 36) * 5.0 - 87.5 AS lat,
        |    (user_id % 72) * 5.0 - 177.5 AS lon, value, t.z AS z
        |  FROM events, (SELECT unnest([0, 1, 2, 3]) AS z) t)
        |SELECT CAST(z AS BIGINT) AS z,
        |  CAST(least(floor((lon + 180.0) / 360.0 * (2.0 ** z)),
        |    (2.0 ** z) - 1) AS BIGINT) AS x,
        |  CAST(least(floor((90.0 - lat) / 180.0 * (2.0 ** z)),
        |    (2.0 ** z) - 1) AS BIGINT) AS y,
        |  CAST(count(*) AS BIGINT) AS n,
        |  floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |    * 100.0 / count(*) + 0.5) / 1e4 AS mean_value
        |FROM e GROUP BY 1, 2, 3""".stripMargin,

    "items_page_cursor" ->
      """SELECT event_id, epoch_us(ts) AS ts_us,
        |  (user_id % 36) * 5.0 - 87.5 AS lat,
        |  (user_id % 72) * 5.0 - 177.5 AS lon,
        |  value
        |FROM events
        |WHERE event_type = 'click'
        |  AND ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |  AND (user_id % 36) * 5.0 - 87.5 BETWEEN -45 AND 45
        |  AND (user_id % 72) * 5.0 - 177.5 BETWEEN -180 AND -60
        |  AND (epoch_us(ts) < 1705622400000000
        |       OR (epoch_us(ts) = 1705622400000000 AND event_id < 99999))
        |ORDER BY ts DESC, event_id DESC LIMIT 100""".stripMargin,

    "items_query" ->
      """SELECT event_id, epoch_us(ts) AS ts_us,
        |  (user_id % 36) * 5.0 - 87.5 AS lat,
        |  (user_id % 72) * 5.0 - 177.5 AS lon,
        |  value
        |FROM events
        |WHERE event_type = 'click'
        |  AND ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |  AND (user_id % 36) * 5.0 - 87.5 BETWEEN -45 AND 45
        |  AND (user_id % 72) * 5.0 - 177.5 BETWEEN -180 AND -60
        |ORDER BY ts DESC, event_id DESC LIMIT 100""".stripMargin,

    "dedup_minhash_lsh" -> minhashLshSql,

    "dedup_lsh_audit" -> lshAuditSql,
    "dedup_lsh_audit_sampled" -> lshAuditSampledSql,

    "dedup_incremental" -> dedupIncrementalSql,

    "dedup_simhash" -> simhashSql,

    "dedup_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |          for i in range(1, len(toks) - 1)])) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 3
        |), cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) AS jaccard
        |FROM pairs JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.5""".stripMargin,

    // the shared-shingle count IS the intersection; containment is
    // shared / min(|A|,|B|) — one integer ratio rounded once
    "dedup_containment" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |          for i in range(1, len(toks) - 1)])) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 3
        |), cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  CAST(ca.n_sh AS BIGINT) AS n_a, CAST(cb.n_sh AS BIGINT) AS n_b,
        |  round(shared * 1.0 / least(ca.n_sh, cb.n_sh), 4) AS containment
        |FROM pairs JOIN cnt ca ON doc_a = ca.doc_id
        |  JOIN cnt cb ON doc_b = cb.doc_id
        |WHERE round(shared * 1.0 / least(ca.n_sh, cb.n_sh), 4) >= 0.8"""
        .stripMargin,

    "quality_vs_dup" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |          for i in range(1, len(toks) - 1)])) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 3
        |), cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |p0 AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM p0
        |  JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.5),
        |members AS (SELECT DISTINCT doc_id FROM (
        |  SELECT doc_a AS doc_id FROM pairs
        |  UNION ALL SELECT doc_b FROM pairs)),
        |q AS (
        |  SELECT doc_id,
        |    round(least(1.0, len(toks) / 100.0)
        |      * (1.0 - round((len(list_filter(toks, x -> x = 'the'))
        |                      + len(list_filter(toks, x -> x = 'a')))
        |                     / CAST(len(toks) AS DOUBLE), 4)), 4) AS qs
        |  FROM (SELECT doc_id,
        |          string_split(regexp_replace(lower(trim(text)), '\s+', ' ',
        |            'g'), ' ') AS toks
        |        FROM documents)),
        |m AS (
        |  SELECT q.doc_id, qs,
        |    CASE WHEN mem.doc_id IS NOT NULL THEN 1 ELSE 0 END AS dup
        |  FROM q LEFT JOIN members mem ON q.doc_id = mem.doc_id)
        |SELECT least(floor(qs * 10), 9) / 10.0 AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(dup) AS BIGINT) AS n_dup,
        |  round(sum(dup) * 1.0 / count(*), 4) AS dup_rate
        |FROM m GROUP BY 1""".stripMargin,

    "dedup_survivorship" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |          for i in range(1, len(toks) - 1)])) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 3
        |), cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |p0 AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM p0
        |  JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |clus AS (
        |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        |  FROM reach GROUP BY src),
        |q AS (
        |  SELECT doc_id,
        |    round(least(1.0, len(toks) / 100.0)
        |      * (1.0 - round((len(list_filter(toks, x -> x = 'the'))
        |                      + len(list_filter(toks, x -> x = 'a')))
        |                     / CAST(len(toks) AS DOUBLE), 4)), 4) AS qs
        |  FROM (SELECT doc_id,
        |          string_split(regexp_replace(lower(trim(text)), '\s+', ' ',
        |            'g'), ' ') AS toks
        |        FROM documents)),
        |m AS (
        |  SELECT c.cluster_id, c.doc_id, q.qs,
        |    count(*) OVER (PARTITION BY c.cluster_id) AS n_members,
        |    row_number() OVER (PARTITION BY c.cluster_id
        |      ORDER BY q.qs DESC, c.doc_id ASC) AS rn
        |  FROM clus c JOIN q ON c.doc_id = q.doc_id)
        |SELECT cluster_id, CAST(n_members AS BIGINT) AS n_members,
        |  doc_id AS keeper_doc, qs AS keeper_score
        |FROM m WHERE rn = 1""".stripMargin,

    "dedup_survivorship_apply" ->
      (survivorshipMembersSql + """
        |SELECT d.doc_id, d.source, d.n_chars
        |FROM documents d
        |LEFT JOIN (SELECT doc_id FROM m WHERE rn > 1) x ON d.doc_id = x.doc_id
        |WHERE x.doc_id IS NULL""".stripMargin),

    // per-source near-dup savings: dropped members (rn > 1) joined to
    // their identity projection, plus corpus totals from one scan
    "dedup_savings" ->
      (survivorshipMembersSql + """,
        |dropped AS (
        |  SELECT d.source, count(*) AS dropped_docs,
        |    CAST(sum(d.n_chars) AS BIGINT) AS dropped_chars
        |  FROM documents d JOIN (SELECT doc_id FROM m WHERE rn > 1) x
        |    ON d.doc_id = x.doc_id
        |  GROUP BY 1),
        |tot AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS n_chars
        |  FROM documents GROUP BY 1)
        |SELECT t.source, t.n_docs, t.n_chars,
        |  coalesce(d.dropped_docs, 0) AS dropped_docs,
        |  coalesce(d.dropped_chars, 0) AS dropped_chars,
        |  floor(CAST(coalesce(d.dropped_chars, 0) AS DOUBLE) / t.n_chars
        |    * 1e4 + 0.5) / 1e4 AS saved_frac
        |FROM tot t LEFT JOIN dropped d USING (source)""".stripMargin),

    "source_overlap" ->
      """WITH ss AS (
        |  SELECT DISTINCT source, shingle FROM (
        |    SELECT source,
        |      unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |        for i in range(1, len(toks) - 1)])) AS shingle
        |    FROM (SELECT source, string_split(text, ' ') AS toks
        |          FROM documents)
        |    WHERE len(toks) >= 3)),
        |cnt AS (SELECT source, count(*) AS n_sh FROM ss GROUP BY 1),
        |pairs AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    count(*) AS shared
        |  FROM ss a JOIN ss b ON a.shingle = b.shingle
        |    AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, shared, ca.n_sh AS n_a, cb.n_sh AS n_b,
        |  round(shared * 1.0 / least(ca.n_sh, cb.n_sh), 4) AS containment,
        |  round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) AS jaccard
        |FROM pairs JOIN cnt ca ON source_a = ca.source
        |  JOIN cnt cb ON source_b = cb.source""".stripMargin,

    "dedup_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |          for i in range(1, len(toks) - 1)])) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 3
        |), cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |p0 AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM p0
        |  JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
        |  WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        |SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        |FROM reach GROUP BY src""".stripMargin,

    // same cosine/rank discipline as the bruteforce oracle; prefix
    // cosines on 1-based inclusive list slices; means as exact 1e-4
    // integer sums divided once
    "ann_matryoshka_audit" ->
      """WITH p AS (SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pe
        |           FROM embeddings WHERE vec_id IN (SELECT vec_id FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 5)),
        |c AS (SELECT probe_id, vec_id, pe, embedding::DOUBLE[] AS e,
        |        list_cosine_similarity(pe, embedding::DOUBLE[]) AS cos_full
        |      FROM p, embeddings WHERE vec_id != probe_id),
        |d AS (SELECT probe_id, vec_id, cos_full, dd.dim,
        |        list_cosine_similarity(pe[1:dd.dim], e[1:dd.dim]) AS cos_d
        |      FROM c, (VALUES (8), (16), (32)) dd(dim)),
        |tr AS (SELECT probe_id, dim, vec_id AS neighbor_id,
        |        CAST(floor(cos_full * 1e4 + 0.5) AS BIGINT) AS cf_u,
        |        row_number() OVER (PARTITION BY probe_id, dim
        |          ORDER BY floor(cos_d * 1e6 + 0.5) / 1e6 DESC, vec_id ASC) AS rk
        |       FROM d),
        |t10 AS (SELECT * FROM tr WHERE rk <= 10),
        |f AS (SELECT probe_id, vec_id AS neighbor_id,
        |        CAST(floor(cos_full * 1e4 + 0.5) AS BIGINT) AS cf_u,
        |        row_number() OVER (PARTITION BY probe_id
        |          ORDER BY floor(cos_full * 1e6 + 0.5) / 1e6 DESC, vec_id ASC) AS rk
        |      FROM c),
        |f10 AS (SELECT * FROM f WHERE rk <= 10),
        |agg AS (SELECT t.probe_id, t.dim,
        |        CAST(sum(CASE WHEN f2.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_hits,
        |        CAST(sum(t.cf_u) AS BIGINT) AS trunc_u
        |       FROM t10 t LEFT JOIN f10 f2 ON f2.probe_id = t.probe_id
        |         AND f2.neighbor_id = t.neighbor_id
        |       GROUP BY 1, 2),
        |fu AS (SELECT probe_id, CAST(sum(cf_u) AS BIGINT) AS full_u
        |       FROM f10 GROUP BY 1)
        |SELECT agg.probe_id, CAST(dim AS BIGINT) AS dim,
        |  n_hits / 10.0 AS recall_at10,
        |  floor(CAST(full_u - trunc_u AS DOUBLE) / 10.0 + 0.5) / 1e4 AS cos_regret
        |FROM agg JOIN fu ON agg.probe_id = fu.probe_id""".stripMargin,

    "ann_topk_bruteforce" ->
      """WITH p AS (SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pe
        |           FROM embeddings WHERE vec_id IN (SELECT vec_id FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 5)),
        |c AS (SELECT probe_id, vec_id,
        |        list_cosine_similarity(pe, embedding::DOUBLE[]) AS cos
        |      FROM p, embeddings WHERE vec_id != probe_id),
        |r AS (SELECT probe_id, vec_id AS neighbor_id,
        |        row_number() OVER (PARTITION BY probe_id
        |                           ORDER BY floor(cos * 1e6 + 0.5) / 1e6 DESC, vec_id ASC) AS rk,
        |        floor(cos * 1e4 + 0.5) / 1e4 AS cosine
        |      FROM c)
        |SELECT probe_id, neighbor_id, rk, cosine FROM r WHERE rk <= 10""".stripMargin,

    // semantic decontamination: nearest of the 32 lowest vec_id%97=3
    // eval probes (self excluded — a probe IS the eval item). The
    // elements quantize to 1e-6 integer units FIRST, so dot and
    // norms are exact integers and the cosine is the same three
    // exact operands through the same correctly-rounded /,*,sqrt in
    // both engines — raw-double summation order split at 1e6
    // half-boundaries; exact integers cannot. dot/(sqrt·sqrt) is the
    // kernel's exact chain
    "embedding_contamination" ->
      s"""WITH q AS (
        |  SELECT vec_id, list_transform(embedding::DOUBLE[],
        |    x -> floor(x * 1e6 + 0.5)) AS qe
        |  FROM embeddings),
        |p AS (
        |  SELECT vec_id AS eval_id, qe AS pe
        |  FROM q
        |  WHERE vec_id % ${graft.operators.Similarity.SemContamMod}
        |      = ${graft.operators.Similarity.SemContamRem}
        |  ORDER BY vec_id LIMIT ${graft.operators.Similarity.SemContamProbes}),
        |c AS (
        |  SELECT q.vec_id, p.eval_id,
        |    list_inner_product(q.qe, pe)
        |      / (sqrt(list_inner_product(q.qe, q.qe))
        |         * sqrt(list_inner_product(pe, pe))) AS cos
        |  FROM q, p WHERE q.vec_id != p.eval_id),
        |r AS (
        |  SELECT vec_id, eval_id, cos,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY floor(cos * 1e6 + 0.5) / 1e6 DESC, eval_id ASC)
        |      AS rk
        |  FROM c)
        |SELECT vec_id, eval_id AS top_eval_id,
        |  floor(cos * 1e4 + 0.5) / 1e4 AS top_cos,
        |  cos >= ${graft.operators.Similarity.SemContamThreshold}
        |    AS contaminated
        |FROM r WHERE rk = 1""".stripMargin,

    "ann_lsh_topk" ->
      s"""$lshBucketsSql,
        |cand AS (
        |  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS nb_id
        |  FROM b p JOIN b c ON p.t = c.t AND p.sig = c.sig
        |  WHERE p.vec_id IN (SELECT vec_id FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 5)
        |    AND c.vec_id != p.vec_id),
        |r AS (
        |  SELECT probe_id, nb_id,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY floor(list_cosine_similarity(vp.e, vc.e) * 1e6 + 0.5) / 1e6 DESC, nb_id ASC) AS rk,
        |    floor(list_cosine_similarity(vp.e, vc.e) * 1e4 + 0.5) / 1e4 AS cosine
        |  FROM cand JOIN v vp ON vp.vec_id = probe_id JOIN v vc ON vc.vec_id = nb_id)
        |SELECT probe_id, nb_id AS neighbor_id, rk, cosine FROM r WHERE rk <= 10""".stripMargin,

    "ann_recall_audit" ->
      s"""$lshBucketsSql,
        |cand AS (
        |  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS nb_id
        |  FROM b p JOIN b c ON p.t = c.t AND p.sig = c.sig
        |  WHERE p.vec_id IN (SELECT vec_id FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 5)
        |    AND c.vec_id != p.vec_id),
        |lr AS (
        |  SELECT probe_id, nb_id,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY floor(list_cosine_similarity(vp.e, vc.e) * 1e6 + 0.5) / 1e6 DESC,
        |               nb_id ASC) AS rk,
        |    floor(list_cosine_similarity(vp.e, vc.e) * 1e4 + 0.5) / 1e4 AS cosine
        |  FROM cand JOIN v vp ON vp.vec_id = probe_id
        |    JOIN v vc ON vc.vec_id = nb_id),
        |lshr AS (SELECT probe_id, nb_id,
        |    CAST(floor(cosine * 1e4 + 0.5) AS BIGINT) AS cos_u
        |  FROM lr WHERE rk <= 10),
        |bc AS (SELECT p.vec_id AS probe_id, c.vec_id AS nb_id,
        |    list_cosine_similarity(p.e, c.e) AS cos
        |  FROM v p, v c WHERE p.vec_id IN (SELECT vec_id FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 5)
        |    AND c.vec_id != p.vec_id),
        |br AS (SELECT probe_id, nb_id,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY floor(cos * 1e6 + 0.5) / 1e6 DESC, nb_id ASC) AS rk,
        |    floor(cos * 1e4 + 0.5) / 1e4 AS cosine
        |  FROM bc),
        |bfr AS (SELECT probe_id, nb_id,
        |    CAST(floor(cosine * 1e4 + 0.5) AS BIGINT) AS cos_u
        |  FROM br WHERE rk <= 10),
        |per AS (
        |  SELECT bf.probe_id, CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(CASE WHEN l.nb_id IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_hit,
        |    sum(bf.cos_u) AS bf_u
        |  FROM bfr bf LEFT JOIN lshr l
        |    ON bf.probe_id = l.probe_id AND bf.nb_id = l.nb_id
        |  GROUP BY 1),
        |ls AS (SELECT probe_id, sum(cos_u) AS lsh_u,
        |    CAST(count(*) AS BIGINT) AS n_l
        |  FROM lshr GROUP BY 1)
        |SELECT per.probe_id, n_hit, floor(n_hit * 1.0 / k * 1e4 + 0.5) / 1e4 AS recall,
        |  floor((CAST(bf_u AS DOUBLE) / k - CAST(lsh_u AS DOUBLE) / n_l)
        |    / 1e4 * 1e4 + 0.5) / 1e4 AS cos_regret
        |FROM per LEFT JOIN ls ON per.probe_id = ls.probe_id""".stripMargin,

    // the sampled twin: identical audit, probes drawn by the md5
    // prefix selector (rate 1/256) instead of the fixed fixture ids
    "ann_recall_audit_sampled" -> {
      val sel = s"substr(md5(CAST(%s.vec_id AS VARCHAR)), 1, " +
        s"${graft.operators.Similarity.AnnAuditSampleHex.length}) = " +
        s"'${graft.operators.Similarity.AnnAuditSampleHex}'"
      s"""$lshBucketsSql,
        |cand AS (
        |  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS nb_id
        |  FROM b p JOIN b c ON p.t = c.t AND p.sig = c.sig
        |  WHERE ${sel.format("p")} AND c.vec_id != p.vec_id),
        |lr AS (
        |  SELECT probe_id, nb_id,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY floor(list_cosine_similarity(vp.e, vc.e) * 1e6 + 0.5) / 1e6 DESC,
        |               nb_id ASC) AS rk,
        |    floor(list_cosine_similarity(vp.e, vc.e) * 1e4 + 0.5) / 1e4 AS cosine
        |  FROM cand JOIN v vp ON vp.vec_id = probe_id
        |    JOIN v vc ON vc.vec_id = nb_id),
        |lshr AS (SELECT probe_id, nb_id,
        |    CAST(floor(cosine * 1e4 + 0.5) AS BIGINT) AS cos_u
        |  FROM lr WHERE rk <= 10),
        |bc AS (SELECT p.vec_id AS probe_id, c.vec_id AS nb_id,
        |    list_cosine_similarity(p.e, c.e) AS cos
        |  FROM v p, v c WHERE ${sel.format("p")} AND c.vec_id != p.vec_id),
        |br AS (SELECT probe_id, nb_id,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY floor(cos * 1e6 + 0.5) / 1e6 DESC, nb_id ASC) AS rk,
        |    floor(cos * 1e4 + 0.5) / 1e4 AS cosine
        |  FROM bc),
        |bfr AS (SELECT probe_id, nb_id,
        |    CAST(floor(cosine * 1e4 + 0.5) AS BIGINT) AS cos_u
        |  FROM br WHERE rk <= 10),
        |per AS (
        |  SELECT bf.probe_id, CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(CASE WHEN l.nb_id IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_hit,
        |    sum(bf.cos_u) AS bf_u
        |  FROM bfr bf LEFT JOIN lshr l
        |    ON bf.probe_id = l.probe_id AND bf.nb_id = l.nb_id
        |  GROUP BY 1),
        |ls AS (SELECT probe_id, sum(cos_u) AS lsh_u,
        |    CAST(count(*) AS BIGINT) AS n_l
        |  FROM lshr GROUP BY 1)
        |SELECT per.probe_id, n_hit, floor(n_hit * 1.0 / k * 1e4 + 0.5) / 1e4 AS recall,
        |  floor((CAST(bf_u AS DOUBLE) / k - CAST(lsh_u AS DOUBLE) / n_l)
        |    / 1e4 * 1e4 + 0.5) / 1e4 AS cos_regret,
        |  CAST(0.00390625 AS DOUBLE) AS sample_rate
        |FROM per LEFT JOIN ls ON per.probe_id = ls.probe_id""".stripMargin
    },

    "knn_graph" -> knnGraphSql,

    // reciprocated-edge census over the exact graph: a directed kNN
    // edge is mutual iff its reverse is also a kNN edge
    "knn_graph_mutuality" ->
      s"""WITH g AS ($knnGraphSql),
        |e AS (SELECT vec_id, neighbor_id FROM g),
        |m AS (
        |  SELECT a.vec_id, count(*) AS n_mutual
        |  FROM e a JOIN e b
        |    ON a.vec_id = b.neighbor_id AND a.neighbor_id = b.vec_id
        |  GROUP BY 1),
        |per AS (
        |  SELECT v.vec_id, coalesce(m.n_mutual, 0) AS n_mutual
        |  FROM (SELECT DISTINCT vec_id FROM e) v LEFT JOIN m USING (vec_id))
        |SELECT n_mutual, count(*) AS n_vecs
        |FROM per GROUP BY 1""".stripMargin,

    // chord distances from the graph's quantized cosines; ln-ratio
    // terms quantized to 1e-6 before the cross-vector sum
    "embedding_intrinsic_dim" ->
      s"""WITH g AS ($knnGraphSql),
        |p AS (
        |  SELECT vec_id,
        |    sqrt(greatest(2.0 - 2.0 * min(CASE WHEN rk = 1 THEN cosine END),
        |      0.0)) AS d1,
        |    sqrt(greatest(2.0 - 2.0 * min(CASE WHEN rk = 2 THEN cosine END),
        |      0.0)) AS d2
        |  FROM g WHERE rk <= 2 GROUP BY 1),
        |t AS (
        |  SELECT e.label,
        |    CAST(floor(ln(p.d2 / p.d1) * 1e6 + 0.5) AS BIGINT) AS lmu_u
        |  FROM p JOIN embeddings e USING (vec_id)
        |  WHERE p.d1 > 0 AND p.d2 >= p.d1)
        |SELECT label, count(*) AS n_used,
        |  CASE WHEN sum(lmu_u) > 0
        |    THEN floor(CAST(count(*) AS DOUBLE)
        |      / (CAST(sum(lmu_u) AS DOUBLE) / 1e6) * 1e4 + 0.5) / 1e4
        |  END AS intrinsic_dim
        |FROM t GROUP BY 1""".stripMargin,

    "dedup_semantic_sweep" ->
      s"""WITH p AS (SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pe
        |           FROM embeddings),
        |c AS (SELECT probe_id, vec_id AS nb_id,
        |        list_cosine_similarity(pe, embedding::DOUBLE[]) AS cos
        |      FROM p, embeddings WHERE vec_id != probe_id),
        |r AS (SELECT probe_id, nb_id,
        |        row_number() OVER (PARTITION BY probe_id
        |                           ORDER BY floor(cos * 1e6 + 0.5) / 1e6 DESC, nb_id ASC) AS rk,
        |        floor(cos * 1e4 + 0.5) / 1e4 AS cosine
        |      FROM c),
        |pr AS (SELECT least(probe_id, nb_id) AS doc_a,
        |         greatest(probe_id, nb_id) AS doc_b, max(cosine) AS cosine
        |       FROM r WHERE rk <= 5 GROUP BY 1, 2),
        |taus(tau) AS (VALUES ${graft.operators.Similarity.SweepTaus
                         .map(t => s"($t)").mkString(", ")}),
        |sw AS (SELECT t.tau, doc_a, doc_b FROM pr, taus t
        |       WHERE cosine >= t.tau),
        |np AS (SELECT tau, CAST(count(*) AS BIGINT) AS n_pairs
        |       FROM sw GROUP BY 1),
        |nd AS (SELECT tau, CAST(count(DISTINCT d) AS BIGINT) AS n_docs
        |       FROM (SELECT tau, unnest([doc_a, doc_b]) AS d FROM sw)
        |       GROUP BY 1),
        |tot AS (SELECT count(*) AS n_vecs FROM embeddings)
        |SELECT np.tau, n_pairs, n_docs,
        |  floor(n_docs * 1.0 / tot.n_vecs * 1e4 + 0.5) / 1e4 AS dup_rate
        |FROM np JOIN nd USING (tau), tot""".stripMargin,

    "embedding_label_purity" ->
      """WITH p AS (SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pe
        |           FROM embeddings),
        |c AS (SELECT probe_id, vec_id AS nb_id,
        |        list_cosine_similarity(pe, embedding::DOUBLE[]) AS cos
        |      FROM p, embeddings WHERE vec_id != probe_id),
        |r AS (SELECT probe_id, nb_id,
        |        row_number() OVER (PARTITION BY probe_id
        |                           ORDER BY floor(cos * 1e6 + 0.5) / 1e6 DESC, nb_id ASC) AS rk
        |      FROM c),
        |e AS (SELECT probe_id AS vec_id, nb_id AS neighbor_id
        |      FROM r WHERE rk <= 5),
        |j AS (SELECT e.vec_id, la.label, lb.label AS nb_label
        |      FROM e JOIN embeddings la ON e.vec_id = la.vec_id
        |             JOIN embeddings lb ON e.neighbor_id = lb.vec_id)
        |SELECT label, CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
        |  CAST(count(*) AS BIGINT) AS n_edges,
        |  CAST(sum(CASE WHEN label = nb_label THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_same,
        |  floor(sum(CASE WHEN label = nb_label THEN 1 ELSE 0 END) * 1.0
        |    / count(*) * 1e4 + 0.5) / 1e4 AS purity
        |FROM j GROUP BY label""".stripMargin,

    "dedup_semantic" ->
      """WITH RECURSIVE p AS (
        |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pe FROM embeddings),
        |c AS (SELECT probe_id, vec_id AS nb_id,
        |        list_cosine_similarity(pe, embedding::DOUBLE[]) AS cos
        |      FROM p, embeddings WHERE vec_id != probe_id),
        |r AS (SELECT probe_id, nb_id,
        |        row_number() OVER (PARTITION BY probe_id
        |                           ORDER BY floor(cos * 1e6 + 0.5) / 1e6 DESC, nb_id ASC) AS rk,
        |        floor(cos * 1e4 + 0.5) / 1e4 AS cosine
        |      FROM c),
        |pairs AS (
        |  SELECT DISTINCT least(probe_id, nb_id) AS doc_a,
        |         greatest(probe_id, nb_id) AS doc_b
        |  FROM r WHERE rk <= 5 AND cosine >= 0.35),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT re.src, e.dst FROM reach re JOIN edges e ON re.dst = e.src)
        |SELECT src AS vec_id, least(src, min(dst)) AS cluster_id,
        |  src = least(src, min(dst)) AS keep
        |FROM reach GROUP BY src""".stripMargin,

    "embedding_covariance" ->
      """WITH q AS (
        |  SELECT label, list_transform(embedding::DOUBLE[],
        |         x -> CAST(round(x*1000000) AS BIGINT)) AS u
        |  FROM embeddings),
        |cnt AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM q GROUP BY 1),
        |sx AS (SELECT label, r.i AS i, CAST(sum(u[r.i]) AS BIGINT) AS sx
        |       FROM q, range(1,65) r(i) GROUP BY 1, 2),
        |sxy AS (SELECT label, a.i AS i, b.j AS j,
        |        CAST(sum(u[a.i]*u[b.j]) AS BIGINT) AS sxy
        |        FROM q, range(1,65) a(i), range(1,65) b(j)
        |        WHERE b.j >= a.i GROUP BY 1, 2, 3)
        |SELECT s.label, CAST(s.i AS INT) AS dim_i, CAST(s.j AS INT) AS dim_j,
        |  CAST(n*sxy - xa.sx*xb.sx AS DOUBLE)
        |    / (CAST(n*(n-1) AS DOUBLE) * 1e12) AS cov
        |FROM sxy s JOIN cnt USING (label)
        |JOIN sx xa ON xa.label = s.label AND xa.i = s.i
        |JOIN sx xb ON xb.label = s.label AND xb.i = s.j
        |WHERE n >= 2""".stripMargin,
  )
}
