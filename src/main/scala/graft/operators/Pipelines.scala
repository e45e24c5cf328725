package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TimeSeries.quantize
import graft.sources.Catalog

/** End-to-end process compositions — the reference's scheduled
  * "process" scripts (fetch → normalize → derive → publish) each
  * chain the same operators this library exposes; these functions
  * show the full chains as single composed Spark plans, ending in the
  * publish sink. A user of the reference's SPI process runs ONE call.
  */
object Pipelines {

  /** The SPI drought product (`utils_spi.py` end to end): gamma-fit
    * SPI per observation → grid-zone snap → drought flag → published
    * as a day-partitioned collection; returns the registry row. One
    * composed plan: the SPI fit aggregation, the event-id join back
    * to timestamps (high-cardinality equi-join), the elementwise zone
    * snap, and the partitioned write all pipeline without a collect.
    */
  def spiZonalPublish(spark: SparkSession, dir: String,
      outDir: String): DataFrame = {
    val spi = Climate.spiGamma(spark, dir)
    val ts = Tables.events(spark, dir).select(col("event_id"), col("ts"))
    val product = spi.join(ts, Seq("event_id"))
      .withColumn("zone_y",
        floor(Climate.pseudoLat(col("user_id")) / 30).cast("int"))
      .withColumn("zone_x",
        floor(Climate.pseudoLon(col("user_id")) / 30).cast("int"))
      .withColumn("drought", col("spi") <= -1.0)
    Catalog.publish(product, "ts", "spi_zonal", outDir)
  }

  /** The ensemble-forecast drought product end to end — the
    * reference's seasonal SPI process (`ingestor_cds_spi_forecast_
    * process.py`): climatology fit on the REFERENCE window only
    * ([[Climate.spiGammaRef]]), index applied to the full span,
    * placed on the grid, and published CHUNK-PARTITIONED through the
    * zarr-shaped lane ([[graft.sources.Grids.publishGrid]]). One
    * composed plan: rolling accumulation window → time-sliced fit
    * aggregation → unhinted param join → elementwise grid placement →
    * partitioned write; returns the collection registry row. */
  def spiRefGridPublish(spark: SparkSession, dir: String,
      outDir: String,
      fitStartIso: String = "2024-01-01T00:00:00Z",
      fitEndIso: String = "2024-01-16T00:00:00Z"): DataFrame = {
    val spi = Climate.spiGammaRef(spark, dir, 7, fitStartIso, fitEndIso)
    val ts = Tables.events(spark, dir).select(col("event_id"), col("ts"))
    val grid = spi.join(ts, Seq("event_id"))
      .select(col("ts").as("time"),
        Climate.pseudoLat(col("user_id")).as("lat"),
        Climate.pseudoLon(col("user_id")).as("lon"),
        lit("spi7").as("var"),
        col("spi").as("value"))
    graft.sources.Grids.publishGrid(grid, "spi7_ref", outDir)
  }

  /** The PHENOLOGY / AGRO-INDICATOR export end to end
    * (`ingestor_ll_spain_phenology.py:103-190`): open the gridded
    * product, slice it to the area-of-interest bbox (the
    * [[Climate.bboxFilter]] predicate, elementwise in the scan
    * stage), write the variable's TIME-INDEX metadata (the
    * reference's `{"time": [...]}` JSON, `:154-156`), and land one
    * PER-DAY slice per time step (its `gdal_translate` GeoTIFF loop,
    * `:160-170`) — here a day-partitioned publish through the
    * zarr-shaped [[graft.sources.Grids.publishGrid]] lane, so "one
    * day" is one prunable partition directory instead of one
    * uploaded file, and no driver loop runs over time steps at all.
    * Returns the registry row extended with the bbox and the
    * time-index JSON. One composed plan; the only driver-visible
    * values are the 1-row registry. */
  def phenologyExportPublish(spark: SparkSession, dir: String,
      outDir: String, variable: String = "pheno",
      bbox: (Double, Double, Double, Double) = (-60.0, -45.0, 60.0, 45.0))
      : DataFrame = {
    val (xMin, yMin, xMax, yMax) = bbox
    // the decoded "zarr": exact-cent daily cell means on the pseudo
    // grid (the spiRefGridPublish placement), pre-sliced to the bbox
    val grid = Tables.events(spark, dir)
      .withColumn("lat", Climate.pseudoLat(col("user_id")))
      .withColumn("lon", Climate.pseudoLon(col("user_id")))
      .filter(col("lat") >= yMin && col("lat") <= yMax &&
        col("lon") >= xMin && col("lon") <= xMax)
      .groupBy(date_trunc("DAY", col("ts")).as("time"),
        col("lat"), col("lon"))
      .agg((floor(sum(TimeSeries.cents(col("value")))
        .cast("double") * 100.0 / count(lit(1)) + 0.5) / 1e4).as("value"))
      .withColumn("var", lit(variable))
      .localCheckpoint() // read twice: the publish and the time index
    val reg = graft.sources.Grids.publishGrid(
      grid.select(col("time"), col("lat"), col("lon"), col("var"),
        col("value")), variable, outDir)
    val timeIndex = grid
      .select(date_format(col("time"), "yyyy-MM-dd'T'HH:mm:ss").as("t"))
      .distinct()
      .agg(to_json(map(lit("time"),
        sort_array(collect_list(col("t"))))).as("time_index"))
    reg.crossJoin(broadcast(timeIndex))
      .withColumn("min_x", lit(xMin)).withColumn("min_y", lit(yMin))
      .withColumn("max_x", lit(xMax)).withColumn("max_y", lit(yMax))
  }

  /** Buffered-landmass clip polygon for [[knmiObsPublish]] — a
    * concave U (the notch stands in for an estuary the 1/50°-buffered
    * landmass excludes): a bounding-box test would wrongly keep
    * notch stations, so the clip must run the real parity test. A
    * deployment reads this from the geojson
    * (`NL_landmasses_4326_50thdegreebuffer.geojson`); a literal here
    * exactly like [[Climate.basinPolygons]]. */
  val landmassClip: Seq[(Double, Double)] = Seq(
    (-180.0, -70.0), (-100.0, -70.0), (-100.0, -30.0), (-135.0, -30.0),
    (-135.0, -60.0), (-145.0, -60.0), (-145.0, -30.0), (-180.0, -30.0))

  /** Station-observation publish with landmass clip + keep-last merge
    * (`ingestor_knmi_evapo.py:465-490`: the day's prepared station
    * table is `clip`ped to the buffered landmass, merged with the
    * previously published table — `merge_db_tab_data` — and
    * republished with a refreshed registry row). The merge is the
    * explicit [[graft.sources.Ingest.upsertKeepLast]]: the drop
    * re-delivers the boundary day, batch wins those keys, new days
    * append. One composed plan: the clip is an elementwise parity
    * expression in the scan stage (no join, no UDF), the merge is the
    * upsert's single keyed exchange, and the day-partitioned publish
    * + registry row come from [[Catalog.publish]]. */
  def knmiObsPublish(spark: SparkSession, dir: String,
      outDir: String, boundaryDay: String = "2024-01-28"): DataFrame = {
    val obs = Tables.events(spark, dir)
      .select(col("user_id").as("station"), col("ts"), col("event_id"),
        Climate.pseudoLat(col("user_id")).as("lat"),
        Climate.pseudoLon(col("user_id")).as("lon"),
        round(col("value"), 4).as("value"),
        TimeSeries.dayLabel)
    def clipped(df: DataFrame): DataFrame =
      df.filter(Climate.pointInPoly(col("lon"), col("lat"), landmassClip))
    // the previously published collection: clipped at ITS publish
    // time, covering everything up to the boundary day
    val existing = clipped(obs.filter(col("day") <= boundaryDay))
      .withColumn("src", lit("db"))
    // today's drop: boundary day re-delivered + anything newer,
    // clipped BEFORE the merge exactly like the reference's tab
    val batch = clipped(obs.filter(col("day") >= boundaryDay))
      .withColumn("src", lit("drop"))
    val merged = graft.sources.Ingest.upsertKeepLast(
        existing, batch, Seq("station", "ts"), "event_id")
      .drop("day")
    Catalog.publish(merged, "ts", "knmi_obs", outDir)
  }

  /** The station-QC product end to end — the sensor-ingest chain every
    * observation network runs before analytics (the reference QCs
    * each fetched series the same way): despike with the trailing
    * MEDIAN filter, score each observation against the station's
    * calendar climatology ([[TimeSeries.climatologyFit]] — the same
    * param table the STREAMING scorer consumes), flag anomalies, and
    * publish the flagged series day-partitioned with its registry
    * row. One composed plan: both window passes share the per-station
    * shuffle, the climatology fit joins back on the composite
    * (station, hour) key, and the partitioned write pipelines without
    * a collect. The published collection carries raw AND despiked
    * values plus the anomaly flag, so downstream products can choose
    * their robustness. */
  def qcPublish(spark: SparkSession, dir: String,
      outDir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-14, org.apache.spark.sql.expressions.Window.currentRow)
    val hist = array_sort(collect_list(col("value")).over(w))
    val n = size(hist)
    val med = when(n % 2 === 1, element_at(hist, ((n + 1) / 2).cast("int")))
      .otherwise((element_at(hist, (n / 2).cast("int"))
        + element_at(hist, (n / 2 + 1).cast("int"))) / 2.0)
    val despiked = ev
      .withColumn("value_med", quantize(med, 4))
      .withColumn("hod", hour(col("ts")))
    val product = despiked
      .join(TimeSeries.climatologyFit(ev), Seq("user_id", "hod"))
      .withColumn("z",
        when(col("n_obs") >= 5 && col("sd") > 0,
          quantize((col("value") - col("mu")) / col("sd"), 4)))
      .withColumn("is_anomaly", coalesce(abs(col("z")) > 3.0, lit(false)))
      .select(col("event_id"), col("ts"), col("user_id"),
        col("value"), col("value_med"), col("z"), col("is_anomaly"))
    Catalog.publish(product, "ts", "events_qc", outDir)
  }

  /** The LLM-corpus counterpart end to end: the composed
    * [[TextOps.corpusClean]] keep-list (tokenize once → language +
    * quality → dedup keepers → stratified sample) re-joined to the
    * full documents (equi-join on doc_id — at scale both sides
    * shuffle on a uniform key), written LANGUAGE-PARTITIONED so
    * training readers prune to their language slice, plus a
    * read-back registry row counting what actually landed (same
    * discipline as [[graft.sources.Catalog.publish]]: never execute
    * the pipeline twice, register what is on disk). */
  def corpusCuratePublish(spark: SparkSession, dir: String,
      outDir: String): DataFrame = {
    val keep = TextOps.corpusClean(spark, dir)
    val full = keep.join(
      Tables.documents(spark, dir).select("doc_id", "text", "source"),
      Seq("doc_id"))
    val path = s"$outDir/corpus_clean"
    full.write.mode("overwrite").partitionBy("lang_pred").parquet(path)
    spark.read.parquet(path)
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        countDistinct(col("lang_pred")).as("n_langs"))
      .select(lit("corpus_clean").as("collection_id"),
        col("n_docs"), col("n_tokens"), col("n_langs"))
  }

  /** The HYDROLOGY station profile end to end — the river-discharge
    * process chain (`rer_river_discharge_arpae_process.py`: stage →
    * rating-curve discharge → derived station products): per-station
    * daily discharge (stage through the calibration table, daily
    * mean), the flow-duration quantile grid, the Mann–Kendall trend
    * verdict, and the current drawdown, joined into ONE profile row
    * per station and published with a registry row. One composed
    * plan: the rating curve is a broadcast range-join, every derived
    * product reuses the same (station, day) collapse shape, and the
    * three profile joins are station-keyed equi-joins (uniform,
    * high-cardinality at 100 TB — never broadcast). */
  def hydroProfilePublish(spark: SparkSession, dir: String,
      outDir: String): DataFrame = {
    val fdc = Climate.flowDurationCurve(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        max(when(col("p") === 5, col("q_exceed"))).as("q5"),
        max(when(col("p") === 50, col("q_exceed"))).as("q50"),
        max(when(col("p") === 95, col("q_exceed"))).as("q95"))
    val mk = TimeSeries.mannKendall(spark, dir)
      .select(col("user_id"), col("z_stat"), col("trend"))
    val dd = TimeSeries.drawdown(spark, dir)
      .groupBy(col("user_id"))
      .agg(max(struct(col("day"), col("drawdown"))).as("last"))
      .select(col("user_id"), col("last.drawdown").as("current_drawdown"))
    val profile = fdc.join(mk, Seq("user_id")).join(dd, Seq("user_id"))
    val path = s"$outDir/hydro_profile"
    profile.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
      .agg(count(lit(1)).as("n_stations"),
        sum(when(col("trend") === "increasing", 1L).otherwise(0L))
          .as("n_rising"),
        sum(when(col("trend") === "decreasing", 1L).otherwise(0L))
          .as("n_falling"))
      .select(lit("hydro_profile").as("collection_id"),
        col("n_stations"), col("n_rising"), col("n_falling"))
  }

  /** CURATION-AUDIT publish — the governance lane run BESIDE every
    * curation release: the three audit tables (text-side LSH recall
    * per similarity decile, embedding-side SemDeDup threshold sweep,
    * ANN index recall/regret) land as one partitioned `audit`
    * collection with a read-back registry row, so the release
    * artifact carries the evidence of its own dedup quality instead
    * of leaving it in a notebook. Each section is the oracle-checked
    * standalone query verbatim (spec-asserted row-for-row) stacked
    * under an `audit` discriminator column — one definition, report
    * and queries can never disagree. */
  def curationAuditPublish(spark: SparkSession, dir: String,
      outDir: String): DataFrame = {
    def tag(df: DataFrame, name: String, keys: Column*): DataFrame =
      df.select(lit(name).as("audit"),
        concat_ws("|", keys: _*).as("item"),
        to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("detail"))
    val sections =
      tag(Dedup.lshRecallAudit(spark, dir), "lsh_recall", col("bucket")) ::
      tag(Similarity.semanticSweep(spark, dir), "semantic_sweep", col("tau")) ::
      tag(Similarity.annRecallAudit(spark, dir), "ann_recall",
        col("probe_id")) :: Nil
    val all = sections.reduce(_ unionByName _)
    val path = s"$outDir/curation_audit"
    all.write.mode("overwrite").partitionBy("audit").parquet(path)
    spark.read.parquet(path)
      .groupBy(col("audit")).agg(count(lit(1)).as("n_rows"))
      .agg(count(lit(1)).as("n_sections"), sum(col("n_rows")).as("n_rows"))
      .select(lit("curation_audit").as("collection_id"),
        col("n_sections"), col("n_rows"))
  }

  /** FORECAST-VERIFICATION publish — the climate-side twin of
    * [[curationAuditPublish]]: every forecast product release ships
    * its own scorecard (CRPS per station-week, the Talagrand rank
    * histogram, and the bias-correction skill table) as one
    * partitioned `verification` collection with a read-back registry
    * row. Each section is the oracle-checked standalone query
    * verbatim (spec-asserted row counts), so the published scorecard
    * and ad-hoc queries can never disagree. */
  def forecastVerificationPublish(spark: SparkSession, dir: String,
      outDir: String): DataFrame = {
    def tag(df: DataFrame, name: String, keys: Column*): DataFrame =
      df.select(lit(name).as("section"),
        concat_ws("|", keys: _*).as("item"),
        to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("detail"))
    val sections =
      tag(Climate.forecastCrps(spark, dir), "crps",
        col("user_id"), col("week")) ::
      tag(Climate.forecastRankHist(spark, dir), "rank_hist", col("rank")) ::
      tag(Climate.biasSkill(spark, dir), "bias_skill", col("user_id")) :: Nil
    val all = sections.reduce(_ unionByName _)
    val path = s"$outDir/forecast_verification"
    all.write.mode("overwrite").partitionBy("section").parquet(path)
    spark.read.parquet(path)
      .groupBy(col("section")).agg(count(lit(1)).as("n_rows"))
      .agg(count(lit(1)).as("n_sections"), sum(col("n_rows")).as("n_rows"))
      .select(lit("forecast_verification").as("collection_id"),
        col("n_sections"), col("n_rows"))
  }

  /** The EMBEDDING-curation product end to end — the semantic half of
    * corpus curation ([[corpusCuratePublish]] is the lexical half):
    * candidate edges from the IVF-BLOCKED k-NN graph (the scale path —
    * the n² exact graph never runs here), high-cosine edges cluster
    * through connected components, the SemDeDup keep-rule drops
    * everything but each cluster's minimum id, and the surviving
    * vectors publish LABEL-partitioned for serving-side pruning. The
    * keep-list side is O(clustered vectors) — vectors with no
    * near-duplicate never enter the component pass and flow straight
    * through the anti-join. Returns the registry row (kept / dropped
    * / cluster counts) computed from what actually landed on disk,
    * never by re-running the pipeline. */
  def embeddingCuratePublish(spark: SparkSession, dir: String,
      outDir: String): DataFrame = {
    val edges = Similarity.knnGraphIvf(spark, dir)
      .filter(col("cosine") >= 0.35)
      .select(least(col("vec_id"), col("neighbor_id")).as("doc_a"),
        greatest(col("vec_id"), col("neighbor_id")).as("doc_b"))
      .distinct()
    val drop = Dedup.connectedComponents(edges)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("vec_id"))
    val kept = Tables.embeddings(spark, dir)
      .join(drop, Seq("vec_id"), "left_anti")
    val path = s"$outDir/embeddings_curated"
    kept.write.mode("overwrite").partitionBy("label").parquet(path)
    val landed = spark.read.parquet(path)
      .agg(count(lit(1)).as("n_vecs"), countDistinct(col("label")).as("n_labels"))
    val total = Tables.embeddings(spark, dir).count()
    landed.select(lit("embeddings_curated").as("collection_id"),
      col("n_vecs"), (lit(total) - col("n_vecs")).as("n_dropped"),
      col("n_labels"))
  }
}
