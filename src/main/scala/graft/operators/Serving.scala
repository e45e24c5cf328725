package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.Features

/** The pygeoapi SERVING surface: the reference's processes publish
  * collections that pygeoapi then serves through OGC API - Features
  * `GET /collections/{id}/items` with `bbox=`, `datetime=`, property
  * filters and `limit=` (the collections and their bbox/time extents
  * are declared in `config.yml`; `collection_healthcheck.py` probes
  * exactly these item endpoints). A user of the reference queries
  * items far more often than they run an ingest — so the items query
  * is a first-class operator here, not an afterthought.
  */
object Serving {

  /** An items page: bbox + datetime window + property filter,
    * newest-first, bounded page size.
    *
    * Shape at scale: the datetime slice goes through
    * [[Tables.eventsBetween]] so the range predicate lands in the
    * parquet scan's PushedFilters (row groups outside the window are
    * never read), and the property equality pushes down beside it.
    * The newest-first page is `orderBy(...).limit(k)` which Spark
    * plans as TakeOrderedAndProject — each task keeps a k-row heap
    * and the driver merges partition heads; no global sort ever
    * materializes (spec-asserted). Ordering carries an `event_id`
    * tiebreak so the returned page is deterministic under equal
    * timestamps on any engine. */
  def itemsQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsBetween(spark, dir,
        "2024-01-10T00:00:00Z", "2024-01-20T00:00:00Z")
      .filter(col("event_type") === "click")
      .withColumn("lat", Climate.pseudoLat(col("user_id")))
      .withColumn("lon", Climate.pseudoLon(col("user_id")))
      .filter(col("lat").between(-45.0, 45.0) &&
        col("lon").between(-180.0, -60.0))
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(100)
      // epoch-micros keeps the timestamp hash-exact across engines
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("lat"), col("lon"), col("value"))

  /** TILE-PYRAMID summary — the OGC API Tiles face of the events
    * collection (the reference serves its collections to map
    * clients; a tile endpoint answers "what's in this tile at this
    * zoom" without scanning features): per zoom 0..3, events roll up
    * into equirectangular (z, x, y) tiles with count and exact mean.
    * Tile math is pure integer/floor arithmetic on the derived
    * coordinates, so every engine buckets identically; the four
    * zooms come from ONE scan via an exploded zoom literal (the
    * grid_pyramid convention on the vector side), one map-side-
    * partial aggregation, output O(Σ 4^z) rows. */
  def itemsTiles(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
      .withColumn("lat", Climate.pseudoLat(col("user_id")))
      .withColumn("lon", Climate.pseudoLon(col("user_id")))
      .select(col("lat"), col("lon"), col("value"),
        explode(array((0 to 3).map(lit): _*)).as("z"))
      .withColumn("x",
        least(floor((col("lon") + 180.0) / 360.0 * pow(lit(2.0), col("z"))),
          pow(lit(2.0), col("z")) - 1).cast("long"))
      .withColumn("y",
        least(floor((lit(90.0) - col("lat")) / 180.0 * pow(lit(2.0), col("z"))),
          pow(lit(2.0), col("z")) - 1).cast("long"))
      .groupBy(col("z").cast("long").as("z"), col("x"), col("y"))
      .agg(count(lit(1)).as("n"),
        (floor(sum(TimeSeries.cents(col("value")))
          .cast("double") * 100.0 / count(lit(1)) + 0.5) / 1e4).as("mean_value"))

  /** The SECOND page of [[itemsQuery]], by CURSOR — stable pagination
    * for the items surface. OFFSET pagination re-scans and re-heaps
    * everything before the requested page (O(pages²) total work
    * across a scan of the collection) and skips/duplicates rows when
    * items land between requests; a keyset cursor — "strictly older
    * than the last (ts, event_id) seen" — is ONE more pushable
    * predicate, so every page costs the same bounded
    * TakeOrderedAndProject and the page sequence is stable under
    * concurrent ingest. The cursor literals here are the first page's
    * known tail; a live server passes the client's token. */
  def itemsPageCursor(spark: SparkSession, dir: String): DataFrame = {
    val (curTsUs, curId) = (1705622400000000L, 99999L) // 2024-01-19T00:00:00Z
    // The keyset condition is applied to the RAW epoch-nanos column
    // BEFORE the timestamp rewrite (the Tables.eventsBetween
    // discipline — a predicate on the rewritten column never reaches
    // the scan): µs = ns div 1000, so "older than the cursor µs" is
    // ns < cur·1000, and the equal-µs tie window is [cur·1000,
    // cur·1000+1000). Both disjuncts are raw-column comparisons, so
    // the whole cursor lands in the parquet scan's PushedFilters
    // (spec-asserted) and row groups past the cursor are never read.
    val curNs = curTsUs * 1000L
    val ts = Tables.eventsBetween(spark, dir,
        "2024-01-10T00:00:00Z", "2024-01-20T00:00:00Z",
        rawTsPred = Some(tsNs =>
          tsNs < curNs || (tsNs < curNs + 1000L && col("event_id") < curId)))
    ts.filter(col("event_type") === "click")
      .withColumn("lat", Climate.pseudoLat(col("user_id")))
      .withColumn("lon", Climate.pseudoLon(col("user_id")))
      .filter(col("lat").between(-45.0, 45.0) &&
        col("lon").between(-180.0, -60.0))
      .withColumn("ts_us", unix_micros(col("ts")))
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(100)
      .select(col("event_id"), col("ts_us"),
        col("lat"), col("lon"), col("value"))
  }

  /** Deterministic vector-feature drop — 120 station points + 10
    * basin rectangles + 3 malformed rows, all as WKT text. The SAME
    * Seq feeds the Spark plan and the generated DuckDB `VALUES`
    * oracle (the stationCalibSql pattern), so both engines parse
    * identical decimal strings and the bbox doubles are bit-equal
    * with no quantization. Coordinates are 2.5°-quantum so Scala's
    * Double rendering is exact and unambiguous. */
  private[graft] val featureDrop: Seq[(Long, String, String)] = {
    val pts = (0 until 120).map { i =>
      val lon = -180.0 + (i * 37 % 144) * 2.5
      val lat = -90.0 + (i * 53 % 72) * 2.5
      (i.toLong, s"POINT($lon $lat)", s"""{"name":"stn-$i","kind":"station"}""")
    }
    val polys = (0 until 10).map { j =>
      val x0 = -75.0 + j * 14.0; val y0 = -40.0 + j * 8.0
      val x1 = x0 + 12.5; val y1 = y0 + 6.5
      (1000L + j,
        s"POLYGON(($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))",
        s"""{"name":"basin-$j","kind":"basin"}""")
    }
    val bad = Seq(
      (9000L, "POINT(abc 12)", """{"name":"bad-coord","kind":"bad"}"""),
      (9001L, "POLYGON((0 0, 5 0, 5 5, 0 5))", """{"name":"open-ring","kind":"bad"}"""),
      (9002L, "LINESTRING(0 0, 1 1)", """{"name":"line","kind":"bad"}"""))
    pts ++ polys ++ bad
  }

  /** The query-box literals shared by [[featuresItems]] and its
    * generated oracle: (minLon, minLat, maxLon, maxLat). */
  private[graft] val featuresBbox: (Double, Double, Double, Double) =
    (-75.0, -35.0, 30.0, 45.0)

  /** `GET /collections/{id}/items?bbox=` over a VECTOR collection —
    * the feature-lane twin of [[itemsQuery]]: WKT drop → normalize
    * (parse + bbox derivation) → malformed-geometry quarantine →
    * bbox-intersection page, with a property pulled from the JSON
    * props. Every step is the [[Features]] production path; only the
    * input is a literal drop so the DuckDB oracle can re-parse the
    * identical text.
    *
    * Shape at scale: all parsing is elementwise in the scan stage
    * (no shuffle at all in this plan); on a published collection the
    * same filter runs behind [[graft.sources.Catalog.readSpatial]]'s
    * directory pruning. */
  def featuresItems(spark: SparkSession, dir: String): DataFrame = {
    val drop = spark.createDataFrame(featureDrop)
      .toDF("feature_id", "geometry", "props")
    val (good, _) = Features.splitGeomQuarantine(Features.normalize(drop))
    val (minLon, minLat, maxLon, maxLat) = featuresBbox
    Features.inBbox(good, minLon, minLat, maxLon, maxLat)
      .select(col("feature_id"), col("gtype"), col("lon"), col("lat"),
        col("minx"), col("miny"), col("maxx"), col("maxy"),
        get_json_object(col("props"), "$.name").as("name"))
  }

  /** The collection-extent registry row over the same drop — the
    * `update_config` bbox patch, oracle-checked end to end (parse →
    * quarantine → min/max aggregate). */
  def featuresExtent(spark: SparkSession, dir: String): DataFrame = {
    val drop = spark.createDataFrame(featureDrop)
      .toDF("feature_id", "geometry", "props")
    val (good, _) = Features.splitGeomQuarantine(Features.normalize(drop))
    Features.extent(good, "features")
  }

  /** The (variable, model) pairs a seasonal-forecast drop carries —
    * one NetCDF per pair in the reference; a constant of the forecast
    * system, literal in both engines. */
  val SeriesCombos: Seq[(String, String)] =
    Seq(("view", "ec"), ("view", "mf"), ("click", "ec"), ("click", "mf"))

  /** Multi-(variable, model) station-feature assembly
    * (`ingestor_smhi_process_vector.py:186-210` `_process_feature`:
    * each per-NetCDF `{var}_{model}` time series attaches as a
    * property of the station's ONE point feature — first series
    * creates the feature, later ones merge onto it by id). In
    * DataFrame terms that merge-by-id loop is a grouped PIVOT over
    * the literal combo set: one (station, var, model, day) daily
    * aggregation, then one station group emitting each combo's
    * day-ordered series — two exchanges total regardless of combo
    * count (the reference's per-file feature-list scan is O(files ×
    * stations)).
    *
    * Series render as comma-joined INTEGER cents ordered by day
    * (exact and engine-identical — float→string formatting is not
    * portable, integers are), with the station's own day axis as the
    * shared `time` property, exactly the feature-properties shape the
    * reference writes. */
  def stationFeatureSeries(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("event_type").isin(SeriesCombos.map(_._1).distinct: _*))
      .select(col("user_id").as("station"),
        col("event_type").as("var"),
        when(col("event_id") % 2 === 0, "ec").otherwise("mf").as("model"),
        TimeSeries.dayLabel,
        TimeSeries.cents(col("value")).as("cents"))
      .groupBy(col("station"), col("var"), col("model"), col("day"))
      .agg(floor(sum(col("cents")).cast("double") / count(lit(1)) + 0.5)
        .cast("long").as("c"))
    val comboCols = SeriesCombos.map { case (v, m) =>
      array_join(transform(
        array_sort(collect_list(when(col("var") === v && col("model") === m,
          struct(col("day"), col("c"))))),
        s => s.getField("c").cast("string")), ",").as(s"${v}_$m")
    }
    daily.groupBy(col("station"))
      .agg(array_join(sort_array(collect_set(col("day"))), ",").as("time"),
        comboCols: _*)
      .select(Seq(col("station"),
        graft.operators.Climate.pseudoLon(col("station")).as("lon"),
        graft.operators.Climate.pseudoLat(col("station")).as("lat"),
        col("time")) ++ SeriesCombos.map { case (v, m) =>
          col(s"${v}_$m") }: _*)
  }
}
