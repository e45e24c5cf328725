package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Climate

/** Collection registry — the pygeoapi catalog config re-expressed as
  * data derived FROM the data (`ingestor_cds_process.py:232-372`
  * `update_config`: each ingestor patches collection id / bbox /
  * time extent into the catalog; here the registry is one DataFrame
  * computed from the collections themselves, so it can never drift).
  *
  * Each per-collection summary is a single min/max/count aggregate —
  * at scale these compile to parquet-footer-statistics scans plus a
  * tiny all-to-one agg, and the union is O(collections) rows.
  */
object Catalog {

  /** Per-collection metadata: id, row count, time extent (when the
    * collection has event time), bbox (when it has a spatial key). */
  def collections(spark: SparkSession, dir: String): DataFrame = {
    def plain(name: String): DataFrame =
      Tables.load(spark, dir, name).agg(count(lit(1)).as("n_rows"))
        .select(lit(name).as("collection_id"), col("n_rows"),
          lit(null).cast("string").as("time_start"),
          lit(null).cast("string").as("time_end"),
          lit(null).cast("double").as("min_lon"),
          lit(null).cast("double").as("max_lon"),
          lit(null).cast("double").as("min_lat"),
          lit(null).cast("double").as("max_lat"))

    def timed(name: String, tsCol: String): DataFrame =
      Tables.load(spark, dir, name).agg(
        count(lit(1)).as("n_rows"),
        date_format(min(col(tsCol)), "yyyy-MM-dd HH:mm:ss").as("time_start"),
        date_format(max(col(tsCol)), "yyyy-MM-dd HH:mm:ss").as("time_end"))
        .select(lit(name).as("collection_id"), col("n_rows"),
          col("time_start"), col("time_end"),
          lit(null).cast("double").as("min_lon"),
          lit(null).cast("double").as("max_lon"),
          lit(null).cast("double").as("min_lat"),
          lit(null).cast("double").as("max_lat"))

    val events = Tables.events(spark, dir)
      .withColumn("lat", Climate.pseudoLat(col("user_id")))
      .withColumn("lon", Climate.pseudoLon(col("user_id")))
      .agg(
        count(lit(1)).as("n_rows"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("time_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("time_end"),
        min(col("lon")).as("min_lon"), max(col("lon")).as("max_lon"),
        min(col("lat")).as("min_lat"), max(col("lat")).as("max_lat"))
      .select(lit("events").as("collection_id"), col("n_rows"),
        col("time_start"), col("time_end"),
        col("min_lon"), col("max_lon"), col("min_lat"), col("max_lat"))

    val parts = Seq(
      plain("region"), plain("nation"), plain("customer"), plain("supplier"),
      plain("part"),
      timed("orders", "o_orderdate"), timed("lineitem", "l_shipdate"),
      events, plain("documents"), plain("embeddings"))
    parts.reduce(_.unionByName(_))
  }

  /** Catalog-wide health report — the reference's
    * `collection_healthcheck.py` loop (probe every collection in the
    * catalog config, report status per registry row), minus the HTTP
    * probe: one row PER CATALOGED COLLECTION with its row count,
    * newest timestamp, staleness vs the newest data anywhere in the
    * lake, and a status verdict. Timeless collections (dimension
    * tables) report `static`; empty ones `empty`; timed ones
    * `fresh`/`stale` against a 24h lag threshold.
    *
    * Scale shape: [[collections]] is a union of footer-stats
    * aggregates (O(collections) rows total) that the report needs
    * TWICE (rows + the lake-wide max) — `localCheckpoint` materializes
    * the O(collections)-row registry so each underlying table is
    * scanned exactly once, not once per reference (the corpus_mix
    * sketch pattern). The lake max is then a 1-row scalar aggregate
    * broadcast-cross-joined back — never a partition-less window. */
  def health(spark: SparkSession, dir: String): DataFrame =
    healthOf(collections(spark, dir))

  /** The freshness verdicts over ANY registry frame
    * (collection_id, n_rows, time_start, time_end) — the lake-relative
    * staleness rule shared by the test-lake lane above and the
    * published-output registry a [[Schedule.scheduledIngest]] cycle
    * reads back. */
  def healthOf(registry: DataFrame): DataFrame = {
    val reg = registry
      .withColumn("end_ts", to_timestamp(col("time_end")))
      .localCheckpoint()
    val lakeMax = reg.agg(max(col("end_ts")).as("lake_max_ts"))
    reg.crossJoin(broadcast(lakeMax))
      // 4dp hours from INTEGER microsecond arithmetic: one 360000-µs
      // quantum is 1e-4 h, so floor((d + half-quantum) / quantum) is
      // half-up rounding computed exactly (numerator is an exact
      // double < 2^53 and a k/360000 rational can't sit within an ulp
      // of an integer) — a chained double divide-then-scale rounds
      // twice and diverges from DuckDB on exact .00005 boundaries.
      .withColumn("lag_hours",
        floor((unix_micros(col("lake_max_ts")) - unix_micros(col("end_ts"))
          + lit(180000L)) / lit(360000.0)) / lit(1e4))
      .select(col("collection_id"), col("n_rows"), col("time_end"),
        col("lag_hours"),
        // coalesce: a timeless (static) collection is NOT fresh — and a
        // nullable boolean would round-trip differently per engine
        coalesce(col("lag_hours") <= 24.0, lit(false)).as("is_fresh"),
        when(col("n_rows") === 0, "empty")
          .when(col("end_ts").isNull, "static")
          .when(col("lag_hours") <= 24.0, "fresh")
          .otherwise("stale").as("status"))
  }

  /** Diff two registry snapshots: added / removed / changed /
    * unchanged per collection — what the reference's config-merge
    * step actually changes when it folds a run's new collection
    * entry into the pygeoapi config (`ingestor_cds_process.py:232-372`
    * `update_config`; `ingestor_knmi_evapo_fc.py:343-344`
    * `update_zarr_config` / `update_db_config` overwrite entries in
    * place, so the delta is never recorded — this op IS that audit
    * record). Null-safe compares; a FULL OUTER join on the collection
    * id — O(collections) rows on both sides, so the join is trivially
    * broadcastable at any lake size. */
  def diffRegistries(prev: DataFrame, cur: DataFrame): DataFrame = {
    val p = prev.select(col("collection_id"),
      col("n_rows").as("prev_rows"), col("time_end").as("prev_end"))
    val c = cur.select(col("collection_id"),
      col("n_rows").as("cur_rows"), col("time_end").as("cur_end"))
    p.join(c, Seq("collection_id"), "full_outer")
      .select(col("collection_id"),
        when(col("prev_rows").isNull, "added")
          .when(col("cur_rows").isNull, "removed")
          .when(col("prev_rows") <=> col("cur_rows") &&
            col("prev_end") <=> col("cur_end"), "unchanged")
          .otherwise("changed").as("status"),
        col("prev_rows"), col("cur_rows"), col("prev_end"), col("cur_end"))
  }

  /** Object-name zero-padding normalizer — the lake-side fix for the
    * reference's `add_leading_zero.sh` (single-digit ensemble-member
    * markers `_rX_` rename to `_r0X_` so LEXICOGRAPHIC listing order
    * equals numeric member order; an object store lists names
    * lexicographically, so unpadded names silently interleave r1,
    * r10, r11, r2…). Per listing batch: the canonical padded name
    * (the sed rule verbatim — single digit only), whether the file
    * needed padding, and BOTH rank columns — the raw lexicographic
    * rank and the true numeric rank — so `misordered` rows quantify
    * exactly which listings a naive consumer would read out of order.
    * Shape: the synthetic listing is O(periods × members), ranks are
    * two frames on one window sort per period, everything else is
    * elementwise regex in the scan stage. */
  def nameNormalize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val members = (0 until 13).toDF("r")
    val files = Tables.events(spark, dir)
      .select(date_format(date_trunc("MONTH", col("ts")), "yyyyMM").as("ym"))
      .distinct()
      .crossJoin(broadcast(members))
      .select(col("ym"), col("r"),
        concat(lit("knmi_fc_"), col("ym"), lit("_r"), col("r"), lit("_tp.nc"))
          .as("name"))
    val wLex = Window.partitionBy(col("ym")).orderBy(col("name"))
    val wNum = Window.partitionBy(col("ym")).orderBy(col("r"))
    files
      .withColumn("canonical",
        regexp_replace(col("name"), "_r([0-9])_", "_r0$1_"))
      .withColumn("was_padded", col("canonical") =!= col("name"))
      .withColumn("lex_rank", rank().over(wLex))
      .withColumn("num_rank", rank().over(wNum))
      .withColumn("misordered", col("lex_rank") =!= col("num_rank"))
  }

  /** The MapServer layer drop: (layer, feature_id, WKT). Five layers
    * exercise every classification branch of the reference's
    * `get_geomtype` — pure points, pure polygons, pure lines, a
    * mixed-type layer and an unmappable geometry type (the reference
    * raises on the last two; here they register as `unsupported`). */
  private[graft] val mapsLayerDrop: Seq[(String, Long, String)] = {
    val stations = (0 until 6).map { i =>
      ("stations", i.toLong,
        s"POINT(${-70.0 + i * 12.5} ${-30.0 + i * 9.5})")
    }
    val basins = (0 until 3).map { j =>
      val x0 = -10.0 + j * 20.0; val y0 = 5.0 + j * 10.0
      ("basins", 100L + j,
        s"POLYGON(($x0 $y0, ${x0 + 15.5} $y0, ${x0 + 15.5} ${y0 + 8.5}, $x0 ${y0 + 8.5}, $x0 $y0))")
    }
    val rivers = (0 until 3).map { k =>
      val x0 = 2.0 + k * 7.0
      ("rivers", 200L + k,
        s"LINESTRING($x0 ${40.0 + k}, ${x0 + 3.5} ${42.5 + k}, ${x0 + 5.0} ${46.0 + k})")
    }
    val mixed = Seq(
      ("mixed_bag", 300L, "POINT(11.5 48.0)"),
      ("mixed_bag", 301L, "POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))"))
    val weird = Seq(
      ("clouds", 400L, "GEOMETRYCOLLECTION(POINT(1 2))"))
    stations ++ basins ++ rivers ++ mixed ++ weird
  }

  /** MAPS-API LAYER REGISTRY — the MapServer layer/style registry
    * analog (`ingestor_maps_api.py:105-147`: `get_geomtype` maps the
    * layer's geometry types onto MS_LAYER_POINT / MS_LAYER_POLYGON /
    * MS_LAYER_LINE and `update_config` writes the resource row with
    * the layer's total bbox, EPSG:4326 CRS, MapScript provider
    * options, SLD style path, shapefile data path and png format).
    * One registry row per layer, derived FROM the layer's features:
    * a layer whose features map to exactly one MapServer type is
    * `ok` with that type; mixed or unmappable geometry types (the
    * reference raises ProcessorExecuteError) register `unsupported`
    * with a null type — the registry records the refusal instead of
    * crashing the catalog pass.
    *
    * Scale shape: WKT coordinate extraction is elementwise regex in
    * the scan stage (bbox per feature from the numeric token array —
    * even 0-based positions are lons, odd are lats, covering POINT /
    * single-ring POLYGON / LINESTRING alike), then ONE O(layers)
    * aggregation; output is O(layers) rows. */
  def mapsRegistry(spark: SparkSession, dir: String): DataFrame = {
    val drop = spark.createDataFrame(mapsLayerDrop)
      .toDF("layer", "feature_id", "geometry")
    val nums = transform(
      regexp_extract_all(col("geometry"), lit("-?[0-9]+(\\.[0-9]+)?"), lit(0)),
      v => v.cast("double"))
    val xs = filter(nums, (_, i) => i % 2 === 0)
    val ys = filter(nums, (_, i) => i % 2 === 1)
    val gtype = upper(regexp_extract(col("geometry"), "^\\s*([A-Za-z]+)", 1))
    val msType = when(col("gtype").isin("POINT", "MULTIPOINT"),
        "MS_LAYER_POINT")
      .when(col("gtype").isin("POLYGON", "MULTIPOLYGON"), "MS_LAYER_POLYGON")
      .when(col("gtype").isin("LINESTRING", "MULTILINESTRING"),
        "MS_LAYER_LINE")
    drop
      .withColumn("gtype", gtype)
      .withColumn("ms_type", msType)
      .withColumn("fminx", array_min(xs)).withColumn("fmaxx", array_max(xs))
      .withColumn("fminy", array_min(ys)).withColumn("fmaxy", array_max(ys))
      .groupBy(col("layer"))
      .agg(count(lit(1)).as("n_features"),
        count(col("ms_type")).as("n_typed"),
        count_distinct(col("ms_type")).as("n_types"),
        min(col("ms_type")).as("one_type"),
        min(col("fminx")).as("min_lon"), max(col("fmaxx")).as("max_lon"),
        min(col("fminy")).as("min_lat"), max(col("fmaxy")).as("max_lat"))
      .select(concat(lit("maps_api_"), col("layer")).as("resource_id"),
        col("layer"),
        when(col("n_types") === 1 && col("n_typed") === col("n_features"),
          col("one_type")).as("ms_layer_type"),
        when(col("n_types") === 1 && col("n_typed") === col("n_features"),
          lit("ok")).otherwise(lit("unsupported")).as("status"),
        col("n_features"),
        col("min_lon"), col("min_lat"), col("max_lon"), col("max_lat"),
        lit("EPSG:4326").as("crs"),
        concat(lit("/sld/"), col("layer"), lit(".sld")).as("style_path"),
        concat(lit("/shp/"), col("layer"), lit("/"), col("layer"),
          lit(".shp")).as("data_path"),
        lit("png").as("fmt"))
  }

  /** [[diffRegistries]] as a self-contained query: the PRIOR snapshot
    * is reconstructed from the lake itself (a real deployment diffs
    * two persisted O(collections)-row registry parquets instead): the
    * timed tables cut mid-history, `documents`/`embeddings` absent
    * (onboarded since), plus a retired `legacy_grib` entry (removed
    * since). BOTH snapshots of a table come out of ONE scan — the
    * prior rows/extent are conditional aggregates (`sum(when(pred))`,
    * `max(when(pred, ts))`) beside the current ones, so the lake is
    * read once, not once per snapshot; the O(collections)-row pair
    * table is `localCheckpoint`ed so the two projections feeding the
    * diff don't re-run the scans. */
  def registryDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def both(df: DataFrame, name: String,
        prevPred: Option[Column], inPrev: Boolean = true,
        tsCol: Option[String] = None): DataFrame = {
      val fmt = "yyyy-MM-dd HH:mm:ss"
      val curEnd = tsCol.fold(lit(null).cast("string"))(c =>
        date_format(max(col(c)), fmt))
      val prevEnd = (tsCol, prevPred) match {
        case (Some(c), Some(p)) => date_format(max(when(p, col(c))), fmt)
        case _                  => lit(null).cast("string")
      }
      val prevRows = prevPred.fold(count(lit(1)))(p =>
        sum(when(p, 1L).otherwise(0L)))
      df.agg(count(lit(1)).as("cur_rows"), curEnd.as("cur_end"),
          prevRows.as("prev_rows"), prevEnd.as("prev_end"))
        .select(lit(name).as("collection_id"),
          col("cur_rows"), col("cur_end"),
          (if (inPrev) col("prev_rows") else lit(null).cast("long"))
            .as("prev_rows"),
          (if (inPrev) col("prev_end") else lit(null).cast("string"))
            .as("prev_end"))
    }
    def dim(name: String) = both(Tables.load(spark, dir, name), name, None)
    def timed(name: String, c: String, cutoff: String) =
      both(Tables.load(spark, dir, name), name,
        Some(col(c) < lit(cutoff).cast("date")), tsCol = Some(c))
    val combined = Seq(
      dim("region"), dim("nation"), dim("customer"), dim("supplier"),
      dim("part"),
      timed("orders", "o_orderdate", "1995-06-01"),
      timed("lineitem", "l_shipdate", "1995-06-01"),
      both(Tables.events(spark, dir), "events",
        Some(col("ts") < lit("2024-01-16 00:00:00").cast("timestamp")),
        tsCol = Some("ts")),
      both(Tables.documents(spark, dir), "documents", None, inPrev = false),
      both(Tables.embeddings(spark, dir), "embeddings", None, inPrev = false))
      .reduce(_.unionByName(_)).localCheckpoint()
    val legacy = Seq(("legacy_grib", 42L, null.asInstanceOf[String]))
      .toDF("collection_id", "n_rows", "time_end")
    val prev = combined.filter(col("prev_rows").isNotNull)
      .select(col("collection_id"), col("prev_rows").as("n_rows"),
        col("prev_end").as("time_end"))
      .unionByName(legacy)
    val cur = combined.select(col("collection_id"),
      col("cur_rows").as("n_rows"), col("cur_end").as("time_end"))
    diffRegistries(prev, cur)
  }

  /** Register a bucketed copy of a DataFrame: hash-bucketed and
    * sorted by the join key, stored as an external table. Two tables
    * bucketed the same way join WITHOUT any shuffle — the pattern for
    * fact⋈fact joins that repeat across a workload (orders⋈customer
    * at 100 TB): pay the partitioning once at write time, reuse it in
    * every downstream join. */
  def bucketize(df: DataFrame, key: String, numBuckets: Int,
      table: String, path: String): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, key).sortBy(key)
      .option("path", path)
      .saveAsTable(table)

  /** Publish side of the ingest loop: write a time-series batch as a
    * DAY-partitioned parquet collection and return its registry row
    * (id, row count, time extent) — the reference's write-to-S3 +
    * `update_config` step in one call. Day partitioning is what makes
    * the read side's time predicates prune at the directory level
    * (partition pruning before row-group skipping); the registry row
    * is computed from the data itself, so the catalog can never
    * drift from the collection. */
  def publish(df: DataFrame, tsCol: String, collectionId: String,
      outDir: String): DataFrame = {
    val path = s"$outDir/$collectionId"
    df.withColumn("p_day", to_date(col(tsCol)))
      .write.mode("overwrite").partitionBy("p_day")
      .parquet(path)
    // registry row from the WRITTEN files, not the input plan — the
    // plan may be an arbitrarily expensive pipeline (publish would
    // otherwise execute it twice), and reading back also registers
    // exactly what landed on disk (footer-stats min/max scan).
    df.sparkSession.read.parquet(path).agg(
      count(lit(1)).as("n_rows"),
      date_format(min(col(tsCol)), "yyyy-MM-dd HH:mm:ss").as("time_start"),
      date_format(max(col(tsCol)), "yyyy-MM-dd HH:mm:ss").as("time_end"))
      .select(lit(collectionId).as("collection_id"), col("n_rows"),
        col("time_start"), col("time_end"))
  }

  /** Publish a GEOMETRY collection (no event time): partitioned by a
    * coarse spatial grid cell of the feature's bbox CENTROID — the
    * spatial analogue of [[publish]]'s day partitioning. Returns the
    * registry row in [[collections]] shape (bbox extent, null time).
    *
    * Pruning contract: because the cell is the CENTROID's cell, a
    * feature can extend outside it — a naive `p_cx/p_cy ∈ query
    * cells` filter would silently drop large features whose centroid
    * sits in a neighboring cell. Directory pruning is therefore only
    * safe through [[readSpatial]], which widens the cell range by the
    * collection's max feature extent; publishers of collections with
    * features larger than `maxExtentDeg` must pass the true bound at
    * read time (or use a larger `cellDeg`). Points (extent 0) prune
    * with no widening. */
  def publishSpatial(df: DataFrame, collectionId: String, outDir: String,
      cellDeg: Double = 10.0): DataFrame = {
    val path = s"$outDir/$collectionId"
    df
      .withColumn("p_cy",
        floor((col("miny") + col("maxy")) / 2 / cellDeg).cast("int"))
      .withColumn("p_cx",
        floor((col("minx") + col("maxx")) / 2 / cellDeg).cast("int"))
      .write.mode("overwrite").partitionBy("p_cy", "p_cx")
      .parquet(path)
    df.sparkSession.read.parquet(path).agg(
      count(lit(1)).as("n_rows"),
      min(col("minx")).as("min_lon"), max(col("maxx")).as("max_lon"),
      min(col("miny")).as("min_lat"), max(col("maxy")).as("max_lat"))
      .select(lit(collectionId).as("collection_id"), col("n_rows"),
        lit(null).cast("string").as("time_start"),
        lit(null).cast("string").as("time_end"),
        col("min_lon"), col("max_lon"), col("min_lat"), col("max_lat"))
  }

  /** SAFE bbox read over a [[publishSpatial]] collection: directory
    * pruning on the centroid-cell partition columns, WIDENED so no
    * intersecting feature can be missed, plus the exact bbox residual
    * filter on the per-feature bbox columns.
    *
    * Correctness: a feature with width/height ≤ `maxExtentDeg` whose
    * bbox intersects the query rectangle has its centroid within
    * `maxExtentDeg / 2` of the rectangle, so scanning every cell the
    * expanded rectangle touches covers all candidates; everything
    * else is pruned at the directory level before any file is opened.
    * With the default `maxExtentDeg = 0` (point collections) the cell
    * range is exactly the query's own cells. */
  def readSpatial(spark: SparkSession, outDir: String, collectionId: String,
      minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
      cellDeg: Double = 10.0, maxExtentDeg: Double = 0.0): DataFrame = {
    val half = maxExtentDeg / 2
    def cell(v: Double): Int = math.floor(v / cellDeg).toInt
    spark.read.parquet(s"$outDir/$collectionId")
      .filter(col("p_cy").between(cell(minLat - half), cell(maxLat + half)) &&
        col("p_cx").between(cell(minLon - half), cell(maxLon + half)))
      .filter(!(col("maxx") < minLon || col("minx") > maxLon ||
        col("maxy") < minLat || col("miny") > maxLat))
  }

  /** Incremental re-publish — the reference's actual scheduled-run
    * semantics: every cron tick re-ingests a slice that OVERLAPS what
    * is already published (late data, revised forecasts) and must
    * replace exactly the affected time range. [[publish]]'s static
    * overwrite would drop the WHOLE collection to write one day;
    * dynamic partition overwrite replaces only the day partitions
    * present in the incoming batch and leaves every other day's
    * files untouched — at a 10-year collection scale, the difference
    * between rewriting terabytes nightly and rewriting one day.
    * Write-only: [[publishedRegistry]] reads the merged collection back. */
  def publishIncremental(df: DataFrame, tsCol: String, collectionId: String,
      outDir: String): Unit =
    df.withColumn("p_day", to_date(col(tsCol)))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("p_day")
      .parquet(s"$outDir/$collectionId")

  /** The registry frame of a PUBLISHED output lake — one
    * (collection_id, n_rows, time_start, time_end) row per collection
    * that [[publishIncremental]] has landed under `outDir`. This is the
    * read-back half of a scheduled ingest cycle: after the due ticks
    * run, the lake itself (not the runner's bookkeeping) says what
    * exists, and
    * [[healthOf]] turns it into freshness verdicts. Never-published
    * pipelines simply have no row. Stats-only scans — min/max/count
    * per collection. */
  def publishedRegistry(spark: SparkSession, outDir: String,
      collectionIds: Seq[String], tsCol: String = "ts"): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val frames = collectionIds.flatMap { id =>
      val path = s"$outDir/$id"
      if (fs.exists(new org.apache.hadoop.fs.Path(path)))
        Some(spark.read.parquet(path).agg(
          count(lit(1)).as("n_rows"),
          date_format(min(col(tsCol)), "yyyy-MM-dd HH:mm:ss").as("time_start"),
          date_format(max(col(tsCol)), "yyyy-MM-dd HH:mm:ss").as("time_end"))
          .select(lit(id).as("collection_id"), col("n_rows"),
            col("time_start"), col("time_end")))
      else None
    }
    if (frames.isEmpty) {
      import spark.implicits._
      Seq.empty[(String, Long, String, String)]
        .toDF("collection_id", "n_rows", "time_start", "time_end")
    } else frames.reduce(_ unionByName _)
  }

  /** Small-file COMPACTION of a published collection — the scheduled
    * maintenance pass every incrementally-published lake needs:
    * [[publishIncremental]] ticks land a few files per day partition
    * each run, and at 100 TB the accumulated small files dominate
    * open/seek latency and inflate scan task counts far past the data
    * volume. One `repartition(p_day)` shuffle reorganizes EVERY
    * partition in a single job (each day hashes to one task → one
    * file per day) — never a per-partition driver loop. The compacted
    * copy is written BESIDE the live directory and swapped in with
    * two renames. Honestly stated, the swap is NOT atomic: a reader
    * never sees a half-written layout (the staging dir is invisible
    * until renamed), but between rename(live→retired) and
    * rename(stage→live) the live path briefly does not exist, so a
    * reader racing that instant errors and must retry — the seam a
    * table format's commit log (or an object store's atomic pointer
    * flip) would close. A crash inside that window is RECOVERED on
    * the next call: if live is missing but a retired copy exists,
    * the retired copy is renamed back before compacting, so the
    * collection is never permanently offline and no data is
    * stranded. Content is unchanged, so the registry row stays
    * valid; returns the compacted row count for the caller's audit. */
  def compact(spark: SparkSession, outDir: String, collectionId: String): Long = {
    val path = s"$outDir/$collectionId"
    val staging = s"$outDir/$collectionId.compacting"
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(path)
    val stage = new org.apache.hadoop.fs.Path(staging)
    val retired = new org.apache.hadoop.fs.Path(path + ".retired")
    // crash recovery: a previous compact that died between its two
    // renames left the data in .retired and no live dir — put it back
    if (!fs.exists(live) && fs.exists(retired) &&
        !fs.rename(retired, live))
      throw new java.io.IOException(s"compaction recovery failed for $path")
    spark.read.parquet(path)
      .repartition(col("p_day"))
      .write.mode("overwrite").partitionBy("p_day").parquet(staging)
    if (fs.exists(retired)) fs.delete(retired, true)
    if (!fs.rename(live, retired) || !fs.rename(stage, live))
      throw new java.io.IOException(s"compaction swap failed for $path")
    fs.delete(retired, true)
    spark.read.parquet(path).count()
  }
}
