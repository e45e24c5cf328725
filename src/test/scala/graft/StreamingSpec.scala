package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.Catalog
import graft.streaming.{EventsPipeline, VectorsPipeline}

case class StreamVec(ts: Timestamp, vec_id: Long, emb: Seq[Double])

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

class StreamingSpec extends SparkSpec {

  private def t(s: String): Timestamp = Timestamp.valueOf(s)

  test("hourlyRollup over MemoryStream: windows close as the watermark advances") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[Ev]
    val q = EventsPipeline.hourlyRollup(source.toDF())
      .writeStream.format("memory").queryName("rollup")
      .outputMode("append").start()
    try {
      // wave 1: two 10:00-hour clicks, one 11:00-hour view
      source.addData(
        Ev(1, t("2024-01-01 10:05:00"), 1, "click", 2.0, "{}"),
        Ev(2, t("2024-01-01 10:45:00"), 2, "click", 3.0, "{}"),
        Ev(3, t("2024-01-01 11:10:00"), 1, "view", 5.0, "{}"))
      q.processAllAvailable()
      // append mode: nothing emitted yet (watermark at 09:10)
      // wave 2: event far enough ahead to close the 10:00 window
      source.addData(Ev(4, t("2024-01-01 14:00:00"), 3, "view", 1.0, "{}"))
      q.processAllAvailable()
      val out = spark.table("rollup").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
      // watermark = 14:00 - 2h = 12:00 → both the 10:00 and 11:00 windows closed
      assert(out === Set(
        ("2024-01-01 10:00:00.0", "click", 2L, 5.0),
        ("2024-01-01 11:00:00.0", "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("dangerAlerts: threshold crossings emit once on window close, 'low' never pages") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[Ev]
    val q = EventsPipeline.dangerAlerts(source.toDF())
      .writeStream.format("memory").queryName("alerts")
      .outputMode("append").start()
    try {
      // four stations, one hour-block each: below threshold, medium,
      // high, extreme — plus a second low reading that must not page
      source.addData(
        Ev(1, t("2024-01-01 10:05:00"), 1, "level", 70.0, "{}"),
        Ev(2, t("2024-01-01 10:10:00"), 2, "level", 100.0, "{}"),
        Ev(3, t("2024-01-01 10:20:00"), 3, "level", 150.0, "{}"),
        Ev(4, t("2024-01-01 10:30:00"), 4, "level", 200.0, "{}"),
        Ev(5, t("2024-01-01 10:40:00"), 2, "level", 60.0, "{}"))
      q.processAllAvailable()
      // nothing closed yet (watermark still behind the window end)
      source.addData(Ev(6, t("2024-01-01 14:00:00"), 1, "level", 10.0, "{}"))
      q.processAllAvailable()
      val out = spark.table("alerts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getDouble(2), r.getString(3))).toSet
      assert(out === Set(
        (2L, "2024-01-01 10:00:00.0", 100.0, "medium"),
        (3L, "2024-01-01 10:00:00.0", 150.0, "high"),
        (4L, "2024-01-01 10:00:00.0", 200.0, "extreme")))
      // station 1 (70.0 max → low) never appears
      assert(!out.exists(_._1 == 1L))
    } finally q.stop()
  }

  test("hourlyRollup is batch/stream agnostic: same result on the static table") {
    val batch = EventsPipeline.hourlyRollup(Tables.events(spark, sf))
    val expect = Tables.events(spark, sf)
      .groupBy(date_trunc("HOUR", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    assert(batch.count() === expect.count())
    assert(batch.except(expect).isEmpty && expect.except(batch).isEmpty)
  }

  test("runOnce: scheduled incremental drain writes the rollup, checkpointed") {
    val tmp = Files.createTempDirectory("graft-stream").toFile.getAbsolutePath
    val drop = s"$tmp/drop"; new java.io.File(drop).mkdirs()
    Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$drop/events.parquet"))
    val q = EventsPipeline.runOnce(spark, drop, s"$tmp/ckpt", s"$tmp/out")
    q.awaitTermination(120000)
    val out = spark.read.parquet(s"$tmp/out")
    // append mode emits only watermark-closed windows; the final open
    // hours stay in state, so the count is positive but below the total
    val allWindows = Tables.events(spark, sf)
      .select(date_trunc("HOUR", col("ts")), col("event_type")).distinct().count()
    assert(out.count() > 0)
    assert(out.count() <= allWindows)
    assert(out.columns.toSeq ===
      Seq("window_start", "event_type", "n", "sum_value"))
  }

  test("geojson: features roundtrip through a JSON parse, collection well-formed") {
    import graft.sources.GeoJson
    val ev = Tables.events(spark, sf).limit(50)
      .withColumn("lat", graft.operators.Climate.pseudoLat(col("user_id")))
      .withColumn("lon", graft.operators.Climate.pseudoLon(col("user_id")))
      .select("event_id", "event_type", "value", "lat", "lon")
    val feats = GeoJson.features(ev, "lat", "lon")
    assert(feats.count() === 50)
    // parse one back with Spark's JSON reader and check shape
    val parsed = spark.read.json(spark.createDataset(
      feats.limit(5).collect().map(_.getString(0)).toSeq)(
      org.apache.spark.sql.Encoders.STRING))
    assert(parsed.select("type").collect().forall(_.getString(0) == "Feature"))
    assert(parsed.select("geometry.type").collect()
      .forall(_.getString(0) == "Point"))
    assert(parsed.columns.contains("properties"))
    val doc = GeoJson.featureCollection(ev, "lat", "lon")
    assert(doc.startsWith("""{"type":"FeatureCollection","features":[{"""))
    assert(doc.endsWith("]}"))
  }

  test("catalog: one registry row per collection, extents derived from data") {
    val rows = Catalog.collections(spark, sf).collect()
    assert(rows.length === 10)
    val byId = rows.map(r => r.getString(0) -> r).toMap
    assert(byId("events").getAs[Long]("n_rows") ===
      Tables.events(spark, sf).count())
    assert(byId("events").getAs[String]("time_start").startsWith("2024-01-01"))
    assert(byId("events").getAs[Double]("max_lat") <= 90.0)
    assert(byId("orders").getAs[String]("time_start") != null)
    assert(byId("documents").getAs[String]("time_start") == null)
  }

  test("catalog_health: verdicts correct per regime, lake max joins as a broadcast") {
    val rows = Catalog.health(spark, sf).collect()
    assert(rows.length === 10)
    val byId = rows.map(r => r.getString(0) -> r).toMap
    // events holds the lake-wide max -> fresh with zero lag
    assert(byId("events").getAs[String]("status") === "fresh")
    assert(byId("events").getAs[Double]("lag_hours") === 0.0)
    assert(byId("events").getAs[Boolean]("is_fresh"))
    // timeless dimension tables are static, never fresh
    Seq("region", "customer", "documents").foreach { c =>
      assert(byId(c).getAs[String]("status") === "static", c)
      assert(!byId(c).getAs[Boolean]("is_fresh"), c)
    }
    // the 2001-dated TPC-H facts lag the 2024 events by years
    Seq("orders", "lineitem").foreach { c =>
      assert(byId(c).getAs[String]("status") === "stale", c)
      assert(byId(c).getAs[Double]("lag_hours") > 24.0, c)
    }
    // scale shape: the 1-row lake max must come back as a BROADCAST
    // nested-loop join, never a shuffled join or unhinted cartesian
    val plan = Catalog.health(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(400))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
  }

  test("catalog_maps_registry: layer types classified from features, bbox from coords, unsupported layers recorded not crashed") {
    val rows = Catalog.mapsRegistry(spark, sf).collect()
      .map(r => r.getAs[String]("layer") -> r).toMap
    assert(rows.keySet === Set("stations", "basins", "rivers",
      "mixed_bag", "clouds"))
    // get_geomtype mapping, derived from the layer's own features
    assert(rows("stations").getAs[String]("ms_layer_type") === "MS_LAYER_POINT")
    assert(rows("basins").getAs[String]("ms_layer_type") === "MS_LAYER_POLYGON")
    assert(rows("rivers").getAs[String]("ms_layer_type") === "MS_LAYER_LINE")
    // mixed and unmappable geometry types: the reference RAISES;
    // the registry records the refusal instead
    Seq("mixed_bag", "clouds").foreach { l =>
      assert(rows(l).getAs[String]("status") === "unsupported", l)
      assert(rows(l).getAs[String]("ms_layer_type") == null, l)
    }
    // total_bounds replay from the drop literals: stations span the
    // 6 points' coordinate range
    val st = rows("stations")
    assert(st.getAs[Double]("min_lon") === -70.0)
    assert(st.getAs[Double]("max_lon") === -70.0 + 5 * 12.5)
    assert(st.getAs[Double]("min_lat") === -30.0)
    assert(st.getAs[Double]("max_lat") === -30.0 + 5 * 9.5)
    assert(st.getAs[Long]("n_features") === 6L)
    // the update_config resource row shape: id, crs, style, data, fmt
    assert(st.getAs[String]("resource_id") === "maps_api_stations")
    assert(st.getAs[String]("crs") === "EPSG:4326")
    assert(st.getAs[String]("style_path") === "/sld/stations.sld")
    assert(st.getAs[String]("data_path") === "/shp/stations/stations.shp")
    assert(st.getAs[String]("fmt") === "png")
    // a linestring's bbox comes from ALL its vertices, not endpoints
    val rv = rows("rivers")
    assert(rv.getAs[Double]("max_lat") === 48.0) // 46.0 + k=2
    assert(rv.getAs[Double]("min_lon") === 2.0)
  }

  test("catalog_name_normalize: padding fixes lexicographic order, misorder census exact") {
    val rows = SparkEntry.queries("catalog_name_normalize")(spark, sf)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getString(3), r.getBoolean(4), r.getInt(5), r.getInt(6),
        r.getBoolean(7)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (ym, fs) =>
      assert(fs.length === 13, s"$ym members")
      // single-digit members pad (including r0 -> r00, the sed rule
      // verbatim); double-digit names pass through
      fs.foreach { f =>
        if (f._2 <= 9) {
          assert(f._5 && f._4 === f._3.replace(s"_r${f._2}_", s"_r0${f._2}_"))
        } else assert(!f._5 && f._4 === f._3)
      }
      // the raw listing IS misordered (r10 sorts before r1) and the
      // flags match an independent lexicographic recompute
      val lex = fs.sortBy(_._3).map(_._2)
      assert(lex !== fs.sortBy(_._2).map(_._2), s"$ym raw order broken")
      val expectMis = fs.map(f =>
        f._2 -> (lex.indexOf(f._2) + 1 != f._2 + 1)).toMap
      fs.foreach(f => assert(f._8 === expectMis(f._2), s"$ym r${f._2}"))
      // after padding, lexicographic equals numeric
      assert(fs.sortBy(_._4).map(_._2).toSeq === (0 to 12).toSeq, s"$ym fixed")
    }
  }

  test("catalog_diff: all four status regimes, n_rows deltas consistent") {
    val rows = SparkEntry.queries("catalog_diff")(spark, sf).collect()
    val status = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(status === Map(
      "documents" -> "added", "embeddings" -> "added",
      "legacy_grib" -> "removed",
      "orders" -> "changed", "lineitem" -> "changed", "events" -> "changed",
      "region" -> "unchanged", "nation" -> "unchanged",
      "customer" -> "unchanged", "supplier" -> "unchanged",
      "part" -> "unchanged"))
    rows.foreach { r =>
      val (prevNull, curNull) = (r.isNullAt(2), r.isNullAt(3))
      r.getString(1) match {
        case "added"   => assert(prevNull && !curNull)
        case "removed" => assert(!prevNull && curNull)
        case _ =>
          assert(!prevNull && !curNull)
          // a time-sliced snapshot can only shrink
          assert(r.getLong(2) <= r.getLong(3), s"prev > cur: $r")
      }
    }
  }

  test("streamingDedup: re-dropped documents dedupe at the door, state watermark-bounded") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    case class Doc(doc_id: Long, ts: Timestamp, text: String)
    val source = MemoryStream[(Long, Timestamp, String)]
    val docs = source.toDF().toDF("doc_id", "ts", "text")
    val q = EventsPipeline.streamingDedup(docs)
      .writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      source.addData(
        (1L, t("2024-01-01 10:00:00"), "alpha beta"),
        (2L, t("2024-01-01 10:01:00"), "  Alpha   BETA "), // same normalized content
        (3L, t("2024-01-01 10:02:00"), "gamma"))
      q.processAllAvailable()
      // the overlapping re-ingest: same docs land again in the next batch
      source.addData(
        (4L, t("2024-01-01 10:30:00"), "alpha beta"),
        (5L, t("2024-01-01 10:31:00"), "delta"))
      q.processAllAvailable()
      val ids = spark.table("sdedup").collect().map(_.getAs[Long]("doc_id")).sorted
      // one survivor per distinct normalized content: 1 (or its dup 2) kept once,
      // 3 and 5 unique, 4 dropped as a within-horizon duplicate
      assert(ids.length === 3, s"got ${ids.mkString(",")}")
      assert(ids.contains(3L) && ids.contains(5L))
      assert(!(ids.contains(1L) && ids.contains(2L)))
      assert(!ids.contains(4L))
    } finally q.stop()
  }

  test("streamingTiles: batch-identical tile math, windows close on the watermark") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[Ev]
    val q = EventsPipeline.streamingTiles(source.toDF())
      .writeStream.format("memory").queryName("stiles")
      .outputMode("append").start()
    try {
      // user 0: lat -87.5, lon -177.5; user 71: lat -87.5+(71%36)*5 = 87.5,
      // lon 177.5 — opposite corners of the world grid
      source.addData(
        Ev(1, t("2024-01-01 10:05:00"), 0, "click", 2.0, "{}"),
        Ev(2, t("2024-01-01 10:45:00"), 0, "click", 3.0, "{}"),
        Ev(3, t("2024-01-01 10:50:00"), 71, "view", 5.0, "{}"))
      q.processAllAvailable()
      // advance the watermark past 10:00 + 1h window + 2h delay
      source.addData(Ev(9, t("2024-01-01 14:00:00"), 0, "click", 1.0, "{}"))
      q.processAllAvailable()
      val rows = spark.table("stiles").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)) ->
          ((r.getLong(4), r.getLong(5)))).toMap
      // zoom 0: the whole world is one tile — all three events land in it
      assert(rows((0L, 0L, 0L)) === ((3L, 1000L)))
      // zoom 1: user 0 in (0, 1) with 2 clicks (200 + 300 cents);
      // user 71's lat 87.5 -> y 0, lon 177.5 -> x 1
      assert(rows((1L, 0L, 1L)) === ((2L, 500L)))
      assert(rows((1L, 1L, 0L)) === ((1L, 500L)))
      // tile math identical to the batch operator: user 0 at zoom 3
      // buckets to x = floor(2.5/360*8) = 0, y = floor(177.5/180*8) = 7
      assert(rows.contains((3L, 0L, 7L)))
      // the 14:00 window is still open — nothing emitted for it
      assert(rows.values.map(_._1).sum === 3L * 4)
    } finally q.stop()
  }

  test("nearDupAlerts: reordered content alerts once, horizon prunes old fingerprints") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[(Long, Timestamp, String)]
    val docs = source.toDF().toDF("doc_id", "ts", "text")
    val q = EventsPipeline.nearDupAlerts(docs)
      .writeStream.format("memory").queryName("neardup")
      .outputMode("append").start()
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // same token MULTISET, different byte content: identical simhash
    // (the sums are order-free), invisible to the exact-md5 lane
    val aShuffled = "kappa iota theta eta zeta epsilon delta gamma beta alpha"
    try {
      source.addData(
        (1L, t("2024-01-01 10:00:00"), a),
        (2L, t("2024-01-01 10:01:00"), aShuffled),
        (3L, t("2024-01-01 10:02:00"), "totally different words entirely here"))
      q.processAllAvailable()
      // doc4 repeats doc1 verbatim: collides with BOTH buffered
      // fingerprints, one alert per pair (all four chunks agree; the
      // smallest-agreeing-chunk rule must still emit exactly once)
      source.addData((4L, t("2024-01-01 10:05:00"), a))
      q.processAllAvailable()
      // 14:30 arrival: every buffered fingerprint is > 2h older than
      // this row — pruned on access, so the same content no longer alerts
      source.addData((5L, t("2024-01-01 14:30:00"), a))
      q.processAllAvailable()
      val got = spark.table("neardup").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_of"),
          r.getAs[Int]("hamming"))).toSet
      assert(got === Set((2L, 1L, 0), (4L, 1L, 0), (4L, 2L, 0)),
        s"got $got")
    } finally q.stop()
  }

  test("streaming sessionize: sessions close on gap + watermark, emitted once") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[(Long, Timestamp, Double)]
    val ev = source.toDF().toDF("user_id", "ts", "value")
    val q = EventsPipeline.sessionize(ev)
      .writeStream.format("memory").queryName("ssess")
      .outputMode("append").start()
    try {
      // two bursts for user 1 separated by >30 min -> two sessions
      source.addData(
        (1L, t("2024-01-01 10:00:00"), 1.0),
        (1L, t("2024-01-01 10:10:00"), 2.0),
        (1L, t("2024-01-01 11:30:00"), 5.0))
      q.processAllAvailable()
      // advance event time far enough that the 1h watermark passes
      // both session ends (10:40 and 12:00); watermark updates at
      // batch boundaries, so a third batch triggers the emission
      source.addData((2L, t("2024-01-01 14:00:00"), 0.0))
      q.processAllAvailable()
      source.addData((2L, t("2024-01-01 14:01:00"), 0.0))
      q.processAllAvailable()
      val rows = spark.table("ssess").collect()
      val u1 = rows.filter(_.getAs[Long]("user_id") == 1L).map { r =>
        (r.getAs[Timestamp]("session_start").toString,
          r.getAs[Timestamp]("session_end").toString,
          r.getAs[Long]("n_events"), r.getAs[Double]("session_value"))
      }.sortBy(_._1)
      assert(u1.toSeq === Seq(
        ("2024-01-01 10:00:00.0", "2024-01-01 10:40:00.0", 2L, 3.0),
        ("2024-01-01 11:30:00.0", "2024-01-01 12:00:00.0", 1L, 5.0)))
      // user 2's session is still open inside the watermark: not emitted
      assert(rows.forall(_.getAs[Long]("user_id") == 1L))
    } finally q.stop()
  }

  test("settledObs: keep-last revision wins, late lower-seq ignored, emits once on settle") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[EventsPipeline.ObsRev]
    val q = EventsPipeline.settledObs(source.toDS())
      .writeStream.format("memory").queryName("settled")
      .outputMode("append").start()
    try {
      val t0 = t("2024-01-01 10:00:00")
      // original + revision for station 1; a clean single delivery
      // for station 2 at the same obs time
      source.addData(
        EventsPipeline.ObsRev(1L, t0, 1L, 10.0),
        EventsPipeline.ObsRev(1L, t0, 3L, 12.0),
        EventsPipeline.ObsRev(2L, t0, 2L, 20.0))
      q.processAllAvailable()
      // a LATE lower-seq delivery must not override the seq-3 winner
      source.addData(EventsPipeline.ObsRev(1L, t0, 2L, 11.0))
      q.processAllAvailable()
      assert(spark.table("settled").count() === 0, "nothing settles inside horizon")
      // advance the watermark past obs_ts + settle(1h) + watermark(1h)
      source.addData(EventsPipeline.ObsRev(9L, t("2024-01-01 13:00:00"), 1L, 0.0))
      q.processAllAvailable()
      source.addData(EventsPipeline.ObsRev(9L, t("2024-01-01 13:01:00"), 2L, 0.0))
      q.processAllAvailable()
      val rows = spark.table("settled").collect()
        .map(r => r.getAs[Long]("station") ->
          ((r.getAs[Double]("value"), r.getAs[Int]("n_revisions"),
            r.getAs[Long]("last_seq")))).toMap
      assert(rows(1L) === ((12.0, 3 - 1, 3L)),
        "station 1: seq-3 revision wins, two competing arrivals counted")
      assert(rows(2L) === ((20.0, 0, 2L)), "station 2: unrevised passes")
      // each settled observation emitted exactly once
      assert(spark.table("settled")
        .groupBy("station", "ts").count().filter(col("count") > 1).isEmpty)
    } finally q.stop()
  }

  test("settledObs at volume: 1e5 events, state rows bounded by the watermark+settle horizon, settled+in-flight conserves the input") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[EventsPipeline.ObsRev]
    val q = EventsPipeline.settledObs(source.toDS())
      .writeStream.format("memory").queryName("settled_vol")
      .outputMode("append").start()
    try {
      // 200 stations × one obs per minute × 500 minutes = 100,000
      // keys, fed in 10 time-ordered 50-minute batches so the
      // watermark advances through the run
      val base = t("2024-01-01 00:00:00").getTime
      val nStations = 200; val nMinutes = 500; val batchMin = 50
      val t0 = System.nanoTime()
      var peak = 0L
      (0 until nMinutes by batchMin).foreach { m0 =>
        val batch = for {
          m <- m0 until (m0 + batchMin); s <- 0 until nStations
        } yield EventsPipeline.ObsRev(s.toLong,
          new Timestamp(base + m * 60000L), 1L, m.toDouble)
        source.addData(batch: _*)
        q.processAllAvailable()
        val rows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        peak = math.max(peak, rows)
        // in-flight keys are those the watermark (1h delay) has not
        // yet carried past the 1h settle: ts > maxTs − 2h, i.e. at
        // most 120 minutes × 200 stations, + one batch of slack
        assert(rows <= nStations.toLong * (120 + batchMin),
          s"state rows $rows after minute ${m0 + batchMin}")
      }
      val settled = spark.table("settled_vol").count()
      val finalRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      // conservation: every key either settled (emitted once) or is
      // still in flight — nothing dropped, nothing duplicated
      assert(settled + finalRows === nStations.toLong * nMinutes,
        s"settled $settled + state $finalRows")
      assert(settled > 0 && finalRows > 0)
      val secs = (System.nanoTime() - t0) / 1e9
      info(f"100k events in $secs%.1f s (${100000 / secs}%.0f ev/s); " +
        s"peak state rows $peak (ceiling ${nStations * 170})")
    } finally q.stop()
  }

  test("nearDupAlerts at volume: 1e5 docs, bucket-key state bounded by the 4x12-bit signature space") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[(Long, Timestamp, String)]
    val docs = source.toDF().toDF("doc_id", "ts", "text")
    val q = EventsPipeline.nearDupAlerts(docs)
      .writeStream.format("memory").queryName("neardup_vol")
      .outputMode("append").start()
    try {
      // 100,000 distinct-content docs over 500 minutes (200/min), in
      // 5 time-ordered batches. The state key space is STRUCTURALLY
      // capped: 4 chunks × 2^12 signature values = 16,384 buckets no
      // matter the rate, and each bucket's entry list caps at 50.
      val base = t("2024-01-01 00:00:00").getTime
      val t0 = System.nanoTime()
      var peak = 0L
      (0 until 5).foreach { b =>
        val batch = (0 until 20000).map { i =>
          val id = b * 20000L + i
          val min = (id / 200).toInt
          (id, new Timestamp(base + min * 60000L),
            s"tok${id} alpha${id % 977} beta${id % 881} gamma${id % 769} " +
              s"delta${id % 647} epsilon${id % 523}")
        }
        source.addData(batch: _*)
        q.processAllAvailable()
        val rows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        peak = math.max(peak, rows)
        assert(rows <= 4L * 4096L, s"bucket keys $rows after batch $b")
      }
      val secs = (System.nanoTime() - t0) / 1e9
      info(f"100k docs in $secs%.1f s (${100000 / secs}%.0f docs/s); " +
        s"peak bucket-state rows $peak (structural ceiling 16384)")
    } finally q.stop()
  }

  test("stateful anomalies: running Welford state flags a 3-sigma outlier") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[EventsPipeline.Obs]
    val q = EventsPipeline.anomalies(source.toDS())
      .writeStream.format("memory").queryName("anoms")
      .outputMode("append").start()
    try {
      // warm-up: 12 tight observations around 50 — no flags
      source.addData((1 to 12).map(i =>
        EventsPipeline.Obs(i, 7L, 50.0 + (i % 3))): _*)
      q.processAllAvailable()
      assert(spark.table("anoms").count() === 0)
      // next batch: one wild value + one normal — only the wild flags,
      // proving state survived the micro-batch boundary
      source.addData(EventsPipeline.Obs(13, 7L, 500.0),
        EventsPipeline.Obs(14, 8L, 500.0)) // user 8 has no history: no flag
      q.processAllAvailable()
      val out = spark.table("anoms").as[EventsPipeline.Anomaly].collect()
      assert(out.map(_.event_id).toSeq === Seq(13L))
      assert(out.head.z > 3.0)
    } finally q.stop()
  }

  test("bucketize: co-bucketed tables join with zero shuffle exchanges") {
    val tmp = Files.createTempDirectory("graft-bucket").toFile.getAbsolutePath
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a sort-merge join so the exchange (or its absence) is visible
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Catalog.bucketize(Tables.orders(spark, sf)
        .select("o_orderkey", "o_custkey", "o_totalprice"),
        "o_custkey", 8, "orders_b", s"$tmp/orders_b")
      Catalog.bucketize(Tables.customer(spark, sf)
        .select("c_custkey", "c_mktsegment"),
        "c_custkey", 8, "customer_b", s"$tmp/customer_b")
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"),
          col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      val expect = Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf),
          col("o_custkey") === col("c_custkey")).count()
      assert(joined.count() === expect)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("pipelines: SPI drought product composes derive + publish end to end") {
    val tmp = Files.createTempDirectory("graft-pipeline").toFile.getAbsolutePath
    val reg = graft.operators.Pipelines.spiZonalPublish(spark, sf, tmp).collect()(0)
    assert(reg.getString(0) === "spi_zonal")
    assert(reg.getAs[Long]("n_rows") === Tables.events(spark, sf).count())
    val back = spark.read.parquet(s"$tmp/spi_zonal")
    assert(back.count() === reg.getAs[Long]("n_rows"))
    assert(Seq("event_id", "user_id", "spi", "zone_y", "zone_x", "drought")
      .forall(back.columns.contains))
    // SPI is a standardized index: flagged droughts exist and are rare-ish
    val droughts = back.filter(col("drought")).count()
    assert(droughts > 0 && droughts < back.count() / 2)
  }

  test("forecastVerificationPublish: scorecard sections match the standalone queries") {
    val tmp = Files.createTempDirectory("graft-fcv").toFile.getAbsolutePath
    val reg = graft.operators.Pipelines
      .forecastVerificationPublish(spark, sf, tmp).collect()(0)
    assert(reg.getString(0) === "forecast_verification")
    assert(reg.getLong(1) === 3L)
    val landed = spark.read.parquet(s"$tmp/forecast_verification")
    val bySection = landed.groupBy("section").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySection === Map(
      "crps" -> SparkEntry.queries("forecast_crps")(spark, sf).count(),
      "rank_hist" -> SparkEntry.queries("forecast_rank_hist")(spark, sf).count(),
      "bias_skill" -> SparkEntry.queries("bias_skill")(spark, sf).count()))
    assert(reg.getLong(2) === bySection.values.sum)
  }

  test("curationAuditPublish: three audit sections land, rows match the standalone queries") {
    val tmp = Files.createTempDirectory("graft-audit").toFile.getAbsolutePath
    val reg = graft.operators.Pipelines.curationAuditPublish(spark, sf, tmp)
      .collect()(0)
    assert(reg.getString(0) === "curation_audit")
    assert(reg.getLong(1) === 3L, "three audit sections")
    val landed = spark.read.parquet(s"$tmp/curation_audit")
    val bySection = landed.groupBy("audit").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = Map(
      "lsh_recall" -> SparkEntry.queries("dedup_lsh_audit")(spark, sf).count(),
      "semantic_sweep" ->
        SparkEntry.queries("dedup_semantic_sweep")(spark, sf).count(),
      "ann_recall" -> SparkEntry.queries("ann_recall_audit")(spark, sf).count())
    assert(bySection === expected)
    assert(reg.getLong(2) === expected.values.sum)
    // the sweep section's items are exactly the emitted thresholds
    val sweepItems = landed.filter(col("audit") === "semantic_sweep")
      .select("item").collect().map(_.getString(0)).toSet
    val taus = SparkEntry.queries("dedup_semantic_sweep")(spark, sf)
      .select("tau").collect().map(_.getDouble(0).toString).toSet
    assert(sweepItems === taus)
  }

  test("hydroProfilePublish: one profile row per station, consistent with the oracle-checked parts") {
    val tmp = Files.createTempDirectory("graft-hydro").toFile.getAbsolutePath
    val reg = graft.operators.Pipelines.hydroProfilePublish(spark, sf, tmp)
      .collect()(0)
    assert(reg.getString(0) === "hydro_profile")
    val back = spark.read.parquet(s"$tmp/hydro_profile").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(reg.getAs[Long]("n_stations") === back.size.toLong)
    // profile columns agree with the oracle-checked standalone queries
    val fdc = SparkEntry.queries("flow_duration_curve")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val mk = SparkEntry.queries("ts_mann_kendall")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    back.foreach { case (u, r) =>
      assert(r.getDouble(1) === fdc((u, 5L)), s"q5 station $u")
      assert(r.getDouble(2) === fdc((u, 50L)), s"q50 station $u")
      assert(r.getDouble(3) === fdc((u, 95L)), s"q95 station $u")
      assert(r.getString(5) === mk(u), s"trend station $u")
      assert(r.getDouble(1) >= r.getDouble(2) &&
        r.getDouble(2) >= r.getDouble(3), s"Q5 ≥ Q50 ≥ Q95 station $u")
      assert(r.getDouble(6) >= 0.0, s"drawdown station $u")
    }
    val rising = back.values.count(_.getString(5) == "increasing").toLong
    val falling = back.values.count(_.getString(5) == "decreasing").toLong
    assert(reg.getAs[Long]("n_rising") === rising)
    assert(reg.getAs[Long]("n_falling") === falling)
  }

  test("qcPublish: despiked + climatology-flagged series lands with consistent registry") {
    val tmp = Files.createTempDirectory("graft-qc").toFile.getAbsolutePath
    val reg = graft.operators.Pipelines.qcPublish(spark, sf, tmp).collect()(0)
    assert(reg.getString(0) === "events_qc")
    assert(reg.getAs[Long]("n_rows") === Tables.events(spark, sf).count())
    val back = spark.read.parquet(s"$tmp/events_qc")
    assert(back.count() === reg.getAs[Long]("n_rows"))
    // flags agree with the oracle-checked batch query, row for row
    val batch = SparkEntry.queries("ts_climatology_anomaly")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toMap
    back.collect().foreach { r =>
      val z = if (r.isNullAt(5)) None else Some(r.getDouble(5))
      assert(z === batch(r.getLong(0)))
      assert(r.getBoolean(6) === z.exists(v => math.abs(v) > 3.0))
    }
    // the median column is the despiked twin of the raw value
    val med = SparkEntry.queries("ts_rolling_median")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    back.collect().foreach(r => assert(r.getDouble(4) === med(r.getLong(0))))
  }

  test("catalog publish: day-partitioned write, registry row matches the data") {
    val tmp = Files.createTempDirectory("graft-publish").toFile.getAbsolutePath
    val ev = Tables.events(spark, sf)
    val reg = Catalog.publish(ev, "ts", "events_daily", tmp).collect()(0)
    assert(reg.getString(0) === "events_daily")
    assert(reg.getAs[Long]("n_rows") === ev.count())
    // the written collection reads back complete, with day partitions
    val back = spark.read.parquet(s"$tmp/events_daily")
    assert(back.count() === ev.count())
    assert(back.columns.contains("p_day"))
    val days = new java.io.File(s"$tmp/events_daily").listFiles()
      .count(_.getName.startsWith("p_day="))
    assert(days > 1)
    // partition pruning: a one-day slice reads a single directory
    val oneDay = back.filter(col("p_day") === "2024-01-02")
    assert(oneDay.count() ===
      ev.filter(to_date(col("ts")) === "2024-01-02").count())
  }

  test("streamPublish: two scheduled ticks, re-dropped day replaced, checkpoint skips old files") {
    val tmp = Files.createTempDirectory("graft-spub").toFile.getAbsolutePath
    val drop = s"$tmp/drop"; new java.io.File(drop).mkdirs()
    // drop files carry the normalized TimestampType ts — the shape the
    // stream's declared eventSchema (and runOnce) consumes
    val raw = Tables.events(spark, sf)
    val day = to_date(col("ts"))
    def dayCount(d: String): Long = raw.filter(day === d).count()
    // tick 1: a drop carrying complete days 1-2
    raw.filter(day.between("2024-01-01", "2024-01-02"))
      .write.mode("append").parquet(drop)
    EventsPipeline.streamPublish(spark, drop, s"$tmp/ckpt", s"$tmp/cat", "ev")
      .awaitTermination(120000)
    val back1 = spark.read.parquet(s"$tmp/cat/ev")
    assert(back1.filter(col("p_day") === "2024-01-01").count() === dayCount("2024-01-01"))
    assert(back1.filter(col("p_day") === "2024-01-02").count() === dayCount("2024-01-02"))
    // tick 2: a REVISED complete day 2 (halved) plus a new day 3 lands
    // in the drop dir; the checkpoint must skip tick 1's files
    raw.filter(day === "2024-01-02").limit((dayCount("2024-01-02") / 2).toInt)
      .unionByName(raw.filter(day === "2024-01-03"))
      .write.mode("append").parquet(drop)
    EventsPipeline.streamPublish(spark, drop, s"$tmp/ckpt", s"$tmp/cat", "ev")
      .awaitTermination(120000)
    val back2 = spark.read.parquet(s"$tmp/cat/ev")
    // day 1 untouched, day 2 REPLACED (not appended), day 3 added
    assert(back2.filter(col("p_day") === "2024-01-01").count() === dayCount("2024-01-01"))
    assert(back2.filter(col("p_day") === "2024-01-02").count() === dayCount("2024-01-02") / 2)
    assert(back2.filter(col("p_day") === "2024-01-03").count() === dayCount("2024-01-03"))
  }

  test("publishIncremental: overlapping re-ingest replaces only its own days") {
    val tmp = Files.createTempDirectory("graft-pubinc").toFile.getAbsolutePath
    val ev = Tables.events(spark, sf)
    val d = to_date(col("ts"))
    // full publish of days 1-5
    val base = ev.filter(d.between("2024-01-01", "2024-01-05"))
    Catalog.publish(base, "ts", "inc", tmp).collect()
    val day3Before = spark.read.parquet(s"$tmp/inc")
      .filter(col("p_day") === "2024-01-03").count()
    // scheduled re-run: a REVISED day 3 (halved) plus a new day 6
    val slice = ev.filter(d === "2024-01-03")
      .limit((day3Before / 2).toInt)
      .unionByName(ev.filter(d === "2024-01-06"))
    Catalog.publishIncremental(slice, "ts", "inc", tmp)
    val reg = Catalog.publishedRegistry(spark, tmp, Seq("inc")).collect()(0)
    val back = spark.read.parquet(s"$tmp/inc")
    // day 3 was REPLACED by the revision, not appended to
    assert(back.filter(col("p_day") === "2024-01-03").count() === day3Before / 2)
    // untouched days survive byte-for-byte (same row counts)
    Seq("2024-01-01", "2024-01-02", "2024-01-04", "2024-01-05").foreach { day =>
      assert(back.filter(col("p_day") === day).count() ===
        base.filter(d === day).count(), s"day $day clobbered")
    }
    // the new day landed and the registry row covers the merged extent
    assert(back.filter(col("p_day") === "2024-01-06").count() ===
      ev.filter(d === "2024-01-06").count())
    assert(reg.getAs[Long]("n_rows") === back.count())
    assert(reg.getAs[String]("time_start").startsWith("2024-01-01"))
    assert(reg.getAs[String]("time_end").startsWith("2024-01-06"))
  }

  test("compact: many files per day collapse to one, content and partitions intact") {
    val tmp = Files.createTempDirectory("graft-compact").toFile.getAbsolutePath
    val ev = Tables.events(spark, sf).filter(
      to_date(col("ts")).between("2024-01-01", "2024-01-04"))
    // fragment the collection: publish, then re-publish each day as its
    // own incremental tick with extra shuffle partitions per batch
    Catalog.publish(ev.repartition(4), "ts", "frag", tmp).collect()
    Seq("2024-01-02", "2024-01-03").foreach { day =>
      Catalog.publishIncremental(
        ev.filter(to_date(col("ts")) === day).repartition(4),
        "ts", "frag", tmp)
    }
    def dataFiles(day: String): Int =
      new java.io.File(s"$tmp/frag/p_day=$day")
        .listFiles().count(_.getName.endsWith(".parquet"))
    val before = spark.read.parquet(s"$tmp/frag")
    val rowsBefore = before.count()
    val byDayBefore = before.groupBy(col("p_day")).count().collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(dataFiles("2024-01-02") > 1, "fixture must actually be fragmented")
    val compacted = Catalog.compact(spark, tmp, "frag")
    assert(compacted === rowsBefore)
    val after = spark.read.parquet(s"$tmp/frag")
    assert(after.count() === rowsBefore)
    byDayBefore.keys.foreach { day =>
      assert(dataFiles(day) === 1, s"day $day not compacted")
      assert(after.filter(col("p_day") === day).count() === byDayBefore(day))
    }
    // no leftover staging/retired directories after the swap
    assert(!new java.io.File(s"$tmp/frag.compacting").exists())
    assert(!new java.io.File(s"$tmp/frag.retired").exists())

    // crash recovery: simulate a compact that died between its two
    // renames — live gone, data stranded in .retired — and verify the
    // next compact restores and completes instead of erroring out
    assert(new java.io.File(s"$tmp/frag")
      .renameTo(new java.io.File(s"$tmp/frag.retired")))
    val recovered = Catalog.compact(spark, tmp, "frag")
    assert(recovered === rowsBefore)
    assert(spark.read.parquet(s"$tmp/frag").count() === rowsBefore)
    assert(!new java.io.File(s"$tmp/frag.retired").exists())
  }

  test("scoreAgainstClimatology: stream verdicts equal the batch twin bit-for-bit") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val clim = graft.operators.TimeSeries.climatologyFit(Tables.events(spark, sf))
      .localCheckpoint()
    val evs = Tables.events(spark, sf).collect().map(r => Ev(r.getLong(0),
      r.getTimestamp(1), r.getLong(2), r.getString(3), r.getDouble(4),
      r.getString(5)))
    val source = MemoryStream[Ev]
    val q = EventsPipeline.scoreAgainstClimatology(source.toDF(), clim)
      .writeStream.format("memory").queryName("climscore")
      .outputMode("append").start()
    try {
      source.addData(evs.toSeq)
      q.processAllAvailable()
      val got = spark.table("climscore").collect()
        .map(r => r.getLong(0) -> ((r.getDouble(5),
          if (r.isNullAt(6)) None else Some(r.getDouble(6)),
          r.getBoolean(7)))).toMap
      val batch = SparkEntry.queries("ts_climatology_anomaly")(spark, sf)
        .collect().map(r => r.getLong(0) -> ((r.getDouble(4),
          if (r.isNullAt(5)) None else Some(r.getDouble(5))))).toMap
      assert(got.size === batch.size)
      batch.foreach { case (id, (anom, z)) =>
        val (sAnom, sZ, flag) = got(id)
        assert(sAnom === anom, s"anom for event $id")
        assert(sZ === z, s"z for event $id")
        assert(flag === z.exists(v => math.abs(v) > 3.0))
      }
    } finally q.stop()
  }

  test("enrichWithRecentPurchases: stream-stream interval join, bounded horizon") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = EventsPipeline
      .enrichWithRecentPurchases(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      purchases.addData(
        Ev(100, t("2024-01-01 09:00:00"), 1, "purchase", 9.0, "{}"),  // >1h before → out
        Ev(101, t("2024-01-01 10:00:00"), 1, "purchase", 7.5, "{}"),  // in horizon
        Ev(102, t("2024-01-01 11:30:00"), 2, "purchase", 4.0, "{}"),  // after click → out
        Ev(103, t("2024-01-01 10:20:00"), 3, "purchase", 2.0, "{}"))  // other user
      clicks.addData(
        Ev(1, t("2024-01-01 10:30:00"), 1, "click", 1.0, "{}"),
        Ev(2, t("2024-01-01 11:00:00"), 2, "click", 2.0, "{}"),
        Ev(3, t("2024-01-01 10:45:00"), 9, "click", 3.0, "{}"))       // no purchases
      q.processAllAvailable()
      val out = spark.table("enriched").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(6)))
        .toSet
      // inner join emits as matches arrive; only (click 1 × purchase 101)
      // satisfies user + [click_ts - 1h, click_ts]
      assert(out === Set((1L, 1L, 101L, 7.5)))
    } finally q.stop()
  }

  test("streaming drought episodes: wet close, state across batches, watermark force-close") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import EventsPipeline.{Episode, IndexedObs}
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val source = MemoryStream[IndexedObs]
    val q = EventsPipeline.droughtEpisodes(source.toDS(), idleGapMinutes = 60)
      .writeStream.format("memory").queryName("episodes")
      .outputMode("append").start()
    try {
      // key 1: two dry obs then a wet one → closes within the batch;
      // key 2: two dry obs, feed then goes quiet (timeout path);
      // an unscored obs (None) must neither extend nor close key 1
      source.addData(
        IndexedObs(1L, t("2024-01-01 00:00:00"), Some(-1.5)),
        IndexedObs(1L, t("2024-01-01 00:10:00"), None),
        IndexedObs(1L, t("2024-01-01 00:20:00"), Some(-2.0)),
        IndexedObs(1L, t("2024-01-01 00:30:00"), Some(0.5)),
        IndexedObs(2L, t("2024-01-01 00:00:00"), Some(-1.2)),
        IndexedObs(2L, t("2024-01-01 00:15:00"), Some(-1.3)))
      q.processAllAvailable()
      val first = spark.table("episodes").as[Episode].collect()
      assert(first.map(_.user_id).toSeq === Seq(1L))
      val e1 = first.head
      assert(e1.t_start === t("2024-01-01 00:00:00") &&
        e1.t_end === t("2024-01-01 00:20:00"))
      assert(e1.n_obs === 2 && e1.peak === -2.0 && e1.severity === 3.5)
      // a far-future event advances the watermark (max ts − 1h) well
      // past key 2's timeout (last dry 00:15 + 60 min) → force-close
      source.addData(IndexedObs(9L, t("2024-01-01 06:00:00"), Some(0.0)))
      q.processAllAvailable()
      // one more batch so the timeout registered above actually fires
      source.addData(IndexedObs(9L, t("2024-01-01 06:00:01"), Some(0.0)))
      q.processAllAvailable()
      val all = spark.table("episodes").as[Episode].collect()
      val e2s = all.filter(_.user_id == 2L)
      assert(e2s.length === 1, s"timeout close missing: ${all.toSeq}")
      val e2 = e2s.head
      assert(e2.t_start === t("2024-01-01 00:00:00") &&
        e2.t_end === t("2024-01-01 00:15:00"))
      assert(e2.n_obs === 2 && e2.peak === -1.3 && e2.severity === 2.5)
    } finally q.stop()
  }

  test("trendingHeavyHitters: planted heavy item survives, counts exact under capacity, windows close on watermark") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[Ev]
    // tiny capacity (4) per shard, 1 shard -> eviction pressure is real
    val q = EventsPipeline.trendingHeavyHitters(
        source.toDF(), itemCol = "user_id", windowMinutes = 60,
        shards = 1, cap = 4)
      .writeStream.format("memory").queryName("trending")
      .outputMode("append").start()
    try {
      // 10:00 window: user 7 appears 6x, users 1..5 once each (6
      // distinct items > cap=4)
      val wave = (1 to 6).map(i =>
        Ev(i, t(s"2024-01-01 10:0$i:00"), 7L, "click", 1.0, "{}")) ++
        (1 to 5).map(i =>
          Ev(10 + i, t(s"2024-01-01 10:2$i:00"), i.toLong, "view", 1.0, "{}"))
      source.addData(wave: _*)
      q.processAllAvailable()
      assert(spark.table("trending").isEmpty, "append: window still open")
      // advance watermark past 11:00 + 1h delay
      source.addData(Ev(99, t("2024-01-01 13:00:00"), 50L, "view", 1.0, "{}"))
      q.processAllAvailable()
      val out = spark.table("trending").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(2), r.getLong(3),
          r.getLong(4)))
      val w10 = out.filter(_._1 == "2024-01-01 10:00:00.0")
      assert(w10.length <= 4, "state bounded by capacity")
      val heavy = w10.find(_._2 == "7")
      assert(heavy.isDefined, "heavy item must survive eviction pressure")
      // est >= true >= est - err for the heavy item (true = 6)
      assert(heavy.get._3 >= 6 && heavy.get._3 - heavy.get._4 <= 6)
      // top of the report is the heavy item with the largest estimate
      assert(w10.maxBy(_._3)._2 === "7")
      // the cross-shard consumer: global top-k per window, heavy first
      val topk = EventsPipeline.trendingTopK(spark.table("trending"), 3)
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1),
          r.getString(2)))
      val w10top = topk.filter(_._1 == "2024-01-01 10:00:00.0").sortBy(_._2)
      assert(w10top.nonEmpty && w10top.head._3 === "7",
        "rank 1 must be the heavy item")
      assert(w10top.map(_._2) === (1L to w10top.length))
    } finally q.stop()
  }

  test("streamingTwoLevelCensus: stream cells == the batch census bit-for-bit, window closes by watermark") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // the OFFLINE fit (memoized — the exact matrices the batch census
    // used) ships to the stream, the production serving shape
    val (sup, subs) = graft.operators.Similarity.twoLevelCentroids(spark, sf)
    val nps = graft.operators.Similarity.TwoLevelNprobeSuper
    val embs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val source = MemoryStream[StreamVec]
    val q = VectorsPipeline.streamingTwoLevelCensus(source.toDF(),
        sup, subs, nps)
      .writeStream.format("memory").queryName("tl_census")
      .outputMode("append").start()
    try {
      // the full fixture corpus arrives inside one event-time hour
      source.addData(embs.toSeq.map { case (id, e) =>
        StreamVec(t("2024-01-01 10:30:00"), id, e) }: _*)
      q.processAllAvailable()
      assert(spark.table("tl_census").isEmpty,
        "append mode: nothing emits before the watermark closes the window")
      // a sentinel far ahead closes the 10:00 window (it lands in a
      // later, still-open window and must not leak into the output)
      source.addData(StreamVec(t("2024-01-01 20:00:00"), 999999L,
        embs.head._2))
      q.processAllAvailable()
      val rows = spark.table("tl_census").collect()
      assert(rows.forall(_.getTimestamp(0).toString == "2024-01-01 10:00:00.0"),
        "only the closed window emits")
      val got = rows.map(r => ((r.getInt(1), r.getInt(2)),
        (r.getLong(3), r.getLong(4)))).toMap
      // the batch census is the SAME kernel + rollup over the same
      // vectors: per-cell parity must be exact
      val batch = SparkEntry.queries("ann_ivf_two_level")(spark, sf)
        .collect().map(r => ((r.getInt(0), r.getInt(1)),
          (r.getLong(2), r.getLong(3)))).toMap
      assert(got === batch, "stream census diverges from the batch twin")
    } finally q.stop()
  }

  test("streamingAnnServe: live queries == the batch two-level topk bit-for-bit, per closed window") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val (sup, subs) = graft.operators.Similarity.twoLevelCentroids(spark, sf)
    val corpus = Tables.spread(Tables.embeddings(spark, sf), col("vec_id"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    // the arriving queries are the batch lane's md5-drawn probe set —
    // so the stream's answers must equal the batch lane's rows exactly
    val probeSet = graft.operators.Similarity.probeIds(spark, sf).toSet
    val probes = corpus.filter(col("vec_id").isin(probeSet.toSeq.map(Long.box): _*))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val source = MemoryStream[StreamVec]
    val queries = source.toDF().select(col("ts"),
      col("vec_id").as("query_id"), col("emb").cast("array<double>").as("qe"))
    val q = VectorsPipeline.streamingAnnServe(queries, corpus,
        sup, subs, graft.operators.Similarity.TwoLevelNprobeSuper,
        graft.operators.Similarity.TwoLevelProbeCells, 10)
      .writeStream.format("memory").queryName("ann_serve")
      .outputMode("append").start()
    try {
      source.addData(probes.toSeq.map { case (id, e) =>
        StreamVec(t("2024-01-01 10:30:00"), id, e) }: _*)
      q.processAllAvailable()
      assert(spark.table("ann_serve").isEmpty,
        "append mode: nothing emits before the watermark closes")
      source.addData(StreamVec(t("2024-01-01 20:00:00"), 999999L,
        probes.head._2))
      q.processAllAvailable()
      val rows = spark.table("ann_serve").collect()
      assert(rows.forall(_.getTimestamp(0).toString == "2024-01-01 10:00:00.0"))
      val got = rows.map(r => (r.getLong(1), r.getLong(2), r.getInt(3),
        r.getDouble(4))).toSet
      val batch = SparkEntry.queries("ann_ivf_two_level_topk")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getDouble(3))).toSet
      assert(got === batch, "stream serving diverges from the batch lane")
      assert(got.map(_._1) === probeSet, "every query answered")
    } finally q.stop()
  }
}
