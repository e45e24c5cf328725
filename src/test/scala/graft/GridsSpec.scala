package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Grids

class GridsSpec extends SparkSpec {

  private lazy val wide = {
    // a decoded grid chunk: one row per (time, lat, lon), two
    // variable columns — derived deterministically from events
    Tables.events(spark, sf)
      .select(
        date_trunc("DAY", col("ts")).as("valid_time"),
        operators.Climate.pseudoLat(col("user_id")).as("latitude"),
        operators.Climate.pseudoLon(col("user_id")).as("longitude"),
        col("value").as("t2m"),
        (col("value") * 0.1).as("tp"))
      .groupBy("valid_time", "latitude", "longitude")
      .agg(round(avg(col("t2m")), 4).as("t2m"), round(avg(col("tp")), 4).as("tp"))
  }

  test("normalize melts wide variables to canonical long form") {
    val long = Grids.normalize(wide, "valid_time", "latitude", "longitude",
      Seq("t2m", "tp"))
    assert(long.columns.toSeq === Seq("time", "lat", "lon", "var", "value"))
    assert(long.count() === wide.count() * 2)
    assert(long.select("var").distinct().collect().map(_.getString(0)).sorted
      === Array("t2m", "tp"))
  }

  test("publishGrid writes zarr-like chunk partitions; read side prunes them") {
    val out = Files.createTempDirectory("graft_grids").toString
    val long = Grids.normalize(wide, "valid_time", "latitude", "longitude",
      Seq("t2m", "tp"))
    val registry = Grids.publishGrid(long, "cds_t2m_tp", out).collect().head
    assert(registry.getAs[Long]("n_rows") === long.count())
    assert(registry.getAs[Long]("n_vars") === 2L)

    // chunk-directory layout: var=... / p_day=... / lat_band=...
    val varDirs = new java.io.File(s"$out/cds_t2m_tp").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(varDirs === Array("var=t2m", "var=tp"))
    val dayDirs = new java.io.File(s"$out/cds_t2m_tp/var=t2m").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dayDirs.forall(_.startsWith("p_day=")) && dayDirs.nonEmpty)

    // a (var, band) slice returns exactly the matching rows, and the
    // partition filters reach the scan (directory-level pruning)
    val slice = Grids.readGrid(spark, "cds_t2m_tp", out)
      .filter(col("var") === "t2m" && col("lat_band") === -3)
    val expect = long.filter(col("var") === "t2m" &&
      floor(col("lat") / 30) === -3).count()
    assert(slice.count() === expect && expect > 0)
    val scan = slice.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("var#"),
      s"partition filters missing from scan: ${scan.take(300)}")

    // round-trip: long -> wide reproduces the original table
    val back = Grids.toWide(
      Grids.readGrid(spark, "cds_t2m_tp", out)
        .select(col("time"), col("lat"), col("lon"), col("var"), col("value")),
      Seq("t2m", "tp"))
    val a = wide.select(col("valid_time").as("time"), col("latitude").as("lat"),
      col("longitude").as("lon"), col("t2m"), col("tp"))
      .collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(b === a)
  }

  test("decodeDrop: a synthetic binary drop round-trips bytes -> decode -> wide -> publish -> prune -> pivot") {
    // the tifs_to_ds seam end-to-end from BYTES: one stub-codec tile
    // per (variable, day) like the reference's one-tif-per-var-month
    // drop, plus a poison file that must quarantine silently
    val dropDir = Files.createTempDirectory("graft_drop").toFile
    val vars = Seq("tp", "memberUNCERTAINTY")
    val days = Seq(19850, 19851) // epoch days
    def cell(v: String, d: Int, i: Int, j: Int): Double =
      (v.length * 1000 + d % 100 * 100 + i * 10 + j) * 0.25
    for (v <- vars; d <- days) {
      val values = Array.tabulate(4, 5)((i, j) => cell(v, d, i, j))
      val bytes = CodecFixtures.encodeTile(v, d, 45.0, 10.0, 0.5, 0.5, values)
      java.nio.file.Files.write(
        new java.io.File(dropDir, s"${v}_$d.grft").toPath, bytes)
    }
    java.nio.file.Files.write(
      new java.io.File(dropDir, "poison.grft").toPath,
      "not a tile at all".getBytes("UTF-8"))
    val decoded = Grids.decodeDrop(
      spark.read.format("binaryFile").load(dropDir.toString))
    assert(decoded.count() === vars.size * days.size * 20L)
    // spot-check one decoded cell: coordinates AND value exact
    val probe = decoded.filter(col("var") === "tp"
        && col("lat") === 45.0 - 2 * 0.5 && col("lon") === 10.0 + 3 * 0.5)
      .collect().map(r => (r.getAs[java.sql.Timestamp]("time").toLocalDateTime
        .toLocalDate.toEpochDay.toInt, r.getAs[Double]("value"))).toMap
    days.foreach(d => assert(probe(d) === cell("tp", d, 2, 3)))
    // wide = the xr.Dataset shape tifs_to_ds returns
    val wideDrop = Grids.toWide(decoded, vars)
    assert(wideDrop.count() === days.size * 20L)
    assert(wideDrop.columns.toSeq
      === Seq("time", "lat", "lon", "tp", "memberUNCERTAINTY"))
    // ...and onward through the standard lane
    val out = Files.createTempDirectory("graft_drop_pub").toString
    val long = Grids.normalize(wideDrop, "time", "lat", "lon", vars)
    val reg = Grids.publishGrid(long, "creaf_drop", out).collect().head
    assert(reg.getAs[Long]("n_rows") === vars.size * days.size * 20L)
    assert(reg.getAs[Long]("n_vars") === 2L)
    assert(reg.getAs[Double]("min_lat") === 43.5
      && reg.getAs[Double]("max_lat") === 45.0)
    // pruned slice: one variable, one day — exact values back
    val d0 = java.time.LocalDate.ofEpochDay(days.head.toLong).toString
    val slice = Grids.readGrid(spark, "creaf_drop", out)
      .filter(col("var") === "tp" && col("p_day") === d0)
    assert(slice.count() === 20L)
    slice.collect().foreach { r =>
      val i = ((45.0 - r.getAs[Double]("lat")) / 0.5).round.toInt
      val j = ((r.getAs[Double]("lon") - 10.0) / 0.5).round.toInt
      assert(r.getAs[Double]("value") === cell("tp", days.head, i, j))
    }
    // full round-trip to the wide shape is bit-exact
    val back = Grids.toWide(Grids.readGrid(spark, "creaf_drop", out)
      .select(col("time"), col("lat"), col("lon"), col("var"), col("value")),
      vars)
    assert(back.collect().map(_.toSeq).toSet
      === wideDrop.collect().map(_.toSeq).toSet)
  }

  test("readGridBandWithHalo: three pruned chunk partitions; focal mean over the halo equals the global computation") {
    val out = Files.createTempDirectory("graft_halo").toString
    val long = Grids.normalize(wide, "valid_time", "latitude", "longitude",
      Seq("t2m", "tp"))
    Grids.publishGrid(long, "halo_t2m", out)
    val bands = Grids.readGrid(spark, "halo_t2m", out)
      .select("lat_band").distinct().collect().map(_.getInt(0)).sorted
    assert(bands.length >= 3, s"need >= 3 bands, got ${bands.toSeq}")
    val core = bands(bands.length / 2)
    val halo = Grids.readGridBandWithHalo(spark, "halo_t2m", out, core)
    // rows = exactly the three bands' rows
    val expectRows = Grids.readGrid(spark, "halo_t2m", out)
      .filter(col("lat_band").isin(core - 1, core, core + 1)).count()
    assert(halo.count() === expectRows && expectRows > 0)
    // the band IN-list reaches the scan as a partition filter
    val scan = halo.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("lat_band"),
      s"partition filter missing: ${scan.take(300)}")
    // a focal latitudinal mean per CORE cell (value + the cells one
    // band-step north/south at the same lon/time/var) computed from
    // the halo'd frame equals the same computed from the full table
    def focal(df: org.apache.spark.sql.DataFrame) = {
      val nb = df.select(col("time"), col("lon"), col("var"),
        col("lat").as("nlat"), col("value").as("nv"))
      df.filter(col("lat_band") === core)
        .join(nb, Seq("time", "lon", "var"))
        .filter(abs(col("nlat") - col("lat")) <= 30.0)
        .groupBy(col("time"), col("lat"), col("lon"), col("var"))
        .agg(round(avg(col("nv")), 6).as("focal_mean"))
        .collect().map(r => (r.get(0), r.getDouble(1), r.getDouble(2),
          r.getString(3)) -> r.getDouble(4)).toMap
    }
    val viaHalo = focal(halo)
    val viaFull = focal(Grids.readGrid(spark, "halo_t2m", out))
    assert(viaHalo === viaFull && viaHalo.nonEmpty,
      "halo read is sufficient for the 1-band focal neighborhood")
  }

  test("phenologyExportPublish: bbox slice + per-day publish + time-index registry, row-for-row") {
    val out = Files.createTempDirectory("graft_pheno").toString
    // a PROPER slice of the sf0.001 pseudo-grid: stations 0-11 fall
    // inside, 12-14 outside — the bbox must actually cut something
    val bbox = (-180.0, -90.0, -120.0, -30.0)
    val reg = operators.Pipelines
      .phenologyExportPublish(spark, sf, out, "pheno", bbox).collect()
    assert(reg.length === 1)
    val row = reg.head
    // independent recompute from raw events: the bbox_filter predicate
    // + the same exact-cent daily cell mean
    val ev = Tables.events(spark, sf)
      .select(col("ts"), col("user_id"), col("value")).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
    def coords(u: Long) = ((u % 36) * 5.0 - 87.5, (u % 72) * 5.0 - 177.5)
    val inBox = ev.filter { case (_, u, _) =>
      val (la, lo) = coords(u)
      la >= bbox._2 && la <= bbox._4 && lo >= bbox._1 && lo <= bbox._3
    }
    val expect = inBox.groupBy { case (ts, u, _) =>
      (ts.toLocalDateTime.toLocalDate, coords(u))
    }.map { case ((day, (la, lo)), xs) =>
      val cents = xs.map(x => math.floor(x._3 * 100 + 0.5).toLong).sum
      (day.toString, la, lo) ->
        (math.floor(cents.toDouble * 100.0 / xs.size + 0.5) / 1e4)
    }
    // registry row: counts, extent, and the reference's time-index JSON
    assert(row.getAs[Long]("n_rows") === expect.size.toLong)
    assert(row.getAs[Long]("n_vars") === 1L)
    assert(row.getAs[Double]("min_y") === -90.0
      && row.getAs[Double]("max_x") === -120.0)
    assert(inBox.nonEmpty && inBox.size < ev.length,
      "the bbox must slice properly: some rows in, some out")
    val days = inBox.map(_._1.toLocalDateTime.toLocalDate).distinct.sorted
    val expectJson = days.map(d => "\"" + d + "T00:00:00\"")
      .mkString("{\"time\":[", ",", "]}")
    assert(row.getAs[String]("time_index") === expectJson)
    // the published collection: one prunable p_day directory per time
    // step (the per-day GeoTIFF loop, minus the loop)
    val dayDirs = new java.io.File(s"$out/pheno/var=pheno").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dayDirs.toSeq === days.map(d => s"p_day=$d"))
    // row-for-row: the landed cells equal the recompute exactly
    val landed = Grids.readGrid(spark, "pheno", out).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("time").toLocalDateTime
          .toLocalDate.toString, r.getAs[Double]("lat"),
        r.getAs[Double]("lon")) -> r.getAs[Double]("value")).toMap
    assert(landed === expect)
  }

  test("parseVarName: the reference's two-token rule, including its q_90 blind spot") {
    import spark.implicits._
    val names = Seq(
      "creaf_fc_iberia_m_pc_50_202401",  // two-part: 2 alpha + digits
      "creaf_fc_iberia_m_yield_202401",  // single token
      "creaf_fc_iberia_m_q_90_202401",   // 1-char alpha: reference rule says SINGLE
      "creaf_fc_iberia_m_tmax_202401"    // 4-char alpha: single
    ).toDF("filename")
    val (v, q) = Grids.parseVarName(col("filename"))
    val out = names.select(col("filename"), v.as("var"), q.as("q")).collect()
      .map(r => r.getString(0) -> ((r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(out("creaf_fc_iberia_m_pc_50_202401") === (("pc_50", Some(0.5))))
    assert(out("creaf_fc_iberia_m_yield_202401") === (("yield", None)))
    // the reference's len==2 guard does NOT join 'q_90' — we mirror it
    assert(out("creaf_fc_iberia_m_q_90_202401") === (("q", None)))
    assert(out("creaf_fc_iberia_m_tmax_202401") === (("tmax", None)))
  }

  test("gridAffineStack: parse drives the statistic, centroids follow the affine") {
    val out = Grids.gridAffineStack(spark, sf).cache()
    try {
      // three variables per (ym, cell)
      val byCell = out.groupBy("ym", "gy", "gx").count()
      assert(byCell.filter(col("count") =!= 3).isEmpty)
      // percentile ordering: pc_50 <= pc_90 within each (ym, cell)
      val p = out.filter(col("var").startsWith("pc_"))
        .groupBy("ym", "gy", "gx")
        .agg(min(when(col("var") === "pc_50", col("value"))).as("p50"),
          min(when(col("var") === "pc_90", col("value"))).as("p90"))
      assert(p.filter(col("p50") > col("p90")).isEmpty)
      // affine centroids: gx=0 → -9.875, gy=0 → 43.875 (exact binary)
      val c = out.filter(col("gx") === 0 && col("gy") === 0).limit(1)
        .select("x_c", "y_c").collect()(0)
      assert(c.getDouble(0) === -9.875 && c.getDouble(1) === 43.875)
      // the yield file is the plain monthly mean of daily cell means
      val probe = out.filter(col("var") === "yield").limit(1).collect()(0)
      val daily = Tables.events(spark, sf)
        .filter(col("user_id") % 8 === probe.getAs[Long]("gy") &&
          expr("user_id div 8 % 8") === probe.getAs[Long]("gx") &&
          date_format(date_trunc("MONTH", col("ts")), "yyyyMM")
            === probe.getAs[String]("ym"))
        .groupBy(date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd"))
        .agg(floor((sum(floor(col("value") * 100 + 0.5).cast("long")) * 10000L)
          .cast("double") / count(lit(1)) + 0.5).cast("long").as("v_us"))
      val mean = daily.agg(
        (floor(sum("v_us").cast("double") / count(lit(1)) / 100.0 + 0.5) / 1e4))
        .collect()(0).getDouble(0)
      assert(probe.getAs[Double]("value") === mean)
    } finally out.unpersist()
  }

  test("spiRefGridPublish: the composed drought pipeline lands a pruned grid collection") {
    val out = Files.createTempDirectory("graft_spi_grid").toString
    val reg = operators.Pipelines.spiRefGridPublish(spark, sf, out).collect().head
    assert(reg.getAs[String]("collection_id") === "spi7_ref")
    assert(reg.getAs[Long]("n_rows") === Tables.events(spark, sf).count())
    assert(reg.getAs[Long]("n_vars") === 1L)
    // the written collection is immediately sliceable by chunk keys
    val sliced = Grids.readGrid(spark, "spi7_ref", out)
      .filter(col("var") === "spi7" && col("lat_band") === -3)
    assert(sliced.count() > 0)
  }

  test("decodeAsc: the verbatim public-spec AAIGrid fixture parses to exact centres; centre registration, NODATA and quarantine behave") {
    // the canonical ESRI ASCII Grid example, verbatim from the
    // published format docs (4x6, 50-unit cells, corner-registered)
    val fixture =
      """ncols         4
        |nrows         6
        |xllcorner     0.0
        |yllcorner     0.0
        |cellsize      50.0
        |NODATA_value  -9999
        |-9999 -9999 5 2
        |-9999 20 100 36
        |3 8 35 10
        |32 42 50 6
        |88 75 27 9
        |13 5 1 -9999""".stripMargin
    val cells = Grids.decodeAsc("v", 0, fixture).toSeq
    assert(cells.length === 24 - 4, "four NODATA cells skipped")
    val byPos = cells.map(c => (c.lon, c.lat) -> c.value).toMap
    // top row (northernmost, r=0): centre lat = 0 + (6-0-1)*50 + 25
    assert(byPos((125.0, 275.0)) === 5.0)
    assert(byPos((175.0, 275.0)) === 2.0)
    // bottom row r=5: lat = 25; first value 13 at column 0
    assert(byPos((25.0, 25.0)) === 13.0)
    assert(!byPos.contains((25.0, 275.0)), "NODATA top-left absent")
    // centre registration drops the half-cell shift
    val centered = Grids.decodeAsc("v", 0,
      "ncols 2\nnrows 1\nxllcenter 10.0\nyllcenter 20.0\ncellsize 5.0\n1 2")
      .toSeq
    assert(centered.map(c => (c.lon, c.lat, c.value)).toSet ===
      Set((10.0, 20.0, 1.0), (15.0, 20.0, 2.0)))
    // header case-insensitivity and CRLF endings
    assert(Grids.decodeAsc("v", 0,
      "NCOLS 1\r\nNROWS 1\r\nXLLCORNER 0\r\nYLLCORNER 0\r\nCELLSIZE 1\r\n7")
      .toSeq.head.value === 7.0)
    // quarantine: missing header keys / short body / zero dims decode
    // to EMPTY, never throw (poison files cannot kill the job)
    assert(Grids.decodeAsc("v", 0, "ncols 2\nnrows 2\ncellsize 1\n1 2 3 4").isEmpty)
    assert(Grids.decodeAsc("v", 0,
      "ncols 2\nnrows 2\nxllcorner 0\nyllcorner 0\ncellsize 1\n1 2 3").isEmpty)
    assert(Grids.decodeAsc("v", 0,
      "ncols 0\nnrows 2\nxllcorner 0\nyllcorner 0\ncellsize 1\n").isEmpty)
    assert(Grids.decodeAsc("v", 0, "garbage").isEmpty)
  }

  test("decodeAscDrop: filename parse feeds var/day, bad names quarantined, grid_asc_decode masks NODATA") {
    import spark.implicits._
    val asc = "ncols 1\nnrows 1\nxllcorner 0\nyllcorner 0\ncellsize 1\n42"
    val out = Grids.decodeAscDrop(Seq(
        ("drops/tp_2024-03-01.asc", asc),
        ("drops/noday.asc", asc),              // no _date suffix -> skipped
        ("drops/tp_2024-13-99.asc", asc))      // unparseable date -> skipped
      .toDF("name", "text")).collect()
    assert(out.length === 1)
    assert(out(0).getString(0) === "tp")
    assert(out(0).getAs[java.sql.Timestamp](1).toLocalDateTime.toLocalDate
      .toString === "2024-03-01")
    assert(out(0).getDouble(4) === 42.0)
    // the oracle-checked query: NODATA mask cells absent, centres on
    // the quarter-degree lattice
    val rt = SparkEntry.queries("grid_asc_decode")(spark, sf).collect()
    val populated = Tables.events(spark, sf)
      .select((col("user_id") % 8).as("gy"),
        expr("user_id div 8 % 8").as("gx")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = populated.count { case (gy, gx) => (gx * 8 + gy) % 7 != 3 }
    assert(rt.length === expected, s"${rt.length} vs $expected")
    assert(rt.nonEmpty)
    rt.foreach { r =>
      assert((r.getAs[Double]("lon") + 9.875) % 0.25 === 0.0)
      assert((r.getAs[Double]("lat") - 42.125) % 0.25 === 0.0)
    }
  }

  test("decodeTiff reads the JDK writer's output: LZW and Deflate, strips and TILES, odd geometry") {
    import graft.sources.Grids
    def writeTiff(img: java.awt.image.BufferedImage, compression: String,
        tile: Option[(Int, Int)]): Array[Byte] = {
      val w = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
      val bo = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bo)
      w.setOutput(ios)
      val p = w.getDefaultWriteParam
      if (compression == "None")
        p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
      else {
        p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        p.setCompressionType(compression)
      }
      tile.foreach { case (tw, th) =>
        p.setTilingMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        p.setTiling(tw, th, 0, 0)
      }
      w.write(null, new javax.imageio.IIOImage(img, null, null), p)
      w.dispose(); ios.close()
      bo.toByteArray
    }
    val (nx, ny) = (37, 23) // odd vs any strip/tile grid
    val img = new java.awt.image.BufferedImage(nx, ny,
      java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    for (y <- 0 until ny; x <- 0 until nx)
      img.getRaster.setSample(x, y, 0, (x * 1789 + y * 977) % 65536)
    for ((compression, tile) <- Seq(
        ("LZW", None), ("Deflate", None), ("LZW", Some((16, 16))),
        ("Deflate", Some((16, 16))), ("None", Some((32, 8))))) {
      val bytes = writeTiff(img, compression, tile)
      val cells = Grids.decodeTiff("v", 0, bytes).toSeq
      assert(cells.length === nx * ny, s"$compression tile=$tile")
      // identity affine (no geo tags): lat = −(r+0.5), lon = c+0.5
      cells.foreach { cell =>
        val r = (-cell.lat - 0.5).round.toInt
        val c = (cell.lon - 0.5).round.toInt
        assert(cell.value === img.getRaster.getSample(c, r, 0).toDouble,
          s"$compression tile=$tile ($c,$r)")
      }
    }
  }

  test("encodeTiff differential vs the JDK's own TIFF reader: sample values, dims, both byte orders and DEFLATE") {
    import graft.sources.Grids
    val vals = Array.tabulate(4, 5)((y, x) => y * 10.0 + x * 0.25 - 3.5)
    for ((bigE, defl) <- Seq((false, false), (true, false),
        (false, true))) {
      val bytes = CodecFixtures.encodeTiff(-10.0, 44.0, 0.5, vals, None,
        bigEndian = bigE, deflate = defl)
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(ref != null, s"JDK TIFF reader rejected bigE=$bigE defl=$defl")
      assert((ref.getWidth, ref.getHeight) === ((5, 4)))
      val raster = ref.getRaster
      for (y <- 0 until 4; x <- 0 until 5)
        assert(raster.getSampleDouble(x, y, 0) === vals(y)(x),
          s"($x,$y) bigE=$bigE defl=$defl")
    }
  }

  test("decodeTiff: encodeTiff round trip both byte orders; NODATA skipped; area centres exact") {
    val nd = -9999.0
    val vals = Array(
      Array(1.5, 2.5, nd),
      Array(4.0, 5.25, 6.125))
    Seq(false, true).foreach { bigE =>
      val bytes = CodecFixtures.encodeTiff(-10.0, 44.0, 0.5, vals, Some(nd), bigE)
      val cells = Grids.decodeTiff("tp", 19850, bytes).toSeq
      assert(cells.length === 5, s"bigEndian=$bigE")
      val m = cells.map(c => (c.lat, c.lon) -> c.value).toMap
      assert(m((43.75, -9.75)) === 1.5)
      assert(m((43.75, -9.25)) === 2.5)
      assert(!m.contains((43.75, -8.75))) // the NODATA hole
      assert(m((43.25, -9.75)) === 4.0)
      assert(m((43.25, -9.25)) === 5.25)
      assert(m((43.25, -8.75)) === 6.125)
      assert(cells.forall(_.`var` == "tp"))
      assert(cells.head.time.toLocalDateTime.toLocalDate ===
        java.time.LocalDate.ofEpochDay(19850L))
    }
  }

  test("decodeTiff: hand-built multi-strip uint8 and float32 fixtures; malformed files quarantine") {
    import java.nio.{ByteBuffer, ByteOrder}
    def entry(b: ByteBuffer, tag: Int, typ: Int, cnt: Int, v: Long): Unit = {
      b.putShort(tag.toShort).putShort(typ.toShort).putInt(cnt)
      if (typ == 3 && cnt == 1) { b.putShort(v.toShort); b.putShort(0) }
      else b.putInt(v.toInt)
      ()
    }
    // 2×2 uint8, rowsPerStrip 1 → TWO strips, offsets/counts EXTERNAL
    val ms = ByteBuffer.allocate(250).order(ByteOrder.LITTLE_ENDIAN)
    ms.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    ms.putShort(12)
    entry(ms, 256, 3, 1, 2); entry(ms, 257, 3, 1, 2); entry(ms, 258, 3, 1, 8)
    entry(ms, 259, 3, 1, 1); entry(ms, 262, 3, 1, 1); entry(ms, 273, 4, 2, 158)
    entry(ms, 277, 3, 1, 1); entry(ms, 278, 3, 1, 1); entry(ms, 279, 4, 2, 166)
    entry(ms, 339, 3, 1, 1)
    entry(ms, 33550, 12, 3, 174); entry(ms, 33922, 12, 6, 198)
    ms.putInt(0)
    ms.putInt(246).putInt(248) // strip offsets @158
    ms.putInt(2).putInt(2)     // strip byte counts @166
    ms.putDouble(1.0).putDouble(1.0).putDouble(0)   // pixel scale @174
    ms.putDouble(0).putDouble(0).putDouble(0)
      .putDouble(100.0).putDouble(50.0).putDouble(0) // tiepoint @198
    ms.put(10.toByte).put(20.toByte) // strip 0 (north row)
    ms.put(30.toByte).put(40.toByte) // strip 1
    val cells = Grids.decodeTiff("v", 0, ms.array()).toSeq
      .map(c => (c.lat, c.lon, c.value)).sorted
    assert(cells === Seq(
      (48.5, 100.5, 30.0), (48.5, 101.5, 40.0),
      (49.5, 100.5, 10.0), (49.5, 101.5, 20.0)))

    // 1×1 float32 sample
    val f32 = ByteBuffer.allocate(234).order(ByteOrder.LITTLE_ENDIAN)
    f32.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    f32.putShort(12)
    entry(f32, 256, 3, 1, 1); entry(f32, 257, 3, 1, 1)
    entry(f32, 258, 3, 1, 32); entry(f32, 259, 3, 1, 1)
    entry(f32, 262, 3, 1, 1); entry(f32, 273, 4, 1, 230)
    entry(f32, 277, 3, 1, 1); entry(f32, 278, 3, 1, 1)
    entry(f32, 279, 4, 1, 4); entry(f32, 339, 3, 1, 3)
    entry(f32, 33550, 12, 3, 158); entry(f32, 33922, 12, 6, 182)
    f32.putInt(0)
    f32.putDouble(0.125).putDouble(0.125).putDouble(0)
    f32.putDouble(0).putDouble(0).putDouble(0)
      .putDouble(7.0).putDouble(3.0).putDouble(0)
    f32.putFloat(2.5f)
    val fc = Grids.decodeTiff("v", 0, f32.array()).toSeq
    assert(fc.map(c => (c.lat, c.lon, c.value)) === Seq((2.9375, 7.0625, 2.5)))

    // quarantine: junk, truncation, unsupported compression
    assert(Grids.decodeTiff("v", 0, Array.emptyByteArray).isEmpty)
    assert(Grids.decodeTiff("v", 0, "not a tiff at all".getBytes).isEmpty)
    assert(Grids.decodeTiff("v", 0,
      java.util.Arrays.copyOf(ms.array(), 200)).isEmpty)
    val comp = ms.array().clone()
    // compression entry is the 4th: its value field starts at
    // 8 + 2 + 3·12 + 8 = 54
    comp(54) = 5
    assert(Grids.decodeTiff("v", 0, comp).isEmpty)
  }

  test("decodeTiff: DEFLATE strips, PackBits RLE, horizontal predictor") {
    import java.nio.{ByteBuffer, ByteOrder}
    // DEFLATE (Compression=8) round trip equals the uncompressed decode
    val nd = -9999.0
    val vals = Array(Array(1.5, 2.5, nd), Array(4.0, 5.25, 6.125))
    val plain = Grids.decodeTiff("tp", 1,
      CodecFixtures.encodeTiff(-10.0, 44.0, 0.5, vals, Some(nd))).toSeq
    val comp = Grids.decodeTiff("tp", 1,
      CodecFixtures.encodeTiff(-10.0, 44.0, 0.5, vals, Some(nd), bigEndian = false,
        deflate = true)).toSeq
    assert(comp === plain && comp.length === 5)

    def entry(b: ByteBuffer, tag: Int, typ: Int, cnt: Int, v: Long): Unit = {
      b.putShort(tag.toShort).putShort(typ.toShort).putInt(cnt)
      if (typ == 3 && cnt == 1) { b.putShort(v.toShort); b.putShort(0) }
      else b.putInt(v.toInt)
      ()
    }
    // PackBits: 2×2 uint8 [7,7,7,9] as RLE (-2,7 | 0,9)
    val pb = ByteBuffer.allocate(234).order(ByteOrder.LITTLE_ENDIAN)
    pb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    pb.putShort(12)
    entry(pb, 256, 3, 1, 2); entry(pb, 257, 3, 1, 2); entry(pb, 258, 3, 1, 8)
    entry(pb, 259, 3, 1, 32773); entry(pb, 262, 3, 1, 1)
    entry(pb, 273, 4, 1, 230); entry(pb, 277, 3, 1, 1)
    entry(pb, 278, 3, 1, 2); entry(pb, 279, 4, 1, 4); entry(pb, 339, 3, 1, 1)
    entry(pb, 33550, 12, 3, 158); entry(pb, 33922, 12, 6, 182)
    pb.putInt(0)
    pb.putDouble(1.0).putDouble(1.0).putDouble(0)
    pb.putDouble(0).putDouble(0).putDouble(0)
      .putDouble(0.0).putDouble(2.0).putDouble(0)
    pb.put((-2).toByte).put(7.toByte).put(0.toByte).put(9.toByte)
    val pbc = Grids.decodeTiff("v", 0, pb.array()).toSeq
      .map(c => (c.lat, c.lon, c.value)).sorted
    assert(pbc === Seq((0.5, 0.5, 7.0), (0.5, 1.5, 9.0),
      (1.5, 0.5, 7.0), (1.5, 1.5, 7.0)))

    // horizontal predictor (tag 317=2): 1×4 uint8 diffs 10,5,5,-3
    val pr = ByteBuffer.allocate(246).order(ByteOrder.LITTLE_ENDIAN)
    pr.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    pr.putShort(13)
    entry(pr, 256, 3, 1, 4); entry(pr, 257, 3, 1, 1); entry(pr, 258, 3, 1, 8)
    entry(pr, 259, 3, 1, 1); entry(pr, 262, 3, 1, 1)
    entry(pr, 273, 4, 1, 242); entry(pr, 277, 3, 1, 1)
    entry(pr, 278, 3, 1, 1); entry(pr, 279, 4, 1, 4)
    entry(pr, 317, 3, 1, 2); entry(pr, 339, 3, 1, 1)
    entry(pr, 33550, 12, 3, 170); entry(pr, 33922, 12, 6, 194)
    pr.putInt(0)
    pr.putDouble(1.0).putDouble(1.0).putDouble(0)
    pr.putDouble(0).putDouble(0).putDouble(0)
      .putDouble(0.0).putDouble(1.0).putDouble(0)
    pr.put(10.toByte).put(5.toByte).put(5.toByte).put(253.toByte)
    val prc = Grids.decodeTiff("v", 0, pr.array()).toSeq
      .map(c => (c.lon, c.value)).sorted
    assert(prc === Seq((0.5, 10.0), (1.5, 15.0), (2.5, 20.0), (3.5, 17.0)))
  }

  test("decodeTiffDrop: filename parse feeds var/day; grid_tiff_decode equals the ASC lane cell-for-cell") {
    import spark.implicits._
    val one = CodecFixtures.encodeTiff(0.0, 1.0, 1.0, Array(Array(42.0)), None)
    val out = Grids.decodeTiffDrop(Seq(
        ("drops/tp_2024-03-01.tif", one),
        ("drops/noday.tif", one),          // no _date suffix -> skipped
        ("drops/tp_2024-13-99.tiff", one)) // unparseable date -> skipped
      .toDF("name", "content")).collect()
    assert(out.length === 1)
    assert(out(0).getString(0) === "tp")
    assert(out(0).getAs[java.sql.Timestamp](1).toLocalDateTime.toLocalDate
      .toString === "2024-03-01")
    assert(out(0).getDouble(4) === 42.0)
    // the oracle-checked query decodes the in-plan GeoTIFF to the same
    // masked lattice the ASC lane produces — byte layout differs,
    // decoded cells must not
    val rt = SparkEntry.queries("grid_tiff_decode")(spark, sf).collect()
    val ascRows = SparkEntry.queries("grid_asc_decode")(spark, sf).collect()
    assert(rt.nonEmpty)
    assert(rt.map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSet
      === ascRows.map(r =>
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSet)
    assert(rt.forall(r => r.getString(0) == "precip" &&
      r.getString(1) == "2024-01-15"))
  }
}
