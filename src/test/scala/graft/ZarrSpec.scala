package graft

import graft.sources.Zarr
import graft.sources.Zarr.{ZChunkIn, ZCell}
import org.apache.spark.sql.functions._

class ZarrSpec extends SparkSpec {
  import spark.implicits._

  private def le(bytes: Int*): Array[Byte] = bytes.map(_.toByte).toArray

  private def chunk(path: String = "v/0.0", shape: Seq[Long] = Seq(2, 2),
      chunks: Seq[Long] = Seq(2, 2), dtype: String = "<i4",
      comp: Option[String] = None, content: Array[Byte],
      ord: Option[String] = Some("C"), filters: Boolean = false) =
    ZChunkIn("v", path, content, shape, chunks, dtype, comp, ord, filters)

  test("decodeChunk: <i4 little-endian C-order with chunk-grid offsets") {
    val c = chunk(path = "v/1.1", shape = Seq(4, 4),
      content = le(1, 0, 0, 0, 0xFE, 0xFF, 0xFF, 0xFF, 0, 1, 0, 0, 0, 0, 0, 0x80))
    val cells = Zarr.decodeChunk(c).toOption.get.toSeq
    assert(cells === Seq(
      ZCell("v", 2, 2, 0, 1.0), ZCell("v", 2, 3, 0, -2.0),
      ZCell("v", 3, 2, 0, 256.0), ZCell("v", 3, 3, 0, Int.MinValue.toDouble)))
  }

  test("decodeChunk: edge padding beyond shape is skipped, 1-D and big-endian dtypes decode") {
    // shape 3, chunks 2 → chunk 1 holds index 2 plus one pad slot
    val c1 = chunk(path = "v/1", shape = Seq(3), chunks = Seq(2),
      dtype = ">i2", content = le(0, 7, 0x7F, 0xFF))
    assert(Zarr.decodeChunk(c1).toOption.get.toSeq
      === Seq(ZCell("v", 2, 0, 0, 7.0)))
    // 2-D corner chunk of a 3×3 array with 2×2 chunks: only (2,2) real
    val c2 = chunk(path = "v/1.1", shape = Seq(3, 3), chunks = Seq(2, 2),
      dtype = "<f4", content = java.nio.ByteBuffer.allocate(16)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putFloat(1.5f).putFloat(2.5f).putFloat(3.5f).putFloat(-8.25f).array())
    assert(Zarr.decodeChunk(c2).toOption.get.toSeq
      === Seq(ZCell("v", 2, 2, 0, 1.5)))
  }

  test("decodeChunk: 3-D (time, lat, lon) cube — C-order strides and per-dim padding") {
    // shape (2,3,3), chunks (1,2,2): chunk 1.1.1 holds one real cell
    val c = chunk(path = "v/1.1.1", shape = Seq(2, 3, 3),
      chunks = Seq(1, 2, 2),
      content = le(1, 0, 0, 0, 2, 0, 0, 0, 3, 0, 0, 0, 4, 0, 0, 0))
    assert(Zarr.decodeChunk(c).toOption.get.toSeq
      === Seq(ZCell("v", 1, 2, 2, 1.0)))
    // interior chunk: full 1×2×2 block with C-order positions intact
    val c2 = chunk(path = "v/0.0.0", shape = Seq(2, 3, 3),
      chunks = Seq(1, 2, 2),
      content = le(1, 0, 0, 0, 2, 0, 0, 0, 3, 0, 0, 0, 4, 0, 0, 0))
    assert(Zarr.decodeChunk(c2).toOption.get.toSeq === Seq(
      ZCell("v", 0, 0, 0, 1.0), ZCell("v", 0, 0, 1, 2.0),
      ZCell("v", 0, 1, 0, 3.0), ZCell("v", 0, 1, 1, 4.0)))
    // 4-D is out of contract: quarantine, not garbage
    assert(Zarr.decodeChunk(chunk(path = "v/0.0.0.0",
      shape = Seq(1, 1, 1, 1), chunks = Seq(1, 1, 1, 1),
      content = le(0, 0, 0, 0))).left.toOption.get === "bad_shape")
  }

  test("decodeChunk: f8, zlib and gzip compressors round-trip") {
    val raw = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putDouble(43.875).putDouble(-9.875).array()
    def deflated: Array[Byte] = {
      val d = new java.util.zip.Deflater(6); d.setInput(raw); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    }
    def gzipped: Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(raw); g.close(); bos.toByteArray
    }
    for ((comp, bytes) <- Seq(None -> raw, Some("zlib") -> deflated,
        Some("gzip") -> gzipped)) {
      val c = chunk(path = "v/0", shape = Seq(2), chunks = Seq(2),
        dtype = "<f8", comp = comp, content = bytes)
      assert(Zarr.decodeChunk(c).toOption.get.toSeq
        === Seq(ZCell("v", 0, 0, 0, 43.875), ZCell("v", 1, 0, 0, -9.875)),
        s"compressor $comp")
    }
  }

  test("decodeChunk: lz4 and zstd compressors (numcodecs framing) round-trip via the classpath codecs") {
    val raw = java.nio.ByteBuffer.allocate(24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putDouble(1.25).putDouble(-7.5).putDouble(42.0).array()
    for (comp <- Seq(Some("lz4"), Some("zstd"))) {
      val enc = CodecFixtures.compressChunk(raw, comp, level = 3)
      val c = chunk(path = "v/0", shape = Seq(3), chunks = Seq(3),
        dtype = "<f8", comp = comp, content = enc)
      assert(Zarr.decodeChunk(c).toOption.get.toSeq === Seq(
        ZCell("v", 0, 0, 0, 1.25), ZCell("v", 1, 0, 0, -7.5),
        ZCell("v", 2, 0, 0, 42.0)), s"compressor $comp")
    }
    // the lz4 numcodecs header is the DECLARED uncompressed size —
    // cross-check against a hand-assembled frame (lib-independent):
    // lz4-java block of the raw bytes behind a hand-written header
    val blk = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
    val body = new Array[Byte](blk.maxCompressedLength(raw.length))
    val n = blk.compress(raw, 0, raw.length, body, 0)
    val hand = Array[Byte](24, 0, 0, 0) ++ body.take(n)
    val c2 = chunk(path = "v/0", shape = Seq(3), chunks = Seq(3),
      dtype = "<f8", comp = Some("lz4"), content = hand)
    assert(Zarr.decodeChunk(c2).toOption.get.length === 3)
    // corrupted streams quarantine, never throw
    for (comp <- Seq(Some("lz4"), Some("zstd"))) {
      val enc = CodecFixtures.compressChunk(raw, comp)
      val bad = enc.take(math.max(5, enc.length / 2))
      val c3 = chunk(path = "v/0", shape = Seq(3), chunks = Seq(3),
        dtype = "<f8", comp = comp, content = bad)
      assert(Zarr.decodeChunk(c3).left.toOption.get === "undecodable_chunk",
        s"corrupt $comp")
    }
  }

  test("decodeChunk: quarantine reasons — filters, order, dtype, compressor, size, key") {
    val raw = le(0, 0, 0, 0)
    def reason(c: ZChunkIn): String = Zarr.decodeChunk(c).left.toOption.get
    assert(reason(chunk(content = raw, filters = true)) === "unsupported_filters")
    assert(reason(chunk(content = raw, ord = Some("F"))) === "unsupported_order")
    assert(reason(chunk(content = raw, dtype = "<U8")) === "unsupported_dtype")
    assert(reason(chunk(content = raw, dtype = "<f2")) === "unsupported_dtype")
    assert(reason(chunk(content = raw, comp = Some("blosc")))
      === "undecodable_chunk")
    assert(reason(chunk(content = le(1, 2, 3))) === "chunk_size_mismatch")
    assert(reason(chunk(path = "v/x.y", content = raw)) === "bad_chunk_key")
    assert(reason(chunk(path = "v/0", content = raw)) === "bad_chunk_key")
    // truncated zlib stream quarantines, never throws
    assert(reason(chunk(content = le(0x78, 0x9C, 1), comp = Some("zlib")))
      === "undecodable_chunk")
  }

  test("metadataOf: malformed consolidated metadata quarantines; store without it falls back to per-file docs") {
    val zarray =
      """{"zarr_format":2,"shape":[2],"chunks":[2],"dtype":"<f8",
        |"compressor":null,"fill_value":null,"order":"C","filters":null}"""
        .stripMargin.replace("\n", "")
    val bad = Seq((".zmetadata", "{oops".getBytes("UTF-8")))
      .toDF("path", "content")
    val (_, badRows) = Zarr.metadataOf(bad)
    assert(badRows.select($"reason").as[String].collect().toSeq
      === Seq("malformed_zmetadata"))
    val perFile = Seq(
      ("lat/.zarray", zarray.getBytes("UTF-8")),
      ("lat/.zattrs", """{"_ARRAY_DIMENSIONS":["lat"]}""".getBytes("UTF-8")))
      .toDF("path", "content")
    val (vars, bad2) = Zarr.metadataOf(perFile)
    assert(bad2.count() === 0)
    val v = vars.collect()
    assert(v.length === 1)
    assert(v.head.getAs[String]("var_name") === "lat")
    assert(v.head.getAs[org.apache.spark.sql.Row]("zarray")
      .getAs[String]("dtype") === "<f8")
  }

  test("decodeZarrDrop: per-file (non-consolidated) store decodes like a consolidated one") {
    val zarray =
      """{"zarr_format":2,"shape":[3],"chunks":[2],"dtype":"<i2",
        |"compressor":null,"fill_value":-9999,"order":"C","filters":null}"""
        .stripMargin.replace("\n", "")
    val c0 = le(0x0A, 0x00, 0x14, 0x00) // 10, 20
    val c1 = le(0x1E, 0x00, 0x63, 0x63) // 30, pad garbage
    val store = Seq(
      ("t/.zarray", zarray.getBytes("UTF-8")),
      ("t/0", c0), ("t/1", c1)).toDF("path", "content")
    val (cells, bad) = Zarr.decodeZarrDrop(store)
    assert(bad.count() === 0)
    assert(cells.orderBy($"i0").select($"raw").as[Double].collect().toSeq
      === Seq(10.0, 20.0, 30.0))
  }

  test("labelSlice: xarray slice semantics — and the blind slice(y_min,y_max) empties a descending axis") {
    val asc = Seq((0L, 40.0), (1L, 41.0), (2L, 42.0), (3L, 43.0))
      .toDF("i0", "raw")
    assert(Zarr.labelSlice(asc, 40.5, 42.5).select($"i0").as[Long]
      .collect().sorted.toSeq === Seq(1L, 2L))
    // inclusive at both label ends
    assert(Zarr.labelSlice(asc, 41.0, 42.0).count() === 2)
    val desc = asc.select($"i0", (lit(83.0) - $"raw").as("raw")) // 43..40 desc
    // descending + (stop, start) in array order: works
    assert(Zarr.labelSlice(desc, 42.5, 40.5).count() === 2)
    // the reference's blind (y_min, y_max) on a descending latitude:
    // empty — the quirk ds.sel(lat=slice(y_min, y_max)) produces
    assert(Zarr.labelSlice(desc, 40.5, 42.5).count() === 0)
  }

  test("phenologySlices: 3-D cube fan-out — manifest rows, slice stats, time metadata") {
    val out = Zarr.phenologySlices(spark, sf).collect()
    assert(out.length === 3)
    assert(out.map(_.getAs[String]("file_name")).toSeq
      === Seq("tx90_2024-01-15", "tx90_2024-01-16", "tx90_2024-01-17"))
    // gdal_translate -a_ullr x_min y_max x_max y_min
    assert(out.forall(r => r.getAs[Double]("ulx") === -9.0 &&
      r.getAs[Double]("uly") === 41.5 && r.getAs[Double]("lrx") === -8.0 &&
      r.getAs[Double]("lry") === 40.5))
    // bbox slice is the full 4×4 window on every slice
    assert(out.forall(_.getAs[Long]("n_cells") === 16L))
    // the metadata JSON carries the decoded time axis, xarray str() shape
    val tj = out.head.getAs[String]("times_json")
    assert(tj === """{"time": ["2024-01-15T00:00:00.000000000", """ +
      """"2024-01-16T00:00:00.000000000", "2024-01-17T00:00:00.000000000"]}""")
  }

  test("encodeZarrStore: publish round-trip — exact on the grid, null and out-of-int32 pack as fill") {
    val cells = Seq(
      ("2024-02-01", 40.0, 1.0, Some(1.234567)),
      ("2024-02-01", 40.5, 1.0, Some(-0.000002)),
      ("2024-02-03", 40.0, 1.5, Some(2.5)),
      ("2024-02-03", 40.5, 1.5, None),             // missing → fill
      ("2024-02-01", 40.0, 1.5, Some(99999.0)))    // 1e11 units → fill
      .toDF("day", "lat", "lon", "v")
      .select($"day", $"lat", $"lon", $"v".as("value"))
    val store = Zarr.encodeZarrStore(cells, "q", 1e-6, 1, 2, 2)
    // 2 time chunks × 1×1 spatial chunks, consolidated metadata, axes
    val paths = store.select($"path").as[String].collect().toSet
    assert(paths === Set(".zmetadata", ".zgroup", "time/0", "lat/0",
      "lon/0", "q/0.0.0", "q/1.0.0"))
    val (dec, bad) = Zarr.decodeZarrDrop(store)
    assert(bad.count() === 0)
    val (vars, _) = Zarr.metadataOf(store)
    val v = vars.filter($"var_name" === "q").collect().head
    val fill = v.getAs[org.apache.spark.sql.Row]("zarray")
      .getAs[Double]("fill_value")
    val out = dec.filter($"var_name" === "q" && $"raw" =!= fill)
      .select($"i0", $"i1", $"i2", ($"raw" * 1e-6).as("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    // time axis: 2024-02-01 → ti 0, 2024-02-03 → ti 2? no — axes are
    // the DISTINCT days, so ti 0 and 1; units anchor the real dates
    assert(out === Set((0L, 0L, 0L, 1.234567), (0L, 1L, 0L, -0.000002),
      (1L, 0L, 1L, 2.5)))
    val units = vars.filter($"var_name" === "time")
      .select($"attrs.units").as[String].collect().head
    assert(units === "days since 2024-02-01")
    // the time VALUES carry the gap: [0, 2] days since the anchor
    assert(dec.filter($"var_name" === "time").orderBy($"i0")
      .select($"raw").as[Double].collect().toSeq === Seq(0.0, 2.0))
  }

  test("gridZarrDecode: end-to-end twin — equals the NetCDF lane cell-for-cell") {
    val zarr = Zarr.gridZarrDecode(spark, sf)
    val nc = graft.sources.NetCdf.gridNcDecode(spark, sf)
    assert(zarr.exceptAll(nc).count() === 0)
    assert(nc.exceptAll(zarr).count() === 0)
    assert(zarr.count() > 0)
  }

  test("plan: chunk→metadata join is broadcast; no CartesianProduct anywhere in the zarr lanes") {
    val zarray =
      """{"zarr_format":2,"shape":[2],"chunks":[2],"dtype":"<i2",
        |"compressor":null,"fill_value":null,"order":"C","filters":null}"""
        .stripMargin.replace("\n", "")
    val store = Seq(
      ("t/.zarray", zarray.getBytes("UTF-8")),
      ("t/0", le(1, 0, 2, 0))).toDF("path", "content")
    val (cells, _) = Zarr.decodeZarrDrop(store)
    val dropPlan = cells.queryExecution.executedPlan.toString
    assert(dropPlan.contains("BroadcastHashJoin"),
      s"metadata join not broadcast: ${dropPlan.take(400)}")
    for (df <- Seq(Zarr.gridZarrDecode(spark, sf),
        Zarr.phenologySlices(spark, sf),
        Zarr.zarrPublishRoundtrip(spark, sf))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"))
    }
  }
}
