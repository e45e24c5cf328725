package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Climate.{byCell, microMean, nodata}

/** REAL zarr v2 codec — the reference's PRIMARY PUBLISH format:
  * every ingestor ends in `ds.to_zarr(store, consolidated=True)`
  * (`ingestor_cds_process.py`, `data_prep_knmi_evapo_forecast.py:
  * 206-212`, `ingestor_planetary_process.py`) and downstream
  * processes reopen those stores with `xr.open_zarr`
  * (`georgia_cds_bias_correction_process.py`). A zarr v2 store is a
  * key→bytes map: JSON metadata documents (`.zgroup`, consolidated
  * `.zmetadata`, per-array `<var>/.zarray` + `<var>/.zattrs`) and
  * raw C-order chunk files (`<var>/<i>.<j>`), which makes it the one
  * scientific container this environment can implement COMPLETELY —
  * numcodecs `zlib`/`gzip` are `java.util.zip`, `lz4` (uint32-LE
  * size header + LZ4 block) / `zstd` (plain frame) ride the lz4-java
  * and zstd-jni Spark itself ships, and (r12) `blosc` — numcodecs'
  * DEFAULT — decodes via [[Blosc]]'s from-spec blosc1 container walk
  * (byte-shuffle, split streams, lz4/snappy/zlib/zstd internals, all
  * on Spark's own classpath). The remaining codec slivers are
  * blosclz-coded and bit-shuffled payloads (no JVM implementation —
  * quarantined loudly). NetCDF-4/HDF5 decodes via [[Hdf5]].
  *
  * Spark-first shape: the store IS a DataFrame of (path, content) —
  * at 100 TB that is exactly how an object-store zarr looks (one row
  * per key, Spark parallelism at chunk grain, which is the grain
  * xarray/dask use too). Metadata parses IN-PLAN with `from_json`
  * (consolidated `.zmetadata` through a MapType — heterogeneous
  * `.zarray`/`.zattrs`/`.zgroup` values unify under one lenient
  * struct, absent fields null), chunk decode is one typed flatMap at
  * the drop seam joined to its array's broadcast metadata, and CF
  * unpacking (`scale_factor`, fill masking) stays in Column algebra.
  */
object Zarr {

  /** Unified value schema for every metadata document in a store:
    * `.zarray` fields + the `.zattrs` the reference's datasets carry
    * (CF scale + xarray dimension names) + `.zgroup`'s format tag.
    * from_json leaves absent fields null, so one struct reads all
    * three document kinds. fill_value is DoubleType (JSON numbers;
    * a `"NaN"` string fill parses null → no masking, documented). */
  val metaValueSchema: StructType = StructType(Seq(
    StructField("zarr_format", IntegerType),
    StructField("shape", ArrayType(LongType)),
    StructField("chunks", ArrayType(LongType)),
    StructField("dtype", StringType),
    StructField("compressor", StructType(Seq(
      StructField("id", StringType),
      StructField("level", IntegerType)))),
    StructField("fill_value", DoubleType),
    StructField("order", StringType),
    StructField("filters", ArrayType(StringType)),
    StructField("_ARRAY_DIMENSIONS", ArrayType(StringType)),
    StructField("scale_factor", DoubleType),
    StructField("add_offset", DoubleType),
    StructField("units", StringType),
    StructField("day", StringType)))

  /** `.zmetadata` (consolidated) layout: `{"metadata": {path: doc},
    * "zarr_consolidated_format": 1}`. */
  val zmetadataSchema: StructType = StructType(Seq(
    StructField("metadata", MapType(StringType, metaValueSchema)),
    StructField("zarr_consolidated_format", IntegerType)))

  /** Array metadata + attrs per variable, one row each — from the
    * consolidated `.zmetadata` when present (xarray's fast path),
    * otherwise assembled from the per-file `<var>/.zarray` +
    * `<var>/.zattrs` documents. Output columns: var_name, zarray
    * struct, attrs struct; plus a quarantine frame for stores whose
    * metadata does not parse. */
  def metadataOf(store: DataFrame): (DataFrame, DataFrame) = {
    val consolidated = store.filter(col("path") === ".zmetadata")
      .withColumn("doc",
        from_json(col("content").cast("string"), zmetadataSchema))
    val badConsolidated = consolidated
      .filter(col("doc").isNull || col("doc.metadata").isNull)
      .select(col("path").as("name"), lit("malformed_zmetadata").as("reason"))
    val fromConsolidated = consolidated
      .filter(col("doc.metadata").isNotNull)
      .select(explode(col("doc.metadata")).as(Seq("key", "m")))
    // per-file fallback: parse each <var>/.zarray | .zattrs document
    val perFile = store
      .filter(col("path").endsWith("/.zarray") ||
        col("path").endsWith("/.zattrs"))
      .select(col("path").as("key"),
        from_json(col("content").cast("string"), metaValueSchema).as("m"))
    val badPerFile = perFile.filter(col("m").isNull)
      .select(col("key").as("name"), lit("malformed_zarr_meta").as("reason"))
    val hasConsolidated = col("src") === "c"
    val keyed = fromConsolidated.withColumn("src", lit("c"))
      .unionByName(perFile.filter(col("m").isNotNull)
        .withColumn("src", lit("f")))
      .withColumn("var_name",
        when(col("key").contains("/"),
          substring_index(col("key"), "/", 1)))
      .withColumn("kind", substring_index(col("key"), "/", -1))
    // consolidated wins when both are present (it is the same data;
    // xarray reads only .zmetadata when consolidated=True)
    val anyCons = keyed.filter(hasConsolidated).limit(1).count() > 0
    val chosen = keyed.filter(if (anyCons) hasConsolidated else !hasConsolidated)
    val vars = chosen.filter(col("kind") === ".zarray" &&
        col("var_name").isNotNull)
      .select(col("var_name"), col("m").as("zarray"))
      .join(chosen.filter(col("kind") === ".zattrs")
        .select(col("var_name"), col("m").as("attrs")),
        Seq("var_name"), "left")
    (vars, badConsolidated.unionByName(badPerFile))
  }

  private[graft] case class ZChunkIn(var_name: String, path: String,
      content: Array[Byte], shape: Seq[Long], chunks: Seq[Long],
      dtype: String, comp_id: Option[String], ord: Option[String],
      has_filters: Boolean)
  private[graft] case class ZCell(var_name: String, i0: Long, i1: Long,
      i2: Long, raw: Double)
  /** Flat union record for the decode flatMap (ok = a cell row;
    * !ok = a quarantine row) — Spark has no Either encoder. */
  private[graft] case class ZDec(ok: Boolean, var_name: String,
      i0: Long, i1: Long, i2: Long, raw: Double, name: String,
      reason: String)

  private def inflate(bytes: Array[Byte], compId: Option[String]):
      Option[Array[Byte]] = compId match {
    case None => Some(bytes)
    case Some("zlib") => scala.util.Try {
      val inf = new java.util.zip.Inflater()
      inf.setInput(bytes)
      val out = new java.io.ByteArrayOutputStream(bytes.length * 4)
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && inf.needsInput()) throw new java.io.EOFException()
        out.write(buf, 0, n)
      }
      inf.end(); out.toByteArray
    }.toOption
    case Some("gzip") => scala.util.Try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val out = new java.io.ByteArrayOutputStream(bytes.length * 4)
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    }.toOption
    // numcodecs `lz4`: uint32 LE original size, then an LZ4 BLOCK —
    // decoded with the lz4-java Spark itself ships
    case Some("lz4") => scala.util.Try {
      val n = (bytes(0) & 0xFF) | ((bytes(1) & 0xFF) << 8) |
        ((bytes(2) & 0xFF) << 16) | ((bytes(3) & 0xFF) << 24)
      require(n >= 0 && n <= (1 << 30), "lz4 size header")
      val out = new Array[Byte](n)
      net.jpountz.lz4.LZ4Factory.fastestInstance().fastDecompressor()
        .decompress(bytes, 4, out, 0, n)
      out
    }.toOption
    // numcodecs `zstd`: a plain self-describing zstd frame —
    // zstd-jni off Spark's classpath
    case Some("zstd") => scala.util.Try {
      val n = com.github.luben.zstd.Zstd.getFrameContentSize(bytes)
      require(n >= 0 && n <= (1 << 30), "zstd frame size")
      com.github.luben.zstd.Zstd.decompress(bytes, n.toInt)
    }.toOption
    // numcodecs `blosc` — the DEFAULT zarr compressor: the chunk is
    // a self-describing blosc1 container (internal codec, typesize,
    // shuffle and block framing all in its own header), decoded by
    // [[Blosc.decompress]]; only blosclz-coded and bit-shuffled
    // payloads still quarantine
    case Some("blosc") => Blosc.decompress(bytes).toOption
    case _ => None
  }

  /** One chunk file → cells. Validates order=C / no filters /
    * known dtype+compressor / exact byte length, parses the chunk
    * grid position from the filename, walks elements in C-order and
    * SKIPS the zarr edge padding (positions ≥ shape). 1-D through
    * 3-D arrays — the reference's stores are coordinate vectors,
    * (lat, lon) rasters and (time, lat|latitude, lon|longitude)
    * cubes; trailing index columns are 0 below 3 dims. Returns
    * Left(reason) for quarantine. */
  private[graft] def decodeChunk(c: ZChunkIn):
      Either[String, Iterator[ZCell]] = {
    val dt = c.dtype
    if (c.has_filters) return Left("unsupported_filters")
    if (!c.ord.forall(_ == "C")) return Left("unsupported_order")
    if (c.shape.isEmpty || c.shape.length > 3 ||
        c.chunks.length != c.shape.length) return Left("bad_shape")
    if (dt == null || dt.length != 3 || !"<>".contains(dt(0)) ||
        !"if".contains(dt(1))) return Left("unsupported_dtype")
    val size = dt.substring(2).toIntOption.getOrElse(0)
    if (!Seq(1, 2, 4, 8).contains(size) ||
        (dt(1) == 'f' && size < 4)) return Left("unsupported_dtype")
    val name = c.path.substring(c.path.lastIndexOf('/') + 1)
    val pos = name.split('.').toSeq
    if (pos.length != c.shape.length ||
        pos.exists(_.toLongOption.isEmpty)) return Left("bad_chunk_key")
    val ci = pos.map(_.toLong)
    val nElems = c.chunks.product
    inflate(c.content, c.comp_id) match {
      case None => Left("undecodable_chunk")
      case Some(raw) if raw.length != nElems * size => Left("chunk_size_mismatch")
      case Some(raw) =>
        val buf = java.nio.ByteBuffer.wrap(raw).order(
          if (dt(0) == '<') java.nio.ByteOrder.LITTLE_ENDIAN
          else java.nio.ByteOrder.BIG_ENDIAN)
        def value(k: Int): Double = (dt(1), size) match {
          case ('i', 1) => buf.get(k).toDouble
          case ('i', 2) => buf.getShort(k * 2).toDouble
          case ('i', 4) => buf.getInt(k * 4).toDouble
          case ('i', 8) => buf.getLong(k * 8).toDouble
          case ('f', 4) => buf.getFloat(k * 4).toDouble
          case _        => buf.getDouble(k * 8)
        }
        // pad shape/chunks/offsets to 3 dims (size-1 phantoms lead
        // nothing: index 0, bound 1) and walk C-order generically
        val nd = c.shape.length
        val ch = c.chunks.padTo(3, 1L)
        val sh = c.shape.padTo(3, 1L)
        val off = ci.map(i => i).zip(c.chunks).map { case (i, w) => i * w }
          .padTo(3, 0L)
        Right(for {
          r <- (0L until ch(0)).iterator if off(0) + r < sh(0)
          s <- (0L until ch(1)).iterator if off(1) + s < sh(1)
          t <- (0L until ch(2)).iterator if off(2) + t < sh(2)
        } yield {
          val k = ((r * ch(1) + s) * ch(2) + t).toInt
          nd match {
            case 1 => ZCell(c.var_name, off(0) + r, 0L, 0L, value(k))
            case 2 => ZCell(c.var_name, off(0) + r, off(1) + s, 0L, value(k))
            case _ => ZCell(c.var_name, off(0) + r, off(1) + s,
              off(2) + t, value(k))
          }
        })
    }
  }

  /** Store rows → (cells, quarantine). Chunk rows join their array's
    * metadata (broadcast — O(#vars) rows) and decode in one flatMap
    * at the chunk grain; metadata problems and undecodable chunks
    * land in the quarantine frame, never kill the job. */
  def decodeZarrDrop(store: DataFrame): (DataFrame, DataFrame) = {
    val (vars, badMeta) = metadataOf(store)
    decodeZarrDropWith(store, vars, badMeta)
  }

  /** Decode against already-parsed metadata — callers that also read
    * attrs/fill (the CF unpacking) parse the metadata once and share
    * it, instead of re-deriving the whole store per consumer. */
  def decodeZarrDropWith(store: DataFrame, vars: DataFrame,
      badMeta: DataFrame): (DataFrame, DataFrame) = {
    val spark = store.sparkSession
    import spark.implicits._
    val chunks = store
      .filter(!col("path").endsWith(".zmetadata") &&
        !col("path").endsWith(".zgroup") &&
        !col("path").endsWith(".zarray") &&
        !col("path").endsWith(".zattrs") &&
        col("path").contains("/"))
      .withColumn("var_name", substring_index(col("path"), "/", 1))
      .join(broadcast(vars), Seq("var_name"), "inner")
      .select(col("var_name"), col("path"), col("content"),
        col("zarray.shape").as("shape"), col("zarray.chunks").as("chunks"),
        col("zarray.dtype").as("dtype"),
        col("zarray.compressor.id").as("comp_id"),
        col("zarray.order").as("ord"),
        coalesce(size(col("zarray.filters")) > 0, lit(false))
          .as("has_filters"))
      .as[ZChunkIn]
    val decoded = chunks.flatMap { c =>
      decodeChunk(c) match {
        case Left(reason) =>
          Iterator(ZDec(ok = false, null, 0L, 0L, 0L, 0.0, c.path, reason))
        case Right(it) => it.map(z =>
          ZDec(ok = true, z.var_name, z.i0, z.i1, z.i2, z.raw, null, null))
      }
    }
    val cells = decoded.filter(col("ok"))
      .select(col("var_name"), col("i0"), col("i1"), col("i2"), col("raw"))
    val badChunks = decoded.filter(!col("ok"))
      .select(col("name"), col("reason"))
    (cells, badMeta.unionByName(badChunks))
  }

  // --- in-plan store render (the oracle-checked lane) ---------------

  private def jstr(s: String) = "\"" + s + "\""
  private def zarrayJson(shape: Seq[Int], chunks: Seq[Int], dtype: String,
      comp: Option[(String, Int)], fill: Option[Long]): String =
    s"""{"zarr_format":2,"shape":[${shape.mkString(",")}],""" +
      s""""chunks":[${chunks.mkString(",")}],"dtype":${jstr(dtype)},""" +
      s""""compressor":${comp.map {
        // numcodecs' real blosc document shape (decode reads only the
        // id — the blosc1 container is self-describing)
        case ("blosc", lv) =>
          s"""{"id":"blosc","cname":"lz4","clevel":$lv,""" +
            s""""shuffle":1,"blocksize":0}"""
        case (id, lv) => s"""{"id":${jstr(id)},"level":$lv}"""
      }.getOrElse("null")},""" +
      s""""fill_value":${fill.map(_.toString).getOrElse("null")},""" +
      """"order":"C","filters":null}"""

  private def f8Hex(vs: Seq[Double]): String = vs.map { d =>
    val b = java.lang.Double.doubleToLongBits(d)
    (0 to 7).map(i => f"${(b >> (8 * i)) & 0xFF}%02X").mkString
  }.mkString

  /** Little-endian hex of the low 4 bytes of an integral column —
    * the in-plan i4 chunk renderer (two's complement via mask). */
  private def leHex4(e: Column): Column = {
    val p = lpad(hex(e.cast("long").bitwiseAND(lit(0xFFFFFFFFL))), 8, "0")
    concat((3 to 0 by -1).map(i => substring(p, i * 2 + 1, 2)): _*)
  }

  private val Fill = -2147483648L

  /** END-TO-END oracle-checked lane — `to_zarr(consolidated=True)` ∘
    * `open_zarr` on the events grid: micro-unit cell means pack as
    * `<i4` chunks of a 3×3-chunked 8×8 `precip` array (edge chunks
    * PADDED per the zarr spec — the decode must bounds-skip), masked
    * cells (`(gx·8+gy) % 7 == 3`) written as the declared
    * fill_value, chunk bytes packed as numcodecs `blosc` (the
    * to_zarr DEFAULT — byte-shuffled lz4 blosc1 containers at the
    * `<i4` typesize), `lat`/`lon` as REAL `<f8` coordinate arrays
    * (north-first, so the index→latitude mapping is load-bearing),
    * and the CF `scale_factor` + the day label read back from the
    * PARSED `.zattrs` — a metadata, packing, padding, compression or
    * coordinate bug cannot hash-match. The oracle recomputes the
    * expected cells straight from events. */
  def gridZarrDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lats = (0 until 8).map(i => 43.875 - 0.25 * i) // north-first
    val lons = (0 until 8).map(j => -9.875 + 0.25 * j)
    val metaJson =
      s"""{"metadata":{""" +
        s""""precip/.zarray":${zarrayJson(Seq(8, 8), Seq(3, 3), "<i4",
          Some(("blosc", 5)), Some(Fill))},""" +
        s""""precip/.zattrs":{"_ARRAY_DIMENSIONS":["lat","lon"],""" +
        s""""scale_factor":1.0E-6,"add_offset":0.0,"day":"2024-01-15"},""" +
        s""""lat/.zarray":${zarrayJson(Seq(8), Seq(8), "<f8", None, None)},""" +
        s""""lat/.zattrs":{"_ARRAY_DIMENSIONS":["lat"]},""" +
        s""""lon/.zarray":${zarrayJson(Seq(8), Seq(8), "<f8", None, None)},""" +
        s""""lon/.zattrs":{"_ARRAY_DIMENSIONS":["lon"]},""" +
        s"""".zgroup":{"zarr_format":2}},"zarr_consolidated_format":1}"""
    val constRows = Seq(
      (".zmetadata", metaJson.getBytes("UTF-8")),
      (".zgroup", """{"zarr_format":2}""".getBytes("UTF-8")),
      ("lat/0", hexToBytes(f8Hex(lats))),
      ("lon/0", hexToBytes(f8Hex(lons))))
    val cellVals = byCell(graft.Tables.events(spark, dir))
      .agg(microMean.as("v_us"))
    // chunk lattice: 9 chunks × 9 in-chunk slots; slots beyond the
    // 8×8 shape are zarr edge padding and render as fill
    val slots = spark.range(81)
      .select((col("id") % 9).as("slot"), expr("id div 9").as("ck"))
      .select(expr("ck div 3").as("ci"), (col("ck") % 3).as("cj"),
        expr("slot div 3").as("r"), (col("slot") % 3).as("s"))
      .select(col("ci"), col("cj"), col("r"), col("s"),
        (col("ci") * 3 + col("r")).as("i"), (col("cj") * 3 + col("s")).as("j"))
    val packed = slots
      .join(cellVals
        .select((lit(7) - col("gy")).as("i"), col("gx").as("j"),
          col("v_us"), nodata.as("masked")),
        Seq("i", "j"), "left")
      .withColumn("v", when(col("i") >= 8 || col("j") >= 8 ||
        col("masked") || col("v_us").isNull, lit(Fill))
        .otherwise(col("v_us")))
      .groupBy(col("ci"), col("cj"))
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct((col("r") * 3 + col("s")).as("p"),
          leHex4(col("v")).as("h")))),
        x => x.getField("h"))).as("datahex"))
      .select(concat(lit("precip/"), col("ci"), lit("."), col("cj"))
        .as("path"), unhex(col("datahex")).as("content"),
        ((col("ci") + col("cj")) % 2 === 1).as("bitshuf"))
    // the compression seam: numcodecs blosc (the to_zarr DEFAULT)
    // over the assembled bytes at the <i4 typesize — chunks on the
    // even lattice diagonal byte-shuffled lz4 (what xarray writes
    // out of the box), the odd diagonal BIT-shuffled (r15:
    // numcodecs Blosc(shuffle=BITSHUFFLE), the HDF5-community
    // default for numeric data) — both self-describing postures
    // decode through the same gate
    val deflated = packed.as[(String, Array[Byte], Boolean)]
      .map { case (p, b, bit) =>
        (p, Blosc.compress(b, typesize = 4, doShuffle = !bit, "lz4",
          bitShuffle = bit))
      }.toDF("path", "content")
    // one materialization of the rendered store; the metadata parse,
    // the chunk decode and the coordinate readers all reuse it (a
    // production store reads from object storage — no recompute)
    val store = deflated.unionByName(
      constRows.toDF("path", "content")).localCheckpoint()
    val (vars0, badMeta) = metadataOf(store)
    val vars = vars0.localCheckpoint() // O(#vars); read by 3 consumers
    val (cells0, _) = decodeZarrDropWith(store, vars, badMeta)
    val cells = cells0.localCheckpoint() // precip + lat + lon readers
    val attrs = vars.filter(col("var_name") === "precip")
      .select(col("attrs.scale_factor").as("scale"), col("attrs.day"))
    val fillCol = vars.filter(col("var_name") === "precip")
      .select(col("zarray.fill_value").as("fill"))
    val latIdx = cells.filter(col("var_name") === "lat")
      .select(col("i0").as("li"), col("raw").as("lat"))
    val lonIdx = cells.filter(col("var_name") === "lon")
      .select(col("i0").as("lj"), col("raw").as("lon"))
    cells.filter(col("var_name") === "precip")
      .crossJoin(broadcast(attrs)).crossJoin(broadcast(fillCol))
      .filter(col("raw") =!= col("fill"))
      .join(broadcast(latIdx), col("i0") === col("li"))
      .join(broadcast(lonIdx), col("i1") === col("lj"))
      .select(col("var_name").as("var"), col("day"),
        col("lat"), col("lon"),
        (col("raw") * col("scale")).as("value"))
  }

  private def hexToBytes(h: String): Array[Byte] =
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** Oracle-checked law for the PUBLIC publish path:
    * decodeZarrDrop ∘ encodeZarrStore = identity on the quantization
    * grid. A 3-day × 8×8 cube of exact micro-unit means publishes
    * through [[encodeZarrStore]] with DELIBERATELY non-dividing
    * chunks (2,3,3 → every axis edge-padded), then decodes back
    * through the parsed scale_factor / fill / `days since` units.
    * The oracle recomputes the cells straight from events — a
    * packing, padding, axis-index or metadata bug cannot
    * hash-match. */
  def zarrPublishRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val cells = graft.Tables.events(spark, dir)
      .select(((dayofmonth(col("ts")) - 1) % 3).cast("long").as("t"),
        ((col("user_id") + dayofmonth(col("ts"))) % 8).as("i"),
        ((col("user_id") * 3 + dayofmonth(col("ts"))) % 8).as("j"),
        col("value"))
      .groupBy(col("t"), col("i"), col("j"))
      .agg(microMean.as("v_us"))
      .select(
        date_format(date_add(to_date(lit("2024-01-15")),
          col("t").cast("int")), "yyyy-MM-dd").as("day"),
        (lit(40.125) + col("i").cast("double") * 0.25).as("lat"),
        (lit(-9.875) + col("j").cast("double") * 0.25).as("lon"),
        (col("v_us").cast("double") * 1e-6).as("value"))
    val store = encodeZarrStore(cells, "precip", 1e-6, 2, 3, 3)
      .localCheckpoint()
    val (vars0, badMeta) = metadataOf(store)
    val vars = vars0.localCheckpoint()
    val (dec0, _) = decodeZarrDropWith(store, vars, badMeta)
    val dec = dec0.localCheckpoint()
    val attrs = vars.filter(col("var_name") === "precip")
      .select(col("attrs.scale_factor").as("scale"),
        col("zarray.fill_value").as("fill"))
    val tUnits = vars.filter(col("var_name") === "time")
      .select(to_date(regexp_extract(col("attrs.units"),
        "days since (.+)", 1)).as("t_base"))
    val tMap = dec.filter(col("var_name") === "time")
      .crossJoin(broadcast(tUnits))
      .select(col("i0").as("ti"), date_format(
        date_add(col("t_base"), col("raw").cast("int")), "yyyy-MM-dd")
        .as("day"))
    val yMap = dec.filter(col("var_name") === "lat")
      .select(col("i0").as("yi"), col("raw").as("lat"))
    val xMap = dec.filter(col("var_name") === "lon")
      .select(col("i0").as("xi"), col("raw").as("lon"))
    dec.filter(col("var_name") === "precip")
      .crossJoin(broadcast(attrs))
      .filter(col("raw") =!= col("fill"))
      .join(broadcast(tMap), col("i0") === col("ti"))
      .join(broadcast(yMap), col("i1") === col("yi"))
      .join(broadcast(xMap), col("i2") === col("xi"))
      .select(col("var_name").as("var"), col("day"), col("lat"),
        col("lon"), (col("raw") * col("scale")).as("value"))
  }

  // --- phenology: zarr cube → bbox slice → per-time tif fan-out -----

  private def i4leHexConst(vs: Seq[Int]): String = vs.map { v =>
    (0 to 3).map(i => f"${(v >> (8 * i)) & 0xFF}%02X").mkString
  }.mkString

  /** PUBLIC PUBLISH PATH — the `ds.to_zarr(store, consolidated=True)`
    * every reference ingestor ends in, as a DataFrame→DataFrame
    * encoder: long cells (day, lat, lon, value) become a consolidated
    * zarr v2 store of (path, content) rows ready for an object-store
    * sink. CF int packing like the real climate products: values
    * quantize to `<i4` at the declared `scale_factor` (missing cells
    * and out-of-int32 magnitudes pack as the fill value — the loud,
    * maskable path), coordinates publish as real `<f8` axes, the
    * time axis as `days since <first day>`. Axes are collected to
    * the driver — bounded O(ny+nx+nt) by construction (they are
    * axes, not cells); the DATA assembly is fully in-plan: the chunk
    * lattice joins the indexed cells, padding renders as fill, and
    * each chunk groupBy-assembles its C-order bytes. At 100 TB the
    * heavy side (cells → chunks) is one shuffle at chunk grain.
    * Round-trip law (spec-proven): decodeZarrDrop ∘ encodeZarrStore
    * = identity on the quantization grid. */
  def encodeZarrStore(cells: DataFrame, variable: String, scale: Double,
      chunkT: Int, chunkY: Int, chunkX: Int): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    // ONE axis-collection job (r18): the three per-axis
    // distinct+collect jobs fused into a single aggregate —
    // collect_set ≡ distinct (hash equality on the same values),
    // sort_array ascending ≡ the .sorted the driver did (ASCII day
    // strings and finite doubles — identical order), and the
    // aggregate partial-combines map-side. Same bounded O(nt+ny+nx)
    // driver transfer, two fewer jobs + plan fragments per encode.
    val axesRow = cells.agg(
      sort_array(collect_set(col("day"))).as("days"),
      sort_array(collect_set(col("lat"))).as("lats"),
      sort_array(collect_set(col("lon"))).as("lons")).head()
    val days = axesRow.getSeq[String](0).toIndexedSeq
    val lats = axesRow.getSeq[Double](1).toIndexedSeq
    val lons = axesRow.getSeq[Double](2).toIndexedSeq
    val day0 = java.time.LocalDate.parse(days.head)
    val tVals = days.map(d =>
      java.time.temporal.ChronoUnit.DAYS.between(
        day0, java.time.LocalDate.parse(d)).toInt)
    val (nT, nY, nX) = (days.length, lats.length, lons.length)
    val (nCT, nCY, nCX) = ((nT + chunkT - 1) / chunkT,
      (nY + chunkY - 1) / chunkY, (nX + chunkX - 1) / chunkX)
    val chunkElems = chunkT * chunkY * chunkX
    val metaJson =
      s"""{"metadata":{""" +
        s""""$variable/.zarray":${zarrayJson(Seq(nT, nY, nX),
          Seq(chunkT, chunkY, chunkX), "<i4", None, Some(Fill))},""" +
        s""""$variable/.zattrs":{"_ARRAY_DIMENSIONS":["time","lat","lon"],""" +
        s""""scale_factor":$scale,"add_offset":0.0},""" +
        s""""time/.zarray":${zarrayJson(Seq(nT), Seq(nT), "<i4", None, None)},""" +
        s""""time/.zattrs":{"_ARRAY_DIMENSIONS":["time"],""" +
        s""""units":"days since ${days.head}"},""" +
        s""""lat/.zarray":${zarrayJson(Seq(nY), Seq(nY), "<f8", None, None)},""" +
        s""""lat/.zattrs":{"_ARRAY_DIMENSIONS":["lat"]},""" +
        s""""lon/.zarray":${zarrayJson(Seq(nX), Seq(nX), "<f8", None, None)},""" +
        s""""lon/.zattrs":{"_ARRAY_DIMENSIONS":["lon"]},""" +
        s"""".zgroup":{"zarr_format":2}},"zarr_consolidated_format":1}"""
    val constRows = Seq(
      (".zmetadata", metaJson.getBytes("UTF-8")),
      (".zgroup", """{"zarr_format":2}""".getBytes("UTF-8")),
      ("time/0", hexToBytes(i4leHexConst(tVals))),
      ("lat/0", hexToBytes(f8Hex(lats))),
      ("lon/0", hexToBytes(f8Hex(lons))))
    val dayIdx = broadcast(days.zipWithIndex.toDF("day", "ti"))
    val latIdx = broadcast(lats.zipWithIndex.toDF("lat", "yi"))
    val lonIdx = broadcast(lons.zipWithIndex.toDF("lon", "xi"))
    val indexed = cells
      .join(dayIdx, Seq("day")).join(latIdx, Seq("lat"))
      .join(lonIdx, Seq("lon"))
      // CF packing: quantize at scale; null or out-of-int32 → fill
      .withColumn("n", floor(col("value") / scale + 0.5))
      .withColumn("packed", when(col("n").isNull ||
        col("n") > 2147483647L || col("n") < -2147483647L, lit(Fill))
        .otherwise(col("n").cast("long")))
      .select(col("ti").cast("long").as("ti"),
        col("yi").cast("long").as("yi"),
        col("xi").cast("long").as("xi"), col("packed"))
    val slots = spark.range(nCT.toLong * nCY * nCX * chunkElems)
      .select(expr(s"id div $chunkElems").as("ck"),
        (col("id") % chunkElems).as("slot"))
      .select(expr(s"ck div ${nCY * nCX}").as("ct"),
        expr(s"ck % ${nCY * nCX} div $nCX").as("cy"),
        (col("ck") % nCX).as("cx"),
        expr(s"slot div ${chunkY * chunkX}").as("r"),
        expr(s"slot % ${chunkY * chunkX} div $chunkX").as("s"),
        (col("slot") % chunkX).as("u"), col("slot"))
      .select(col("ct"), col("cy"), col("cx"), col("slot"),
        (col("ct") * chunkT + col("r")).as("ti"),
        (col("cy") * chunkY + col("s")).as("yi"),
        (col("cx") * chunkX + col("u")).as("xi"))
    slots
      .join(indexed, Seq("ti", "yi", "xi"), "left")
      .withColumn("v", coalesce(col("packed"), lit(Fill)))
      .groupBy(col("ct"), col("cy"), col("cx"))
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct(col("slot").as("p"),
          leHex4(col("v")).as("h")))),
        x => x.getField("h"))).as("datahex"))
      .select(concat(lit(s"$variable/"), col("ct"), lit("."), col("cy"),
        lit("."), col("cx")).as("path"),
        unhex(col("datahex")).as("content"))
      .unionByName(constRows.toDF("path", "content"))
  }

  /** xarray label-slice over one coordinate axis: the inclusive
    * window IN ARRAY ORDER — ascending axes take start<=v<=stop,
    * descending ones stop<=v<=start. A blind `slice(y_min, y_max)`
    * on a DESCENDING latitude therefore selects nothing — exactly
    * what `ds.sel(lat=slice(y_min, y_max))` does in the reference
    * (spec-pinned quirk). Input: (i0, raw) coordinate cells. */
  private[graft] def labelSlice(named: DataFrame, start: Double,
      stop: Double): DataFrame = {
    val dir = named.groupBy()
      .agg((max_by(col("raw"), col("i0")) >=
        min_by(col("raw"), col("i0"))).as("asc"))
    named.select(col("i0"), col("raw")).crossJoin(broadcast(dir))
      .filter(when(col("asc"),
        col("raw") >= start && col("raw") <= stop)
        .otherwise(col("raw") <= start && col("raw") >= stop))
      .select(col("i0"), col("raw"))
  }

  /** `ingestor_ll_spain_phenology.py:103-188`: open a zarr cube,
    * bbox-subset it with the DIM-NAME DISPATCH (`lat`/`lon` if
    * present, elif `latitude`/`longitude`, else error), write a time
    * metadata JSON (`json.dumps({"time": [str(t) …]})`), then fan
    * out one GeoTIFF per time slice named `{variable}_{date}` with
    * `gdal_translate -a_ullr x_min y_max x_max y_min`. This lane
    * runs that pipeline over a REAL 3-D (time, latitude, longitude)
    * store rendered in-plan from events: the time axis decodes
    * through the PARSED `units: days since …` attr, the y/x names
    * come from the PARSED `_ARRAY_DIMENSIONS` (this store uses the
    * `latitude`/`longitude` variant — the reference's elif branch),
    * and the slice applies xarray's label-slice semantics
    * (array-order window, inclusive — which on a DESCENDING
    * latitude axis with the module's blind `slice(y_min, y_max)`
    * yields the empty set; that reference quirk is spec-pinned).
    * Output: one manifest row per time slice — tif name, date, the
    * gdal_translate corner args, and exact micro-unit stats over the
    * sliced cells (zero-filled like the rendered raster). */
  def phenologySlices(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (xMin, yMin, xMax, yMax) = (-9.0, 40.5, -8.0, 41.5)
    val variable = "tx90"
    val lats = (0 until 8).map(i => 40.125 + 0.25 * i) // ascending
    val lons = (0 until 8).map(j => -9.875 + 0.25 * j)
    val metaJson =
      s"""{"metadata":{""" +
        s""""$variable/.zarray":${zarrayJson(Seq(3, 8, 8), Seq(1, 4, 4),
          "<i4", None, None)},""" +
        s""""$variable/.zattrs":{"_ARRAY_DIMENSIONS":["time","latitude","longitude"]},""" +
        s""""time/.zarray":${zarrayJson(Seq(3), Seq(3), "<i4", None, None)},""" +
        s""""time/.zattrs":{"_ARRAY_DIMENSIONS":["time"],"units":"days since 2024-01-01"},""" +
        s""""latitude/.zarray":${zarrayJson(Seq(8), Seq(8), "<f8", None, None)},""" +
        s""""latitude/.zattrs":{"_ARRAY_DIMENSIONS":["latitude"]},""" +
        s""""longitude/.zarray":${zarrayJson(Seq(8), Seq(8), "<f8", None, None)},""" +
        s""""longitude/.zattrs":{"_ARRAY_DIMENSIONS":["longitude"]},""" +
        s"""".zgroup":{"zarr_format":2}},"zarr_consolidated_format":1}"""
    val constRows = Seq(
      (".zmetadata", metaJson.getBytes("UTF-8")),
      (".zgroup", """{"zarr_format":2}""".getBytes("UTF-8")),
      ("time/0", hexToBytes(i4leHexConst(Seq(14, 15, 16)))),
      ("latitude/0", hexToBytes(f8Hex(lats))),
      ("longitude/0", hexToBytes(f8Hex(lons))))
    val cellVals = graft.Tables.events(spark, dir)
      .select(((dayofmonth(col("ts")) - 1) % 3).cast("long").as("t"),
        ((col("user_id") + dayofmonth(col("ts"))) % 8).as("i"),
        ((col("user_id") * 3 + dayofmonth(col("ts"))) % 8).as("j"),
        col("value"))
      .groupBy(col("t"), col("i"), col("j"))
      .agg(microMean.as("v_us"))
    // 12 chunks (t, ci, cj) × 16 slots; 8 % 4 == 0 → no edge padding
    val slots = spark.range(192)
      .select(expr("id div 16").as("ck"), (col("id") % 16).as("slot"))
      .select(expr("ck div 4").as("t"),
        expr("ck % 4 div 2").as("ci"), (col("ck") % 2).as("cj"),
        expr("slot div 4").as("r"), (col("slot") % 4).as("s"))
      .select(col("t"), col("ci"), col("cj"), col("r"), col("s"),
        (col("ci") * 4 + col("r")).as("i"), (col("cj") * 4 + col("s")).as("j"))
    val packed = slots
      .join(cellVals, Seq("t", "i", "j"), "left")
      .withColumn("v", coalesce(col("v_us"), lit(0L)))
      .groupBy(col("t"), col("ci"), col("cj"))
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct((col("r") * 4 + col("s")).as("p"),
          leHex4(col("v")).as("h")))),
        x => x.getField("h"))).as("datahex"))
      .select(concat(lit(s"$variable/"), col("t"), lit("."), col("ci"),
        lit("."), col("cj")).as("path"),
        unhex(col("datahex")).as("content"))
    val store = packed.unionByName(constRows.toDF("path", "content"))
      .localCheckpoint()
    val (vars0, badMeta) = metadataOf(store)
    val vars = vars0.localCheckpoint()
    val (cells0, _) = decodeZarrDropWith(store, vars, badMeta)
    val cells = cells0.localCheckpoint()
    // dim-name dispatch off the PARSED _ARRAY_DIMENSIONS (the
    // reference's if/elif): lat/lon, else latitude/longitude
    val dimNames = vars.filter(col("var_name") === variable)
      .select(
        when(array_contains(col("attrs._ARRAY_DIMENSIONS"), "lat"), "lat")
          .when(array_contains(col("attrs._ARRAY_DIMENSIONS"), "latitude"),
            "latitude").as("y_name"),
        when(array_contains(col("attrs._ARRAY_DIMENSIONS"), "lon"), "lon")
          .when(array_contains(col("attrs._ARRAY_DIMENSIONS"), "longitude"),
            "longitude").as("x_name"))
    // xarray label-slice: the inclusive window IN ARRAY ORDER —
    // ascending axes take start<=v<=stop, descending stop<=v<=start
    // (so the module's blind slice(y_min,y_max) empties out on a
    // descending latitude — mirrored, spec-pinned)
    def axisSlice(nameCol: Column, start: Double, stop: Double,
        as: String) = labelSlice(cells.crossJoin(broadcast(dimNames))
      .filter(col("var_name") === nameCol), start, stop).select(
      col("i0").as(as))
    val ySel = axisSlice(col("y_name"), yMin, yMax, "yi")
    val xSel = axisSlice(col("x_name"), xMin, xMax, "xi")
    // time axis through the parsed CF units
    val tUnits = vars.filter(col("var_name") === "time")
      .select(to_date(regexp_extract(col("attrs.units"),
        "days since (.+)", 1)).as("t_base"))
    val tAxis = cells.filter(col("var_name") === "time")
      .crossJoin(broadcast(tUnits))
      .select(col("i0").as("ti"), date_format(
        date_add(col("t_base"), col("raw").cast("int")), "yyyy-MM-dd")
        .as("day"))
    val timesJson = tAxis.agg(
      concat(lit("""{"time": [""""),
        concat_ws("\", \"", sort_array(collect_list(
          concat(col("day"), lit("T00:00:00.000000000"))))),
        lit("\"]}")).as("times_json"))
    cells.filter(col("var_name") === variable)
      .join(broadcast(ySel), col("i1") === col("yi"))
      .join(broadcast(xSel), col("i2") === col("xi"))
      .join(broadcast(tAxis), col("i0") === col("ti"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_cells"),
        sum(col("raw").cast("long")).as("sum_us"),
        min(col("raw").cast("long")).as("min_us"),
        max(col("raw").cast("long")).as("max_us"))
      .crossJoin(broadcast(timesJson))
      .select(concat(lit(s"${variable}_"), col("day")).as("file_name"),
        col("day"), lit(xMin).as("ulx"), lit(yMax).as("uly"),
        lit(xMax).as("lrx"), lit(yMin).as("lry"),
        col("n_cells"), col("sum_us"), col("min_us"), col("max_us"),
        col("times_json"))
      .orderBy(col("day"))
  }
}
