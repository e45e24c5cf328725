package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Climate.{cellMeans, nodata}
import Grids.{GridCell, RawTile}

/** REAL GRIB edition 1 codec for the binary-drop seam — the other
  * container CDS hands out (`ingestor_cds_process.py` requests GRIB
  * or NetCDF per dataset), decoded without ecCodes: the public WMO
  * FM 92 GRIB-1 layout. A file is a sequence of messages, each
  *
  *   IS `GRIB`+len+edition | PDS (parameter, reference time, decimal
  *   scale D) | GDS (lat/lon grid: Ni/Nj, first/last points in
  *   millidegrees sign-magnitude, Di/Dj, scanning mode) | optional
  *   BMS bitmap | BDS (binary scale E, IBM-370 32-bit reference
  *   value R, bit width, big-endian bit-packed integers N) | `7777`
  *
  * and a value unpacks as (R + N·2^E) / 10^D — simple grid-point
  * packing, the layout the vast majority of archived GRIB-1 uses.
  * Bitmap-masked cells are skipped (they surface as coverage gaps,
  * the quarantine discipline); sign-magnitude fields and the IBM
  * hexadecimal float are decoded per the spec. Unsupported layouts
  * (spherical harmonics, second-order packing, GRIB-2) and malformed
  * bytes quarantine to zero cells like [[Grids.decodeTiff]].
  */
object Grib {

  /** IBM System/370 32-bit float: sign, excess-64 base-16 exponent,
    * 24-bit fraction. Exact for the powers of two a writer picks as
    * reference values. */
  private[graft] def ibm32(b0: Int, b1: Int, b2: Int, b3: Int): Double = {
    val sign = if ((b0 & 0x80) != 0) -1.0 else 1.0
    val exp = (b0 & 0x7F) - 64
    val frac = (((b1 & 0xFF) << 16) | ((b2 & 0xFF) << 8) | (b3 & 0xFF))
      .toDouble / (1 << 24)
    sign * frac * math.pow(16.0, exp.toDouble)
  }

  /** Decode every message of a GRIB-1 file. Variable names render as
    * `p<indicator>` (the parameter table is centre-specific; the
    * indicator octet is the portable key). */
  def decodeGrib(bytes: Array[Byte]): Iterator[GridCell] = {
    val cells = scala.util.Try {
      val out = Vector.newBuilder[GridCell]
      def u8(p: Int): Int = bytes(p) & 0xFF
      def u16(p: Int): Int = (u8(p) << 8) | u8(p + 1)
      def u24(p: Int): Int = (u16(p) << 8) | u8(p + 2)
      // GRIB sign-magnitude: high bit = sign, remaining bits magnitude
      def s16(p: Int): Int = {
        val v = u16(p)
        if ((v & 0x8000) != 0) -(v & 0x7FFF) else v
      }
      def s24(p: Int): Int = {
        val v = u24(p)
        if ((v & 0x800000) != 0) -(v & 0x7FFFFF) else v
      }
      var p = 0
      while (p + 8 <= bytes.length) {
        require(u8(p) == 'G' && u8(p + 1) == 'R' && u8(p + 2) == 'I' &&
          u8(p + 3) == 'B', "GRIB magic")
        val msgLen = u24(p + 4)
        require(u8(p + 7) == 1, "edition 1 only")
        require(p + msgLen <= bytes.length, "truncated message")
        require(new String(bytes, p + msgLen - 4, 4, "US-ASCII") == "7777",
          "end section")
        // --- PDS ---
        val pds = p + 8
        val pdsLen = u24(pds)
        val flags = u8(pds + 7)
        require((flags & 0x80) != 0, "GDS required")
        val hasBms = (flags & 0x40) != 0
        val param = u8(pds + 8)
        val year = (u8(pds + 24) - 1) * 100 + u8(pds + 12)
        val refTime = java.time.LocalDateTime.of(year, u8(pds + 13),
          u8(pds + 14), u8(pds + 15), u8(pds + 16))
        val unitSecs = u8(pds + 17) match {
          case 0 => 60L
          case 1 => 3600L
          case 2 => 86400L
          case u => throw new IllegalArgumentException(s"time unit $u")
        }
        // Octet 21 time-range indicator: only 0 (forecast valid at
        // ref+P1) and 1 (analysis, P1=0) decode as ref+P1. Averages/
        // accumulations (2-5) and the 2-octet-P1 form (10) carry a
        // different valid-time semantics — quarantine loudly rather
        // than decode a silently wrong timestamp.
        val timeRange = u8(pds + 20)
        require(timeRange == 0 || timeRange == 1,
          s"time range indicator $timeRange unsupported")
        val validTime = refTime.plusSeconds(u8(pds + 18) * unitSecs) // P1
        // --- GDS ---
        val gds = pds + pdsLen
        val gdsLen = u24(gds)
        require(u8(gds + 5) == 0, "lat/lon grids only")
        val ni = u16(gds + 6)
        val nj = u16(gds + 8)
        require(ni > 0 && ni != 0xFFFF && nj > 0, "grid shape")
        val la1 = s24(gds + 10) / 1000.0
        val lo1 = s24(gds + 13) / 1000.0
        val di = u16(gds + 23) / 1000.0
        val dj = u16(gds + 25) / 1000.0
        require(u16(gds + 23) != 0xFFFF && u16(gds + 25) != 0xFFFF,
          "increments required")
        val scan = u8(gds + 27)
        require((scan & 0x20) == 0, "i-consecutive ordering only")
        val lonStep = if ((scan & 0x80) != 0) -di else di
        val latStep = if ((scan & 0x40) != 0) dj else -dj
        // --- BMS (optional) ---
        var sec = gds + gdsLen
        val bitmap: Int => Boolean = if (hasBms) {
          val bmsLen = u24(sec)
          val unused = u8(sec + 3)
          require(u16(sec + 4) == 0, "predefined bitmaps unsupported")
          val start = sec + 6
          require((bmsLen - 6).toLong * 8 - unused >= ni.toLong * nj,
            "bitmap length")
          val f = (idx: Int) =>
            ((u8(start + (idx >> 3)) >> (7 - (idx & 7))) & 1) == 1
          sec += bmsLen
          f
        } else _ => true
        // --- BDS ---
        val bds = sec
        val bdsFlags = u8(bds + 3)
        require((bdsFlags & 0xF0) == 0, "simple grid-point packing only")
        val e = s16(bds + 4)
        val r = ibm32(u8(bds + 6), u8(bds + 7), u8(bds + 8), u8(bds + 9))
        val nbits = u8(bds + 10)
        val dScale = s16(pds + 26)
        val scaleDiv = math.pow(10.0, dScale.toDouble)
        val pow2e = math.pow(2.0, e.toDouble)
        val dataStart = bds + 11
        def packed(k: Long): Long = {
          var acc = 0L
          var i = 0L
          while (i < nbits) {
            val b = k * nbits + i
            acc = (acc << 1) |
              ((u8(dataStart + (b >> 3).toInt) >> (7 - (b & 7).toInt)) & 1)
            i += 1
          }
          acc
        }
        val ts = java.sql.Timestamp.valueOf(validTime)
        val name = s"p$param"
        var k = 0L // rank among bitmap-present cells
        var idx = 0
        var j = 0
        while (j < nj) {
          var i = 0
          while (i < ni) {
            if (bitmap(idx)) {
              val v = if (nbits == 0) r / scaleDiv
                else (r + packed(k) * pow2e) / scaleDiv
              out += GridCell(name, ts, la1 + j * latStep, lo1 + i * lonStep, v)
              k += 1
            }
            idx += 1
            i += 1
          }
          j += 1
        }
        p += msgLen
      }
      out.result()
    }.getOrElse(Vector.empty)
    cells.iterator
  }

  /** GRIB drop → decoded long rows; self-describing like
    * [[NetCdf.decodeNcDrop]] (parameter + valid time live in the
    * message), one typed flatMap per file. */
  def decodeGribDrop(files: DataFrame): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col("name"), col("content")).as[RawTile]
      .flatMap(f => decodeGrib(f.content))
      .toDF("var", "time", "lat", "lon", "value")
  }

  /** The constant PDS+GDS prefix of the in-plan test message: param
    * 61 (precipitation), reference time 2024-01-15T00, decimal scale
    * D = 6 (micro-units), 8×8 quarter-degree grid from (43.875,
    * −9.875) scanning west→east / north→south, GDS+BMS flagged. */
  private lazy val PdsGdsHex: String = {
    val b = java.nio.ByteBuffer.allocate(60) // PDS 28 + GDS 32
    def u24(v: Int): Unit = { b.put((v >> 16).toByte).put((v >> 8).toByte)
      .put(v.toByte); () }
    def sm24(v: Int): Unit = u24(if (v < 0) 0x800000 | -v else v)
    // PDS
    u24(28); b.put(128.toByte).put(98.toByte).put(0.toByte).put(255.toByte)
    b.put(0xC0.toByte) // GDS + BMS present
    b.put(61.toByte).put(1.toByte).putShort(0) // param, level type, level
    b.put(24.toByte).put(1.toByte).put(15.toByte) // yy mm dd (of century)
    b.put(0.toByte).put(0.toByte) // hh min
    b.put(1.toByte).put(0.toByte).put(0.toByte).put(0.toByte) // unit P1 P2 rng
    b.putShort(0).put(0.toByte) // number in average, missing
    b.put(21.toByte).put(0.toByte) // century (2024), subcentre
    b.putShort(6) // decimal scale D = 6
    // GDS
    u24(32); b.put(0.toByte).put(255.toByte).put(0.toByte) // NV, PV, latlon
    b.putShort(8).putShort(8) // Ni, Nj
    sm24(43875); sm24(-9875) // first point (milli°)
    b.put(0x80.toByte) // increments given
    sm24(42125); sm24(-8125) // last point
    b.putShort(250).putShort(250) // Di, Dj
    b.put(0.toByte) // scan: i+, j− (north → south)
    u24(0); b.put(0.toByte) // reserved
    b.array().map(x => f"$x%02X").mkString
  }

  /** END-TO-END GRIB-1 round trip, oracle-checked — the bit-packed
    * twin of [[Grids.gridTiffDecode]] on the same events grid: cell
    * means in micro-units pack as 32-bit integers N = v_us + 2³¹
    * against the exact IBM-float reference R = −2³¹ with E = 0 and
    * decimal scale D = 6; masked cells drop out through a REAL BMS
    * bitmap assembled bit-by-bit in-plan. Only the PDS/GDS prefix is
    * constant — the message and BDS lengths, the bitmap and the data
    * words are all computed in the plan, so the gate exercises the
    * length arithmetic too. The oracle recomputes the expected
    * decode; unpacking is (−2³¹ + (v_us+2³¹))/10⁶ = v_us/1e6, exact
    * in IEEE on both engines. */
  def gridGribDecode(spark: SparkSession, dir: String): DataFrame = {
    val cells = cellMeans(spark, dir)
      .withColumn("present",
        !(nodata || col("v_us").isNull ||
          col("v_us") === -2147483648L))
      // message cell index: north row first, west→east
      .withColumn("idx", (lit(7) - col("gy")) * 8 + col("gx"))
    val bmp = cells
      .groupBy((col("idx") / 8).cast("int").as("b"))
      .agg(sum(when(col("present"),
        expr("shiftleft(1, cast(7 - idx % 8 as int))"))
        .otherwise(0)).as("bv"))
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct(col("b"),
          lpad(hex(col("bv")), 2, "0").as("h")))),
        s => s.getField("h"))).as("bmphex"))
    val dat = cells.filter(col("present"))
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct(col("idx"),
          lpad(hex(col("v_us") + lit(2147483648L)), 8, "0").as("h")))),
        s => s.getField("h"))).as("datahex"),
        count(lit(1)).as("np"))
    def len3(e: org.apache.spark.sql.Column) =
      lpad(hex(e.cast("long")), 6, "0")
    val doc = dat.crossJoin(bmp)
      .select(lit("cds_fc_000.grib").as("name"), unhex(concat(
        lit("47524942"),                // "GRIB"
        len3(lit(98) + col("np") * 4),  // total message length
        lit("01"),                      // edition
        lit(PdsGdsHex),
        lit("00000E000000"),            // BMS: len 14, 0 unused, table 0
        col("bmphex"),
        len3(lit(12) + col("np") * 4),  // BDS length (11 + data + pad)
        lit("08"),                      // flags 0, 8 unused trailing bits
        lit("0000"),                    // E = 0
        lit("C8800000"),                // R = −2³¹ (IBM float)
        lit("20"),                      // 32 bits per value
        col("datahex"),
        lit("00"),                      // even-length pad
        lit("37373737"))).as("content")) // "7777"
    decodeGribDrop(doc)
      .select(col("var"), date_format(col("time"), "yyyy-MM-dd").as("day"),
        col("lat"), col("lon"), (col("value")).as("value"))
  }
}
