package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Climate.{cellMeans, nodata}
import Grids.{GridCell, RawTile}

/** REAL NetCDF classic codec for the binary-drop seam — the format
  * behind most of the reference's ingest surface (`ingestor_cds_
  * process.py` CDS downloads, `ingestor_smhi_process.py` FTP NetCDF,
  * `ingestor_planetary_process.py:130` `read_netcdf`), decoded here
  * without the netCDF-C library: the classic (CDF-1) and 64-bit-
  * offset (CDF-2) container per the public NetCDF Classic Format
  * Specification. Big-endian throughout; header = dim list, global
  * attributes, variable list (each with its own attribute list, type,
  * vsize and begin offset); fixed-size variables stored contiguous
  * row-major at `begin`, record variables interleaved per record in
  * `recsize` slabs. The CDF conventions the reference's xarray stack
  * applies on read are honored: `scale_factor`/`add_offset` packing
  * and `_FillValue`/`missing_value` masking (raw equality BEFORE
  * scaling), `units: <interval> since <date>` time decoding.
  *
  * Same quarantine discipline as [[Grids.decodeTiff]]: any malformed,
  * truncated or unsupported structure yields zero cells, never an
  * exception — a poison file cannot kill an ingest job.
  */
object NetCdf {

  private[graft] case class NcDim(name: String, size: Int) // 0 = record
  private[graft] case class NcAtt(name: String, values: Either[String, IndexedSeq[Double]])
  private[graft] case class NcVar(name: String, dimIds: IndexedSeq[Int],
    atts: IndexedSeq[NcAtt], ncType: Int, vsize: Long, begin: Long)
  private[graft] case class NcHeader(numRecs: Int, dims: IndexedSeq[NcDim],
    gatts: IndexedSeq[NcAtt], vars: IndexedSeq[NcVar])

  private val TypeSize = Map(1 -> 1, 2 -> 1, 3 -> 2, 4 -> 4, 5 -> 4, 6 -> 8)

  /** Parse the classic header; None on any structural violation. */
  private[graft] def parseHeader(bytes: Array[Byte]): Option[NcHeader] =
    scala.util.Try {
      val buf = java.nio.ByteBuffer.wrap(bytes) // CDF is big-endian
      require(buf.get() == 'C'.toByte && buf.get() == 'D'.toByte &&
        buf.get() == 'F'.toByte, "magic")
      val version = buf.get().toInt
      require(version == 1 || version == 2, "CDF-1/CDF-2 only")
      val numRecs = buf.getInt
      require(numRecs >= 0, "streaming numrecs unsupported")
      def name(): String = {
        val len = buf.getInt
        require(len >= 0 && len <= buf.remaining(), "name length")
        val b = new Array[Byte](len)
        buf.get(b)
        buf.position(buf.position() + ((4 - len % 4) % 4)) // pad to 4
        new String(b, "UTF-8")
      }
      def list(tag: Int): Int = {
        val t = buf.getInt
        val n = buf.getInt
        require(t == tag && n > 0 || t == 0 && n == 0, s"list tag $tag")
        n
      }
      val dims = (0 until list(10)).map { _ =>
        NcDim(name(), { val s = buf.getInt; require(s >= 0, "dim size"); s })
      }
      def atts(): IndexedSeq[NcAtt] = (0 until list(12)).map { _ =>
        val nm = name()
        val typ = buf.getInt
        val n = buf.getInt
        require(TypeSize.contains(typ) && n >= 0 &&
          n.toLong * TypeSize(typ) <= buf.remaining(), "att shape")
        val v: Either[String, IndexedSeq[Double]] =
          if (typ == 2) {
            val b = new Array[Byte](n)
            buf.get(b)
            Left(new String(b, "UTF-8"))
          } else Right((0 until n).map(_ => typ match {
            case 1 => buf.get().toDouble
            case 3 => buf.getShort.toDouble
            case 4 => buf.getInt.toDouble
            case 5 => buf.getFloat.toDouble
            case 6 => buf.getDouble
          }))
        buf.position(buf.position() +
          ((4 - (n.toLong * TypeSize(typ)) % 4) % 4).toInt)
        NcAtt(nm, v)
      }
      val gatts = atts()
      val vars = (0 until list(11)).map { _ =>
        val nm = name()
        val nd = buf.getInt
        require(nd >= 0 && nd <= 7, "ndims")
        val dimIds = (0 until nd).map { _ =>
          val d = buf.getInt
          require(d >= 0 && d < dims.length, "dim id")
          d
        }
        val va = atts()
        val typ = buf.getInt
        require(TypeSize.contains(typ), "var type")
        val vsize = buf.getInt.toLong & 0xFFFFFFFFL
        val begin = if (version == 1) buf.getInt.toLong & 0xFFFFFFFFL
          else buf.getLong
        NcVar(nm, dimIds, va, typ, vsize, begin)
      }
      NcHeader(numRecs, dims, gatts, vars)
    }.toOption

  private def attNum(v: NcVar, name: String): Option[Double] =
    v.atts.find(_.name == name).flatMap(_.values.toOption).flatMap(_.headOption)

  private def attStr(v: NcVar, name: String): Option[String] =
    v.atts.find(_.name == name).flatMap(_.values.left.toOption)

  /** `"<interval> since <date>"` → epoch-second multiplier + base. */
  private def parseTimeUnits(units: String): Option[(Long, java.time.LocalDateTime)] = {
    val parts = units.trim.split("\\s+since\\s+")
    if (parts.length != 2) return None
    val mult = parts(0).trim.toLowerCase match {
      case "days" => 86400L
      case "hours" => 3600L
      case "minutes" => 60L
      case "seconds" => 1L
      case _ => return None
    }
    scala.util.Try {
      val d = parts(1).trim.take(19).replace(' ', 'T')
      if (d.length <= 10) java.time.LocalDate.parse(d.take(10)).atStartOfDay()
      else java.time.LocalDateTime.parse(d)
    }.toOption.map(mult -> _)
  }

  private val LatNames = Set("lat", "latitude", "y")
  private val LonNames = Set("lon", "longitude", "x")
  private val TimeNames = Set("time", "valid_time", "t")

  /** Decode every `(time?, lat, lon)`-shaped data variable of one
    * classic file to cells. Coordinate variables (a variable whose
    * single dimension bears its own name) supply the axis values; a
    * missing time axis decodes to the epoch. */
  def decodeNc(bytes: Array[Byte]): Iterator[GridCell] = {
    val cells = scala.util.Try {
      val h = parseHeader(bytes).getOrElse(throw new IllegalArgumentException)
      val buf = java.nio.ByteBuffer.wrap(bytes)
      def isRec(v: NcVar) = v.dimIds.headOption.exists(h.dims(_).size == 0)
      val recSize = h.vars.filter(isRec).map(_.vsize).sum
      def dimLen(id: Int) =
        if (h.dims(id).size == 0) h.numRecs else h.dims(id).size
      // flat read of element i (row-major over the var's shape)
      def read(v: NcVar, i: Long): Double = {
        val ts = TypeSize(v.ncType)
        val p = (if (isRec(v)) {
          val perRec = v.dimIds.drop(1).map(dimLen(_).toLong).product
          val rec = i / perRec
          v.begin + rec * recSize + (i % perRec) * ts
        } else v.begin + i * ts).toInt
        v.ncType match {
          case 1 => buf.get(p).toDouble
          case 3 => buf.getShort(p).toDouble
          case 4 => buf.getInt(p).toDouble
          case 5 => buf.getFloat(p).toDouble
          case 6 => buf.getDouble(p)
        }
      }
      val coord = h.vars.filter(v => v.dimIds.length == 1 &&
        h.dims(v.dimIds.head).name == v.name)
        .map(v => v.dimIds.head -> v).toMap
      def axis(id: Int): IndexedSeq[Double] =
        (0L until dimLen(id).toLong).map(read(coord(id), _))
      val out = Vector.newBuilder[GridCell]
      for {
        v <- h.vars
        if !coord.valuesIterator.contains(v) // not itself a coordinate
        dims = v.dimIds.map(d => h.dims(d).name.toLowerCase)
        if dims.length >= 2 && dims.length <= 3 &&
          LatNames(dims(dims.length - 2)) && LonNames(dims.last) &&
          (dims.length == 2 || TimeNames(dims.head) ||
            h.dims(v.dimIds.head).size == 0) &&
          v.dimIds.forall(coord.contains)
      } {
        val lats = axis(v.dimIds(v.dimIds.length - 2))
        val lons = axis(v.dimIds.last)
        val times: IndexedSeq[java.sql.Timestamp] =
          if (v.dimIds.length == 2)
            IndexedSeq(java.sql.Timestamp.valueOf(
              java.time.LocalDateTime.of(1970, 1, 1, 0, 0)))
          else {
            val tv = coord(v.dimIds.head)
            val (mult, base) = attStr(tv, "units")
              .flatMap(parseTimeUnits)
              .getOrElse((86400L,
                java.time.LocalDateTime.of(1970, 1, 1, 0, 0)))
            axis(v.dimIds.head).map(x => java.sql.Timestamp.valueOf(
              base.plusSeconds((x * mult).toLong)))
          }
        val fill = attNum(v, "_FillValue").orElse(attNum(v, "missing_value"))
        val scale = attNum(v, "scale_factor").getOrElse(1.0)
        val add = attNum(v, "add_offset").getOrElse(0.0)
        var i = 0L
        times.indices.foreach { t =>
          lats.indices.foreach { la =>
            lons.indices.foreach { lo =>
              val raw = read(v, i)
              i += 1
              if (!fill.contains(raw))
                out += GridCell(v.name, times(t), lats(la), lons(lo),
                  raw * scale + add)
            }
          }
        }
      }
      out.result()
    }.getOrElse(Vector.empty)
    cells.iterator
  }

  /** NetCDF drop → decoded long rows: unlike the `.tif`/`.asc` lanes
    * the file is fully self-describing (variable names and the time
    * axis live in the header), so the filename carries nothing. */
  def decodeNcDrop(files: DataFrame): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col("name"), col("content")).as[RawTile]
      .flatMap(f => decodeNc(f.content))
      .toDF("var", "time", "lat", "lon", "value")
  }

  // --- writer (spec round-trip twin + in-plan fixture) --------------

  private def nameBytes(s: String): Array[Byte] = {
    val b = s.getBytes("UTF-8")
    val out = new Array[Byte](4 + b.length + (4 - b.length % 4) % 4)
    val bb = java.nio.ByteBuffer.wrap(out)
    bb.putInt(b.length).put(b)
    out
  }

  /** Header + fixed-variable data + the time slab of record 0 for the
    * standard test raster: dims `time(record)/lat(8)/lon(8)`, coord
    * vars `time:int days-since-epoch`, `lat,lon:double`, data var
    * `<varName>(time,lat,lon):int` packed with `scale_factor` 1e-6
    * and `_FillValue` −2³¹. Appending the 64 big-endian int32 samples
    * (north row first, matching descending `latsDesc`) completes a
    * valid CDF-1 file — which is how [[gridNcDecode]] builds one
    * in-plan from 64 data words plus this constant prefix. */
  private[graft] def encodeGridNcPrefix(varName: String, epochDay: Int,
      latsDesc: Array[Double], lons: Array[Double]): Array[Byte] = {
    val ny = latsDesc.length
    val nx = lons.length
    // two passes: the begin offsets appear inside the header but do
    // not change its length, so pass 1 (zero begins) measures it
    def header(bLat: Int, bLon: Int, bTime: Int, bData: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.write(Array('C'.toByte, 'D'.toByte, 'F'.toByte, 1.toByte))
      out.writeInt(1) // numrecs
      out.writeInt(10); out.writeInt(3) // NC_DIMENSION
      out.write(nameBytes("time")); out.writeInt(0) // record dim
      out.write(nameBytes("lat")); out.writeInt(ny)
      out.write(nameBytes("lon")); out.writeInt(nx)
      out.writeInt(0); out.writeInt(0) // no global atts (ABSENT)
      out.writeInt(11); out.writeInt(4) // NC_VARIABLE
      // time(time)
      out.write(nameBytes("time")); out.writeInt(1); out.writeInt(0)
      out.writeInt(12); out.writeInt(1) // one att
      out.write(nameBytes("units")); out.writeInt(2) // NC_CHAR
      val units = "days since 1970-01-01".getBytes("UTF-8")
      out.writeInt(units.length); out.write(units)
      out.write(new Array[Byte]((4 - units.length % 4) % 4))
      out.writeInt(4); out.writeInt(4); out.writeInt(bTime)
      // lat(lat), lon(lon)
      out.write(nameBytes("lat")); out.writeInt(1); out.writeInt(1)
      out.writeInt(0); out.writeInt(0)
      out.writeInt(6); out.writeInt(ny * 8); out.writeInt(bLat)
      out.write(nameBytes("lon")); out.writeInt(1); out.writeInt(2)
      out.writeInt(0); out.writeInt(0)
      out.writeInt(6); out.writeInt(nx * 8); out.writeInt(bLon)
      // <varName>(time, lat, lon)
      out.write(nameBytes(varName)); out.writeInt(3)
      out.writeInt(0); out.writeInt(1); out.writeInt(2)
      out.writeInt(12); out.writeInt(2)
      out.write(nameBytes("scale_factor")); out.writeInt(6); out.writeInt(1)
      out.writeDouble(1e-6)
      out.write(nameBytes("_FillValue")); out.writeInt(4); out.writeInt(1)
      out.writeInt(Int.MinValue)
      out.writeInt(4); out.writeInt(ny * nx * 4); out.writeInt(bData)
      bos.toByteArray
    }
    val headerLen = header(0, 0, 0, 0).length
    val bLat = headerLen
    val bLon = bLat + ny * 8
    val bTime = bLon + nx * 8 // record section start
    val bData = bTime + 4
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.write(header(bLat, bLon, bTime, bData))
    latsDesc.foreach(out.writeDouble)
    lons.foreach(out.writeDouble)
    out.writeInt(epochDay) // record 0's time slab
    bos.toByteArray
  }

  /** END-TO-END NetCDF round trip, oracle-checked — the
    * self-describing twin of [[Grids.gridTiffDecode]] on the same 8×8
    * events grid: cell means in integer micro-units become the int32
    * samples of a packed `precip(time,lat,lon)` variable (CDS-style
    * `scale_factor`/`_FillValue` conventions, record time axis,
    * coordinate variables) appended to the constant header prefix,
    * and [[decodeNcDrop]] parses the complete CDF-1 bytes back —
    * header walk, record interleave, unpacking and masking all on the
    * real format. The DuckDB oracle recomputes the expected decode
    * from the source grid (multiplying by the same 1e-6 scale, so the
    * packed arithmetic is bit-identical across engines). */
  def gridNcDecode(spark: SparkSession, dir: String): DataFrame = {
    val epochDay = java.time.LocalDate.parse("2024-01-15").toEpochDay.toInt
    val lats = Array.tabulate(8)(i => 43.875 - 0.25 * i) // descending (CDS)
    val lons = Array.tabulate(8)(j => -9.875 + 0.25 * j)
    val prefixHex = encodeGridNcPrefix("precip", epochDay, lats, lons)
      .map(b => f"$b%02X").mkString
    val cells = cellMeans(spark, dir)
      .withColumn("s32",
        when(nodata || col("v_us").isNull,
          lit(Int.MinValue.toLong)).otherwise(col("v_us")))
      // big-endian hex needs no byte swap: lpad(hex(two's complement))
      .withColumn("hx", lpad(hex(col("s32")
        .bitwiseAND(lit(0xFFFFFFFFL))), 8, "0"))
    val rows = cells
      .groupBy(col("gy"))
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct(col("gx"), col("hx")))),
        s => s.getField("hx"))).as("rowhex"))
    val doc = rows.agg(concat_ws("", reverse(transform(
        array_sort(collect_list(struct(col("gy"), col("rowhex")))),
        s => s.getField("rowhex")))).as("bodyhex"))
      .select(lit("cds_drop_0001.nc").as("name"),
        unhex(concat(lit(prefixHex), col("bodyhex"))).as("content"))
    decodeNcDrop(doc)
      .select(col("var"), date_format(col("time"), "yyyy-MM-dd").as("day"),
        col("lat"), col("lon"), col("value"))
  }
}
