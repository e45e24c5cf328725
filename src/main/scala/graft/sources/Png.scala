package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Climate.{byCell, microMean}

/** REAL PNG codec — the "image decode" half of the multimodal seam
  * made real: PNG is DEFLATE plus arithmetic (chunk CRCs, five
  * scanline filters), all of which `java.util.zip` covers, so unlike
  * JPEG/video there is no library gap to stub. Full critical-chunk
  * decode: signature, chunk walk with CRC32 VERIFICATION, IHDR
  * validation, multi-IDAT concatenation, zlib inflate, and the
  * complete filter reconstruction (None/Sub/Up/Average/Paeth) for
  * gray / RGB / gray+alpha / RGBA at depth 8 AND 16, palette (PLTE
  * indexing at depth 1/2/4/8), sub-byte grayscale, and Adam7
  * interlacing (per-pass filtering + placement). Ancillary chunks
  * skip. Baseline JPEG decodes via [[Jpeg]] (r11); video frame
  * payloads remain the declared codec-library seam.
  *
  * Decode is one typed flatMap per asset; everything downstream is
  * exact-integer Column algebra the oracle replays.
  */
object Png {

  private[graft] val Sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
    .map(_.toByte)

  private[graft] def channelsOf(colorType: Int): Int = colorType match {
    case 0 => 1; case 2 => 3; case 4 => 2; case 6 => 4; case _ => 0
  }

  /** `channels` is the OUTPUT channel count: the raw channel count
    * for gray/RGB/GA/RGBA, and 3 for palette images (indices expand
    * through PLTE at decode time). Sample values are 0-255 for bit
    * depths ≤ 8 and 0-65535 for 16-bit. */
  private[graft] case class PngImage(width: Int, height: Int,
      colorType: Int, channels: Int, samples: Array[Int]) // row-major

  /** The Adam7 pass grid: (xStart, yStart, xStep, yStep) per pass.
    * PNG spec §8.2 — empty passes (a dimension rounds to zero)
    * contribute no scanlines at all, not even filter bytes. */
  private[graft] val Adam7 = Seq(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** Full critical-chunk decode — gray/RGB/GA/RGBA at depth 8/16,
    * gray and palette at depth 1/2/4/8, non-interlaced AND Adam7.
    * Left(reason) quarantines. */
  private[graft] def decodePng(bytes: Array[Byte]):
      Either[String, PngImage] = {
    if (bytes.length < 8 || !java.util.Arrays.equals(
        bytes.take(8), Sig)) return Left("bad_signature")
    def u32(p: Int): Long =
      ((bytes(p) & 0xFFL) << 24) | ((bytes(p + 1) & 0xFFL) << 16) |
        ((bytes(p + 2) & 0xFFL) << 8) | (bytes(p + 3) & 0xFFL)
    var p = 8
    var ihdr: Option[(Int, Int, Int, Int, Int)] = None
    var plte: Option[Array[Int]] = None // flat RGB triples
    var trns: Option[Array[Int]] = None // per-palette-entry alpha
    val idat = new java.io.ByteArrayOutputStream()
    var ended = false
    while (!ended) {
      if (p + 8 > bytes.length) return Left("truncated_chunk")
      val len = u32(p).toInt
      if (len < 0 || p + 12 + len > bytes.length)
        return Left("truncated_chunk")
      val ctype = new String(bytes, p + 4, 4, "US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(bytes, p + 4, 4 + len)
      if (crc.getValue != u32(p + 8 + len)) return Left("bad_crc")
      ctype match {
        case "IHDR" =>
          if (len != 13) return Left("bad_ihdr")
          val (w, h) = (u32(p + 8).toInt, u32(p + 12).toInt)
          val bitDepth = bytes(p + 16) & 0xFF
          val colorType = bytes(p + 17) & 0xFF
          val (compression, filter, interlace) =
            (bytes(p + 18) & 0xFF, bytes(p + 19) & 0xFF, bytes(p + 20) & 0xFF)
          val okDepths: Set[Int] = colorType match {
            case 0 => Set(1, 2, 4, 8, 16)
            case 3 => Set(1, 2, 4, 8)
            case 2 | 4 | 6 => Set(8, 16)
            case _ => Set.empty
          }
          if (okDepths.isEmpty) return Left("unsupported_color_type")
          if (!okDepths(bitDepth)) return Left("unsupported_bit_depth")
          if (compression != 0 || filter != 0) return Left("bad_ihdr")
          if (interlace > 1) return Left("bad_ihdr")
          if (w <= 0 || h <= 0) return Left("bad_ihdr")
          ihdr = Some((w, h, bitDepth, colorType, interlace))
        case "PLTE" =>
          if (len % 3 != 0 || len == 0 || len > 768) return Left("bad_plte")
          plte = Some(Array.tabulate(len)(i => bytes(p + 8 + i) & 0xFF))
        case "tRNS" =>
          if (len > 256) return Left("bad_trns")
          trns = Some(Array.tabulate(len)(i => bytes(p + 8 + i) & 0xFF))
        case "IDAT" => idat.write(bytes, p + 8, len)
        case "IEND" => ended = true
        case _ => () // ancillary chunks skip
      }
      p += 12 + len
    }
    ihdr match {
      case None => Left("missing_ihdr")
      case Some((w, h, depth, colorType, interlace)) =>
        val rawCh = if (colorType == 3) 1 else channelsOf(colorType)
        if (colorType == 3 && plte.isEmpty) return Left("missing_plte")
        val bitsPP = depth * rawCh
        val bpp = math.max(1, bitsPP / 8) // filter byte distance
        def rowBytes(wp: Int): Int = (wp * bitsPP + 7) / 8
        val raw = try {
          val inf = new java.util.zip.Inflater()
          inf.setInput(idat.toByteArray)
          val out = new java.io.ByteArrayOutputStream(h * (1 + rowBytes(w)))
          val buf = new Array[Byte](8192)
          while (!inf.finished()) {
            val n = inf.inflate(buf)
            if (n == 0 && inf.needsInput())
              throw new java.io.EOFException()
            out.write(buf, 0, n)
          }
          inf.end(); out.toByteArray
        } catch { case _: Exception => return Left("bad_idat_stream") }
        val passes = if (interlace == 0) Seq((0, 0, 1, 1)) else Adam7
        val dims = passes.map { case (x0, y0, dx, dy) =>
          (if (w > x0) (w - x0 + dx - 1) / dx else 0,
            if (h > y0) (h - y0 + dy - 1) / dy else 0)
        }
        val expected = dims.map { case (wp, hp) =>
          if (wp == 0 || hp == 0) 0L else hp.toLong * (1 + rowBytes(wp))
        }.sum
        if (raw.length.toLong != expected) return Left("bad_pixel_length")
        // palette + tRNS → RGBA (entries past the tRNS table are
        // opaque per the spec); color-key tRNS on gray/RGB is parsed
        // but not applied (those lanes stay at their raw channels)
        val outCh =
          if (colorType == 3) { if (trns.isDefined) 4 else 3 }
          else rawCh
        val out = new Array[Int](w * h * outCh)
        var off = 0
        for (((x0, y0, dx, dy), (wp, hp)) <- passes.zip(dims)
             if wp > 0 && hp > 0) {
          val rb = rowBytes(wp)
          // filter reconstruction, PNG spec §4.5.4 — byte-level with
          // bpp = ceil(bits-per-pixel / 8), per PASS (filters never
          // cross pass boundaries)
          val rec = new Array[Int](hp * rb)
          var y = 0
          while (y < hp) {
            val f = raw(off + y * (1 + rb)) & 0xFF
            if (f > 4) return Left("bad_filter_type")
            var i = 0
            while (i < rb) {
              val x = raw(off + y * (1 + rb) + 1 + i) & 0xFF
              val a = if (i >= bpp) rec(y * rb + i - bpp) else 0
              val b = if (y > 0) rec((y - 1) * rb + i) else 0
              val c = if (y > 0 && i >= bpp)
                rec((y - 1) * rb + i - bpp) else 0
              val recon = f match {
                case 0 => x
                case 1 => x + a
                case 2 => x + b
                case 3 => x + ((a + b) >> 1)
                case _ => // Paeth
                  val pp = a + b - c
                  val (pa, pb, pc) =
                    (math.abs(pp - a), math.abs(pp - b), math.abs(pp - c))
                  x + (if (pa <= pb && pa <= pc) a
                       else if (pb <= pc) b else c)
              }
              rec(y * rb + i) = recon & 0xFF
              i += 1
            }
            y += 1
          }
          off += hp * (1 + rb)
          // sample extraction + Adam7 placement
          var yy = 0
          while (yy < hp) {
            var xx = 0
            while (xx < wp) {
              val dest = (y0 + yy * dy) * w + (x0 + xx * dx)
              var ci = 0
              while (ci < rawCh) {
                val si = xx * rawCh + ci
                val v = depth match {
                  case 16 =>
                    (rec(yy * rb + si * 2) << 8) | rec(yy * rb + si * 2 + 1)
                  case 8 => rec(yy * rb + si)
                  case d => // 1/2/4-bit, MSB-first packing
                    val bo = si * d
                    (rec(yy * rb + (bo >> 3)) >> (8 - d - (bo & 7))) &
                      ((1 << d) - 1)
                }
                if (colorType == 3) {
                  val pal = plte.get
                  if (v * 3 + 2 >= pal.length)
                    return Left("bad_palette_index")
                  out(dest * outCh) = pal(v * 3)
                  out(dest * outCh + 1) = pal(v * 3 + 1)
                  out(dest * outCh + 2) = pal(v * 3 + 2)
                  if (outCh == 4)
                    out(dest * 4 + 3) =
                      trns.get.lift(v).getOrElse(255)
                } else out(dest * rawCh + ci) = v
                ci += 1
              }
              xx += 1
            }
            yy += 1
          }
        }
        Right(PngImage(w, h, colorType, outCh, out))
    }
  }

  /** Encoder for the render seam: applies the CALLER-CHOSEN filter
    * per row (the decode gate exercises all five), deflates, writes
    * IHDR/IDAT/IEND with real CRCs. */
  private[graft] def encodePng(w: Int, h: Int, colorType: Int,
      samples: Array[Int], filterOf: Int => Int): Array[Byte] = {
    val ch = channelsOf(colorType)
    require(ch > 0 && samples.length == w * h * ch)
    val stride = w * ch
    val raw = new Array[Byte](h * (1 + stride))
    for (y <- 0 until h) {
      val f = filterOf(y) % 5
      raw(y * (1 + stride)) = f.toByte
      for (i <- 0 until stride) {
        val x = samples(y * stride + i)
        val a = if (i >= ch) samples(y * stride + i - ch) else 0
        val b = if (y > 0) samples((y - 1) * stride + i) else 0
        val c = if (y > 0 && i >= ch) samples((y - 1) * stride + i - ch)
          else 0
        val pred = f match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) >> 1
          case _ =>
            val pp = a + b - c
            val (pa, pb, pc) =
              (math.abs(pp - a), math.abs(pp - b), math.abs(pp - c))
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        raw(y * (1 + stride) + 1 + i) = ((x - pred) & 0xFF).toByte
      }
    }
    Sig ++ pngChunk("IHDR", ihdrBytes(w, h, 8, colorType, 0)) ++
      pngChunk("IDAT", deflateBytes(raw)) ++
      pngChunk("IEND", Array.emptyByteArray)
  }

  private[graft] def pngChunk(ctype: String, data: Array[Byte]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(12 + data.length)
    b.putInt(data.length).put(ctype.getBytes("US-ASCII")).put(data)
    val crc = new java.util.zip.CRC32()
    crc.update(ctype.getBytes("US-ASCII")); crc.update(data)
    b.putInt(crc.getValue.toInt)
    b.array()
  }

  private[graft] def deflateBytes(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(6)
    d.setInput(raw); d.finish()
    val z = new java.io.ByteArrayOutputStream(raw.length)
    val buf = new Array[Byte](8192)
    while (!d.finished()) z.write(buf, 0, d.deflate(buf))
    d.end()
    z.toByteArray
  }

  private[graft] def ihdrBytes(w: Int, h: Int, depth: Int, colorType: Int,
      interlace: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(depth.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(interlace.toByte).array()

  /** docs(name, content) → one row per SAMPLE (name, color_type, y,
    * x, c, v) + the quarantine frame. */
  def decodePngDrop(docs: DataFrame): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val decoded = docs.select(col("name"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (name, bytes) =>
        decodePng(bytes) match {
          case Left(reason) =>
            Iterator((false, name, reason, 0, 0L, 0L, 0L, 0))
          case Right(img) =>
            val ch = img.channels
            img.samples.iterator.zipWithIndex.map { case (v, i) =>
              val (y, rem) = (i / (img.width * ch), i % (img.width * ch))
              (true, name, null: String, img.colorType,
                y.toLong, (rem / ch).toLong, (rem % ch).toLong, v)
            }
        }
      }
      .toDF("ok", "name", "reason", "color_type", "y", "x", "c", "v")
    (decoded.filter(col("ok")).drop("ok", "reason"),
      decoded.filter(!col("ok")).select(col("name"), col("reason")))
  }

  /** REAL pixel-space RESIZE — the training-pipeline thumbnail /
    * feature-pyramid op over DECODED pixels (the byte-level
    * `multimodal_resample` twin, now with an actual image under it):
    * repeated 2×2 box downsampling, each level the integer box mean
    * `⌊(a+b+c+d)/4⌋` of the previous (floor on an exactly-halved
    * double — engine-identical), 8×8 → 4×4 → 2×2 → 1×1. Output per
    * (image, level, channel): pixel count, value mass, and a
    * POSITIONAL checksum Σ v·(y·W + x + 1) so a transposed or
    * misplaced pixel — not just a wrong mean — breaks the gate. */
  def imageResizePyramid(spark: SparkSession, dir: String): DataFrame = {
    val (samples, _) = decodePngDrop(renderedImages(spark, dir))
    val l0 = samples.select(col("name"), col("c"), col("y"), col("x"),
      col("v").cast("long").as("v")).localCheckpoint()
    val levels = Iterator.iterate((l0, 0, 8)) { case (lv, k, dim) =>
      (lv.groupBy(col("name"), col("c"),
          expr("y div 2").as("y"), expr("x div 2").as("x"))
        .agg(floor(sum(col("v")).cast("double") / 2.0 / 2.0)
          .cast("long").as("v")),
        k + 1, dim / 2)
    }.take(4).toSeq
    levels.map { case (lv, k, dim) =>
      lv.groupBy(col("name"), col("c"))
        .agg(count(lit(1)).as("n_px"), sum(col("v")).as("sum_v"),
          sum(col("v") * (col("y") * dim + col("x") + 1)).as("poschk"))
        .withColumn("level", lit(k))
    }.reduce(_ unionByName _)
      .select(col("name"), col("level"), col("c"), col("n_px"),
        col("sum_v"), col("poschk"))
      .orderBy(col("name"), col("level"), col("c"))
  }

  /** The four-image render shared by [[imagePngStats]] and
    * [[imageResizePyramid]]. */
  private[graft] def renderedImages(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val grid = byCell(graft.Tables.events(spark, dir))
      .agg(microMean.as("v_us"))
      .withColumnsRenamed(Map("gy" -> "y", "gx" -> "x"))
    val lattice = spark.range(256)
      .select(expr("id div 64").as("g"),
        expr("id % 64 div 8").as("y"), (col("id") % 8).as("x"))
    lattice.join(grid, Seq("y", "x"), "left")
      .withColumn("p",
        ((coalesce(col("v_us"), lit(0L)) + col("g") * 7) % 256 + 256) % 256)
      .groupBy(col("g"))
      .agg(array_sort(collect_list(struct(
        (col("y") * 8 + col("x")).as("i"), col("p")))).as("px"))
      .as[(Long, Seq[(Long, Long)])]
      .map { case (g, px) =>
        val colorType = Seq(0, 2, 4, 6)(g.toInt)
        val ch = channelsOf(colorType)
        val base = px.map(_._2.toInt).toArray
        val samples = Array.tabulate(64 * ch) { j =>
          val (i, c) = (j / ch, j % ch)
          (base(i) * (2 * c + 1) + c + g.toInt) % 256
        }
        (s"img_$g.png",
          encodePng(8, 8, colorType, samples, y => (y + g.toInt) % 5))
      }.toDF("name", "content")
  }

  /** END-TO-END oracle-checked lane: four images render in-plan from
    * the events grid — one per supported color type (gray / RGB /
    * gray+alpha / RGBA), base pixel `p = ((v_us(y,x) + 7g) mod 256`
    * normalized positive, channel value `(p(2c+1) + c + g) mod 256`
    * — each with a DIFFERENT filter rotation `(y + g) mod 5`, so
    * every one of the five PNG filters reconstructs somewhere in
    * the gate. Decode back through the real chunk walk (CRCs
    * verified), then exact-integer per-channel stats. A CRC, filter,
    * stride or channel-interleave bug cannot hash-match. */
  def imagePngStats(spark: SparkSession, dir: String): DataFrame = {
    val (samples, _) = decodePngDrop(renderedImages(spark, dir))
    samples.groupBy(col("name"), col("color_type"), col("c"))
      .agg(count(lit(1)).as("n_px"),
        sum(col("v").cast("long")).as("sum_v"),
        min(col("v").cast("long")).as("min_v"),
        max(col("v").cast("long")).as("max_v"))
      .orderBy(col("name"), col("c"))
  }
}
