package graft

import graft.sources.{Blosc, Grids, Png}

/** Fixture encoders of the codec specs: the write-side twins of the
  * PNG, zarr-chunk, stub-tile and GeoTIFF decoders in
  * `graft.sources`, which no product path needs. */
object CodecFixtures {

  /** Fixture encoder: PALETTE image at depth 1/2/4/8, MSB-first
    * index packing, filter-0 scanlines (filter coverage lives in the
    * main encoder's rotation). `palette` is flat RGB triples. */
  def encodePngPalette(w: Int, h: Int, depth: Int,
      palette: Array[Int], indices: Array[Int],
      alpha: Option[Array[Int]] = None): Array[Byte] = {
    require(palette.length % 3 == 0 && indices.length == w * h)
    val rb = (w * depth + 7) / 8
    val raw = new Array[Byte](h * (1 + rb))
    for (y <- 0 until h; x <- 0 until w) {
      val bo = x * depth
      val pos = y * (1 + rb) + 1 + (bo >> 3)
      raw(pos) = (raw(pos) |
        (indices(y * w + x) << (8 - depth - (bo & 7)))).toByte
    }
    Png.Sig ++ Png.pngChunk("IHDR", Png.ihdrBytes(w, h, depth, 3, 0)) ++
      Png.pngChunk("PLTE", palette.map(_.toByte)) ++
      alpha.map(a => Png.pngChunk("tRNS", a.map(_.toByte)))
        .getOrElse(Array.emptyByteArray) ++
      Png.pngChunk("IDAT", Png.deflateBytes(raw)) ++
      Png.pngChunk("IEND", Array.emptyByteArray)
  }

  /** Fixture encoder: 16-bit samples (big-endian pairs), any of the
    * four direct color types, filter-0 scanlines. */
  def encodePng16(w: Int, h: Int, colorType: Int,
      samples: Array[Int]): Array[Byte] = {
    val ch = Png.channelsOf(colorType)
    require(ch > 0 && samples.length == w * h * ch)
    val rb = w * ch * 2
    val raw = new Array[Byte](h * (1 + rb))
    for (y <- 0 until h; i <- 0 until w * ch) {
      val v = samples(y * w * ch + i)
      raw(y * (1 + rb) + 1 + i * 2) = (v >> 8).toByte
      raw(y * (1 + rb) + 1 + i * 2 + 1) = v.toByte
    }
    Png.Sig ++ Png.pngChunk("IHDR", Png.ihdrBytes(w, h, 16, colorType, 0)) ++
      Png.pngChunk("IDAT", Png.deflateBytes(raw)) ++
      Png.pngChunk("IEND", Array.emptyByteArray)
  }

  /** Fixture encoder: ADAM7-interlaced 8-bit image — samples split
    * into the seven passes (empty passes emit nothing), each pass
    * filtered independently with the caller's per-scanline filter
    * choice so reconstruction is exercised ACROSS pass boundaries. */
  def encodePngAdam7(w: Int, h: Int, colorType: Int,
      samples: Array[Int], filterOf: Int => Int): Array[Byte] = {
    val ch = Png.channelsOf(colorType)
    require(ch > 0 && samples.length == w * h * ch)
    val body = new java.io.ByteArrayOutputStream()
    for ((x0, y0, dx, dy) <- Png.Adam7) {
      val wp = if (w > x0) (w - x0 + dx - 1) / dx else 0
      val hp = if (h > y0) (h - y0 + dy - 1) / dy else 0
      if (wp > 0 && hp > 0) {
        val stride = wp * ch
        // the pass's sub-image, then filter it like a standalone image
        val sub = Array.tabulate(hp * stride) { j =>
          val (yy, rem) = (j / stride, j % stride)
          samples(((y0 + yy * dy) * w + (x0 + (rem / ch) * dx)) * ch
            + rem % ch)
        }
        for (y <- 0 until hp) {
          val f = filterOf(y) % 5
          body.write(f)
          for (i <- 0 until stride) {
            val x = sub(y * stride + i)
            val a = if (i >= ch) sub(y * stride + i - ch) else 0
            val b = if (y > 0) sub((y - 1) * stride + i) else 0
            val c = if (y > 0 && i >= ch) sub((y - 1) * stride + i - ch)
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
            body.write((x - pred) & 0xFF)
          }
        }
      }
    }
    Png.Sig ++ Png.pngChunk("IHDR", Png.ihdrBytes(w, h, 8, colorType, 1)) ++
      Png.pngChunk("IDAT", Png.deflateBytes(body.toByteArray)) ++
      Png.pngChunk("IEND", Array.emptyByteArray)
  }

  /** Encoder-side twin of the zarr compressor dispatch: one codec
    * per compressor id the decoder reads. */
  def compressChunk(raw: Array[Byte],
      compId: Option[String], level: Int = 1): Array[Byte] =
    compId match {
      case None => raw
      case Some("zlib") =>
        val d = new java.util.zip.Deflater(level)
        d.setInput(raw); d.finish()
        val out = new java.io.ByteArrayOutputStream(raw.length)
        val buf = new Array[Byte](8192)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        d.end(); out.toByteArray
      case Some("gzip") =>
        val bo = new java.io.ByteArrayOutputStream(raw.length)
        val g = new java.util.zip.GZIPOutputStream(bo)
        g.write(raw); g.close(); bo.toByteArray
      case Some("lz4") =>
        val c = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
        val dst = new Array[Byte](4 + c.maxCompressedLength(raw.length))
        dst(0) = (raw.length & 0xFF).toByte
        dst(1) = ((raw.length >> 8) & 0xFF).toByte
        dst(2) = ((raw.length >> 16) & 0xFF).toByte
        dst(3) = ((raw.length >> 24) & 0xFF).toByte
        val n = c.compress(raw, 0, raw.length, dst, 4)
        java.util.Arrays.copyOf(dst, 4 + n)
      case Some("zstd") =>
        com.github.luben.zstd.Zstd.compress(raw, level)
      // blosc over lz4 with byte-shuffle at the lane's f8 typesize —
      // decode never consults these choices (the container is
      // self-describing), so the fixture encoder picks the
      // numcodecs defaults
      case Some("blosc") =>
        Blosc.compress(raw, typesize = 8, doShuffle = true, "lz4")
      case Some(other) =>
        throw new IllegalArgumentException(s"no encoder for $other")
    }

  /** Stub tile encoder: the exact inverse of
    * [[graft.sources.Grids.decodeTile]], whose scaladoc gives the
    * layout. */
  def encodeTile(varName: String, epochDay: Int, lat0: Double,
      lon0: Double, dlat: Double, dlon: Double,
      values: Array[Array[Double]]): Array[Byte] = {
    val vb = varName.getBytes("UTF-8")
    val ny = values.length
    val nx = if (ny == 0) 0 else values(0).length
    val buf = java.nio.ByteBuffer
      .allocate(Grids.TileMagic.length + 2 + vb.length + 4 + 32 + 8 + ny * nx * 8)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    buf.put(Grids.TileMagic).putShort(vb.length.toShort).put(vb)
      .putInt(epochDay)
      .putDouble(lat0).putDouble(lon0).putDouble(dlat).putDouble(dlon)
      .putInt(ny).putInt(nx)
    values.foreach(row => row.foreach(buf.putDouble))
    buf.array()
  }

  /** Minimal valid single-band GeoTIFF writer (float64 samples, one
    * strip, both byte orders, optional DEFLATE strip) — the
    * round-trip twin of [[graft.sources.Grids.decodeTiff]]. Tags
    * written in required ascending order; NODATA cells must already
    * hold the `nodata` value in `values`. */
  def encodeTiff(ulx: Double, uly: Double, cs: Double,
      values: Array[Array[Double]], nodata: Option[Double],
      bigEndian: Boolean = false, deflate: Boolean = false): Array[Byte] = {
    val ny = values.length
    val nx = if (ny == 0) 0 else values(0).length
    val ndBytes = nodata.map { d =>
      val s = if (d == math.floor(d) && math.abs(d) < 1e15)
        d.toLong.toString else d.toString
      (s + "\u0000").getBytes("US-ASCII")
    }
    val n = 12 + (if (ndBytes.isDefined) 1 else 0)
    val offScale = 8 + 2 + n * 12 + 4
    val offTie = offScale + 24
    val offNd = offTie + 48
    val ndPadded = ndBytes.map(b => b.length + (b.length & 1)).getOrElse(0)
    val offStrip = offNd + ndPadded
    // samples first: a DEFLATE strip's byte count lands in tag 279
    val raw = java.nio.ByteBuffer.allocate(ny * nx * 8).order(
      if (bigEndian) java.nio.ByteOrder.BIG_ENDIAN
      else java.nio.ByteOrder.LITTLE_ENDIAN)
    values.foreach(_.foreach(raw.putDouble))
    val stripData = if (!deflate) raw.array() else {
      val d = new java.util.zip.Deflater()
      d.setInput(raw.array())
      d.finish()
      val out = new Array[Byte](raw.array().length + 64)
      val m = d.deflate(out)
      d.end()
      java.util.Arrays.copyOf(out, m)
    }
    val buf = java.nio.ByteBuffer.allocate(offStrip + stripData.length).order(
      if (bigEndian) java.nio.ByteOrder.BIG_ENDIAN
      else java.nio.ByteOrder.LITTLE_ENDIAN)
    val bom = if (bigEndian) 'M'.toByte else 'I'.toByte
    buf.put(bom).put(bom).putShort(42).putInt(8)
    buf.putShort(n.toShort)
    def entry(tag: Int, typ: Int, cnt: Int, value: Long): Unit = {
      buf.putShort(tag.toShort).putShort(typ.toShort).putInt(cnt)
      // inline SHORT occupies the LEADING 2 bytes of the value field
      if (typ == 3 && cnt == 1) { buf.putShort(value.toShort); buf.putShort(0) }
      else buf.putInt(value.toInt)
      ()
    }
    entry(256, 3, 1, nx.toLong)
    entry(257, 3, 1, ny.toLong)
    entry(258, 3, 1, 64)
    entry(259, 3, 1, if (deflate) 8L else 1L)
    entry(262, 3, 1, 1)
    entry(273, 4, 1, offStrip.toLong)
    entry(277, 3, 1, 1)
    entry(278, 4, 1, math.max(ny, 1).toLong)
    entry(279, 4, 1, stripData.length.toLong)
    entry(339, 3, 1, 3)
    entry(33550, 12, 3, offScale.toLong)
    entry(33922, 12, 6, offTie.toLong)
    ndBytes.foreach(b => entry(42113, 2, b.length, offNd.toLong))
    buf.putInt(0) // next-IFD terminator
    buf.putDouble(cs).putDouble(cs).putDouble(0.0)
    buf.putDouble(0).putDouble(0).putDouble(0)
      .putDouble(ulx).putDouble(uly).putDouble(0)
    ndBytes.foreach { b =>
      buf.put(b); if ((b.length & 1) == 1) buf.put(0.toByte)
    }
    buf.put(stripData)
    buf.array()
  }
}
