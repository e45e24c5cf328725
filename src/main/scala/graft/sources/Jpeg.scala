package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Climate.seeds

/** REAL JPEG decoder — the largest piece of the declared
  * entropy-coded-media seam, implemented from the public standard
  * (ITU-T T.81 / ISO 10918-1): marker walk, DQT/DHT table parsing,
  * the canonical Huffman decoder (spec F.2.2.3 mincode/maxcode/
  * valptr), the byte-stuffed bit reader with restart-marker
  * handling, per-MCU block decode (DC prediction + AC run-length
  * with ZRL/EOB), dequantize → dezigzag → the reference
  * double-precision IDCT (Annex A), component planes with
  * sampling-factor upsampling, and JFIF YCbCr→RGB.
  *
  * BOTH DCT modes of operation decode: baseline/extended sequential
  * (SOF0/SOF1) and PROGRESSIVE (SOF2) — spectral selection and
  * successive approximation per Annex G.1.2 (DC first/refine, AC
  * first with EOB-run lengths, the AC refinement correction-bit
  * walk of G.1.2.3), coefficients accumulated across scans per
  * component and rendered once at EOI.
  *
  * Verification: the JDK ships an INDEPENDENT implementation
  * (ImageIO's native-code JPEG reader), so unlike GRIB/HDF5 this
  * codec gets a true cross-implementation differential gate —
  * fixtures written by ImageIO's encoder (sequential AND its
  * multi-scan progressive script) decode through this reader and
  * compare per-pixel (small tolerances are inherent: libjpeg uses
  * integer IDCT approximations and fancy chroma upsampling where
  * this decoder follows the spec's reference arithmetic).
  * Arithmetic coding, 12-bit precision and hierarchical modes
  * quarantine loudly. Exactly-reproducible in-plan features still
  * route through PNG/WAV; JPEG's value is decoding REAL-WORLD
  * training corpora, where the payload bytes arrive from outside.
  */
object Jpeg {

  private[graft] case class JpegImage(width: Int, height: Int,
      channels: Int, samples: Array[Int]) // row-major, interleaved

  private val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // cos((2x+1)·u·π/16)·c(u) table for the reference IDCT
  private val Idct: Array[Double] = {
    val t = new Array[Double](64)
    for (x <- 0 until 8; u <- 0 until 8) {
      val c = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
      t(x * 8 + u) = c * math.cos((2 * x + 1) * u * math.Pi / 16.0)
    }
    t
  }

  /** Canonical Huffman table, spec F.2.2.3. */
  private class Huff(counts: Array[Int], vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0
      for (l <- 1 to 16) {
        valPtr(l) = k
        minCode(l) = code
        code += counts(l - 1); k += counts(l - 1)
        maxCode(l) = code - 1
        if (counts(l - 1) == 0) maxCode(l) = -1
        code <<= 1
      }
    }
    def decode(br: BitReader): Int = {
      var l = 1
      var code = br.bit()
      while (l <= 16 && (maxCode(l) < 0 || code > maxCode(l))) {
        code = (code << 1) | br.bit(); l += 1
      }
      if (l > 16) throw new java.io.IOException("bad huffman code")
      vals(valPtr(l) + code - minCode(l))
    }
  }

  /** Entropy-segment bit reader: 0xFF00 unstuffs to 0xFF; an RSTn
    * is consumed by [[restart]]; any other marker ends the scan. */
  private class BitReader(b: Array[Byte], var p: Int) {
    private var acc = 0
    private var nbits = 0
    private var hitMarker = false
    def bit(): Int = {
      if (nbits == 0) {
        if (hitMarker) return 0 // spec: feed 0s past the segment
        if (p >= b.length) throw new java.io.IOException("truncated scan")
        var v = b(p) & 0xFF; p += 1
        if (v == 0xFF) {
          val m = if (p < b.length) b(p) & 0xFF else 0xD9
          if (m == 0x00) p += 1
          else { hitMarker = true; p -= 1; v = 0 }
        }
        acc = v; nbits = 8
      }
      nbits -= 1
      (acc >> nbits) & 1
    }
    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    /** Byte-align, consume the expected RSTn. */
    def restart(n: Int): Unit = {
      nbits = 0; hitMarker = false
      if (p + 1 < b.length && (b(p) & 0xFF) == 0xFF &&
          (b(p + 1) & 0xFF) == (0xD0 + n)) p += 2
      else throw new java.io.IOException("missing restart marker")
    }
  }

  private def extend(v: Int, n: Int): Int =
    if (n == 0) 0 else if (v < (1 << (n - 1))) v - (1 << n) + 1 else v

  /** Reference separable double-precision IDCT (Annex A) of one
    * dequantized natural-order block into clamped level-shifted
    * samples. */
  private def idct8x8(coef: Array[Double], blk: Array[Int]): Unit = {
    val tmp = new Array[Double](64)
    var y0 = 0
    while (y0 < 8) { // rows: over u
      var x0 = 0
      while (x0 < 8) {
        var s2 = 0.0; var u = 0
        while (u < 8) {
          s2 += Idct(x0 * 8 + u) * coef(y0 * 8 + u); u += 1
        }
        tmp(y0 * 8 + x0) = s2; x0 += 1
      }
      y0 += 1
    }
    var x1 = 0
    while (x1 < 8) { // cols: over v
      var y1 = 0
      while (y1 < 8) {
        var s2 = 0.0; var v = 0
        while (v < 8) {
          s2 += Idct(y1 * 8 + v) * tmp(v * 8 + x1); v += 1
        }
        val px = math.round(s2 / 4.0 + 128.0).toInt
        blk(y1 * 8 + x1) = math.max(0, math.min(255, px))
        y1 += 1
      }
      x1 += 1
    }
  }

  private case class Comp(id: Int, h: Int, v: Int, tq: Int)

  /** Full baseline decode. Left(reason) quarantines. */
  private[graft] def decodeJpeg(bytes: Array[Byte]):
      Either[String, JpegImage] = try {
    def u8(p: Int) = bytes(p) & 0xFF
    def u16(p: Int) = (u8(p) << 8) | u8(p + 1)
    if (bytes.length < 4 || u16(0) != 0xFFD8) return Left("not_jpeg")
    val qt = new Array[Array[Int]](4)
    val dcT = new Array[Huff](4)
    val acT = new Array[Huff](4)
    var comps: Seq[Comp] = Nil
    var (w, h) = (0, 0)
    var dri = 0
    var progressive = false
    var prog: ProgState = null
    def renderProg(): Either[String, JpegImage] =
      if (prog == null || !prog.sawScan) Left("no_scan")
      else if (comps.exists(c => qt(c.tq) == null)) Left("missing_tables")
      else Right(renderProgressive(w, h, comps, qt, prog))
    var p = 2
    while (p + 4 <= bytes.length) {
      if (u8(p) != 0xFF) return Left("bad_marker")
      val m = u8(p + 1)
      if (m == 0xD8 || (m >= 0xD0 && m <= 0xD7) || m == 0x01) { p += 2 }
      else if (m == 0xD9) return renderProg()
      else {
        val len = u16(p + 2)
        val seg = p + 4
        m match {
          case 0xDB => // DQT: one or more tables
            var q = seg
            while (q < p + 2 + len) {
              val pq = u8(q) >> 4; val tq = u8(q) & 0x0F
              if (pq > 1 || tq > 3) return Left("bad_dqt")
              val tbl = new Array[Int](64)
              for (k <- 0 until 64)
                tbl(k) = if (pq == 0) u8(q + 1 + k) else u16(q + 1 + 2 * k)
              qt(tq) = tbl
              q += 1 + (if (pq == 0) 64 else 128)
            }
          case 0xC4 => // DHT
            var q = seg
            while (q < p + 2 + len) {
              val tc = u8(q) >> 4; val th = u8(q) & 0x0F
              if (tc > 1 || th > 3) return Left("bad_dht")
              val counts = Array.tabulate(16)(i => u8(q + 1 + i))
              val n = counts.sum
              val vals = Array.tabulate(n)(i => u8(q + 17 + i))
              val t = new Huff(counts, vals)
              if (tc == 0) dcT(th) = t else acT(th) = t
              q += 17 + n
            }
          case 0xC0 | 0xC1 | 0xC2 => // sequential / progressive frame
            if (m == 0xC2) progressive = true
            if (u8(seg) != 8) return Left("unsupported_precision")
            h = u16(seg + 1); w = u16(seg + 3)
            val nc = u8(seg + 5)
            if (nc != 1 && nc != 3) return Left("unsupported_components")
            comps = (0 until nc).map { i =>
              val o = seg + 6 + i * 3
              Comp(u8(o), u8(o + 1) >> 4, u8(o + 1) & 0x0F, u8(o + 2))
            }
            if (comps.exists(c => c.h < 1 || c.h > 4 || c.v < 1 || c.v > 4))
              return Left("bad_sampling")
          case 0xC3 | 0xC5 | 0xC6 | 0xC7 | 0xC9 | 0xCA | 0xCB |
               0xCD | 0xCE | 0xCF =>
            return Left("unsupported_coding_mode")
          case 0xDD => dri = u16(seg)
          case 0xDA if !progressive => // sequential SOS — decode, done
            if (comps.isEmpty || w == 0) return Left("missing_sof")
            val ns = u8(seg)
            if (ns != comps.size) return Left("unsupported_scan")
            val tables = (0 until ns).map { i =>
              val cid = u8(seg + 1 + i * 2)
              val td = u8(seg + 2 + i * 2) >> 4
              val ta = u8(seg + 2 + i * 2) & 0x0F
              cid -> ((td, ta))
            }.toMap
            return decodeScan(bytes, p + 2 + len, w, h, comps, qt,
              dcT, acT, tables, dri)
          case 0xDA => // progressive SOS — accumulate, keep walking
            if (comps.isEmpty || w == 0) return Left("missing_sof")
            if (prog == null) prog = new ProgState(comps, w, h)
            val ns = u8(seg)
            if (ns < 1 || ns > comps.size) return Left("unsupported_scan")
            val scanComps = (0 until ns).map { i =>
              val cid = u8(seg + 1 + i * 2)
              val ci = comps.indexWhere(_.id == cid)
              if (ci < 0) return Left("bad_scan_component")
              (ci, u8(seg + 2 + i * 2) >> 4, u8(seg + 2 + i * 2) & 0x0F)
            }
            val ss = u8(seg + 1 + 2 * ns)
            val se = u8(seg + 2 + 2 * ns)
            val a = u8(seg + 3 + 2 * ns)
            progScan(bytes, p + 2 + len, comps, prog, dcT, acT,
                scanComps, ss, se, a >> 4, a & 0x0F, dri) match {
              case Left(e) => return Left(e)
              case Right(np) => prog.sawScan = true; p = np
            }
          case _ => () // APPn / COM / others skip
        }
        if (m != 0xDA) p += 2 + len // progressive SOS advanced itself
      }
    }
    // truncated after the scans but before EOI: render what we have
    if (progressive) renderProg() else Left("no_scan")
  } catch { case _: Exception => Left("malformed_jpeg") }

  private def decodeScan(bytes: Array[Byte], start: Int, w: Int, h: Int,
      comps: Seq[Comp], qt: Array[Array[Int]], dcT: Array[Huff],
      acT: Array[Huff], tables: Map[Int, (Int, Int)],
      dri: Int): Either[String, JpegImage] = {
    val hmax = comps.map(_.h).max
    val vmax = comps.map(_.v).max
    val mcuW = 8 * hmax; val mcuH = 8 * vmax
    val mcusX = (w + mcuW - 1) / mcuW
    val mcusY = (h + mcuH - 1) / mcuH
    // per-component plane at its own resolution
    val planes = comps.map(c =>
      new Array[Int](mcusX * c.h * 8 * mcusY * c.v * 8))
    val planeW = comps.map(c => mcusX * c.h * 8)
    val br = new BitReader(bytes, start)
    val pred = new Array[Int](comps.size)
    val coef = new Array[Double](64)
    val blk = new Array[Int](64)
    var rst = 0
    var mcu = 0
    val nMcus = mcusX * mcusY
    while (mcu < nMcus) {
      if (dri > 0 && mcu > 0 && mcu % dri == 0) {
        br.restart(rst); rst = (rst + 1) % 8
        java.util.Arrays.fill(pred, 0)
      }
      val my = mcu / mcusX; val mx = mcu % mcusX
      comps.zipWithIndex.foreach { case (c, ci) =>
        val (td, ta) = tables.getOrElse(c.id,
          return Left("missing_scan_tables"))
        val (dct, act) = (dcT(td), acT(ta))
        val q = qt(c.tq)
        if (dct == null || act == null || q == null)
          return Left("missing_tables")
        var by = 0
        while (by < c.v) {
          var bx = 0
          while (bx < c.h) {
            // --- one 8×8 block ---
            java.util.Arrays.fill(coef, 0.0)
            val s = dct.decode(br)
            pred(ci) += extend(br.receive(s), s)
            coef(0) = pred(ci).toDouble * q(0)
            var k = 1
            var eob = false
            while (k < 64 && !eob) {
              val rs = act.decode(br)
              val r = rs >> 4; val ssss = rs & 0x0F
              if (ssss == 0) {
                if (r == 15) k += 16 else eob = true
              } else {
                k += r
                if (k > 63) return Left("coef_overrun")
                coef(ZigZag(k)) = extend(br.receive(ssss), ssss)
                  .toDouble * q(k)
                k += 1
              }
            }
            idct8x8(coef, blk)
            // place into the component plane
            val ox = (mx * c.h + bx) * 8
            val oy = (my * c.v + by) * 8
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                planes(ci)((oy + yy) * planeW(ci) + ox + xx) =
                  blk(yy * 8 + xx)
                xx += 1
              }
              yy += 1
            }
            bx += 1
          }
          by += 1
        }
      }
      mcu += 1
    }
    Right(assemble(w, h, comps, planes, planeW, mcusX, mcusY, hmax, vmax))
  }

  /** Component planes (MCU-grid resolution each) → upsample + color
    * convert → interleaved image. Shared by the sequential and
    * progressive render paths. Upsampling is TRIANGULAR (3:1
    * centered) for the ubiquitous 2:1 ratio — the filter JFIF
    * decoders use for centered chroma — nearest for exotic ratios. */
  private def assemble(w: Int, h: Int, comps: Seq[Comp],
      planes: Seq[Array[Int]], planeW: Seq[Int], mcusX: Int,
      mcusY: Int, hmax: Int, vmax: Int): JpegImage = {
    val fullW = mcusX * 8 * hmax
    val fullH = mcusY * 8 * vmax
    def up2h(pl: Array[Int], pw: Int, ph: Int): (Array[Int], Int) = {
      val out = new Array[Int](pw * 2 * ph)
      var y = 0
      while (y < ph) {
        var i = 0
        while (i < pw) {
          val c0 = pl(y * pw + i)
          val cm = pl(y * pw + math.max(i - 1, 0))
          val cp = pl(y * pw + math.min(i + 1, pw - 1))
          out(y * pw * 2 + 2 * i) = (3 * c0 + cm + 2) >> 2
          out(y * pw * 2 + 2 * i + 1) = (3 * c0 + cp + 2) >> 2
          i += 1
        }
        y += 1
      }
      (out, pw * 2)
    }
    def up2v(pl: Array[Int], pw: Int, ph: Int): Array[Int] = {
      val out = new Array[Int](pw * ph * 2)
      var i = 0
      while (i < pw) {
        var y = 0
        while (y < ph) {
          val c0 = pl(y * pw + i)
          val cm = pl(math.max(y - 1, 0) * pw + i)
          val cp = pl(math.min(y + 1, ph - 1) * pw + i)
          out((2 * y) * pw + i) = (3 * c0 + cm + 2) >> 2
          out((2 * y + 1) * pw + i) = (3 * c0 + cp + 2) >> 2
          y += 1
        }
        i += 1
      }
      out
    }
    val full = comps.zipWithIndex.map { case (c, ci) =>
      var pl = planes(ci)
      var pw = planeW(ci)
      var ph = mcusY * c.v * 8
      while (pw < fullW && fullW / pw % 2 == 0 && fullW % pw == 0) {
        val (o, nw) = up2h(pl, pw, ph); pl = o; pw = nw
      }
      while (ph < fullH && fullH / ph % 2 == 0 && fullH % ph == 0) {
        pl = up2v(pl, pw, ph); ph *= 2
      }
      if (pw != fullW || ph != fullH) { // exotic ratio: nearest
        val o = new Array[Int](fullW * fullH)
        var y = 0
        while (y < fullH) {
          var x = 0
          while (x < fullW) {
            o(y * fullW + x) = pl(y * ph / fullH * pw + x * pw / fullW)
            x += 1
          }
          y += 1
        }
        pl = o
      }
      pl
    }
    val nc = comps.size
    val out = new Array[Int](w * h * (if (nc == 1) 1 else 3))
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        if (nc == 1) out(y * w + x) = full(0)(y * fullW + x)
        else {
          val yv = full(0)(y * fullW + x).toDouble
          val cb = full(1)(y * fullW + x) - 128.0
          val cr = full(2)(y * fullW + x) - 128.0
          def clamp(d: Double) =
            math.max(0, math.min(255, math.round(d).toInt))
          val o = (y * w + x) * 3
          out(o) = clamp(yv + 1.402 * cr)
          out(o + 1) = clamp(yv - 0.344136 * cb - 0.714136 * cr)
          out(o + 2) = clamp(yv + 1.772 * cb)
        }
        x += 1
      }
      y += 1
    }
    JpegImage(w, h, if (nc == 1) 1 else 3, out)
  }

  // ------------------------------------------ progressive (SOF2)

  /** Cross-scan coefficient store: per component, natural-order
    * coefficients for every block of the MCU-PADDED grid (interleaved
    * DC scans cover padding blocks; non-interleaved scans touch only
    * the real `rW`×`rH` sub-grid, T.81 A.2.2). */
  private class ProgState(comps: Seq[Comp], w: Int, h: Int) {
    val hmax: Int = comps.map(_.h).max
    val vmax: Int = comps.map(_.v).max
    val mcusX: Int = (w + 8 * hmax - 1) / (8 * hmax)
    val mcusY: Int = (h + 8 * vmax - 1) / (8 * vmax)
    val bW: Array[Int] = comps.map(c => mcusX * c.h).toArray
    val bH: Array[Int] = comps.map(c => mcusY * c.v).toArray
    val rW: Array[Int] = comps.map(c =>
      ((w * c.h + hmax - 1) / hmax + 7) / 8).toArray
    val rH: Array[Int] = comps.map(c =>
      ((h * c.v + vmax - 1) / vmax + 7) / 8).toArray
    val coefs: Array[Array[Int]] = comps.indices.map(i =>
      new Array[Int](bW(i) * bH(i) * 64)).toArray
    var sawScan: Boolean = false
  }

  /** One progressive scan (Annex G.1.2): DC first/refine over the
    * interleaved MCU grid or a single component's real block grid;
    * AC first (EOB-run lengths) and AC refinement (the G.1.2.3
    * correction-bit walk) over a single component. Returns the file
    * offset of the next marker. */
  private def progScan(bytes: Array[Byte], start: Int, comps: Seq[Comp],
      st: ProgState, dcT: Array[Huff], acT: Array[Huff],
      scanComps: Seq[(Int, Int, Int)], ss: Int, se: Int, ah: Int,
      al: Int, dri: Int): Either[String, Int] = {
    val br = new BitReader(bytes, start)
    val pred = new Array[Int](comps.size)
    var eobrun = 0
    var rst = 0
    def restartAt(unit: Int): Unit =
      if (dri > 0 && unit > 0 && unit % dri == 0) {
        br.restart(rst); rst = (rst + 1) % 8
        java.util.Arrays.fill(pred, 0); eobrun = 0
      }
    def dcUnit(ci: Int, td: Int, b: Int): Either[String, Unit] = {
      if (ah == 0) {
        val dct = dcT(td)
        if (dct == null) return Left("missing_tables")
        val s = dct.decode(br)
        pred(ci) += extend(br.receive(s), s)
        st.coefs(ci)(b) = pred(ci) << al
      } else if (br.bit() == 1) st.coefs(ci)(b) |= 1 << al
      Right(())
    }
    if (ss == 0) { // DC scan
      if (se != 0) return Left("bad_progressive_scan")
      if (scanComps.size > 1) { // interleaved over the MCU grid
        val nMcus = st.mcusX * st.mcusY
        var mcu = 0
        while (mcu < nMcus) {
          restartAt(mcu)
          val my = mcu / st.mcusX; val mx = mcu % st.mcusX
          scanComps.foreach { case (ci, td, _) =>
            val c = comps(ci)
            var by = 0
            while (by < c.v) {
              var bx = 0
              while (bx < c.h) {
                val b = ((my * c.v + by) * st.bW(ci) + mx * c.h + bx) * 64
                dcUnit(ci, td, b) match {
                  case Left(e) => return Left(e); case _ => ()
                }
                bx += 1
              }
              by += 1
            }
          }
          mcu += 1
        }
      } else { // single component: its real block grid
        val (ci, td, _) = scanComps.head
        val nb = st.rW(ci) * st.rH(ci)
        var i = 0
        while (i < nb) {
          restartAt(i)
          val b = (i / st.rW(ci) * st.bW(ci) + i % st.rW(ci)) * 64
          dcUnit(ci, td, b) match {
            case Left(e) => return Left(e); case _ => ()
          }
          i += 1
        }
      }
    } else { // AC scan: always non-interleaved (T.81 B.2.3)
      if (scanComps.size != 1 || se < ss || se > 63)
        return Left("bad_progressive_scan")
      val (ci, _, ta) = scanComps.head
      val act = acT(ta)
      if (act == null) return Left("missing_tables")
      val cf = st.coefs(ci)
      val p1 = 1 << al
      val m1 = -1 << al
      def refineBit(z: Int): Unit =
        if (br.bit() == 1 && (cf(z) & p1) == 0)
          cf(z) += (if (cf(z) >= 0) p1 else m1)
      val nb = st.rW(ci) * st.rH(ci)
      var i = 0
      while (i < nb) {
        restartAt(i)
        val b = (i / st.rW(ci) * st.bW(ci) + i % st.rW(ci)) * 64
        if (ah == 0) { // first pass: EOB-run + run-length (G.1.2.2)
          if (eobrun > 0) eobrun -= 1
          else {
            var k = ss
            var done = false
            while (k <= se && !done) {
              val rs = act.decode(br)
              val r = rs >> 4; val s = rs & 0x0F
              if (s == 0) {
                if (r == 15) k += 16 // ZRL
                else { eobrun = (1 << r) - 1 + br.receive(r); done = true }
              } else {
                k += r
                if (k > se) return Left("coef_overrun")
                cf(b + ZigZag(k)) = extend(br.receive(s), s) << al
                k += 1
              }
            }
          }
        } else { // refinement pass: correction-bit walk (G.1.2.3)
          var k = ss
          if (eobrun == 0) {
            var done = false
            while (k <= se && !done) {
              val rs = act.decode(br)
              var r = rs >> 4
              val s0 = rs & 0x0F
              var nv = 0
              if (s0 == 0) {
                if (r != 15) {
                  eobrun = (1 << r) + br.receive(r)
                  done = true
                } // r==15: ZRL — skip 16 zero-history coefs below
              } else nv = if (br.bit() == 1) p1 else m1
              if (!done) {
                var placed = false
                while (k <= se && !placed) {
                  val z = b + ZigZag(k)
                  if (cf(z) != 0) { refineBit(z); k += 1 }
                  else if (r == 0) placed = true
                  else { r -= 1; k += 1 }
                }
                if (nv != 0 && k <= se) cf(b + ZigZag(k)) = nv
                k += 1
              }
            }
          }
          if (eobrun > 0) { // EOB run: correction bits only
            while (k <= se) {
              val z = b + ZigZag(k)
              if (cf(z) != 0) refineBit(z)
              k += 1
            }
            eobrun -= 1
          }
        }
        i += 1
      }
    }
    // skip any residual entropy bits / RSTn, stop at the next marker
    var q = br.p
    while (q + 1 < bytes.length && !((bytes(q) & 0xFF) == 0xFF && {
        val m2 = bytes(q + 1) & 0xFF
        m2 != 0x00 && m2 != 0xFF && !(m2 >= 0xD0 && m2 <= 0xD7) })) q += 1
    Right(q)
  }

  /** Dequantize + IDCT every accumulated block, then the shared
    * upsample/color assemble. */
  private def renderProgressive(w: Int, h: Int, comps: Seq[Comp],
      qt: Array[Array[Int]], st: ProgState): JpegImage = {
    val planes = comps.indices.map(ci =>
      new Array[Int](st.bW(ci) * 8 * st.bH(ci) * 8))
    val planeW = comps.indices.map(ci => st.bW(ci) * 8)
    val coef = new Array[Double](64)
    val blk = new Array[Int](64)
    comps.zipWithIndex.foreach { case (c, ci) =>
      val q = qt(c.tq)
      if (q == null) throw new java.io.IOException("missing_tables")
      val cf = st.coefs(ci)
      var bi = 0
      val nBlocks = st.bW(ci) * st.bH(ci)
      while (bi < nBlocks) {
        var k = 0
        while (k < 64) { // q is zigzag-ordered per DQT
          coef(ZigZag(k)) = cf(bi * 64 + ZigZag(k)).toDouble * q(k)
          k += 1
        }
        idct8x8(coef, blk)
        val ox = bi % st.bW(ci) * 8
        val oy = bi / st.bW(ci) * 8
        var yy = 0
        while (yy < 8) {
          var xx = 0
          while (xx < 8) {
            planes(ci)((oy + yy) * planeW(ci) + ox + xx) = blk(yy * 8 + xx)
            xx += 1
          }
          yy += 1
        }
        bi += 1
      }
    }
    assemble(w, h, comps, planes, planeW, st.mcusX, st.mcusY,
      st.hmax, st.vmax)
  }

  /** END-TO-END lane — ROWS-ONLY by declaration (DuckDB cannot
    * decode JPEG, so no oracle SQL exists; JpegSpec is the gate):
    * four images render from the events grid (two grayscale, two
    * 4:2:0 color; pixels a deterministic function of each group's
    * exact micro-unit mean), encode through the JDK's OWN JPEG
    * writer on the executors, decode back through THIS decoder, and
    * reduce to per-(image, channel) stats with a positional
    * checksum. The spec re-decodes the same bytes with the JDK's
    * reader and bounds every stat by the known cross-implementation
    * tolerance — a Huffman, IDCT, upsampling or placement bug blows
    * the bounds by orders of magnitude. */
  def imageJpegStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = renderedJpegs(spark, dir)
    val (px, _) = decodeJpegDrop(docs)
    px.groupBy(col("name"), col("c"))
      .agg(count(lit(1)).as("n_px"),
        sum(col("v").cast("long")).as("sum_v"),
        min(col("v").cast("long")).as("min_v"),
        max(col("v").cast("long")).as("max_v"),
        sum(col("v").cast("long") * (col("y") * 16 + col("x") + 1))
          .as("poschk"))
      .orderBy(col("name"), col("c"))
  }

  /** The four-clip render shared by the lane and its spec. */
  private[graft] def renderedJpegs(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    seeds(spark, dir, 4)
      .as[(Long, Long)]
      .map { case (g, seed) =>
        val gray = g % 2 == 0
        val img = new java.awt.image.BufferedImage(16, 16,
          if (gray) java.awt.image.BufferedImage.TYPE_BYTE_GRAY
          else java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        for (y <- 0 until 16; x <- 0 until 16) {
          // smooth seeded gradients, no wrap (a mod-wrap is a sharp
          // edge, which inflates the legitimate cross-decoder delta)
          val r = ((seed % 97) / 2 + x * 6 + y * 3).toInt
          val gg = ((seed % 89) / 2 + y * 8 + x * 2).toInt
          val b = ((seed % 83) / 2 + (x + y) * 5).toInt
          val rgb = if (gray) { val v = r; (v << 16) | (v << 8) | v }
            else (r << 16) | (gg << 8) | b
          img.setRGB(x, y, rgb)
        }
        val w = javax.imageio.ImageIO
          .getImageWritersByFormatName("jpg").next()
        val bo = new java.io.ByteArrayOutputStream()
        val ios = javax.imageio.ImageIO.createImageOutputStream(bo)
        w.setOutput(ios)
        val p = w.getDefaultWriteParam
        p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        p.setCompressionQuality(0.9f)
        // half the corpus ships PROGRESSIVE (SOF2): the lane decodes
        // both DCT modes every driver run
        if (g >= 2)
          p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
        w.write(null, new javax.imageio.IIOImage(img, null, null), p)
        w.dispose(); ios.close()
        (s"img_$g.jpg", bo.toByteArray)
      }.toDF("name", "content")
  }

  /** docs(name, content) → per-pixel-channel rows + quarantine —
    * the JPEG member of the binary-drop family (PNG: [[Png
    * .decodePngDrop]]). */
  def decodeJpegDrop(docs: DataFrame): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val decoded = docs.select(col("name"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (name, bytes) =>
        decodeJpeg(bytes) match {
          case Left(reason) =>
            Iterator((false, name, reason, 0L, 0L, 0L, 0))
          case Right(img) =>
            img.samples.iterator.zipWithIndex.map { case (v, i) =>
              val stride = img.width * img.channels
              (true, name, null: String, (i / stride).toLong,
                (i % stride / img.channels).toLong,
                (i % img.channels).toLong, v)
            }
        }
      }
      .toDF("ok", "name", "reason", "y", "x", "c", "v")
    (decoded.filter(col("ok")).drop("ok", "reason"),
      decoded.filter(!col("ok")).select(col("name"), col("reason")))
  }
}
