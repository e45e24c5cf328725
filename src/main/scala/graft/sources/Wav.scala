package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Climate.seeds

/** REAL WAV payload codec — the first multimodal lane where the
  * PAYLOAD decodes for real, not behind the codec-lib seam:
  * linear PCM (8/16-bit), G.711 µ-law/A-law (formats 7/6), IMA
  * ADPCM (0x11) and MS ADPCM (0x02) all decode to 16-bit linear
  * from the public specs — no external library. The reference's
  * media handling (documents' binary assets with typed metadata)
  * stops at headers; a training pipeline's audio lane needs the
  * waveform itself for feature extraction — this is that seam made
  * real, with compressed codecs (MP3 / AAC / opus) remaining the
  * declared library seam.
  *
  * Decode is one typed flatMap per asset at the binary-drop grain
  * (Spark's row parallelism IS the clip parallelism); every feature
  * downstream is exact-integer Column algebra (Σs², peaks, sign
  * flips) so the oracle replays it bit-for-bit.
  */
object Wav {

  private[graft] case class WavClip(channels: Int, rate: Int, bits: Int,
      samples: Array[Int])

  /** RIFF/WAVE walk → PCM samples. Honors the real container rules:
    * chunk stream after the 12-byte RIFF/WAVE preamble, WORD-aligned
    * chunk sizes (odd-size chunks pad one byte), unknown chunks
    * (LIST, fact, …) SKIPPED not fatal, `fmt ` declares the codec —
    * format 1 (linear PCM, 8/16-bit), 6/7 (G.711 A-law/µ-law),
    * 2 (MS ADPCM) and 0x11 (IMA ADPCM) all decode to 16-bit linear;
    * `data` carries the payload. Left(reason) quarantines:
    * short/foreign preamble, missing fmt/data, unknown codec,
    * truncated data. */
  private[graft] def decodeWav(bytes: Array[Byte]):
      Either[String, WavClip] = {
    def u32(p: Int): Long =
      (bytes(p) & 0xFFL) | ((bytes(p + 1) & 0xFFL) << 8) |
        ((bytes(p + 2) & 0xFFL) << 16) | ((bytes(p + 3) & 0xFFL) << 24)
    def u16(p: Int): Int = (bytes(p) & 0xFF) | ((bytes(p + 1) & 0xFF) << 8)
    def tag(p: Int): String =
      if (p + 4 <= bytes.length)
        new String(bytes, p, 4, "US-ASCII") else ""
    if (bytes.length < 12 || tag(0) != "RIFF" || tag(8) != "WAVE")
      return Left("not_riff_wave")
    var p = 12
    // format, ch, rate, blockAlign, bits, fmt chunk offset + len
    var fmt: Option[(Int, Int, Int, Int, Int, Int, Int)] = None
    var data: Option[(Int, Int)] = None // offset, len
    while (p + 8 <= bytes.length) {
      val id = tag(p); val len = u32(p + 4).toInt
      if (len < 0 || p + 8 + len > bytes.length)
        return Left("truncated_chunk")
      if (id == "fmt " && len >= 16)
        fmt = Some((u16(p + 8), u16(p + 10), u32(p + 12).toInt,
          u16(p + 20), u16(p + 22), p + 8, len))
      else if (id == "data") data = Some((p + 8, len))
      p += 8 + len + (len & 1) // WORD alignment pad
    }
    (fmt, data) match {
      case (None, _) => Left("missing_fmt")
      case (_, None) => Left("missing_data")
      case (Some((f, ch, rate, ba, bits, fOff, fLen)), Some((off, len))) =>
        if (ch < 1) Left("bad_channels")
        else f match {
          case 1 | 6 | 7 =>
            if (f == 1 && bits != 8 && bits != 16) Left("unsupported_bits")
            else if (f != 1 && bits != 8) Left("unsupported_bits")
            else {
              val bytesPer = if (f == 1) bits / 8 else 1
              val n = len / bytesPer
              val samples = new Array[Int](n)
              var i = 0
              while (i < n) {
                samples(i) = f match {
                  case 1 if bits == 8 => (bytes(off + i) & 0xFF) - 128
                  case 1 => (u16(off + i * 2) << 16) >> 16 // sign-extend
                  case 6 => alawToLinear(bytes(off + i))
                  case 7 => ulawToLinear(bytes(off + i))
                }
                i += 1
              }
              // G.711 companded streams decode to 16-bit linear
              Right(WavClip(ch, rate, if (f == 1) bits else 16, samples))
            }
          case 2 | 0x11 =>
            if (bits != 4) Left("unsupported_bits")
            else {
              // wSamplesPerBlock from the fmt extension (cbSize >= 2);
              // absent → the block's own capacity governs. A declared
              // value below the per-block header emission (1 for IMA's
              // predictor frame, 2 for MS's two seeded frames) is
              // degenerate: quarantine rather than over-emit.
              val spbOpt = if (fLen >= 20 && u16(fOff + 16) >= 2)
                Some(u16(fOff + 18)) else None
              val minSpb = if (f == 0x11) 1 else 2
              if (spbOpt.exists(_ < minSpb)) Left("bad_samples_per_block")
              else {
                val spb = spbOpt.getOrElse(Int.MaxValue)
                val dec = if (f == 0x11) decodeIma(bytes, off, len, ch, ba, spb)
                  else decodeMs(bytes, off, len, ch, ba, spb)
                dec.map(samples => WavClip(ch, rate, 16, samples))
              }
            }
          case _ => Left("not_pcm")
        }
    }
  }

  // ---------------------------------------------- ADPCM (WAV 0x11 / 0x02)

  private val ImaStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767)
  private val ImaIndexTable: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

  private def clamp16(v: Int): Int = math.max(-32768, math.min(32767, v))

  private[graft] def imaStepAt(idx: Int): Int = ImaStepTable(idx)

  /** One IMA ADPCM state transition: (predictor, stepIndex) × nibble
    * → (predictor', stepIndex'). The quantizer reconstruction is the
    * shift-add form (step/8 + conditional step/4 + step/2 + step);
    * differential-gated against CPython's independent `audioop`
    * implementation over a 128-sample stream. */
  private[graft] def imaStep(pred: Int, idx: Int, n: Int): (Int, Int) = {
    val step = ImaStepTable(idx)
    var diff = step >> 3
    if ((n & 1) != 0) diff += step >> 2
    if ((n & 2) != 0) diff += step >> 1
    if ((n & 4) != 0) diff += step
    val p2 = clamp16(if ((n & 8) != 0) pred - diff else pred + diff)
    (p2, math.max(0, math.min(88, idx + ImaIndexTable(n))))
  }

  /** IMA ADPCM (WAV format 0x11) block walk: per-channel 4-byte
    * headers (predictor i16 — emitted as the block's first frame —
    * stepIndex u8, reserved), then 4-byte nibble groups per channel,
    * LOW nibble first. Trailing partial blocks decode the groups
    * that fit; `spb` (wSamplesPerBlock) caps per-channel output. */
  private def decodeIma(bytes: Array[Byte], off: Int, len: Int, ch: Int,
      blockAlign: Int, spb: Int): Either[String, Array[Int]] = {
    if (blockAlign < 4 * ch + 4 * ch) return Left("bad_block_align")
    val out = scala.collection.mutable.ArrayBuilder.make[Int]
    var b = off
    val end = off + len
    while (b + 4 * ch <= end) {
      val blockEnd = math.min(b + blockAlign, end)
      val pred = new Array[Int](ch)
      val idx = new Array[Int](ch)
      var c = 0
      while (c < ch) {
        pred(c) = ((bytes(b + c * 4) & 0xFF) |
          ((bytes(b + c * 4 + 1) & 0xFF) << 8)) << 16 >> 16
        idx(c) = bytes(b + c * 4 + 2) & 0xFF
        if (idx(c) > 88) return Left("bad_step_index")
        c += 1
      }
      var emitted = 1 // header predictors are frame 0
      c = 0
      while (c < ch) { out += pred(c); c += 1 }
      var g = b + 4 * ch
      // per 4-byte group and channel: 8 samples; buffer one group row
      // across channels, emit frame-major
      val frame = Array.ofDim[Int](ch, 8)
      while (g + 4 * ch <= blockEnd && emitted < spb) {
        c = 0
        while (c < ch) {
          var j = 0
          var s = 0
          while (j < 4) {
            val by = bytes(g + c * 4 + j) & 0xFF
            var t = imaStep(pred(c), idx(c), by & 0x0F)
            pred(c) = t._1; idx(c) = t._2; frame(c)(s) = t._1; s += 1
            t = imaStep(pred(c), idx(c), (by >> 4) & 0x0F)
            pred(c) = t._1; idx(c) = t._2; frame(c)(s) = t._1; s += 1
            j += 1
          }
          c += 1
        }
        var s = 0
        while (s < 8 && emitted < spb) {
          c = 0
          while (c < ch) { out += frame(c)(s); c += 1 }
          s += 1; emitted += 1
        }
        g += 4 * ch
      }
      b += blockAlign
    }
    Right(out.result())
  }

  private val MsAdapt: Array[Int] = Array(230, 230, 230, 230, 307, 409,
    512, 614, 768, 614, 512, 409, 307, 230, 230, 230)
  private val MsCoef1: Array[Int] = Array(256, 512, 0, 192, 240, 460, 392)
  private val MsCoef2: Array[Int] = Array(0, -256, 64, 64, 0, -208, -232)

  /** MS ADPCM (WAV format 0x02) block walk: per-channel headers
    * (predictor-index u8 into the 7 public coefficient pairs, delta
    * i16, sample1 i16, sample2 i16 — sample2/sample1 emit as frames
    * 0/1), then one nibble per sample, HIGH nibble first, channels
    * round-robin. Predictor arithmetic is C-truncating division by
    * 256, exactly the published algorithm. */
  private def decodeMs(bytes: Array[Byte], off: Int, len: Int, ch: Int,
      blockAlign: Int, spb: Int): Either[String, Array[Int]] = {
    if (blockAlign < 7 * ch + ch) return Left("bad_block_align")
    def i16(p: Int): Int =
      ((bytes(p) & 0xFF) | ((bytes(p + 1) & 0xFF) << 8)) << 16 >> 16
    val out = scala.collection.mutable.ArrayBuilder.make[Int]
    var b = off
    val end = off + len
    while (b + 7 * ch <= end) {
      val blockEnd = math.min(b + blockAlign, end)
      val bpred = new Array[Int](ch)
      val delta = new Array[Int](ch)
      val s1 = new Array[Int](ch)
      val s2 = new Array[Int](ch)
      var c = 0
      while (c < ch) {
        bpred(c) = bytes(b + c) & 0xFF
        if (bpred(c) > 6) return Left("bad_predictor")
        delta(c) = i16(b + ch + c * 2)
        s1(c) = i16(b + 3 * ch + c * 2)
        s2(c) = i16(b + 5 * ch + c * 2)
        c += 1
      }
      c = 0; while (c < ch) { out += s2(c); c += 1 } // frame 0: older
      c = 0; while (c < ch) { out += s1(c); c += 1 } // frame 1
      var emitted = 2 * ch // sample count across channels
      val capS = math.min(spb.toLong * ch, Int.MaxValue.toLong).toInt
      var g = b + 7 * ch
      var nibHigh = true
      var done = false
      while (g < blockEnd && !done) {
        val by = bytes(g) & 0xFF
        val n = if (nibHigh) (by >> 4) & 0x0F else by & 0x0F
        val cc = emitted % ch
        var predictor = (s1(cc) * MsCoef1(bpred(cc)) +
          s2(cc) * MsCoef2(bpred(cc))) / 256
        val sn = if (n >= 8) n - 16 else n
        predictor = clamp16(predictor + sn * delta(cc))
        s2(cc) = s1(cc); s1(cc) = predictor
        delta(cc) = math.max(16, MsAdapt(n) * delta(cc) / 256)
        out += predictor
        emitted += 1
        if (emitted >= capS) done = true
        if (nibHigh) nibHigh = false else { nibHigh = true; g += 1 }
      }
      b += blockAlign
    }
    Right(out.result())
  }

  /** G.711 µ-law byte → 16-bit linear (the telephony companding WAV
    * format 7 carries; spec-differentialed against javax.sound's own
    * converter over all 256 code points). */
  private[graft] def ulawToLinear(b: Byte): Int = {
    val u = ~b & 0xFF
    var t = ((u & 0x0F) << 3) + 0x84
    t <<= (u >> 4) & 0x07
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** G.711 A-law byte → 16-bit linear (WAV format 6). */
  private[graft] def alawToLinear(b: Byte): Int = {
    val a = (b ^ 0x55) & 0xFF
    val seg = (a & 0x70) >> 4
    var t = (a & 0x0F) << 4
    if (seg == 0) t += 8
    else { t += 0x108; t <<= seg - 1 }
    if ((a & 0x80) != 0) t else -t
  }

  /** 44-byte canonical PCM header for `n` 16-bit mono samples. */
  private[graft] def wavHeader(n: Int, rate: Int = 16000): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(44)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + n * 2)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(rate).putInt(rate * 2)
      .putShort(2).putShort(16)
    b.put("data".getBytes("US-ASCII")).putInt(n * 2)
    b.array()
  }

  /** docs(name, content) → one row per sample, DE-INTERLEAVED, plus
    * the quarantine frame — the raster codecs' drop discipline at
    * the audio seam. Multi-channel clips surface `channels` and each
    * sample's `ch`; `k` is the FRAME index within its channel, so
    * lag-based waveform features never mix channels (for mono,
    * ch ≡ 0 and k is the plain sample index — unchanged). */
  def decodeWavDrop(docs: DataFrame): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val decoded = docs.select(col("name"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (name, bytes) =>
        decodeWav(bytes) match {
          case Left(reason) =>
            Iterator((false, name, reason, 0, 0, 0, 0, 0L, 0))
          case Right(c) => c.samples.iterator.zipWithIndex.map {
            case (s, i) => (true, name, null: String, c.channels,
              c.rate, c.bits, i % c.channels, (i / c.channels).toLong, s)
          }
        }
      }
      .toDF("ok", "name", "reason", "channels", "rate", "bits", "ch",
        "k", "s")
    (decoded.filter(col("ok")).drop("ok", "reason"),
      decoded.filter(!col("ok")).select(col("name"), col("reason")))
  }

  /** The eight-clip render shared by [[audioWavStats]] and
    * [[audioResamplePcm]]. */
  private[graft] def renderedClips(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val clips = seeds(spark, dir, 8)
      .select(col("g"), col("seed"), (lit(160) + col("g") * 16).as("n"))
    clips.as[(Long, Long, Long)].map { case (g, seed, n) =>
      val samples = Array.tabulate(n.toInt)(k =>
        (((seed + (k + 1) * 2654435761L) % 65536L).toInt - 32768))
      val body = java.nio.ByteBuffer
        .allocate(samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      samples.foreach(s => body.putShort(s.toShort))
      (s"clip_$g.wav", wavHeader(samples.length) ++ body.array())
    }.toDF("name", "content")
  }

  /** END-TO-END oracle-checked lane: 8 PCM clips render in-plan —
    * each clip's samples are a Weyl-sequence series SEEDED by the
    * events grid (`s_k = ((seed_g + (k+1)·2654435761) mod 65536) −
    * 32768`, seed_g the exact micro-unit mean of the clip's grid
    * cell), the 44-byte header is arithmetic over the data-derived
    * length — then decode back through the REAL RIFF walk and
    * reduce to exact-integer waveform features: Σs² (the RMS
    * numerator), peak |s|, sign flips (zero crossings over a lag
    * window), near-silence count. A header, sign-extension,
    * alignment or ordering bug cannot hash-match. */
  def audioWavStats(spark: SparkSession, dir: String): DataFrame = {
    val (samples, _) = decodeWavDrop(renderedClips(spark, dir))
    // lag per (clip, channel): multi-channel clips never mix channels
    // in the crossing count (mono: ch ≡ 0, identical to a name-only
    // partition)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("name"), col("ch")).orderBy(col("k"))
    samples
      .withColumn("prev", lag(col("s"), 1).over(w))
      .groupBy(col("name"))
      .agg(count(lit(1)).as("n_samples"),
        sum(col("s").cast("long") * col("s").cast("long"))
          .as("sum_sq"),
        max(abs(col("s"))).cast("long").as("peak"),
        sum(when(col("prev").isNotNull &&
          ((col("s") >= 0 && col("prev") < 0) ||
            (col("s") < 0 && col("prev") >= 0)), 1L).otherwise(0L))
          .as("zero_cross"),
        sum(when(abs(col("s")) < 256, 1L).otherwise(0L))
          .as("near_silence"))
      .orderBy(col("name"))
  }

  /** REAL audio RESAMPLE over DECODED samples — decimate-by-2 with
    * the pair mean `⌊(s₂ₖ + s₂ₖ₊₁)/2⌋` (floor of an exactly-halved
    * double — engine-identical, including negative odd sums, where
    * truncating integer division would diverge between engines).
    * The training-pipeline rate-normalization op (16 kHz → 8 kHz)
    * the byte-level `multimodal_resample` stands in for — now with
    * an actual waveform under it. Features recompute over the
    * decimated stream so a pairing/offset bug cannot hash-match. */
  def audioResamplePcm(spark: SparkSession, dir: String): DataFrame = {
    val (samples, _) = decodeWavDrop(renderedClips(spark, dir))
    // decimate within each channel (mono: ch ≡ 0, identical shape)
    val pairs = samples
      .groupBy(col("name"), col("ch"), expr("k div 2").as("j"))
      .agg(floor(sum(col("s")).cast("double") / 2.0).cast("long").as("r"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("name"), col("ch")).orderBy(col("j"))
    pairs
      .withColumn("prev", lag(col("r"), 1).over(w))
      .groupBy(col("name"))
      .agg(count(lit(1)).as("n_out"),
        sum(col("r") * col("r")).as("sum_sq"),
        max(abs(col("r"))).cast("long").as("peak"),
        sum(when(col("prev").isNotNull &&
          ((col("r") >= 0 && col("prev") < 0) ||
            (col("r") < 0 && col("prev") >= 0)), 1L).otherwise(0L))
          .as("zero_cross"))
      .orderBy(col("name"))
  }
}
