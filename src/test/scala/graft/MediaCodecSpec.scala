package graft

import graft.sources.{Png, Wav}
import org.apache.spark.sql.functions._

class MediaCodecSpec extends SparkSpec {
  import spark.implicits._

  // --- WAV ----------------------------------------------------------

  private def wavBytes(samples: Seq[Int], extraChunk: Boolean = false,
      fmtCode: Int = 1, bits: Int = 16, channels: Int = 1): Array[Byte] = {
    val dataLen = samples.length * (bits / 8)
    val extra = if (extraChunk) 8 + 5 + 1 else 0 // odd LIST chunk + pad
    val b = java.nio.ByteBuffer.allocate(44 + extra + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + extra + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(fmtCode.toShort).putShort(channels.toShort).putInt(16000)
      .putInt(16000 * channels * bits / 8)
      .putShort((channels * bits / 8).toShort)
      .putShort(bits.toShort)
    if (extraChunk) { // odd-length LIST chunk: size 5 → 1 pad byte
      b.put("LIST".getBytes("US-ASCII")).putInt(5)
        .put("INFOx".getBytes("US-ASCII")).put(0.toByte)
    }
    b.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach { s =>
      if (bits == 16) b.putShort(s.toShort) else b.put((s + 128).toByte)
    }
    b.array()
  }

  test("decodeWav: 16-bit signed LE samples, odd-size chunk skipped with WORD pad") {
    val s = Seq(0, 1, -1, 32767, -32768, 256)
    val plain = Wav.decodeWav(wavBytes(s)).toOption.get
    assert(plain.samples.toSeq === s)
    assert((plain.channels, plain.rate, plain.bits) === (1, 16000, 16))
    // a LIST chunk with an ODD size sits between fmt and data — the
    // WORD-alignment pad must be honored or data lands off by one
    val skipped = Wav.decodeWav(wavBytes(s, extraChunk = true)).toOption.get
    assert(skipped.samples.toSeq === s)
  }

  test("decodeWav: 8-bit unsigned centers at zero; quarantine reasons") {
    val eight = Wav.decodeWav(wavBytes(Seq(-128, 0, 127), bits = 8))
      .toOption.get
    assert(eight.samples.toSeq === Seq(-128, 0, 127))
    assert(Wav.decodeWav("RIFXjunkWAVE".getBytes).left.toOption.get
      === "not_riff_wave")
    assert(Wav.decodeWav(wavBytes(Seq(1), fmtCode = 3)).left.toOption.get
      === "not_pcm")
    val truncated = wavBytes(Seq(1, 2, 3)).dropRight(2)
    assert(Wav.decodeWav(truncated).left.toOption.get === "truncated_chunk")
    assert(Wav.decodeWav(wavBytes(Nil).take(36)).left.toOption.get
      === "missing_data")
  }

  test("G.711 mu-law and A-law decode ALL 256 code points exactly like javax.sound's converter") {
    import javax.sound.sampled._
    def refDecode(enc: AudioFormat.Encoding): Array[Int] = {
      val codes = Array.tabulate(256)(_.toByte)
      val srcFmt = new AudioFormat(enc, 8000f, 8, 1, 1, 8000f, false)
      val dstFmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        8000f, 16, 1, 2, 8000f, false)
      val in = new AudioInputStream(
        new java.io.ByteArrayInputStream(codes), srcFmt, 256)
      val out = AudioSystem.getAudioInputStream(dstFmt, in)
      val buf = out.readAllBytes()
      Array.tabulate(256)(i =>
        (((buf(2 * i + 1) & 0xFF) << 8) | (buf(2 * i) & 0xFF)) match {
          case v if v >= 0x8000 => v - 0x10000
          case v => v
        })
    }
    val ulawRef = refDecode(AudioFormat.Encoding.ULAW)
    val alawRef = refDecode(AudioFormat.Encoding.ALAW)
    for (i <- 0 until 256) {
      assert(Wav.ulawToLinear(i.toByte) === ulawRef(i), s"ulaw code $i")
      assert(Wav.alawToLinear(i.toByte) === alawRef(i), s"alaw code $i")
    }
    // end-to-end through the RIFF walk: format 7 (mu-law) container
    val mu = wavBytes(Seq(0x12, 0x80, 0xFF, 0x00).map(_ - 128),
      fmtCode = 7, bits = 8)
    val clip = Wav.decodeWav(mu).toOption.get
    assert(clip.bits === 16, "companded decodes to 16-bit linear")
    assert(clip.samples.toSeq ===
      Seq(0x12, 0x80, 0xFF, 0x00).map(c => Wav.ulawToLinear(c.toByte)))
  }

  /** WAV container with the ADPCM fmt extension (cbSize=2,
    * wSamplesPerBlock). */
  private def adpcmWav(fmtCode: Int, ch: Int, blockAlign: Int, spb: Int,
      data: Array[Byte]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(12 + 8 + 20 + 8 + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(4 + 28 + 8 + data.length)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(20)
      .putShort(fmtCode.toShort).putShort(ch.toShort).putInt(8000)
      .putInt(4000).putShort(blockAlign.toShort).putShort(4)
      .putShort(2).putShort(spb.toShort)
    b.put("data".getBytes("US-ASCII")).putInt(data.length).put(data)
    b.array()
  }

  private def hexBytes(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("IMA ADPCM state machine: 128-sample differential vs CPython audioop (independent implementation)") {
    // vector generated by CPython 3.11 stdlib `audioop`: a mixed
    // sine+noise PCM stream through lin2adpcm, then adpcm2lin —
    // deterministic expected output for the exact nibble stream.
    // audioop packs the FIRST sample in the HIGH nibble (raw DVI
    // order); the WAV block walk below uses the container's
    // low-first order.
    val nib = hexBytes(
      "F77777777AF01C921B060A249921D929D019B33A871A149B12DA10D838A2598" +
      "33B959C01BC11C841B258932BB48E929C12A952A140B13CB11F928B1489349950")
    val expect = Array(-11, 19, 82, 218, 511, 1142, 2499, 5409, 11645,
      7188, -4969, -3232, 1505, -11417, -16628, -8732, -4426, -13562,
      -12376, 1647, 3558, -5128, 2768, 15690, 10479, 5742, 12920, 16835,
      3783, -1428, 6468, 2162, -12195, -10284, -5073, -9810, -19859,
      -10723, -2418, -7811, -8791, 4581, 10314, 1628, 6365, 19287,
      14076, 3022, 7328, 13854, 802, -7884, -3147, -1712, -16069,
      -17980, -5820, -7399, -14577, -8051, 5001, -210, -1789, 8260,
      17396, 9091, 5856, 16642, 12336, 589, 2168, 6474, -2662, -13341,
      -9035, -5120, -15799, -17234, -5487, -750, -10799, -4273, 8779,
      7042, 2305, 12354, 18880, 10575, 3025, 11850, 10664, -3359, -9092,
      -406, -5143, -18065, -12854, -4958, -12136, -16051, -2999, 5687,
      -2209, 2097, 13844, 15423, 5374, 9289, 17594, 7886, -1250, 2309,
      5544, -9164, -15470, -5915, -7652, -18706, -14400, -2653, -4232,
      -8538, 598, 11277, 6971, 3056, 16108, 17845)
    var pred = 0; var idx = 0
    val got = nib.flatMap { b =>
      Seq((b >> 4) & 0xF, b & 0xF).map { n =>
        val t = Wav.imaStep(pred, idx, n); pred = t._1; idx = t._2; t._1
      }
    }
    assert(got.toSeq === expect.toSeq)
  }

  test("IMA ADPCM WAV block walk: mono and stereo fixture blocks decode to the baked expected frames") {
    // expected values derived from the audioop-gated state machine
    // applied per the public IMA-WAV block layout (4-byte per-channel
    // headers, 4-byte nibble groups per channel, LOW nibble first)
    val mono = hexBytes("18FC18000D68C31E79D42F8A") // pred=-1000 idx=24
    val monoExpect = Seq(-1000, -1100, -1087, -1099, -956, -820, -980,
      -1260, -1146, -1249, -776, -164, -1068, -2872, -1581, -2754, -2967)
    val clip = Wav.decodeWav(adpcmWav(0x11, 1, 12, 17, mono)).toOption.get
    assert((clip.channels, clip.bits) === ((1, 16)))
    assert(clip.samples.toSeq === monoExpect)
    // two blocks back to back: state resets per block from headers
    val two = Wav.decodeWav(adpcmWav(0x11, 1, 12, 17, mono ++ mono))
      .toOption.get
    assert(two.samples.toSeq === monoExpect ++ monoExpect)
    // samplesPerBlock CAPS output: spb=10 keeps 10 frames per block
    val capped = Wav.decodeWav(adpcmWav(0x11, 1, 12, 10, mono)).toOption.get
    assert(capped.samples.toSeq === monoExpect.take(10))
    val stereo = hexBytes("2C010A006CEE370065829FBCD9F61330")
    val stereoExpect = Seq(300, -4500, 325, -5028, 370, -6790, 401,
      -3739, 396, -9975, 320, -3735, 287, -1304, 197, -568, 113, 4119)
    val sc = Wav.decodeWav(adpcmWav(0x11, 2, 16, 9, stereo)).toOption.get
    assert(sc.channels === 2)
    assert(sc.samples.toSeq === stereoExpect)
    // quarantines: step index past the table; undersized block align
    val badIdx = mono.clone; badIdx(2) = 89.toByte
    assert(Wav.decodeWav(adpcmWav(0x11, 1, 12, 17, badIdx))
      .left.toOption.get === "bad_step_index")
    assert(Wav.decodeWav(adpcmWav(0x11, 1, 4, 17, mono))
      .left.toOption.get === "bad_block_align")
    // degenerate declared wSamplesPerBlock: below the header frame
    // emission (1 for IMA) the declaration is self-contradictory
    assert(Wav.decodeWav(adpcmWav(0x11, 1, 12, 0, mono))
      .left.toOption.get === "bad_samples_per_block")
  }

  test("MS ADPCM WAV block walk: mono, stereo and smooth fixture blocks decode to the baked expected frames") {
    // expected values from an independent spec-faithful reference
    // (C-truncating /256 predictor, the published 7 coefficient
    // pairs and 16-entry adaptation table); covers mid-range
    // arithmetic, delta adaptation and both clamp rails
    val mono = hexBytes("004000640032000B30557A9FC4E90E33587DA2C7EC1136")
    val monoExpect = Seq(50, 100, 100, -185, 88, 88, 448, 1023, 2304,
      -324, -6456, -8557, -16105, -7057, -12481, -29533, -29533, -32768,
      -18623, -5915, 13110, -32768, 32767, -32768, -32768, 32767,
      -32768, 32767, -32768, -32768, 32767, 32767, 32767, 32767)
    val mc = Wav.decodeWav(adpcmWav(2, 1, 23, 34, mono)).toOption.get
    assert((mc.channels, mc.bits) === ((1, 16)))
    assert(mc.samples.toSeq === monoExpect)
    val stereo = hexBytes("01046000300038FF2C019600B5FF073C71A6DB10457A" +
      "AFE4194E83B8ED22578CC1F62B6095CA")
    val stereoExpect = Seq(150, -75, -200, 300, -550, 617, -642, 118,
      -195, 247, -852, 969, -2613, -322, -4044, -301, -4291, 1483,
      -2060, -1988, -4923, -2989, -11182, 1242, -15916, -7320, -15170,
      -12674, -27560, -4051, -32768, -22549, -32768, -32768, -18628,
      -18086, 27267, 22770, -8006, -32768, -32768, -14398, -32768,
      32767, 32767, -32768, 32767, -30720, -32768, 32767, -32768, -32768)
    val sc = Wav.decodeWav(adpcmWav(2, 2, 38, 26, stereo)).toOption.get
    assert(sc.channels === 2)
    assert(sc.samples.toSeq === stereoExpect)
    val smooth = hexBytes("032000F401900101192920A112929A01192920A112929A")
    val smoothExpect = Seq(400, 500, 475, 509, 525, 367, 510, 152, 461,
      383, -126, 177, 259, 520, -428, 413, -1695, -5062, -4220, -3264,
      -2456, -9238, -3034, -18760, -5116, -8527, -31182, -17682,
      -14017, -2283, -32768, 2108, -32768, -32768)
    assert(Wav.decodeWav(adpcmWav(2, 1, 23, 34, smooth)).toOption.get
      .samples.toSeq === smoothExpect)
    // quarantine: predictor index past the 7 public coefficient pairs
    val badPred = mono.clone; badPred(0) = 7.toByte
    assert(Wav.decodeWav(adpcmWav(2, 1, 23, 34, badPred))
      .left.toOption.get === "bad_predictor")
    // degenerate declared wSamplesPerBlock: MS seeds 2 frames per block
    assert(Wav.decodeWav(adpcmWav(2, 1, 23, 1, mono))
      .left.toOption.get === "bad_samples_per_block")
  }

  /** Minimal spec-side IMA encoder: tracks the decoder state machine,
    * so decode(encode(pcm)) must equal the encoder's own
    * reconstruction EXACTLY — a multi-block structural round-trip. */
  private def imaEncode(pcm: Array[Int], ch: Int,
      groups: Int): (Array[Byte], Array[Int], Int, Int) = {
    val spb = 1 + groups * 8
    val blockAlign = 4 * ch + groups * 4 * ch
    val frames = pcm.length / ch
    val nBlocks = (frames + spb - 1) / spb
    def at(f: Int, c: Int): Int = // repeat-pad past the end
      pcm(math.min(f, frames - 1) * ch + c)
    val out = java.nio.ByteBuffer.allocate(nBlocks * blockAlign)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val recon = Array.ofDim[Int](nBlocks * spb * ch)
    val idx = new Array[Int](ch)
    val pred = new Array[Int](ch)
    for (b <- 0 until nBlocks) {
      val f0 = b * spb
      for (c <- 0 until ch) {
        pred(c) = at(f0, c)
        out.putShort(pred(c).toShort).put(idx(c).toByte).put(0.toByte)
        recon(f0 * ch + c) = pred(c)
      }
      for (g <- 0 until groups; c <- 0 until ch; j <- 0 until 4) {
        var by = 0
        for (half <- 0 to 1) {
          val f = f0 + 1 + g * 8 + j * 2 + half
          val step = Wav.imaStepAt(idx(c))
          var d = at(f, c) - pred(c)
          var n = 0
          if (d < 0) { n = 8; d = -d }
          if (d >= step) { n |= 4; d -= step }
          if (d >= (step >> 1)) { n |= 2; d -= step >> 1 }
          if (d >= (step >> 2)) n |= 1
          val t = Wav.imaStep(pred(c), idx(c), n)
          pred(c) = t._1; idx(c) = t._2
          recon(f * ch + c) = t._1
          by |= (n << (4 * half))
        }
        out.put(by.toByte)
      }
    }
    (out.array(), recon, blockAlign, spb)
  }

  test("IMA ADPCM multi-block round-trip: decode equals the encoder's reconstruction exactly; tracks a smooth signal") {
    for (ch <- Seq(1, 2)) {
      val frames = 100 // 3 blocks of spb=33 at groups=4, padded tail
      val pcm = Array.tabulate(frames * ch) { i =>
        val f = i / ch; val c = i % ch
        (9000 * math.sin(f * 0.21 + c * 1.3)).toInt
      }
      val (data, recon, ba, spb) = imaEncode(pcm, ch, 4)
      val clip = Wav.decodeWav(adpcmWav(0x11, ch, ba, spb, data))
        .toOption.get
      assert(clip.samples.toSeq === recon.toSeq, s"ch=$ch exact decode")
      // lossy but tracking: the quantizer follows a smooth signal
      // (the max sits at the leading edge while the step index ramps
      // from 0 — inherent ADPCM attack lag, not a decoder bug)
      val errs = pcm.indices.map(i => math.abs(recon(i) - pcm(i)))
      assert(errs.max <= 8192, s"ch=$ch max err ${errs.max}")
      assert(errs.sum.toDouble / errs.size <= 600.0,
        s"ch=$ch mean err ${errs.sum.toDouble / errs.size}")
      // steady state (index ramped): the tail tracks tightly
      val tail = errs.drop(errs.size / 2)
      assert(tail.max <= 1024, s"ch=$ch steady-state max ${tail.max}")
    }
  }

  test("decodeWavDrop: stereo de-interleaves — k is the frame index per channel") {
    // interleaved L R L R …: L ramps up, R is a constant; mixing the
    // channels would produce spurious sign structure in either stream
    val inter = (0 until 6).flatMap(i => Seq(i * 100 - 250, -7))
    val docs = Seq(("st.wav", wavBytes(inter, channels = 2)))
      .toDF("name", "content")
    val (rows, drops) = Wav.decodeWavDrop(docs)
    assert(drops.count() === 0)
    val got = rows.orderBy(col("ch"), col("k")).collect()
    assert(got.forall(_.getAs[Int]("channels") === 2))
    val left = got.filter(_.getAs[Int]("ch") == 0)
    val right = got.filter(_.getAs[Int]("ch") == 1)
    assert(left.map(_.getAs[Int]("s")).toSeq
      === (0 until 6).map(i => i * 100 - 250))
    assert(left.map(_.getAs[Long]("k")).toSeq === (0L until 6L))
    assert(right.map(_.getAs[Int]("s")).toSeq === Seq.fill(6)(-7))
  }

  test("audioWavStats: end-to-end lane — exact features, every clip present") {
    val out = Wav.audioWavStats(spark, sf).collect()
    assert(out.length === 8)
    assert(out.map(_.getAs[String]("name")).toSeq
      === (0 until 8).map(g => s"clip_$g.wav"))
    for (r <- out) {
      val g = r.getAs[String]("name").stripPrefix("clip_")
        .stripSuffix(".wav").toInt
      assert(r.getAs[Long]("n_samples") === 160L + g * 16)
      assert(r.getAs[Long]("peak") <= 32768L)
      // a Weyl sequence mod 2^16 flips sign roughly half the steps
      assert(r.getAs[Long]("zero_cross") > r.getAs[Long]("n_samples") / 4)
    }
  }

  // --- MP3 / ADTS frame indices -------------------------------------

  private def mp3Frame(bi: Int, si: Int, pad: Boolean): Array[Byte] = {
    val bitrate = Seq(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
      192, 224, 256, 320)(bi)
    val rate = Seq(44100, 48000, 32000)(si)
    val len = 144 * bitrate * 1000 / rate + (if (pad) 1 else 0)
    val b = new Array[Byte](len)
    b(0) = 0xFF.toByte; b(1) = 0xFB.toByte
    b(2) = ((bi << 4) | (si << 2) | (if (pad) 2 else 0)).toByte
    (4 until len).foreach(k => b(k) = (k * 3).toByte)
    b
  }

  test("mp3FrameIndex: header walk — lengths, padding, ID3v2 skip; the quarantine battery") {
    import graft.sources.AudioFrames
    val stream = mp3Frame(9, 0, pad = true) ++ mp3Frame(9, 0, pad = false)
    val fs = AudioFrames.mp3FrameIndex(stream).toOption.get.frames
    // 144·128000/44100 = 417 (+1 padded)
    assert(fs.map(f => (f.frame, f.offset, f.frameBytes, f.padded)) ===
      Seq((0, 0L, 418, true), (1, 418L, 417, false)))
    assert(fs.map(_.cumSamples) === Seq(0L, 1152L))
    assert(fs.forall(f => f.bitrateKbps == 128 && f.sampleRate == 44100))
    // side info opens with main_data_begin: payload bytes 12, 15 →
    // (12 << 1) | (15 >> 7) = 24 on every helper frame
    assert(fs.forall(_.mainDataBegin == 24))
    // ID3v2 tag skips by its synchsafe size
    val tag = Array[Byte]('I', 'D', '3', 4, 0, 0, 0, 0, 1, 4) ++
      new Array[Byte](132) // size = 1<<7 | 4 = 132
    val tagged =
      AudioFrames.mp3FrameIndex(tag ++ stream).toOption.get.frames
    assert(tagged.head.offset === 142L)
    def reason(b: Array[Byte]): String =
      AudioFrames.mp3FrameIndex(b).left.toOption.get
    assert(reason("no audio here".getBytes) === "no_sync")
    assert(reason(stream.dropRight(5)) === "truncated_frame")
    val free = stream.clone; free(2) = ((0 << 4) | 0).toByte
    assert(reason(free) === "free_format_unsupported")
    val badSr = stream.clone; badSr(2) = ((9 << 4) | (3 << 2)).toByte
    assert(reason(badSr) === "bad_samplerate_index")
    val mpeg2 = stream.clone; mpeg2(1) = 0xF3.toByte // version 10
    assert(reason(mpeg2) === "unsupported_mpeg_version")
    val layer2 = stream.clone; layer2(1) = 0xFD.toByte // layer 10
    assert(reason(layer2) === "unsupported_layer")
    // a mid-stream byte flip that destroys the second sync
    val lost = stream.clone; lost(418) = 0x00
    assert(reason(lost) === "lost_sync")
    val badTag = tag.clone; badTag(9) = 0x84.toByte // non-synchsafe
    assert(reason(badTag ++ stream) === "bad_id3_size")
  }

  test("mp3FrameIndex: Xing/Info metadata frame recognized, excluded from the audio index, validated against the walk") {
    import graft.sources.AudioFrames
    // build a Xing frame: helper frame 0's payload rewritten to
    // 32 zero side-info bytes + tag + flags + counts + 100-byte TOC
    def xingFrame(tag: String, frames: Long, bytes: Long,
        toc: Boolean): Array[Byte] = {
      val b = mp3Frame(9, 0, pad = false) // 417 bytes
      (4 until b.length).foreach(k => b(k) = 0)
      tag.getBytes("US-ASCII").copyToArray(b, 36)
      val flags = 1 | 2 | (if (toc) 4 else 0)
      b(43) = flags.toByte
      def u32be(at: Int, v: Long): Unit = (0 until 4).foreach(i =>
        b(at + i) = ((v >> (8 * (3 - i))) & 0xFF).toByte)
      u32be(44, frames)
      u32be(48, bytes)
      b
    }
    val audio = mp3Frame(10, 0, pad = true) ++ mp3Frame(12, 0, pad = false)
    val total = 417L + audio.length
    val st = AudioFrames.mp3FrameIndex(
      xingFrame("Xing", 2, total, toc = true) ++ audio).toOption.get
    // metadata frame excluded: two AUDIO frames, ordinals 0/1, the
    // first at offset 417 (after the Xing frame); VBR bitrates differ
    assert(st.frames.map(f => (f.frame, f.offset, f.bitrateKbps)) ===
      Seq((0, 417L, 160), (1, 417L + 523L, 224)))
    assert(st.frames.map(_.cumSamples) === Seq(0L, 1152L))
    val x = st.xing.get
    assert(x.isVbr && x.hasToc && x.declFrames === Some(2L) &&
      x.declBytes === Some(total) && x.frameBytes === 417)
    // "Info" = the CBR twin of the same header
    val info = AudioFrames.mp3FrameIndex(
      xingFrame("Info", 2, total, toc = false) ++ audio).toOption.get
    assert(!info.xing.get.isVbr && !info.xing.get.hasToc)
    // lying declared counts quarantine rather than shipping wrong math
    def reason(b: Array[Byte]): String =
      AudioFrames.mp3FrameIndex(b).left.toOption.get
    assert(reason(xingFrame("Xing", 3, total, toc = true) ++ audio)
      === "xing_frame_count_mismatch")
    assert(reason(xingFrame("Xing", 2, total + 9, toc = true) ++ audio)
      === "xing_bytes_mismatch")
    // an ID3 prefix shifts offsets but not the Xing byte accounting
    val tag = Array[Byte]('I', 'D', '3', 4, 0, 0, 0, 0, 0, 20) ++
      new Array[Byte](20)
    val shifted = AudioFrames.mp3FrameIndex(
      tag ++ xingFrame("Xing", 2, total, toc = true) ++ audio).toOption.get
    assert(shifted.frames.head.offset === 30L + 417L)
    assert(shifted.xing.get.declBytes === Some(total))
  }

  test("adtsFrameIndex: 13-bit lengths include the header, CRC widens it, quarantines fire") {
    import graft.sources.AudioFrames
    def frame(len: Int, crc: Boolean, si: Int, prof: Int,
        ch: Int): Array[Byte] = {
      val b = new Array[Byte](len)
      b(0) = 0xFF.toByte
      b(1) = (0xF0 | (if (crc) 0 else 1)).toByte
      b(2) = (((prof - 1) << 6) | (si << 2) | ((ch >> 2) & 1)).toByte
      b(3) = (((ch & 3) << 6) | ((len >> 11) & 3)).toByte
      b(4) = ((len >> 3) & 0xFF).toByte
      b(5) = (((len & 7) << 5) | 0x1F).toByte
      b(6) = 0xFC.toByte
      b
    }
    val plain = frame(57, crc = false, si = 4, prof = 2, ch = 2) ++
      frame(64, crc = false, si = 4, prof = 2, ch = 2)
    val fs = AudioFrames.adtsFrameIndex(plain).toOption.get
    assert(fs.map(f => (f.frame, f.offset, f.frameBytes, f.hasCrc)) ===
      Seq((0, 0L, 57, false), (1, 57L, 64, false)))
    assert(fs.forall(f => f.profile == 2 && f.sampleRate == 44100 &&
      f.channels == 2))
    assert(fs.map(_.cumSamples) === Seq(0L, 1024L))
    val withCrc = AudioFrames.adtsFrameIndex(
      frame(59, crc = true, si = 3, prof = 1, ch = 1)).toOption.get
    assert(withCrc.head.hasCrc && withCrc.head.sampleRate === 48000)
    def reason(b: Array[Byte]): String =
      AudioFrames.adtsFrameIndex(b).left.toOption.get
    assert(reason("not adts".getBytes) === "no_sync")
    assert(reason(plain.dropRight(3)) === "truncated_frame")
    val badSr = plain.clone; badSr(2) = ((1 << 6) | (14 << 2)).toByte
    assert(reason(badSr) === "bad_samplerate_index")
    val multi = plain.clone; multi(6) = 0xFD.toByte // 1 extra block
    assert(reason(multi) === "multi_block_unsupported")
    val short = frame(57, crc = false, si = 4, prof = 2, ch = 2)
    short(3) = (short(3) & 0xFC).toByte; short(4) = 0; short(5) = 0x3F.toByte
    assert(reason(short ++ new Array[Byte](56)) === "bad_frame_length")
  }

  test("oggPageIndex + opusHead: RFC 3533 page walk and RFC 7845 identification header; quarantines fire") {
    import graft.sources.AudioFrames
    def page(flags: Int, granule: Long, serial: Int, seq: Int,
        segs: Seq[Array[Byte]]): Array[Byte] = {
      val payload = segs.flatten.toArray
      val b = java.nio.ByteBuffer.allocate(27 + segs.length + payload.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("OggS".getBytes("US-ASCII")).put(0.toByte).put(flags.toByte)
        .putLong(granule).putInt(serial).putInt(seq).putInt(0)
        .put(segs.length.toByte)
      segs.foreach(s => b.put(s.length.toByte))
      b.put(payload)
      b.array()
    }
    val head = java.nio.ByteBuffer.allocate(19)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("OpusHead".getBytes("US-ASCII")).put(1.toByte)
      .put(2.toByte).putShort(312.toShort).putInt(48000)
      .putShort((-3).toShort).put(0.toByte).array()
    // a MULTI-segment audio page: the lacing table must sum
    val stream = page(2, 0L, 77, 0, Seq(head)) ++
      page(0, 960L, 77, 1, Seq(new Array[Byte](40),
        new Array[Byte](25))) ++
      page(4, 1920L, 77, 2, Seq(new Array[Byte](10)))
    val ps = AudioFrames.oggPageIndex(stream).toOption.get
    assert(ps.map(p => (p.page, p.bos, p.eos, p.granule, p.nSegs,
      p.payloadBytes)) === Seq((0, true, false, 0L, 1, 19),
      (1, false, false, 960L, 2, 65), (2, false, true, 1920L, 1, 10)))
    assert(ps.map(_.offset) === Seq(0L, 47L, 47L + 94L))
    assert(ps.forall(_.serial == 77L))
    // the identification header off page 0's payload
    val h = AudioFrames.opusHead(head).toOption.get
    assert(h === ((2, 312, 48000L, -3)), "channels/preSkip/rate/gain")
    assert(AudioFrames.opusHead("OpusTags....".getBytes)
      .left.toOption.get === "not_opus")
    def reason(b: Array[Byte]): String =
      AudioFrames.oggPageIndex(b).left.toOption.get
    assert(reason("not an ogg stream at all......".getBytes)
      === "no_capture")
    assert(reason(stream.dropRight(3)) === "truncated_page")
    val badV = stream.clone; badV(4) = 9
    assert(reason(badV) === "bad_version")
    val lost = stream.clone; lost(47) = 'X'
    assert(reason(lost) === "lost_capture")
  }

  test("audio_ogg_index: the lane walks its rendered Opus streams — BOS/EOS structure, granule clock, head fields joined") {
    val rows = SparkEntry.queries("audio_ogg_index")(spark, sf).collect()
    val byStream = rows.groupBy(_.getString(0))
    assert(byStream.keySet === (0 until 8).map(g => s"voice_$g.opus").toSet)
    byStream.foreach { case (name, ps) =>
      val g = name.stripPrefix("voice_").stripSuffix(".opus").toLong
      assert(ps.length === 2 + 8 + (g % 4).toInt * 2, s"$name page count")
      val sorted = ps.sortBy(_.getLong(1))
      assert(sorted.head.getBoolean(3) && !sorted.head.getBoolean(4),
        s"$name BOS first")
      assert(sorted.last.getBoolean(4), s"$name EOS last")
      assert(sorted.count(_.getBoolean(3)) === 1)
      // the granule clock is monotone over audio pages
      val granules = sorted.drop(2).map(_.getLong(5))
      assert(granules === granules.sorted && granules.head === 960L)
      assert(ps.forall(_.getLong(11) === 1 + g % 2), s"$name channels")
    }
  }

  test("flacMeta: STREAMINFO bit unpacking, block walk, quarantines") {
    import graft.sources.AudioFrames
    val md5 = Array.tabulate[Byte](16)(i => (i * 17 + 3).toByte)
    val f = AudioFrames.encodeFlacMeta(44100, 2, 24, 0x123456789L, md5,
      padBlocks = Seq(40, 8))
    val m = AudioFrames.flacMeta(f).toOption.get
    assert((m.sampleRate, m.channels, m.bitsPerSample) === ((44100, 2, 24)))
    assert(m.totalSamples === 0x123456789L, "36-bit total samples")
    assert((m.minBlock, m.maxBlock, m.minFrame, m.maxFrame)
      === ((4096, 4096, 1200, 9000)))
    assert(m.md5Hex === md5.map(b => f"${b & 0xFF}%02X").mkString)
    assert(m.nBlocks === 3)
    def reason(b: Array[Byte]): String =
      AudioFrames.flacMeta(b).left.toOption.get
    assert(reason("OggSnot flac".getBytes) === "not_flac")
    assert(reason(f.dropRight(30)) === "truncated_block")
    // a zero sample rate is invalid STREAMINFO
    val z = AudioFrames.encodeFlacMeta(0, 1, 16, 0L, md5)
    assert(reason(z) === "bad_sample_rate")
    // STREAMINFO must be the first block
    val swapped = f.take(4) ++ Array[Byte](1, 0, 0, 2, 0, 0) ++ f.drop(4)
    assert(reason(swapped) === "streaminfo_not_first")
  }

  test("audio_flac_meta: the lane reads back every rendered file's census") {
    val rows = SparkEntry.queries("audio_flac_meta")(spark, sf).collect()
    assert(rows.length === 8)
    rows.foreach { r =>
      val g = r.getString(0).stripPrefix("song_").stripSuffix(".flac").toLong
      assert(r.getLong(1) ===
        Seq(44100L, 48000L, 96000L, 22050L)((g % 4).toInt))
      assert(r.getLong(2) === 1 + g % 2)
      assert(r.getLong(3) === 16 + (g % 2) * 8)
      assert(r.getLong(10) === (if (g % 2 == 1) 2L else 1L), "block count")
      assert(r.getString(9).length === 32, "md5 hex width")
    }
  }

  test("audio_mp3_index / audio_adts_index: lanes walk their rendered corpora completely") {
    val mp3 = SparkEntry.queries("audio_mp3_index")(spark, sf).collect()
    assert(mp3.nonEmpty)
    val byTrack = mp3.groupBy(_.getString(0))
    assert(byTrack.keySet === (0 until 8).map(g => s"track_$g.mp3").toSet)
    byTrack.foreach { case (name, fs) =>
      val g = name.stripPrefix("track_").stripSuffix(".mp3").toLong
      assert(fs.length === 12 + (g % 4).toInt * 4, s"$name frame count")
      // offsets strictly increase by the frame size
      val sorted = fs.sortBy(_.getLong(1))
      sorted.sliding(2).foreach { p =>
        if (p.length == 2)
          assert(p(1).getLong(2) === p(0).getLong(2) + p(0).getLong(6))
      }
      // VBR streams (even g) carry a validated Xing frame: excluded
      // from the index (offsets start past it), declared count =
      // walked count, bitrate genuinely varies; CBR streams (odd g)
      // have no Xing row and a NULL declared count
      if (g % 2 == 0) {
        assert(fs.forall(_.getBoolean(9)), s"$name vbr flag")
        assert(fs.forall(_.getLong(10) === fs.length.toLong),
          s"$name decl_frames")
        assert(fs.map(_.getLong(3)).distinct.length > 1,
          s"$name bitrates vary")
        assert(sorted.head.getLong(2) > 0, s"$name starts past Xing")
      } else {
        assert(fs.forall(!_.getBoolean(9)), s"$name cbr")
        assert(fs.forall(_.isNullAt(10)), s"$name no declared count")
      }
      // exact integer duration from the walked frame count
      val rate = fs.head.getLong(4)
      assert(fs.forall(_.getLong(11) ===
        fs.length.toLong * 1152L * 1000L / rate), s"$name duration")
      // main_data_begin is the rendered (f*13)%512 ramp
      sorted.zipWithIndex.foreach { case (r, f) =>
        assert(r.getLong(8) === (f * 13L) % 512L, s"$name mdb frame $f")
      }
    }
    val aac = SparkEntry.queries("audio_adts_index")(spark, sf).collect()
    val byClip = aac.groupBy(_.getString(0))
    assert(byClip.keySet === (0 until 8).map(g => s"clip_$g.aac").toSet)
    byClip.foreach { case (name, fs) =>
      val g = name.stripPrefix("clip_").stripSuffix(".aac").toLong
      assert(fs.length === 10 + (g % 5).toInt * 3, s"$name frame count")
      assert(fs.forall(_.getBoolean(7) === (g % 2 == 1)), s"$name crc")
    }
  }

  test("flacDecode: entropy-free round trip under the format's OWN gates — CRC-8/CRC-16/MD5 enforced, quarantine battery") {
    import graft.sources.AudioFrames
    // CRC check values pinned against the standard "123456789" vector
    val check = "123456789".getBytes("US-ASCII")
    assert(AudioFrames.crc8(check, 0, 9) === 0xF4, "CRC-8 poly 0x07")
    assert(AudioFrames.crc16(check, 0, 9) === 0xFEE8,
      "CRC-16 poly 0x8005 unreflected")
    // round trip: stereo 16-bit, constant + verbatim blocks, an edge
    // (partial) final block
    val pcm = Array.tabulate(2) { c =>
      Array.tabulate(300) { k =>
        if (k / 64 == 2) 77 + c
        else ((k * 2654435761L + c) % 65536L).toInt - 32768
      }
    }
    // force the entropy-free types so the corruption battery below
    // stays on the CONSTANT/VERBATIM path
    val pickCV = (_: Int, b: Int) =>
      if (b == 2) AudioFrames.SubConstant else AudioFrames.SubVerbatim
    val f = AudioFrames.encodeFlac(48000, 16, pcm, blockSize = 64, pickCV)
    val (meta, got, counts) =
      AudioFrames.flacDecode(f).toOption.get
    assert(meta.sampleRate === 48000 && meta.channels === 2)
    assert(got(0).toSeq === pcm(0).toSeq && got(1).toSeq === pcm(1).toSeq,
      "bit-exact PCM")
    assert(counts.toSeq === Seq(2, 8, 0, 0), "5 blocks x 2 channels")
    // multi-byte UTF-8 frame numbers: tiny blocks push past 0x7F
    val mono = Array(Array.tabulate(600)(k =>
      ((k * 40503L + 11) % 65536L).toInt - 32768))
    val many = AudioFrames.encodeFlac(44100, 16, mono, blockSize = 4,
      (_, _) => AudioFrames.SubVerbatim)
    val (m2, got2, _) = AudioFrames.flacDecode(many).toOption.get
    assert(got2(0).toSeq === mono(0).toSeq, "150 frames, 2-byte numbers")
    assert(m2.totalSamples === 600L)
    def reason(b: Array[Byte]): String =
      AudioFrames.flacDecode(b).left.toOption.get
    // find the first audio frame (after fLaC + 4+34 STREAMINFO)
    val frame0 = 4 + 4 + 34
    assert((f(frame0) & 0xFF) === 0xFF && (f(frame0 + 1) & 0xFF) === 0xF8)
    // header corruption → CRC-8; payload corruption → CRC-16
    val hdrBad = f.clone; hdrBad(frame0 + 3) = (hdrBad(frame0 + 3) ^ 0x10).toByte
    assert(Set("bad_frame_crc8", "bad_channel_count")(reason(hdrBad)))
    val payBad = f.clone; payBad(frame0 + 20) = (payBad(frame0 + 20) ^ 1).toByte
    assert(reason(payBad) === "bad_frame_crc16")
    // a lying STREAMINFO MD5: frames all verify, PCM does not
    val md5Bad = f.clone; md5Bad(4 + 4 + 18) = (md5Bad(4 + 4 + 18) ^ 1).toByte
    assert(reason(md5Bad) === "pcm_md5_mismatch")
    // reserved/unsupported forms refuse by name: variable blocking,
    // reserved sync bit
    val vb = f.clone; vb(frame0 + 1) = 0xF9.toByte
    assert(reason(vb) === "variable_blocking_unsupported")
    val rs = f.clone; rs(frame0 + 1) = 0xFA.toByte
    assert(reason(rs) === "reserved_sync_bit")
  }

  test("flac FIXED/LPC subframes with Rice residuals: bit-exact round trips under the MD5/CRC gates") {
    import graft.sources.AudioFrames
    // a smooth signal (quadratic drift + small Weyl jitter) — the
    // shape FIXED/LPC prediction exists for; Rice params land small
    def smooth(c: Int) = Array.tabulate(700) { k =>
      (k * k / 50 - 3 * k + ((k * 2654435761L + c) % 17L).toInt - 8000)
    }
    for (forced <- Seq(AudioFrames.SubFixed, AudioFrames.SubLpc,
        AudioFrames.SubAuto)) {
      val pcm = Array(smooth(0), smooth(1))
      val f = AudioFrames.encodeFlac(44100, 16, pcm, blockSize = 64,
        (_, _) => forced)
      val (_, got, counts) = AudioFrames.flacDecode(f)
        .fold(e => fail(s"forced=$forced quarantined: $e"), identity)
      assert(got(0).toSeq === pcm(0).toSeq && got(1).toSeq === pcm(1).toSeq,
        s"forced=$forced bit-exact")
      forced match {
        case AudioFrames.SubFixed => assert(counts(2) === 22) // 11 blks x 2ch
        case AudioFrames.SubLpc => assert(counts(3) === 22)
        case _ => assert(counts.sum === 22) // auto picks per block
      }
    }
    // white noise forces the verbatim-escape partitions inside the
    // Rice coder (huge residuals make every Rice k lose)
    val noise = Array(Array.tabulate(256)(k =>
      ((k * 2654435761L) % 65536L).toInt - 32768))
    val nf = AudioFrames.encodeFlac(48000, 16, noise, 64,
      (_, _) => AudioFrames.SubFixed)
    val (_, ngot, _) = AudioFrames.flacDecode(nf).toOption.get
    assert(ngot(0).toSeq === noise(0).toSeq, "escape partitions round-trip")
    // wasted bits: samples sharing trailing zeros (×8) shrink eff and
    // must re-inflate exactly — across FIXED and LPC
    val shifted = Array(smooth(0).map(v => (v & 0x0FFF) << 3))
    for (forced <- Seq(AudioFrames.SubFixed, AudioFrames.SubLpc)) {
      val wf = AudioFrames.encodeFlac(32000, 16, shifted, 64,
        (_, _) => forced)
      val (_, wgot, _) = AudioFrames.flacDecode(wf).toOption.get
      assert(wgot(0).toSeq === shifted(0).toSeq, s"wasted bits, $forced")
    }
    // all three stereo decorrelation modes (left/side, right/side,
    // mid/side incl. the odd low bit) reconstruct L/R exactly, with
    // constant blocks surviving decorrelation
    val L = Array.tabulate(300)(k => if (k / 64 == 2) 501
      else ((k * 48271L) % 60000L).toInt - 30000)
    val R = Array.tabulate(300)(k => if (k / 64 == 2) -404
      else ((k * 69621L + 7) % 60001L).toInt - 30000)
    for (mode <- 1 to 3) {
      val sf = AudioFrames.encodeFlac(44100, 16, Array(L, R), 64,
        (_: Int, b: Int) => if (b == 2) AudioFrames.SubConstant
          else AudioFrames.SubAuto,
        _ => mode)
      val (_, sgot, scounts) = AudioFrames.flacDecode(sf)
        .fold(e => fail(s"mode=$mode quarantined: $e"), identity)
      assert(sgot(0).toSeq === L.toSeq && sgot(1).toSeq === R.toSeq,
        s"stereo mode $mode")
      assert(scounts(0) === 2, s"constant blocks survive mode $mode")
    }
    // and the full frame-cycling mix the lane ships: every frame a
    // different channel assignment, every subframe type in play
    val mix = AudioFrames.encodeFlac(44100, 16, Array(L, R), 64,
      (_: Int, b: Int) => b % 4 match {
        case 1 => AudioFrames.SubLpc
        case 3 => AudioFrames.SubFixed
        case _ => if (b == 2) AudioFrames.SubConstant
          else AudioFrames.SubVerbatim
      },
      f => (f % 4).toInt)
    val (_, mgot, mcounts) = AudioFrames.flacDecode(mix).toOption.get
    assert(mgot(0).toSeq === L.toSeq && mgot(1).toSeq === R.toSeq)
    assert(mcounts(3) === 2 && mcounts(2) === 2 && mcounts(0) === 2,
      "schedule respected across modes")
  }

  // --- PNG ----------------------------------------------------------

  private def testImage(w: Int, h: Int, ch: Int): Array[Int] =
    Array.tabulate(w * h * ch)(i => (i * 37 + (i * i) % 91) % 256)

  test("png round-trip: every (color type × forced filter) pair reconstructs exactly") {
    for (colorType <- Seq(0, 2, 4, 6); filter <- 0 to 4) {
      val ch = Png.channelsOf(colorType)
      val samples = testImage(5, 4, ch)
      val bytes = Png.encodePng(5, 4, colorType, samples, _ => filter)
      val img = Png.decodePng(bytes).toOption.get
      assert((img.width, img.height, img.colorType) === (5, 4, colorType))
      assert(img.samples.toSeq === samples.toSeq,
        s"colorType=$colorType filter=$filter")
    }
  }

  test("png differential vs the JDK's own ImageIO decoder") {
    for (colorType <- Seq(0, 2, 6)) {
      val ch = Png.channelsOf(colorType)
      val samples = testImage(7, 3, ch)
      val bytes = Png.encodePng(7, 3, colorType, samples, y => (y * 2) % 5)
      val ours = Png.decodePng(bytes).toOption.get.samples
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(ref != null, s"ImageIO rejected our colorType=$colorType PNG")
      val raster = ref.getRaster
      for (y <- 0 until 3; x <- 0 until 7; c <- 0 until ch)
        assert(raster.getSample(x, y, c) === ours((y * 7 + x) * ch + c),
          s"colorType=$colorType ($x,$y,$c)")
    }
  }

  test("png palette: PLTE expansion at every legal index depth, differential vs ImageIO") {
    // a 17-entry palette exercises index values that straddle the
    // sub-byte packing boundaries
    val pal = Array.tabulate(17 * 3)(i => (i * 41 + 7) % 256)
    for (depth <- Seq(1, 2, 4, 8)) {
      val nIdx = math.min(1 << depth, 17)
      val (w, h) = (7, 4) // odd width: the last byte of a row is partial
      val idx = Array.tabulate(w * h)(i => (i * 5 + 3) % nIdx)
      val bytes = CodecFixtures.encodePngPalette(w, h, depth, pal, idx)
      val img = Png.decodePng(bytes).toOption.get
      assert((img.width, img.height, img.colorType, img.channels)
        === ((w, h, 3, 3)))
      for (i <- 0 until w * h; c <- 0 until 3)
        assert(img.samples(i * 3 + c) === pal(idx(i) * 3 + c),
          s"depth=$depth px $i ch $c")
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(ref != null, s"ImageIO rejected depth-$depth palette PNG")
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = ref.getRGB(x, y)
        val i = y * w + x
        assert(((rgb >> 16) & 0xFF, (rgb >> 8) & 0xFF, rgb & 0xFF)
          === ((img.samples(i * 3), img.samples(i * 3 + 1),
            img.samples(i * 3 + 2))), s"depth=$depth ($x,$y)")
      }
    }
  }

  test("png tRNS: palette transparency expands to RGBA, entries past the table opaque, differential vs ImageIO") {
    val pal = Array.tabulate(5 * 3)(i => (i * 53 + 11) % 256)
    val alpha = Array(255, 128, 0) // entries 3-4 past the table → 255
    val idx = Array.tabulate(6 * 3)(i => i % 5)
    val bytes = CodecFixtures.encodePngPalette(6, 3, 8, pal, idx, Some(alpha))
    val img = Png.decodePng(bytes).toOption.get
    assert((img.channels, img.colorType) === ((4, 3)))
    for (i <- idx.indices) {
      val v = idx(i)
      assert(img.samples(i * 4) === pal(v * 3), s"px $i r")
      assert(img.samples(i * 4 + 3) ===
        (if (v < 3) alpha(v) else 255), s"px $i alpha")
    }
    val ref = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    assert(ref != null)
    for (y <- 0 until 3; x <- 0 until 6) {
      val argb = ref.getRGB(x, y)
      val i = y * 6 + x
      assert((argb >>> 24) === img.samples(i * 4 + 3), s"($x,$y) alpha")
      assert(((argb >> 16) & 0xFF) === img.samples(i * 4), s"($x,$y) r")
      assert((argb & 0xFF) === img.samples(i * 4 + 2), s"($x,$y) b")
    }
  }

  test("png 16-bit: big-endian sample pairs for all four color types, differential vs ImageIO") {
    for (colorType <- Seq(0, 2, 4, 6)) {
      val ch = Png.channelsOf(colorType)
      val samples = Array.tabulate(5 * 3 * ch)(i => (i * 9173 + 251) % 65536)
      val bytes = CodecFixtures.encodePng16(5, 3, colorType, samples)
      val img = Png.decodePng(bytes).toOption.get
      assert((img.width, img.height, img.channels) === ((5, 3, ch)))
      assert(img.samples.toSeq === samples.toSeq, s"colorType=$colorType")
      // ImageIO reads 16-bit gray and RGB natively; GA/RGBA vary by
      // JDK — differential on the unambiguous pair
      if (colorType == 0 || colorType == 2) {
        val ref = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        assert(ref != null, s"ImageIO rejected 16-bit colorType=$colorType")
        val raster = ref.getRaster
        for (y <- 0 until 3; x <- 0 until 5; c <- 0 until ch)
          assert(raster.getSample(x, y, c) === img.samples((y * 5 + x) * ch + c),
            s"16-bit colorType=$colorType ($x,$y,$c)")
      }
    }
  }

  test("png Adam7: interlaced decode reassembles exactly, differential vs ImageIO") {
    // 9x10 hits every pass with non-trivial dimensions, including
    // partial final columns/rows; also test dimensions small enough
    // that some passes are EMPTY (w or h < pass start)
    for ((w, h) <- Seq((9, 10), (3, 2), (1, 1), (8, 8))) {
      for (colorType <- Seq(0, 2, 6)) {
        val ch = Png.channelsOf(colorType)
        val samples = testImage(w, h, ch)
        val bytes = CodecFixtures.encodePngAdam7(w, h, colorType, samples,
          y => (y * 3 + 1) % 5)
        val img = Png.decodePng(bytes).toOption.get
        assert((img.width, img.height) === ((w, h)))
        assert(img.samples.toSeq === samples.toSeq,
          s"adam7 ${w}x$h colorType=$colorType")
        val ref = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        assert(ref != null, s"ImageIO rejected interlaced ${w}x$h")
        val raster = ref.getRaster
        for (y <- 0 until h; x <- 0 until w; c <- 0 until ch)
          assert(raster.getSample(x, y, c) === img.samples((y * w + x) * ch + c),
            s"adam7 ${w}x$h colorType=$colorType ($x,$y,$c)")
      }
    }
  }

  test("png quarantine: CRC, signature, depth, palette, interlace, stream corruption") {
    val good = Png.encodePng(3, 3, 0, testImage(3, 3, 1), _ => 0)
    def reason(b: Array[Byte]): String = Png.decodePng(b).left.toOption.get
    assert(reason("not a png at all".getBytes) === "bad_signature")
    val crcFlip = good.clone; crcFlip(20) = (crcFlip(20) ^ 0x01).toByte
    assert(reason(crcFlip) === "bad_crc") // IHDR data corrupted → CRC
    def patched(off: Int, v: Int): Array[Byte] = {
      val b = good.clone; b(off) = v.toByte
      // re-stamp the IHDR CRC so the tamper reaches the validator
      val crc = new java.util.zip.CRC32(); crc.update(b, 12, 17)
      java.nio.ByteBuffer.wrap(b, 29, 4).putInt(crc.getValue.toInt)
      b
    }
    // depth 7 is illegal everywhere; color type 5 does not exist;
    // interlace 2 is out of spec
    assert(reason(patched(24, 7)) === "unsupported_bit_depth")
    assert(reason(patched(25, 5)) === "unsupported_color_type")
    assert(reason(patched(28, 2)) === "bad_ihdr")
    // NOW-SUPPORTED headers over the wrong body still quarantine:
    // 16-bit expects twice the bytes, palette needs a PLTE, Adam7
    // expects the pass layout
    assert(reason(patched(24, 16)) === "bad_pixel_length")
    assert(reason(patched(25, 3)) === "missing_plte")
    assert(reason(patched(28, 1)) === "bad_pixel_length")
    // corrupt the zlib stream INSIDE a CRC-consistent IDAT chunk
    val idatOff = 8 + 25 // after signature + IHDR chunk
    val corrupted = good.clone
    corrupted(idatOff + 8 + 2) = (corrupted(idatOff + 8 + 2) ^ 0xFF).toByte
    val len = java.nio.ByteBuffer.wrap(corrupted, idatOff, 4).getInt
    val crc2 = new java.util.zip.CRC32()
    crc2.update(corrupted, idatOff + 4, 4 + len)
    java.nio.ByteBuffer.wrap(corrupted, idatOff + 8 + len, 4)
      .putInt(crc2.getValue.toInt)
    val r = Png.decodePng(corrupted)
    assert(r.isLeft && Set("bad_idat_stream", "bad_pixel_length",
      "bad_filter_type")(r.left.toOption.get))
  }

  test("audioResamplePcm: decimate-by-2 pair means, exact features, half the samples") {
    val full = Wav.audioWavStats(spark, sf).collect()
      .map(r => r.getAs[String]("name") -> r.getAs[Long]("n_samples")).toMap
    val out = Wav.audioResamplePcm(spark, sf).collect()
    assert(out.length === 8)
    for (r <- out) {
      val name = r.getAs[String]("name")
      assert(r.getAs[Long]("n_out") === full(name) / 2)
      assert(r.getAs[Long]("peak") <= 32768L)
    }
  }

  test("imageResizePyramid: levels halve, masses conserve within floor loss, placement checked") {
    val out = Png.imageResizePyramid(spark, sf).collect()
    assert(out.length === 40) // 10 channels × 4 levels
    val by = out.groupBy(r => (r.getAs[String]("name"), r.getAs[Long]("c")))
      .view.mapValues(_.sortBy(_.getAs[Int]("level"))).toMap
    for ((_, levels) <- by) {
      assert(levels.map(_.getAs[Long]("n_px")).toSeq
        === Seq(64L, 16L, 4L, 1L))
      // each box mean floors: level mass ∈ (prev/4 − n_px, prev/4]
      for (pair <- levels.sliding(2)) {
        val (pm, cm) = (pair(0).getAs[Long]("sum_v"),
          pair(1).getAs[Long]("sum_v"))
        assert(cm <= pm / 4 + 1 &&
          cm > pm / 4 - pair(1).getAs[Long]("n_px") - 1,
          s"mass not conserved: $pm -> $cm")
      }
    }
  }

  // --- MP4 / ISO-BMFF ----------------------------------------------

  test("mp4 box walk: both mvhd versions, track dims 16.16, handlers, largesize and free boxes") {
    import graft.sources.Mp4
    val v0 = Mp4.decodeMp4(Mp4.encodeMp4("isom", 1000, 123456,
      (640, 360), withAudio = true)).toOption.get
    assert((v0.majorBrand, v0.timescale, v0.duration)
      === ("isom", 1000L, 123456L))
    assert(v0.tracks.map(t => (t.handler, t.width, t.height))
      === Seq(("vide", 640.0, 360.0), ("soun", 0.0, 0.0)))
    val v1 = Mp4.decodeMp4(Mp4.encodeMp4("mp42", 90000, 8589934592L,
      (1920, 1080), withAudio = false, mvhdV1 = true)).toOption.get
    assert((v1.timescale, v1.duration) === (90000L, 8589934592L))
    assert(v1.tracks.head.width === 1920.0)
    // a 64-bit largesize `free` box prepended after ftyp must skip
    val base = Mp4.encodeMp4("isom", 1000, 42, (320, 180), false)
    val ftypLen = java.nio.ByteBuffer.wrap(base, 0, 4).getInt
    val free = java.nio.ByteBuffer.allocate(20)
      .putInt(1).put("free".getBytes("US-ASCII")).putLong(20L)
      .putInt(0xDEAD).array()
    val spliced = base.take(ftypLen) ++ free ++ base.drop(ftypLen)
    assert(Mp4.decodeMp4(spliced).toOption.get.duration === 42L)
  }

  test("mp4 quarantine: foreign leader, truncated box, missing moov/mvhd") {
    import graft.sources.Mp4
    def reason(b: Array[Byte]): String = Mp4.decodeMp4(b).left.toOption.get
    val good = Mp4.encodeMp4("isom", 1000, 42, (320, 180), false)
    // undecodable leading size → malformed; a VALID non-ftyp leader
    // (an empty moov box) → missing_ftyp
    assert(reason("RIFFxxxxWAVE and then some".getBytes)
      === "malformed_boxes")
    assert(reason(java.nio.ByteBuffer.allocate(8).putInt(8)
      .put("moov".getBytes("US-ASCII")).array()) === "missing_ftyp")
    assert(reason(good.dropRight(3)) === "malformed_boxes")
    assert(reason(good.take(java.nio.ByteBuffer.wrap(good, 0, 4).getInt))
      === "missing_moov")
    val zeroSize = good.clone // moov size → 6 (< header): malformed
    val ftypLen = java.nio.ByteBuffer.wrap(zeroSize, 0, 4).getInt
    java.nio.ByteBuffer.wrap(zeroSize, ftypLen, 4).putInt(6)
    assert(reason(zeroSize) === "malformed_boxes")
  }

  test("mp4 quarantine: well-framed but UNDERSIZED box payloads never throw") {
    import graft.sources.Mp4
    def reason(b: Array[Byte]): String = Mp4.decodeMp4(b).left.toOption.get
    def box(t: String, payload: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + payload.length)
      b.putInt(8 + payload.length).put(t.getBytes("US-ASCII")).put(payload)
      b.array()
    }
    val ftyp = box("ftyp", "isomAAAAisom".getBytes("US-ASCII"))
    // an 8-byte mvhd (empty payload) at end of file — the ADVICE
    // repro: fixed-offset reads past the payload must quarantine,
    // not ArrayIndexOutOfBounds
    assert(reason(ftyp ++ box("moov", box("mvhd", Array.emptyByteArray)))
      === "undersized_mvhd")
    // v1 flag but only the v0 20-byte payload behind it
    val shortV1 = new Array[Byte](20); shortV1(0) = 1
    assert(reason(ftyp ++ box("moov", box("mvhd", shortV1)))
      === "undersized_mvhd")
    // valid mvhd + a trak whose tkhd is an empty shell
    val mvhdOk = new Array[Byte](100)
    java.nio.ByteBuffer.wrap(mvhdOk).putInt(12, 1000).putInt(16, 42)
    assert(reason(ftyp ++ box("moov", box("mvhd", mvhdOk) ++
      box("trak", box("tkhd", Array.emptyByteArray))))
      === "undersized_tkhd")
    // undersized hdlr is non-fatal: handler falls back to "????"
    val tkhdOk = new Array[Byte](84)
    java.nio.ByteBuffer.wrap(tkhdOk).putInt(12, 7)
    val m = Mp4.decodeMp4(ftyp ++ box("moov", box("mvhd", mvhdOk) ++
      box("trak", box("tkhd", tkhdOk) ++
        box("mdia", box("hdlr", new Array[Byte](8)))))).toOption.get
    assert(m.tracks.map(_.handler) === Seq("????"))
  }

  test("decodeMp4Frames: sample tables walk back exactly — runs, sizes, syncs, offsets; quarantine on missing/undersized atoms") {
    import graft.sources.Mp4
    val deltas = Seq(100L, 100L, 100L, 250L, 250L)
    val sizes = Seq(10L, 20L, 30L, 40L, 50L)
    val bytes = Mp4.encodeMp4Indexed(1000L, deltas, sizes,
      syncEvery = 2, chunkOffset = 999L, wh = (320, 180))
    val fs = Mp4.decodeMp4Frames(bytes).toOption.get
    assert(fs.map(_.dts) === Seq(0L, 100L, 200L, 300L, 550L))
    assert(fs.map(_.size) === sizes)
    assert(fs.map(_.sync) === Seq(true, false, true, false, true))
    assert(fs.map(_.offset) === Seq(999L, 1009L, 1029L, 1059L, 1099L))
    // the plain track walk still reads the same file
    val meta = Mp4.decodeMp4(bytes).toOption.get
    assert(meta.duration === 800L)
    assert(meta.tracks.map(_.handler) === Seq("vide"))
    // quarantines: no stbl (the skeleton encoder), truncated stts
    val plain = Mp4.encodeMp4("isom", 1000L, 42L, (320, 180), false)
    assert(Mp4.decodeMp4Frames(plain).left.toOption.get
      === "missing_video_stbl")
    val sttsAt = bytes.indices.indexWhere(i =>
      new String(bytes, i, 4, "US-ASCII") == "stts")
    val cut = bytes.clone()
    // claim 1000 stts runs in a tiny payload
    java.nio.ByteBuffer.wrap(cut, sttsAt + 8, 4).putInt(1000)
    assert(Mp4.decodeMp4Frames(cut).left.toOption.get
      === "undersized_stts")
  }

  test("decodeMp4Codec: stsd/avcC walk back exactly — fourcc, coded dims, profile/level; unknown codec nulls; quarantines") {
    import graft.sources.Mp4
    val avc = Mp4.encodeMp4Indexed(1000L, Seq(100L, 100L), Seq(10L, 20L),
      syncEvery = 1, chunkOffset = 64L, wh = (640, 360),
      codec = Some(("avc1", (640, 368), Some((100, 192, 41)))))
    val (dw, dh, es) = Mp4.decodeMp4Codec(avc).toOption.get
    assert((dw, dh) === ((640.0, 360.0)))
    // the avcC now carries a real SPS+PPS: profile 100 (High branch),
    // the SPS cropping recovers the true 640x360 from the 640x368
    // macroblock grid, CABAC for a non-Baseline profile
    assert(es === Seq(Mp4.Mp4CodecEntry("avc1", 640, 368,
      Some(100), Some(192), Some(41),
      Some(640), Some(360), Some(true))))
    // the frame walk still reads the same file (stsd precedes the
    // index atoms in the stbl)
    assert(Mp4.decodeMp4Frames(avc).toOption.get.map(_.size)
      === Seq(10L, 20L))
    // unknown codec: fourcc surfaces, config nulls — not an error
    val hvc = Mp4.encodeMp4Indexed(1000L, Seq(100L), Seq(10L),
      syncEvery = 1, chunkOffset = 64L, wh = (320, 180),
      codec = Some(("hvc1", (320, 192), None)))
    val (_, _, hs) = Mp4.decodeMp4Codec(hvc).toOption.get
    assert(hs === Seq(Mp4.Mp4CodecEntry("hvc1", 320, 192,
      None, None, None)))
    // hvcC present: the profile/tier/level header decodes (high
    // tier) and (r15) its real SPS/PPS arrays walk back — the
    // conformance window recovers 320x180 from the 320x192 coded
    // grid, wavefront entropy sync at the odd fixture level
    val hvc2 = Mp4.encodeMp4Indexed(1000L, Seq(100L), Seq(10L),
      syncEvery = 1, chunkOffset = 64L, wh = (320, 180),
      codec = Some(("hvc1", (320, 192), Some((2, 1, 93)))))
    val (_, _, hs2) = Mp4.decodeMp4Codec(hvc2).toOption.get
    assert(hs2 === Seq(Mp4.Mp4CodecEntry("hvc1", 320, 192,
      Some(2), None, Some(93), Some(320), Some(180), Some(true),
      tier = Some(1), wpp = Some(true), tiles = Some(false))))
    // a corrupt hvcC version quarantines
    val hvcAt = hvc2.indices.indexWhere(i =>
      new String(hvc2, i, 4, "US-ASCII") == "hvcC")
    val badV = hvc2.clone; badV(hvcAt + 4) = 9
    assert(Mp4.decodeMp4Codec(badV).left.toOption.get === "bad_hvcc_version")
    // quarantines: a file with no stsd; an entry too small to be a
    // VisualSampleEntry; an undersized avcC
    val plain = Mp4.encodeMp4Indexed(1000L, Seq(100L), Seq(10L),
      syncEvery = 1, chunkOffset = 64L, wh = (320, 180))
    assert(Mp4.decodeMp4Codec(plain).left.toOption.get === "missing_stsd")
    val stsdAt = avc.indices.indexWhere(i =>
      new String(avc, i, 4, "US-ASCII") == "stsd")
    val cut = avc.clone()
    // shrink the avc1 entry box to 20 bytes: undersized entry
    java.nio.ByteBuffer.wrap(cut, stsdAt + 12, 4).putInt(20)
    assert(Set("undersized_stsd_entry", "malformed_box_payload")(
      Mp4.decodeMp4Codec(cut).left.toOption.get))
  }

  test("video_codec_meta: every row recomputed from the closed forms; mismatch census only where macroblock rounding bites") {
    val got = SparkEntry.queries("video_codec_meta")(spark, sf).collect()
    assert(got.length === 6)
    val seeds = Tables.events(spark, sf)
      .groupBy((col("user_id") % 6).as("g"))
      .agg(floor((sum(floor(col("value") * 100 + 0.5).cast("long")) * 10000L)
        .cast("double") / count(lit(1)) + 0.5).cast("long").as("seed"))
      .collect().map(r => r.getLong(0) -> math.abs(r.getLong(1))).toMap
    got.foreach { r =>
      val g = r.getString(0).stripPrefix("movie_").stripSuffix(".mp4").toLong
      val w = 320 + (g % 3) * 320
      val h = if (g % 3 == 0) 192L else 180 + (g % 3) * 180
      val chh = (h + 15) / 16 * 16
      assert(r.getString(1) === (if (g % 2 == 0) "avc1"
        else if (g == 3) "av01" else "hvc1"))
      assert(r.getDouble(2) === w.toDouble && r.getDouble(3) === h.toDouble)
      assert(r.getLong(4) === w && r.getLong(5) === chh)
      if (g % 2 == 0) {
        assert(r.getLong(6) === Seq(66L, 77L, 100L)((g.toInt / 2) % 3))
        assert(r.getLong(7) === 192L)
        assert(r.getLong(8) === 30 + seeds(g) % 21)
        // the SPS-decoded true dims equal the display hint (cropping
        // undoes the macroblock rounding), CABAC above Baseline
        assert(r.getLong(10) === w && r.getLong(11) === h,
          s"movie $g sps dims")
        assert(r.getLong(12) === (if ((g / 2) % 3 != 0) 1L else 0L))
        assert(r.getLong(13) === 1L, s"movie $g sps/display agreement")
        assert(r.isNullAt(14), s"movie $g avc has no hevc tier")
      } else if (g == 3) { // unknown codec: fourcc only, all nulls
        assert(r.isNullAt(6) && r.isNullAt(7) && r.isNullAt(8) &&
          r.isNullAt(10) && r.isNullAt(11) && r.isNullAt(12) &&
          r.isNullAt(13) && r.isNullAt(14))
      } else { // hvcC header + (r15) decoded SPS/PPS arrays
        val lv = 30 + seeds(g) % 21
        assert(r.getLong(6) === 1L, s"movie $g hevc main profile")
        assert(r.isNullAt(7), s"movie $g hevc has no avc compat byte")
        assert(r.getLong(8) === lv)
        // the HEVC SPS conformance window undoes the rounding too
        assert(r.getLong(10) === w && r.getLong(11) === h,
          s"movie $g hevc sps dims")
        assert(r.getLong(12) === 1L, s"movie $g hevc is cabac")
        assert(r.getLong(13) === 1L, s"movie $g sps/display agreement")
        assert(r.getLong(14) === (g / 2) % 2, s"movie $g tier")
        assert(r.getLong(15) === lv % 2, s"movie $g wpp")
        assert(r.getLong(16) === (if (lv % 6 == 0) 1L else 0L),
          s"movie $g tiles")
      }
      assert(r.getBoolean(9) === (chh != h), s"movie $g mismatch flag")
      if (g % 2 == 0 || g == 3) // the parallelism identity is HEVC's
        assert(r.isNullAt(15) && r.isNullAt(16), s"movie $g wpp/tiles null")
    }
    // the census: only the 192-tall movies (g % 3 == 0) align exactly
    assert(got.count(!_.getBoolean(9)) === 2)
  }

  test("esds/AudioSpecificConfig: descriptor walk round trips AAC identity; quarantines by name") {
    import graft.sources.Mp4
    // every ASC rate index round-trips, both channel shapes, AAC-LC
    // and HE-ish object types, the 0x80-extended length branch
    for (rate <- Mp4.AscRates; (aot, ch) <- Seq((2, 2), (5, 1))) {
      val cfg = Mp4.decodeEsds(Mp4.encodeEsds(aot, rate, ch, 128000L))
        .fold(e => fail(s"$aot/$rate/$ch: $e"), identity)
      assert(cfg.objectTypeIndication === 0x40)
      assert(cfg.audioObjectType === aot)
      assert(cfg.sampleRate === rate && cfg.channels === ch)
      assert(cfg.avgBitrate === 128000L)
    }
    def reason(b: Array[Byte]): String =
      Mp4.decodeEsds(b).left.toOption.get
    val good = Mp4.encodeEsds(2, 44100, 2, 96000L)
    val noEs = good.clone; noEs(4) = 0x07
    assert(reason(noEs) === "missing_es_descriptor")
    assert(reason(good.take(9)) === "truncated_esds")
    // sampling-frequency index 15 (explicit 24-bit rate) refuses
    val esc = good.clone
    val dsiAt = good.indices.sliding(1).flatten
      .find(i => good(i) == 0x05 && i + 3 < good.length).get
    esc(dsiAt + 2) = (esc(dsiAt + 2) | 0x07).toByte
    esc(dsiAt + 3) = (esc(dsiAt + 3) | 0x80.toByte).toByte
    assert(reason(esc) === "explicit_rate_unsupported")
    // the u32 bitrate fields refuse out-of-range params by name
    // instead of wrapping (maxBitrate = 2×avg is the tighter bound)
    val eBig = intercept[IllegalArgumentException](
      Mp4.encodeEsds(2, 44100, 2, 0x80000000L))
    assert(eBig.getMessage.contains("esds u32"))
    assert(Mp4.decodeEsds(Mp4.encodeEsds(2, 44100, 2, 0x7FFFFFFFL))
      .toOption.get.avgBitrate === 0x7FFFFFFFL, "max in-range value ok")
  }

  test("h264 parameter sets: Exp-Golomb + RBSP escape round trips, cropping arithmetic, quarantines") {
    import graft.sources.H264
    // emulation prevention against the spec's own patterns: any
    // 00 00 {00,01,02,03} gets an 03 escape, and unescape inverts it
    val raw = Array[Byte](0, 0, 0, 0, 1, 0, 0, 2, 7, 0, 0, 3)
    val esc = H264.escapeRbsp(raw)
    assert(esc.toSeq === Seq[Byte](0, 0, 3, 0, 0, 3, 1, 0, 0, 3, 2, 7, 0, 0, 3, 3))
    assert(H264.unescapeRbsp(Array[Byte](0) ++ esc, 1).toSeq === raw.toSeq)
    // SPS round trips across profiles and crop shapes (incl. the
    // high-profile chroma block and the no-crop case)
    for ((pr, w, h) <- Seq((66, 320, 192), (77, 1920, 1080),
        (100, 640, 360), (110, 1280, 720), (66, 176, 144))) {
      val sps = H264.decodeSps(H264.encodeSps(pr, 41, w, h,
        constraints = 0xC0)).fold(e => fail(s"$pr $w x $h: $e"), identity)
      assert(sps.profile === pr && sps.level === 41)
      assert(sps.constraints === 0xC0)
      assert((sps.widthPx, sps.heightPx) === ((w, h)), s"$pr $w x $h")
      assert(sps.chromaFormat === 1 && sps.frameMbsOnly)
    }
    // PPS round trips both entropy coders
    for (cabac <- Seq(true, false)) {
      val pps = H264.decodePps(H264.encodePps(cabac)).toOption.get
      assert(pps.cabac === cabac && pps.ppsId === 0 && pps.initQp === 26)
    }
    // quarantines by name: wrong NAL type, scaling matrices, slice
    // groups, truncation
    assert(H264.decodeSps(H264.encodePps(true)).left.toOption.get
      === "not_an_sps")
    assert(H264.decodePps(H264.encodeSps(66, 30, 320, 192))
      .left.toOption.get === "not_a_pps")
    val hi = H264.encodeSps(100, 41, 640, 360)
    // profile-100 bit layout: byte 0 NAL header, bytes 1-3 profile/
    // constraints/level, byte 4 = sps_id '1' + chroma '010' +
    // bit-depths '1','1' + bypass '0' + scaling-matrix flag as the
    // LSB — set it
    val scal = hi.clone
    assert((scal(4) & 0xFF) === 0xAC, "profile-100 byte-4 layout pin")
    scal(4) = (scal(4) | 0x01).toByte
    assert(H264.decodeSps(scal).left.toOption.get
      === "scaling_matrix_unsupported")
    val trunc = H264.encodeSps(66, 30, 1920, 1080).take(5)
    assert(H264.decodeSps(trunc).left.toOption.get === "truncated_sps")
    // 14496-15 §5.3.3.1: a profile-100 avcC must end with the 4-byte
    // chroma/bit-depth extension (4:2:0, 8-bit, numSPSExt 0);
    // Baseline records must NOT carry it
    import graft.sources.Mp4
    def avcCBytes(pr: Int): Array[Byte] = {
      val f = Mp4.encodeMp4Indexed(1000L, Seq(1000L), Seq(100L), 1, 4096L,
        (640, 360), codec = Some(("avc1", (640, 368), Some((pr, 0, 41)))))
      val at = f.indices.indexWhere(i =>
        new String(f, i, 4, "US-ASCII") == "avcC")
      val size = ((f(at - 4) & 0xFF) << 24) | ((f(at - 3) & 0xFF) << 16) |
        ((f(at - 2) & 0xFF) << 8) | (f(at - 1) & 0xFF)
      java.util.Arrays.copyOfRange(f, at + 4, at - 4 + size)
    }
    assert(avcCBytes(100).takeRight(4).toSeq ===
      Seq(0xFD.toByte, 0xF8.toByte, 0xF8.toByte, 0.toByte))
    val base = avcCBytes(66)
    assert(base.takeRight(4).toSeq !==
      Seq(0xFD.toByte, 0xF8.toByte, 0xF8.toByte, 0.toByte))
  }

  test("h265 parameter sets: PTL + conformance-window round trips, parallelism identity, quarantines") {
    import graft.sources.H265
    // SPS round trips across profiles/tiers and crop shapes: coded
    // dims CB-aligned, display recovered via the conformance window
    for ((pr, tier, cw, ch, dw, dh) <- Seq(
        (1, 0, 1920, 1080, 1920, 1080), // Main, aligned, no window
        (1, 1, 640, 368, 640, 360),     // high tier, bottom crop
        (2, 0, 3840, 2160, 3838, 2158), // Main-10 shape, both crops
        (3, 0, 176, 144, 176, 144))) {
      val sps = H265.decodeSps(H265.encodeSps(pr, tier, 93, cw, ch,
        dw, dh)).fold(e => fail(s"$pr/$tier $cw x $ch: $e"), identity)
      assert(sps.profile === pr && sps.tier === tier && sps.level === 93)
      assert((sps.codedW, sps.codedH) === ((cw, ch)))
      assert((sps.widthPx, sps.heightPx) === ((dw, dh)), s"$cw x $ch")
      assert(sps.chromaFormat === 1 && sps.bitDepthLuma === 8)
    }
    // PPS round trips all three parallelism postures (HEVC forbids
    // tiles+wavefront together at the main profiles)
    for ((wpp, tiles) <- Seq((false, false), (true, false), (false, true))) {
      val pps = H265.decodePps(H265.encodePps(wpp, tiles,
        tileCols = 3, tileRows = 2)).fold(e => fail(s"$wpp/$tiles: $e"),
        identity)
      assert(pps.wpp === wpp && pps.tiles === tiles)
      if (tiles) assert(pps.tileCols === 3 && pps.tileRows === 2)
      assert(pps.ppsId === 0 && pps.initQp === 26 && pps.numRefL0 === 4)
    }
    intercept[IllegalArgumentException](H265.encodePps(true, true))
    // quarantines by name: crossed NAL types, scaling lists,
    // nonzero short-term RPS count, truncation
    assert(H265.decodeSps(H265.encodePps(true, false)).left.toOption.get
      === "not_an_hevc_sps")
    assert(H265.decodePps(H265.encodeSps(1, 0, 93, 640, 368, 640, 360))
      .left.toOption.get === "not_an_hevc_pps")
    val sps = H265.encodeSps(1, 0, 93, 640, 368, 640, 360)
    assert(H265.decodeSps(sps.take(8)).left.toOption.get
      === "truncated_hevc_sps")
    // 8-aligned display needs no conformance window at all
    val spsA = H265.decodeSps(
      H265.encodeSps(1, 0, 93, 640, 360, 640, 360)).toOption.get
    assert(spsA.codedW === 640 && spsA.widthPx === 640)
    assert(spsA.codedH === 360 && spsA.heightPx === 360)
    // misaligned coded dims / odd remainders refuse at the twin
    intercept[IllegalArgumentException](
      H265.encodeSps(1, 0, 93, 644, 360, 644, 360))
    intercept[IllegalArgumentException](
      H265.encodeSps(1, 0, 93, 640, 368, 640, 361))
  }

  test("video_frame_index: every row recomputed from the closed forms") {
    val got = SparkEntry.queries("video_frame_index")(spark, sf).collect()
    assert(got.nonEmpty)
    val seeds = Tables.events(spark, sf)
      .groupBy((col("user_id") % 6).as("g"))
      .agg(floor((sum(floor(col("value") * 100 + 0.5).cast("long")) * 10000L)
        .cast("double") / count(lit(1)) + 0.5).cast("long").as("seed"))
      .collect().map(r => r.getLong(0) -> math.abs(r.getLong(1))).toMap
    got.foreach { r =>
      val g = r.getString(0).stripPrefix("movie_").stripSuffix(".mp4").toLong
      val a = seeds(g)
      val i = r.getLong(1)
      val nf = 24 + (g % 3) * 12
      val half = nf / 2
      val d1 = 1000 + a % 500
      assert(i < nf)
      assert(r.getLong(2) ===
        math.min(i, half) * d1 + math.max(i - half, 0) * (d1 + 250))
      assert(r.getLong(3) === 800 + (i % 4) * 100 + (a % 7) * 10)
      assert(r.getBoolean(4) === (i % 8 == 0))
      assert(r.getLong(5) === 4096 + i * (800 + (a % 7) * 10) +
        (i / 4) * 600 + Seq(0L, 0L, 100L, 300L)((i % 4).toInt))
    }
    assert(got.length === (0 until 6).map(g => 24 + (g % 3) * 12).sum)
  }

  test("video_keyframe_sample: the seek rule recomputed — last sync dts ≤ every 5 s tick") {
    val idx = SparkEntry.queries("video_frame_index")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(4)))
    val got = SparkEntry.queries("video_keyframe_sample")(spark, sf)
      .collect()
    assert(got.nonEmpty)
    val byMovie = idx.groupBy(_._1)
    got.foreach { r =>
      val (name, tick) = (r.getString(0), r.getLong(1))
      val keys = byMovie(name).filter(_._4)
      val expect = keys.filter(_._3 <= tick).maxBy(_._3)
      assert(r.getLong(2) === expect._2, s"$name@$tick sample")
      assert(r.getLong(3) === expect._3, s"$name@$tick dts")
      assert(r.getLong(4) === tick - expect._3, s"$name@$tick lag")
    }
    // every movie covers its full horizon at the 5 s cadence
    byMovie.foreach { case (name, fs) =>
      val horizon = fs.map(_._3).max
      assert(got.count(_.getString(0) == name) === (horizon / 5000 + 1),
        s"$name tick count")
    }
  }

  test("videoContainerMeta: end-to-end lane — six movies, audio muxing per the g rule") {
    val out = graft.sources.Mp4.videoContainerMeta(spark, sf).collect()
    assert(out.length === 6)
    for (r <- out) {
      val g = r.getAs[String]("name").stripPrefix("movie_")
        .stripSuffix(".mp4").toInt
      assert(r.getAs[Long]("n_tracks") === (if (g % 3 == 0) 2L else 1L))
      assert(r.getAs[Double]("video_w") === 320.0 + (g % 3) * 320)
      assert(r.getAs[Long]("duration") >= 1000L &&
        r.getAs[Long]("duration") < 601000L)
      if (g % 3 == 0) { // the esds-decoded AAC identity rides along
        assert(r.getAs[Long]("audio_aot") === 2L, s"movie $g aot")
        assert(r.getAs[Long]("audio_rate") ===
          (if (g % 2 == 0) 48000L else 44100L))
        assert(r.getAs[Long]("audio_channels") === 1L + g % 2)
        val bps = r.getAs[Long]("audio_bps")
        assert(bps >= 64000L && bps < 320000L, s"movie $g bps $bps")
      } else {
        assert(r.isNullAt(r.fieldIndex("audio_aot")))
        assert(r.isNullAt(r.fieldIndex("audio_rate")))
      }
    }
  }

  test("mp4a/esds in the track walk: AAC identity decodes from the sound track; a corrupt esds quarantines by name") {
    import graft.sources.Mp4
    val f = Mp4.encodeMp4("isom", 1000, 5000, (320, 180),
      withAudio = true, audioCfg = Some((2, 32000, 2, 128000L)))
    val m = Mp4.decodeMp4(f).toOption.get
    val soun = m.tracks.find(_.handler == "soun").get
    assert(soun.aac === Some(Mp4.AacConfig(0x40, 2, 32000, 2, 128000L)))
    assert(m.tracks.find(_.handler == "vide").get.aac === None)
    // a legal-but-not-AAC-shaped descriptor (wrong leading tag — the
    // non-AAC mp4a case) DEGRADES to the unknown-audio-codec path,
    // matching the video lane's contract for av01: track survives,
    // identity fields null
    val esdsAt = f.indices.indexWhere(i =>
      new String(f, i, 4, "US-ASCII") == "esds")
    val nonAac = f.clone; nonAac(esdsAt + 8) = 0x07
    val mDeg = Mp4.decodeMp4(nonAac).toOption.get
    assert(mDeg.tracks.find(_.handler == "soun").get.aac === None,
      "shape mismatch degrades, not quarantines")
    // STRUCTURALLY corrupt descriptors still quarantine by name: a
    // runaway 0x80-extended varint length (> 4 continuation bytes)
    val bad = f.clone
    (1 to 5).foreach(k => bad(esdsAt + 8 + k) = 0x80.toByte)
    assert(Mp4.decodeMp4(bad).left.toOption.get === "bad_descriptor_length")
  }

  test("imagePngStats: end-to-end lane — all four color types, channel counts right") {
    val out = Png.imagePngStats(spark, sf).collect()
    assert(out.length === 10) // 1 + 3 + 2 + 4 channels
    val byImg = out.groupBy(_.getAs[String]("name"))
    assert(byImg("img_0.png").map(_.getAs[Int]("color_type")).toSet === Set(0))
    assert(byImg("img_0.png").length === 1)
    assert(byImg("img_1.png").length === 3)
    assert(byImg("img_2.png").length === 2)
    assert(byImg("img_3.png").length === 4)
    assert(out.forall(_.getAs[Long]("n_px") === 64L))
    assert(out.forall { r =>
      val (mn, mx) = (r.getAs[Long]("min_v"), r.getAs[Long]("max_v"))
      mn >= 0 && mx <= 255 && mn <= mx })
  }
}
