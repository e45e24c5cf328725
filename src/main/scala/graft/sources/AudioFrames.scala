package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Climate.seeds

/** FRAME-INDEX walks for the two dominant compressed-audio stream
  * formats — the container-level half of the declared MP3/AAC seam
  * (the audio analogue of [[Mp4]]'s `video_frame_index`): an audio
  * training pipeline needs per-file duration, bitrate, frame count
  * and seek offsets long before (and usually instead of) decoding
  * the entropy payload, and ALL of that lives in the public frame
  * headers (ISO 11172-3 for MPEG audio; ISO 14496-3 for ADTS).
  * Payload bytes are never interpreted — Huffman/spectral decode
  * remains the declared codec-library seam, now shrunk to exactly
  * the entropy bits.
  *
  * Reference provenance: the reference's media handling keys assets
  * by type and routes them whole (`ingestor_planetary_process.py:
  * 195-230` asset hrefs); a corpus census over those assets starts
  * with exactly these walks.
  */
object AudioFrames {

  /** One AUDIO frame of an MPEG-1 Layer III stream: ordinal,
    * absolute byte offset, declared bitrate (kbps), sample rate,
    * padding flag, total frame bytes, cumulative PCM samples BEFORE
    * this frame (1152 samples/frame — exact, unlike a float
    * duration), and the side info's 9-bit `main_data_begin` bit-
    * reservoir backpointer (0 ⇔ the frame is self-contained — the
    * cut points a seek/splice needs; the entropy payload behind it
    * stays the declared seam). */
  private[graft] case class Mp3Frame(frame: Int, offset: Long,
      bitrateKbps: Int, sampleRate: Int, padded: Boolean,
      frameBytes: Int, cumSamples: Long, mainDataBegin: Int)

  /** The Xing/Info VBR metadata frame (the de-facto public LAME/
    * Fraunhofer header every VBR encoder writes as frame 0): which
    * tag, the declared audio-frame and stream-byte counts, whether
    * the 100-byte seek TOC is present, and the metadata frame's own
    * byte size. Declared counts are VALIDATED against the walk —
    * a lying Xing header quarantines rather than shipping a wrong
    * duration. */
  private[graft] case class Mp3Xing(isVbr: Boolean,
      declFrames: Option[Long], declBytes: Option[Long],
      hasToc: Boolean, frameBytes: Int)

  /** A walked MPEG-1 Layer III stream: the audio frames plus the
    * recognized (and excluded) Xing/Info metadata frame, if any. */
  private[graft] case class Mp3Stream(frames: Seq[Mp3Frame],
      xing: Option[Mp3Xing])

  // MPEG-1 Layer III tables (ISO 11172-3): bitrate index 1..14 in
  // kbps (0 = free format — unsupported, 15 = bad) and the three
  // legal sample rates (index 3 reserved)
  private val Mp3Bitrate = Array(0, 32, 40, 48, 56, 64, 80, 96, 112,
    128, 160, 192, 224, 256, 320)
  private val Mp3Rate = Array(44100, 48000, 32000)

  /** MPEG-1 Layer III frame walk. Honors the real stream rules: an
    * optional leading ID3v2 tag skips by its synchsafe size, each
    * header must carry the 11-bit sync, version MPEG-1, layer III,
    * legal bitrate/samplerate indices; frame length is the spec's
    * `144·bitrate/samplerate + padding`; per-frame bitrate may vary
    * (VBR). (r13) The side info is read to its first field — the
    * 9-bit main_data_begin backpointer (offset by the optional
    * 16-bit CRC; 17-byte mono / 32-byte two-channel side info per
    * ISO 11172-3 §2.4.1.7) — and a first frame whose payload opens
    * with a Xing/Info tag after the side info is recognized as the
    * VBR METADATA frame: excluded from the audio index, its declared
    * frame/byte counts validated against the walk. Trailing garbage
    * shorter than a header ends the walk (a final partial frame
    * quarantines). Left(reason) quarantines: free-format or reserved
    * bitrate, reserved sample rate, MPEG-2/2.5 or layer I/II
    * (different length arithmetic — loudly unsupported rather than
    * silently wrong), lost sync mid-stream, truncated frame, and a
    * Xing header whose declared counts contradict the walk. */
  private[graft] def mp3FrameIndex(bytes: Array[Byte]):
      Either[String, Mp3Stream] = {
    def u8(p: Int) = bytes(p) & 0xFF
    def u32be(p: Int): Long = (u8(p).toLong << 24) | (u8(p + 1) << 16) |
      (u8(p + 2) << 8) | u8(p + 3)
    var p = 0
    // ID3v2: "ID3" + version(2) + flags(1) + synchsafe u28 size
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' &&
        bytes(2) == '3') {
      val size = (u8(6) << 21) | (u8(7) << 14) | (u8(8) << 7) | u8(9)
      if ((u8(6) | u8(7) | u8(8) | u8(9)) >= 0x80)
        return Left("bad_id3_size") // synchsafe bytes must be 7-bit
      p = 10 + size
      if (p > bytes.length) return Left("truncated_id3")
    }
    if (p >= bytes.length) return Left("no_frames")
    val streamStart = p
    val out = Seq.newBuilder[Mp3Frame]
    var xing: Option[Mp3Xing] = None
    var i = 0
    var walked = 0 // frames walked including the metadata frame
    var cum = 0L
    while (p + 4 <= bytes.length) {
      if (u8(p) != 0xFF || (u8(p + 1) & 0xE0) != 0xE0)
        return Left(if (walked == 0) "no_sync" else "lost_sync")
      val versionId = (u8(p + 1) >> 3) & 0x03
      val layer = (u8(p + 1) >> 1) & 0x03
      if (versionId != 3) return Left("unsupported_mpeg_version")
      if (layer != 1) return Left("unsupported_layer") // 1 = Layer III
      val crc = (u8(p + 1) & 1) == 0 // protection bit 0 = CRC present
      val bi = (u8(p + 2) >> 4) & 0x0F
      val si = (u8(p + 2) >> 2) & 0x03
      if (bi == 0) return Left("free_format_unsupported")
      if (bi == 15) return Left("bad_bitrate_index")
      if (si == 3) return Left("bad_samplerate_index")
      val pad = ((u8(p + 2) >> 1) & 1) == 1
      val mode = (u8(p + 3) >> 6) & 0x03 // 3 = single channel
      val bitrate = Mp3Bitrate(bi)
      val rate = Mp3Rate(si)
      val len = 144 * bitrate * 1000 / rate + (if (pad) 1 else 0)
      if (p + len > bytes.length) return Left("truncated_frame")
      val siOff = p + 4 + (if (crc) 2 else 0)
      val siLen = if (mode == 3) 17 else 32
      if (siOff + siLen > p + len) return Left("truncated_side_info")
      val mdb = (u8(siOff) << 1) | (u8(siOff + 1) >> 7)
      // Xing ("Xing" = VBR) / Info ("Info" = CBR) tag directly after
      // the side info — only meaningful on the stream's first frame
      val tagOff = siOff + siLen
      val tag = if (walked == 0 && tagOff + 8 <= p + len)
        new String(bytes, tagOff, 4, "US-ASCII") else ""
      if (tag == "Xing" || tag == "Info") {
        val flags = u32be(tagOff + 4)
        var q = tagOff + 8
        val declFrames = if ((flags & 1) != 0) {
          val v = u32be(q); q += 4; Some(v)
        } else None
        val declBytes = if ((flags & 2) != 0) {
          val v = u32be(q); q += 4; Some(v)
        } else None
        val hasToc = (flags & 4) != 0
        if (hasToc) q += 100
        if (q > p + len) return Left("truncated_xing")
        xing = Some(Mp3Xing(tag == "Xing", declFrames, declBytes,
          hasToc, len))
      } else {
        out += Mp3Frame(i, p.toLong, bitrate, rate, pad, len, cum, mdb)
        cum += 1152
        i += 1
      }
      walked += 1
      p += len
    }
    if (p != bytes.length) return Left("trailing_garbage")
    if (i == 0) return Left("no_frames")
    // a lying Xing header quarantines instead of shipping wrong math
    xing.foreach { x =>
      x.declFrames.foreach(n =>
        if (n != i) return Left("xing_frame_count_mismatch"))
      x.declBytes.foreach(n =>
        if (n != bytes.length - streamStart)
          return Left("xing_bytes_mismatch"))
    }
    Right(Mp3Stream(out.result(), xing))
  }

  /** One ADTS frame: ordinal, absolute byte offset, AOT profile
    * (1-based MPEG-4 audio object type as stored), sample rate,
    * channel config, total frame bytes (header included), CRC
    * presence, cumulative PCM samples before this frame (1024 per
    * raw data block). */
  private[graft] case class AdtsFrame(frame: Int, offset: Long,
      profile: Int, sampleRate: Int, channels: Int, frameBytes: Int,
      hasCrc: Boolean, cumSamples: Long)

  // ISO 14496-3 sampling_frequency_index table (13 legal entries)
  private val AdtsRate = Array(96000, 88200, 64000, 48000, 44100,
    32000, 24000, 22050, 16000, 12000, 11025, 8000, 7350)

  /** ADTS (AAC transport) frame walk: 12-bit syncword, MPEG-4 IDs,
    * profile + sampling_frequency_index + channel_configuration from
    * the fixed header, the 13-bit frame_length (INCLUDES the 7- or
    * 9-byte header), protection_absent → CRC presence. Only
    * single-raw-data-block frames decode (number_of_raw_data_blocks
    * = 0, the overwhelmingly common form); multi-block frames
    * quarantine loudly. */
  private[graft] def adtsFrameIndex(bytes: Array[Byte]):
      Either[String, Seq[AdtsFrame]] = {
    def u8(p: Int) = bytes(p) & 0xFF
    if (bytes.length < 7) return Left("no_frames")
    val out = Seq.newBuilder[AdtsFrame]
    var p = 0
    var i = 0
    var cum = 0L
    while (p + 7 <= bytes.length) {
      if (u8(p) != 0xFF || (u8(p + 1) & 0xF0) != 0xF0)
        return Left(if (i == 0) "no_sync" else "lost_sync")
      if ((u8(p + 1) & 0x06) != 0) return Left("bad_layer")
      val hasCrc = (u8(p + 1) & 1) == 0 // protection_absent inverted
      val profile = ((u8(p + 2) >> 6) & 0x03) + 1
      val si = (u8(p + 2) >> 2) & 0x0F
      if (si >= AdtsRate.length) return Left("bad_samplerate_index")
      val channels = ((u8(p + 2) & 1) << 2) | ((u8(p + 3) >> 6) & 0x03)
      if (channels == 0) return Left("unsupported_channel_config")
      val len = ((u8(p + 3) & 0x03) << 11) | (u8(p + 4) << 3) |
        ((u8(p + 5) >> 5) & 0x07)
      val hdr = if (hasCrc) 9 else 7
      if (len < hdr) return Left("bad_frame_length")
      if (p + len > bytes.length) return Left("truncated_frame")
      val nBlocks = u8(p + 6) & 0x03
      if (nBlocks != 0) return Left("multi_block_unsupported")
      out += AdtsFrame(i, p.toLong, profile, AdtsRate(si), channels,
        len, hasCrc, cum)
      cum += 1024
      p += len
      i += 1
    }
    if (p != bytes.length) return Left("trailing_garbage")
    if (i == 0) Left("no_frames") else Right(out.result())
  }

  /** One Ogg page (RFC 3533): ordinal, absolute byte offset,
    * continuation/BOS/EOS flags, granule position (for Opus: the PCM
    * sample clock at 48 kHz — THE seek index), stream serial, page
    * sequence number, segment count, total page bytes, payload
    * bytes (lacing-table sum). */
  private[graft] case class OggPage(page: Int, offset: Long,
      continued: Boolean, bos: Boolean, eos: Boolean, granule: Long,
      serial: Long, seq: Long, nSegs: Int, pageBytes: Int,
      payloadBytes: Int)

  /** Ogg container page walk (RFC 3533 §6): `OggS` capture pattern,
    * version 0, header-type flags, 64-bit granule position, serial,
    * page sequence, CRC (presence only — the polynomial is public
    * but a census does not re-checksum), segment count + lacing
    * table. Page length = 27 + n_segs + Σ lacing. For an Opus
    * stream the first packet begins `OpusHead` (RFC 7845) — the
    * companion [[opusHead]] reads channels/pre-skip from it. Lost
    * capture, bad version, truncated page/table quarantine. */
  private[graft] def oggPageIndex(bytes: Array[Byte]):
      Either[String, Seq[OggPage]] = {
    def u8(p: Int) = bytes(p) & 0xFF
    def u32(p: Int): Long =
      (u8(p).toLong) | (u8(p + 1).toLong << 8) |
        (u8(p + 2).toLong << 16) | (u8(p + 3).toLong << 24)
    def u64(p: Int): Long = u32(p) | (u32(p + 4) << 32)
    if (bytes.length < 27) return Left("no_pages")
    val out = Seq.newBuilder[OggPage]
    var p = 0
    var i = 0
    while (p + 27 <= bytes.length) {
      if (!(u8(p) == 'O' && u8(p + 1) == 'g' && u8(p + 2) == 'g' &&
          u8(p + 3) == 'S'))
        return Left(if (i == 0) "no_capture" else "lost_capture")
      if (u8(p + 4) != 0) return Left("bad_version")
      val flags = u8(p + 5)
      val granule = u64(p + 6)
      val serial = u32(p + 14)
      val seq = u32(p + 18)
      val nSegs = u8(p + 26)
      if (p + 27 + nSegs > bytes.length) return Left("truncated_table")
      var payload = 0
      var s = 0
      while (s < nSegs) { payload += u8(p + 27 + s); s += 1 }
      val total = 27 + nSegs + payload
      if (p + total > bytes.length) return Left("truncated_page")
      out += OggPage(i, p.toLong, (flags & 1) != 0, (flags & 2) != 0,
        (flags & 4) != 0, granule, serial, seq, nSegs, total, payload)
      p += total
      i += 1
    }
    if (p != bytes.length) return Left("trailing_garbage")
    if (i == 0) Left("no_pages") else Right(out.result())
  }

  /** RFC 7845 identification header off the first page's payload:
    * (channels, preSkip, inputSampleRate, outputGain). Left(reason)
    * if the payload is not an OpusHead. */
  private[graft] def opusHead(payload: Array[Byte]):
      Either[String, (Int, Int, Long, Int)] = {
    if (payload.length < 19 ||
        !payload.take(8).sameElements("OpusHead".getBytes("US-ASCII")))
      return Left("not_opus")
    if ((payload(8) & 0xFF) != 1) return Left("bad_opus_version")
    def u16(p: Int) = (payload(p) & 0xFF) | ((payload(p + 1) & 0xFF) << 8)
    def u32(p: Int): Long = u16(p).toLong | (u16(p + 2).toLong << 16)
    Right(((payload(9) & 0xFF), u16(10), u32(12),
      (u16(16) << 16) >> 16))
  }

  /** FLAC metadata (the lossless leg): signature + metadata-block
    * walk + the STREAMINFO fields every audio pipeline reads first.
    * (blockType, lastFlag, length) per block; STREAMINFO unpacks
    * min/max block size, min/max frame size, the 20-bit sample rate,
    * 3-bit channels-1, 5-bit bps-1, 36-bit total samples, and the
    * raw-PCM MD5 as hex. */
  private[graft] case class FlacMeta(sampleRate: Int, channels: Int,
      bitsPerSample: Int, totalSamples: Long, minBlock: Int,
      maxBlock: Int, minFrame: Int, maxFrame: Int, md5Hex: String,
      nBlocks: Int)

  private[graft] def flacMeta(bytes: Array[Byte]):
      Either[String, FlacMeta] = {
    def u8(p: Int) = bytes(p) & 0xFF
    def u24(p: Int) = (u8(p) << 16) | (u8(p + 1) << 8) | u8(p + 2)
    if (bytes.length < 4 || !(u8(0) == 'f' && u8(1) == 'L' &&
        u8(2) == 'a' && u8(3) == 'C')) return Left("not_flac")
    var p = 4
    var si: Option[FlacMeta] = None
    var n = 0
    var last = false
    while (!last) {
      if (p + 4 > bytes.length) return Left("truncated_block_header")
      val h = u8(p)
      last = (h & 0x80) != 0
      val btype = h & 0x7F
      if (btype == 127) return Left("invalid_block_type")
      val len = u24(p + 1)
      if (p + 4 + len > bytes.length) return Left("truncated_block")
      if (btype == 0) { // STREAMINFO — must be first per the spec
        if (n != 0) return Left("streaminfo_not_first")
        if (len < 34) return Left("undersized_streaminfo")
        val s = p + 4
        val rate = (u8(s + 10) << 12) | (u8(s + 11) << 4) |
          ((u8(s + 12) >> 4) & 0x0F)
        if (rate == 0) return Left("bad_sample_rate")
        val ch = ((u8(s + 12) >> 1) & 0x07) + 1
        val bps = (((u8(s + 12) & 1) << 4) | ((u8(s + 13) >> 4) & 0x0F)) + 1
        val total = ((u8(s + 13) & 0x0F).toLong << 32) |
          ((u8(s + 14).toLong << 24) | (u8(s + 15).toLong << 16) |
            (u8(s + 16).toLong << 8) | u8(s + 17).toLong)
        val md5 = (0 until 16).map(i => f"${u8(s + 18 + i)}%02X").mkString
        si = Some(FlacMeta(rate, ch, bps, total,
          (u8(s) << 8) | u8(s + 1), (u8(s + 2) << 8) | u8(s + 3),
          u24(s + 4), u24(s + 7), md5, 0))
      } else if (n == 0) return Left("streaminfo_not_first")
      p += 4 + len
      n += 1
    }
    si.map(m => m.copy(nBlocks = n)).toRight("missing_streaminfo")
  }

  /** Encoder twin for fixtures: fLaC + STREAMINFO (+ optional padding
    * and application blocks). */
  private[graft] def encodeFlacMeta(rate: Int, channels: Int, bps: Int,
      totalSamples: Long, md5: Array[Byte],
      padBlocks: Seq[Int] = Nil): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    bo.write('f'); bo.write('L'); bo.write('a'); bo.write('C')
    val lastSi = padBlocks.isEmpty
    bo.write(if (lastSi) 0x80 else 0x00); bo.write(0); bo.write(0); bo.write(34)
    val si = java.nio.ByteBuffer.allocate(34)
    si.putShort(4096.toShort).putShort(4096.toShort) // min/max block
    def p24(v: Int): Unit = { si.put((v >> 16).toByte)
      .put((v >> 8).toByte).put(v.toByte); () }
    p24(1200); p24(9000) // min/max frame
    si.put((rate >> 12).toByte).put(((rate >> 4) & 0xFF).toByte)
    si.put((((rate & 0x0F) << 4) | ((channels - 1) << 1) |
      ((bps - 1) >> 4)).toByte)
    si.put(((((bps - 1) & 0x0F) << 4) |
      ((totalSamples >> 32) & 0x0F).toInt).toByte)
    si.putInt((totalSamples & 0xFFFFFFFFL).toInt)
    si.put(md5)
    bo.write(si.array())
    padBlocks.zipWithIndex.foreach { case (len, i) =>
      val isLast = i == padBlocks.size - 1
      bo.write((if (isLast) 0x80 else 0) | 1) // PADDING
      bo.write((len >> 16) & 0xFF); bo.write((len >> 8) & 0xFF)
      bo.write(len & 0xFF)
      (0 until len).foreach(_ => bo.write(0))
    }
    bo.toByteArray
  }

  // ------------------------------------------------ rendered lanes

  /** END-TO-END oracle-checked lane — the MP3 corpus census: eight
    * streams render in-plan (constant per-stream bitrate from the
    * seed, sample rate by group, padding every 3rd frame, half the
    * streams behind an ID3v2 tag whose size derives from the seed),
    * then the REAL frame walk indexes them back. Everything is
    * closed-form arithmetic of the events grid, so the oracle
    * replays the full index — a sync, length, padding or tag-skip
    * bug cannot hash-match. */
  def audioMp3Index(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val streams = seeds(spark, dir, 8).as[(Long, Long)].map { case (g, seed) =>
      val a = math.abs(seed)
      val si = (g % 3).toInt              // all three sample rates
      val rate = Mp3Rate(si)
      val nFrames = 12 + (g % 4).toInt * 4
      val vbr = g % 2 == 0
      // per-AUDIO-frame bitrate index: VBR streams cycle 9..14, CBR
      // streams hold one index; padding every third frame
      def biOf(f: Int): Int =
        if (vbr) 9 + ((a + f) % 6).toInt else 9 + (a % 6).toInt
      def lenOf(f: Int): Int = 144 * Mp3Bitrate(biOf(f)) * 1000 / rate +
        (if (f % 3 == 0) 1 else 0)
      val tagLen = if (vbr) 0 else 64 + (a % 100).toInt
      val bo = new java.io.ByteArrayOutputStream()
      if (tagLen > 0) { // CBR streams carry the ID3v2 skip instead
        bo.write('I'); bo.write('D'); bo.write('3')
        bo.write(4); bo.write(0); bo.write(0) // v2.4, no flags
        bo.write((tagLen >> 21) & 0x7F); bo.write((tagLen >> 14) & 0x7F)
        bo.write((tagLen >> 7) & 0x7F); bo.write(tagLen & 0x7F)
        var k = 0
        while (k < tagLen) { bo.write((k * 7 + 1) & 0xFF); k += 1 }
      }
      def frameHeader(bi: Int, pad: Boolean): Unit = {
        // FF FB (MPEG-1 Layer III no CRC), bitrate/rate/pad, stereo
        bo.write(0xFF); bo.write(0xFB)
        bo.write((bi << 4) | (si << 2) | (if (pad) 2 else 0))
        bo.write(0x00)
      }
      if (vbr) {
        // Xing metadata frame 0 at a fixed 128 kbps, no padding:
        // 32 zero side-info bytes, then Xing flags=7 with the frame
        // and byte counts the walk must reproduce + the 100-byte TOC
        val len0 = 144 * 128000 / rate
        val total = len0 + (0 until nFrames).map(lenOf).sum
        frameHeader(9, pad = false)
        (0 until 32).foreach(_ => bo.write(0))
        bo.write('X'); bo.write('i'); bo.write('n'); bo.write('g')
        bo.write(0); bo.write(0); bo.write(0); bo.write(7)
        def u32be(v: Long): Unit = { bo.write(((v >> 24) & 0xFF).toInt)
          bo.write(((v >> 16) & 0xFF).toInt)
          bo.write(((v >> 8) & 0xFF).toInt); bo.write((v & 0xFF).toInt) }
        u32be(nFrames.toLong)
        u32be(total.toLong)
        (0 until 100).foreach(k => bo.write(k * 255 / 100))
        var k = 4 + 32 + 8 + 8 + 100
        while (k < len0) { bo.write((k * 11 + 3) & 0xFF); k += 1 }
      }
      var f = 0
      while (f < nFrames) {
        val pad = f % 3 == 0
        val len = lenOf(f)
        frameHeader(biOf(f), pad)
        // side info opens with the 9-bit main_data_begin backpointer
        val mdb = (f * 13) % 512
        bo.write(mdb >> 1); bo.write((mdb & 1) << 7)
        var k = 6
        while (k < len) { bo.write((f * 31 + k) & 0xFF); k += 1 }
        f += 1
      }
      (s"track_$g.mp3", bo.toByteArray)
    }.toDF("name", "content")
    streams.as[(String, Array[Byte])].flatMap { case (name, bytes) =>
      mp3FrameIndex(bytes) match {
        case Left(_) => Iterator.empty
        case Right(st) =>
          val rate = st.frames.head.sampleRate.toLong
          val durMs = st.frames.size.toLong * 1152L * 1000L / rate
          val vbr = st.xing.exists(_.isVbr)
          val decl = st.xing.flatMap(_.declFrames)
          st.frames.iterator.map(f => (name, f.frame.toLong,
            f.offset, f.bitrateKbps.toLong, f.sampleRate.toLong,
            f.padded, f.frameBytes.toLong, f.cumSamples,
            f.mainDataBegin.toLong, vbr, decl, durMs))
      }
    }.toDF("name", "frame", "offset", "bitrate_kbps", "sample_rate",
      "padded", "frame_bytes", "cum_samples", "main_data_begin",
      "vbr", "decl_frames", "duration_ms")
      .orderBy(col("name"), col("frame"))
  }

  /** The Ogg/Opus twin — the page walk IS the seek index (granule
    * position is the 48 kHz PCM clock, RFC 7845): eight Opus-in-Ogg
    * streams render in-plan (BOS page carrying a real `OpusHead`
    * with data-derived channels/pre-skip, an `OpusTags` page, then
    * audio pages with data-derived payload sizes and a 960-sample
    * granule cadence, EOS on the last), the REAL page walk indexes
    * them back, and the identification header joins channels and
    * pre-skip onto every page row. Entropy (SILK/CELT) bits are
    * never touched. */
  def audioOggIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val streams = seeds(spark, dir, 8).as[(Long, Long)].map { case (g, seed) =>
      val a = math.abs(seed)
      val channels = 1 + (g % 2).toInt
      val preSkip = 312 + (a % 100).toInt
      val nAudio = 8 + (g % 4).toInt * 2
      val serial = 1000 + g
      val bo = new java.io.ByteArrayOutputStream()
      def page(flags: Int, granule: Long, seq: Long,
          payload: Array[Byte]): Unit = {
        val b = java.nio.ByteBuffer.allocate(27 + 1 + payload.length)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        b.put("OggS".getBytes("US-ASCII")).put(0.toByte)
          .put(flags.toByte).putLong(granule)
          .putInt(serial.toInt).putInt(seq.toInt)
          .putInt(0) // CRC: a census reads structure, not checksums
          .put(1.toByte).put(payload.length.toByte)
          .put(payload)
        bo.write(b.array())
      }
      val head = java.nio.ByteBuffer.allocate(19)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .put("OpusHead".getBytes("US-ASCII")).put(1.toByte)
        .put(channels.toByte).putShort(preSkip.toShort)
        .putInt(48000).putShort(0.toShort).put(0.toByte)
      page(2, 0L, 0L, head.array()) // BOS
      val tags = java.nio.ByteBuffer.allocate(16)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .put("OpusTags".getBytes("US-ASCII")).putInt(0).putInt(0)
      page(0, 0L, 1L, tags.array())
      var p = 0
      while (p < nAudio) {
        val payload = new Array[Byte](100 + ((a + p * 13) % 80).toInt)
        payload.indices.foreach(k => payload(k) = ((p * 11 + k) & 0xFF).toByte)
        page(if (p == nAudio - 1) 4 else 0, (p + 1) * 960L,
          (p + 2).toLong, payload)
        p += 1
      }
      (s"voice_$g.opus", bo.toByteArray)
    }.toDF("name", "content")
    streams.as[(String, Array[Byte])].flatMap { case (name, bytes) =>
      oggPageIndex(bytes) match {
        case Left(_) => Iterator.empty
        case Right(pages) =>
          // first page's payload is the identification header
          val h = pages.headOption.flatMap { p0 =>
            opusHead(java.util.Arrays.copyOfRange(bytes,
              p0.offset.toInt + 27 + p0.nSegs,
              p0.offset.toInt + p0.pageBytes)).toOption
          }
          val (ch, skip) = h.map(x => (x._1.toLong, x._2.toLong))
            .getOrElse((-1L, -1L))
          pages.iterator.map(p => (name, p.page.toLong, p.offset,
            p.bos, p.eos, p.granule, p.serial, p.seq, p.nSegs.toLong,
            p.pageBytes.toLong, p.payloadBytes.toLong, ch, skip))
      }
    }.toDF("name", "page", "offset", "bos", "eos", "granule",
      "serial", "seq", "n_segs", "page_bytes", "payload_bytes",
      "channels", "pre_skip")
      .orderBy(col("name"), col("page"))
  }

  // ---------------------------------------------------- FLAC frames

  /** MSB-first bit reader over a byte array — the FLAC framing
    * grain. */
  private class BitRd(b: Array[Byte], var pos: Int) {
    var bit = 0
    def read(n: Int): Long = {
      var v = 0L; var k = 0
      while (k < n) {
        v = (v << 1) | ((b(pos) >> (7 - bit)) & 1)
        bit += 1
        if (bit == 8) { bit = 0; pos += 1 }
        k += 1
      }
      v
    }
    def align(): Unit = if (bit != 0) { bit = 0; pos += 1 }
  }

  private class BitWr(bo: java.io.ByteArrayOutputStream) {
    private var cur = 0; private var nb = 0
    def write(v: Long, n: Int): Unit = {
      var k = n - 1
      while (k >= 0) {
        cur = (cur << 1) | ((v >> k) & 1).toInt
        nb += 1
        if (nb == 8) { bo.write(cur); cur = 0; nb = 0 }
        k -= 1
      }
    }
    def align(): Unit = if (nb > 0) { bo.write(cur << (8 - nb)); cur = 0; nb = 0 }
  }

  /** CRC-8, polynomial 0x07, init 0 (the FLAC frame-header CRC;
    * check("123456789") = 0xF4 — pinned in MediaCodecSpec). */
  private[graft] def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0; var i = from
    while (i < until) {
      c ^= b(i) & 0xFF
      var k = 0
      while (k < 8) { c = if ((c & 0x80) != 0) ((c << 1) ^ 0x07) & 0xFF
        else (c << 1) & 0xFF; k += 1 }
      i += 1
    }
    c
  }

  /** CRC-16, polynomial 0x8005, init 0, unreflected (the FLAC
    * whole-frame CRC; check("123456789") = 0xFEE8 — pinned). */
  private[graft] def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0; var i = from
    while (i < until) {
      c ^= (b(i) & 0xFF) << 8
      var k = 0
      while (k < 8) { c = if ((c & 0x8000) != 0) ((c << 1) ^ 0x8005) & 0xFFFF
        else (c << 1) & 0xFFFF; k += 1 }
      i += 1
    }
    c
  }

  /** Rice residual block shared by FIXED and LPC subframes: 2-bit
    * coding method (0 = 4-bit params, 1 = 5-bit Rice2 params), 4-bit
    * partition order, per-partition parameter with the all-ones
    * escape to n-bit verbatim residuals, zigzag-folded values with
    * unary quotients (q zeros then a one) — the FLAC format spec
    * (RFC 9639 §9.2.7). Residuals land in out(order until n). */
  private def readResiduals(br: BitRd, n: Int, order: Int,
      out: Array[Int]): Option[String] = {
    val method = br.read(2).toInt
    if (method > 1) return Some("reserved_residual_method")
    val pBits = 4 + method
    val esc = (1 << pBits) - 1
    val po = br.read(4).toInt
    val nPart = 1 << po
    if (n % nPart != 0 || (n >> po) < order)
      return Some("bad_partition_order")
    var idx = order
    var part = 0
    while (part < nPart) {
      val cnt = (n >> po) - (if (part == 0) order else 0)
      val param = br.read(pBits).toInt
      if (param == esc) { // verbatim partition: 5-bit width, raw 2c
        val nb = br.read(5).toInt
        var i = 0
        while (i < cnt) {
          out(idx) = if (nb == 0) 0
            else { val raw = br.read(nb); ((raw << (64 - nb)) >> (64 - nb)).toInt }
          idx += 1; i += 1
        }
      } else {
        var i = 0
        while (i < cnt) {
          var q = 0L
          while (br.read(1) == 0) q += 1
          val u = (q << param) | br.read(param)
          out(idx) = ((u >>> 1) ^ -(u & 1L)).toInt // zigzag unfold
          idx += 1; i += 1
        }
      }
      part += 1
    }
    None
  }

  /** One subframe → blockSize samples + the subframe-type index
    * (0 constant, 1 verbatim, 2 fixed, 3 lpc). All four FLAC
    * subframe types decode: CONSTANT/VERBATIM raw, FIXED through
    * the four fixed polynomial predictors, LPC through the
    * quantized-coefficient dot product with the signed 5-bit shift —
    * plus the wasted-bits unary prefix shared by all types. */
  private def decodeSubframe(br: BitRd, n: Int, bps: Int):
      Either[String, (Array[Int], Int)] = {
    if (br.read(1) != 0) return Left("bad_subframe_padding")
    val stype = br.read(6).toInt
    var wasted = 0
    if (br.read(1) == 1) {
      wasted = 1
      while (br.read(1) == 0) wasted += 1
    }
    val eff = bps - wasted
    if (eff <= 0) return Left("bad_wasted_bits")
    def sgn(nb: Int): Int = {
      val raw = br.read(nb); ((raw << (64 - nb)) >> (64 - nb)).toInt
    }
    val out = new Array[Int](n)
    val typeIdx = stype match {
      case 0 => // CONSTANT: one sample, repeated
        java.util.Arrays.fill(out, sgn(eff)); 0
      case 1 => // VERBATIM: n raw samples
        var i = 0
        while (i < n) { out(i) = sgn(eff); i += 1 }
        1
      case t if t >= 8 && t <= 12 => // FIXED, polynomial order 0..4
        val order = t - 8
        if (order > n) return Left("bad_predictor_order")
        var i = 0
        while (i < order) { out(i) = sgn(eff); i += 1 }
        readResiduals(br, n, order, out).foreach(e => return Left(e))
        var k = order
        while (k < n) {
          val pred = order match {
            case 0 => 0L
            case 1 => out(k - 1).toLong
            case 2 => 2L * out(k - 1) - out(k - 2)
            case 3 => 3L * out(k - 1) - 3L * out(k - 2) + out(k - 3)
            case _ => 4L * out(k - 1) - 6L * out(k - 2) +
              4L * out(k - 3) - out(k - 4)
          }
          out(k) = (out(k) + pred).toInt
          k += 1
        }
        2
      case t if t >= 32 => // LPC, order 1..32
        val order = t - 31
        if (order > n) return Left("bad_predictor_order")
        var i = 0
        while (i < order) { out(i) = sgn(eff); i += 1 }
        val precCode = br.read(4).toInt
        if (precCode == 15) return Left("bad_qlp_precision")
        val prec = precCode + 1
        val shift = { val raw = br.read(5); ((raw << 59) >> 59).toInt }
        if (shift < 0) return Left("negative_qlp_shift")
        val coefs = new Array[Int](order)
        i = 0
        while (i < order) { coefs(i) = sgn(prec); i += 1 }
        readResiduals(br, n, order, out).foreach(e => return Left(e))
        var k = order
        while (k < n) {
          var acc = 0L; var j = 0
          while (j < order) { acc += coefs(j).toLong * out(k - 1 - j); j += 1 }
          out(k) = (out(k) + (acc >> shift)).toInt
          k += 1
        }
        3
      case _ => return Left("reserved_subframe_type")
    }
    if (wasted > 0) {
      var i = 0
      while (i < n) { out(i) <<= wasted; i += 1 }
    }
    Right((out, typeIdx))
  }

  /** FLAC SAMPLE DECODE — the complete lossless leg: all four
    * subframe types (CONSTANT, VERBATIM, FIXED orders 0-4, LPC with
    * quantized coefficients) through Rice/Rice2 partitioned
    * residuals, plus all three stereo decorrelation modes
    * (left/side, right/side, mid/side with the odd-bit
    * reconstruction). Frame headers decode completely — sync,
    * blocksize/rate codes incl. the follow-up 8/16-bit forms,
    * UTF-8-coded frame numbers — and ALL THREE format integrity
    * gates are ENFORCED, not skipped: per-header CRC-8, per-frame
    * CRC-16, and STREAMINFO's MD5 of the decoded little-endian PCM
    * (the format carries its own ground truth; a decoder bug cannot
    * round-trip silently). Returns (meta, per-channel PCM, subframe
    * counts indexed constant/verbatim/fixed/lpc). */
  private[graft] def flacDecode(bytes: Array[Byte]):
      Either[String, (FlacMeta, Array[Array[Int]], Array[Int])] = {
    val meta = flacMeta(bytes) match {
      case Left(e) => return Left(e); case Right(m) => m
    }
    // skip the metadata blocks to the first frame
    var p = 4
    var last = false
    while (!last) {
      val h = bytes(p) & 0xFF
      last = (h & 0x80) != 0
      p += 4 + (((bytes(p + 1) & 0xFF) << 16) | ((bytes(p + 2) & 0xFF) << 8)
        | (bytes(p + 3) & 0xFF))
    }
    val out = Array.fill(meta.channels)(
      new scala.collection.mutable.ArrayBuffer[Int]())
    val counts = new Array[Int](4) // constant, verbatim, fixed, lpc
    var frameIdx = 0L
    try {
    while (p < bytes.length) {
      val start = p
      if ((bytes(p) & 0xFF) != 0xFF || ((bytes(p + 1) & 0xFC) != 0xF8))
        return Left("lost_frame_sync")
      if ((bytes(p + 1) & 0x02) != 0) return Left("reserved_sync_bit")
      if ((bytes(p + 1) & 0x01) != 0)
        return Left("variable_blocking_unsupported")
      val bsCode = (bytes(p + 2) >> 4) & 0x0F
      val srCode = bytes(p + 2) & 0x0F
      val chAsn = (bytes(p + 3) >> 4) & 0x0F
      val ssCode = (bytes(p + 3) >> 1) & 0x07
      if (chAsn > 10) return Left("reserved_channel_assignment")
      val nCh = if (chAsn >= 8) 2 else chAsn + 1
      if (nCh != meta.channels) return Left("bad_channel_count")
      val bps = ssCode match {
        case 1 => 8; case 2 => 12; case 4 => 16; case 5 => 20; case 6 => 24
        case 0 => meta.bitsPerSample
        case _ => return Left("bad_sample_size_code")
      }
      p += 4
      // UTF-8-coded frame number (fixed blocking strategy)
      val b0 = bytes(p) & 0xFF
      var num = 0L
      if (b0 < 0x80) { num = b0; p += 1 }
      else {
        var extra = 0
        var lead = b0
        while ((lead & 0x40) != 0) { extra += 1; lead <<= 1 }
        if (extra == 0 || extra > 5) return Left("bad_frame_number")
        num = (b0 & (0x3F >> extra)).toLong
        p += 1
        var k = 0
        while (k < extra) {
          if ((bytes(p) & 0xC0) != 0x80) return Left("bad_frame_number")
          num = (num << 6) | (bytes(p) & 0x3F); p += 1; k += 1
        }
      }
      if (num != frameIdx) return Left("frame_number_out_of_order")
      val blockSize = bsCode match {
        case 1 => 192
        case n if n >= 2 && n <= 5 => 576 << (n - 2)
        case 6 => val v = (bytes(p) & 0xFF) + 1; p += 1; v
        case 7 => val v = (((bytes(p) & 0xFF) << 8) | (bytes(p + 1) & 0xFF)) + 1
          p += 2; v
        case n if n >= 8 => 256 << (n - 8)
        case _ => return Left("reserved_block_size")
      }
      srCode match { // value taken from STREAMINFO; follow-ups skipped
        case 12 => p += 1
        case 13 | 14 => p += 2
        case 15 => return Left("invalid_sample_rate_code")
        case _ => ()
      }
      if (crc8(bytes, start, p) != (bytes(p) & 0xFF))
        return Left("bad_frame_crc8")
      p += 1
      val br = new BitRd(bytes, p)
      val frame = new Array[Array[Int]](nCh)
      var ch = 0
      while (ch < nCh) {
        // the difference (side) channel carries one extra bit:
        // left/side + mid/side put it in channel 1, right/side in 0
        val sideBit = chAsn match {
          case 8 | 10 if ch == 1 => 1
          case 9 if ch == 0 => 1
          case _ => 0
        }
        decodeSubframe(br, blockSize, bps + sideBit) match {
          case Left(e) => return Left(e)
          case Right((samples, ti)) => frame(ch) = samples; counts(ti) += 1
        }
        ch += 1
      }
      br.align()
      val crcPos = br.pos
      if (crc16(bytes, start, crcPos) !=
        (((bytes(crcPos) & 0xFF) << 8) | (bytes(crcPos + 1) & 0xFF)))
        return Left("bad_frame_crc16")
      // undo inter-channel decorrelation
      chAsn match {
        case 8 => // left/side: R = L − S
          var i = 0
          while (i < blockSize) {
            frame(1)(i) = frame(0)(i) - frame(1)(i); i += 1
          }
        case 9 => // right/side: L = S + R (channel 0 is the side)
          var i = 0
          while (i < blockSize) {
            frame(0)(i) = frame(0)(i) + frame(1)(i); i += 1
          }
        case 10 => // mid/side: re-attach side's low bit to mid
          var i = 0
          while (i < blockSize) {
            val s = frame(1)(i)
            val m = (frame(0)(i) << 1) | (s & 1)
            frame(0)(i) = (m + s) >> 1
            frame(1)(i) = (m - s) >> 1
            i += 1
          }
        case _ => ()
      }
      var c = 0
      while (c < nCh) { out(c) ++= frame(c); c += 1 }
      p = crcPos + 2
      frameIdx += 1
    }
    } catch { // a desynced Rice walk can only run off the buffer
      case _: ArrayIndexOutOfBoundsException => return Left("truncated_frame")
    }
    if (out(0).length.toLong != meta.totalSamples)
      return Left("sample_count_mismatch")
    // the format's own ground truth: MD5 of interleaved LE PCM
    val md = java.security.MessageDigest.getInstance("MD5")
    val bytesPer = meta.bitsPerSample / 8
    var i = 0
    while (i < out(0).length) {
      var c = 0
      while (c < meta.channels) {
        var v = out(c)(i); var k = 0
        while (k < bytesPer) { md.update((v & 0xFF).toByte); v >>= 8; k += 1 }
        c += 1
      }
      i += 1
    }
    if (md.digest().map("%02X".format(_)).mkString != meta.md5Hex)
      return Left("pcm_md5_mismatch")
    Right((meta, out.map(_.toArray), counts))
  }

  /** Smallest two's-complement width that holds v (0 for v == 0). */
  private def bitsSigned(v: Int): Int = {
    if (v == 0) return 0
    var nb = 1
    while ((((v.toLong << (64 - nb)) >> (64 - nb))) != v) nb += 1
    nb
  }

  /** Rice-encode one residual run: pick per-partition parameters by
    * exact bit cost (escaping to n-bit verbatim when cheaper), the
    * partition order the largest of 0..4 that divides the block and
    * keeps the warm-up inside the first partition. */
  private def writeResiduals(bw: BitWr, res: Array[Int], n: Int,
      order: Int): Unit = {
    var po = 4
    while (po > 0 && (n % (1 << po) != 0 || (n >> po) <= order)) po -= 1
    bw.write(0L, 2) // coding method 0: 4-bit Rice parameters
    bw.write(po.toLong, 4)
    val nPart = 1 << po
    var part = 0
    var idx = 0
    while (part < nPart) {
      val cnt = (n >> po) - (if (part == 0) order else 0)
      // zigzag fold once; cost out k in 0..14 vs the verbatim escape
      val u = new Array[Long](cnt)
      var raw = 0
      var i = 0
      while (i < cnt) {
        val v = res(idx + i)
        u(i) = (v.toLong << 1) ^ (v.toLong >> 63)
        val nb = bitsSigned(v)
        if (nb > raw) raw = nb
        i += 1
      }
      var bestK = 0; var bestCost = Long.MaxValue
      var k = 0
      while (k < 15) {
        var cost = cnt.toLong * (1 + k)
        i = 0
        while (i < cnt) { cost += u(i) >>> k; i += 1 }
        if (cost < bestCost) { bestCost = cost; bestK = k }
        k += 1
      }
      if (5L + cnt.toLong * raw < bestCost) { // escape: raw residuals
        bw.write(15L, 4)
        bw.write(raw.toLong, 5)
        i = 0
        while (i < cnt) {
          if (raw > 0)
            bw.write(res(idx + i).toLong & ((1L << raw) - 1), raw)
          i += 1
        }
      } else {
        bw.write(bestK.toLong, 4)
        i = 0
        while (i < cnt) {
          val q = u(i) >>> bestK
          var z = 0L
          while (z < q) { bw.write(0L, 1); z += 1 }
          bw.write(1L, 1)
          if (bestK > 0) bw.write(u(i) & ((1L << bestK) - 1), bestK)
          i += 1
        }
      }
      idx += cnt
      part += 1
    }
  }

  // forced-subframe-type codes for encodeFlac's chooser
  private[graft] val SubAuto = -1
  private[graft] val SubConstant = 0
  private[graft] val SubVerbatim = 1
  private[graft] val SubFixed = 2
  private[graft] val SubLpc = 3

  // the encoder's one deterministic quantized-LPC predictor:
  // pred = (3·s[i−1] − s[i−2]) >> 1 (order 2, precision 4, shift 1)
  private val LpcCoefs = Array(3, -1)
  private val LpcShift = 1
  private val LpcPrec = 4

  /** One subframe onto the bit writer. Wasted bits are detected
    * (common trailing zeros across the block) and emitted for every
    * type; FIXED picks its order 0..4 by the sum-of-absolute-residual
    * heuristic; LPC uses the fixed quantized predictor above (any
    * valid coefficient set is legal FLAC — exactness comes from the
    * decoder replaying the identical integer arithmetic). */
  private def writeSubframe(bw: BitWr, blk: Array[Int], bps: Int,
      forced: Int): Unit = {
    val n = blk.length
    val const = { var i = 1; var c = true
      while (c && i < n) { c = blk(i) == blk(0); i += 1 }; c }
    // wasted bits: common trailing zeros (all-zero block → 0, it
    // encodes as CONSTANT 0); capped so at least one bit remains
    var wasted = bps - 1
    var i = 0
    while (i < n && wasted > 0) {
      if (blk(i) != 0)
        wasted = math.min(wasted, java.lang.Integer.numberOfTrailingZeros(blk(i)))
      i += 1
    }
    if (blk.forall(_ == 0)) wasted = 0
    val eff = bps - wasted
    val v = if (wasted > 0) blk.map(_ >> wasted) else blk
    def header(typeBits: Long): Unit = {
      bw.write(0L, 1); bw.write(typeBits, 6)
      if (wasted == 0) bw.write(0L, 1)
      else { // flag 1, then (wasted−1) zeros and a terminating one
        bw.write(1L, 1)
        var z = 1
        while (z < wasted) { bw.write(0L, 1); z += 1 }
        bw.write(1L, 1)
      }
    }
    def mask(x: Int, nb: Int): Long = x.toLong & ((1L << nb) - 1)
    val choice =
      if (forced == SubConstant || (forced == SubAuto && const))
        if (const) SubConstant else SubVerbatim
      else if (forced == SubAuto) SubFixed // cost logic below picks order/verbatim
      else if (forced == SubFixed && n < 2) SubVerbatim
      else if (forced == SubLpc && n <= LpcCoefs.length) SubVerbatim
      else forced
    choice match {
      case SubConstant =>
        header(0L); bw.write(mask(v(0), eff), eff)
      case SubVerbatim =>
        header(1L)
        var i = 0
        while (i < n) { bw.write(mask(v(i), eff), eff); i += 1 }
      case SubFixed =>
        // order by minimum Σ|residual| over 0..min(4, n−1)
        val maxOrd = math.min(4, n - 1)
        def residuals(ord: Int): Array[Int] = {
          val r = new Array[Int](n)
          var k = 0
          while (k < ord) { r(k) = v(k); k += 1 }
          while (k < n) {
            val pred = ord match {
              case 0 => 0L
              case 1 => v(k - 1).toLong
              case 2 => 2L * v(k - 1) - v(k - 2)
              case 3 => 3L * v(k - 1) - 3L * v(k - 2) + v(k - 3)
              case _ => 4L * v(k - 1) - 6L * v(k - 2) +
                4L * v(k - 3) - v(k - 4)
            }
            r(k) = (v(k).toLong - pred).toInt
            k += 1
          }
          r
        }
        var bestOrd = 0; var bestSum = Long.MaxValue
        var ord = 0
        while (ord <= maxOrd) {
          val r = residuals(ord)
          var s = 0L; var k = ord
          while (k < n) { s += math.abs(r(k).toLong); k += 1 }
          if (s < bestSum) { bestSum = s; bestOrd = ord }
          ord += 1
        }
        header(8L + bestOrd)
        val r = residuals(bestOrd)
        var k = 0
        while (k < bestOrd) { bw.write(mask(v(k), eff), eff); k += 1 }
        writeResiduals(bw, java.util.Arrays.copyOfRange(r, bestOrd, n),
          n, bestOrd)
      case _ => // SubLpc
        val ord = LpcCoefs.length
        header(32L + (ord - 1))
        var k = 0
        while (k < ord) { bw.write(mask(v(k), eff), eff); k += 1 }
        bw.write((LpcPrec - 1).toLong, 4)
        bw.write(LpcShift.toLong, 5)
        LpcCoefs.foreach(c => bw.write(mask(c, LpcPrec), LpcPrec))
        val r = new Array[Int](n - ord)
        k = ord
        while (k < n) {
          var acc = 0L; var j = 0
          while (j < ord) { acc += LpcCoefs(j).toLong * v(k - 1 - j); j += 1 }
          r(k - ord) = (v(k).toLong - (acc >> LpcShift)).toInt
          k += 1
        }
        writeResiduals(bw, r, n, ord)
    }
  }

  /** Encoder twin: a REAL FLAC file — STREAMINFO with the true PCM
    * MD5, fixed-blocking frames, UTF-8-coded frame numbers, real
    * CRC-8/CRC-16, all four subframe types (CONSTANT / VERBATIM /
    * FIXED with Rice residuals / quantized-coefficient LPC) and the
    * three stereo decorrelation modes. `pick(channel, blockIdx)`
    * forces a subframe type per block (SubAuto = constant where
    * constant, else best FIXED order vs verbatim by residual cost);
    * `stereoMode(frameIdx)` ∈ 0..3 selects independent / left-side /
    * right-side / mid-side for 2-channel input. */
  private[graft] def encodeFlac(rate: Int, bps: Int,
      channels: Array[Array[Int]], blockSize: Int,
      pick: (Int, Int) => Int = (_, _) => SubAuto,
      stereoMode: Long => Int = _ => 0): Array[Byte] = {
    val total = channels(0).length
    val md = java.security.MessageDigest.getInstance("MD5")
    val bytesPer = bps / 8
    var i = 0
    while (i < total) {
      var c = 0
      while (c < channels.length) {
        var v = channels(c)(i); var k = 0
        while (k < bytesPer) { md.update((v & 0xFF).toByte); v >>= 8; k += 1 }
        c += 1
      }
      i += 1
    }
    val bo = new java.io.ByteArrayOutputStream()
    bo.write(encodeFlacMeta(rate, channels.length, bps, total.toLong,
      md.digest()))
    var frame = 0L
    var s = 0
    while (s < total) {
      val n = math.min(blockSize, total - s)
      val mode = if (channels.length == 2) stereoMode(frame) & 3 else 0
      val chAsn = if (mode == 0) channels.length - 1 else 7 + mode
      // channel blocks after inter-channel decorrelation
      val raw = channels.map(_.slice(s, s + n))
      val blks: Array[Array[Int]] = mode match {
        case 1 => Array(raw(0), // left/side
          Array.tabulate(n)(i => raw(0)(i) - raw(1)(i)))
        case 2 => Array( // right/side: channel 0 is the side
          Array.tabulate(n)(i => raw(0)(i) - raw(1)(i)), raw(1))
        case 3 => Array( // mid/side
          Array.tabulate(n)(i => (raw(0)(i) + raw(1)(i)) >> 1),
          Array.tabulate(n)(i => raw(0)(i) - raw(1)(i)))
        case _ => raw
      }
      val fo = new java.io.ByteArrayOutputStream()
      fo.write(0xFF); fo.write(0xF8)
      // blocksize via the 16-bit-minus-1 follow-up (code 7) — always
      // legal, keeps edge blocks exact; rate from STREAMINFO (code 0)
      fo.write(0x70)
      fo.write((chAsn << 4) |
        (Map(8 -> 1, 12 -> 2, 16 -> 4, 20 -> 5, 24 -> 6)(bps) << 1))
      if (frame < 0x80) fo.write(frame.toInt)
      else { // 2-byte UTF-8 form (fixture frame counts stay < 2^11)
        fo.write(0xC0 | ((frame >> 6) & 0x1F).toInt)
        fo.write(0x80 | (frame & 0x3F).toInt)
      }
      fo.write(((n - 1) >> 8) & 0xFF); fo.write((n - 1) & 0xFF)
      val hdr = fo.toByteArray
      fo.write(crc8(hdr, 0, hdr.length))
      val bw = new BitWr(fo)
      var c = 0
      while (c < blks.length) {
        val sideBit = mode match {
          case 1 | 3 if c == 1 => 1
          case 2 if c == 0 => 1
          case _ => 0
        }
        writeSubframe(bw, blks(c), bps + sideBit,
          pick(c, (s / blockSize)))
        c += 1
      }
      bw.align()
      val body = fo.toByteArray
      fo.write(crc16(body, 0, body.length) >> 8)
      fo.write(crc16(body, 0, body.length) & 0xFF)
      bo.write(fo.toByteArray)
      frame += 1
      s += n
    }
    bo.toByteArray
  }

  /** END-TO-END FLAC sample-decode lane — the lossless leg decoded
    * to PCM, not just its headers: eight FLAC files render in-plan
    * (Weyl-sequence PCM seeded from the events grid), each block's
    * subframe type driven by a fixed schedule the oracle replays
    * (every 8th block CONSTANT, b%4==1 LPC, b%8==3 FIXED+Rice, the
    * rest VERBATIM), stereo files cycling through all three
    * decorrelation modes frame by frame. The real frame walk decodes
    * them back under all three format integrity gates (CRC-8,
    * CRC-16, STREAMINFO MD5 — enforced, a mismatch quarantines), and
    * the lane reports exact sample statistics plus per-type subframe
    * counts the oracle recomputes from the closed-form generator and
    * the block schedule. */
  def audioFlacDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val files = seeds(spark, dir, 8).as[(Long, Long)].map { case (g, seed) =>
      val a = math.abs(seed)
      val rate = Seq(44100, 48000, 96000, 22050)((g % 4).toInt)
      val channels = 1 + (g % 2).toInt
      val n = 600 + (g % 4).toInt * 100
      val blockSize = 64
      val pcm = Array.tabulate(channels) { c =>
        Array.tabulate(n) { k =>
          val blk = k / blockSize
          if (blk % 8 == 7) ((a + c * 7) % 1000).toInt - 500
          else ((a + c * 131 + (k + 1) * 2654435761L) % 65536L).toInt - 32768
        }
      }
      // oracle-replayable schedule: constant blocks (the generator
      // holds b%8==7 flat) stay CONSTANT; b%4==1 → LPC; the
      // remaining b%8==3 → FIXED; everything else VERBATIM. Stereo
      // files cycle independent→left/side→right/side→mid/side.
      val sched = (_: Int, b: Int) =>
        if (b % 8 == 7) SubConstant
        else if (b % 4 == 1) SubLpc
        else if (b % 8 == 3) SubFixed
        else SubVerbatim
      (s"track_$g.flac",
        encodeFlac(rate, 16, pcm, blockSize, sched, f => (f % 4).toInt))
    }.toDF("name", "content")
    files.as[(String, Array[Byte])].flatMap { case (name, bytes) =>
      flacDecode(bytes) match {
        case Left(_) => Iterator.empty
        case Right((meta, pcm, counts)) =>
          val flat = pcm.flatten
          Iterator((name, meta.sampleRate.toLong, pcm.length.toLong,
            pcm(0).length.toLong, counts(0).toLong, counts(1).toLong,
            counts(2).toLong, counts(3).toLong,
            flat.map(v => math.abs(v.toLong)).max,
            flat.map(v => math.abs(v.toLong)).sum))
      }
    }.toDF("name", "sample_rate", "channels", "n_samples",
      "n_constant", "n_verbatim", "n_fixed", "n_lpc", "peak", "sum_abs")
      .orderBy(col("name"))
  }

  /** The FLAC leg: eight files render in-plan (data-derived
    * rate/channels/bps/total-samples/MD5, odd files carry a PADDING
    * block so the block walk is exercised), the metadata walk reads
    * them back — the duration/geometry/fingerprint census a lossless
    * audio corpus runs before any frame decode. */
  def audioFlacMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val files = seeds(spark, dir, 8).as[(Long, Long)].map { case (g, seed) =>
      val a = math.abs(seed)
      val rate = Seq(44100, 48000, 96000, 22050)((g % 4).toInt)
      val channels = 1 + (g % 2).toInt
      val bps = 16 + (g % 2).toInt * 8
      val total = a % 100000000L
      val md5 = Array.tabulate[Byte](16)(i => ((a + i * 31) % 256).toByte)
      val pads = if (g % 2 == 1) Seq(32 + (a % 50).toInt) else Nil
      (s"song_$g.flac",
        encodeFlacMeta(rate, channels, bps, total, md5, pads))
    }.toDF("name", "content")
    files.as[(String, Array[Byte])].flatMap { case (name, bytes) =>
      flacMeta(bytes) match {
        case Left(_) => Iterator.empty
        case Right(m) => Iterator((name, m.sampleRate.toLong,
          m.channels.toLong, m.bitsPerSample.toLong, m.totalSamples,
          m.minBlock.toLong, m.maxBlock.toLong, m.minFrame.toLong,
          m.maxFrame.toLong, m.md5Hex, m.nBlocks.toLong))
      }
    }.toDF("name", "sample_rate", "channels", "bits_per_sample",
      "total_samples", "min_block", "max_block", "min_frame",
      "max_frame", "md5_hex", "n_blocks")
      .orderBy(col("name"))
  }

  /** The ADTS twin: eight AAC transport streams render in-plan
    * (profile/rate/channels/frame sizes all closed forms, half the
    * streams CRC-protected — 9-byte headers), walked back into the
    * per-frame index. */
  def audioAdtsIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val streams = seeds(spark, dir, 8).as[(Long, Long)].map { case (g, seed) =>
      val a = math.abs(seed)
      val si = 3 + (g % 4).toInt          // 48000/44100/32000/24000
      val profile = 1 + (g % 3).toInt     // stored AOT-1: 1..3
      val channels = 1 + (g % 2).toInt
      val crc = g % 2 == 1
      val hdr = if (crc) 9 else 7
      val nFrames = 10 + (g % 5).toInt * 3
      val bo = new java.io.ByteArrayOutputStream()
      var f = 0
      while (f < nFrames) {
        val payload = 200 + ((a + f * 37) % 150).toInt
        val len = hdr + payload
        bo.write(0xFF)
        bo.write(0xF0 | (if (crc) 0 else 1)) // MPEG-4, layer 0
        bo.write(((profile - 1) << 6) | (si << 2) | ((channels >> 2) & 1))
        bo.write(((channels & 0x03) << 6) | ((len >> 11) & 0x03))
        bo.write((len >> 3) & 0xFF)
        bo.write(((len & 0x07) << 5) | 0x1F) // fullness high bits
        bo.write(0xFC)                       // fullness low, 0 blocks
        if (crc) { bo.write(0xAB); bo.write(0xCD) }
        var k = 0
        while (k < payload) { bo.write((f * 17 + k) & 0xFF); k += 1 }
        f += 1
      }
      (s"clip_$g.aac", bo.toByteArray)
    }.toDF("name", "content")
    streams.as[(String, Array[Byte])].flatMap { case (name, bytes) =>
      adtsFrameIndex(bytes) match {
        case Left(_) => Iterator.empty
        case Right(fs) => fs.iterator.map(f => (name, f.frame.toLong,
          f.offset, f.profile.toLong, f.sampleRate.toLong,
          f.channels.toLong, f.frameBytes.toLong, f.hasCrc,
          f.cumSamples))
      }
    }.toDF("name", "frame", "offset", "profile", "sample_rate",
      "channels", "frame_bytes", "has_crc", "cum_samples")
      .orderBy(col("name"), col("frame"))
  }
}
