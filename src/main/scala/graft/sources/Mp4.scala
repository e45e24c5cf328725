package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Climate.seeds

/** REAL MP4 / ISO-BMFF container walk — the video third of the
  * multimodal container story (PNG/JPEG/WAV headers:
  * `multimodal_container_meta`; PCM/PNG payloads: `audio_wav_stats`
  * / `image_png_stats`). ISO base-media metadata is pure box
  * structure — no entropy decoding — so the walk is complete and
  * real: nested size/type boxes (64-bit `largesize` honored), `ftyp`
  * major brand, `mvhd` timescale/duration in BOTH box versions
  * (v0 32-bit, v1 64-bit), per-`trak` `tkhd` dimensions (16.16
  * fixed point) and `hdlr` handler type (vide/soun). Sample data
  * (`mdat`) is never touched — frame decoding stays the declared
  * codec-library seam.
  */
object Mp4 {

  private[graft] case class Mp4Track(trackId: Long, handler: String,
      width: Double, height: Double,
      // r14: when a sound track carries an mp4a entry with esds,
      // the decoded AAC identity rides along
      aac: Option[AacConfig] = None)
  private[graft] case class Mp4Meta(majorBrand: String, timescale: Long,
      duration: Long, tracks: Seq[Mp4Track])

  /** A walk's quarantine reason, thrown from deep inside it. */
  private case class WalkFail(reason: String)
    extends RuntimeException(reason)

  /** Big-endian reads and the ISO-BMFF box walk over one file's
    * bytes, shared by the metadata, frame-index and codec walks.
    * `box` returns (type, payloadStart, boxEnd), or None when the box
    * is truncated or undersized; `children` lists a payload's boxes,
    * empty when any of them is malformed. */
  private class BoxReader(bytes: Array[Byte]) {
    def u32(p: Int): Long =
      ((bytes(p) & 0xFFL) << 24) | ((bytes(p + 1) & 0xFFL) << 16) |
        ((bytes(p + 2) & 0xFFL) << 8) | (bytes(p + 3) & 0xFFL)
    def u64(p: Int): Long = (u32(p) << 32) | u32(p + 4)
    def u16(p: Int): Int = ((bytes(p) & 0xFF) << 8) | (bytes(p + 1) & 0xFF)
    def tag(p: Int): String = new String(bytes, p, 4, "US-ASCII")
    def box(p: Int, limit: Int): Option[(String, Int, Int)] = {
      if (p + 8 > limit) return None
      val size32 = u32(p)
      val t = tag(p + 4)
      val (start, size) =
        if (size32 == 1) {
          if (p + 16 > limit) return None
          (p + 16, u64(p + 8))
        } else (p + 8, size32)
      if (size < (start - p) || p + size > limit) None
      else Some((t, start, p + size.toInt))
    }
    def children(from: Int, limit: Int): Seq[(String, Int, Int)] = {
      val out = Seq.newBuilder[(String, Int, Int)]
      var p = from
      var bad = false
      while (p < limit && !bad) box(p, limit) match {
        case Some((t, s, e)) => out += ((t, s, e)); p = e
        case None => bad = true
      }
      if (bad) Seq.empty else out.result()
    }
  }

  /** Runs a walk whose failures quarantine the file: a [[WalkFail]]'s
    * reason, a failed `require`'s message, or `malformed_box_payload`
    * for any residual malformed-byte arithmetic — a poison file can
    * never kill the job. */
  private def quarantined[A](walk: => Either[String, A]): Either[String, A] =
    scala.util.Try(walk).toEither
      .left.map {
        case WalkFail(r) => r
        case e: IllegalArgumentException if e.getMessage != null =>
          e.getMessage.stripPrefix("requirement failed: ")
        case _ => "malformed_box_payload"
      }.flatten

  /** Box walk. Left(reason) quarantines: no ftyp leader, truncated
    * or undersized boxes, missing moov/mvhd, undersized mvhd/tkhd/
    * hdlr payloads. Any residual malformed-byte arithmetic is caught
    * by the Try wrapper — a poison file can never kill the job. */
  private[graft] def decodeMp4(bytes: Array[Byte]):
      Either[String, Mp4Meta] =
    scala.util.Try(decodeMp4Walk(bytes)).toEither
      .left.map {
        case WalkFail(r) => r
        case _ => "malformed_box_payload"
      }.flatten

  private def decodeMp4Walk(bytes: Array[Byte]):
      Either[String, Mp4Meta] = {
    val boxes = new BoxReader(bytes)
    import boxes._
    val top = children(0, bytes.length)
    if (top.isEmpty) return Left("malformed_boxes")
    if (top.head._1 != "ftyp") return Left("missing_ftyp")
    val majorBrand = tag(top.head._2)
    top.find(_._1 == "moov") match {
      case None => Left("missing_moov")
      case Some((_, ms, me)) =>
        val moov = children(ms, me)
        if (moov.isEmpty && ms != me) return Left("malformed_boxes")
        val mvhd = moov.find(_._1 == "mvhd").getOrElse(
          return Left("missing_mvhd"))
        val (mvS, mvE) = (mvhd._2, mvhd._3)
        if (mvE - mvS < 4) return Left("undersized_mvhd")
        val v = bytes(mvS) & 0xFF
        // mvhd v0: timescale@+12, duration@+16 → payload ≥ 20;
        // v1: timescale@+20, duration@+24 (u64) → payload ≥ 32.
        if (mvE - mvS < (if (v == 1) 32 else 20))
          return Left("undersized_mvhd")
        val (timescale, duration) =
          if (v == 1) (u32(mvS + 20), u64(mvS + 24))
          else (u32(mvS + 12), u32(mvS + 16))
        val tracks = moov.filter(_._1 == "trak").flatMap {
          case (_, ts, te) =>
            val trak = children(ts, te)
            for ((_, ks, kEnd) <- trak.find(_._1 == "tkhd")) yield {
              // tkhd v0: id@+12 → payload ≥ 16; v1: id@+20 → ≥ 24;
              // width/height are the last 8 bytes of the payload.
              if (kEnd - ks < 4) return Left("undersized_tkhd")
              val kv = bytes(ks) & 0xFF
              val idOff = if (kv == 1) ks + 20 else ks + 12
              if (kEnd - ks < (if (kv == 1) 24 else 16) ||
                  kEnd - 8 < idOff + 4)
                return Left("undersized_tkhd")
              val trackId = u32(idOff)
              val w = u32(kEnd - 8) / 65536.0
              val h = u32(kEnd - 4) / 65536.0
              val mdia = trak.find(_._1 == "mdia")
              val handler = (for {
                (_, ds, de) <- mdia
                (_, hs, he) <- children(ds, de).find(_._1 == "hdlr")
                // hdlr: handler_type tag @+8 → payload ≥ 12
                if he - hs >= 12
              } yield tag(hs + 8)).getOrElse("????")
              // sound tracks: mp4a AudioSampleEntry → esds → AAC
              // identity (28 fixed entry bytes, then child boxes)
              val aac = for {
                (_, ds, de) <- mdia
                (_, fs, fe) <- children(ds, de).find(_._1 == "minf")
                (_, bs, be) <- children(fs, fe).find(_._1 == "stbl")
                (_, ss, se) <- children(bs, be).find(_._1 == "stsd")
                if se - ss >= 8
                (fmt, es, eEnd) <- children(ss + 8, se).headOption
                if fmt == "mp4a" && eEnd - es >= 28
                (_, gs, ge) <- children(es + 28, eEnd).find(_._1 == "esds")
                // an mp4a entry whose descriptors are legal but not
                // AAC-shaped (e.g. OTI 0x6B MP3 with no ASC, or an
                // unsupported ASC variant) degrades to the unknown-
                // audio-codec path — null identity fields, like the
                // video side's av01; only STRUCTURALLY corrupt
                // descriptors (truncation, runaway varint lengths)
                // quarantine the file
                cfg <- decodeEsds(java.util.Arrays.copyOfRange(
                  bytes, gs, ge)) match {
                  case Right(c) => Some(c)
                  case Left(r @ ("truncated_esds" |
                    "bad_descriptor_length")) => throw WalkFail(r)
                  case Left(_) => None
                }
              } yield cfg
              Mp4Track(trackId, handler, w, h, aac)
            }
        }
        Right(Mp4Meta(majorBrand, timescale, duration, tracks))
    }
  }

  /** One entry of a video track's FRAME INDEX — what keyframe
    * sampling reads: decode timestamp (track timescale), byte size,
    * sync flag, absolute file offset. */
  private[graft] case class Mp4Frame(sample: Int, dts: Long, size: Long,
      sync: Boolean, offset: Long)

  /** SAMPLE-TABLE walk (stbl: stts/stsz/stss/stsc/stco) of the FIRST
    * video track — the structure a frame-sampling training pipeline
    * reads to pick keyframes WITHOUT touching entropy-coded frame
    * data: per-sample timestamps from the stts run-length deltas,
    * sizes from stsz, sync samples from stss (absent ⇒ all sync),
    * absolute offsets from the stsc chunk runs + stco chunk offsets
    * + intra-chunk size prefix sums. Left(reason) quarantines;
    * bounds-checked like [[decodeMp4]]. */
  private[graft] def decodeMp4Frames(bytes: Array[Byte]):
      Either[String, Seq[Mp4Frame]] =
    quarantined(decodeFramesWalk(bytes))

  private def decodeFramesWalk(bytes: Array[Byte]):
      Either[String, Seq[Mp4Frame]] = {
    val boxes = new BoxReader(bytes)
    import boxes._
    val top = children(0, bytes.length)
    val (_, ms, me) = top.find(_._1 == "moov")
      .getOrElse(return Left("missing_moov"))
    val stblOpt = children(ms, me).filter(_._1 == "trak").iterator.map {
      case (_, ts, te) =>
        val trak = children(ts, te)
        for {
          (_, ds, de) <- trak.find(_._1 == "mdia")
          mdia = children(ds, de)
          (_, hs, he) <- mdia.find(_._1 == "hdlr")
          if he - hs >= 12 && tag(hs + 8) == "vide"
          (_, fs, fe) <- mdia.find(_._1 == "minf")
          (_, bs, be) <- children(fs, fe).find(_._1 == "stbl")
        } yield children(bs, be)
    }.collectFirst { case Some(stbl) => stbl }
    val stbl = stblOpt.getOrElse(return Left("missing_video_stbl"))
    def need(t: String): (Int, Int) = stbl.find(_._1 == t)
      .map(b => (b._2, b._3)).getOrElse(throw WalkFail(s"missing_$t"))
    // stts: run-length (count, delta) → per-sample dts prefix sums
    val (sttsS, sttsE) = need("stts")
    require(sttsE - sttsS >= 8, "undersized_stts")
    val nRuns = u32(sttsS + 4).toInt
    require(sttsE - sttsS >= 8 + nRuns * 8, "undersized_stts")
    val deltas = (0 until nRuns).flatMap { i =>
      val cnt = u32(sttsS + 8 + i * 8).toInt
      require(cnt >= 0 && cnt <= (1 << 24), "stts_run")
      Seq.fill(cnt)(u32(sttsS + 12 + i * 8))
    }
    // stsz: uniform or per-sample sizes
    val (stszS, stszE) = need("stsz")
    require(stszE - stszS >= 12, "undersized_stsz")
    val uniform = u32(stszS + 4)
    val nSamples = u32(stszS + 8).toInt
    require(nSamples == deltas.length, "stsz_stts_mismatch")
    val sizes =
      if (uniform != 0) IndexedSeq.fill(nSamples)(uniform)
      else {
        require(stszE - stszS >= 12 + nSamples * 4, "undersized_stsz")
        (0 until nSamples).map(i => u32(stszS + 12 + i * 4))
      }
    // stss: 1-based sync sample list (absent ⇒ every sample sync)
    val sync: Int => Boolean = stbl.find(_._1 == "stss") match {
      case None => _ => true
      case Some((_, s, e)) =>
        require(e - s >= 8, "undersized_stss")
        val n = u32(s + 4).toInt
        require(e - s >= 8 + n * 4, "undersized_stss")
        val set = (0 until n).map(i => u32(s + 8 + i * 4).toInt).toSet
        k => set(k + 1)
    }
    // stsc runs + stco offsets → absolute sample offsets
    val (stscS, stscE) = need("stsc")
    require(stscE - stscS >= 8, "undersized_stsc")
    val nScRuns = u32(stscS + 4).toInt
    require(stscE - stscS >= 8 + nScRuns * 12, "undersized_stsc")
    val scRuns = (0 until nScRuns).map { i =>
      (u32(stscS + 8 + i * 12).toInt, u32(stscS + 12 + i * 12).toInt)
    } // (first_chunk 1-based, samples_per_chunk)
    val (stcoS, stcoE) = need("stco")
    require(stcoE - stcoS >= 8, "undersized_stco")
    val nChunks = u32(stcoS + 4).toInt
    require(stcoE - stcoS >= 8 + nChunks * 4, "undersized_stco")
    val chunkOff = (0 until nChunks).map(i => u32(stcoS + 8 + i * 4))
    // expand chunk runs to per-chunk sample counts
    val perChunk = (0 until nChunks).map { c =>
      val run = scRuns.reverse.find(_._1 <= c + 1)
        .getOrElse(return Left("bad_stsc"))
      run._2
    }
    require(perChunk.sum == nSamples, "stsc_total_mismatch")
    val out = Vector.newBuilder[Mp4Frame]
    var dts = 0L
    var s = 0
    for (c <- 0 until nChunks) {
      var off = chunkOff(c)
      for (_ <- 0 until perChunk(c)) {
        out += Mp4Frame(s, dts, sizes(s), sync(s), off)
        off += sizes(s)
        dts += deltas(s)
        s += 1
      }
    }
    Right(out.result())
  }

  /** One `stsd` sample-description entry of the first video track:
    * codec fourcc, CODED dimensions (the VisualSampleEntry
    * width/height — what the bitstream actually carries, macroblock-
    * aligned), and for AVC entries the `avcC` decoder-configuration
    * profile/compatibility/level. Non-AVC codecs surface the fourcc
    * with null config — the unknown-codec path, not an error. */
  private[graft] case class Mp4CodecEntry(format: String, codedW: Int,
      codedH: Int, profile: Option[Int], compat: Option[Int],
      level: Option[Int],
      // r14: when the avcC carries parameter sets, the SPS-decoded
      // TRUE display dims (coded minus frame cropping) and the PPS
      // entropy-coder identity; for HEVC entries the hvcC
      // profile/tier/level header fills profile/level and tier
      spsW: Option[Int] = None, spsH: Option[Int] = None,
      cabac: Option[Boolean] = None, tier: Option[Int] = None,
      // r15: HEVC PPS parallelism identity (tiles / wavefront
      // entropy sync) — HEVC's analogue of the AVC CABAC/CAVLC fact
      wpp: Option[Boolean] = None, tiles: Option[Boolean] = None)

  /** SAMPLE-DESCRIPTION walk (stsd + avcC, ISO 14496-12 §12.1.3 /
    * 14496-15 §5.3.3) of the first video track — the last
    * container-level video fact available without entropy decode:
    * codec identity + coded dims to census against the tkhd DISPLAY
    * dims (the video analogue of `multimodal_container_meta`'s
    * declared-vs-detected mislabel check). Returns (displayW,
    * displayH, entries). Left(reason) quarantines undersized/missing
    * structures. */
  private[graft] def decodeMp4Codec(bytes: Array[Byte]):
      Either[String, (Double, Double, Seq[Mp4CodecEntry])] =
    quarantined(decodeCodecWalk(bytes))

  private def decodeCodecWalk(bytes: Array[Byte]):
      Either[String, (Double, Double, Seq[Mp4CodecEntry])] = {
    val boxes = new BoxReader(bytes)
    import boxes._
    val top = children(0, bytes.length)
    val (_, ms, me) = top.find(_._1 == "moov")
      .getOrElse(return Left("missing_moov"))
    val hit = children(ms, me).filter(_._1 == "trak").iterator.map {
      case (_, ts, te) =>
        val trak = children(ts, te)
        for {
          (_, ds, de) <- trak.find(_._1 == "mdia")
          mdia = children(ds, de)
          (_, hs, he) <- mdia.find(_._1 == "hdlr")
          if he - hs >= 12 && tag(hs + 8) == "vide"
          (_, ks, ke) <- trak.find(_._1 == "tkhd")
          (_, fs, fe) <- mdia.find(_._1 == "minf")
          (_, bs, be) <- children(fs, fe).find(_._1 == "stbl")
        } yield ((ks, ke), children(bs, be))
    }.collectFirst { case Some(v) => v }
    val ((ks, ke), stbl) = hit.getOrElse(return Left("missing_video_stbl"))
    require(ke - ks >= 16 && ke - 8 >= ks, "undersized_tkhd")
    val dispW = u32(ke - 8) / 65536.0
    val dispH = u32(ke - 4) / 65536.0
    val (sdS, sdE) = stbl.find(_._1 == "stsd").map(b => (b._2, b._3))
      .getOrElse(return Left("missing_stsd"))
    require(sdE - sdS >= 8, "undersized_stsd")
    val nEntries = u32(sdS + 4).toInt
    require(nEntries >= 0 && nEntries <= 64, "bad_stsd_count")
    val entries = Seq.newBuilder[Mp4CodecEntry]
    var p = sdS + 8
    var i = 0
    while (i < nEntries) {
      val (fmt, es, ee) = box(p, sdE)
        .getOrElse(throw WalkFail("undersized_stsd_entry"))
      // VisualSampleEntry: width/height u16 at payload +24/+26, the
      // fixed fields span 78 bytes, then child boxes (avcC, …)
      require(ee - es >= 78, "undersized_stsd_entry")
      val cw = u16(es + 24); val chh = u16(es + 26)
      val avcC = children(es + 78, ee).find(_._1 == "avcC")
      val entry = avcC match {
        case Some((_, as2, ae)) =>
          require(ae - as2 >= 7, "undersized_avcc")
          val pr = bytes(as2 + 1) & 0xFF
          val co = bytes(as2 + 2) & 0xFF
          val lv = bytes(as2 + 3) & 0xFF
          // parameter sets (14496-15 §5.3.3.1): numSPS in the low 5
          // bits, each set length-prefixed; the SPS yields the TRUE
          // display dims via frame cropping, the PPS the entropy
          // coder — both through the real Exp-Golomb walk
          var q = as2 + 5
          val nSps = bytes(q) & 0x1F
          q += 1
          var sps: Option[H264.Sps] = None
          var s = 0
          while (s < nSps) {
            require(q + 2 <= ae, "undersized_avcc")
            val len = u16(q); q += 2
            require(q + len <= ae, "undersized_avcc")
            val nal = java.util.Arrays.copyOfRange(bytes, q, q + len)
            if (sps.isEmpty)
              sps = Some(H264.decodeSps(nal)
                .fold(r => throw WalkFail(r), identity))
            q += len; s += 1
          }
          require(q < ae, "undersized_avcc")
          val nPps = bytes(q) & 0xFF
          q += 1
          var pps: Option[H264.Pps] = None
          var t2 = 0
          while (t2 < nPps) {
            require(q + 2 <= ae, "undersized_avcc")
            val len = u16(q); q += 2
            require(q + len <= ae, "undersized_avcc")
            val nal = java.util.Arrays.copyOfRange(bytes, q, q + len)
            if (pps.isEmpty)
              pps = Some(H264.decodePps(nal)
                .fold(r => throw WalkFail(r), identity))
            q += len; t2 += 1
          }
          // the avcC profile/level header must restate the SPS
          sps.foreach { sp =>
            if (sp.profile != pr || sp.level != lv)
              throw WalkFail("avcc_sps_disagreement")
          }
          Mp4CodecEntry(fmt, cw, chh, Some(pr), Some(co), Some(lv),
            sps.map(_.widthPx), sps.map(_.heightPx), pps.map(_.cabac))
        case None =>
          // HEVC: the hvcC configuration record's fixed
          // profile/tier/level header (14496-15 §8.3.3.1) — byte 1
          // packs profile_space/tier/profile_idc, byte 12 is
          // general_level_idc — then (r15) the parameter-set arrays
          // at byte 22: each carries a NAL type and length-prefixed
          // NALs; the SPS decodes to TRUE display dims via the
          // conformance window and the PPS to the tiles/wavefront
          // parallelism identity ([[H265]]). Slice data remains the
          // declared entropy seam.
          children(es + 78, ee).find(_._1 == "hvcC") match {
            case Some((_, hs, he)) =>
              require(he - hs >= 23, "undersized_hvcc")
              require((bytes(hs) & 0xFF) == 1, "bad_hvcc_version")
              val pr = bytes(hs + 1) & 0x1F
              val tier = (bytes(hs + 1) >> 5) & 1
              val lv = bytes(hs + 12) & 0xFF
              var sps: Option[H265.HevcSps] = None
              var pps: Option[H265.HevcPps] = None
              val nArrays = bytes(hs + 22) & 0xFF
              var q = hs + 23
              var a = 0
              while (a < nArrays) {
                require(q + 3 <= he, "undersized_hvcc")
                val nalType = bytes(q) & 0x3F
                val nNalus = u16(q + 1)
                q += 3
                var n = 0
                while (n < nNalus) {
                  require(q + 2 <= he, "undersized_hvcc")
                  val len = u16(q); q += 2
                  require(q + len <= he, "undersized_hvcc")
                  val nal = java.util.Arrays.copyOfRange(bytes, q, q + len)
                  if (nalType == H265.NalSps && sps.isEmpty)
                    sps = Some(H265.decodeSps(nal)
                      .fold(r => throw WalkFail(r), identity))
                  if (nalType == H265.NalPps && pps.isEmpty)
                    pps = Some(H265.decodePps(nal)
                      .fold(r => throw WalkFail(r), identity))
                  q += len; n += 1
                }
                a += 1
              }
              // the hvcC header must restate the SPS profile-tier-level
              sps.foreach { sp =>
                if (sp.profile != pr || sp.tier != tier || sp.level != lv)
                  throw WalkFail("hvcc_sps_disagreement")
              }
              Mp4CodecEntry(fmt, cw, chh, Some(pr), None, Some(lv),
                sps.map(_.widthPx), sps.map(_.heightPx),
                // HEVC entropy coding is CABAC by definition — the
                // identity fact only materializes once an SPS proves
                // the config record carries a real bitstream config
                sps.map(_ => true), Some(tier),
                pps.map(_.wpp), pps.map(_.tiles))
            case None => Mp4CodecEntry(fmt, cw, chh, None, None, None)
          }
      }
      entries += entry
      p = ee; i += 1
    }
    Right((dispW, dispH, entries.result()))
  }

  /** MPEG-4 Systems descriptor walk for the `esds` box (ISO
    * 14496-1 §7.2.6 + 14496-3 §1.6): ES_Descriptor (tag 0x03,
    * 0x80-extended varint lengths) → DecoderConfigDescriptor (0x04:
    * objectTypeIndication — 0x40 is MPEG-4 Audio, avg/max bitrate)
    * → DecoderSpecificInfo (0x05) carrying the AudioSpecificConfig:
    * 5-bit audioObjectType, 4-bit samplingFrequencyIndex against
    * the fixed rate table, 4-bit channelConfiguration. This is the
    * audio twin of the avcC/hvcC walk — everything a router reads
    * before picking an AAC decoder; the AAC payload itself stays
    * the declared entropy seam. */
  private[graft] case class AacConfig(objectTypeIndication: Int,
    audioObjectType: Int, sampleRate: Int, channels: Int,
    avgBitrate: Long)

  private[graft] val AscRates = Array(96000, 88200, 64000, 48000,
    44100, 32000, 24000, 22050, 16000, 12000, 11025, 8000, 7350)

  private[graft] def decodeEsds(b: Array[Byte]): Either[String, AacConfig] = {
    var p = 4 // full-box version/flags
    def u8(): Int = { val v = b(p) & 0xFF; p += 1; v }
    def len(): Int = { // 0x80-extended varint, ≤ 4 bytes
      var v = 0; var k = 0
      var more = true
      while (more) {
        val x = u8()
        v = (v << 7) | (x & 0x7F)
        more = (x & 0x80) != 0
        k += 1
        if (k > 4) throw WalkFail("bad_descriptor_length")
      }
      v
    }
    try {
      if (u8() != 0x03) return Left("missing_es_descriptor")
      len()
      p += 2 // ES_ID
      val esFlags = u8()
      if ((esFlags & 0x80) != 0) p += 2 // dependsOn_ES_ID
      if ((esFlags & 0x40) != 0) p += u8() // URL string
      if ((esFlags & 0x20) != 0) p += 2 // OCR_ES_ID
      if (u8() != 0x04) return Left("missing_decoder_config")
      len()
      val oti = u8()
      p += 1 + 3 + 4 // streamType, bufferSizeDB, maxBitrate
      val avg = ((b(p) & 0xFFL) << 24) | ((b(p + 1) & 0xFFL) << 16) |
        ((b(p + 2) & 0xFFL) << 8) | (b(p + 3) & 0xFFL)
      p += 4
      if (u8() != 0x05) return Left("missing_decoder_specific_info")
      val dsiLen = len()
      if (dsiLen < 2) return Left("undersized_asc")
      val a0 = u8(); val a1 = u8()
      val aot = (a0 >> 3) & 0x1F
      if (aot == 31) return Left("extended_aot_unsupported")
      val sfi = ((a0 & 7) << 1) | (a1 >> 7)
      if (sfi == 15) return Left("explicit_rate_unsupported")
      if (sfi >= AscRates.length) return Left("reserved_rate_index")
      val ch = (a1 >> 3) & 0x0F
      Right(AacConfig(oti, aot, AscRates(sfi), ch, avg))
    } catch {
      case _: ArrayIndexOutOfBoundsException => Left("truncated_esds")
      case WalkFail(r) => Left(r)
    }
  }

  /** Encoder twin: an esds payload for AAC (OTI 0x40) with the
    * given AudioSpecificConfig fields; lengths use the minimal
    * (unextended) form except the ES_Descriptor's own, written
    * 0x80-extended to keep that branch honest on the decode side. */
  private[graft] def encodeEsds(audioObjectType: Int, sampleRate: Int,
      channels: Int, avgBitrate: Long): Array[Byte] = {
    val sfi = AscRates.indexOf(sampleRate)
    require(sfi >= 0, s"no ASC rate index for $sampleRate")
    // the descriptor's bitrate fields are u32 — an out-of-range
    // fixture parameter must refuse by name, not wrap silently
    require(avgBitrate >= 0 && avgBitrate * 2 <= 0xFFFFFFFFL,
      s"avgBitrate $avgBitrate exceeds the esds u32 bitrate fields")
    val asc = Array(
      (((audioObjectType & 0x1F) << 3) | (sfi >> 1)).toByte,
      (((sfi & 1) << 7) | ((channels & 0x0F) << 3)).toByte)
    val dsi = Array(0x05.toByte, asc.length.toByte) ++ asc
    val dcd = java.nio.ByteBuffer.allocate(2 + 13 + dsi.length)
    dcd.put(0x04.toByte).put((13 + dsi.length).toByte)
    dcd.put(0x40.toByte)        // objectTypeIndication: MPEG-4 Audio
    dcd.put(0x15.toByte)        // streamType audio | reserved
    dcd.put(0.toByte).put(0.toByte).put(0.toByte) // bufferSizeDB
    dcd.putInt((avgBitrate * 2).toInt)            // maxBitrate
    dcd.putInt(avgBitrate.toInt)
    dcd.put(dsi)
    val esBody = Array[Byte](0, 1, 0) ++ dcd.array() // ES_ID 1, flags 0
    val es = java.nio.ByteBuffer.allocate(4 + 3 + esBody.length)
    es.putInt(0)                // full-box version/flags
    es.put(0x03.toByte)
    // 0x80-extended 2-byte length of the ES body
    es.put((0x80 | ((esBody.length >> 7) & 0x7F)).toByte)
    es.put((esBody.length & 0x7F).toByte)
    es.put(esBody)
    es.array()
  }

  /** Minimal valid skeleton builder for the render seam: ftyp +
    * moov(mvhd v0 + one video trak + optional audio trak). */
  private[graft] def encodeMp4(majorBrand: String, timescale: Long,
      duration: Long, videoWH: (Int, Int), withAudio: Boolean,
      mvhdV1: Boolean = false,
      // (audioObjectType, sampleRate, channels, avgBitrate): when
      // set, the audio trak carries a real mp4a AudioSampleEntry
      // with an esds AAC configuration
      audioCfg: Option[(Int, Int, Int, Long)] = None): Array[Byte] = {
    def boxOf(t: String, payload: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + payload.length)
      b.putInt(8 + payload.length).put(t.getBytes("US-ASCII"))
        .put(payload)
      b.array()
    }
    val ftyp = boxOf("ftyp", majorBrand.getBytes("US-ASCII") ++
      Array[Byte](0, 0, 2, 0) ++ "isom".getBytes("US-ASCII"))
    val mvhd =
      if (mvhdV1) {
        val b = java.nio.ByteBuffer.allocate(112)
        b.put(1.toByte).put(Array[Byte](0, 0, 0)) // version 1
        b.putLong(0L).putLong(0L)                  // creation, modification
        b.putInt(timescale.toInt).putLong(duration)
        b.position(112); boxOf("mvhd", b.array())
      } else {
        val b = java.nio.ByteBuffer.allocate(100)
        b.putInt(0)                       // version 0 + flags
        b.putInt(0).putInt(0)             // creation, modification
        b.putInt(timescale.toInt).putInt(duration.toInt)
        b.position(100); boxOf("mvhd", b.array())
      }
    def tkhd(trackId: Int, w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(84)
      b.putInt(7)            // version 0, flags enabled
      b.putInt(0).putInt(0)  // creation, modification
      b.putInt(trackId).putInt(0).putInt(duration.toInt)
      b.position(76)
      b.putInt(w << 16).putInt(h << 16)
      boxOf("tkhd", b.array())
    }
    def hdlr(handler: String): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(24)
      b.putInt(0).putInt(0).put(handler.getBytes("US-ASCII"))
      b.position(24); boxOf("hdlr", b.array())
    }
    def trak(trackId: Int, handler: String, w: Int, h: Int,
        stbl: Array[Byte] = Array.emptyByteArray) =
      boxOf("trak", tkhd(trackId, w, h) ++
        boxOf("mdia", hdlr(handler) ++
          (if (stbl.isEmpty) Array.emptyByteArray
           else boxOf("minf", boxOf("stbl", stbl)))))
    // mp4a AudioSampleEntry (14496-12 §12.2.3): 28 fixed bytes —
    // reserved(6)+dref_index, 8 reserved, channelcount, samplesize
    // 16, 4 reserved, 16.16 samplerate — then the esds child
    val audioStbl = audioCfg.map { case (aot, rate, ch, kbps) =>
      val esds = boxOf("esds", encodeEsds(aot, rate, ch, kbps))
      val ae = java.nio.ByteBuffer.allocate(28)
      ae.position(6); ae.putShort(1)       // data_reference_index
      ae.position(16); ae.putShort(ch.toShort).putShort(16)
      ae.position(24); ae.putInt(rate << 16)
      val entry = boxOf("mp4a", ae.array() ++ esds)
      // stsd full box: version/flags then entry_count 1
      boxOf("stsd", Array[Byte](0, 0, 0, 0, 0, 0, 0, 1) ++ entry)
    }.getOrElse(Array.emptyByteArray)
    val traks = trak(1, "vide", videoWH._1, videoWH._2) ++
      (if (withAudio) trak(2, "soun", 0, 0, audioStbl)
       else Array.emptyByteArray)
    ftyp ++ boxOf("moov", mvhd ++ traks)
  }

  /** Skeleton builder WITH a video sample table — ftyp + moov(mvhd +
    * trak(tkhd + mdia(hdlr vide + minf(stbl(stts/stsz/stss/stsc/
    * stco))))). Single chunk at `chunkOffset`; stts runs come from
    * run-length-encoding `deltas`; stss marks every `syncEvery`-th
    * sample starting at 1. */
  private[graft] def encodeMp4Indexed(timescale: Long, deltas: Seq[Long],
      sizes: Seq[Long], syncEvery: Int, chunkOffset: Long,
      wh: (Int, Int),
      // (fourcc, coded (w,h), optional avcC (profile, compat, level))
      codec: Option[(String, (Int, Int), Option[(Int, Int, Int)])] = None)
      : Array[Byte] = {
    require(deltas.length == sizes.length && deltas.nonEmpty)
    def boxOf(t: String, payload: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + payload.length)
      b.putInt(8 + payload.length).put(t.getBytes("US-ASCII"))
        .put(payload)
      b.array()
    }
    def fullBox(t: String, body: java.nio.ByteBuffer => Unit,
        size: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(4 + size)
      b.putInt(0) // version + flags
      body(b)
      boxOf(t, b.array())
    }
    val n = deltas.length
    val runs = deltas.foldLeft(Vector.empty[(Long, Int)]) { (acc, d) =>
      if (acc.nonEmpty && acc.last._1 == d)
        acc.init :+ ((d, acc.last._2 + 1))
      else acc :+ ((d, 1))
    }
    val stts = fullBox("stts", b => {
      b.putInt(runs.length)
      runs.foreach { case (d, c) => b.putInt(c).putInt(d.toInt) }
    }, 4 + runs.length * 8)
    val stsz = fullBox("stsz", b => {
      b.putInt(0).putInt(n)
      sizes.foreach(sz => b.putInt(sz.toInt))
    }, 8 + n * 4)
    val syncSamples = (1 to n by syncEvery).toSeq
    val stss = fullBox("stss", b => {
      b.putInt(syncSamples.length)
      syncSamples.foreach(b.putInt)
    }, 4 + syncSamples.length * 4)
    val stsc = fullBox("stsc",
      b => { b.putInt(1); b.putInt(1).putInt(n).putInt(1); () }, 16)
    val stco = fullBox("stco",
      b => { b.putInt(1).putInt(chunkOffset.toInt); () }, 8)
    val stsd = codec.map { case (fourcc, (cw, chh), avc) =>
      val avcC = avc.map { case (pr, co, lv) =>
        if (fourcc == "hvc1") {
          // real HEVCDecoderConfigurationRecord (14496-15 §8.3.3.1):
          // version 1, profile_space0|tier|profile_idc, 32 compat
          // bits, 48 constraint bits, general_level_idc, the
          // reserved-bits fields, then (r15) TWO parameter-set
          // arrays — one real SPS (true display dims via the
          // conformance window off the CB-aligned coded grid) and
          // one real PPS (parallelism identity: wavefront for odd
          // levels, tiles for levels ≡ 0 mod 6 — data-derived, both
          // paths exercised); `co` carries the TIER bit
          val sps = H265.encodeSps(pr, co & 1, lv, cw, chh,
            wh._1, wh._2)
          val pps = H265.encodePps(wpp = lv % 2 == 1,
            tiles = lv % 2 == 0 && lv % 3 == 0)
          val bb = java.nio.ByteBuffer.allocate(23 + 2 * 5 +
            sps.length + pps.length)
          bb.put(1.toByte)
          bb.put((((co & 1) << 5) | (pr & 0x1F)).toByte)
          // compat: the stream's own profile bit (flag[pr] from MSB)
          bb.putInt(if (pr <= 31) 1 << (31 - pr) else 0)
          (0 until 6).foreach(_ => bb.put(0.toByte)) // constraints
          bb.put(lv.toByte)
          bb.putShort(0xF000.toShort) // min_spatial_segmentation
          bb.put(0xFC.toByte)         // parallelismType
          bb.put(0xFD.toByte)         // chromaFormat 4:2:0
          bb.put(0xF8.toByte)         // bitDepthLuma 8
          bb.put(0xF8.toByte)         // bitDepthChroma 8
          bb.putShort(0)              // avgFrameRate
          bb.put(3.toByte)            // lengthSizeMinusOne = 3
          bb.put(2.toByte)            // numOfArrays: SPS + PPS
          bb.put((0x80 | H265.NalSps).toByte) // array_completeness|type
          bb.putShort(1).putShort(sps.length.toShort).put(sps)
          bb.put((0x80 | H265.NalPps).toByte)
          bb.putShort(1).putShort(pps.length.toShort).put(pps)
          boxOf("hvcC", bb.array())
        } else {
          // real AVCDecoderConfigurationRecord (14496-15 §5.3.3.1):
          // version 1, profile/compat/level restating the SPS, then
          // one length-prefixed SPS (true display dims via frame
          // cropping off the coded macroblock grid) and one PPS
          // (CABAC for every profile above Baseline — the x264 rule)
          val sps = H264.encodeSps(pr, lv, wh._1, wh._2, constraints = co)
          val pps = H264.encodePps(cabac = pr != 66)
          // 14496-15 §5.3.3.1: profiles 100/110/122/144 MUST append
          // the chroma/bit-depth extension (mirrors encodeSps's
          // high-profile branch: 4:2:0, 8-bit) + numSPSExt = 0
          val ext = if (Set(100, 110, 122, 144)(pr))
            Array((0xFC | 1).toByte, 0xF8.toByte, 0xF8.toByte, 0.toByte)
          else Array.emptyByteArray
          val bb = java.nio.ByteBuffer.allocate(6 + 2 + sps.length +
            1 + 2 + pps.length + ext.length)
          bb.put(1.toByte).put(pr.toByte).put(co.toByte).put(lv.toByte)
          bb.put(0xFF.toByte) // reserved | lengthSizeMinusOne = 3
          bb.put(0xE1.toByte) // reserved | numSPS = 1
          bb.putShort(sps.length.toShort).put(sps)
          bb.put(1.toByte)    // numPPS = 1
          bb.putShort(pps.length.toShort).put(pps)
          bb.put(ext)
          boxOf("avcC", bb.array())
        }
      }.getOrElse(Array.emptyByteArray)
      val ve = java.nio.ByteBuffer.allocate(78)
      ve.position(6); ve.putShort(1)            // data_reference_index
      ve.position(24)
      ve.putShort(cw.toShort).putShort(chh.toShort) // CODED dims
      ve.putInt(0x00480000).putInt(0x00480000)  // 72 dpi fixed point
      ve.putInt(0)
      ve.putShort(1)                            // frame_count
      ve.position(74)
      ve.putShort(0x18)                         // depth
      ve.putShort(-1)                           // pre_defined
      val entry = boxOf(fourcc, ve.array() ++ avcC)
      fullBox("stsd", b => { b.putInt(1); b.put(entry); () },
        4 + entry.length)
    }.getOrElse(Array.emptyByteArray)
    val stbl = boxOf("stbl", stsd ++ stts ++ stsz ++ stss ++ stsc ++ stco)
    val duration = deltas.sum
    val mvhd = {
      val b = java.nio.ByteBuffer.allocate(100)
      b.putInt(0).putInt(0).putInt(0)
      b.putInt(timescale.toInt).putInt(duration.toInt)
      b.position(100)
      boxOf("mvhd", b.array())
    }
    val tkhd = {
      val b = java.nio.ByteBuffer.allocate(84)
      b.putInt(7).putInt(0).putInt(0).putInt(1).putInt(0)
        .putInt(duration.toInt)
      b.position(76)
      b.putInt(wh._1 << 16).putInt(wh._2 << 16)
      boxOf("tkhd", b.array())
    }
    val hdlr = {
      val b = java.nio.ByteBuffer.allocate(24)
      b.putInt(0).putInt(0).put("vide".getBytes("US-ASCII"))
      b.position(24)
      boxOf("hdlr", b.array())
    }
    val trak = boxOf("trak", tkhd ++
      boxOf("mdia", hdlr ++ boxOf("minf", stbl)))
    boxOf("ftyp", "isomAAAAisom".getBytes("US-ASCII")) ++
      boxOf("moov", mvhd ++ trak)
  }

  /** END-TO-END oracle-checked lane — the FRAME-SAMPLING precursor:
    * six movies render in-plan with REAL sample tables (two stts
    * delta runs, per-sample sizes on a period-4 cycle, keyframes
    * every 8th sample, one chunk), then [[decodeMp4Frames]] walks
    * the boxes back into the frame index a keyframe-sampling
    * pipeline consumes. Everything is closed-form arithmetic of the
    * events grid, so the oracle replays the full index — a run
    * expansion, prefix-sum, sync or offset bug cannot hash-match. */
  def videoFrameIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val movies = seeds(spark, dir, 6).as[(Long, Long)].map { case (g, seed) =>
      val a = math.abs(seed)
      val nFrames = 24 + (g % 3).toInt * 12
      val half = nFrames / 2
      val d1 = 1000L + a % 500
      val d2 = d1 + 250
      val deltas = Seq.fill(half)(d1) ++ Seq.fill(nFrames - half)(d2)
      val sizes = (0 until nFrames).map(i =>
        800L + (i % 4) * 100 + (a % 7) * 10)
      (s"movie_$g.mp4",
        encodeMp4Indexed(1000L, deltas, sizes, syncEvery = 8,
          chunkOffset = 4096L, wh = (640, 360)))
    }.toDF("name", "content")
    movies.as[(String, Array[Byte])]
      .flatMap { case (name, bytes) =>
        decodeMp4Frames(bytes) match {
          case Left(_) => Iterator.empty
          case Right(fs) => fs.iterator.map(f =>
            (name, f.sample.toLong, f.dts, f.size, f.sync, f.offset))
        }
      }
      .toDF("name", "sample", "dts", "size", "sync", "offset")
      .orderBy(col("name"), col("sample"))
  }

  /** KEYFRAME SAMPLING over the frame index — the op the index
    * exists for: a training pipeline samples one frame every T of
    * movie time and must SEEK to the last keyframe at-or-before each
    * tick (decoders can only start at sync samples). Per (movie,
    * 5-second tick): the chosen keyframe's sample number, dts, and
    * the decode lag the seek implies. Keyframes are a sparse sliver
    * (every 8th sample here; 1-2% in real streams), so the tick×key
    * join is bounded and the argmax rides one grouped max_by — no
    * window over the full index. */
  def videoKeyframeSample(spark: SparkSession, dir: String): DataFrame = {
    val idx = videoFrameIndex(spark, dir).localCheckpoint()
    val keys = idx.filter(col("sync"))
      .select(col("name"), col("sample"), col("dts"))
    val ticks = idx.groupBy(col("name"))
      .agg(max(col("dts")).as("horizon"))
      .select(col("name"),
        explode(sequence(lit(0L), col("horizon"), lit(5000L))).as("tick"))
    ticks.join(keys, Seq("name"))
      .filter(col("dts") <= col("tick"))
      .groupBy(col("name"), col("tick"))
      .agg(max_by(struct(col("dts"), col("sample")), col("dts")).as("k"))
      .select(col("name"), col("tick"),
        col("k.sample").as("keyframe_sample"),
        col("k.dts").as("keyframe_dts"),
        (col("tick") - col("k.dts")).as("lag"))
      .orderBy(col("name"), col("tick"))
  }

  /** END-TO-END oracle-checked lane — the CODEC-IDENTITY census over
    * the sample description: six movies render with real `stsd`
    * entries (VisualSampleEntry coded dims macroblock-aligned up
    * from the display dims; even movies carry `avc1` + `avcC` with
    * data-derived profile/compatibility/level, odd movies `hvc1`
    * with no AVC config — the unknown-codec path), then the walk
    * reads back fourcc/coded-dims/profile/level and flags coded≠
    * display — the video analogue of `multimodal_container_meta`'s
    * mislabel census (a pipeline routing bitstreams to decoders
    * needs the CODED geometry and codec identity, not the display
    * hint). Everything is closed-form, so the oracle replays it. */
  def videoCodecMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val movies = seeds(spark, dir, 6).as[(Long, Long)].map { case (g, seed) =>
      val a = math.abs(seed)
      val w = 320 + (g % 3).toInt * 320
      val h = if (g % 3 == 0) 192 else 180 + (g % 3).toInt * 180
      val chh = (h + 15) / 16 * 16 // H.264 codes 16-px macroblock rows
      val codec = if (g % 2 == 0)
        ("avc1", (w, chh),
          Some((Seq(66, 77, 100)((g.toInt / 2) % 3), 192,
            30 + (a % 21).toInt)))
      else if (g == 3) ("av01", (w, chh), None) // unknown-codec path
      else // hvcC profile/TIER/level header (both tiers exercised)
        ("hvc1", (w, chh), Some((1, (g.toInt / 2) % 2,
          30 + (a % 21).toInt)))
      (s"movie_$g.mp4",
        encodeMp4Indexed(1000L, Seq.fill(24)(1000L), Seq.fill(24)(800L),
          syncEvery = 8, chunkOffset = 4096L, wh = (w, h),
          codec = Some(codec)))
    }.toDF("name", "content")
    movies.as[(String, Array[Byte])].flatMap { case (name, bytes) =>
      decodeMp4Codec(bytes) match {
        case Left(_) => Iterator.empty
        case Right((dw, dh, entries)) => entries.iterator.map(e =>
          (name, e.format, dw, dh, e.codedW.toLong, e.codedH.toLong,
            e.profile.map(_.toLong), e.compat.map(_.toLong),
            e.level.map(_.toLong),
            e.codedW != dw.toInt || e.codedH != dh.toInt,
            // r14: the bitstream's own geometry — SPS coded-minus-
            // cropping dims (must equal the container's display
            // hint on a well-muxed file) and the PPS entropy coder.
            // 1/0/null longs, not nullable booleans (the compare
            // harness's null-boolean handling differs per engine)
            e.spsW.map(_.toLong), e.spsH.map(_.toLong),
            e.cabac.map(c => if (c) 1L else 0L),
            e.spsW.map(w2 => if (w2 == dw.toInt &&
              e.spsH.contains(dh.toInt)) 1L else 0L),
            e.tier.map(_.toLong),
            // r15: HEVC PPS parallelism identity (1/0/null longs)
            e.wpp.map(b => if (b) 1L else 0L),
            e.tiles.map(b => if (b) 1L else 0L)))
      }
    }.toDF("name", "format", "display_w", "display_h", "coded_w",
      "coded_h", "profile", "compat", "level", "dim_mismatch",
      "sps_w", "sps_h", "cabac", "sps_matches_display", "tier",
      "wpp", "tiles")
      .orderBy(col("name"), col("format"))
  }

  /** docs(name, content) → one row per track + movie columns, plus
    * the quarantine frame. */
  def decodeMp4Drop(docs: DataFrame): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val decoded = docs.select(col("name"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (name, bytes) =>
        decodeMp4(bytes) match {
          case Left(reason) =>
            Iterator((false, name, reason, "", 0L, 0L, 0L, "", 0.0, 0.0,
              None: Option[Long], None: Option[Long],
              None: Option[Long], None: Option[Long]))
          case Right(m) => m.tracks.iterator.map(t =>
            (true, name, null: String, m.majorBrand, m.timescale,
              m.duration, t.trackId, t.handler, t.width, t.height,
              t.aac.map(_.audioObjectType.toLong),
              t.aac.map(_.sampleRate.toLong),
              t.aac.map(_.channels.toLong),
              t.aac.map(_.avgBitrate)))
        }
      }
      .toDF("ok", "name", "reason", "major_brand", "timescale",
        "duration", "track_id", "handler", "width", "height",
        "audio_aot", "audio_rate", "audio_channels", "audio_bps")
    (decoded.filter(col("ok")).drop("ok", "reason"),
      decoded.filter(!col("ok")).select(col("name"), col("reason")))
  }

  /** END-TO-END oracle-checked lane: six movie skeletons render from
    * the events grid (duration = the clip group's exact micro-unit
    * mean in ms at timescale 1000, dimensions a closed form of the
    * group, every third movie muxes an audio track, every second
    * uses a v1 64-bit mvhd — BOTH header versions decode in the
    * gate), then the box walk reduces to one manifest row per
    * movie. */
  def videoContainerMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val movies = seeds(spark, dir, 6).as[(Long, Long)].map { case (g, seed) =>
      val duration = math.abs(seed) % 600000L + 1000L // 1 s .. 10 min
      val a = math.abs(seed)
      val w = 320 + (g % 3).toInt * 320               // 320/640/960
      val h = 180 + (g % 3).toInt * 180
      // audio tracks (g % 3 == 0) carry a real mp4a + esds AAC
      // config: LC, 48000/44100 by parity, mono/stereo, seeded kbps
      val audio = if (g % 3 == 0)
        Some((2, if (g % 2 == 0) 48000 else 44100, 1 + (g % 2).toInt,
          (a % 256 + 64) * 1000L))
      else None
      (s"movie_$g.mp4", encodeMp4("isom", 1000L, duration, (w, h),
        withAudio = g % 3 == 0, mvhdV1 = g % 2 == 1, audioCfg = audio))
    }.toDF("name", "content")
    val (tracks, _) = decodeMp4Drop(movies)
    tracks.groupBy(col("name"), col("major_brand"), col("timescale"),
        col("duration"))
      .agg(count(lit(1)).as("n_tracks"),
        sum(when(col("handler") === "soun", 1L).otherwise(0L))
          .as("audio_tracks"),
        max(when(col("handler") === "vide", col("width")))
          .as("video_w"),
        max(when(col("handler") === "vide", col("height")))
          .as("video_h"),
        // the esds-decoded AAC identity of the sound track
        max(col("audio_aot")).as("audio_aot"),
        max(col("audio_rate")).as("audio_rate"),
        max(col("audio_channels")).as("audio_channels"),
        max(col("audio_bps")).as("audio_bps"))
      .orderBy(col("name"))
  }
}
