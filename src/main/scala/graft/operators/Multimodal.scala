package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TimeSeries.quantize

/** Typed metadata travelling with an opaque media payload. */
case class MediaMeta(format: String, width: Int, height: Int)

/** One media asset: opaque bytes + typed metadata (SURVEY §2 op 34). */
case class MediaRecord(doc_id: Long, payload: Array[Byte], meta: MediaMeta)

/** Extracted per-asset features. */
case class MediaFeatures(
    doc_id: Long, format: String, n_bytes: Int,
    mean_byte: Double, byte_entropy: Double, features: Array[Double])

/** Multimodal feature extraction: `binary` payload column + typed
  * metadata struct → batched decode/feature stage (SURVEY §2 op 34).
  *
  * The Spark-side plumbing is real and scale-shaped: a typed
  * `Dataset[MediaRecord]`, partition-local batching (`grouped(32)` —
  * the seam where a vectorized decoder would process one batch per
  * call), and a typed `Dataset[MediaFeatures]` out; nothing leaves
  * the executor. The DECODE ITSELF IS A DETERMINISTIC STUB (byte
  * histogram statistics standing in for pixel/sample decode — the
  * image/audio codec libraries are intentionally absent here), so
  * results are reproducible, the plumbing is testable, and — being
  * deterministic in the payload BYTES — the whole operator
  * oracle-checks: the DuckDB side re-extracts the bytes from the
  * blob as hex pairs and replays the same quantized statistics
  * (half-even rounding via round_even).
  */
object Multimodal {

  val BatchSize = 32

  /** Derive the media table from `documents`: payload = UTF-8 bytes
    * (opaque to everything downstream), metadata derived
    * deterministically from the key. */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      struct(
        element_at(array(lit("png"), lit("jpeg"), lit("wav")),
          (col("doc_id") % 3 + 1).cast("int")).as("format"),
        ((col("doc_id") % 8) * 64 + 64).cast("int").as("width"),
        ((col("doc_id") % 5) * 64 + 64).cast("int").as("height")).as("meta"))

  /** STUBBED decode: byte-histogram statistics + an 8-bin positional
    * profile stand in for real pixel/sample features. Deterministic
    * in the payload bytes alone. */
  private[graft] def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures] =
    batch.map { r =>
      val bytes = r.payload
      val n = bytes.length
      if (n == 0) {
        // empty payload: all-zero features, NOT NaN (x/0 below would
        // silently poison downstream aggregates)
        MediaFeatures(r.doc_id, r.meta.format, 0, 0.0, 0.0, new Array[Double](8))
      } else {
      val hist = new Array[Long](256)
      var sum = 0L
      var i = 0
      while (i < n) { val b = bytes(i) & 0xff; hist(b) += 1; sum += b; i += 1 }
      val entropy = hist.foldLeft(0.0) { (acc, c) =>
        if (c == 0) acc else { val p = c.toDouble / n; acc - p * math.log(p) / math.log(2) }
      }
      val bins = new Array[Double](8)
      i = 0
      while (i < n) { bins(i % 8) += (bytes(i) & 0xff) / 255.0; i += 1 }
      MediaFeatures(r.doc_id, r.meta.format, n,
        math.rint(sum.toDouble / n * 10000) / 10000,
        math.rint(entropy * 10000) / 10000,
        bins.map(v => math.rint(v / n * 8 * 10000) / 10000))
      }
    }

  /** Frame sampling — the video half of the multimodal lane: treat
    * the opaque payload as a frame stream of fixed `frameBytes`-sized
    * frames and keep every `stride`-th one (the "sample 1 frame per
    * second" step of video curation). Emits one row per sampled
    * frame with its byte length and content fingerprint.
    *
    * Entirely UDF-free: the frame count is elementwise arithmetic on
    * `length(payload)`, the sampled indices come from
    * `explode(sequence(...))`, and each frame is a `substring` slice
    * of the binary column hashed in the same codegen stage — so the
    * whole fan-out lives in the scan stage with no shuffle at all.
    * The compact corpus is [[Tables.spread]] first so the explode
    * spreads across the cluster. A real decoder replaces the
    * fixed-size slicing with codec framing at the same seam. */
  def frameSample(spark: SparkSession, dir: String,
      frameBytes: Int = 64, stride: Int = 4): DataFrame =
    Tables.spread(mediaTable(spark, dir), col("doc_id"))
      .withColumn("n_frames",
        ceil(length(col("payload")) / lit(frameBytes.toDouble)).cast("int"))
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))))
      .withColumn("frame",
        expr(s"substring(payload, frame_idx * $frameBytes + 1, $frameBytes)"))
      .select(col("doc_id"), col("frame_idx"),
        length(col("frame")).cast("int").as("frame_bytes"),
        md5(col("frame")).as("frame_fp"))

  /** The operator: typed scan → per-partition batched decode →
    * typed features. One narrow stage, no shuffle; batch boundaries
    * never cross partitions. */
  def features(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .as[MediaRecord]
      .mapPartitions(_.grouped(BatchSize).flatMap(decodeBatch))
      .toDF()
      .select(col("doc_id"), col("format"), col("n_bytes"),
        col("mean_byte"), col("byte_entropy"),
        col("features")(0).as("f0"), col("features")(7).as("f7"))
  }

  /** Fixed-length RESAMPLE of the payload byte stream — the
    * audio-resample / thumbnail-downsample plumbing of the multimodal
    * lane: every payload re-samples to exactly [[ResampleN]] evenly
    * spaced byte positions p(i) = ⌊i·n/N⌋ (downsample when n > N,
    * repeat-upsample when shorter — the nearest-neighbor rule), and
    * the row carries the resampled fingerprint (md5 over the sampled
    * hex pairs) plus the mean sampled amplitude. A real codec swaps
    * byte-at-position for sample-at-timestamp at the same seam; the
    * POSITION arithmetic, fixed output shape and scan-stage execution
    * are the real contract.
    *
    * Entirely UDF-free: the 64 sampled bytes are 64 generated
    * `substring` slices of the binary column, hex-paired and folded
    * in the SAME codegen stage — no explode, no shuffle, no
    * per-element lambda (the interpreted-HOF trap); a 100 TB media
    * table resamples at scan speed. */
  def payloadResample(spark: SparkSession, dir: String): DataFrame = {
    val m = mediaTable(spark, dir)
      .withColumn("n", length(col("payload")).cast("long"))
      .filter(col("n") > 0)
    def slice(i: Int) =
      expr(s"substring(payload, CAST(($i * n) div $ResampleN AS INT) + 1, 1)")
    val hexTerms = (0 until ResampleN).map(i => hex(slice(i)))
    val vals = (0 until ResampleN).map(i =>
      conv(hex(slice(i)), 16, 10).cast("long"))
    m.select(col("doc_id"), col("meta.format").as("format"),
      col("n").as("n_bytes"),
      md5(concat(hexTerms: _*)).as("resample_fp"),
      quantize(vals.reduce(_ + _).cast("double") / ResampleN, 4).as("mean_sample"))
  }

  /** Output length of [[payloadResample]] — a pipeline constant (the
    * fixed feature-frame size downstream models consume). */
  val ResampleN = 64

  /** Per-declared-format PAYLOAD PROFILE — the decoder-ROUTING audit
    * an ingest runs before any decode is attempted: asset counts,
    * byte-size envelope, and how many distinct leading magic
    * prefixes each declared format actually carries (a healthy
    * format routes to one decoder; a format column whose payloads
    * show many magics is mislabeled upstream). Everything is
    * UDF-free binary-column analysis in the scan stage —
    * `length(payload)` and a 2-byte `hex(substring(...))` sniff —
    * followed by ONE map-side-partial aggregation to O(formats)
    * rows; the payload is never decoded and never leaves the scan.
    * Byte counts are exact longs; the mean divides two exact longs
    * once. */
  def mediaStats(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .select(col("meta.format").as("format"),
        length(col("payload")).cast("long").as("n_bytes"),
        hex(substring(col("payload"), 1, 2)).as("magic"))
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_assets"),
        sum(col("n_bytes")).as("total_bytes"),
        min(col("n_bytes")).as("min_bytes"),
        max(col("n_bytes")).as("max_bytes"),
        countDistinct(col("magic")).as("n_magics"))
      .withColumn("mean_bytes",
        floor(col("total_bytes").cast("double") / col("n_assets") + 0.5)
          .cast("long"))

  /** PAYLOAD REGISTRY across modalities — exact content identity
    * extended to the opaque-binary column class: every asset groups
    * by the md5 of its raw bytes (never decoded) into one registry
    * row with its spread, its keeper (min doc_id — the `dedup_exact`
    * survivor convention), and its FORMAT census. Dedup reads
    * `n_assets > 1`; the census reads `n_formats > 1` — the same
    * bytes declared under two formats is the mislabeled-upstream
    * signal ([[mediaStats]] sees it as magic spread per format; this
    * sees it per payload). Emitting ALL groups, not just collisions,
    * is deliberate: this is the registry an ingest lane upserts into
    * (the `streamingDedup` fingerprint is its streaming twin), so a
    * clean corpus produces the full registry, not an empty report.
    *
    * Shape at scale: hashing is elementwise in the scan stage; the
    * single shuffle groups by a uniform 128-bit key (no skew by
    * construction); the format census is a bounded `collect_set`
    * (formats are an enum, O(1) per group), sorted for a
    * deterministic rendering. Byte totals are exact longs. */
  // --- REAL container-header codec ----------------------------------

  /** Hex builders for the container constructors: big-endian fixed
    * width, and little-endian as the byte-reversed BE rendering —
    * all pure string ops so both engines build identical bytes. */
  private def be(c: org.apache.spark.sql.Column, bytes: Int) =
    lpad(hex(c), bytes * 2, "0")
  private def le(c: org.apache.spark.sql.Column, bytes: Int) = {
    val b = be(c, bytes)
    concat((0 until bytes).reverse.map(i => substring(b, i * 2 + 1, 2)): _*)
  }

  /** Media table whose payloads carry GENUINE container headers —
    * byte-exact PNG signature+IHDR, JPEG SOI+APP0(JFIF)+SOF0, and
    * RIFF/WAVE fmt+data chunks per the public specs — followed by the
    * document bytes as body. Field values derive deterministically
    * from the key (PNG/JPEG dims from the [[mediaTable]] meta
    * formulas; WAV rate/channels/bits below). Every 17th asset is
    * MISLABELED on purpose (declared format ≠ constructed container)
    * so the decode-side mismatch census has real positives. The one
    * concession to the missing codec libs: PNG chunk CRCs are
    * placeholder zeros (the parser reads structure, it does not
    * checksum). */
  def containerTable(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"),
      col("text").cast("binary").as("body"))
      .withColumn("w", ((col("doc_id") % 8) * 64 + 64).cast("long"))
      .withColumn("h", ((col("doc_id") % 5) * 64 + 64).cast("long"))
      .withColumn("ch", (col("doc_id") % 2 + 1).cast("long"))
      .withColumn("rate", ((col("doc_id") % 5 + 1) * 8000).cast("long"))
      .withColumn("bits", ((col("doc_id") % 2 + 1) * 8).cast("long"))
      .withColumn("blen", length(col("body")).cast("long"))
      .withColumn("declared",
        element_at(array(lit("png"), lit("jpeg"), lit("wav")),
          (col("doc_id") % 3 + 1).cast("int")))
      // mislabel every 17th asset: actual container rotates one step
      .withColumn("actual",
        element_at(array(lit("png"), lit("jpeg"), lit("wav")),
          (when(col("doc_id") % 17 === 0, col("doc_id") + 1)
            .otherwise(col("doc_id")) % 3 + 1).cast("int")))
    val bodyHex = hex(col("body"))
    val pngHex = concat(
      lit("89504E470D0A1A0A"), // signature
      lit("0000000D"), lit("49484452"), // IHDR length + type
      be(col("w"), 4), be(col("h"), 4),
      lit("08"), lit("06"), lit("000000"), // depth, RGBA, comp/filt/interlace
      lit("00000000"), // CRC placeholder (not validated)
      bodyHex)
    val jpegHex = concat(
      lit("FFD8"), // SOI
      lit("FFE0"), lit("0010"), lit("4A46494600"), // APP0 len 16, "JFIF\0"
      lit("0101"), lit("00"), lit("00010001"), lit("0000"), // v1.1, no thumb
      lit("FFC0"), lit("0011"), lit("08"), // SOF0 len 17, precision 8
      be(col("h"), 2), be(col("w"), 2),
      lit("03"), lit("011100"), lit("021101"), lit("031101"), // 3 components
      bodyHex)
    val wavHex = concat(
      lit("52494646"), le(col("blen") + 36, 4), lit("57415645"), // RIFF/WAVE
      lit("666D7420"), lit("10000000"), lit("0100"), // "fmt " 16, PCM
      le(col("ch"), 2), le(col("rate"), 4),
      le((col("rate") * col("ch") * col("bits") / 8).cast("long"), 4),
      le((col("ch") * col("bits") / 8).cast("long"), 2), le(col("bits"), 2),
      lit("64617461"), le(col("blen"), 4), // "data" + size
      bodyHex)
    d.select(col("doc_id"), col("declared"),
      unhex(when(col("actual") === "png", pngHex)
        .when(col("actual") === "jpeg", jpegHex)
        .otherwise(wavHex)).as("payload"))
  }

  /** REAL header decode over a binary payload column: container
    * detection by MAGIC (PNG signature / SOI / RIFF····WAVE), then
    * per-format structural parse — PNG IHDR width/height/bit-depth/
    * color-type (big-endian), JPEG frame dims via a bounded
    * SEGMENT-LENGTH marker walk to SOF0/1/2 (APPn/COM payloads are
    * skipped by their declared size, so EXIF/thumbnail bytes cannot
    * fake a frame header), WAV fmt-chunk channels/sample-rate/bits
    * (little-endian). Everything is elementwise hex/substring/conv
    * arithmetic in the scan stage — no UDF, no shuffle; this is the
    * real decode the stub lanes route around, limited to container
    * METADATA (entropy-coded image data still needs a codec lib).
    * Returns the parsed fields + `detected` + the declared-format
    * mismatch flag — the mislabeled-asset census an ingest runs
    * before routing payloads to decoders. */
  def headerDecode(media: DataFrame): DataFrame = {
    val m = media.withColumn("hx", hex(col("payload")))
    def beAt(pos1: Int, bytes: Int) = // pos1: 1-based BYTE offset
      conv(substring(col("hx"), pos1 * 2 - 1, bytes * 2), 16, 10).cast("long")
    def leAt(pos1: Int, bytes: Int) =
      (0 until bytes).map(i =>
        conv(substring(col("hx"), (pos1 + i) * 2 - 1, 2), 16, 10).cast("long")
          * lit(1L << (8 * i))).reduce(_ + _)
    val detected =
      when(substring(col("hx"), 1, 16) === "89504E470D0A1A0A", "png")
        .when(substring(col("hx"), 1, 4) === "FFD8", "jpeg")
        .when(substring(col("hx"), 1, 8) === "52494646" &&
          substring(col("hx"), 17, 8) === "57415645", "wav")
    // SOF location by SEGMENT-LENGTH marker walk (bounded, ≤16
    // segments), not a raw byte scan: APPn/COM payloads (EXIF,
    // thumbnails) can legally contain FF C0 byte pairs, so scanning
    // for the pattern mislocates SOF on real-world headers. State:
    // ≥0 → offset (0-based) of the next marker; −(pos+1) → SOF found
    // at pos; ≥BAD → walk ended (SOS/EOI/truncated) without a frame
    // header. Pure Column algebra — stays UDF-free in the scan stage.
    val BadWalk = 1000000
    val sofWalk = aggregate(
      sequence(lit(1), lit(16)),
      lit(2),
      (acc, _) => {
        val mk1 = col("hx").substr(acc * 2 + 1, lit(2))
        val mk2 = col("hx").substr(acc * 2 + 3, lit(2))
        val segLen =
          conv(col("hx").substr(acc * 2 + 5, lit(4)), 16, 10).cast("int")
        when(acc < 0 || acc >= BadWalk, acc)
          .when(acc * 2 + 4 > length(col("hx")) || mk1 =!= "FF",
            lit(BadWalk))
          // 0xFF fill bytes may pad before a marker (T.81 B.1.1.2):
          // advance one byte instead of parsing a garbage length
          .when(mk2 === "FF", acc + 1)
          .when(mk2.isin("C0", "C1", "C2"), -acc - 1)
          // standalone markers carry no length field
          .when(mk2.isin("01") || mk2.between("D0", "D8"), acc + 2)
          // scan data / EOI: a frame header cannot follow
          .when(mk2.isin("DA", "D9"), lit(BadWalk))
          // segment length INCLUDES its own 2 bytes, not the marker
          .otherwise(acc + 2 + segLen)
      })
    val sofPos = when(sofWalk < 0, -sofWalk - 1)
    m.withColumn("detected", detected)
      .withColumn("sof", when(col("detected") === "jpeg", sofPos))
      .select(col("doc_id"), col("declared"), col("detected"),
        coalesce(col("detected") =!= col("declared"), lit(true))
          .as("mislabeled"),
        when(col("detected") === "png", beAt(17, 4))
          .when(col("detected") === "jpeg",
            conv(col("hx").substr(col("sof") * 2 + lit(15), lit(4)), 16, 10)
              .cast("long")).as("width"),
        when(col("detected") === "png", beAt(21, 4))
          .when(col("detected") === "jpeg",
            conv(col("hx").substr(col("sof") * 2 + lit(11), lit(4)), 16, 10)
              .cast("long")).as("height"),
        when(col("detected") === "png", beAt(25, 1)).as("bit_depth"),
        when(col("detected") === "png", beAt(26, 1)).as("color_type"),
        when(col("detected") === "wav", leAt(23, 2)).as("channels"),
        when(col("detected") === "wav", leAt(25, 4)).as("sample_rate"),
        when(col("detected") === "wav", leAt(35, 2)).as("bits_per_sample"),
        when(col("detected") === "wav", leAt(41, 4)).as("n_body_bytes"))
  }

  /** The oracle-checked query: construct → decode. The gate proves
    * the parser inverts the constructors byte-for-byte on genuine
    * container layouts; the spec additionally parses verbatim
    * public-spec fixture bytes (a real 1×1 PNG header, a canonical
    * 44-byte WAV header, a JFIF SOI+APP0+SOF0 prefix). */
  def containerMeta(spark: SparkSession, dir: String): DataFrame =
    headerDecode(containerTable(spark, dir))

  def payloadDedup(spark: SparkSession, dir: String): DataFrame =
    payloadDedupOf(mediaTable(spark, dir))

  /** [[payloadDedup]] over an arbitrary (doc_id, payload, meta)
    * frame — seam for spec-testing planted collisions and the
    * cross-format mislabel census. */
  private[graft] def payloadDedupOf(media: DataFrame): DataFrame =
    media
      .select(col("doc_id"), md5(col("payload")).as("payload_hash"),
        length(col("payload")).cast("long").as("n_bytes"),
        col("meta.format").as("format"))
      .groupBy(col("payload_hash"))
      .agg(count(lit(1)).as("n_assets"),
        countDistinct(col("format")).as("n_formats"),
        array_join(array_sort(collect_set(col("format"))), ",").as("formats"),
        min(col("doc_id")).as("keeper_doc"),
        sum(col("n_bytes")).as("total_bytes"))

}
