package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.TimeSeries.quantize
import graft.sources.Catalog

/** Streaming ingestion pipeline — the reference's scheduler-driven
  * incremental ingest loop (`scheduler.sh` / `scheduler.yaml` cron →
  * ~25 `ingestor_*` processes appending to collections) re-expressed
  * as Structured Streaming: a file source discovers new drops, an
  * event-time windowed aggregation with a watermark bounds state, and
  * `Trigger.AvailableNow` gives exactly the "run when scheduled,
  * drain what's new, stop" semantics of the cron loop — with
  * checkpointed exactly-once progress instead of ad-hoc state files.
  *
  * The same transform runs unchanged on a batch DataFrame (watermark
  * is a no-op there), which is how the spec cross-checks it.
  */
object EventsPipeline {

  /** Schema of the events drop directory (streaming sources must be
    * told their schema up front — no inference race on new files).
    * `ts` is parquet TIMESTAMP(µs, isAdjustedToUTC=false); declaring
    * it TimestampType is exact under the UTC session timezone (and
    * [[graft.GraftSession]] disables NTZ inference to match). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Accept the raw epoch-nanos long (legacy NANOS files read via
    * `nanosAsLong`), TIMESTAMP_NTZ, or a real timestamp. */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** Hourly rollup per collection with a 2-hour watermark: state is
    * bounded to ~2h of open windows per key; late events beyond the
    * watermark are dropped exactly as the reference's re-ingest
    * overwrite discards stale slices. */
  def hourlyRollup(events: DataFrame): DataFrame =
    normalizeTs(events)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Open the drop directory as a stream. `maxFilesPerTrigger` keeps
    * each micro-batch bounded regardless of how much landed between
    * scheduled runs. */
  def fromParquetDir(spark: SparkSession, dropDir: String): DataFrame =
    hourlyRollup(spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", 16)
      .parquet(dropDir))

  /** Welford running moments per key — the custom state carried
    * between micro-batches. */
  case class RunStats(n: Long, mean: Double, m2: Double)

  /** A flagged observation: value far outside the key's own history. */
  case class Anomaly(event_id: Long, user_id: Long, value: Double, z: Double)

  /** Minimal typed view of an event for the stateful operator. */
  case class Obs(event_id: Long, user_id: Long, value: Double)

  /** Stateful streaming anomaly detection: per-station running
    * mean/variance (Welford — numerically stable, O(1) state) via
    * `flatMapGroupsWithState`; an observation further than 3σ from
    * the station's OWN running history (after a 10-obs warm-up) is
    * emitted as an anomaly. This is the reference's QC step for
    * incoming station data, expressed as the custom-state streaming
    * primitive: state is O(keys), shuffles once on the natural key,
    * and survives across micro-batches via the checkpoint. */
  def anomalies(events: Dataset[Obs]): Dataset[Anomaly] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[RunStats, Anomaly](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[Obs], state: GroupState[RunStats]) =>
          var s = state.getOption.getOrElse(RunStats(0L, 0.0, 0.0))
          val out = scala.collection.mutable.ArrayBuffer.empty[Anomaly]
          rows.foreach { r =>
            val std = if (s.n >= 2) math.sqrt(s.m2 / (s.n - 1)) else 0.0
            if (s.n >= 10 && std > 0 && math.abs(r.value - s.mean) > 3 * std)
              out += Anomaly(r.event_id, uid, r.value,
                math.rint((r.value - s.mean) / std * 100) / 100)
            val n1 = s.n + 1
            val d = r.value - s.mean
            val m = s.mean + d / n1
            s = RunStats(n1, m, s.m2 + d * (r.value - m))
          }
          state.update(s)
          out.iterator
      }
  }

  /** Streaming gap-based sessionization — the streaming twin of the
    * batch `ts_sessionize` operator: events group into
    * `session_window(ts, 30 min)` sessions that stay open while
    * events keep arriving within the gap and close once the watermark
    * passes 30 minutes of silence. State is one open session per
    * active key, merged incrementally across micro-batches and
    * expired by the watermark — the bounded-state way to sessionize
    * an unbounded stream (a batch window over all history cannot).
    * Append mode emits each session exactly once, on close. */
  def sessionize(events: DataFrame): DataFrame =
    normalizeTs(events)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("session_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("session_value"))

  /** Streaming DANGER-LEVEL ALERTS — the alerting lane of the
    * reference's scheduled danger-levels process
    * (`ll_nl_danger_levels.py`: resample block max → categorize
    * against published thresholds): per-station block maxima close as
    * the watermark passes, classify through the SAME
    * [[graft.operators.Climate.dangerLevel]] thresholds as the batch
    * report (one definition — live alerts and batch reports can never
    * disagree), and only 'medium'+ windows emit. Hourly blocks here
    * (the test cadence; the window span is a deployment parameter —
    * the reference's weekly resample is the batch twin). Append mode
    * emits each (station, window) alert exactly ONCE, on close:
    * exactly the contract an alert sink wants — no retractions, no
    * duplicate pages. State is bounded to the watermark horizon of
    * open windows per active station. */
  def dangerAlerts(events: DataFrame): DataFrame =
    normalizeTs(events)
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), window(col("ts"), "1 hour").as("w"))
      .agg(round(max(col("value")), 2).as("max_value"))
      .withColumn("level", graft.operators.Climate.dangerLevel(col("max_value")))
      .filter(col("level") =!= "low")
      .select(col("user_id"), col("w.start").as("window_start"),
        col("max_value"), col("level"))

  /** Streaming exact dedup — the ingest-time half of the dedup
    * family: documents are keyed by their normalized-content
    * fingerprint and only the FIRST arrival within the watermark
    * horizon passes (`dropDuplicatesWithinWatermark`). State is one
    * entry per distinct fingerprint seen inside the horizon — bounded
    * by the watermark, unlike a plain `dropDuplicates` whose state
    * grows forever on an unbounded stream. Re-drops of the same
    * document (the reference re-ingests overlapping slices every
    * scheduled run) dedupe at the door instead of polluting the lake;
    * the batch-side `dedup_exact` then only handles cross-horizon
    * duplicates. */
  def streamingDedup(docs: DataFrame): DataFrame =
    normalizeTs(docs)
      .withColumn("fingerprint",
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("fingerprint")

  /** One exploded simhash-chunk observation for the streaming
    * near-dup lane. */
  case class ChunkObs(doc_id: Long, ts: java.sql.Timestamp,
      simhash: Long, chunk: Int, cv: Long)

  /** Recent fingerprints within one (chunk, value) bucket:
    * (doc_id, simhash, tsMillis) triples, pruned by the horizon. */
  case class BucketState(entries: List[(Long, Long, Long)])

  /** A streamed near-dup report: the arriving doc, the earlier doc it
    * collides with, and their Hamming distance. */
  case class NearDupAlert(doc_id: Long, dup_of: Long, hamming: Int)

  /** STREAMING NEAR-dup detection — the approximate twin of
    * [[streamingDedup]] (which only catches byte-identical content):
    * every arriving document fingerprints IN-ROW via
    * [[graft.operators.Dedup.simhashCol]] (no watermark-delayed
    * aggregation — the fingerprint exists the moment the row
    * arrives), explodes into the same 4×12-bit pigeonhole chunks as
    * the batch `dedup_simhash`, and each (chunk, value) bucket keeps
    * the RECENT fingerprints seen inside the horizon as
    * `flatMapGroupsWithState` state. A new arrival within Hamming ≤ 3
    * of a buffered fingerprint emits an alert exactly once — the
    * emitting bucket is deterministically the pair's SMALLEST
    * agreeing chunk, so the 4-way explode never double-reports.
    *
    * State is O(active buckets × horizon occupancy) and expired by
    * the event-time timeout once the watermark passes the horizon —
    * the same bounded-state contract as every lane here. At 100 TB
    * rates the bucket key (chunk, 12-bit value) is uniform by
    * construction; a degenerate boilerplate fingerprint concentrates
    * one bucket, which the per-bucket entry list caps (oldest-first
    * eviction) exactly like the batch BucketCap. */
  def nearDupAlerts(docs: DataFrame, horizonMinutes: Int = 120,
      bucketCap: Int = 50): Dataset[NearDupAlert] = {
    import docs.sparkSession.implicits._
    val horizonMs = horizonMinutes * 60L * 1000L
    // fingerprint via the codegen'd kernel (identical bits to the
    // batch path and to the HOF fold [[graft.operators.Dedup
    // .simhashCol]], which remains as the SQL-expressible twin) —
    // per-row compiled work, which is exactly what a streaming
    // micro-batch wants in its scan stage
    val fp = normalizeTs(docs)
      .withColumn("simhash",
        graft.expressions.TextColumns.simhashFp(split(col("text"), " ")))
      .withWatermark("ts", "1 hour")
    val chunks = fp.select(col("doc_id"), col("ts"), col("simhash"),
        explode(array((0 until 4).map(c =>
          struct(lit(c).as("chunk"),
            shiftright(col("simhash"), c * 12).bitwiseAND(0xFFFL).as("cv"))): _*))
          .as("ck"))
      .select(col("doc_id"), col("ts"), col("simhash"),
        col("ck.chunk").as("chunk"), col("ck.cv").as("cv"))
      .as[ChunkObs]
    def firstAgreeingChunk(a: Long, b: Long): Int =
      (0 until 4).find(c => ((a >> (c * 12)) & 0xFFFL) == ((b >> (c * 12)) & 0xFFFL))
        .getOrElse(-1)
    chunks.groupByKey(r => (r.chunk, r.cv))
      .flatMapGroupsWithState[BucketState, NearDupAlert](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: (Int, Long), rows: Iterator[ChunkObs],
            state: GroupState[BucketState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[NearDupAlert]
          if (!rows.hasNext) {
            // timeout: drop entries the watermark has passed by a full
            // horizon; an emptied bucket releases its state
            val keep = state.getOption.map(_.entries.filter(
              _._3 + horizonMs > state.getCurrentWatermarkMs())).getOrElse(Nil)
            if (keep.isEmpty) state.remove()
            else {
              state.update(BucketState(keep))
              state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + horizonMs)
            }
          } else {
            var entries = state.getOption.map(_.entries).getOrElse(Nil)
            var maxTs = 0L
            rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id)).foreach { r =>
              val tMs = r.ts.getTime
              maxTs = math.max(maxTs, tMs)
              entries = entries.filter(_._3 + horizonMs > tMs)
              entries.foreach { case (oldId, oldFp, _) =>
                val ham = java.lang.Long.bitCount(r.simhash ^ oldFp)
                if (ham <= 3 && firstAgreeingChunk(r.simhash, oldFp) == key._1)
                  out += NearDupAlert(r.doc_id, oldId, ham)
              }
              entries = (entries :+ ((r.doc_id, r.simhash, tMs))).takeRight(bucketCap)
            }
            state.update(BucketState(entries))
            state.setTimeoutTimestamp(math.max(
              state.getCurrentWatermarkMs() + 1, maxTs + horizonMs))
          }
          out.iterator
      }
  }

  /** STREAMING TILE ROLLUP — the live twin of the batch
    * `items_tiles` pyramid: arriving events bucket into the SAME
    * equirectangular (z, x, y) tiles (identical integer/floor tile
    * math — one definition, the live map layer and the batch tiles
    * can never disagree) within hourly event-time windows, closed by
    * the watermark. Per-tile-per-hour counts and exact cent sums are
    * associative, so state is one row per open (window, tile) — the
    * map-side-partial discipline carried into the micro-batch
    * world. Zoom 0–3 explode multiplies the stream 4×, constant
    * factor, before the keyed state. */
  def streamingTiles(events: DataFrame): DataFrame = {
    val z2 = (z: Column) => pow(lit(2.0), z)
    val e = normalizeTs(events)
      .withColumn("lat", (col("user_id") % 36) * 5.0 - 87.5)
      .withColumn("lon", (col("user_id") % 72) * 5.0 - 177.5)
      .withWatermark("ts", "2 hours")
      .select(col("ts"), col("lat"), col("lon"), col("value"),
        explode(array((0 to 3).map(lit): _*)).as("z"))
      .withColumn("x",
        least(floor((col("lon") + 180.0) / 360.0 * z2(col("z"))),
          z2(col("z")) - 1).cast("long"))
      .withColumn("y",
        least(floor((lit(90.0) - col("lat")) / 180.0 * z2(col("z"))),
          z2(col("z")) - 1).cast("long"))
    e.groupBy(window(col("ts"), "1 hour").as("w"),
        col("z").cast("long").as("z"), col("x"), col("y"))
      .agg(count(lit(1)).as("n"),
        sum(graft.operators.TimeSeries.cents(col("value"))).as("sum_cents"))
      .select(col("w.start").as("window_start"), col("z"), col("x"),
        col("y"), col("n"), col("sum_cents"))
  }

  /** One observation for the trending lane. */
  case class HhObs(wstart: java.sql.Timestamp, shard: Int, item: String,
      ts: java.sql.Timestamp)

  /** Per-(window, shard) SpaceSaving state: item → (est, err). */
  case class HhState(counts: Map[String, (Long, Long)])

  /** A closed window's shard report: the shard's tracked items with
    * their SpaceSaving bounds. */
  case class HhReport(window_start: java.sql.Timestamp, shard: Int,
      item: String, est: Long, err: Long)

  /** STREAMING TRENDING ITEMS — the live lane of the SpaceSaving
    * sketch ([[graft.expressions.SpaceSavingAgg]] is its batch twin):
    * per event-time window, track the heavy hitters of an
    * unbounded-cardinality item column with O(shards × cap) total
    * state, emitting each shard's tracked set when the watermark
    * closes the window. Items hash to a FIXED shard, so shard
    * sketches cover DISJOINT item sets — the cross-shard "merge" is
    * a plain union (no merge semantics to reason about), a global
    * top-k over the union is exact w.r.t. the per-shard bounds, and
    * each item's full stream hits one state group, preserving the
    * classical est ≥ true ≥ est−err guarantee per item. Sharding is
    * also what distributes the state: one group per (window, shard),
    * never a single hot global group.
    *
    * State expires by event-time timeout at window close + the
    * watermark delay — the bounded-state contract of every lane
    * here. The update step is byte-identical to the batch
    * aggregate's ([[graft.expressions.SpaceSavingAgg.ssUpdate]] —
    * one definition, so stream and batch sketches cannot drift). */
  def trendingHeavyHitters(events: DataFrame, itemCol: String = "user_id",
      windowMinutes: Int = 60, shards: Int = 16,
      cap: Int = 64): Dataset[HhReport] = {
    import events.sparkSession.implicits._
    val windowMs = windowMinutes * 60L * 1000L
    val obs = normalizeTs(events)
      .withWatermark("ts", "1 hour")
      .select(window(col("ts"), s"$windowMinutes minutes")
          .getField("start").as("wstart"),
        pmod(hash(col(itemCol)), lit(shards)).as("shard"),
        col(itemCol).cast("string").as("item"), col("ts"))
      .as[HhObs]
    obs.groupByKey(r => (r.wstart.getTime, r.shard))
      .flatMapGroupsWithState[HhState, HhReport](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: (Long, Int), rows: Iterator[HhObs],
            state: GroupState[HhState]) =>
          if (!rows.hasNext) {
            // watermark passed window close: emit the final sketch
            val entries = state.getOption.map(_.counts).getOrElse(Map.empty)
            state.remove()
            entries.toSeq.sortBy { case (k, (c, _)) => (-c, k) }
              .map { case (item, (c, e)) =>
                HhReport(new java.sql.Timestamp(key._1), key._2, item, c, e)
              }.iterator
          } else {
            val buf = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
            state.getOption.foreach(_.counts.foreach { case (k, v) => buf(k) = v })
            rows.foreach(r =>
              graft.expressions.SpaceSavingAgg.ssUpdate(buf, r.item, cap))
            state.update(HhState(buf.toMap))
            // fire once the watermark passes the window END
            state.setTimeoutTimestamp(key._1 + windowMs)
            Iterator.empty
          }
      }
  }

  /** The cross-shard CONSUMER of [[trendingHeavyHitters]]'s reports:
    * per window, the global top-k items by estimate. Because items
    * hash to a fixed shard, the shard sketches cover disjoint item
    * sets and this is a plain union + bounded top-k — no sketch-merge
    * semantics, and each surviving (est, err) pair still brackets its
    * item's true count. Deterministic (est desc, item asc) order.
    *
    * BATCH-SIDE consumer only: it ranks the MATERIALIZED reports
    * table (the sink [[trendingHeavyHitters]] emits), and the
    * row_number window is a non-time-based window Spark rejects on a
    * streaming DataFrame. Reports are per-(window, shard) finals, so
    * batch-ranking the landed table is the natural read path; a
    * streaming-native variant would need a time-windowed bounded
    * top-k instead. */
  def trendingTopK(reports: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    reports
      .withColumn("rk", row_number().over(Window
        .partitionBy(col("window_start"))
        .orderBy(col("est").desc, col("item").asc)))
      .filter(col("rk") <= k)
      .select(col("window_start"), col("rk").cast("long").as("rk"),
        col("item"), col("est"), col("err"))
  }

  /** Score a live stream against a FITTED climatology param table —
    * the prediction-serving half of the param-table workflow: normals
    * are fit in batch ([[graft.operators.TimeSeries.climatologyFit]],
    * persisted as parquet), and every arriving observation joins the
    * static table on its (station, calendar-slot) key for an anomaly
    * verdict. A stream-STATIC equi-join is completely STATELESS — no
    * watermark state at all; the static side plans like any batch
    * relation (broadcast while it fits, shuffle-join on the same key
    * beyond that) — so the scorer holds at any event rate. Contrast
    * [[anomalies]], which maintains per-key Welford state for the
    * no-pretrained-climatology case; this is the cheap path once a
    * climatology exists, and the same quantized arithmetic as the
    * batch `ts_climatology_anomaly` query, so stream and batch
    * verdicts agree bit-for-bit (spec-asserted). */
  def scoreAgainstClimatology(events: DataFrame, clim: DataFrame): DataFrame =
    normalizeTs(events)
      .withColumn("hod", hour(col("ts")))
      .join(clim, Seq("user_id", "hod"))
      .withColumn("anom",
        quantize(col("value") - col("mu"), 4))
      .withColumn("z",
        when(col("n_obs") >= 5 && col("sd") > 0,
          quantize((col("value") - col("mu")) / col("sd"), 4)))
      .select(col("event_id"), col("ts"), col("user_id"), col("hod"),
        col("value"), col("anom"), col("z"),
        coalesce(abs(col("z")) > 3.0, lit(false)).as("is_anomaly"))

  /** An observation already scored against the batch climatology —
    * the output shape of [[scoreAgainstClimatology]] distilled to
    * what the episode tracker needs. Null-safe: a station without a
    * climatology row scores no index and never opens an episode. */
  case class IndexedObs(user_id: Long, ts: java.sql.Timestamp,
      zscore: Option[Double])

  /** One CLOSED drought episode (the streaming twin of a batch
    * `drought_episodes` row). */
  case class Episode(user_id: Long, t_start: java.sql.Timestamp,
      t_end: java.sql.Timestamp, n_obs: Long, peak: Double, severity: Double)

  /** Open-episode accumulator (one per key with an active run). */
  case class EpisodeState(startMicros: Long, lastMicros: Long,
      nObs: Long, peak: Double, sevUnits: Long)

  /** STREAMING run-theory episode detection — the streaming twin of
    * the batch `drought_episodes` operator, fed by
    * [[scoreAgainstClimatology]] (climatology fits in batch, scoring
    * and event detection run on the live feed): per station,
    * consecutive index observations ≤ −1 fold into ONE open-episode
    * state — start, last, count, peak, integer-unit severity; O(keys)
    * total, same accumulation arithmetic as the batch operator. A wet
    * observation closes the episode and emits it exactly once
    * (Append mode). An episode whose feed goes quiet cannot stay open
    * forever: the event-time timeout fires once the watermark passes
    * `idleGapMinutes` beyond the last dry observation and
    * force-closes it — the same watermark-bounded-state contract as
    * `session_window`. Rows sort by event time within each (key,
    * micro-batch); cross-batch correctness assumes per-key in-order
    * delivery, which the watermark horizon bounds. */
  def droughtEpisodes(indexed: Dataset[IndexedObs],
      idleGapMinutes: Int = 120): Dataset[Episode] = {
    import indexed.sparkSession.implicits._
    val gapMs = idleGapMinutes * 60L * 1000L
    indexed
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EpisodeState, Episode](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[IndexedObs], state: GroupState[EpisodeState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[Episode]
          def close(s: EpisodeState): Unit =
            out += Episode(uid,
              new java.sql.Timestamp(s.startMicros / 1000),
              new java.sql.Timestamp(s.lastMicros / 1000),
              s.nObs, s.peak, -s.sevUnits / 1e4)
          if (!rows.hasNext) {
            // timeout: the watermark passed the idle gap — the open
            // episode is as long as it will ever get
            state.getOption.foreach(close)
            state.remove()
          } else {
            var s = state.getOption.orNull
            rows.toSeq.sortBy(_.ts.getTime).foreach { r =>
              val dry = r.zscore.exists(_ <= -1.0)
              if (dry) {
                val z = r.zscore.get
                val micros = r.ts.getTime * 1000
                val units = math.round(z * 1e4)
                s = if (s == null)
                  EpisodeState(micros, micros, 1L, z, units)
                else EpisodeState(s.startMicros, micros, s.nObs + 1,
                  math.min(s.peak, z), s.sevUnits + units)
              } else if (r.zscore.isDefined && s != null) { close(s); s = null }
              // an un-scored observation (no climatology) is neither
              // dry nor wet: it neither extends nor closes a run
            }
            if (s == null) state.remove()
            else {
              state.update(s)
              // the timeout must land beyond the current watermark
              state.setTimeoutTimestamp(math.max(
                state.getCurrentWatermarkMs() + 1, s.lastMicros / 1000 + gapMs))
            }
          }
          out.iterator
      }
  }

  /** One arriving observation (possibly a revision): `seq` is the
    * delivery sequence — the reference's file-row order made "last"
    * well-defined; a stream needs it explicit, exactly like the batch
    * [[graft.sources.Ingest.upsertKeepLast]]. */
  case class ObsRev(station: Long, ts: java.sql.Timestamp,
      seq: Long, value: Double)
  /** Per-(station, obs-time) revision state: the winning delivery and
    * how many arrivals competed. */
  case class RevState(seq: Long, value: Double, nArrivals: Int)
  /** A settled observation: the keep-last winner once the watermark
    * passed the settle horizon. */
  case class SettledObs(station: Long, ts: java.sql.Timestamp,
      value: Double, n_revisions: Int, last_seq: Long)

  /** STREAMING keep-last upsert — the live half of
    * [[graft.sources.Ingest.upsertKeepLast]] (`georgia_ftp_alazani_
    * shaqriani_hydro_process.py:201-225`: the scheduled drop
    * re-delivers already-published timestamps with corrected
    * readings; keep-last wins). `dropDuplicatesWithinWatermark`
    * cannot express this — it keeps the FIRST arrival; a revision
    * stream needs the LAST by delivery sequence, which takes explicit
    * state: each (station, obs-time) key buffers only the current
    * winner (highest `seq`; late lower-seq deliveries are counted but
    * never override), and the settled value emits EXACTLY ONCE when
    * the event-time timeout fires — the watermark passing
    * `obs_ts + settle` is the moment no further revision can be
    * admitted, so downstream sees one immutable row per observation.
    *
    * State is one tiny record per in-flight observation inside the
    * settle horizon — O(rate × settle), the same watermark-bounded
    * contract as every lane here, and the per-key record never grows
    * with revision count. */
  def settledObs(obs: Dataset[ObsRev],
      settleMinutes: Int = 60): Dataset[SettledObs] = {
    import obs.sparkSession.implicits._
    val settleMs = settleMinutes * 60L * 1000L
    obs
      .withWatermark("ts", "1 hour")
      .groupByKey(o => (o.station, o.ts.getTime))
      .flatMapGroupsWithState[RevState, SettledObs](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: (Long, Long), rows: Iterator[ObsRev],
            state: GroupState[RevState]) =>
          if (!rows.hasNext) {
            // timeout: the watermark passed the settle horizon — the
            // current winner is final
            val out = state.getOption.map(s =>
              SettledObs(key._1, new java.sql.Timestamp(key._2),
                s.value, s.nArrivals - 1, s.seq)).iterator
            state.remove()
            out
          } else {
            var s = state.getOption.orNull
            rows.foreach { r =>
              s = if (s == null) RevState(r.seq, r.value, 1)
              else if (r.seq > s.seq) RevState(r.seq, r.value, s.nArrivals + 1)
              else RevState(s.seq, s.value, s.nArrivals + 1)
            }
            state.update(s)
            state.setTimeoutTimestamp(math.max(
              state.getCurrentWatermarkMs() + 1, key._2 + settleMs))
            Iterator.empty
          }
      }
  }

  /** Watermarked stream-STREAM interval join — two LIVE feeds
    * reconciled in flight: each `click` pairs with the same user's
    * `purchase`s from the preceding hour (the reference reconciles a
    * freshly fetched forecast feed against the concurrently arriving
    * observation feed over a bounded time overlap the same way,
    * `ingestor_knmi_evapo_fc.py:203-211` `homogenize_ds`). Contrast
    * [[scoreAgainstClimatology]]: that side is static and stateless;
    * here BOTH sides are unbounded, so correctness needs buffered
    * state, and the two watermarks plus the time-range predicate are
    * what let Spark bound it — a purchase is provably un-joinable
    * once the click watermark passes `purchase_ts + 1h` and its state
    * is dropped. Without the range condition the state would grow
    * forever; with it, per-key state is O(rate × horizon) regardless
    * of stream age. */
  def enrichWithRecentPurchases(clicks: DataFrame,
      purchases: DataFrame): DataFrame = {
    val c = normalizeTs(clicks)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"), col("value").as("click_value"))
      .withWatermark("click_ts", "1 hour")
    val p = normalizeTs(purchases)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "2 hours")
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") <= col("click_ts") &&
        col("purchase_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"),
        round(col("click_value"), 2).as("click_value"),
        round(col("purchase_value"), 2).as("purchase_value"))
  }

  /** The PUBLISH side of the scheduled loop as a stream — the
    * reference's cron tick end to end: drain whatever drops landed
    * since the last run (`Trigger.AvailableNow` over the checkpointed
    * file source) and land each micro-batch through
    * [[Catalog.publishIncremental]], so only the DAY partitions
    * present in the batch are replaced and every other day's files
    * stay untouched.
    *
    * Contract (the reference's own re-download semantics): a drop
    * carries the COMPLETE revised slice of every day it touches.
    * Under that contract dynamic partition overwrite makes the sink
    * IDEMPOTENT — re-processing a batch rewrites the same partitions
    * with the same rows — which is what upgrades the file source's
    * at-least-once replay (crash between write and checkpoint commit)
    * to exactly-once results without any transaction log. */
  def streamPublish(spark: SparkSession, dropDir: String, ckptDir: String,
      outDir: String, collectionId: String): StreamingQuery =
    spark.readStream
      .schema(eventSchema)
      .parquet(dropDir)
      .transform(normalizeTs)
      .writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        if (!batch.isEmpty)
          Catalog.publishIncremental(batch.toDF(), "ts", collectionId, outDir)
        ()
      }
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** One scheduled incremental run: drain everything currently in
    * `dropDir` into `outDir`, checkpointed at `ckptDir`, then stop. */
  def runOnce(spark: SparkSession, dropDir: String, ckptDir: String,
      outDir: String): StreamingQuery =
    fromParquetDir(spark, dropDir).writeStream
      .format("parquet")
      .option("checkpointLocation", ckptDir)
      .option("path", outDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
}
