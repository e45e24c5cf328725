package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declarative schedule registry — the reference's `scheduler.yaml` +
  * `scheduler.sh` (per-pipeline cron `frequency` driving
  * `invoke_<key>_ingestor.py`, reference scheduler.sh:17-48)
  * re-expressed as DATA instead of crontab side effects: a schedule
  * TABLE (pipeline, cadence, backfill start), a watermark TABLE (last
  * published tick end per pipeline), and a pure DataFrame computation
  * of which (pipeline, tick_start, tick_end) slices are DUE at a given
  * instant. The runner then drives [[Catalog.publishIncremental]] once
  * per due tick, so a tick is a dynamic-partition overwrite of exactly
  * its own days — replaying a tick is idempotent by construction, the
  * property cron + script invocation only gets if every script
  * hand-rolls it.
  *
  * Catch-up semantics differ from cron deliberately: cron coalesces
  * missed ticks into at most one late run, which for an ingest
  * pipeline silently drops the missed slices' data. A lake wants
  * BACKFILL — every tick between the watermark and now runs exactly
  * once — so [[dueTicks]] expands the full missed range. A pipeline
  * with no watermark yet backfills from its declared start (the
  * reference's `onetime` bootstrap run, scheduler.sh:28-31).
  *
  * Scale: the schedule is O(pipelines) rows and due ticks are
  * O(pipelines × missed ticks) — orchestration-sized, never
  * data-sized — so collecting them on the driver to dispatch jobs is
  * correct even at 100 TB; the DATA each tick moves stays fully
  * distributed inside the runner's DataFrame.
  */
object Schedule {

  /** One registry row per pipeline. `cadence` ∈ hour|day|week.
    * `backfillStart` (ISO instant) is where a never-published pipeline
    * starts — the declarative form of the reference's onetime run. */
  final case class Entry(pipeline: String, cadence: String, backfillStart: String)

  /** The cadences [[dueTicks]] expands; it would read any other value
    * as weekly. */
  private val Cadences = Set("hour", "day", "week")

  /** Schedule entries as a DataFrame (pipeline, cadence, backfill_start).
    * An entry whose cadence is not hour, day or week is refused. */
  def registry(spark: SparkSession, entries: Seq[Entry]): DataFrame = {
    import spark.implicits._
    entries.foreach(e => require(Cadences(e.cadence),
      s"schedule entry ${e.pipeline}: unknown cadence '${e.cadence}'" +
        s" (expected one of ${Cadences.mkString(", ")})"))
    entries.toDF("pipeline", "cadence", "backfillStart")
      .select(col("pipeline"), col("cadence"),
        to_timestamp(col("backfillStart")).as("backfill_start"))
  }

  /** Every (pipeline, tick_start, tick_end) due at `now`: from the
    * cadence-aligned watermark (or backfill start) forward, each whole
    * tick that ENDS at or before `now`. A watermark landing mid-tick
    * re-runs that tick — overlapping re-ingest is the reference's
    * normal case (late data, revised forecasts) and the overwrite is
    * idempotent, so re-running beats a gap. Pure DataFrame logic:
    * align with date_trunc, expand with sequence() — no driver time
    * arithmetic, so the same plan works for 3 pipelines or 3000.
    *
    * `watermarks`: (pipeline, watermark timestamp); pipelines absent
    * from it backfill from their declared start. */
  def dueTicks(schedule: DataFrame, watermarks: DataFrame, nowIso: String): DataFrame = {
    val unit = when(col("cadence") === "hour", expr("INTERVAL 1 HOUR"))
      .when(col("cadence") === "day", expr("INTERVAL 1 DAY"))
      .otherwise(expr("INTERVAL 7 DAY"))
    // date_trunc both aligns ticks to calendar boundaries and floors a
    // mid-tick watermark back to its tick's start (the re-run-overlap
    // rule above); 'week' truncates to Monday on both engines.
    def aligned(ts: org.apache.spark.sql.Column) =
      when(col("cadence") === "hour", date_trunc("hour", ts))
        .when(col("cadence") === "day", date_trunc("day", ts))
        .otherwise(date_trunc("week", ts))
    val now = to_timestamp(lit(nowIso))
    schedule
      .join(watermarks, Seq("pipeline"), "left")
      .withColumn("from_ts", aligned(coalesce(col("watermark"), col("backfill_start"))))
      // last start whose tick fits entirely before now; sequence()
      // demands start <= stop, so guard the nothing-due case to an
      // empty array instead of an error
      .withColumn("stop_ts", aligned(now - unit))
      .withColumn("tick_start",
        explode(when(col("from_ts") <= col("stop_ts"),
          sequence(col("from_ts"), col("stop_ts"), unit))
          .otherwise(array().cast("array<timestamp>"))))
      .filter(col("tick_start") + unit <= now)
      .select(col("pipeline"), col("tick_start"),
        (col("tick_start") + unit).as("tick_end"))
  }

  /** [[dueTicks]] as a self-contained query over the test lake: a
    * three-pipeline registry (hourly clicks, daily purchases, weekly
    * sensor rollup) evaluated at a fixed instant after the data ends.
    * Watermarks for the first two derive from each feed's max event
    * time (a stats-only scan); the sensor pipeline has never run, so
    * it backfills from its declared start — exercising all three
    * cadences plus the null-watermark path in one oracle-checkable
    * result. Timestamps are emitted as formatted strings so the hash
    * gate compares calendar instants, not engine timestamp encodings. */
  def scheduleDue(spark: SparkSession, dir: String): DataFrame = {
    val entries = Seq(
      Entry("clicks_hourly", "hour", "2024-01-29 00:00:00"),
      Entry("purchases_daily", "day", "2024-01-25 00:00:00"),
      Entry("sensors_weekly", "week", "2024-01-01 00:00:00"))
    val wm = graft.Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("pipeline",
        when(col("event_type") === "click", "clicks_hourly")
          .otherwise("purchases_daily"))
      .groupBy("pipeline").agg(max(col("ts")).as("watermark"))
    dueTicks(registry(spark, entries), wm, "2024-02-01 00:00:00")
      .select(col("pipeline"),
        date_format(col("tick_start"), "yyyy-MM-dd HH:mm:ss").as("tick_start"),
        date_format(col("tick_end"), "yyyy-MM-dd HH:mm:ss").as("tick_end"))
      .orderBy(col("pipeline"), col("tick_start"))
  }

  /** Persisted per-pipeline watermarks (last successfully published
    * tick END), one tiny parquet under `<outDir>/_watermarks/<p>`.
    * Written AFTER the tick's data, so the failure mode of a crash in
    * between is re-running an already-published tick — which the
    * dynamic-overwrite publish makes a no-op. The watermark is
    * deliberately NOT derived from the published data's max event
    * time: a tick whose slice is sparse (or empty) would then look
    * forever unfinished and re-run on every invocation. Pipelines
    * never published yet get no row (→ backfill start applies). */
  def readWatermarks(spark: SparkSession, outDir: String,
      pipelines: Seq[String]): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val found = pipelines.flatMap { p =>
      val path = s"$outDir/_watermarks/$p"
      if (fs.exists(new org.apache.hadoop.fs.Path(path)))
        Some(spark.read.parquet(path))
      else None
    }
    if (found.isEmpty) {
      import spark.implicits._
      Seq.empty[(String, java.sql.Timestamp)].toDF("pipeline", "watermark")
    } else found.reduce(_ unionAll _)
  }

  private def writeWatermark(spark: SparkSession, outDir: String,
      pipeline: String, tickEnd: java.sql.Timestamp): Unit = {
    import spark.implicits._
    Seq((pipeline, tickEnd)).toDF("pipeline", "watermark")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/_watermarks/$pipeline")
  }

  /** THE REFERENCE'S WHOLE CRON LOOP, composed end-to-end: what
    * `scheduler.sh` + `invoke_<key>_ingestor.py` +
    * `ingestor_cds_process.py` (fetch GRIB/NetCDF → decode →
    * normalize → `to_zarr`/publish → `update_config`) run as separate
    * scripts becomes ONE spec-gated pipeline — [[dueTicks]] expands
    * the missed range, each due tick FETCHES its request frame over
    * the executor-side transport clients ([[Fetch.httpFetchDrop]]),
    * DECODES through the caller's drop decoder, slices to the tick
    * window, publishes as a dynamic-partition overwrite and advances
    * the watermark; afterwards the PUBLISHED LAKE itself is read back
    * into a registry ([[Catalog.publishedRegistry]]) and freshness
    * verdicts ([[Catalog.healthOf]]) — the `update_config` +
    * healthcheck half of the loop.
    *
    * Failure semantics, split by KIND: a TRANSPORT failure (fetch
    * quarantine after retries) fails the tick — the watermark does
    * not advance, so the next invocation re-runs exactly the
    * unfinished ticks (cron would silently coalesce them away); an
    * UNDECODABLE payload is a data fault that re-running cannot fix,
    * so it flows through the decoder's own quarantine discipline and
    * the tick completes with the rows that decoded. Crash-replay is
    * idempotent by construction: re-running a published tick is a
    * dynamic overwrite of exactly its own day partitions.
    *
    * `requestsFor(pipeline, t0, t1)` builds the tick's (name, url)
    * request frame; `decode(pipeline)` turns the fetched drop
    * (name, url, content) into rows carrying a `ts` timestamp
    * column. The per-tick fetch-quarantine collect is bounded by the
    * tick's request-frame size — orchestration-scale, like the due
    * list itself. */
  def scheduledIngest(spark: SparkSession, entries: Seq[Entry],
      nowIso: String, outDir: String,
      policy: Fetch.RetryPolicy = Fetch.RetryPolicy())(
      requestsFor: (String, java.sql.Timestamp, java.sql.Timestamp) => DataFrame,
      decode: String => DataFrame => DataFrame)
      : (Seq[(String, String, String, Long)], DataFrame, DataFrame) = {
    val runners = entries.map { e =>
      e.pipeline -> ((t0: java.sql.Timestamp, t1: java.sql.Timestamp) => {
        val (drop, fetchQ) =
          Fetch.httpFetchDrop(requestsFor(e.pipeline, t0, t1), policy)
        val failed = fetchQ.select(col("name"), col("reason")).collect()
        if (failed.nonEmpty)
          throw new java.io.IOException(s"tick_fetch_failed:${e.pipeline}:" +
            failed.map(r => s"${r.getString(0)}=${r.getString(1)}")
              .mkString(","))
        decode(e.pipeline)(drop)
          .filter(col("ts") >= lit(t0) && col("ts") < lit(t1))
      })
    }.toMap
    val reports = runDue(spark, entries, nowIso, outDir)(runners)
    val registry =
      Catalog.publishedRegistry(spark, outDir, entries.map(_.pipeline))
    (reports, registry, Catalog.healthOf(registry))
  }

  /** Run everything due: for each due tick (collected — orchestration-
    * sized, see scaladoc above) call the pipeline's slice runner and
    * publish its output incrementally, then advance the watermark.
    * Returns one report row per tick run: (pipeline, tick_start,
    * tick_end, n_rows). Re-invoking at the same `now` after success is
    * a no-op (watermarks moved past every tick); re-invoking after a
    * partial failure re-runs only the unfinished ticks. Ticks run in
    * time order per pipeline so a mid-sequence failure leaves the
    * watermark exactly at the failure point. */
  def runDue(spark: SparkSession, entries: Seq[Entry], nowIso: String, outDir: String)(
      runners: Map[String, (java.sql.Timestamp, java.sql.Timestamp) => DataFrame]): Seq[(String, String, String, Long)] = {
    val sched = registry(spark, entries)
    val wm = readWatermarks(spark, outDir, entries.map(_.pipeline))
    val due = dueTicks(sched, wm, nowIso)
      .orderBy(col("pipeline"), col("tick_start"))
      .collect()
    due.toSeq.map { row =>
      val (p, t0, t1) = (row.getString(0), row.getTimestamp(1), row.getTimestamp(2))
      // pin the slice so the emptiness probe and the publish read the
      // runner's plan once, not twice (a tick slice is bounded by
      // construction — one cadence interval of one pipeline)
      val slice = runners(p)(t0, t1).persist()
      try {
        // an EMPTY slice is a legitimate quiet tick: advance the
        // watermark (else it re-runs forever) but skip the write — a
        // zero-partition dynamic overwrite has nothing to replace and a
        // first-ever write of an empty frame leaves an unreadable dir
        val n = slice.count()
        if (n > 0) Catalog.publishIncremental(slice, "ts", p, outDir)
        writeWatermark(spark, outDir, p, t1)
        (p, t0.toString, t1.toString, n)
      } finally { slice.unpersist(); () }
    }
  }
}
