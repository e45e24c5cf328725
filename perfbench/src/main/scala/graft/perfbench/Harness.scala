package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry, Tables}
import graft.streaming.EventsPipeline

/** The benchmark client. One process, one `local[cores]` session, one
  * closed-loop caller: it runs the ops of a named workload pass after
  * pass (op order permuted by the seed) for a fixed time, after an
  * untimed pass that warms the JVM and keeps each op's output for the
  * correctness check. Every op goes through the engine's public entry
  * points: batch ops are `SparkEntry.queries(name)(spark, dir)` drained
  * by a `noop` write (the noop sink consumes every column; `count()`
  * would let Catalyst prune the work away), streaming ops are one
  * `EventsPipeline.streamPublish` plus one `EventsPipeline.runOnce`.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <root> <work> <cores>
  * where `root` holds `perfbench/data` and `work` is a scratch directory
  * the run owns (holding `orders.txt` for a batch workload). It writes
  * `work/result.json` (and `work/spans.jsonl` when tracing), which
  * `perfbench/run.py` turns into metrics. */
object Harness {
  /** A pass of the streaming workload: this many new days, plus one
    * revision of an earlier day at a seeded position (never first). */
  val IngestPassNewDays = 3

  final case class OpRecord(id: String, name: String, pass: Int, traced: Boolean,
      startMs: Long, buildEndMs: Long, endMs: Long, wallS: Double, buildS: Double,
      ok: Boolean, error: String, rows: Long, runIds: Seq[String])

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val Array(workload, seedS, secondsS, traceS, rootS, workS, coresS) = argv
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val root = Paths.get(rootS).toAbsolutePath
    val work = Paths.get(workS).toAbsolutePath
    Files.createDirectories(work)

    val spark = GraftSession.builder(coresS)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = System.currentTimeMillis()

    val wl: Workload =
      if (workload == "ingest_stream") new IngestWorkload(spark, root, work, seed)
      else new BatchWorkload(spark, root, work)

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val sc = spark.sparkContext
    var heapLivePeak = 0L
    def heapLive(): Long = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum

    /** One op: build under `<id>/build`, execute under `<id>/exec`. */
    var opSeq = 0
    def runOp(name: String, pass: Int, traced: Boolean): OpRecord = {
      opSeq += 1
      val id = f"op$opSeq%06d"
      val t0 = System.nanoTime(); val startMs = System.currentTimeMillis()
      var buildEndMs = startMs; var buildS = 0.0
      val (ok, err, rows, runIds) =
        try {
          sc.setJobGroup(s"$id/build", name, interruptOnCancel = false)
          val step = wl.build(name)
          if (traced) tracer.foreach(t => wl.builtPlan.foreach(qe => t.plan(qe)))
          buildS = (System.nanoTime() - t0) / 1e9; buildEndMs = System.currentTimeMillis()
          sc.setJobGroup(s"$id/exec", name, interruptOnCancel = false)
          val (rows, runIds) = step()
          (true, "", rows, runIds)
        } catch {
          case e: Throwable => (false, e.toString.take(500), 0L, Nil)
        } finally sc.clearJobGroup()
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) heapLivePeak = math.max(heapLivePeak, heapLive())
      println(f"perfbench op pass=$pass%d wall=$wall%.4f build=$buildS%.4f ok=$ok%s $name%s")
      OpRecord(id, name, pass, traced, startMs, buildEndMs, System.currentTimeMillis(), wall,
        buildS, ok, err, rows, runIds)
    }

    // ---- set-up: staging and the untimed warm-up / check pass ----
    wl.stage()
    val stagedMs = System.currentTimeMillis()
    val warm = wl.warmOrder.map(runOp(_, -1, traced = false))
    wl.warmDone()

    // ---- timed passes ----
    val firstTimedMs = System.currentTimeMillis()
    val setupS = (firstTimedMs - jvmStartMs) / 1000.0
    val timed = ArrayBuffer.empty[OpRecord]
    val passes = ArrayBuffer.empty[(Int, Boolean, Double, Long, Long)]
    val tStart = System.nanoTime()
    // One pass at least. A pass is made to outlast the run time the
    // benchmark declares, so that one pass is the rule and the pass
    // count does not flip with small speed changes: the first passes
    // after the warm-up still speed up, and a second, faster pass would
    // shift the pass time. A traced run alternates untraced and traced
    // passes (untraced first and last), so the tracing overhead is
    // measured inside the run against passes on either side of it.
    val minPasses = if (seconds <= 0) 0 else if (trace) 3 else 1
    var pass = 0
    var progressWant = 0L
    while (pass < minPasses || (System.nanoTime() - tStart) / 1e9 < seconds ||
        (trace && pass % 2 == 0)) {
      val traced = trace && pass % 2 == 1
      if (traced) tracer.foreach(_.attach())
      val p0 = System.nanoTime(); val p0Ms = System.currentTimeMillis()
      wl.passOrder(pass).foreach { name => timed += runOp(name, pass, traced) }
      passes += ((pass, traced, (System.nanoTime() - p0) / 1e9, p0Ms, System.currentTimeMillis()))
      val progressed = wl.progressCount()
      if (traced) tracer.foreach { t =>
        progressWant += progressed
        t.awaitProgress(progressWant)
        t.detach()
      }
      pass += 1
    }
    val measuredS = (System.nanoTime() - tStart) / 1e9

    // ---- checks and environment, outside the timed passes ----
    val check = wl.check()
    val calibS = calibrate()
    val env = Map(
      "cores" -> coresS.toInt,
      "calibration_s" -> calibS,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "seed" -> seed)

    def opJson(r: OpRecord): Map[String, Any] = Map("id" -> r.id, "name" -> r.name, "pass" -> r.pass,
      "traced" -> r.traced, "start_ms" -> r.startMs, "build_end_ms" -> r.buildEndMs,
      "end_ms" -> r.endMs, "wall_s" -> r.wallS, "build_s" -> r.buildS, "ok" -> r.ok,
      "error" -> r.error, "rows" -> r.rows, "run_ids" -> r.runIds)
    val result = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "seconds" -> seconds,
      "env" -> env, "setup_s" -> setupS, "measured_s" -> measuredS,
      "setup_parts_s" -> Map("session" -> (sessionMs - jvmStartMs) / 1000.0,
        "staging" -> (stagedMs - sessionMs) / 1000.0, "warm" -> (firstTimedMs - stagedMs) / 1000.0),
      "warm" -> warm.map(opJson), "ops" -> timed.map(opJson),
      "passes" -> passes.map { case (p, t, w, s, e) =>
        Map("pass" -> p, "traced" -> t, "wall_s" -> w, "start_ms" -> s, "end_ms" -> e) },
      "check" -> check,
      "pinned_peak_bytes" -> tracer.map(_.pinnedPeak.get()).getOrElse(0L),
      "heap_live_peak_bytes" -> heapLivePeak)
    tracer.foreach { t =>
      Files.write(work.resolve("spans.jsonl"), t.spans.asScala.toSeq.asJava)
    }
    Files.writeString(work.resolve("result.json"), result)
    spark.stop()
  }

  /** Single-thread CPU calibration: the fixed xorshift64 spin of
    * `graft.Bench`, so results from different machines can be
    * compared at equal calibration. */
  def calibrate(): Double = {
    var x = 0x9E3779B97F4A7C15L; var i = 0
    val t0 = System.nanoTime()
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42) println("")
    dt
  }
}

/** What the client needs from a workload. `build` is the registry call
  * (planning and any eager pins); the step it returns executes the op
  * and reports (input rows, streaming run ids). */
trait Workload {
  def stage(): Unit
  def warmOrder: Seq[String]
  def passOrder(pass: Int): Seq[String]
  def build(name: String): () => (Long, Seq[String])
  /** The planned query of the last `build`, if it made one: Spark
    * analyzes a DataFrame when it is built, and that analysis reaches
    * no `QueryExecutionListener`. */
  def builtPlan: Option[QueryExecution] = None
  def warmDone(): Unit = ()
  /** Streaming progress events posted since the last call. */
  def progressCount(): Long = 0L
  def check(): Map[String, Any]
}

/** The read-only workloads: registry queries in the orders `run.py`
  * drew from the seed (`work/orders.txt`: the warm-up order, then one
  * line per timed pass, reused cyclically). The warm-up pass writes
  * each op's output as parquet under `check/` for `run.py` to compare
  * with the stored DuckDB digests; timed passes drain into `noop`. */
final class BatchWorkload(spark: SparkSession, root: Path, work: Path) extends Workload {
  private val orders: IndexedSeq[Seq[String]] =
    Files.readAllLines(work.resolve("orders.txt")).asScala.toIndexedSeq
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
  private val dataDir = root.resolve("perfbench/data").toString
  private val checkDir = work.resolve("check")
  private var warming = true
  private var last: Option[QueryExecution] = None

  def stage(): Unit = {
    val missing = orders.flatten.distinct.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"not in the query registry: ${missing.mkString(", ")}")
  }
  def warmOrder: Seq[String] = orders.head
  def passOrder(pass: Int): Seq[String] = orders(1 + pass % (orders.size - 1))

  def build(name: String): () => (Long, Seq[String]) = {
    val df = SparkEntry.queries(name)(spark, dataDir)
    last = Some(df.queryExecution)
    () => {
      if (warming) df.write.mode("overwrite").parquet(checkDir.resolve(name).toString)
      else df.write.mode("overwrite").format("noop").save()
      (0L, Nil)
    }
  }
  override def builtPlan: Option[QueryExecution] = last
  override def warmDone(): Unit = warming = false

  def check(): Map[String, Any] = Map("kind" -> "batch", "dir" -> checkDir.toString)
}

/** The streaming workload. A seeded generator splits the `events`
  * table into complete-day drops; one drop in three re-delivers a
  * seeded earlier day as a revision (the whole revised day, which is
  * the `streamPublish` contract). One op lands one drop (writes the day's
  * slice into the drop directory), then runs `streamPublish`
  * (day-partition overwrite of the published lake) and `runOnce`
  * (watermarked hourly rollup into a parquet sink) and waits for both.
  * Lake and checkpoints persist across the run's ops. */
final class IngestWorkload(spark: SparkSession, root: Path, work: Path, seed: Long)
    extends Workload {
  private val dataDir = root.resolve("perfbench/data").toString
  private val landing = work.resolve("landing")
  private val dropDir = work.resolve("drops")
  private val lakeDir = work.resolve("lake")
  private val rollDir = work.resolve("rollup")
  private val Collection = "events"
  private lazy val events = Tables.events(spark, dataDir)
    .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
  private var days: IndexedSeq[String] = IndexedSeq.empty
  private val rng = new Random(seed)
  private var nextNew = 0
  private val deliveries = scala.collection.mutable.Map.empty[Int, Int]
  private val landed = ArrayBuffer.empty[(Int, Int)]
  private var progressed = 0L
  private var lastWatermark = ""

  def stage(): Unit = {
    days = events.select("day").distinct().collect().map(_.getString(0)).sorted.toIndexedSeq
    Files.createDirectories(dropDir)
  }

  /** Next drop as `day:version`: the next new day, or a revision of a
    * seeded day before the latest one. */
  private def nextDrop(revise: Boolean): String = {
    val day = if (revise || nextNew >= days.size) rng.nextInt(nextNew - 1)
      else { nextNew += 1; nextNew - 1 }
    val n = deliveries.getOrElse(day, 0)
    deliveries(day) = n + 1
    s"$day:$n"
  }
  /** The warm-up lands two days and revises the first: every path a
    * timed drop takes, so the timed passes do not pay its first use. */
  def warmOrder: Seq[String] =
    Seq(nextDrop(revise = false), nextDrop(revise = false), nextDrop(revise = true))
  def passOrder(pass: Int): Seq[String] = {
    val n = Harness.IngestPassNewDays
    val at = 1 + rng.nextInt(n)
    (0 to n).map(i => nextDrop(revise = i == at))
  }

  /** Version `v` of a day: the day's events, values revised by 0.5 a version. */
  private def version(day: Int, v: Int): DataFrame =
    events.filter(col("day") === days(day))
      .withColumn("value", col("value") + v * 0.5)
      .select(EventsPipeline.eventSchema.fieldNames.map(col).toSeq: _*)

  def build(name: String): () => (Long, Seq[String]) = {
    val Array(day, v) = name.split(':').map(_.toInt)
    val n = landed.size
    val out = landing.resolve(f"drop-$n%05d")
    version(day, v).coalesce(1).write.parquet(out.toString)
    Files.list(out).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .zipWithIndex.foreach { case (f, i) =>
        Files.move(f, dropDir.resolve(f"drop-$n%05d-$i.parquet"), StandardCopyOption.ATOMIC_MOVE)
      }
    landed += ((day, v))
    val pub = EventsPipeline.streamPublish(spark, dropDir.toString,
      work.resolve("ckpt-publish").toString, lakeDir.toString, Collection)
    val roll = EventsPipeline.runOnce(spark, dropDir.toString,
      work.resolve("ckpt-rollup").toString, rollDir.toString)
    () => {
      pub.awaitTermination(); roll.awaitTermination()
      progressed += pub.recentProgress.length + roll.recentProgress.length
      Option(roll.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
        .foreach(lastWatermark = _)
      (pub.recentProgress.map(_.numInputRows).sum, Seq(pub.runId.toString, roll.runId.toString))
    }
  }

  override def progressCount(): Long = { val n = progressed; progressed = 0L; n }

  /** The lake must hold exactly the last delivered version of each
    * day; the rollup must equal batch `hourlyRollup` over the first
    * delivery of each day (revisions arrive behind the watermark), for
    * the windows the watermark has closed. */
  def check(): Map[String, Any] = {
    val cols = EventsPipeline.eventSchema.fieldNames.map(col).toSeq
    def sameRows(a: DataFrame, b: DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val lastVersion = landed.groupBy(_._1).map { case (d, xs) => d -> xs.last._2 }.toSeq
    val lake = spark.read.parquet(lakeDir.resolve(Collection).toString).select(cols: _*)
    val lakeOk = sameRows(lake, lastVersion.map { case (d, v) => version(d, v) }.reduce(_ union _))
    val wm = if (lastWatermark.isEmpty) 0L
      else java.time.Instant.parse(lastWatermark).toEpochMilli
    val expected = EventsPipeline.hourlyRollup(
        lastVersion.map { case (d, _) => version(d, 0) }.reduce(_ union _))
      .filter(unix_millis(col("window_start")) + 3600000L <= wm)
    val rollup = spark.read.parquet(rollDir.toString)
    val rollupOk = sameRows(rollup, expected)
    Map("kind" -> "ingest", "lake_ok" -> lakeOk, "rollup_ok" -> rollupOk,
      "drops" -> landed.size, "days" -> lastVersion.size,
      "revisions" -> (landed.size - lastVersion.size), "watermark" -> lastWatermark,
      "rollup_rows" -> rollup.count(), "expected_rollup_rows" -> expected.count())
  }
}
