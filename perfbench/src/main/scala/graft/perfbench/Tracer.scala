package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder for traced passes, fed only by Spark's public
  * listeners: jobs, stages and tasks from a `SparkListener`, Catalyst
  * phase times from a `QueryExecutionListener`, micro-batch progress
  * from a `StreamingQueryListener`. Spans stay in memory as JSON lines
  * until the run ends. Jobs carry the job group the client set, which
  * ties each job to the op (and the op's build or execute step) that
  * ran it; the reducer does the attribution. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  val spans = new ConcurrentLinkedQueue[String]()

  private final class StageAcc {
    var tasks, failedTasks, runMs, cpuNs, gcMs, inBytes, inRows, outBytes, outRows,
      shufWBytes, shufWNs, shufRBytes, fetchWaitMs, spillDisk, spillMem, peakExec = 0L
  }
  private val stageAcc = TrieMap.empty[(Int, Int), StageAcc]
  private val jobStart = TrieMap.empty[Int, (Long, String, Seq[Int])]
  private val rddBlocks = TrieMap.empty[String, Long]
  private val pinned = new AtomicLong(0L)
  val pinnedPeak = new AtomicLong(0L)
  private val fencesSeen = new AtomicLong(0L)
  private val progressSeen = new AtomicLong(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobStart(e.jobId) = (e.time, group.getOrElse(""), e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (t0, group, stages) =>
      if (group.startsWith(Tracer.FenceGroup)) fencesSeen.incrementAndGet()
      else spans.add(Json.obj("kind" -> "job", "job" -> e.jobId, "group" -> group,
        "start_ms" -> t0, "end_ms" -> e.time, "stages" -> stages,
        "ok" -> (e.jobResult == JobSucceeded)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stageAcc.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
    a.synchronized {
      a.tasks += 1
      if (e.reason != TaskSuccess) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.inBytes += m.inputMetrics.bytesRead; a.inRows += m.inputMetrics.recordsRead
        a.outBytes += m.outputMetrics.bytesWritten; a.outRows += m.outputMetrics.recordsWritten
        a.shufWBytes += m.shuffleWriteMetrics.bytesWritten
        a.shufWNs += m.shuffleWriteMetrics.writeTime
        a.shufRBytes += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillDisk += m.diskBytesSpilled; a.spillMem += m.memoryBytesSpilled
        a.peakExec = math.max(a.peakExec, m.peakExecutionMemory)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val a = stageAcc.remove((i.stageId, i.attemptNumber())).getOrElse(new StageAcc)
    spans.add(Json.obj("kind" -> "stage", "stage" -> i.stageId, "attempt" -> i.attemptNumber(),
      "submit_ms" -> i.submissionTime.getOrElse(0L), "end_ms" -> i.completionTime.getOrElse(0L),
      "tasks" -> a.tasks, "failed_tasks" -> a.failedTasks, "run_ms" -> a.runMs,
      "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs, "input_bytes" -> a.inBytes,
      "input_rows" -> a.inRows, "output_bytes" -> a.outBytes, "output_rows" -> a.outRows,
      "shuffle_write_bytes" -> a.shufWBytes, "shuffle_write_ns" -> a.shufWNs,
      "shuffle_read_bytes" -> a.shufRBytes, "fetch_wait_ms" -> a.fetchWaitMs,
      "spill_disk_bytes" -> a.spillDisk, "spill_mem_bytes" -> a.spillMem,
      "peak_exec_bytes" -> a.peakExec))
  }

  /** RDD blocks are what pins (`localCheckpoint`, `persist`) store. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      val prev = rddBlocks.put(b.blockId.name, size).getOrElse(0L)
      if (size == 0L) rddBlocks.remove(b.blockId.name)
      val now = pinned.addAndGet(size - prev)
      pinnedPeak.accumulateAndGet(now, math.max)
    }
  }

  /** A span of the Catalyst phases `qe` has run so far. */
  def plan(qe: QueryExecution, ok: Boolean = true): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) 0L else ph.values.map(_.startTimeMs).min
    spans.add(Json.obj("kind" -> "plan", "start_ms" -> start, "ok" -> ok,
      "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning")))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plan(qe, ok = false)

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      spans.add(Json.obj("kind" -> "progress", "run_id" -> p.runId.toString,
        "batch" -> p.batchId, "input_rows" -> p.numInputRows, "duration_ms" -> d,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_mem_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum))
      progressSeen.incrementAndGet()
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }

  /** Wait until every event posted so far has reached this listener:
    * run a one-task job under a fence group and wait for its end
    * event, which the listener bus delivers after all earlier ones. */
  def fence(): Unit = {
    val want = fencesSeen.get() + 1
    val sc = spark.sparkContext
    sc.setJobGroup(s"${Tracer.FenceGroup}$want", "trace fence", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (fencesSeen.get() < want && System.nanoTime() < deadline) Thread.sleep(2)
    require(fencesSeen.get() >= want, "listener bus did not drain within 30 s")
  }

  /** Streaming progress travels on its own listener queue, so the job
    * fence does not cover it: wait for the count the queries report. */
  def awaitProgress(n: Long): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (progressSeen.get() < n && System.nanoTime() < deadline) Thread.sleep(2)
    require(progressSeen.get() >= n, "streaming progress did not arrive within 30 s")
  }

  def detach(): Unit = {
    fence()
    spark.streams.removeListener(streaming)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }
}

object Tracer {
  val FenceGroup = "perfbench-fence-"
}
