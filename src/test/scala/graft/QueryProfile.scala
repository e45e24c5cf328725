package graft

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-query empirical profiler (guide §1: decide whether time goes
  * to scheduling, shuffle, or compute BEFORE touching code) — not
  * part of the suite. Runs each named query once untimed (warm-up:
  * codegen caches, fit memos, parquet footers) and once timed with a
  * listener attached, then prints per-JOB wall times and per-job
  * stage rollups: task count, summed executor run time, shuffle
  * read/write bytes, input bytes. The job count itself is a first-
  * class metric here: at bench scale (sf0.1, tiny inputs) every
  * extra eager materialization (localCheckpoint, count, collect) is
  * a scheduling round-trip that dwarfs the data work.
  *
  * Usage: `sbt "Test/runMain graft.QueryProfile <query> [query ...]"`
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32). */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")

    case class StageAgg(var tasks: Int = 0, var runMs: Long = 0L,
      var shRead: Long = 0L, var shWrite: Long = 0L, var input: Long = 0L,
      var desc: String = "")
    val jobStart = mutable.Map[Int, Long]()
    val jobEnd = mutable.Map[Int, Long]()
    val jobStages = mutable.Map[Int, Seq[Int]]()
    val stages = mutable.Map[Int, StageAgg]()
    @volatile var recording = false

    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
        jobStart(e.jobId) = e.time
        jobStages(e.jobId) = e.stageIds
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (recording)
        jobEnd(e.jobId) = e.time
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (recording) {
          val si = e.stageInfo
          val a = stages.getOrElseUpdate(si.stageId, StageAgg())
          a.tasks += si.numTasks
          a.runMs += si.taskMetrics.executorRunTime
          a.shRead += si.taskMetrics.shuffleReadMetrics.totalBytesRead
          a.shWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
          a.input += si.taskMetrics.inputMetrics.bytesRead
          a.desc = si.name.take(90)
        }
    })

    def exec(name: String): Unit = Bench.exec(spark, sfDir, name)

    args.foreach { name =>
      exec(name) // warm
      jobStart.clear(); jobEnd.clear(); jobStages.clear(); stages.clear()
      recording = true
      val t0 = System.nanoTime()
      exec(name)
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500) // drain listener bus
      recording = false
      println(f"\n===== $name: $dt%.3f s, ${jobStart.size} jobs, ${stages.size} stages =====")
      jobStart.keys.toSeq.sorted.foreach { j =>
        val wall = (jobEnd.getOrElse(j, jobStart(j)) - jobStart(j)) / 1e3
        val sids = jobStages.getOrElse(j, Nil).filter(stages.contains).sorted
        println(f"  job $j%3d  wall=$wall%7.3f s  stages=${sids.size}")
        sids.foreach { s =>
          val a = stages(s)
          println(f"    stage $s%4d tasks=${a.tasks}%3d run=${a.runMs}%6d ms " +
            f"shR=${a.shRead / 1024}%7d KB shW=${a.shWrite / 1024}%7d KB " +
            f"in=${a.input / 1024}%7d KB  ${a.desc}")
        }
      }
      val gap = dt - jobStart.keys.toSeq.sorted.map(j =>
        (jobEnd.getOrElse(j, jobStart(j)) - jobStart(j)) / 1e3).sum
      println(f"  (driver/planning gap: $gap%.3f s of $dt%.3f s total)")
    }
    spark.stop()
  }
}
