package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Schedule

class ScheduleSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def wmDf(rows: (String, String)*): DataFrame =
    rows.map { case (p, w) => (p, ts(w)) }.toDF("pipeline", "watermark")

  private val threeCadences = Seq(
    Schedule.Entry("hourly", "hour", "2024-01-10 00:00:00"),
    Schedule.Entry("daily", "day", "2024-01-10 00:00:00"),
    Schedule.Entry("weekly", "week", "2024-01-01 00:00:00"))

  test("dueTicks: cadence expansion, null-watermark backfill, whole-ticks-only") {
    val sched = Schedule.registry(spark, threeCadences)
    // hourly has run up to (exactly) 10:00 on the 11th; daily through
    // the 12th; weekly never ran → backfills from its declared start
    val wm = wmDf("hourly" -> "2024-01-11 10:00:00", "daily" -> "2024-01-12 00:00:00")
    val due = Schedule.dueTicks(sched, wm, "2024-01-15 12:30:00")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2)))
    val byPipe = due.groupBy(_._1)
    // hourly: 10:00 Jan11 .. 11:00 Jan15 starts (a tick ending 12:30's
    // partial hour is NOT due) = 4*24 + 2 - 0 ... count directly:
    val hourly = byPipe("hourly").sortBy(_._2.getTime)
    assert(hourly.head._2 === ts("2024-01-11 10:00:00"))
    assert(hourly.last._3 === ts("2024-01-15 12:00:00"))
    assert(hourly.length === (ts("2024-01-15 12:00:00").getTime -
      ts("2024-01-11 10:00:00").getTime) / 3600000)
    // every tick is exactly one hour and they tile with no gaps
    assert(hourly.forall(t => t._3.getTime - t._2.getTime === 3600000L))
    assert(hourly.sliding(2).forall(p => p.length < 2 || p(0)._3 === p(1)._2))
    // daily: Jan12..Jan14 starts (Jan15's tick would end mid-day 15th? no —
    // ends Jan16 00:00 > now, so excluded); 3 ticks
    val daily = byPipe("daily").sortBy(_._2.getTime)
    assert(daily.map(_._2) === Array(ts("2024-01-12 00:00:00"),
      ts("2024-01-13 00:00:00"), ts("2024-01-14 00:00:00")))
    // weekly from backfill (Jan 1 is a Monday): Jan1 and Jan8 fit
    // before Jan15 12:30; the Jan15 tick ends Jan22 → not due
    val weekly = byPipe("weekly").sortBy(_._2.getTime)
    assert(weekly.map(_._2) === Array(ts("2024-01-01 00:00:00"),
      ts("2024-01-08 00:00:00")))
  }

  test("dueTicks: mid-tick watermark re-runs exactly the containing tick") {
    val sched = Schedule.registry(spark, Seq(Schedule.Entry("d", "day", "2024-01-01 00:00:00")))
    // watermark landed mid-day (a partial ingest): the day containing
    // it is re-run (overwrite is idempotent), nothing before it is
    val due = Schedule.dueTicks(sched, wmDf("d" -> "2024-01-05 07:30:00"),
      "2024-01-07 00:00:00").collect().map(_.getTimestamp(1))
    assert(due.sorted.toSeq === Seq(ts("2024-01-05 00:00:00"), ts("2024-01-06 00:00:00")))
  }

  test("dueTicks: nothing due is an empty frame, not an error") {
    val sched = Schedule.registry(spark, Seq(Schedule.Entry("d", "day", "2024-01-01 00:00:00")))
    assert(Schedule.dueTicks(sched, wmDf("d" -> "2024-01-09 00:00:00"),
      "2024-01-09 18:00:00").count() === 0)
  }

  test("registry: an unknown cadence is refused by entry name, not run weekly") {
    for (bad <- Seq("Hour", "month", "")) {
      val err = intercept[IllegalArgumentException] {
        Schedule.registry(spark, threeCadences :+ Schedule.Entry("typo", bad, "2024-01-01 00:00:00"))
      }
      assert(err.getMessage.contains("typo") && err.getMessage.contains(s"'$bad'"))
    }
  }

  test("runDue: two-pipeline schedule replays idempotently") {
    val tmp = Files.createTempDirectory("graft-sched").toFile.getAbsolutePath
    val ev = Tables.events(spark, sf)
      .filter(to_date(col("ts")).between("2024-01-01", "2024-01-04"))
      .select(col("ts"), col("user_id"), col("event_type"))
      .localCheckpoint()
    val entries = Seq(
      Schedule.Entry("clicks", "day", "2024-01-01 00:00:00"),
      Schedule.Entry("purchases", "day", "2024-01-01 00:00:00"))
    def slicer(typ: String)(t0: Timestamp, t1: Timestamp): DataFrame =
      ev.filter(col("event_type") === typ && col("ts") >= lit(t0) && col("ts") < lit(t1))
    val runners = Map[String, (Timestamp, Timestamp) => DataFrame](
      "clicks" -> slicer("click"), "purchases" -> slicer("purchase"))

    val now = "2024-01-05 00:00:00"
    val first = Schedule.runDue(spark, entries, now, tmp)(runners)
    assert(first.map(_._1).distinct.sorted === Seq("clicks", "purchases"))
    assert(first.count(_._1 == "clicks") === 4) // Jan1..Jan4 backfill
    val clicksAfterFirst = spark.read.parquet(s"$tmp/clicks").count()
    assert(clicksAfterFirst ===
      ev.filter(col("event_type") === "click").count())
    assert(first.filter(_._1 == "clicks").map(_._4).sum === clicksAfterFirst)

    // replay at the same instant: watermarks have advanced past every
    // tick, so NOTHING runs and the lake is untouched
    val second = Schedule.runDue(spark, entries, now, tmp)(runners)
    assert(second.isEmpty)
    assert(spark.read.parquet(s"$tmp/clicks").count() === clicksAfterFirst)

    // the clock moves one day: exactly one new tick per pipeline runs,
    // prior days' files are left in place (dynamic overwrite semantics)
    val ev5 = Tables.events(spark, sf)
      .filter(to_date(col("ts")) === "2024-01-05")
      .select(col("ts"), col("user_id"), col("event_type"))
    def slicer5(typ: String)(t0: Timestamp, t1: Timestamp): DataFrame =
      ev.unionByName(ev5)
        .filter(col("event_type") === typ && col("ts") >= lit(t0) && col("ts") < lit(t1))
    val third = Schedule.runDue(spark, entries, "2024-01-06 00:00:00", tmp)(
      Map("clicks" -> slicer5("click"), "purchases" -> slicer5("purchase")))
    assert(third.map(t => (t._1, t._2)).sorted === Seq(
      ("clicks", "2024-01-05 00:00:00.0"), ("purchases", "2024-01-05 00:00:00.0")))
    val back = spark.read.parquet(s"$tmp/clicks")
    assert(back.filter(col("p_day") === "2024-01-03").count() ===
      ev.filter(col("event_type") === "click" && to_date(col("ts")) === "2024-01-03").count())
    assert(back.count() === clicksAfterFirst + ev5.filter(col("event_type") === "click").count())
  }

  test("runDue: lost watermark re-runs only that pipeline, converging to the same lake") {
    val tmp = Files.createTempDirectory("graft-sched2").toFile.getAbsolutePath
    val ev = Tables.events(spark, sf)
      .filter(to_date(col("ts")).between("2024-01-01", "2024-01-02"))
      .select(col("ts"), col("user_id"), col("event_type"))
      .localCheckpoint()
    val entries = Seq(
      Schedule.Entry("clicks", "day", "2024-01-01 00:00:00"),
      Schedule.Entry("views", "day", "2024-01-01 00:00:00"))
    def slicer(typ: String)(t0: Timestamp, t1: Timestamp): DataFrame =
      ev.filter(col("event_type") === typ && col("ts") >= lit(t0) && col("ts") < lit(t1))
    val runners = Map[String, (Timestamp, Timestamp) => DataFrame](
      "clicks" -> slicer("click"), "views" -> slicer("view"))
    val now = "2024-01-03 00:00:00"
    Schedule.runDue(spark, entries, now, tmp)(runners)
    val before = spark.read.parquet(s"$tmp/clicks").count()
    // simulate a crash that published data but lost the bookkeeping:
    // the tick re-runs (at-least-once) and the overwrite converges
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete(); ()
    }
    rmrf(new java.io.File(s"$tmp/_watermarks/clicks"))
    val rerun = Schedule.runDue(spark, entries, now, tmp)(runners)
    assert(rerun.map(_._1).distinct === Seq("clicks"))
    assert(rerun.length === 2)
    assert(spark.read.parquet(s"$tmp/clicks").count() === before)
  }
}
