package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.EventsPipeline

/** Compiled code is reused for the life of the engine process: a query
  * shape that ran once compiles nothing when it runs again. Spark
  * counts every Janino compile in `CodegenMetrics`, so a repeat run
  * must leave that count where the first run left it. These fail when
  * the generated-class cache is too small for the working set, when the
  * stage id leaks into the class name, when a streaming tick's cloned
  * session brings its own classloader into the cache key, or when
  * anything touches codegen before a [[GraftSession]] exists (the
  * cache bound is read once per JVM). */
class CodegenReuseSpec extends SparkSpec {
  private def compilesDuring(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The benchmark's `batch_mix` ops: samples of the climate cron, the
    * dedup/similarity family and the time-series family. */
  private val batchMix = Seq(
    "grid_tiff_decode", "spi_zscore", "bias_qmap_spline", "pet_oudin",
    "zonal_stats", "dedup_chunks_apply", "dedup_embedding_lsh_audit",
    "dedup_semantic", "ts_periodogram", "ts_seasonal_mk", "ts_theil_sen")

  test("batch: a repeat round of the batch_mix ops compiles (almost) no class") {
    def run(name: String): Unit = drain(SparkEntry.queries(name)(spark, sf))
    // Two rounds first. The cold round compiles, which delays its
    // stages; AQE turns a join into a broadcast join when one input is
    // done, so the first warm round can pick the other build side and
    // compile that plan once (seen: bias_qmap_spline,
    // dedup_embedding_lsh_audit).
    batchMix.foreach(run)
    batchMix.foreach(run)
    val recompiled = batchMix.map(n => n -> compilesDuring(run(n))).filter(_._2 > 0)
    // A later flip of that kind costs a few classes; a cache that
    // evicts (Spark's default holds 100) costs about 250 here.
    assert(recompiled.map(_._2).sum <= 8, recompiled)
  }

  test("batch: a pipeline that moves to another codegen stage id reuses its class") {
    // whole-stage ids number the pipelines of a plan in order, so `a`
    // is stage 1 alone and stage 2 as the union's second input (AQE
    // numbers the stages it creates in the order their inputs finish)
    val ev = Tables.events(spark, sf)
    val a = ev.filter(col("value") > 1).select(col("event_id"), (col("value") * 2).as("v"))
    val b = ev.filter(col("value") < 0).select(col("event_id"), (col("value") + 1).as("v"))
    drain(a); drain(b)
    assert(compilesDuring(drain(b.unionByName(a))) === 0)
  }

  test("streaming: a second streamPublish tick over a new drop compiles no class") {
    val tmp = Files.createTempDirectory("graft-cgreuse").toFile.getAbsolutePath
    val drop = s"$tmp/drop"
    val raw = Tables.events(spark, sf)
    val day = to_date(col("ts"))
    // landing a day filters on a date literal, which codegen inlines:
    // only the tick itself is measured
    def land(d: String): Unit = raw.filter(day === d).write.mode("append").parquet(drop)
    def tick(): Unit =
      EventsPipeline.streamPublish(spark, drop, s"$tmp/ckpt", s"$tmp/cat", "ev")
        .awaitTermination(120000)
    land("2024-01-01"); tick()
    land("2024-01-02")
    assert(compilesDuring(tick()) === 0)
    assert(spark.read.parquet(s"$tmp/cat/ev").select("p_day").distinct().count() === 2)
  }
}
