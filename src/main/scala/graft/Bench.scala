package graft

import org.apache.spark.sql.SparkSession

/** Registry timer: every `SparkEntry.queries` entry, one compact JSON
  * line on stdout naming the file that holds the full record.
  *
  * Discipline: a full UNTIMED warm-up pass first (JIT, codegen caches,
  * parquet footer caches, session warm-up land there), then N
  * INTERLEAVED timed passes — each pass runs the FULL sorted query
  * list once, and a query's reported time is the median of its
  * per-pass times. Timing a query's reps consecutively lets a
  * multi-minute external slowdown inflate ALL reps of whichever
  * contiguous alphabetical run of queries it overlaps; interleaved,
  * the same window inflates at most one pass per query, which the
  * cross-pass median discards. Raw per-pass times are kept in the
  * record (`reps`) so any residual band is detectable post-hoc.
  * Failures are recorded per-query (`errors` map), excluded from
  * timings, and make the exit code nonzero instead of masquerading as
  * a timing.
  *
  * Env: SPARK_GRAFT_SF_DIR (data directory, sf0.1 by default),
  * SPARK_GRAFT_CPUS (default 4), SPARK_GRAFT_ONLY (comma-separated
  * subset, see [[Verify.only]]), SPARK_GRAFT_BENCH_REPS (timed passes,
  * default 3), SPARK_GRAFT_BENCH_OUT (record path, default
  * target/bench_results.json).
  */
object Bench {
  /** Single-thread CPU calibration: a fixed xorshift64 spin, timed.
    * Per-query seconds on unchanged plans shift uniformly by ~1.4-1.6×
    * between VMs with different per-core speed (BENCH_NOTES.md); this
    * constant-work loop gives every record a machine-speed denominator
    * so a reader can normalize before comparing. */
  private def calibrate(): Double = {
    var x = 0x9E3779B97F4A7C15L; var i = 0
    val t0 = System.nanoTime()
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42) println("") // defeat dead-code elimination
    dt
  }

  /** The timed action: a noop-format write, not count(). count lets
    * Catalyst prune every unreferenced projection, so narrow queries
    * (windows, hashes, regex pipelines) would "benchmark" a bare
    * scan+count. The noop sink consumes every output column. */
  private[graft] def exec(spark: SparkSession, sfDir: String, name: String): Unit =
    SparkEntry.queries(name)(spark, sfDir)
      .write.mode("overwrite").format("noop").save()

  def main(args: Array[String]): Unit = {
    val Reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_results.json")
    val spark = GraftSession.create(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(Verify.only(sys.env.get("SPARK_GRAFT_ONLY")))

    // warm-up: run everything once, untimed; remember what failed
    val warmErrs = names.flatMap { name =>
      try { exec(spark, sfDir, name); None }
      catch { case e: Throwable => Some(name -> e.toString.take(200)) }
    }.toMap

    val errors = scala.collection.mutable.LinkedHashMap[String, String]() ++ warmErrs
    val passTimes = scala.collection.mutable.LinkedHashMap[String, List[Double]]()
    (1 to Reps).foreach { _ =>
      names.filterNot(errors.contains).foreach { name =>
        val t0 = System.nanoTime()
        try {
          exec(spark, sfDir, name)
          passTimes(name) = passTimes.getOrElse(name, Nil) :+ (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable => errors(name) = e.toString.take(200) }
      }
    }
    // a query is either timed (all passes clean) or an error, never both
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    passTimes.foreach { case (name, reps) =>
      if (reps.size == Reps && !errors.contains(name))
        timings(name) = reps.sorted.apply(reps.size / 2)
    }

    val js = Verify.jsonString _
    val qs = timings.map { case (k, v) => s"${js(k)}:$v" }.mkString("{", ",", "}")
    val rs = passTimes.collect { case (k, v) if timings.contains(k) =>
      s"${js(k)}:${v.mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${js(k)}:${js(v)}" }.mkString("{", ",", "}")
    val total = timings.values.sum
    // calibration AFTER the passes (fully warmed JVM, idle executors)
    val calib = (1 to 3).map(_ => calibrate()).min

    // The full record (~25 KB at 283 queries × per-rep arrays) goes to
    // the file only; stdout carries the totals, small enough to survive
    // any log tail.
    val record = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"reps":$rs,"errors":$es,"n_ok":${timings.size},"n_err":${errors.size},"passes":$Reps,"calib_s":$calib,"sf":${js(sfDir)}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      (record + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_ok":${timings.size},"n_err":${errors.size},"passes":$Reps,"calib_s":$calib,"sf":${js(sfDir)},"full_line":${js(outPath)}}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
