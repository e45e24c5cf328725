package graft

import org.apache.spark.sql.SparkSession

/** One tuned SparkSession builder for every entry point (Verify,
  * Bench, tests): AQE on (runtime coalescing + skew-join splitting),
  * shuffle parallelism = cores (not the 200 default), UTC, the
  * TIMESTAMP(NANOS) legacy read, and the graft SQL extensions
  * registered so `norm_quantile`/`gamma_cdf`/`cosine_sim` work from
  * plain SQL too, generated code compiled once per JVM, and local files
  * written without forking a process per file. */
object GraftSession {
  /** Bound of Spark's generated-class cache. A first pass over the
    * whole query registry at sf0.1 compiles 3,101 classes, the eleven
    * benchmark batch ops about 235 (BENCH_NOTES, "Codegen cache"), so
    * this holds the full working set with headroom. Holding it costs
    * about 23 MB of metaspace. */
  val CodegenCacheEntries = 4096

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Testdata `events.ts` is parquet TIMESTAMP(isAdjustedToUTC=false,
      // micros). With NTZ inference on, Spark reads it as TIMESTAMP_NTZ,
      // which `unix_micros`/tz arithmetic reject. Reading it as plain
      // TimestampType is exact under the UTC session timezone AND keeps
      // ts predicates eligible for parquet pushdown (a post-scan cast
      // would block them).
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing floor (r18). With parallelismFirst (default on)
      // AQE coalesces small shuffles down to minPartitionSize=1m; this
      // engine's post-shuffle stages carry CPU-DENSE per-row work
      // (sliding-window array folds, signature batteries), so at small
      // input sizes a 1m floor funnels whole window stages onto 1-2
      // cores (profiled: ts_ewma's window stage ran as 2 tasks /
      // 1.36 s task time on a 2.4 MB shuffle; the ts_* family A/B is
      // ×0.91 normalized at 64k, window-heavy members ×0.47). At
      // cluster scale heavy stages are governed by
      // advisoryPartitionSizeInBytes (unchanged, 64m) — the floor only
      // binds on tiny shuffles (report tails), where extra parallelism
      // is harmless.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // InferFiltersFromGenerate synthesizes `isnotnull(arr) AND
      // size(arr) > 0` under every explode; when the array is a
      // COMPUTED column (the tokenize/shingle projections all over
      // the text family) the synthesized predicate INLINES that
      // computation — plan-audited on dedup_ngram_jaccard: the
      // shingle regex ran 3 extra times per row (twice in the
      // inferred filter, once in the projection it duplicates), and
      // the predicate then pushed below the spread exchange into the
      // serial pre-shuffle stage. The rows it would drop are exactly
      // the rows the Generate itself skips, so excluding the rule
      // changes no results — it deletes redundant per-row work from
      // every explode-over-computed-array plan (r17; at corpus scale
      // this is the difference between tokenizing once and 4×).
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      // Compile each generated class once per JVM. A cron re-runs the
      // same query shapes, so every Janino compile after the first is a
      // cache miss with one of three causes: the cache bound (Spark's
      // default of 100 entries is below one batch pass), the stage id
      // in `GeneratedIteratorForCodegenStage<N>` (AQE numbers stages in
      // the order their inputs finish, so the same pipeline's source
      // differs from run to run), and the per-session artifact
      // classloader in the cache key (every `Trigger.AvailableNow` tick
      // runs on a cloned session). graft adds no session artifacts, so
      // sharing the classloader changes nothing else. `CodeGenerator`
      // reads the bound once per JVM, when it is first used: no codegen
      // may run before the first session exists (CodegenReuseSpec holds
      // this).
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Local files without a process per file operation (LocalFiles):
      // Hadoop's own local file system forks `chmod` and `readlink`.
      // Hadoop caches a FileSystem by scheme, authority and user, not by
      // configuration, so a `file://` FileSystem that anything creates
      // before the first session keeps Hadoop's class for the life of
      // the JVM, like the codegen bound above (LocalFilesSpec holds it).
      .config("spark.hadoop.fs.file.impl", classOf[LocalFiles.ChecksummedFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[LocalFiles.ChecksummedFs].getName)
      .withExtensions(new graft.expressions.GraftExtensions)

  def create(cpus: String): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
