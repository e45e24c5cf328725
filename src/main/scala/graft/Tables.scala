package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Loaders for the driver-generated star schema (TESTDATA.md).
  *
  * At cluster scale these would be catalog tables (parquet/iceberg on
  * object storage); here each is one parquet file per scale factor.
  * Readers go through `spark.read.parquet` so Catalyst gets full
  * pushdown/pruning on every scan.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) (read as
    * epoch-nanos LongType via `nanosAsLong`) and as TIMESTAMP(µs,
    * isAdjustedToUTC=false) (read as TIMESTAMP_NTZ when a session
    * leaves NTZ inference on — [[GraftSession]] turns it off). Both
    * are normalized here to a real TimestampType; under the UTC
    * session timezone the NTZ cast is exact, and the Long path is
    * exact integer division (no double roundtrip). */
  def events(s: SparkSession, d: String): DataFrame = normalizeTs(load(s, d, "events"))

  /** `ts` as a real TimestampType, whichever of the raw epoch-nanos
    * long, TIMESTAMP_NTZ or a timestamp arrived: the one normalize step
    * of the batch loaders and every streaming events frame. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  /** Time-sliced events WITH parquet pushdown. The plain `events`
    * loader rewrites `ts` post-scan, which blocks predicate pushdown
    * on it; here the range predicate is applied to the RAW epoch-nanos
    * long BEFORE the conversion, so it lands in the scan's
    * PushedFilters and row groups outside the range are skipped —
    * the pattern every time-bounded operator should use at scale. */
  def eventsBetween(s: SparkSession, d: String,
      startIso: String, endIso: String,
      rawTsPred: Option[org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column] = None): DataFrame = {
    val raw = load(s, d, "events")
    def nanos(iso: String): Long =
      java.time.Instant.parse(iso).getEpochSecond * 1000000000L +
        java.time.Instant.parse(iso).getNano
    if (raw.schema("ts").dataType == LongType) {
      val sliced = raw
        .filter(col("ts") >= nanos(startIso) && col("ts") < nanos(endIso))
      // extra caller predicate over the RAW epoch-nanos ts (e.g. a
      // pagination cursor) — applied pre-rewrite so it pushes too
      rawTsPred.fold(sliced)(p => sliced.filter(p(col("ts"))))
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    } else {
      // TimestampType (or NTZ normalized first — exact under UTC): the
      // range predicate lands on the scan column directly so it pushes.
      val sliced = normalizeTs(raw)
        .filter(col("ts") >= lit(startIso).cast("timestamp") &&
          col("ts") < lit(endIso).cast("timestamp"))
      rawTsPred.fold(sliced)(p => sliced.filter(p(unix_micros(col("ts")) * 1000)))
    }
  }

  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Rebalance a COMPACT input across the cluster before an expensive
    * fan-out (shingle/token explode, per-row hash batteries). Parquet
    * row groups are the scan's parallelism floor — a table written in
    * few/large row groups otherwise funnels the whole fan-out through
    * a handful of tasks. The shuffle moves only the pre-explode rows
    * (a small fraction of the fan-out's output volume), and hashing on
    * the key keeps each key's rows together for downstream per-key
    * aggregation.
    *
    * SCALE-ADAPTIVE (r17): the repartition only exists to fix scan
    * under-parallelism, so it is GATED on the input's estimated size
    * — when the optimizer's size estimate already yields at least
    * `defaultParallelism` scan splits (estimate ≥ cores ×
    * `spark.sql.files.maxPartitionBytes`), the input arrives parallel
    * and the repartition would be a full shuffle of the corpus text
    * for nothing; it is skipped. At bench scale (single-row-group MB
    * files) the estimate is far below one split and the plan is
    * byte-identical to the unconditional repartition, A/B-measured
    * 0.344 s → 0.181 s for the shingle pass vs no spread at all. The
    * gate is a plan-shape decision only — results never depend on
    * partitioning. */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val sess = df.sparkSession
    val par = sess.sparkContext.defaultParallelism
    val maxSplit = sess.sessionState.conf.filesMaxPartitionBytes
    // Size signal from the FILE-SOURCE LEAVES of the analyzed plan
    // (r18): `relation.sizeInBytes` answers from the already-listed
    // FileIndex — no Catalyst optimizer pass. The r17 gate forced a
    // full analyze+optimize of the input subtree per call (26 sites),
    // spending in exactly the driver-planning bucket that round
    // measured as the dominant bench-scale cost, and post-filter
    // optimizer estimates are unreliable anyway. Raw file size
    // over-estimates a filtered input and unknown-size leaves
    // (checkpointed RDDs) count as zero — both err toward KEEPING the
    // repartition, the direction that preserves the local plan and
    // only skips the shuffle when the scan is provably already
    // parallel. Gating decisions at both bench SFs are identical to
    // r17 (estimate far below one split either way; plans unchanged).
    val est = df.queryExecution.analyzed.collectLeaves().map {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.stats.sizeInBytes
      case _ => BigInt(0)
    }.sum
    if (est >= BigInt(maxSplit) * par) df
    else df.repartition(par, key)
  }
}
