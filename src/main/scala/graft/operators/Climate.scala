package graft.operators

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.expressions.StatColumns
import graft.operators.TimeSeries.{byDay, centMean, dayLabel, quantize, units}

/** Geo/climate analytics — the reference's derived products
  * re-expressed as distributed plans (SURVEY §2 ops 12-22).
  *
  * The shared scale pattern: per-key DISTRIBUTION parameters (means,
  * stds, gamma fits, quantile tables) are computed with one hash
  * aggregation into O(keys) rows, then re-joined to the fact rows —
  * never a driver loop, never per-row state. Scalar math runs in
  * native codegen'd expressions ([[graft.expressions.StatColumns]]).
  */
object Climate {

  private val evOrder = Seq(col("ts"), col("event_id"))

  /** Exact integer cent sum of a group's readings (see
    * [[TimeSeries.cents]]): the numerator of every exact mean here. */
  private val cents = sum(TimeSeries.cents(col("value")))

  /** A group's mean reading in exact integer micro-units (1e-6): the
    * cent sum over the count, rounded half up once. Every events-grid
    * cell value and every synthetic media `seed` is one of these. */
  private[graft] val microMean: Column =
    floor((cents * 10000L).cast("double") / count(lit(1)) + 0.5).cast("long")

  /** The events grid's cell keys: station `user_id` lands on an 8×8
    * lattice at row `gy = user_id % 8`, column `gx = user_id div 8 % 8`. */
  private[graft] val cellKeys: Seq[Column] =
    Seq((col("user_id") % 8).as("gy"), expr("user_id div 8 % 8").as("gx"))

  /** Readings grouped per grid cell (and `extra`… keys); each caller
    * supplies its own aggregate. */
  private[graft] def byCell(ev: DataFrame, extra: Column*): RelationalGroupedDataset =
    ev.groupBy(cellKeys ++ extra: _*)

  /** All 64 `(gy, gx)` cells of the grid, readings or not: the left
    * side of every codec lane's cell join. */
  private[graft] def cellLattice(spark: SparkSession): DataFrame =
    spark.range(64).select((col("id") % 8).as("gy"), expr("id div 8").as("gx"))

  /** Every lattice cell with its readings' micro-unit mean `v_us` (null
    * where a cell has none): the source grid of the raster codec lanes,
    * each adding its own sentinel and mask columns. */
  private[graft] def cellMeans(spark: SparkSession, dir: String): DataFrame =
    cellLattice(spark).join(byCell(Tables.events(spark, dir)).agg(microMean.as("v_us")),
      Seq("gy", "gx"), "left")

  /** The synthetic nodata mask over `(gy, gx)`: (gx·8+gy) mod 7 = 3,
    * ~1/7 of the cells, the same cells on both engines. */
  private[graft] val nodata: Column = (col("gx") * 8 + col("gy")) % 7 === 3

  /** One `seed` per group `g = user_id % n`: the group's micro-unit
    * mean, the deterministic input of the synthetic media renders. */
  private[graft] def seeds(spark: SparkSession, dir: String, n: Int): DataFrame =
    Tables.events(spark, dir).groupBy((col("user_id") % n).as("g"))
      .agg(microMean.as("seed"))

  /** Weekly mean per (station, `extra`…, Monday `week` label) in exact
    * integer 1e-4 units `u`: the cent sum over the count, floored once.
    * The forecast-verification scores all compare these. */
  private[graft] def weeklyU(df: DataFrame, extra: Seq[Column]): DataFrame =
    df.groupBy(col("user_id") +: extra :+
        date_format(date_trunc("WEEK", col("ts")), "yyyy-MM-dd").as("week"): _*)
      .agg(floor(cents.cast("double") / count(lit(1)) * 100.0 + 0.5)
        .cast("long").as("u"))

  /** Pseudo-coordinates derived deterministically from the key
    * (SURVEY §3): stands in for the station/grid-cell position. */
  def pseudoLat(key: Column): Column = (key % 36) * lit(5.0) - lit(87.5)
  def pseudoLon(key: Column): Column = (key % 72) * lit(5.0) - lit(177.5)

  /** EXACT-INTEGER standardized anomaly over an integer-unit column
    * `c` and window `w` — the windowed port of `climatologyFit`'s
    * Σc/Σc² discipline (SURVEY §5), retiring the z-score family's
    * merge-order float residual: n, Σc, Σc² are exact long window
    * sums (order-free on any engine and any partitioning), and
    *
    *   z = (n·c − Σc) / √( (n·Σc² − (Σc)²) · n / (n−1) )
    *
    * is one fixed double expression over those identical integer
    * bits — both engines compute the same chain on the same inputs,
    * so the downstream quantization can never flip. Degenerate
    * windows (n ≤ 1 or zero variance) yield NULL, replacing the raw
    * formulation's engine-dependent NaN/∞. The formula holds whether
    * or not the current row is inside the frame (rolling-history
    * windows score c against the frame's own mean/σ).
    *
    * Overflow envelope (the same LOUD discipline as
    * `climatologyFit`): the binding terms n·Σc² and (Σc)² ≈ n²·c̄²
    * stay inside a signed 64-bit lane while n ≲ 3×10⁹ / c̄ (c̄ the
    * mean |cent| magnitude) — e.g. ~3×10⁵ rows per window at
    * c̄ ≈ 10⁴ (2-decimal values ≤ 100), ~3×10³ at c̄ ≈ 10⁶. Callers
    * feeding finer-grained integers shrink it proportionally:
    * `spiEnsembleMedian` routes 1e-6-unit integers (≈ 5.6×10⁸ on
    * current data) through this lane, so its window envelope is only
    * a handful of rows beyond which the ANSI session errors LOUDLY
    * instead of wrapping — the signal that the fit belongs on a
    * coarser integer grid. */
  private[graft] def zExactOfInt(c: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column = {
    val n = count(c).over(w)
    val sc = sum(c).over(w)
    val sc2 = sum(c * c).over(w)
    val m2 = n * sc2 - sc * sc
    when(n > 1 && m2 > 0,
      (n * c - sc).cast("double")
        / sqrt(m2.cast("double") * n.cast("double")
          / (n.cast("double") - lit(1.0))))
  }

  /** [[zExactOfInt]] over a 2-decimal value column, quantized to the
    * 4-dp output grid (floor(·1e4+0.5)/1e4 — the repo's standard
    * engine-invariant quantization). */
  private[graft] def zScore4(valueCol: Column,
      w: org.apache.spark.sql.expressions.WindowSpec): Column =
    quantize(zExactOfInt(TimeSeries.cents(valueCol), w), 4)

  /** Standardized anomaly (z-score) per (station, variable) — the
    * SPI-style index in its simplest parametric form. One window
    * shuffle on the high-cardinality composite key; moments are
    * exact integer window sums ([[zExactOfInt]]). */
  def spiZscore(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        zScore4(col("value"), w).as("zscore"))
  }

  /** Drought EPISODES by run theory — the time-dimension complement
    * of [[zonalDroughtExtent]] (which answers "how much area is dry
    * NOW"; this answers "when did each dry spell start, how long did
    * it last, how deep did it go"): per (station, variable), each
    * maximal run of consecutive observations with index ≤ −1.0
    * becomes one row with start/end, duration, peak intensity
    * (minimum index) and severity (run-theory accumulated deficit,
    * Σ −index — the standard duration/severity/intensity triple of
    * drought monitoring, the event record the reference's SPI maps
    * are read for).
    *
    * Gaps-and-islands on ONE shuffle: the full-partition z-score
    * window, the lag that detects run starts, and the running
    * episode counter all share the same (station, variable) key, so
    * Catalyst plans a single exchange with the ordered windows
    * layered on one sort; the final per-episode aggregation is a
    * hash agg on (key, episode) — no second data-sized shuffle, no
    * self-join. Severity sums exact integer 1e-4 units of the
    * already-rounded index (SURVEY §5: never hash-gate a
    * merge-order-dependent double sum). */
  def droughtEpisodes(spark: SparkSession, dir: String): DataFrame =
    droughtEpisodesOf(Tables.events(spark, dir))

  /** [[droughtEpisodes]] over an arbitrary (event_id, ts, user_id,
    * event_type, value) frame — seam for spec-testing run detection
    * on constructed series. */
  private[graft] def droughtEpisodesOf(ev: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(evOrder: _*)
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // whole-partition stats phrased on the ORDERED spec (unbounded
    // frame) so all three window layers share one sort — an unordered
    // sibling spec would plan a second Sort under the same exchange.
    // Constant series (zero variance) yield a NULL index by
    // [[zExactOfInt]]'s guard — identically CASE-guarded in the oracle
    val wAll = wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val z = ev
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
        zScore4(col("value"), wAll).as("zscore"))
    // a null index (constant series → zero variance) is NOT dry: the
    // comparison is null → otherwise(0), identically CASE…ELSE 0 in
    // the oracle, so degenerate keys drop out of both engines alike
    z.withColumn("dry", when(col("zscore") <= -1.0, 1).otherwise(0))
      .withColumn("run_start",
        when(col("dry") === 1 &&
          coalesce(lag(col("dry"), 1).over(wOrd), lit(0)) === 0, 1)
          .otherwise(0))
      .withColumn("episode", sum(col("run_start")).over(wRun).cast("long"))
      .filter(col("dry") === 1)
      .groupBy(col("user_id"), col("event_type"), col("episode"))
      .agg(
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("t_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("t_end"),
        count(lit(1)).as("n_obs"),
        min(col("zscore")).as("peak"),
        (-sum(round(col("zscore") * 1e4).cast("long")).cast("double") / 1e4)
          .as("severity"))
  }

  /** Full SPI (`utils_spi.py:428-479`): t-scale rolling sum → per-key
    * Thom/MLE gamma fit (`floc=0`) → zero-probability-corrected CDF
    * H(x) = q + (1-q)·G(x) → Abramowitz–Stegun normal quantile.
    *
    * The fit is a MAP-SIDE PARTIAL aggregation (count/zero-count/
    * mean/mean-log) into one row per key; parameters re-join the fact
    * rows UNHINTED — params is one row per station/grid-cell, which
    * is fact-key cardinality at 100 TB, so forcing a broadcast would
    * OOM; AQE broadcasts it automatically while it is actually small.
    * The CDF + quantile evaluate inside whole-stage codegen via the
    * native expressions. */
  def spiGamma(spark: SparkSession, dir: String): DataFrame =
    spiGamma(spark, dir, 7)

  /** SPI at an arbitrary accumulation timescale (the reference runs
    * ts ∈ {1,3,6,12}; the driver-checked query uses 7 observations). */
  def spiGamma(spark: SparkSession, dir: String, tscale: Int): DataFrame = {
    val x = spiAccum(spark, dir, tscale)
    spiGammaOn(x, x)
  }

  /** SPI with the reference-period fit/apply SPLIT
    * (`utils_spi.py:33-35` `_reference_period`, `:412`
    * `sel(time=slice(*_reference_period))`): the gamma climatology is
    * fit ONLY on the reference window, and current/forecast rows are
    * indexed against those fixed params — the difference between a
    * climatological index and a self-referential one. Same plan shape
    * as [[spiGamma]]; the fit aggregation just reads a time-sliced
    * subset. Keys with no data inside the reference window have no
    * climatology → null spi (left join + null-propagating guard). */
  def spiGammaRef(spark: SparkSession, dir: String, tscale: Int,
      fitStartIso: String, fitEndIso: String): DataFrame = {
    val x = spiAccum(spark, dir, tscale)
    spiGammaOn(x,
      x.filter(col("ts") >= lit(fitStartIso).cast("timestamp") &&
        col("ts") < lit(fitEndIso).cast("timestamp")))
  }

  /** t-scale rolling accumulation per key (`utils_spi.py:446-449`) —
    * the series both the fit and the transform read. */
  private def spiAccum(spark: SparkSession, dir: String, tscale: Int): DataFrame = {
    val wRoll = Window.partitionBy(col("user_id")).orderBy(evOrder: _*)
      .rowsBetween(-(tscale - 1), Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        sum(col("value")).over(wRoll).as("x"))
  }

  /** SPI core: Thom/MLE gamma fit (`floc=0`) on `fitRows` →
    * zero-probability-corrected CDF H(x) = q + (1-q)·G(x) →
    * Abramowitz–Stegun normal quantile, applied to every row of `x`.
    * Public seam so the fit/apply split is spec-testable on
    * constructed series, and the key is COMPOSITE-ready (a member/
    * realization column joins the station key for ensemble products).
    * `x` needs (event_id, keys…, x); `fitRows` needs (keys…, x).
    * `carry` columns of `x` ride along into the output — cheaper than
    * re-joining the (window-computed) accumulation table afterwards,
    * which would evaluate the rolling window twice. */
  def spiGammaOn(x: DataFrame, fitRows: DataFrame,
      keys: Seq[String] = Seq("user_id"),
      carry: Seq[String] = Nil): DataFrame =
    spiGammaApply(x, spiGammaParams(fitRows, keys), keys, carry)

  /** The gamma-climatology FIT alone, as an exportable param table —
    * one row per key: (alpha, beta, q0, a_stat). Same param-table
    * workflow as [[quantileMapSplineParams]] (the reference persists
    * its fitted distribution params the same way,
    * `bias_correction_cds_process.py:310-324`): persist as parquet,
    * re-apply every scheduled run via [[spiGammaApply]] without
    * re-aggregating the climatology — spec'd to reproduce the
    * fit-and-apply plan bit-for-bit after a round-trip. */
  def spiGammaParams(fitRows: DataFrame,
      keys: Seq[String] = Seq("user_id")): DataFrame = {
    val kcols = keys.map(col)
    fitRows.groupBy(kcols: _*)
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(when(col("x") <= 0, 1).otherwise(0)).cast("double").as("n_zero"),
        avg(when(col("x") > 0, col("x"))).as("mean_pos"),
        avg(when(col("x") > 0, log(col("x")))).as("mean_ln"))
      .withColumn("a_stat", log(col("mean_pos")) - col("mean_ln"))
      .withColumn("alpha",
        (lit(1.0) + sqrt(lit(1.0) + lit(4.0) * col("a_stat") / lit(3.0)))
          / (lit(4.0) * col("a_stat")))
      .withColumn("beta", col("mean_pos") / col("alpha"))
      .withColumn("q0", col("n_zero") / col("n"))
      .select(kcols ++ Seq(col("alpha"), col("beta"), col("q0"), col("a_stat")): _*)
  }

  /** Apply a fitted (or loaded) gamma param table to accumulation
    * rows — the apply half of [[spiGammaOn]]. */
  def spiGammaApply(x: DataFrame, params: DataFrame,
      keys: Seq[String] = Seq("user_id"),
      carry: Seq[String] = Nil): DataFrame = {
    val kcols = keys.map(col)
    x.join(params, keys, "left")
      .withColumn("h",
        col("q0") + (lit(1.0) - col("q0"))
          * StatColumns.gammaCdf(col("x"), col("alpha"), col("beta")))
      .withColumn("h_clamped",
        least(greatest(col("h"), lit(1e-6)), lit(1.0 - 1e-6)))
      .select((col("event_id") +: kcols) ++ carry.map(col) ++ Seq(
        round(col("x"), 2).as("accum"),
        // a_stat -> 0 means a zero-variance (degenerate) accumulation
        // series: alpha diverges, the CDF is NaN, and Spark's NaN
        // ordering would silently clamp to extreme-wet. The index is
        // undefined there — emit null, as for missing data (and for
        // keys with no reference-window climatology: a_stat is null,
        // the guard is not-true, null again).
        // The oracle twin runs the identical series/continued-fraction
        // evaluation (as recursive CTEs), so the doubles agree to
        // ~1e-13 relative and the quantization is the only rounding
        // step.
        when(col("a_stat") > 1e-10,
          quantize(StatColumns.normQuantile(col("h_clamped")), 4))
          .otherwise(lit(null).cast("double")).as("spi")): _*)
  }

  /** Every SPI TIMESCALE product from ONE scan — the reference ships
    * SPI-1/-3/-6/-12 as separate products of the same input
    * (`utils_spi.py` is parameterized by `spi_ts` and the processes
    * loop over the scales); here the three rolling accumulations are
    * three FRAMES over the SAME window sort (one shuffle, one sort,
    * three running states), the scales unpivot to a (station, scale)
    * composite key, and ONE [[spiGammaOn]] pass fits and applies
    * every per-scale climatology — |scales|× the products for one
    * scan and one fit aggregation, instead of re-running the whole
    * pipeline per scale. */
  def spiMultiscale(spark: SparkSession, dir: String): DataFrame = {
    val scales = Seq(3, 7, 14)
    val w = Window.partitionBy(col("user_id")).orderBy(evOrder: _*)
    val accums = Tables.events(spark, dir)
      .select(Seq(col("event_id"), col("user_id")) ++ scales.map(s =>
        sum(col("value")).over(w.rowsBetween(-(s - 1), Window.currentRow))
          .as(s"x$s")): _*)
    val long = accums
      .select(col("event_id"), col("user_id"),
        explode(array(scales.map(s =>
          struct(lit(s).as("scale"), col(s"x$s").as("x"))): _*)).as("sx"))
      .select(col("event_id"), col("user_id"),
        col("sx.scale").as("scale"), col("sx.x").as("x"))
    spiGammaOn(long, long, Seq("user_id", "scale"))
  }

  /** The reference's literal ensemble SPI (`utils_spi.py:577`
    * `spi_ensemble` = gamma SPI per realization, then `nanmedian`
    * across members): the full gamma index runs per (station,
    * member) composite key through the same [[spiGammaOn]] core, the
    * per-member indices are aligned on the weekly axis, and the
    * member dimension collapses to its exact median (bounded group —
    * ≤ member count). */
  def spiEnsembleGamma(spark: SparkSession, dir: String): DataFrame = {
    val wRoll = Window.partitionBy(col("user_id"), col("member"))
      .orderBy(evOrder: _*)
      .rowsBetween(-6, Window.currentRow)
    val x = Tables.events(spark, dir)
      .withColumn("member", col("event_id") % 5)
      .select(col("event_id"), col("user_id"), col("member"), col("ts"),
        sum(col("value")).over(wRoll).as("x"))
    spiGammaOn(x, x, Seq("user_id", "member"), carry = Seq("ts"))
      .groupBy(col("user_id"),
        date_format(date_trunc("WEEK", col("ts")), "yyyy-MM-dd").as("week"))
      .agg(count(col("spi")).as("n"),
        quantize(percentile(col("spi"), lit(0.5)), 4)
          .as("spi_med"))
  }

  /** Reference-period end of the forecast-coverage split (the last
    * "historic" day; forecast leads cover the following days). */
  val CoverageRefEnd = "2024-01-24"
  /** Forecast leads and their target days — literal in both engines. */
  val CoverageLeads: Seq[(Int, String)] =
    (1 to 6).map(l => l -> f"2024-01-${24 + l}%02d")

  /** EXPANDING-history ensemble SPI per forecast lead
    * (`ingestor_cds_spi_forecast_process.py:218-267`
    * `compute_coverage_spi`: for every forecast month m and ensemble
    * member r, the SPI series is recomputed over ref-history ∪
    * forecast-up-to-m — `sel(time=cov_ts.time <= month)` — and only
    * the LAST value kept, `nt_return=1`; ref and forecast overlap on
    * the issue month and `drop_duplicates(dim="time")` keeps the REF
    * copy). Re-expressed on the daily axis: per (cell, member, lead)
    * the gamma climatology is FIT on ref days ∪ member-perturbed
    * forecast days ≤ the lead's target day, and evaluated at the
    * target day only.
    *
    * The overlap dedup is operationally real: the forecast slice
    * starts AT the ref end day and the collision is dropped by an
    * anti-join against ref (ref wins, exactly the reference's
    * keep-first). Shape at scale: leads (6) and members (O(50)) are
    * forecast-system CONSTANTS, so the triangular fit table is a
    * bounded multiple of the O(cells × days) daily table — one
    * map-side-partial fit aggregation per composite key, the same
    * [[spiGammaOn]] core, and the evaluated set is one row per
    * (cell, member, lead). */
  def spiForecastCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // pin the O(cells × days) daily table: ref, forecast, the
    // anti-join's build side and the evaluated-row branch all read
    // it — unpinned, each is another full scan of the fact table
    val daily = byDay(Tables.events(spark, dir))
      .agg(cents.as("c"))
      .localCheckpoint()
    val ref = daily.filter(col("day") <= CoverageRefEnd)
    val members = (0 until 5).toDF("member")
    // member-perturbed forecast in exact integer cents (member 0 is
    // the unperturbed control), overlap day included then deduped
    val fc = daily.filter(col("day") >= CoverageRefEnd)
      .crossJoin(broadcast(members))
      .select(col("user_id"), col("member"), col("day"),
        expr("c * (100 + member * 3) div 100").as("c"))
      .join(ref.select(col("user_id"), col("day")),
        Seq("user_id", "day"), "left_anti")
    val leads = CoverageLeads.toDF("lead", "day_l")
    val refX = ref.crossJoin(broadcast(members)).crossJoin(broadcast(leads))
      .select(col("user_id"), col("member"), col("lead"), col("day"),
        col("day_l"), (col("c").cast("double") / 100.0).as("x"))
    val fcX = fc.join(broadcast(leads), col("day") <= col("day_l"))
      .select(col("user_id"), col("member"), col("lead"), col("day"),
        col("day_l"), (col("c").cast("double") / 100.0).as("x"))
    val acc = refX.unionByName(fcX)
    val x = acc.filter(col("day") === col("day_l"))
      .withColumn("event_id",
        col("user_id") * 1000 + col("member") * 10 + col("lead"))
    spiGammaOn(x, acc, Seq("user_id", "member", "lead"), carry = Seq("day"))
  }

  /** Delta-method bias correction: per-key mean shift from the
    * forecast ('click') distribution onto the reference ('view')
    * distribution (`bias_correction_cds_process.py` delta mode). */
  def biasDelta(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    // BOTH per-station means from ONE conditional aggregation scan
    // (not two filtered scans + two joins), from exact cent sums with
    // one division each: the means (and so the delta) carry no
    // summation-order ulps into the quantized output. A side with no
    // rows yields a null mean, matching the former left-join shape.
    val means = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_type"),
        TimeSeries.cents(col("value")).as("c"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "view", col("c"))).as("rs"),
        count(when(col("event_type") === "view", lit(1))).as("rn"),
        sum(when(col("event_type") === "click", col("c"))).as("fs"),
        count(when(col("event_type") === "click", lit(1))).as("fn"))
      .select(col("user_id"),
        when(col("rn") > 0, centMean(col("rs"), col("rn"))).as("ref_mean"),
        when(col("fn") > 0, centMean(col("fs"), col("fn"))).as("fcst_mean"))
    ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "value")
      .join(means, Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"),
        round(col("value"), 2).as("fcst_value"),
        quantize(col("value")
          + coalesce(col("ref_mean") - col("fcst_mean"), lit(0.0)), 4).as("corrected"))
  }

  /** Linked-variable bias correction with algebraic reconstruction —
    * the reference's temperature path (`bias_correction_cds_process
    * .py:394-400` `bias_correction_t2m`): it corrects `t2m_min` and
    * `t2m_range` INDEPENDENTLY, then reconstructs
    * `max = min + range` and `avg = (min + max)/2`, so the corrected
    * triple can never invert (max ≥ min holds because the range is
    * clamped ≥ 0 like precipitation at `:390-391`). Here the two
    * linked series are the daily minimum and daily spread of the
    * forecast ('click') stream, delta-corrected against the observed
    * ('view') stream per station.
    *
    * Plan: two grouped daily aggregations (one shuffle each on
    * (user_id, day)), per-station delta means (O(stations) rows),
    * an unhinted join back (AQE broadcasts the delta side at
    * runtime), then the reconstruction is pure elementwise
    * arithmetic in the final projection. */
  def biasReconstruct(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def daily(t: String) = ev.filter(col("event_type") === t)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(min(col("value")).as("vmin"),
        (max(col("value")) - min(col("value"))).as("vrange"))
    reconstructFrom(daily("click"), daily("view"))
  }

  /** [[biasReconstruct]]'s correction+reconstruction core over
    * arbitrary forecast/reference daily frames
    * (user_id, day, vmin, vrange). */
  private[graft] def reconstructFrom(fc: DataFrame, ref: DataFrame): DataFrame = {
    // means from exact cent sums (vmin/vrange are 2-decimal), ONE
    // division each: both engines derive the deltas from identical
    // bits, so no summation-order ulp exists to straddle a quantum
    def means(df: DataFrame, p: String) = df.groupBy(col("user_id"))
      .agg(
        centMean(sum(TimeSeries.cents(col("vmin"))), count(lit(1))).as(s"${p}_min_mean"),
        centMean(sum(TimeSeries.cents(col("vrange"))), count(lit(1))).as(s"${p}_range_mean"))
    val deltas = means(fc, "f")
      .join(means(ref, "r"), Seq("user_id"))
      .select(col("user_id"),
        // quantize the deltas once so a grid-point v±ulp from the
        // divisions floors identically everywhere downstream
        quantize(col("r_min_mean") - col("f_min_mean"), 6)
          .as("d_min"),
        quantize(col("r_range_mean") - col("f_range_mean"), 6)
          .as("d_range"))
    fc.join(deltas, Seq("user_id"))
      .withColumn("min_adj", col("vmin") + col("d_min"))
      // range clamps at 0 (`:390-391`), which guarantees max ≥ min
      .withColumn("range_adj", greatest(col("vrange") + col("d_range"), lit(0.0)))
      .withColumn("max_adj", col("min_adj") + col("range_adj"))
      .select(col("user_id"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        quantize(col("min_adj"), 4).as("t_min_adj"),
        quantize(col("max_adj"), 4).as("t_max_adj"))
      // the average derives from the QUANTIZED min/max, not the raw
      // ones: halving two raw doubles lands on exact half-quantum
      // boundaries where engine ulp noise flips the floor, while the
      // quantized inputs are bit-identical on both engines so every
      // later operation is too (observed: 15/3000 rows flipped)
      .withColumn("t_avg_adj",
        quantize((col("t_min_adj") + col("t_max_adj")) / 2, 4))
  }

  /** Empirical quantile mapping of `fcst` onto `ref`'s distribution,
    * per key (`bias_correction_cds_process.py:310-400`, rank-interp
    * form). Both inputs need (event_id, user_id, value).
    *
    * Plan: the reference distribution is sorted per key and indexed
    * once (window row_number); each forecast value's percent-rank
    * lands at a fractional index into it, and the bracketing two
    * quantiles arrive via two joins on (key, index) — all shuffles on
    * the high-cardinality key, no per-key collect. */
  def quantileMap(fcst: DataFrame, ref: DataFrame): DataFrame = {
    val wRank = Window.partitionBy(col("user_id")).orderBy(col("value"))
    // each knot carries its SUCCESSOR via lead() on the same window
    // sort that assigns the index — so one equi-join on (key, idx_lo)
    // retrieves both bracketing quantiles, instead of a second join
    // (and, pre-checkpoint, a second fact scan) on idx_hi. v_next is
    // null only at the last knot, which is reachable only when fpos
    // is integral there — where the v_lo branch is taken anyway.
    val wIdx = Window.partitionBy(col("user_id")).orderBy(col("ref_value"))
    val refSorted = ref
      .select(col("user_id"), col("value").as("ref_value"))
      .withColumn("idx_lo", row_number().over(wIdx) - 1)
      .withColumn("v_next", lead(col("ref_value"), 1).over(wIdx))
    val refN = refSorted.groupBy("user_id")
      .agg(count(lit(1)).as("n_ref"))
    fcst
      .withColumn("p",
        when(count(lit(1)).over(Window.partitionBy(col("user_id"))) === 1, lit(0.0))
          .otherwise(percent_rank().over(wRank)))
      .join(refN, Seq("user_id"))
      .withColumn("fpos", col("p") * (col("n_ref") - 1))
      .withColumn("idx_lo", floor(col("fpos")).cast("int"))
      .join(refSorted.withColumnRenamed("ref_value", "v_lo"),
        Seq("user_id", "idx_lo"))
      .withColumn("v_hi",
        when(col("fpos") === col("idx_lo"), col("v_lo")).otherwise(col("v_next")))
      .select(col("event_id"), col("user_id"),
        round(col("value"), 2).as("fcst_value"),
        quantize(col("v_lo")
          + (col("fpos") - col("idx_lo")) * (col("v_hi") - col("v_lo")), 4).as("mapped"))
  }

  /** Quantile-map the 'click' series onto the 'view' climate. */
  def biasQmap(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def side(t: String) = ev.filter(col("event_type") === t)
      .select("event_id", "user_id", "value")
    quantileMap(side("click"), side("view"))
  }

  /** BIAS-CORRECTION SKILL SCORES — the validation the correction
    * lane ships with (a correction nobody scored is a correction
    * nobody should apply): per station, the decile-grid RMSE of the
    * raw forecast distribution vs the reference, the same for the
    * [[biasQmap]]-corrected distribution, and the fractional
    * improvement. Distribution-level scoring is the right check for
    * a DISTRIBUTIONAL correction — quantile mapping promises aligned
    * quantile functions, so the score reads exactly that promise.
    *
    * Determinism: each decile quantizes ONCE to integer 1e-4 units,
    * squared-difference sums are exact longs over 9 terms, and each
    * RMSE/ratio is one fixed double expression — both engines agree
    * bit-for-bit (`quantile_cont` ↔ `percentile` is the proven
    * [[zonalSpiQuantiles]] pairing). Shape at scale: three
    * station-keyed aggregations (the qmap plan feeds one of them)
    * and two sliver joins; output O(stations). */
  def biasSkill(spark: SparkSession, dir: String): DataFrame = {
    val deciles = "array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D)"
    def decs(df: DataFrame, name: String) =
      df.groupBy("user_id").agg(
        expr(s"transform(percentile(value, $deciles), " +
          "x -> CAST(floor(x * 1e4 + 0.5) AS BIGINT))").as(name))
    val ev = Tables.events(spark, dir)
    val rq = decs(ev.filter(col("event_type") === "view")
      .select("user_id", "value"), "rq")
    val fq = decs(ev.filter(col("event_type") === "click")
      .select("user_id", "value"), "fq")
    val cq = decs(biasQmap(spark, dir)
      .select(col("user_id"), col("mapped").as("value")), "cq")
    def ssd(a: String, b: String) =
      expr(s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), " +
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)")
    def rmse(a: String, b: String) =
      sqrt(ssd(a, b).cast("double") / 9.0) / 1e4
    rq.join(fq, Seq("user_id")).join(cq, Seq("user_id"))
      .select(col("user_id"),
        round(rmse("fq", "rq"), 4).as("rmse_raw"),
        round(rmse("cq", "rq"), 4).as("rmse_corrected"),
        when(ssd("fq", "rq") > 0,
          round(lit(1.0) - rmse("cq", "rq") / rmse("fq", "rq"), 4))
          .as("improvement"))
  }

  /** QUANTILE DELTA MAPPING (Cannon, Sobie & Murdock 2015) — the
    * TREND-PRESERVING bias correction modern climate services use
    * where plain quantile mapping ([[biasQmap]]) would inflate or
    * deflate the model's own climate-change signal: each future value
    * x keeps ITS OWN quantile p in the future distribution, and the
    * correction is the additive delta between the observed and
    * modeled-historical quantile functions AT THAT p:
    * corrected = x + (obs_q(p) − hist_q(p)), clamped at 0.
    * Scaled-down framing (the [[biasQmapKey]]/spiGammaRef split
    * convention): obs = the full 'view' record, hist = 'click' before
    * the split date, future = 'click' from the split on.
    *
    * Shape at scale: every window and join partitions on the
    * high-cardinality station key; each quantile table carries its
    * successor via lead() on the SAME sort that assigns its index
    * (the [[quantileMap]] trick), so each of the two interpolations
    * is ONE equi-join — never a range join. Stations missing either
    * distribution drop out via the inner joins (documented: QDM is
    * undefined without both references).
    *
    * Engine invariance: p = percent_rank (exact integer ratio),
    * fractional positions and interpolants are the same IEEE
    * expression both sides, delta and corrected floor-quantized once
    * (the [[quantileMap]] half-quantum argument). */
  def biasQdm(spark: SparkSession, dir: String): DataFrame =
    biasQdmOf(Tables.events(spark, dir))

  /** [[biasQdm]] over an arbitrary (event_id, user_id, ts,
    * event_type, value) frame — seam for the identity and
    * trend-preservation specs. */
  private[graft] def biasQdmOf(ev: DataFrame): DataFrame = {
    val split = lit("2024-01-16 00:00:00").cast("timestamp")
    val obs = ev.filter(col("event_type") === "view")
      .select("event_id", "user_id", "value")
    val hist = ev.filter(col("event_type") === "click" && col("ts") < split)
      .select("event_id", "user_id", "value")
    val fut = ev.filter(col("event_type") === "click" && col("ts") >= split)
      .select("event_id", "user_id", "value")
    def knots(df: DataFrame, v: String, idx: String): DataFrame = {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value"), col("event_id"))
      df.withColumn(idx, row_number().over(w) - 1)
        .withColumn(v + "_next", lead(col("value"), 1).over(w))
        .select(col("user_id"), col(idx), col("value").as(v),
          col(v + "_next"))
    }
    val ok = knots(obs, "ov", "o_idx")
    val hk = knots(hist, "hv", "h_idx")
    val on = obs.groupBy("user_id").agg(count(lit(1)).as("n_obs"))
    val hn = hist.groupBy("user_id").agg(count(lit(1)).as("n_hist"))
    val wRank = Window.partitionBy(col("user_id")).orderBy(col("value"))
    val p = fut
      .withColumn("pr",
        when(count(lit(1)).over(Window.partitionBy(col("user_id"))) === 1,
          lit(0.0)).otherwise(percent_rank().over(wRank)))
      .join(on, Seq("user_id")).join(hn, Seq("user_id"))
      .withColumn("opos", col("pr") * (col("n_obs") - 1))
      .withColumn("o_idx", floor(col("opos")).cast("int"))
      .withColumn("hpos", col("pr") * (col("n_hist") - 1))
      .withColumn("h_idx", floor(col("hpos")).cast("int"))
    val interp = p
      .join(ok, Seq("user_id", "o_idx"))
      .withColumn("o_hi",
        when(col("opos") === col("o_idx"), col("ov")).otherwise(col("ov_next")))
      .join(hk, Seq("user_id", "h_idx"))
      .withColumn("h_hi",
        when(col("hpos") === col("h_idx"), col("hv")).otherwise(col("hv_next")))
      .withColumn("oq", col("ov")
        + (col("opos") - col("o_idx")) * (col("o_hi") - col("ov")))
      .withColumn("hq", col("hv")
        + (col("hpos") - col("h_idx")) * (col("h_hi") - col("hv")))
    interp.select(col("event_id"), col("user_id"),
      round(col("value"), 2).as("fcst_value"),
      quantize(col("oq") - col("hq"), 4).as("delta"),
      quantize(greatest(col("value") + (col("oq") - col("hq")), lit(0.0)), 4).as("corrected"))
  }

  /** Fit preamble shared by [[quantileMapFit]] and
    * [[quantileMapSplineParams]]: forecast knots `fk` (keys…, fv, tie,
    * fidx), reference knots `rk` (keys…, idx_lo, v_lo, v_next) and the
    * per-key count/min/max of each train side (`fagg`: nf, fmin, fmax;
    * `ragg`: nr, rmin, rmax). */
  private def quantileMapKnots(kcols: Seq[Column], fcstTrain: DataFrame,
      refTrain: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    def byKey = Window.partitionBy(kcols: _*)
    val fk = fcstTrain
      .select(kcols :+ col("value").as("fv") :+ col("event_id").as("tie"): _*)
      .withColumn("fidx",
        row_number().over(byKey.orderBy(col("fv"), col("tie"))) - 1)
    // each reference knot carries its successor via lead() on the
    // SAME sort that assigns ridx: one equi-join on idx_lo retrieves
    // both bracketing quantiles (idx_hi = ceil(fpos) ∈ {lo, lo+1}) —
    // the quantileMap trick, one join and one rk expansion fewer
    val wRef = byKey.orderBy(col("rv"), col("tie"))
    val rk = refTrain
      .select(kcols :+ col("value").as("rv") :+ col("event_id").as("tie"): _*)
      .withColumn("ridx", row_number().over(wRef) - 1)
      .withColumn("rv_next", lead(col("rv"), 1).over(wRef))
      .select(kcols ++ Seq(col("ridx").as("idx_lo"),
        col("rv").as("v_lo"), col("rv_next").as("v_next")): _*)
    // count/min/max need no rank window: aggregate the RAW train
    // frames so neither agg re-expands a per-key sort
    val fagg = fcstTrain.groupBy(kcols: _*).agg(count(lit(1)).as("nf"),
      min(col("value")).as("fmin"), max(col("value")).as("fmax"))
    val ragg = refTrain.groupBy(kcols: _*).agg(count(lit(1)).as("nr"),
      min(col("value")).as("rmin"), max(col("value")).as("rmax"))
    (fk, rk, fagg, ragg)
  }

  /** Shared tail of the quantile-map transfers: outside the fitted
    * range (`oob` low/high) the constant edge delta (`:349-358`),
    * inside it `inRange`; then clamp at 0 (`:389`), floor-quantized
    * for engine invariance. */
  private def correctedOf(positioned: DataFrame, kcols: Seq[Column],
      inRange: Column): DataFrame =
    positioned
      .withColumn("mapped_raw",
        when(col("oob") === "low", col("x") + (col("rmin") - col("fmin")))
          .when(col("oob") === "high", col("x") + (col("rmax") - col("fmax")))
          .otherwise(inRange))
      .select((col("event_id") +: kcols) ++ Seq(
        round(col("x"), 2).as("fcst_value"),
        col("oob"),
        quantize(greatest(col("mapped_raw"), lit(0.0)), 4)
          .as("corrected")): _*)

  /** FIT-THEN-APPLY empirical quantile mapping over a COMPOSITE key —
    * the reference's actual bias-correction mechanics
    * (`bias_correction_cds_process.py:311-320` params per (member r,
    * init-month, lead-month); `:349-358` CONSTANT adjustment outside
    * the fitted range; `:389` clamp at 0). The mapping is fit on a
    * training pair (hindcast `fcstTrain` vs observations `refTrain`)
    * and applied to LATER forecast rows, whose values can fall
    * outside the fitted range — unlike [[quantileMap]]'s
    * self-referential rank form, where out-of-range cannot occur.
    *
    * Per apply value x: its fractional position in the fitted
    * forecast distribution comes from an AS-OF alignment (union the
    * sorted knots with the apply rows, one ordered window pass per
    * direction — never a per-key collect or a range-join explosion);
    * that percent maps into the reference distribution by linear
    * interpolation between the two bracketing reference knots
    * (equi-joins on (key, index)). Below/above the fitted range the
    * correction degrades to the constant edge delta, then clamps at
    * 0. Every shuffle is on the composite key; knots, counts and
    * extremes are all O(keys·train) aggregates.
    *
    * Ties are made engine-invariant by a total sort order: knot
    * indices are assigned by (value, event_id) and the union scan
    * orders by (value, kind, event_id), so duplicate training values
    * cannot flip the carried index between engines.
    *
    * KEY-CARDINALITY CONTRACT: every window and shuffle here
    * partitions by `keys` ALONE, so the composite key MUST include
    * the station/grid-cell dimension (the reference fits per
    * `st_idx` too, `bias_correction_cds_process.py:311-320`). With a
    * high-cardinality key the per-key ordered scans each sort only
    * (train knots + apply rows for that key) — embarrassingly
    * parallel at any corpus size. A low-cardinality key (e.g. the
    * 60-partition test mapping in [[biasQmapKey]], fine at oracle
    * scale) would absorb the whole fact table through that many
    * tasks. Spec'd with keys ⊇ (user_id, member) in ClimateSpec.
    *
    * Inputs all need (`event_id`, keys…, `value`). Output: one row
    * per apply row with the in/low/high range flag and the corrected
    * value. */
  def quantileMapFit(keys: Seq[String], fcstTrain: DataFrame,
      refTrain: DataFrame, applyRows: DataFrame): DataFrame = {
    val kcols = keys.map(col)
    def byKey = Window.partitionBy(kcols: _*)
    val (fk, rk, fagg, ragg) = quantileMapKnots(kcols, fcstTrain, refTrain)
    val knotRows = fk.select(kcols ++ Seq(
      col("fv").as("sortv"), lit(0).as("kind"), col("tie"),
      col("fidx").as("k_idx"), col("fv").as("k_fv"),
      lit(null).cast("long").as("event_id"),
      lit(null).cast("double").as("x")): _*)
    val applyU = applyRows.select(kcols ++ Seq(
      col("value").as("sortv"), lit(1).as("kind"), col("event_id").as("tie"),
      lit(null).cast("int").as("k_idx"), lit(null).cast("double").as("k_fv"),
      col("event_id"), col("value").as("x")): _*)
    // ascending scan carries the LAST knot at-or-below x (its index is
    // the ≤-count − 1); descending scan carries the FIRST knot
    // strictly above x. kind sorts apply rows after equal-valued knots
    // in the ascending pass and before them in the descending one, so
    // "at-or-below" and "strictly-above" hold exactly on both engines.
    val wLo = byKey.orderBy(col("sortv").asc, col("kind").asc, col("tie").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wHi = byKey.orderBy(col("sortv").desc, col("kind").desc, col("tie").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val positioned = knotRows.unionByName(applyU)
      .withColumn("lo_idx", last(col("k_idx"), ignoreNulls = true).over(wLo))
      .withColumn("lo_fv", last(col("k_fv"), ignoreNulls = true).over(wLo))
      .withColumn("hi_fv", last(col("k_fv"), ignoreNulls = true).over(wHi))
      .filter(col("kind") === 1)
    val withPos = positioned
      .join(fagg, keys).join(ragg, keys)
      .withColumn("oob", when(col("lo_idx").isNull, "low")
        .when(col("hi_fv").isNull, "high").otherwise("in"))
      // in-range implies two distinct knots bracket x, so nf ≥ 2 and
      // hi_fv > lo_fv strictly: both divisions are safe
      .withColumn("fr", col("lo_idx")
        + (col("x") - col("lo_fv")) / (col("hi_fv") - col("lo_fv")))
      .withColumn("fpos", col("fr") / (col("nf") - 1) * (col("nr") - 1))
      .withColumn("idx_lo", floor(col("fpos")).cast("int"))
      .withColumn("idx_hi", ceil(col("fpos")).cast("int"))
    val bracketed = withPos.join(rk, keys :+ "idx_lo", "left")
      // integral fpos (incl. the last knot, whose successor is null)
      // brackets to itself; otherwise idx_hi = idx_lo + 1 = v_next
      .withColumn("v_hi",
        when(col("idx_hi") === col("idx_lo"), col("v_lo"))
          .otherwise(col("v_next")))
    correctedOf(bracketed, kcols,
      col("v_lo") + (col("fpos") - col("idx_lo")) * (col("v_hi") - col("v_lo")))
  }

  /** MONOTONE-CUBIC (Fritsch–Carlson) variant of [[quantileMapFit]] —
    * the reference's transfer function is a precomputed spline
    * evaluated between the fitted range bounds
    * (`bias_correction_cds_process.py:325-358` `splev`), not a
    * piecewise-linear interpolant. This builds the same transfer
    * knots from the same per-key ordered windows, then interpolates
    * between them with a monotone cubic Hermite:
    *
    *  - transfer knots: duplicate forecast values collapse to one
    *    strictly-increasing knot per (key, fv) (representative index
    *    = the largest tie index, matching the linear path's
    *    last-at-or-below carry); each knot's ordinate is the
    *    reference quantile at its fractional position — an
    *    O(keys·knots) pair of equi-joins into the sorted reference.
    *  - tangents: secants + Fritsch–Carlson limiting via lag/lead
    *    windows over the knots table (O(keys·knots)). Both
    *    coordinates are sorted ascending, so every secant is ≥ 0 and
    *    clamping each tangent into [0, 3·min(adjacent secants)] lands
    *    inside the FC monotonicity box [0,3]² — no iteration, no
    *    driver round-trip, provably monotone on every segment.
    *  - evaluation: each knot row carries its OUTGOING segment's full
    *    coefficient set as ONE struct through the same as-of union
    *    pass (a single struct so a trailing knot's null lead fields
    *    can't mix with an older knot's); the cubic Hermite form is
    *    then elementwise. Out-of-range keeps the linear path's
    *    constant edge delta + clamp-at-0, so the two variants differ
    *    ONLY in the in-range interpolant.
    *
    * Same KEY-CARDINALITY CONTRACT as [[quantileMapFit]]. */
  def quantileMapFitSpline(keys: Seq[String], fcstTrain: DataFrame,
      refTrain: DataFrame, applyRows: DataFrame): DataFrame =
    // pin the O(keys·knots) param table: the apply side reads it
    // twice (edge params + knot rows), and without the checkpoint
    // each reference re-runs the whole fit subplan — two extra train
    // scans and sorts (plan-audited). A parquet-loaded param table
    // gets the same two cheap reads either way.
    quantileMapApplySpline(keys,
      quantileMapSplineParams(keys, fcstTrain, refTrain).localCheckpoint(),
      applyRows)

  /** FIT side of the spline transfer, exported as a PARAMETER TABLE —
    * the reference's param-file workflow (`bias_correction_cds_process
    * .py:310-324` `load_param_file`/`df_params`: pretrained transfer
    * params loaded per `st_idx` and applied without refitting). One
    * row per strictly-increasing transfer knot with its OUTGOING
    * segment's Hermite coefficients plus the per-key edge params:
    *
    *   keys…, x0, x1, y0, y1, m0, m1, fmin, fmax, rmin, rmax
    *
    * (the trailing knot has null x1/y1/m1). Persist with
    * `write.parquet` and hand to [[quantileMapApplySpline]] in any
    * later run — every column is an exact double/long, so the
    * round-trip is bit-for-bit (spec'd in ClimateSpec). */
  def quantileMapSplineParams(keys: Seq[String], fcstTrain: DataFrame,
      refTrain: DataFrame): DataFrame = {
    val kcols = keys.map(col)
    def byKey = Window.partitionBy(kcols: _*)
    val (fk, rk, fagg, ragg) = quantileMapKnots(kcols, fcstTrain, refTrain)
    // strictly-increasing transfer knots + reference-quantile ordinate
    val fknots = fk.groupBy(kcols :+ col("fv"): _*)
      .agg(max(col("fidx")).as("fidx"))
    val pos = fknots.join(fagg, keys).join(ragg, keys)
      .withColumn("fpos",
        when(col("nf") === 1, lit(0.0))
          .otherwise(col("fidx") / (col("nf") - 1) * (col("nr") - 1)))
      .withColumn("idx_lo", floor(col("fpos")).cast("int"))
      .withColumn("idx_hi", ceil(col("fpos")).cast("int"))
    val withY = pos.join(rk, keys :+ "idx_lo")
      // fit fpos ≤ nr−1 by construction, so a missing successor can
      // only coincide with integral fpos → the v_lo branch
      .withColumn("v_hi",
        when(col("idx_hi") === col("idx_lo"), col("v_lo"))
          .otherwise(col("v_next")))
      .withColumn("y",
        col("v_lo") + (col("fpos") - col("idx_lo")) * (col("v_hi") - col("v_lo")))
    // secants + FC-limited tangents (all secants ≥ 0 by construction)
    val wOrd = byKey.orderBy(col("fv"))
    val withD = withY
      .withColumn("x1", lead(col("fv"), 1).over(wOrd))
      .withColumn("y1", lead(col("y"), 1).over(wOrd))
      .withColumn("d", (col("y1") - col("y")) / (col("x1") - col("fv")))
      .withColumn("d_prev", lag(col("d"), 1).over(wOrd))
    val mBase =
      when(col("d_prev").isNull && col("d").isNull, lit(0.0))
        .when(col("d_prev").isNull, col("d"))
        .when(col("d").isNull, col("d_prev"))
        .when(col("d_prev") === 0.0 || col("d") === 0.0, lit(0.0))
        .otherwise((col("d_prev") + col("d")) / 2.0)
    withD
      .withColumn("m0", least(mBase,
        coalesce(lit(3.0) * col("d_prev"), mBase),
        coalesce(lit(3.0) * col("d"), mBase)))
      .withColumn("m1", lead(col("m0"), 1).over(wOrd))
      .select(kcols ++ Seq(
        col("fv").as("x0"), col("x1"), col("y").as("y0"), col("y1"),
        col("m0"), col("m1"),
        col("fmin"), col("fmax"), col("rmin"), col("rmax")): _*)
  }

  /** APPLY side: map forecast rows through a PRECOMPUTED transfer
    * table in [[quantileMapSplineParams]] shape — no refitting, the
    * reference's `splev(x, params)` step. Knot positioning is the
    * same single as-of union pass as the fitted path; out-of-range
    * keeps the constant edge delta + clamp-at-0. Because
    * [[quantileMapFitSpline]] IS this function over the freshly
    * fitted table, a parquet round-trip of the params cannot change a
    * single output bit. */
  def quantileMapApplySpline(keys: Seq[String], params: DataFrame,
      applyRows: DataFrame): DataFrame = {
    val kcols = keys.map(col)
    def byKey = Window.partitionBy(kcols: _*)
    // per-key edge params (constant across a key's knot rows)
    val edges = params.groupBy(kcols: _*).agg(
      first(col("fmin")).as("fmin"), first(col("fmax")).as("fmax"),
      first(col("rmin")).as("rmin"), first(col("rmax")).as("rmax"))
    val segType = "struct<x0:double,x1:double,y0:double,y1:double," +
      "m0:double,m1:double>"
    val knotRows = params.select(kcols ++ Seq(
      col("x0").as("sortv"), lit(0).as("kind"), lit(0L).as("tie"),
      struct(col("x0"), col("x1"), col("y0"), col("y1"),
        col("m0"), col("m1")).as("seg"),
      lit(null).cast("long").as("event_id"),
      lit(null).cast("double").as("x")): _*)
    val applyU = applyRows.select(kcols ++ Seq(
      col("value").as("sortv"), lit(1).as("kind"), col("event_id").as("tie"),
      lit(null).cast(segType).as("seg"),
      col("event_id"), col("value").as("x")): _*)
    val wLo = byKey.orderBy(col("sortv").asc, col("kind").asc, col("tie").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val positioned = knotRows.unionByName(applyU)
      .withColumn("sg", last(col("seg"), ignoreNulls = true).over(wLo))
      .filter(col("kind") === 1)
    val t = (col("x") - col("sg.x0")) / (col("sg.x1") - col("sg.x0"))
    val omt = lit(1.0) - t
    val h = col("sg.x1") - col("sg.x0")
    val hermite =
      col("sg.y0") * (lit(1.0) + lit(2.0) * t) * omt * omt +
        h * col("sg.m0") * t * omt * omt +
        col("sg.y1") * t * t * (lit(3.0) - lit(2.0) * t) +
        h * col("sg.m1") * t * t * (t - lit(1.0))
    // carried-last-knot-has-no-successor ⟺ x ≥ fmax: same edge
    // classification as the linear variant (x == fmax is "high"
    // there too, and the constant delta reproduces rmax exactly)
    val classified = positioned.join(edges, keys)
      .withColumn("oob", when(col("sg").isNull, "low")
        .when(col("sg.x1").isNull, "high")
        .otherwise("in"))
    correctedOf(classified, kcols, hermite)
  }

  /** Quantile-anchor count for the literal B-spline transfer fit. */
  private[graft] val BsplineAnchors = 17

  /** LITERAL `splrep`-family FIT — the B-spline sibling of
    * [[quantileMapSplineParams]], same param-table workflow
    * (`bias_correction_cds_process.py:310-324` load/apply split) but
    * the reference's ACTUAL curve family: a clamped cubic B-spline
    * (t, c, k=3) instead of the Fritsch–Carlson Hermite substitute.
    * Per key: a fixed [[BsplineAnchors]]-point quantile grid of both
    * train sides (exact interpolated percentile — one hash agg, no
    * rank window), then the interpolating-spline solve runs IN THE
    * KEY ROW as one compiled call
    * ([[graft.expressions.BsplineFitExpr]]: FITPACK knots,
    * collocation, bounded dense solve) — key cardinality stays
    * unbounded, nothing collects. Out-of-range follows the reference
    * exactly: a constant ADDITIVE adjustment (`d + dmin` below
    * `t[k]`, `d + dmax` above `t[-k]`), carried as dmin/dmax param
    * columns. Keys whose deduped anchors degenerate below 4 points
    * drop out (flat distributions have no spline to fit). */
  def bsplineTransferParams(keys: Seq[String], fcstTrain: DataFrame,
      refTrain: DataFrame): DataFrame = {
    val kcols = keys.map(col)
    val probs = array((0 until BsplineAnchors)
      .map(j => lit(j / (BsplineAnchors - 1).toDouble)): _*)
    val fagg = fcstTrain.groupBy(kcols: _*)
      .agg(percentile(col("value"), probs).as("xq"),
        min(col("value")).as("fmin"), max(col("value")).as("fmax"))
    val ragg = refTrain.groupBy(kcols: _*)
      .agg(percentile(col("value"), probs).as("yq"),
        min(col("value")).as("rmin"), max(col("value")).as("rmax"))
    fagg.join(ragg, keys)
      .withColumn("fit",
        graft.expressions.SplineColumns.bsplineFit(col("xq"), col("yq")))
      .filter(col("fit").isNotNull)
      .select(kcols ++ Seq(col("fit.t").as("t"), col("fit.c").as("c"),
        (col("rmin") - col("fmin")).as("dmin"),
        (col("rmax") - col("fmax")).as("dmax")): _*)
  }

  /** APPLY side of the literal spline transfer — the reference's
    * `splev` loop verbatim (`bias_correction_cds_process.py:339-358`:
    * below `tmin = t[k]` add dmin, above `tmax = t[-k]` add dmax,
    * else evaluate the spline), one compiled de Boor triangle per
    * fact row ([[graft.expressions.SplevExpr]]). Params are O(keys)
    * — the join broadcasts or shuffles as AQE sizes it. */
  def bsplineTransferApply(keys: Seq[String], params: DataFrame,
      applyRows: DataFrame): DataFrame = {
    val kcols = keys.map(col)
    applyRows.select(kcols ++ Seq(col("event_id"), col("value").as("x")): _*)
      .join(params, keys)
      .withColumn("tmin", expr("element_at(t, 4)"))
      .withColumn("tmax", expr("element_at(t, cast(size(t) - 2 as int))"))
      .withColumn("oob", when(col("x") < col("tmin"), "low")
        .when(col("x") > col("tmax"), "high").otherwise("in"))
      .withColumn("raw",
        when(col("oob") === "low", col("x") + col("dmin"))
          .when(col("oob") === "high", col("x") + col("dmax"))
          .otherwise(graft.expressions.SplineColumns
            .splev(col("t"), col("c"), col("x"))))
      .select((col("event_id") +: kcols) ++ Seq(
        round(col("x"), 2).as("fcst_value"), col("oob"),
        quantize(col("raw"), 4).as("corrected")): _*)
  }

  /** PRETRAINED literal spline params, one row per station group —
    * the reference's param-FILE seam (`load_param_file` reads
    * offline-fitted (t, c, dmin, dmax) per station; nothing in the
    * query fits anything). Deterministic pure-Scala doubles: a
    * 17-anchor grid on [2, 98] with a per-group quadratic ordinate,
    * fitted once by [[graft.functions.SplineKernels.fitCoeffs]] at
    * build time — the SAME Seq renders the Spark param table and the
    * oracle's literal VALUES rows, so there is one source of truth
    * for every knot and coefficient. */
  private[graft] lazy val pretrainedBspline
      : Seq[(Long, Seq[Double], Seq[Double], Double, Double)] =
    (0L until 20L).map { g =>
      val xs = (0 until BsplineAnchors).map(j => 2.0 + 6.0 * j).toArray
      val ys = xs.map(x =>
        (0.8 + 0.02 * g) * x + (g % 5) * 0.003 * x * x + 0.5 * g)
      (g, graft.functions.SplineKernels.fitpackKnots(xs).toSeq,
        graft.functions.SplineKernels.fitCoeffs(xs, ys).toSeq,
        1.5 + 0.1 * g, -2.0 + 0.2 * g)
    }

  /** Pretrained-spline bias adjustment of the forecast stream — the
    * reference's bias-correction apply step run EXACTLY as shipped:
    * per-group literal (t, c, dmin, dmax) loaded (not fitted),
    * `splev` in range, constant additive adjustment outside.
    * Oracle-checked bit-for-bit: the oracle carries the identical
    * literal knot/coefficient lists and replays the identical
    * unrolled de Boor op chain in SQL. Shape at scale: a 20-row
    * broadcast join + one compiled expression per fact row — no
    * shuffle beyond the scan. */
  def biasBsplineApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val params = broadcast(
      pretrainedBspline.toDF("grp", "t", "c", "dmin", "dmax"))
    val ev = Tables.events(spark, dir)
      .filter(col("event_type") === "click")
      .withColumn("grp", col("user_id") % 20)
    bsplineTransferApply(Seq("grp"), params, ev)
  }

  /** Probability grid for the pretrained gamma-quantile anchor
    * tables: 100 points, 0.005 … 0.995. */
  private[graft] val ParamQGrid: Seq[Double] =
    (0 until 100).map(j => 0.005 + 0.01 * j)

  /** PRETRAINED PARAMETRIC distribution-mapping params per station
    * group — the `georgia_cds_bias_correction_process.py:346-421`
    * workflow: per-key distribution parameters are loaded from
    * pretrained CSVs (normal for temperature, gamma for
    * precipitation) and the correction is the distribution transfer
    * corrected = F_obs⁻¹(F_fc(x)) — the PARAMETRIC sibling of the
    * empirical [[quantileMapFit]] family. Deterministic literals,
    * one row per group: (μf, σf, μo, σo) for the normal branch,
    * (αf, βf, αo, βo) for the gamma branch. */
  private[graft] lazy val pretrainedParametric: Seq[(Long, Double, Double,
      Double, Double, Double, Double, Double, Double)] =
    (0L until 20L).map { g =>
      (g,
        45.0 + g, 18.0 + 0.5 * g, 42.0 + 0.9 * g, 15.0 + 0.4 * g,
        1.2 + 0.05 * g, 30.0 + g, 1.5 + 0.04 * g, 25.0 + 0.8 * g)
    }

  /** The observed-gamma PPF tabulated once per group on the fixed
    * [[ParamQGrid]] — the production discretization of a quantile
    * function with no closed (or SQL) form: apply interpolates this
    * anchor table instead of inverting the CDF per row. Generated at
    * build time from the literal params via
    * [[graft.functions.StatKernels.gammaPInv]]; in a fitted (non
    * -pretrained) pipeline the same tabulation runs in the key row. */
  private[graft] lazy val pretrainedGammaAnchors
      : Seq[(Long, Seq[(Double, Double)])] =
    pretrainedParametric.map { case (g, _, _, _, _, _, _, aO, bO) =>
      g -> ParamQGrid.map(p =>
        p -> (graft.functions.StatKernels.gammaPInv(aO, p) * bO))
    }

  /** Parametric bias adjustment of the forecast streams — the
    * reference's `apply_bias_factors` verbatim: temperature-like
    * rows ('view') map through the two normals, which collapses to
    * the closed form μo + σo·(x − μf)/σf; precipitation-like rows
    * ('click') map p = GammaCDF(x; αf, βf) (the codegen'd
    * [[graft.expressions.StatColumns.gammaCdf]] kernel — the SPI
    * machinery reused) through the pretrained obs-quantile anchor
    * table by linear interpolation, p clamped to the grid ends
    * (winsorized tails, documented). Shape at scale: two broadcast
    * literal tables (20 params rows + 1 980 anchor segments) + one
    * compiled CDF per fact row; zero shuffles beyond the scan.
    * Oracle: the identical gamma series/continued-fraction CTE
    * machinery the SPI family proved, with literal params, plus the
    * same literal anchor VALUES — hash-checked. */
  def biasParametricApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val par = broadcast(pretrainedParametric
      .toDF("grp", "mu_f", "sd_f", "mu_o", "sd_o", "a_f", "b_f", "a_o", "b_o"))
    val segs = broadcast(pretrainedGammaAnchors.flatMap { case (g, as) =>
      as.zip(as.tail).map { case ((pl, ql), (ph, qh)) => (g, pl, ql, ph, qh) }
    }.toDF("sgrp", "p_lo", "q_lo", "p_hi", "q_hi"))
    val pLast = ParamQGrid.last
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_id"), (col("user_id") % 20).as("grp"),
        col("event_type").as("var"), col("value").as("x"))
      .join(par, Seq("grp"))
      .withColumn("p", when(col("var") === "click",
        least(greatest(graft.expressions.StatColumns
            .gammaCdf(col("x"), col("a_f"), col("b_f")),
          lit(ParamQGrid.head)), lit(pLast))))
    ev.join(segs, col("sgrp") === col("grp") && col("p").isNotNull
        && col("p") >= col("p_lo")
        && (col("p") < col("p_hi") || col("p_hi") === lit(pLast)), "left")
      .withColumn("raw",
        when(col("var") === "view",
          col("mu_o") + col("sd_o") * (col("x") - col("mu_f")) / col("sd_f"))
          .otherwise(col("q_lo") + (col("p") - col("p_lo"))
            * (col("q_hi") - col("q_lo")) / (col("p_hi") - col("p_lo"))))
      .select(col("event_id"), col("grp"), col("var"),
        round(col("x"), 2).as("fcst_value"),
        quantize(col("raw"), 4).as("corrected"))
  }

  /** [[biasQmapKey]]'s mapping through the SPLINE transfer — the
    * runnable twin showing the reference's `splev` semantics on the
    * same fit/apply split. DuckDB-oracle-checked (the fit is
    * SQL-expressible: lead/lag tangent CTEs + a struct-carried
    * segment); ClimateSpec adds knot agreement with the linear
    * variant, dense-grid monotonicity, and the param-table parquet
    * round-trip. */
  def biasQmapSpline(spark: SparkSession, dir: String): DataFrame =
    keyedQmap(spark, dir, quantileMapFitSpline)

  /** Composite-key bias correction on the test mapping: key =
    * (station group, ensemble member), fit on the first half of the
    * span (hindcast 'click' vs observed 'view'), applied to
    * second-half forecasts — late values outside the fitted range
    * exercise the constant-extrapolation branches. The composite key
    * is the same seam the reference's seasonal corrector keys its
    * param tables by — (initmonth, leadtime, lat, lon, variable) in
    * `georgia_cds_bias_correction_process.py:352-376`
    * `apply_bias_factors` (its fc-CDF → standard-normal bridge →
    * obs-PPF chain is numerically plain quantile mapping: the
    * norm.ppf∘norm.cdf round-trip is identity). */
  def biasQmapKey(spark: SparkSession, dir: String): DataFrame =
    keyedQmap(spark, dir, quantileMapFit)

  /** The (station group, member) test mapping of [[biasQmapKey]] run
    * through a fit+apply transfer `fit`. */
  private def keyedQmap(spark: SparkSession, dir: String,
      fit: (Seq[String], DataFrame, DataFrame, DataFrame) => DataFrame): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("grp", col("user_id") % 20)
      .withColumn("member", col("event_id") % 3)
    val split = lit("2024-01-16T00:00:00Z").cast("timestamp")
    def slice(t: String, cond: Column) =
      ev.filter(col("event_type") === t && cond)
        .select("event_id", "grp", "member", "value")
    fit(Seq("grp", "member"),
      slice("click", col("ts") < split),
      slice("view", col("ts") < split),
      slice("click", col("ts") >= split))
  }

  /** Calibration breakpoints for the rating curve (stage → discharge),
    * the `rer_river_discharge_arpae_process.py:450-457` lookup. */
  val ratingBreakpoints: Seq[(Double, Double)] =
    Seq((0.0, 0.0), (50.0, 10.0), (100.0, 40.0),
      (150.0, 100.0), (200.0, 200.0), (300.0, 500.0))

  /** Piecewise-linear H→Q interpolation through the calibration
    * table: the (tiny, driver-known) lookup becomes [lo,hi) segments
    * locally — it is a literal, so no global-window plan node — then
    * a broadcast range-join picks each row's bracket: the standard
    * scale shape for interpolate-through-lookup. Stages are clamped
    * to the calibrated range (constant extrapolation). */
  def ratingCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hMax = ratingBreakpoints.last._1
    val seg = ratingBreakpoints.sliding(2).collect {
      case Seq((h, q), (hHi, qHi)) => (h, q, hHi, qHi)
    }.toSeq.toDF("h", "q", "h_hi", "q_hi")
    val ev = Tables.events(spark, dir)
      .withColumn("stage", least(greatest(col("value"), lit(0.0)), lit(hMax)))
    ev.join(broadcast(seg),
        ev("stage") >= seg("h") &&
          (ev("stage") < seg("h_hi") || seg("h_hi") === lit(hMax)))
      .select(col("event_id"), round(col("stage"), 2).as("stage"),
        round(col("q") + (col("stage") - col("h"))
          / (col("h_hi") - col("h")) * (col("q_hi") - col("q")), 4)
          .as("discharge"))
  }

  /** Published threshold → category classification
    * (`ll_nl_danger_levels.py:107-121`) — ONE definition shared by the
    * batch categorization ([[dangerLevels]]) and the streaming alert
    * lane ([[graft.streaming.EventsPipeline.dangerAlerts]]), so batch
    * reports and live alerts can never disagree on a level. */
  def dangerLevel(maxValue: Column): Column =
    when(maxValue < 80, "low")
      .when(maxValue < 140, "medium")
      .when(maxValue < 180, "high")
      .otherwise("extreme")

  /** Weekly max → threshold categorization
    * (`ll_nl_danger_levels.py:79,107-121`). */
  def dangerLevels(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(col("user_id"),
        date_format(date_trunc("WEEK", col("ts")), "yyyy-MM-dd").as("week"))
      .agg(round(max(col("value")), 2).as("max_value"))
      .withColumn("level", dangerLevel(col("max_value")))
  }

  /** Gumbel method-of-moments constants: `sqrt(6)/π` scales the
    * sample standard deviation to the Gumbel scale β, γ is the
    * Euler–Mascheroni constant (location μ = mean − γ·β). Defined
    * once here and rendered as LITERALS into the DuckDB oracle, so
    * both engines fold the identical double bits. */
  val GumbelSqrt6Pi: Double = math.sqrt(6.0) / math.Pi
  val GumbelGamma: Double = 0.5772156649015329

  /** Return periods T and their Gumbel reduced variates
    * `y_T = −ln(−ln(1 − 1/T))`, precomputed on the driver so the
    * (T, y) pairs are the same literal table in both engines. */
  val ReturnPeriods: Seq[(Int, Double)] =
    Seq(2, 5, 10, 25, 50, 100).map(t =>
      t -> -math.log(-math.log(1.0 - 1.0 / t)))

  /** PEAKS-OVER-THRESHOLD / GPD tail fit — the other canonical
    * extreme-value lane beside [[returnLevels]]'s block maxima
    * (flood-frequency practice fits BOTH and compares: annual-max
    * Gumbel wastes all but one event per block, POT keeps every
    * exceedance of a high threshold, Coles 2001 §4): per station,
    * the threshold is the ⌈0.8n⌉-th smallest daily total (high enough for tail behavior, low enough that a station-year keeps ≥ 10 exceedances — the usual POT compromise) (an
    * integer-rank ORDER STATISTIC on exact cent totals — no float
    * percentile), and the Generalized Pareto shape/scale come from
    * the method-of-moments closed form over the exceedances
    * ξ = ½(1 − m²/v), σ = ½m(m²/v + 1).
    *
    * Exactness: with k exceedances and integer sums S₁ = Σy,
    * S₂ = Σy², the ratio m²/v collapses to S₁²/(k·S₂ − S₁²) — ONE
    * double division over exact longs; every reported figure is one
    * fixed expression from (k, S₁, S₂, u, n). Guards: k ≥ 5
    * exceedances (matching the oracle's filter exactly) and
    * positive variance. Shape at scale: one (station, day) agg, one
    * station window carrying the sorted-array order statistic (the
    * `ts_extreme_day_freq` discipline), one station rollup. */
  def potGpd(spark: SparkSession, dir: String): DataFrame = {
    val daily = byDay(Tables.events(spark, dir))
      .agg(cents.as("c"))
    val w = Window.partitionBy(col("user_id"))
    val s = daily
      .withColumn("cs", array_sort(collect_list(col("c")).over(w)))
      .withColumn("n_days", size(col("cs")).cast("long"))
      .withColumn("u", element_at(col("cs"),
        expr("cast((size(cs) * 8 + 9) div 10 as int)")))
      .filter(col("c") > col("u"))
      .withColumn("y", col("c") - col("u"))
      .groupBy(col("user_id"), col("n_days"), col("u"))
      .agg(count(lit(1)).as("k"), sum(col("y")).as("s1"),
        sum(col("y") * col("y")).as("s2"))
      .filter(col("k") >= 5 && col("k") * col("s2") > col("s1") * col("s1"))
    val r = (col("s1") * col("s1")).cast("double") /
      (col("k") * col("s2") - col("s1") * col("s1")).cast("double")
    val m = col("s1").cast("double") / col("k") / 100.0
    s.select(col("user_id"), col("n_days"),
      (col("u").cast("double") / 100.0).as("threshold"),
      col("k").as("n_exceed"),
      quantize(col("k").cast("double") / col("n_days"), 4)
        .as("exceed_rate"),
      quantize(m, 4).as("mean_excess"),
      quantize(lit(0.5) * (lit(1.0) - r), 4).as("xi"),
      quantize(lit(0.5) * m * (r + lit(1.0)), 4).as("sigma"))
  }

  /** T-year RETURN LEVELS per station from weekly block maxima — the
    * extreme-value design flow behind fixed danger thresholds
    * ([[dangerLevels]] categorizes against published levels
    * `ll_nl_danger_levels.py:107-121`; this operator is how such
    * levels are DERIVED from the record): Gumbel fit by method of
    * moments on block maxima, levels at the [[ReturnPeriods]] grid.
    *
    * Exactness: daily totals are summed in integer CENTS and the
    * block maxima / sufficient statistics (n, Σb, Σb²) stay integer
    * through the shuffle, so the double math (mean, β, level) is a
    * fixed post-aggregation expression on exact longs — the same
    * merge-order-proof pattern as cusum/trend. Sum envelope: cents
    * ≤ 5·10⁴ per event ⇒ Σb² per station overflows long only past
    * ~4·10⁹ events/station-week; ANSI mode faults loudly, never
    * wraps. Output quantized to 4dp via floor(x·1e4+0.5).
    *
    * Shape at scale: two narrow aggregations (station-day, then
    * station-week) that AQE coalesces, one final per-station agg —
    * rows shrink ~events→stations monotonically; the (T, y) grid
    * rides a broadcast literal cross join (6 rows). Stations with
    * n < 2 blocks cannot fit a variance and are excluded; zero
    * variance emits NULL levels (both spec'd). */
  def returnLevels(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .groupBy(col("user_id"),
        datediff(to_date(date_trunc("DAY", col("ts"))), lit("2024-01-01"))
          .as("x"))
      .agg(cents.as("cents"))
    val wk = daily
      .groupBy(col("user_id"), floor(col("x") / 7).cast("int").as("w"))
      .agg(max(col("cents")).as("bm"))
    val st = wk.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("bm")).as("s1"),
        sum(col("bm") * col("bm")).as("s2"))
      .where(col("n") >= 2)
    val sb = st
      .withColumn("m", centMean(col("s1"), col("n")))
      .withColumn("beta",
        sqrt((col("n") * col("s2") - col("s1") * col("s1")).cast("double")
          / (col("n") * (col("n") - 1)) / lit(1e4)) * lit(GumbelSqrt6Pi))
    val periods = ReturnPeriods.toDF("t", "y")
    sb.crossJoin(broadcast(periods))
      .select(col("user_id"), col("n").as("n_blocks"),
        col("t").cast("long").as("t"),
        when(col("beta") > 0,
          floor((col("m") - lit(GumbelGamma) * col("beta")
            + col("y") * col("beta")) * lit(1e4) + lit(0.5)) / lit(1e4))
          .as("level"))
  }

  /** Standard exceedance probabilities (%) for the flow-duration
    * curve — driver-known literal grid, same table in both engines. */
  val FdcProbs: Seq[Int] = Seq(5, 10, 20, 30, 40, 50, 60, 70, 80, 90, 95)

  /** Per-station FLOW-DURATION CURVE — the % -of-time-exceeded view of
    * the daily discharge record that rating-curve products feed
    * ([[ratingCurve]] turns stage into discharge; the FDC is the
    * standard summary hydrologists derive from it: Q5 = rare flood
    * flow, Q95 = dependable low flow): for each exceedance
    * probability p, the k-th LARGEST daily value with k = ⌈p·n/100⌉.
    *
    * Shape at scale: one (station, day) partial agg, one groupBy per
    * station collecting the BOUNDED daily series; the order
    * statistics for ALL probabilities come from ONE in-row descending
    * sort — no per-quantile passes, no second shuffle, and the
    * [[FdcProbs]] grid rides an in-row array literal (never a join).
    *
    * Engine invariance: daily means are exact rationals, element_at
    * on a sorted array is an ORDER STATISTIC (duplicate daily values
    * cannot change the selected VALUE whatever their tie order), and
    * the rank ⌈p·n/100⌉ is computed in pure INTEGER arithmetic
    * ((p·n+99) div 100) so no float ceil can straddle a boundary.
    * Output quantized once at 1e-4. */
  def flowDurationCurve(spark: SparkSession, dir: String): DataFrame =
    flowDurationCurveOf(Tables.events(spark, dir))

  /** [[flowDurationCurve]] over an arbitrary (user_id, ts, value)
    * frame — seam for the planted-series spec. */
  private[graft] def flowDurationCurveOf(ev: DataFrame): DataFrame = {
    val daily = ev
      .groupBy(col("user_id"),
        datediff(to_date(date_trunc("DAY", col("ts"))), lit("2024-01-01"))
          .as("x"))
      .agg(centMean(cents, count(lit(1))).as("y"))
    daily.groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("y")), asc = false).as("qs"))
      .select(col("user_id"), size(col("qs")).cast("long").as("n_days"),
        explode(array(FdcProbs.map(lit): _*)).as("p"),
        col("qs"))
      .select(col("user_id"), col("p").cast("long").as("p"), col("n_days"),
        quantize(element_at(col("qs"),
          expr("cast((p * n_days + 99) div 100 as int)")), 4)
          .as("q_exceed"))
  }

  /** Lyne–Hollick filter parameter α and the derived (1+α)/2 pass
    * coefficient — literals in both engines (featureDrop pattern). */
  val LhAlpha: Double = 0.925
  val LhHalf: Double = 0.9625

  /** BASEFLOW SEPARATION per station by the single-pass Lyne–Hollick
    * digital filter — splitting the daily discharge record into
    * quickflow (storm response) and baseflow (groundwater release),
    * the standard preprocessing for the low-flow/drought indices the
    * reference serves (its cumulative-deficit lane
    * `ingestor_knmi_evapo.py:395-414` is the precipitation twin):
    * f_t = α·f_{t−1} + (1+α)/2·(q_t − q_{t−1}), quickflow
    * qf_t = clamp(f_t, 0, q_t), baseflow b_t = q_t − qf_t, anchored
    * at f_1 = q_1/2 (neutral half-split start, documented contract).
    *
    * The recurrence is sequential by nature (the [[graft.operators
    * .TimeSeries]] Holt argument), so each station's BOUNDED daily
    * series folds IN-ROW: sort_array(collect_list) + `aggregate`
    * carrying (prev_q, f, emitted array); the fold appends each
    * step's filtered value so the whole per-day series re-emerges
    * from one pass, then zips back against the days. One shuffle
    * total; array state bounded by series length in DAYS.
    *
    * Engine invariance: the fold recomputes f_t with the IDENTICAL
    * literal expression as the oracle's recursive CTE (association
    * pinned: α·f + 0.9625·(q − q_prev)), on exact-rational daily
    * inputs; clamp is min/max (order statistics); quantized once at
    * 1e-4. */
  def baseflowLh(spark: SparkSession, dir: String): DataFrame =
    baseflowLhOf(Tables.events(spark, dir))

  /** [[baseflowLh]] over an arbitrary (user_id, ts, value) frame —
    * seam for the constant-series and identity specs. */
  private[graft] def baseflowLhOf(ev: DataFrame): DataFrame = {
    val daily = ev
      .groupBy(col("user_id"),
        datediff(to_date(date_trunc("DAY", col("ts"))), lit("2024-01-01"))
          .as("x"))
      .agg(centMean(cents, count(lit(1))).as("y"))
    daily.groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("x"), col("y")))).as("pts"))
      .filter(size(col("pts")) >= 2)
      .withColumn("fs", expr(
        """aggregate(
          |  slice(pts, 2, size(pts) - 1),
          |  named_struct('py', pts[0].y, 'f', pts[0].y / 2.0D,
          |    'out', array(pts[0].y / 2.0D)),
          |  (acc, e) -> named_struct(
          |    'py', e.y,
          |    'f', 0.925D * acc.f + 0.9625D * (e.y - acc.py),
          |    'out', concat(acc.out,
          |      array(0.925D * acc.f + 0.9625D * (e.y - acc.py)))),
          |  acc -> acc.out)""".stripMargin))
      .select(col("user_id"),
        explode(arrays_zip(col("pts"), col("fs"))).as("z"))
      .select(col("user_id"),
        date_format(date_add(lit("2024-01-01"), col("z.pts.x")), "yyyy-MM-dd")
          .as("day"),
        quantize(col("z.pts.y"), 4).as("q"),
        quantize(col("z.pts.y") -
          least(greatest(col("z.fs"), lit(0.0)), col("z.pts.y")), 4).as("baseflow"),
        quantize(least(greatest(col("z.fs"), lit(0.0)), col("z.pts.y")), 4).as("quickflow"))
  }

  /** Day-of-year → extraterrestrial radiation (Ra) lookup — the
    * reference reads Ra from a per-day TABLE, not a formula
    * (`ingestor_knmi_evapo.py:305-325` day-lookup). Driver-known
    * 366-row calendar table, values quantized to 4dp once at
    * generation so both engines consume identical literal bits. */
  val raByDoy: Seq[(Int, Double)] = (1 to 366).map { d =>
    d -> math.floor((25.0 + 10.0 * math.sin(
      2.0 * math.Pi * (d - 80) / 365.25)) * 1e4 + 0.5) / 1e4
  }

  /** Hargreaves-style PET per station-day + running accumulation
    * (`ingestor_knmi_evapo.py:305-325,395-414`): radiation arrives by
    * a BROADCAST equi-join on day-of-year against [[raByDoy]] (the
    * reference's table semantics; the standard plan shape for any
    * calendar lookup — never a shuffle), then the elementwise formula
    * over daily min/max/mean and a per-key ordered cumsum. */
  def petHargreaves(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val raTbl = raByDoy.toDF("doy", "ra")
    val daily = byDay(Tables.events(spark, dir))
      .agg(
        (max(col("value")) / 10.0).as("tmax"),
        (min(col("value")) / 10.0).as("tmin"),
        // exact cent sum, one division (avg/10 = cents/(1000·n)) —
        // the raw-double avg's ulps would reach every derived pet
        (cents.cast("double")
          / (count(lit(1)) * lit(1000.0))).as("tmean"))
      .withColumn("doy", dayofyear(to_date(col("day"))))
    val wCum = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(broadcast(raTbl), Seq("doy"))
      .withColumn("pet",
        lit(0.0023) * col("ra") * (col("tmean") + 17.8)
          * sqrt(greatest(col("tmax") - col("tmin"), lit(0.0))))
      .select(col("user_id"), col("day"),
        quantize(col("pet"), 4).as("pet"),
        quantize(sum(col("pet")).over(wCum), 4).as("cum_pet"))
  }

  /** OUDIN-style temperature-based PET and the daily potential
    * precipitation DEFICIT — `data_prep_knmi_evapo_forecast.py:
    * 105-115` `calc_delta_PET` verbatim: λ = 2.501 − 0.002361·Ta,
    * PET = kc·(Re/(λ·ρ))·((Ta+Tadd)/Tscale)·1000 where Ta+Tadd > 0
    * (else 0; kc=1, ρ=1000, Tadd=5, Tscale=45 — the reference's
    * constants), delta = PET − precip. The forecast-side sibling of
    * [[petHargreaves]]: same broadcast day-of-year Re table, a
    * different temperature-only formula family; the downstream
    * ensemble banding over members is [[forecastDeficitBands]].
    * Exact-cent daily means (Ta = value/10 scale, precip = value/50
    * scale — SURVEY §3 pseudo-mappings), the literal op-chain shared
    * with the oracle, one broadcast calendar join + elementwise. */
  def petOudin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val raTbl = raByDoy.toDF("doy", "ra")
    val daily = byDay(Tables.events(spark, dir))
      .agg(
        (cents.cast("double")
          / (count(lit(1)) * lit(1000.0))).as("ta"),
        (cents.cast("double")
          / (count(lit(1)) * lit(5000.0))).as("p"))
      .withColumn("doy", dayofyear(to_date(col("day"))))
    val lam = lit(2.501) - lit(0.002361) * col("ta")
    val pet = when(col("ta") + lit(5.0) > 0.0,
      col("ra") / (lam * lit(1000.0)) * ((col("ta") + lit(5.0)) / lit(45.0))
        * lit(1000.0)).otherwise(lit(0.0))
    daily.join(broadcast(raTbl), Seq("doy"))
      .select(col("user_id"), col("day"),
        quantize(pet, 4).as("pet"),
        quantize(pet - col("p"), 4).as("delta_precip_def"))
  }

  /** SPEI (z-score variant) — the STANDARDIZED PRECIPITATION-
    * EVAPOTRANSPIRATION index, the drought family's water-BALANCE
    * member (Vicente-Serrano et al. 2010): where SPI standardizes
    * precipitation alone, SPEI standardizes precip − PET, so warming-
    * driven demand shows up in the index even when rainfall is
    * normal. Composes the [[petHargreaves]] lane (broadcast Ra
    * lookup, elementwise Hargreaves PET) with the spi_zscore
    * standardization; the parametric twin would follow the
    * `spi_gamma` fit lane (SPEI's log-logistic fit is the gamma
    * family's sibling — the z-score form is the exact-arithmetic
    * member, like `spi_zscore` beside `spi_gamma`).
    *
    * Exactness: the daily balance quantizes ONCE to integer 1e-4
    * units, so the per-station moment sums are exact longs (overflow
    * envelope: |bal_u| ≤ ~1e6 ⇒ Σbal_u² needs ~10¹² days/station to
    * overflow — ANSI faults loudly first) and z is one fixed double
    * expression on exact integers. One station exchange carries all
    * three frameless moment windows. */
  def speiZscore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val raTbl = raByDoy.toDF("doy", "ra")
    val daily = byDay(Tables.events(spark, dir))
      .agg(
        (max(col("value")) / 10.0).as("tmax"),
        (min(col("value")) / 10.0).as("tmin"),
        (cents.cast("double") / (count(lit(1)) * lit(1000.0))).as("tmean"),
        centMean(cents, count(lit(1))).as("prcp"))
      .withColumn("doy", dayofyear(to_date(col("day"))))
    val bal = daily.join(broadcast(raTbl), Seq("doy"))
      .withColumn("pet",
        lit(0.0023) * col("ra") * (col("tmean") + 17.8)
          * sqrt(greatest(col("tmax") - col("tmin"), lit(0.0))))
      .withColumn("bal_u",
        units(col("prcp") - col("pet"), 4))
    val w = Window.partitionBy(col("user_id"))
    bal
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s1", sum(col("bal_u")).over(w))
      .withColumn("s2", sum(col("bal_u") * col("bal_u")).over(w))
      .filter(col("n") >= 2)
      .withColumn("spei_raw",
        when(col("n") * col("s2") - col("s1") * col("s1") > 0,
          (col("bal_u") * col("n") - col("s1")).cast("double")
            / (col("n") * sqrt((col("n") * col("s2")
              - col("s1") * col("s1")).cast("double")
              / (col("n") * (col("n") - 1))))))
      .select(col("user_id"), col("day"),
        (col("bal_u").cast("double") / 1e4).as("balance"),
        quantize(col("spei_raw"), 4).as("spei"),
        when(col("spei_raw") <= -1.0, true).otherwise(false).as("drought"))
  }

  /** GROWING DEGREE DAYS — the agronomic heat-accumulation index the
    * reference's climate-service pilots feed to crop-phenology users
    * (the demand side of the same daily station series the drought
    * lane standardizes): modified GDD with Tmax capped at 30 °C and
    * Tmin floored at the 10 °C base,
    * GDD = max(0, (min(Tmax,30) + max(min(Tmin,30),10))/2 − 10),
    * accumulated per station over the season.
    *
    * Shape at scale: ONE daily-resample aggregation (map-side
    * partial) to station-day grain, then the elementwise GDD formula
    * and one ordered cumulative window keyed by station. Two
    * exchanges (PlanAudit), and deliberately so: folding them into
    * one by pre-partitioning on station alone would forfeit the
    * map-side combine and shuffle raw observations instead of the
    * aggregated daily grain — the second exchange moves only
    * station-days. The daily GDD quantizes ONCE to integer 1e-4
    * units so the running total is an exact long sum
    * (merge-order-free, the [[speiZscore]] discipline). */
  def growingDegreeDays(spark: SparkSession, dir: String): DataFrame = {
    val daily = byDay(Tables.events(spark, dir))
      .agg((max(col("value")) / 10.0).as("tmax"),
        (min(col("value")) / 10.0).as("tmin"))
    val wCum = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("gdd_u",
        units(greatest(
          (least(col("tmax"), lit(30.0))
            + greatest(least(col("tmin"), lit(30.0)), lit(10.0))) / 2.0
            - lit(10.0), lit(0.0)), 4))
      .select(col("user_id"), col("day"),
        (col("gdd_u").cast("double") / 1e4).as("gdd"),
        (sum(col("gdd_u")).over(wCum).cast("double") / 1e4).as("cum_gdd"))
  }

  /** HEAT-WAVE EPISODES — the warm-tail twin of [[droughtEpisodes]]'
    * run theory, on the DAILY axis with a CALENDAR-aware run break: a
    * heat wave is ≥ 3 *consecutive calendar days* whose daily Tmax
    * standardizes to z ≥ +1 against the station's own record, so a
    * missing observation day splits the run (rows-frame runs would
    * silently bridge the gap — the same irregular-axis trap
    * `ts_rolling_sum_range` closes for rolling sums).
    *
    * Exactness: daily Tmax is kept in integer CENTS (`max` of exact
    * units), the station moments are exact long sums over those
    * cents, and the z comparison is one double expression on exact
    * integers — deterministic on both engines with no rounding gate.
    * The daily resample shuffles once at (station, day) grain with
    * map-side combine; ONE further station-keyed exchange (on the
    * already-reduced daily rows) then carries the whole-partition
    * moments, the lag, and the running episode counter — all windows
    * share the (user_id; day) sort (PlanAudit: 2 exchanges, the
    * scale-right split); the final per-episode rollup is a hash
    * agg. */
  def heatWaveEpisodes(spark: SparkSession, dir: String): DataFrame =
    heatWaveEpisodesOf(Tables.events(spark, dir))

  /** [[heatWaveEpisodes]] over an arbitrary (ts, user_id, value)
    * frame — seam for spec-testing the calendar-gap run break. */
  private[graft] def heatWaveEpisodesOf(ev: DataFrame): DataFrame = {
    val daily = byDay(ev)
      .agg(max(TimeSeries.cents(col("value"))).as("tmax_u"))
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val wAll = wOrd.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s1", sum(col("tmax_u")).over(wAll))
      .withColumn("s2", sum(col("tmax_u") * col("tmax_u")).over(wAll))
      .filter(col("n") >= 2 && col("n") * col("s2") - col("s1") * col("s1") > 0)
      .withColumn("hot",
        when((col("tmax_u") * col("n") - col("s1")).cast("double")
          >= col("n") * sqrt((col("n") * col("s2") - col("s1") * col("s1"))
            .cast("double") / (col("n") * (col("n") - 1))), 1).otherwise(0))
      .withColumn("gap",
        datediff(to_date(col("day")), to_date(lag(col("day"), 1).over(wOrd))))
      .withColumn("run_start",
        when(col("hot") === 1 &&
          (coalesce(lag(col("hot"), 1).over(wOrd), lit(0)) === 0
            || col("gap") > 1), 1).otherwise(0))
      .withColumn("episode", sum(col("run_start")).over(wRun).cast("long"))
      // a hot day whose predecessor-with-gap was also hot starts a new
      // run via `gap > 1` above, so filtering to hot rows AFTER the
      // episode counter keeps calendar-contiguous runs only
      .filter(col("hot") === 1)
      .groupBy(col("user_id"), col("episode"))
      .agg(min(col("day")).as("d_start"), max(col("day")).as("d_end"),
        count(lit(1)).as("n_days"),
        (max(col("tmax_u")).cast("double") / 100.0).as("peak_tmax"))
      .filter(col("n_days") >= 3)
  }

  /** Freezing line and degree-day melt factor for [[snowPackDdm]]
    * (°C and mm·°C⁻¹·day⁻¹) — literals, like the reference's
    * calc_delta_PET constants. */
  private val SnowT0 = 3.0
  private val SnowDdf = 3.0

  /** DEGREE-DAY SNOWPACK — the classic temperature-index snow model
    * (the melt-season supply side of the reference's hydrology lane):
    * on cold days (Tmean < T0) precipitation banks as snow-water
    * equivalent; on warm days the pack melts at DDF · max(Tmean−T0, 0)
    * but never below empty,
    *
    *   SWE_t = max(0, SWE_{t−1} + snow_t − melt_t)
    *
    * — the [[graft.operators.TimeSeries.cumSumClamped]] recurrence,
    * so the sequential water-bank loop collapses to the same closed
    * form over TWO stacked windows on ONE (user_id; day) sort:
    * SWE_i = S_i − min(0, min_{j≤i} S_j) with S the prefix sum of the
    * signed daily balance. Daily balance quantizes ONCE to integer
    * 1e-4 units; all accumulation is exact long arithmetic. */
  def snowPackDdm(spark: SparkSession, dir: String): DataFrame =
    snowPackDdmOf(Tables.events(spark, dir))

  /** [[snowPackDdm]] over an arbitrary (ts, user_id, value) frame —
    * seam for spec-testing the clamped closed form against the
    * sequential water-bank fold. */
  private[graft] def snowPackDdmOf(ev: DataFrame): DataFrame = {
    val daily = byDay(ev)
      .agg((cents.cast("double") / (count(lit(1)) * lit(1000.0))).as("tmean"),
        centMean(cents, count(lit(1))).as("prcp"))
    val wSeq = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("snow_u",
        when(col("tmean") < SnowT0,
          units(col("prcp"), 4)).otherwise(0L))
      .withColumn("melt_u",
        units(lit(SnowDdf) * greatest(col("tmean") - SnowT0, lit(0.0)), 4))
      .withColumn("cs", sum(col("snow_u") - col("melt_u")).over(wSeq))
      .select(col("user_id"), col("day"),
        (col("snow_u").cast("double") / 1e4).as("snowfall"),
        ((col("cs") - least(lit(0L), min(col("cs")).over(wSeq)))
          .cast("double") / 1e4).as("swe"))
  }

  /** Bilinear interpolation of a gridded field onto points offset
    * (fy, fx) into each cell — the reference regrids every fetched
    * forecast onto its target grid this way
    * (`bias_correction_cds_process.py:272`
    * `ds.interp(lat=…, lon=…, method="linear")`).
    *
    * `grid` is (gy, gx, v) at integer nodes. The four corners of each
    * cell arrive via three self-equi-joins on shifted node keys — all
    * shuffles on the (small, aggregated) grid table, and AQE
    * broadcasts when it fits; cells missing a corner drop out (the
    * reference's NaN-outside-hull semantics). */
  def bilinear(grid: DataFrame, fy: Double, fx: Double): DataFrame = {
    def corner(dy: Int, dx: Int, name: String) =
      grid.select((col("gy") - dy).as("gy"), (col("gx") - dx).as("gx"),
        col("v").as(name))
    corner(0, 0, "v00")
      .join(corner(0, 1, "v01"), Seq("gy", "gx"))
      .join(corner(1, 0, "v10"), Seq("gy", "gx"))
      .join(corner(1, 1, "v11"), Seq("gy", "gx"))
      .select(col("gy").as("cell_y"), col("gx").as("cell_x"),
        round(col("gy") + fy, 2).as("target_y"),
        round(col("gx") + fx, 2).as("target_x"),
        round(col("v00") * ((1 - fy) * (1 - fx)) + col("v01") * ((1 - fy) * fx)
          + col("v10") * (fy * (1 - fx)) + col("v11") * (fy * fx), 4)
          .as("value_interp"))
  }

  /** Regrid the per-cell mean field of `events` onto cell-interior
    * points (the per-cell mean is rounded to 6dp on both engines
    * before interpolation so summation-order ulps never reach the
    * weighted sum). */
  def gridRegrid(spark: SparkSession, dir: String): DataFrame = {
    val grid = byCell(Tables.events(spark, dir))
      // exact cent sum → one division → 6dp quantize (§5: a raw
      // double avg can sit on a half-quantum of the 1e-6 grid)
      .agg((microMean / 1e6).as("v"))
      // pin the O(cells) table: bilinear references it four times,
      // and without the checkpoint each corner join re-expands the
      // aggregation lineage into its own FACT scan (plan-audited:
      // 4 scans → 1) — the gridGradient/eventsRetention idiom
      .localCheckpoint()
    bilinear(grid, 0.25, 0.75)
  }

  /** POI sample points in GRID coordinates — quarter-unit fractions
    * (exact binary doubles, so the bilinear weights fold to identical
    * bits in both engines), strictly inside the 8×8 node lattice so
    * every point has all four corners. Literal in both engines. */
  private[graft] val SamplePois: Seq[(Int, Double, Double)] = Seq(
    (1, 0.25, 0.75), (2, 1.5, 2.25), (3, 2.75, 5.5), (4, 3.25, 0.5),
    (5, 4.5, 4.25), (6, 5.75, 6.5), (7, 6.25, 3.75), (8, 0.5, 6.25),
    (9, 3.75, 3.25), (10, 5.25, 1.75), (11, 2.25, 6.75), (12, 6.5, 0.25))

  /** Bilinear sampling of the gridded field at SCATTERED points —
    * the reference extracts its points-of-interest series from every
    * gridded product exactly this way
    * (`ingestor_cds_spi_historic_process.py:231` `.interp(...)` onto
    * the POI dataset; [[gridRegrid]] is the grid→grid sibling).
    * Each POI locates its enclosing cell by integer floor, the four
    * corner values arrive by joining the aggregated grid four times
    * on shifted node keys, and the blend reuses [[bilinear]]'s exact
    * term order (6dp-quantized corner values × exact binary weights —
    * ulp-identical across engines).
    *
    * Shape at scale: the grid aggregate is the only data-sized pass
    * (one shuffle to O(cells)); the POI table is orchestration-sized
    * and every corner join broadcasts. A million POIs would change
    * nothing — the join key is the cell index, still broadcast
    * against the O(cells) grid. */
  def gridSamplePoi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grid = byCell(Tables.events(spark, dir))
      .agg((microMean / 1e6).as("v"))
      // pinned: referenced by all four corner joins (the gridRegrid
      // idiom — without it each corner re-scans the fact table)
      .localCheckpoint()
    val pois = SamplePois.toDF("poi_id", "py", "px")
      .withColumn("y0", floor(col("py")).cast("long"))
      .withColumn("x0", floor(col("px")).cast("long"))
      .withColumn("fy", col("py") - col("y0"))
      .withColumn("fx", col("px") - col("x0"))
    def corner(dy: Int, dx: Int, name: String) =
      grid.select((col("gy") - dy).as("y0"), (col("gx") - dx).as("x0"),
        col("v").as(name))
    pois
      .join(corner(0, 0, "v00"), Seq("y0", "x0"))
      .join(corner(0, 1, "v01"), Seq("y0", "x0"))
      .join(corner(1, 0, "v10"), Seq("y0", "x0"))
      .join(corner(1, 1, "v11"), Seq("y0", "x0"))
      .select(col("poi_id"), col("py"), col("px"),
        round(col("v00") * ((lit(1) - col("fy")) * (lit(1) - col("fx")))
          + col("v01") * ((lit(1) - col("fy")) * col("fx"))
          + col("v10") * (col("fy") * (lit(1) - col("fx")))
          + col("v11") * (col("fy") * col("fx")), 4).as("value_interp"))
  }

  /** IDW radius² (squared degrees) and weight quantum for
    * [[gridIdw]] — private[graft] so the oracle SQL interpolates the
    * same constants. */
  private[graft] val IdwRadius2 = 400.0
  private[graft] val IdwWScale = 1e8

  /** INVERSE-DISTANCE-WEIGHTED gauge→grid interpolation — the
    * opposite direction from [[gridSamplePoi]]: the station network's
    * period-mean values spread onto a regular 10° target grid, each
    * cell the w=1/d² weighted mean of stations within the search
    * radius (the gauge-gridding step behind any "interpolated
    * product" a station feed is accepted into — see
    * [[stationNeighborCorr]]'s screen). Cells with no station in
    * radius drop out, the same outside-the-hull semantics as
    * [[bilinear]].
    *
    * Determinism: distances are squares of exact 2.5°-multiple
    * differences (station and cell lattices interleave, so d² > 0
    * always); weights quantize ONCE to integer units
    * (`floor(1e8/d² + 0.5)`), station means to integer 1e-4 units —
    * the weighted sum is then an exact long dot product, merge-order-
    * free, divided once at the end.
    *
    * Shape at scale: stations are a DIM (O(10⁴) at most — the
    * reference's networks are hundreds); the cell×station pair space
    * is cells·stations via a broadcast of the station table against
    * the cell range — no shuffle touches anything data-sized except
    * the one station-mean aggregation. A 1km global grid would
    * partition the cell range and still broadcast the dim. */
  def gridIdw(spark: SparkSession, dir: String): DataFrame = {
    val st = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(floor(cents
        .cast("double") * 100.0 / count(lit(1)) + 0.5).cast("long").as("v_u"))
      .select(col("v_u"),
        pseudoLat(col("user_id")).as("slat"),
        pseudoLon(col("user_id")).as("slon"))
    val cells = spark.range(18L * 36L)
      .select((expr("id div 36") * 10.0 - 85.0).as("lat"),
        (col("id") % 36 * 10.0 - 175.0).as("lon"))
    val d2 = (col("lat") - col("slat")) * (col("lat") - col("slat")) +
      (col("lon") - col("slon")) * (col("lon") - col("slon"))
    cells.crossJoin(broadcast(st))
      .withColumn("d2", d2)
      .filter(col("d2") <= IdwRadius2)
      .withColumn("wq", floor(lit(IdwWScale) / col("d2") + 0.5).cast("long"))
      .groupBy(col("lat"), col("lon"))
      .agg(count(lit(1)).as("n_stations"),
        sum(col("wq") * col("v_u")).as("num"),
        sum(col("wq")).as("den"))
      .select(col("lat"), col("lon"), col("n_stations"),
        (floor(col("num").cast("double") / col("den") + 0.5) / 1e4)
          .as("value_idw"))
  }

  /** Block-mean downsample of the gridded field — xarray's
    * `coarsen(lat=2, lon=2).mean()`, the reference's resolution-
    * reduction step before publishing overview grids. Two-level
    * HIERARCHICAL aggregation: the fine per-cell means reduce first
    * (map-side partials into O(cells) rows, values quantized at 6dp
    * like [[gridRegrid]]'s input), then the 2×2 block rollup
    * aggregates the already-tiny cell table — the second shuffle
    * moves O(cells) rows regardless of fact size, so coarsening an
    * overview pyramid level is never a second scan of the data. */
  def gridCoarsen(spark: SparkSession, dir: String): DataFrame = {
    // Cell means quantize to INTEGER micro-units before the rollup —
    // and the micro-units themselves derive from exact CENT sums
    // (one division), not a raw double avg whose merge-order ulps
    // could flip the floor at a half-quantum (the §5 trap). The
    // block level then sums exact integers and divides once.
    val grid = byCell(Tables.events(spark, dir))
      .agg(microMean.as("v_us"),
        count(lit(1)).as("n_obs"))
    grid.groupBy((col("gy") - (col("gy") % 2)).as("block_y"),
        (col("gx") - (col("gx") % 2)).as("block_x"))
      .agg(count(lit(1)).as("n_cells"),
        sum(col("n_obs")).as("n_obs"),
        (floor(sum(col("v_us")).cast("double") / count(lit(1)) + 0.5) / 1e6)
          .as("v_mean"),
        (min(col("v_us")).cast("double") / 1e6).as("v_min"),
        (max(col("v_us")).cast("double") / 1e6).as("v_max"))
  }

  /** The full overview PYRAMID in one pass — [[gridCoarsen]]
    * generalized: the 2×2 level, the 4×4 level and the global extent
    * summary all come out of ONE aggregation over the cell table via
    * GROUPING SETS, so each pyramid level gets its own map-side
    * partials in the same shuffle instead of one scan per level (the
    * `corpus_stats` CUBE pattern applied to space). Cell means are
    * integer micro-units as in [[gridCoarsen]]; `level` decodes the
    * grouping_id bitmask (3 = 2×2 blocks, 12 = 4×4 blocks, 15 =
    * global, encoded identically by both engines). */
  def gridPyramid(spark: SparkSession, dir: String): DataFrame = {
    val cells = byCell(Tables.events(spark, dir))
      .agg(microMean.as("v_us"),
        count(lit(1)).as("n_obs"))
      .select(col("gy"), col("gx"), col("v_us"), col("n_obs"),
        (col("gy") - (col("gy") % 2)).as("b2y"),
        (col("gx") - (col("gx") % 2)).as("b2x"),
        (col("gy") - (col("gy") % 4)).as("b4y"),
        (col("gx") - (col("gx") % 4)).as("b4x"))
    cells.groupingSets(
        Seq(Seq(col("b2y"), col("b2x")), Seq(col("b4y"), col("b4x")), Seq()),
        col("b2y"), col("b2x"), col("b4y"), col("b4x"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n_cells"),
        sum(col("n_obs")).as("n_obs"),
        (floor(sum(col("v_us")).cast("double") / count(lit(1)) + 0.5) / 1e6)
          .as("v_mean"),
        (min(col("v_us")).cast("double") / 1e6).as("v_min"),
        (max(col("v_us")).cast("double") / 1e6).as("v_max"))
      .select(
        when(col("gid") === 3, 2).when(col("gid") === 12, 4).otherwise(0)
          .cast("int").as("level"),
        coalesce(col("b2y"), col("b4y"), lit(-1L)).as("block_y"),
        coalesce(col("b2x"), col("b4x"), lit(-1L)).as("block_x"),
        col("n_cells"), col("n_obs"), col("v_mean"), col("v_min"), col("v_max"))
  }

  /** The aggregated 8×8 elevation-grid cells (integer micro-units),
    * PINNED — shared by the gradient/hillshade and the D8 flow lane.
    * localCheckpoint stops each downstream shifted self-join from
    * re-expanding the aggregation lineage over the fact table. */
  private def gridCells(spark: SparkSession, dir: String): DataFrame =
    byCell(Tables.events(spark, dir))
      .agg(microMean.as("v_us"))
      .localCheckpoint()

  /** Terrain-style GRADIENT of the gridded field — slope magnitude
    * and 8-way aspect per interior cell by central differences, the
    * raster-derivative primitive behind hillshade/slope/aspect
    * products (GDAL `gdaldem slope/aspect`; the reference publishes
    * GDAL-derived rasters the same way it publishes contours).
    *
    * Shape at scale: the field aggregates once to integer-micro-unit
    * cells ([[gridCoarsen]]'s quantization), then each cell meets its
    * four axis neighbors via shifted-key self-equi-joins on the
    * O(cells) table ([[bilinear]]'s corner trick) — all joins are on
    * the aggregated grid, never the fact table, and AQE broadcasts
    * them when a tile fits. Inner joins drop edge cells (the
    * NaN-at-edge semantics of every raster derivative).
    *
    * Determinism: differences are exact longs; slope is ONE
    * correctly-rounded `sqrt` of an exact integer (dx²+dy² < 2⁶³)
    * halved and quantized once; aspect classifies CROSS-MULTIPLIED
    * integers (|dy| vs 2|dx| octant rule), so no trig and no float
    * comparison anywhere — both engines agree bit-for-bit. */
  def gridGradient(spark: SparkSession, dir: String): DataFrame = {
    // one scan feeds four broadcast joins of the tiny pinned side
    // (the eventsRetention idiom) — see [[gridCells]]
    val cells = gridCells(spark, dir)
    def at(dy: Int, dx: Int, name: String) =
      cells.select((col("gy") - dy).as("gy"), (col("gx") - dx).as("gx"),
        col("v_us").as(name))
    val ddx = col("vxp") - col("vxm")
    val ddy = col("vyp") - col("vym")
    val adx = abs(ddx)
    val ady = abs(ddy)
    cells
      .join(at(0, 1, "vxp"), Seq("gy", "gx"))
      .join(at(0, -1, "vxm"), Seq("gy", "gx"))
      .join(at(1, 0, "vyp"), Seq("gy", "gx"))
      .join(at(-1, 0, "vym"), Seq("gy", "gx"))
      .select(col("gy"), col("gx"),
        (floor(ddx / 2.0 + 0.5) / 1e6).as("dzdx"),
        (floor(ddy / 2.0 + 0.5) / 1e6).as("dzdy"),
        (floor(sqrt((ddx * ddx + ddy * ddy).cast("double")) / 2.0 + 0.5) / 1e6)
          .as("slope"),
        when(ddx === 0 && ddy === 0, "flat")
          .when(adx >= ady * 2, when(ddx > 0, "E").otherwise("W"))
          .when(ady >= adx * 2, when(ddy > 0, "N").otherwise("S"))
          .when(ddx > 0, when(ddy > 0, "NE").otherwise("SE"))
          .otherwise(when(ddy > 0, "NW").otherwise("SW"))
          .as("aspect"))
  }

  /** ETCCDI-style precipitation INDEX SUITE per station — the WMO
    * Expert Team on Climate Change Detection Indices set every
    * climate service publishes (the reference's products are built
    * to feed exactly these dashboards): CDD (longest dry spell),
    * CWD (longest wet spell), R10mm (heavy-precip day count),
    * PRCPTOT (wet-day total), R95p (the 95th-percentile wet-day
    * amount) and R95pTOT (total above it — the "very wet day"
    * contribution).
    *
    * Exactness: daily totals in integer cents; wet/dry membership
    * and R10 are integer comparisons; spells use the gaps-and-
    * islands `rn − rn_state` identity on the calendar day NUMBER (a
    * missing day breaks a spell — rows-frame runs would silently
    * bridge it); R95p rank-interpolates over the wet-day subset on
    * one station window; R95pTOT sums exact cents strictly above the
    * threshold. Shape: the pinned daily table feeds three bounded
    * per-station branches (spells, flat aggregates, percentile) that
    * re-join on O(stations) rows — AQE broadcasts them. */
  def etccdiIndices(spark: SparkSession, dir: String): DataFrame = {
    val WetCents = 100L   // 1.00 units/day — the ETCCDI wet-day line
    val HeavyCents = 1000L // 10.00 units/day — R10mm's threshold
    val daily = byDay(Tables.events(spark, dir))
      .agg(cents.as("c"))
      .withColumn("dn", datediff(col("day").cast("date"),
        lit("2024-01-01").cast("date")))
      .withColumn("wet", col("c") >= WetCents)
      .localCheckpoint()
    // spells: day-number minus the per-state row_number is constant
    // within one CONSECUTIVE-day run of one state
    val wState = Window.partitionBy(col("user_id"), col("wet"))
      .orderBy(col("dn"))
    val spells = daily
      .withColumn("grp", col("dn") - row_number().over(wState))
      .groupBy(col("user_id"), col("wet"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(max(when(!col("wet"), col("len"))).as("cdd"),
        max(when(col("wet"), col("len"))).as("cwd"))
    val flat = daily.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("c") >= HeavyCents, 1L).otherwise(0L)).as("r10mm"),
        (sum(when(col("wet"), col("c")).otherwise(0L)).cast("double") / 100.0)
          .as("prcptot"))
    val wWet = Window.partitionBy(col("user_id")).orderBy(col("c"))
    val wetRanked = daily.filter(col("wet"))
      .withColumn("rn", row_number().over(wWet))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("user_id"))))
    val r = (col("n") - 1) * lit(0.95)
    val lo = floor(r) + 1
    val p95 = wetRanked.groupBy(col("user_id"))
      .agg(min(when(col("rn") === lo, col("c"))).as("vlo"),
        min(when(col("rn") === least(lo + 1, col("n")), col("c"))).as("vhi"),
        min(r - floor(r)).as("f"))
      .select(col("user_id"),
        ((col("vlo") + col("f") * (col("vhi") - col("vlo"))) / 100.0)
          .as("r95p"))
    val r95tot = daily.filter(col("wet"))
      .join(p95, Seq("user_id"))
      .groupBy(col("user_id"))
      .agg((sum(when(col("c").cast("double") / 100.0 > col("r95p"),
        col("c")).otherwise(0L)).cast("double") / 100.0).as("r95ptot"))
    flat.join(spells, Seq("user_id"), "left")
      .join(p95, Seq("user_id"), "left")
      .join(r95tot, Seq("user_id"), "left")
      .select(col("user_id"), col("n_days"), col("cdd"), col("cwd"),
        col("r10mm"), col("prcptot"),
        quantize(col("r95p"), 4).as("r95p"),
        col("r95ptot"))
  }

  /** Topographic POSITION index per interior cell — elevation minus
    * the 8-neighbor mean (`gdaldem TPI`, the landform classifier next
    * to slope/aspect/curvature: strongly positive = ridge, strongly
    * negative = valley, near zero = plane/uniform slope). The
    * neighborhood mean of EIGHT integer micro-unit cells is exact
    * (one sum, one division by the literal 8 — a power of two, so
    * even the double division is exact for sums within 2⁵⁰), the
    * landform class uses a ±0.05-unit dead band as literal integer
    * micro-unit thresholds. Same pinned O(cells) table, eight
    * AQE-broadcast shifted-key joins. */
  def gridTpi(spark: SparkSession, dir: String): DataFrame = {
    val cells = gridCells(spark, dir)
    def at(dy: Int, dx: Int, name: String) =
      cells.select((col("gy") - dy).as("gy"), (col("gx") - dx).as("gx"),
        col("v_us").as(name))
    val nbrs = for {
      dy <- -1 to 1; dx <- -1 to 1 if dy != 0 || dx != 0
    } yield (dy, dx, s"n${dy + 1}_${dx + 1}")
    val joined = nbrs.foldLeft(cells) { case (df, (dy, dx, nm)) =>
      df.join(at(dy, dx, nm), Seq("gy", "gx"))
    }
    val nbrSum = nbrs.map { case (_, _, nm) => col(nm) }
      .reduce(_ + _)
    // TPI in micro-units: v − Σnbr/8; ×8 keeps it integer for the
    // class comparison (dead band ±0.05 units = ±400000 µ·8)
    val tpi8 = col("v_us") * 8 - nbrSum
    joined.select(col("gy"), col("gx"),
      (tpi8.cast("double") / 8.0 / 1e6).as("tpi"),
      when(tpi8 > 400000L, "ridge")
        .when(tpi8 < -400000L, "valley")
        .otherwise("plane").as("landform"))
  }

  /** ASPECT ROSE — the octant distribution of [[gridGradient]]'s
    * slope directions with each octant's mean slope (the terrain
    * summary a solar/exposure analysis opens with: which way does
    * this catchment face, and how steeply). Composition over the
    * gradient table (oracle mirrors it): per-cell slopes re-quantize
    * to exact 1e-6-unit longs before the octant mean (the fold-order
    * rule), output bounded at 9 rows. */
  def gridAspectRose(spark: SparkSession, dir: String): DataFrame =
    gridGradient(spark, dir)
      .groupBy(col("aspect"))
      .agg(count(lit(1)).as("n_cells"),
        (floor(sum(units(col("slope"), 6))
          .cast("double") / count(lit(1)) / 100.0 + 0.5) / 1e4)
          .as("mean_slope"))

  /** EXTREMAL INDEX by runs declustering — the third EVT lane beside
    * [[returnLevels]] (block maxima) and [[potGpd]] (peaks over
    * threshold): θ ∈ (0,1] measures how much extremes CLUSTER
    * (θ = 1 ⇒ independent exceedances; θ → 0 ⇒ one storm shows up
    * as many exceedance days — and effective return periods scale by
    * 1/θ, so ignoring it overstates risk). Threshold = the
    * ⌈0.9n⌉-th smallest daily total (integer-rank order statistic on
    * exact cents — the [[potGpd]] discipline), exceedance days
    * decluster by the runs rule (a gap > [[ExtremalRunGap]] days
    * starts a new cluster), θ = clusters / exceedances.
    *
    * Shape: one station window for the rank pick, one broadcast-
    * sized threshold join back, one lag on the exceedance sliver —
    * everything after the daily reduction is O(stations × days). */
  val ExtremalRunGap = 2
  def extremalIndex(spark: SparkSession, dir: String): DataFrame = {
    val daily = byDay(Tables.events(spark, dir))
      .agg(cents.as("c"))
      .withColumn("dn", datediff(col("day").cast("date"),
        lit("2024-01-01").cast("date")))
      .localCheckpoint() // the rank pick and the exceedance scan both read it
    val wRank = Window.partitionBy(col("user_id")).orderBy(col("c"))
    val thresh = daily
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("rn") === ceil(col("n") * lit(0.9)).cast("int"))
      .select(col("user_id"), col("c").as("u"), col("n").as("n_days"))
    val wLag = Window.partitionBy(col("user_id")).orderBy(col("dn"))
    daily.join(broadcast(thresh), Seq("user_id"))
      .filter(col("c") > col("u"))
      .withColumn("gap", col("dn") - lag(col("dn"), 1).over(wLag))
      .withColumn("new_cluster",
        when(col("gap").isNull || col("gap") > ExtremalRunGap, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(min(col("n_days")).as("n_days"),
        (min(col("u")).cast("double") / 100.0).as("threshold"),
        count(lit(1)).as("n_exceed"),
        sum(col("new_cluster")).as("n_clusters"))
      .select(col("user_id"), col("n_days"),
        col("threshold"), col("n_exceed"), col("n_clusters"),
        quantize(col("n_clusters").cast("double") / col("n_exceed"), 4).as("theta"))
  }

  /** Terrain RUGGEDNESS index per interior cell (`gdaldem TRI`,
    * Riley's mean absolute elevation difference to the 8 neighbors —
    * the third member of the derivative family beside slope and
    * [[gridTpi]]): Σ|v−nᵢ| stays an exact integer in micro-units,
    * the /8 mean is a power-of-two division, and the
    * smooth/intermediate/rugged classes are integer thresholds on
    * the ×8 sum. Same pinned O(cells) table and eight
    * AQE-broadcast shifted-key joins. */
  def gridRuggedness(spark: SparkSession, dir: String): DataFrame = {
    val cells = gridCells(spark, dir)
    def at(dy: Int, dx: Int, name: String) =
      cells.select((col("gy") - dy).as("gy"), (col("gx") - dx).as("gx"),
        col("v_us").as(name))
    val nbrs = for {
      dy <- -1 to 1; dx <- -1 to 1 if dy != 0 || dx != 0
    } yield (dy, dx, s"n${dy + 1}_${dx + 1}")
    val joined = nbrs.foldLeft(cells) { case (df, (dy, dx, nm)) =>
      df.join(at(dy, dx, nm), Seq("gy", "gx"))
    }
    val triSum = nbrs.map { case (_, _, nm) => abs(col("v_us") - col(nm)) }
      .reduce(_ + _)
    joined.select(col("gy"), col("gx"),
      (triSum.cast("double") / 8.0 / 1e6).as("tri"),
      when(triSum <= 8L * 2000000L, "smooth")
        .when(triSum <= 8L * 5000000L, "intermediate")
        .otherwise("rugged").as("ruggedness"))
  }

  /** Temperature-side ETCCDI indices — the thermal half of the suite
    * ([[etccdiIndices]] covers precipitation): FD (frost days — daily
    * MINIMUM below the freeze line), SU (summer days — daily MAXIMUM
    * above the warm line), mean DTR (diurnal range, the
    * station-siting QC number), and TX90p (share of days whose max
    * exceeds the station's own 90th-percentile max — the warm-tail
    * exceedance index). Daily min/max come from exact cents (order
    * statistics — merge-order-free by definition); DTR averages
    * integer ranges with one division; the TX90p threshold
    * rank-interpolates on one station window and the share divides
    * two exact counts. Same pinned-daily / bounded-rejoin shape as
    * the precipitation suite. */
  def etccdiTemperature(spark: SparkSession, dir: String): DataFrame = {
    val FrostCents = 2000L // 20.00 units — the synthetic freeze line
    val WarmCents = 8000L  // 80.00 units — the synthetic summer line
    val daily = byDay(Tables.events(spark, dir))
      .agg(min(TimeSeries.cents(col("value"))).as("tn"),
        max(TimeSeries.cents(col("value"))).as("tx"))
      .localCheckpoint()
    val flat = daily.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("tn") < FrostCents, 1L).otherwise(0L)).as("fd"),
        sum(when(col("tx") > WarmCents, 1L).otherwise(0L)).as("su"),
        quantize(sum(col("tx") - col("tn")).cast("double")
          / count(lit(1)) / 100.0, 4).as("dtr_mean"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("tx"))
    val ranked = daily
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("user_id"))))
    val r = (col("n") - 1) * lit(0.9)
    val lo = floor(r) + 1
    val p90 = ranked.groupBy(col("user_id"))
      .agg(min(when(col("rn") === lo, col("tx"))).as("vlo"),
        min(when(col("rn") === least(lo + 1, col("n")), col("tx"))).as("vhi"),
        min(r - floor(r)).as("f"))
      .select(col("user_id"),
        ((col("vlo") + col("f") * (col("vhi") - col("vlo"))) / 100.0)
          .as("tx90_thresh"))
    val exceed = daily.join(p90, Seq("user_id"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("tx").cast("double") / 100.0 > col("tx90_thresh"),
        1L).otherwise(0L)).as("n_exceed"))
    flat.join(p90, Seq("user_id"), "left")
      .join(exceed, Seq("user_id"), "left")
      .select(col("user_id"), col("n_days"), col("fd"), col("su"),
        col("dtr_mean"),
        quantize(col("tx90_thresh"), 4).as("tx90_thresh"),
        quantize(col("n_exceed").cast("double") / col("n_days"), 4).as("tx90p"))
  }

  /** Terrain CURVATURE per interior cell — the second-derivative
    * member of the raster-derivative family ([[gridGradient]] is the
    * first; `gdaldem` and every terrain toolkit ship both): central
    * second differences d²z/dx² = z(x+1) − 2z + z(x−1) (and the y
    * twin) on the SAME pinned O(cells) table and the same four
    * AQE-broadcast shifted-key joins, Laplacian = their sum, and the
    * landform class a drainage analysis reads (Laplacian > 0 ⇒
    * locally concave/accumulating, < 0 ⇒ convex/shedding — the
    * companion signal to [[gridFlowAcc]]). All differences are exact
    * integer micro-units; zero is exactly representable so 'flat' is
    * a bit-exact class, not a tolerance. */
  def gridCurvature(spark: SparkSession, dir: String): DataFrame = {
    val cells = gridCells(spark, dir)
    def at(dy: Int, dx: Int, name: String) =
      cells.select((col("gy") - dy).as("gy"), (col("gx") - dx).as("gx"),
        col("v_us").as(name))
    val d2x = col("vxp") - col("v_us") * 2 + col("vxm")
    val d2y = col("vyp") - col("v_us") * 2 + col("vym")
    cells
      .join(at(0, 1, "vxp"), Seq("gy", "gx"))
      .join(at(0, -1, "vxm"), Seq("gy", "gx"))
      .join(at(1, 0, "vyp"), Seq("gy", "gx"))
      .join(at(-1, 0, "vym"), Seq("gy", "gx"))
      .select(col("gy"), col("gx"),
        (d2x.cast("double") / 1e6).as("d2zdx2"),
        (d2y.cast("double") / 1e6).as("d2zdy2"),
        ((d2x + d2y).cast("double") / 1e6).as("laplacian"),
        when(d2x + d2y > 0, "concave")
          .when(d2x + d2y < 0, "convex")
          .otherwise("flat").as("landform"))
  }

  /** FREEZE–THAW CYCLE census — the infrastructure/agronomy
    * companion of the [[snowPackDdm]] lane (pavement damage, frost
    * heave, bud kill all scale with how often a site CROSSES the
    * freezing line, not how cold it gets): per station, days below
    * the [[SnowT0]] line, days above, and the number of consecutive-
    * day crossings in either direction. The comparison reuses the
    * exact daily tmean (integer-cent sums, one division), so the
    * below/above verdicts are deterministic; crossings come from one
    * lag on the same (station; day) sort the resample shuffle
    * already produced (two exchanges, the [[growingDegreeDays]]
    * scale split). */
  def freezeThawCycles(spark: SparkSession, dir: String): DataFrame =
    freezeThawCyclesOf(Tables.events(spark, dir))

  /** [[freezeThawCycles]] over an arbitrary (ts, user_id, value)
    * frame — seam for spec-testing crossing counts. */
  private[graft] def freezeThawCyclesOf(ev: DataFrame): DataFrame = {
    val daily = byDay(ev)
      .agg((cents.cast("double") / (count(lit(1)) * lit(1000.0))).as("tmean"))
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("day"))
    daily
      .withColumn("frozen", when(col("tmean") < SnowT0, 1).otherwise(0))
      .withColumn("cross",
        when(lag(col("frozen"), 1).over(wOrd).isNotNull &&
          lag(col("frozen"), 1).over(wOrd) =!= col("frozen"), 1).otherwise(0))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("frozen")).cast("long").as("n_frozen"),
        sum(col("cross")).cast("long").as("n_crossings"))
  }

  /** Sun altitude/azimuth constants for [[gridHillshade]] — the
    * standard 315°/45° cartographic sun, PRE-RESOLVED to the three
    * coefficients of the trig-free normal-dot-sun form so both
    * engines evaluate the identical literal arithmetic:
    * shade = max(0, (Cx·p + Cy·q + Cz) / √(1 + p² + q²)) with
    * n = (−p, −q, 1)/‖·‖ and sun (sinAz·cosAlt, cosAz·cosAlt,
    * sinAlt). At az 315°, alt 45°: Cx = −sinAz·cosAlt = ½,
    * Cy = −cosAz·cosAlt = −½, Cz = sinAlt = √2/2. */
  private val HsCx = 0.5
  private val HsCy = -0.5
  private[graft] val HsCz = math.sqrt(2.0) / 2.0

  /** HILLSHADE over the grid — the cartographic rendering derivative
    * on top of [[gridGradient]]'s central differences (the reference
    * publishes its rasters to map services; shaded relief is the
    * standard presentation layer of every published DEM/severity
    * grid). Computed WITHOUT trig: the usual cos(slope)/cos(az −
    * aspect) formulation collapses to the surface-normal dot the sun
    * vector, which is pure multiply/divide/sqrt on the already-exact
    * gradient components — IEEE-deterministic in both engines, so
    * the 0–255 rendering hash-checks (the gridGradient no-trig
    * discipline extended to illumination).
    *
    * Shape at scale: inherits the gradient's plan verbatim (one
    * aggregation to cells + four shifted broadcast self-joins of the
    * pinned O(cells) table); the shading itself is elementwise. */
  def gridHillshade(spark: SparkSession, dir: String): DataFrame = {
    val p = col("dzdx"); val q = col("dzdy")
    val shade = greatest(lit(0.0),
      (p * HsCx + q * HsCy + HsCz)
        / sqrt(p * p + q * q + lit(1.0)))
    gridGradient(spark, dir)
      .select(col("gy"), col("gx"),
        round(shade, 4).as("hillshade"),
        floor(shade * 255 + 0.5).cast("long").as("shade255"))
  }

  /** Cell width (degrees) of the station nearest-neighbor grid file
    * — [[graft.sources.Catalog.publishSpatial]]'s bucketing idea
    * applied to the station dim. */
  private[graft] val NnCellDeg = 10.0

  /** Station-grain wrapper over the cell search: co-located stations
    * (bit-equal (lat, lon) — sensor clusters, the pseudo-grid's
    * collapse) share every candidate distance, so the ring search
    * runs once per DISTINCT POSITION (represented by its min station
    * id) and stations resolve locally — a station at a ≥2-station
    * position takes dist 0 with the min other id (the id tie-break
    * on equal distance, unchanged); a singleton-position station
    * takes its position's pick. At sf1 this cuts the candidate join
    * from (stations/cell)² to (positions/cell)² — 18 M rows → a few
    * thousand on the collapsed test network — and on a real network
    * with unique coordinates it degenerates to exactly the previous
    * plan plus two cheap hash aggregations. Exactness (incl. the
    * duplicate-position and tie cases) is brute-force-gated in
    * ClimateSpec. */
  private[graft] def nearestNeighborOf(st: DataFrame): DataFrame = {
    // LAZY pins (r18): stP and pos still materialize exactly once —
    // the cell table's EAGER pin below ([[nearestDistinctOf]]) sits at
    // the end of the linear stP → pos → cells lineage, so its one job
    // persists all three before any concurrent reader (pid2, the
    // mapping joins) exists. The r17 eager pins here were two of this
    // query's five serializing barrier jobs (31-job lane).
    val stP = st.select(col("user_id"), col("lat"), col("lon"))
      .localCheckpoint(eager = false) // read by position agg, pid2 agg, mapping
    val pos = stP.groupBy(col("lat"), col("lon"))
      .agg(min(col("user_id")).as("pid"), count(lit(1)).as("n_at"))
      .localCheckpoint(eager = false) // read by the cell search and the mapping
    // second-lowest id per multi-station position: the within-
    // position neighbor of the representative itself
    val pid2 = stP
      .join(pos.select(col("lat"), col("lon"), col("pid")),
        Seq("lat", "lon"))
      .filter(col("user_id") =!= col("pid"))
      .groupBy(col("lat"), col("lon"))
      .agg(min(col("user_id")).as("pid2"))
    val posNN = nearestDistinctOf(pos.select(col("pid").as("user_id"),
      col("lat"), col("lon")))
    stP
      .join(pos.select(col("lat"), col("lon"), col("pid"), col("n_at")),
        Seq("lat", "lon"))
      .join(pid2, Seq("lat", "lon"), "left")
      .join(posNN.select(col("user_id").as("pid"),
        col("neighbor_id").as("nn_pid"), col("dist2").as("nn_d2")),
        Seq("pid"), "left")
      .select(col("user_id"),
        when(col("n_at") >= 2,
          when(col("user_id") === col("pid"), col("pid2"))
            .otherwise(col("pid")))
          .otherwise(col("nn_pid")).as("neighbor_id"),
        when(col("n_at") >= 2, lit(0.0))
          .otherwise(col("nn_d2")).as("dist2"))
      .filter(col("neighbor_id").isNotNull)
  }

  /** EXACT nearest peer per station by SPATIAL-CELL BUCKETING — the
    * grid-file search that replaces the stations² cross join. Input:
    * (user_id, lat, lon); output: (user_id, neighbor_id, dist2) with
    * dist2 = exact equirectangular squared degrees, argmin ties on
    * the smaller neighbor_id, stations with no peer emit no row (the
    * cross-join semantics preserved).
    *
    * Pass 1: stations land in [[NnCellDeg]]-degree cells; candidates
    * come from one equi-join of each station's 9-cell neighborhood
    * (3×3 offsets exploded) against the cell-keyed station table.
    * A pick with d₁ ≤ C is PROVABLY exact — any station outside the
    * 3×3 block differs by > C on at least one axis (cells are
    * half-open, so the boundary case is strict), hence is strictly
    * farther; ties inside the ring are resolved by the ordinary
    * argmin ordering.
    *
    * Pass 2 (residual sliver only — stations whose pass-1 pick is
    * > C away, or who saw no candidate at all): re-search a
    * per-station ring of radius R = ⌊d₁/C⌋+1 cells (outside ring-R
    * lies strictly beyond d₁, so the ring contains every possible
    * winner), generated declaratively via sequence(−R, R)×²; a
    * station with NO pass-1 candidate takes the network-extent
    * radius from a 1-row aggregate that rides a literal-key
    * broadcast equi-join (never a cross join).
    *
    * Scale shape: every pairing is an equi-join on integer cell
    * keys; per-station candidate count is O(local density), and the
    * quadratic candidate space of the old crossJoin never
    * materializes. The plan contains no CartesianProduct /
    * BroadcastNestedLoopJoin node (spec-asserted on a synthetic
    * network plus the live query).
    *
    * Requires DISTINCT positions ([[nearestNeighborOf]], the
    * station-grain wrapper above, guarantees it). */
  private def nearestDistinctOf(st: DataFrame): DataFrame = {
    val C = NnCellDeg
    val cells = st.select(col("user_id"), col("lat"), col("lon"),
        floor(col("lat") / C).cast("long").as("cy"),
        floor(col("lon") / C).cast("long").as("cx"))
      .localCheckpoint()
    val nbrs = cells.select(col("user_id").as("neighbor_id"),
      col("lat").as("lat2"), col("lon").as("lon2"),
      col("cy").as("ncy"), col("cx").as("ncx"))
    // shared argmin tail: candidate rows -> one pick per station.
    // min(struct(dist2, neighbor_id)) IS the (dist2 asc, neighbor_id
    // asc) argmin, but as a HASH AGGREGATE with map-side partial
    // combine: each input partition reduces to one row per station
    // before the exchange. The row_number window this replaces had
    // to SORT the full candidate set first — at sf1 that was 18M
    // candidate rows (dense cells) and 9.5 s of the lane's 12.7 s;
    // the agg streams them (r13, BENCH_NOTES "station_neighbor_corr
    // floor").
    def ringPick(cand: DataFrame): DataFrame = cand
      .filter(col("user_id") =!= col("neighbor_id"))
      .withColumn("dist2",
        (col("lat") - col("lat2")) * (col("lat") - col("lat2"))
          + (col("lon") - col("lon2")) * (col("lon") - col("lon2")))
      .groupBy(col("user_id"))
      .agg(min(struct(col("dist2"), col("neighbor_id"))).as("pick"))
      .select(col("user_id"), col("pick.neighbor_id").as("neighbor_id"),
        col("pick.dist2").as("dist2"))
    val off3 = array((-1 to 1).map(lit(_)): _*)
    val p1 = ringPick(cells
        .withColumn("dy", explode(off3))
        .withColumn("dx", explode(off3))
        .join(nbrs, col("ncy") === col("cy") + col("dy")
          && col("ncx") === col("cx") + col("dx")))
      .localCheckpoint()
    val exact = p1.filter(col("dist2") <= C * C)
    // residual sliver: pass-1 pick beyond one cell width, or none
    // 1-row network extent; the join key is a runtime-computed zero
    // on BOTH sides (pmod of an aggregate / of a column) so Catalyst
    // cannot constant-fold the equi-join away into a nested-loop —
    // the extent rides an ordinary BroadcastHashJoin
    val ext = st.agg(
        (floor(greatest(max(col("lat")) - min(col("lat")),
          max(col("lon")) - min(col("lon"))) / C) + 2).cast("long").as("rg"),
        pmod(count(lit(1)), lit(1L)).as("k0"))
    val residual = cells
      .join(exact.select(col("user_id")), Seq("user_id"), "left_anti")
      .join(p1.select(col("user_id"), col("dist2").as("d1")),
        Seq("user_id"), "left")
      .withColumn("k0", pmod(col("user_id"), lit(1L)))
      .join(broadcast(ext), Seq("k0"))
      .withColumn("r", when(col("d1").isNotNull,
        floor(sqrt(col("d1")) / C).cast("long") + 1).otherwise(col("rg")))
    val p2 = ringPick(residual
      .withColumn("dy", explode(sequence(-col("r"), col("r"))))
      .withColumn("dx", explode(sequence(-col("r"), col("r"))))
      .join(nbrs, col("ncy") === col("cy") + col("dy")
        && col("ncx") === col("cx") + col("dx")))
    exact.unionByName(p2)
  }

  /** NEAREST-NEIGHBOR CORRELATION — the spatial-consistency QC
    * beside [[doubleMass]]'s temporal one: each station's daily
    * series correlated against its geographically NEAREST peer; a
    * station that stops co-varying with its neighbor (low r while
    * the network's typical r is high) is drifting, shadowed, or
    * mis-located — the classic screen run before accepting a gauge
    * into an interpolated product. Distance compares exact
    * equirectangular squared degrees (the 2.5°-quantum pseudo-coords
    * are exactly representable, so the argmin is deterministic; ties
    * break on the smaller id).
    *
    * Shape at scale: the neighbor search is [[nearestNeighborOf]]'s
    * spatial-cell bucketing (candidates from each station's own +
    * adjacent 10° cells, per-station ring expansion for the provably
    * rare residual) — O(local density) candidates per station instead
    * of a stations² cross join; no CartesianProduct node survives in
    * the plan (spec-asserted). The
    * correlation itself is the [[graft.operators.TimeSeries
    * .crossCorrRef]] discipline: daily means quantized once to exact
    * 1e-4 longs, raw-sum Pearson with the overflow-safe double cast
    * only inside the sqrt. */
  def stationNeighborCorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = byDay(Tables.events(spark, dir))
      .agg(floor(cents
        .cast("double") * 100.0 / count(lit(1)) + 0.5).cast("long").as("m_u"))
      // LAZY pin (r18): the neighbor search's eager cell pin is the
      // first consumer and sits downstream of a LINEAR lineage through
      // daily, so daily is persisted by that one job and the two
      // pairing joins below read the cache — one events aggregation,
      // no standalone barrier job.
      .localCheckpoint(eager = false)
    val st = daily.select(col("user_id")).distinct()
      .withColumn("lat", pseudoLat(col("user_id")))
      .withColumn("lon", pseudoLon(col("user_id")))
    val nb = nearestNeighborOf(st)
      .select(col("user_id"), col("neighbor_id"),
        sqrt(col("dist2")).as("dist_deg"))
    val paired = nb
      .join(daily, Seq("user_id"))
      .join(daily.select(col("user_id").as("neighbor_id"), col("day"),
        col("m_u").as("n_u")), Seq("neighbor_id", "day"))
    paired.groupBy(col("user_id"), col("neighbor_id"), col("dist_deg"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("m_u")).as("sx"), sum(col("n_u")).as("sy"),
        sum(col("m_u") * col("n_u")).as("sxy"),
        sum(col("m_u") * col("m_u")).as("sxx"),
        sum(col("n_u") * col("n_u")).as("syy"))
      .withColumn("num", col("n_days") * col("sxy") - col("sx") * col("sy"))
      .withColumn("dx", col("n_days") * col("sxx") - col("sx") * col("sx"))
      .withColumn("dy", col("n_days") * col("syy") - col("sy") * col("sy"))
      .select(col("user_id"), col("neighbor_id"),
        quantize(col("dist_deg"), 4).as("dist_deg"),
        col("n_days"),
        when(col("n_days") >= 5 && col("dx") > 0 && col("dy") > 0,
          quantize(col("num").cast("double")
            / sqrt(col("dx").cast("double") * col("dy").cast("double")), 4)).as("r"))
  }

  /** DOUBLE-MASS CURVE — the classic manual-QC chart for climate
    * records (Searcy & Hardison 1960; the reference's station feeds
    * are exactly the kind of gauge whose relocation/recalibration
    * this catches): cumulative station total plotted against the
    * cumulative ALL-STATION daily mean — a consistent record is a
    * straight line, a slope BREAK dates the instrumentation change.
    * Emitted as (station, day, cum_station, cum_reference, ratio);
    * the downstream break test is [[graft.operators.TimeSeries
    * .cusumDrift]] on the ratio series.
    *
    * Exactness: daily sums are integer cents; the reference day mean
    * quantizes once to 1e-4 units; both cumulatives are exact long
    * window sums, the ratio one division rounded once. Two shuffles:
    * the (station, day) resample and the station-keyed windows; the
    * day-keyed reference agg rides the tiny daily grain. */
  def doubleMass(spark: SparkSession, dir: String): DataFrame = {
    val daily = byDay(Tables.events(spark, dir))
      .agg(cents.as("day_c"))
      .localCheckpoint()
    val ref = daily.groupBy(col("day"))
      .agg(floor(sum(col("day_c")).cast("double")
        / count(lit(1)) * 100.0 + 0.5).cast("long").as("ref_u"))
    val wCum = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(ref, Seq("day"))
      .withColumn("cum_s", sum(col("day_c")).over(wCum))
      .withColumn("cum_r", sum(col("ref_u")).over(wCum))
      .select(col("user_id"), col("day"),
        (col("cum_s").cast("double") / 100.0).as("cum_station"),
        (col("cum_r").cast("double") / 1e4).as("cum_reference"),
        when(col("cum_r") > 0,
          round(col("cum_s") * 100.0 / col("cum_r").cast("double"), 4))
          .as("ratio"))
  }

  /** MASTER RECESSION CONSTANT — the aquifer-drainage signature read
    * off streamflow records (the [[baseflowLh]] lane's diagnostic):
    * on strictly-FALLING days, Q_t ≈ k·Q_{t−1}, and the station's k
    * is the MEDIAN of the daily ratios — the robust estimator that
    * shrugs off the rainfall days the regression form would need
    * excluded by hand. Ratios quantize once to 1e-4 units; the
    * median interpolates exact integers (`percentile` ↔
    * `quantile_cont` pairing); stations need ≥ 3 recession days.
    * One (station; day) sort carries the resample, the lag, and the
    * ratio; the rollup is a bounded-group percentile. */
  def recessionConstant(spark: SparkSession, dir: String): DataFrame = {
    val daily = byDay(Tables.events(spark, dir))
      .agg(centMean(cents, count(lit(1))).as("q"))
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("day"))
    daily
      .withColumn("q_prev", lag(col("q"), 1).over(wOrd))
      .filter(col("q_prev").isNotNull && col("q") < col("q_prev")
        && col("q_prev") > 0)
      .withColumn("ratio_u",
        units(col("q") / col("q_prev"), 4))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_recession"),
        (floor(percentile(col("ratio_u"), lit(0.5)) + 0.5) / 1e4).as("k"))
      .filter(col("n_recession") >= 3)
  }

  /** The D8 neighbor table: (dy, dx, priority, name, mult) with
    * mult = 2 for orthogonal steps and 1 for diagonals, so steepness
    * comparison is the EXACT integer `mult·drop²` (drop/1 vs drop/√2
    * squared and cross-multiplied — no float distance anywhere).
    * Priority breaks exact-score ties deterministically (E first,
    * clockwise). */
  private[graft] val D8: Seq[(Int, Int, Int, String, Int)] = Seq(
    (0, 1, 1, "E", 2), (1, 1, 2, "SE", 1), (1, 0, 3, "S", 2),
    (1, -1, 4, "SW", 1), (0, -1, 5, "W", 2), (-1, -1, 6, "NW", 1),
    (-1, 0, 7, "N", 2), (-1, 1, 8, "NE", 1))

  /** D8 FLOW DIRECTION — the first half of the raster hydrology pair
    * (`gdaldem`'s sibling `r.watershed`/ArcGIS FlowDirection): each
    * cell drains to its steepest strictly-DOWNHILL neighbor of the
    * eight, with distance folded in exactly (orthogonal drop vs
    * diagonal drop/√2 compared as integer 2·d² vs d² — squares of
    * positive drops preserve order, so no float enters the verdict);
    * ties break on a fixed clockwise priority; a cell with no
    * downhill neighbor is a pit (interior sink or map-edge outflow).
    *
    * Shape at scale: the 8-way neighborhood is ONE equi-join of the
    * pinned cell table against itself through an exploded literal
    * offset table (not eight separate joins), then a per-cell
    * row_number pick — all on the aggregated grid grain. */
  def gridFlowDir(spark: SparkSession, dir: String): DataFrame =
    flowDirOf(gridCells(spark, dir))

  private def flowDirOf(cells: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val offsets = D8.map { case (dy, dx, prio, name, mult) =>
      struct(lit(dy).as("dy"), lit(dx).as("dx"), lit(prio).as("prio"),
        lit(name).as("dir"), lit(mult).as("mult"))
    }
    val cand = cells
      .select(col("gy"), col("gx"), col("v_us"),
        explode(array(offsets: _*)).as("o"))
      .join(cells.select(col("gy").as("ny"), col("gx").as("nx"),
        col("v_us").as("nv")),
        col("ny") === col("gy") + col("o.dy") &&
          col("nx") === col("gx") + col("o.dx"))
      .filter(col("v_us") > col("nv"))
      .withColumn("drop", col("v_us") - col("nv"))
      .withColumn("score", col("o.mult") * col("drop") * col("drop"))
    // argmax as a map-side max(struct) (r17): (score desc, prio asc)
    // is TOTAL within a cell (each of the 8 offsets carries a unique
    // prio), so the payload fields after the keys can never be
    // compared — identical pick to the row_number window, but a hash
    // aggregate with partial combine instead of an 8×-wider sort per
    // cell
    val picked = cand
      .groupBy(col("gy"), col("gx"))
      .agg(max(struct(col("score").as("s"), (-col("o.prio")).as("np"),
        struct(col("o.dir").as("dir"), col("ny"), col("nx")).as("p")))
        .as("k"))
      .select(col("gy"), col("gx"), col("k.p.dir").as("dir"),
        col("k.p.ny").as("to_gy"), col("k.p.nx").as("to_gx"))
    cells.select(col("gy"), col("gx"))
      .join(picked, Seq("gy", "gx"), "left")
      .withColumn("dir", coalesce(col("dir"), lit("pit")))
  }

  /** WATERSHED DELINEATION — the third member of the D8 raster trio
    * ([[gridFlowDir]] = where each cell drains, [[gridFlowAcc]] =
    * how much drains through, this = WHICH BASIN each cell belongs
    * to): every cell is labeled with the terminal pit its flow path
    * reaches, plus that basin's cell count — `r.watershed`/ArcGIS
    * Basin over the aggregated grid.
    *
    * The walk composes by POINTER DOUBLING: ptr₀ = my D8 target (or
    * self for a pit), ptr_{k+1} = ptr_k ∘ ptr_k — each round is one
    * self-equi-join of the O(cells) pointer table, and D-length
    * paths resolve in ⌈log₂ D⌉ rounds (vs D rounds of naive
    * stepping). Pits map to themselves so composition is idempotent
    * at the fixpoint; convergence is CHANGED-ROW COUNT (next vs ptr,
    * keyed equi-join, any pointer moved?) — sound because an
    * unchanged round means ptr is idempotent, and the only fixed
    * points of the strictly-downhill step are pit self-loops (the
    * earlier checksum Σ(py·1000+px) was neither monotone nor
    * key-safe for gx ≥ 1000). Rounds localCheckpoint (iterative —
    * the plan would double per round). Oracle: the same walk as a
    * recursive CTE (strictly downhill ⇒ acyclic ⇒ terminates),
    * terminal row per cell. */
  def gridWatershed(spark: SparkSession, dir: String): DataFrame = {
    val fd = gridFlowDir(spark, dir).localCheckpoint()
    var ptr = fd.select(col("gy"), col("gx"),
        coalesce(col("to_gy"), col("gy")).as("py"),
        coalesce(col("to_gx"), col("gx")).as("px"))
      .localCheckpoint()
    var converged = false
    while (!converged) {
      // the composition join already sees old (py, px — the join key)
      // and new (py2, px2) side by side, so the round's MOVED flag is
      // computed in the same pass and pinned with it (r18): the
      // convergence probe is then a trivial filter over the persisted
      // blocks instead of a second keyed self-join job per round —
      // same fixpoint test (any pointer moved?), half the per-round
      // jobs and no probe shuffle.
      val step = ptr
        .join(ptr.select(col("gy").as("py"), col("gx").as("px"),
          col("py").as("py2"), col("px").as("px2")), Seq("py", "px"))
        .select(col("gy"), col("gx"),
          col("py2").as("npy"), col("px2").as("npx"),
          (col("py2") =!= col("py") || col("px2") =!= col("px")).as("moved"))
        .localCheckpoint()
      converged = step.filter(col("moved")).isEmpty
      ptr = step.select(col("gy"), col("gx"),
        col("npy").as("py"), col("npx").as("px"))
    }
    val basins = ptr.groupBy(col("py"), col("px"))
      .agg(count(lit(1)).as("basin_n"))
    ptr.join(basins, Seq("py", "px"))
      .select(col("gy"), col("gx"),
        col("py").as("pit_y"), col("px").as("pit_x"), col("basin_n"))
  }

  /** NULL-TERMINATED JUMP TABLES for the D8 in-forest: J₀ = the
    * non-pit flow edges; J_{k+1}(u) = J_k(J_k(u)) by one inner
    * self-equi-join per doubling (a cell drops out of J_{k+1}
    * exactly when its walk runs off the end inside 2^{k+1} steps —
    * null-termination for free, no self-loops, no sentinel rows).
    * Stops when the doubled table is empty, i.e. 2^K exceeds the
    * longest flow path D: K = ⌈log₂(D+1)⌉ tables, each ≤ O(cells)
    * rows, each pinned by localCheckpoint. The K isEmpty probes on
    * strictly-shrinking tables are the ONLY driver actions in the
    * whole flow-accumulation pipeline. */
  private[graft] def flowJumpTables(fd: DataFrame): Seq[DataFrame] = {
    val tables = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var jump = fd.filter(col("dir") =!= "pit")
      .select(col("gy"), col("gx"),
        col("to_gy").as("jy"), col("to_gx").as("jx"))
      .localCheckpoint()
    while (!jump.isEmpty) {
      tables += jump
      jump = jump
        .join(jump.select(col("gy").as("jy"), col("gx").as("jx"),
          col("jy").as("jy2"), col("jx").as("jx2")), Seq("jy", "jx"))
        .select(col("gy"), col("gx"),
          col("jy2").as("jy"), col("jx2").as("jx"))
        .localCheckpoint()
    }
    // the loop's terminal table is empty but still pinned — release it
    org.apache.spark.sql.graftbridge.CheckpointBridge.release(jump)
    tables.toSeq
  }

  /** D8 FLOW ACCUMULATION — the second half of the raster hydrology
    * pair: how many cells drain THROUGH each cell (itself included),
    * i.e. upslope contributing area, the quantity stream networks
    * and flood indices are read from. The D8 graph is functional
    * (one outflow per cell) and ACYCLIC (strictly downhill edges),
    * so acc(c) = #{u : c on u's flow path} — the subtree size of c
    * in the forest of in-trees rooted at pits.
    *
    * Computed in O(log D) rounds by POINTER DOUBLING WITH PARTIAL
    * PATH SUMS (replacing the earlier O(D)-round Jacobi fixpoint
    * that ran a driver-side total() action per round — thousands of
    * sequential jobs on a continental DEM). Two passes:
    *
    *  1. FORWARD: build the null-terminated jump tables J₀..J_{K-1}
    *     ([[flowJumpTables]]). Binary-jump decomposition makes the
    *     downward path-sum operator the product (I+S_{K-1})···(I+S₀)
    *     where (S_k x)(u) = x(J_k(u)) — each node of u's path is hit
    *     exactly once (proper jumps, no self-loops, 2^K > D).
    *  2. BACKWARD: accumulation is the TRANSPOSE product applied to
    *     the all-ones vector, (I+S₀ᵀ)···(I+S_{K-1})ᵀ·1, and S_kᵀ is
    *     a plain scatter-add: w(v) += Σ_{u: J_k(u)=v} w(u) — one
    *     equi-join + map-side-partial sum per stored table, walked
    *     k = K-1 … 0. No driver action anywhere in this pass.
    *
    * Total: 2K ≈ 2⌈log₂ D⌉ tiny equi-join rounds on the aggregated
    * grid grain, K isEmpty probes — at D ~ 10⁴ flow-path cells that
    * is ~28 rounds instead of 10⁴. Exact long counts throughout;
    * output hash-identical to the recursive-CTE walk oracle.
    *
    * Storage: each J_k and each superseded weight vector is
    * UNPERSISTED the moment its scatter-add is consumed
    * ([[org.apache.spark.sql.graftbridge.CheckpointBridge]]), so
    * pinned blocks during the backward pass are the not-yet-consumed
    * jump tables plus one weight vector — monotonically shrinking to
    * O(cells) — instead of all 2K tables to session end (spec:
    * ClimateSpec "UNPERSISTED as consumed"). */
  def gridFlowAcc(spark: SparkSession, dir: String): DataFrame = {
    val fd = gridFlowDir(spark, dir).localCheckpoint()
    val out = flowAccOf(fd)
    // flowAccOf is eager end-to-end (every round localCheckpoints),
    // so the result no longer reads fd — release its blocks
    org.apache.spark.sql.graftbridge.CheckpointBridge.release(fd)
    out
  }

  /** Accumulation over an explicit flow-dir table (gy, gx, dir,
    * to_gy, to_gx) — the [[gridFlowAcc]] core, callable on synthetic
    * topologies (the deep-flow-line round-count spec). */
  private[graft] def flowAccOf(fd: DataFrame): DataFrame = {
    // ALL cells, including in-edge-less pits — an isolated sink still
    // reports its own unit of drainage
    var w = fd.select(col("gy"), col("gx")).withColumn("w", lit(1L))
      .localCheckpoint()
    for (jk <- flowJumpTables(fd).reverse) {
      val contrib = jk.join(w, Seq("gy", "gx"))
        .groupBy(col("jy").as("gy"), col("jx").as("gx"))
        .agg(sum(col("w")).as("cw"))
      val prev = w
      w = w.join(contrib, Seq("gy", "gx"), "left")
        .select(col("gy"), col("gx"),
          (col("w") + coalesce(col("cw"), lit(0L))).as("w"))
        .localCheckpoint()
      // J_k's scatter-add and the superseded weight vector are both
      // consumed the moment the new w materializes (localCheckpoint
      // is eager): release their pinned blocks so peak storage over
      // the backward pass is the not-yet-consumed jump tables plus
      // ONE weight vector, not all 2K tables at once
      org.apache.spark.sql.graftbridge.CheckpointBridge.release(jk)
      org.apache.spark.sql.graftbridge.CheckpointBridge.release(prev)
    }
    w.select(col("gy"), col("gx"), col("w").as("n_draining"))
  }

  /** Focal NODATA FILL over the grid — the `rio.fill` /
    * `scipy.interpolate` hole-patching step every raster ingest runs
    * before deriving (the reference re-grids fetched rasters and
    * must fill sensor dropouts; GDAL's `FillNodata` is the codec-side
    * twin): each masked cell takes the MEAN of its up-to-8 valid
    * Moore neighbors; cells with no valid neighbor stay null.
    * The synthetic mask is deterministic ((gx·8+gy) mod 7 = 3 —
    * ~1/7 of cells, mirroring scattered dropouts) so both engines
    * mask identical cells.
    *
    * Shape at scale: ONE fact scan to cells (localCheckpoint'd — the
    * [[gridGradient]] lineage-pinning idiom), then the masked SLIVER
    * (~1/7 of cells) explodes to its 8 neighbor coordinates and
    * equi-joins the valid cells — the join input is 8·|masked|, never
    * 8·|grid|, and the per-target aggregation is map-side partial.
    * No window, no cross product; neighbor arithmetic is pure integer
    * micro-units until one final division (merge-order-free). */
  def gridFillNodata(spark: SparkSession, dir: String): DataFrame = {
    val cells = byCell(Tables.events(spark, dir))
      .agg(microMean.as("v_us"))
      .withColumn("masked", nodata)
      .localCheckpoint()
    val valid = cells.filter(!col("masked"))
    val offsets = array((for (dy <- -1 to 1; dx <- -1 to 1
      if dy != 0 || dx != 0) yield struct(lit(dy).as("dy"), lit(dx).as("dx"))): _*)
    // masked sliver × 8 neighbor coords → equi-join against valid cells
    val fills = cells.filter(col("masked"))
      .select(col("gy"), col("gx"), explode(offsets).as("o"))
      .select(col("gy").as("tgy"), col("gx").as("tgx"),
        (col("gy") + col("o.dy")).as("gy"), (col("gx") + col("o.dx")).as("gx"))
      .join(valid.select(col("gy"), col("gx"), col("v_us")), Seq("gy", "gx"))
      .groupBy(col("tgy").as("gy"), col("tgx").as("gx"))
      .agg(sum(col("v_us")).as("nb_sum"), count(lit(1)).as("nb_n"))
    cells.join(fills, Seq("gy", "gx"), "left")
      .select(col("gy"), col("gx"), col("masked").as("filled"),
        when(!col("masked"), col("v_us").cast("double") / 1e6)
          .otherwise(floor(col("nb_sum").cast("double") / col("nb_n") + 0.5)
            / 1e6).as("v"),
        when(col("masked"), col("nb_n")).cast("long").as("n_neighbors"))
  }

  /** The reference's contour levels (`ingestor_knmi_evapo_fc.py:260`
    * `fixed_lvls = [50, 100, 125, 150, 175, 200]` fed to
    * `gdal_contour -p -amin lvlmin -amax lvlmax`). */
  val contourLevels: Seq[Int] = Seq(50, 100, 125, 150, 175, 200)

  /** Contour BANDS over the daily grid — the data-parallel core of
    * the reference's contour-polygon publish step
    * (`ingestor_knmi_evapo_fc.py:252-270`: rasterize the day's p_def
    * median, `gdal_contour` between fixed levels, ship band polygons
    * with lvlmin/lvlmax attributes). Polygonization itself is a
    * geometry-codec seam (the reference shells out to GDAL for it);
    * what scales — and what this op does — is classifying every cell
    * into its level band and reducing each (day, band) to membership
    * + extent + mean, the attributes the published polygons carry.
    *
    * Band membership compares EXACT integers: cell mean ≥ L ⟺
    * sum_cents ≥ L·100·n, so a cell sitting precisely on a level
    * (values are 2-dec) can never flip bands on a float ulp. One
    * groupBy to cells, elementwise CASE, one groupBy to bands. */
  def gridContourBands(spark: SparkSession, dir: String): DataFrame = {
    val cell = Tables.events(spark, dir)
      .groupBy(dayLabel,
        col("user_id"))
      .agg(cents.as("sum_c"),
        count(lit(1)).as("n_obs"))
    def ge(l: Int) = col("sum_c") >= lit(l.toLong * 100) * col("n_obs")
    // foldLeft nests the LAST element outermost: lvl_min checks the
    // highest level first, lvl_max the lowest
    val lvlMin = contourLevels.foldLeft(lit(null).cast("int")) {
      (acc, l) => when(ge(l), l).otherwise(acc)
    }
    val lvlMax = contourLevels.reverse.foldLeft(lit(null).cast("int")) {
      (acc, l) => when(!ge(l), l).otherwise(acc)
    }
    cell
      .select(col("day"), col("user_id"), col("sum_c"), col("n_obs"),
        lvlMin.as("lvl_min"), lvlMax.as("lvl_max"),
        pseudoLat(col("user_id")).as("lat"), pseudoLon(col("user_id")).as("lon"))
      .groupBy(col("day"), col("lvl_min"), col("lvl_max"))
      .agg(count(lit(1)).as("n_cells"),
        min(col("lon")).as("min_lon"), max(col("lon")).as("max_lon"),
        min(col("lat")).as("min_lat"), max(col("lat")).as("max_lat"),
        quantize(sum(col("sum_c")).cast("double")
          / (lit(100.0) * sum(col("n_obs"))), 4).as("v_mean"))
  }

  /** Zonal statistics: snap pseudo-coordinates to a 30° grid zone,
    * aggregate per zone (`utils_spi.py` compute_zonal_stats). Zone
    * assignment is elementwise in the scan; one agg shuffle. */
  def zonalStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .withColumn("zone_y", floor(pseudoLat(col("user_id")) / 30).cast("int"))
      .withColumn("zone_x", floor(pseudoLon(col("user_id")) / 30).cast("int"))
      .groupBy(col("zone_y"), col("zone_x"))
      .agg(
        count(lit(1)).as("n"),
        // exact cent sum, one division (§5: a raw-double group mean
        // can land on a half-quantum of the 1e-4 grid and flip)
        cents.as("sum_c"),
        round(min(col("value")), 2).as("min_value"),
        round(max(col("value")), 2).as("max_value"))
      .select(col("zone_y"), col("zone_x"), col("n"),
        (floor(col("sum_c").cast("double") * 100.0 / col("n") + 0.5) / 1e4)
          .as("avg_value"),
        col("min_value"), col("max_value"))
  }

  /** Zonal statistics over the DROUGHT INDEX — the reference's actual
    * zonal computation runs over SPI grids, not raw values
    * (`utils_spi.py:565-600` compute_zonal_stats on the SPI dataset):
    * per-zone index distribution + drought-area share. Composes the
    * z-score index (window on the high-cardinality key) with the
    * elementwise zone snap and one aggregation shuffle. */
  def zonalSpi(spark: SparkSession, dir: String): DataFrame = {
    spiZscore(spark, dir)
      .withColumn("zone_y", floor(pseudoLat(col("user_id")) / 30).cast("int"))
      .withColumn("zone_x", floor(pseudoLon(col("user_id")) / 30).cast("int"))
      // recover the EXACT integer 1e-4 units the index was quantized
      // to (zscore = zu/1e4 round-trips bit-exactly: the /1e4 error is
      // ≪ the +0.5 margin), so the zone mean is an exact-long ratio —
      // a raw avg(zscore) double sum could land a half-quantum off
      // under a different merge order. min/max are order statistics
      // over identical bits → safe as-is.
      .withColumn("zu", units(col("zscore"), 4))
      .groupBy(col("zone_y"), col("zone_x"))
      .agg(
        count(lit(1)).as("n"),
        (floor(sum(col("zu")).cast("double") / count(col("zu")) + 0.5) / 1e4)
          .as("avg_z"),
        round(min(col("zscore")), 4).as("min_z"),
        round(max(col("zscore")), 4).as("max_z"),
        sum(when(col("zscore") <= -1.0, 1).otherwise(0)).cast("long")
          .as("drought_n"))
  }

  /** Drought EXTENT through time — the headline drought-monitoring
    * product (`utils_spi.py`'s zonal pass feeds exactly this: how
    * much of each basin is in drought, week by week): per (zone,
    * week), the fraction of observations with index ≤ −1. One window
    * pass for the index on the high-cardinality key, elementwise zone
    * snap, one aggregation on the (zone, week) composite — the time
    * axis multiplies group count, not shuffle width. The fraction
    * divides two exact integers, so one floor-quantize agrees on any
    * engine. */
  def zonalDroughtExtent(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
    Tables.events(spark, dir)
      .withColumn("zscore", zScore4(col("value"), w))
      .withColumn("zone_y", floor(pseudoLat(col("user_id")) / 30).cast("int"))
      .withColumn("zone_x", floor(pseudoLon(col("user_id")) / 30).cast("int"))
      .groupBy(col("zone_y"), col("zone_x"),
        date_format(date_trunc("WEEK", col("ts")), "yyyy-MM-dd").as("week"))
      .agg(count(lit(1)).as("n_obs"),
        sum(when(col("zscore") <= -1.0, 1).otherwise(0)).cast("long")
          .as("drought_n"))
      .withColumn("extent",
        quantize(col("drought_n").cast("double") / col("n_obs"), 4))
  }

  /** USDM-style DROUGHT-CLASS AREA table — [[zonalDroughtExtent]]
    * generalized from one threshold to the five cumulative Drought
    * Monitor classes (D0 abnormally dry … D4 exceptional, at the
    * standard z thresholds −0.5/−0.8/−1.3/−1.6/−2.0): per (zone,
    * week), the share of observations at or below each class — the
    * exact table a drought bulletin prints under its choropleth, and
    * cumulative by construction (D1 area ⊆ D0 area) so downstream
    * consumers never re-derive nesting. Same single-scan shape as
    * the extent: one window for the index, elementwise zone snap,
    * one (zone, week) agg with five conditional integer counts;
    * shares divide exact integers once. */
  def zonalClassArea(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
    val cls = Seq("d0" -> -0.5, "d1" -> -0.8, "d2" -> -1.3,
      "d3" -> -1.6, "d4" -> -2.0)
    val counts = cls.map { case (n, t) =>
      sum(when(col("zscore") <= t, 1).otherwise(0)).cast("long").as(s"${n}_n") }
    val shares = cls.map { case (n, _) =>
      quantize(col(s"${n}_n").cast("double") / col("n_obs"), 4)
        .as(s"${n}_share") }
    Tables.events(spark, dir)
      .withColumn("zscore", zScore4(col("value"), w))
      .withColumn("zone_y", floor(pseudoLat(col("user_id")) / 30).cast("int"))
      .withColumn("zone_x", floor(pseudoLon(col("user_id")) / 30).cast("int"))
      .groupBy(col("zone_y"), col("zone_x"),
        date_format(date_trunc("WEEK", col("ts")), "yyyy-MM-dd").as("week"))
      .agg(count(lit(1)).as("n_obs"), counts: _*)
      .select(Seq(col("zone_y"), col("zone_x"), col("week"), col("n_obs")) ++
        cls.map(c => col(s"${c._1}_n")) ++ shares: _*)
  }

  /** Drought ONSET / RECOVERY transition ledger per zone — the
    * week-over-week state machine ON TOP of [[zonalDroughtExtent]]:
    * a zone is "in drought" when ≥ 7.5% of its observations sit at
    * index ≤ −1 (threshold at the synthetic index's median area fraction, so the state genuinely alternates at every scale factor; a deployment would configure it per basin), and this reports, per zone, how many weeks it was
    * in drought, how many times drought STARTED (onset: below the
    * area threshold last week, at/above it this week), how many
    * times it ENDED (recovery), and the longest consecutive drought
    * run — the persistence/episode summary a drought bulletin
    * prints next to the extent map (the zonal twin of the
    * per-station run-theory episodes in `drought_episodes`).
    * Consecutiveness is by OBSERVED week per zone (the synthetic
    * grid reports every week; a silent zone-week would merge its
    * neighbors — acceptable for a monitoring ledger, and the gap
    * itself is `healthcheck_freshness`'s job to flag).
    *
    * Exactness: `droughty` compares the 4-dp-quantized extent to a
    * shared literal; every downstream count/sum is pure integer.
    *
    * Shape at scale: the extent table is O(zones × weeks) — a
    * sliver — so it is localCheckpoint'ed once (one events scan
    * total; both the per-zone rollup and the run-length branch read
    * the pinned sliver, not the fact table). The lag/run windows and
    * both aggregations all key on the zone composite; the final
    * max-run join is a broadcast of an O(zones) table. */
  def zonalTransitions(spark: SparkSession, dir: String): DataFrame = {
    val wz = Window.partitionBy(col("zone_y"), col("zone_x")).orderBy(col("week"))
    val base = zonalDroughtExtent(spark, dir)
      .withColumn("droughty", when(col("extent") >= 0.075, 1).otherwise(0))
      .withColumn("prev", lag(col("droughty"), 1).over(wz))
      .withColumn("onset",
        when(col("droughty") === 1 && col("prev") === 0, 1).otherwise(0))
      .withColumn("recovery",
        when(col("droughty") === 0 && col("prev") === 1, 1).otherwise(0))
      .withColumn("run_start",
        when(col("droughty") === 1 &&
          (col("prev").isNull || col("prev") === 0), 1).otherwise(0))
      .withColumn("run_id", sum(col("run_start")).over(
        wz.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .localCheckpoint()
    val agg = base.groupBy(col("zone_y"), col("zone_x"))
      .agg(count(lit(1)).as("n_weeks"),
        sum(col("droughty")).cast("long").as("n_drought_weeks"),
        sum(col("onset")).cast("long").as("n_onsets"),
        sum(col("recovery")).cast("long").as("n_recoveries"))
    val mx = base.filter(col("droughty") === 1)
      .groupBy(col("zone_y"), col("zone_x"), col("run_id"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("zone_y"), col("zone_x"))
      .agg(max(col("len")).as("max_run"))
    agg.join(mx, Seq("zone_y", "zone_x"), "left")
      .select(col("zone_y"), col("zone_x"), col("n_weeks"),
        col("n_drought_weeks"), col("n_onsets"), col("n_recoveries"),
        coalesce(col("max_run"), lit(0L)).as("max_run_weeks"))
  }

  /** Ensemble SPI product: CDS seasonal forecasts are 25-51-member
    * ensembles; the reference carries realization `r` through every
    * derived product and reduces with the MEDIAN across members
    * (`utils_spi.py:577` `spi_ensemble` nanmedian). Member here
    * derives as `event_id % 5`; per (cell, member) the weekly series
    * is standardized, then the member dimension collapses to its
    * median per (cell, week).
    *
    * Plan: one agg shuffle to (cell, member, week), windows on the
    * high-cardinality (cell, member) key, one final agg to (cell,
    * week) whose per-group input is |members| rows — the exact median
    * sorts a BOUNDED group (≤51 members at the reference's worst),
    * so it stays cheap at any corpus size. */
  def spiEnsembleMedian(spark: SparkSession, dir: String): DataFrame = {
    val cell = Tables.events(spark, dir)
      .withColumn("member", col("event_id") % 5)
      .groupBy(col("user_id"), col("member"),
        date_format(date_trunc("WEEK", col("ts")), "yyyy-MM-dd").as("week"))
      // weekly mean quantized ONCE to exact integer 1e-6 units
      // (cent-sum·1e4/n is one correctly-rounded division of exact
      // longs): the standardization's window moments then run on
      // integers — merge-order-free on both engines, closing the last
      // raw-double window-σ in the family
      .agg(floor(cents
        .cast("double") * 1e4 / count(lit(1)) + 0.5).cast("long").as("qc"))
    val wKey = Window.partitionBy(col("user_id"), col("member"))
    val z = cell.withColumn("z", zExactOfInt(col("qc"), wKey))
    z.groupBy(col("user_id"), col("week"))
      .agg(count(lit(1)).as("n_members"),
        quantize(percentile(col("z"), lit(0.5)), 4)
          .as("spi_median"))
  }

  /** ENSEMBLE CRPS — the headline probabilistic-verification score
    * for the forecast lane (Hersbach 2000; the metric CDS/ECMWF
    * products are graded with, and what [[biasSkill]] is to the
    * correction, this is to the ensemble): per (station, week), the
    * Continuous Ranked Probability Score of the member forecasts
    * against the observed weekly mean, in its exact ensemble form
    *
    *   CRPS = (1/m)·Σᵢ|xᵢ−y| − (1/2m²)·ΣᵢΣⱼ|xᵢ−xⱼ|
    *
    * Members derive as `event_id % 5` over the forecast ('click')
    * series, observations from the 'view' series — the
    * [[spiEnsembleMedian]] conventions.
    *
    * Determinism: weekly means quantize ONCE to integer 1e-4 units,
    * so every |difference| and both double sums are exact longs; the
    * final score is one fixed double expression. Shape at scale: the
    * member×member term self-joins within (station, week) groups of
    * ≤ m rows — m is the ensemble size (bounded, ≤ 51 at the
    * reference's worst), so the pair volume is m²·weeks·stations,
    * linear in the data with a constant factor; all shuffles on the
    * high-cardinality (station, week) key. */
  def forecastCrps(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val obs = weeklyU(ev.filter(col("event_type") === "view"), Nil)
      .withColumnRenamed("u", "y_u")
    val mem = weeklyU(ev.filter(col("event_type") === "click")
      .withColumn("member", col("event_id") % 5), Seq(col("member")))
    val s1 = mem.join(obs, Seq("user_id", "week"))
      .groupBy(col("user_id"), col("week"))
      .agg(count(lit(1)).as("m"), sum(abs(col("u") - col("y_u"))).as("sae"))
    val s2 = mem.select(col("user_id"), col("week"), col("u").as("ua"))
      .join(mem.select(col("user_id"), col("week"), col("u").as("ub")),
        Seq("user_id", "week"))
      .groupBy(col("user_id"), col("week"))
      .agg(sum(abs(col("ua") - col("ub"))).as("spread"))
    s1.join(s2, Seq("user_id", "week"))
      .select(col("user_id"), col("week"), col("m").as("n_members"),
        (floor(col("sae").cast("double") / col("m")
          - col("spread").cast("double") / (lit(2) * col("m") * col("m"))
          + 0.5) / 1e4).as("crps"))
  }

  /** ENSEMBLE RANK HISTOGRAM (Talagrand diagram) — [[forecastCrps]]
    * scores sharpness+reliability in one number; this separates the
    * CALIBRATION half: where does the observation fall among the
    * sorted members? A reliable ensemble is uniform across the m+1
    * ranks; a U-shape means under-dispersion (obs keeps escaping the
    * envelope), a dome over-dispersion. Restricted to complete
    * ensembles (m = 5 members by the `event_id % 5` convention) so
    * ranks are comparable. Ranks count strict inequalities on the
    * exact 1e-4-unit weekly means (ties take the lower rank —
    * deterministic, no fractional tie-splitting). One join of the two
    * weekly aggregates, one (station, week) rollup, one O(m+1)
    * histogram with a windowed share. */
  def forecastRankHist(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val obs = weeklyU(ev.filter(col("event_type") === "view"), Nil)
      .withColumnRenamed("u", "y_u")
    val mem = weeklyU(ev.filter(col("event_type") === "click")
      .withColumn("member", col("event_id") % 5), Seq(col("member")))
    val ranked = mem.join(obs, Seq("user_id", "week"))
      .groupBy(col("user_id"), col("week"))
      .agg(count(lit(1)).as("m"),
        (sum(when(col("u") < col("y_u"), 1).otherwise(0)) + 1).as("rank"))
      .filter(col("m") === 5)
    val wAll = Window.partitionBy(lit(1))
    ranked.groupBy(col("rank")).agg(count(lit(1)).as("n"))
      .withColumn("share",
        round(col("n") / sum(col("n")).over(wAll).cast("double"), 4))
  }

  /** NSE + KGE FORECAST SKILL — the two headline deterministic-
    * forecast scores of operational hydrology (Nash–Sutcliffe 1970;
    * Gupta et al. 2009), graded per station over the ensemble-MEAN
    * weekly forecast vs the observed weekly mean (the
    * [[forecastCrps]] conventions; CRPS grades the ensemble, this
    * grades its deterministic collapse — the pair every forecast
    * bulletin publishes):
    *
    *   NSE = 1 − Σ(f−o)² / Σ(o−ō)²
    *   KGE = 1 − √((r−1)² + (α−1)² + (β−1)²),  α = σ_f/σ_o, β = f̄/ō
    *
    * Everything derives from SIX sufficient statistics (n, Σf, Σo,
    * Σf², Σo², Σfo) over 1e-4-unit quantized weekly means — exact
    * longs, merge-order-free, one map-side-partial aggregation per
    * level ([[graft.operators.TimeSeries.trend]] discipline):
    * n·Σ(f−o)² = n·(Σf²−2Σfo+Σo²), n·Σ(o−ō)² = n·Σo²−(Σo)², r and α
    * from the same central moments. Guards: stations need ≥ 5 matched
    * weeks, positive variances, nonzero ō. Shape at scale: two
    * (station, week) aggs, one join co-partitioned on the station
    * key, one station rollup — no window, no sort, no fan-out. */
  def forecastSkill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val obs = weeklyU(ev.filter(col("event_type") === "view"), Nil)
      .withColumnRenamed("u", "y_u")
    // ensemble mean quantizes ONCE to the same 1e-4 grid (exact
    // member sum, one division, one floor) before any cross-moment
    val fc = weeklyU(ev.filter(col("event_type") === "click")
        .withColumn("member", col("event_id") % 5), Seq(col("member")))
      .groupBy(col("user_id"), col("week"))
      .agg(floor(sum(col("u")).cast("double") / count(lit(1)) + 0.5)
        .cast("long").as("f_u"))
    val s = fc.join(obs, Seq("user_id", "week"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("f_u")).as("sf"), sum(col("y_u")).as("so"),
        sum(col("f_u") * col("f_u")).as("sff"),
        sum(col("y_u") * col("y_u")).as("soo"),
        sum(col("f_u") * col("y_u")).as("sfo"))
    val dxo = s("n") * s("soo") - s("so") * s("so")
    val dxf = s("n") * s("sff") - s("sf") * s("sf")
    val num = s("n") * s("sfo") - s("sf") * s("so")
    val r = num.cast("double") / sqrt(dxf.cast("double") * dxo.cast("double"))
    val alpha = sqrt(dxf.cast("double") / dxo.cast("double"))
    val beta = s("sf").cast("double") / s("so").cast("double")
    val sse = s("sff") - lit(2) * s("sfo") + s("soo")
    s.filter(s("n") >= 5 && dxo > 0 && dxf > 0 && s("so") =!= 0)
      .select(col("user_id"), col("n").as("n_weeks"),
        quantize(lit(1.0) - (s("n") * sse).cast("double") / dxo.cast("double"), 4).as("nse"),
        quantize(r, 4).as("r"),
        quantize(alpha, 4).as("alpha"),
        quantize(beta, 4).as("beta"),
        quantize(lit(1.0) - sqrt((r - 1) * (r - 1) + (alpha - 1) * (alpha - 1)
          + (beta - 1) * (beta - 1)), 4).as("kge"))
  }

  /** Shared weekly (forecast-members ⋈ observation) exceedance frame
    * for the Brier pair: per (station, week), m = members present,
    * k = members above the station's climatological mean (exact
    * 1e-4-unit longs both sides — the threshold is each station's
    * own mean observed weekly value, one exact integer ratio),
    * o = 1 if the observation exceeds it. The ensemble is allowed to
    * be INCOMPLETE (m ≤ 5 — real forecast archives drop members);
    * downstream scores quantize each week's (k/m − o)² ONCE to
    * integer 1e-8 units, so cross-week sums stay merge-order-free. */
  private def exceedanceFrame(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    // pinned: the weekly observation sliver feeds BOTH the threshold
    // fit and the member join — unpinned, the events scan+agg runs
    // once per consumer (plan-audited: 7 exchanges → 5, one scan)
    val obs = weeklyU(ev.filter(col("event_type") === "view"), Nil)
      .withColumnRenamed("u", "y_u")
      .localCheckpoint()
    // climatological threshold: the station's mean weekly observation,
    // quantized once (exact integer ratio → floor)
    val thr = obs.groupBy(col("user_id"))
      .agg(floor(sum(col("y_u")).cast("double") / count(lit(1)) + 0.5)
        .cast("long").as("thr_u"))
    val mem = weeklyU(ev.filter(col("event_type") === "click")
      .withColumn("member", col("event_id") % 5), Seq(col("member")))
    mem.join(obs, Seq("user_id", "week")).join(thr, Seq("user_id"))
      .groupBy(col("user_id"), col("week"))
      .agg(count(lit(1)).as("m"),
        sum(when(col("u") > col("thr_u"), 1L).otherwise(0L)).as("k"),
        max(when(col("y_u") > col("thr_u"), 1L).otherwise(0L)).as("o"))
  }

  /** BRIER SCORE + skill — the probabilistic verification of a
    * THRESHOLD-EXCEEDANCE forecast (Brier 1950; the binary-event
    * member of the verification suite beside [[forecastCrps]]
    * (continuous), [[forecastRankHist]] (calibration shape) and
    * [[forecastSkill]] (deterministic)): per station,
    * BS = mean (k/m − o)², the climatological base rate ō, the
    * reference score BS_ref = ō(1−ō), and the skill score
    * BSS = 1 − BS/BS_ref. Each week's squared error quantizes ONCE
    * to integer 1e-8 units — (k−m·o)² and m² are exact ints, one
    * double division + floor per week — so the station sum is an
    * exact long and merge-order-free; BS is then ONE division. One
    * (station, week) rollup + one station agg — no window, no
    * fan-out. */
  def forecastBrier(spark: SparkSession, dir: String): DataFrame = {
    val f = exceedanceFrame(spark, dir)
    val km = col("k") - col("m") * col("o")
    val s = f
      .withColumn("se_u",
        floor(km * km * lit(1e8) / (col("m") * col("m")) + 0.5).cast("long"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_weeks"), sum(col("se_u")).as("se"),
        sum(col("o")).as("no"))
      .filter(col("n_weeks") >= 5)
    val bs = col("se").cast("double") / (col("n_weeks") * lit(1e8))
    val base = col("no").cast("double") / col("n_weeks")
    s.select(col("user_id"), col("n_weeks"),
      quantize(bs, 4).as("brier"),
      quantize(base, 4).as("base_rate"),
      when(col("no") > 0 && col("no") < col("n_weeks"),
        quantize(lit(1.0) - bs / (base * (lit(1.0) - base)), 4))
        .as("bss"))
  }

  /** RELIABILITY DIAGRAM — [[forecastBrier]]'s calibration
    * decomposition, pooled across the network: forecast
    * probabilities k/m binned to the nearest fifth (six bins), each
    * reporting how often the event actually happened. A calibrated
    * ensemble lies on the diagonal (obs_freq ≈ bin/5); the table IS
    * the reliability curve every verification report plots. O(6)
    * output rows; the bin index is one floor of an exact-int ratio,
    * observed frequency divides two exact integers once. */
  def forecastReliability(spark: SparkSession, dir: String): DataFrame =
    exceedanceFrame(spark, dir)
      .withColumn("bin",
        floor(col("k") * lit(5.0) / col("m") + 0.5).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_cases"), sum(col("o")).as("n_events"))
      .select(col("bin"), (col("bin") / lit(5.0)).as("p_forecast"),
        col("n_cases"), col("n_events"),
        quantize(col("n_events").cast("double") / col("n_cases"), 4).as("obs_freq"))

  /** The seasonal-deficit forecast product
    * (`ingestor_knmi_evapo_fc.py:219-245,305-325`): per-member signed
    * PET−precip deltas → ensemble percentile BANDS at q ∈ {0.1, 0.3,
    * 0.5, 0.7, 0.9} per (cell, day) (`data_prep_knmi_evapo_forecast
    * .py:161` `quantile([.1,.3,.5,.7,.9], dim="epoches")`) → zero-
    * clamped cumulative deficit along each band (`calc_p_def`
    * recurrence, closed-form identity — see
    * [[TimeSeries.cumSumClamped]]).
    *
    * Scale shape: one groupBy to (cell, member, day) [map-side
    * partial], one groupBy to (cell, day) collecting the ≤|members|
    * sorted deltas (bounded state — member count is a forecast-system
    * constant, 50 for ECMWF SEAS5), a 5-way in-row struct explode for
    * the bands, then ONE window pass per (cell, band) for the clamped
    * accumulation. The band interpolation `(n−1)·q` rank arithmetic is
    * written out elementwise (not `percentile_approx`) so both engines
    * compute bit-identical ordinates. */
  def forecastDeficitBands(spark: SparkSession, dir: String): DataFrame = {
    val qs = Seq(0.1, 0.3, 0.5, 0.7, 0.9)
    val memberDaily = Tables.events(spark, dir)
      .withColumn("member", col("event_id") % 5)
      .groupBy(col("user_id"), col("member"),
        dayLabel)
      // member-mean via exact integer cents (2-dec inputs), ONE double
      // division at the end — bit-identical regardless of either
      // engine's partial-aggregation merge order (a float sum's fold
      // order is engine-chosen; an integer sum's isn't)
      .agg((cents.cast("double")
        / (lit(100.0) * count(lit(1))) - lit(50.0)).as("delta"))
    val grouped = memberDaily.groupBy(col("user_id"), col("day"))
      .agg(array_sort(collect_list(col("delta"))).as("ds"),
        count(lit(1)).as("n"))
    val bands = grouped
      .select(col("user_id"), col("day"), explode(array(qs.map { q =>
        val r    = (col("n") - 1) * lit(q)
        val lo   = floor(r)
        val frac = r - lo
        val vlo  = element_at(col("ds"), (lo + 1).cast("int"))
        val vhi  = element_at(col("ds"),
          least(lo + 2, col("n")).cast("int"))
        struct(lit(q).as("q"), (vlo + frac * (vhi - vlo)).as("band"))
      }: _*)).as("b"))
      .select(col("user_id"), col("day"),
        col("b.q").as("q"), col("b.band").as("band"))
    val w = Window.partitionBy(col("user_id"), col("q"))
      .orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // accumulate in exact integer micro-units: a float window-sum's
    // association order is engine-chosen (segment tree vs sequential),
    // an integer one is order-free — the prefix sums are exact, so the
    // clamp identity and the final quantize agree bit-for-bit
    bands
      .withColumn("band_u", units(col("band"), 6))
      .withColumn("cs", sum(col("band_u")).over(w))
      .select(col("user_id"), col("day"), col("q"),
        (floor((col("cs") - least(lit(0L), min(col("cs")).over(w)))
          .cast("double") / 100.0 + 0.5) / 1e4).as("deficit"))
  }

  /** The rijnland danger-level COLOR scale
    * (`ll_nl_danger_levels.py:106-120` `categorize`): deficit →
    * published color class, one definition shared with any alerting
    * surface (the [[dangerLevel]] pattern). */
  def deficitColor(v: Column): Column =
    when(v < 50, "darkblue")
      .when(v < 100, "blue")
      .when(v < 125, "green")
      .when(v < 150, "yellow")
      .when(v < 175, "orange")
      .when(v < 200, "red")
      .otherwise("darkred")

  /** Masked-region weekly deficit product
    * (`ll_nl_danger_levels.py:68-105` `rijnland_precipitation_
    * deficit`): the published p_def_q50 field is masked to one
    * hydrological region (`rijn_mask.nc`, cells where mask = 666),
    * weekly windows END AT SUNDAYS (pandas `resample("1W")`), each
    * sunday reports the trailing week's spatial-temporal MAX over the
    * masked cells plus its ISO week / month labels, the LAST sunday
    * is dropped (the reference skips the partial next-year bucket),
    * and the max is classified on the published color scale.
    *
    * Composition, not re-derivation: the q50 band comes from
    * [[forecastDeficitBands]] — the exact product the reference's
    * danger-level process reads back from the lake. The mask is the
    * deterministic cell predicate (gx·3+gy·5)%7=3 standing in for the
    * NetCDF mask grid (the membership test is the operator; the mask
    * source is a literal table in any deployment). Shape: the band
    * table collapses to O(weeks) rows in one agg; the last-sunday
    * drop is a broadcast anti-join against the 1-row max — no
    * global window. */
  def rijnDeficitWeekly(spark: SparkSession, dir: String): DataFrame = {
    val pd = forecastDeficitBands(spark, dir)
      .filter(col("q") === 0.5)
      .select(col("*") +: cellKeys: _*)
      .filter((col("gx") * 3 + col("gy") * 5) % 7 === 3)
      .withColumn("sunday", date_format(date_add(
        date_trunc("WEEK", col("day").cast("date")).cast("date"), 6),
        "yyyy-MM-dd"))
    val weekly = pd.groupBy(col("sunday"))
      .agg(count(lit(1)).as("n_vals"),
        max(col("deficit")).as("max_deficit"))
    val lastSunday = weekly.agg(max(col("sunday")).as("last_sunday"))
    weekly.join(broadcast(lastSunday),
        col("sunday") === col("last_sunday"), "left_anti")
      .select(col("sunday"),
        weekofyear(col("sunday").cast("date")).as("week_no"),
        month(col("sunday").cast("date")).as("month_no"),
        col("n_vals"), col("max_deficit"),
        deficitColor(col("max_deficit")).as("color"))
  }

  /** Small fixed basin set (simple rings in (lon, lat)) standing
    * in for the reference's basin geometries (`utils_spi.py:565-600`
    * clips SPI grids to per-basin shapes before aggregating — real
    * basins are NOT convex, so basin 4 here is deliberately concave:
    * a U-shape whose notch a convex all-left-of-edges test provably
    * misclassifies, see ClimateSpec). A real deployment reads these
    * from a config/geojson; they are a literal here exactly like
    * [[ratingBreakpoints]]. */
  val basinPolygons: Seq[(Int, Seq[(Double, Double)])] = Seq(
    1 -> Seq((-180.0, -90.0), (-120.0, -90.0), (-120.0, -25.0), (-180.0, -25.0)),
    2 -> Seq((-60.0, 25.0), (0.0, 25.0), (0.0, 90.0), (-60.0, 90.0)),
    3 -> Seq((50.0, -40.0), (185.0, -40.0), (120.0, 100.0)),
    // the test grid's points all lie on lat = lon ± 90, so the U is
    // placed where that diagonal threads both arms AND the notch —
    // the concave exclusion is live in the query output, not just
    // the unit test
    4 -> Seq((145.0, 50.0), (180.0, 50.0), (180.0, 90.0), (170.0, 90.0),
             (170.0, 60.0), (160.0, 60.0), (160.0, 90.0), (145.0, 90.0)))

  /** Point-in-polygon for ARBITRARY simple rings (concave included)
    * by even-odd ray casting, as a pure codegen'd expression: a
    * horizontal ray from the point toward +lon crosses edge
    * (x1,y1)→(x2,y2) iff the edge spans the point's latitude
    * half-open (`(y1 > lat) != (y2 > lat)` — shared vertices count
    * once) and the crossing abscissa lies right of the point. The
    * abscissa test is cross-multiplied by (y2−y1) with the
    * inequality DIRECTION baked in per edge from the literal sign,
    * so there is no division anywhere: every term is one IEEE
    * multiply of a literal against a column, bit-identical across
    * engines (the generated oracle SQL mirrors it edge for edge).
    * Odd crossing count = inside. Horizontal edges never span and
    * are dropped at plan-build time. Linear-size expression in the
    * vertex count, no join, no UDF — for a small literal basin set
    * the geometry IS the plan; a table-driven basin set would
    * broadcast exploded edges and aggregate crossing parity per
    * (point, basin). */
  def pointInPoly(lon: Column, lat: Column,
      verts: Seq[(Double, Double)]): Column = {
    val crossings = verts.indices.flatMap { i =>
      val (x1, y1) = verts(i)
      val (x2, y2) = verts((i + 1) % verts.size)
      if (y1 == y2) None
      else {
        val spans = (lit(y1) > lat) =!= (lit(y2) > lat)
        val lhs = (lon - lit(x1)) * lit(y2 - y1)
        val rhs = (lat - lit(y1)) * lit(x2 - x1)
        Some(when(spans && (if (y2 > y1) lhs < rhs else lhs > rhs), 1)
          .otherwise(0))
      }
    }.reduce(_ + _)
    crossings % 2 === 1
  }

  /** First-match basin assignment for the literal basin set. */
  def basinAssign(lon: Column, lat: Column): Column =
    coalesce(basinPolygons.map { case (id, vs) =>
      when(pointInPoly(lon, lat, vs), lit(id))
    }: _*)

  /** Zonal SPI over rectangular zones WITH the reference's
    * distribution statistics: exact p10/median/p90 alongside the
    * moments (`utils_spi.py:565-600` nanpercentile/nanmedian). Exact
    * order statistics sort within each zone group — right for
    * oracle-checked correctness and for zone-sized groups; at 100 TB
    * with billions of points per zone the drop-in scale variant is
    * `percentile_approx` (one-pass sketch, no sort). */
  def zonalSpiQuantiles(spark: SparkSession, dir: String): DataFrame = {
    def q(p: Double, name: String) =
      quantize(percentile(col("zscore"), lit(p)), 4).as(name)
    spiZscore(spark, dir)
      .withColumn("zone_y", floor(pseudoLat(col("user_id")) / 30).cast("int"))
      .withColumn("zone_x", floor(pseudoLon(col("user_id")) / 30).cast("int"))
      // integer-unit zone mean — same merge-order-free discipline as
      // [[zonalSpi]]; order statistics stay on the quantized doubles
      .withColumn("zu", units(col("zscore"), 4))
      .groupBy(col("zone_y"), col("zone_x"))
      .agg(count(lit(1)).as("n"),
        (floor(sum(col("zu")).cast("double") / count(col("zu")) + 0.5) / 1e4)
          .as("avg_z"),
        q(0.1, "p10_z"), q(0.5, "med_z"), q(0.9, "p90_z"))
  }

  /** The sketch twin of [[zonalSpiQuantiles]] — `percentile_approx`
    * (Greenwald-Khanna) instead of exact order statistics: partial
    * state is a bounded quantile summary merged map-side, so a zone
    * with billions of cells costs the same as one with thousands,
    * where exact `percentile` buffers every value into the final
    * per-zone merge (fine only while zones are bounded — the
    * documented SURVEY §5 tradeoff, now expressed as a runnable
    * twin). Accuracy 1000 → rank error ≤ n/1000 — still far inside
    * the spec's tolerance, and ~10× cheaper sketch state than the
    * round-3 accuracy-10000 setting, which made the twin cost 2.3×
    * its exact counterpart at small scale. */
  def zonalSpiQuantilesApprox(spark: SparkSession, dir: String): DataFrame = {
    def qa(p: Double, name: String) =
      quantize(percentile_approx(col("zscore"), lit(p), lit(1000)), 4).as(name)
    spiZscore(spark, dir)
      .withColumn("zone_y", floor(pseudoLat(col("user_id")) / 30).cast("int"))
      .withColumn("zone_x", floor(pseudoLon(col("user_id")) / 30).cast("int"))
      .groupBy(col("zone_y"), col("zone_x"))
      .agg(count(lit(1)).as("n"),
        qa(0.1, "p10_z"), qa(0.5, "med_z"), qa(0.9, "p90_z"))
  }

  /** Zonal SPI clipped to the basin POLYGONS — the reference's actual
    * zonal product shape (per-basin median/min/max of the drought
    * index). Basin assignment is elementwise in the scan stage;
    * points outside every basin drop out; one agg shuffle on the
    * basin id. */
  def zonalPolySpi(spark: SparkSession, dir: String): DataFrame = {
    spiZscore(spark, dir)
      .withColumn("lat", pseudoLat(col("user_id")))
      .withColumn("lon", pseudoLon(col("user_id")))
      .withColumn("basin", basinAssign(col("lon"), col("lat")))
      .filter(col("basin").isNotNull)
      .groupBy(col("basin"))
      .agg(count(lit(1)).as("n"),
        quantize(percentile(col("zscore"), lit(0.5)), 4)
          .as("med_z"),
        round(min(col("zscore")), 4).as("min_z"),
        round(max(col("zscore")), 4).as("max_z"),
        sum(when(col("zscore") <= -1.0, 1).otherwise(0)).cast("long")
          .as("drought_n"))
  }

  /** Per-station calibration tables — the reference's rating curves
    * are STATION-owned lookups (`rer_river_discharge_arpae_process
    * .py:325-458` `portata_lineare` loads a per-station calibration
    * and clamps CONSTANT below the first / above the last calibrated
    * point). Station ≈ `user_id % 4` on the test mapping. */
  val stationBreakpoints: Map[Long, Seq[(Double, Double)]] = Map(
    0L -> Seq((0.0, 0.0), (50.0, 10.0), (100.0, 40.0),
      (150.0, 100.0), (200.0, 200.0), (300.0, 500.0)),
    1L -> Seq((0.0, 0.0), (40.0, 8.0), (120.0, 60.0), (260.0, 420.0)),
    2L -> Seq((10.0, 0.0), (60.0, 15.0), (140.0, 120.0), (300.0, 600.0)),
    3L -> Seq((0.0, 5.0), (100.0, 50.0), (250.0, 380.0)))

  /** Station-keyed piecewise-linear rating curve with the reference's
    * out-of-range policy: BELOW the station's first calibrated stage
    * the discharge is the constant first Q, ABOVE the last it is the
    * constant last Q (`:349-358`-style edge clamps, but per station).
    * The calibration is driver-known config → segments and bounds
    * become two tiny broadcast tables; the bracket pick is a
    * broadcast range-join on (station, [h, h_hi)); everything else is
    * elementwise. */
  def ratingCurveStation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val seg = stationBreakpoints.toSeq.flatMap { case (st, bps) =>
      bps.sliding(2).collect {
        case Seq((h, q), (hHi, qHi)) => (st, h, q, hHi, qHi)
      }
    }.toDF("station", "h", "q", "h_hi", "q_hi")
    val bounds = stationBreakpoints.toSeq.map { case (st, bps) =>
      (st, bps.head._1, bps.head._2, bps.last._1, bps.last._2)
    }.toDF("station", "h_min", "q_min", "h_max", "q_max")
    val ev = Tables.events(spark, dir)
      .withColumn("station", col("user_id") % 4)
      .select(col("event_id"), col("station"), col("value").as("stage"))
    val wb = ev.join(broadcast(bounds), Seq("station"))
    wb.join(broadcast(seg),
        wb("station") === seg("station") &&
          wb("stage") >= seg("h") && wb("stage") < seg("h_hi"),
        "left")
      .select(wb("event_id"), wb("station"),
        round(wb("stage"), 2).as("stage"),
        quantize(when(wb("stage") < col("h_min"), col("q_min"))
            .when(wb("stage") >= col("h_max"), col("q_max"))
            .otherwise(seg("q") + (wb("stage") - seg("h"))
              / (seg("h_hi") - seg("h")) * (seg("q_hi") - seg("q"))), 4)
          .as("discharge"))
  }

  /** Daily discharge VOLUME by trapezoidal integration — the product
    * downstream of the rating curve (the reference publishes the
    * ARPAE discharge series, `rer_river_discharge_arpae_process.py`;
    * the daily water-balance volume is its standard rollup): between
    * consecutive samples of a station-day, volume accrues
    * `½(qᵢ+qᵢ₋₁)·Δt`. One lag window on the (station, day) composite
    * — Δt and the mean flow are elementwise — then each trapezoid
    * quantizes ONCE to integer 1e-4 units and the daily rollup sums
    * exact BIGINTs (the engine-order-free window/group-sum
    * discipline). First sample of each day contributes nothing (lag
    * is null), matching integration from the day's first
    * observation. */
  def ratingVolumeDaily(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("*"), dayLabel)
      .withColumn("q_prev", lag(col("value"), 1).over(w))
      .withColumn("t_prev", lag(col("ts"), 1).over(w))
      .withColumn("term_u",
        units((col("value") + col("q_prev")) / 2.0
          * ((unix_micros(col("ts")) - unix_micros(col("t_prev"))).cast("double")
            / 1e6), 4))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_samples"),
        (sum(col("term_u")).cast("double") / 1e4).as("volume"))
  }

  /** Spatial bbox slice + per-collection rollup — the reference slices
    * every fetched grid to the area of interest first
    * (`ingestor_cds_process.py` bbox handling). The predicate is
    * elementwise on derived coords, evaluated in the scan stage. */
  def bboxFilter(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .withColumn("lat", pseudoLat(col("user_id")))
      .withColumn("lon", pseudoLon(col("user_id")))
      .filter(col("lat") >= -45 && col("lat") <= 45 &&
        col("lon") >= -60 && col("lon") <= 60)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        cents.as("sum_c"))
      .select(col("event_type"), col("n"),
        // exact cent sum, one division — see zonalStats
        (floor(col("sum_c").cast("double") * 100.0 / col("n") + 0.5) / 1e4)
          .as("avg_value"))
  }

  /** Collection extent (bbox + time span) per collection — what the
    * reference writes into the pygeoapi catalog config
    * (`ingestor_cds_process.py:232-372`). */
  def extentSummary(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .withColumn("lat", pseudoLat(col("user_id")))
      .withColumn("lon", pseudoLon(col("user_id")))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(min(col("lon")), 2).as("min_lon"),
        round(max(col("lon")), 2).as("max_lon"),
        round(min(col("lat")), 2).as("min_lat"),
        round(max(col("lat")), 2).as("max_lat"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("time_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("time_end"))
  }

  /** Per-collection freshness/completeness health check
    * (`collection_healthcheck.py`): staleness vs the newest data in
    * the lake, day-coverage vs the collection's own span. */
  def healthcheckFreshness(spark: SparkSession, dir: String): DataFrame = {
    val perType = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(date_trunc("DAY", col("ts"))).as("n_days"),
        min(col("ts")).as("min_ts"),
        max(col("ts")).as("max_ts"))
    // the lake-wide newest timestamp is a 1-row scalar aggregate,
    // broadcast-cross-joined back — not a partition-less window
    val lakeMax = perType.agg(max(col("max_ts")).as("lake_max_ts"))
    perType.crossJoin(broadcast(lakeMax))
      .withColumn("lag_hours",
        round((unix_micros(col("lake_max_ts"))
          - unix_micros(col("max_ts"))) / lit(3.6e9), 4))
      .select(col("event_type"), col("n"), col("n_days"),
        date_format(col("max_ts"), "yyyy-MM-dd HH:mm:ss").as("last_seen"),
        col("lag_hours"),
        (col("lag_hours") <= 24.0).as("is_fresh"),
        (col("n_days") === datediff(to_date(col("max_ts")), to_date(col("min_ts"))) + 1)
          .as("is_complete"))
  }
}
