package graft.operators

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.Tables

/** Windowed time-series operators over the `events` table.
  *
  * The reference's analytics all start from one of these primitives:
  *  - daily/weekly resample (`ll_nl_danger_levels.py:79`
  *    `resample(time="1W").max()`, CDS daily rollups),
  *  - t-scale rolling sums (`utils_spi.py:446-449`
  *    `df.rolling(spi_ts).sum()`),
  *  - running cumulative sums (`ingestor_knmi_evapo.py:395-414`
  *    cumulative precipitation deficit),
  *  - as-of alignment of two irregular series,
  *  - calendar densify + forward-fill (the reference re-grids every
  *    fetched series onto a regular time axis before deriving).
  *
  * Scale design: every windowed op partitions by a HIGH-cardinality
  * natural key (`user_id` ≈ station/grid-cell — millions at 100 TB),
  * so one hash shuffle distributes the work and all window arithmetic
  * is within-partition, codegen'd, and spill-safe. No driver-side
  * loops, no collect, no low-cardinality window keys.
  *
  * Timestamps leave as formatted strings so parquet dumps compare
  * cleanly against the DuckDB oracle.
  */
object TimeSeries {

  /** Exact integer cents of a 2-decimal reading, rounded half up. Every
    * station series sums these, never raw doubles: an integer sum is
    * merge-order-free, so both engines agree bit for bit. */
  private[graft] def cents(v: Column): Column = floor(v * 100 + 0.5).cast("long")

  /** The output rounding rule: `c` to `digits` decimals, half up (a tie
    * goes toward +∞), through the pure IEEE chain floor(c·10ⁿ + 0.5)/10ⁿ.
    * Never `round(c, n)`: Spark rounds a decimal HALF_UP, DuckDB the
    * binary double, so a value on a half-boundary could split the two
    * engines. The scale renders as the same double literal as `1e4`. */
  private[graft] def quantize(c: Column, digits: Int): Column = {
    val scale = math.pow(10, digits)
    floor(c * scale + 0.5) / scale
  }

  /** [[quantize]]'s grid as exact integer units (a long), for sums that
    * must be merge-order-free. */
  private[graft] def units(c: Column, digits: Int): Column =
    floor(c * math.pow(10, digits) + 0.5).cast("long")

  /** Day index `x`: whole UTC days since 2024-01-01, as a long. */
  private[graft] val dayX: Column =
    datediff(date_trunc("DAY", col("ts")), lit("2024-01-01")).cast("long").as("x")

  /** Day label `day`: the UTC day as a `yyyy-MM-dd` string (a string,
    * not a DATE, so dumps hash alike on both engines). */
  private[graft] val dayLabel: Column =
    date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day")

  /** The normalize step of the station-series operators: readings as
    * integer cents `yc`, grouped per (station, day index `x`). Each
    * caller supplies its own daily aggregate. */
  private[graft] def dailyCents(ev: DataFrame): RelationalGroupedDataset =
    ev.select(col("user_id"), dayX, cents(col("value")).as("yc"))
      .groupBy(col("user_id"), col("x"))

  /** A group's mean reading from its exact cent sum over `n` readings:
    * the one division of every daily and pooled mean (the oracles'
    * `centMeanSql`). */
  private[graft] def centMean(sumCents: Column, n: Column): Column =
    sumCents.cast("double") / (n * lit(100.0))

  /** Readings grouped per (station, day label `day`). */
  private[graft] def byDay(ev: DataFrame): RelationalGroupedDataset =
    ev.groupBy(col("user_id"), dayLabel)

  /** Daily resample: truncate-to-day groupBy aggregation.
    * Map-side partial agg reduces each scan partition to
    * O(days × types) rows before the shuffle.
    *
    * Sums accumulate exact integer CENTS (inputs are 2-decimal) and
    * divide back once — a raw double `avg` carries summation-order
    * ulps into the quantization, and a group mean can sit exactly on
    * a half-quantum of the 1e-4 grid (observed flipping at sf0.001),
    * the [[trend]]/§5 discipline. */
  def resampleDaily(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), dayLabel)
      .agg(
        count(lit(1)).as("n"),
        sum(cents(col("value"))).as("sum_c"))
      .select(col("event_type"), col("day"), col("n"),
        (col("sum_c").cast("double") / 100.0).as("sum_value"),
        (floor(col("sum_c").cast("double") * 100.0 / col("n") + 0.5) / 1e4)
          .as("avg_value"))

  /** Weekly max per key — the danger-levels preprocessing step
    * (`ll_nl_danger_levels.py:79` `resample(time="1W").max()`).
    * Week = ISO Monday truncation, identical in Spark and DuckDB. */
  def resampleWeeklyMax(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(
        col("user_id"),
        date_format(date_trunc("WEEK", col("ts")), "yyyy-MM-dd").as("week"))
      .agg(round(max(col("value")), 2).as("max_value"))

  /** Monthly resample with days-in-month scaling — the reference
    * converts mm/day rates to monthly totals by multiplying the
    * monthly mean by the month's day count (`utils_spi.py:418-425`)
    * before fitting SPI. The day count is a constant per group,
    * evaluated post-agg, so the plan is still one map-side-partial
    * aggregation. */
  def resampleMonthlyScaled(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"),
        date_format(date_trunc("MONTH", col("ts")), "yyyy-MM-dd").as("month"))
      .agg(count(lit(1)).as("n"),
        sum(cents(col("value"))).as("sum_c"))
      .select(col("user_id"), col("month"), col("n"),
        // exact integer numerators, ONE double division each — see
        // resampleDaily; avg·1e4 = cents·100/n, total·1e4 = cents·100·days/n
        (floor(col("sum_c").cast("double") * 100.0 / col("n") + 0.5) / 1e4)
          .as("avg_rate"),
        (floor((col("sum_c") * 100L *
            dayofmonth(last_day(to_date(col("month")))).cast("long"))
          .cast("double") / col("n") + 0.5) / 1e4).as("month_total"))

  /** Per-key ordered rolling sum over the last 7 observations — the
    * SPI t-scale accumulation (`utils_spi.py:446-449`). Single shuffle
    * on `user_id`; the frame is row-bounded so state is O(7). */
  def rollingSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-6, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        round(sum(col("value")).over(w), 2).as("rolling_sum"))
  }

  /** Per-key rolling sum over a 7-DAY CALENDAR RANGE, not the last 7
    * rows — the time-axis rolling semantics of the reference's
    * t-scale accumulation (`utils_spi.py:418-437` rolls over a
    * monthly *calendar* axis): when observations are missing, a
    * rows-frame silently reaches back past the gap while a
    * range-frame shrinks to what the window actually covers (the
    * spec shows a gapped series where the two provably differ).
    * Same single shuffle on `user_id` as [[rollingSum]]; the frame
    * is `rangeBetween` on the integer epoch-day, so same-day rows
    * are peers and state is bounded by the rows inside 7 days.
    *
    * Engine invariance: a windowed FLOAT sum associates differently
    * across engines (DuckDB segment tree vs sequential), so each
    * value is quantized ONCE to integer cents and the window sums
    * exact longs — order-free — divided back out after. */
  def rollingSumRange(spark: SparkSession, dir: String): DataFrame =
    rollingSumRangeOf(Tables.events(spark, dir))

  /** [[rollingSumRange]] over an arbitrary (event_id, user_id, ts,
    * value) frame. */
  private[graft] def rollingSumRangeOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("day_num"))
      .rangeBetween(-6, Window.currentRow)
    events
      .withColumn("day_num", datediff(to_date(col("ts")), lit("1970-01-01")))
      .withColumn("value_c", cents(col("value")))
      .select(col("event_id"), col("user_id"), dayLabel,
        (sum(col("value_c")).over(w) / 100.0).as("rolling_sum_7d"))
  }

  /** Per-key running cumulative sum — the evapo deficit accumulator
    * (`ingestor_knmi_evapo.py:395-414`). */
  def cumSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        round(sum(col("value")).over(w), 2).as("cum_value"))
  }

  /** Zero-clamped running deficit — the reference's precipitation-
    * deficit accumulator `d_i = max(d_{i-1} + x_i, 0)`
    * (`ingestor_knmi_evapo.py:319-325` `calc_p_def`), which it
    * evaluates with a Python loop over time steps
    * (`ingestor_knmi_evapo_fc.py:224-227`). The recurrence has a
    * closed form over plain prefix aggregates:
    *
    *   d_i = S_i − min(0, min_{j≤i} S_j),   S_i = Σ_{k≤i} x_k
    *
    * (induction: a clamp at zero simply forgets the most negative
    * prefix seen so far), so the whole product is TWO stacked window
    * passes on ONE shuffle+sort of `(user_id; ts, event_id)` — no
    * iteration, no state beyond the running sum and min. At 100 TB
    * this is the difference between a sequential per-series driver
    * loop and an embarrassingly parallel per-station window. The
    * signed increment is `value − 50` (PET-minus-precip proxy; the
    * reference's `calc_delta_PET` likewise centers with literal
    * constants kc/Tadd/Tscale, `data_prep_knmi_evapo_forecast.py:
    * 105-115`). */
  def cumSumClamped(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("cs", sum(col("value") - lit(50.0)).over(w))
      .select(col("event_id"), col("user_id"),
        round(col("cs") - least(lit(0.0), min(col("cs")).over(w)), 2)
          .as("deficit"))
  }

  /** One-sided CUSUM drift test per station — the sequential QC
    * chart for sustained calibration drift (a slow +1-unit sensor
    * bias never trips a 3σ spot check like `ts_rolling_anomaly`;
    * the cumulative sum of small exceedances does):
    *
    *   C_i = max(0, C_{i-1} + (x_i − μ − k)),   alert when C_i > H
    *
    * — the [[cumSumClamped]] recurrence on slack-centered deltas, so
    * the same closed form applies and the chart is two stacked
    * windows on one sort, not a sequential loop. μ is the station's
    * exact integer-cents mean (unordered window over the SAME
    * shuffle); each delta is quantized once elementwise, then all
    * accumulation is BIGINT micro-units — the engine-order-free
    * window-sum discipline. Slack k=5 and decision threshold H=50
    * are literals (σ-scaled variants would fit/apply like the
    * climatology params). */
  def cusumDrift(spark: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy(col("user_id"))
    val wSeq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("cents", cents(col("value")))
      .withColumn("mu", sum(col("cents")).over(wAll).cast("double")
        / (lit(100.0) * count(lit(1)).over(wAll)))
      .withColumn("d_u",
        units(col("value") - col("mu") - lit(5.0), 6))
      .withColumn("cs", sum(col("d_u")).over(wSeq))
      .withColumn("cusum_u",
        col("cs") - least(lit(0L), min(col("cs")).over(wSeq)))
      .select(col("event_id"), col("user_id"),
        (col("cusum_u").cast("double") / 1e6).as("cusum"),
        (col("cusum_u") > lit(50000000L)).as("drift"))
  }

  /** The union scan both as-of joins run: `click` rows (kind 0) and
    * the purchases (kind 1) in one stream, and the per-user running
    * window `w` that carries the latest purchase forward. Clicks sort
    * BEFORE equal-ts purchases, so the match is strict. Purchases are
    * pre-aggregated to ONE row per (user_id, ts), keeping the
    * max-event_id row's value: equal-timestamp duplicates would
    * otherwise make the as-of pick engine-dependent (DuckDB's ASOF
    * leaves the choice among equal-key candidates unspecified), so
    * both this plan and the oracle resolve the tie identically BEFORE
    * the alignment. Map-side partial agg; same shuffle key. */
  private def asofScan(spark: SparkSession,
      dir: String): (DataFrame, WindowSpec) = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"),
        lit(0).as("kind"), lit(null).cast("double").as("p_value"),
        col("event_id").as("sort_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max_by(col("value"), col("event_id")).as("p_value"),
        max(col("event_id")).as("sort_id"))
      .select(lit(null).cast("long").as("event_id"), col("ts"), col("user_id"),
        lit(null).cast("double").as("value"),
        lit(1).as("kind"), col("p_value"), col("sort_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"), col("sort_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    (clicks.unionByName(purchases), w)
  }

  /** As-of join: each `click` event aligned to the latest strictly
    * earlier `purchase` by the same user (the reference aligns
    * observation series to the latest prior forecast issue the same
    * way). Spark-first plan: instead of a range join (which explodes
    * into a cartesian per key), union the two streams, sort within
    * each `user_id` partition by (ts, kind), and carry the last
    * non-null purchase forward with `last(..., ignoreNulls)` — one
    * shuffle, linear within-partition work, no candidate blow-up.
    * Clicks sort BEFORE equal-ts purchases so the join is strict. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val (stream, w) = asofScan(spark, dir)
    stream
      .withColumn("last_purchase_value",
        round(last(col("p_value"), ignoreNulls = true).over(w), 2))
      .filter(col("kind") === 0)
      .select(col("event_id"), col("user_id"),
        round(col("value"), 2).as("click_value"),
        col("last_purchase_value"))
  }

  /** Staleness tolerance for [[asofJoinTolerance]] (µs): a prior
    * reading older than 24 h is too stale to fuse. */
  private[graft] val AsofToleranceUs = 86400L * 1000000L

  /** As-of join WITH a staleness bound — the sensor-fusion variant of
    * [[asofJoin]]: the latest strictly-earlier purchase matches ONLY
    * while it is fresh enough (≤ 24 h old); beyond the tolerance the
    * click reports no match plus a null staleness. Real alignment
    * pipelines need this form — an observation fused against a
    * forecast issued last month is worse than no fusion — and it is
    * exactly pandas' `merge_asof(tolerance=...)` contract.
    *
    * Same single-shuffle union-scan plan as [[asofJoin]] (no range
    * join, no candidate blow-up): the window additionally carries the
    * matched row's TIMESTAMP forward, and the tolerance test is one
    * elementwise integer-microsecond comparison — exact in both
    * engines, no second pass. */
  def asofJoinTolerance(spark: SparkSession, dir: String): DataFrame = {
    val (stream, w) = asofScan(spark, dir)
    stream
      .withColumn("lp_value", last(col("p_value"), ignoreNulls = true).over(w))
      .withColumn("lp_ts",
        last(when(col("kind") === 1, col("ts")), ignoreNulls = true).over(w))
      .filter(col("kind") === 0)
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(col("lp_ts")))
      .withColumn("fresh",
        col("lp_ts").isNotNull && col("gap_us") <= AsofToleranceUs)
      .select(col("event_id"), col("user_id"),
        round(col("value"), 2).as("click_value"),
        when(col("fresh"), round(col("lp_value"), 2))
          .as("last_purchase_value"),
        when(col("fresh"), expr("gap_us div 1000000")).as("staleness_s"))
  }

  /** Per-key discrete derivative: each observation minus its
    * predecessor (the reference's deficit/delta computations between
    * consecutive readings). One shuffle on the key; `lag` is a
    * frame-less window function, O(1) state. First observation per
    * key has no predecessor → null delta. */
  def lagDelta(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        round(col("value"), 2).as("value"),
        round(col("value") - lag(col("value"), 1).over(w), 2).as("delta"))
  }

  /** Gap-based sessionization: a new session starts when a key is
    * idle longer than 30 minutes; the session id is the running count
    * of session starts (one window pass for the gap flag, one running
    * sum — both on the same high-cardinality key shuffle). The
    * standard event-log grouping for interaction training data. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("gap_s",
        (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))) / 1e6)
      .withColumn("new_session",
        when(col("gap_s").isNull || col("gap_s") > 1800, 1).otherwise(0))
      .select(col("event_id"), col("user_id"),
        sum(col("new_session")).over(wRun).cast("long").as("session_id"))
  }

  /** Unkeyed interval (range) join — "which observations fall inside
    * which windows" with NO shared equi-key: the join class that
    * naively plans as a nested-loop over the cross product (every
    * pure-inequality join does). The scale-safe shape used here is
    * BUCKET REPLICATION: each interval is replicated into every
    * fixed-width time bucket it overlaps (bounded fan-out:
    * interval_len/bucket + 1 ≈ 5 rows here), observations carry their
    * single bucket, and the match becomes an equi-join on the bucket
    * with the exact range check as a residual filter. Each
    * (interval, observation) pair can only meet in the observation's
    * one bucket, so no dedup is needed. Shuffles are on the bucket —
    * time-uniform by construction; bucket width trades replication
    * against per-bucket density.
    *
    * Here: 4-hour windows opened by each signup, counting the clicks
    * they contain. */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val iv = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("interval_id"), col("ts").as("start_ts"),
        (col("ts") + expr("INTERVAL 4 HOURS")).as("end_ts"))
      .withColumn("bucket", explode(sequence(
        date_trunc("HOUR", col("start_ts")),
        date_trunc("HOUR", col("end_ts")),
        expr("INTERVAL 1 HOUR"))))
    val obs = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("ts"),
        date_trunc("HOUR", col("ts")).as("bucket"))
    iv.join(obs, Seq("bucket"))
      .filter(col("ts") >= col("start_ts") && col("ts") < col("end_ts"))
      .groupBy(col("interval_id"))
      .agg(count(lit(1)).as("n_clicks"))
  }

  /** Rolling z-score anomaly flagging — the BATCH twin of the
    * streaming Welford QC (`streaming/EventsPipeline.anomalies`):
    * each observation is scored against its key's own trailing-30
    * history (strictly BEFORE the current row, so an outlier never
    * dilutes its own baseline), after a 10-observation warm-up and
    * only where the history actually varies. One shuffle on the
    * natural key; mean/std/count all share the same window frame.
    * The history moments are exact integer window sums
    * ([[graft.operators.Climate.zExactOfInt]] — the current row sits
    * OUTSIDE the frame, which the (n·c − Σc)/n identity handles), so
    * the quantized z and the flag derive from identical bits on both
    * engines at any merge order. */
  def rollingAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-30, -1)
    Tables.events(spark, dir)
      .withColumn("n_hist", count(col("value")).over(w))
      .withColumn("z", Climate.zScore4(col("value"), w))
      .filter(col("n_hist") >= 10 && col("z").isNotNull)
      .select(col("event_id"), col("user_id"),
        round(col("value"), 2).as("value"), col("z"),
        (abs(col("z")) > 3.0).as("is_anomaly"))
  }

  /** Per-station linear TREND — the climate trend-detection primitive
    * (is this station drying? how fast?): ordinary-least-squares
    * slope/intercept/r² of value against time, computed from the five
    * classical sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) in
    * ONE map-side-partial aggregation per key — a regression over a
    * century of data per station costs one shuffle of six doubles per
    * key, never a sort and never two passes. x is integer days since
    * the key's... epoch (2024-01-01) and y is quantized ONCE to
    * integer cents (the inputs are 2-decimal), so EVERY sufficient
    * statistic is an exact integer sum — order-free under any
    * partial-agg merge order on any engine — converted to the double
    * sums by one division each from identical bits. No
    * summation-order noise reaches the quantized outputs at all
    * (the earlier raw-double Σy/Σxy/Σy² could flip the floor at a
    * half-quantum under a different merge order).
    * Degenerate keys (single day: zero x-variance) emit null slope. */
  def trend(spark: SparkSession, dir: String): DataFrame = {
    val sxx = col("n") * col("sx2") - col("sx") * col("sx")
    val syy = col("n") * col("sy2") - col("sy") * col("sy")
    val sxy = col("n") * col("sxy") - col("sx") * col("sy")
    Tables.events(spark, dir)
      .select(col("user_id"), dayX, cents(col("value")).as("yc"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).cast("double").as("sx"),
        (sum(col("yc")).cast("double") / 100.0).as("sy"),
        (sum(col("x") * col("yc")).cast("double") / 100.0).as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sx2"),
        (sum(col("yc") * col("yc")).cast("double") / 10000.0).as("sy2"))
      .select(col("user_id"), col("n").cast("long").as("n_obs"),
        when(sxx > 0, quantize(sxy / sxx, 6)).as("slope_per_day"),
        when(sxx > 0,
          quantize((col("sy") - sxy / sxx * col("sx")) / col("n"), 4))
          .as("intercept"),
        when(sxx > 0 && syy > 0,
          quantize(sxy * sxy / (sxx * syy), 4)).as("r2"))
  }

  /** Per-station THEIL–SEN trend — the robust twin of [[trend]]: the
    * median of all pairwise slopes, the estimator climate services
    * prefer over OLS because a handful of bad gauge readings cannot
    * drag it (30% breakdown point vs OLS's single-outlier
    * sensitivity; the Mann–Kendall/Sen's-slope pairing is the WMO
    * standard for station trend reports).
    *
    * Shape at scale: one groupBy to daily means (exact cent sums ÷
    * count, so the per-day value is merge-order-free), one groupBy
    * per station collecting the BOUNDED daily series, then the whole
    * O(n²) pairwise-slope enumeration and median happen IN-ROW via
    * array HOFs — no pair join, no second shuffle, nothing leaves
    * the station's row. The quadratic term is bounded by the series
    * LENGTH, not the corpus: a decade of daily points is ~6.7M
    * slopes/station (~54 MB transient) — fine; for century-daily
    * series resample to monthly first (the reference's SPI axis is
    * monthly anyway), which caps it at ~0.7M.
    *
    * Determinism: x is integer days, daily y is an exact double
    * (integer cents / (100·n)), each slope is one IEEE division both
    * engines compute from identical bits, and the median is an order
    * statistic — unlike a sum it cannot see partition order. Output
    * quantized once at 1e-6. */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyCents(Tables.events(spark, dir))
      .agg(centMean(sum(col("yc")), count(lit(1))).as("y"))
    daily.groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("x"), col("y")))).as("pts"))
      .filter(size(col("pts")) >= 2)
      // slice(pts, i+2, n) pairs each point with every LATER one; x is
      // strictly increasing within the sorted array so dx > 0 always
      // (no ANSI division guard needed)
      .withColumn("slopes", array_sort(flatten(expr(
        "transform(pts, (p, i) -> transform(slice(pts, i + 2, size(pts))," +
          " q -> (q.y - p.y) / (q.x - p.x)))"))))
      .select(col("user_id"), size(col("pts")).cast("long").as("n_days"),
        size(col("slopes")).cast("long").as("n_pairs"),
        quantize(when(size(col("slopes")) % 2 === 1,
            element_at(col("slopes"), expr("cast((size(slopes) + 1) div 2 as int)")))
          .otherwise((element_at(col("slopes"), expr("cast(size(slopes) div 2 as int)"))
            + element_at(col("slopes"), expr("cast(size(slopes) div 2 + 1 as int)"))) / 2.0),
          6).as("sen_slope"))
  }

  /** Per-station MANN–KENDALL trend TEST — the significance half of
    * the WMO-standard Mann–Kendall/Sen's-slope pairing whose
    * magnitude half is [[theilSen]] (the reference's station trend
    * products report both: is the drought signal REAL, and how steep):
    * S = Σ_{i<j} sgn(y_j − y_i), Var(S) with the tie correction
    * Σ t(t−1)(2t+5), and the continuity-corrected Z.
    *
    * Shape at scale: identical to [[theilSen]] — one groupBy to daily
    * means, one groupBy per station collecting the BOUNDED daily
    * series, then the O(n²) sign enumeration and the tie scan run
    * IN-ROW via array HOFs; no pair join, no second shuffle. The
    * quadratic term is bounded by series LENGTH (resample-first for
    * century-daily series, as theilSen documents).
    *
    * Engine invariance: daily y is an exact rational (integer cents /
    * (100·n)), sgn of an exact-double difference is exact, S and the
    * tie term are INTEGER sums (order-free), Var(S) is one integer
    * expression divided by 18 once, and Z is one sqrt+divide both
    * engines compute from identical bits; Z quantized once at 1e-4.
    * The significance label compares the UNQUANTIZED Z against 1.96
    * — same bits, same branch, both engines. */
  def mannKendall(spark: SparkSession, dir: String): DataFrame =
    mannKendallOf(Tables.events(spark, dir))

  /** Mann–Kendall S over a sorted `pts` series: each point paired with
    * every LATER one (slice(pts, i+2, n), the theilSen enumeration),
    * sgn cast to long so the reduction is an integer sum —
    * merge-order-free. */
  private val mkSignSum: Column = expr(
    """aggregate(flatten(transform(pts, (p, i) ->
      |  transform(slice(pts, i + 2, size(pts)),
      |    q -> cast(sign(q.y - p.y) as bigint)))),
      |  0L, (a, s) -> a + s)""".stripMargin)

  /** Tie correction Σ t(t−1)(2t+5) of `pts`: a run-length scan over the
    * SORTED values; the accumulator flushes each finished run's term
    * so state is O(1) regardless of series length. */
  private val mkTieTerm: Column = expr(
    """aggregate(array_sort(transform(pts, p -> p.y)),
      |  named_struct('prev', cast(null as double), 'run', 0L, 'acc', 0L),
      |  (st, y) -> if(st.prev is not null and y = st.prev,
      |    named_struct('prev', y, 'run', st.run + 1L, 'acc', st.acc),
      |    named_struct('prev', y, 'run', 1L,
      |      'acc', st.acc + st.run * (st.run - 1L) * (2L * st.run + 5L))),
      |  st -> st.acc + st.run * (st.run - 1L) * (2L * st.run + 5L))"""
      .stripMargin)

  /** Continuity-corrected Z of `s_stat` over `var_s`; null when the
    * variance is 0. */
  private val mkZ: Column =
    when(col("var_s") > 0,
      when(col("s_stat") > 0,
        (col("s_stat") - 1).cast("double") / sqrt(col("var_s")))
      .when(col("s_stat") < 0,
        (col("s_stat") + 1).cast("double") / sqrt(col("var_s")))
      .otherwise(lit(0.0)))

  /** [[mannKendall]] over an arbitrary (user_id, ts, value) frame —
    * seam for the planted-trend spec. */
  private[graft] def mannKendallOf(ev: DataFrame): DataFrame = {
    val daily = dailyCents(ev)
      .agg(centMean(sum(col("yc")), count(lit(1))).as("y"))
    daily.groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("x"), col("y")))).as("pts"))
      .filter(size(col("pts")) >= 3)
      .withColumn("s_stat", mkSignSum)
      .withColumn("tie_term", mkTieTerm)
      .withColumn("n", size(col("pts")).cast("long"))
      .withColumn("var_s",
        (col("n") * (col("n") - 1) * (col("n") * 2 + 5) - col("tie_term"))
          .cast("double") / 18.0)
      .withColumn("z_raw", mkZ)
      .select(col("user_id"), col("n").as("n_days"), col("s_stat"),
        col("var_s"),
        quantize(col("z_raw"), 4).as("z_stat"),
        when(col("z_raw").isNull, "undefined")
          .when(col("z_raw") > 1.96, "increasing")
          .when(col("z_raw") < -1.96, "decreasing")
          .otherwise("no_trend").as("trend"))
  }

  /** SEASONAL Mann–Kendall trend test (Hirsch & Slack 1984 — the
    * WMO-recommended variant when the series carries a cycle): the
    * [[mannKendallOf]] S-statistic and tie-corrected variance are
    * computed WITHIN each season (day-of-week here — the cycle the
    * events stream actually has; calendar months for multi-year
    * climate records ride the identical plan with a different season
    * key), so cross-season comparisons — which a cycle would bias —
    * never enter; the per-season integers then SUM: S = Σ S_m,
    * Var = (Σ [n_m(n_m−1)(2n_m+5) − tie_m]) / 18, one division after
    * the exact integer combine, continuity-corrected Z as in the
    * plain test.
    *
    * Shape at scale: one extra grouping column on the same
    * (station, day) resample; the in-row pair enumeration is O(n_m²)
    * per season on the bounded per-season series (7× smaller than
    * the plain test's), and the combine is a map-side-partial O(1)
    * rollup. The season key is pure integer arithmetic on the epoch
    * day (`pmod(d, 7)`), not a locale-dependent calendar call, so
    * both engines derive identical seasons. */
  def seasonalMannKendall(spark: SparkSession, dir: String): DataFrame =
    seasonalMannKendallOf(Tables.events(spark, dir))

  private[graft] def seasonalMannKendallOf(ev: DataFrame): DataFrame = {
    val daily = dailyCents(ev)
      .agg(centMean(sum(col("yc")), count(lit(1))).as("y"))
      .withColumn("season", pmod(col("x"), lit(7L)))
    val per = daily.groupBy(col("user_id"), col("season"))
      .agg(sort_array(collect_list(struct(col("x"), col("y")))).as("pts"))
      .filter(size(col("pts")) >= 3)
      .withColumn("s_m", mkSignSum)
      .withColumn("tie_m", mkTieTerm)
      .withColumn("n_m", size(col("pts")).cast("long"))
      .withColumn("var_i",
        col("n_m") * (col("n_m") - 1) * (col("n_m") * 2 + 5) - col("tie_m"))
    per.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_seasons"),
        sum(col("n_m")).as("n_total"),
        sum(col("s_m")).as("s_stat"),
        sum(col("var_i")).as("vi"))
      .withColumn("var_s", col("vi").cast("double") / 18.0)
      .withColumn("z_raw", mkZ)
      .select(col("user_id"), col("n_seasons"), col("n_total"),
        col("s_stat"), col("var_s"),
        quantize(col("z_raw"), 4).as("z_stat"),
        when(col("z_raw").isNull, "undefined")
          .when(col("z_raw") > 1.96, "increasing")
          .when(col("z_raw") < -1.96, "decreasing")
          .otherwise("no_trend").as("trend"))
  }

  /** Per-station running-peak DRAWDOWN of the daily level — the
    * reservoir/groundwater depletion view behind low-flow monitoring
    * (how far below the historical running maximum has the station
    * fallen; the cumulative-deficit cousin of [[cumSumClamped]]'s
    * precipitation deficit): peak_t = max(level_1..t),
    * drawdown_t = peak_t − level_t.
    *
    * One (station, day) partial agg collapses the facts, then ONE
    * window (running max, unbounded-preceding frame) on the station
    * sort — O(1) state, single shuffle, fully codegen'd. The running
    * max is an ORDER STATISTIC over exact rationals and the
    * subtraction is one exact-double op, so both engines agree
    * bit-for-bit; outputs quantized once at 1e-4. */
  def drawdown(spark: SparkSession, dir: String): DataFrame = {
    val daily = byDay(Tables.events(spark, dir))
      .agg(centMean(sum(cents(col("value"))), count(lit(1))).as("level"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("peak", max(col("level")).over(w))
      .select(col("user_id"), col("day"),
        quantize(col("level"), 4).as("level"),
        quantize(col("peak"), 4).as("peak"),
        quantize(col("peak") - col("level"), 4)
          .as("drawdown"))
  }

  /** Per-station WALD–WOLFOWITZ RUNS TEST — the distribution-free
    * randomness screen that completes the diagnostics family
    * ([[autocorr]] measures linear persistence, [[ljungBox]] gates on
    * it, [[mannKendall]] tests monotone trend; the runs test catches
    * NON-linear structure all three can miss — oscillation, clumping,
    * regime stickiness): daily values split into above/below-median
    * signs (exact-median ties dropped, the standard treatment), R =
    * number of sign runs, compared against its exact null moments
    * E[R] = 2n₁n₂/m + 1, Var[R] = 2n₁n₂(2n₁n₂−m)/(m²(m−1)), verdict
    * at |z| > 1.96.
    *
    * Shape at scale: the [[theilSen]] in-row discipline — one daily
    * collapse, one station groupBy collecting the BOUNDED series;
    * median, signs, and the run count all compute in-row (the run
    * fold carries O(1) state). No second shuffle, no window.
    *
    * Engine invariance: the median is an ORDER STATISTIC of exact
    * rationals (even case: one midpoint expression, identical text
    * both sides); sign comparisons are exact; R, n₁, n₂ are integers;
    * E/Var/z are fixed double expressions on exact integers, z
    * quantized once at 1e-4 and the verdict compares UNQUANTIZED z. */
  def runsTest(spark: SparkSession, dir: String): DataFrame =
    runsTestOf(Tables.events(spark, dir))

  /** [[runsTest]] over an arbitrary (user_id, ts, value) frame —
    * seam for the planted alternating/clumped specs. */
  private[graft] def runsTestOf(ev: DataFrame): DataFrame = {
    val daily = dailyCents(ev)
      .agg(centMean(sum(col("yc")), count(lit(1))).as("y"))
    daily.groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("x"), col("y")))).as("pts"))
      .filter(size(col("pts")) >= 2)
      .withColumn("ys", expr("array_sort(transform(pts, p -> p.y))"))
      .withColumn("med", expr(
        """if(size(ys) % 2 = 1,
          |  element_at(ys, cast((size(ys) + 1) div 2 as int)),
          |  (element_at(ys, cast(size(ys) div 2 as int))
          |    + element_at(ys, cast(size(ys) div 2 + 1 as int))) / 2.0D)"""
          .stripMargin))
      .withColumn("signs", expr(
        "filter(transform(pts, p -> case when p.y > med then 1 " +
          "when p.y < med then -1 else 0 end), s -> s != 0)"))
      .withColumn("n_plus",
        expr("cast(size(filter(signs, s -> s = 1)) as bigint)"))
      .withColumn("n_minus",
        expr("cast(size(filter(signs, s -> s = -1)) as bigint)"))
      .withColumn("n_runs", expr(
        """if(size(signs) = 0, cast(null as bigint),
          |  aggregate(slice(signs, 2, size(signs) - 1),
          |    named_struct('prev', signs[0], 'cnt', 1L),
          |    (st, s) -> named_struct('prev', s,
          |      'cnt', st.cnt + if(s = st.prev, 0L, 1L)),
          |    st -> st.cnt))""".stripMargin))
      .withColumn("m", col("n_plus") + col("n_minus"))
      .withColumn("z_raw",
        when(col("n_plus") > 0 && col("n_minus") > 0 && col("m") > 1, {
          val nn2 = col("n_plus") * col("n_minus") * 2
          val e = nn2.cast("double") / col("m") + 1.0
          val v = (nn2 * (nn2 - col("m"))).cast("double").divide(
            (col("m") * col("m") * (col("m") - 1)).cast("double"))
          when(v > 0, (col("n_runs").cast("double") - e) / sqrt(v))
        }))
      .select(col("user_id"), size(col("pts")).cast("long").as("n_days"),
        col("n_plus"), col("n_minus"), col("n_runs"),
        quantize(col("z_raw"), 4).as("z_stat"),
        when(col("z_raw").isNull, "undefined")
          .when(abs(col("z_raw")) > 1.96, "non_random")
          .otherwise("random").as("verdict"))
  }

  /** Per-station MANN–WHITNEY U shift test between the reference
    * window and the rest of the record — the nonparametric two-sample
    * companion to [[changepoint]] (changepoint FINDS the most likely
    * break; this TESTS whether a fixed split actually shifted the
    * distribution — the homogeneity check climate services run before
    * trusting a climatology across an instrument change). Split at
    * the spiGammaRef/QDM reference date (days < 15 = "pre"): U from
    * midranks with the tie-corrected normal approximation, verdict at
    * |z| > 1.96.
    *
    * Exactness discipline: 2·midrank = 2·rank + t − 1 is INTEGRAL
    * (rank = SQL min-rank, t = tie-group size), so the rank sum
    * RA2 = Σ(2·midrank) and the tie term Σ(t³−t) = Σ_rows(t²−1) stay
    * integer through the shuffle; E/Var/z are fixed double
    * expressions on exact longs, z quantized once, verdict compares
    * the unquantized z. Both windows (rank on the station sort, tie
    * count on (station, value)) and the final rollup share ONE
    * exchange on the station key. */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame =
    mannWhitneyOf(Tables.events(spark, dir))

  /** [[mannWhitney]] over an arbitrary (user_id, ts, value) frame —
    * seam for the planted shift/no-shift specs. */
  private[graft] def mannWhitneyOf(ev: DataFrame): DataFrame = {
    val daily = dailyCents(ev)
      .agg(centMean(sum(col("yc")), count(lit(1))).as("y"))
      .withColumn("a", when(col("x") < 15, 1L).otherwise(0L))
    val wRank = Window.partitionBy(col("user_id")).orderBy(col("y"))
    val wTie = Window.partitionBy(col("user_id"), col("y"))
    val ranked = daily
      .withColumn("t", count(lit(1)).over(wTie))
      .withColumn("r2", rank().over(wRank) * 2 + col("t") - 1)
    ranked.groupBy(col("user_id"))
      .agg(
        sum(when(col("a") === 1, col("r2")).otherwise(0L)).as("ra2"),
        sum(col("a")).as("na"),
        sum(lit(1L) - col("a")).as("nb"),
        sum(col("t") * col("t") - 1).as("tie"))
      .withColumn("n", col("na") + col("nb"))
      .withColumn("u2", col("ra2") - col("na") * (col("na") + 1))
      .withColumn("z_raw",
        when(col("na") > 0 && col("nb") > 0, {
          val varU = (col("na") * col("nb")).cast("double") / 12.0 *
            ((col("n") + 1).cast("double") -
              col("tie").cast("double") /
                (col("n") * (col("n") - 1)).cast("double"))
          when(varU > 0,
            (col("u2") - col("na") * col("nb")).cast("double") /
              (sqrt(varU) * 2.0))
        }))
      .select(col("user_id"), col("na").as("n_pre"), col("nb").as("n_post"),
        (col("u2").cast("double") / 2.0).as("u_stat"),
        quantize(col("z_raw"), 4).as("z_stat"),
        when(col("z_raw").isNull, "undefined")
          .when(abs(col("z_raw")) > 1.96, "shifted")
          .otherwise("consistent").as("verdict"))
  }

  /** Per-station-month EXTREME-DAY FREQUENCY — the ETCCDI
    * percentile-index shape (TX90p / R90p: how often does a month
    * exceed the station's own 90th percentile): threshold = the
    * ⌈0.9·n⌉-th smallest daily value of the station's record (integer
    * rank — no float percentile), then per month the count and share
    * of days strictly above it. The climatological rollup pairing
    * with [[percentileOfRecord]] (that scores each day; this counts
    * the tail by month — the "is this month unusually extreme"
    * product drought/heat monitors publish).
    *
    * ONE station exchange: the threshold rides a frameless window
    * (sorted collect of the BOUNDED daily series, order-statistic
    * element_at), and the month rollup aggregates the same
    * partitioning. Exactness: daily means are exact rationals, the
    * threshold is an order statistic, comparisons and counts are
    * exact, one final division quantized at 1e-4. */
  def extremeDayFreq(spark: SparkSession, dir: String): DataFrame = {
    val daily = byDay(Tables.events(spark, dir))
      .agg(centMean(sum(cents(col("value"))), count(lit(1))).as("y"))
    val w = Window.partitionBy(col("user_id"))
    val sorted = array_sort(collect_list(col("y")).over(w))
    daily
      .withColumn("ys", sorted)
      .withColumn("thr", element_at(col("ys"),
        expr("cast((size(ys) * 9 + 9) div 10 as int)")))
      .select(col("user_id"), col("day"), col("y"), col("thr"))
      .groupBy(col("user_id"),
        substring(col("day"), 1, 7).as("month"))
      .agg(count(lit(1)).cast("long").as("n_days"),
        sum(when(col("y") > col("thr"), 1L).otherwise(0L)).as("n_extreme"),
        quantize(min(col("thr")), 4).as("threshold"))
      .withColumn("extreme_share",
        quantize(col("n_extreme").cast("double") / col("n_days"), 4))
  }

  /** Observation validity horizon for [[coverageUptime]]: each report
    * covers the next 5 minutes — one literal shared with the oracle. */
  private[graft] val CoverageHoldSec = 300L

  /** Per-station-day SENSOR COVERAGE — the union length of the
    * observation validity intervals (each report covers
    * [[CoverageHoldSec]]): the time-axis twin of
    * `healthcheck_freshness` ("how STALE is the newest row" vs "what
    * fraction of the day was the station actually reporting"), the
    * uptime metric an observation-network SLA reads. Classic
    * gaps-and-islands: an observation starts a new island iff it
    * begins after every previous interval's end; per island the
    * covered span is last-end − first-start, summed per day.
    *
    * Shape at scale: ONE exchange on the (station, day) composite
    * carries the island window (running max of interval ends over the
    * ordered frame) and both rollups — the island collapse and the
    * day rollup are map-side-partial aggs on prefixes of the same
    * key. Intervals crossing midnight credit their start day
    * (documented convention — no interval splitting pass).
    *
    * Exactness: epoch SECONDS are integers end to end (island spans,
    * covered seconds, counts); only the final uptime share divides,
    * quantized once at 1e-4. */
  def coverageUptime(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        dayLabel,
        unix_timestamp(col("ts")).as("s"),
        col("event_id"))
    val w = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("s"), col("event_id"))
    val prevEnd = max(col("s") + CoverageHoldSec)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val islands = ev
      .withColumn("new_island",
        when(prevEnd.isNull || prevEnd < col("s"), 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("day"), col("island"))
      .agg(min(col("s")).as("start_s"),
        max(col("s") + CoverageHoldSec).as("end_s"))
    islands.groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).cast("long").as("n_islands"),
        sum(col("end_s") - col("start_s")).cast("long").as("covered_s"))
      .withColumn("uptime_share",
        quantize(col("covered_s").cast("double") / 86400.0, 4))
  }

  /** Per-day PERCENTILE-OF-RECORD — the percent-of-normal drought
    * product family ("today's level sits at the 12th percentile of
    * this station's record"), the empirical-CDF alternative to the
    * parametric SPI: each daily value's cume_dist within its
    * station's full record (ties counted ≤, the SQL-standard
    * definition — identical in Spark and DuckDB), plus the record
    * rank and length for context.
    *
    * ONE shuffle on the station key carries both window frames
    * (cume_dist and the record count); the daily collapse is the
    * usual exact-cent partial agg. cume_dist is a pure ORDER
    * STATISTIC over exact rationals — counts of ≤-comparisons — so
    * the ratio divides two exact integers identically on any engine;
    * quantized once at 1e-4. At 100 TB the station key is
    * high-cardinality (millions of partitions of bounded length) —
    * the same distribution argument as every rolling op here. */
  def percentileOfRecord(spark: SparkSession, dir: String): DataFrame = {
    val daily = byDay(Tables.events(spark, dir))
      .agg(centMean(sum(cents(col("value"))), count(lit(1))).as("level"))
    val byVal = Window.partitionBy(col("user_id")).orderBy(col("level"))
    val all = Window.partitionBy(col("user_id"))
    daily
      .withColumn("pctl", cume_dist().over(byVal))
      .withColumn("n_days", count(lit(1)).over(all).cast("long"))
      .select(col("user_id"), col("day"),
        quantize(col("level"), 4).as("level"),
        quantize(col("pctl"), 4).as("pctl"),
        col("n_days"))
  }

  /** EWMA decay factor and the quantized weight table shared with the
    * generated oracle SQL. 40 terms: α(1-α)^39 ≈ 2e-7, and the
    * renormalizing denominator makes the truncation error relative,
    * not absolute. Weights are Scala-rendered doubles — shortest
    * round-trip representation, so both engines parse identical
    * bits (the featureDrop literal pattern). */
  private[graft] val EwmaAlpha = 0.3
  private[graft] val EwmaK = 40
  private[graft] val ewmaWeights: Seq[Double] =
    (0 until EwmaK).map(i => EwmaAlpha * math.pow(1 - EwmaAlpha, i))

  /** Exponentially-weighted moving average per key — the smoothing /
    * forecast-blend primitive (pandas `ewm(alpha).mean()`). The exact
    * EWMA is a linear RECURRENCE, which no distributed window
    * evaluates directly; the Spark-expressible form is the bounded
    * weighted sum over the last K observations with a renormalizing
    * denominator over the lags that actually exist (identical to
    * pandas' `adjust=True` up to the K-term truncation, which decays
    * geometrically). Implementation: ONE sliding K-row frame per
    * (key, order) window — a single shuffle, single sort, O(K) state
    * per row — whose collected values are folded against the literal
    * weight array (measured ~2× faster than K separate `lag` frame
    * processors; see the inline note). Both engines fold the same
    * literal weights in the same textual order, so the double
    * arithmetic is bit-identical. */
  def ewma(spark: SparkSession, dir: String): DataFrame = {
    // ONE sliding-frame collect per row (40 distinct `lag(value, i)`
    // offsets would each get their own frame processor in the window
    // exec — measured ~2× slower); the weighted fold then runs in
    // ascending-lag order, matching the oracle's literal `w0*x0 +
    // w1*x1 + …` left-association term for term — appending the
    // oracle's trailing `+ wi*0` no-op terms keeps the sums
    // bit-identical. Denominators depend only on history LENGTH, so
    // they are a 40-entry prefix-sum literal (same fold order),
    // indexed by size — no second fold.
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-(EwmaK - 1), Window.currentRow)
    val wts = array(ewmaWeights.map(lit): _*)
    val denoms = array(ewmaWeights.scanLeft(0.0)(_ + _).tail.map(lit): _*)
    val rev = reverse(collect_list(col("value")).over(w))
    val num = aggregate(
      zip_with(rev, slice(wts, lit(1), size(rev)), (v, wt) => v * wt),
      lit(0.0), (acc, x) => acc + x)
    val den = element_at(denoms, size(rev))
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        round(col("value"), 2).as("value"),
        quantize(num / den, 4).as("ewma"))
  }

  /** Ordered-sequence FUNNEL over sessions — "did signup → click →
    * purchase happen IN ORDER within one session", the event-sequence
    * analytics shape (conversion funnels, QC state machines). Stage
    * timestamps resolve in one grouped pass each: t1 = first signup,
    * t2 = first click strictly after t1, t3 = first purchase strictly
    * after t2 — three aggregations all keyed on the SAME (user,
    * session) composite, so after the sessionize shuffle the stage
    * joins are co-partitioned; output is one funnel report row per
    * stage with absolute counts and conversion from the previous
    * stage. Order matters and is enforced by construction: a purchase
    * BEFORE the click does not count. */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame =
    funnelOf(Tables.events(spark, dir))

  /** Station data-COMPLETENESS report — the WMO-style gate every
    * climatology fit runs first (a normal computed over a record
    * with a season-sized hole is biased, so the standards mandate
    * completeness thresholds): per station the observed-day count,
    * the expected count from its own first→last span, the
    * completeness ratio, the number of interior gaps and the longest
    * one (in days). All integer calendar arithmetic on the day
    * number; the gap scan is one lag on the (station; day) sort the
    * daily reduction already produced. */
  def tsMissingReport(spark: SparkSession, dir: String): DataFrame = {
    val daily = byDay(Tables.events(spark, dir))
      .agg(count(lit(1)).as("n_obs"))
      .withColumn("dn", datediff(col("day").cast("date"),
        lit("2024-01-01").cast("date")))
    val w = Window.partitionBy(col("user_id")).orderBy(col("dn"))
    daily
      .withColumn("gap", col("dn") - lag(col("dn"), 1).over(w) - 1)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_days"),
        (max(col("dn")) - min(col("dn")) + 1).cast("long").as("expected_days"),
        sum(when(col("gap") > 0, 1L).otherwise(0L)).as("n_gaps"),
        coalesce(max(when(col("gap") > 0, col("gap"))), lit(0))
          .cast("long").as("longest_gap"))
      .select(col("user_id"), col("n_days"), col("expected_days"),
        col("n_gaps"), col("longest_gap"),
        quantize(col("n_days").cast("double") / col("expected_days"), 4).as("completeness"))
  }

  /** Day-of-week × hour ACTIVITY HEATMAP — the diurnal/weekly usage
    * matrix every operations dashboard opens with (and the shape a
    * scheduler reads to place maintenance windows): per (dow, hour)
    * cell the event count, exact mean value, and the cell's share of
    * the week. ISO day numbering (1 = Monday) on both engines; one
    * map-side-partial aggregation to a bounded 7×24 output, the
    * total for the share riding a broadcast 1-row join. */
  def eventsDowHourHeatmap(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .groupBy(dayofweek(col("ts")).as("dow_sun1"), hour(col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"),
        sum(cents(col("value"))).as("sc"))
      // Spark dayofweek is 1=Sunday; normalize to ISO 1=Monday
      .withColumn("dow", (col("dow_sun1") + 5) % 7 + 1)
    val tot = cells.agg(sum(col("n")).as("nn"))
    cells.crossJoin(broadcast(tot))
      .select(col("dow").cast("int").as("dow"), col("hour"), col("n"),
        (floor(col("sc").cast("double") / col("n") + 0.5) / 100.0)
          .as("mean_value"),
        quantize(col("n").cast("double") / col("nn"), 6)
          .as("share"))
  }

  /** STRENGTH of trend and seasonality (Hyndman & co's
    * `feasts::feat_stl` measures — the triage numbers a forecasting
    * pipeline reads off every series before choosing a model):
    * F_T = max(0, 1 − Var(R)/Var(T+R)) and
    * F_S = max(0, 1 − Var(R)/Var(S+R)) over the
    * [[seasonalDecompose]] components (composition — the oracle
    * mirrors it). The components are exact 1e-4-unit integers by
    * construction, so the sums are exact; each squared term
    * quantizes to 1e-4 units before its sum, and every variance is
    * a fixed expression on those exact operands — fold order never
    * reaches the reported figures. One agg on the decomposition's
    * existing station exchange; degenerate variances report null. */
  def seasonalStrength(spark: SparkSession, dir: String): DataFrame = {
    def q(c: Column) =
      units((c.cast("double") / 1e4) * (c.cast("double") / 1e4), 4)
    val u = seasonalDecompose(spark, dir)
      .select(col("user_id"),
        units(col("residual"), 4).as("r_u"),
        units(col("value") - col("seasonal"), 4)
          .as("tr_u"),
        units(col("value") - col("trend"), 4)
          .as("sr_u"))
    def variance(s: Column, sq: Column, n: Column) =
      sq.cast("double") / 1e4 / n -
        (s.cast("double") / 1e4 / n) * (s.cast("double") / 1e4 / n)
    u.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("r_u")).as("s_r"), sum(q(col("r_u"))).as("q_r"),
        sum(col("tr_u")).as("s_tr"), sum(q(col("tr_u"))).as("q_tr"),
        sum(col("sr_u")).as("s_sr"), sum(q(col("sr_u"))).as("q_sr"))
      .select(col("user_id"), col("n").as("n_days"),
        quantize(variance(col("s_r"), col("q_r"), col("n")), 4)
          .as("var_resid"),
        when(variance(col("s_tr"), col("q_tr"), col("n")) > 0,
          quantize(greatest(lit(0.0), lit(1.0)
            - variance(col("s_r"), col("q_r"), col("n"))
            / variance(col("s_tr"), col("q_tr"), col("n"))), 4)).as("f_trend"),
        when(variance(col("s_sr"), col("q_sr"), col("n")) > 0,
          quantize(greatest(lit(0.0), lit(1.0)
            - variance(col("s_r"), col("q_r"), col("n"))
            / variance(col("s_sr"), col("q_sr"), col("n"))), 4)).as("f_seasonal"))
  }

  /** ENTROPY RATE of the event-type chain — the predictability
    * number on top of [[eventsMarkov]]'s transition matrix (a stream
    * whose entropy rate collapses is a stuck pipeline replaying one
    * transition; one that rises toward ln |states| lost its
    * structure): per source state, its empirical occupancy π, its
    * conditional entropy H_i = Σ −p_ij ln p_ij, and its contribution
    * π_i·H_i — the chain's entropy rate is the column sum.
    * Composition over the transition matrix (oracle mirrors it);
    * each n·ln p term quantizes to 1e-6 units before both sums, and
    * π/H divide exact counts once. O(states) output. */
  def eventsEntropyRate(spark: SparkSession, dir: String): DataFrame = {
    val m = eventsMarkov(spark, dir)
      .select(col("from_type"), col("n_trans"), col("n_from"))
      .localCheckpoint() // the total and the per-state sums both read it
    val tot = m.agg(sum(col("n_trans")).as("nn"))
    m.withColumn("tu",
        units(-(col("n_trans").cast("double")
          * log(col("n_trans").cast("double") / col("n_from"))), 6))
      .crossJoin(broadcast(tot))
      .groupBy(col("from_type"))
      .agg(min(col("n_from")).as("n_from"),
        quantize(min(col("n_from")).cast("double") / min(col("nn")), 4).as("pi"),
        quantize(sum(col("tu")).cast("double") / 1e6 / min(col("n_from")), 4).as("h_cond"),
        quantize(sum(col("tu")).cast("double") / 1e6 / min(col("nn")), 4).as("h_contrib"))
  }

  /** Funnel CONVERSION LATENCY — how long signup→purchase takes, the
    * product-analytics companion of [[eventsFunnel]]'s conversion
    * counts: per session the first signup and the first purchase
    * strictly after it, then the GLOBAL latency distribution (count,
    * exact mean, p50/p90/p99).
    *
    * The percentile is computed from a HISTOGRAM of integer latency
    * seconds, not a row-level global sort: the (lat_s, count)
    * table is bounded by the latency RANGE in seconds regardless of
    * corpus size, its cumulative counts resolve value-at-rank by one
    * conditional aggregate per rank, and type-7 interpolation uses
    * two such ranks — so the only single-task structure is O(distinct
    * seconds) rows, never O(sessions). Stage extraction reuses the
    * funnel's sessionize shuffle; the t1 join-back is co-partitioned
    * on the same composite key. */
  def funnelLatency(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.events(spark, dir)
      .withColumn("gap_s",
        (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))) / 1e6)
      .withColumn("new_session",
        when(col("gap_s").isNull || col("gap_s") > 1800, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(wRun).cast("long"))
      .select(col("user_id"), col("session_id"), col("event_type"), col("ts"))
      .localCheckpoint() // two stage passes read it
    val t1 = sess.filter(col("event_type") === "signup")
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("t1"))
    val conv = sess.filter(col("event_type") === "purchase")
      .join(t1, Seq("user_id", "session_id"))
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("tp"), min(col("t1")).as("t1"))
      .select(expr("(unix_micros(tp) - unix_micros(t1)) div 1000000")
        .as("lat_s"))
    val h = conv.groupBy(col("lat_s")).agg(count(lit(1)).as("cnt"))
    val tot = h.agg(sum(col("cnt")).as("n"),
      sum(col("lat_s") * col("cnt")).as("sl"))
    val wc = Window.orderBy(col("lat_s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = h.withColumn("cum", sum(col("cnt")).over(wc))
      .crossJoin(broadcast(tot))
    def valueAt(k: Column) = min(when(col("cum") >= k, col("lat_s")))
    val qs = Seq(("p50_s", 0.5), ("p90_s", 0.9), ("p99_s", 0.99))
    val pctAggs = qs.flatMap { case (nm, q) =>
      val r = (col("n") - 1) * lit(q)
      val lo = floor(r) + 1
      Seq(valueAt(lo).as(s"${nm}_lo"),
        valueAt(least(lo + 1, col("n"))).as(s"${nm}_hi"),
        min(r - floor(r)).as(s"${nm}_f"))
    }
    val nSessions = sess.select(col("user_id"), col("session_id"))
      .distinct().agg(count(lit(1)).as("n_sessions"))
    cum.groupBy()
      .agg(min(col("n")).as("n_converted"),
        (Seq(quantize(min(col("sl")).cast("double") / min(col("n")), 4).as("mean_s"))
          ++ pctAggs): _*)
      .crossJoin(broadcast(nSessions))
      .select(Seq(col("n_sessions"), col("n_converted"),
        col("mean_s")) ++ qs.map { case (nm, _) =>
          quantize(col(s"${nm}_lo") + col(s"${nm}_f")
            * (col(s"${nm}_hi") - col(s"${nm}_lo")), 4)
            .as(nm) }: _*)
  }

  /** [[eventsFunnel]] over an arbitrary (event_id, ts, user_id,
    * event_type) frame — public seam so order enforcement is
    * spec-testable on constructed sequences. */
  private[graft] def funnelOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = ev
      .withColumn("gap_s",
        (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))) / 1e6)
      .withColumn("new_session",
        when(col("gap_s").isNull || col("gap_s") > 1800, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(wRun).cast("long"))
      .select(col("user_id"), col("session_id"), col("event_id"),
        col("event_type"), col("ts"))
    // ONE pass: each session's time-sorted events fold through the
    // three-stage state machine (t1 = first signup; t2 = first click
    // strictly after t1; t3 = first purchase strictly after t2).
    // Honest bound: the collected array is bounded by SESSION length,
    // and a session is idle-gap-bounded only when the key actually
    // idles — a key with continuous sub-30-min activity (a station
    // reporting every minute) grows one unbounded session. That is a
    // traffic-shape assumption, not a structural guarantee: for
    // funnels over such keys, prefer the per-stage conditional-min
    // formulation on the same composite key (O(1) state, identical
    // semantics, at the cost of re-evaluating the sessionize window
    // per stage). For user-interaction streams the assumption holds
    // and this shape is one shuffle with no joins.
    val nullTs = lit(null).cast("timestamp")
    val folded = sess
      .groupBy(col("user_id"), col("session_id"))
      .agg(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("event_type")))).as("evs"))
      .withColumn("st", aggregate(col("evs"),
        struct(nullTs.as("t1"), nullTs.as("t2"), nullTs.as("t3")),
        (acc, e) => struct(
          when(acc.getField("t1").isNull &&
            e.getField("event_type") === "signup", e.getField("ts"))
            .otherwise(acc.getField("t1")).as("t1"),
          when(acc.getField("t1").isNotNull && acc.getField("t2").isNull &&
            e.getField("event_type") === "click" &&
            e.getField("ts") > acc.getField("t1"), e.getField("ts"))
            .otherwise(acc.getField("t2")).as("t2"),
          when(acc.getField("t2").isNotNull && acc.getField("t3").isNull &&
            e.getField("event_type") === "purchase" &&
            e.getField("ts") > acc.getField("t2"), e.getField("ts"))
            .otherwise(acc.getField("t3")).as("t3"))))
      .select(col("st.t1").as("t1"), col("st.t2").as("t2"), col("st.t3").as("t3"))
    val totals = folded.agg(
      count(lit(1)).as("n_sessions"),
      count(col("t1")).as("n_signup"),
      count(col("t2")).as("n_signup_click"),
      count(col("t3")).as("n_full"))
    totals.select(explode(array(
        struct(lit(1).as("stage"), lit("session").as("name"),
          col("n_sessions").as("n"), col("n_sessions").as("prev")),
        struct(lit(2).as("stage"), lit("signup").as("name"),
          col("n_signup").as("n"), col("n_sessions").as("prev")),
        struct(lit(3).as("stage"), lit("signup>click").as("name"),
          col("n_signup_click").as("n"), col("n_signup").as("prev")),
        struct(lit(4).as("stage"), lit("signup>click>purchase").as("name"),
          col("n_full").as("n"), col("n_signup_click").as("prev")))).as("s"))
      .select(col("s.stage").as("stage"), col("s.name").as("name"),
        col("s.n").as("n"),
        when(col("s.prev") > 0,
          quantize(col("s.n").cast("double") / col("s.prev"), 4))
          .as("conversion"))
  }

  /** Event-type TRANSITION MATRIX — the first-order Markov estimate
    * over each user's time-ordered stream ("after a click, what comes
    * next and how often"): the sequence-analytics summary that sits
    * under session modeling, bot detection (improbable transition
    * chains) and synthetic-stream generators, and the categorical
    * sibling of [[autocorr]]'s numeric persistence diagnostic.
    * Emits one row per observed (from_type, to_type) edge with the
    * transition count, the from-state total, and the row-normalized
    * probability.
    *
    * Exactness: `p` divides two exact integers once and
    * floor-quantizes — engine-invariant by construction.
    *
    * Shape at scale: ONE shuffle on the user key for the lag window
    * (each user's stream sorts within its partition), then the
    * aggregation collapses to at most |types|² rows — map-side
    * partials shrink the second exchange to nothing, and the
    * from-state total is a frameless window over that tiny matrix,
    * not another pass over events. */
  def eventsMarkov(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wf = Window.partitionBy(col("from_type"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n_trans"))
      .withColumn("n_from", sum(col("n_trans")).over(wf))
      .withColumn("p",
        quantize(col("n_trans").cast("double") / col("n_from"), 4))
  }

  /** Cohort RETENTION matrix — "of the stations/users first seen on
    * day D, what share was active again D+k days later", the other
    * standard event-analytics shape next to [[eventsFunnel]]
    * (completeness monitoring over an ingest lake: a cohort of
    * stations onboarded together should keep reporting; decaying
    * retention is silent sensor dropout).
    *
    * Shape at scale: ONE shuffle on `user_id` — each user's distinct
    * active days fold into a sorted set (map-side partials dedupe
    * before the exchange; state per user is bounded by the monitoring
    * horizon in days), the cohort is the set's head, offsets explode
    * in-row. A `distinct` + min-window would hash on (user, day) and
    * then RE-shuffle on user alone; this does neither. The tiny
    * (cohort × offset) matrix is `localCheckpoint`ed so the
    * offset-0 size filter reuses it instead of recomputing the whole
    * chain (plan-audited: one parquet scan total), then joins back
    * as an O(cohorts)-row broadcast. Rates divide two exact integers
    * once. */
  def eventsRetention(spark: SparkSession, dir: String): DataFrame = {
    val cell = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_set(col("day"))).as("days"))
      .select(element_at(col("days"), 1).as("cohort"),
        explode(col("days")).as("day"))
      .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
        datediff(col("day"), col("cohort")).cast("int").as("offset_days"))
      .agg(count(lit(1)).as("n_active"))
      .localCheckpoint()
    val size = cell.filter(col("offset_days") === 0)
      .select(col("cohort_day"), col("n_active").as("cohort_size"))
    cell.join(broadcast(size), Seq("cohort_day"))
      .select(col("cohort_day"), col("offset_days"), col("n_active"),
        col("cohort_size"),
        quantize(col("n_active").cast("double") / col("cohort_size"), 4).as("retention"))
  }

  /** Autocorrelation lags reported by [[autocorr]]. */
  private[graft] val AcfLags = Seq(1, 2, 3)

  /** Each (station, day `x`) row of a daily `sc`/`cnt` table as its
    * deviation `dev` from the POOLED station mean (all cents / all
    * observations; see [[autocorr]]). */
  private def stationDevs(daily: DataFrame): DataFrame = {
    val stats = daily.groupBy(col("user_id"))
      .agg(sum(col("sc")).as("scs"), sum(col("cnt")).as("n_obs"))
      .select(col("user_id"), centMean(col("scs"), col("n_obs")).as("ybar"))
    daily.join(stats, Seq("user_id"))
      .select(col("user_id"), col("x"),
        (centMean(col("sc"), col("cnt")) - col("ybar")).as("dev"))
  }

  /** Per-station AUTOCORRELATION of the daily series at calendar lags
    * 1–3 — the persistence diagnostic behind every forecast-skill
    * claim (an AR(1)-ish station is predictable from yesterday; white
    * noise is not) and the standard check before fitting seasonal
    * models. Pairs are matched on exact CALENDAR distance (x, x+k),
    * so a missing day contributes no spurious pair — rows-frame
    * autocorrelation would silently mis-lag gapped series, the same
    * trap [[rollingSumRange]] closes for sums.
    *
    * Convention: deviations are taken from the POOLED station mean
    * (all cents / all observations), not the mean of daily means —
    * the pooled form is an exact integer ratio, so ȳ (and every
    * deviation) has identical bits on any engine and partitioning.
    * Numerator/denominator accumulate per-term floor-quantized 1e-8
    * INTEGER products — merge-order-free — and divide once at the
    * end (guarded: ≥5 pairs and a nonzero denominator, else null).
    *
    * Shape at scale: one fact scan into the daily table (pinned via
    * localCheckpoint — the den pass and BOTH pair-join sides read it;
    * unpinned, each reference would re-expand into its own fact
    * scan), then every shuffle is on the station key or (station,
    * day): the lag join is a self-equi-join of the O(stations·days)
    * daily table on (station, x+k), never on raw events. */
  def autocorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyCents(Tables.events(spark, dir))
      .agg(sum(col("yc")).as("sc"), count(lit(1)).as("cnt"))
    val dev = stationDevs(daily).localCheckpoint()
    val den = dev.groupBy(col("user_id"))
      .agg(sum(units(col("dev") * col("dev"), 8)).as("den_u"),
        count(lit(1)).as("n_days"))
    // pure EQUI-join on (station, day): each b-row fans out to its 3
    // candidate predecessors (xb − k), so matching is hash-join exact
    // — a `xb − x IN lags` condition would post-filter the full
    // per-station day×day pair space instead
    val b = dev.select(col("user_id").as("ub"), col("x").as("xb"),
        col("dev").as("devb"))
      .withColumn("lag", explode(array(AcfLags.map(lit): _*)))
      .withColumn("xa", col("xb") - col("lag"))
    val num = dev.join(b, col("user_id") === col("ub") && col("x") === col("xa"))
      .groupBy(col("user_id"), col("lag"))
      .agg(sum(units(col("dev") * col("devb"), 8)).as("num_u"),
        count(lit(1)).as("n_pairs"))
    num.join(den, Seq("user_id"))
      .select(col("user_id"), col("lag"), col("n_days"), col("n_pairs"),
        when(col("n_pairs") >= 5 && col("den_u") > 0,
          quantize(col("num_u").cast("double") / col("den_u"), 4))
          .as("acf"))
  }

  /** Chi-square 5% critical value at df = |[[AcfLags]]| = 3 for the
    * [[ljungBox]] whiteness verdict. */
  private[graft] val LjungBoxCrit = 7.8147

  /** Per-station LJUNG-BOX portmanteau statistic — the standard "is
    * this series white noise" test run on top of [[autocorr]]'s
    * calendar-lag autocorrelations: Q = n(n+2)·Σ_{k=1..3} ρ̂_k²/(n−k),
    * compared against the χ²(3) 5% critical value. The single-number
    * gate a QC pipeline applies before fitting any AR/seasonal model
    * (white ⇒ nothing to fit) and after fitting one (residuals
    * should come back white).
    *
    * Exactness: the inputs are [[autocorr]]'s 4-dp-quantized ρ̂ —
    * identical bits on both engines — and Q folds them in fixed
    * textual order (ρ₁ term + ρ₂ term + ρ₃ term, then one multiply
    * by the exact integer n(n+2)), so the double arithmetic is
    * bit-identical before the final floor-quantize. Null-guarded:
    * any missing ρ̂ (sparse station) or n ≤ 3 nulls the statistic
    * and the verdict.
    *
    * Shape at scale: reuses [[autocorr]]'s plan (every shuffle on
    * the station key or (station, day)); the pivot is one more
    * aggregation on the O(stations × 3) acf table — nothing new
    * touches the fact table. */
  def ljungBox(spark: SparkSession, dir: String): DataFrame = {
    val p = autocorr(spark, dir).groupBy(col("user_id"))
      .agg(max(col("n_days")).as("n_days"),
        max(when(col("lag") === 1, col("acf"))).as("acf1"),
        max(when(col("lag") === 2, col("acf"))).as("acf2"),
        max(when(col("lag") === 3, col("acf"))).as("acf3"))
    val n = col("n_days")
    val s = col("acf1") * col("acf1") / (n - 1) +
      col("acf2") * col("acf2") / (n - 2) +
      col("acf3") * col("acf3") / (n - 3)
    p.select(col("user_id"), col("n_days"),
        col("acf1"), col("acf2"), col("acf3"),
        when(col("acf1").isNotNull && col("acf2").isNotNull &&
            col("acf3").isNotNull && n > 3,
          quantize((n * (n + 2)).cast("double") * s, 4))
          .as("q_stat"))
      .withColumn("white_noise",
        when(col("q_stat").isNotNull,
          when(col("q_stat") <= LjungBoxCrit, 1).otherwise(0)))
  }

  /** Single most-likely LEVEL-SHIFT changepoint per station — the
    * at-most-one-changepoint split a QC pipeline runs before trusting
    * a series' climatology (sensor relocation, recalibration, datum
    * shift; the reference's danger-level and bias workflows assume
    * homogeneous series and this is the standard homogeneity test).
    * Offline twin of the streaming CUSUM flag ([[cusumDrift]]):
    * CUSUM answers "is it drifting NOW", this answers "WHERE did the
    * level break". Maximizes the between-segment sum-of-squares
    * statistic G(t) = n₁·n₂/n · (m₁ − m₂)² over all n−1 split points
    * of the station's daily series; reports the argmax day, the
    * score, and both segment means.
    *
    * Exactness: with daily sums in integer cents, G(t)·10⁴ =
    * a² / (n·t·(n−t)) where a = n·S_t − t·S_n is an exact long, so
    * the 4-dp score is ONE exact integer division (`div` here, `//`
    * in the oracle — both truncate, and every operand is
    * non-negative) — no merge-order-dependent double sums anywhere
    * near the argmax, and the (score, day) ordering picks the same
    * split on any engine and partitioning. Loud overflow envelope
    * (ANSI): 2a²+den must fit a long ⇒ |a| ≤ 2.1e9 — roughly 680
    * station-years of daily cents per key before the multiply throws
    * (loudly, never silently wrong); past that, drop cents to whole
    * units upstream or widen to DECIMAL(38).
    *
    * Shape at scale: one (station, day) partial-agg shuffle collapses
    * the fact table; then ONE window sort per station serves the
    * running frame, the total frame and (same sort) the argmax
    * row_number. Everything after the first shuffle is
    * aggregate-sized; no joins, no collect. */
  def changepoint(spark: SparkSession, dir: String): DataFrame =
    changepointOf(Tables.events(spark, dir))

  /** [[changepoint]] over an arbitrary (user_id, ts, value) frame —
    * seam so the argmax is spec-testable on a constructed shift. */
  private[graft] def changepointOf(ev: DataFrame): DataFrame = {
    val daily = dailyCents(ev)
      .agg(sum(col("yc")).as("sc"))
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("x"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = wOrd.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    daily
      .withColumn("t", row_number().over(wOrd).cast("long"))
      .withColumn("st", sum(col("sc")).over(wRun))
      .withColumn("n", count(lit(1)).over(wAll).cast("long"))
      .withColumn("sn", sum(col("sc")).over(wAll))
      .filter(col("t") < col("n"))
      .withColumn("a", col("n") * col("st") - col("t") * col("sn"))
      .withColumn("den", col("n") * col("t") * (col("n") - col("t")))
      .withColumn("score_u", expr("(2 * a * a + den) div (2 * den)"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("user_id"))
        .orderBy(col("score_u").desc, col("x").asc)))
      .filter(col("rn") === 1)
      .select(col("user_id"),
        date_format(date_add(to_date(lit("2024-01-01")),
          col("x").cast("int")), "yyyy-MM-dd").as("cp_day"),
        col("n").as("n_days"), col("t").as("n_before"),
        (col("score_u").cast("double") / 1e4).as("score"),
        (expr("(200 * st + t) div (2 * t)").cast("double") / 1e4)
          .as("mean_before"),
        (expr("(200 * (sn - st) + (n - t)) div (2 * (n - t))")
          .cast("double") / 1e4).as("mean_after"))
  }

  /** Periods (days) probed by [[periodogram]]; the cos/sin weight
    * tables are Scala-rendered doubles shared VERBATIM with the
    * generated oracle SQL (shortest round-trip — both engines parse
    * identical bits, the hyperplane-LSH literal pattern). */
  private[graft] val PgramPeriods = Seq(7, 14, 30)
  private[graft] def pgramCos(t: Int): Seq[Double] =
    (0 until t).map(r => math.cos(2.0 * math.Pi * r / t))
  private[graft] def pgramSin(t: Int): Seq[Double] =
    (0 until t).map(r => math.sin(2.0 * math.Pi * r / t))

  /** Fixed-period PERIODOGRAM per station — spectral power of the
    * daily series at candidate cycles (weekly, fortnightly, monthly):
    * the cycle-detection screen run before seasonal modelling
    * ([[seasonalDecompose]] ASSUMES a weekly cycle; this measures
    * whether one exists, and at which period). Power at period T is
    * the squared projection onto (cos, sin) at frequency 1/T,
    * normalized by n²: P(T) = ((Σd·cos)² + (Σd·sin)²) / n².
    *
    * Engine invariance: the trig weights are LITERAL tables indexed
    * by x mod T (never an engine trig call at query time — libm and
    * DuckDB's cos may differ in the last ulp; a frozen table cannot),
    * deviations are taken from the pooled exact-ratio mean (the
    * [[autocorr]] convention), and each d·w product floor-quantizes
    * to integer 1e-6 units so the sums are merge-order-free; the
    * squares are products of dedup-exact longs in double — correctly
    * rounded, identical everywhere.
    *
    * Shape at scale: ONE map-side-partial agg tree — facts → (station,
    * day) → ×3 period rows → (station, period). No window, no sort,
    * no join fan-out beyond the 3-way literal explode; the daily
    * table is pinned because the pooled-mean pass and the projection
    * pass both read it. */
  def periodogram(spark: SparkSession, dir: String): DataFrame =
    periodogramOf(Tables.events(spark, dir))

  /** [[periodogram]] over an arbitrary (user_id, ts, value) frame —
    * seam for the square-wave concentration spec. */
  private[graft] def periodogramOf(ev: DataFrame): DataFrame = {
    val daily = dailyCents(ev)
      .agg(sum(col("yc")).as("sc"), count(lit(1)).as("cnt"))
      .localCheckpoint()
    stationDevs(daily)
      .withColumn("p", explode(array(PgramPeriods.map { t =>
        struct(lit(t).as("period"),
          element_at(array(pgramCos(t).map(lit): _*),
            (col("x") % t).cast("int") + 1).as("cw"),
          element_at(array(pgramSin(t).map(lit): _*),
            (col("x") % t).cast("int") + 1).as("sw"))
      }: _*)))
      .groupBy(col("user_id"), col("p.period").as("period"))
      .agg(count(lit(1)).as("n_days"),
        sum(units(col("dev") * col("p.cw"), 6))
          .as("c_u"),
        sum(units(col("dev") * col("p.sw"), 6))
          .as("s_u"))
      .select(col("user_id"), col("period").cast("long").as("period"),
        col("n_days"),
        quantize((col("c_u").cast("double") * col("c_u").cast("double")
          + col("s_u").cast("double") * col("s_u").cast("double"))
          / (col("n_days") * col("n_days")) / 1e12, 4)
          .as("power"))
  }

  /** Lags (days) probed by [[crossCorrRef]]. */
  private[graft] val XcorrLags = Seq(0, 1, 2, 3)

  /** DTW band half-width in days (±2 weeks of warp allowed). */
  private[graft] val DtwBand = 14

  /** DYNAMIC-TIME-WARPING distance of each station's daily series
    * against the network-mean reference — the elastic-alignment
    * sibling of [[crossCorrRefOf]]: cross-correlation at fixed lags
    * scores coherence only at those offsets, while DTW charges for
    * the best monotone alignment within a ±[[DtwBand]]-day band, so
    * a station reacting to the same forcing with a VARIABLE delay
    * (snowmelt-driven gauges, routed flow) still scores close. The
    * 2-D DP recurrence is sequential in both dimensions — no window
    * or HOF formulation exists — so it runs as the native codegen'd
    * [[graft.expressions.DtwExpr]] kernel over the per-station value
    * array: O(n·band) per station, O(n) live state, one compiled
    * call in the scan stage after the arrays assemble.
    *
    * Exactness: station and reference daily means each quantize ONCE
    * to the 1e-4 grid (exact integer ratio, one floor), and the DP's
    * fixed row-major order makes the double result reproducible
    * bit-for-bit (spec recomputes it independently). Shape at scale:
    * one (station, day) agg, one station rollup into bounded arrays
    * (resample-first discipline — the series length is the DAY
    * count, not the event count), reference is O(days) and
    * broadcasts. Oracle: the identical banded DP replayed as a
    * recursive CTE over anti-diagonal frontiers (working table =
    * newest diagonal + the one before, each cell joining its three
    * predecessors exactly once) — every cell is the same fixed
    * |a−b| + least(...) op chain, so the doubles match bit-for-bit;
    * the spec carries an independent recomputation besides. */
  def dtwRef(spark: SparkSession, dir: String): DataFrame =
    dtwRefOf(Tables.events(spark, dir))

  private[graft] def dtwRefOf(ev: DataFrame): DataFrame = {
    val daily = dailyCents(ev)
      .agg(sum(col("yc")).as("sc"), count(lit(1)).as("cnt"))
      .localCheckpoint()
    def q(sc: Column, cnt: Column): Column =
      floor(sc.cast("double") * 100.0 / cnt + 0.5) / 1e4
    val ser = daily
      .select(col("user_id"), col("x"), q(col("sc"), col("cnt")).as("y"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_days"),
        expr("transform(array_sort(collect_list(struct(x, y))), p -> p.y)")
          .as("s"))
    val ref = daily.groupBy(col("x"))
      .agg(sum(col("sc")).as("rsc"), sum(col("cnt")).as("rcnt"))
      .select(col("x"), q(col("rsc"), col("rcnt")).as("y"))
      .agg(count(lit(1)).as("ref_days"),
        expr("transform(array_sort(collect_list(struct(x, y))), p -> p.y)")
          .as("ref_s"))
    val dist = graft.expressions.VectorColumns.dtw(col("s"), col("ref_s"), DtwBand)
    ser.crossJoin(broadcast(ref))
      .select(col("user_id"), col("n_days"), col("ref_days"),
        quantize(dist, 4).as("dtw_dist"),
        quantize(dist / (col("n_days") + col("ref_days")), 4)
          .as("dtw_per_step"))
  }

  /** Cross-correlation of each station against the NETWORK-MEAN
    * reference series at calendar lags 0–3 — the teleconnection /
    * coherence screen ("does this station follow the basin, and with
    * how many days' delay?"), the network twin of [[autocorr]]'s
    * self-persistence. Pearson r over calendar-matched (station-day,
    * reference-day−k) pairs; same pooled-exact-mean and 1e-8 integer
    * product-sum conventions as [[autocorr]] (all three sufficient
    * statistics — num, station dev², ref dev² — accumulate over the
    * MATCHED pairs, merge-order-free; one sqrt of a product of exact
    * longs at the end, correctly rounded in both engines). Guarded:
    * ≥5 pairs and nonzero variances, else null.
    *
    * Shape at scale: the reference series is O(days) — it aggregates
    * out the station dimension — so the lag expansion (×4) stays
    * O(days) and joins BROADCAST against the O(stations·days) daily
    * table: station rows never reshuffle for the match, and output is
    * O(stations·lags). The daily table is pinned: the network agg,
    * the per-station means and the match all read it. */
  def crossCorrRef(spark: SparkSession, dir: String): DataFrame =
    crossCorrRefOf(Tables.events(spark, dir))

  /** [[crossCorrRef]] over an arbitrary (user_id, ts, value) frame —
    * seam for the identical-station and zero-variance specs. */
  private[graft] def crossCorrRefOf(ev: DataFrame): DataFrame = {
    val daily = dailyCents(ev)
      .agg(sum(col("yc")).as("sc"), count(lit(1)).as("cnt"))
      .localCheckpoint()
    val refAll = daily.agg(sum(col("sc")).as("tsc"), sum(col("cnt")).as("tcnt"))
    val ref = daily.groupBy(col("x"))
      .agg(sum(col("sc")).as("rsc"), sum(col("cnt")).as("rcnt"))
      .crossJoin(broadcast(refAll))
      .select(col("x").as("rx"),
        (centMean(col("rsc"), col("rcnt")) - centMean(col("tsc"), col("tcnt")))
          .as("rdev"))
      .withColumn("lag", explode(array(XcorrLags.map(lit): _*)))
      .select((col("rx") + col("lag")).as("xs"), col("lag"), col("rdev"))
    stationDevs(daily)
      .join(broadcast(ref), col("x") === col("xs"))
      .groupBy(col("user_id"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(units(col("dev") * col("rdev"), 8))
          .as("num_u"),
        sum(units(col("dev") * col("dev"), 8))
          .as("dx_u"),
        sum(units(col("rdev") * col("rdev"), 8))
          .as("dy_u"))
      .select(col("user_id"), col("lag").cast("long").as("lag"),
        col("n_pairs"),
        when(col("n_pairs") >= 5 && col("dx_u") > 0 && col("dy_u") > 0,
          quantize(col("num_u").cast("double")
            / sqrt(col("dx_u").cast("double") * col("dy_u").cast("double")), 4)).as("r"))
  }

  private[graft] val HoltHorizons = Seq(1, 2, 3)

  /** HOLT double-exponential smoothing + h-step FORECAST per station
    * — the level+trend forecaster behind short-range projection
    * products ([[ewma]] is the level-only sibling; the reference's
    * forecast lane extrapolates a smoothed level with a trend term):
    * l_t = α·y_t + (1−α)(l_{t−1}+b_{t−1}),
    * b_t = β(l_t−l_{t−1}) + (1−β)·b_{t−1}, ŷ_{n+h} = l_n + h·b_n.
    *
    * The exact recurrence is sequential by nature — no distributed
    * window evaluates it — so each station's DAILY series (already
    * collapsed from facts by the (station, day) partial agg) folds
    * in-row: sort_array(collect_list) + `aggregate` with an O(1)
    * (l, b) accumulator. The collected array is bounded by the
    * station's series length in DAYS, not events (resample-first for
    * century-scale series — the [[theilSen]] caveat).
    *
    * Engine invariance: α/β are binary-exact; the fold recomputes
    * l_t inside b_t with the IDENTICAL expression here and in the
    * oracle's recursive CTE (association pinned); the anchor is
    * (l₂, b₂) = (y₂, y₂−y₁) VERBATIM in both engines — the
    * "equivalent" y₁+(y₂−y₁) form can differ by an ulp — and outputs
    * quantize once at 1e-4. */
  def holtForecast(spark: SparkSession, dir: String): DataFrame =
    holtForecastOf(Tables.events(spark, dir))

  /** [[holtForecast]] over an arbitrary (user_id, ts, value) frame —
    * seam for the exact linear-series spec. */
  private[graft] def holtForecastOf(ev: DataFrame): DataFrame = {
    val daily = dailyCents(ev)
      .agg(centMean(sum(col("yc")), count(lit(1))).as("y"))
    daily.groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("x"), col("y")))).as("pts"))
      .filter(size(col("pts")) >= 2)
      // α = 0.5, β = 0.25: BINARY-EXACT doubles, so every multiply in
      // the recursion is exact IEEE scaling and the fold's bits are
      // engine-independent
      .withColumn("st", expr(
        """aggregate(
          |  slice(pts, 3, size(pts) - 2),
          |  struct(pts[1].y AS l, pts[1].y - pts[0].y AS b),
          |  (acc, e) -> struct(
          |    0.5D * e.y + 0.5D * (acc.l + acc.b) AS l,
          |    0.25D * ((0.5D * e.y + 0.5D * (acc.l + acc.b)) - acc.l)
          |      + 0.75D * acc.b AS b))""".stripMargin))
      .select(col("user_id"), size(col("pts")).cast("long").as("n_days"),
        explode(array(HoltHorizons.map(lit): _*)).as("hi"),
        col("st.l").as("l"), col("st.b").as("b"))
      .select(col("user_id"), col("n_days"), col("hi").cast("long").as("h"),
        quantize(col("l"), 4).as("level"),
        quantize(col("b"), 4).as("trend"),
        quantize(col("l") + col("hi") * col("b"), 4)
          .as("forecast"))
  }

  /** Additive SEASONAL DECOMPOSITION of each station's daily series —
    * value = trend + seasonal + residual, the classical split behind
    * the reference's anomaly-vs-normals derivations
    * (`utils_spi.py`-style climatology; [[climatologyAnomaly]] is the
    * lookup-only variant — this one also extracts the smooth trend so
    * the seasonal figure is not contaminated by drift).
    *
    *  - trend: centred ±3-day moving mean on a calendar RANGE frame
    *    (`rangeBetween` on epoch-day), so a gapped series windows by
    *    TIME — missing days shrink the window instead of a rows-frame
    *    silently reaching past the gap ([[rollingSumRange]]'s trap,
    *    spec-shown here too).
    *  - seasonal: day-of-week mean of the detrended series.
    *  - residual: what neither explains (exact by construction:
    *    value·10⁴ = trend_u + sea_u + res_u in integer units).
    *
    * Exactness: daily sums are integer cents; each mean is floor-
    * quantized from an exact long sum by one IEEE double division
    * (bit-identical across engines on identical inputs); detrended
    * and residual values stay in integer 1e-4 units until the final
    * divide, so no intermediate re-round can drift.
    *
    * Shape at scale: one (station, day) partial-agg shuffle collapses
    * the facts; trend is one range-frame window on the station sort;
    * the day-of-week means are a SECOND window on (station, dow) — an
    * aggregate-sized reshuffle, chosen over a groupBy+join-back so
    * there is no broadcast whose size grows with the station count.
    * Nothing after the first shuffle touches raw events. */
  def seasonalDecompose(spark: SparkSession, dir: String): DataFrame =
    seasonalDecomposeOf(Tables.events(spark, dir))

  /** [[seasonalDecompose]] over an arbitrary (user_id, ts, value)
    * frame — seam for the constant-series and gapped-trend specs. */
  private[graft] def seasonalDecomposeOf(ev: DataFrame): DataFrame = {
    val wRange = Window.partitionBy(col("user_id")).orderBy(col("x"))
      .rangeBetween(-3, 3)
    val wDow = Window.partitionBy(col("user_id"), col("dow"))
    dailyCents(ev)
      .agg(sum(col("yc")).as("cents"))
      .withColumn("trend_u",
        floor(sum(col("cents")).over(wRange).cast("double") * 100.0
          / count(lit(1)).over(wRange) + 0.5).cast("long"))
      .withColumn("det_u", col("cents") * 100 - col("trend_u"))
      .withColumn("dow", col("x") % 7)
      .withColumn("sea_u",
        floor(sum(col("det_u")).over(wDow).cast("double")
          / count(lit(1)).over(wDow) + 0.5).cast("long"))
      .select(col("user_id"),
        date_format(date_add(to_date(lit("2024-01-01")),
          col("x").cast("int")), "yyyy-MM-dd").as("day"),
        (col("cents").cast("double") / 100.0).as("value"),
        (col("trend_u").cast("double") / 1e4).as("trend"),
        (col("sea_u").cast("double") / 1e4).as("seasonal"),
        ((col("det_u") - col("sea_u")).cast("double") / 1e4).as("residual"))
  }

  /** BENFORD first-digit screen per station — the forensic
    * data-quality check (Nigrini's fraud test, applied to gauge
    * feeds: fabricated, clipped or unit-mangled readings break the
    * log-uniform first-digit law long before they break range
    * checks): the observed first-significant-digit distribution of
    * the positive readings vs Benford's p_d = log10(1+1/d), scored
    * with the χ²(8) statistic and flagged at the 1% critical value
    * 20.09.
    *
    * Determinism: the first digit comes from the CENT value's
    * decimal STRING (exact on any engine — a floor(log10) extraction
    * can disagree at power-of-ten boundaries between libms), digit
    * counts are 9 conditional integer sums in one map-side-partial
    * aggregation, and χ² folds the 9 terms in one FIXED expression
    * chain (never a row-order-dependent aggregate over digit rows);
    * p_d literals fold identically from log10 on both engines. One
    * shuffle, no window, no join. */
  def benfordScreen(spark: SparkSession, dir: String): DataFrame =
    benfordScreenOf(Tables.events(spark, dir))

  /** [[benfordScreen]] over an arbitrary (user_id, ts, value) frame —
    * seam for the planted-distribution spec. */
  private[graft] def benfordScreenOf(ev: DataFrame): DataFrame = {
    val digitCounts = (1 to 9).map(d =>
      sum(when(col("d1") === d.toString, 1L).otherwise(0L)).as(s"n$d"))
    val counted = ev
      .withColumn("cents", cents(col("value")))
      .filter(col("cents") > 0)
      .withColumn("d1", substring(col("cents").cast("string"), 1, 1))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_obs"), digitCounts: _*)
      .filter(col("n_obs") >= 50)
    val chi2 = (1 to 9).map { d =>
      val e = col("n_obs") * math.log10(1.0 + 1.0 / d)
      (col(s"n$d") - e) * (col(s"n$d") - e) / e
    }.reduce(_ + _)
    counted.select(
      Seq(col("user_id"), col("n_obs")) ++
        (1 to 9).map(d => col(s"n$d")) ++ Seq(
        quantize(chi2, 4).as("chi2"),
        (chi2 > 20.09).as("flagged")): _*)
  }

  /** Per-station BURST flag — "does this key's traffic spike far
    * above its own norm": the behavioral-anomaly screen of event
    * hygiene (a gauge replaying its backlog, a scraper hammering an
    * API, a bot among users). A key is bursty when its single busiest
    * day carries more than 2× its mean active-day volume (with ≥3
    * active days so a short history can't self-flag).
    *
    * Shape at scale: two hash aggregations, both map-side-partial —
    * events → (user, day) counts (the shuffle moves O(keys × days)
    * partial rows, not events), then (user, day) → user. No window,
    * no join, no sort. The busiest day itself rides along as a
    * `min(struct(-cnt, day))` — lexicographic struct ordering gives
    * "highest count, then earliest day" deterministically, where a
    * bare argmax would tie-break arbitrarily. The flag compares
    * CROSS-MULTIPLIED integers (peak·n_days > 2·n_events), so
    * membership can never flip on a float ulp. */
  def burstFlag(spark: SparkSession, dir: String): DataFrame = {
    val perDay = byDay(Tables.events(spark, dir))
      .agg(count(lit(1)).as("cnt"))
    perDay.groupBy(col("user_id"))
      .agg(sum(col("cnt")).as("n_events"),
        count(lit(1)).as("n_active_days"),
        max(col("cnt")).as("peak_day_events"),
        min(struct((-col("cnt")).as("nc"), col("day").as("d")))
          .getField("d").as("peak_day"))
      .select(col("user_id"), col("n_events"), col("n_active_days"),
        col("peak_day_events"), col("peak_day"),
        (col("n_active_days") >= 3 &&
          col("peak_day_events") * col("n_active_days") > lit(2) * col("n_events"))
          .as("is_bursty"))
  }

  /** LTTB output size per station. */
  private[graft] val LttbPoints = 20

  /** LTTB DOWNSAMPLING (Steinarsson 2013) — the shape-preserving
    * visual reduction that pairs with [[m4Downsample]]: M4 is
    * error-free for pixel-exact line rendering at a fixed width;
    * LTTB picks the [[LttbPoints]] points that best preserve the
    * curve's SHAPE (largest-triangle selection against the next
    * bucket's average) and is what dashboards serve when the chart
    * width is dynamic. The selection recurrence is sequential —
    * each kept point feeds the next triangle — so it runs as the
    * codegen'd [[graft.expressions.LttbExpr]] kernel over the
    * per-station (day, total-cents) arrays: one compiled pass,
    * all-integer triangle argmax (exact; ties to the earlier day),
    * output positions exploded back to rows.
    *
    * Shape at scale: one (station, day) agg, one station rollup into
    * bounded arrays (resample-first — the series length is the day
    * count), kernel in the scan stage; series ≤ 20 days pass through
    * whole. Oracle: the same greedy walk as a recursive CTE with an
    * anti-join argmax per bucket. */
  def lttbDownsample(spark: SparkSession, dir: String): DataFrame =
    lttbDownsampleOf(Tables.events(spark, dir))

  private[graft] def lttbDownsampleOf(ev: DataFrame): DataFrame = {
    val daily = dailyCents(ev)
      .agg(sum(col("yc")).as("y"))
    val ser = daily.groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("x"), col("y")))).as("pts"))
      .select(col("user_id"),
        expr("transform(pts, p -> p.x)").as("xs"),
        expr("transform(pts, p -> p.y)").as("ys"))
    val sel = graft.expressions.VectorColumns.lttb(
      col("xs"), col("ys"), LttbPoints)
    ser.select(col("user_id"), col("xs"), col("ys"),
        posexplode(sel).as(Seq("pt_rank", "si")))
      .select(col("user_id"), col("pt_rank").cast("long").as("pt_rank"),
        element_at(col("xs"), col("si") + 1).as("x_day"),
        (element_at(col("ys"), col("si") + 1).cast("double") / 100.0)
          .as("value"))
  }

  /** M4 display DOWNSAMPLING — the error-free visualization reduction
    * (Jugel et al., VLDB 2014: per pixel-column time bucket, the
    * first/last/min/max points reproduce the exact line rendering at
    * any series length): what an items/serving API should return for
    * a dashboard instead of raw points (the reference serves station
    * series to the I-CISK dashboards through pygeoapi the same way).
    * Per (station, 6h bucket): the endpoints are lexicographic
    * struct min/max over (ts, event_id, value) — ONE aggregation
    * with map-side partials (struct aggregates plan as SortAggregate,
    * so each side sorts by the GROUP KEY only), and crucially only
    * O(groups) partial rows cross the shuffle. The rank-1-window
    * formulation this replaces (plan-audited) sorted every raw row
    * by full (ts, event_id) order twice AND shuffled the entire
    * event stream. Output O(stations × buckets) regardless of event
    * rate. */
  def m4Downsample(spark: SparkSession, dir: String): DataFrame = {
    val bucketUs = 6L * 3600 * 1000000
    val b = Tables.events(spark, dir)
      .withColumn("bucket", expr(s"unix_micros(ts) div $bucketUs"))
    b.groupBy(col("user_id"), col("bucket"))
      .agg(
        count(lit(1)).as("n"),
        round(min(struct(col("ts"), col("event_id"), col("value")))
          .getField("value"), 2).as("v_first"),
        round(max(struct(col("ts"), col("event_id"), col("value")))
          .getField("value"), 2).as("v_last"),
        round(min(col("value")), 2).as("v_min"),
        round(max(col("value")), 2).as("v_max"))
      .select(col("user_id"),
        date_format(timestamp_micros(col("bucket") * bucketUs),
          "yyyy-MM-dd HH:mm:ss").as("bucket_start"),
        col("n"), col("v_first"), col("v_last"), col("v_min"), col("v_max"))
  }

  /** Trailing MEDIAN filter — the robust despiking pass sensor QC
    * runs before any derived product (a single bad reading shifts a
    * trailing mean by Δ/n but leaves the median untouched). Exact
    * median over each row's trailing-15 window: one sliding-frame
    * collect + sort per row — O(w log w) on a SMALL fixed window,
    * shuffled once on the natural key. The even/odd midpoint
    * interpolation is written identically in the oracle (quantile_
    * cont(0.5) over the same frame interpolates the same midpoint),
    * and halving stays engine-safe because inputs are 2dp-quantized
    * so the mean of two is exactly representable on the 1e4 grid
    * after one floor. */
  def rollingMedian(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-14, Window.currentRow)
    val hist = array_sort(collect_list(col("value")).over(w))
    val n = size(hist)
    val med = when(n % 2 === 1, element_at(hist, ((n + 1) / 2).cast("int")))
      .otherwise((element_at(hist, (n / 2).cast("int"))
        + element_at(hist, (n / 2 + 1).cast("int"))) / 2.0)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        round(col("value"), 2).as("value"),
        quantize(med, 4).as("rolling_med"))
  }

  /** Per-station ROBUST outlier profile — the Hampel rule over the
    * whole record: flag |x − median| > 3·MAD (median absolute
    * deviation), the heavy-tail-safe alternative to the z-score
    * family ([[rollingAnomaly]]) — one wild sensor spike inflates a
    * standard deviation but not a median, so MAD keeps flagging
    * while z-scores go blind.
    *
    * Exactness: values are 2dp, so everything runs in integer
    * sub-cent units — m2 = 2·median(cents) and mad4 = 2·median(dev)
    * are exactly integral doubles (a median is a mid value or a
    * half-sum of two) cast losslessly to long, and the outlier
    * comparison 2·dev2 > 3·mad4 is pure integer arithmetic: no
    * float rounding anywhere near the oracle hash. The reported
    * median/MAD divide two exact integers once (m2/200, mad4/400).
    *
    * Shape at scale: one narrow (user_id, cents) scan; both medians
    * are frameless window aggregates on the SAME partitioning, so
    * they share one exchange, and the final per-station rollup
    * reuses that partitioning — one shuffle total. Exact medians
    * sort within a station's partition (bounded by a station's
    * record length); at extreme per-key cardinality the sketch twin
    * is the approx-quantile pattern of `zonal_spi_quantiles_approx`.
    */
  def outlierMad(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val scored = Tables.events(spark, dir)
      .select(col("user_id"),
        cents(col("value")).as("c"))
      .withColumn("m2",
        (percentile(col("c"), lit(0.5)).over(w) * 2).cast("long"))
      .withColumn("dev2", abs(col("c") * 2 - col("m2")))
      .withColumn("mad4",
        (percentile(col("dev2"), lit(0.5)).over(w) * 2).cast("long"))
    scored.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        (max(col("m2")) / lit(200.0)).as("median_value"),
        (max(col("mad4")) / lit(400.0)).as("mad_value"),
        sum(when(col("dev2") * 2 > col("mad4") * 3, 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** Calendar densify + LINEAR interpolation — the reference's other
    * gap-repair mode (`ds.interp(..., method="linear")` /
    * `interpolate_na` along time, vs [[gapFill]]'s forward fill):
    * each missing day is the linear blend of its nearest observed
    * neighbors, weighted by calendar distance; days outside the
    * observed range stay null (xarray's no-extrapolation default).
    *
    * Plan shape: the same global day grid × distinct keys as
    * [[gapFill]], then ONE shuffle on `user_id` shared by two window
    * passes over the same sort order — an ascending carry for the
    * last observed (value, day) at-or-before each slot and a
    * descending-frame carry for the first observed (value, day)
    * at-or-after — followed by an elementwise blend. Linear per key,
    * no self-join, no range join. Engine invariance: observed values
    * are pre-quantized (2dp), day distances are exact integers, and
    * IEEE division/multiply/add on identical inputs is bit-identical,
    * so one final floor-quantize agrees everywhere. */
  def interpLinear(spark: SparkSession, dir: String): DataFrame = {
    val wPast = Window.partitionBy(col("user_id")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("user_id")).orderBy(col("d"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    dailyGrid(spark, dir)
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPast))
      .withColumn("pd", last(when(col("v").isNotNull, col("d")),
        ignoreNulls = true).over(wPast))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("nd", first(when(col("v").isNotNull, col("d")),
        ignoreNulls = true).over(wNext))
      .select(col("user_id"),
        date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("v").as("value_obs"),
        when(col("v").isNotNull, col("v")).otherwise(
          quantize(col("pv") + (col("nv") - col("pv"))
            * (datediff(col("d"), col("pd")).cast("double")
              / datediff(col("nd"), col("pd")).cast("double")), 4)).as("value_interp"),
        col("v").isNull.as("interpolated"))
  }

  /** Calendar-key climatology fit — the reference's climate-normals
    * step (monthly/doy normals behind every anomaly product;
    * `utils_spi.py` fits its climatology on exactly this per-calendar-
    * key grouping). The key here is hour-of-day (the test span is one
    * month; the operator is calendar-key agnostic). Returns the
    * EXPORTABLE param table (one row per (station, calendar slot)):
    * mean/std/count, persistable as parquet and re-applied across
    * runs — the same param-table workflow as
    * [[Climate.quantileMapSplineParams]]. Params are floor-quantized
    * at fit time so every later application does identical arithmetic
    * from identical bits on any engine — and the sums BEHIND the
    * quantization are exact integer-cent sums (inputs are
    * 2-decimal), so no partial-agg merge order can move a mean or
    * stddev across its half-quantum (raw-double avg/stddev_samp
    * could). The stddev is the explicit (nΣc²−(Σc)²)/(n(n−1))
    * formula from those exact sums, identical textually in the
    * oracle, rather than each engine's own streaming-moment
    * implementation. */
  def climatologyFit(ev: DataFrame): DataFrame = {
    val nD = col("n_obs").cast("double")
    val num = greatest(
      nD * col("sc2").cast("double")
        - col("sc").cast("double") * col("sc").cast("double"), lit(0.0))
    ev.select(col("user_id"), hour(col("ts")).as("hod"),
        cents(col("value")).as("c"))
      .groupBy(col("user_id"), col("hod"))
      .agg(count(lit(1)).as("n_obs"),
        sum(col("c")).as("sc"), sum(col("c") * col("c")).as("sc2"))
      .select(col("user_id"), col("hod"), col("n_obs"),
        quantize(col("sc").cast("double") / col("n_obs") / 100.0, 6).as("mu"),
        when(col("n_obs") > 1,
          quantize(sqrt(num / (nD * (nD - 1.0))) / 100.0, 6))
          .as("sd"))
  }

  /** Climatology anomaly: every observation minus its key's calendar
    * normal, plus the standardized variant where the normal is
    * well-estimated (n ≥ 5, sd > 0). Fit → apply is an equi-join on
    * the composite (station, slot) key: the param table is
    * O(stations × 24) — comfortably AQE-broadcast at test scale, a
    * same-key shuffle join at 100 TB (never forced broadcast). */
  def climatologyAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.withColumn("hod", hour(col("ts")))
      .join(climatologyFit(ev), Seq("user_id", "hod"))
      .select(col("event_id"), col("user_id"), col("hod"),
        round(col("value"), 2).as("value"),
        quantize(col("value") - col("mu"), 4).as("anom"),
        when(col("n_obs") >= 5 && col("sd") > 0,
          quantize((col("value") - col("mu")) / col("sd"), 4))
          .as("anom_std"))
  }

  /** Shared scaffold of [[gapFill]] and [[interpLinear]]: per-(station,
    * day) totals crossed with the complete global day span, observed
    * values attached by a left join. The daily table is PINNED via
    * localCheckpoint — the global bounds agg, the distinct-station
    * side and the grid join all read it, and unpinned each reference
    * re-expands into its own FACT scan (plan-audited: 3 scans → 1);
    * the station list derives from the pinned table too, not a fourth
    * pass over raw events. The pinned table is O(stations·days) —
    * narrow and aggregate-sized next to the event stream. */
  private def dailyGrid(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("user_id"), date_trunc("DAY", col("ts")).as("d"))
      .agg(round(sum(col("value")), 2).as("v"))
      .localCheckpoint()
    val bounds = daily.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val days = bounds.select(explode(sequence(col("lo"), col("hi"),
      expr("interval 1 day"))).as("d"))
    daily.select(col("user_id")).distinct()
      .crossJoin(broadcast(days))
      .join(daily, Seq("user_id", "d"), "left")
  }

  /** Calendar densify + forward fill: per-user daily totals on a
    * complete global day grid, gaps filled with the last observed
    * value (0 before the first observation) — the reference re-grids
    * every ingested series this way before analytics. The day grid is
    * built once from a global min/max agg (2 values → broadcast) and
    * cross-joined with the distinct-key table; the fill itself is one
    * window pass per key. */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dailyGrid(spark, dir)
      .withColumn("filled",
        coalesce(last(col("v"), ignoreNulls = true).over(w), lit(0.0)))
      .select(col("user_id"),
        date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("filled").as("value_ffill"))
  }

  /** EFFECTIVE SAMPLE SIZE under lag-1 autocorrelation — the
    * climate-trend significance standard (a persistent series has
    * fewer independent observations than rows; every trend test on
    * [[autocorr]]-positive data needs Neff, not n): per station,
    * Neff = n·(1−r₁)/(1+r₁) on the lag-1 coefficient (clamped away
    * from ±1 so a near-unit-root series degrades to a tiny-but-finite
    * Neff instead of a division blow-up), the variance inflation
    * factor (its inverse ratio), and the DECORRELATION LAG — the
    * first lag whose acf drops below 1/e. Composition over the
    * [[autocorr]] table (oracle mirrors it); one bounded pivot to
    * O(stations) rows on the already-shuffled station key. */
  def effectiveN(spark: SparkSession, dir: String): DataFrame = {
    val invE = 1.0 / math.E
    val g = greatest(least(col("r1"), lit(0.9999)), lit(-0.9999))
    autocorr(spark, dir)
      .groupBy(col("user_id"))
      .agg(min(col("n_days")).as("n_days"),
        min(when(col("lag") === 1, col("acf"))).as("r1"),
        min(when(col("acf") < invE, col("lag"))).as("decorrelation_lag"))
      .select(col("user_id"), col("n_days"), col("r1"),
        when(col("r1").isNotNull,
          quantize(col("n_days") * (lit(1.0) - g) / (lit(1.0) + g), 4)).as("n_eff"),
        when(col("r1").isNotNull,
          quantize((lit(1.0) + g) / (lit(1.0) - g), 4)).as("vif"),
        col("decorrelation_lag"))
  }

  /** SPECTRAL ENTROPY over the [[periodogram]] power table — the
    * periodicity-strength governance signal: a station whose power
    * concentrates in one candidate period (entropy → 0) is strongly
    * seasonal; flat power (entropy → 1) means no candidate dominates.
    * Composition, not re-derivation — the entropy reads the SAME
    * power table the periodogram publishes (oracle mirrors the
    * composition).
    *
    * Exactness: the 4dp powers re-quantize to exact integer units,
    * the total is an integer sum, each −p·ln p term quantizes to
    * 1e-6 units BEFORE the cross-period sum (3-term float fold order
    * is still engine-chosen), and the dominant period breaks power
    * ties toward the SHORTER period on both sides. One window + one
    * agg on the station key — the exchange is reused. */
  def spectralEntropy(spark: SparkSession, dir: String): DataFrame = {
    val lnK = math.log(PgramPeriods.size.toDouble)
    val w = Window.partitionBy(col("user_id"))
    val u = periodogram(spark, dir)
      .select(col("user_id"), col("period"),
        units(col("power"), 4).as("pu"))
      .withColumn("tot_u", sum(col("pu")).over(w))
      .withColumn("max_u", max(col("pu")).over(w))
    val p = col("pu").cast("double") / col("tot_u")
    u.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_periods"),
        min(col("tot_u")).as("tot_u"), min(col("max_u")).as("max_u"),
        sum(when(col("pu") > 0 && col("tot_u") > 0,
          units(-p * log(p), 6)).otherwise(0L))
          .as("h_u"),
        min(when(col("pu") === col("max_u"), col("period")))
          .as("dominant_period"))
      .select(col("user_id"), col("n_periods"), col("dominant_period"),
        when(col("tot_u") > 0,
          quantize(col("max_u").cast("double") / col("tot_u"), 4))
          .as("dominant_share"),
        when(col("tot_u") > 0,
          quantize(col("h_u").cast("double") / 1e6 / lnK, 4))
          .as("spectral_entropy"))
  }

  /** Block sizes of the [[tsHurst]] rescaled-range ladder — dyadic,
    * literal in both engines; H is the log-log slope across them. */
  val HurstSizes: Seq[Int] = Seq(4, 8, 16)

  /** HURST EXPONENT by rescaled-range (R/S) analysis — the
    * long-memory statistic Hurst derived FROM Nile streamflow
    * (Hurst 1951; the canonical hydrology persistence measure:
    * H > ½ ⇒ wet years cluster, reservoir design changes): per
    * station, daily totals chunk into dyadic blocks of m ∈
    * [[HurstSizes]]; each complete block's range-of-cumulative-
    * deviations over its std reduces to the EXACT-integer identity
    *   R/S = (max−min)(m·cum_j − j·tot) / √(m·Σx² − tot²)
    * (both operands integer cents — the mean subtraction and the
    * std's division cancel, so the only floats are one sqrt and one
    * division per block, order-free); per-block R/S quantizes to
    * 1e-6 units BEFORE the cross-block mean. With the dyadic ladder
    * the least-squares log-log slope collapses to the closed form
    *   H = (ln⟨R/S⟩₁₆ − ln⟨R/S⟩₄) / (2·ln 2)
    * (x̄ = ln 8 and the midpoint drops out) — rendered identically
    * in the oracle.
    *
    * Shape at scale: everything after the daily reduction operates
    * on the O(stations × days × |sizes|) table; the block windows
    * partition by (station, m, block) — a refinement of the station
    * key — and the final pivot is one bounded agg to O(stations)
    * rows. Constant-series blocks (S = 0) are excluded; a station
    * missing either end of the ladder reports a null H. */
  def tsHurst(spark: SparkSession, dir: String): DataFrame = {
    val daily = byDay(Tables.events(spark, dir))
      .agg(sum(cents(col("value"))).as("c"))
    val wIdx = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val indexed = daily
      .select(col("user_id"), col("c"),
        row_number().over(wIdx).as("i"))
      .select(col("user_id"), col("c"), col("i"),
        explode(array(HurstSizes.map(lit): _*)).as("m"))
      .withColumn("blk", expr("(i - 1) div m"))
    val wBlk = Window.partitionBy(col("user_id"), col("m"), col("blk"))
      .orderBy(col("i"))
    val wAll = wBlk.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val scored = indexed
      .withColumn("jj", row_number().over(wBlk))
      .withColumn("cum", sum(col("c")).over(wBlk.rowsBetween(
        Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("tot", sum(col("c")).over(wAll))
      .withColumn("s2", sum(col("c") * col("c")).over(wAll))
      .withColumn("wm", col("n") * col("cum") - col("jj") * col("tot"))
      .withColumn("wmax", max(col("wm")).over(wAll))
      .withColumn("wmin", min(col("wm")).over(wAll))
      // one representative row per COMPLETE block with spread
      .filter(col("jj") === col("n") && col("n") === col("m") &&
        col("n") * col("s2") - col("tot") * col("tot") > 0)
      .withColumn("rs_u",
        units((col("wmax") - col("wmin")).cast("double")
          / sqrt((col("n") * col("s2") - col("tot") * col("tot"))
            .cast("double")), 6))
    val perSize = scored.groupBy(col("user_id"), col("m"))
      .agg(count(lit(1)).as("n_blocks"), sum(col("rs_u")).as("su"))
      .withColumn("mean_rs",
        col("su").cast("double") / col("n_blocks") / 1e6)
    val lo = HurstSizes.head
    val hi = HurstSizes.last
    perSize.groupBy(col("user_id"))
      .agg(
        min(when(col("m") === lo, col("mean_rs"))).as("rs_lo"),
        min(when(col("m") === HurstSizes(1), col("mean_rs"))).as("rs_mid"),
        min(when(col("m") === hi, col("mean_rs"))).as("rs_hi"))
      .select(col("user_id"),
        quantize(col("rs_lo"), 4).as("rs4"),
        quantize(col("rs_mid"), 4).as("rs8"),
        quantize(col("rs_hi"), 4).as("rs16"),
        when(col("rs_lo") > 0 && col("rs_hi") > 0,
          quantize((log(col("rs_hi")) - log(col("rs_lo")))
            / lit(2.0 * math.log(2.0)), 4))
          .as("hurst"))
  }
}
