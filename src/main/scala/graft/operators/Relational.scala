package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TimeSeries.{cents, quantize, units}

/** Relational backbone over the cataloged tables.
  *
  * The reference serves its ingested collections through pygeoapi
  * (filter/aggregate style access, e.g. rer_river_discharge_arpae
  * _process.py:316-323 `filter_data` by time range + station list).
  * These queries exercise the same scan→filter→join→aggregate
  * surface, Spark-first:
  *  - filters/projections are plain `Column` ops so they reach the
  *    parquet scan (PushedFilters / ReadSchema);
  *  - TRUE dimension tables (nation⋈region — O(100) rows at any
  *    scale) are `broadcast()`; anything that scales with the data
  *    (customer, supplier) is left unhinted so AQE picks broadcast
  *    only while it actually fits;
  *  - aggregates are `functions._` only (whole-stage codegen, map-side
  *    partial aggregation).
  *
  * All money/value aggregates accumulate EXACT integer units (cents,
  * basis points — the inputs are fixed-decimal) and divide back to
  * doubles once, identically in the DuckDB oracle: no summation-order
  * ulp can reach a rounded output on any engine or partitioning.
  */
object Relational {

  /** Exact integer money units for the TPC-H-style aggregates: the
    * inputs are 2-decimal (price/quantity) and 4-decimal
    * (discount/tax rates), so cents / basis points are exact longs
    * and every sum below is merge-order-free on any engine and any
    * partitioning — a raw double Σ carries summation-order ulps into
    * the rounded output, and a group mean can land exactly on a
    * half-quantum of the output grid (the §5 trap). */
  private def bps(c: Column): Column = floor(c * 10000 + 0.5).cast("long")

  /** 38-digit exact sums for money PRODUCTS (cents × basis points ≤
    * 1e15/row fits a long; the SUM at 100 TB does not — a long Σ
    * would wrap silently, a decimal Σ is exact to 1e38 and fails
    * LOUDLY under ANSI past that). */
  private def dec38(c: Column): Column =
    c.cast(org.apache.spark.sql.types.DecimalType(38, 0))

  /** TPC-H Q1-style pricing summary: one wide scan, group on two
    * low-cardinality keys. At 100 TB this is the map-side-combine
    * showcase: partial aggs reduce ~billions of rows to ~6 groups
    * before the (tiny) shuffle. All sufficient statistics are exact
    * integer sums ([[cents]]/[[bps]]); one division each at the end. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val disc = lit(10000L) - bps(col("l_discount"))   // (1-d) in 1e-4 units
    val tax  = lit(10000L) + bps(col("l_tax"))        // (1+t) in 1e-4 units
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(floor(col("l_quantity") + 0.5).cast("long")).as("sq"),
        sum(cents(col("l_extendedprice"))).as("sep"),
        sum(dec38(cents(col("l_extendedprice")) * disc)).as("sdp"),
        sum(dec38(cents(col("l_extendedprice")) * disc * tax)).as("sch"),
        sum(bps(col("l_discount"))).as("sd"),
        count(lit(1)).as("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("sq").cast("double").as("sum_qty"),
        (col("sep").cast("double") / 100.0).as("sum_base_price"),
        round(col("sdp").cast("double") / 1e6, 2).as("sum_disc_price"),
        round(col("sch").cast("double") / 1e10, 2).as("sum_charge"),
        (floor(col("sq").cast("double") * 1e4 / col("count_order") + 0.5) / 1e4)
          .as("avg_qty"),
        (floor(col("sep").cast("double") * 100.0 / col("count_order") + 0.5) / 1e4)
          .as("avg_price"),
        (floor(col("sd").cast("double") / col("count_order") + 0.5) / 1e4)
          .as("avg_disc"),
        col("count_order"))
  }

  /** TPC-H Q6 shape — the canonical PREDICATE-PUSHDOWN probe: one
    * scan, three range predicates, one exact sum, a 1-row answer.
    * The plan is the point: every predicate must land in the parquet
    * scan's PushedFilters (spec-asserted), so row groups outside the
    * year/discount/quantity box never decompress — at 100 TB this is
    * the difference between scanning a year and scanning the lake.
    * Revenue sums exact cents×bps products into DECIMAL(38), divided
    * once at the end; the discount band compares the STORED double
    * against the same literals on both engines (kept raw so the
    * predicate stays scan-pushable — wrapping it in a bps() rewrite
    * would hide it from the parquet reader). */
  def revenueChange(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.04 && col("l_discount") <= 0.06 &&
        col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_lines"),
        sum(dec38(cents(col("l_extendedprice")) * bps(col("l_discount"))))
          .as("rev"))
      .select(col("n_lines"),
        round(col("rev").cast("double") / 1e6, 2).as("revenue"))

  /** TPC-H Q19 shape — disjunctive join predicates: revenue from
    * three (brand × size-band × quantity-band) part/lineitem
    * configurations OR'd together. The optimizer test is that the
    * per-side halves of the disjunction push to their scans (brand ∨
    * brand ∨ brand onto part, the quantity envelope onto lineitem)
    * BEFORE the join, and the part dim broadcasts — the residual OR
    * evaluates only on joined survivors. Exact cents×bps sum as
    * everywhere. */
  def discountedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      // envelope of the three quantity bands — pushable conjunct
      .filter(col("l_quantity") >= 1 && col("l_quantity") <= 30)
    val pt = Tables.part(spark, dir)
      .filter(col("p_brand").isin("Brand#12", "Brand#14", "Brand#21"))
      .filter(col("p_size") >= 1 && col("p_size") <= 15)
    def branch(brand: String, sizeHi: Int, qLo: Int, qHi: Int): Column =
      col("p_brand") === brand && col("p_size") <= sizeHi &&
        col("l_quantity") >= qLo && col("l_quantity") <= qHi
    li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .filter(branch("Brand#12", 5, 1, 11) ||
        branch("Brand#14", 10, 10, 20) ||
        branch("Brand#21", 15, 20, 30))
      .agg(count(lit(1)).as("n_lines"),
        sum(dec38(cents(col("l_extendedprice"))
          * (lit(10000L) - bps(col("l_discount"))))).as("rev"))
      .select(col("n_lines"),
        round(col("rev").cast("double") / 1e6, 2).as("revenue"))
  }

  /** TPC-H Q14-style PROMO revenue share per ship month: what
    * fraction of each month's discounted revenue came from PROMO
    * parts. Numerator and denominator are ONE conditional
    * aggregation over the joined slice (not two filtered scans +
    * a join of aggregates); `part` is the broadcast dim; revenue is
    * the exact cents×bps decimal product ([[discountedRevenue]]'s
    * envelope), so the share divides two exact decimals once. */
  def promoRevenueShare(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val pt = Tables.part(spark, dir).select(col("p_partkey"), col("p_type"))
    val disc = dec38(cents(col("l_extendedprice"))
      * (lit(10000L) - bps(col("l_discount"))))
    li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(date_trunc("MONTH", col("l_shipdate")), "yyyy-MM")
        .as("month"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("p_type") === "PROMO", disc).otherwise(lit(0L)))
          .as("promo_u"),
        sum(disc).as("total_u"))
      .select(col("month"), col("n_lines"),
        round(col("promo_u").cast("double") / 1e6, 2).as("promo_revenue"),
        round(col("total_u").cast("double") / 1e6, 2).as("revenue"),
        when(col("total_u") > 0,
          quantize(col("promo_u").cast("double") / col("total_u").cast("double")
            * 100.0, 4)).as("promo_share_pct"))
  }

  /** Equi-width VALUE HISTOGRAM per event type — the profiling
    * primitive behind every ingest-QC dashboard (shape drift, new
    * modes, truncated sensors all show up here first): ten buckets
    * over each type's own [min, max] envelope, all boundary math in
    * exact integer cents — `bucket = ⌊(c−cmin)·10 / span⌋` capped at
    * 9, bucket bounds derived by the same integer floor — so a value
    * on a boundary lands identically in any engine (float-width
    * buckets are the classic cross-engine histogram bug). One window
    * min/max on the type key and one (type, bucket) aggregation on
    * the same exchange. */
  def eventsValueHistogram(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
    val c = Tables.events(spark, dir)
      .select(col("event_type"), cents(col("value")).as("c"))
      .withColumn("cmin", min(col("c")).over(w))
      .withColumn("cmax", max(col("c")).over(w))
      .withColumn("span", greatest(col("cmax") - col("cmin"), lit(1L)))
      .withColumn("bucket",
        least(lit(9L), expr("(c - cmin) * 10 div span")))
    c.groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        ((min(col("cmin")) + expr("min(span) * min(bucket) div 10"))
          .cast("double") / 100.0).as("lo"),
        ((min(col("cmin")) + expr("min(span) * (min(bucket) + 1) div 10"))
          .cast("double") / 100.0).as("hi"))
  }

  /** Supplier revenue CONCENTRATION per nation — the
    * Herfindahl–Hirschman index over each nation's supplier revenue
    * shares (the market-structure lens on the supply base; HHI → 1
    * means one supplier carries the nation). Revenue is the exact
    * cents×bps decimal; shares and their squares are computed from
    * exact per-supplier sums — the squared-share sum quantizes each
    * share to 1e-6 units first so the cross-supplier fold order
    * never reaches the reported figure. Two aggregations (supplier,
    * then nation — the second runs over O(suppliers) rows) and one
    * broadcast dim join. */
  def supplierConcentration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sup = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    val nat = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"))
    val bySupp = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"),
        dec38(cents(col("l_extendedprice"))
          * (lit(10000L) - bps(col("l_discount")))).as("rev_u"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("rev_u")).as("rev_u"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
    val w = Window.partitionBy(col("n_name"))
    val shares = bySupp
      .withColumn("tot_u", sum(col("rev_u")).over(w))
      .withColumn("share_u",
        units(col("rev_u").cast("double") / col("tot_u").cast("double"), 6))
    shares.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        round(min(col("tot_u")).cast("double") / 1e6, 2).as("revenue"),
        (max(col("share_u")).cast("double") / 1e6).as("top_share"),
        (floor(sum(col("share_u") * col("share_u")).cast("double") / 1e8
          + 0.5) / 1e4).as("hhi"))
  }

  /** Order-to-ship LAG distribution per order priority — the
    * fulfilment-SLA report (Q12's commit-date discipline re-expressed
    * for this schema's columns): integer lag days per line item,
    * then per priority the exact mean and rank-interpolated
    * p50/p90/p99. Lags are integers, so the mean is one division
    * over exact sums and the percentile ordinates are exact; the
    * percentiles ride ONE window sort per priority (bounded
    * partition count) with conditional-aggregate rank picks — no
    * per-group collect. orders→lineitem is the natural fact join on
    * the shuffle key; neither side is broadcast (both fact-sized). */
  def orderShipLag(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qs = Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99))
    val lags = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("lag_days"))
    // Exact percentiles from a (priority, lag_days) HISTOGRAM (r17):
    // lag_days is a small-range integer, so the rank-lo/hi selection
    // is a cumulative-count walk over O(priorities × distinct lags)
    // rows. The former row_number window sorted EVERY line item
    // inside 5 priority partitions — a 5-task corpus sort at any
    // scale (the §2.5 skew shape: partition count fixed by key
    // cardinality, not data). The histogram collapses map-side (§2.3
    // "aggregate before you shuffle"); rank r's value is the
    // histogram row whose cumulative range [cum−cnt+1, cum] covers r
    // — bit-identical selection to row_number (ties share one value),
    // same interpolation arithmetic, oracle-pinned.
    val hist = lags.groupBy(col("priority"), col("lag_days"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("priority")).orderBy(col("lag_days"))
    val ranked = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n",
        sum(col("cnt")).over(Window.partitionBy(col("priority"))))
    val pctAggs = qs.flatMap { case (nm, q) =>
      val r = (col("n") - 1) * lit(q)
      val lo = floor(r) + 1
      val hi = least(lo + 1, col("n"))
      Seq(min(when(col("cum") >= lo && col("cum") - col("cnt") < lo,
          col("lag_days"))).as(s"${nm}_lo"),
        min(when(col("cum") >= hi && col("cum") - col("cnt") < hi,
          col("lag_days"))).as(s"${nm}_hi"),
        min(r - floor(r)).as(s"${nm}_f"))
    }
    val pctOut = qs.map { case (nm, _) =>
      quantize(col(s"${nm}_lo") + col(s"${nm}_f")
        * (col(s"${nm}_hi") - col(s"${nm}_lo")), 4).as(nm)
    }
    ranked.groupBy(col("priority"))
      .agg(sum(col("cnt")).as("n_lines"),
        (sum(col("lag_days").cast("long") * col("cnt")).as("sl") +: pctAggs): _*)
      .select(Seq(col("priority"), col("n_lines"),
        quantize(col("sl").cast("double") / col("n_lines"), 4)
          .as("mean_lag")) ++ pctOut: _*)
  }

  /** TPC-H Q3-style: selective filter, two fact joins, agg +
    * deterministic top-k. Customer filter prunes before the join but
    * the join stays UNHINTED — customer scales linearly with the data
    * (fact-sized at 100 TB), so a forced broadcast would OOM there;
    * AQE broadcasts it at small scale where it fits. orders→lineitem
    * join keys are the natural shuffle partitioning. */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-01-01").cast("timestamp")
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > cutoff)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(dec38(cents(col("l_extendedprice"))
        * (lit(10000L) - bps(col("l_discount"))))).cast("double") / 1e6, 2)
        .as("revenue"))
      .select(col("l_orderkey"), col("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q10-style RETURNED-ITEMS revenue report: which customers
    * returned the most value in a quarter — the standard churn/credit
    * triage query over the ingested commerce backbone. One quarter of
    * orders joins its returned (l_returnflag = 'R') lineitems and the
    * customer + nation dims; top 20 by lost revenue.
    *
    * Scale discipline (the [[localSupplierVolume]] rules): nation is
    * a TRUE dim (O(100) rows) — broadcast; customer/orders/lineitem
    * are fact-sized — unhinted shuffle joins on their natural keys,
    * AQE demotes to broadcast only where they fit. The quarter filter
    * prunes orders AT THE SCAN (pushed predicate), the returnflag
    * filter prunes lineitem the same way, and the final top-20 plans
    * as TakeOrderedAndProject (bounded, never a full sort). Revenue
    * sums exact cents×bps products in DECIMAL(38) ([[pricingSummary]]
    * overflow envelope), rounded once. */
  def returnedItemsRevenue(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("1997-01-01").cast("timestamp")
    val hi = lit("1997-04-01").cast("timestamp")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val cust = Tables.customer(spark, dir)
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val nat = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("n_name"))
      .agg(round(sum(dec38(cents(col("l_extendedprice"))
        * (lit(10000L) - bps(col("l_discount"))))).cast("double") / 1e6, 2)
        .as("revenue"))
      .select(col("c_custkey"), col("c_name"),
        round(col("c_acctbal"), 2).as("c_acctbal"), col("n_name"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** TPC-H Q5-style multi-way join. Scale discipline: only the TRUE
    * dims (nation⋈region — O(100) rows at any scale) are broadcast.
    * Customer and supplier scale linearly with the data (fact-sized
    * at 100 TB), so their joins are left unhinted: they shuffle-join
    * on their keys, and AQE is free to demote them to broadcast at
    * small scale where they actually fit. */
  def localSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val asiaNations = Tables.nation(spark, dir)
      .join(Tables.region(spark, dir).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_nationkey"), col("n_name"))
    val supp = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")

    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(supp,
        li("l_suppkey") === supp("s_suppkey") &&
          col("n_nationkey") === supp("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(dec38(cents(col("l_extendedprice"))
        * (lit(10000L) - bps(col("l_discount"))))).cast("double") / 1e6, 2)
        .as("revenue"))
  }

  /** Top-k rows per group — the reference's "latest/extreme N per
    * station" access pattern. `c_mktsegment` has cardinality 5, so a
    * ranking window would funnel the whole orders table into 5
    * sorting tasks. The bounded [[graft.expressions.TopKAgg]]
    * aggregate instead keeps an O(k) heap per group with MAP-SIDE
    * partial aggregation: each input partition reduces to one
    * 5-entry state before the shuffle, the final merge sees
    * O(partitions × k) rows. Survives any scale-up.
    *
    * The customer join stays unhinted: customer is fact-sized at
    * 100 TB (shuffle join), while AQE broadcasts it at small SF. */
  def topOrdersPerSegment(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_mktsegment")
    val ord  = Tables.orders(spark, dir).select("o_orderkey", "o_custkey", "o_totalprice")
    ord.join(cust, ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(graft.expressions.TopKAgg.topk(
        col("o_totalprice"), col("o_orderkey"), col("o_totalprice"), 5).as("top"))
      .select(col("c_mktsegment"), posexplode(col("top")))
      .select(col("c_mktsegment"), (col("pos") + 1).cast("int").as("rk"),
        col("col.id").as("o_orderkey"),
        round(col("col.payload"), 2).as("totalprice"))
  }

  /** JSON payload extraction + aggregation — the ARPAE REST ingestor
    * parses JSON observation payloads into columns
    * (rer_river_discharge_arpae_process.py:213-238). `get_json_object`
    * is codegen'd; at scale this runs in the scan stage. */
  def eventsJsonExtract(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sk"),
        max(col("k")).as("max_k"))
      .select(col("event_type"), col("n"),
        // exact integer Σk, one division — see cents/bps note above
        (floor(col("sk").cast("double") * 1e4 / col("n") + 0.5) / 1e4).as("avg_k"),
        col("max_k"))
  }

  /** Exact daily active-station cardinality per collection — the
    * completeness side of the healthcheck (how many distinct sources
    * reported). Exact distinct is Spark's two-phase expand: partial
    * dedup on (group, user) then count — state grows with the
    * distinct count per group, which is fine while stations are
    * bounded. [[distinctUsersDailyApprox]] is the sketch twin whose
    * state stays O(1) per group when the distinct side explodes. */
  def distinctUsersDaily(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"),
        TimeSeries.dayLabel)
      .agg(count_distinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))

  /** The HyperLogLog++ twin of [[distinctUsersDaily]]: cardinality
    * by SKETCH — each group's state is a fixed-size register array
    * regardless of how many distinct keys it sees, merged
    * associatively map-side like any partial aggregate. This is the
    * 100 TB default for cardinality dashboards (exact distinct's
    * expand would shuffle every (group, user) pair); rsd 2%. The
    * spec bounds the observed error against the exact twin. */
  def distinctUsersDailyApprox(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"),
        TimeSeries.dayLabel)
      .agg(approx_count_distinct(col("user_id"), 0.02).as("n_users_approx"),
        count(lit(1)).as("n_events"))

  /** Orders with at least one returned line, counted by priority —
    * the EXISTS/semi-join pattern (TPC-H Q4's shape). A LEFT SEMI
    * join never materializes the match product: each order row passes
    * at most once no matter how many returned lines it has, so the
    * join output is bounded by the orders side — the right plan for
    * any "has at least one …" predicate at scale (an inner join +
    * distinct would shuffle every matching line first). */
  def orderPriorityReturns(spark: SparkSession, dir: String): DataFrame = {
    val returned = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("o_orderkey"))
    Tables.orders(spark, dir)
      .join(returned, Seq("o_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
  }

  /** DAU/MAU STICKINESS — the engagement ratio product dashboards
    * lead with: per day, distinct active users that day over
    * distinct active users in the TRAILING 30-day window (computed
    * on the calendar day axis, not a month bucket — the honest
    * rolling form). The trailing-window distinct is an exact
    * (user, day-window) expand; at 100 TB the HLL sketch twin
    * ([[distinctUsersDailyApprox]]'s treatment) swaps in per window.
    * The expand is bounded here by users × 30 — each (user, day)
    * pair fans to at most 30 window rows, linear with a constant
    * factor, shuffled on the high-cardinality day key. */
  def dauMauStickiness(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        to_date(date_trunc("DAY", col("ts"))).as("d"))
      .distinct()
    val dau = ev.groupBy(col("d").as("day"))
      .agg(count_distinct(col("user_id")).as("dau"))
    // fan each active (user, day) to the 30 future window-anchor days
    // it contributes to, then count distinct per anchor present in dau
    val mau = ev
      .select(col("user_id"),
        explode(sequence(col("d"), date_add(col("d"), 29))).as("day"))
      .groupBy(col("day"))
      .agg(count_distinct(col("user_id")).as("mau"))
    dau.join(mau, Seq("day"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("mau"),
        round(col("dau") / col("mau").cast("double"), 4).as("stickiness"))
  }

  /** TPC-H Q7-style VOLUME SHIPPING between two trading nations, by
    * ship year and direction — the bilateral-flow report. nation is
    * a TRUE dim (broadcast); supplier and customer pre-filter to the
    * TWO nations of interest before their joins, so what reaches the
    * fact join is a sliver AQE happily broadcasts — the pair
    * predicate (either direction) then runs post-join where both
    * sides exist. Revenue sums exact cents×bps in DECIMAL(38),
    * rounded once. */
  def volumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val nations = Seq("NATION_1", "NATION_2")
    val nat = broadcast(Tables.nation(spark, dir)
      .filter(col("n_name").isin(nations: _*))
      .select("n_nationkey", "n_name"))
    val supp = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
      .join(nat, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
        "l_shipdate")
    li.join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(round(sum(dec38(cents(col("l_extendedprice"))
        * (lit(10000L) - bps(col("l_discount"))))).cast("double") / 1e6, 2)
        .as("revenue"))
  }

  /** TPC-H Q8-style MARKET SHARE: of all PROMO-type parts sold to
    * customers in the EUROPE region, what fraction of the revenue
    * (by order year) came from NATION_3 suppliers — the
    * national-competitiveness rollup. part pre-filters to the type
    * and carries only its key; region→nation resolves the customer
    * market (broadcast dims); the share is a ratio of two exact
    * DECIMAL(38) sums divided ONCE as doubles — engine-order-free. */
  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    val nat = broadcast(Tables.nation(spark, dir))
    val reg = broadcast(Tables.region(spark, dir)
      .filter(col("r_name") === "EUROPE").select("r_regionkey"))
    val part = Tables.part(spark, dir)
      .filter(col("p_type") === "PROMO").select("p_partkey")
    val custEu = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
      .join(nat.select("n_nationkey", "n_regionkey"),
        col("c_nationkey") === col("n_nationkey"))
      .join(reg, col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey")
    val supp = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
      .join(nat.select(col("n_nationkey"), col("n_name").as("supp_nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "supp_nation")
    val ord = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice",
        "l_discount")
    val vol = dec38(cents(col("l_extendedprice"))
      * (lit(10000L) - bps(col("l_discount"))))
    li.join(part, col("l_partkey") === col("p_partkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(custEu, col("o_custkey") === col("c_custkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        round(sum(when(col("supp_nation") === "NATION_3", vol)
          .otherwise(lit(0).cast("decimal(38,0)"))).cast("double")
          / sum(vol).cast("double"), 4).as("mkt_share"),
        round(sum(vol).cast("double") / 1e6, 2).as("volume"))
  }
}
