package graft

import org.apache.spark.sql.functions._

class RelationalSpec extends SparkSpec {

  test("q1_pricing_summary: six groups, positive sums, counts add up") {
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sf).cache()
    val rows = df.collect()
    assert(rows.length === 6)
    val totalCount = rows.map(_.getAs[Long]("count_order")).sum
    val expected = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp")).count()
    assert(totalCount === expected)
    assert(rows.forall(_.getAs[Double]("sum_qty") > 0))
    df.unpersist()
  }

  test("q3_shipping_priority: at most 10 rows, descending revenue") {
    val rows = SparkEntry.queries("q3_shipping_priority")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
  }

  test("q5_local_supplier: nations are within ASIA") {
    val rows = SparkEntry.queries("q5_local_supplier")(spark, sf).collect()
    assert(rows.nonEmpty)
    val asiaNations = Tables.nation(spark, sf)
      .join(Tables.region(spark, sf).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_name").collect().map(_.getString(0)).toSet
    assert(rows.map(_.getAs[String]("n_name")).toSet.subsetOf(asiaNations))
  }

  test("q10_returned_items: exact brute-force recompute, top-20 deterministic") {
    val inWindow = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byCust = Tables.lineitem(spark, sf)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount").collect()
      .flatMap { r =>
        inWindow.get(r.getLong(0)).map { cust =>
          val cents = math.floor(r.getDouble(1) * 100 + 0.5).toLong
          val bps = math.floor(r.getDouble(2) * 10000 + 0.5).toLong
          cust -> BigInt(cents) * BigInt(10000 - bps)
        }
      }
      .groupBy(_._1).view
      .mapValues(v => math.rint(v.map(_._2).sum.toDouble / 1e6 * 100) / 100)
      .toMap
    val expectTop = byCust.toSeq.sortBy { case (k, v) => (-v, k) }.take(20)
    val got = SparkEntry.queries("q10_returned_items")(spark, sf).collect()
    assert(got.length === expectTop.length)
    got.zip(expectTop).foreach { case (r, (cust, rev)) =>
      assert(r.getLong(0) === cust, "top-20 order and membership")
      assert(math.abs(r.getAs[Double]("revenue") - rev) < 1e-9, s"rev $cust")
    }
    // revenue strictly ordered, customer dims carried through
    val revs = got.map(_.getAs[Double]("revenue"))
    assert(revs.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    assert(got.forall(r => r.getAs[String]("c_name") != null &&
      r.getAs[String]("n_name") != null))
  }

  test("topk_per_group: exactly 5 per segment, rank-ordered prices") {
    val df = SparkEntry.queries("topk_per_group")(spark, sf)
    val bySeg = df.collect().groupBy(_.getAs[String]("c_mktsegment"))
    assert(bySeg.nonEmpty)
    bySeg.foreach { case (_, rows) =>
      assert(rows.length === 5)
      val sorted = rows.sortBy(_.getAs[Int]("rk"))
      val prices = sorted.map(_.getAs[Double]("totalprice"))
      assert(prices.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    }
  }

  test("events_json_extract: every event_type present, avg_k in [0,100]") {
    val rows = SparkEntry.queries("events_json_extract")(spark, sf).collect()
    assert(rows.length === 5)
    assert(rows.forall { r =>
      val a = r.getAs[Double]("avg_k"); a >= 0 && a <= 100
    })
  }

  test("distinct_users_daily: HLL sketch tracks the exact twin within its rsd") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("event_type"), r.getAs[String]("day"))
    val exact = SparkEntry.queries("distinct_users_daily")(spark, sf)
      .collect().map(r => key(r) -> r.getAs[Long]("n_users")).toMap
    val approx = SparkEntry.queries("distinct_users_daily_approx")(spark, sf)
      .collect().map(r => key(r) -> r.getAs[Long]("n_users_approx")).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (k, n) =>
      val a = approx(k)
      // rsd 2%; allow 5 sigma plus integer slack on tiny groups
      assert(math.abs(a - n) <= math.max(2.0, n * 0.10), s"$k exact=$n approx=$a")
    }
  }

  test("oracle registry: every oracle names a query, only the declared rows-only queries lack one, no rendered SQL keeps an interpolation") {
    SparkEntry.setOracleContext(spark, sf)
    val oracles = SparkEntry.oracleSql
    val queries = SparkEntry.queries.keySet
    assert(oracles.keySet.subsetOf(queries), oracles.keySet -- queries)
    // sketches, an approximate quantile, a float whitening and a JPEG
    // decode have no exact DuckDB twin: rows-only by declaration, so
    // any other query losing its oracle fails here
    assert(queries -- oracles.keySet === Set("distinct_users_daily_approx",
      "embedding_whiten", "image_jpeg_stats", "vocab_heavy_hitters",
      "zonal_spi_quantiles_approx"))
    // a `${` or `$nameSql` left in the text is a literal that lost its
    // interpolator; `null` is a shared fragment read before its val
    // was initialized
    val leftover = """\$\{|\$[a-z]\w*Sql\b|\bnull\b""".r
    oracles.foreach { case (q, sql) =>
      assert(leftover.findFirstIn(sql).isEmpty, s"$q: ${leftover.findFirstIn(sql)}")
    }
  }

  test("entry: flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("dau_mau_stickiness: trailing-window distinct recomputed from raw events") {
    val ev = Tables.events(spark, sf).collect()
      .map(r => (r.getLong(2), r.getTimestamp(1).toLocalDateTime.toLocalDate))
      .distinct
    val byDay = ev.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val got = SparkEntry.queries("dau_mau_stickiness")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet === byDay.keySet.map(_.toString))
    got.foreach { case (dayS, (dau, mau, stick)) =>
      val day = java.time.LocalDate.parse(dayS)
      assert(dau === byDay(day).size.toLong)
      val window = (0 to 29).map(day.minusDays(_)).flatMap(byDay.get)
        .flatten.toSet
      assert(mau === window.size.toLong, s"day $dayS mau")
      assert(stick === math.rint(dau.toDouble / mau * 10000) / 10000)
      assert(stick > 0.0 && stick <= 1.0)
    }
  }

  test("q7_volume_shipping: bilateral flows recomputed exactly from raw tables") {
    // sf0.01: the nation-pair × two-year filter needs enough lineitem
    // rows to populate both directions (sf0.001 has none)
    val sf = "/root/testdata/sf0.01"
    def lv(r: org.apache.spark.sql.Row, i: Int): Long =
      r.getAs[Number](i).longValue
    def natOf(tbl: String, key: String, nk: String): Map[Long, String] = {
      val names = Tables.nation(spark, sf).collect()
        .map(r => lv(r, 0) -> r.getString(1)).toMap
      (if (tbl == "supplier") Tables.supplier(spark, sf)
       else Tables.customer(spark, sf))
        .select(key, nk).collect()
        .map(r => lv(r, 0) -> names(lv(r, 1))).toMap
    }
    val suppNat = natOf("supplier", "s_suppkey", "s_nationkey")
    val custNat = natOf("customer", "c_custkey", "c_nationkey")
    val ordCust = Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
      .collect().map(r => lv(r, 0) -> lv(r, 1)).toMap
    val pair = Set("NATION_1", "NATION_2")
    val acc = scala.collection.mutable.Map
      .empty[(String, String, Long), BigInt].withDefaultValue(BigInt(0))
    Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
        "l_shipdate")
      .collect().foreach { r =>
        val ship = r.getTimestamp(4)
        val year = ship.toLocalDateTime.getYear
        if (year == 1996 || year == 1997) {
          val sn = suppNat(lv(r, 1))
          val cn = custNat(ordCust(lv(r, 0)))
          if (pair(sn) && pair(cn) && sn != cn) {
            val cents = math.floor(r.getDouble(2) * 100 + 0.5).toLong
            val bps = 10000L - math.floor(r.getDouble(3) * 10000 + 0.5).toLong
            acc((sn, cn, year.toLong)) += BigInt(cents) * bps
          }
        }
      }
    val expect = acc.map { case (k, v) =>
      k -> (math.rint(v.toDouble / 1e6 * 100) / 100) }.toMap
    val got = SparkEntry.queries("q7_volume_shipping")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    assert(got === expect)
    // both directions of the bilateral flow appear
    assert(got.keys.map(_._1).toSet === pair)
  }

  test("q8_market_share: share in [0,1], recomputed from the volume decomposition") {
    val rows = SparkEntry.queries("q8_market_share")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (y, share, vol) =>
      assert(share >= 0.0 && share <= 1.0, s"year $y share")
      assert(vol > 0.0, s"year $y volume")
    }
    // shares genuinely vary by year on this corpus (not a constant)
    assert(rows.map(_._2).distinct.length > 1)
  }

  test("q4_priority_returns: exact counts, planned as a semi-join") {
    val returned = Tables.lineitem(spark, sf)
      .filter(org.apache.spark.sql.functions.col("l_returnflag") === "R")
      .select("l_orderkey").collect().map(_.getLong(0)).toSet
    val expect = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderpriority").collect()
      .filter(r => returned.contains(r.getLong(0)))
      .groupBy(_.getString(1)).view.mapValues(_.length.toLong).toMap
    val df = SparkEntry.queries("q4_priority_returns")(spark, sf)
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expect)
    // the "has at least one" predicate must plan as LEFT SEMI — output
    // bounded by the orders side, match product never materialized
    assert(df.queryExecution.executedPlan.toString.contains("LeftSemi"))
  }

  test("q6_revenue_change: all three predicates reach the parquet scan; sum recomputes") {
    val df = SparkEntry.queries("q6_revenue_change")(spark, sf)
    val scan = df.queryExecution.executedPlan.toString
    val pushed = scan.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount")
      && pushed.contains("l_quantity"),
      s"predicates must push to the scan, got: $pushed")
    val got = df.collect().head
    val expect = Tables.lineitem(spark, sf)
      .select("l_shipdate", "l_discount", "l_quantity", "l_extendedprice")
      .collect()
      .filter { r =>
        val sd = r.getTimestamp(0).toLocalDateTime.getYear == 1996
        sd && r.getDouble(1) >= 0.04 && r.getDouble(1) <= 0.06 &&
          r.getDouble(2) < 24
      }
    val rev = expect.map(r => math.floor(r.getDouble(3) * 100 + 0.5).toLong *
      math.floor(r.getDouble(1) * 10000 + 0.5).toLong).map(BigInt(_)).sum
    assert(got.getAs[Long]("n_lines") === expect.length.toLong)
    assert(math.abs(got.getAs[Double]("revenue") -
      math.rint(rev.toDouble / 1e6 * 100) / 100) < 1e-6)
  }

  test("supplier_concentration: HHI bounds, share identity, exact recompute") {
    val rows = SparkEntry.queries("supplier_concentration")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.nonEmpty)
    rows.values.foreach { r =>
      val (n, top, hhi) = (r.getLong(1), r.getDouble(3), r.getDouble(4))
      // HHI lives in [1/n, 1]; top share bounds it from both sides
      assert(hhi >= 1.0 / n - 1e-3 && hhi <= 1.0001, s"hhi $hhi n $n")
      assert(hhi >= top * top - 1e-3, "top supplier alone contributes top^2")
      assert(top <= 1.0001 && top >= 1.0 / n - 1e-3)
      if (n == 1) assert(math.abs(hhi - 1.0) < 1e-3)
    }
    // one nation against an independent recompute
    val li = Tables.lineitem(spark, sf)
      .join(Tables.supplier(spark, sf),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.nation(spark, sf),
        col("s_nationkey") === col("n_nationkey"))
      .select("n_name", "l_suppkey", "l_extendedprice", "l_discount")
      .collect().map(r => (r.getString(0), r.getLong(1),
        BigInt(math.floor(r.getDouble(2) * 100 + 0.5).toLong) *
          (10000 - math.floor(r.getDouble(3) * 10000 + 0.5).toLong)))
    val probe = rows.keys.min
    val bySupp = li.filter(_._1 == probe).groupBy(_._2)
      .map { case (_, xs) => xs.map(_._3).sum }.toSeq
    val tot = bySupp.sum
    val shares = bySupp.map(u =>
      math.floor(u.toDouble / tot.toDouble * 1e6 + 0.5).toLong)
    val hhi = math.floor(shares.map(s => s * s).sum.toDouble / 1e8 + 0.5) / 1e4
    assert(rows(probe).getLong(1) === bySupp.length.toLong)
    assert(rows(probe).getDouble(4) === hhi, s"nation $probe hhi")
  }

  test("events_value_histogram: buckets partition the envelope, counts conserve") {
    val rows = SparkEntry.queries("events_value_histogram")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, sf).select("event_type", "value").collect()
      .map(r => (r.getString(0), math.floor(r.getDouble(1) * 100 + 0.5).toLong))
    rows.groupBy(_._1).foreach { case (t, bs) =>
      val cs = ev.filter(_._1 == t).map(_._2)
      // total count conserved across buckets
      assert(bs.map(_._3).sum === cs.length.toLong, s"$t count")
      val (cmin, cmax) = (cs.min, cs.max)
      val span = math.max(cmax - cmin, 1L)
      bs.foreach { case (_, b, n, lo, hi) =>
        assert(b >= 0 && b <= 9)
        assert(lo === (cmin + span * b / 10).toDouble / 100.0, s"$t b$b lo")
        assert(hi === (cmin + span * (b + 1) / 10).toDouble / 100.0, s"$t b$b hi")
        // every value assigned to bucket b really falls in it
        val expect = cs.count(c =>
          math.min(9L, (c - cmin) * 10 / span) == b)
        assert(n === expect.toLong, s"$t b$b n")
      }
    }
  }

  test("order_ship_lag: exact percentiles vs Scala recompute, ordered ladder") {
    val rows = SparkEntry.queries("order_ship_lag")(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val lags = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate"), col("o_orderdate"))).collect()
      .map(r => (r.getString(0), r.getInt(1)))
    assert(rows.keySet === lags.map(_._1).toSet)
    lags.groupBy(_._1).foreach { case (p, ls) =>
      val r = rows(p)
      val sorted = ls.map(_._2).sorted
      assert(r.getLong(1) === sorted.length.toLong)
      assert(r.getDouble(2) === math.floor(
        sorted.map(_.toLong).sum.toDouble / sorted.length * 1e4 + 0.5) / 1e4)
      def pct(q: Double): Double = {
        val rr = (sorted.length - 1) * q
        val lo = rr.toInt
        val f = rr - lo
        val v = sorted(lo) + f *
          (sorted(math.min(lo + 1, sorted.length - 1)) - sorted(lo))
        math.floor(v * 1e4 + 0.5) / 1e4
      }
      assert(r.getDouble(3) === pct(0.5), s"$p p50")
      assert(r.getDouble(4) === pct(0.9), s"$p p90")
      assert(r.getDouble(5) === pct(0.99), s"$p p99")
      assert(r.getDouble(3) <= r.getDouble(4) && r.getDouble(4) <= r.getDouble(5))
    }
  }

  test("q14_promo_revenue: share identity, broadcast dim, exact recompute") {
    val df = SparkEntry.queries("q14_promo_revenue")(spark, sf)
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "part dim must broadcast")
    val rows = df.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.nonEmpty)
    // promo <= total and the share matches the two revenue columns
    rows.values.foreach { r =>
      val (promo, total) = (r.getDouble(2), r.getDouble(3))
      assert(promo <= total + 1e-9)
      if (!r.isNullAt(4)) {
        val pct = r.getDouble(4)
        assert(pct >= 0.0 && pct <= 100.0001)
        // 2dp-rounded revenues approximate the exact share within the
        // rounding envelope
        if (total > 1.0) assert(math.abs(pct - promo / total * 100.0) < 1.0)
      }
    }
    // one month against an independent recompute
    val probe = rows.keys.min
    val li = Tables.lineitem(spark, sf)
      .filter(date_format(date_trunc("MONTH", col("l_shipdate")), "yyyy-MM")
        === probe)
      .join(Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
      .select("l_extendedprice", "l_discount", "p_type").collect()
    def u(r: org.apache.spark.sql.Row): BigInt =
      BigInt(math.floor(r.getDouble(0) * 100 + 0.5).toLong) *
        (10000 - math.floor(r.getDouble(1) * 10000 + 0.5).toLong)
    val total = li.map(u).sum
    val promo = li.filter(_.getString(2) == "PROMO").map(u).sum
    assert(rows(probe).getLong(1) === li.length.toLong)
    assert(rows(probe).getDouble(3)
      === math.rint(total.toDouble / 1e6 * 100) / 100)
    assert(rows(probe).getDouble(2)
      === math.rint(promo.toDouble / 1e6 * 100) / 100)
  }

  test("q19_discounted_revenue: disjunctive branches recompute; part side broadcasts") {
    val df = SparkEntry.queries("q19_discounted_revenue")(spark, sf)
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "part dim must broadcast")
    val parts = Tables.part(spark, sf)
      .select("p_partkey", "p_brand", "p_size").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    val rows = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .collect()
      .filter { r =>
        parts.get(r.getLong(0)).exists { case (b, sz) =>
          val q = r.getDouble(1)
          (b == "Brand#12" && sz >= 1 && sz <= 5 && q >= 1 && q <= 11) ||
          (b == "Brand#14" && sz >= 1 && sz <= 10 && q >= 10 && q <= 20) ||
          (b == "Brand#21" && sz >= 1 && sz <= 15 && q >= 20 && q <= 30)
        }
      }
    val rev = rows.map(r => math.floor(r.getDouble(2) * 100 + 0.5).toLong *
      (10000L - math.floor(r.getDouble(3) * 10000 + 0.5).toLong))
      .map(BigInt(_)).sum
    val got = df.collect().head
    assert(got.getAs[Long]("n_lines") === rows.length.toLong)
    assert(math.abs(got.getAs[Double]("revenue") -
      math.rint(rev.toDouble / 1e6 * 100) / 100) < 1e-6)
  }
}
