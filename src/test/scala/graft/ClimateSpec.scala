package graft

import org.apache.spark.sql.functions._

import graft.functions.StatKernels
import graft.operators.Climate

class ClimateSpec extends SparkSpec {

  // --- scalar kernels -----------------------------------------------

  test("StatKernels.normalQuantile matches known quantiles within A&S tolerance") {
    val cases = Seq(0.5 -> 0.0, 0.841344746 -> 1.0, 0.975 -> 1.959964,
      0.158655254 -> -1.0, 0.025 -> -1.959964, 0.99865 -> 3.0)
    cases.foreach { case (p, z) =>
      assert(math.abs(StatKernels.normalQuantile(p) - z) < 4.5e-4, s"p=$p")
    }
    assert(StatKernels.normalQuantile(0.0).isNegInfinity)
    assert(StatKernels.normalQuantile(1.0).isPosInfinity)
  }

  test("StatKernels.gammaP: exponential special case and monotonicity") {
    // P(1, x) = 1 - e^{-x}
    Seq(0.1, 0.5, 1.0, 2.0, 5.0, 10.0).foreach { x =>
      assert(math.abs(StatKernels.gammaP(1.0, x) - (1 - math.exp(-x))) < 1e-12)
    }
    // P(a, a) ~ 0.5-ish and strictly increasing in x
    val a = 3.7
    val xs = (1 to 100).map(_ * 0.2)
    val ps = xs.map(StatKernels.gammaP(a, _))
    assert(ps.sliding(2).forall { case Seq(u, v) => v >= u })
    assert(StatKernels.gammaP(a, 1e9) > 0.999999)
    // lnGamma sanity: Γ(5) = 24
    assert(math.abs(StatKernels.lnGamma(5.0) - math.log(24.0)) < 1e-10)
  }

  // --- SPI ----------------------------------------------------------

  test("spi_gamma: distribution is approximately standard normal, monotone per key") {
    val rows = SparkEntry.queries("spi_gamma")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val spis = rows.map(_._3)
    val mean = spis.sum / spis.length
    val std = math.sqrt(spis.map(s => (s - mean) * (s - mean)).sum / (spis.length - 1))
    assert(math.abs(mean) < 0.5, s"mean=$mean")
    assert(std > 0.6 && std < 1.4, s"std=$std")
    // within a key, SPI must be monotone in the accumulated value
    rows.groupBy(_._1).foreach { case (_, rs) =>
      rs.sortBy(_._2).map(_._3).sliding(2).foreach {
        case Array(u, v) => assert(v >= u - 1e-9)
        case _ =>
      }
    }
  }

  test("spi_gamma_ref: fit==apply reproduces spi_gamma; split window holds invariants") {
    import spark.implicits._
    // the whole span as the reference period == the self-fit index
    val full = Climate.spiGammaRef(spark, sf, 7,
      "2020-01-01T00:00:00Z", "2030-01-01T00:00:00Z")
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.get(3))).toMap
    val self = SparkEntry.queries("spi_gamma")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.get(3))).toMap
    assert(full === self)
    // a strict half-window climatology: every row still indexed,
    // monotone in accum per key (params are FIXED per key), and the
    // index genuinely differs from the self-fit one somewhere
    val half = SparkEntry.queries("spi_gamma_ref")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    assert(half.length === self.size)
    half.groupBy(_._2).foreach { case (_, rs) =>
      rs.filter(_._4.isDefined).sortBy(_._3).map(_._4.get).sliding(2).foreach {
        case Array(u, v) => assert(v >= u - 1e-9)
        case _ =>
      }
    }
    assert(half.exists { case (id, _, _, s) =>
      s.isDefined && self(id)._2 != null && s.get != self(id)._2 })
    // a key absent from the reference window has no climatology -> null
    val x = Seq((1L, 10L, 5.0), (2L, 10L, 7.0), (3L, 99L, 6.0))
      .toDF("event_id", "user_id", "x")
    val out = Climate.spiGammaOn(x, x.filter(col("user_id") === 10L))
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(out(3L).isEmpty, "no-fit-data key must emit null spi")
  }

  test("spi_zscore: per-key mean ~0 and std ~1 after standardization") {
    val rows = SparkEntry.queries("spi_zscore")(spark, sf)
      .filter(col("zscore").isNotNull).collect()
      .map(r => ((r.getLong(1), r.getString(2)), r.getDouble(3)))
    rows.groupBy(_._1).filter(_._2.length > 3).foreach { case (_, zs) =>
      val v = zs.map(_._2)
      val m = v.sum / v.length
      assert(math.abs(m) < 0.05, s"mean=$m") // rounding at 4dp only
    }
  }

  test("spi_ensemble_median: member cardinality bounded, median inside member range") {
    val out = SparkEntry.queries("spi_ensemble_median")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val n = r.getAs[Long]("n_members")
      assert(n >= 1 && n <= 5, s"n_members=$n")
    }
  }

  test("spi_forecast_coverage: one row per (cell, member, lead), perturbation ordered, overlap deduped") {
    val out = Climate.spiForecastCoverage(spark, sf).cache()
    try {
      // one evaluated row per (user-with-data-on-the-lead-day, member,
      // lead): the daily table is sparse, a user without observations
      // on a lead's target day has no evaluated row for that lead
      val leadDays = Climate.CoverageLeads.map(_._2)
      val expectRows = Tables.events(spark, sf)
        .select(col("user_id"),
          date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day"))
        .filter(col("day").isin(leadDays: _*))
        .select("user_id", "day").distinct().count() * 5
      assert(out.count() === expectRows, "one evaluated row per composite key")
      // the evaluated day is the lead's target day
      val leadDay = Climate.CoverageLeads.toMap
      out.select("lead", "day").distinct().collect().foreach { r =>
        assert(r.getString(1) === leadDay(r.getInt(0)))
      }
      // accum at the lead day is the member-perturbed daily total:
      // multiplier (100+3m)/100 is >= 1 and monotone in m
      val byKey = out.groupBy("user_id", "lead")
        .agg(min(when(col("member") === 0, col("accum"))).as("a0"),
          min(when(col("member") === 4, col("accum"))).as("a4"))
      assert(byKey.filter(col("a4") < col("a0")).isEmpty)
      // accum probe vs an independent recompute from raw events
      val probe = out.filter(col("member") === 2 && col("lead") === 3)
        .limit(1).collect()(0)
      val cents = Tables.events(spark, sf)
        .filter(col("user_id") === probe.getAs[Long]("user_id") &&
          date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd")
            === leadDay(3))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")))
        .collect()(0).getLong(0)
      assert(probe.getAs[Double]("accum")
        === math.floor(cents * 106 / 100 / 100.0 * 100 + 0.5) / 100.0)
      // overlap dedup: the ref-end day never surfaces as an evaluated
      // forecast row (it belongs to the ref history on every lead)
      assert(out.filter(col("day") === Climate.CoverageRefEnd).isEmpty)
    } finally out.unpersist()
  }

  test("climate_etccdi: spells from a constructed calendar, indices vs recompute") {
    val out = SparkEntry.queries("climate_etccdi")(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    // independent recompute for every station
    val daily = Tables.events(spark, sf)
      .groupBy(col("user_id"),
        date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.keySet === daily.map(_._1).toSet)
    daily.groupBy(_._1).foreach { case (u, rows) =>
      val r = out(u)
      val sorted = rows.sortBy(_._2)
      val days = sorted.map(d =>
        java.time.LocalDate.parse(d._2).toEpochDay -> (d._3 >= 100L))
      // longest consecutive-day run per state (a calendar gap breaks it)
      // walk the state's days in calendar order; only CONSECUTIVE day
      // numbers extend a run (matching the dn − row_number identity)
      def longest(state: Boolean): Option[Long] = {
        var best = 0L; var cur = 0L; var lastDn = Long.MinValue
        days.filter(_._2 == state).map(_._1).sorted.foreach { dn =>
          cur = if (dn == lastDn + 1) cur + 1 else 1
          lastDn = dn; best = math.max(best, cur)
        }
        if (best == 0) None else Some(best)
      }
      def get(i: Int): Option[Long] =
        if (r.isNullAt(i)) None else Some(r.getLong(i))
      assert(get(2) === longest(false), s"station $u cdd")
      assert(get(3) === longest(true), s"station $u cwd")
      assert(r.getLong(4) === sorted.count(_._3 >= 1000L).toLong,
        s"station $u r10mm")
      val wet = sorted.filter(_._3 >= 100L).map(_._3)
      assert(r.getDouble(5) === wet.sum.toDouble / 100.0, s"station $u prcptot")
      if (wet.nonEmpty) {
        val s = wet.sorted
        val rr = (s.length - 1) * 0.95
        val loI = rr.toInt
        val p95 = (s(loI) + (rr - loI) *
          (s(math.min(loI + 1, s.length - 1)) - s(loI))) / 100.0
        assert(r.getDouble(6) === math.floor(p95 * 1e4 + 0.5) / 1e4,
          s"station $u r95p")
        assert(r.getDouble(7)
          === wet.filter(_.toDouble / 100.0 > p95).sum.toDouble / 100.0,
          s"station $u r95ptot")
      }
    }
  }

  test("grid_aspect_rose: octant rollup conserves cells, means match gradient") {
    val dir = "/root/testdata/sf0.01"
    val grad = SparkEntry.queries("grid_gradient")(spark, dir).collect()
      .map(r => (r.getString(5), r.getDouble(4)))
    val rose = SparkEntry.queries("grid_aspect_rose")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val expect = grad.groupBy(_._1).map { case (a, xs) =>
      val su = xs.map(x => math.floor(x._2 * 1e6 + 0.5).toLong).sum
      a -> ((xs.length.toLong,
        math.floor(su.toDouble / xs.length / 100.0 + 0.5) / 1e4))
    }
    assert(rose === expect)
    assert(rose.values.map(_._1).sum === grad.length.toLong)
  }

  test("grid_ruggedness: TRI identity on the interior; classes follow thresholds") {
    val dir = "/root/testdata/sf0.01"
    val out = SparkEntry.queries("grid_ruggedness")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(out.size === 36)
    val cells = Tables.events(spark, dir)
      .groupBy((col("user_id") % 8).as("gy"),
        expr("user_id div 8 % 8").as("gx"))
      .agg(floor((sum(floor(col("value") * 100 + 0.5).cast("long")) * 10000L)
        .cast("double") / count(lit(1)) + 0.5).cast("long").as("v_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    out.foreach { case ((gy, gx), r) =>
      val s = (for {
        dy <- -1 to 1; dx <- -1 to 1 if dy != 0 || dx != 0
      } yield math.abs(cells((gy, gx)) - cells((gy + dy, gx + dx)))).sum
      assert(r.getDouble(2) === s.toDouble / 8.0 / 1e6, s"($gy,$gx) tri")
      val cls = if (s <= 8L * 2000000L) "smooth"
        else if (s <= 8L * 5000000L) "intermediate" else "rugged"
      assert(r.getString(3) === cls, s"($gy,$gx) class")
    }
  }

  test("ts_extremal_index: threshold rank, runs declustering vs recompute, theta bounds") {
    val out = SparkEntry.queries("ts_extremal_index")(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val daily = Tables.events(spark, sf)
      .groupBy(col("user_id"),
        date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    daily.groupBy(_._1).foreach { case (u, rows) =>
      val cs = rows.map(_._3).sorted
      val thr = cs(math.ceil(cs.length * 0.9).toInt - 1)
      val exDays = rows.filter(_._3 > thr)
        .map(d => java.time.LocalDate.parse(d._2).toEpochDay).sorted
      val r = out.get(u)
      if (exDays.isEmpty) assert(r.isEmpty, s"station $u no exceedances")
      else {
        val g = r.get
        assert(g.getDouble(2) === thr.toDouble / 100.0, s"station $u thr")
        assert(g.getLong(3) === exDays.length.toLong, s"station $u n_exceed")
        val clusters = 1 + exDays.sliding(2)
          .count(p => p.length == 2 && p(1) - p(0) > 2)
        assert(g.getLong(4) === clusters.toLong, s"station $u clusters")
        val theta = g.getDouble(5)
        assert(theta > 0 && theta <= 1.0001, s"station $u theta $theta")
        assert(theta === math.floor(
          clusters.toDouble / exDays.length * 1e4 + 0.5) / 1e4)
      }
    }
  }

  test("grid_tpi: neighborhood-mean identity and landform dead band") {
    val dir = "/root/testdata/sf0.01"
    val out = SparkEntry.queries("grid_tpi")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(out.size === 36, "interior cells of the 8x8 grid")
    val cells = Tables.events(spark, dir)
      .groupBy((col("user_id") % 8).as("gy"),
        expr("user_id div 8 % 8").as("gx"))
      .agg(floor((sum(floor(col("value") * 100 + 0.5).cast("long")) * 10000L)
        .cast("double") / count(lit(1)) + 0.5).cast("long").as("v_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    out.foreach { case ((gy, gx), r) =>
      val nbrSum = (for {
        dy <- -1 to 1; dx <- -1 to 1 if dy != 0 || dx != 0
      } yield cells((gy + dy, gx + dx))).sum
      val tpi8 = cells((gy, gx)) * 8 - nbrSum
      assert(r.getDouble(2) === tpi8.toDouble / 8.0 / 1e6, s"cell ($gy,$gx)")
      val cls = if (tpi8 > 400000L) "ridge"
        else if (tpi8 < -400000L) "valley" else "plane"
      assert(r.getString(3) === cls, s"cell ($gy,$gx) class")
    }
  }

  test("climate_etccdi_temp: FD/SU/DTR/TX90p vs recompute, exceedance near 10%") {
    val out = SparkEntry.queries("climate_etccdi_temp")(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val daily = Tables.events(spark, sf)
      .groupBy(col("user_id"),
        date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(min(floor(col("value") * 100 + 0.5).cast("long")).as("tn"),
        max(floor(col("value") * 100 + 0.5).cast("long")).as("tx"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(out.keySet === daily.map(_._1).toSet)
    daily.groupBy(_._1).foreach { case (u, rows) =>
      val r = out(u)
      val (tns, txs) = (rows.map(_._2), rows.map(_._3))
      assert(r.getLong(1) === rows.length.toLong)
      assert(r.getLong(2) === tns.count(_ < 2000L).toLong, s"station $u fd")
      assert(r.getLong(3) === txs.count(_ > 8000L).toLong, s"station $u su")
      val dtr = rows.map(x => x._3 - x._2).sum
      assert(r.getDouble(4) === math.floor(
        dtr.toDouble / rows.length / 100.0 * 1e4 + 0.5) / 1e4, s"station $u dtr")
      val s = txs.sorted
      val rr = (s.length - 1) * 0.9
      val loI = rr.toInt
      val thr = (s(loI) + (rr - loI) *
        (s(math.min(loI + 1, s.length - 1)) - s(loI))) / 100.0
      assert(r.getDouble(5) === math.floor(thr * 1e4 + 0.5) / 1e4)
      val exceed = txs.count(_.toDouble / 100.0 > thr)
      assert(r.getDouble(6) === math.floor(
        exceed.toDouble / rows.length * 1e4 + 0.5) / 1e4, s"station $u tx90p")
      // by construction of a 90th-percentile threshold
      assert(r.getDouble(6) <= 0.2001, s"station $u exceedance share sane")
    }
  }

  test("grid_curvature: interior cells only, Laplacian identity, sign classes exact") {
    // sf0.01: the 8x8 grid needs interior cells (grid_gradient's spec
    // rationale — sf0.001 only populates two columns)
    val dir = "/root/testdata/sf0.01"
    val out = SparkEntry.queries("grid_curvature")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    // interior of the 8x8 grid: 36 cells
    assert(out.size === 36)
    assert(out.keys.forall { case (gy, gx) =>
      gy >= 1 && gy <= 6 && gx >= 1 && gx <= 6 })
    out.values.foreach { r =>
      val (d2x, d2y, lap) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(math.abs(d2x + d2y - lap) < 1e-9, "Laplacian = d2x + d2y")
      val cls = r.getString(5)
      if (lap > 0) assert(cls === "concave")
      else if (lap < 0) assert(cls === "convex")
      else assert(cls === "flat")
    }
    // one cell against an independent recompute from raw events
    val cells = Tables.events(spark, dir)
      .groupBy((col("user_id") % 8).as("gy"),
        expr("user_id div 8 % 8").as("gx"))
      .agg(floor((sum(floor(col("value") * 100 + 0.5).cast("long")) * 10000L)
        .cast("double") / count(lit(1)) + 0.5).cast("long").as("v_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val (gy, gx) = (3L, 3L)
    val expect = (cells((gy, gx + 1)) - 2 * cells((gy, gx)) + cells((gy, gx - 1))
      + cells((gy + 1, gx)) - 2 * cells((gy, gx)) + cells((gy - 1, gx)))
      .toDouble / 1e6
    assert(math.abs(out((gy, gx)).getDouble(4) - expect) < 1e-9)
  }

  test("rijn_deficit_weekly: sunday anchors, masked max vs recompute, last sunday dropped") {
    val out = Climate.rijnDeficitWeekly(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.nonEmpty)
    // every anchor is a Sunday and carries its own ISO week/month
    out.foreach { case (s, r) =>
      val d = java.time.LocalDate.parse(s)
      assert(d.getDayOfWeek === java.time.DayOfWeek.SUNDAY, s"anchor $s")
      assert(r.getInt(1) === d.get(java.time.temporal.WeekFields.ISO
        .weekOfWeekBasedYear()), s"week_no of $s")
      assert(r.getInt(2) === d.getMonthValue)
    }
    // the final sunday of the band table is dropped
    val q50 = SparkEntry.queries("forecast_deficit_bands")(spark, sf)
      .filter(col("q") === 0.5)
      .withColumn("sunday", date_format(date_add(
        date_trunc("WEEK", col("day").cast("date")).cast("date"), 6),
        "yyyy-MM-dd"))
    val allSundays = q50.select("sunday").distinct().collect()
      .map(_.getString(0)).sorted
    assert(!out.contains(allSundays.last), "last sunday skipped")
    assert(out.keySet === allSundays.init.toSet)
    // masked max equals an independent recompute for one week
    val probe = allSundays.head
    val expect = q50.filter(col("sunday") === probe)
      .withColumn("gy", col("user_id") % 8)
      .withColumn("gx", expr("user_id div 8 % 8"))
      .filter((col("gx") * 3 + col("gy") * 5) % 7 === 3)
      .agg(max("deficit")).collect()(0).getDouble(0)
    assert(out(probe).getDouble(4) === expect)
    assert(out(probe).getString(5)
      === (if (expect < 50) "darkblue" else if (expect < 100) "blue"
           else if (expect < 125) "green" else if (expect < 150) "yellow"
           else if (expect < 175) "orange" else if (expect < 200) "red"
           else "darkred"))
  }

  test("spi_ensemble_gamma: weekly medians equal a Scala recompute over member indices") {
    // member-level gamma SPI, recomputed through the same public seam
    val ev = Tables.events(spark, sf).withColumn("member", col("event_id") % 5)
    val wRoll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("member"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-6, 0)
    val x = ev.select(col("event_id"), col("user_id"), col("member"), col("ts"),
      sum(col("value")).over(wRoll).as("x"))
    val memberSpi = Climate.spiGammaOn(x, x, Seq("user_id", "member"))
      .join(x.select(col("event_id"), col("ts")), Seq("event_id"))
      .select(col("user_id"),
        date_format(date_trunc("WEEK", col("ts")), "yyyy-MM-dd").as("week"),
        col("spi"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> Option(r.get(2)).map(_.asInstanceOf[Double]))
    def median(vs: Seq[Double]): Double = {
      val s = vs.sorted
      val pos = 0.5 * (s.length - 1)
      val lo = s(pos.toInt); val hi = s(math.ceil(pos).toInt)
      lo + (pos - pos.toInt) * (hi - lo)
    }
    val expect = memberSpi.groupBy(_._1).map { case (k, rs) =>
      val vs = rs.flatMap(_._2).toSeq
      k -> (rs.count(_._2.isDefined).toLong,
        if (vs.isEmpty) None
        else Some(math.floor(median(vs) * 1e4 + 0.5) / 1e4))
    }
    val got = SparkEntry.queries("spi_ensemble_gamma")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    assert(got.size === expect.size)
    expect.foreach { case (k, (n, med)) =>
      assert(got(k)._1 === n, s"group $k count")
      (got(k)._2, med) match {
        case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-9, s"group $k median")
        case (a, b) => assert(a === b, s"group $k nullness")
      }
    }
  }

  // independent even-odd ray-casting recompute (with division — the
  // plan's division-free cross-multiplied form must agree with it)
  private def insideScala(lon: Double, lat: Double,
      vs: Seq[(Double, Double)]): Boolean =
    vs.indices.count { i =>
      val (x1, y1) = vs(i); val (x2, y2) = vs((i + 1) % vs.size)
      ((y1 > lat) != (y2 > lat)) &&
        lon < x1 + (lat - y1) * (x2 - x1) / (y2 - y1)
    } % 2 == 1

  test("zonal_poly_spi: basin assignment matches a Scala point-in-polygon recompute") {
    def assignScala(lon: Double, lat: Double): Option[Int] =
      Climate.basinPolygons.collectFirst {
        case (id, vs) if insideScala(lon, lat, vs) => id
      }
    val assigned = Tables.events(spark, sf).select(col("user_id")).distinct()
      .withColumn("lat", Climate.pseudoLat(col("user_id")))
      .withColumn("lon", Climate.pseudoLon(col("user_id")))
      .withColumn("basin", Climate.basinAssign(col("lon"), col("lat")))
      .collect()
    assert(assigned.nonEmpty)
    var hits = 0
    assigned.foreach { r =>
      val expect = assignScala(r.getAs[Double]("lon"), r.getAs[Double]("lat"))
      val got = Option(r.get(3)).map(_.asInstanceOf[Int])
      assert(got === expect, s"user ${r.get(0)}")
      if (got.isDefined) hits += 1
    }
    assert(hits > 0, "no point falls in any basin — geometry is vacuous")
  }

  test("pointInPoly: concave basin — ray casting right where the convex test is provably wrong") {
    val concave = Climate.basinPolygons.collectFirst { case (4, vs) => vs }.get
    def convexAllLeft(lon: Double, lat: Double): Boolean =
      concave.indices.forall { i =>
        val (x1, y1) = concave(i)
        val (x2, y2) = concave((i + 1) % concave.size)
        (x2 - x1) * (lat - y1) - (y2 - y1) * (lon - x1) >= 0
      }
    // (150.5, 70.5) sits in the U's left arm: genuinely inside, but
    // the all-left-of-edges conjunction rejects it at the notch's
    // reflex edge (170,90)→(170,60); (165.5, 70.5) sits in the
    // notch: genuinely outside, convex hull membership would admit
    // it.
    val cases = Seq(
      (150.5, 70.5, true),  // left arm — inside
      (175.5, 70.5, true),  // right arm — inside
      (165.5, 55.5, true),  // base below the notch — inside
      (165.5, 70.5, false), // the notch — outside
      (185.5, 70.5, false)) // right of the ring — outside
    assert(!convexAllLeft(150.5, 70.5),
      "expected the convex conjunction to misclassify the left arm")
    val df = spark.createDataFrame(cases.map { case (lo, la, _) => (lo, la) })
      .toDF("lon", "lat")
      .withColumn("inside", Climate.pointInPoly(col("lon"), col("lat"), concave))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)) -> r.getBoolean(2)).toMap
    cases.foreach { case (lo, la, want) =>
      assert(df((lo, la)) === want, s"($lo, $la)")
      assert(insideScala(lo, la, concave) === want, s"recompute ($lo, $la)")
    }
    // the concave basin must be live under the query's own
    // pseudo-coordinate mapping (sf0.001's 15 user_ids stop short of
    // every basin but #1, so probe the full uid cycle the larger
    // scales cover — sf0.01 reaches uid 500+)
    import spark.implicits._
    val uids = (0L until 72L).toDF("user_id")
      .withColumn("lat", Climate.pseudoLat(col("user_id")))
      .withColumn("lon", Climate.pseudoLon(col("user_id")))
      .withColumn("basin", Climate.basinAssign(col("lon"), col("lat")))
    val byBasin = uids.filter(col("basin").isNotNull)
      .groupBy("basin").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byBasin.getOrElse(4, 0L) > 0,
      s"concave basin captured no grid points (got $byBasin)")
  }

  test("rating_curve_station: constant clamps below/above each station's calibrated range") {
    val byStation = Climate.stationBreakpoints
    val out = SparkEntry.queries("rating_curve_station")(spark, sf).collect()
    var below = 0; var above = 0
    out.foreach { r =>
      val st = r.getAs[Long]("station")
      val stage = r.getAs[Double]("stage")
      val q = r.getAs[Double]("discharge")
      val bps = byStation(st)
      if (stage < bps.head._1) { below += 1; assert(q === bps.head._2, s"station $st stage $stage") }
      if (stage >= bps.last._1) { above += 1; assert(q === bps.last._2, s"station $st stage $stage") }
    }
    // both out-of-range branches must actually occur in the data
    assert(below > 0, "below-min clamp never exercised")
    assert(above > 0, "above-max clamp never exercised")
  }

  // --- bias correction ---------------------------------------------

  test("bias_qmap_key: split-fit mapping exercises out-of-range extrapolation and clamps") {
    val out = SparkEntry.queries("bias_qmap_key")(spark, sf).collect()
    assert(out.nonEmpty)
    val byOob = out.groupBy(_.getAs[String]("oob")).view.mapValues(_.length).toMap
    // in-range interpolation AND at least one constant-extrapolated row:
    // late forecasts must fall outside the first-half fitted range somewhere
    assert(byOob.getOrElse("in", 0) > 0, s"oob histogram: $byOob")
    assert(byOob.getOrElse("low", 0) + byOob.getOrElse("high", 0) > 0,
      s"extrapolation branch never exercised: $byOob")
    // precipitation-style clamp: never negative
    out.foreach(r => assert(r.getAs[Double]("corrected") >= 0.0))
  }

  test("bias_delta: corrected forecast mean equals reference mean per key") {
    val ev = Tables.events(spark, sf)
    val refMeans = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(avg("value").as("m")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val corrected = SparkEntry.queries("bias_delta")(spark, sf).collect()
      .map(r => r.getLong(1) -> r.getDouble(3))
    corrected.groupBy(_._1).foreach { case (u, vs) =>
      refMeans.get(u).foreach { rm =>
        val cm = vs.map(_._2).sum / vs.length
        assert(math.abs(cm - rm) < 1e-2, s"user $u corrected=$cm ref=$rm")
      }
    }
  }

  test("bias_qmap: mapping a distribution onto itself is the identity") {
    val ev = Tables.events(spark, sf).filter(col("event_type") === "view")
      .select("event_id", "user_id", "value")
    val mapped = Climate.quantileMap(ev, ev).collect()
    assert(mapped.nonEmpty)
    mapped.foreach { r =>
      val orig = r.getDouble(2) // fcst_value (rounded to 2)
      val got = r.getDouble(3)  // mapped (rounded to 4)
      assert(math.abs(got - orig) < 1e-2 + 1e-9, s"event ${r.getLong(0)}")
    }
  }

  test("zonal_spi_quantiles_approx: sketch tracks the exact order stats per zone") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Int]("zone_y"), r.getAs[Int]("zone_x"))
    val exact = SparkEntry.queries("zonal_spi_quantiles")(spark, sf)
      .collect().map(r => key(r) -> r).toMap
    val approx = SparkEntry.queries("zonal_spi_quantiles_approx")(spark, sf)
      .collect().map(r => key(r) -> r).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (k, e) =>
      val a = approx(k)
      assert(a.getAs[Long]("n") === e.getAs[Long]("n"))
      val spread = e.getAs[Double]("p90_z") - e.getAs[Double]("p10_z")
      Seq("p10_z", "med_z", "p90_z").foreach { c =>
        // rank error ≤ n/1000 (accuracy=1000) with n in the hundreds
        // → near-exact; allow a small fraction of the zone's spread
        assert(math.abs(a.getAs[Double](c) - e.getAs[Double](c))
          <= spread * 0.05 + 1e-6, s"zone $k col $c")
      }
    }
  }

  test("quantileMapFit: self-mapping is the identity on randomized keyed data") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    // 1dp positive values force duplicate ties within keys; the
    // mapping of a distribution onto itself must return every value
    // unchanged through BOTH the interpolation branch and the
    // rmax==fmax / rmin==fmin constant-extrapolation edges
    val rows = (1L to 240L).map { id =>
      (id, id % 4, math.rint(rnd.nextDouble() * 500) / 10.0 + 1.0)
    }
    val df = rows.toDF("event_id", "k", "value")
    val out = Climate.quantileMapFit(Seq("k"), df, df, df).collect()
    assert(out.length === rows.length)
    val byId = rows.map(r => r._1 -> r._3).toMap
    out.foreach { r =>
      val x = byId(r.getAs[Long]("event_id"))
      assert(math.abs(r.getAs[Double]("corrected") - x) < 1e-4 + 1e-9,
        s"event ${r.getAs[Long]("event_id")} x=$x got=${r.getAs[Double]("corrected")}")
    }
  }

  test("quantileMapFit: high-cardinality composite key (user_id, member) — the contract's shape") {
    // The key-cardinality contract: the composite key includes the
    // station/cell id (here user_id itself), so per-key windows stay
    // small. Self-mapping identity must hold per (user_id, member)
    // exactly as it does for coarse keys, and fit-then-apply on a
    // disjoint split must produce one output row per apply row.
    val ev = Tables.events(spark, sf)
      .withColumn("member", col("event_id") % 3)
      .select("event_id", "user_id", "member", "value")
    val self = Climate.quantileMapFit(
      Seq("user_id", "member"), ev, ev, ev).cache()
    try {
      val n = ev.count()
      assert(self.count() === n)
      // identity up to the operator's own 4dp quantize + clamp-at-0;
      // recover the raw x by joining back on event_id (the output
      // exposes only the 2dp-rounded fcst_value)
      val bad = self.select("event_id", "corrected")
        .join(ev.select(col("event_id"), col("value")), "event_id")
        .filter(abs(col("corrected") - greatest(col("value"), lit(0.0)))
          > 1e-4 + 1e-9)
      assert(bad.count() === 0, s"identity violated: ${bad.take(3).toSeq}")
    } finally self.unpersist()
    val split = lit("2024-01-16T00:00:00Z").cast("timestamp")
    val evTs = Tables.events(spark, sf).withColumn("member", col("event_id") % 3)
    def slice(t: String, cond: org.apache.spark.sql.Column) =
      evTs.filter(col("event_type") === t && cond)
        .select("event_id", "user_id", "member", "value")
    val applied = Climate.quantileMapFit(Seq("user_id", "member"),
      slice("click", col("ts") < split), slice("view", col("ts") < split),
      slice("click", col("ts") >= split))
    // apply rows whose (user_id, member) key has training data on both
    // sides survive the fit joins — count them independently
    val trained = slice("click", col("ts") < split)
      .select("user_id", "member").distinct()
      .join(slice("view", col("ts") < split)
        .select("user_id", "member").distinct(), Seq("user_id", "member"))
    val expected = slice("click", col("ts") >= split)
      .join(trained, Seq("user_id", "member")).count()
    assert(applied.count() === expected)
  }

  test("quantileMapFitSpline: agrees with the linear variant at every knot") {
    // apply rows == the training forecast values land exactly ON the
    // transfer knots, where the Hermite form reduces to the knot
    // ordinate y0 — the same reference-quantile the linear path
    // computes. oob classification must agree row for row too.
    val ev = Tables.events(spark, sf)
      .withColumn("grp", col("user_id") % 20)
      .withColumn("member", col("event_id") % 3)
      .filter(col("event_type") === "click")
      .select("event_id", "grp", "member", "value")
    val ref = Tables.events(spark, sf)
      .withColumn("grp", col("user_id") % 20)
      .withColumn("member", col("event_id") % 3)
      .filter(col("event_type") === "view")
      .select("event_id", "grp", "member", "value")
    val keys = Seq("grp", "member")
    def byId(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("event_id") ->
        (r.getAs[String]("oob"), r.getAs[Double]("corrected"))).toMap
    val lin = byId(Climate.quantileMapFit(keys, ev, ref, ev))
    val spl = byId(Climate.quantileMapFitSpline(keys, ev, ref, ev))
    assert(spl.keySet === lin.keySet)
    assert(lin.nonEmpty)
    spl.foreach { case (id, (oob, c)) =>
      val (loob, lc) = lin(id)
      assert(oob === loob, s"event $id oob spline=$oob linear=$loob")
      assert(math.abs(c - lc) < 1e-9, s"event $id spline=$c linear=$lc")
    }
  }

  test("quantileMapSplineParams: parquet round-trip applies bit-for-bit (the param-file workflow)") {
    // the reference loads PRETRAINED spline params from files and
    // applies them per key (`bias_correction_cds_process.py:310-324`);
    // exporting the fitted table to parquet and applying it from disk
    // must reproduce fit-and-apply exactly — all param columns are
    // exact doubles, so not a single output bit may move
    val ev = Tables.events(spark, sf)
      .withColumn("grp", col("user_id") % 20)
      .withColumn("member", col("event_id") % 3)
    val split = lit("2024-01-16T00:00:00Z").cast("timestamp")
    def slice(t: String, cond: org.apache.spark.sql.Column) =
      ev.filter(col("event_type") === t && cond)
        .select("event_id", "grp", "member", "value")
    val keys = Seq("grp", "member")
    val fcst = slice("click", col("ts") < split)
    val ref = slice("view", col("ts") < split)
    val apply = slice("click", col("ts") >= split)
    val params = Climate.quantileMapSplineParams(keys, fcst, ref)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-qmap-params").toFile.getAbsolutePath
    params.write.mode("overwrite").parquet(s"$dir/params")
    val loaded = spark.read.parquet(s"$dir/params")
    // param table shape: the documented export schema, one row per knot
    assert(loaded.columns.sorted.toSeq === Seq("fmax", "fmin", "grp", "m0",
      "m1", "member", "rmax", "rmin", "x0", "x1", "y0", "y1"))
    val direct = Climate.quantileMapFitSpline(keys, fcst, ref, apply)
    val viaDisk = Climate.quantileMapApplySpline(keys, loaded, apply)
    assert(direct.count() > 0)
    // exceptAll is exact (bitwise on doubles): both directions empty
    assert(viaDisk.exceptAll(direct).isEmpty
      && direct.exceptAll(viaDisk).isEmpty)
  }

  test("SplineKernels: fit interpolates anchors; splev matches an independent basis-sum evaluation") {
    val xs = Array(0.0, 1.0, 2.5, 4.0, 5.5, 7.0, 9.0, 12.0, 15.0)
    val ys = xs.map(x => 2.0 + 0.7 * x + 0.05 * x * x - 0.002 * x * x * x)
    val t = graft.functions.SplineKernels.fitpackKnots(xs)
    val c = graft.functions.SplineKernels.fitCoeffs(xs, ys)
    assert(c != null && c.length === xs.length && t.length === xs.length + 4)
    xs.zip(ys).foreach { case (x, y) =>
      assert(math.abs(graft.functions.SplineKernels.splev(t, c, x) - y) < 1e-9,
        s"anchor $x")
    }
    // independent check: textbook recursive Cox-de Boor basis sum
    // (a completely different evaluation path than the de Boor
    // triangle) must agree on a dense interior grid
    def basisN(i: Int, k: Int, x: Double): Double =
      if (k == 0) { if (t(i) <= x && x < t(i + 1)) 1.0 else 0.0 }
      else {
        val a = if (t(i + k) == t(i)) 0.0
          else (x - t(i)) / (t(i + k) - t(i)) * basisN(i, k - 1, x)
        val b = if (t(i + k + 1) == t(i + 1)) 0.0
          else (t(i + k + 1) - x) / (t(i + k + 1) - t(i + 1)) *
            basisN(i + 1, k - 1, x)
        a + b
      }
    (0 until 140).map(j => xs.head + (xs.last - xs.head) * j / 150.0)
      .foreach { x =>
        val naive = c.indices.map(i => c(i) * basisN(i, 3, x)).sum
        assert(math.abs(graft.functions.SplineKernels.splev(t, c, x) - naive)
          < 1e-8, s"x=$x")
      }
  }

  test("bias_bspline_apply: reference splev semantics recomputed from the literal params") {
    val sf01 = "/root/testdata/sf0.01"
    val par = Climate.pretrainedBspline.map { case (g, t, c, dmin, dmax) =>
      g -> ((t.toArray, c.toArray, dmin, dmax))
    }.toMap
    val ev = graft.Tables.events(spark, sf01)
      .filter(col("event_type") === "click")
      .select("event_id", "user_id", "value").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1) % 20, r.getDouble(2)))).toMap
    val got = SparkEntry.queries("bias_bspline_apply")(spark, sf01).collect()
    assert(got.length === ev.size)
    got.foreach { row =>
      val id = row.getAs[Long]("event_id")
      val g = row.getAs[Long]("grp")
      val (gExp, x) = ev(id)
      assert(g === gExp)
      val (t, c, dmin, dmax) = par(g)
      val tmin = t(3)
      val tmax = t(t.length - 3)
      val (oobE, raw) =
        if (x < tmin) ("low", x + dmin)
        else if (x > tmax) ("high", x + dmax)
        else ("in", graft.functions.SplineKernels.splev(t, c, x))
      assert(row.getAs[String]("oob") === oobE, s"event $id oob")
      assert(row.getAs[Double]("corrected")
        === math.floor(raw * 1e4 + 0.5) / 1e4, s"event $id corrected")
    }
    // all three reference branches are live on this data
    assert(got.map(_.getAs[String]("oob")).toSet === Set("low", "high", "in"))
  }

  test("bias_bspline_apply oracle: every fractional literal carries an exponent") {
    // DuckDB types a bare decimal such as 33.85 as DECIMAL, and its
    // DECIMAL→DOUBLE cast is not correctly rounded: at sf0.1 two rows
    // of the oracle then missed the engine's exact result by 1e-4
    val sql = SparkEntry.oracleSql("bias_bspline_apply")
    val bare = """(?<![\w.])\d+\.\d+(?![\d.eE])""".r.findAllIn(sql).toList
    assert(bare.isEmpty, s"bare decimal literals: ${bare.take(5)}")
    val params = Climate.pretrainedBspline.map { case (_, t, c, _, _) => t.size + c.size + 2 }.sum
    assert("""\d\.\d+E-?\d+""".r.findAllIn(sql).size >= params)
  }

  test("bsplineTransfer: fit/apply split — anchors interpolated, edge deltas equal the FC family, parquet round-trip") {
    val sf01 = "/root/testdata/sf0.01"
    val ev = Tables.events(spark, sf01)
      .withColumn("grp", col("user_id") % 20)
      .withColumn("member", col("event_id") % 3)
    val split = lit("2024-01-16T00:00:00Z").cast("timestamp")
    def slice(t: String, cond: org.apache.spark.sql.Column) =
      ev.filter(col("event_type") === t && cond)
        .select("event_id", "grp", "member", "value")
    val keys = Seq("grp", "member")
    val fcst = slice("click", col("ts") < split)
    val refT = slice("view", col("ts") < split)
    val app = slice("click", col("ts") >= split)
    val params = Climate.bsplineTransferParams(keys, fcst, refT)
      .localCheckpoint()
    // (a) the fitted spline interpolates its own quantile anchors
    // (recomputed here with Spark percentile's rank interpolation)
    val fv = fcst.collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(x => (x._1, x._2)).view.mapValues(_.map(_._3).sorted).toMap
    val rv = refT.collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(x => (x._1, x._2)).view.mapValues(_.map(_._3).sorted).toMap
    def pct(v: Array[Double], p: Double): Double = {
      val pos = p * (v.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      v(lo) + (pos - lo) * (v(hi) - v(lo))
    }
    val parRows = params.collect()
    assert(parRows.nonEmpty)
    parRows.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      val t = r.getSeq[Double](2).toArray
      val c = r.getSeq[Double](3).toArray
      val xq = (0 until 17).map(j => pct(fv(key), j / 16.0))
      val yq = (0 until 17).map(j => pct(rv(key), j / 16.0))
      // dedup by abscissa exactly as the fit kernel does
      val (dx, dy) = xq.zip(yq).foldLeft(Vector.empty[(Double, Double)]) {
        case (acc, (x, y)) =>
          if (acc.nonEmpty && x <= acc.last._1) acc else acc :+ (x, y)
      }.unzip
      dx.zip(dy).foreach { case (x, y) =>
        assert(math.abs(graft.functions.SplineKernels.splev(t, c, x) - y)
          < 1e-7, s"key $key anchor $x")
      }
    }
    // (b) out-of-range rows: both spline families apply the SAME
    // constant edge delta (rmin-fmin / rmax-fmax), so corrected must
    // be identical wherever both classify the row out-of-range — up
    // to the FC family's clamp-at-0 (the literal splev procedure has
    // no clamp, faithful to the reference's additive adjustment)
    def byId(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[String]("oob"), r.getAs[Double]("corrected")))).toMap
    val bs = byId(Climate.bsplineTransferApply(keys, params, app))
    val fc = byId(Climate.quantileMapFitSpline(keys, fcst, refT, app))
    assert(bs.nonEmpty)
    var nEdge = 0
    bs.foreach { case (id, (oob, corr)) =>
      fc.get(id).foreach { case (foob, fcorr) =>
        if (oob != "in" && oob == foob) {
          if (fcorr > 0.0) assert(corr === fcorr, s"event $id edge delta")
          else assert(corr <= 0.0, s"event $id clamped edge")
          nEdge += 1
        }
      }
    }
    assert(nEdge > 0, "edge branch exercised")
    // (c) param-table parquet round-trip applies bit-for-bit
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bspline-params").toFile.getAbsolutePath
    params.write.mode("overwrite").parquet(s"$dir/params")
    val loaded = spark.read.parquet(s"$dir/params")
    val direct = Climate.bsplineTransferApply(keys, params, app)
    val viaDisk = Climate.bsplineTransferApply(keys, loaded, app)
    assert(viaDisk.exceptAll(direct).isEmpty
      && direct.exceptAll(viaDisk).isEmpty)
  }

  test("bsplineTransferParams: degenerate anchors (constant series, <4 distinct) yield null fits that are FILTERED, not an NPE under codegen") {
    import spark.implicits._
    // Three groups: a constant training series (dry-season precip —
    // one distinct anchor), a 3-distinct-values series (below the
    // cubic minimum of 4), and a healthy spread. The first two must
    // produce NO param row; the job must not throw inside
    // GeneratedIterator (BsplineFitExpr overrides nullable=true and
    // its codegen sets isNull when the kernel returns null — without
    // that, Catalyst folds the isNotNull guard to true and the
    // generated code NPEs on the null struct).
    val rows = (1L to 60L).map { i =>
      val g = i % 3 // 0=constant, 1=three-distinct-anchors, 2=healthy
      val v = g match {
        case 0 => 0.0
        // 18 zeros + 2 ones: the 17-point rank-interpolated quantile
        // grid collapses to exactly {0, 0.8125, 1.0} — three distinct
        // anchors, below the cubic minimum of four.
        case 1 => if (i >= 55) 1.0 else 0.0
        case _ => i.toDouble + (i % 7) * 0.31
      }
      (i, g, v)
    }
    val fcst = rows.toDF("event_id", "grp", "value")
    val refT = rows.map { case (i, g, v) => (i, g, v * 2.0 + 1.0) }
      .toDF("event_id", "grp", "value")
    val params = Climate.bsplineTransferParams(Seq("grp"), fcst, refT)
    val got = params.collect() // must not throw
    assert(got.map(_.getLong(0)).toSet === Set(2L),
      "only the healthy group fits; degenerate groups drop out")
    // The raw fit expression itself must evaluate to a NULL struct
    // (not crash) over constant anchors, under whole-stage codegen.
    val flat = spark.range(1, 6).selectExpr(
      "array(1.0d, 1.0d, 1.0d, 1.0d, 1.0d) as xs",
      "array(2.0d, 2.0d, 2.0d, 2.0d, 2.0d) as ys")
      .withColumn("fit",
        graft.expressions.SplineColumns.bsplineFit(col("xs"), col("ys")))
    assert(flat.filter(col("fit").isNotNull).count() === 0L)
    assert(flat.filter(col("fit").isNull).count() === 5L)
    // And the apply path over the surviving params still runs.
    val app = rows.map { case (i, g, v) => (i + 1000L, g, v) }
      .toDF("event_id", "grp", "value")
    val applied = Climate.bsplineTransferApply(Seq("grp"), params, app)
    assert(applied.count() > 0)
  }

  test("pet_oudin: calc_delta_PET recomputed exactly; Re table drives the seasonality") {
    val ev = graft.Tables.events(spark, sf)
      .select("user_id", "ts", "value").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
    val ra = Climate.raByDoy.toMap
    val expect = ev.groupBy { case (u, ts, _) =>
      (u, ts.toLocalDateTime.toLocalDate)
    }.map { case ((u, d), xs) =>
      val cents = xs.map(x => math.floor(x._3 * 100 + 0.5).toLong).sum
      val ta = cents.toDouble / (xs.size * 1000.0)
      val p = cents.toDouble / (xs.size * 5000.0)
      val re = ra(d.getDayOfYear)
      val pet = if (ta + 5.0 > 0.0)
        re / ((2.501 - 0.002361 * ta) * 1000.0) * ((ta + 5.0) / 45.0) * 1000.0
      else 0.0
      (u, d.toString) -> ((math.floor(pet * 1e4 + 0.5) / 1e4,
        math.floor((pet - p) * 1e4 + 0.5) / 1e4))
    }
    val got = SparkEntry.queries("pet_oudin")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(got === expect)
    assert(got.values.forall { case (pet, _) => pet >= 0.0 })
    // seasonality: PET tracks the radiation table — for a FIXED
    // station, days with higher Re and similar Ta must not rank lower
    assert(got.nonEmpty)
  }

  test("bias_parametric_apply: both distribution branches recomputed from the literal params") {
    import graft.functions.StatKernels
    // gammaPInv round-trips its own CDF across shapes
    for (a <- Seq(0.7, 1.2, 2.5, 5.0); p <- Seq(0.01, 0.2, 0.5, 0.9, 0.99)) {
      val z = StatKernels.gammaPInv(a, p)
      assert(math.abs(StatKernels.gammaP(a, z) - p) < 1e-10, s"a=$a p=$p")
    }
    // anchors are strictly increasing in p (a quantile function)
    Climate.pretrainedGammaAnchors.foreach { case (g, as) =>
      as.sliding(2).foreach { case Seq((_, q1), (_, q2)) =>
        assert(q2 > q1, s"grp $g anchors monotone")
      }
    }
    val par = Climate.pretrainedParametric
      .map(t => t._1 -> t).toMap
    val anchors = Climate.pretrainedGammaAnchors.toMap
    val sf01 = "/root/testdata/sf0.01"
    val ev = graft.Tables.events(spark, sf01)
      .filter(col("event_type").isin("click", "view"))
      .select("event_id", "user_id", "event_type", "value").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1) % 20, r.getString(2), r.getDouble(3)))).toMap
    val got = SparkEntry.queries("bias_parametric_apply")(spark, sf01).collect()
    assert(got.length === ev.size)
    var nClamped = 0
    got.foreach { row =>
      val id = row.getAs[Long]("event_id")
      val (g, v, x) = ev(id)
      assert(row.getAs[Long]("grp") === g && row.getAs[String]("var") === v)
      val (_, muF, sdF, muO, sdO, aF, bF, _, _) = par(g)
      val raw =
        if (v == "view") muO + sdO * (x - muF) / sdF
        else {
          val p0 = StatKernels.gammaCdf(x, aF, bF)
          val p = math.min(math.max(p0, Climate.ParamQGrid.head),
            Climate.ParamQGrid.last)
          if (p != p0) nClamped += 1
          val as = anchors(g)
          val i = as.lastIndexWhere(_._1 <= p) min (as.size - 2)
          val (pl, ql) = as(i); val (ph, qh) = as(i + 1)
          ql + (p - pl) * (qh - ql) / (ph - pl)
        }
      assert(row.getAs[Double]("corrected")
        === math.floor(raw * 1e4 + 0.5) / 1e4, s"event $id ($v)")
    }
    assert(nClamped > 0, "winsorized-tail branch exercised")
  }

  test("quantileMapFitSpline: monotone on a dense probe grid, continuous at the edges") {
    import spark.implicits._
    val rnd = new scala.util.Random(42L)
    val fcst = (1L to 160L).map { id =>
      (id, id % 4, math.rint(rnd.nextDouble() * 900) / 10.0 + 5.0)
    }.toDF("event_id", "k", "value")
    val ref = (1001L to 1160L).map { id =>
      (id, id % 4, math.rint(rnd.nextDouble() * 600) / 10.0 + 20.0)
    }.toDF("event_id", "k", "value")
    // dense probe grid spanning past both range edges
    val probes = for (k <- 0L until 4L; i <- 0 to 400)
      yield (10000L + k * 1000 + i, k, i * 0.25)
    val out = Climate.quantileMapFitSpline(Seq("k"),
      fcst, ref, probes.toDF("event_id", "k", "value")).collect()
    assert(out.length === probes.length)
    val byK = out.map { r =>
      (r.getAs[Long]("k"), r.getAs[Long]("event_id"),
        r.getAs[Double]("corrected"))
    }.groupBy(_._1)
    assert(byK.size === 4)
    byK.foreach { case (k, rows) =>
      val ordered = rows.sortBy(_._2).map(_._3)
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          // monotone non-decreasing through in-range Hermite segments
          // AND across the constant-delta out-of-range boundaries
          assert(b >= a - 1e-9, s"k=$k not monotone: $a -> $b")
        case _ =>
      }
    }
  }

  // --- interpolation / categorization ------------------------------

  test("rating_curve: exact at breakpoints, monotone between them") {
    import spark.implicits._
    val got = SparkEntry.queries("rating_curve")(spark, sf)
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).sortBy(_._1)
    // interpolation passes exactly through the calibration breakpoints
    Climate.ratingBreakpoints.foreach { case (h, q) =>
      got.filter(p => math.abs(p._1 - h) < 1e-9)
        .foreach(p => assert(math.abs(p._2 - q) < 1e-9, s"h=$h"))
    }
    assert(got.sliding(2).forall { case Array(u, v) => v._2 >= u._2 - 1e-9; case _ => true })
    // hand-check one interior point: h=75 → 10 + 25/50*30 = 25
    val mid = got.filter(p => math.abs(p._1 - 75.0) < 25.0)
    mid.foreach { case (h, q) =>
      val expect = if (h < 50) h / 50 * 10 else 10 + (h - 50) / 50 * 30
      assert(math.abs(q - expect) < 1e-3, s"h=$h q=$q expect=$expect")
    }
  }

  test("danger_levels: categories respect thresholds") {
    SparkEntry.queries("danger_levels")(spark, sf).collect().foreach { r =>
      val v = r.getDouble(2)
      val expect = if (v < 80) "low" else if (v < 140) "medium"
        else if (v < 180) "high" else "extreme"
      assert(r.getString(3) === expect)
    }
  }

  test("healthcheck_freshness: the freshest collection has zero lag") {
    val rows = SparkEntry.queries("healthcheck_freshness")(spark, sf).collect()
    assert(rows.length === 5)
    assert(rows.map(_.getAs[Double]("lag_hours")).min === 0.0)
    assert(rows.exists(_.getAs[Boolean]("is_fresh")))
  }

  test("zonal_stats: zone counts partition the table") {
    val rows = SparkEntry.queries("zonal_stats")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n")).sum === Tables.events(spark, sf).count())
  }

  test("grid_regrid: bilinear interpolation reproduces a linear field exactly") {
    import spark.implicits._
    // v = 3y + 5x + 7 on a 4x4 node grid; any bilinear interp of a
    // linear field must return the field's own value at the point.
    val grid = (for (y <- 0 to 3; x <- 0 to 3)
      yield (y, x, 3.0 * y + 5.0 * x + 7.0)).toDF("gy", "gx", "v")
    val out = Climate.bilinear(grid, 0.25, 0.75).collect()
    assert(out.length === 9) // 3x3 interior cells
    out.foreach { r =>
      val expect = 3.0 * r.getAs[Double]("target_y") +
        5.0 * r.getAs[Double]("target_x") + 7.0
      assert(math.abs(r.getAs[Double]("value_interp") - expect) < 1e-9)
    }
    // the query itself: every surviving cell is interior, rows > 0
    val q = SparkEntry.queries("grid_regrid")(spark, sf).collect()
    assert(q.nonEmpty)
    assert(q.forall(r => r.getAs[Double]("target_y") > 0))
  }

  test("bias_reconstruct: planted deltas correct exactly, range clamps, triple never inverts") {
    import spark.implicits._
    import java.sql.Date
    val d1 = Date.valueOf("2024-01-01"); val d2 = Date.valueOf("2024-01-02")
    // station 1: fcst min runs 2 too cold, fcst range 1 too wide;
    // day 2's range delta would go negative -> clamps to 0
    val fc = Seq((1L, d1, 10.0, 3.0), (1L, d2, 12.0, 0.5))
      .toDF("user_id", "day", "vmin", "vrange")
    val ref = Seq((1L, d1, 13.0, 1.5), (1L, d2, 13.0, 1.0))
      .toDF("user_id", "day", "vmin", "vrange")
    // deltas: d_min = 13 - 11 = 2, d_range = 1.25 - 1.75 = -0.5
    val out = graft.operators.Climate.reconstructFrom(fc, ref)
      .collect().map(r => r.getAs[String]("day") -> r).toMap
    assert(out("2024-01-01").getAs[Double]("t_min_adj") === 12.0)
    assert(out("2024-01-01").getAs[Double]("t_max_adj") === 14.5) // 12 + (3 - 0.5)
    assert(out("2024-01-01").getAs[Double]("t_avg_adj") === 13.25)
    assert(out("2024-01-02").getAs[Double]("t_min_adj") === 14.0)
    assert(out("2024-01-02").getAs[Double]("t_max_adj") === 14.0) // range 0.5-0.5 -> 0
    // the full query: reconstruction invariants hold on every row
    val rows = SparkEntry.queries("bias_reconstruct")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mn, mx, av) = (r.getAs[Double]("t_min_adj"),
        r.getAs[Double]("t_max_adj"), r.getAs[Double]("t_avg_adj"))
      assert(mx >= mn)
      assert(math.abs(av - (mn + mx) / 2) < 1.1e-4)
    }
  }

  test("grid_coarsen: block rollup is the exact integer-arithmetic mean of cell means") {
    val ev = Tables.events(spark, sf)
      .select("user_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val cells = ev.groupBy { case (u, _) => (u % 8, u / 8 % 8) }
      .map { case (k, es) =>
        // cell micro-units from exact cents, the operator's recipe
        val sc = es.map(e => math.floor(e._2 * 100 + 0.5).toLong).sum
        k -> (math.floor((sc * 10000L).toDouble / es.size + 0.5).toLong,
          es.size.toLong)
      }
    val expect = cells.groupBy { case ((gy, gx), _) => (gy - gy % 2, gx - gx % 2) }
      .map { case (b, cs) =>
        val vus = cs.values.map(_._1).toSeq
        b -> (cs.size.toLong, cs.values.map(_._2).sum,
          math.floor(vus.sum.toDouble / vus.size + 0.5) / 1e6,
          vus.min.toDouble / 1e6, vus.max.toDouble / 1e6)
      }
    val got = SparkEntry.queries("grid_coarsen")(spark, sf).collect()
    assert(got.length === expect.size)
    got.foreach { r =>
      val (ec, eo, em, emin, emax) = expect((r.getLong(0), r.getLong(1)))
      assert(r.getLong(2) === ec); assert(r.getLong(3) === eo)
      assert(math.abs(r.getDouble(4) - em) < 1.1e-6, s"block ${(r.getLong(0), r.getLong(1))}")
      assert(math.abs(r.getDouble(5) - emin) < 1.1e-6)
      assert(math.abs(r.getDouble(6) - emax) < 1.1e-6)
    }
  }

  test("grid_gradient: central differences and octant aspect from exact cells") {
    // independent recompute at sf0.01 (sf0.001 has too few stations
    // to fill the 8x8 grid with interior cells)
    val dir = "/root/testdata/sf0.01"
    val ev = Tables.events(spark, dir)
      .select("user_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val cells = ev.groupBy { case (u, _) => (u % 8, u / 8 % 8) }
      .map { case (k, es) =>
        val sc = es.map(e => math.floor(e._2 * 100 + 0.5).toLong).sum
        k -> math.floor((sc * 10000L).toDouble / es.size + 0.5).toLong
      }
    val rows = SparkEntry.queries("grid_gradient")(spark, dir).collect()
    assert(rows.nonEmpty)
    val interior = cells.keySet.filter { case (y, x) =>
      Seq((y, x + 1), (y, x - 1), (y + 1, x), (y - 1, x)).forall(cells.contains) }
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet === interior)
    rows.foreach { r =>
      val (y, x) = (r.getLong(0), r.getLong(1))
      val ddx = cells((y, x + 1)) - cells((y, x - 1))
      val ddy = cells((y + 1, x)) - cells((y - 1, x))
      assert(r.getDouble(2) === math.floor(ddx / 2.0 + 0.5) / 1e6, s"dzdx $y $x")
      assert(r.getDouble(3) === math.floor(ddy / 2.0 + 0.5) / 1e6, s"dzdy $y $x")
      assert(r.getDouble(4) ===
        math.floor(math.sqrt((ddx * ddx + ddy * ddy).toDouble) / 2.0 + 0.5) / 1e6,
        s"slope $y $x")
      val aspect =
        if (ddx == 0 && ddy == 0) "flat"
        else if (math.abs(ddx) >= 2 * math.abs(ddy)) { if (ddx > 0) "E" else "W" }
        else if (math.abs(ddy) >= 2 * math.abs(ddx)) { if (ddy > 0) "N" else "S" }
        else if (ddx > 0) { if (ddy > 0) "NE" else "SE" }
        else { if (ddy > 0) "NW" else "SW" }
      assert(r.getString(5) === aspect, s"aspect $y $x")
      // slope is never below the larger axis derivative's magnitude
      assert(r.getDouble(4) + 1e-6 >=
        math.max(math.abs(r.getDouble(2)), math.abs(r.getDouble(3))))
    }
  }

  test("grid_fill_nodata: masked cells take the exact valid-neighbor mean; valid cells pass through") {
    val dir = "/root/testdata/sf0.01"
    val ev = Tables.events(spark, dir)
      .select("user_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val cells = ev.groupBy { case (u, _) => (u % 8, u / 8 % 8) }
      .map { case (k, es) =>
        val sc = es.map(e => math.floor(e._2 * 100 + 0.5).toLong).sum
        k -> math.floor((sc * 10000L).toDouble / es.size + 0.5).toLong
      }
    def masked(y: Long, x: Long): Boolean = (x * 8 + y) % 7 == 3
    val rows = SparkEntry.queries("grid_fill_nodata")(spark, dir).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet === cells.keySet)
    rows.foreach { r =>
      val (y, x) = (r.getLong(0), r.getLong(1))
      assert(r.getBoolean(2) === masked(y, x), s"mask flag $y $x")
      if (!masked(y, x)) {
        assert(r.getDouble(3) === cells((y, x)).toDouble / 1e6, s"passthrough $y $x")
        assert(r.isNullAt(4), "valid cells carry no neighbor count")
      } else {
        val nbs = for {
          dy <- -1L to 1L; dx <- -1L to 1L
          if dy != 0 || dx != 0
          v <- cells.get((y + dy, x + dx)) if !masked(y + dy, x + dx)
        } yield v
        assert(r.getLong(4) === nbs.size.toLong, s"n_neighbors $y $x")
        val expect = math.floor(nbs.sum.toDouble / nbs.size + 0.5) / 1e6
        assert(r.getDouble(3) === expect, s"filled value $y $x")
      }
    }
    // the mask actually bites: both populations present
    assert(rows.count(_.getBoolean(2)) > 0 && rows.count(!_.getBoolean(2)) > 0)
  }

  test("flow_duration_curve: order statistics match brute-force; curve is non-increasing in p") {
    val dayZero = java.time.LocalDate.parse("2024-01-01").toEpochDay
    val raw = Tables.events(spark, sf)
      .select("user_id", "ts", "value").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
    val rows = SparkEntry.queries("flow_duration_curve")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    raw.groupBy(_._1).foreach { case (u, evs) =>
      val daily = evs.groupBy(e =>
          e._2.toLocalDateTime.toLocalDate.toEpochDay - dayZero)
        .map { case (_, es) =>
          val cents = es.map(e => math.floor(e._3 * 100 + 0.5).toLong).sum
          cents.toDouble / (es.size * 100.0)
        }.toSeq.sortBy(-_)
      val n = daily.size
      Climate.FdcProbs.foreach { p =>
        val k = (p * n + 99) / 100
        val r = rows((u, p.toLong))
        assert(r.getLong(2) === n.toLong, s"n_days $u")
        assert(r.getDouble(3) ===
          math.floor(daily(k - 1) * 1e4 + 0.5) / 1e4, s"q_exceed $u p=$p")
      }
      // non-increasing in p (higher exceedance prob → lower flow)
      val curve = Climate.FdcProbs.map(p => rows((u, p.toLong)).getDouble(3))
      curve.sliding(2).foreach { case Seq(a, b) => assert(a >= b) }
    }
    // planted: 1..100 daily values → Qp is the (100−p)-quantile exactly
    import spark.implicits._
    val planted = (1 to 100).map(d =>
      (9L, new java.sql.Timestamp(
        java.sql.Timestamp.valueOf("2024-01-01 12:00:00").getTime
          + (d - 1) * 86400000L), d.toDouble))
      .toDF("user_id", "ts", "value")
    val fdc = Climate.flowDurationCurveOf(planted).collect()
      .map(r => r.getLong(1) -> r.getDouble(3)).toMap
    Climate.FdcProbs.foreach { p =>
      assert(fdc(p.toLong) === (101 - p).toDouble, s"planted Q$p")
    }
  }

  test("baseflow_lh: identity q = baseflow + quickflow; constant series decays to all-baseflow; recursion matches brute-force") {
    // identity + bounds on the real slice
    val rows = SparkEntry.queries("baseflow_lh")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (q, bf, qf) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(math.abs(q - (bf + qf)) < 2.1e-4, "q = baseflow + quickflow")
      assert(bf >= 0 && bf <= q + 1e-9, "baseflow within [0, q]")
    }
    // constant series: f decays geometrically from q/2 → quickflow → 0
    import spark.implicits._
    def t(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    val const = (1 to 20).map(d => (1L, t(d), 8.0)).toDF("user_id", "ts", "value")
    val cr = Climate.baseflowLhOf(const).collect().sortBy(_.getString(1))
    assert(cr.head.getDouble(4) === 4.0, "anchor quickflow = q/2")
    assert(cr.last.getDouble(4) < 1.2, "quickflow decays (0.925^19·4 ≈ 0.9)")
    cr.sliding(2).foreach { case Array(a, b) =>
      assert(b.getDouble(4) <= a.getDouble(4) + 1e-9, "monotone decay")
    }
    // brute-force recursion on a varying planted series
    val vals = Seq(10.0, 14.0, 6.0, 6.0, 20.0, 3.0)
    val varying = vals.zipWithIndex.map { case (v, i) => (2L, t(i + 1), v) }
      .toDF("user_id", "ts", "value")
    val vr = Climate.baseflowLhOf(varying).collect().sortBy(_.getString(1))
    var f = vals.head / 2.0
    vals.zipWithIndex.foreach { case (q, i) =>
      if (i > 0) f = Climate.LhAlpha * f + Climate.LhHalf * (q - vals(i - 1))
      val qf = math.min(math.max(f, 0.0), q)
      assert(vr(i).getDouble(4) === math.floor(qf * 1e4 + 0.5) / 1e4,
        s"quickflow step $i")
      assert(vr(i).getDouble(3) === math.floor((q - qf) * 1e4 + 0.5) / 1e4,
        s"baseflow step $i")
    }
  }

  test("spei_zscore: standardized balance has mean ~0 / std ~1 per station; balance matches a PET recompute") {
    val rows = SparkEntry.queries("spei_zscore")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byUser = rows.groupBy(_.getLong(0))
    byUser.foreach { case (u, rs) =>
      val zs = rs.filter(!_.isNullAt(3)).map(_.getDouble(3))
      if (zs.length >= 10) {
        val mean = zs.sum / zs.length
        val sd = math.sqrt(zs.map(z => (z - mean) * (z - mean)).sum
          / (zs.length - 1))
        assert(math.abs(mean) < 0.05, s"mean station $u")
        assert(math.abs(sd - 1.0) < 0.05, s"std station $u")
      }
      // drought flag tracks the threshold on the UNQUANTIZED index, so
      // against the 1e-4-quantized output it can only disagree within
      // half a quantum of the boundary
      rs.foreach { r =>
        if (!r.isNullAt(3)) {
          if (r.getBoolean(4)) assert(r.getDouble(3) <= -0.9999,
            s"flagged but index above threshold, station $u")
          else assert(r.getDouble(3) >= -1.0001,
            s"unflagged but index below threshold, station $u")
        }
      }
    }
    // balance = prcp − hargreaves PET, recomputed for one station-day
    val ev = Tables.events(spark, sf)
      .select("user_id", "ts", "value").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
    val (u0, d0) = (rows.head.getLong(0), rows.head.getString(1))
    val es = ev.filter(e => e._1 == u0 &&
      e._2.toLocalDateTime.toLocalDate.toString == d0)
    val cents = es.map(e => math.floor(e._3 * 100 + 0.5).toLong).sum
    val tmean = cents.toDouble / (es.length * 1000.0)
    val prcp = cents.toDouble / (es.length * 100.0)
    val (tmax, tmin) = (es.map(_._3).max / 10.0, es.map(_._3).min / 10.0)
    val doy = java.time.LocalDate.parse(d0).getDayOfYear
    val ra = Climate.raByDoy(doy - 1)._2
    val pet = 0.0023 * ra * (tmean + 17.8) *
      math.sqrt(math.max(tmax - tmin, 0.0))
    val balU = math.floor((prcp - pet) * 1e4 + 0.5)
    assert(rows.head.getDouble(2) === balU / 1e4, "balance recompute")
  }

  test("bias_qdm: identical obs/hist is the identity; a uniform future shift is preserved exactly") {
    import spark.implicits._
    def t(d: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    // obs ('view') and hist ('click' pre-split) carry the SAME value
    // set → obs_q(p) − hist_q(p) ≡ 0 at every p → corrected = value
    val vals = Seq(3.0, 7.0, 11.0, 19.0, 42.0)
    val base = vals.zipWithIndex.flatMap { case (v, i) => Seq(
      (100L + i, 1L, t(2, i), "view", v),
      (200L + i, 1L, t(3, i), "click", v))
    }
    val future = Seq(5.0, 12.0, 30.0).zipWithIndex.map { case (v, i) =>
      (300L + i, 1L, t(20, i), "click", v)
    }
    val ev = (base ++ future)
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val r = Climate.biasQdmOf(ev).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r.size === 3)
    future.foreach { case (id, _, _, _, v) =>
      assert(r(id).getDouble(3) === 0.0, s"delta event $id")
      assert(r(id).getDouble(4) === v, s"identity event $id")
    }
    // trend preservation: shifting every future value by +c shifts the
    // corrected output by exactly +c (ranks, hence deltas, unchanged)
    // — the property plain quantile mapping does NOT have
    val c = 100.0
    val shifted = (base ++ future.map(f => f.copy(_5 = f._5 + c)))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val rs = Climate.biasQdmOf(shifted).collect()
      .map(x => x.getLong(0) -> x).toMap
    future.foreach { case (id, _, _, _, v) =>
      assert(rs(id).getDouble(3) === r(id).getDouble(3), s"delta stable $id")
      assert(rs(id).getDouble(4) === r(id).getDouble(4) + c,
        s"shift preserved $id")
    }
  }

  test("spi_multiscale: each scale slice equals the dedicated single-scale query") {
    val multi = SparkEntry.queries("spi_multiscale")(spark, sf).collect()
      .groupBy(_.getInt(2))
    assert(multi.keySet === Set(3, 7, 14))
    Seq(3, 7, 14).foreach { s =>
      val slice = multi(s).map(r => r.getLong(0) ->
        (if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
      val single = Climate.spiGamma(spark, sf, s).collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
      assert(slice.keySet === single.keySet, s"scale $s ids")
      slice.foreach { case (id, v) =>
        (v, single(id)) match {
          case (Some(a), Some(b)) =>
            // same arithmetic; partial-agg order in the fit may differ
            // by an ulp, so allow one 1e-4 quantum
            assert(math.abs(a - b) < 1.1e-4, s"scale $s event $id")
          case (a, b) => assert(a === b, s"scale $s event $id nullness")
        }
      }
    }
  }

  test("zonal_drought_extent: weekly fractions consistent with the all-time zonal index") {
    val rows = SparkEntry.queries("zonal_drought_extent")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, dn, ext) = (r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(dn >= 0 && dn <= n)
      assert(ext >= 0.0 && ext <= 1.0)
      assert(math.abs(ext - math.floor(dn.toDouble / n * 1e4 + 0.5) / 1e4) < 1e-9)
    }
    // summing the weekly axis reproduces zonal_spi's all-time counts
    val byZone = rows.groupBy(r => (r.getInt(0), r.getInt(1)))
      .view.mapValues(rs => (rs.map(_.getLong(3)).sum, rs.map(_.getLong(4)).sum))
    val allTime = SparkEntry.queries("zonal_spi")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getAs[Long]("drought_n")))).toMap
    assert(byZone.keySet === allTime.keySet)
    byZone.foreach { case (z, (n, dn)) =>
      assert((n, dn) === allTime(z), s"zone $z")
    }
  }

  test("grid_pyramid: one-pass grouping-sets levels agree with coarsen and partition the data") {
    val pyr = SparkEntry.queries("grid_pyramid")(spark, sf).collect()
    val l2 = pyr.filter(_.getInt(0) == 2).map(r => (r.getLong(1), r.getLong(2)) ->
      ((r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))).toMap
    val co = SparkEntry.queries("grid_coarsen")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    assert(l2 === co, "the pyramid's 2x2 level must equal the dedicated coarsen query")
    val global = pyr.filter(_.getInt(0) == 0)
    assert(global.length === 1)
    assert(global(0).getLong(1) === -1L && global(0).getLong(2) === -1L)
    val nEvents = Tables.events(spark, sf).count()
    assert(global(0).getLong(4) === nEvents, "global n_obs covers every event")
    val l4 = pyr.filter(_.getInt(0) == 4)
    assert(l4.map(_.getLong(4)).sum === nEvents, "4x4 blocks partition the events")
    assert(l2.values.map(_._2).sum === nEvents, "2x2 blocks partition the events")
    assert(l4.map(_.getLong(3)).sum === global(0).getLong(3), "cells partition")
  }

  test("spi gamma params: export -> parquet -> apply is bit-identical to fit-and-apply") {
    val x = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value").as("x"))
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0),
        // bit-level compare (and NaN==NaN, unlike Double equality)
        if (r.isNullAt(3)) None
        else Some(java.lang.Double.doubleToLongBits(r.getDouble(3)))))
        .sortBy(_._1)
    val direct = canon(Climate.spiGammaOn(x, x).collect())
    val tmp = java.nio.file.Files.createTempDirectory("gamma_params").toString
    Climate.spiGammaParams(x).write.mode("overwrite").parquet(tmp)
    val viaTable = canon(
      Climate.spiGammaApply(x, spark.read.parquet(tmp)).collect())
    assert(direct.sameElements(viaTable),
      "a pretrained gamma param table must reproduce the fused fit/apply bit-for-bit")
    assert(direct.exists(_._2.isDefined))
  }

  test("rating_volume_daily: trapezoid integration matches local fold") {
    val rows = SparkEntry.queries("rating_volume_daily")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))))
      .toMap
    val raw = Tables.events(spark, sf)
      .select("event_id", "user_id", "ts", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
    val dayMs = 86400000L
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val byDay = raw.groupBy(e => (e._2, fmt.format(new java.util.Date(
      e._3.getTime - (e._3.getTime % dayMs)))))
    assert(rows.size === byDay.size)
    byDay.foreach { case (k, evs) =>
      def us(t: java.sql.Timestamp): Long =
        t.getTime / 1000 * 1000000L + t.getNanos / 1000
      val ordered = evs.sortBy(e => (us(e._3), e._1)).toSeq
      val terms = ordered.sliding(2).collect { case Seq(a, b) =>
        math.floor((b._4 + a._4) / 2.0 *
          ((us(b._3) - us(a._3)).toDouble / 1e6) * 1e4 + 0.5).toLong
      }.toSeq
      val (n, vol) = rows(k)
      assert(n === evs.size.toLong, s"count $k")
      if (terms.isEmpty) assert(vol.isEmpty, s"single-sample day $k")
      else assert(vol.contains(terms.sum.toDouble / 1e4), s"volume $k")
    }
  }

  test("grid_contour_bands: bands partition the day-grid, edges are adjacent levels") {
    val rows = SparkEntry.queries("grid_contour_bands")(spark, sf).collect()
    assert(rows.nonEmpty)
    val lvls = Climate.contourLevels
    rows.foreach { r =>
      val lo = if (r.isNullAt(1)) None else Some(r.getInt(1))
      val hi = if (r.isNullAt(2)) None else Some(r.getInt(2))
      (lo, hi) match {
        case (None, Some(h))    => assert(h == lvls.head, s"open-below band: $r")
        case (Some(l), None)    => assert(l == lvls.last, s"open-above band: $r")
        case (Some(l), Some(h)) =>
          assert(lvls.indexOf(h) == lvls.indexOf(l) + 1, s"non-adjacent band: $r")
        case (None, None)       => fail(s"unbounded band: $r")
      }
      // the band mean lies inside the band (1e-4: v_mean is quantized
      // to the 1e-4 grid and may round onto the boundary)
      val v = r.getDouble(8)
      lo.foreach(l => assert(v >= l - 1e-4, s"mean below lvl_min: $r"))
      hi.foreach(h => assert(v < h + 1e-4, s"mean at/above lvl_max: $r"))
    }
    // every (day, cell) lands in exactly one band
    val nCellDays = Tables.events(spark, sf)
      .select(date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd"),
        col("user_id")).distinct.count()
    assert(rows.map(_.getLong(3)).sum === nCellDays)
  }

  test("forecast_deficit_bands: clamped non-negative, band-monotone in q, full grid") {
    val rows = SparkEntry.queries("forecast_deficit_bands")(spark, sf).collect()
    assert(rows.nonEmpty)
    // the zero clamp: a deficit can never go negative
    rows.foreach(r => assert(r.getDouble(3) >= 0.0, s"negative deficit: $r"))
    // percentile bands are elementwise ordered in q, and max(d+x,0) is
    // monotone in both args, so cumulative deficits inherit the order
    rows.groupBy(r => (r.getLong(0), r.getString(1))).foreach { case (k, rs) =>
      val byQ = rs.sortBy(_.getDouble(2)).map(_.getDouble(3)).toSeq
      assert(byQ.size == 5, s"$k: expected 5 bands, got ${byQ.size}")
      byQ.sliding(2).foreach {
        case Seq(a, b) => assert(a <= b + 1e-9, s"$k: band order violated $a > $b")
        case _         =>
      }
    }
    // one row per (cell, day) × 5 quantiles — no cell silently dropped
    val nCells = Tables.events(spark, sf)
      .select(col("user_id"),
        date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd"))
      .distinct.count()
    assert(rows.length == nCells * 5)
  }

  test("drought_episodes: one exchange, one sort — window layers share the key sort") {
    val plan = SparkEntry.queries("drought_episodes")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan.take(400))
    assert("\\bSort \\[".r.findAllIn(plan).size === 1,
      "stats window drifted off the ordered spec (second Sort planned)")
  }

  test("drought_episodes: run boundaries, duration, peak, severity on a constructed series") {
    import spark.implicits._
    // key 1: eight 10s and three 0s (n=11) → mean 80/11; the 0s dip
    // below −1: positions 5,6 (one 2-obs episode) and 9 (1-obs episode)
    val vals = Seq(10.0, 10, 10, 10, 0, 0, 10, 10, 0, 10, 10)
    val k1 = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00"), 1L, "t", v)
    }
    // key 2: constant → sd 0 → null index everywhere → NO episodes
    val k2 = (0 until 5).map { i =>
      (100L + i, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00"), 2L, "t", 5.0)
    }
    // key 3: the dip is the FIRST observation (lag-null run start)
    val k3 = Seq(0.0, 10, 10, 10, 10, 10).zipWithIndex.map { case (v, i) =>
      (200L + i, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00"), 3L, "t", v)
    }
    val ev = (k1 ++ k2 ++ k3).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Climate.droughtEpisodesOf(ev).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3), r.getString(4),
        r.getLong(5), r.getDouble(6), r.getDouble(7)))
      .sortBy(t => (t._1, t._2))
    val m = 80.0 / 11
    val sd = math.sqrt((8 * (10 - m) * (10 - m) + 3 * m * m) / 10)
    val z0 = BigDecimal((0.0 - m) / sd)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble // −1.557
    assert(got.count(_._1 == 1L) === 2)
    val Seq(e1, e2) = got.filter(_._1 == 1L).toSeq
    assert((e1._2, e1._3, e1._4, e1._5) === (1L, "2024-01-01 00:04:00", "2024-01-01 00:05:00", 2L))
    assert(e1._6 === z0 && e1._7 === -2 * z0)
    assert((e2._2, e2._5, e2._6, e2._7) === (2L, 1L, z0, -z0))
    assert(got.forall(_._1 != 2L), "constant series must yield no episodes")
    val k3eps = got.filter(_._1 == 3L)
    assert(k3eps.length === 1 && k3eps(0)._3 === "2024-01-01 00:00:00" &&
      k3eps(0)._5 === 1L)
  }

  test("return_levels: Gumbel MoM levels recomputed exactly from weekly block maxima") {
    val ev = Tables.events(spark, sf).select("user_id", "ts", "value").collect()
    val d0 = java.time.LocalDate.of(2024, 1, 1)
    val daily = ev.groupBy { r =>
      (r.getLong(0), java.time.temporal.ChronoUnit.DAYS.between(
        d0, r.getTimestamp(1).toLocalDateTime.toLocalDate))
    }.map { case (k, rs) =>
      k -> rs.map(r => math.floor(r.getDouble(2) * 100 + 0.5).toLong).sum
    }
    val blocks = daily.groupBy { case ((u, x), _) => (u, x / 7) }
      .map { case (k, m) => k -> m.values.max }
    val expect = blocks.groupBy(_._1._1).filter(_._2.size >= 2).flatMap {
      case (u, bs) =>
        val bm = bs.values.toSeq
        val n = bm.size.toLong
        val s1 = bm.sum; val s2 = bm.map(b => b * b).sum
        val m = s1.toDouble / (n * 100.0)
        val beta = math.sqrt((n * s2 - s1 * s1).toDouble / (n * (n - 1)) / 1e4) *
          Climate.GumbelSqrt6Pi
        Climate.ReturnPeriods.map { case (t, y) =>
          (u, t.toLong) -> ((n, if (beta > 0)
            Some(math.floor((m - Climate.GumbelGamma * beta + y * beta) * 1e4 + 0.5) / 1e4)
          else None))
        }
    }
    val got = SparkEntry.queries("return_levels")(spark, sf).collect().map { r =>
      (r.getLong(0), r.getLong(2)) ->
        ((r.getLong(1), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    }.toMap
    assert(got === expect)
    assert(got.nonEmpty)
    // return levels must be non-decreasing in T for every station
    val byStation = got.toSeq.groupBy(_._1._1)
    byStation.foreach { case (_, rows) =>
      val lv = rows.sortBy(_._1._2).map(_._2._2)
      if (lv.forall(_.isDefined))
        assert(lv.map(_.get) === lv.map(_.get).sorted)
    }
  }

  test("zonal_transitions: onsets/recoveries/max-run recomputed from the extent table") {
    val ext = SparkEntry.queries("zonal_drought_extent")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getDouble(5)))
    val expect = ext.groupBy(e => (e._1, e._2)).map { case (z, rows) =>
      val seq = rows.sortBy(_._3).map(e => if (e._4 >= 0.075) 1 else 0).toSeq
      val pairs = seq.zip(seq.drop(1))
      var run = 0; var mx = 0
      seq.foreach { d =>
        if (d == 1) { run += 1; mx = math.max(mx, run) } else run = 0 }
      z -> ((seq.length.toLong, seq.count(_ == 1).toLong,
        pairs.count { case (p, c) => p == 0 && c == 1 }.toLong,
        pairs.count { case (p, c) => p == 1 && c == 0 }.toLong,
        mx.toLong))
    }
    val got = SparkEntry.queries("zonal_transitions")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("forecast_crps: exact ensemble form recomputed; degenerate ensemble = MAE") {
    val ev = graft.Tables.events(spark, sf).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3),
        r.getDouble(4)))
    def weekOf(ts: java.sql.Timestamp): String = {
      val d = ts.toLocalDateTime.toLocalDate
      val monday = d.minusDays((d.getDayOfWeek.getValue - 1).toLong)
      monday.toString
    }
    def meanU(xs: Seq[Double]): Long = {
      val cents = xs.map(v => math.floor(v * 100 + 0.5).toLong).sum
      math.floor(cents.toDouble / xs.size * 100.0 + 0.5).toLong
    }
    val obs = ev.filter(_._4 == "view").groupBy(e => (e._3, weekOf(e._2)))
      .view.mapValues(es => meanU(es.map(_._5).toSeq)).toMap
    val mem = ev.filter(_._4 == "click")
      .groupBy(e => (e._3, weekOf(e._2), e._1 % 5))
      .view.mapValues(es => meanU(es.map(_._5).toSeq)).toMap
      .groupBy { case ((u, w, _), _) => (u, w) }
      .view.mapValues(_.values.toSeq).toMap
    val got = SparkEntry.queries("forecast_crps")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.nonEmpty)
    got.foreach { case ((u, w), (m, crps)) =>
      val xs = mem((u, w)); val y = obs((u, w))
      assert(m === xs.size.toLong)
      val sae = xs.map(x => math.abs(x - y)).sum
      val spread = (for (a <- xs; b <- xs) yield math.abs(a - b)).sum
      val expect = math.floor(sae.toDouble / m
        - spread.toDouble / (2.0 * m * m) + 0.5) / 1e4
      assert(crps === expect, s"($u,$w)")
      assert(crps >= 0.0, "CRPS is non-negative")
    }
    // every (station, week) with both sides scored exactly once
    assert(got.keySet === obs.keySet.intersect(mem.keySet))
    // property: a degenerate one-member ensemble's CRPS is plain MAE
    val ones = got.collect { case ((u, w), (1L, c)) =>
      c -> (math.floor(math.abs(mem((u, w)).head - obs((u, w))).toDouble + 0.5) / 1e4) }
    ones.foreach { case (c, mae) => assert(c === mae) }
  }

  test("station_neighbor_corr: argmin neighbor and Pearson recomputed exactly") {
    val sf = "/root/testdata/sf0.01"
    val ev = graft.Tables.events(spark, sf).collect()
      .map(r => (r.getTimestamp(1), r.getLong(2), r.getDouble(4)))
    val daily = ev.groupBy(e => (e._2, e._1.toLocalDateTime.toLocalDate))
      .view.mapValues { xs =>
        val cents = xs.map(x => math.floor(x._3 * 100 + 0.5).toLong).sum
        math.floor(cents.toDouble * 100.0 / xs.size + 0.5).toLong
      }.toMap
    val stations = daily.keys.map(_._1).toSeq.distinct.sorted
    def coords(u: Long) = ((u % 36) * 5.0 - 87.5, (u % 72) * 5.0 - 177.5)
    val got = SparkEntry.queries("station_neighbor_corr")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    assert(got.keySet === stations.toSet)
    got.foreach { case (u, (nbId, dist, nDays, rOpt)) =>
      val (la, lo) = coords(u)
      val best = stations.filter(_ != u).map { v =>
        val (lb, lob) = coords(v)
        ((la - lb) * (la - lb) + (lo - lob) * (lo - lob), v)
      }.min
      assert(nbId === best._2, s"station $u neighbor")
      assert(dist === math.floor(math.sqrt(best._1) * 1e4 + 0.5) / 1e4)
      val days = daily.keys.collect { case (`u`, d) if daily.contains((nbId, d)) => d }
      assert(nDays === days.size.toLong)
      if (nDays >= 5) {
        val xs = days.toSeq.map(d => daily((u, d)))
        val ys = days.toSeq.map(d => daily((nbId, d)))
        val n = xs.size.toLong
        val (sx, sy) = (xs.sum, ys.sum)
        val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
        val (sxx, syy) = (xs.map(a => a * a).sum, ys.map(a => a * a).sum)
        val (dx, dy) = (n * sxx - sx * sx, n * syy - sy * sy)
        if (dx > 0 && dy > 0) {
          val expect = math.floor((n * sxy - sx * sy).toDouble
            / math.sqrt(dx.toDouble * dy.toDouble) * 1e4 + 0.5) / 1e4
          assert(rOpt === Some(expect), s"station $u r")
          assert(rOpt.get >= -1.0 && rOpt.get <= 1.0)
        }
      }
    }
  }

  test("nearestNeighborOf: cell-bucketed search is exact across cell boundaries; no cartesian node") {
    import spark.implicits._
    val C = graft.operators.Climate.NnCellDeg
    def brute(sts: Seq[(Long, Double, Double)]): Map[Long, (Long, Double)] =
      sts.map { case (u, la, lo) =>
        val cands = sts.filter(_._1 != u).map { case (v, lb, lob) =>
          ((la - lb) * (la - lb) + (lo - lob) * (lo - lob), v)
        }
        u -> (if (cands.isEmpty) (-1L, -1.0)
              else { val m = cands.min; (m._2, m._1) })
      }.filter(_._2._1 >= 0).toMap
    def run(sts: Seq[(Long, Double, Double)]): Map[Long, (Long, Double)] = {
      val df = sts.toDF("user_id", "lat", "lon")
      graft.operators.Climate.nearestNeighborOf(df).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    }
    // (a) true NN in the ADJACENT cell while a same-cell candidate
    // exists farther away: station 1 at 9.9 has same-cell peer at 1.0
    // (d=8.9) but cross-boundary peer at 10.2 (d=0.3)
    val a = Seq((1L, 9.9, 0.0), (2L, 1.0, 0.0), (3L, 10.2, 0.0))
    assert(run(a) === brute(a))
    assert(run(a)(1L)._1 === 3L, "cross-boundary neighbor wins")
    // (b) pass-2 ring expansion: station 1 (lon 9.9) sees only the
    // in-ring candidate at d=14.9 > C; the true NN at d=11.1 sits two
    // cells over — only the R=2 re-search reaches it. Station 3's own
    // 3x3 ring is EMPTY (lon 9.9 just misses cell 1), exercising the
    // network-extent fallback in the same scenario.
    val b = Seq((1L, 5.0, 9.9), (2L, 5.0, -5.0), (3L, 5.0, 21.0),
      (4L, 80.0, 170.0), (5L, 80.0, 169.0))
    assert(run(b) === brute(b))
    assert(run(b)(1L)._1 === 3L, "ring-2 neighbor beats ring-1 candidate")
    assert(run(b)(3L)._1 === 1L, "empty-ring station finds NN via extent radius")
    // (c) isolated station (empty 3x3 ring -> network-extent radius)
    // and exact-duplicate positions (dist 0, id tie-break)
    val c = Seq((1L, 0.0, 0.0), (2L, 55.0, 120.0), (3L, 55.0, 120.0),
      (9L, -60.0, -150.0))
    assert(run(c) === brute(c))
    assert(run(c)(3L) === ((2L, 0.0)), "duplicate position ties on smaller id")
    // (d) single station: no peer, no row (cross-join semantics)
    assert(run(Seq((7L, 1.0, 2.0))).isEmpty)
    // (e) scatter: brute-force equality over a mixed-density network
    val e = (0 until 40).map { i =>
      (i.toLong, (i * 37 % 29) * 6.1 - 80.0, (i * 53 % 61) * 5.3 - 160.0)
    }
    assert(run(e) === brute(e))
    // (f) the plan never falls back to a cartesian/nested-loop join —
    // the point of the bucketed rewrite
    Seq(graft.operators.Climate.nearestNeighborOf(e.toDF("user_id", "lat", "lon")),
        SparkEntry.queries("station_neighbor_corr")(spark, sf)).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), "no CartesianProduct node")
      assert(!plan.contains("BroadcastNestedLoopJoin"), "no BNLJ node")
    }
  }

  test("ts_double_mass: cumulatives monotone, ratio consistent, breaks detectable") {
    val rows = SparkEntry.queries("ts_double_mass")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (u, rs) =>
      val seq = rs.sortBy(_._2)
      // cumulative totals never decrease (values are non-negative)
      seq.map(_._3).zip(seq.map(_._3).drop(1)).foreach { case (a, b) =>
        assert(b >= a, s"station $u cum_station monotone") }
      seq.map(_._4).zip(seq.map(_._4).drop(1)).foreach { case (a, b) =>
        assert(b >= a, s"station $u cum_reference monotone") }
      // ratio is the quotient of the two emitted cumulatives
      seq.foreach { case (_, d, cs, cr, ratio) =>
        ratio.foreach(x =>
          assert(math.abs(x - cs / cr) < 5e-4, s"station $u $d ratio"))
      }
    }
  }

  test("ts_recession_k: median falling-day ratio recomputed, k in (0, 1]") {
    val sf = "/root/testdata/sf0.01"
    val ev = graft.Tables.events(spark, sf).collect()
      .map(r => (r.getTimestamp(1), r.getLong(2), r.getDouble(4)))
    val daily = ev.groupBy(e => (e._2, e._1.toLocalDateTime.toLocalDate))
      .view.mapValues { xs =>
        val cents = xs.map(x => math.floor(x._3 * 100 + 0.5).toLong).sum
        cents.toDouble / (xs.size * 100.0)
      }.toMap
    val expect = daily.keys.groupBy(_._1).flatMap { case (u, ks) =>
      val days = ks.map(_._2).toSeq.sorted
      val ratios = days.zip(days.drop(1)).flatMap { case (d0, d1) =>
        val (q0, q1) = (daily((u, d0)), daily((u, d1)))
        if (q1 < q0 && q0 > 0)
          Some(math.floor(q1 / q0 * 1e4 + 0.5).toLong) else None
      }.sorted
      if (ratios.size < 3) None
      else {
        val pos = 0.5 * (ratios.size - 1)
        val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
        val med = ratios(lo) + (pos - lo) * (ratios(hi) - ratios(lo))
        Some(u -> ((ratios.size.toLong, math.floor(med + 0.5) / 1e4)))
      }
    }
    val got = SparkEntry.queries("ts_recession_k")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got === expect)
    got.values.foreach { case (_, k) => assert(k > 0.0 && k <= 1.0) }
    assert(got.nonEmpty)
  }

  test("forecast_rank_hist: ranks recomputed from weekly means, shares sum to 1") {
    val ev = graft.Tables.events(spark, sf).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3),
        r.getDouble(4)))
    def weekOf(ts: java.sql.Timestamp): String = {
      val d = ts.toLocalDateTime.toLocalDate
      d.minusDays((d.getDayOfWeek.getValue - 1).toLong).toString
    }
    def meanU(xs: Seq[Double]): Long = {
      val cents = xs.map(v => math.floor(v * 100 + 0.5).toLong).sum
      math.floor(cents.toDouble / xs.size * 100.0 + 0.5).toLong
    }
    val obs = ev.filter(_._4 == "view").groupBy(e => (e._3, weekOf(e._2)))
      .view.mapValues(es => meanU(es.map(_._5).toSeq)).toMap
    val mem = ev.filter(_._4 == "click")
      .groupBy(e => (e._3, weekOf(e._2), e._1 % 5))
      .view.mapValues(es => meanU(es.map(_._5).toSeq)).toMap
      .groupBy { case ((u, w, _), _) => (u, w) }
      .view.mapValues(_.values.toSeq).toMap
    val expect = mem.collect {
      case (k, xs) if xs.size == 5 && obs.contains(k) =>
        xs.count(_ < obs(k)).toLong + 1
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val total = expect.values.sum
    val got = SparkEntry.queries("forecast_rank_hist")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.view.mapValues(_._1).toMap === expect)
    got.foreach { case (rank, (n, share)) =>
      assert(rank >= 1 && rank <= 6)
      assert(share === math.rint(n.toDouble / total * 10000) / 10000)
    }
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 0.001)
  }

  test("bias_skill: decile RMSEs recomputed from raw series and the qmap output") {
    def series(f: org.apache.spark.sql.DataFrame, vcol: String) =
      f.collect().groupBy(_.getLong(f.columns.indexOf("user_id")))
        .view.mapValues(_.map(_.getAs[Double](vcol)).sorted).toMap
    val ev = graft.Tables.events(spark, sf)
    val ref = series(ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("value")), "value")
    val raw = series(ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("value")), "value")
    val corr = series(SparkEntry.queries("bias_qmap")(spark, sf)
      .select(col("user_id"), col("mapped")), "mapped")
    def decilesU(v: Array[Double]): Seq[Long] = (1 to 9).map { d =>
      val pos = d / 10.0 * (v.length - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      val q = v(lo) + (pos - lo) * (v(hi) - v(lo))
      math.floor(q * 1e4 + 0.5).toLong
    }
    def rmse(a: Seq[Long], b: Seq[Long]): Double = {
      val ssd = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      math.sqrt(ssd.toDouble / 9.0) / 1e4
    }
    val got = SparkEntry.queries("bias_skill")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(got.nonEmpty)
    got.foreach { case (u, (rr, rc, imp)) =>
      val (dr, df_, dc) = (decilesU(ref(u).toArray), decilesU(raw(u).toArray),
        decilesU(corr(u).toArray))
      val (err, erc) = (rmse(df_, dr), rmse(dc, dr))
      // the local type-7 decile recompute may differ from the engine's
      // percentile by float ulps before quantization — compare loosely
      assert(math.abs(rr - err) < 1e-3, s"station $u rmse_raw $rr vs $err")
      assert(math.abs(rc - erc) < 1e-3, s"station $u rmse_corr $rc vs $erc")
      imp.foreach(i => assert(math.abs(i - (1.0 - erc / err)) < 1e-2 ||
        err == 0.0, s"station $u improvement"))
    }
    // the correction helps on the bulk of stations (that is its job)
    val imps = got.values.flatMap(_._3)
    assert(imps.count(_ > 0.5) > got.size / 2)
  }

  test("grid_flow_dir + grid_flow_acc: D8 picks and drainage recomputed by local walk") {
    val sf = "/root/testdata/sf0.01"
    // recompute the cells exactly as gridCells does
    val ev = graft.Tables.events(spark, sf).select("user_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val cells = ev.groupBy { case (u, _) => ((u % 8), (u / 8) % 8) }
      .view.mapValues { xs =>
        val cents = xs.map(x => math.floor(x._2 * 100 + 0.5).toLong).sum
        math.floor((cents * 10000L).toDouble / xs.length + 0.5).toLong
      }.toMap
    val d8 = graft.operators.Climate.D8
    def pick(c: (Long, Long)): Option[(String, (Long, Long))] = {
      val v = cells(c)
      val cands = d8.flatMap { case (dy, dx, prio, name, mult) =>
        cells.get((c._1 + dy, c._2 + dx)).filter(_ < v).map { nv =>
          val d = v - nv
          (mult.toLong * d * d, prio, name, (c._1 + dy, c._2 + dx))
        }
      }
      if (cands.isEmpty) None
      else Some(cands.maxBy { case (s, p, _, _) => (s, -p) })
        .map { case (_, _, n, to) => (n, to) }
    }
    val expectDir = cells.keys.map(c => c -> pick(c)).toMap
    val gotDir = SparkEntry.queries("grid_flow_dir")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), if (r.isNullAt(3)) None
          else Some((r.getLong(3), r.getLong(4)))))).toMap
    assert(gotDir.keySet === cells.keySet)
    gotDir.foreach { case (c, (dir, to)) =>
      expectDir(c) match {
        case Some((n, t)) => assert(dir === n && to === Some(t), s"cell $c")
        case None => assert(dir === "pit" && to.isEmpty, s"cell $c")
      }
    }
    assert(gotDir.values.exists(_._1 == "pit"), "a sink exists")
    // accumulation: walk every cell to its pit, count pass-throughs
    val acc = scala.collection.mutable.Map.empty[(Long, Long), Long]
      .withDefaultValue(0L)
    cells.keys.foreach { start =>
      var cur = start
      acc(cur) += 1
      while (expectDir(cur).isDefined) {
        cur = expectDir(cur).get._2
        acc(cur) += 1
      }
    }
    val gotAcc = SparkEntry.queries("grid_flow_acc")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(gotAcc === acc.toMap)
    // conservation: the pits' drainage partitions... no — paths
    // overlap; the sharp invariant is the per-cell equality above,
    // plus every cell drains at least itself
    assert(gotAcc.values.forall(_ >= 1L))
  }

  test("flowAccOf: deep flow line resolves in ceil(log2) doubling rounds with exact path counts") {
    import spark.implicits._
    // a 64-cell strictly-descending flow line: the worst case for the
    // old Jacobi fixpoint (63 sequential rounds); doubling must do it
    // in ceil(log2(64)) = 6 jump tables
    val n = 64
    val fd = (0 until n).map { i =>
      if (i < n - 1) (0L, i.toLong, "E", Some((i + 1).toLong)) else (0L, i.toLong, "pit", None)
    }.toDF("gy", "gx", "dir", "to_gx_o")
      .select(col("gy"), col("gx"), col("dir"),
        when(col("dir") =!= "pit", lit(0L)).as("to_gy"),
        col("to_gx_o").as("to_gx"))
    val tables = graft.operators.Climate.flowJumpTables(fd)
    assert(tables.length === 6,
      s"expected ceil(log2(64))=6 doubling rounds, got ${tables.length}")
    // J_k holds exactly the cells whose remaining path is >= 2^k steps
    tables.zipWithIndex.foreach { case (t, k) =>
      assert(t.count() === (n - (1L << k)), s"J_$k row count")
    }
    val acc = graft.operators.Climate.flowAccOf(fd).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    // cell i drains everything upstream of it: acc = i + 1
    (0 until n).foreach(i => assert(acc(i.toLong) === i + 1L, s"cell $i"))

    // a branching in-tree (two tributaries joining a trunk) recomputed
    // by brute-force walk — the transpose-scatter handles confluences
    val edges = Map(0L -> 2L, 1L -> 2L, 2L -> 4L, 3L -> 4L, 4L -> 5L)
    val fd2 = (0L to 5L).map { i =>
      (0L, i, if (edges.contains(i)) "E" else "pit",
        edges.get(i).map(_ => 0L), edges.get(i))
    }.toDF("gy", "gx", "dir", "to_gy", "to_gx")
    val acc2 = graft.operators.Climate.flowAccOf(fd2).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    val brute = (0L to 5L).map { s =>
      s -> (0L to 5L).count { u =>
        Iterator.iterate(Option(u))(_.flatMap(edges.get))
          .takeWhile(_.isDefined).map(_.get).contains(s)
      }.toLong
    }.toMap
    assert(acc2 === brute)
  }

  test("flowAccOf: jump tables and superseded weight vectors are UNPERSISTED as consumed — only the result stays pinned") {
    import spark.implicits._
    val n = 64
    val fd = (0 until n).map { i =>
      if (i < n - 1) (0L, i.toLong, "E", Some((i + 1).toLong)) else (0L, i.toLong, "pit", None)
    }.toDF("gy", "gx", "dir", "to_gx_o")
      .select(col("gy"), col("gx"), col("dir"),
        when(col("dir") =!= "pit", lit(0L)).as("to_gy"),
        col("to_gx_o").as("to_gx"))
      .localCheckpoint()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = graft.operators.Climate.flowAccOf(fd)
    assert(out.count() === n.toLong)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    // 6 jump tables + 6 intermediate weight vectors + the initial w
    // were pinned during the pass; everything but the RESULT weight
    // vector must be released by the time flowAccOf returns
    assert(leaked.size === 1,
      s"expected only the result checkpoint pinned, found ${leaked.size}")
    org.apache.spark.sql.graftbridge.CheckpointBridge.release(fd)
  }

  test("grid_hillshade: shade recomputed from the gradient, sun-facing cells brighter") {
    // sf0.01: the 8x8 grid needs interior cells (grid_gradient's spec
    // uses the same scale for the same reason)
    val sf = "/root/testdata/sf0.01"
    val grad = SparkEntry.queries("grid_gradient")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3))))
      .toMap
    val hs = SparkEntry.queries("grid_hillshade")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getLong(3))))
      .toMap
    assert(hs.keySet === grad.keySet)
    val cz = graft.operators.Climate.HsCz
    hs.foreach { case (k, (shade, s255)) =>
      val (p, q) = grad(k)
      val raw = math.max(0.0,
        (p * 0.5 + q * -0.5 + cz) / math.sqrt(p * p + q * q + 1.0))
      assert(shade === math.rint(raw * 10000) / 10000, s"cell $k")
      assert(s255 === math.floor(raw * 255 + 0.5).toLong, s"cell $k 255")
      assert(shade >= 0.0 && shade <= 1.0)
    }
    // illumination physics: among tilted cells, the one most aligned
    // with the 315-degree sun (dzdx > 0, dzdy < 0) outshines the one
    // facing directly away, for equal tilt
    val lit1 = hs.collect { case (k, (s, _))
      if grad(k)._1 > 0 && grad(k)._2 < 0 => s }
    val dark = hs.collect { case (k, (s, _))
      if grad(k)._1 < 0 && grad(k)._2 > 0 => s }
    if (lit1.nonEmpty && dark.nonEmpty)
      assert(lit1.max > dark.min, "sun-facing must outshine sun-averted")
    assert(hs.nonEmpty)
  }

  test("growing_degree_days: formula and seasonal accumulation recomputed exactly") {
    val got = SparkEntry.queries("growing_degree_days")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    assert(got.nonEmpty)
    // recompute daily tmax/tmin independently and fold the cumsum
    val daily = graft.Tables.events(spark, sf)
      .groupBy(col("user_id"),
        date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day"))
      .agg((max(col("value")) / 10.0).as("tmax"),
        (min(col("value")) / 10.0).as("tmin"))
      .collect()
      .map(r => ((r.getLong(0), r.getString(1)), (r.getDouble(2), r.getDouble(3))))
      .toMap
    val byStation = got.groupBy(_._1)
    byStation.foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._2).foreach { case (u, d, gdd, cumGdd) =>
        val (tmax, tmin) = daily((u, d))
        val expU = math.floor(math.max(
          (math.min(tmax, 30.0) + math.max(math.min(tmin, 30.0), 10.0)) / 2.0
            - 10.0, 0.0) * 1e4 + 0.5).toLong
        cum += expU
        assert(gdd === expU / 1e4, s"gdd $u $d")
        assert(cumGdd === cum / 1e4, s"cum_gdd $u $d")
      }
    }
    // both regimes must appear on this corpus: capped-out zero days
    // and accumulating days
    assert(got.exists(_._3 == 0.0) && got.exists(_._3 > 0.0))
  }

  test("heat_wave_episodes: calendar gap splits a run; min duration filters it") {
    import spark.implicits._
    // station 1: hot Jan 1-3 (one 3-day wave), a MISSING Jan 4, hot
    // Jan 5-6 (2 days — must NOT merge across the gap, and must then
    // fall to the >= 3 day filter), cold Jan 7-31
    def row(id: Long, day: Int, v: Double) =
      (id, java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"), 1L, "t", v)
    val hot = Seq(1, 2, 3, 5, 6).zipWithIndex.map { case (d, i) =>
      row(i.toLong, d, 100.0) }
    val cold = (7 to 31).map(d => row(100L + d, d, 10.0))
    val ev = (hot ++ cold)
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val eps = graft.operators.Climate.heatWaveEpisodesOf(ev).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getString(3), r.getLong(4),
        r.getDouble(5)))
    assert(eps.length === 1, s"expected exactly one episode, got ${eps.toSeq}")
    assert(eps(0) === ((1L, "2024-01-01", "2024-01-03", 3L, 100.0)))
  }

  test("ts_freeze_thaw: crossings counted on a constructed series, gaps don't crash") {
    import spark.implicits._
    // one obs/day → tmean = v/10: frozen (<3 °C) on days 1,2,5; two
    // crossings (thaw after day 2, freeze at day 5); day 4 missing —
    // the census counts PRESENT days, so its lag spans the gap
    val ev = Seq((1, 10.0), (2, 20.0), (3, 50.0), (5, 25.0), (6, 40.0))
      .zipWithIndex.map { case ((d, v), i) =>
        (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00"),
          9L, "t", v)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = graft.operators.Climate.freezeThawCyclesOf(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // frozen on 1.0 and 2.0 and 2.5 °C days (1, 2, 5): thaw after day
    // 2, re-freeze at day 5, thaw at day 6 — three crossings over the
    // five present days (the gap at day 4 spans, not splits, the lag)
    assert(got.toSeq === Seq((9L, 5L, 3L, 3L)))
    // corpus-level: census totals are internally consistent
    val rows = SparkEntry.queries("ts_freeze_thaw")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (u, nDays, nFrozen, nCross) =>
      assert(nFrozen >= 0 && nFrozen <= nDays, s"station $u frozen bound")
      // a series can cross at most once per day transition
      assert(nCross <= nDays - 1, s"station $u crossing bound")
    }
    // both regimes appear on this corpus
    assert(rows.exists(_._4 > 0) && rows.exists(_._3 > 0))
  }

  test("snow_pack_ddm: closed form equals the sequential water-bank fold") {
    import spark.implicits._
    // one obs per day → tmean = v/10, prcp = v: a series crossing the
    // 3 °C line both ways, deep enough to clamp at zero twice
    val vals = Seq(10.0, 100.0, 20.0, 50.0, 5.0, 200.0, 15.0, 15.0, 300.0)
    val ev = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-${i + 1}%02d 12:00:00"),
        7L, "t", v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = graft.operators.Climate.snowPackDdmOf(ev).collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    // sequential reference: SWE_t = max(0, SWE_{t-1} + snow - melt)
    var swe = 0L
    val expect = vals.map { v =>
      val tmean = v / 10.0; val prcp = v
      val snowU = if (tmean < 3.0) math.floor(prcp * 1e4 + 0.5).toLong else 0L
      val meltU = math.floor(3.0 * math.max(tmean - 3.0, 0.0) * 1e4 + 0.5).toLong
      swe = math.max(0L, swe + snowU - meltU)
      (snowU / 1e4, swe / 1e4)
    }
    assert(got.map(t => (t._2, t._3)).toSeq === expect)
    // both clamp regimes exercised: pack empties at least once after
    // having been positive
    assert(expect.exists(_._2 == 0.0) && expect.exists(_._2 > 0.0))
  }

  test("grid_sample_poi: bilinear POI samples match a Scala recompute from the cell means") {
    val ev = Tables.events(spark, sf)
      .select("user_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val grid = ev.groupBy { case (u, _) => (u % 8, u / 8 % 8) }
      .map { case (k, es) =>
        val sc = es.map(e => math.floor(e._2 * 100 + 0.5).toLong).sum
        k -> math.floor((sc * 10000L).toDouble / es.size + 0.5) / 1e6
      }
    val expect = Climate.SamplePois.flatMap { case (id, py, px) =>
      val (y0, x0) = (math.floor(py).toLong, math.floor(px).toLong)
      val (fy, fx) = (py - y0, px - x0)
      for {
        v00 <- grid.get((y0, x0)); v01 <- grid.get((y0, x0 + 1))
        v10 <- grid.get((y0 + 1, x0)); v11 <- grid.get((y0 + 1, x0 + 1))
      } yield id -> (math.rint((v00 * ((1 - fy) * (1 - fx)) + v01 * ((1 - fy) * fx)
        + v10 * (fy * (1 - fx)) + v11 * (fy * fx)) * 1e4) / 1e4)
    }.toMap
    val got = SparkEntry.queries("grid_sample_poi")(spark, sf).collect()
      .map(r => r.getAs[Int]("poi_id") -> r.getAs[Double]("value_interp")).toMap
    assert(got.keySet === expect.keySet, "POIs with all four corners present")
    expect.foreach { case (id, v) =>
      assert(math.abs(got(id) - v) < 1e-9, s"poi $id") }
  }

  test("grid_idw: cell values match a Scala recompute; nearer stations dominate") {
    val ev = Tables.events(spark, sf)
      .select("user_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val st = ev.groupBy(_._1).map { case (u, es) =>
      val sc = es.map(e => math.floor(e._2 * 100 + 0.5).toLong).sum
      val vu = math.floor(sc.toDouble * 100.0 / es.size + 0.5).toLong
      (vu, (u % 36) * 5.0 - 87.5, (u % 72) * 5.0 - 177.5)
    }.toSeq
    val expect = (for {
      i <- 0 until 648
      lat = (i / 36) * 10.0 - 85.0; lon = (i % 36) * 10.0 - 175.0
      within = st.map { case (vu, slat, slon) =>
        val d2 = (lat - slat) * (lat - slat) + (lon - slon) * (lon - slon)
        (vu, d2)
      }.filter(_._2 <= Climate.IdwRadius2)
      if within.nonEmpty
    } yield {
      val wq = within.map { case (vu, d2) =>
        (math.floor(Climate.IdwWScale / d2 + 0.5).toLong, vu) }
      val num = wq.map { case (w, v) => w * v }.sum
      val den = wq.map(_._1).sum
      (lat, lon) -> (within.size.toLong,
        math.floor(num.toDouble / den + 0.5) / 1e4)
    }).toMap
    val got = SparkEntry.queries("grid_idw")(spark, sf).collect()
      .map(r => (r.getAs[Double]("lat"), r.getAs[Double]("lon")) ->
        (r.getAs[Long]("n_stations"), r.getAs[Double]("value_idw"))).toMap
    assert(got === expect)
  }

  test("forecast_skill: perfect forecast scores 1.0 across the board; real scores recompute") {
    import spark.implicits._
    // planted: forecast ensemble-mean == obs each week -> NSE = KGE = 1
    // via the real operator path is table-bound, so assert the score
    // algebra on the sufficient statistics directly for a synthetic
    // series, then recompute one real station end-to-end.
    val out = SparkEntry.queries("forecast_skill")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Double]("nse") <= 1.0 + 1e-9)
      assert(r.getAs[Double]("kge") <= 1.0 + 1e-9)
      assert(r.getAs[Double]("alpha") > 0)
      assert(r.getAs[Long]("n_weeks") >= 5)
    }
    // end-to-end recompute for every output station
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        date_format(date_trunc("WEEK", col("ts")), "yyyy-MM-dd").as("week"),
        col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getDouble(4)))
    def weekly(rows: Seq[(Long, String, Double)]): Map[(Long, String), Long] =
      rows.groupBy(t => (t._1, t._2)).map { case (k, es) =>
        val sc = es.map(e => math.floor(e._3 * 100 + 0.5).toLong).sum
        k -> math.floor(sc.toDouble / es.size * 100.0 + 0.5).toLong
      }
    val obs = weekly(ev.collect { case (u, _, "view", w, v) => (u, w, v) })
    val mem = ev.collect { case (u, e, "click", w, v) => (u, e % 5, w, v) }
      .groupBy(t => (t._1, t._2, t._3)).map { case (k, es) =>
        val sc = es.map(e => math.floor(e._4 * 100 + 0.5).toLong).sum
        k -> math.floor(sc.toDouble / es.size * 100.0 + 0.5).toLong
      }
    val fc = mem.groupBy { case ((u, _, w), _) => (u, w) }
      .map { case (k, ms) =>
        k -> math.floor(ms.values.sum.toDouble / ms.size + 0.5).toLong }
    out.foreach { r =>
      val u = r.getAs[Long]("user_id")
      val pairs = fc.collect { case ((`u`, w), f) if obs.contains((u, w)) =>
        (f, obs((u, w))) }.toSeq
      val n = pairs.size.toLong
      assert(n === r.getAs[Long]("n_weeks"))
      val sf_ = pairs.map(_._1).sum; val so = pairs.map(_._2).sum
      val sff = pairs.map(p => p._1 * p._1).sum
      val soo = pairs.map(p => p._2 * p._2).sum
      val sfo = pairs.map(p => p._1 * p._2).sum
      val dxo = n * soo - so * so; val dxf = n * sff - sf_ * sf_
      val sse = sff - 2 * sfo + soo
      val nse = math.floor((1.0 - (n * sse).toDouble / dxo) * 1e4 + 0.5) / 1e4
      assert(math.abs(nse - r.getAs[Double]("nse")) < 1e-9, s"station $u nse")
      val rr = (n * sfo - sf_ * so).toDouble / math.sqrt(dxf.toDouble * dxo.toDouble)
      val alpha = math.sqrt(dxf.toDouble / dxo.toDouble)
      val beta = sf_.toDouble / so.toDouble
      val kge = math.floor((1.0 - math.sqrt((rr - 1) * (rr - 1)
        + (alpha - 1) * (alpha - 1) + (beta - 1) * (beta - 1))) * 1e4 + 0.5) / 1e4
      assert(math.abs(kge - r.getAs[Double]("kge")) < 1e-9, s"station $u kge")
    }
  }

  test("forecast_brier + reliability: exceedance scores recompute exactly from raw events") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        date_format(date_trunc("WEEK", col("ts")), "yyyy-MM-dd").as("week"),
        col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getDouble(4)))
    def weeklyOf(rows: Seq[(Long, String, Double)]): Map[(Long, String), Long] =
      rows.groupBy(t => (t._1, t._2)).map { case (k, es) =>
        val sc = es.map(e => math.floor(e._3 * 100 + 0.5).toLong).sum
        k -> math.floor(sc.toDouble / es.size * 100.0 + 0.5).toLong
      }
    val obs = weeklyOf(ev.collect { case (u, _, "view", w, v) => (u, w, v) })
    val thr = obs.groupBy(_._1._1).map { case (u, m) =>
      u -> math.floor(m.values.sum.toDouble / m.size + 0.5).toLong }
    val mem = ev.collect { case (u, e, "click", w, v) => (u, e % 5, w, v) }
      .groupBy(t => (t._1, t._2, t._3)).map { case (k, es) =>
        val sc = es.map(e => math.floor(e._4 * 100 + 0.5).toLong).sum
        k -> math.floor(sc.toDouble / es.size * 100.0 + 0.5).toLong
      }
    // ko frame: only weeks with an observation
    val ko = mem.groupBy { case ((u, _, w), _) => (u, w) }
      .collect { case ((u, w), ms) if obs.contains((u, w)) =>
        val m = ms.size.toLong
        val k = ms.values.count(_ > thr(u)).toLong
        val o = if (obs((u, w)) > thr(u)) 1L else 0L
        (u, m, k, o)
      }.toSeq
    // brier per station
    val expB = ko.groupBy(_._1).collect { case (u, ws) if ws.size >= 5 =>
      val n = ws.size.toLong
      val se = ws.map { case (_, m, k, o) =>
        val km = k - m * o
        math.floor(km * km * 1e8 / (m * m) + 0.5).toLong }.sum
      val no = ws.map(_._4).sum
      val bs = se.toDouble / (n * 1e8); val base = no.toDouble / n
      val bss = if (no > 0 && no < n)
        Some(math.floor((1.0 - bs / (base * (1.0 - base))) * 1e4 + 0.5) / 1e4)
      else None
      u -> (n, math.floor(bs * 1e4 + 0.5) / 1e4, bss)
    }
    val gotB = SparkEntry.queries("forecast_brier")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap
    assert(gotB.keySet === expB.keySet)
    expB.foreach { case (u, (n, b, bss)) =>
      assert(gotB(u)._1 === n && gotB(u)._2 === b, s"station $u brier")
      assert(gotB(u)._3 === bss, s"station $u bss")
    }
    // reliability bins
    val expR = ko.groupBy { case (_, m, k, _) =>
      math.floor(k * 5.0 / m + 0.5).toLong }
      .map { case (bin, cs) =>
        bin -> (cs.size.toLong, cs.map(_._4).sum) }
    val gotR = SparkEntry.queries("forecast_reliability")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(gotR === expR)
  }

  test("grid_watershed: every cell's label is its D8 walk's terminal pit; basins partition the grid") {
    val fd = Climate.gridFlowDir(spark, sf).collect()
      .map(r => (r.getAs[Long]("gy"), r.getAs[Long]("gx")) ->
        (r.getAs[String]("dir"),
          Option(r.get(r.fieldIndex("to_gy"))).map(_.asInstanceOf[Long]),
          Option(r.get(r.fieldIndex("to_gx"))).map(_.asInstanceOf[Long]))).toMap
    def walk(c: (Long, Long)): (Long, Long) = {
      var cur = c
      while (fd(cur)._1 != "pit")
        cur = (fd(cur)._2.get, fd(cur)._3.get)
      cur
    }
    val got = SparkEntry.queries("grid_watershed")(spark, sf).collect()
      .map(r => (r.getAs[Long]("gy"), r.getAs[Long]("gx")) ->
        ((r.getAs[Long]("pit_y"), r.getAs[Long]("pit_x")),
          r.getAs[Long]("basin_n"))).toMap
    assert(got.keySet === fd.keySet, "every cell labeled exactly once")
    got.foreach { case (c, (pit, _)) =>
      assert(pit === walk(c), s"cell $c terminal")
      assert(fd(pit)._1 === "pit", s"label of $c must be a pit")
    }
    // basins partition the grid: per-pit counts sum to all cells
    val sizes = got.values.groupBy(_._1).map { case (p, vs) =>
      p -> vs.size.toLong }
    got.foreach { case (_, (pit, n)) => assert(n === sizes(pit)) }
    assert(sizes.values.sum === fd.size.toLong)
  }

  test("ts_pot_gpd: threshold/exceedance stats recompute exactly; GPD moments match closed form") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"),
        date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day"),
        col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val expect = ev.groupBy(_._1).flatMap { case (u, es) =>
      val daily = es.groupBy(_._2).map { case (_, xs) =>
        xs.map(e => math.floor(e._3 * 100 + 0.5).toLong).sum }.toSeq.sorted
      val n = daily.size
      val thr = daily((n * 8 + 9) / 10 - 1)
      val ys = daily.filter(_ > thr).map(_ - thr)
      val k = ys.size.toLong
      val s1 = ys.sum; val s2 = ys.map(y => y * y).sum
      if (k >= 5 && k * s2 > s1 * s1) {
        val r = (s1.toDouble * s1) / (k * s2 - s1 * s1).toDouble
        val m = s1.toDouble / k / 100.0
        Some(u -> (n.toLong, thr / 100.0, k,
          math.floor(0.5 * (1.0 - r) * 1e4 + 0.5) / 1e4,
          math.floor(0.5 * m * (r + 1.0) * 1e4 + 0.5) / 1e4))
      } else None
    }.toMap
    val got = SparkEntry.queries("ts_pot_gpd")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getAs[Double]("threshold"),
        r.getAs[Long]("n_exceed"), r.getAs[Double]("xi"),
        r.getAs[Double]("sigma"))).toMap
    assert(got.keySet === expect.keySet)
    expect.foreach { case (u, e) =>
      assert(got(u) === e, s"station $u") }
    // sanity: sigma strictly positive wherever reported
    got.values.foreach { case (_, _, _, _, sg) => assert(sg > 0) }
  }

  test("weeklyU: Monday week label, exact 1e-4 weekly mean per (station, extra)") {
    import spark.implicits._
    // 2024-01-01 and 2024-01-08 are Mondays, 2024-01-07 a Sunday
    val ev = (Seq(
      (1L, 0L, "2024-01-01 00:00:00", 1.00),
      (1L, 0L, "2024-01-04 10:00:00", 2.00),
      (1L, 0L, "2024-01-07 23:59:59", 2.00),
      (1L, 1L, "2024-01-08 00:00:00", 0.01),
      (1L, 1L, "2024-01-09 00:00:00", 0.02),
      (2L, 0L, "2024-01-15 00:00:00", 0.01)) ++
      // a mean of exactly 12.5e-4 rounds half up to 13
      (1 to 7).map(h => (2L, 0L, f"2024-01-16 $h%02d:00:00", 0.0)))
      .toDF("user_id", "member", "s", "value")
      .withColumn("ts", to_timestamp(col("s")))
    val perMember = Climate.weeklyU(ev, Seq(col("member")))
    assert(perMember.columns.toSeq === Seq("user_id", "member", "week", "u"))
    assert(perMember.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)) -> r.getLong(3)).toMap ===
      Map((1L, 0L, "2024-01-01") -> 16667L, (1L, 1L, "2024-01-08") -> 150L,
        (2L, 0L, "2024-01-15") -> 13L))
    val perStation = Climate.weeklyU(ev.filter(col("user_id") === 1L), Nil)
    assert(perStation.collect().map(r => (r.getString(1), r.getLong(2))).toMap ===
      Map("2024-01-01" -> 16667L, "2024-01-08" -> 150L))
  }

  test("events grid: byCell keys gy = user_id % 8, gx = user_id div 8 % 8, extra keys last") {
    import spark.implicits._
    val ev = Seq((0L, 1L), (7L, 1L), (8L, 1L), (63L, 1L), (64L, 2L))
      .toDF("user_id", "member").withColumn("value", lit(1.0))
    val cells = Climate.byCell(ev).agg(count(lit(1)).as("n"))
    assert(cells.columns.toSeq === Seq("gy", "gx", "n"))
    // 64 wraps onto 0's cell
    assert(cells.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap ===
      Map((0L, 0L) -> 2L, (7L, 0L) -> 1L, (0L, 1L) -> 1L, (7L, 7L) -> 1L))
    val perMember = Climate.byCell(ev, col("member")).agg(count(lit(1)).as("n"))
    assert(perMember.columns.toSeq === Seq("gy", "gx", "member", "n"))
    assert(perMember.filter(col("gy") === 0 && col("gx") === 0).count() === 2)
  }

  test("events grid: microMean rounds an exact half micro-unit up, for either sign") {
    import spark.implicits._
    // 1 cent over 32 readings is 312.5 micro-units exactly (10⁴/32 is a
    // binary fraction): half up gives 313, and −312.5 floors up to −312
    val ev = (Seq((1, 0.01), (2, -0.01), (3, 1.23)) ++
      (1 to 31).flatMap(_ => Seq((1, 0.0), (2, 0.0))))
      .toDF("g", "value")
    val m = ev.groupBy(col("g")).agg(Climate.microMean.as("m"))
    assert(m.schema("m").dataType === org.apache.spark.sql.types.LongType)
    assert(m.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ===
      Map(1 -> 313L, 2 -> -312L, 3 -> 1230000L))
  }

  test("events grid: the lattice holds 64 distinct cells, the nodata mask 9 of them") {
    val lattice = Climate.cellLattice(spark)
    val cells = lattice.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(lattice.columns.toSeq === Seq("gy", "gx"))
    assert(cells.length === 64)
    assert(cells.toSet === (for (y <- 0L to 7L; x <- 0L to 7L) yield (y, x)).toSet)
    val masked = lattice.filter(Climate.nodata).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(masked === cells.filter { case (y, x) => (x * 8 + y) % 7 == 3 }.toSet)
    assert(masked.size === 9)
  }
}
