package graft

import org.apache.spark.sql.functions._

/** The session-level surface: SQL-registered kernels and scan
  * pushdown behavior. */
class SessionSpec extends SparkSpec {

  test("extensions: kernels callable from plain SQL") {
    val r = spark.sql(
      """SELECT norm_quantile(0.975) AS q,
        |       gamma_p(1.0, 2.0) AS g,
        |       gamma_cdf(2.0, 1.0, 1.0) AS gc,
        |       cosine_sim(array(1.0d, 2.0d), array(2.0d, 4.0d)) AS c,
        |       vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d
        |""".stripMargin).collect()(0)
    assert(math.abs(r.getAs[Double]("q") - 1.959964) < 5e-4)
    assert(math.abs(r.getAs[Double]("g") - (1 - math.exp(-2))) < 1e-12)
    assert(math.abs(r.getAs[Double]("gc") - (1 - math.exp(-2))) < 1e-12)
    assert(math.abs(r.getAs[Double]("c") - 1.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("d") - 11.0) < 1e-12)
  }

  test("extensions: count_token matches size(filter(...)) semantics exactly") {
    // SQL registration + nulls: null elements don't count, null array is null
    val r = spark.sql(
      """SELECT count_token(array('a','b','a',CAST(NULL AS STRING)), 'a') AS n,
        |       count_token(CAST(NULL AS ARRAY<STRING>), 'a') AS nn,
        |       count_token(array('a'), CAST(NULL AS STRING)) AS nt
        |""".stripMargin).collect()(0)
    assert(r.getAs[Int]("n") === 2)
    assert(r.isNullAt(r.fieldIndex("nn")) && r.isNullAt(r.fieldIndex("nt")))
    // equivalence with the interpreted composition on real token arrays
    import spark.implicits._
    val toks = Tables.documents(spark, sf)
      .select(split(lower(col("text")), " ").as("toks"))
    val both = toks.select(
      graft.expressions.TextColumns.countToken(col("toks"), "the").as("fast"),
      size(filter(col("toks"), t => t === lit("the"))).as("ref")).collect()
    assert(both.nonEmpty)
    both.foreach(r2 => assert(r2.getInt(0) === r2.getInt(1)))
    assert(both.map(_.getInt(0)).sum > 0) // 'the' genuinely occurs
  }

  test("extensions: topk_agg callable from plain SQL, map-side partial") {
    val rows = spark.sql(
      """SELECT g, topk_agg(v, id, v, 2) AS top FROM VALUES
        |  (0, 1L, 5.0), (0, 2L, 9.0), (0, 3L, 7.0),
        |  (1, 4L, 1.0), (1, 5L, 3.0)
        |  AS t(g, id, v)
        |GROUP BY g""".stripMargin).collect()
      .map(r => r.getInt(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(s => (s.getLong(0), s.getDouble(1))))
      .toMap
    assert(rows(0) === Seq((2L, 9.0), (3L, 7.0)))
    assert(rows(1) === Seq((5L, 3.0), (4L, 1.0)))
  }

  test("eventsBetween: time-range predicate reaches the parquet scan") {
    val df = Tables.eventsBetween(spark, sf,
      "2024-01-10T00:00:00Z", "2024-01-20T00:00:00Z")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(ts"), s"no pushed ts filter in:\n$plan")
    // and the slice agrees with filtering after conversion
    val expect = Tables.events(spark, sf)
      .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-20 00:00:00").cast("timestamp")).count()
    assert(df.count() === expect)
    assert(df.count() > 0)
  }

  test("custom expressions survive codegen in a DataFrame pipeline") {
    import graft.expressions.StatColumns
    val out = spark.range(1, 100)
      .select(StatColumns.normQuantile(col("id") / 100.0).as("z"))
      .agg(sum(col("z"))).collect()(0).getDouble(0)
    // Σ z(i/100) over symmetric quantiles ~ 0
    assert(math.abs(out) < 1e-6)
  }

  test("AQE skew join: a hot key's shuffle partition splits at runtime — the skew posture SURVEY §5 claims is live") {
    // A hot station (one key carrying ~97% of the observations — the
    // shape a popular gauge or a hot dedup bucket produces) joined to
    // a station dimension. GraftSession ships AQE on; this proves the
    // skew-join rewrite actually FIRES and splits the hot partition,
    // rather than taking it on faith. Thresholds are scaled to spec
    // data volume (the default trigger is 256 MB per partition — the
    // MECHANISM is identical, only the trigger size moves) and
    // broadcast is disabled so the join keeps a shuffle to split.
    val prev = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      val hot = spark.range(200000)
        .select(lit(7L).as("station"), col("id").as("obs"))
      val cold = spark.range(6300)
        .select((col("id") % 63 + 100).as("station"), col("id").as("obs"))
      val obs = hot.unionByName(cold)
      val dim = spark.range(200)
        .select(col("id").as("station"), (col("id") * 2).as("meta"))
      val joined = obs.join(dim, Seq("station"))
      // collect() drives THIS frame's QueryExecution (count() would
      // plan a different one), finalizing the adaptive plan we assert
      // on; every obs row has a dim match: 200000 hot + 6300 cold
      assert(joined.collect().length === 206300)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), "adaptive plan finalized")
      assert(plan.contains("skew=true"),
        s"skew-join rewrite did not fire:\n$plan")
      // the AQE shuffle read on the hot side reports split partitions
      assert(plan.contains("skewed"),
        s"no skewed AQEShuffleRead in:\n$plan")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("Verify.jsonString: every escaped literal parses back to its input") {
    val in = (0 until 0x20).map(_.toChar).mkString + "\"\\ plain é"
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Verify.jsonString(in), classOf[String])
    assert(back === in)
  }

  test("Verify.only: one subset rule for SPARK_GRAFT_ONLY, unset keeps all") {
    val some = Verify.only(Some("a, b,,"))
    assert(Seq("a", "b", "c", "", " a").filter(some) === Seq("a", "b"))
    val names = SparkEntry.queries.keys.toSeq
    assert(names.filter(Verify.only(None)) === names)
  }
}
