package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Cleaning, RangeRank}

class CleaningSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(
    (1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, -1.0), (5L, 0.0),
  ).toDF("id", "v")

  test("imputeWithMedian replaces invalid values with the valid median") {
    val out = Cleaning.imputeWithMedian(df, "v", col("v") > 0)
      .orderBy("id").select("v").as[Double].collect().toSeq
    assert(out == Seq(10.0, 20.0, 30.0, 20.0, 20.0))
  }

  test("imputeWithMedian approx path produces a valid scalar too") {
    val out = Cleaning.imputeWithMedian(df, "v", col("v") > 0, approx = true)
      .filter(col("id") >= 4).select("v").as[Double].collect().toSet
    assert(out.subsetOf(Set(10.0, 20.0, 30.0)))
  }

  test("imputeWithMedians imputes N columns from one aggregate, matching per-column runs") {
    val d2 = Seq(
      (1L, 10.0, 1.0), (2L, 20.0, 2.0), (3L, 30.0, 3.0),
      (4L, -1.0, -9.0), (5L, 0.0, 4.0),
    ).toDF("id", "a", "b")
    val both = Cleaning.imputeWithMedians(d2,
      Seq("a" -> (col("a") > 0), "b" -> (col("b") > 0)))
    val seq2 = Cleaning.imputeWithMedian(
      Cleaning.imputeWithMedian(d2, "a", col("a") > 0), "b", col("b") > 0)
    assert(both.orderBy("id").collect().toSeq == seq2.orderBy("id").collect().toSeq)
    // below the leaf-row gate both the exact and the approx path are one
    // aggregate over one scan for all N columns, plus the imputed scan
    val approx = Cleaning.imputeWithMedians(d2,
      Seq("a" -> (col("a") > 0), "b" -> (col("b") > 0)), approx = true)
    for ((name, out) <- Seq("exact" -> both, "approx" -> approx)) {
      val scans = out.queryExecution.executedPlan.toString()
        .linesIterator.count(_.contains("LocalTableScan"))
      assert(scans == 2, s"expected 2 scans in the $name plan, had $scans")
    }
    assert(approx.orderBy("id").select("id", "a").as[(Long, Double)].collect()
      .toSeq == Seq(1L -> 10.0, 2L -> 20.0, 3L -> 30.0, 4L -> 20.0, 5L -> 20.0))
  }

  /** Runs `body` with the rank row gate at 0, so every frame counts as
   *  large and the exact median takes the per-column groupQuantiles path. */
  private def aboveRowGate[T](body: => T): T = {
    spark.conf.set("graft.rank.rangeRows", "0")
    try body finally spark.conf.unset("graft.rank.rangeRows")
  }

  test("imputeWithMedians builds a join-derived plan without running a job") {
    val left = (1 to 2000).map(i => (i.toLong, (i % 97).toDouble)).toDF("id", "a")
    val right = (1 to 2000).map(i => (i.toLong, (i % 89 - 5).toDouble)).toDF("id", "b")
    val df = left.join(right, "id")
    // without CBO the join's byte estimate multiplies its children, so
    // the rank gate's byte clause fires on this 2000-row frame
    assert(RangeRank.useBucketed(df))
    val cols = Seq("a" -> (col("a") > 0), "b" -> (col("b") > 0))
    var out: DataFrame = null
    assert(jobsDuring { out = Cleaning.imputeWithMedians(df, cols) } == 0)
    assert(!out.queryExecution.executedPlan.toString().contains("__qv"))
    // the per-column sort-rank path above the gate probes eagerly, which
    // also shows the counter sees plan-build jobs
    var forced: DataFrame = null
    val probeJobs = aboveRowGate(jobsDuring {
      forced = Cleaning.imputeWithMedians(df, cols)
    })
    assert(probeJobs > 0)
    assert(forced.queryExecution.executedPlan.toString().contains("__qv"))
    assert(out.orderBy("id").collect().toSeq == forced.orderBy("id").collect().toSeq)
  }

  test("exact median aggregate is bit-equal to the groupQuantiles path") {
    val rnd = new scala.util.Random(7)
    // odd: 1001 valid values; even: 1000 (the median interpolates);
    // none: no valid value, so its median and imputed values are null.
    // Every column also carries nulls and invalid values.
    val df = (0 until 1200).map { i =>
      val odd = if (i < 1001) Some(rnd.nextGaussian() * 1e3)
        else if (i % 2 == 0) None else Some(-1e9)
      val even = if (i < 1000) Some(1.5 + rnd.nextDouble() * 97.3)
        else if (i % 3 == 0) None else Some(0.0)
      val none = if (i % 2 == 0) None else Some(-1.0 - i)
      (i.toLong, odd, even, none)
    }.toDF("id", "odd", "even", "none")
    val cols = Seq(
      "odd" -> (col("odd") > -1e8),
      "even" -> (col("even") > 1.0),
      "none" -> (col("none") > 0.0))
    val bits = (rs: Array[org.apache.spark.sql.Row]) => rs.toSeq.map(r =>
      r.getLong(0) +: (1 to 3).map(i =>
        if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))))
    val small = Cleaning.imputeWithMedians(df, cols).orderBy("id").collect()
    val ranked = aboveRowGate(Cleaning.imputeWithMedians(df, cols).orderBy("id").collect())
    assert(bits(small) == bits(ranked))
    assert(small.forall(_.isNullAt(3)))
    // invalid rows took the median; valid rows kept their value
    assert(small.drop(1001).map(_.getDouble(1)).distinct.length == 1)
    assert(small.drop(1000).map(_.getDouble(2)).distinct.length == 1)
  }

  test("fillSentinel fills nulls by default and custom-invalid when given") {
    val withNull = Seq((1L, Some(5.0)), (2L, None)).toDF("id", "v")
    val filled = Cleaning.fillSentinel(withNull, "v", -1.0)
      .orderBy("id").select("v").as[Double].collect().toSeq
    assert(filled == Seq(5.0, -1.0))
  }

  test("domainValidate maps out-of-domain and null to fallback") {
    val d = Seq(Some("a"), Some("zz"), None).toDF("c")
    val out = Cleaning.domainValidate(d, "c", Seq("a", "b"), "other")
      .select("c").as[String].collect().toSeq
    assert(out.sorted == Seq("a", "other", "other"))
  }

  test("invariantFilter applies every invariant") {
    val d = Seq((1, 2), (3, 2), (2, 2)).toDF("x", "y")
    assert(Cleaning.invariantFilter(d, col("x") <= col("y"), col("x") > 1).count() == 1)
  }

  test("distinctValues returns the value domain for single-domain assertions") {
    val d = Seq(2020, 2020, 2020).toDF("ano")
    assert(Cleaning.distinctValues(d, "ano").count() == 1)
  }

  test("profileNulls counts rows and per-column nulls in one aggregation") {
    val d = Seq((Some(1), Some("a")), (None, Some("b")), (Some(3), None))
      .toDF("x", "y")
    val r = Cleaning.profileNulls(d, Seq("x", "y")).collect().head
    assert(r.getAs[Long]("n_rows") == 3L)
    assert(r.getAs[Long]("nulls_x") == 1L)
    assert(r.getAs[Long]("nulls_y") == 1L)
  }

  test("kAnonymize suppresses quasi-identifiers of groups smaller than k") {
    val d = Seq(
      (1L, "uk", "m"), (2L, "uk", "m"), (3L, "uk", "m"),  // group of 3: safe at k=3
      (4L, "fr", "f"),                                    // singleton: suppressed
    ).toDF("id", "country", "gender")
    val out = Cleaning.kAnonymize(d, Seq("country", "gender"), k = 3L)
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(
      (1L, "uk", "m", false), (2L, "uk", "m", false), (3L, "uk", "m", false),
      (4L, null, null, true)))
  }

  test("winsorize clips to the percentile band, globally and per group") {
    val d = (1 to 100).map(_.toDouble).toDF("v")
    val w = Cleaning.winsorize(d, "v", Nil, 0.1, 0.9)
      .agg(min(col("v")), max(col("v")), count(lit(1))).collect().head
    // percentile(0.1) of 1..100 = 1 + 0.1*99; p90 = 1 + 0.9*99 — compare
    // against the same double arithmetic, not decimal literals
    assert(w.getDouble(0) == 1.0 + 0.1 * 99.0)
    assert(w.getDouble(1) == 1.0 + 0.9 * 99.0)
    assert(w.getLong(2) == 100)
    val g = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0), ("b", 20.0), ("b", 30.0))
      .toDF("k", "v")
    val gw = Cleaning.winsorize(g, "v", Seq("k"), 0.25, 0.75)
      .groupBy("k").agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(gw("a") == ((1.5, 2.5)) && gw("b") == ((15.0, 25.0)))
  }

  private val dates = Seq(
    (1L, "2020-03-01"), (2L, "garbage"), (3L, "2020-04-15"), (4L, null),
  ).toDF("id", "raw")

  test("parseTimestamp flags non-null parse failures; null input stays valid") {
    val p = Cleaning.parseTimestamp(dates, "raw", "yyyy-MM-dd", "ts", "ok")
      .select("id", "ok").as[(Long, Boolean)].collect().toMap
    assert(p == Map(1L -> true, 2L -> false, 3L -> true, 4L -> true))
  }

  test("assertParsed mirrors the reference's raise-on-failure contract") {
    // one corrupt value: throws at the default tolerance...
    val e = intercept[IllegalStateException] {
      Cleaning.assertParsed(dates, "raw", "yyyy-MM-dd", "ts")
    }
    assert(e.getMessage.contains("1 value(s)"))
    // ...passes when tolerated, with the parsed column attached
    val ok = Cleaning.assertParsed(dates, "raw", "yyyy-MM-dd", "ts", maxInvalid = 1)
    assert(ok.columns.toSeq == Seq("id", "raw", "ts"))
    assert(ok.filter(col("ts").isNotNull).count() == 2)
    // ...and cleanly on fully-valid data
    assert(Cleaning.assertParsed(dates.filter(col("id") =!= 2),
      "raw", "yyyy-MM-dd", "ts").count() == 3)
  }

  test("madOutliers flags by per-group median absolute deviation") {
    // group a: values 1..5 + a gross outlier. median = 3.5,
    // deviations (2.5, 1.5, .5, .5, 1.5, 96.5) -> MAD = 1.5;
    // only 100.0 exceeds 3 * 1.5 = 4.5. The outlier must NOT drag the
    // threshold the way a mean/stddev z-score would.
    val d = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 5.0),
      ("a", 100.0), ("b", 7.0), ("b", 7.0)).toDF("g", "v")
    val out = Cleaning.madOutliers(d, "v", Seq("g"), k = 3.0)
      .orderBy("g", "v").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getBoolean(3)))
    assert(out.toSeq == Seq(
      ("a", 1.0, false), ("a", 2.0, false), ("a", 3.0, false),
      ("a", 4.0, false), ("a", 5.0, false), ("a", 100.0, true),
      // constant group: MAD 0 -> deviation 0 is not > 0, no outliers
      ("b", 7.0, false), ("b", 7.0, false)))
  }

  test("fkIntegrity counts orphans per relation in one pass; null FKs are orphans") {
    val fact = Seq(
      (Some(1L), 10L), (Some(2L), 10L), (Some(9L), 20L), (None, 30L))
      .toDF("fk_a", "fk_b")
    val dimA = Seq(1L, 2L).toDF("a_key")
    val dimB = Seq(10L, 20L).toDF("b_key")
    val out = Cleaning.fkIntegrity(fact, Seq(
        Cleaning.FkRelation("a", Seq("fk_a"), dimA, Seq("a_key"),
          broadcastDim = true),
        Cleaning.FkRelation("b", Seq("fk_b"), dimB, Seq("b_key"))))
      .orderBy("relation").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // a: 9L unmatched + NULL = 2 orphans; b: 30L unmatched = 1
    assert(out.toSeq == Seq(("a", 4L, 2L, 0.5), ("b", 4L, 1L, 0.25)))
  }

  test("lDiversify suppresses quasi-ids of low-diversity groups, not merely small ones") {
    val d = Seq(
      // group (A, x): 3 rows but only 1 distinct sensitive value -> unsafe
      ("A", "x", 10.0), ("A", "x", 10.0), ("A", "x", 10.0),
      // group (B, y): 2 rows, 2 distinct -> safe at l=2
      ("B", "y", 1.0), ("B", "y", 2.0),
      // group (C, z): nulls carry no diversity -> 1 distinct -> unsafe
      ("C", "z", 5.0), ("C", "z", Double.NaN)).toDF("q1", "q2", "s")
      .withColumn("s", when(isnan(col("s")), lit(null)).otherwise(col("s")))
    val out = Cleaning.lDiversify(d.repartition(3), Seq("q1", "q2"), "s", l = 2L)
      .orderBy("s").collect()
      .map(r => (Option(r.getString(0)), r.getAs[Boolean]("qi_suppressed")))
    assert(out.count(_._2) == 5) // A-group (3) + C-group (2) suppressed
    assert(out.filter(_._2).forall(_._1.isEmpty)) // suppressed -> qi nulled
    assert(out.filterNot(_._2).forall(_._1 == Some("B")))
  }

  test("locf carries the last non-null forward per key; leading nulls stay null") {
    val d = Seq(
      ("u1", 1, Some(10.0)), ("u1", 2, None), ("u1", 3, None), ("u1", 4, Some(40.0)),
      ("u2", 1, None), ("u2", 2, Some(5.0))).toDF("k", "t", "v")
    val out = Cleaning.locf(d.repartition(3), "v", Seq("k"), Seq("t"), out = "filled")
      .orderBy("k", "t").collect()
      .map(r => (r.getString(0), r.getInt(1), Option(r.getAs[java.lang.Double]("filled")).map(_.toDouble)))
    assert(out.toSeq == Seq(
      ("u1", 1, Some(10.0)), ("u1", 2, Some(10.0)), ("u1", 3, Some(10.0)),
      ("u1", 4, Some(40.0)),
      ("u2", 1, None), ("u2", 2, Some(5.0))))
    val ex = intercept[IllegalArgumentException] {
      Cleaning.locf(d, "v", Nil, Seq("t"), "filled")
    }
    assert(ex.getMessage.contains("single-partition"))
  }

  test("ksStatistic: identical samples 0, disjoint samples 1, interleaved 0.5") {
    val rows =
      Seq(1.0, 2.0, 3.0).map(v => ("same", v, true)) ++
      Seq(1.0, 2.0, 3.0).map(v => ("same", v, false)) ++
      Seq(1.0, 2.0).map(v => ("disj", v, true)) ++
      Seq(3.0, 4.0).map(v => ("disj", v, false)) ++
      Seq(1.0, 3.0).map(v => ("inter", v, true)) ++
      Seq(2.0, 4.0).map(v => ("inter", v, false))
    val d = rows.toDF("k", "v", "a")
    val out = Cleaning.ksStatistic(d.repartition(5), Seq("k"), "v", col("a"))
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      ("disj", 2L, 2L, 1.0), ("inter", 2L, 2L, 0.5), ("same", 3L, 3L, 0.0)))
  }

  test("benfordAudit: exact digit counts/shares, driver-literal expectations, <1 excluded") {
    val d = Seq(10.0, 1.5, 2.0, 30.0, 0.5).map(("g", _)).toDF("k", "v")
    val out = Cleaning.benfordAudit(d, Seq("k"), "v")
      .orderBy("digit").collect()
      .map(r => (r.getAs[String]("digit"), r.getAs[Long]("n"),
        r.getAs[Double]("share"), r.getAs[Double]("benford")))
    assert(out.toSeq == Seq(
      ("1", 2L, 0.5, Cleaning.benfordShares(0)),
      ("2", 1L, 0.25, Cleaning.benfordShares(1)),
      ("3", 1L, 0.25, Cleaning.benfordShares(2))))
  }

  test("fdAudit surfaces only determinants with >1 distinct dependent; nulls carry none") {
    val d = Seq(
      ("k1", "a"), ("k1", "a"),           // clean
      ("k2", "a"), ("k2", "b"),           // violation: 2 dependents
      ("k3", "a"), ("k3", null),          // null adds no diversity -> clean
    ).toDF("det", "dep")
    val out = Cleaning.fdAudit(d.repartition(3), "det", "dep")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(("k2", 2L, 2L)))
  }
}
