package graft

import org.apache.spark.sql.functions._

import graft.operators.Relational

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("keepFirst keeps exactly one deterministic row per key") {
    val d = Seq((1, "b", 20), (1, "a", 10), (2, "c", 5)).toDF("k", "ord", "v")
    val out = Relational.keepFirst(d, Seq(col("k")), Seq(col("ord")))
      .orderBy("k").select("ord").as[String].collect().toSeq
    assert(out == Seq("a", "c"))
  }

  test("mergeRightDedup joins the left subset and dedups on the key") {
    val left = Seq((1, "dim1"), (2, "dim2")).toDF("k", "attr")
    val right = Seq((1, 100), (1, 200), (3, 300)).toDF("k", "m")
    val out = Relational.mergeRightDedup(left, Seq("attr"), right, "k",
        firstBy = Seq(col("m")), broadcastLeft = true)
      .orderBy("k").collect()
    assert(out.length == 2) // keys 1 and 3
    assert(out(0).getAs[Int]("m") == 100) // keep-first under m order
    assert(out(1).isNullAt(out(1).fieldIndex("attr"))) // left join: unmatched key 3
  }

  test("topK is deterministic under ties via the tie-break column") {
    val d = Seq((1, 10), (2, 10), (3, 5)).toDF("id", "v")
    val out = Relational.topK(d, 2, col("v").desc, col("id").asc)
      .select("id").as[Int].collect().toSeq
    assert(out == Seq(1, 2))
  }

  test("pivotConditional produces one row per group with fixed columns") {
    val d = Seq(("g1", "x"), ("g1", "x"), ("g1", "y"), ("g2", "z")).toDF("g", "p")
    val out = Relational.pivotConditional(d, Seq("g"), "p", Seq("x", "y"), lit(1L))
      .orderBy("g").collect()
    assert(out.map(_.getAs[Long]("x")).toSeq == Seq(2L, 0L))
    assert(out.map(_.getAs[Long]("y")).toSeq == Seq(1L, 0L))
  }

  test("anti and semi joins partition rows by existence") {
    val a = Seq(1, 2, 3).toDF("k")
    val b = Seq(2, 3, 4).toDF("k2")
    assert(Relational.antiJoin(a, b, col("k") === col("k2")).as[Int].collect().toSeq == Seq(1))
    assert(Relational.semiJoin(a, b, col("k") === col("k2")).as[Int].collect().sorted.toSeq == Seq(2, 3))
  }

  test("stratifiedSample: deterministic under ties, n per stratum, layout independent") {
    // duplicate hash values ("dup") within strata force tie-breaking
    val d = ((1 to 100).map(i => (s"s${i % 3}", "dup", i)) ++
      (101 to 130).map(i => (s"s${i % 3}", s"v$i", i))).toDF("stratum", "text", "id")
    def draw(df: org.apache.spark.sql.DataFrame) =
      Relational.stratifiedSample(df, Seq("stratum"), col("text"), 5, Seq(col("id")))
        .collect().map(r => (r.getString(0), r.getInt(2))).toSet
    val a = draw(d)
    val b = draw(d.repartition(7))
    assert(a == b, "same draw regardless of physical layout, even with tied hashes")
    assert(a.size == 15)
    assert(a.map(_._1) == Set("s0", "s1", "s2"))
  }

  test("idempotentAppend drops already-loaded keys; re-run is a no-op") {
    val existing = Seq((1, "old"), (2, "old")).toDF("k", "v")
    val incoming = Seq((2, "new"), (3, "new")).toDF("k", "v")
    val first = Relational.idempotentAppend(incoming, existing, Seq("k"))
    assert(first.select("k").as[Int].collect().toSeq == Seq(3))
    val afterLoad = existing.unionByName(first)
    assert(Relational.idempotentAppend(incoming, afterLoad, Seq("k")).isEmpty)
  }

  test("unionSlices unions by name") {
    val s1 = Seq((1, "a")).toDF("x", "y")
    val s2 = Seq(("b", 2)).toDF("y", "x")
    assert(Relational.unionSlices(Seq(s1, s2)).count() == 2)
  }

  test("quantileBins assigns ANSI NTILE buckets: early buckets take the remainder") {
    // 7 rows into 3 bins -> sizes 3,2,2 by value order
    val df = (1 to 7).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val out = Relational.quantileBins(df, "v", Nil, 3, tieBreak = Seq("id"))
      .orderBy("id").select("bin").as[Long].collect().toSeq
    assert(out == Seq(1L, 1L, 1L, 2L, 2L, 3L, 3L))
    // per-group: bins restart within each key
    val g = Seq(("a", 1.0), ("a", 2.0), ("b", 9.0), ("b", 3.0)).toDF("k", "v")
      .withColumn("id", col("v"))
    val gb = Relational.quantileBins(g, "v", Seq("k"), 2, tieBreak = Seq("id"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(3))).toSet
    assert(gb == Set(("a", 1.0, 1L), ("a", 2.0, 2L), ("b", 3.0, 1L), ("b", 9.0, 2L)))
  }

  test("movingAvg averages the trailing frame per key") {
    val df = Seq(
      ("c1", 1, 10.0), ("c1", 2, 20.0), ("c1", 3, 30.0), ("c1", 4, 40.0),
      ("c2", 1, 100.0),
    ).toDF("k", "t", "v")
    val out = Relational.movingAvg(df, "v", Seq("k"), Seq(col("t")), window = 2, out = "m")
      .orderBy("k", "t").select("m").as[Double].collect().toSeq
    assert(out == Seq(10.0, 15.0, 25.0, 35.0, 100.0))
  }

  test("melt rotates measure columns into rows and round-trips through pivot") {
    val df = Seq((1L, 10.0, 0.1), (2L, 20.0, 0.2)).toDF("id", "price", "tax")
    val long = Relational.melt(df, Seq("id"), Seq("price", "tax"))
    assert(long.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet ==
      Set((1L, "price", 10.0), (1L, "tax", 0.1), (2L, "price", 20.0), (2L, "tax", 0.2)))
    val wide = Relational.pivotConditional(long, Seq("id"), "measure",
      Seq("price", "tax"), col("value"))
    assert(wide.orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq ==
      Seq((1L, 10.0, 0.1), (2L, 20.0, 0.2)))
  }

  test("topKPerGroup keeps k rows per key with a total order, and plans a group limit") {
    val df = Seq(
      ("a", 1L, 9.0), ("a", 2L, 9.0), ("a", 3L, 7.0), ("a", 4L, 1.0),
      ("b", 5L, 2.0),
    ).toDF("k", "id", "v")
    val out = Relational.topKPerGroup(df, Seq("k"), Seq(col("v").desc, col("id")), 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3))).toSet
    assert(out == Set(("a", 1L, 1), ("a", 2L, 2), ("b", 5L, 1)))
    val plan = Relational.topKPerGroup(df, Seq("k"), Seq(col("v").desc, col("id")), 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected a group-limit plan:\n$plan")
  }

  test("heavyHitters ranks by frequency with deterministic ties and exact share") {
    val df = (Seq.fill(6)("x") ++ Seq.fill(3)("y") ++ Seq.fill(3)("a") ++ Seq("z"))
      .toDF("v")
    val out = Relational.heavyHitters(df, "v", 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(
      ("x", 6L, 6.0 / 13.0), ("a", 3L, 3.0 / 13.0), ("y", 3L, 3.0 / 13.0)))
  }

  test("mergeAggregates: merging stored + delta partials equals a full recompute") {
    val rows = (1 to 200).map(i => (s"k${i % 3}", i.toLong, BigDecimal(i) / 4))
    val df = rows.toDF("k", "n_src", "v")
    def agg(d: org.apache.spark.sql.DataFrame) =
      d.groupBy("k").agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    val stored = agg(df.filter(col("n_src") <= 120))
    val delta = agg(df.filter(col("n_src") > 120))
    val merged = Relational.mergeAggregates(stored, delta, Seq("k"), Seq("n", "s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
    val full = agg(df)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
    assert(merged == full)
  }

  test("hll partials roll up to an accurate merged estimate") {
    val df = (1 to 5000).map(i => (s"g${i % 4}", (i % 700).toLong)).toDF("g", "v")
    val fromPartials = Relational.hllRollup(
      Relational.hllPartials(df, Seq("g"), "v"), Nil).head.getLong(0)
    val direct = Relational.hllRollup(
      Relational.hllPartials(df, Nil, "v"), Nil).head.getLong(0)
    // union-of-partials and direct sketch are independently within HLL
    // error of the truth (they need NOT be bit-equal: the union gadget
    // is HLL_8 while a direct sketch defaults to HLL_4)
    assert(math.abs(fromPartials - 700.0) / 700.0 < 0.05, s"merged=$fromPartials")
    assert(math.abs(direct - 700.0) / 700.0 < 0.05, s"direct=$direct")
    // determinism of the rollup itself (same partials -> same estimate)
    val again = Relational.hllRollup(
      Relational.hllPartials(df.repartition(7), Seq("g"), "v"), Nil).head.getLong(0)
    assert(again == fromPartials, "rollup is layout-independent")
  }

  test("corrMatrix == pairwise decCorr, bit-equal, from ONE scan") {
    val rnd = new scala.util.Random(5)
    val df = (1 to 500).map(_ => (rnd.nextDouble(), rnd.nextDouble(), rnd.nextDouble()))
      .toDF("a", "b", "c")
    val m = Relational.corrMatrix(df, Seq("a", "b", "c"))
    val got = m.collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    for ((x, y) <- got.keySet) {
      val one = df.agg(graft.functions.Exact.decCorr(col(x), col(y))).head.getDouble(0)
      assert(got((x, y)) == one, s"($x,$y)") // same sums, same op order -> bit-equal
    }
    // the one-scan claim: all moments come from a single pass (count
    // logical scan nodes — AQE prints physical plans twice)
    val scans = m.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.size
    assert(scans == 1, s"expected 1 scan, got $scans")
    // listwise deletion: a null row drops from EVERY moment, so the
    // matrix equals the clean-subset matrix (not a mixed-support blend)
    val withNull = df.unionByName(
      Seq((Option.empty[Double], Option(0.5), Option(0.5)))
        .toDF("a", "b", "c"))
    val cleaned = Relational.corrMatrix(withNull, Seq("a", "b", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(cleaned == got)
  }

  test("exact distinct rollup of partials == direct COUNT(DISTINCT), any layout") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 2000).map { _ =>
      (s"t${rnd.nextInt(3)}", rnd.nextInt(30), rnd.nextInt(200))
    }.toDF("typ", "day", "user")
    val partials = Relational.distinctPartials(df.repartition(7), Seq("typ", "day"), "user")
    val rolled = Relational.exactDistinctRollup(partials, Seq("typ"), "user")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = df.groupBy("typ").agg(countDistinct(col("user")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rolled == direct)
    // global grain from the same partials
    val global = Relational.exactDistinctRollup(partials, Nil, "user").head.getLong(0)
    assert(global == df.select("user").distinct().count())
  }

  test("histogram buckets span [min,max]; edge values clamp into the last bucket") {
    val df = (0 to 100).map(_.toDouble).toDF("v")
    val out = Relational.histogram(df, "v", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // width 10: buckets 0..9 get 10 each, v=100 clamps into bucket 9
    assert(out == (0L to 9L).map(b => b -> (if (b == 9) 11L else 10L)).toMap)
    val flat = Seq(5.0, 5.0, 5.0).toDF("v")
    assert(Relational.histogram(flat, "v", 10).collect().toSeq.map(r => (r.getLong(0), r.getLong(1))) == Seq((0L, 3L)))
  }

  test("grouped histogram uses per-group bounds, not global ones") {
    // group a spans [0,10], group b spans [100,300]: with GLOBAL bounds
    // every a-row would land in bucket 0; per-group bounds spread both
    val df = Seq(
      ("a", 0.0), ("a", 5.0), ("a", 10.0),
      ("b", 100.0), ("b", 200.0), ("b", 300.0), ("b", 300.0),
      ("c", 7.0), ("c", 7.0), // degenerate group: hi == lo -> bucket 0
    ).toDF("g", "v")
    val out = Relational.histogram(df, "v", 2, keys = Seq("g"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("a", 0L) -> 1L, ("a", 1L) -> 2L,          // 0 | 5 (edge), 10 (clamped)
      ("b", 0L) -> 1L, ("b", 1L) -> 3L,          // 100 | 200,300,300
      ("c", 0L) -> 2L))
  }

  test("grouped histogram keeps null-key rows (null-safe bounds join)") {
    // groupBy treats null as a group; the bounds join must too, or the
    // null-key rows silently vanish from the output
    val df = Seq((Option("a"), 1.0), (Option("a"), 3.0),
      (Option.empty[String], 10.0), (Option.empty[String], 30.0)).toDF("g", "v")
    val out = Relational.histogram(df, "v", 2, keys = Seq("g"))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      (Some("a"), 0L) -> 1L, (Some("a"), 1L) -> 1L,
      (None, 0L) -> 1L, (None, 1L) -> 1L))
    assert(out.values.sum == 4L) // every input row is represented
  }

  test("movingAvg frame sum is partition-order independent (exact decimal)") {
    val rnd = new scala.util.Random(3)
    val df = (1 to 500).map(i => (i % 5, i, rnd.nextInt(100000) / 100.0)).toDF("k", "t", "v")
    val a = Relational.movingAvg(df.repartition(7), "v", Seq("k"), Seq(col("t")), 10, "m")
      .orderBy("k", "t").select("m").as[Double].collect().toSeq
    val b = Relational.movingAvg(df.coalesce(1), "v", Seq("k"), Seq(col("t")), 10, "m")
      .orderBy("k", "t").select("m").as[Double].collect().toSeq
    assert(a == b)
  }

  test("groupingSetsAgg computes exactly the requested grains, one pass") {
    val d = Seq(("r", "x", 1L), ("r", "y", 2L), ("s", "x", 4L)).toDF("a", "b", "v")
    val out = Relational.groupingSetsAgg(d,
        Seq(Seq("a", "b"), Seq("b"), Seq()), Seq("a", "b"),
        Seq(sum(col("v")).as("s")))
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getInt(2), r.getInt(3), r.getLong(4))).toSet
    assert(out == Set(
      (Some("r"), Some("x"), 0, 0, 1L),   // (a, b) grain
      (Some("r"), Some("y"), 0, 0, 2L),
      (Some("s"), Some("x"), 0, 0, 4L),
      (None, Some("x"), 1, 0, 5L),        // (b) grain — no (a)-only grain
      (None, Some("y"), 1, 0, 2L),
      (None, None, 1, 1, 7L)))            // grand total
  }

  test("rollingAnomalies flags a spike against the PRIOR baseline; first row is NULL") {
    val d = ((1 to 6).map(i => (1, i, 10.0)) :+ ((1, 7, 100.0)))
      .map { case (k, t, v) => (k, t, v) }.toDF("k", "t", "v")
    val out = Relational.rollingAnomalies(d, "v", Seq("k"), Seq(col("t")),
        window = 5, k = 3.0)
      .orderBy("t").collect()
    assert(out.head.isNullAt(out.head.fieldIndex("roll_mean"))) // empty frame
    assert(!out.head.getAs[Boolean]("is_anomaly")) // no baseline -> not flagged
    val spike = out.last
    assert(spike.getAs[Double]("roll_mean") == 10.0)
    assert(spike.getAs[Double]("roll_std") == 0.0)  // constant baseline, clamped exact
    assert(spike.getAs[Boolean]("is_anomaly"))
    // the constant rows between are not flagged
    assert(out.slice(1, 6).forall(!_.getAs[Boolean]("is_anomaly")))
  }

  test("orderedConcat joins sorted members layout-independently; distinct dedups") {
    val d = Seq(("g", "b"), ("g", "a"), ("g", "b"), ("h", "z")).toDF("k", "v")
    val out = Relational.orderedConcat(d.repartition(5), Seq("k"), "v", distinct = true)
      .orderBy("k").collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(("g", "a,b", 3L), ("h", "z", 1L)))
    val dup = Relational.orderedConcat(d, Seq("k"), "v")
      .filter(col("k") === "g").head.getString(1)
    assert(dup == "a,b,b") // duplicates kept, still sorted
  }

  test("abcClassify assigns cumulative-share classes with deterministic tie order") {
    val d = Seq(("g", 1L, 50.0), ("g", 2L, 30.0), ("g", 3L, 15.0), ("g", 4L, 5.0))
      .toDF("grp", "id", "w")
    val out = Relational.abcClassify(d, Seq("grp"), "w", Seq("id"))
      .orderBy("id").collect()
      .map(r => (r.getLong(r.fieldIndex("id")), r.getAs[Double]("cum_share"),
        r.getAs[String]("abc_class")))
    assert(out.toSeq == Seq(
      (1L, 0.5, "A"), (2L, 0.8, "A"), (3L, 0.95, "B"), (4L, 1.0, "C")))
  }

  test("histogram2d buckets both axes over observed bounds; max values clamp to the last cell") {
    val d = Seq((0.0, 0.0), (0.5, 0.0), (1.0, 10.0), (1.0, 10.0), (0.25, 5.0))
      .toDF("x", "y")
    val out = Relational.histogram2d(d, "x", "y", nx = 4, ny = 2)
      .orderBy("bx", "by").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // x spans [0,1] -> width .25; y spans [0,10] -> width 5
    assert(out.toSeq == Seq(
      (0L, 0L, 1L),  // (0, 0)
      (1L, 1L, 1L),  // (0.25, 5) -> bx=1, by=1
      (2L, 0L, 1L),  // (0.5, 0)
      (3L, 1L, 2L))) // (1, 10) x2: both maxes clamp into the last cell
  }

  test("deltaContribution: shares sum to 1, counter-trend segments go negative, missing periods coalesce") {
    val d = Seq(
      ("s1", 1, 100.0), ("s1", 2, 160.0), // +60
      ("s2", 1, 50.0), ("s2", 2, 30.0),   // -20
      ("s3", 2, 10.0)).toDF("seg", "per", "v") // new segment: +10
    val out = Relational.deltaContribution(d.repartition(3), Seq("seg"), col("v"),
        isCurrent = col("per") === 2, isPrior = col("per") === 1)
      .orderBy("seg").collect()
      .map(r => (r.getString(0), r.getDouble(3), r.getDouble(4)))
    // total delta = 60 - 20 + 10 = 50
    assert(out.toSeq == Seq(
      ("s1", 60.0, 1.2), ("s2", -20.0, -0.4), ("s3", 10.0, 0.2)))
  }

  test("rollingQuantile: frame-bounded median shrugs off a spike a mean would follow") {
    val d = Seq(("k", 1, 1.0), ("k", 2, 2.0), ("k", 3, 100.0), ("k", 4, 3.0),
      ("k", 5, 4.0)).toDF("g", "t", "v")
    val out = Relational.rollingQuantile(d.repartition(2), "v", Seq("g"),
        Seq(col("t")), window = 3, p = 0.5)
      .orderBy("t").collect().map(r => (r.getInt(1), r.getDouble(3)))
    // frames: [1] [1,2] [1,2,100] [2,100,3] [100,3,4]
    assert(out.toSeq == Seq((1, 1.0), (2, 1.5), (3, 2.0), (4, 3.0), (5, 4.0)))
  }

  test("trimmedMean averages inside the percentile band; outliers excluded not clamped") {
    // group a: 1..10 plus a 1000 outlier; [0.05, 0.95] band keeps 1..10
    val d = ((1 to 10).map(i => ("a", i.toDouble)) :+ (("a", 1000.0))) ++
      Seq(("b", 5.0), ("b", 6.0), ("b", 7.0))
    val out = Relational.trimmedMean(d.toDF("k", "v").repartition(3), "v", Seq("k"),
        lo = 0.05, hi = 0.9)
      .orderBy("k").collect().map(r => (r.getString(0), r.getDouble(1)))
    // a: p05 of 1..1000 set = 1.5, p90 = 10 -> keeps 2..10, mean 6
    assert(out(0)._1 == "a" && out(0)._2 == 6.0)
    assert(out(1) == ("b", 6.0))
  }

  test("gini: uniform group 0-ish, fully concentrated approaches 1, scale invariant") {
    val d = (Seq.fill(4)(("u", 10.0)) ++ Seq(("c", 0.0), ("c", 0.0), ("c", 0.0), ("c", 100.0)) ++
      Seq(("z", 0.0), ("z", 0.0))).toDF("k", "v")
    val out = Relational.gini(d.repartition(3), "v", Seq("k"))
      .orderBy("k").collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    // uniform n=4: G = (2*(1+2+3+4)*10 - 5*40)/(4*40) = 0
    // concentrated n=4: G = (2*4*100 - 5*100)/(4*100) = 0.75 = (n-1)/n
    assert(out.toSeq == Seq(
      ("c", Some(0.75)), ("u", Some(0.0)), ("z", None))) // zero-total -> NULL
  }

  test("hhi: uniform members 1/n, monopoly 1") {
    val d = Seq(("m1", "a"), ("m1", "b"), ("m1", "c"), ("m1", "d"),
      ("m2", "a"), ("m2", "a"), ("m2", "a")).toDF("g", "m")
    val out = Relational.hhi(d.repartition(3), "g", "m")
      .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(out.toSeq == Seq(("m1", 0.25), ("m2", 1.0)))
  }

  test("copurchasePairs counts baskets per unordered pair; repeated lines collapse to one") {
    val d = Seq(
      (1L, 10L), (1L, 20L), (1L, 20L), (1L, 30L), // repeated 20 counts once
      (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 20L), (3L, 40L)).toDF("basket", "item")
    val out = Relational.copurchasePairs(d, "basket", "item", minSupport = 2L)
      .orderBy("item_a", "item_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // (10,20) in baskets 1,2,3; every other pair appears once
    assert(out.toSeq == Seq((10L, 20L, 3L)))
  }

  test("skyline2d keeps exactly the non-dominated set; equal frontier points both survive") {
    val d = Seq(
      ("a", 1, 10.0), ("b", 2, 8.0), ("c", 3, 5.0),  // frontier
      ("d", 1, 9.0),  // dominated by a (same x, lower y)
      ("e", 2, 5.0),  // dominated by b and c
      ("f", 3, 5.0),  // duplicate of c's point -> both kept
      ("g", 2, 8.0)). // duplicate of b's point -> both kept
      toDF("id", "x", "y")
    val out = Relational.skyline2d(d.repartition(3), "x", "y")
      .select("id").collect().map(_.getString(0)).sorted
    assert(out.toSeq == Seq("a", "b", "c", "f", "g"))
  }

  test("weightedMedian: smallest value whose cumulative weight reaches half the total") {
    val d = Seq(
      ("k", 1.0, 1.0), ("k", 2.0, 1.0), ("k", 3.0, 10.0), // mass sits at 3.0
      ("m", 5.0, 2.0), ("m", 7.0, 2.0)). // even split: lower median 5.0
      toDF("g", "v", "w")
    val out = Relational.weightedMedian(d.repartition(3), "v", "w", Seq("g"))
      .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(out.toSeq == Seq(("k", 3.0), ("m", 5.0)))
    val ex = intercept[IllegalArgumentException] {
      Relational.weightedMedian(d, "v", "w", Nil)
    }
    assert(ex.getMessage.contains("single-partition"))
  }

  test("chiSquareCells: exact grid totals, zero cells present with their full contribution") {
    val d = Seq.fill(10)(("A", "X")) ++ Seq.fill(10)(("A", "Y")) ++
      Seq.fill(20)(("B", "X")) // (B, Y) never observed
    val out = Relational.chiSquareCells(d.toDF("a", "b"), "a", "b")
      .orderBy("a", "b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    // row A=20 B=20, col X=30 Y=10, n=40
    assert(out.toSeq == Seq(
      ("A", "X", 10L, 15.0, 25.0 / 15),
      ("A", "Y", 10L, 5.0, 5.0),
      ("B", "X", 20L, 15.0, 25.0 / 15),
      ("B", "Y", 0L, 5.0, 5.0))) // the unobserved cell still contributes
  }

  test("linregGroups: exact OLS per group; constant-x NULLs, constant-y keeps slope, drops r2") {
    val d = Seq(
      ("a", 1.0, 2.0), ("a", 2.0, 4.0), ("a", 3.0, 6.0), // y = 2x
      ("b", 5.0, 1.0), ("b", 5.0, 9.0),                  // constant x
      ("c", 1.0, 5.0), ("c", 2.0, 5.0))                  // constant y
      .toDF("k", "x", "y")
    val out = Relational.linregGroups(d, Seq("k"), "x", "y")
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Double])))
    assert(out(0) == (("a", 3L, Some(2.0), Some(0.0), Some(1.0))))
    assert(out(1) == (("b", 2L, None, None, None)))
    val (ck, cn, cSlope, _, cR2) = out(2)
    assert(ck == "c" && cn == 2L && cR2.isEmpty)
    assert(math.abs(cSlope.get) < 1e-9) // float residue magnitude, engine-identical
  }

  test("sequenceGaps: two-level plan matches the one-window gap set, empty buckets fold in") {
    val keys = Seq(1L, 2L, 5L, 6L, 99L, 102L, 203L, 203L) // dup collapses
    val out = Relational.sequenceGaps(keys.toDF("k").repartition(4), "k", 100L)
      .orderBy("gap_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (3L, 4L, 2L), (7L, 98L, 92L),     // in-bucket (bucket 0)
      (100L, 101L, 2L),                 // boundary bucket 0 → 1
      (103L, 202L, 100L)))              // boundary bucket 1 → 2
    // entirely-missing middle bucket folds into one boundary gap
    val sparse = Relational.sequenceGaps(Seq(1L, 250L).toDF("k"), "k", 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sparse.toSeq == Seq((2L, 249L, 248L)))
  }

  test("cramersV: perfect 2x2 association scores 1; single-column grid yields NULL") {
    val perfect = Seq(("x", 1), ("x", 1), ("y", 2), ("y", 2)).toDF("a", "b")
    val v = Relational.cramersV(
      Relational.chiSquareCells(perfect.repartition(2), "a", "b"), "a", "b")
      .collect()(0)
    assert(v.getLong(0) == 4L && v.getLong(1) == 1L)
    assert(math.abs(v.getDouble(2) - 4.0) < 1e-12)       // chi2 = n for perfect 2x2
    assert(math.abs(v.getDouble(3) - 1.0) < 1e-12)
    // degenerate: one distinct b -> min dof 0 -> NULL effect size
    val flat = Seq(("x", 1), ("y", 1)).toDF("a", "b")
    val d = Relational.cramersV(
      Relational.chiSquareCells(flat, "a", "b"), "a", "b").collect()(0)
    assert(d.getLong(1) == 0L && d.isNullAt(3))
  }

  test("mutualInfo: ln2 for a perfect 2x2 dependence, exactly 0 under independence") {
    val dep = Seq(("x", 1), ("x", 1), ("y", 2), ("y", 2)).toDF("a", "b")
    val m = Relational.mutualInfo(dep.repartition(2), "a", "b").collect()(0)
    assert(m.getLong(0) == 4L)
    assert(math.abs(m.getDouble(1) - math.log(2.0)) < 1e-6)
    // independent: every cell p_xy = p_x * p_y -> each term ln(1) = 0
    val ind = Seq(("x", 1), ("x", 2), ("y", 1), ("y", 2)).toDF("a", "b")
    assert(Relational.mutualInfo(ind, "a", "b").collect()(0).getDouble(1) == 0.0)
  }

  test("pageRank: symmetric 2-cycle stays uniform; chain leaks through the damping") {
    val cycle = Seq(("a", "b", 1L), ("b", "a", 1L)).toDF("s", "d", "w")
    val out = Relational.pageRank(cycle.repartition(2), "s", "d", "w",
      iterations = 5, damping = 0.85)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(out("a") - 0.5) < 1e-12 && math.abs(out("b") - 0.5) < 1e-12)
    // a -> b only: a holds the teleport floor, b = floor + d*(a's rank);
    // replay the same IEEE sequence iteratively
    val chain = Seq(("a", "b", 3L)).toDF("s", "d", "w")
    val got = Relational.pageRank(chain, "s", "d", "w", iterations = 3, damping = 0.85)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    var (ra, rb) = (0.5, 0.5)
    (1 to 3).foreach { _ =>
      val floor = (1.0 - 0.85) / 2.0
      val nb = floor + 0.85 * (ra * 3.0 / 3.0)
      ra = floor; rb = nb
    }
    assert(got("a") == ra && got("b") == rb)
    // the wide loop regime (a zero narrow bar: AQE on, no relayout, no
    // hints) yields bit-identical ranks on both inputs
    spark.conf.set("graft.loop.narrowRows", "0")
    val (wideCycle, wideChain) =
      try (Relational.pageRank(cycle.repartition(2), "s", "d", "w", iterations = 5, damping = 0.85)
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap,
        Relational.pageRank(chain, "s", "d", "w", iterations = 3, damping = 0.85)
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap)
      finally spark.conf.unset("graft.loop.narrowRows")
    assert(wideCycle == out && wideChain == got)
    val ex = intercept[IllegalArgumentException] {
      Relational.pageRank(chain, "s", "d", "w", iterations = 0, damping = 0.85)
    }
    assert(ex.getMessage.contains("iteration"))
  }

  test("assocRules: hand-checked confidence and lift both directions") {
    // baskets: 1:{x,y} 2:{x,y} 3:{x} — pair support 2, supp(x)=3,
    // supp(y)=2, N=3
    val df = Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"), (3L, "x"))
      .toDF("b", "it")
    val out = Relational.assocRules(df, "b", "it", minSupport = 2L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out.keySet == Set(("x", "y"), ("y", "x")))
    val (sxy, cxy, lxy) = out(("x", "y"))
    assert(sxy == 2L && cxy == 2.0 / 3.0 && lxy == 2.0 * 3.0 / (3.0 * 2.0))
    val (syx, cyx, lyx) = out(("y", "x"))
    assert(syx == 2L && cyx == 1.0 && lyx == 1.0)
  }

  test("classMetrics: per-class P/R/F1 plus macro means; zero-denominator metrics are NULL") {
    // confusion: (A,A)=3, (A,B)=1, (B,B)=2, and class C only ever TRUE
    // (never predicted): precision(C) NULL, recall(C) 0
    val conf = Seq(("A", "A", 3L), ("A", "B", 1L), ("B", "B", 2L), ("C", "A", 1L))
      .toDF("t", "p", "n")
    val rows = Relational.classMetrics(conf, "t", "p", "n").collect()
      .map(r => r.getString(0) -> ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))))
      .toMap
    val (pa, ra, fa) = rows("A")
    assert(pa.contains(3.0 / 4.0) && ra.contains(3.0 / 4.0) && fa.contains(3.0 / 4.0))
    val (pb, rb2, fb) = rows("B")
    assert(pb.contains(2.0 / 3.0) && rb2.contains(1.0))
    assert(math.abs(fb.get.asInstanceOf[Double] - 0.8) < 1e-12)
    val (pcm, rcm, fcm) = rows("C")
    assert(pcm.isEmpty && rcm.contains(0.0) && fcm.isEmpty)
    // macro: precision over {A,B}, recall over {A,B,C}, f1 over {A,B}
    val (mp, mr, mf) = rows("__macro__")
    assert(math.abs(mp.get.asInstanceOf[Double] - (3.0 / 4 + 2.0 / 3) / 2) < 1e-6)
    assert(math.abs(mr.get.asInstanceOf[Double] - (3.0 / 4 + 1.0 + 0.0) / 3) < 1e-6)
    assert(math.abs(mf.get.asInstanceOf[Double] - (3.0 / 4 + 0.8) / 2) < 1e-6)
  }
}
