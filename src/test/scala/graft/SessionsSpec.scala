package graft

import org.apache.spark.sql.functions.col

/**
 * Pins the input-sized AQE initial-partition rule (Sessions.initialPartitions):
 * never below cores, grows one partition per ~8 MB of on-disk input
 * (≈64 MB post-expansion for pair-generating stages), capped at 16x cores.
 * The rule exists because a fixed wide ceiling taxed every small-scale
 * shuffle (+105 s across the sf0.1 surface, bench/BENCH_LOCAL_r08b vs r08)
 * while a fixed narrow one overflowed per-task memory at sf10. Also pins
 * the iterative-loop entry point (Sessions.withLoop): the regime bar, the
 * pinned width and the restore of every conf it overrides.
 */
class SessionsSpec extends SparkSpec {
  private val MB = 1L << 20

  test("small inputs never start wider than the core count") {
    assert(Sessions.initialPartitions(32, 0L) === 32)
    assert(Sessions.initialPartitions(32, 15 * MB) === 32)   // ~sf0.1
    assert(Sessions.initialPartitions(32, 154 * MB) === 32)  // ~sf1
    assert(Sessions.initialPartitions(4, 15 * MB) === 4)
  }

  test("large inputs widen by ~8 MB per partition within the 16x cap") {
    assert(Sessions.initialPartitions(32, 1536 * MB) === 192) // ~sf10
    assert(Sessions.initialPartitions(32, 100L * 1024 * MB) === 512) // capped
    assert(Sessions.initialPartitions(8, 1536 * MB) === 128)  // 16x cap binds
  }

  test("dirBytes sums a directory tree and is 0 for a missing path") {
    val d = java.nio.file.Files.createTempDirectory("graft-sessions").toFile
    val f = new java.io.File(d, "x.bin")
    java.nio.file.Files.write(f.toPath, Array.fill[Byte](1024)(1))
    val sub = new java.io.File(d, "sub"); sub.mkdirs()
    java.nio.file.Files.write(new java.io.File(sub, "y.bin").toPath,
      Array.fill[Byte](512)(2))
    assert(Sessions.dirBytes(d.getAbsolutePath) === 1536L)
    assert(Sessions.dirBytes(d.getAbsolutePath + "-nope") === 0L)
  }

  private val AqeKey = "spark.sql.adaptive.enabled"
  private val WidthKey = "spark.sql.shuffle.partitions"
  private val InitKey = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
  private val LoopKeys = Seq(AqeKey, WidthKey, InitKey)

  /** The explicitly set value of each conf withLoop overrides (None = unset). */
  private def loopConfs(): Seq[Option[String]] = {
    val set = spark.conf.getAll
    LoopKeys.map(set.get)
  }

  /** Runs `body` with `key` set to `value`, restoring its prior setting. */
  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("withLoop restores AQE, shuffle width and initial partitions on return and on throw") {
    val original = loopConfs()
    try {
      for (preset <- Seq(true, false); throws <- Seq(false, true)) {
        if (preset) LoopKeys.zip(Seq("true", "7", "9")).foreach { case (k, v) => spark.conf.set(k, v) }
        else LoopKeys.foreach(spark.conf.unset)
        val before = loopConfs()
        val ran = scala.util.Try(Sessions.withLoop(spark, 10L) { loop =>
          assert(loop.narrow)
          assert(loopConfs() === Seq(Some("false"), Some(loop.width.toString), Some("4")))
          if (throws) throw new IllegalStateException("loop body failed")
          loop.width
        })
        assert(ran.isFailure === throws, s"preset=$preset")
        assert(loopConfs() === before, s"preset=$preset throws=$throws")
      }
    } finally LoopKeys.zip(original).foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("withLoop picks narrow strictly below graft.loop.narrowRows") {
    withConf(Sessions.LoopNarrowRows.key, "100") {
      val before = loopConfs()
      assert(Sessions.withLoop(spark, 99L)(_.narrow))
      val wide = Sessions.withLoop(spark, 100L) { loop =>
        // wide: only the loop-sized initial-partition ceiling applies
        assert(loopConfs().take(2) === before.take(2))
        assert(spark.conf.get(InitKey) === "4")
        loop.narrow
      }
      assert(!wide)
      assert(loopConfs() === before)
    }
    // default bar: 32 M rows
    assert(Sessions.withLoop(spark, 32000000L - 1)(_.narrow))
    assert(!Sessions.withLoop(spark, 32000000L)(_.narrow))
  }

  test("withLoop pins the shuffle width the body plans at and relays out at") {
    // one partition per ~250k rows, floored at 4, capped at 16x cores
    assert(Sessions.withLoop(spark, 10L)(_.width) === 4)
    assert(Sessions.withLoop(spark, 2000000L)(_.width) === 8)
    withConf(Sessions.LoopNarrowRows.key, Long.MaxValue.toString) {
      assert(Sessions.withLoop(spark, 1L << 40)(_.width) ===
        spark.sparkContext.defaultParallelism * 16)
    }
    Sessions.withLoop(spark, 2000000L) { loop =>
      assert(spark.conf.get(WidthKey) === "8")
      val df = spark.range(100).toDF("id")
      assert(df.groupBy(col("id") % 3).count().rdd.getNumPartitions === 8)
      assert(loop.relaid(df, "id")(identity).rdd.getNumPartitions === 8)
      assert(loop.hinted(df).queryExecution.logical.toString.toLowerCase.contains("shuffle_hash"))
    }
  }
}
