package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/**
 * Shared local-session builder for the driver-contract mains
 * (Verify / Bench / Profile / Explain): one place for the master, shuffle
 * parallelism, AQE, UTC, UI, and catalog-required confs — so a
 * single-query profile always measures exactly the session Bench
 * benchmarks, and a new required conf lands everywhere at once. Also the
 * one home of the library's knobs ([[knob]]) and of the iterative-loop
 * regime ([[withLoop]]).
 */
object Sessions {

  /**
   * AQE initial-partition ceiling sized by the INPUT, not a constant.
   *
   * The sf10 scale step measured 32-partition sorts of pair-heavy stages
   * spilling into 20-30x wall ratios plus two execution-memory aborts —
   * the ceiling must grow with data so per-task state stays bounded. But
   * a fixed wide ceiling taxes every small-scale shuffle: at sf0.1 a
   * blanket 8x-cores start cost +105 s across the 244-query surface
   * (bench/BENCH_LOCAL_r08b vs r08), concentrated on iterative plans
   * that pay the per-shuffle block overhead once per iteration
   * (q209 pagerank +11.7 s over 5 iterations).
   *
   * Sizing rule: one initial partition per ~8 MB of on-disk input.
   * Pair-generating stages (shingle/band explodes) amplify input ~10x,
   * so 8 MB on disk ~ 64 MB post-expansion — Spark's advisory partition
   * size. Bounded below by `cpus` (never fewer initial partitions than
   * cores) and above by 16x cores (a single box cannot usefully run
   * wider; a real cluster would scale the bound by executor count).
   * At sf0.1 (~15 MB) this is exactly `cpus` — the pre-widening plan —
   * and at sf10 (~1.5 GB) it is ~192, inside the envelope that fixed
   * the aborts.
   */
  def initialPartitions(cpus: Int, inputBytes: Long): Int = {
    val byData = (inputBytes / (8L << 20)).toInt
    math.min(math.max(cpus, byData), cpus * 16)
  }

  /** Total on-disk bytes under a data directory (0 for none/missing). */
  def dirBytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    val f = new java.io.File(dir)
    if (f.exists()) walk(f) else 0L
  }

  /** One tunable bar of the library: a `graft.*` session-conf key and
   *  its default. The six values below are the only confs the library
   *  reads; README's knob table lists each one's consumer and spec. */
  final case class Knob(key: String, default: Long)

  /** [[graft.operators.RangeRank.useBucketed]]'s byte clause. */
  val RankRangeBytes = Knob("graft.rank.rangeBytes", 256L << 20)
  /** [[graft.operators.RangeRank.manyLeafRows]]'s row clause (the
   *  default's rationale sits there). */
  val RankRangeRows = Knob("graft.rank.rangeRows", 2L << 20)
  /** naiveBayes' dense-grid bar, in |vocab| × |classes| cells. */
  val NbGridCells = Knob("graft.nb.gridCells", 1000000L)
  /** The SSJoin-family verify-join hash-build bar, in leaf rows. */
  val SsjoinHashRows = Knob("graft.ssjoin.hashRows", 400000L)
  /** connectedComponents' edge-contraction bar, in directed edges. */
  val CcContractMinEdges = Knob("graft.cc.contractMinEdges", 1000000L)
  /** [[withLoop]]'s narrow/wide bar, in measured loop-frame rows. */
  val LoopNarrowRows = Knob("graft.loop.narrowRows", 32000000L)

  /** `k`'s value on this session: the conf when set, else the default. */
  def knob(spark: SparkSession, k: Knob): Long =
    spark.conf.getOption(k.key).flatMap(_.toLongOption).getOrElse(k.default)

  /** What [[withLoop]] hands a loop body: the regime it picked and the
   *  static shuffle width of a narrow loop. */
  final class Loop private[Sessions] (val narrow: Boolean, val width: Int) {
    /** A loop join's build side: SHUFFLE_HASH-hinted when narrow —
     *  checkpoint-scan stats are unknown to the static planner, which
     *  would otherwise sort-merge every loop join. */
    def hinted(df: DataFrame): DataFrame =
      if (narrow) df.hint("shuffle_hash") else df

    /** The loop-layout copy of `df` when narrow: one hash(key) relayout
     *  at the loop width, materialized by `keep` (a checkpoint roller),
     *  so every round's join on `key` streams the kept layout with no
     *  per-round exchange. Wide loops keep `df` as it is. */
    def relaid(df: DataFrame, key: String)(keep: DataFrame => DataFrame): DataFrame =
      if (narrow) keep(df.repartition(width, col(key))) else df
  }

  /**
   * The regime of an ITERATIVE operator (connectedComponents,
   * pageRank), picked once from the loop frame's measured row count
   * `rows` — one decision, no per-operator overrides.
   *
   * Every loop sizes the AQE initial-partition ceiling by the loop
   * frame, not the input: one partition per ~1M loop rows (narrow rows,
   * two longs, ≈ 16-30 MB), bounded [cores, 16× cores] like
   * [[initialPartitions]]. At the input-sized ceiling every exchange of
   * every round paid per-partition scheduling/block overhead (q62 at
   * sf10: 39.8 s → 8.7 s on its 4-round loop).
   *
   * Below [[LoopNarrowRows]] (32 M) the loop is NARROW: adaptive
   * execution off and a static shuffle width of one partition per
   * ~250k loop rows, floored at 4 and capped at 16× cores. Under AQE
   * every exchange of every round materializes as its own job with a
   * replanning pass (a CC round was ~8 jobs of 10-100 ms orchestration
   * over frames of a few MB); with AQE off a round is one statically
   * planned job. The body gets the width and the matching hints and
   * relayout through [[Loop]]. Measured at sf10, regime off vs on
   * (bench/BENCH_CC_sf10_narrow{OFF,ON}_r14.json): q62 17.1 → 6.7 s,
   * q98 19.6 → 14.7 s. At or above the bar the loop stays wide (AQE on),
   * where runtime skew handling earns its planning cost.
   *
   * The overridden confs are restored when `body` returns or throws;
   * everything the loop materializes (localCheckpoints) runs under the
   * override, and the returned frame is a checkpoint scan that plans no
   * shuffles, so the restore cannot race the result. Spark has no
   * per-plan conf, so a CONCURRENT planner on the same session would see
   * the override while `body` runs — the driver mains are serial.
   */
  def withLoop[T](spark: SparkSession, rows: Long)(body: Loop => T): T = {
    val cores = spark.sparkContext.defaultParallelism
    val loop = new Loop(rows < knob(spark, LoopNarrowRows),
      math.min(math.max(4L, rows / 250000L), cores * 16L).toInt)
    val ceiling = math.min(math.max(cores.toLong, rows / 1000000L), cores * 16L)
    val overrides =
      Seq("spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> ceiling.toString) ++
        (if (loop.narrow) Seq("spark.sql.adaptive.enabled" -> "false",
          "spark.sql.shuffle.partitions" -> loop.width.toString) else Nil)
    val set = spark.conf.getAll
    val prev = overrides.map { case (k, _) => k -> set.get(k) }
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try body(loop)
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def local(cpus: String, dataDir: Option[String] = None): SparkSession = {
    val n = cpus.toIntOption.getOrElse(32)
    val init = initialPartitions(n, dataDir.map(dirBytes).getOrElse(0L))
    graft.sources.Tables.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        init.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
