package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Sessions

/**
 * The benchmark's JVM side: one `local[cpus]` session and a single
 * client issuing operations one after another (a closed loop).
 *
 * 1. Set-up, repeated `setups` times: build the session with
 *    `Sessions.local` and warm it by running the `warmup` operations
 *    over the small warm-up inputs. The first set-up is timed from JVM
 *    start; later ones stop the session and build it again.
 * 2. `discard` untimed rounds over the real inputs, for workloads measured
 *    warm (their outputs are still checked).
 * 3. Timed rounds until `seconds` have passed, at least one: each round
 *    runs the operation list once, loading every output under
 *    `out/ops/r<round>` and releasing caches after every operation. With
 *    tracing on, exactly three rounds run: the first traced (the per-layer
 *    metrics, taken from the same first round the untraced run times),
 *    then one traced and one untraced round whose ratio is the tracing
 *    overhead.
 * 4. Untimed: the oracle SQL of every loaded output and the result are
 *    written as JSON; the caller checks the loaded outputs.
 *
 * Usage: Main workload=<w> inputs=<dir> warm=<dir> out=<dir> seconds=<s>
 *   trace=<0|1> cpus=<n> setups=<k> discard=<n> ops=<op,op,...> warmup=<op,op,...>
 */
object Main {
  final case class Sample(round: Int, op: String, secs: Double, ok: Boolean, traced: Boolean,
      timed: Boolean)
  final case class Round(secs: Double, releaseSecs: Double, blocks: Int, traced: Boolean,
      timed: Boolean)

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val inputs = a("inputs")
    val out = a("out")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus")
    def opList(k: String): Seq[Op] = a(k).split(",").toSeq.filter(_.nonEmpty).map(Op.parse)
    val ops = opList("ops")
    val warmOps = opList("warmup")
    val jvmStartUs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L

    // 1. set-up
    val setups = mutable.ArrayBuffer[(Double, Double, Double)]() // (total, local, warm-up)
    var spark: SparkSession = null
    for (i <- 1 to a("setups").toInt) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = if (i == 1) jvmStartUs else Clock.nowUs
      val l0 = Clock.nowUs
      spark = Sessions.local(cpus, Some(inputs))
      spark.sparkContext.setLogLevel("ERROR")
      val l1 = Clock.nowUs
      val off = new Tracer(spark)
      warmOps.foreach { op => op.run(spark, a("warm"), off, s"$out/warm"); Op.release(spark) }
      val w1 = Clock.nowUs
      setups += (((w1 - t0) / 1e6, (l1 - l0) / 1e6, (w1 - l1) / 1e6))
    }
    System.gc()

    // 2. and 3. rounds: discarded, then timed
    val discard = a("discard").toInt
    val tr = new Tracer(spark)
    if (trace) tr.install()
    val samples = mutable.ArrayBuffer[Sample]()
    val rounds = mutable.ArrayBuffer[Round]()
    val errors = mutable.ArrayBuffer[String]()
    var deadline = Long.MaxValue
    var opId = 0L
    var layers = Map.empty[String, Double]
    def timed = rounds.count(_.timed)
    def enough: Boolean = if (trace) timed == 3 else Clock.nowUs >= deadline && timed > 0
    while (!enough) {
      val isTimed = rounds.size >= discard
      if (isTimed && deadline == Long.MaxValue) deadline = Clock.nowUs + (seconds * 1e6).toLong
      val traced = trace && isTimed && timed < 2
      tr.on = traced
      var release = 0L
      var blocks = 0
      val r0 = Clock.nowUs
      tr.span("round", s"round-${rounds.size}") {
        ops.foreach { op =>
          opId += 1
          val o0 = Clock.nowUs
          val ok = try { tr.op(opId, op.name)(op.run(spark, inputs, tr, s"$out/ops/r${rounds.size}")); true }
          catch { case scala.util.control.NonFatal(e) =>
            errors += s"${op.name}: ${e.toString.take(300)}"; false
          }
          val o1 = Clock.nowUs
          blocks += tr.span("release", "Caches.releaseAll")(Op.release(spark))
          release += Clock.nowUs - o1
          samples += Sample(rounds.size, op.name, (o1 - o0) / 1e6, ok, traced, isTimed)
        }
      }
      val r1 = Clock.nowUs
      if (traced) tr.drain()
      tr.on = false
      rounds += Round((r1 - r0) / 1e6, release / 1e6, blocks, traced, isTimed)
      if (trace && timed == 1 && isTimed) {
        layers = Layers.compute(tr, rounds.last, setups.toSeq, cpus.toInt)
        Files.write(Paths.get(out, "trace.json"), Layers.spansJson(tr.spans.toSeq).getBytes(UTF_8))
        tr.reset()
      }
      System.gc()
    }

    // 3. oracle SQL and the result (untimed)
    val outputs = ops.flatMap(_.outputs).distinct
    val oracle = outputs.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> Json.str(_)))
    Files.write(Paths.get(out, "oracle_sql.json"), Json.obj(oracle).getBytes(UTF_8))
    if (trace) layers += "trace.overhead_frac" -> (rounds(discard + 1).secs / rounds(discard + 2).secs - 1.0)
    val knobs = sys.env.toSeq.filter(_._1.startsWith("SPARK_GRAFT_")).map { case (k, v) => k -> Json.str(v) } ++
      spark.conf.getAll.toSeq.filter(_._1.startsWith("graft.")).map { case (k, v) => k -> Json.str(v) }
    val result = Json.obj(Seq(
      "workload" -> Json.str(a("workload")),
      "setups" -> Json.arr(setups.toSeq.map { case (t, l, w) =>
        Json.obj(Seq("total_s" -> Json.num(t), "local_s" -> Json.num(l), "warmup_s" -> Json.num(w)))
      }),
      "rounds" -> Json.arr(rounds.toSeq.map(r => Json.obj(Seq(
        "secs" -> Json.num(r.secs), "release_s" -> Json.num(r.releaseSecs),
        "blocks" -> Json.num(r.blocks), "traced" -> r.traced.toString,
        "timed" -> r.timed.toString)))),
      "samples" -> Json.arr(samples.toSeq.map(s => Json.obj(Seq(
        "round" -> Json.num(s.round), "op" -> Json.str(s.op), "secs" -> Json.num(s.secs),
        "ok" -> s.ok.toString, "traced" -> s.traced.toString, "timed" -> s.timed.toString)))),
      "errors" -> Json.arr(errors.toSeq.map(Json.str)),
      "outputs" -> Json.obj(ops.distinct.map(o => o.name -> Json.arr(o.outputs.map(Json.str)))),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "stamp" -> Json.obj(Seq(
        "spark_version" -> Json.str(spark.version),
        "java_version" -> Json.str(System.getProperty("java.version")),
        "jvm" -> Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.vm.version")),
        "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
        "cpus" -> Json.str(cpus),
        "default_parallelism" -> Json.num(spark.sparkContext.defaultParallelism),
        "peak_rss_mb" -> Json.num(peakRssMb),
        "knobs" -> Json.obj(knobs.sortBy(_._1))))
    ))
    Files.write(Paths.get(out, "result.json"), result.getBytes(UTF_8))
    spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), or -1 where /proc is absent. */
  def peakRssMb: Double =
    try {
      val s = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
      s.linesIterator.collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(-1.0)
    } catch { case scala.util.control.NonFatal(_) => -1.0 }
}

/** Per-layer metrics of one traced round. */
object Layers {
  /** Operator modules always reported, called or not. */
  val modules = Seq("Relational", "Cleaning", "Transforms", "StarSchema", "Dedup")

  def compute(tr: Tracer, round: Main.Round, setups: Seq[(Double, Double, Double)],
      cpus: Int): Map[String, Double] = {
    val spans = tr.spans.toSeq
    val byId = spans.map(s => s.id -> s).toMap
    val c = tr.counters
    val m = mutable.Map[String, Double]()
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    m("sessions.local_s") = med(setups.map(_._2))
    m("sessions.warmup_s") = med(setups.map(_._3))
    for (k <- Seq("sources.read_mb", "sources.read_rows", "sources.write_mb",
        "sources.write_rows", "sources.ingest_s", "plan.analysis_s", "plan.optimizer_s",
        "plan.physical_s", "plan.exchanges", "plan.smj", "plan.bhj", "plan.shj",
        "plan.keyless_windows", "plan.codegen_stages", "plan.queries", "driver.jobs",
        "driver.stages", "driver.tasks", "exec.task_s", "exec.cpu_s", "exec.gc_s",
        "exec.deser_s", "exec.failed_tasks", "shuffle.write_mb", "shuffle.read_mb",
        "shuffle.fetch_wait_s", "shuffle.write_s", "memory.spill_mem_mb",
        "memory.spill_disk_mb", "memory.peak_exec_mb"))
      m(k) = c(k)

    // the library call or action a job ran under: walk up from its parent
    def owner(s: Span): Option[Span] = {
      var p = byId.get(s.parent)
      while (p.exists(x => x.kind != "call" && x.kind != "action")) p = p.flatMap(x => byId.get(x.parent))
      p
    }
    val jobs = spans.filter(_.kind == "job")
    val calls = spans.filter(_.kind == "call")
    for (mod <- (modules ++ calls.map(_.name)).distinct) {
      m(s"operators.$mod.build_s") = calls.filter(_.name == mod).map(_.dur).sum / 1e6
      m(s"operators.$mod.jobs") = jobs.count(j => owner(j).exists(o => o.kind == "call" && o.name == mod))
    }
    m("operators.build_s") = calls.map(_.dur).sum / 1e6
    m("sink.action_s") = spans.filter(_.kind == "action").map(_.dur).sum / 1e6

    val opSpans = spans.filter(_.kind == "op")
    val jobIv = jobs.map(j => (j.start, j.end))
    val opSecs = opSpans.map(_.dur).sum / 1e6
    val inJobs = opSpans.map(o => Spans.covered(jobIv, o.start, o.end)).sum / 1e6
    m("driver.jobs_per_op") = c("driver.jobs") / math.max(1, opSpans.size)
    m("driver.gap_s") = opSecs - inJobs
    m("driver.in_job_s") = inJobs
    m("driver.op_s") = opSecs
    m("exec.busy_frac") = c("exec.task_s") / math.max(1e-9, round.secs * cpus)
    m("caches.release_s") = round.releaseSecs
    m("caches.blocks") = round.blocks
    for ((k, us) <- Spans.selfTimeByKind(spans)) m(s"trace.self.$k" + "_s") = us / 1e6
    m.toMap
  }

  def spansJson(spans: Seq[Span]): String =
    Json.arr(spans.sortBy(_.start).map(s => Json.obj(Seq(
      "id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "kind" -> Json.str(s.kind),
      "name" -> Json.str(s.name), "op" -> Json.num(s.op),
      "start_us" -> Json.num(s.start), "end_us" -> Json.num(s.end)))))
}

/** Minimal JSON writer (values are pre-rendered strings). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(l: Long): String = l.toString
  def num(i: Int): String = i.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
