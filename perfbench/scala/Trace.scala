package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchShim, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds, monotonic within the run (one
 *  epoch anchor plus nanoTime), so spans line up with the epoch-ms
 *  times Spark stamps on job and stage events. */
object Clock {
  private val anchor = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs: Long = anchor + System.nanoTime() / 1000L
}

/** One traced interval: workload, round, op, call (library call),
 *  action (sink), release (cache teardown), plan (Catalyst phases),
 *  job or stage. `op` is the operation id the span belongs to. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    op: Long, start: Long, end: Long) {
  def dur: Long = end - start
}

/**
 * The traced run's recorder. Spans around the benchmark's own calls
 * into the library are opened on the driver thread; Spark jobs and
 * stages are tied to the innermost open span through a local property
 * (and to their operation through the job group the benchmark sets);
 * task metrics and Catalyst planning phases arrive through a
 * `SparkListener` and a `QueryExecutionListener`. Everything is kept
 * in memory and written out when the run ends. While `on` is false
 * every hook is a no-op, so untraced rounds pay only a flag check.
 */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val SpanProp = "perfbench.span"
  @volatile var on = false
  @volatile private var curOp = 0L
  private var nextId = 1L
  private var stack: List[Long] = Nil
  val spans = mutable.ArrayBuffer[Span]()
  val counters = mutable.Map[String, Double]().withDefaultValue(0.0)

  private def locked[T](body: => T): T = Tracer.this.synchronized(body)
  private def newId(): Long = synchronized { val i = nextId; nextId += 1; i }
  private def add(k: String, v: Double): Unit = counters(k) = counters(k) + v
  private def record(s: Span): Unit = synchronized { spans += s }

  def span[T](kind: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = newId()
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = Clock.nowUs
      try body
      finally {
        val t1 = Clock.nowUs
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
        record(Span(id, parent, kind, name, curOp, t0, t1))
      }
    }

  /** An operation: its span plus the job group that ties its jobs to it. */
  def op[T](opId: Long, name: String)(body: => T): T =
    if (!on) body
    else {
      curOp = opId
      sc.setJobGroup(s"op-$opId", name)
      try span("op", name)(body)
      finally { sc.clearJobGroup(); curOp = 0L }
    }

  /** Forget every span and counter recorded so far. */
  def reset(): Unit = locked { spans.clear(); counters.clear() }

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = PerfbenchShim.drainListenerBus(sc)

  private val jobStart = mutable.Map[Int, (Long, Long, Long)]() // job -> (start, parent, op)
  private val stageJob = mutable.Map[Int, Long]()                // stage -> job span id
  private val jobSpanId = mutable.Map[Int, Long]()

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) locked {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      val op = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("op-")).map(_.drop(3).toLong).getOrElse(0L)
      val id = newId()
      jobSpanId(e.jobId) = id
      jobStart(e.jobId) = (e.time * 1000L, parent, op)
      e.stageIds.foreach(s => stageJob(s) = id)
      add("driver.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) locked {
      jobStart.remove(e.jobId).foreach { case (start, parent, op) =>
        record(Span(jobSpanId(e.jobId), parent, "job", s"job-${e.jobId}", op,
          start, e.time * 1000L))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) locked {
      val si = e.stageInfo
      add("driver.stages", 1)
      for (s <- si.submissionTime; c <- si.completionTime) {
        val parent = stageJob.getOrElse(si.stageId, 0L)
        record(Span(newId(), parent, "stage", s"stage-${si.stageId}.${si.attemptNumber()}",
          0L, s * 1000L, c * 1000L))
        if (si.taskMetrics != null && si.taskMetrics.inputMetrics.bytesRead > 0)
          add("sources.ingest_s", (c - s) / 1e3)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) locked {
      add("driver.tasks", 1)
      if (e.reason != Success) add("exec.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_s", m.executorRunTime / 1e3)
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("exec.deser_s", m.executorDeserializeTime / 1e3)
        add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("shuffle.write_s", m.shuffleWriteMetrics.writeTime / 1e9)
        add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("memory.spill_mem_mb", m.memoryBytesSpilled / 1e6)
        add("memory.spill_disk_mb", m.diskBytesSpilled / 1e6)
        counters("memory.peak_exec_mb") =
          math.max(counters("memory.peak_exec_mb"), m.peakExecutionMemory / 1e6)
        add("sources.read_mb", m.inputMetrics.bytesRead / 1e6)
        add("sources.read_rows", m.inputMetrics.recordsRead.toDouble)
        add("sources.write_mb", m.outputMetrics.bytesWritten / 1e6)
        add("sources.write_rows", m.outputMetrics.recordsWritten.toDouble)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) locked {
        val ph = qe.tracker.phases
        def secs(p: String): Double = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
        add("plan.analysis_s", secs("analysis"))
        add("plan.optimizer_s", secs("optimization"))
        add("plan.physical_s", secs("planning"))
        add("plan.queries", 1)
        if (ph.nonEmpty)
          record(Span(newId(), 0L, "plan", funcName, curOp,
            ph.values.map(_.startTimeMs).min * 1000L, ph.values.map(_.endTimeMs).max * 1000L))
        walk(qe.executedPlan)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Count plan shapes in an executed plan, seeing through adaptive
   *  wrappers and query stages (which plain tree traversal treats as
   *  leaves) and into subqueries. */
  private def walk(p: SparkPlan): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case other =>
      other match {
        case _: ShuffleExchangeExec => add("plan.exchanges", 1)
        case _: SortMergeJoinExec => add("plan.smj", 1)
        case _: BroadcastHashJoinExec => add("plan.bhj", 1)
        case _: ShuffledHashJoinExec => add("plan.shj", 1)
        case w: WindowExec if w.partitionSpec.isEmpty => add("plan.keyless_windows", 1)
        case _: WholeStageCodegenExec => add("plan.codegen_stages", 1)
        case _ =>
      }
      other.children.foreach(walk)
      other.subqueries.foreach(walk)
  }

  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }
}

/** Interval arithmetic over spans. */
object Spans {
  /** Length of the union of `[start, end)` intervals clipped to `[lo, hi)`. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var cs = -1L
    var ce = -1L
    clipped.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) total += ce - cs
    total
  }

  /** Self time of every span: its duration minus the part of it that its
   *  child spans cover. Returns microseconds summed per span kind. */
  def selfTimeByKind(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.kind).map { case (k, ss) =>
      k -> ss.map { s =>
        s.dur - covered(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
      }.sum
    }
  }
}
