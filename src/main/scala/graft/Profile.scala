package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/**
 * The per-query timing main: runs one query (or shared-pair group)
 * `reps` times against `SPARK_GRAFT_SF_DIR` (default sf0.1) through the
 * noop sink like [[Bench]], and prints each rep's wall time with a
 * per-job breakdown from a listener that records every Spark job's wall
 * time, stage/task counts and call site — a 13 s query that is 14 jobs
 * of 0.9 s is an iteration-overhead problem, not a data-volume problem,
 * and the call sites say which operator line each job belongs to. A rep
 * that ran connectedComponents also prints its loop telemetry (rounds,
 * initial edges, contracted and frozen counts, resolve rounds).
 *
 * Usage: runMain graft.Profile <query|group> [reps]   (reps default 2 —
 * read the LAST rep; the first pays page-cache and JIT warm-up)
 */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: runMain graft.Profile <query|group> [reps]")
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), Some(sfDir))
    spark.sparkContext.setLogLevel("WARN")

    final class J(val id: Int, val desc: String, val start: Long,
                  val stages: Int, val tasks: Int) { var end: Long = 0L }
    val jobs = mutable.LinkedHashMap[Int, J]()
    // per-stage record: the job view hides WHICH stage of a multi-stage
    // job is slow and what it computes — the stage name carries the
    // top RDD's callsite
    final class S(val id: Int, val name: String, val tasks: Int,
                  val sec: Double, val job: Int)
    val stages = mutable.ArrayBuffer[S]()
    val stageJob = mutable.HashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        val j = new J(e.jobId, site, e.time,
          e.stageInfos.size, e.stageInfos.map(_.numTasks).sum)
        jobs.synchronized { jobs(e.jobId) = j }
        stageJob.synchronized {
          e.stageInfos.foreach(si => stageJob(si.stageId) = e.jobId) }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val sec = (for {a <- si.completionTime; b <- si.submissionTime}
          yield (a - b) / 1000.0).getOrElse(-1.0)
        stages.synchronized {
          stages += new S(si.stageId, si.name, si.numTasks, sec,
            stageJob.synchronized(stageJob.getOrElse(si.stageId, -1)))
        }
      }
    })

    def run(): Unit =
      if (SparkEntry.queries.contains(name))
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      else SparkEntry.sharedPairs(name)(spark, sfDir)
        .foreach(_.write.format("noop").mode("overwrite").save())

    (1 to reps).foreach { i =>
      jobs.synchronized(jobs.clear())
      stages.synchronized(stages.clear())
      operators.Dedup.lastCcRounds = -1
      val t0 = System.nanoTime()
      run()
      val sec = (System.nanoTime() - t0) / 1e9
      Caches.releaseAll(spark)
      Thread.sleep(500) // drain the listener bus before reading
      val js = jobs.synchronized(jobs.values.toSeq)
      val jobSum = js.map(j => (j.end - j.start) / 1000.0).sum
      println(f"[profile] $name rep $i: total $sec%.3f s, " +
        f"jobs=${js.size} (sum $jobSum%.3f s, driver gap ${sec - jobSum}%.3f s)")
      if (operators.Dedup.lastCcRounds >= 0)
        println(s"[profile]   cc rounds=${operators.Dedup.lastCcRounds} " +
          s"edges0=${operators.Dedup.lastCcInitialEdges} " +
          s"contracted=${operators.Dedup.lastCcEdgeCounts.mkString(",")} " +
          s"frozen=${operators.Dedup.lastCcFrozenCounts.mkString(",")} " +
          s"resolveRounds=${operators.Dedup.lastCcResolveRounds}")
      js.foreach { j =>
        println(f"[profile]   job ${j.id}%3d ${(j.end - j.start) / 1000.0}%8.3f s " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%5d  ${j.desc.take(100)}")
      }
      // slowest stages with their callsite names — where the seconds go
      stages.synchronized(stages.sortBy(-_.sec).take(12)).foreach { s =>
        println(f"[profile]   stage ${s.id}%4d ${s.sec}%8.3f s " +
          f"tasks=${s.tasks}%5d job=${s.job}%3d  ${s.name.take(110)}")
      }
    }
    spark.stop()
  }
}
