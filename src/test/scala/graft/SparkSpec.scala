package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One JVM-wide session shared by every suite (forked test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = graft.sources.Tables.configure(SparkSession.builder())
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** Spark jobs `body` starts on this thread, counted through a fresh job
   *  group. Job events reach the status tracker asynchronously, so a
   *  one-task marker job in a second group runs last and the count is
   *  read once the tracker has seen the marker (events arrive in order). */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-spec-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "jobsDuring")
    try body finally sc.clearJobGroup()
    val marker = s"$group-marker"
    sc.setJobGroup(marker, "jobsDuring marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(5)
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}
