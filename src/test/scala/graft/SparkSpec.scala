package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session). */
object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  /** Spark jobs `f` runs on this thread: a job group isolates them from
    * the suite's async stragglers (broadcast and ContextCleaner jobs).
    */
  def jobsOf(f: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobs_of_${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "counted", false)
    try f finally sc.clearJobGroup()
    org.apache.spark.TestBus.drain(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  def sf0001 = "/root/testdata/sf0.001"
  def sf001 = "/root/testdata/sf0.01"
}
