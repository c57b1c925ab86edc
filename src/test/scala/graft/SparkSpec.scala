package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.sources.GraftSession.configure(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs run while `build` constructs its frame (job group +
    * listener-bus drain, so every job is counted). */
  def constructionJobs(build: => DataFrame): Int = {
    val sc = spark.sparkContext
    val group = s"construction-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "frame construction")
    try build finally sc.clearJobGroup()
    org.apache.spark.graft.ListenerBus.drain(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}
