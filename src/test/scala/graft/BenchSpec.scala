package graft

/** `graft.Bench` query mode ([[Bench.profile]]) on the shared session: its
  * checksums are the timing protocol's, and the stage rows it reports
  * belong to the profiled query's last run only. */
class BenchSpec extends SparkSpec {

  test("query mode: timing-protocol checksums, no stage row from the previous query") {
    val sc = spark.sparkContext
    val group = s"bench-profile-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "first profiled query")
    val first = try Bench.profile(spark, sf, "q_graph_triangles")
      finally sc.clearJobGroup()
    val second = Bench.profile(spark, sf, "q_corr_stats")
    Seq(first, second).foreach { p =>
      assert(p.runs.length === 3 && p.buildSec.length === 3, p.name)
      assert(p.runs.forall(_.ok), p.runs.map(_.err))
      val (_, chk) = Timing.evaluate(SparkEntry.queries(p.name)(spark, sf))
      assert(p.runs.map(_.checksum).distinct === Seq(chk), p.name)
    }
    // every stage any of the first query's three runs submitted
    org.apache.spark.graft.ListenerBus.drain(sc)
    val firstStages = sc.statusTracker.getJobIdsForGroup(group).toSeq
      .flatMap(sc.statusTracker.getJobInfo).flatMap(_.stageIds).toSet
    assert(firstStages.nonEmpty)
    assert(second.stages.nonEmpty)
    assert(second.stages.map(_.id).toSet.intersect(firstStages).isEmpty,
      second.report)
  }
}
