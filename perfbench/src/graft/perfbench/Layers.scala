package graft.perfbench

import scala.jdk.CollectionConverters._

/** Folds a traced run's spans and stage records into per-layer figures.
  *
  * Figures are per traced steady pass (mean), except the set-up calls
  * and the pipeline steps, which run once. For each layer `L` (a module,
  * a pipeline step or a set-up call) it emits `L.build_ms`, `L.plan_ms`, `L.exec_ms`,
  * `L.wall_ms`, `L.driver_gap_ms` (exec time with none of the span's
  * stages running), `L.build_jobs`, `L.jobs`, `L.single_task_stages`,
  * `L.task_cpu_ms` and `L.shuffle_mb`; and for the run `spark.gc_ms`,
  * `spark.spill_mb`, `spark.core_util`, `trace.overhead_ms` (traced minus
  * untraced median steady pass), `trace.unattributed_ms` (pass time no
  * span covers) and `trace.unattributed_jobs` (jobs submitted outside any
  * span, such as from a library's own thread pool).
  */
object Layers {

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2 }

  /** Length of the union of `iv`, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var end = lo
    var sum = 0L
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { sum += b - math.max(a, end); end = b } }
    sum
  }

  def summarize(t: Tracer, passWall: Seq[Double],
                passTraced: Seq[Boolean], passWindows: Seq[(Long, Long)],
                passGcMs: Seq[Double], cores: Int): Seq[(String, Any)] = {
    val calls = Tracer.calls.asScala.toSeq
    val stages = t.stages.asScala.toSeq
    val jobs = t.jobsBySpan.asScala.map { case (k, v) => k -> v.intValue }
    val stagesBySpan = stages.groupBy(_.span)

    def passOf(ms: Long): Int = passWindows.indexWhere { case (a, b) => ms >= a && ms <= b }
    val steady = passTraced.indices.filter(i => i >= Run.FirstSteady && passTraced(i)).toSet
    val nSteady = math.max(1, steady.size)
    val inSteady = calls.filter(c => steady.contains(passOf(c.t0)))
    // set-up calls and the pipeline's steps run once, outside the passes
    val once = calls.filter(c => c.phase == "setup" || c.phase == "step")

    def layer(name: String, cs: Seq[Tracer.Call], per: Double): Seq[(String, Double)] = {
      def phaseMs(p: String) = cs.filter(_.phase == p).map(c => (c.t1 - c.t0).toDouble).sum
      val st = cs.flatMap(c => stagesBySpan.getOrElse(c.id, Nil))
      val gap = cs.filter(_.phase != "build").filter(_.phase != "plan").map { c =>
        val iv = stagesBySpan.getOrElse(c.id, Nil).map(s => (s.start, s.end))
        (c.t1 - c.t0 - covered(iv, c.t0, c.t1)).toDouble
      }.sum
      val wall = cs.map(c => (c.t1 - c.t0).toDouble).sum
      Seq(
        "build_ms" -> phaseMs("build"), "plan_ms" -> phaseMs("plan"),
        "exec_ms" -> phaseMs("exec"), "wall_ms" -> wall, "driver_gap_ms" -> gap,
        "build_jobs" -> cs.filter(_.phase == "build").map(c => jobs.getOrElse(c.id, 0)).sum.toDouble,
        "jobs" -> cs.map(c => jobs.getOrElse(c.id, 0)).sum.toDouble,
        "single_task_stages" -> st.count(_.tasks == 1).toDouble,
        "task_cpu_ms" -> st.map(_.cpuNs).sum / 1e6,
        "shuffle_mb" -> st.map(_.shuffleBytes).sum / 1048576.0)
        .map { case (k, v) => s"$name.$k" -> v / per }
    }

    val perLayer = inSteady.groupBy(_.module).toSeq.flatMap { case (m, cs) => layer(m, cs, nSteady) } ++
      once.groupBy(_.module).toSeq.flatMap { case (m, cs) => layer(m, cs, 1.0) }

    val steadyStages = stages.filter(s => steady.contains(passOf(s.start)))
    val steadyWall = steady.toSeq.map(passWall).sum
    val untraced = passTraced.indices.filter(i => i >= Run.FirstSteady && !passTraced(i)).map(passWall)
    val tracedWalls = steady.toSeq.map(passWall)
    val uncovered = steady.toSeq.map { i =>
      val (a, b) = passWindows(i)
      (b - a - covered(inSteady.filter(c => passOf(c.t0) == i).map(c => (c.t0, c.t1)), a, b)).toDouble
    }
    val run = Seq(
      "spark.gc_ms" -> steady.toSeq.map(passGcMs).sum / nSteady,
      "spark.spill_mb" -> steadyStages.map(_.spillBytes).sum / 1048576.0 / nSteady,
      "spark.core_util" -> (if (steadyWall > 0)
        steadyStages.map(_.cpuNs).sum / 1e9 / (steadyWall * cores) else 0.0),
      "trace.overhead_ms" -> (median(tracedWalls) - median(untraced)) * 1000,
      "trace.unattributed_ms" -> uncovered.sum / nSteady,
      "trace.unattributed_jobs" -> jobs.getOrElse(Tracer.Unattributed, 0).toDouble)
    Seq("layers" -> (perLayer ++ run).toMap)
  }
}
