package graft

import java.lang.reflect.InvocationTargetException
import java.util.concurrent.ConcurrentLinkedQueue

import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Perf-work diagnostic harness (measurement only — not part of the
  * driver contract): for each named query, separates plan-build /
  * planning time from execution, and prints per-stage task counts and
  * executor run time for the LAST run, so single-task stages and
  * shuffle-heavy stages are visible without the UI (disabled in the
  * bench protocol). Usage: `runMain graft.ProfileOne <query> [...]`. */
object ProfileOne {
  private final case class StageRow(id: Int, name: String, tasks: Int,
                                    runMs: Long, cpuMs: Long,
                                    shufReadMb: Double, shufWriteMb: Double,
                                    inMb: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.sources.GraftSession.local()
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .agg(avg(length(col("text")))).collect()

    val stages = new ConcurrentLinkedQueue[StageRow]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages.add(StageRow(si.stageId, si.name.takeWhile(_ != '\n').take(60),
          si.numTasks, m.executorRunTime, m.executorCpuTime / 1000000L,
          m.shuffleReadMetrics.totalBytesRead / 1048576.0,
          m.shuffleWriteMetrics.bytesWritten / 1048576.0,
          m.inputMetrics.bytesRead / 1048576.0))
      }
    })

    // listener events post asynchronously: flush the bus before clearing
    // (drops the warm run's stragglers) and again before reading (keeps
    // the steady run's late StageCompleted events) — round-16 ADVICE.
    // `listenerBus` is private[spark], hence the reflective lookup; a
    // Spark build without it is reported once and gets a fixed wait.
    val sc = spark.sparkContext
    val busWait = Try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      (bus, bus.getClass.getMethod("waitUntilEmpty"))
    }.toOption
    if (busWait.isEmpty)
      System.err.println("[profile] listenerBus.waitUntilEmpty() not found: " +
        "sleeping 300 ms per flush instead, late stage rows may be missing")
    def flushListenerBus(): Unit = busWait match {
      case Some((bus, waitUntilEmpty)) =>
        try waitUntilEmpty.invoke(bus)
        catch {
          case e: InvocationTargetException
              if e.getCause.isInstanceOf[InterruptedException] =>
            Thread.currentThread().interrupt()
            throw e.getCause
          case NonFatal(e) =>
            System.err.println("[profile] listener bus flush failed: " +
              Option(e.getCause).getOrElse(e))
        }
      case None => Thread.sleep(300)
    }

    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm run 1 (plan compile + codegen), then a steady run with
      // per-phase attribution
      val tBuild0 = System.nanoTime()
      val df0 = fn(spark, sfDir)
      val planned = df0.queryExecution.executedPlan // force analysis+planning
      val tBuild1 = System.nanoTime()
      val s1 = Timing.timeOnce(df0)
      require(s1.ok, s"$name failed: ${s1.err}")
      // steady run: fresh build (the bench re-builds each run too)
      val tB2 = System.nanoTime()
      val df1 = fn(spark, sfDir)
      df1.queryExecution.executedPlan
      val tB3 = System.nanoTime()
      flushListenerBus()
      stages.clear()
      val s2 = Timing.timeOnce(df1)
      flushListenerBus()
      val rows = stages.toArray(Array.empty[StageRow]).sortBy(_.id)
      println(f"PROFILE $name run1=${s1.sec}%.2f steady=${s2.sec}%.2f " +
        f"plan1=${(tBuild1 - tBuild0) / 1e9}%.2f plan2=${(tB3 - tB2) / 1e9}%.2f " +
        f"stages=${rows.length} chk=${s2.checksum}")
      rows.foreach { r =>
        println(f"  stage ${r.id}%4d tasks=${r.tasks}%3d run=${r.runMs}%6dms " +
          f"cpu=${r.cpuMs}%6dms in=${r.inMb}%7.1fMB sr=${r.shufReadMb}%6.1fMB " +
          f"sw=${r.shufWriteMb}%6.1fMB  ${r.name}")
      }
      val _ = planned
    }
    spark.stop()
  }
}
