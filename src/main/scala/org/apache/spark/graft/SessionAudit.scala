package org.apache.spark.graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.{BlockId, BroadcastBlockId, RDDBlockId}

import scala.util.control.NonFatal

/** Measurement-only diagnostic (NOT part of the driver contract, never on
  * a query path): reports the session's accumulated block-manager state —
  * live RDD cache blocks (localCheckpoint / persist leftovers), broadcast
  * blocks (every BroadcastExchange and explicit broadcast ever built and
  * not yet cleaned), and storage memory — so the round-17 session-hygiene
  * work (VERDICT r16 #1: the in-bench session-state tax) has before/after
  * evidence instead of prose.
  *
  * Lives under `org.apache.spark` because the block-manager surface it
  * reads (`BlockManager.getMatchingBlockIds`, master storage status) is
  * `private[spark]` — the same access idiom Spark's own tests use. */
object SessionAudit {

  final case class Snapshot(rddBlocks: Int, rddMemBytes: Long,
                            rddDiskBytes: Long, broadcastBlocks: Int,
                            broadcastMemBytes: Long, storageUsedBytes: Long,
                            persistentRdds: Int)

  /** Snapshot of the local block manager (local[*]: the one BM is both
    * driver and executor). */
  def snapshot(spark: SparkSession): Snapshot = {
    val bm = SparkEnv.get.blockManager
    val ids: Seq[BlockId] = bm.getMatchingBlockIds(_ => true)
    var rddN = 0; var rddMem = 0L; var rddDisk = 0L
    var bcN = 0; var bcMem = 0L
    ids.foreach { id =>
      val st = bm.getStatus(id)
      id match {
        case _: RDDBlockId =>
          rddN += 1
          st.foreach { s => rddMem += s.memSize; rddDisk += s.diskSize }
        case _: BroadcastBlockId =>
          bcN += 1
          st.foreach { s => bcMem += s.memSize }
        case _ => ()
      }
    }
    val used = bm.memoryManager.storageMemoryUsed
    Snapshot(rddN, rddMem, rddDisk, bcN, bcMem, used,
      spark.sparkContext.getPersistentRDDs.size)
  }

  private def mb(b: Long): String = f"${b / 1048576.0}%.1fMB"

  def report(spark: SparkSession, label: String): Snapshot = {
    val s = snapshot(spark)
    println(s"AUDIT $label rddBlocks=${s.rddBlocks} rddMem=${mb(s.rddMemBytes)} " +
      s"rddDisk=${mb(s.rddDiskBytes)} bcBlocks=${s.broadcastBlocks} " +
      s"bcMem=${mb(s.broadcastMemBytes)} storageUsed=${mb(s.storageUsedBytes)} " +
      s"persistentRdds=${s.persistentRdds}")
    s
  }

  /** Run a slice of the declared bench (sorted order, same evaluation
    * protocol) for `passes` passes, reporting block-manager state after
    * every pass and re-timing `probe` at the start and end of each pass —
    * the session-state tax made measurable. Usage:
    * `runMain org.apache.spark.graft.SessionAudit <passes> <probe> [<query-prefix-filter>]`. */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = if (args.nonEmpty) args(0).toInt else 2
    val probe = if (args.length > 1) args(1) else "q_assoc_rules"
    val filter = if (args.length > 2) Some(args(2)) else None
    val spark = graft.sources.GraftSession.local()
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .agg(avg(length(col("text")))).collect()

    // same full-output evaluation as graft.Timing (private[graft] there):
    // hash every column of every row, order-sensitive first() keeps the sort
    def evalOnce(fn: => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val df = fn
      df.select(xxhash64(df.columns.map(col): _*).as("h"))
        .agg(count(lit(1)), coalesce(call_function("bit_xor", col("h")), lit(0L)),
          first(col("h"))).head()
      (System.nanoTime() - t0) / 1e9
    }

    val qs = _root_.graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => filter.forall(n.startsWith) }
    report(spark, "start")
    (1 to passes).foreach { p =>
      val t0 = evalOnce(_root_.graft.SparkEntry.queries(probe)(spark, sfDir))
      println(f"AUDIT pass$p probe-start $probe $t0%.2fs")
      qs.foreach { case (_, fn) =>
        try evalOnce(fn(spark, sfDir))
        catch { case NonFatal(e) => println(s"AUDIT FAIL: ${e.getMessage}") }
      }
      val t1 = evalOnce(_root_.graft.SparkEntry.queries(probe)(spark, sfDir))
      println(f"AUDIT pass$p probe-end $probe $t1%.2fs")
      report(spark, s"after-pass$p")
    }
    spark.stop()
  }
}
