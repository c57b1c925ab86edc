package graft

/** Single-query timing harness for perf work: fresh JVM, same session
  * config as [[Bench]], runs the named queries three times each so the
  * first-plan (Janino/scan warmup) cost is visible separately from the
  * steady state. Usage: `runMain graft.BenchOne <query> [<query> ...]`. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.sources.GraftSession.local()
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .agg(avg(length(col("text")))).collect()
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // full-output checksum evaluation, same protocol as Bench (all
      // columns hashed, final sort kept in the timed plan)
      val ts = (1 to 3).map { _ => Timing.timeOnce(fn(spark, sfDir)) }
      require(ts.forall(_.ok), s"$name failed: ${ts.find(!_.ok).get.err}")
      println(f"BENCHONE $name ${ts.map(t => f"${t.sec}%.2f").mkString(" ")}" +
        f" gc=${ts.map(t => f"${t.gcSec}%.2f").mkString(" ")}" +
        s" chk=${ts.map(_.checksum).distinct.mkString(",")}")
    }
    spark.stop()
  }
}
