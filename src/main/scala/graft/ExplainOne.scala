package graft

/** Plan-capture harness for the optimization rounds: writes
  * `.explain("formatted")` for each named query to plans/<tag>/<query>.txt
  * (measurement/evidence tooling, not part of the driver contract).
  * Usage: `runMain graft.ExplainOne <outDir> <query> [...]`. */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.sources.GraftSession.local()
    val outDir = java.nio.file.Paths.get(args.head)
    java.nio.file.Files.createDirectories(outDir)
    args.tail.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(outDir.resolve(s"$name.txt"), txt)
      println(s"EXPLAINED $name -> ${outDir.resolve(s"$name.txt")}")
    }
    spark.stop()
  }
}
