package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Correctness dump: each SparkEntry.registry result → parquet, plus its
  * oracle SQL in oracle_sql.json, for the DuckDB compare
  * (`tools/check_oracle.py`). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.sources.GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // optional comma-separated prefix filter for local iteration: only the
    // matching queries and their oracles are written, so check_oracle.py
    // compares just that family; the driver sets no filter and dumps
    // everything
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.registry.filter(spec => only.forall(_.exists(spec.name.startsWith)))
    // gate-rung guard (round-9 ADVICE): several dump-twin oracle CTEs pin
    // the GATE-rung geometry (one sign word / word_idx = 0, nProbe = 8 of
    // nlist = 16, shortlist c = 128, PQ probe/shortlist 8/64,
    // single-block simhash keys) — valid
    // only while the oracle corpus stays ≤ 2048 embedding rows (below
    // Dedup.adaptiveGeometry / Similarity.adaptiveNlist rung 2 and
    // Dedup.mankuThreshold). Warn loudly so a larger gate SF reads as a
    // harness-geometry mismatch, not a spurious engine bug.
    val nEmb = graft.sources.Tables.embeddings(spark, sfDir).count()
    if (nEmb > 2048)
      System.err.println(s"[verify] WARNING: gate corpus has $nEmb embedding " +
        "rows > 2048 — the sign-LSH / IVF / ANN twin SQL pins gate-rung " +
        "literals and WILL hash-mismatch at wider adaptive rungs")
    // registry order, so two runs of the same code dump and log in the
    // same sequence
    selected.foreach { spec =>
      try spec.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${spec.name}")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] ${spec.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // dump-backed oracles (q_histogram_features / q_kde_features) read
    // the q_synth_features dump by absolute path — substitute it here,
    // where the output dir is finally known
    val outAbs = new java.io.File(outDir).getAbsolutePath
    // the file-stats twin scans the PHYSICAL snapshot files of the
    // fingerprinted fixture — resolvable only at dump time (and only
    // if the fixture query ran under a SPARK_GRAFT_ONLY filter)
    val (fsV1, fsV2) =
      try graft.ops.Layout.fileStatsVersionDirs(spark, sfDir)
      catch { case NonFatal(_) => ("/graft_fstats_unseeded_v1",
        "/graft_fstats_unseeded_v2") }
    // keys in name order, so two dumps of the same code compare with diff
    val json = selected.sortBy(_.name).flatMap { spec =>
      spec.oracle.map { sql =>
        s"${q(spec.name)}: ${q(sql.replace(graft.explore.Stats.verifyOutToken, outAbs)
          .replace(graft.ops.Layout.fstatsV1Token, fsV1)
          .replace(graft.ops.Layout.fstatsV2Token, fsV2))}"
      }
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
