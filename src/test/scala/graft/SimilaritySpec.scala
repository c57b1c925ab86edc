package graft

import org.apache.spark.sql.functions._

import graft.ops.Similarity
import graft.sources.Tables

class SimilaritySpec extends SparkSpec {

  test("cosine: self-similarity is 1, range bounded") {
    val emb = Similarity.embDouble(spark, sf).limit(20)
    val selfCos = emb.select(
      Similarity.cosine(col("embedding"), col("embedding")).as("c")).collect()
    selfCos.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }

  test("native DotProduct is bit-identical to the declarative fold") {
    val emb = Similarity.embDouble(spark, sf)
    val both = emb.select(
      Similarity.dot(col("embedding"), col("embedding")).as("fold"),
      graft.functions.GraftFunctions.dot(col("embedding"), col("embedding")).as("native"))
    // bitwise equality, not epsilon: same IEEE left-to-right order
    assert(both.where(col("fold") =!= col("native")).count() === 0)
  }

  test("topK: k rows per query, ranks 1..k, cos non-increasing, no self-match") {
    val rows = Similarity.topKCosine(spark, sf, nQueries = 5, k = 8).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQuery.size === 5)
    byQuery.foreach { case (q, rs) =>
      assert(rs.length === 8)
      assert(rs.map(_.getAs[Long]("rnk")).sorted.sameElements(1L to 8L))
      val cos = rs.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("cos_sim"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
      assert(rs.forall(r => r.getAs[Long]("cand_id") != q))
      assert(cos.forall(c => c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9))
    }
  }

  test("topK bounded-heap aggregate equals naive window top-k") {
    import org.apache.spark.sql.expressions.Window
    val emb = Similarity.embDouble(spark, sf)
    val queries = emb.where(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val cands = emb.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
    val naive = cands.crossJoin(broadcast(queries))
      .where(col("q_id") =!= col("cand_id"))
      .select(col("q_id"), col("cand_id"),
        round(Similarity.cosine(col("qv"), col("cv")), 6).as("cos_sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("cand_id"))).cast("long"))
      .where(col("rnk") <= 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val salted = Similarity.topKCosine(spark, sf, nQueries = 3, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(salted === naive)
  }

  test("ANN top-k: recall vs brute force is usable, runs deterministic") {
    val exact = Similarity.topKCosine(spark, sf, nQueries = 5, k = 10).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    val approx = Similarity.annTopKCosine(spark, sf, nQueries = 5, k = 10).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(f"ANN sign-index recall vs exact: $recall%.2f")
    assert(recall >= 0.7, s"ANN recall $recall below 0.7")
    // fixed seeded planes + (hamming, cand_id) tiebreaks → re-running the
    // query must reproduce the same candidate set exactly
    val again = Similarity.annTopKCosine(spark, sf, nQueries = 5, k = 10).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    assert(again === approx)
  }

  test("range search: exact precision, usable recall vs a brute radius scan, deterministic") {
    val nQ = 5
    val minCos = 0.3
    val out = Similarity.annRangeSearch(spark, sf, nQueries = nQ, minCos = minCos)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id")) ->
        r.getAs[Double]("cos_sim")).toMap
    // brute radius scan in the driver (same sequential dot fold → the
    // cosines are bit-comparable)
    val all = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na) / math.sqrt(nb)
    }
    // NB: iterate a Seq, not the Map — a Map middle generator makes the
    // comprehension collapse results through Map semantics
    val brute = (for {
      q <- 0L until nQ.toLong
      (c, v) <- all.toSeq
      if c != q
      if math.floor(cos(all(q), v) * 1e6 + 0.5) / 1e6 >= minCos
    } yield (q, c)).toSet
    assert(brute.nonEmpty)
    // precision is exact by construction: every returned pair really is
    // within the radius
    out.foreach { case ((q, c), s) =>
      assert(s >= minCos, s"($q,$c) below radius")
      assert(math.abs(s - math.floor(cos(all(q), all(c)) * 1e6 + 0.5) / 1e6) < 1e-9)
    }
    val recall = out.keySet.intersect(brute).size.toDouble / brute.size
    info(f"range-search recall vs brute radius scan: $recall%.2f (${out.size}/${brute.size})")
    assert(recall >= 0.6, s"range recall $recall below 0.6")
    // fixed planes + exact verify → rerun reproduces the set exactly
    val again = Similarity.annRangeSearch(spark, sf, nQueries = nQ, minCos = minCos)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === out.keySet)
  }

  test("dimension stats: every dim covered, exact parity with a quantized driver replay") {
    val out = Similarity.dimensionStats(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    val dims = vecs.head.length
    assert(out.keySet === (0L until dims.toLong).toSet)
    (0 until dims).foreach { d =>
      val q = vecs.map(v => math.floor(v(d) * 1e9 + 0.5).toLong)
      val q2 = vecs.map(v => math.floor(v(d) * v(d) * 1e12 + 0.5).toLong)
      val n = q.length.toLong
      val s1 = q.sum; val s2 = q2.sum
      val mean = math.floor(s1.toDouble / n / 1e3 + 0.5) / 1e6
      val sd = math.floor(math.sqrt((s2.toDouble / 1e12 -
        (s1.toDouble / 1e9) * (s1.toDouble / 1e9) / n) / (n - 1)) * 1e6 + 0.5) / 1e6
      val r = out(d.toLong)
      assert(r.getLong(1) === n)
      assert(r.getAs[Double]("mean") === mean, s"dim $d mean")
      assert(r.getAs[Double]("sd") === sd, s"dim $d sd")
      assert(r.getAs[Double]("min_x") === q.min.toDouble / 1e9, s"dim $d min")
      assert(r.getAs[Double]("max_x") === q.max.toDouble / 1e9, s"dim $d max")
      assert(r.getAs[Double]("sd") >= 0.0)
    }
  }

  test("ANN shortlist reads the published narrow sign index, not the wide table") {
    Similarity.ensureSignIndex(spark, sf)
    val df = Similarity.annTopKCosine(spark, sf, nQueries = 3, k = 5)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    // at least one scan is the sign-index table and it reads only the two
    // narrow columns (vec_id, sign_bits) — the 16-bytes-per-row shortlist
    val idx = scans.filter(_.relation.location.rootPaths
      .exists(_.toString.contains("graft_sign_idx")))
    assert(idx.nonEmpty, scans.map(_.toString).mkString("\n"))
    assert(idx.head.schema.fieldNames.toSet === Set("vec_id", "sign_bits"),
      idx.head.schema.treeString)
  }

  test("IVF probe is a partition-pruned scan of the published cells table") {
    Similarity.ensureIvfCells(spark, sf)
    val df = Similarity.ivfTopKCosine(spark, sf, nQueries = 3, k = 5, nProbe = 4)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths
          .exists(_.toString.contains("graft_ivf_cells")) => f
    }
    assert(scans.nonEmpty, df.queryExecution.sparkPlan.toString)
    // the cells scan must carry a dynamic partition-pruning filter on the
    // `cell` partition column: the probe join prunes cell directories at
    // runtime, no corpus-wide assignment pass anywhere in the plan
    val scanStr = scans.head.toString
    assert(scanStr.contains("PartitionFilters"), scanStr)
    assert(scanStr.contains("dynamicpruning"), scanStr)
  }

  test("native CellArgMin is bit-identical to the declarative argmin form") {
    // the expression-array form assignCells used through round 9:
    // argmin over cells of lit(|c|^2) - 2*dot(v, c), ties -> lowest cell
    // via array_position(distArr, array_min(distArr)) - 1
    val rnd = new scala.util.Random(3)
    val cents = Array.fill(64)(Array.fill(64)(rnd.nextGaussian()))
    val emb = Similarity.embWithNorm(spark, sf)
    val declarative: Seq[org.apache.spark.sql.Column] =
      cents.toIndexedSeq.map { c =>
        lit(c.map(x => x * x).sum) -
          lit(2.0) * graft.functions.GraftFunctions.dot(
            col("embedding"), typedLit(c))
      }
    val distArr = array(declarative: _*)
    val both = emb.select(
      (array_position(distArr, array_min(distArr)) - 1).cast("int").as("old"),
      graft.functions.GraftFunctions.cellArgMin(col("embedding"),
        typedLit(cents.map(_.toSeq).toSeq)).as("native"))
    assert(both.where(col("old") =!= col("native")).count() === 0)
  }

  test("native VecDivScalar and CellResidual are bit-identical to their HOF forms") {
    // the interpreted forms they replace on the corpus-sized code-table
    // publishes: transform(v, x => x / s) and zip_with(v, cn, _ - _)
    // behind a broadcast (cell -> cn) join (round 15)
    val rnd = new scala.util.Random(7)
    val cents = Array.fill(16)(Array.fill(64)(rnd.nextGaussian()))
    val cnLit = typedLit(cents.map(_.toSeq).toSeq)
    val emb = Similarity.embWithNorm(spark, sf).where(col("nrm") > 0)
      .withColumn("cell",
        graft.functions.GraftFunctions.cellArgMin(col("embedding"), cnLit))
    val both = emb.select(
      transform(col("embedding"), x => x / col("nrm")).as("nv_hof"),
      graft.functions.GraftFunctions.vecDiv(col("embedding"), col("nrm"))
        .as("nv_native"),
      zip_with(col("embedding"),
        element_at(cnLit, col("cell") + 1).cast("array<double>"),
        (x, y) => x - y).as("rv_hof"),
      graft.functions.GraftFunctions.cellResidual(col("embedding"),
        col("cell"), cnLit).as("rv_native"))
    assert(both.where(col("nv_hof") =!= col("nv_native")).count() === 0)
    assert(both.where(col("rv_hof") =!= col("rv_native")).count() === 0)
    // bit-identity, not approximate: compare through the exact dot fold
    val chk = both.select(
      graft.functions.GraftFunctions.dot(col("nv_hof"), col("rv_hof")).as("a"),
      graft.functions.GraftFunctions.dot(col("nv_native"), col("rv_native"))
        .as("b"))
    assert(chk.where(col("a") =!= col("b")).count() === 0)
  }

  test("IVF geometry adapts to corpus size: 256 cells above the gate rung") {
    assert(Similarity.adaptiveNlist(500) === 16)
    assert(Similarity.adaptiveNlist(2048) === 16)
    assert(Similarity.adaptiveNlist(2049) === 256)
    assert(Similarity.adaptiveNlist(60000) === 256)
    assert(Similarity.adaptiveNlist(65536) === 256)
    // above 64 Ki rows: next power of two >= sqrt(n), two-level fit,
    // capped at 4096 cells (the fit-sample budget)
    assert(Similarity.adaptiveNlist(65537) === 512)
    assert(Similarity.adaptiveNlist(262144) === 512)
    assert(Similarity.adaptiveNlist(1000000) === 1024)
    assert(Similarity.adaptiveNlist(100000000) === 4096)
    // probe count tracks the rung at a ~3% fraction (floor 8); the gate
    // rung resolves to the oracle-twin-pinned 8
    assert(Similarity.adaptiveNProbe(16) === 8)
    assert(Similarity.adaptiveNProbe(256) === 8)
    assert(Similarity.adaptiveNProbe(512) === 16)
    assert(Similarity.adaptiveNProbe(4096) === 128)
    // fit-sample modulus (round-11 ADVICE #4): the expected sample
    // n/mod must cover the cap whenever the corpus can — the fixed
    // 1-in-5 filter starved 256-code fits in the 2049..20480 band
    val cap = 4096
    assert(Similarity.adaptiveSampleMod(500, cap) === 1)    // whole corpus
    assert(Similarity.adaptiveSampleMod(2100, cap) === 1)   // the ADVICE band
    assert(Similarity.adaptiveSampleMod(12000, cap) === 2)  // 6000 ≥ cap
    assert(Similarity.adaptiveSampleMod(20480, cap) === 5)
    assert(Similarity.adaptiveSampleMod(100000000, cap) === 5)
    Seq(500L, 2100L, 12000L, 20480L, 1000000L).foreach { n =>
      val exp = n / Similarity.adaptiveSampleMod(n, cap)
      assert(exp >= math.min(n, cap.toLong), s"n=$n expected sample $exp")
    }
    // plant a 3000-vector clustered corpus (> 2048 ⇒ the 256-cell rung):
    // 20 seeded cluster centres + small noise, so true neighbours share a
    // cell and the 8-probe scan should retrieve them
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_rung").toString
    val rnd = new scala.util.Random(7)
    val centres = Array.fill(20)(Array.fill(64)(rnd.nextFloat() * 2f - 1f))
    val rows = (0 until 3000).map { i =>
      val c = centres(i % 20)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f).toSeq, i % 20)
    }
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS array<float>) AS embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // publish at the adaptive rung and verify the layout actually widened
    // the dump is exploded to (cell, dim, value) scalar rows — count cells
    val cents = Similarity.ivfCentroidsDump(spark, dir).collect()
    val nCents = cents.map(_.getAs[Int]("cell")).distinct.length
    assert(nCents === 256, s"expected 256 centroids, got $nCents")
    assert(cents.length === 256 * 64, s"expected 256*64 component rows")
    val cellsTable = Similarity.ensureIvfCells(spark, dir)
    val nCells = spark.table(cellsTable).select("cell").distinct().count()
    assert(nCells > 16, s"rung did not switch: only $nCells distinct cells")
    // publish repartitions by the partition column, so every cell
    // directory holds exactly ONE parquet file — tasks x partitions
    // file scatter is the first thing a wide layout breaks at scale
    val whBase = new java.io.File(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(cellsTable)))
    val cellDirs = whBase.listFiles().filter(f =>
      f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty, s"no cell= dirs under $whBase")
    cellDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1,
        s"${d.getName}: ${files.length} files — partition write scattered")
    }
    // the probe path still works at the wide rung (256-entry assignment
    // array codegen, DPP probe join) and is rerun-deterministic
    val a = Similarity.ivfTopKCosine(spark, dir, nQueries = 3, k = 5).collect()
    val b = Similarity.ivfTopKCosine(spark, dir, nQueries = 3, k = 5).collect()
    assert(a.length === 15)
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
    // planted clusters ⇒ the 8-of-256-probe (~3%) retrieval should still
    // find the same-cluster neighbours the exact scan finds
    val exact = Similarity.topKCosine(spark, dir, nQueries = 3, k = 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    val ivf = a.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.7, s"IVF recall $recall below 0.7 at the 256-cell rung")
  }

  test("two-level IVF rung: >256 cells, <=5% probes, recall@10 >= 0.7") {
    // 70_000 rows > 65_536 ⇒ adaptiveNlist = 512 ⇒ the two-level
    // coarse-then-residual fit (round-9 verdict #2) and a 16-probe scan
    // (3.1% of cells). Planted clustered corpus: 80 seeded centres with
    // small noise, the regime IVF's recall contract covers.
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_2level").toString
    val rnd = new scala.util.Random(13)
    val centres = Array.fill(80)(Array.fill(64)(rnd.nextFloat() * 2f - 1f))
    import spark.implicits._
    val rows = (0 until 70000).map { i =>
      val c = centres(i % 80)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f).toSeq, i % 80)
    }
    rows.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS array<float>) AS embedding", "label")
      .coalesce(4).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // the published geometry actually widened past the old 256-cell cap
    val cents = Similarity.ivfCentroidsDump(spark, dir).collect()
    val nCents = cents.map(_.getAs[Int]("cell")).distinct.length
    assert(nCents > 256 && nCents <= 512,
      s"two-level fit returned $nCents cells, expected (256, 512]")
    // probe fraction at this rung is <= 5%
    val probes = Similarity.adaptiveNProbe(512)
    assert(probes.toDouble / 512 <= 0.05, s"probe fraction ${probes / 512.0}")
    // recall@10 vs the exact scan on the planted corpus
    val exact = Similarity.topKCosine(spark, dir, nQueries = 5, k = 10).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    val ivf = Similarity.ivfTopKCosine(spark, dir, nQueries = 5, k = 10).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.7, s"two-level IVF recall@10 $recall below 0.7")
    // re-dumping is stable (seeded fit + cache keyed on the corpus
    // fingerprint — a rewrite-free re-read serves identical centroids)
    val again = Similarity.ivfCentroidsDump(spark, dir).collect()
    assert(again.map(_.toString).sameElements(cents.map(_.toString)))
  }

  test("IVF top-k: recall vs brute force is usable") {
    val exact = Similarity.topKCosine(spark, sf, nQueries = 5, k = 10).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    val ivf = Similarity.ivfTopKCosine(spark, sf, nQueries = 5, k = 10).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall below 0.5")
  }

  test("kNN label vote: majority of the actual top-k neighbour labels") {
    val topk = Similarity.topKCosine(spark, sf, nQueries = 6, k = 7).collect()
      .groupBy(_.getAs[Long]("q_id"))
    val labels = Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val votes = Similarity.knnLabelVote(spark, sf, nQueries = 6, k = 7).collect()
    assert(votes.length === 6)
    votes.foreach { r =>
      val q = r.getAs[Long]("q_id")
      val nbrLabels = topk(q).map(n => labels(n.getAs[Long]("cand_id")))
      val counts = nbrLabels.groupBy(identity).view.mapValues(_.length)
      val best = counts.toSeq.sortBy { case (l, c) => (-c, l) }.head
      assert(r.getAs[Int]("pred_label") === best._1)
      assert(r.getAs[Long]("n_votes") === best._2)
      assert(r.getAs[Int]("true_label") === labels(q))
    }
  }

  test("int8 quantization: range bounded, reconstruction error within half a step") {
    val rows = Similarity.quantizeEmbeddings(spark, sf).collect()
    val n = Tables.embeddings(spark, sf).count()
    assert(rows.length === n) // no zero vectors in this corpus
    rows.foreach { r =>
      val scale = r.getAs[Double]("scale")
      assert(scale > 0)
      // int8 range with symmetric half-up quantization
      assert(r.getAs[Long]("qmin") >= -127L && r.getAs[Long]("qmax") <= 127L)
      // per-dim error ≤ scale/2 ⇒ mse ≤ (scale/2)²
      val mse = r.getAs[Double]("mse")
      assert(mse >= 0 && mse <= scale * scale / 4 + 1e-12,
        s"vec ${r.getAs[Long]("vec_id")}: mse $mse vs scale $scale")
    }
    // fidelity: quantized dot products approximate exact ones — the
    // property that makes int8 lakes searchable
    val emb = Similarity.embDouble(spark, sf).limit(50).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1).toArray).toMap
    def quant(v: Array[Double]): (Array[Long], Double) = {
      val s = v.map(math.abs).max / 127.0
      (v.map(x => math.floor(x / s + 0.5).toLong), s)
    }
    val ids = emb.keys.toSeq.sorted.take(10)
    for (a <- ids; b <- ids if a < b) {
      val exact = emb(a).zip(emb(b)).map { case (x, y) => x * y }.sum
      val (qa, sa) = quant(emb(a)); val (qb, sb) = quant(emb(b))
      val approx = qa.zip(qb).map { case (x, y) => x * y }.sum * sa * sb
      assert(math.abs(exact - approx) < 0.05,
        s"dot($a,$b): exact $exact vs int8 $approx")
    }
  }

  test("pair cosine: one row per pair, covers half the table") {
    val n = Tables.embeddings(spark, sf).count()
    val rows = Similarity.pairCosine(spark, sf).collect()
    assert(rows.length === n / 2)
    assert(rows.forall { r =>
      val c = r.getAs[Double]("cos_sim"); c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9
    })
  }

  test("label centroids: counts conserved, parity with explode recompute, no dim explode in plan") {
    val df = Similarity.labelCentroidStats(spark, sf)
    // the Summarizer centroid path never explodes (label, dim, value)
    // rows — no Generate before the final assembly
    assert(!df.queryExecution.executedPlan.toString.contains("Generate"))
    val out = df.collect()
    assert(out.map(_.getAs[Long]("n")).sum === Tables.embeddings(spark, sf).count())
    out.foreach { r =>
      assert(math.abs(r.getAs[Double]("avg_cos_to_centroid")) <= 1.0 + 1e-9)
      assert(math.abs(r.getAs[Double]("nearest_cos")) <= 1.0 + 1e-9)
      assert(r.getAs[Int]("nearest_label") !== r.getAs[Int]("label"))
    }
    // centroid-norm parity for one label against an explode recompute
    val lbl = out.head.getAs[Int]("label")
    val meanSq = Similarity.embDouble(spark, sf).where(col("label") === lbl)
      .select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("i").agg(avg("x").as("m"))
      .agg(sum(col("m") * col("m"))).head.getDouble(0)
    assert(math.abs(out.head.getAs[Double]("centroid_norm") - math.sqrt(meanSq)) < 2e-6)
  }

  test("ann recall monitor: full coverage, recall floor, deterministic rerun") {
    val out = Similarity.annRecallAtK(spark, sf).collect()
    assert(out.length === 10)
    out.foreach { r =>
      assert(r.getLong(1) === 10L)          // exact top-k always finds k
      val (hit, rec) = (r.getLong(2), r.getAs[Double]("recall"))
      assert(hit >= 0 && hit <= 10)
      assert(rec === math.floor(hit.toDouble / 10 * 1e6 + 0.5) / 1e6)
    }
    // corpus-level floor consistent with the ann spec's recall bar
    val mean = out.map(_.getAs[Double]("recall")).sum / out.length
    assert(mean >= 0.7, mean)
    // deterministic rerun (fixed planes, deterministic tie-breaks)
    val again = Similarity.annRecallAtK(spark, sf).collect()
    assert(again.map(_.toSeq).toSeq === out.map(_.toSeq).toSeq)
  }

  test("semantic dedup: covers the subset, one keeper per cluster, edges co-labeled") {
    val out = Similarity.semanticDedup(spark, sf).collect()
    val n = Tables.embeddings(spark, sf)
      .where(col("vec_id") < 1000).count()
    assert(out.length === n)
    val rep = out.map(r => r.getLong(0) -> r.getLong(2)).toMap
    // representative is a member of its own cluster and keeps itself
    out.foreach { r =>
      val (id, cr, keep) = (r.getLong(0), r.getLong(2), r.getInt(3))
      assert(cr <= id)
      assert(rep(cr) === cr)
      assert(keep === (if (id == cr) 1 else 0))
    }
    // every similarity edge joins two same-cluster vectors
    val edges = graft.ops.Dedup.embeddingDupPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    edges.foreach { case (a, b) => assert(rep(a) === rep(b), (a, b)) }
    // keepers = exactly the distinct clusters (one representative each)
    val keepers = out.count(_.getInt(3) == 1)
    assert(keepers === rep.values.toSet.size)
    // non-keepers are exactly the vectors shadowed by a smaller rep
    assert(n - keepers === out.count(r => r.getLong(2) < r.getLong(0)))
  }

  test("q_sim_semdedup_lsh: full-corpus keep-list, keeper invariants hold") {
    val out = Similarity.semanticDedupLsh(spark, sf).collect()
    val n = Tables.embeddings(spark, sf).count()
    assert(out.length === n)
    val rep = out.map(r => r.getLong(0) -> r.getLong(2)).toMap
    out.foreach { r =>
      val (id, cr, keep) = (r.getLong(0), r.getLong(2), r.getInt(3))
      assert(cr <= id)
      assert(rep(cr) === cr, "representative must keep itself")
      assert(keep === (if (id == cr) 1 else 0))
    }
    assert(out.count(_.getInt(3) == 1) === rep.values.toSet.size)
  }

  test("semdedup LSH scale path: planted near-dups co-cluster with recall >= 0.9") {
    import spark.implicits._
    // same planted geometry as the embed-LSH pair spec (DedupSpec): 40
    // noise-perturbed duplicates (cos ~ 0.99) over 200 random unit
    // vectors — the near-dup regime SemDeDup exists for
    val rnd = new scala.util.Random(29)
    def unit(): Array[Double] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val nm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nm)
    }
    val planted = (0 until 40).flatMap { i =>
      val base = unit()
      val dup = base.zip(unit()).map { case (b, z) => b + 0.08 * z }
      Seq((2L * i, base.toSeq), (2L * i + 1, dup.toSeq))
    }
    val background = (0 until 200).map(i => (1000L + i, unit().toSeq))
    val emb = (planted ++ background).toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(graft.functions.GraftFunctions.dot(
        col("embedding"), col("embedding"))))
      .withColumn("label", lit(0L))
    val out = Similarity.semanticDedupLshOf(emb, minCos = 0.9,
      nPlanes = 64, bands = 8).collect()
    val rep = out.map(r => r.getLong(0) -> r.getLong(2)).toMap
    // recall: a planted pair is recovered iff its two vectors share a rep
    val hit = (0 until 40).count(i => rep(2L * i) === rep(2L * i + 1))
    assert(hit >= 36, s"co-cluster recall ${hit / 40.0} below 0.9")
    // the keep-list dedups: one keeper per cluster, every recovered
    // pair sheds at least one member, and precision holds (no random
    // background vector absorbed into a planted cluster's shadow)
    val keepers = out.count(_.getInt(3) == 1)
    assert(keepers === rep.values.toSet.size)
    assert(out.length - keepers >= hit)
    out.filter(r => r.getLong(0) >= 1000L).foreach { r =>
      assert(r.getInt(3) === 1,
        s"background vector ${r.getLong(0)} wrongly deduped")
    }
  }

  test("rrf fusion: exact union of both rankings, score recomputed from ranks") {
    val out = Similarity.hybridRrfFusion(spark, sf).collect()
    assert(out.nonEmpty)
    val dense = Similarity.topKCosine(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    val sp = graft.ops.Text.sparseCandidatePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sym = (sp.map { case (a, b, n) => (a, b, n) } ++
      sp.map { case (a, b, n) => (b, a, n) }).filter(_._1 < 10)
    val sparse: Map[(Long, Long), Long] =
      sym.groupBy(_._1).toSeq.flatMap { case (q, cs) =>
        cs.sortBy { case (_, c, n) => (-n, c) }.take(10).zipWithIndex
          .map { case ((_, c, _), i) => (q, c) -> (i + 1).toLong }
      }.toMap
    // fused key set is EXACTLY the union; each row's rrf and rank
    // columns reproduce from the two independent rankings
    val keys = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys === (dense.keySet ++ sparse.keySet))
    out.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      val (d, s) = (dense.get(key), sparse.get(key))
      val expect = math.floor((d.map(x => 1.0 / (x + 60)).getOrElse(0.0) +
        s.map(x => 1.0 / (x + 60)).getOrElse(0.0)) * 1e6 + 0.5) / 1e6
      assert(r.getDouble(2) === expect)
      assert(Option(r.get(3)).map(_.asInstanceOf[Long]) === d)
      assert(Option(r.get(4)).map(_.asInstanceOf[Long]) === s)
    }
    // a doc ranked by both systems outscores the same rank in one alone:
    // the consensus-boost property RRF exists for
    val both = out.filter(r => r.get(3) != null && r.get(4) != null)
    both.foreach(r => assert(r.getDouble(2) > 1.0 / 61.0 - 1e-9))
  }

  test("PQ: adaptive ksub rungs; code table one row per (vector, subspace), codes in range") {
    assert(Similarity.adaptivePqKsub(500) === 16)
    assert(Similarity.adaptivePqKsub(2048) === 16)
    // 256 = the standard one-byte code above the gate rung
    assert(Similarity.adaptivePqKsub(2049) === 256)
    assert(Similarity.adaptivePqKsub(100000000) === 256)
    val codes = Similarity.pqCodesDump(spark, sf).collect()
    val n = Tables.embeddings(spark, sf).count()
    assert(codes.length === Similarity.pqM * n,
      s"expected ${Similarity.pqM} code rows per vector")
    assert(codes.forall { r =>
      val c = r.getAs[Long]("code"); c >= 0 && c < 16 })
    assert(codes.forall { r =>
      val s = r.getAs[Long]("subspace"); s >= 0 && s < Similarity.pqM })
  }

  test("PQ ADC top-k: usable recall on the decorrelated gate corpus, deterministic") {
    // the sf corpus is random Gaussians — near-worst-case for any
    // quantizer (no cluster structure for the codebooks to exploit), so
    // this pins the FLOOR; the planted-cluster spec below pins the
    // contract regime. Measured 0.62 at ksub=16, shortlist 64.
    val exact = Similarity.topKCosine(spark, sf, nQueries = 10, k = 10).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    val a = Similarity.pqTopKCosine(spark, sf, nQueries = 10, k = 10).collect()
    val b = Similarity.pqTopKCosine(spark, sf, nQueries = 10, k = 10).collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
    val pq = a.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    val recall = exact.intersect(pq).size.toDouble / exact.size
    info(f"PQ ADC recall@10 vs exact (decorrelated): $recall%.2f")
    assert(recall >= 0.5, s"PQ recall $recall below 0.5")
  }

  test("IVF-PQ: probing every cell reproduces plain PQ exactly") {
    // with nProbe = nlist the partition pruning admits every candidate,
    // so the ADC shortlist — and therefore the re-ranked top-k — must be
    // IDENTICAL to the unpartitioned PQ scan: the cells only ever bound
    // WHICH rows are read, never how they are scored
    val all = Similarity.ivfPqTopKCosine(spark, sf, nQueries = 5, k = 10,
      nProbe = Similarity.ivfNlist).collect()
    val pq = Similarity.pqTopKCosine(spark, sf, nQueries = 5, k = 10).collect()
    assert(all.map(_.toString).sameElements(pq.map(_.toString)))
    // the same pin for plain IVF: every cell probed, the exact-cosine
    // top-k over the cells table is the brute-force top-k row for row
    val ivfAll = Similarity.ivfTopKCosine(spark, sf, nQueries = 5, k = 10,
      nProbe = Similarity.ivfNlist).collect()
    val exact = Similarity.topKCosine(spark, sf, nQueries = 5, k = 10).collect()
    assert(ivfAll.map(_.toString).sameElements(exact.map(_.toString)))
  }

  test("PQ 256-code rung: planted clusters, ADC and IVF-PQ recall@10 high") {
    // 3000 rows > 2048 ⇒ ksub = 256 (one-byte codes) and nlist = 256;
    // clustered geometry = the contract regime (same corpus shape as the
    // IVF rung spec, different seed so the fits are independent)
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_rung").toString
    val rnd = new scala.util.Random(23)
    val centres = Array.fill(20)(Array.fill(64)(rnd.nextFloat() * 2f - 1f))
    import spark.implicits._
    val rows = (0 until 3000).map { i =>
      val c = centres(i % 20)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f).toSeq, i % 20)
    }
    rows.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS array<float>) AS embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // the dump reflects the rung: 8 subspaces x 256 codes x 8 dims
    val cb = Similarity.pqCodebooksDump(spark, dir).collect()
    assert(cb.length === 8 * 256 * 8, s"codebook dump ${cb.length} rows")
    val exact = Similarity.topKCosine(spark, dir, nQueries = 5, k = 10).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    val pq = Similarity.pqTopKCosine(spark, dir, nQueries = 5, k = 10).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    val pqRecall = exact.intersect(pq).size.toDouble / exact.size
    val ivfpq = Similarity.ivfPqTopKCosine(spark, dir, nQueries = 5, k = 10)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    val ivfpqRecall = exact.intersect(ivfpq).size.toDouble / exact.size
    info(f"planted-cluster recall@10: PQ $pqRecall%.2f, IVF-PQ $ivfpqRecall%.2f")
    assert(pqRecall >= 0.8, s"PQ planted recall $pqRecall below 0.8")
    assert(ivfpqRecall >= 0.7, s"IVF-PQ planted recall $ivfpqRecall below 0.7")
  }

  test("hard negatives: top different-label rows of the exact ranking, labels really differ") {
    val negs = Similarity.hardNegatives(spark, sf, nQueries = 6, nNeg = 5)
      .collect()
    assert(negs.length === 30)
    val labels = Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    negs.foreach { r =>
      assert(r.getAs[Int]("q_label") === labels(r.getAs[Long]("q_id")))
      assert(r.getAs[Int]("cand_label") === labels(r.getAs[Long]("cand_id")))
      assert(r.getAs[Int]("q_label") !== r.getAs[Int]("cand_label"))
    }
    // the mined set is exactly the different-label prefix of the full
    // exact ranking: replay from a big-k exact top-k
    val full = Similarity.topKCosine(spark, sf, nQueries = 6, k = 100).collect()
      .groupBy(_.getAs[Long]("q_id"))
    negs.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rows) =>
      val expect = full(q).sortBy(_.getAs[Long]("rnk"))
        .filter(r => labels(r.getAs[Long]("cand_id")) != labels(q))
        .take(5).map(_.getAs[Long]("cand_id")).toSeq
      val got = rows.sortBy(_.getAs[Long]("rnk"))
        .map(_.getAs[Long]("cand_id")).toSeq
      assert(got === expect, s"query $q negative set mismatch")
    }
  }

  test("pca: orthonormal components, non-increasing variance, projection matches a driver replay") {
    val dump = Similarity.pcaComponentsDump(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    val mean = dump.filter(_._1 == -1).sortBy(_._2).map(_._3)
    val comps = dump.filter(_._1 >= 0).groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))
    assert(mean.length === 64 && comps.length === Similarity.pcaK)
    // orthonormality: CᵀC = I within numerical noise
    for (a <- comps.indices; b <- comps.indices) {
      val d = comps(a).zip(comps(b)).map { case (x, y) => x * y }.sum
      val want = if (a == b) 1.0 else 0.0
      assert(math.abs(d - want) < 1e-9, s"C$a . C$b = $d")
    }
    // projection equals the centered matmul, replayed driver-side
    val emb = Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray).toMap
    val proj = Similarity.pcaProject(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    emb.take(20).foreach { case (id, v) =>
      comps.indices.foreach { k =>
        val y = v.indices.foldLeft(0.0)((acc, i) =>
          acc + (v(i) - mean(i)) * comps(k)(i))
        assert(math.abs(proj((id, k.toLong)) -
          math.floor(y * 1e6 + 0.5) / 1e6) < 2e-6,
          s"projection mismatch vec $id comp $k")
      }
    }
    // energy compaction — the claim that survives an ISOTROPIC corpus
    // (this one: all 16 projected variances ≈ 0.02, so pairwise eigen
    // order between a 20% sample fit and the full corpus is noise):
    // the PCA basis captures MORE total variance than the best 16 raw
    // coordinates (measured 0.305 vs 0.270 — the maximal-variance
    // property PCA exists for)
    val byComp = proj.toSeq.groupBy(_._1._2).toSeq.sortBy(_._1)
      .map { case (_, xs) =>
        val vals = xs.map(_._2); val m = vals.sum / vals.size
        vals.map(x => (x - m) * (x - m)).sum / vals.size }
    val n = emb.size
    val rawMean = Array.tabulate(64)(i => emb.values.map(_(i)).sum / n)
    val rawVar = Array.tabulate(64)(i =>
      emb.values.map(v => { val x = v(i) - rawMean(i); x * x }).sum / n)
    val bestRaw16 = rawVar.sortBy(-_).take(Similarity.pcaK).sum
    assert(byComp.sum > bestRaw16,
      s"PCA basis (${byComp.sum}) did not beat the identity basis ($bestRaw16)")
    // deterministic rerun (cache + canonical signs)
    assert(Similarity.pcaComponentsDump(spark, sf).collect().map(_.toString)
      .sameElements(dump.map(t => s"[${t._1},${t._2},${t._3}]")))
  }

  test("driver-side fits run once per corpus version; an in-place rewrite refits once") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("graft_fit_cache")
    val emb = dir.resolve("embeddings.parquet")
    Files.copy(Paths.get(sf, "embeddings.parquet"), emb)
    def ivf() = Similarity.ivfCentroidsDump(spark, dir.toString)
    def pca() = Similarity.pcaComponentsDump(spark, dir.toString)
    def jobs() = (constructionJobs(ivf()), constructionJobs(pca()))
    val first = jobs()
    assert(first._1 >= 1 && first._2 >= 1, s"first fits ran no job: $first")
    assert(jobs() === ((0, 0)))
    val before = ivf().collect().toSeq
    // rewrite the copy in place with half its rows: a new corpus version
    val staged = Files.createTempDirectory("graft_fit_cache_staged").resolve("e")
    spark.read.parquet(emb.toString).where(col("vec_id") % 2 === 0)
      .coalesce(1).write.parquet(staged.toString)
    val part = Files.list(staged).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst.get
    Files.move(part, emb, StandardCopyOption.REPLACE_EXISTING)
    val refit = jobs()
    assert(refit._1 >= 1 && refit._2 >= 1, s"rewrite served stale fits: $refit")
    assert(jobs() === ((0, 0)))
    assert(ivf().collect().toSeq !== before)
  }

  test("residual PQ: code table shape, codes in range, deterministic rerun") {
    val n = Tables.embeddings(spark, sf).count()
    val codes = Similarity.rpqCodesDump(spark, sf).collect()
    assert(codes.length === Similarity.pqM * n,
      s"expected ${Similarity.pqM} residual code rows per vector")
    assert(codes.forall { r =>
      val c = r.getAs[Long]("code"); c >= 0 && c < 256 })
    val again = Similarity.rpqCodesDump(spark, sf).collect()
    assert(codes.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("residual IVF-PQ: planted clusters, recall@10 at a tight shortlist beats-or-matches plain IVF-PQ") {
    // same clustered geometry as the PQ rung spec (different seed);
    // shortlist 16 < k·2 makes shortlist QUALITY visible — the residual
    // frame's whole claim is a sharper ADC at equal bytes
    val dir = java.nio.file.Files.createTempDirectory("graft_rpq_rung").toString
    val rnd = new scala.util.Random(31)
    val centres = Array.fill(20)(Array.fill(64)(rnd.nextFloat() * 2f - 1f))
    import spark.implicits._
    val rows = (0 until 3000).map { i =>
      val c = centres(i % 20)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f).toSeq, i % 20)
    }
    rows.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS array<float>) AS embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val exact = Similarity.topKCosine(spark, dir, nQueries = 5, k = 10).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    val pqR = recallOf(Similarity.ivfPqTopKCosine(spark, dir,
      nQueries = 5, k = 10, shortlist = 16))
    val rpqR = recallOf(Similarity.ivfRpqTopKCosine(spark, dir,
      nQueries = 5, k = 10, shortlist = 16))
    info(f"planted recall@10 @shortlist16: IVF-PQ $pqR%.2f, residual IVF-PQ $rpqR%.2f")
    // measured at this geometry: plain 0.38, residual 0.60 — the tight
    // shortlist starves the vector-frame ADC, the residual frame keeps
    // working; both fits are seeded so the gap is stable
    assert(rpqR >= 0.55, s"residual IVF-PQ planted recall $rpqR below 0.55")
    assert(rpqR >= pqR,
      s"residual recall $rpqR did not beat plain IVF-PQ $pqR")
  }

  test("wide rung: IVF-PQ and residual-PQ recall@10 floors at 120Ki rows / 512 cells / 256 codes") {
    // The SCALE_AUDIT-sized corpus (120 Ki rows) at the COMBINED wide
    // geometry — two-level 512-cell coarse quantizer AND 256-code PQ —
    // in the planted-cluster regime the quantizer recall contract
    // covers (round-11 verdict #7; the decorrelated local corpora are
    // the documented out-of-contract regime where no sublinear probe
    // can hold recall — see adaptiveNProbe's scaladoc). Same corpus
    // shape as the 256-cell and two-level IVF rung specs, independent
    // seed.
    val dir = java.nio.file.Files.createTempDirectory("graft_wide_rung").toString
    val rnd = new scala.util.Random(29)
    // 600 clusters x 200 members with wider in-cluster noise than the
    // small-rung specs: tight 800-member clusters make every member
    // PQ-code-identical, which is exactly the IVFADC motivation (the
    // residual bank discriminates where the raw bank ties) but leaves
    // plain PQ nothing to rank by — the contract corpus keeps clusters
    // retrievable (coarse rung) AND code-discriminable (fine rung)
    val centres = Array.fill(600)(Array.fill(64)(rnd.nextFloat() * 2f - 1f))
    import spark.implicits._
    val rows = (0 until 120000).map { i =>
      val c = centres(i % 600)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.3f).toSeq, i % 600)
    }
    rows.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS array<float>) AS embedding",
        "label")
      .coalesce(4).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // both wide rungs are actually active on this corpus
    assert(Similarity.adaptiveNlist(120000) === 512)
    val cb = Similarity.pqCodebooksDump(spark, dir).collect()
    assert(cb.length === 8 * 256 * 8, s"codebook dump ${cb.length} rows")
    val exact = Similarity.topKCosine(spark, dir, nQueries = 5, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size === 50)
    def recall(approx: Set[(Long, Long)]): Double =
      exact.intersect(approx).size.toDouble / exact.size
    val rIvfPq = recall(
      Similarity.ivfPqTopKCosine(spark, dir, nQueries = 5, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val rRpq = recall(
      Similarity.ivfRpqTopKCosine(spark, dir, nQueries = 5, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    info(f"wide-rung planted recall@10: ivfpq=$rIvfPq%.2f rpq=$rRpq%.2f")
    assert(rIvfPq >= 0.7, f"IVF-PQ wide-rung recall $rIvfPq%.2f below 0.7")
    assert(rRpq >= 0.7, f"residual-PQ wide-rung recall $rRpq%.2f below 0.7")
  }

  test("million rung: IVF-PQ and residual-PQ recall@10 floors at 1M rows / 1024 cells / 3% probes") {
    // One decade past the corpus (round-12 verdict #8): the geometry
    // contract must already hold at the NEXT rung before the data gets
    // there. 1M rows resolve to the 1024-cell coarse quantizer, 32
    // probes (3.125%), 256 PQ codes, and the 3906-deep adaptive ADC
    // shortlist. The corpus is GENERATED DISTRIBUTED (range + literal
    // centre bank + hash noise — no driver-side row materialization),
    // because a 1M-row driver Seq is exactly the kind of collect this
    // engine bans.
    val dir = java.nio.file.Files.createTempDirectory("graft_m_rung").toString
    val rnd = new scala.util.Random(31)
    val nClusters = 1000
    val centres: Seq[Seq[Float]] =
      Seq.fill(nClusters)(Seq.fill(64)(rnd.nextFloat() * 2f - 1f))
    val cents = typedLit(centres)
    val t0 = System.nanoTime()
    spark.range(1000000L).select(
        col("id").as("vec_id"),
        transform(
          element_at(cents, (pmod(col("id"), lit(nClusters)) + 1).cast("int")),
          (x, j) => x + (pmod(xxhash64(col("id"), j), lit(1000L))
            .cast("float") / lit(1000f) - lit(0.5f)) * lit(0.3f))
          .cast("array<float>").as("embedding"),
        pmod(col("id"), lit(nClusters.toLong)).as("label"))
      .coalesce(8).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val tGen = (System.nanoTime() - t0) / 1e9
    // the adaptive geometry actually lands on the million rung
    assert(Similarity.adaptiveNlist(1000000) === 1024)
    assert(Similarity.adaptiveNProbe(1024) === 32)
    assert(Similarity.adaptiveShortlist(1000000) === 3906)
    val t1 = System.nanoTime()
    val exact = Similarity.topKCosine(spark, dir, nQueries = 5, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tExact = (System.nanoTime() - t1) / 1e9
    assert(exact.size === 50)
    def recall(approx: Set[(Long, Long)]): Double =
      exact.intersect(approx).size.toDouble / exact.size
    val t2 = System.nanoTime()
    val rIvfPq = recall(
      Similarity.ivfPqTopKCosine(spark, dir, nQueries = 5, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val tIvfPq = (System.nanoTime() - t2) / 1e9
    val t3 = System.nanoTime()
    val rRpq = recall(
      Similarity.ivfRpqTopKCosine(spark, dir, nQueries = 5, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val tRpq = (System.nanoTime() - t3) / 1e9
    info(f"1M rung recall@10: ivfpq=$rIvfPq%.2f rpq=$rRpq%.2f | " +
      f"gen=$tGen%.1fs exact=$tExact%.1fs ivfpq(fit+probe)=$tIvfPq%.1fs " +
      f"rpq(fit+probe)=$tRpq%.1fs")
    assert(rIvfPq >= 0.7, f"IVF-PQ 1M-rung recall $rIvfPq%.2f below 0.7")
    assert(rRpq >= 0.7, f"residual-PQ 1M-rung recall $rRpq%.2f below 0.7")
  }

  test("4M-rung geometry: 2048 cells, 64 probes (3.1%), shortlist at the cap") {
    // Two decades past the corpus (round-13 verdict #8) — the 2048-cell
    // rung the adaptive ladder lands on between the tested 1024 and the
    // 4096 cap. The geometry contract always runs; the 4M MEASUREMENT
    // below is opt-in (~4x the 1M rung's cost) and its one-off evidence
    // lives in SCALE_AUDIT.md.
    assert(Similarity.adaptiveNlist(4000000) === 2048)
    assert(Similarity.adaptiveNProbe(2048) === 64)
    assert(Similarity.adaptiveShortlist(4000000) === 4096)
  }

  /** Shared wide-rung harness: the distributed planted-cluster corpus
    * every opt-in rung uses (range + literal centre bank + hash noise —
    * no driver-side row materialization; a multi-million-row driver Seq
    * is exactly the collect this engine bans). nRows/nClusters pick the
    * geometry; members = nRows/nClusters is the ADC-tie mass the
    * shortlist must cover. */
  private def plantRungCorpus(nRows: Long, nClusters: Int, seed: Int,
                              nFiles: Int): String = {
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft_rung_$nRows").toString
    val rnd = new scala.util.Random(seed)
    val centres: Seq[Seq[Float]] =
      Seq.fill(nClusters)(Seq.fill(64)(rnd.nextFloat() * 2f - 1f))
    val cents = typedLit(centres)
    spark.range(nRows).select(
        col("id").as("vec_id"),
        transform(
          element_at(cents, (pmod(col("id"), lit(nClusters)) + 1).cast("int")),
          (x, j) => x + (pmod(xxhash64(col("id"), j), lit(1000L))
            .cast("float") / lit(1000f) - lit(0.5f)) * lit(0.3f))
          .cast("array<float>").as("embedding"),
        pmod(col("id"), lit(nClusters.toLong)).as("label"))
      .coalesce(nFiles).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def topkSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("fit-sample budget rises with the geometry: >= 16 points per cell at every rung") {
    // round-14 verdict #6 named this contract: the k-means fit sample
    // must track nlist so the ladder cap never starves the fit
    Seq(16, 256, 512, 1024, 2048, 4096).foreach { nl =>
      assert(Similarity.fitSampleCap(nl) >= 16 * nl, s"nlist $nl")
    }
    assert(Similarity.fitSampleCap(4096) === 65536)
  }

  test("2M scheduled rung (opt-in, SPARK_GRAFT_WIDE_RUNGS=1): shipped shortlist holds where the r13 cap collapses") {
    assume(sys.env.get("SPARK_GRAFT_WIDE_RUNGS").contains("1"),
      "2M measurement is opt-in (SPARK_GRAFT_WIDE_RUNGS=1); evidence in SCALE_AUDIT.md")
    // The round-14 4M rung caught a real defect (IVF-PQ recall@10 0.30:
    // 4000-member planted clusters tie their ADC codes and the r13
    // shortlist cap of 1024 sampled ~26% of the tie mass). This rung is
    // its bounded scheduled replacement (round-14 verdict #7): HALF the
    // rows at the SAME failure geometry — 500 clusters of 4000 members,
    // 2048 cells, shortlist at the 4096 cap — with the r13 cap replayed
    // as a REGRESSION GUARD: the collapse must still reproduce under
    // shortlist=1024 (else the rung has lost its teeth), and the
    // shipped adaptive cap must hold. Budget: ~half the retired 4M
    // rung, roughly gen+exact+three probe passes on 32 threads.
    assert(Similarity.adaptiveNlist(2000000) === 2048)
    assert(Similarity.adaptiveNProbe(2048) === 64)
    assert(Similarity.adaptiveShortlist(2000000) === 4096)
    val t0 = System.nanoTime()
    val dir = plantRungCorpus(2000000L, 500, seed = 41, nFiles = 8)
    val tGen = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val exact = topkSet(Similarity.topKCosine(spark, dir, nQueries = 5, k = 10))
    val tExact = (System.nanoTime() - t1) / 1e9
    assert(exact.size === 50)
    def recall(approx: Set[(Long, Long)]): Double =
      exact.intersect(approx).size.toDouble / exact.size
    // the regression guard: the retired cap must still collapse here
    val rOldCap = recall(topkSet(
      Similarity.ivfPqTopKCosine(spark, dir, nQueries = 5, k = 10,
        shortlist = 1024)))
    val t2 = System.nanoTime()
    val rIvfPq = recall(topkSet(
      Similarity.ivfPqTopKCosine(spark, dir, nQueries = 5, k = 10)))
    val tIvfPq = (System.nanoTime() - t2) / 1e9
    val t3 = System.nanoTime()
    val rRpq = recall(topkSet(
      Similarity.ivfRpqTopKCosine(spark, dir, nQueries = 5, k = 10)))
    val tRpq = (System.nanoTime() - t3) / 1e9
    info(f"2M rung recall@10: ivfpq=$rIvfPq%.2f rpq=$rRpq%.2f " +
      f"oldcap1024=$rOldCap%.2f | gen=$tGen%.1fs exact=$tExact%.1fs " +
      f"ivfpq(fit+probe)=$tIvfPq%.1fs rpq(fit+probe)=$tRpq%.1fs")
    assert(rOldCap < 0.5,
      f"regression guard lost its teeth: r13 cap scored $rOldCap%.2f — " +
        "the rung no longer reproduces the tie-mass collapse")
    assert(rIvfPq >= 0.7, f"IVF-PQ 2M-rung recall $rIvfPq%.2f below 0.7")
    assert(rRpq >= 0.7, f"residual-PQ 2M-rung recall $rRpq%.2f below 0.7")
  }

  test("4096-cell rung (opt-in, SPARK_GRAFT_WIDE_RUNGS_XL=1): recall holds at the ladder cap") {
    assume(sys.env.get("SPARK_GRAFT_WIDE_RUNGS_XL").contains("1"),
      "8M measurement is opt-in (SPARK_GRAFT_WIDE_RUNGS_XL=1); evidence in SCALE_AUDIT.md")
    // The ladder's terminal geometry (round-14 verdict #6): 8M rows land
    // on the 4096-cell cap, 128 probes (3.1%), the 65536-row fit sample
    // (16 points/cell), shortlist 4096 covering the 2000-member tie
    // mass. Heaviest rung in the suite (~2x the 2M rung) — run once per
    // geometry-affecting change, not per round.
    assert(Similarity.adaptiveNlist(8000000) === 4096)
    assert(Similarity.adaptiveNProbe(4096) === 128)
    assert(Similarity.fitSampleCap(4096) === 65536)
    val t0 = System.nanoTime()
    val dir = plantRungCorpus(8000000L, 4000, seed = 43, nFiles = 16)
    val tGen = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val exact = topkSet(Similarity.topKCosine(spark, dir, nQueries = 5, k = 10))
    val tExact = (System.nanoTime() - t1) / 1e9
    assert(exact.size === 50)
    def recall(approx: Set[(Long, Long)]): Double =
      exact.intersect(approx).size.toDouble / exact.size
    val t2 = System.nanoTime()
    val rIvfPq = recall(topkSet(
      Similarity.ivfPqTopKCosine(spark, dir, nQueries = 5, k = 10)))
    val tIvfPq = (System.nanoTime() - t2) / 1e9
    val t3 = System.nanoTime()
    val rRpq = recall(topkSet(
      Similarity.ivfRpqTopKCosine(spark, dir, nQueries = 5, k = 10)))
    val tRpq = (System.nanoTime() - t3) / 1e9
    info(f"8M rung recall@10: ivfpq=$rIvfPq%.2f rpq=$rRpq%.2f | " +
      f"gen=$tGen%.1fs exact=$tExact%.1fs ivfpq(fit+probe)=$tIvfPq%.1fs " +
      f"rpq(fit+probe)=$tRpq%.1fs")
    assert(rIvfPq >= 0.7, f"IVF-PQ 8M-rung recall $rIvfPq%.2f below 0.7")
    assert(rRpq >= 0.7, f"residual-PQ 8M-rung recall $rRpq%.2f below 0.7")
  }

  test("rank eval: perfect self-eval scores 1.0 everywhere; ANN eval bounded and hit-consistent") {
    val exact = Similarity.topKCosine(spark, sf, nQueries = 5, k = 10)
    // the metric arithmetic itself: evaluating a ranking against itself
    // must yield recall = mrr = ndcg = 1 exactly (the micro-unit DCG sums
    // cancel against the same-constant ideal DCG)
    val self = Similarity.rankEvalOf(exact, exact, 10).collect()
    assert(self.length === 5)
    self.foreach { r =>
      assert(r.getAs[Long]("n_hits") === 10L)
      assert(r.getAs[Double]("recall") === 1.0)
      assert(r.getAs[Double]("mrr") === 1.0)
      assert(r.getAs[Double]("ndcg") === 1.0, r.toString)
    }
    // the declared ANN eval: bounded metrics, recall consistent with the
    // raw intersection, and ndcg <= recall-implied ceiling
    val eval = Similarity.annRankEval(spark, sf, nQueries = 5, k = 10)
      .collect().map(r => r.getAs[Long]("q_id") -> r).toMap
    val ex = Similarity.topKCosine(spark, sf, nQueries = 5, k = 10).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val ann = Similarity.annTopKCosine(spark, sf, nQueries = 5, k = 10).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    eval.foreach { case (q, r) =>
      val hits = ex(q).intersect(ann(q)).size
      assert(r.getAs[Long]("n_hits") === hits.toLong, s"q=$q")
      Seq("recall", "mrr", "ndcg").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0, s"q=$q $c=$v")
      }
      assert(r.getAs[Double]("recall") === math.floor(hits / 10.0 * 1e6 + 0.5) / 1e6)
    }
  }
  test("ivf probe curve: recall monotone in probes, bounded by truth, strong at the rung default") {
    val rows = graft.ops.Similarity.ivfProbeRecallCurve(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_probe")).toSeq === Seq(1L, 2L, 4L, 8L))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n_true"))
      assert(r.getAs[Long]("n_true") === 100L) // 10 queries x top-10
    }
    // probing a superset of cells can only add candidates that are
    // either true neighbours or rank below them, so recall@k is
    // monotone along the ladder (total order shared with the brute side)
    val recalls = rows.map(_.getAs[Double]("recall"))
    recalls.zip(recalls.tail).foreach { case (a, b) =>
      assert(b >= a - 1e-9, recalls.mkString(","))
    }
    // the adaptive operating point (nProbe=8 at this rung) recovers
    // most of the exact top-10
    assert(recalls.last >= 0.5, recalls.mkString(","))
  }

}
