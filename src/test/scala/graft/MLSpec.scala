package graft

import org.apache.spark.sql.functions._

import graft.datagen.SyntheticFeatures
import graft.model.{Metrics, Pipeline, TrainEval}
import graft.sources.Tables

class SyntheticFeaturesSpec extends SparkSpec {

  test("shape and schema: n rows, feature_0..19 double + target long") {
    val df = SyntheticFeatures.generate(spark, 100)
    assert(df.count() === 100)
    val names = df.schema.fieldNames.toSeq
    assert(names === ("row_id" +: (0 until 20).map(i => s"feature_$i")) :+ "target")
  }

  test("class balance is exact 50/50") {
    val counts = SyntheticFeatures.generate(spark, 200)
      .groupBy("target").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts === Map(0L -> 100L, 1L -> 100L))
  }

  test("partition-invariance: same values under different parallelism") {
    val a = SyntheticFeatures.generate(spark, 500, parallelism = 2)
      .orderBy("row_id").collect()
    val b = SyntheticFeatures.generate(spark, 500, parallelism = 17)
      .orderBy("row_id").collect()
    assert(a.sameElements(b))
  }

  test("redundant features are exact linear combos of informative dims") {
    // redundant raw index j+2 maps through the fixed permutation
    val inv = SyntheticFeatures.permutation.zipWithIndex.toMap  // src -> dst
    val df = SyntheticFeatures.generate(spark, 2000)
    val inf0 = col(s"feature_${inv(0)}")
    val inf1 = col(s"feature_${inv(1)}")
    SyntheticFeatures.mixing.zipWithIndex.foreach { case ((m0, m1), j) =>
      val red = col(s"feature_${inv(j + 2)}")
      val maxErr = df.agg(max(abs(red - (inf0 * m0 + inf1 * m1)))).head.getDouble(0)
      assert(maxErr < 1e-9, s"redundant $j deviates by $maxErr")
    }
  }

  test("informative dims separate the classes (means differ)") {
    val inv = SyntheticFeatures.permutation.zipWithIndex.toMap
    val df = SyntheticFeatures.generate(spark, 2000)
    val m = df.groupBy("target")
      .agg(avg(col(s"feature_${inv(0)}")).as("m0")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(m(0L) - m(1L)) > 0.5)
  }
}

class PipelineSpec extends SparkSpec {

  test("end-to-end reference pipeline: exact split, high accuracy, artifacts") {
    val out = java.nio.file.Files.createTempDirectory("graft-pipeline").toString
    val r = Pipeline.run(spark, out, n = 100, numTrees = 100, seed = 42)
    assert(r.nTest === 20)
    assert(r.nTrain === 80)
    assert(r.accuracy >= 0.9, s"accuracy ${r.accuracy} below 0.9")
    val fs = new java.io.File(s"$out/feature_store/features.csv")
    assert(fs.exists)
    val runInfo = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/model_runs/run_info.json"))
    assert(runInfo.contains("\"model_type\": \"RandomForestClassifier\""))
    assert(runInfo.contains("performance_metrics_path"))
    // reloaded model predicts identically
    val model = graft.model.Persist.loadModel(s"$out/model_runs/random_forest")
    assert(model.getNumTrees === 100)
  }

  test("run-info JSON escapes hostile paths and serializes NaN as null") {
    val out = java.nio.file.Files.createTempDirectory("graft-runinfo").toString
    graft.model.Persist.saveRunInfo(Double.NaN, """/odd "path"\with\quotes""",
      "/fs", "/pred\npath", s"$out/run_info.json")
    val txt = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/run_info.json"))
    // must parse as strict JSON despite quotes/backslashes/newline/NaN
    import spark.implicits._
    val parsed = spark.read.json(Seq(txt).toDS)
    assert(!parsed.columns.contains("_corrupt_record"), txt)
    assert(parsed.columns.contains("model_path"))
    assert(txt.contains("\"accuracy\": null"))
    assert(txt.contains("\\\"path\\\""))
    assert(txt.contains("\\n"))
    assert(!txt.contains("NaN"))
  }

  test("feature store JSON round-trips with schema intact") {
    val out = java.nio.file.Files.createTempDirectory("graft-json").toString
    val df = SyntheticFeatures.generate(spark, 40)
    graft.store.FeatureStore.writeJson(df, s"$out/features.json", Seq("row_id"))
    val back = graft.store.FeatureStore.readJson(spark, s"$out/features.json", df.schema)
    assert(back.count() === 40)
    // names + types (nullability legitimately widens on re-read)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.agg(sum("row_id")).head.getLong(0) === (0L until 40L).sum)
  }

  test("feature store ORC round-trips with values and pushdown-friendly schema intact") {
    val out = java.nio.file.Files.createTempDirectory("graft-orc").toString
    val df = SyntheticFeatures.generate(spark, 40)
    graft.store.FeatureStore.writeOrc(df, s"$out/features.orc")
    val back = graft.store.FeatureStore.readOrc(spark, s"$out/features.orc", df.schema)
    assert(back.count() === 40)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    // values survive bit-exact (columnar round-trip, no text conversion) —
    // compare per-row, not via sum(): fp summation order varies with
    // partition layout, so an aggregate can differ in the last ulp even
    // when every stored value is identical
    assert(back.agg(sum("row_id")).head.getLong(0) === (0L until 40L).sum)
    val orig = df.select("row_id", "feature_0").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rt = back.select("row_id", "feature_0").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rt === orig)
    // and a filter reaches the ORC scan as a pushed predicate
    val scan = back.where(col("row_id") === 7L)
      .queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(row_id), EqualTo(row_id,7)"), scan)
  }

  test("feature store CSV round-trips with reference header") {
    val out = java.nio.file.Files.createTempDirectory("graft-store").toString
    val df = SyntheticFeatures.generate(spark, 50).drop("row_id")
    graft.store.FeatureStore.writeCsv(df, s"$out/features.csv",
      Seq("target", "feature_0"))
    val files = new java.io.File(s"$out/features.csv").listFiles()
      .filter(_.getName.endsWith(".csv"))
    assert(files.length === 1)
    val header = scala.io.Source.fromFile(files.head).getLines().next()
    assert(header === ((0 until 20).map(i => s"feature_$i") :+ "target").mkString(","))
    val back = graft.store.FeatureStore.readCsv(spark, s"$out/features.csv", df.schema)
    assert(back.count() === 50)
    assert(back.schema === df.schema)
  }
}

class MetricsSpec extends SparkSpec {

  test("exact split honors exact counts and partitions the input") {
    val df = SyntheticFeatures.generate(spark, 123)
    val (train, test) = TrainEval.exactSplit(df, "row_id", 0.2, 42)
    assert(test.count() === 25)   // ceil(123 * 0.2), sklearn semantics
    assert(train.count() === 98)
    assert(train.select("row_id").intersect(test.select("row_id")).count() === 0)
  }

  test("classification report: summary rows consistent with per-class body") {
    val rep = Metrics.linearReport(spark, sf).collect()
    val byCls = rep.map(r => r.getString(0) -> r).toMap
    assert(Seq("accuracy", "macro avg", "weighted avg").forall(byCls.contains))
    val acc = Metrics.linearAccuracy(spark, sf).head.getDouble(0)
    // sklearn layout: accuracy row carries the value in f1, null p/r
    val accRow = byCls("accuracy")
    assert(math.abs(accRow.getAs[Double]("f1") - acc) < 1e-4)
    assert(accRow.isNullAt(accRow.fieldIndex("precision")))
    val perClass = rep.filter(_.getString(0).forall(_.isDigit))
    val n = perClass.map(_.getAs[Long]("support")).sum
    val weightedRecall = perClass.map(r =>
      r.getAs[Double]("recall") * r.getAs[Long]("support")).sum / n
    val wRow = byCls("weighted avg")
    assert(math.abs(wRow.getAs[Double]("recall") - weightedRecall) < 1e-4)
    assert(math.abs(wRow.getAs[Double]("recall") - acc) < 1e-4)
    val macroF1 = perClass.map(_.getAs[Double]("f1")).sum / perClass.length
    assert(math.abs(byCls("macro avg").getAs[Double]("f1") - macroF1) < 1e-4)
    perClass.foreach { r =>
      Seq("precision", "recall", "f1").foreach { c =>
        val v = r.getAs[Double](c); assert(v >= 0.0 && v <= 1.0)
      }
    }
    assert(n === Tables.embeddings(spark, sf).count())
    assert(accRow.getAs[Long]("support") === n)
  }

  test("report includes prediction-only classes: support 0, sklearn union semantics") {
    import spark.implicits._
    // class 2 is never an actual — sklearn still reports it (support 0,
    // precision from its predictions, recall defined 0)
    val df = Seq((0L, 0L), (0L, 2L), (1L, 1L), (1L, 1L)).toDF("label", "pred")
    val rep = Metrics.classificationReport(df, "label", "pred").collect()
    assert(rep.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
    val r2 = rep.find(_.getLong(0) == 2L).get
    assert(r2.getAs[Long]("support") === 0L)
    assert(r2.getAs[Double]("precision") === 0.0)
    assert(r2.getAs[Double]("recall") === 0.0)
    assert(r2.getAs[Double]("f1") === 0.0)
    // macro avg spans the union: recalls 0.5, 1.0, 0.0 -> 0.5
    val full = Metrics.classificationReportFull(df, "label", "pred").collect()
    val macroRow = full.find(_.getString(0) == "macro avg").get
    assert(math.abs(macroRow.getAs[Double]("recall") - 0.5) < 1e-9)
  }

  test("log-loss: positive, covers the corpus, equals a driver softmax replay") {
    val row = Metrics.linearLogLoss(spark, sf).head()
    val n = row.getLong(0)
    val ll = row.getDouble(1)
    assert(n === Tables.embeddings(spark, sf).count())
    assert(ll > 0.0)
    // independent replay: scores from the same public weight formula
    val vecs = Tables.embeddings(spark, sf)
      .select(col("label").cast("long"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val expect = vecs.map { case (label, v) =>
      val scores = (0 until Metrics.numClasses).map { c =>
        (0 until Tables.embeddingDim).map(d =>
          v(d) * Metrics.weight(c, d).toDouble).sum
      }
      val m = scores.max
      val lse = m + math.log(scores.map(s => math.exp(s - m)).sum)
      lse - scores(label.toInt)
    }
    val mean = expect.map(x => math.floor(x * 1e6 + 0.5).toLong).sum.toDouble / expect.length
    assert(math.abs(ll - math.floor(mean + 0.5) / 1e6) < 1e-4)
  }

  test("confusion matrix counts cover every vector") {
    val total = Metrics.linearConfusion(spark, sf).agg(sum("n")).head.getLong(0)
    assert(total === Tables.embeddings(spark, sf).count())
  }

  test("ovr AUC equals a brute pairwise replay, bounded, covers every class") {
    val auc = Metrics.linearAucOvr(spark, sf).collect()
    assert(auc.map(_.getLong(0)).toSeq === (0L until 10L))
    val n = Tables.embeddings(spark, sf).count()
    auc.foreach { r =>
      assert(r.getAs[Long]("n_pos") + r.getAs[Long]("n_neg") === n)
      val a = r.getAs[Double]("auc"); assert(a >= 0.0 && a <= 1.0)
    }
    // brute replay: AUC_c = (#[s+ > s-] + 0.5·#[s+ = s-]) / (n+·n-)
    val vecs = Tables.embeddings(spark, sf)
      .select(col("label").cast("long"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    for (c <- Seq(0, 3, 9)) {
      val scores = vecs.map { case (label, v) =>
        (label == c, (0 until Tables.embeddingDim).map(d =>
          v(d) * Metrics.weight(c, d).toDouble).sum)
      }
      val pos = scores.filter(_._1).map(_._2)
      val neg = scores.filterNot(_._1).map(_._2)
      val u2 = (for (p <- pos; q <- neg) yield
        if (p > q) 2L else if (p == q) 1L else 0L).sum
      val expect = math.floor(u2.toDouble /
        (2.0 * pos.length * neg.length) * 1e6 + 0.5) / 1e6
      assert(auc(c).getAs[Double]("auc") === expect)
    }
  }

  test("fold eval: covers the corpus, weighted accuracy equals overall") {
    val out = Metrics.foldAccuracy(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSeq === (0L until 5L))
    val n = Tables.embeddings(spark, sf).count()
    assert(out.map(_.getAs[Long]("n")).sum === n)
    out.foreach { r =>
      val acc = r.getAs[Double]("accuracy")
      assert(acc >= 0.0 && acc <= 1.0)
      assert(math.abs(acc - math.floor(r.getAs[Long]("n_hit").toDouble /
        r.getAs[Long]("n") * 1e6 + 0.5) / 1e6) < 1e-12)
    }
    val overall = Metrics.linearAccuracy(spark, sf).head.getDouble(0)
    val weighted = out.map(r =>
      r.getAs[Long]("n_hit")).sum.toDouble / n
    assert(math.abs(weighted - overall) < 1e-4)
  }

  test("calibration bins cover the corpus; confidence inside bin bounds") {
    val cal = Metrics.linearCalibration(spark, sf).collect()
    val n = Tables.embeddings(spark, sf).count()
    assert(cal.map(_.getAs[Long]("n")).sum === n)
    cal.foreach { r =>
      val bin = r.getAs[Long]("bin")
      val avgConf = r.getAs[Double]("avg_conf")
      assert(bin >= 0 && bin <= 9)
      // max-softmax of 10 classes is ≥ 1/10; mean stays in the bin (6dp slack)
      assert(avgConf >= bin / 10.0 - 1e-6)
      assert(avgConf <= (bin + 1) / 10.0 + 1e-6)
      val acc = r.getAs[Double]("accuracy"); assert(acc >= 0.0 && acc <= 1.0)
    }
    // count-weighted bin accuracy = overall accuracy
    val overall = Metrics.linearAccuracy(spark, sf).head.getDouble(0)
    val weighted = cal.map(r =>
      r.getAs[Double]("accuracy") * r.getAs[Long]("n")).sum / n
    assert(math.abs(weighted - overall) < 1e-4)
  }

  test("RF on embeddings: confusion covers the holdout, labels in range") {
    // embeddings carry no label signal by construction → no accuracy bar;
    // learnability is asserted on the synthetic features pipeline instead
    val conf = Metrics.rfConfusion(spark, sf).collect()
    val n = conf.map(_.getAs[Long]("n")).sum
    assert(n > 0)
    conf.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) <= 9)
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 9)
    }
  }
}
