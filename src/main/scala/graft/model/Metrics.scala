package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Similarity
import graft.sources.Tables

/** Evaluation metrics as relational queries (reference R10/R11 —
  * `accuracy_score` + `classification_report`), plus a fully deterministic
  * linear scorer over the `embeddings` table so the whole predict→metrics
  * path is DuckDB-oracle-checkable (seeded RF training is not portable
  * across engines; the *metrics arithmetic* is, and this pins it).
  *
  * Scale: every metric is one hash-agg over the predictions; the report is
  * three tiny per-class aggregates joined on the 10-row class dimension.
  */
object Metrics {

  /** Fixed integer weight for (class, dim) — small, public formula shared
    * with the oracle SQL generator. */
  def weight(cls: Int, dim: Int): Long = ((cls * 64 + dim) * 37) % 19 - 9

  val numClasses = 10

  /** (vec_id, label, score_0..score_C) — the deterministic linear scorer's
    * per-class scores, shared by argmax prediction and log-loss. */
  private def scoredFrame(spark: SparkSession, dir: String): DataFrame = {
    Similarity.embDouble(spark, dir).select(
      col("vec_id") +: col("label").cast("long").as("label") +:
        (0 until numClasses).map { c =>
          val w = array((0 until Tables.embeddingDim).map(d => lit(weight(c, d).toDouble)): _*)
          graft.functions.GraftFunctions.dot(col("embedding"), w).as(s"score_$c")
        }: _*)
  }

  /** Argmax over `score_0..score_C` as a column (ties → lowest class) —
    * shared by predictions and calibration so the two can't drift. */
  private def argmaxPred: Column =
    (0 until numClasses - 1).foldRight(lit((numClasses - 1).toLong)) {
      case (c, elseCol) =>
        val beatsRest = ((c + 1) until numClasses)
          .map(r => col(s"score_$c") >= col(s"score_$r")).reduce(_ && _)
        when(beatsRest, lit(c.toLong)).otherwise(elseCol)
    }

  /** Deterministic "model": score_c = ⟨embedding, w_c⟩, prediction =
    * argmax_c (ties → lowest class). Pure column arithmetic, no UDF. */
  def linearPredictions(spark: SparkSession, dir: String): DataFrame =
    scoredFrame(spark, dir)
      .select(col("vec_id"), col("label"), argmaxPred.as("pred"))

  /** Multinomial (softmax) log-loss of the linear scorer — sklearn's
    * `log_loss` companion to R10's accuracy: mean over rows of
    * logsumexp(scores) − score_label, max-subtracted for overflow safety.
    * Determinism: the per-row loss is IEEE arithmetic on identical
    * inputs in both engines (the exp-sum folds left-to-right in array
    * order on each side), then quantizes to a 1e6-scaled long so the
    * corpus mean is exact integer arithmetic regardless of partition
    * order. One scan, one keyless aggregate. */
  def linearLogLoss(spark: SparkSession, dir: String): DataFrame = {
    val s = scoredFrame(spark, dir)
    val scores = array((0 until numClasses).map(c => col(s"score_$c")): _*)
    val m = array_max(scores)
    val lse = m + log(aggregate(scores, lit(0.0), (acc, x) => acc + exp(x - m)))
    val yScore = element_at(scores, col("label").cast("int") + 1)
    s.select((lse - yScore).as("ll"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("ll") * 1e6 + 0.5).cast("long")).as("s6"))
      .select(col("n"),
        (floor(col("s6").cast("double") / col("n") + 0.5) / 1e6)
          .as("log_loss"))
  }

  /** Confusion matrix of the linear scorer: (label, pred, n). */
  def linearConfusion(spark: SparkSession, dir: String): DataFrame =
    linearPredictions(spark, dir)
      .groupBy(col("label"), col("pred")).agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("pred"))

  /** Overall accuracy of the linear scorer (R10 shape). */
  def linearAccuracy(spark: SparkSession, dir: String): DataFrame =
    TrainEval.accuracy(linearPredictions(spark, dir), "label", "pred")

  /** Per-class (support, n_pred, n_tp) derived from ONE confusion-matrix
    * scan of the predictions. The round-4 version ran three independent
    * aggregates directly over the predictions, so the 640-multiply scoring
    * projection was evaluated 3× (4.9 s in the driver bench; a real cost at
    * 100 TB of predictions). Here the expensive input is scanned exactly
    * once into the ≤C² (label, pred, n) frame; each cm row then expands
    * into its actual-side and predicted-side contributions (a 2-row
    * Expand, no join back to the facts) and one tiny regroup produces all
    * three counts. The class universe is the UNION of actual and
    * predicted labels, sklearn's classification_report contract: a class
    * observed only as a prediction still gets a row (support 0,
    * precision from its n_pred, recall defined 0) — round-5 ADVICE. */
  private def classCounts(pred: DataFrame, actualCol: String,
                          predCol: String): DataFrame = {
    val cm = pred.groupBy(col(actualCol).as("label"), col(predCol).as("pred"))
      .agg(count(lit(1)).as("n"))
    cm.select(explode(array(
        struct(col("label").as("cls"), col("n").as("d_support"),
          lit(0L).as("d_pred"),
          when(col("label") === col("pred"), col("n")).otherwise(lit(0L))
            .as("d_tp")),
        struct(col("pred").as("cls"), lit(0L).as("d_support"),
          col("n").as("d_pred"), lit(0L).as("d_tp")))).as("r"))
      .groupBy(col("r.cls").as("cls"))
      .agg(sum(col("r.d_support")).as("support"),
        sum(col("r.d_pred")).as("n_pred"),
        sum(col("r.d_tp")).as("n_tp"))
  }

  // metric formulas over exact integer counts: the divisions are IEEE-
  // correctly-rounded ops on identical inputs in every engine, and the
  // floor-based half-up scaling to 6dp integers (the repo's cross-engine
  // rounding idiom) makes downstream averages exact-integer arithmetic
  private val pRaw = when(col("n_pred") > 0,
    col("n_tp").cast("double") / col("n_pred")).otherwise(lit(0.0))
  // support 0 (prediction-only class): recall defined 0, sklearn's
  // zero_division behavior — never 0/0
  private val rRaw = when(col("support") > 0,
    col("n_tp").cast("double") / col("support")).otherwise(lit(0.0))
  private val f1Raw = when(pRaw + rRaw > 0.0,
    lit(2.0) * pRaw * rRaw / (pRaw + rRaw)).otherwise(lit(0.0))
  private def s6(c: Column) = floor(c * 1e6 + 0.5).cast("long")

  /** Per-class precision / recall / F1 / support — the reference's
    * `classification_report` (R11) per-class body as a DataFrame. */
  def classificationReport(pred: DataFrame, actualCol: String,
                           predCol: String): DataFrame =
    classCounts(pred, actualCol, predCol)
      .select(col("cls"),
        (s6(pRaw) / 1e6).as("precision"),
        (s6(rRaw) / 1e6).as("recall"),
        (s6(f1Raw) / 1e6).as("f1"),
        col("support"))
      .orderBy(col("cls"))

  /** Full `classification_report` at reference breadth
    * (`/root/reference/src/model_training.py:12`): per-class rows PLUS the
    * `accuracy`, `macro avg`, and `weighted avg` summary rows sklearn
    * emits. The accuracy row carries the value in the f1 column with null
    * precision/recall, support = total n — sklearn's exact layout. Summary
    * averages are computed over the 6dp scaled-INTEGER per-class metrics
    * (sums of longs are exact and order-independent), so the oracle replay
    * is bit-deterministic. Row order: '0'..'9' < 'accuracy' < 'macro avg'
    * < 'weighted avg' lexicographically, so one ORDER BY cls suffices. */
  def classificationReportFull(pred: DataFrame, actualCol: String,
                               predCol: String): DataFrame = {
    val m = classCounts(pred, actualCol, predCol)
      .select(col("cls"), col("support"), col("n_tp"),
        s6(pRaw).as("p6"), s6(rRaw).as("r6"), s6(f1Raw).as("f6"))
    val perClass = m.select(col("cls").cast("string").as("cls"),
      (col("p6") / 1e6).as("precision"), (col("r6") / 1e6).as("recall"),
      (col("f6") / 1e6).as("f1"), col("support"))
    val t = m.agg(count(lit(1)).as("c"), sum(col("support")).as("n"),
      sum(col("n_tp")).as("s_tp"),
      sum(col("p6")).as("sp"), sum(col("r6")).as("sr"), sum(col("f6")).as("sf"),
      sum(col("support") * col("p6")).as("wp"),
      sum(col("support") * col("r6")).as("wr"),
      sum(col("support") * col("f6")).as("wf"))
    val nullD = lit(null).cast("double")
    def avg6(s: Column, den: Column) =
      floor(s.cast("double") / den + 0.5) / 1e6
    val summary = t.select(explode(array(
        struct(lit("accuracy").as("cls"), nullD.as("precision"),
          nullD.as("recall"),
          (floor(col("s_tp").cast("double") / col("n") * 1e6 + 0.5) / 1e6)
            .as("f1"),
          col("n").as("support")),
        struct(lit("macro avg").as("cls"),
          avg6(col("sp"), col("c")).as("precision"),
          avg6(col("sr"), col("c")).as("recall"),
          avg6(col("sf"), col("c")).as("f1"),
          col("n").as("support")),
        struct(lit("weighted avg").as("cls"),
          avg6(col("wp"), col("n")).as("precision"),
          avg6(col("wr"), col("n")).as("recall"),
          avg6(col("wf"), col("n")).as("f1"),
          col("n").as("support")))).as("r"))
      .select(col("r.cls").as("cls"), col("r.precision").as("precision"),
        col("r.recall").as("recall"), col("r.f1").as("f1"),
        col("r.support").as("support"))
    // numeric-aware order: per-class rows by class VALUE (string sort
    // would put '10' before '2' and '-1' before '0'), then the three
    // summary rows alphabetically — sklearn's layout for any label set
    perClass.unionAll(summary).orderBy(
      when(col("cls").isin("accuracy", "macro avg", "weighted avg"), 1)
        .otherwise(0),
      expr("try_cast(cls AS double)"), col("cls"))
  }

  /** R11 over the deterministic linear scorer — the oracle-checked form,
    * at full sklearn breadth (per-class + accuracy/macro/weighted rows). */
  def linearReport(spark: SparkSession, dir: String): DataFrame =
    classificationReportFull(linearPredictions(spark, dir), "label", "pred")

  /** Seeded RF on the embeddings table (real MLlib train/predict, R8/R9),
    * reported as a holdout confusion matrix. Not oracle-checkable (tree
    * induction isn't portable SQL) → rows-only driver check. NB: the
    * synthetic embeddings carry no label signal (near-uniform vectors), so
    * accuracy here is chance-level by construction — the operator contract
    * is the train→predict→confusion plumbing; learnability is asserted on
    * [[graft.datagen.SyntheticFeatures]] where signal exists. */
  def rfConfusion(spark: SparkSession, dir: String, numTrees: Int = 20): DataFrame = {
    import org.apache.spark.ml.classification.RandomForestClassifier
    import org.apache.spark.ml.functions.array_to_vector
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("double").as("label"),
        array_to_vector(col("embedding")).as("features"))
    val Array(train, test) = emb.randomSplit(Array(0.8, 0.2), 42)
    val model = new RandomForestClassifier()
      .setNumTrees(numTrees).setSeed(42)
      .setLabelCol("label").setFeaturesCol("features")
      .setFeatureSubsetStrategy("sqrt")
      .fit(train)
    model.transform(test)
      .groupBy(col("label").cast("long").as("label"),
        col("prediction").cast("long").as("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("pred"))
  }

  /** One-vs-rest ROC AUC per class of the linear scorer — sklearn
    * `roc_auc_score(..., multi_class="ovr")` breadth for R10, via the
    * rank-statistic identity AUC = U/(n⁺·n⁻) with the Mann–Whitney
    * U = Σ⁺rank − n⁺(n⁺+1)/2 and average ranks for ties.
    *
    * Computed without per-row ranks: aggregate to the DISTINCT-score
    * frame per class first (one hash shuffle with map-side combine),
    * then one cumulative window over that frame gives, per score s,
    * the negatives strictly below; 2U = Σ_s n⁺_s·(2·cum⁻_<s + n⁻_s)
    * (the n⁻_s term is the tie half-credit, doubled to stay integer).
    * All counts are exact longs, so the only float op is the final
    * division of two exact-in-double integers — bit-identical in any
    * engine — then the repo's floor-based 6dp rounding.
    *
    * Scale: the melt is a 10× row inflation collapsed map-side; the
    * per-class window sorts the distinct-score frame in one task per
    * class — the canonical exact-AUC cost. At 100 TB quantize the
    * scores (e.g. 1e6-scaled longs) before the group-by: cardinality
    * becomes bounded by score range, the same code computes the
    * binned AUC, and the error is bounded by the bin width. */
  def linearAucOvr(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val melted = scoredFrame(spark, dir)
      .select(explode(array((0 until numClasses).map { c =>
        struct(lit(c.toLong).as("cls"), col(s"score_$c").as("score"),
          when(col("label") === c, lit(1L)).otherwise(lit(0L)).as("pos"))
      }: _*)).as("r"))
      .select(col("r.cls").as("cls"), col("r.score").as("score"),
        col("r.pos").as("pos"))
    val grouped = melted.groupBy(col("cls"), col("score"))
      .agg(sum(col("pos")).as("np"), sum(lit(1L) - col("pos")).as("nn"))
    val below = Window.partitionBy(col("cls")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    grouped
      .withColumn("cum_nn", coalesce(sum(col("nn")).over(below), lit(0L)))
      .groupBy(col("cls"))
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(col("np") * (col("cum_nn") * 2 + col("nn"))).as("u2"))
      // degenerate one-sided class (no positives or no negatives): AUC is
      // undefined — emit null rather than letting 0/0 diverge between
      // engines (Spark floors NaN to 0, DuckDB propagates it)
      .select(col("cls"), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          floor(col("u2").cast("double") /
            (col("n_pos") * col("n_neg") * 2).cast("double") * 1e6 + 0.5)
            / 1e6).as("auc"))
      .orderBy(col("cls"))
  }

  /** Per-fold holdout evaluation with a deterministic modulo fold
    * assignment — the fold-split + per-fold-metric plumbing of k-fold
    * cross-validation (sklearn `cross_val_score` shape), evaluated on
    * the fixed linear scorer so the whole path replays in any engine
    * (per-fold model FITTING is MLlib's domain — seeded tree induction
    * isn't portable SQL — and is spec-covered via [[rfConfusion]]).
    * Fold variance across deterministic splits is the cheap
    * sanity-check that a metric isn't an artifact of one split.
    * One scan, k-row output. */
  val cvFolds = 5

  def foldAccuracy(spark: SparkSession, dir: String,
                   k: Int = cvFolds): DataFrame =
    linearPredictions(spark, dir)
      .select(pmod(col("vec_id"), lit(k.toLong)).as("fold"),
        when(col("label") === col("pred"), 1L).otherwise(0L).as("hit"))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n"), sum(col("hit")).as("n_hit"))
      .select(col("fold"), col("n"), col("n_hit"),
        (floor(col("n_hit").cast("double") / col("n") * 1e6 + 0.5) / 1e6)
          .as("accuracy"))
      .orderBy(col("fold"))

  /** Calibration (reliability) table of the linear scorer — Guo et al.,
    * ICML 2017 §2: bin the max-softmax confidence into `bins` equal-width
    * bins; per bin report count, mean confidence, and empirical accuracy
    * (the gap between the last two is the per-bin ECE contribution).
    * Confidence = softmax probability of the argmax class
    * = 1/Σᵢ exp(sᵢ − s_max) — the exp-sum folds in array-index order on
    * both engines (the `q_ml_logloss` determinism pattern), so the bin
    * assignment of a bit-identical double is deterministic. Mean
    * confidence and accuracy go through 1e6-scaled long sums (exact,
    * order-independent), divided once. One scan, one ≤`bins`-row shuffle. */
  def linearCalibration(spark: SparkSession, dir: String,
                        bins: Int = 10): DataFrame = {
    val s = scoredFrame(spark, dir)
    val scores = array((0 until numClasses).map(c => col(s"score_$c")): _*)
    val m = array_max(scores)
    val conf = lit(1.0) /
      aggregate(scores, lit(0.0), (acc, x) => acc + exp(x - m))
    s.select(col("label"), argmaxPred.as("pred"), conf.as("conf"))
      .select(
        least(floor(col("conf") * bins).cast("long"),
          lit(bins - 1L)).as("bin"),
        col("conf"),
        when(col("label") === col("pred"), 1L).otherwise(0L).as("hit"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("conf") * 1e6 + 0.5).cast("long")).as("c6"),
        sum(col("hit")).as("n_hit"))
      .select(col("bin"), col("n"),
        (floor(col("c6").cast("double") / col("n") + 0.5) / 1e6)
          .as("avg_conf"),
        (floor(col("n_hit").cast("double") / col("n") * 1e6 + 0.5) / 1e6)
          .as("accuracy"))
      .orderBy(col("bin"))
  }
}
