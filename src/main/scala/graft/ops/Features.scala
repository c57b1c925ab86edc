package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Feature-engineering pack — the transforms a feature store applies
  * between raw tables and model input (the reference's domain:
  * `/root/reference/src/data_generation.py` builds the feature table,
  * `model_training.py` consumes it; real stores interpose exactly these
  * operators). SURVEY.md §2.C rows "feature engineering".
  *
  * Scale design shared by every operator here: per-column statistics are
  * ONE global/grouped aggregate reduced to a tiny DataFrame that is then
  * `broadcast`-cross-joined back to the fact rows — never a window over
  * an empty `partitionBy` (that plan funnels 100 TB through a single
  * task). The per-row transform stage is a pure projection:
  * embarrassingly parallel, whole-stage-codegen'd, zero extra shuffles.
  */
object Features {

  /** Column standardization: z-score for the heavy-tailed measures,
    * min-max for the bounded one — the scalers `sklearn.preprocessing`
    * users run before the reference's RF fit.
    *
    * Determinism: `avg`/`stddev_samp` over doubles are summation-order-
    * dependent (Spark's partition merge vs any single-pass oracle differ
    * in the last ulp), and a z-score within an ulp of a 4dp rounding
    * boundary then flips between engines (round-4 correctness fail). So
    * the moments come from EXACT decimal sums — `l_quantity` is integer-
    * valued and `l_extendedprice` has 2 decimals, so Σx and Σx² as
    * decimals are exact and order-independent — converted once to double;
    * mean/stddev/z are then pure IEEE-correctly-rounded ops on identical
    * inputs, bit-equal on both engines, and the final floor-based half-up
    * rounding is the repo's cross-engine idiom (BASELINE.md round-1
    * lesson). One aggregate, broadcast back; per-row stage is a pure
    * projection — same 100 TB shape as before. */
  def standardize(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val qd = col("l_quantity").cast("decimal(18,0)")
    val pd = col("l_extendedprice").cast("decimal(18,2)")
    val sums = li.agg(
      count(lit(1)).as("n"),
      sum(qd).cast("double").as("s_qty"),
      sum(qd * qd).cast("double").as("s2_qty"),
      sum(pd).cast("double").as("s_price"),
      sum(pd * pd).cast("double").as("s2_price"),
      min(col("l_discount")).as("mn_disc"),
      max(col("l_discount")).as("mx_disc"))
    def sd(s2: Column, s: Column) =
      sqrt((s2 - s * s / col("n")) / (col("n") - 1))
    val stats = sums.select(
      (col("s_qty") / col("n")).as("m_qty"),
      sd(col("s2_qty"), col("s_qty")).as("sd_qty"),
      (col("s_price") / col("n")).as("m_price"),
      sd(col("s2_price"), col("s_price")).as("sd_price"),
      col("mn_disc"), col("mx_disc"))
    def halfUp(c: Column, k: Double) = floor(c * k + 0.5) / k
    li.crossJoin(broadcast(stats))
      .select(col("l_orderkey"), col("l_linenumber"),
        halfUp((col("l_quantity") - col("m_qty")) / col("sd_qty"), 1e4)
          .as("z_qty"),
        halfUp((col("l_extendedprice") - col("m_price")) / col("sd_price"), 1e4)
          .as("z_price"),
        halfUp((col("l_discount") - col("mn_disc")) /
          (col("mx_disc") - col("mn_disc")), 1e6).as("mm_disc"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** Winsorized (percentile-clamped) outlier treatment per group — the
    * robust-scaling companion to [[standardize]]: clamp
    * `l_extendedprice` to its group's [p05, p95] band and report how
    * much mass moved and how the mean shifted. Tukey's classic outlier
    * treatment, run before any z-score on heavy-tailed features.
    *
    * Determinism: the clamp bounds are EXACT interpolated percentiles
    * (the `quantile_cont` parity already proven by `q_percentiles`)
    * rounded to 4dp half-up on BOTH engines before any comparison, so
    * a boundary row cannot clamp differently cross-engine; means use
    * the proven round-4 display convention.
    *
    * Scale shape: one array-percentile aggregate per group (fused, no
    * sort), bounds broadcast back, one clamped aggregate — two fact
    * scans total, zero shuffles beyond the two ~|groups|-row aggs. */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice").as("x"))
    val bounds = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(x, array(0.05, 0.95))").as("ps"))
      .select(col("l_returnflag"),
        round(element_at(col("ps"), 1), 4).as("lo"),
        round(element_at(col("ps"), 2), 4).as("hi"))
    li.join(broadcast(bounds), "l_returnflag")
      .groupBy(col("l_returnflag"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("x") < col("lo"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("x") > col("hi"), 1L).otherwise(0L)).as("n_hi"),
        round(avg(col("x")), 4).as("mean_raw"),
        round(avg(least(greatest(col("x"), col("lo")), col("hi"))), 4)
          .as("mean_winsor"))
      .orderBy(col("l_returnflag"))
  }

  /** Equal-frequency (quartile) binning of `l_quantity` — the
    * discretization step of feature pipelines. Boundaries come from ONE
    * array-`percentile` aggregate (same fused pattern as
    * [[Relational.percentiles]]); bin assignment is a broadcast compare.
    * `l_quantity` is integer-valued, so the interpolated quartiles
    * (quarters) are exact in binary and the `>` comparisons are
    * bit-deterministic in both engines — no boundary-row ambiguity. */
  def quantileBins(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val bounds = li
      .agg(expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))").as("qs"))
      .select(element_at(col("qs"), 1).as("q1"),
        element_at(col("qs"), 2).as("q2"),
        element_at(col("qs"), 3).as("q3"))
    li.crossJoin(broadcast(bounds))
      .select(col("l_quantity"), col("l_extendedprice"),
        (lit(1) + (col("l_quantity") > col("q1")).cast("int")
          + (col("l_quantity") > col("q2")).cast("int")
          + (col("l_quantity") > col("q3")).cast("int")).cast("long").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(min(col("l_quantity")), 2).as("min_qty"),
        round(max(col("l_quantity")), 2).as("max_qty"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"))
      .orderBy(col("bin"))
  }

  /** Smoothed target (mean) encoding of customer market segment against
    * order total price — the high-cardinality-categorical encoder
    * (Micci-Barreca, SIGKDD Expl. 2001): enc = (Σy + m·ȳ)/(n + m) with
    * prior weight m. One size-guarded dim join ([[Hints.dimHint]] —
    * customer grows linearly with SF) + one grouped aggregate + one
    * broadcast of the global mean; at 100 TB the dim join flips to
    * shuffle because the guard withholds the hint, the aggregate shapes
    * are unchanged. */
  def targetEncode(spark: SparkSession, dir: String, m: Double = 100.0): DataFrame = {
    val joined = Tables.orders(spark, dir)
      .join(Hints.dimHint(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
    val globalMean = joined.agg(avg(col("o_totalprice")).as("gm"))
    joined.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice")).as("s"))
      .crossJoin(broadcast(globalMean))
      .select(col("c_mktsegment"), col("n_orders"),
        round(col("s") / col("n_orders"), 4).as("seg_mean"),
        round((col("s") + lit(m) * col("gm")) / (col("n_orders") + lit(m)), 4)
          .as("enc_smooth"))
      .orderBy(col("c_mktsegment"))
  }

  /** One-hot encoding of the two lineitem status categoricals with a
    * PINNED vocabulary (`A/N/R`, `O/F`) — production feature stores
    * version the vocabulary with the model rather than deriving it from
    * the batch (a data-dependent vocabulary silently reshapes the
    * feature matrix between training runs). Pure per-row projection;
    * the bounded output is a `TakeOrderedAndProject` (no full sort). */
  def oneHot(spark: SparkSession, dir: String, limit: Int = 1000): DataFrame = {
    val flags = Seq("A", "N", "R").map(v =>
      (col("l_returnflag") === lit(v)).cast("int").as(s"flag_${v.toLowerCase}"))
    val statuses = Seq("O", "F").map(v =>
      (col("l_linestatus") === lit(v)).cast("int").as(s"status_${v.toLowerCase}"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey") +: col("l_linenumber") +: (flags ++ statuses): _*)
      .orderBy(col("l_orderkey"), col("l_linenumber"))
      .limit(limit)
  }

  /** Hashing-trick bag-of-words (Weinberger et al., ICML 2009): token →
    * `polyHash mod 16` bucket, count per (doc, bucket) — fixed-width
    * text features with no vocabulary state at all. The poly hash
    * replays exactly in the DuckDB oracle (same fold as
    * [[Text.fingerprintPoly]]); the xxhash64 variant is the faster
    * engine-specific twin. Explode + one partial-agg'd group-by: the
    * shuffle carries ≤ nDims rows per doc. */
  def hashedBagOfWords(spark: SparkSession, dir: String, nDims: Int = 16): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
      .select(col("doc_id"),
        pmod(graft.functions.GraftFunctions.polyHash(col("token")), lit(nDims))
          .cast("int").as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("doc_id"), col("bucket"))
  }

  /** Per-user profile features from the event stream — the classic
    * "user feature vector" a feature store materializes for serving:
    * per-type activity counts, monetary totals, and recency against the
    * corpus watermark (max event time — a DATA anchor, not wall-clock,
    * so the feature is reproducible). Purchase spend ships as the
    * MERGEABLE (sum, count) pair, not a pre-divided average: stores keep
    * partial aggregates (they re-aggregate across windows), and a
    * rounded average of a small group of 2-decimal amounts can land
    * exactly on a decimal half-way boundary where engines' last-ulp
    * division differences legitimately disagree — a sum of 2-decimal
    * values can't sit near a 2dp boundary. One grouped aggregate + one
    * broadcast of the 1-row watermark; the streaming twin of the
    * (count,sum) core is
    * [[graft.streaming.EventStream.userTotalsStateful]]. */
  def userProfile(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val watermark = ev.agg(max(unix_millis(col("ts"))).as("mx"))
    def typed(t: String) = count(when(col("event_type") === lit(t), 1))
      .as(s"n_$t")
    ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        typed("click"), typed("view"), typed("purchase"),
        typed("signup"), typed("error"),
        round(sum(col("value")), 2).as("sum_value"),
        round(sum(when(col("event_type") === lit("purchase"), col("value"))), 2)
          .as("sum_purchase"),
        max(unix_millis(col("ts"))).as("last_ms"))
      .crossJoin(broadcast(watermark))
      .select(col("user_id"), col("n_events"), col("n_click"), col("n_view"),
        col("n_purchase"), col("n_signup"), col("n_error"), col("sum_value"),
        col("sum_purchase"), (col("mx") - col("last_ms")).as("recency_ms"))
      .orderBy(col("user_id"))
  }

  /** Point-in-time-correct training set — the leakage guard feature
    * stores exist for: each purchase (label event) is paired with
    * features computed from that user's STRICTLY EARLIER events only,
    * via a `ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING` frame.
    * Joining the CURRENT profile onto historical labels trains on the
    * future (Kaggle-famous leakage); the frame makes the cutoff
    * per-row and exact. Window is partitioned BY USER and ordered by
    * (ts, event_id) — bounded state per key at any scale, never a
    * global window. */
  def pitTrainingSet(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .withColumn("n_prior", count(lit(1)).over(w))
      .withColumn("n_prior_purchases",
        count(when(col("event_type") === lit("purchase"), 1)).over(w))
      .withColumn("prior_value_sum", round(sum(col("value")).over(w), 2))
      .filter(col("event_type") === lit("purchase"))
      .select(col("event_id"), col("user_id"), col("n_prior"),
        col("n_prior_purchases"), col("prior_value_sum"),
        col("value").as("label_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Hashed feature crossing (the cross-column analogue of the hashing
    * trick): segment × order-priority → `polyHash mod 32` bucket, so
    * the cross's cardinality is capped without a vocabulary. The
    * distinct-cross count per bucket exposes collisions — the quantity
    * a user tunes the dimension against. Size-guarded dim join
    * ([[Hints.dimHint]]) + one grouped aggregate. */
  def crossFeatures(spark: SparkSession, dir: String, nDims: Int = 32): DataFrame = {
    Tables.orders(spark, dir)
      .join(Hints.dimHint(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .select(concat_ws("|", col("c_mktsegment"), col("o_orderpriority"))
        .as("cross_key"), col("o_totalprice"))
      .select(pmod(graft.functions.GraftFunctions.polyHash(col("cross_key")),
        lit(nDims)).cast("int").as("bucket"),
        col("cross_key"), col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        count_distinct(col("cross_key")).as("n_crosses"),
        round(avg(col("o_totalprice")), 2).as("avg_price"))
      .orderBy(col("bucket"))
  }

  /** Per-document top-3 TF-IDF terms (Spärck Jones 1972): tf·ln(N/df),
    * ranked inside each document. Ranking happens on the ROUNDED score
    * (6dp) with the token as tiebreaker, so the order is deterministic
    * and engine-independent — raw fp scores can differ in the last ulp
    * between libm implementations. Shapes at 100 TB: two token-keyed
    * aggregates + one token-keyed join (AQE picks shuffle vs broadcast
    * from the real vocabulary size) + a window partitioned BY DOCUMENT —
    * never a global window. */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val tok = docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
    val tf = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tok.groupBy(col("token")).agg(count_distinct(col("doc_id")).as("df"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    val scored = tf.join(df, "token").crossJoin(broadcast(total))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        round(col("tf") * log(col("n_total").cast("double") / col("df")), 6)
          .as("tfidf"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token"))
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("token"), col("tf"), col("df"),
        col("tfidf"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Categorical association between two columns — mutual information,
    * the chi-square statistic, and Cramér's V over the
    * (l_returnflag, l_linestatus) contingency table: the feature-
    * relevance screen a store runs before admitting a categorical
    * feature (MI ranks predictive value; Cramér's V normalizes it for
    * cross-pair comparison).
    *
    * Shape at 100 TB: ONE group-by builds the joint table (cells =
    * cardinality product, tiny); marginals and the scalar statistics
    * derive from the joint — the raw table is never rescanned. χ² runs
    * over the FULL r×c grid (marginal cross join, joint left-joined in):
    * a structural zero cell still contributes its expected count, and
    * omitting it understates the statistic exactly when association is
    * strong. MI sums observed cells only (0·ln 0 = 0 by convention).
    * All count arithmetic converts to ratios-of-doubles before
    * multiplying — n_xy·n and n_x·n_y overflow 64-bit integers at
    * trillion-row scale — and 4-6dp rounding absorbs last-ulp libm
    * differences between engines. */
  def categoricalAssociation(spark: SparkSession, dir: String): DataFrame = {
    val joint = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_xy"))
    val totals = joint.agg(sum(col("n_xy")).as("n"),
      count_distinct(col("l_returnflag")).as("r"),
      count_distinct(col("l_linestatus")).as("c"))
    val mx = joint.groupBy(col("l_returnflag")).agg(sum(col("n_xy")).as("n_x"))
    val my = joint.groupBy(col("l_linestatus")).agg(sum(col("n_xy")).as("n_y"))
    val px = col("n_x").cast("double") / col("n")
    val py = col("n_y").cast("double") / col("n")
    val pxy = col("n_xy").cast("double") / col("n")
    val e = px * py * col("n")
    broadcast(mx).crossJoin(broadcast(my))
      .join(joint, Seq("l_returnflag", "l_linestatus"), "left")
      .withColumn("n_xy", coalesce(col("n_xy"), lit(0L)))
      .crossJoin(broadcast(totals))
      .agg(
        first(col("n")).as("n"),
        round(sum(when(col("n_xy") > 0,
          pxy * log(pxy / (px * py))).otherwise(lit(0.0))), 6).as("mi"),
        round(sum(pow(col("n_xy") - e, 2) / e), 4).as("chi2"),
        first(col("r")).as("r"), first(col("c")).as("c"))
      .select(col("n"), col("mi"), col("chi2"),
        round(sqrt(col("chi2") / (col("n") *
          least(col("r") - 1, col("c") - 1))), 6).as("cramers_v"))
  }

  /** One-way ANOVA screen: does `l_returnflag` explain variance in
    * `l_extendedprice`? Per-group moments plus the F-statistic
    * (between-group mean square / within-group mean square) — the
    * numeric counterpart of [[categoricalAssociation]]'s MI for ranking
    * a categorical feature against a numeric target.
    *
    * Shape: ONE group-by computes each group's (n, mean, variance); the
    * grand mean, both mean squares, and F derive from that tiny frame —
    * the fact table is scanned once. Per-group rows carry the shared F
    * so the output is a single relation. */
  def anovaScreen(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_g"),
        avg(col("l_extendedprice")).as("mean_g"),
        var_samp(col("l_extendedprice")).as("var_g"))
    val totals = g.agg(
      sum(col("n_g")).as("n"),
      count(lit(1)).as("k"),
      (sum(col("n_g") * col("mean_g")) / sum(col("n_g"))).as("grand"),
      // a singleton group's var_samp is NULL (modern) or NaN under
      // spark.sql.legacy.statisticalAggregate; 0×NaN = NaN would poison
      // ssw, so gate on n_g > 1 — zero contribution either way (matches
      // the oracle, which skips the NULL)
      sum(when(col("n_g") > 1, (col("n_g") - 1) * col("var_g"))
        .otherwise(lit(0.0))).as("ssw"))
    val f = g.crossJoin(broadcast(totals))
      .agg(first(col("n")).as("n"), first(col("k")).as("k"),
        first(col("ssw")).as("ssw"),
        sum(col("n_g") * pow(col("mean_g") - col("grand"), 2)).as("ssb"))
      .select(
        round((col("ssb") / (col("k") - 1)) / (col("ssw") / (col("n") - col("k"))), 6)
          .as("f_stat"))
    g.crossJoin(broadcast(f))
      .select(col("l_returnflag"), col("n_g"),
        round(col("mean_g"), 4).as("mean_g"),
        round(sqrt(col("var_g")), 4).as("sd_g"),
        col("f_stat"))
      .orderBy(col("l_returnflag"))
  }

  /** Latest-row-per-key snapshot: each user's most recent event — the
    * "current value" read a feature store serves, and the generic
    * SCD/CDC compaction step (keep the newest version of every key).
    *
    * Implemented as ONE hash aggregate: `max` over a struct whose leading
    * fields are the ordering key (ts, then event_id as the unique
    * tiebreaker) arg-maxes the whole row with map-side partial combine —
    * state is one row per key per partition. The window-function spelling
    * (`row_number() = 1`) sorts every key's full history through the
    * shuffle instead; at 100 TB with hot keys that is strictly worse, so
    * the aggregate form is the operator and the window form is only the
    * oracle's replay. */
  def latestEventSnapshot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
        col("value"))).as("last"))
      .select(col("user_id"),
        date_format(col("last.ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_ts"),
        col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_event_type"),
        round(col("last.value"), 2).as("last_value"))
      .orderBy(col("user_id"))

  val psiBins = 10
  val psiDateCut = "1995-01-01"

  /** Population-stability-index drift screen (the standard credit-risk /
    * feature-monitoring statistic; see e.g. Yurdakul, *Statistical
    * Properties of PSI*, 2018): split `orders` into a reference window
    * (before the date cut) and a current window, histogram
    * `o_totalprice` into `nBins` equal-width bins from the GLOBAL
    * min/max, and report per-bin counts plus the PSI contribution
    * (p−q)·ln(p/q) with +0.5 Laplace smoothing so empty bins stay
    * finite. Σ psi_term > 0.2 is the conventional "investigate" line.
    *
    * Determinism: bin edges derive from one global min/max aggregate
    * (exact decimals → correctly-rounded doubles, identical in both
    * engines), so bin assignment of identical doubles matches; the
    * smoothed proportions are built from exact integer counts with a
    * fixed operation order, so the one ln sees bit-identical inputs.
    * Scale: one min/max scan, broadcast edges, one per-row projection
    * into a `nBins`-row aggregate — the corpus streams through once. */
  def psiDrift(spark: SparkSession, dir: String,
               nBins: Int = psiBins,
               dateCut: String = psiDateCut): DataFrame = {
    val o = Tables.orders(spark, dir)
    val mm = o.agg(
      min(col("o_totalprice")).cast("double").as("mn"),
      max(col("o_totalprice")).cast("double").as("mx"))
    val binned = o.crossJoin(broadcast(mm))
      .select(
        // degenerate constant column (mx == mn): everything lands in bin
        // 0 explicitly — 0/0 would NaN-diverge between engines
        when(col("mx") > col("mn"),
          least(floor((col("o_totalprice").cast("double") - col("mn")) *
            nBins / (col("mx") - col("mn"))).cast("long"),
            lit(nBins - 1L))).otherwise(lit(0L)).as("bin"),
        when(col("o_orderdate") < to_date(lit(dateCut)), 1L).otherwise(0L)
          .as("is_ref"))
      .groupBy(col("bin"))
      .agg(sum(col("is_ref")).as("n_ref"),
        sum(lit(1L) - col("is_ref")).as("n_cur"))
    // ALL nBins rows, not just occupied ones: a bin empty in both
    // windows still carries a nonzero smoothed term when the window
    // totals differ, and the streaming twin sums the full vector — the
    // two monitors must agree on the same data
    val full = spark.range(nBins).select(col("id").as("bin"))
      .join(binned, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = full.agg(sum(col("n_ref")).as("t_ref"),
      sum(col("n_cur")).as("t_cur"))
    full.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        ((col("n_ref").cast("double") + 0.5) /
          (col("t_ref").cast("double") + lit(0.5 * nBins))).as("p"),
        ((col("n_cur").cast("double") + 0.5) /
          (col("t_cur").cast("double") + lit(0.5 * nBins))).as("q"))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        (floor((col("p") - col("q")) * log(col("p") / col("q")) * 1e6 + 0.5)
          / 1e6).as("psi_term"))
      .orderBy(col("bin"))
  }
}
