package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.Tables

/** Event-time pack over the stream-shaped `events` table (SURVEY.md §2.B
  * "streaming" row). The reference has no event/stream processing at all,
  * so this is [EXT] surface; semantics follow Structured Streaming's
  * event-time model but run here as batch plans so the DuckDB oracle can
  * check them (SURVEY.md §7.5.3 — true streaming stays test-only, see
  * [[graft.streaming.EventStream]]).
  *
  * Scale notes: every query shuffles once on (user or window) keys; window
  * functions partition by `user_id` — at 100 TB the per-user partition is
  * small (bounded sessions), so no skew salting is needed; event-time
  * windows aggregate with partial combine like any hash-agg.
  */
object Events {

  private val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** Hourly tumbling-window counts per event type — Spark's native
    * `window()` event-time bucketing, emitted as a formatted string for
    * cross-engine value parity. */
  def tumblingCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      // avg derived from the order-stable rounded sum + exact count, and
      // rounded via floor(x·10⁴ + 0.5)/10⁴ — pure IEEE ops, so both
      // engines round the identical double identically. Library round()
      // semantics differ exactly on .xxxx5 decimals (Spark rounds the
      // shortest decimal repr, DuckDB the binary value — seen at sf0.1);
      // SURVEY §7.5.2
      .withColumn("avg_value",
        floor(col("sum_value") / col("n_events") * 10000 + 0.5) / 10000)
      .select(date_format(col("w.start"), tsFmt).as("hour_start"),
        col("event_type"), col("n_events"), col("sum_value"), col("avg_value"))
      .orderBy(col("hour_start"), col("event_type"))

  /** Sliding window (2h long, sliding 1h): each event lands in two
    * overlapping windows. Spark's `window(ts, dur, slide)` expands rows
    * internally (an Expand node) — the same shape a streaming sliding agg
    * uses. */
  def slidingValue(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(date_format(col("w.start"), tsFmt).as("win_start"),
        col("n_events"), col("sum_value"))
      .orderBy(col("win_start"))

  /** Per-user sessionization with a 30-minute inactivity gap — Spark's
    * native `session_window`. A new session starts when the gap since the
    * previous event is >= 30 min (session end is exclusive).
    *
    * Scale: one shuffle on user_id; state per group is bounded by session
    * length. In streaming form this is the same operator with a watermark.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(col("user_id"),
        date_format(col("w.start"), tsFmt).as("session_start"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** DuckDB twin of [[sessionize]]'s sessions as CTEs over `events` +
    * `where`: `o` flags each event (user_id, ts`cols`) that opens a
    * session, and `g` numbers its user's sessions `sid`. */
  private[graft] def sessionCtes(cols: String, where: String = ""): String =
    s"""o AS (
       | SELECT user_id, ts$cols,
       |  CASE WHEN lag(ts) OVER w IS NULL
       |        OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
       |       THEN 1 ELSE 0 END AS new_s
       | FROM events$where
       | WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       |g AS (
       | SELECT user_id, ts$cols,
       |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
       |                   ROWS UNBOUNDED PRECEDING) AS sid
       | FROM o)""".stripMargin

  /** Per-user ordered feature-engineering window: previous value, gap to
    * previous event in ms, rolling sum of the prior 3 values, and event
    * index — the classic feature-store "user history" shape (SURVEY.md
    * §2.B window-functions row). Deterministic via (ts, event_id) order. */
  def lagFeatures(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("gap_ms",
        unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(w))
      .withColumn("roll3",
        round(sum(col("value")).over(w.rowsBetween(-3, -1)), 2))
      .select(col("event_id"), col("user_id"), col("rn"), col("prev_value"),
        col("gap_ms"), col("roll3"))
      .orderBy(col("user_id"), col("rn"))
  }

  /** JSON property extraction + aggregate: pulls `props.k` (a JSON string
    * column, e.g. `{"k": 87}`) with the codegen'd `get_json_object`
    * expression, then aggregates per event type. */
  def jsonPropsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        round(avg(col("k")), 4).as("avg_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** Trailing 1-hour sum per user at every event — a RANGE-frame window
    * over event-time millis (peers at equal timestamps all included, so
    * the result is order-independent and oracle-exact). The rolling
    * feature-engineering shape: one shuffle on user_id, frame bounded by
    * time, state O(events-in-window) per key. */
  def trailingHourSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"))
      .rangeBetween(-3600000L, 0L)
    Tables.events(spark, dir)
      .withColumn("ms", expr("unix_micros(ts) DIV 1000"))
      .withColumn("trail_1h_sum", round(sum(col("value")).over(w), 2))
      .withColumn("trail_1h_n", count(lit(1)).over(w))
      .select(col("event_id"), col("user_id"), col("trail_1h_sum"), col("trail_1h_n"))
      .orderBy(col("event_id"))
  }

  /** Gap-session intervals [first event, last event] per user for
    * `user_id < maxUser` — the lag/cumsum sessionization shared by
    * [[sessionEventOverlap]] and its naive-join spec (one definition, so
    * the operator and its semantic reference cannot drift). */
  def gapSessionIntervals(spark: SparkSession, dir: String,
                          maxUser: Long, gapMin: Int = 30): DataFrame = {
    val gapUs = gapMin * 60L * 1000000
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    Tables.events(spark, dir).where(col("user_id") < maxUser)
      .withColumn("prev_us", unix_micros(lag(col("ts"), 1).over(w)))
      .withColumn("new_s",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") >= gapUs, 1).otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id").as("s_user"), col("sid"))
      .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
  }

  /** Range join (interval containment) via time-binning: for each gap
    * session of the first `maxUser` users, count ALL corpus events inside
    * the session's [first, last] event-time interval.
    *
    * A naive `e.ts BETWEEN s.start AND s.end` join is a
    * BroadcastNestedLoopJoin — O(|sessions|·|events|) compared pairs. The
    * scale pattern: explode each interval into its covering hour bins,
    * bin each event once, EQUI-join on the bin (shuffle on narrow
    * timestamp keys), then apply the exact range predicate to the
    * bin-colliding candidates only. Work is O(events + sessions·bins +
    * candidates); bins are the natural partitioning key, and the bin
    * width trades replication (long intervals → more bins) against
    * candidate density — the standard interval-join recipe at 100 TB. */
  def sessionEventOverlap(spark: SparkSession, dir: String,
                          maxUser: Long = 100): DataFrame = {
    val sessions = gapSessionIntervals(spark, dir, maxUser)
    val binnedSessions = sessions.withColumn("bin",
      explode(sequence(date_trunc("hour", col("s_start")),
        date_trunc("hour", col("s_end")), expr("INTERVAL 1 HOUR"))))
    val binnedEvents = Tables.events(spark, dir).select(col("ts"),
      date_trunc("hour", col("ts")).as("bin"))
    binnedSessions.join(binnedEvents, Seq("bin"))
      .where(col("ts") >= col("s_start") && col("ts") <= col("s_end"))
      .groupBy(col("s_user"), col("s_start"))
      .agg(count(lit(1)).as("n_window_events"))
      .select(col("s_user").as("user_id"),
        date_format(col("s_start"), tsFmt).as("session_start"),
        col("n_window_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Ordered conversion funnel over the event stream: how many users
    * reach signup → view → click → purchase IN TEMPORAL ORDER (each stage
    * strictly after the user's first arrival at the previous stage) — the
    * product-analytics query every event warehouse runs.
    *
    * Semantics: stage k's timestamp for a user is the EARLIEST event of
    * that type occurring strictly after the user's stage-(k-1) timestamp.
    * Computing each stage as a per-user conditional `min` and chaining
    * through user-keyed joins is the scalable form: every join and
    * aggregate shuffles on `user_id` only (AQE reuses the exchange), the
    * per-stage state is ONE timestamp per user, and nothing ever sorts a
    * user's full history — unlike the sessionize-then-fold shape whose
    * state grows with events per user. Stage names carry a numeric prefix
    * so the output's total order is the funnel order. */
  def funnelStages(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
    val s1 = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_prev"))
    def next(prev: DataFrame, evType: String): DataFrame =
      ev.where(col("event_type") === evType)
        .join(prev, "user_id")
        .where(col("ts") > col("t_prev"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_prev"))
    val s2 = next(s1, "view")
    val s3 = next(s2, "click")
    val s4 = next(s3, "purchase")
    Seq("1_signup" -> s1, "2_view" -> s2, "3_click" -> s3, "4_purchase" -> s4)
      .map { case (nm, df) =>
        df.agg(count(lit(1)).as("n_users")).select(lit(nm).as("stage"), col("n_users"))
      }
      .reduce(_ unionByName _)
      .orderBy(col("stage"))
  }

  /** Day-grain retention cohorts: users grouped by their first-active day,
    * counted on each subsequent active day — the (cohort_day, day_offset)
    * retention triangle.
    *
    * Shape: one group-by collapses events to distinct (user, day) rows
    * (partial combine absorbs the per-day event fan-in map-side), a
    * user-partitioned window `min` tags each row with its cohort day, and
    * the final aggregate is O(days²) output. After the (user, day)
    * collapse each user contributes one row per active day, so the final
    * count is a plain `count(*)` — no distinct expand. State per user is
    * bounded by calendar days, not events. */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val perDay = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id"))
    perDay
      .withColumn("cohort_day", min(col("day")).over(w))
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")).cast("long"))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset"), col("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Event-type transition matrix: counts of consecutive (prev_type →
    * type) steps inside each user's timeline plus the per-source
    * transition probability — the first-order Markov view of user
    * behavior (what follows what), the flip side of [[funnelStages]]'
    * fixed-order question.
    *
    * One window pass per user for the lag (ordered by (ts, event_id) for
    * determinism), one 25-cell group-count, and the row-probability via
    * a window sum over the tiny result — shuffle output is
    * O(event_types²). */
  def typeTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wp = Window.partitionBy(col("prev_type"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n") / sum(col("n")).over(wp), 6))
      .orderBy(col("prev_type"), col("event_type"))
  }

  /** As-of join: each `purchase` event picks up the value of the user's
    * most recent *prior* `click` (the point-in-time feature lookup every
    * feature store needs; DuckDB spells it ASOF JOIN).
    *
    * Implemented as union + `last(ignoreNulls)` over a (ts, event_id)
    * total order per user — one shuffle on `user_id`, no range-join
    * explosion, O(n log n) within partition. At 100 TB this is the
    * standard scalable as-of pattern: a per-key sorted scan, never a
    * per-pair comparison. Ties (click and purchase sharing a timestamp)
    * break deterministically by event_id. */
  def asofLastClick(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .where(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("event_type"),
        when(col("event_type") === "click", col("value")).as("click_value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("last_click_value", last(col("click_value"), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), tsFmt).as("ts"),
        round(col("value"), 2).as("purchase_value"),
        round(col("last_click_value"), 2).as("last_click_value"))
      .orderBy(col("event_id"))
  }

  /** SCD Type-2 dimension build from the event stream: each user's
    * `event_type` sequence collapses to consecutive-run VERSIONS with
    * validity intervals — (user_id, version, state, valid_from, valid_to,
    * is_current), the slowly-changing-dimension table every warehouse
    * maintains for point-in-time joins (the reference's feature-store
    * mandate at dimension grain; cf. `src/main.py:7-48` which persists
    * only current-state features).
    *
    * Shape: classic gaps-and-islands — one lag to flag state changes, one
    * running sum to number runs, one aggregate to collapse runs, one lead
    * to close each interval with the NEXT run's open. Everything
    * partitions by `user_id`: one shuffle, per-user sorted scans, state
    * never exceeds a user's run count — the same per-key O(n log n)
    * discipline as [[asofLastClick]], valid at any corpus size. Ties on
    * `ts` break deterministically by `event_id`. */
  def scd2UserStates(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wr = Window.partitionBy(col("user_id")).orderBy(col("version"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1)
          .otherwise(0))
      .withColumn("version", sum(col("chg")).over(w))
      .groupBy(col("user_id"), col("version"))
      .agg(min(col("event_type")).as("state"), // constant within a run
        min(col("ts")).as("open_ts"),
        count(lit(1)).as("n_events"))
      .withColumn("close_ts", lead(col("open_ts"), 1).over(wr))
      .select(col("user_id"), col("version"), col("state"),
        date_format(col("open_ts"), tsFmt).as("valid_from"),
        date_format(col("close_ts"), tsFmt).as("valid_to"),
        col("close_ts").isNull.cast("int").as("is_current"),
        col("n_events"))
      .orderBy(col("user_id"), col("version"))
  }

  /** Top event-type paths: every 3-step (type → type → type) sequence in
    * each user's ordered stream, counted corpus-wide — the product-path
    * mining query behind "what do users do before purchasing". One
    * window shuffle on `user_id` (two leads share the frame), then a
    * tiny path aggregate; top-k is a TakeOrderedAndProject, never a
    * global sort. Ties break by path string for determinism. */
  def topEventPaths(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .where(col("t2").isNotNull && col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(k)
  }

  /** Linear multi-touch attribution: every `purchase` splits one unit of
    * credit equally across the user's `click`/`view` touches in the 7
    * days before it; untouched purchases report under the `(none)`
    * channel. Credit is EXACT integer micro-units (`1000000 div n` per
    * touch, floor remainder documented and deterministic) so the
    * cross-engine sum cannot drift — the order-insensitive integer idiom
    * the repo uses everywhere FP summation order could flip a rounding
    * boundary.
    *
    * Shape: touches and purchases both key by `user_id`, so the
    * candidate join is an EQUI-join on the user (co-partitioned, AQE
    * reuses the exchange) with the time window as a post-join filter —
    * never an unbounded range join; per-user event counts bound the
    * fan-out. At 100 TB this is one fact-sized shuffle by user plus two
    * small aggregates. */
  def linearAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val touches = ev.where(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts").as("touch_ts"),
        col("event_type").as("channel"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    val matched = purchases.join(touches, Seq("user_id"))
      .where(col("touch_ts") < col("p_ts") &&
        col("touch_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"))
    val credited = matched
      .withColumn("n_touch",
        count(lit(1)).over(Window.partitionBy(col("purchase_id"))))
      .withColumn("credit_micro", expr("1000000L div n_touch"))
    val touched = credited.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("purchase_id")).as("n_purchases"),
        sum(col("credit_micro")).as("credit_micro"))
    val untouched = purchases
      .join(matched.select(col("purchase_id")).distinct(),
        Seq("purchase_id"), "left_anti")
      .agg(count(lit(1)).as("n_purchases"))
      .select(lit("(none)").as("channel"), lit(0L).as("n_touches"),
        col("n_purchases"), (col("n_purchases") * 1000000L).as("credit_micro"))
    touched.unionByName(untouched)
      .select(col("channel"), col("n_touches"), col("n_purchases"),
        (col("credit_micro") / 1000000.0).as("attributed"))
      .orderBy(col("channel"))
  }

  /** A/B experiment readout with a two-proportion z-test — the
    * experimentation-platform primitive every feature launch runs:
    * deterministic arm assignment (`user_id % 2` — id-keyed like every
    * production bucketing), conversion = "user's purchase value total
    * exceeds 600" (a has-any-purchase metric saturates at 100% on this
    * dense corpus — zero pooled variance, z undefined — so the metric
    * thresholds spend instead, splitting users near 50/50 at every
    * corpus point), pooled-variance z per the standard two-proportion
    * formula.
    *
    * Determinism: spend accumulates in EXACT integer cents, so the
    * threshold compare cannot flip on double summation order; arms and
    * conversion counts are exact integers; the rates and z are IEEE
    * double expressions written in the SAME operation order as the
    * DuckDB twin, displayed rounded; the significance verdict compares
    * the ROUNDED |z| to 1.96 so both engines decide from the identical
    * displayed value; a zero-variance pool (all or none converted)
    * yields NULL z and significant = 0 instead of a divide error.
    *
    * Scale shape: one events scan → per-user conditional sum (the only
    * corpus-sized shuffle, on user_id) → a 2-row arm aggregate → a
    * 1-row wide pivot. Nothing downstream of the first aggregate sees
    * more than |users| rows. */
  def abTestConversion(spark: SparkSession, dir: String,
                       thresholdCents: Long = 60000L): DataFrame = {
    val u = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase",
        round(col("value") * 100).cast("long")).otherwise(0L)).as("spend"))
      .select(col("user_id"),
        when(col("spend") > thresholdCents, 1).otherwise(0).as("c"))
    val arms = u.select(expr("user_id % 2").as("arm"), col("c"))
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("k"))
    val w = arms.agg(
      max(when(col("arm") === 0, col("n"))).as("n_a"),
      max(when(col("arm") === 0, col("k"))).as("conv_a"),
      max(when(col("arm") === 1, col("n"))).as("n_b"),
      max(when(col("arm") === 1, col("k"))).as("conv_b"))
    w.withColumn("pp",
        (col("conv_a") + col("conv_b")).cast("double") /
          (col("n_a") + col("n_b")))
      .withColumn("se",
        sqrt(col("pp") * (lit(1) - col("pp")) *
          (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
      .withColumn("zr",
        when(col("se") > 0,
          (col("conv_a").cast("double") / col("n_a") -
            col("conv_b").cast("double") / col("n_b")) / col("se")))
      .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        round(col("conv_a").cast("double") / col("n_a"), 6).as("cr_a"),
        round(col("conv_b").cast("double") / col("n_b"), 6).as("cr_b"),
        round(col("zr"), 6).as("z"),
        when(abs(round(col("zr"), 6)) > 1.96, 1).otherwise(0)
          .as("significant"))
  }
}
