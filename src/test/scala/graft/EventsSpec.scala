package graft

import org.apache.spark.sql.functions._

import graft.ops.Events
import graft.sources.Tables

class EventsSpec extends SparkSpec {

  test("events reader: corpus ts decodes to exact micros timestamps") {
    val df = Tables.events(spark, sf)
    assert(df.schema("ts").dataType.typeName === "timestamp")
    val bounds = df.agg(min("ts").cast("string"), max("ts").cast("string")).collect().head
    assert(bounds.getString(0) === "2024-01-01 00:09:58.778549")
    assert(bounds.getString(1) === "2024-01-30 23:26:16.220708")
  }

  test("events reader adapts to the file's ts encoding: micros and raw-long nanos agree") {
    // the driver regenerated the corpus with TIMESTAMP(MICROS) in round 6
    // after five rounds of TIMESTAMP(NANOS) — the reader must decode BOTH
    // (encoding is a property of the drop, not a contract). Two temp
    // corpora with identical logical content, one per encoding:
    import spark.implicits._
    val base = Seq(
      (1L, 1704067200123456L, 10L, "click", 1.5, "{}"),
      (2L, 1704070800654321L, 11L, "view", 2.5, "{}"))
    def writeDir(rows: Seq[(Long, Long, Long, String, Double, String)],
                 micros: Boolean): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_ts_enc").toString
      val df =
        if (micros)
          rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
            .withColumn("ts", timestamp_micros(col("us"))).drop("us")
            .select("event_id", "ts", "user_id", "event_type", "value", "props")
        else
          // raw int64 with no timestamp annotation reads as LongType —
          // the same reader branch the legacy NANOS files take
          rows.map { case (e, us, u, t, v, p) => (e, us * 1000L, u, t, v, p) }
            .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      // INT64 micros, the modern annotation the corpus ships (Spark's
      // INT96 legacy output is NOT a supported events encoding — the
      // raw-long read path rejects it loudly, never silently shifts);
      // restore the shared session's writer conf afterwards
      val key = "spark.sql.parquet.outputTimestampType"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "TIMESTAMP_MICROS")
      try df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      dir
    }
    val microsDir = writeDir(base, micros = true)
    val nanosDir = writeDir(base, micros = false)
    assert(Tables.eventsTsDivisor(spark, microsDir) === 1L)
    assert(Tables.eventsTsDivisor(spark, nanosDir) === 1000L)
    val a = Tables.events(spark, microsDir)
      .select(col("event_id"), col("ts").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val b = Tables.events(spark, nanosDir)
      .select(col("event_id"), col("ts").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(a.toSeq === b.toSeq)
    assert(a.head._2 === "2024-01-01 00:00:00.123456")
  }

  test("events reader re-sniffs the ts encoding after an in-place MICROS → NANOS rewrite") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("graft_ts_rewrite")
    val ev = dir.resolve("events.parquet")
    Files.copy(Paths.get(sf, "events.parquet"), ev)
    def decoded() = Tables.events(spark, dir.toString)
      .select(col("event_id"), col("ts").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(Tables.eventsTsDivisor(spark, dir.toString) === 1L)
    val micros = decoded()
    // same path, same logical content, ts now raw-long nanos
    val staged = Files.createTempDirectory("graft_ts_staged").resolve("e")
    spark.read.schema(Tables.eventsRawSchema).parquet(ev.toString)
      .withColumn("ts", col("ts") * 1000L)
      .coalesce(1).write.parquet(staged.toString)
    val part = Files.list(staged).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst.get
    Files.move(part, ev, StandardCopyOption.REPLACE_EXISTING)
    assert(Tables.eventsTsDivisor(spark, dir.toString) === 1000L)
    assert(decoded() === micros)
  }

  test("tumbling windows: event counts conserved, starts aligned to the hour") {
    val df = Events.tumblingCounts(spark, sf).cache()
    assert(df.agg(sum("n_events")).collect().head.getLong(0) ===
      Tables.events(spark, sf).count())
    assert(df.filter(!col("hour_start").endsWith("00:00.000000")).count() === 0)
  }

  test("sliding windows double-count each event exactly twice") {
    val total = Events.slidingValue(spark, sf)
      .agg(sum("n_events")).collect().head.getLong(0)
    assert(total === 2 * Tables.events(spark, sf).count())
  }

  test("sessions: events conserved, session gaps respected") {
    val sess = Events.sessionize(spark, sf).cache()
    assert(sess.agg(sum("n_events")).collect().head.getLong(0) ===
      Tables.events(spark, sf).count())
    // at least one user has multiple sessions over a month of events
    assert(sess.groupBy("user_id").count().filter(col("count") > 1).count() > 0)
  }

  test("lag features: first event per user has null lags, rn is dense per user") {
    val df = Events.lagFeatures(spark, sf).cache()
    val firsts = df.filter(col("rn") === 1)
    assert(firsts.filter(col("prev_value").isNotNull || col("gap_ms").isNotNull
      || col("roll3").isNotNull).count() === 0)
    val maxRn = df.groupBy("user_id").agg(max("rn").as("mx"), count(lit(1)).as("n"))
    assert(maxRn.filter(col("mx") =!= col("n")).count() === 0)
  }

  test("as-of join: last prior click value matches a hand walk per user") {
    val df = Events.asofLastClick(spark, sf).cache()
    assert(df.count() === Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count())
    // hand-walk one user's click/purchase timeline
    val ev = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select("event_id", "user_id", "ts", "value", "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3), r.getString(4)))
    val someUser = ev.collect { case (_, u, _, _, "purchase") => u }.head
    val timeline = ev.filter(_._2 == someUser)
      .sortBy(e => (e._3.getTime, e._1))
    var lastClick: Option[Double] = None
    val expected = scala.collection.mutable.Map[Long, Option[Double]]()
    timeline.foreach { case (id, _, _, v, t) =>
      if (t == "purchase") expected(id) = lastClick
      if (t == "click") lastClick = Some(v)
    }
    val got = df.filter(col("user_id") === someUser).collect()
      .map(r => r.getLong(0) ->
        Option(r.getAs[java.lang.Double]("last_click_value")).map(_.toDouble)).toMap
    expected.foreach { case (id, exp) =>
      val g = got(id)
      (exp, g) match {
        case (None, None) =>
        case (Some(e), Some(a)) => assert(math.abs(e - a) < 0.005 + 1e-9)
        case _ => fail(s"purchase $id: expected $exp got $g")
      }
    }
  }

  test("trailing 1h window: includes self, bounded by per-user totals") {
    val df = Events.trailingHourSum(spark, sf).cache()
    assert(df.count() === Tables.events(spark, sf).count())
    assert(df.filter(col("trail_1h_n") < 1).count() === 0)
    val perUserMax = df.groupBy("user_id").agg(max("trail_1h_n").as("mx"))
    val perUserTotal = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n"))
    assert(perUserMax.join(perUserTotal, "user_id")
      .filter(col("mx") > col("n")).count() === 0)
  }

  test("binned range join equals the naive BETWEEN join") {
    val binned = Events.sessionEventOverlap(spark, sf, maxUser = 20)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // naive interval-containment join as the semantic reference, over the
    // SAME shared interval definition (Events.gapSessionIntervals)
    val ev = Tables.events(spark, sf)
    val naive = Events.gapSessionIntervals(spark, sf, maxUser = 20)
      .join(ev.select(col("ts")),
        col("ts") >= col("s_start") && col("ts") <= col("s_end"))
      .groupBy(col("s_user"), col("s_start"))
      .agg(count(lit(1)).as("n"))
      .select(col("s_user"),
        date_format(col("s_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(binned === naive)
  }

  test("funnel: stage counts non-increasing, stage 1 exact, one user hand-walked") {
    val df = Events.funnelStages(spark, sf).cache()
    val counts = df.orderBy("stage").collect().map(r => r.getString(0) -> r.getLong(1))
    assert(counts.map(_._1).toSeq ===
      Seq("1_signup", "2_view", "3_click", "4_purchase"))
    // the funnel can only narrow
    assert(counts.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
    assert(counts.head._2 === Tables.events(spark, sf)
      .filter(col("event_type") === "signup")
      .select("user_id").distinct().count())
    // hand-walk every user at sf0.001 (15 users): fold the sorted timeline
    val timeline = Tables.events(spark, sf)
      .select("user_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime * 1000 +
        r.getTimestamp(1).getNanos / 1000 % 1000, r.getString(2)))
    val stagesByUser = timeline.groupBy(_._1).view.mapValues { evs =>
      val sorted = evs.sortBy(_._2)
      val order = Seq("signup", "view", "click", "purchase")
      var reached = 0
      var tPrev = Long.MinValue
      // earliest event of the next stage strictly after the previous stage
      var advanced = true
      while (advanced && reached < 4) {
        advanced = false
        val nxt = sorted.collectFirst {
          case (_, t, ty) if ty == order(reached) &&
            (reached == 0 || t > tPrev) => t
        }
        nxt.foreach { t => tPrev = t; reached += 1; advanced = true }
      }
      reached
    }.toMap
    val expected = (1 to 4).map(k => stagesByUser.values.count(_ >= k).toLong)
    assert(counts.map(_._2).toSeq === expected)
  }

  test("retention: offset-0 equals cohort size, user-days conserved, offsets sane") {
    val df = Events.retentionCohorts(spark, sf).cache()
    assert(df.filter(col("day_offset") < 0).count() === 0)
    // every (user, active-day) pair lands in exactly one cell
    val userDays = Tables.events(spark, sf)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct().count()
    assert(df.agg(sum("n_users")).collect().head.getLong(0) === userDays)
    // day-0 cell of each cohort counts exactly that cohort's users
    val cohortSizes = Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(date_format(min(date_trunc("day", col("ts"))), "yyyy-MM-dd").as("cohort_day"))
      .groupBy("cohort_day").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val day0 = df.filter(col("day_offset") === 0)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(day0 === cohortSizes)
  }

  test("transitions: steps conserved, probabilities sum to 1 per prev type") {
    val df = Events.typeTransitions(spark, sf).cache()
    // every event except each user's first contributes exactly one step
    val events = Tables.events(spark, sf)
    val expectedSteps = events.count() -
      events.select("user_id").distinct().count()
    assert(df.agg(sum("n")).collect().head.getLong(0) === expectedSteps)
    val probSums = df.groupBy("prev_type").agg(sum("p").as("s")).collect()
    probSums.foreach(r =>
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-4, r.getString(0)))
    df.unpersist()
  }

  test("json props: k parsed for every row, bounds sane") {
    val r = Events.jsonPropsAgg(spark, sf)
      .agg(sum("n").as("n"), min("min_k").as("mn"), max("max_k").as("mx"))
      .collect().head
    assert(r.getAs[Long]("n") === Tables.events(spark, sf).count())
    assert(r.getAs[Long]("mn") >= 0 && r.getAs[Long]("mx") <= 100)
  }

  test("scd2: versions contiguous, intervals chain, one current row per user") {
    val df = Events.scd2UserStates(spark, sf).cache()
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    // exactly one open (is_current) version per user
    assert(df.where(col("is_current") === 1).count() === users)
    assert(df.groupBy("user_id").agg(max("is_current").as("m"))
      .where(col("m") =!= 1).count() === 0)
    // versions are 1..k contiguous per user
    val vOk = df.groupBy("user_id")
      .agg(min("version").as("lo"), max("version").as("hi"),
        count(lit(1)).as("n"))
      .where(col("lo") =!= 1 || col("hi") =!= col("n"))
    assert(vOk.count() === 0)
    // each closed interval's valid_to equals the NEXT version's
    // valid_from (intervals chain with no gap or overlap) and every
    // version's state differs from its successor's (runs are maximal)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("version"))
    val chained = df
      .withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .withColumn("next_state", lead(col("state"), 1).over(w))
      .where(col("valid_to").isNotNull)
    assert(chained.where(col("valid_to") =!= col("next_from")).count() === 0)
    assert(chained.where(col("state") === col("next_state")).count() === 0)
    // version event counts account for every event
    assert(df.agg(sum("n_events")).collect().head.getLong(0) ===
      Tables.events(spark, sf).count())
    df.unpersist()
  }

  test("paths: 3-step sequences conserved, top-k ordered") {
    // k larger than the 5³ possible paths → the full path frame
    val all = Events.topEventPaths(spark, sf, k = 1000).cache()
    val expected = Tables.events(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("c"))
      .agg(sum(greatest(col("c") - 2, lit(0L)))).collect().head.getLong(0)
    assert(all.agg(sum("n")).collect().head.getLong(0) === expected)
    val top = all.limit(3).collect().map(_.getLong(1))
    assert(top.sorted.reverse.toSeq === top.toSeq) // n descending
    all.unpersist()
  }

  test("attribution: purchases conserved, credit exact within floor loss") {
    val df = Events.linearAttribution(spark, sf).cache()
    val totalPurchases = Tables.events(spark, sf)
      .where(col("event_type") === "purchase").count()
    val r = df.agg(sum("attributed").as("a")).collect().head
    // every purchase distributes ≤ 1 unit of credit; floor remainders
    // lose < n_touch micro-units per purchase, so the conserved total
    // sits in (purchases - 1, purchases]
    assert(r.getDouble(0) <= totalPurchases.toDouble + 1e-9)
    assert(r.getDouble(0) > totalPurchases - 1.0)
    // the (none) channel carries untouched purchases at exactly 1.0 each
    val none = df.where(col("channel") === "(none)").collect()
    assert(none.length === 1 && none.head.getAs[Long]("n_touches") === 0L)
    assert(none.head.getAs[Double]("attributed") ===
      none.head.getAs[Long]("n_purchases").toDouble)
    df.unpersist()
  }

  test("ab test: counts, rates and z equal a driver replay; arms partition users") {
    val out = Events.abTestConversion(spark, sf).collect()
    assert(out.length === 1)
    val r = out.head
    val byUser = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("value")).collect()
      .map(x => (x.getLong(0),
        if (x.getString(1) == "purchase")
          math.floor(x.getDouble(2) * 100 + 0.5).toLong else 0L))
      .groupBy(_._1).view
      .mapValues(_.map(_._2).sum > 60000L).toMap
    val a = byUser.filter(_._1 % 2 == 0)
    val b = byUser.filter(_._1 % 2 == 1)
    assert(a.size + b.size === byUser.size)
    assert(r.getLong(0) === a.size.toLong)
    assert(r.getLong(1) === a.count(_._2).toLong)
    assert(r.getLong(2) === b.size.toLong)
    assert(r.getLong(3) === b.count(_._2).toLong)
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val (crA, crB) = (a.count(_._2).toDouble / a.size,
      b.count(_._2).toDouble / b.size)
    assert(r.getDouble(4) === r6(crA) && r.getDouble(5) === r6(crB))
    val pp = (a.count(_._2) + b.count(_._2)).toDouble / (a.size + b.size)
    val z = (crA - crB) /
      math.sqrt(pp * (1 - pp) * (1.0 / a.size + 1.0 / b.size))
    assert(r.getDouble(6) === r6(z))
    assert(r.getInt(7) === (if (math.abs(r6(z)) > 1.96) 1 else 0))
  }

  test("A/B readout survives zero-variance pools (all or none converted)") {
    // corpus-drift guard (round-7 verdict #6): the real metric thresholds
    // spend to stay near 50/50, but a regenerated corpus could push an
    // arm to saturation — drive the operator there explicitly via the
    // threshold knob and assert the NULL-z / not-significant path instead
    // of a divide error. spend >= 0 > -1: every user converts.
    val all = Events.abTestConversion(spark, sf, thresholdCents = -1L)
      .collect().head
    assert(all.getLong(0) > 0 && all.getLong(2) > 0)
    assert(all.getLong(1) === all.getLong(0)) // conv_a = n_a
    assert(all.getLong(3) === all.getLong(2))
    assert(all.isNullAt(6), "z must be NULL under zero pooled variance")
    assert(all.getInt(7) === 0)
    // and the mirror pool: nobody clears Long.MaxValue
    val none = Events.abTestConversion(spark, sf,
      thresholdCents = Long.MaxValue).collect().head
    assert(none.getLong(1) === 0L && none.getLong(3) === 0L)
    assert(none.isNullAt(6) && none.getInt(7) === 0)
  }
}
