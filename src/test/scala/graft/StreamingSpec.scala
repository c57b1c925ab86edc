package graft

import graft.streaming.EventStream
import graft.ops.Events

class StreamingSpec extends SparkSpec {

  /** FileStreamSource orders batches by the LEAF data files' modification
    * times — bumping the parent directory does nothing. Push every file
    * in `dir` a minute into the future so its batch sorts last. */
  private def bumpFileMtimes(dir: String): Unit =
    new java.io.File(dir).listFiles()
      .foreach(_.setLastModified(System.currentTimeMillis() + 60000))

  test("streaming text-quality scoring == batch on the same corpus (stateless ops run on streams unchanged)") {
    // the LLM-pipeline per-row operators (quality scoring here) are
    // stateless projections, so the SAME code path runs on an unbounded
    // source with no watermark or state store — the property that lets a
    // training-data pipeline move from backfill (batch over the lake) to
    // ingest (stream) without a rewrite
    val stream = spark.readStream
      .schema(graft.sources.Tables.documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sf)
    val q = graft.ops.Text.qualityScoreRows(stream)
      .writeStream.format("memory").queryName("stream_quality").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_quality").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality")).toMap
    val batch = graft.ops.Text.qualityScore(spark, sf).collect()
    assert(batch.nonEmpty && streamed.size === batch.length)
    batch.foreach { r =>
      assert(streamed(r.getAs[Long]("doc_id")) === r.getAs[Double]("quality"))
    }
  }

  test("streaming sequence packing == batch packing; state carries across micro-batches") {
    // batch parity on the full corpus in one micro-batch
    val stream = spark.readStream
      .schema(graft.sources.Tables.documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sf)
    val q = EventStream.packChunksStateful(spark, stream)
      .writeStream.format("memory").queryName("stream_packing").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_packing").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tok"), r.getAs[Long]("chunk_id"))).toMap
    val batch = graft.ops.Text.packChunks(spark, sf).collect()
    assert(batch.nonEmpty && streamed.size === batch.length)
    batch.foreach { r =>
      assert(streamed(r.getAs[Long]("doc_id")) ===
        (r.getAs[Long]("n_tok"), r.getAs[Long]("chunk_id")),
        s"doc ${r.getAs[Long]("doc_id")}")
    }

    // state carry-over: the same corpus split into two files = two
    // micro-batches (doc_id ranges ordered by file mtime) must produce
    // EXACTLY the same assignments — the running count survives the
    // state-store round-trip between batches
    val tmp = java.nio.file.Files.createTempDirectory("graft_pack_stream").toString
    val docs = graft.sources.Tables.documents(spark, sf)
    val half = 250
    docs.where(org.apache.spark.sql.functions.col("doc_id") < half)
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/f1")
    docs.where(org.apache.spark.sql.functions.col("doc_id") >= half)
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/f2")
    bumpFileMtimes(s"$tmp/f2")
    val twoBatch = spark.readStream
      .schema(graft.sources.Tables.documentsSchema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$tmp/f*")
    val q2 = EventStream.packChunksStateful(spark, twoBatch)
      .writeStream.format("memory").queryName("stream_packing_2b").start()
    try q2.processAllAvailable() finally q2.stop()
    val twoBatched = spark.table("stream_packing_2b").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("chunk_id")).toMap
    assert(twoBatched.size === batch.length)
    batch.foreach { r =>
      assert(twoBatched(r.getAs[Long]("doc_id")) === r.getAs[Long]("chunk_id"),
        s"doc ${r.getAs[Long]("doc_id")} after state round-trip")
    }
  }

  test("streaming tumbling counts == batch tumbling counts on the same input") {
    val stream = EventStream.readEvents(spark, sf)
    assert(stream.isStreaming)
    val q = EventStream.tumblingCounts(stream)
      .writeStream
      .format("memory")
      .queryName("stream_tumbling")
      .outputMode("complete")
      .start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("stream_tumbling")
      .orderBy("hour_start", "event_type")
      .collect()
    val want = Events.tumblingCounts(spark, sf)
      .select("hour_start", "event_type", "n_events", "sum_value")
      .collect()
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) => assert(g === w) }
  }

  test("streaming session_window sessions == batch sessionize on the same input") {
    import org.apache.spark.sql.functions._
    val stream = EventStream.readEvents(spark, sf)
    val q = EventStream.sessionCounts(stream)
      .writeStream.format("memory").queryName("stream_sessions")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("stream_sessions")
      .orderBy("user_id", "session_start").collect()
    val want = Events.sessionize(spark, sf)
      .select("user_id", "session_start", "n_events", "sum_value")
      .orderBy("user_id", "session_start").collect()
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) => assert(g === w) }
  }

  test("streaming dedup: one row per distinct event_id") {
    val stream = EventStream.readEvents(spark, sf)
    val q = EventStream.dedupEvents(stream)
      .writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("stream_dedup")
    val want = graft.sources.Tables.events(spark, sf)
    assert(got.count() === want.select("event_id").distinct().count())
    assert(got.select("event_id").distinct().count() === got.count())
  }

  test("flatMapGroupsWithState gap sessions == batch sessionize") {
    import org.apache.spark.sql.functions._
    val stream = EventStream.readEvents(spark, sf)
    val q = EventStream.gapSessionsStateful(spark, stream)
      .writeStream.format("memory").queryName("stream_gap_sessions")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("stream_gap_sessions")
      .select(col("user_id"), col("start_ms"), col("n_events"), col("sum_value"))
      .orderBy("user_id", "start_ms").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val want = Events.sessionize(spark, sf)
      .select(col("user_id"),
        expr("unix_micros(to_timestamp(session_start)) DIV 1000").as("start_ms"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "start_ms").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) => assert(g === w) }
  }

  test("event-time timeout flushes closed sessions exactly once on a multi-batch stream") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.{Row, SaveMode}
    import org.apache.spark.sql.types._
    // two files = two micro-batches (maxFilesPerTrigger=1). user 1 has a
    // 2-event session in batch 1, then one event 2h later in batch 2: the
    // batch-2 watermark passes session1's gap, so the timeout must flush
    // it exactly once; the 2h event stays open (never emitted).
    val dir = java.nio.file.Files.createTempDirectory("graft-stream2b").toString
    val t0 = 1700000000000000L // micros
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    def write(path: String, rows: Seq[(Long, Long, Double)]): Unit =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (u, us, v) =>
          Row(u, java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(us * 1000)), v)
        }, 1), schema)
        .write.mode(SaveMode.Overwrite).parquet(path)
    write(s"$dir/b1", Seq((1L, t0, 1.0), (1L, t0 + 10L * 60 * 1000000, 2.0)))
    write(s"$dir/b2", Seq((1L, t0 + 2L * 3600 * 1000000, 5.0)))
    bumpFileMtimes(s"$dir/b2")

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(s"$dir/b*")
      .withWatermark("ts", "0 seconds")
    val q = EventStream.gapSessionsStateful(spark, stream, emitOpenTail = false)
      .writeStream.format("memory").queryName("stream_timeout_sessions")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("stream_timeout_sessions")
      .select("user_id", "start_ms", "n_events", "sum_value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // exactly the closed session, exactly once, and no open-tail emission
    assert(got.toSeq === Seq((1L, t0 / 1000, 2L, 3.0)), got.mkString(", "))
  }

  test("stream-static join totals == batch join on the same input") {
    import org.apache.spark.sql.functions._
    val userDim = graft.sources.Tables.events(spark, sf)
      .select(col("user_id")).distinct()
      .withColumn("cohort", pmod(col("user_id"), lit(3)))
    val stream = EventStream.readEvents(spark, sf)
    val q = EventStream.cohortTotals(stream, userDim)
      .writeStream.format("memory").queryName("stream_cohorts")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("stream_cohorts").orderBy("cohort").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = graft.sources.Tables.events(spark, sf)
      .join(userDim, Seq("user_id"))
      .groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy("cohort").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === want.toSeq)
  }

  test("streaming top-k == batch top-k on the corpus (many groups, real ties)") {
    val stream = EventStream.readEvents(spark, sf)
    val q = EventStream.topEventsPerType(stream, k = 5)
      .writeStream.format("memory").queryName("stream_topk_corpus")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("stream_topk_corpus")
      .orderBy("event_type", "rnk").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val want = EventStream.topEventsPerType(
        graft.sources.Tables.events(spark, sf), k = 5)
      .orderBy("event_type", "rnk").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.nonEmpty)
    assert(got.toSeq === want.toSeq)
  }

  test("custom bounded-heap aggregate round-trips streaming state across micro-batches") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.{Row, SaveMode}
    import org.apache.spark.sql.types._
    // two files = two micro-batches: batch 2's update MERGES with batch
    // 1's restored state, so BoundedTopK.deserialize runs on real
    // buffers (a single-batch stream never exercises it). Expectation is
    // hand-computed, independent of the operator under test.
    val dir = java.nio.file.Files.createTempDirectory("graft-topk2b").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    def write(path: String, rows: Seq[(Long, String, Double)]): Unit =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), schema)
        .write.mode(SaveMode.Overwrite).parquet(path)
    write(s"$dir/b1", Seq((1L, "a", 5.0), (2L, "a", 1.0), (3L, "a", 9.0), (4L, "b", 2.0)))
    write(s"$dir/b2", Seq((5L, "a", 7.0), (6L, "a", 3.0), (7L, "b", 8.0), (8L, "b", 4.0)))
    bumpFileMtimes(s"$dir/b2")

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$dir/b*")
    val q = EventStream.topEventsPerType(stream, k = 3)
      .writeStream.format("memory").queryName("stream_topk")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("stream_topk")
      .orderBy("event_type", "rnk").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // a: 9(id3), 7(id5), 5(id1);  b: 8(id7), 4(id8), 2(id4)
    assert(got.toSeq === Seq(
      ("a", 3L, 9.0, 1), ("a", 5L, 7.0, 2), ("a", 1L, 5.0, 3),
      ("b", 7L, 8.0, 1), ("b", 8L, 4.0, 2), ("b", 4L, 2.0, 3)))
  }

  test("streaming funnel == batch funnel; stage machine survives a time-split batch boundary") {
    import org.apache.spark.sql.functions._
    // the same events split into two files AT A TIME BOUNDARY = two
    // micro-batches in event-time order (the watermark discipline the
    // operator documents); the stage machine must carry (stage, ts)
    // across the state-store round trip
    val tmp = java.nio.file.Files.createTempDirectory("graft_funnel_stream").toString
    val ev = graft.sources.Tables.events(spark, sf)
    val mid = ev.agg(expr("percentile(unix_micros(ts), 0.5)")).head.getDouble(0).toLong
    ev.where(unix_micros(col("ts")) < mid)
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/b1")
    ev.where(unix_micros(col("ts")) >= mid)
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/b2")
    // FileStreamSource (latestFirst=false) orders by file MTIME; two
    // writes can land in the same millisecond, so pin the order
    // explicitly instead of relying on write latency (review finding)
    def setMtime(dir: String, ms: Long): Unit =
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).forEach(p =>
        p.toFile.setLastModified(ms))
    val base = System.currentTimeMillis()
    setMtime(s"$tmp/b1", base - 60000)
    setMtime(s"$tmp/b2", base)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$tmp/b*")
    val q = EventStream.funnelStagesStateful(spark, stream)
      .writeStream.format("memory").queryName("stream_funnel")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    // final state per user = last (max) stage across updates (monotone)
    val got = spark.table("stream_funnel")
      .groupBy("user_id").agg(max("stage_reached").as("stage"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // batch reference: stage counts → per-stage user counts must agree
    val batchCounts = graft.ops.Events.funnelStages(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (1 to 4).zip(Seq("1_signup", "2_view", "3_click", "4_purchase")).foreach {
      case (k, nm) =>
        assert(got.values.count(_ >= k).toLong === batchCounts(nm), nm)
    }
  }

  test("stateful latest snapshot == batch arg-max; state compacts across batches") {
    import org.apache.spark.sql.functions._
    val stream = EventStream.readEvents(spark, sf)
    val q = EventStream.latestSnapshotStateful(spark, stream)
      .writeStream.format("memory").queryName("stream_latest")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    // final state per user = the arg-max over all emitted updates
    val got = spark.table("stream_latest")
      .groupBy("user_id")
      .agg(max(struct(col("last_ts_us"), col("last_event_id"),
        col("last_event_type"), col("last_value"))).as("m"))
      .select(col("user_id"), col("m.last_event_id"), col("m.last_value"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val batch = graft.ops.Features.latestEventSnapshot(spark, sf)
      .select("user_id", "last_event_id", "last_value").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got === batch)
  }

  test("mapGroupsWithState running totals == batch per-user totals") {
    import org.apache.spark.sql.functions._
    val stream = EventStream.readEvents(spark, sf)
    val q = EventStream.userTotalsStateful(spark, stream)
      .writeStream.format("memory").queryName("stream_user_totals")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    // last update per user must equal the batch totals
    val got = spark.table("stream_user_totals")
      .groupBy("user_id")
      .agg(max("n_events").as("n_events"), max("sum_value").as("sum_value"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val want = graft.sources.Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("value").as("s"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), math.rint(r.getDouble(2) * 100) / 100))).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (u, (n, s)) =>
      assert(got(u)._1 === n, s"user $u count")
      assert(math.abs(got(u)._2 - s) < 1e-9, s"user $u sum")
    }
  }

  test("streaming LSH candidate mining == batch self-join; bucket state survives micro-batches") {
    val batchCands = graft.ops.Dedup
      .selfCandidatePairs(graft.sources.Tables.documents(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchCands.nonEmpty)

    // one micro-batch: candidate-set parity with the batch band self-join
    val stream = spark.readStream
      .schema(graft.sources.Tables.documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sf)
    val q = EventStream.lshCandidatesStateful(spark, stream)
      .writeStream.format("memory").queryName("stream_lsh").start()
    try q.processAllAvailable() finally q.stop()
    val streamedRows = spark.table("stream_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val streamed = streamedRows.map(t => (t._1, t._2)).toSet
    assert(streamed === batchCands)
    // the documented multiset contract, asserted not masked: within one
    // band a pair appears at most once; across bands multiplicity is
    // bounded by the band count
    assert(streamedRows.distinct.length === streamedRows.length,
      "duplicate (pair, band) emission")
    streamedRows.groupBy(t => (t._1, t._2)).foreach { case (p, hits) =>
      assert(hits.length <= graft.ops.Dedup.numBands, s"pair $p emitted ${hits.length}x")
    }

    // two micro-batches: the same corpus split in half must surface the
    // SAME candidate set — cross-batch pairs only exist if the bucket
    // membership survived the state-store round trip
    val tmp = java.nio.file.Files.createTempDirectory("graft_lsh_stream").toString
    val docs = graft.sources.Tables.documents(spark, sf)
    import org.apache.spark.sql.functions.col
    docs.where(col("doc_id") < 250)
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/f1")
    docs.where(col("doc_id") >= 250)
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/f2")
    bumpFileMtimes(s"$tmp/f2")
    val twoBatch = spark.readStream
      .schema(graft.sources.Tables.documentsSchema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$tmp/f*")
    val q2 = EventStream.lshCandidatesStateful(spark, twoBatch)
      .writeStream.format("memory").queryName("stream_lsh_2b").start()
    try q2.processAllAvailable() finally q2.stop()
    val twoBatched = spark.table("stream_lsh_2b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(twoBatched === batchCands)
    // cross-half pairs exist on this corpus — the carry-over is exercised
    assert(batchCands.exists { case (a, b) => a < 250 && b >= 250 })
  }

  test("streaming drift monitor == driver replay per window; self-reference stays calm") {
    import org.apache.spark.sql.functions._
    val stream = EventStream.readEvents(spark, sf)
    val q = EventStream.driftStateful(spark, stream, sf)
      .writeStream.format("memory").queryName("stream_drift")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    // last update per window is the full-window PSI
    val got = spark.table("stream_drift")
      .groupBy("window_start")
      .agg(max(struct(col("n"), col("psi"))).as("m"))
      .collect()
      .map(r => r.getString(0) -> {
        val m = r.getStruct(1); (m.getLong(0), m.getDouble(1))
      }).toMap

    // driver replay with the same binning and smoothing
    val ev = graft.sources.Tables.events(spark, sf)
      .select(date_format(window(col("ts"), "1 hour").getField("start"),
        "yyyy-MM-dd HH:mm:ss").as("w"), col("value").cast("double").as("v"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val nBins = graft.ops.Features.psiBins
    val (mn, mx) = (ev.map(_._2).min, ev.map(_._2).max)
    def binOf(x: Double): Int = math.max(0,
      math.min(math.floor((x - mn) * nBins / (mx - mn)).toInt, nBins - 1))
    val ref = Array.fill(nBins)(0L)
    ev.foreach(e => ref(binOf(e._2)) += 1)
    val pRef = ref.map(c => (c + 0.5) / (ev.length + 0.5 * nBins))
    val want = ev.groupBy(_._1).map { case (w, rows) =>
      val c = Array.fill(nBins)(0L)
      rows.foreach(r => c(binOf(r._2)) += 1)
      val t = rows.length.toDouble
      val psi = pRef.zip(c.map(x => (x + 0.5) / (t + 0.5 * nBins)))
        .map { case (p, qq) => (p - qq) * math.log(p / qq) }.sum
      w -> ((rows.length.toLong, math.floor(psi * 1e6 + 0.5) / 1e6))
    }
    assert(got.keySet === want.keySet)
    want.foreach { case (w, (n, psi)) =>
      assert(got(w)._1 === n, s"window $w count")
      assert(got(w)._2 === psi, s"window $w psi")
    }
    // sparse hour windows (~2 events at this SF) legitimately read hot
    // through the smoothing; PSI is provably nonnegative though
    want.values.foreach { case (_, psi) => assert(psi >= 0.0, psi) }

    // calmness needs sampled windows: at 7-day windows (~200 events
    // each of the same corpus distribution) the monitor must sit under
    // the 0.2 alert line
    val q7 = EventStream.driftStateful(spark, stream, sf, windowLen = "7 days")
      .writeStream.format("memory").queryName("stream_drift_7d")
      .outputMode("update").start()
    try q7.processAllAvailable() finally q7.stop()
    val calm = spark.table("stream_drift_7d")
      .groupBy("window_start")
      .agg(max(struct(col("n"), col("psi"))).as("m"))
      .collect().map(r => (r.getStruct(1).getLong(0), r.getStruct(1).getDouble(1)))
    assert(calm.nonEmpty)
    calm.foreach { case (n, psi) =>
      if (n >= 100) assert(psi < 0.2, s"n=$n psi=$psi")
    }
    assert(calm.exists(_._1 >= 100))
  }

  test("streaming anomaly monitor == batch replay on every closed day") {
    import org.apache.spark.sql.functions._
    val stream = EventStream.readEvents(spark, sf)
    val q = EventStream.anomalyStateful(spark, stream)
      .writeStream.format("memory").queryName("stream_anomaly")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("stream_anomaly").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), Option(r.get(3)), Option(r.get(4)), r.getBoolean(5)))
      .toMap
    // every day is emitted at most once
    assert(got.size === spark.table("stream_anomaly").count())

    // the emitted set is exactly the days the final watermark closed
    val maxTs = graft.sources.Tables.events(spark, sf)
      .agg(max(col("ts"))).head.getTimestamp(0).getTime
    val wm = maxTs - 2L * 3600 * 1000   // the default 2h delay
    def dayEnd(day: String): Long =
      java.time.LocalDate.parse(day).plusDays(1)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    val batch = graft.ops.Validate.dailyAnomaly(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), Option(r.get(3)), Option(r.get(4)), r.getBoolean(5)))
      .toMap
    val expected = batch.keySet.filter(k => dayEnd(k._2) <= wm)
    assert(got.keySet === expected)
    assert(expected.nonEmpty)

    // and each closed day's (n, mu, z, flag) is bit-identical to the
    // batch query's row — same exact-integer moment arithmetic
    expected.foreach { k => assert(got(k) === batch(k), s"day $k") }
    // the data has full-window scored days (not all-null mu)
    assert(got.values.exists(_._2.isDefined))
  }

  test("streaming anomaly closes a collapsed source's silent days == densified batch") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 'dead' emits days 1-10 then goes silent; 'alive' runs through day
    // 20 and keeps the query watermark advancing — the calendar-cursor
    // timeout must close dead's days 11+ as n=0 rows, matching the batch
    // monitor's densified grid bit for bit
    val dir = java.nio.file.Files.createTempDirectory("graft_gap_stream").toString
    val base = java.time.LocalDate.parse("2024-01-01")
    // jittered daily counts: a constant window has variance 0 and
    // scores null by design — the zero-day must meet a live sigma
    val rows = for {
      d <- 1 to 20; i <- 1 to (25 + d % 5)
      t <- Seq("dead", "alive") if !(t == "dead" && d > 10)
    } yield {
      val us = base.plusDays(d - 1).atStartOfDay(java.time.ZoneOffset.UTC)
        .toInstant.toEpochMilli * 1000L + i * 60L * 1000000L
      ((d.toLong * 1000) + i, us * 1000L, i.toLong % 50, t, 1.0, "{}")
    }
    // raw int64 nanos — the legacy-long branch of the adaptive reader.
    // Written as a single FILE named events.parquet (not a directory):
    // readEvents' pathGlobFilter matches file names, like the corpus
    val wtmp = s"$dir/_w"
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(wtmp)
    val part = new java.io.File(wtmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/events.parquet"))

    val q = EventStream.anomalyStateful(spark, EventStream.readEvents(spark, dir))
      .writeStream.format("memory").queryName("stream_anomaly_gap")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("stream_anomaly_gap").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), Option(r.get(3)), Option(r.get(4)), r.getBoolean(5)))
      .toMap
    val maxTs = graft.sources.Tables.events(spark, dir)
      .agg(max(col("ts"))).head.getTimestamp(0).getTime
    val wm = maxTs - 2L * 3600 * 1000
    def dayEnd(day: String): Long =
      java.time.LocalDate.parse(day).plusDays(1)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    val batch = graft.ops.Validate.dailyAnomaly(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), Option(r.get(3)), Option(r.get(4)), r.getBoolean(5)))
      .toMap
    val expected = batch.keySet.filter(k => dayEnd(k._2) <= wm)
    assert(got.keySet === expected)
    // the dead group's silent days closed live as zeros...
    val silent = got.keys.filter(k => k._1 == "dead" && k._2 > "2024-01-10")
    assert(silent.nonEmpty, "no zero-days closed for the dead group")
    silent.foreach(k => assert(got(k)._1 === 0L))
    // ...the first one flagged as an extreme negative anomaly...
    assert(got(("dead", "2024-01-11"))._4, "first silent day not flagged")
    // ...and every emitted row bit-identical to the densified batch
    expected.foreach { k => assert(got(k) === batch(k), s"day $k") }
  }

  test("a corrupt ancient timestamp cannot flood the anomaly close loop") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 'corrupt' carries ONE 1970 event in its first batch (no watermark
    // yet, so the late filter cannot reject it) plus real days 1-5;
    // 'alive' advances the watermark through day 20. Without the
    // year-horizon cursor clamp the close loop would emit one row per
    // calendar day since 1970 (~19,700 rows) in a single batch.
    val dir =
      java.nio.file.Files.createTempDirectory("graft_corrupt_stream").toString
    val base = java.time.LocalDate.parse("2024-01-01")
    val rows = (for {
      d <- 1 to 20; i <- 1 to (25 + d % 5)
      t <- Seq("corrupt", "alive") if !(t == "corrupt" && d > 5)
    } yield {
      val us = base.plusDays(d - 1).atStartOfDay(java.time.ZoneOffset.UTC)
        .toInstant.toEpochMilli * 1000L + i * 60L * 1000000L
      ((d.toLong * 1000) + i, us * 1000L, i.toLong % 50, t, 1.0, "{}")
    }) :+ ((999999L, 4L * 86400L * 1000000000L, 1L, "corrupt", 1.0, "{}"))
    val wtmp = s"$dir/_w"
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(wtmp)
    val part = new java.io.File(wtmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/events.parquet"))

    val q = EventStream.anomalyStateful(spark, EventStream.readEvents(spark, dir))
      .writeStream.format("memory").queryName("stream_anomaly_corrupt")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("stream_anomaly_corrupt").collect()
      .map(r => (r.getString(0), r.getString(1)))
    // bounded: the 1970 seed is rejected at the year horizon — no row
    // before it, no multi-decade churn
    assert(got.forall(_._2 >= "2023-01-01"), got.map(_._2).min)
    val corrupt = got.filter(_._1 == "corrupt").map(_._2)
    assert(corrupt.length < 400, s"${corrupt.length} rows")
    // ...and the group's REAL days still closed normally, zeros included
    assert(corrupt.contains("2024-01-03"), corrupt.sorted.mkString(","))
    assert(corrupt.contains("2024-01-10"), "post-collapse zero-day missing")
  }

  test("streaming snapshot sink: one committed version per micro-batch, exactly once") {
    import graft.store.Snapshots
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val base = "graft_spec_stream_sink"
    Snapshots.retain(spark, base, keep = 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_snap_sink").toString
    spark.range(0, 4).coalesce(1).write.parquet(s"$tmp/f1")
    spark.range(4, 10).coalesce(1).write.parquet(s"$tmp/f2")
    // stagger mtimes so the two files arrive as two ordered micro-batches
    val now = System.currentTimeMillis()
    new java.io.File(s"$tmp/f2").listFiles().foreach(_.setLastModified(now + 60000))
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("id", LongType))))
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$tmp/f*")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_snap_ckpt").toString
    val q = EventStream.snapshotSinkQuery(stream, base, ckpt, "specq")
    try q.processAllAvailable() finally q.stop()
    val vs = Snapshots.versions(spark, base)
    assert(vs.size === 2, s"versions $vs")
    // the version union IS the stream, no row lost or doubled
    val all = vs.flatMap(v => Snapshots.readVersion(spark, base, v)
      .collect().map(_.getLong(0))).sorted
    assert(all === (0L until 10L).toSeq)
    // at-least-once redelivery of an already-committed batch UNDER THE
    // SAME WRITER: no third version, even with different content
    assert(Snapshots.publishBatch(spark, spark.range(42).toDF("id"), base,
      0L, "specq") === None)
    assert(Snapshots.versions(spark, base).size === 2)
    // a DIFFERENT writer's batch 0 is NOT the same transaction — it
    // must land (the round-13 conflation data-loss shape, inverted)
    assert(Snapshots.publishBatch(spark, spark.range(2).toDF("id"), base,
      0L, "otherq") === Some(3L))
    assert(Snapshots.versions(spark, base).size === 3)
    Snapshots.retain(spark, base, keep = 0)
  }

  test("streaming CDF apply: view maintained from change feeds == recompute at every version") {
    import graft.store.Snapshots
    import graft.ops.Materialize
    import spark.implicits._
    val base = "graft_spec_cdf_view"
    Snapshots.retain(spark, base, keep = 0)
    // a 4-version history: updates, inserts, deletes, and a group ('b')
    // whose last row dies — the view must drop it, not keep a zero
    Snapshots.publish(spark,
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L)).toDF("k", "g", "cents"),
      base)
    Snapshots.mergeIntoLatest(spark, base,
      Seq((2L, "a", 25L, "upsert"), (4L, "b", 40L, "upsert"))
        .toDF("k", "g", "cents", "_op"), Seq("k"))
    Snapshots.mergeIntoLatest(spark, base,
      Seq((1L, "a", 10L, "delete"), (3L, "b", 35L, "upsert"))
        .toDF("k", "g", "cents", "_op"), Seq("k"))
    Snapshots.mergeIntoLatest(spark, base,
      Seq((3L, "b", 35L, "delete"), (4L, "b", 40L, "delete"),
        (5L, "c", 50L, "upsert")).toDF("k", "g", "cents", "_op"), Seq("k"))
    def viewOf(v: Long) = Materialize
      .cdfViewOf(Snapshots.readVersion(spark, base, v), "g", "cents")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // the CDF SOURCE discovers the transitions itself (round-15 verdict
    // #4) — the stream below is only the POLL TICK driver, carrying no
    // version payload: a file stream of 3 ticks, one micro-batch each,
    // and every tick drains whatever committed since the cursor
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdf_bumps").toString
    val now = System.currentTimeMillis()
    (1 to 3).foreach { i =>
      Seq(i.toLong).toDF("tick").coalesce(1).write.parquet(s"$tmp/b$i")
      new java.io.File(s"$tmp/b$i").listFiles()
        .foreach(_.setLastModified(now + i * 60000L))
    }
    var state = Materialize
      .cdfViewOf(Snapshots.readVersion(spark, base, 1L), "g", "cents")
      .localCheckpoint(true)
    var applied = Seq.empty[(Long, Long)]
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("tick", LongType))))
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$tmp/b*")
    val q = stream.writeStream
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        applied = applied ++ graft.store.ChangeFeedSource.drain(
          spark, base, "viewq", Seq("k"), Seq("g", "cents")) {
          (_, vTo, feed) =>
            state = Materialize.applyCdfToView(state, feed, "g", "cents")
              .localCheckpoint(true)
            // stream-applied state == full recompute AT EVERY version
            assert(state.collect()
              .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
              === viewOf(vTo), s"after v$vTo")
        }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    // the first tick drains ALL pending transitions; later ticks find a
    // caught-up cursor and emit NOTHING — exactly-once across polls
    assert(applied === Seq((1L, 2L), (2L, 3L), (3L, 4L)), applied.toString)
    val fin = state.collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    assert(fin === viewOf(4L))
    // the emptied group LEFT the view
    assert(!fin.exists(_._1 == "b"), fin.toString)
    // a NEW commit wakes the drained consumer for exactly one transition
    Snapshots.mergeIntoLatest(spark, base,
      Seq((6L, "c", 60L, "upsert")).toDF("k", "g", "cents", "_op"), Seq("k"))
    val more = graft.store.ChangeFeedSource.drain(
      spark, base, "viewq", Seq("k"), Seq("g", "cents")) { (_, _, feed) =>
      state = Materialize.applyCdfToView(state, feed, "g", "cents")
        .localCheckpoint(true)
    }
    assert(more === Seq((4L, 5L)))
    assert(state.collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
      === viewOf(5L))
    Snapshots.retain(spark, base, keep = 0)
  }

  test("CDF source restart: a crash mid-transition re-delivers it, nothing is skipped or doubled") {
    import graft.store.{ChangeFeedSource, Snapshots}
    import graft.ops.Materialize
    import spark.implicits._
    val base = "graft_spec_cdf_restart"
    Snapshots.retain(spark, base, keep = 0)
    Snapshots.publish(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "g", "cents"), base)
    Snapshots.mergeIntoLatest(spark, base,
      Seq((1L, "a", 11L, "upsert")).toDF("k", "g", "cents", "_op"), Seq("k"))
    Snapshots.mergeIntoLatest(spark, base,
      Seq((3L, "c", 30L, "upsert")).toDF("k", "g", "cents", "_op"), Seq("k"))
    def viewOf(v: Long) = Materialize
      .cdfViewOf(Snapshots.readVersion(spark, base, v), "g", "cents")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    var state = Materialize
      .cdfViewOf(Snapshots.readVersion(spark, base, 1L), "g", "cents")
      .localCheckpoint(true)
    // the consumer CRASHES applying the second transition: the first
    // advanced the cursor, the in-flight one did not
    val boom = intercept[RuntimeException] {
      ChangeFeedSource.drain(spark, base, "crashq", Seq("k"),
        Seq("g", "cents")) { (_, vTo, feed) =>
        if (vTo == 3L) throw new RuntimeException("simulated crash")
        state = Materialize.applyCdfToView(state, feed, "g", "cents")
          .localCheckpoint(true)
      }
    }
    assert(boom.getMessage === "simulated crash")
    assert(ChangeFeedSource.lastProcessed(spark, base, "crashq") === Some(2L))
    // restart ("new process"): exactly the uncommitted transition is
    // re-delivered — the at-least-once handler contract, exactly-once
    // emission for everything whose cursor mark landed
    val replay = ChangeFeedSource.drain(spark, base, "crashq", Seq("k"),
      Seq("g", "cents")) { (_, _, feed) =>
      state = Materialize.applyCdfToView(state, feed, "g", "cents")
        .localCheckpoint(true)
    }
    assert(replay === Seq((2L, 3L)))
    assert(state.collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
      === viewOf(3L))
    // caught up: a further drain emits nothing
    assert(ChangeFeedSource.drain(spark, base, "crashq", Seq("k"),
      Seq("g", "cents")) { (_, _, _) => fail("must not emit") }.isEmpty)
    Snapshots.retain(spark, base, keep = 0)
  }

  test("streaming incremental labeler == one-shot incrementalAssign across 3 micro-batches") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val D = graft.ops.Dedup
    // the one-shot ground truth over the standard increment, and the
    // SAME published old-corpus contract it reads
    val oneShot = D.incrementalAssign(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(oneShot.nonEmpty)
    val oldSigs = spark.table(D.ensureIncrementalSigs(spark, sf))
    val oldLabels = spark.table(D.ensureIncrementalBase(spark, sf))
    // the same increment, split into three files -> three micro-batches
    val inc = D.incrementDocs(spark, sf)
    val idsSorted = inc.select("doc_id").collect().map(_.getLong(0)).sorted
    val (t1, t2) = (idsSorted(idsSorted.length / 3),
      idsSorted(2 * idsSorted.length / 3))
    val tmp = java.nio.file.Files.createTempDirectory("graft_inc_stream").toString
    inc.where(col("doc_id") < t1)
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/f1")
    inc.where(col("doc_id") >= t1 && col("doc_id") < t2)
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/f2")
    inc.where(col("doc_id") >= t2)
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/f3")
    val now = System.currentTimeMillis()
    Seq("f2" -> 60000L, "f3" -> 120000L).foreach { case (d, off) =>
      new java.io.File(s"$tmp/$d").listFiles()
        .foreach(_.setLastModified(now + off))
    }
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$tmp/f*")
    val labeler = new D.StreamingIncrementLabeler(oldSigs, oldLabels)
    val q = EventStream.incrementalLabelsQuery(stream, labeler)
    try q.processAllAvailable() finally q.stop()
    // three genuine micro-batches ran (state carried twice)
    assert(q.lastProgress.batchId >= 2, s"batchId ${q.lastProgress.batchId}")
    val streamed = labeler.labels().collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    // exact parity: same docs, same cluster reps, same attached flags —
    // including cross-batch components and anchor-over-component wins
    assert(streamed === oneShot)
    // at-least-once redelivery (round-12 ADVICE): replaying an
    // already-seen batchId through the idempotent entry point is a no-op
    // — labels() is unchanged, no duplicate doc_id rows
    labeler.step(0L, inc.where(col("doc_id") < t1))
    val replayed = labeler.labels().collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(replayed === oneShot, "redelivered batch corrupted the state")
    // the interesting cases actually occur on this corpus: some doc is
    // attached to an old cluster, and some batch-internal cluster spans
    // a split boundary (so the cross-batch edge path was exercised)
    assert(oneShot.values.exists(_._2 == 1), "no attached doc in increment")
    val reps = oneShot.toSeq.groupBy(_._2._1).filter(_._2.size > 1)
    assert(reps.nonEmpty, "no multi-doc component in increment")
  }

  test("streaming incremental labeler: pinned state stays bounded over 8 micro-batches") {
    import org.apache.spark.sql.functions.col
    val D = graft.ops.Dedup
    val labeler = new D.StreamingIncrementLabeler(
      spark.table(D.ensureIncrementalSigs(spark, sf)),
      spark.table(D.ensureIncrementalBase(spark, sf)))
    val inc = D.incrementDocs(spark, sf)
    val ids = inc.select("doc_id").collect().map(_.getLong(0)).sorted
    val nBatches = 8
    val cuts = (1 until nBatches).map(i => ids(i * ids.length / nBatches))
    val bounds = (Long.MinValue +: cuts).zip(cuts :+ Long.MaxValue)
    // each step re-pins its four accumulated frames (anchors, edges, ids,
    // signatures) and frees the pins they supersede, so the live pinned
    // RDD count after any step is at most the four current pins — the
    // same after batch 8 as after batch 1. Leaked pins grow it by at
    // least 4 per batch.
    val before = spark.sparkContext.getPersistentRDDs.size
    val pinned = bounds.map { case (lo, hi) =>
      labeler.step(inc.where(col("doc_id") >= lo && col("doc_id") < hi))
      spark.sparkContext.getPersistentRDDs.size - before
    }
    assert(pinned.forall(_ <= 4), s"pinned RDDs after each batch: $pinned")
    // the state is still whole: every ingested doc is labelled
    assert(labeler.labels().count() === ids.length)
  }
}
