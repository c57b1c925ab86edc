package graft

import org.apache.spark.sql.functions._

import graft.ops.Layout
import graft.sources.Tables

class LayoutSpec extends SparkSpec {

  test("interleave: matches the bit-loop reference on boundary and random values") {
    // Scala reference: bit i of a -> z-bit 2i, bit i of b -> 2i+1
    def ref(a: Long, b: Long): Long =
      (0 until Layout.zBits).foldLeft(0L) { (z, i) =>
        z | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      }
    val rnd = new scala.util.Random(5)
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 0L), (0L, 65535L),
      (65535L, 65535L), (21845L, 43690L)) ++
      Seq.fill(20)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    import spark.implicits._
    val out = cases.toDF("a", "b")
      .select(col("a"), col("b"), Layout.interleave(col("a"), col("b")).as("z"))
      .collect()
    out.foreach { r =>
      assert(r.getAs[Long]("z") === ref(r.getAs[Long]("a"), r.getAs[Long]("b")),
        s"interleave mismatch at (${r.get(0)}, ${r.get(1)})")
    }
    // the known checkerboard: a = 0x5555 (bits at even i), b = 0xAAAA
    // (bits at odd i) → z-bits {4k} from a and {4k+3} from b, i.e. the
    // nibble 1001 repeated: 0x99999999 — sanity that bit planes don't swap
    assert(ref(21845L, 43690L) === 0x99999999L)
  }

  test("zorder bucket stats: partition of the corpus, envelopes within global range") {
    val stats = Layout.zorderBucketStats(spark, sf).collect()
    val n = Tables.orders(spark, sf).count()
    assert(stats.map(_.getAs[Long]("n")).sum === n)
    assert(stats.forall { r =>
      val b = r.getAs[Long]("bucket"); b >= 0 && b < 256 })
    val gMinC = stats.map(_.getAs[Long]("min_cust")).min
    val gMaxC = stats.map(_.getAs[Long]("max_cust")).max
    stats.foreach { r =>
      assert(r.getAs[Long]("min_cust") >= gMinC &&
        r.getAs[Long]("max_cust") <= gMaxC)
      assert(r.getAs[Long]("min_day") <= r.getAs[Long]("max_day"))
    }
  }

  test("clusteredBy: file boundaries do not depend on the input's file order") {
    // the same rows as eight order-key files, read in listing order and
    // reversed, then clustered by day into four files: the per-file rows
    // and day envelopes must be identical
    val tmp = java.nio.file.Files.createTempDirectory("graft_cluster_order").toString
    Layout.ordersZ(spark, sf).select(col("o_orderkey"), col("day"))
      .repartitionByRange(8, col("o_orderkey"))
      .write.mode("overwrite").parquet(s"$tmp/src")
    val files = new java.io.File(s"$tmp/src").listFiles()
      .map(_.getPath).filter(_.endsWith(".parquet")).sorted.toSeq
    assert(files.length === 8)
    def fileStats(input: Seq[String], out: String) = {
      Layout.clusteredBy(spark.read.parquet(input: _*), col("day"), 4)
        .write.mode("overwrite").parquet(out)
      spark.read.parquet(out)
        .groupBy(regexp_replace(element_at(split(input_file_name(), "/"), -1),
          Layout.writeUuidRegex, "").as("file"))
        .agg(count(lit(1)).as("n"), min(col("day")).as("mn"),
          max(col("day")).as("mx"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
    }
    val listed = fileStats(files, s"$tmp/a")
    val reversed = fileStats(files.reverse, s"$tmp/b")
    assert(listed.length === 4, listed)
    assert(listed === reversed)
    // contiguous, disjoint day ranges
    listed.sliding(2).foreach { case Seq(a, b) => assert(a._4 < b._3, listed) }
  }

  test("z-clustered files: BOTH dimensions bounded; 1-D sort leaves dim 2 full-range") {
    // the property the layout exists for: after clusteredBy(z), each
    // file's min/max envelope is narrow on custkey AND day, so stats
    // pruning works for either predicate; after a custkey sort each
    // file spans ~the whole day range and a day predicate prunes nothing
    val nFiles = 16
    val tmp = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val o = Layout.ordersZ(spark, sf)
    Layout.clusteredBy(o.drop("z"), col("o_custkey"), nFiles)
      .write.mode("overwrite").parquet(s"$tmp/bycust")
    Layout.clusteredBy(o, col("z"), nFiles).drop("z")
      .write.mode("overwrite").parquet(s"$tmp/byz")
    def coverage(path: String): (Long, Long, Int) = {
      val per = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg((max("day") - min("day")).as("dr"),
          (max("o_custkey") - min("o_custkey")).as("cr"))
        .collect()
      (per.map(_.getAs[Long]("dr")).sum, per.map(_.getAs[Long]("cr")).sum,
        per.length)
    }
    val (cDay, cCust, cN) = coverage(s"$tmp/bycust")
    val (zDay, zCust, zN) = coverage(s"$tmp/byz")
    assert(cN === nFiles && zN === nFiles)
    val all = o.agg((max("day") - min("day")).as("d"),
      (max("o_custkey") - min("o_custkey")).as("c")).collect()(0)
    val (fullDay, fullCust) = (all.getLong(0), all.getLong(1))
    info(s"day coverage: custkey-sorted $cDay vs z-ordered $zDay " +
      s"(full range $fullDay x $nFiles files)")
    info(s"custkey coverage: custkey-sorted $cCust vs z-ordered $zCust " +
      s"(full range $fullCust x $nFiles files)")
    // 1-D sort: every file spans ~the full day range
    assert(cDay > (nFiles - 2) * (fullDay * 8 / 10),
      s"expected near-full day coverage under custkey sort, got $cDay")
    // z-order: day coverage collapses (each file covers a curve slice)
    assert(zDay * 2 < cDay,
      s"z-order day coverage $zDay not < half of custkey-sorted $cDay")
    // ... while custkey stays bounded well under full-range-per-file
    assert(zCust < nFiles * fullCust * 8 / 10,
      s"z-order custkey coverage $zCust not bounded vs ${nFiles * fullCust}")
  }

  test("snapshots: concurrent publishes allocate distinct versions; retention + time travel") {
    import graft.store.Snapshots
    import spark.implicits._
    val base = "graft_tt_spec"
    // clean slate: the suite may rerun in one warehouse
    Snapshots.retain(spark, base, keep = 0)
    assert(Snapshots.versions(spark, base).isEmpty)
    // two RACING publishers through SEPARATE SparkSessions — no shared
    // JVM lock anywhere in the path (round-12 verdict #2): the atomic
    // filesystem claim alone must allocate distinct sequential versions,
    // with both frames frozen intact (no lost update)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val sessions = Seq(spark.newSession(), spark.newSession())
    val ids = Await.result(Future.sequence(sessions.zipWithIndex.map {
      case (s, i) => Future {
        Snapshots.publish(s, s.range(5).select(
          (col("id") + i * 100).as("id")), base)
      }
    }), 60.seconds)
    // distinct ids, both committed, and commit-chain order == id order
    // (the racer that lost the successor slot may have re-claimed a
    // higher id, so the pair is {1,2} or {2,3} — never a collision)
    assert(ids.toSet.size === 2)
    assert(Snapshots.versions(spark, base) === ids.sorted)
    // no lost update: each session's distinct payload is retrievable
    val sums = ids.indices.map(i => Snapshots.readVersion(spark, base,
      ids(i)).agg(sum(col("id"))).head.getLong(0))
    assert(sums.toSet === Set(10L, 510L), sums.toString)
    // grow a history, then time-travel to every version
    val v3 = Snapshots.publish(spark, spark.range(7).toDF("id"), base)
    val v4 = Snapshots.publish(spark, spark.range(9).toDF("id"), base)
    assert(v3 > ids.max && v4 === v3 + 1)
    assert(Snapshots.versions(spark, base) === (ids.sorted ++ Seq(v3, v4)))
    assert(Snapshots.readVersion(spark, base, ids.min).count() === 5L)
    assert(Snapshots.readVersion(spark, base, v3).count() === 7L)
    // a later publish never mutates an old version (isolation)
    assert(Set(10L, 510L).contains(Snapshots.readVersion(spark, base, ids.min)
      .agg(sum(col("id"))).head.getLong(0)))
    // retention: keep the newest 2, the dropped ids are gone
    assert(Snapshots.retain(spark, base, keep = 2) === ids.sorted)
    assert(Snapshots.versions(spark, base) === Seq(v3, v4))
    assert(Snapshots.readVersion(spark, base, v4).count() === 9L)
    Snapshots.retain(spark, base, keep = 0)
  }

  test("compaction: file count bounded, contents identical, clustering restored, audit wins") {
    import graft.store.Snapshots
    val base = "graft_compact_spec"
    Snapshots.retain(spark, base, keep = 0)
    // v1: an incrementally-grown table — 64 scattered small files whose
    // day envelopes all span ~the full range (stats prune nothing)
    val src = Layout.ordersZ(spark, sf).drop("z")
    Snapshots.publish(spark, src.repartition(64), base)
    val v1 = Snapshots.readVersion(spark, base, 1L)
    assert(v1.select(input_file_name()).distinct().count() === 64L)
    // OPTIMIZE: bin-pack to ~n/4 rows per file -> exactly 4 files
    val n = src.count()
    val v2id = Layout.compactSnapshot(spark, base, col("day"), (n + 3) / 4)
    val after = Snapshots.readVersion(spark, base, v2id)
    val files = after.groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("nr"),
        min(col("day")).as("mn"), max(col("day")).as("mx"))
      .collect()
    assert(files.length === 4, s"${files.length} files")
    // contents unchanged: the compaction moved bytes, not rows
    val diff = graft.ops.Validate.snapshotDiffRows(v1, after,
        Seq("o_orderkey"), Seq("o_custkey", "day"))
      .where(col("status") =!= "unchanged").count()
    assert(diff === 0L, "compaction changed table contents")
    // clustering invariant: per-file day ranges are contiguous-disjoint
    val sorted = files.sortBy(_.getAs[Long]("mn"))
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("mx") <= b.getAs[Long]("mn"),
          s"overlapping file envelopes: $a / $b")
      case _ =>
    }
    // the old version stays readable history until retained away
    assert(v1.count() === after.count())
    Snapshots.retain(spark, base, keep = 0)
    // the declared audit shows the point: same answers, less I/O
    val audit = Layout.compactionSkipAudit(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val (arr, cl) = (audit("arrival"), audit("clustered"))
    assert(arr.getAs[Long]("rows_matched") === cl.getAs[Long]("rows_matched"))
    assert(cl.getAs[Long]("files_scanned") < arr.getAs[Long]("files_scanned"))
    assert(cl.getAs[Long]("rows_scanned") * 4 < arr.getAs[Long]("rows_scanned"),
      s"clustered ${cl.getAs[Long]("rows_scanned")} vs " +
        s"arrival ${arr.getAs[Long]("rows_scanned")}")
  }

  test("schema evolution: both read directions reconcile; added column is NULL history") {
    import graft.store.Snapshots
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
    val out = graft.ops.Layout.schemaEvolutionDiff(spark, sf).collect()
    // the withheld priority surfaces as 'added'; surviving rows changed
    val byStatus = out.groupBy(_.getString(1))
    assert(byStatus.contains("added") && byStatus.contains("changed"),
      out.mkString("\n"))
    // the added column reads as absent data (-1 sentinel) from v1, real
    // data from v2, on EVERY row
    out.foreach { r =>
      assert(r.getAs[Long]("cents_old") === -1L, r.toString)
      if (r.getString(1) != "added") assert(r.getAs[Long]("cents_new") >= 0L)
    }
    // both directions of read against the seeded history directly:
    val fp = graft.store.FeatureStore.versionFingerprint(
      spark, s"$sf/orders.parquet")
    val slug = s"${sf.replaceAll("[^A-Za-z0-9]+", "_")}_" +
      java.lang.Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(sf))
    val base = s"graft_se2_orders_${slug}_$fp"
    val bases = Snapshots.versions(spark, base)
    assert(bases === Seq(1L, 2L, 3L), bases.toString)
    // NEW reader (evolved schema) over OLD data: widened type + NULL fill
    val evolved = StructType(Seq(StructField("o_orderpriority", StringType),
      StructField("n_orders", LongType), StructField("cents", LongType)))
    val v1New = Snapshots.readVersionAs(spark, base, 1L, evolved)
    assert(v1New.schema("n_orders").dataType === LongType)
    assert(v1New.collect().forall(_.isNullAt(2)), "cents must be NULL in v1")
    // OLD reader (narrow schema) over NEW data: projection + narrow cast
    val narrow = StructType(Seq(StructField("o_orderpriority", StringType),
      StructField("n_orders", IntegerType)))
    val v2Old = Snapshots.readVersionAs(spark, base, 2L, narrow)
    assert(v2Old.columns.toSeq === Seq("o_orderpriority", "n_orders"))
    assert(v2Old.schema("n_orders").dataType === IntegerType)
    val raw = Snapshots.readVersion(spark, base, 2L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    v2Old.collect().foreach { r =>
      assert(r.getInt(1).toLong === raw(r.getString(0)), r.toString)
    }
  }

  test("change feed: typed rows partition the diff; applying the feed to v1 yields v2") {
    val feed = graft.ops.Layout.changeFeedBetweenVersions(spark, sf).collect()
    val byType = feed.groupBy(_.getAs[String]("change_type"))
    assert(Set("insert", "delete", "update_preimage", "update_postimage")
      .subsetOf(byType.keySet), byType.keySet.toString)
    // updates come as exact pre/post PAIRS over the same keys
    assert(byType("update_preimage").map(_.getString(0)).sorted.toSeq ===
      byType("update_postimage").map(_.getString(0)).sorted.toSeq)
    // ground truth versions recomputed driver-side from raw orders
    def cents(p: Double) = math.floor(p * 100 + 0.5).toLong
    val ords = Tables.orders(spark, sf)
      .select("o_orderpriority", "o_orderdate", "o_totalprice").collect()
    val cut = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
    def aggOf(rs: Array[org.apache.spark.sql.Row]) =
      rs.groupBy(_.getString(0)).view.mapValues(g =>
        (g.length.toLong, g.map(r => cents(r.getDouble(2))).sum)).toMap
    val v2 = aggOf(ords)
    val v1 = aggOf(ords.filter(r => r.getTimestamp(1).before(cut) &&
      r.getString(0) != "1-URGENT")) + ("0-LEGACY" -> ((0L, 0L)))
    // APPLY semantics: v1 - deletes - preimages + inserts + postimages == v2
    var state = v1
    feed.filter(r => Set("delete", "update_preimage")
        .contains(r.getAs[String]("change_type")))
      .foreach { r =>
        val k = r.getString(0)
        // the feed's old-image values match the actual v1 state
        assert(state(k) === ((r.getLong(1), r.getLong(2))), s"$k preimage")
        state -= k
      }
    feed.filter(r => Set("insert", "update_postimage")
        .contains(r.getAs[String]("change_type")))
      .foreach(r => state += r.getString(0) -> ((r.getLong(1), r.getLong(2))))
    assert(state === v2, "applying the feed to v1 did not reconstruct v2")
  }

  test("snapshot MERGE INTO: copy-on-write apply, history intact, upsert beats delete") {
    import graft.store.Snapshots
    import spark.implicits._
    val base = "graft_spec_merge"
    Snapshots.retain(spark, base, keep = 0)
    Snapshots.publish(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("k", "name", "v"),
      base)
    val changes = Seq(
      (2L, "b2", 22L, "upsert"), // matched -> update
      (3L, "c", 30L, "delete"), // matched -> delete
      (4L, "d", 40L, "upsert"), // not matched -> insert
      (5L, "e", 50L, "delete"), // delete of an absent key -> no-op
      (1L, "a1", 11L, "delete"), // same key deleted AND upserted...
      (1L, "a1", 11L, "upsert")  // ...the upsert wins
    ).toDF("k", "name", "v", "_op")
    assert(Snapshots.mergeIntoLatest(spark, base, changes, Seq("k")) === 2L)
    def rows(v: Long) = Snapshots.readVersion(spark, base, v).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("name"),
        r.getAs[Long]("v"))).toSet
    assert(rows(2L) === Set((1L, "a1", 11L), (2L, "b2", 22L), (4L, "d", 40L)))
    // the pre-merge version is untouched history, not a rewrite target
    assert(rows(1L) === Set((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
    Snapshots.retain(spark, base, keep = 0)
  }

  test("snapshot publishBatch: redelivered micro-batch publishes nothing") {
    import graft.store.Snapshots
    val base = "graft_spec_batchsink"
    Snapshots.retain(spark, base, keep = 0)
    assert(Snapshots.publishBatch(spark, spark.range(3).toDF("id"), base, 0L)
      === Some(1L))
    assert(Snapshots.publishBatch(spark, spark.range(5).toDF("id"), base, 1L)
      === Some(2L))
    // at-least-once redelivery: an already-committed batchId is a no-op
    // even with different (stale) content
    assert(Snapshots.publishBatch(spark, spark.range(99).toDF("id"), base, 1L)
      === None)
    assert(Snapshots.versions(spark, base) === Seq(1L, 2L))
    assert(Snapshots.readVersion(spark, base, 2L).count() === 5L)
    assert(Snapshots.publishBatch(spark, spark.range(7).toDF("id"), base, 2L)
      === Some(3L))
    assert(Snapshots.versions(spark, base) === Seq(1L, 2L, 3L))
    Snapshots.retain(spark, base, keep = 0)
  }

  test("q_snap_merge: feed classes balance the merged state exactly") {
    import org.apache.spark.sql.functions.{col, floor => ffloor, sum => fsum, count => fcount, lit}
    val rows = graft.ops.Layout.mergeIntoSnapshot(spark, sf).collect()
    val m = rows.map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2)))).toMap
    assert(m.keySet === Set("delete", "insert", "update_preimage",
      "update_postimage", "v2_state"))
    // updates come in preimage/postimage PAIRS
    assert(m("update_preimage")._1 === m("update_postimage")._1)
    // v1 totals straight off raw orders (the seeded v1 definition)
    val v1 = Tables.orders(spark, sf)
      .agg(fcount(lit(1)).as("n"),
        fsum(ffloor(col("o_totalprice") * 100 + 0.5).cast("long")).as("c"))
      .collect()(0)
    val (n1, c1) = (v1.getLong(0), v1.getLong(1))
    // row balance: v2 = v1 - deletes + inserts (updates keep the row)
    assert(m("v2_state")._1 === n1 - m("delete")._1 + m("insert")._1)
    // mass balance: v2 cents = v1 - deleted - preimage + postimage + inserted
    assert(m("v2_state")._2 === c1 - m("delete")._2 - m("update_preimage")._2
      + m("update_postimage")._2 + m("insert")._2)
    // the merge actually did something at this sf
    assert(m("delete")._1 > 0 && m("insert")._1 > 0 &&
      m("update_preimage")._1 > 0)
  }

  test("q_sql_merge: the SQL-text merge application equals the DataFrame sibling row-for-row") {
    val api = graft.ops.Layout.mergeIntoSnapshot(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val sql = graft.ops.Layout.sqlMergeSummary(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(sql === api)
  }

  test("time-travel diff: every status present, sides consistent") {
    val out = graft.ops.Layout.timeTravelDiff(spark, sf).collect()
    val byStatus = out.groupBy(_.getString(1))
    assert(byStatus.contains("added") && byStatus.contains("removed") &&
      byStatus.contains("changed"), out.mkString("\n"))
    out.foreach { r =>
      val (st, nOld, nNew) = (r.getString(1), r.getLong(2), r.getLong(3))
      if (st == "added") assert(nOld === -1L && nNew >= 0L)
      if (st == "removed") assert(nNew === -1L && nOld >= 0L)
      if (st == "changed") assert(nOld >= 0L && nNew >= 0L && nOld != nNew)
    }
  }

  test("file-stats audit: footer stats equal a data recompute per file; compaction prunes") {
    val out = Layout.fileStatsAudit(spark, sf).collect()
    val v1 = out.filter(_.getLong(0) == 1L)
    val v2 = out.filter(_.getLong(0) == 2L)
    assert(v1.length === Layout.fstatsArrivalFiles, "arrival file count")
    assert(v2.length === Layout.fstatsCompactFiles, "compacted file count")
    // no row lost or doubled across the real compaction
    assert(v1.map(_.getLong(2)).sum === v2.map(_.getLong(2)).sum)
    // arrival layout (order-key cut): the day envelopes span ~everything,
    // stats prune ~nothing for the 31-day window
    assert(v1.count(_.getLong(5) == 1L) >= Layout.fstatsArrivalFiles - 1,
      v1.mkString("\n"))
    // compacted (day-clustered by a REAL compactSnapshot): the window
    // intersects at most the straddling pair of files
    assert(v2.count(_.getLong(5) == 1L) <= 2, v2.mkString("\n"))
    // the footer statistics agree with the DATA of the physical files —
    // an independent spark-side recompute, file by file (each file keyed
    // by its name without the write UUID, as the audit reports it)
    val (d1, d2) = Layout.fileStatsVersionDirs(spark, sf)
    def recompute(path: String) = spark.read.parquet(path)
      .groupBy(regexp_replace(element_at(split(input_file_name(), "/"), -1),
        Layout.writeUuidRegex, "").as("file"))
      .agg(count(lit(1)).as("n"), min(col("day")).as("mn"),
        max(col("day")).as("mx"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    def footer(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(footer(v1) === recompute(d1))
    assert(footer(v2) === recompute(d2))
  }

  test("merge-on-read: stacked deltas reconcile lazily, compaction materializes, retention keeps the chain") {
    import graft.store.Snapshots
    import spark.implicits._
    val base = "graft_spec_mor_stack"
    Snapshots.retain(spark, base, keep = 0)
    Snapshots.publish(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("k", "name", "v"),
      base)
    // three stacked O(batch) delta publishes — never a table rewrite
    assert(Snapshots.publishDelta(spark,
      Seq((2L, "b2", 22L, "upsert"), (3L, "c", 30L, "delete"),
        (4L, "d", 40L, "upsert")).toDF("k", "name", "v", "_op"),
      base, Seq("k")) === 2L)
    assert(Snapshots.publishDelta(spark,
      Seq((3L, "c3", 33L, "upsert"), (4L, "d4", 44L, "upsert"))
        .toDF("k", "name", "v", "_op"),
      base, Seq("k")) === 3L)
    assert(Snapshots.publishDelta(spark,
      Seq((1L, "a", 10L, "delete")).toDF("k", "name", "v", "_op"),
      base, Seq("k")) === 4L)
    def merged(v: Long) = Snapshots.readVersionMerged(spark, base, v)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // every intermediate STATE is reconstructible — time travel through
    // a delta stack, each rung one more anti-join + union
    assert(merged(1L) === Set((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
    assert(merged(2L) === Set((1L, "a", 10L), (2L, "b2", 22L), (4L, "d", 40L)))
    assert(merged(3L) === Set((1L, "a", 10L), (2L, "b2", 22L),
      (3L, "c3", 33L), (4L, "d4", 44L)))
    assert(merged(4L) === Set((2L, "b2", 22L), (3L, "c3", 33L), (4L, "d4", 44L)))
    // the delta version STORES the change batch, not the table state
    assert(Snapshots.readVersion(spark, base, 4L).count() === 1L)
    assert(Snapshots.deltaKeys(spark, base, 4L) === Some(Seq("k")))
    assert(Snapshots.deltaKeys(spark, base, 1L) === None)
    // retention never severs a reconstruction chain: keep=1 would retain
    // only delta v4, so the horizon pulls back to its anchor base v1
    assert(Snapshots.retain(spark, base, keep = 1) === Seq.empty)
    assert(Snapshots.versions(spark, base) === Seq(1L, 2L, 3L, 4L))
    // compaction IS the materialize step: the stack folds into one base
    val v5 = Layout.compactSnapshot(spark, base, col("k"), 100L)
    assert(v5 === 5L)
    assert(Snapshots.deltaKeys(spark, base, v5) === None)
    assert(Snapshots.readVersion(spark, base, v5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      === merged(4L))
    assert(Snapshots.latestMerged(spark, base).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      === merged(4L))
    // ...after which the full pre-compaction chain is sweepable
    assert(Snapshots.retain(spark, base, keep = 1) === Seq(1L, 2L, 3L, 4L))
    assert(Snapshots.versions(spark, base) === Seq(5L))
    Snapshots.retain(spark, base, keep = 0)
  }

  test("merge change batches fail fast: bad _op, duplicate upsert keys") {
    import graft.store.Snapshots
    import spark.implicits._
    val target = Seq((1L, 10L)).toDF("k", "v")
    intercept[IllegalArgumentException] {
      Snapshots.mergeApplyOf(target,
        Seq((1L, 11L, "UPSERT")).toDF("k", "v", "_op"), Seq("k"))
    }
    intercept[IllegalArgumentException] {
      Snapshots.mergeApplyOf(target,
        Seq((2L, 20L, "upsert"), (2L, 21L, "upsert")).toDF("k", "v", "_op"),
        Seq("k"))
    }
    // publishDelta enforces the same contract and publishes NOTHING on
    // a bad batch
    val base = "graft_spec_badbatch"
    Snapshots.retain(spark, base, keep = 0)
    Snapshots.publish(spark, target, base)
    intercept[IllegalArgumentException] {
      Snapshots.publishDelta(spark,
        Seq((1L, 11L, "replace")).toDF("k", "v", "_op"), base, Seq("k"))
    }
    assert(Snapshots.versions(spark, base) === Seq(1L))
    Snapshots.retain(spark, base, keep = 0)
  }

  test("q_snap_merge_mor == q_snap_merge: merge-on-read is state-equivalent, delta write is O(batch)") {
    import graft.store.Snapshots
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val cow = rows(Layout.mergeIntoSnapshot(spark, sf))
    val mor = rows(Layout.mergeIntoSnapshotMoR(spark, sf))
    assert(mor === cow)
    // the stored MoR version 2 is the CHANGE BATCH (a small fraction of
    // the table), where copy-on-write v2 is a full rewrite
    val fp = graft.store.FeatureStore.versionFingerprint(
      spark, s"$sf/orders.parquet")
    val slug = s"${sf.replaceAll("[^A-Za-z0-9]+", "_")}_" +
      java.lang.Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(sf))
    val base = s"graft_mor_orders_${slug}_$fp"
    val vs = Snapshots.versions(spark, base)
    assert(vs.size >= 2, vs.toString)
    assert(Snapshots.deltaKeys(spark, base, vs(1)) === Some(Seq("k")))
    val nBase = Snapshots.readVersion(spark, base, vs.head).count()
    val nDelta = Snapshots.readVersion(spark, base, vs(1)).count()
    assert(nDelta < nBase / 2, s"delta $nDelta vs base $nBase")
  }

  test("vacuum: crashed-claim debris reclaimed after TTL, committed history untouched") {
    import graft.store.Snapshots
    val base = "graft_spec_vacuum"
    Snapshots.retain(spark, base, keep = 0)
    assert(Snapshots.publish(spark, spark.range(4).toDF("id"), base) === 1L)
    assert(Snapshots.publish(spark, spark.range(6).toDF("id"), base) === 2L)
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val bd = new org.apache.hadoop.fs.Path(s"$wh/graft_snapshots/$base")
    val hfs = bd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // plant a crashed publish: claim marker + partial data, NO commit
    hfs.create(new org.apache.hadoop.fs.Path(bd, ".claim-3"), false).close()
    spark.range(9).write.parquet(new org.apache.hadoop.fs.Path(bd, "v=3").toString)
    assert(Snapshots.versions(spark, base) === Seq(1L, 2L), "debris invisible")
    // a FRESH claim is inside the writer lease — never swept
    assert(Snapshots.vacuum(spark, base, ttlMs = 3600L * 1000).isEmpty)
    // plant a stale txn claim whose batch never committed
    hfs.create(new org.apache.hadoop.fs.Path(bd, ".txn-deadwriter-7"), false).close()
    val swept = Snapshots.vacuum(spark, base, ttlMs = 0L)
    assert(swept.toSet === Set(".claim-3", ".txn-deadwriter-7"), swept.toString)
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(bd, "v=3")))
    // committed history byte-identical
    assert(Snapshots.versions(spark, base) === Seq(1L, 2L))
    assert(Snapshots.readVersion(spark, base, 1L).count() === 4L)
    assert(Snapshots.readVersion(spark, base, 2L).count() === 6L)
    // a txn claim WITH a committed tag is transaction history, not debris
    assert(Snapshots.publishBatch(spark, spark.range(2).toDF("id"), base,
      9L, "w") === Some(3L))
    assert(Snapshots.vacuum(spark, base, ttlMs = 0L).isEmpty)
    // the un-wedge path: a redelivery blocked by a dead claim throws,
    // vacuum frees it, the retry lands
    hfs.create(new org.apache.hadoop.fs.Path(bd, ".txn-w-10"), false).close()
    intercept[IllegalStateException] {
      Snapshots.publishBatch(spark, spark.range(2).toDF("id"), base, 10L, "w")
    }
    Snapshots.vacuum(spark, base, ttlMs = 0L)
    assert(Snapshots.publishBatch(spark, spark.range(2).toDF("id"), base,
      10L, "w") === Some(4L))
    Snapshots.retain(spark, base, keep = 0)
  }

  test("publishBatch race: two concurrent deliveries of one batch land exactly one version") {
    import graft.store.Snapshots
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val base = "graft_spec_batchrace"
    Snapshots.retain(spark, base, keep = 0)
    // two deliveries of THE SAME (writer, batch) through separate
    // sessions — the misconfigured double-start / zombie-driver shape
    val sessions = Seq(spark.newSession(), spark.newSession())
    val results = Await.result(Future.sequence(sessions.map { s =>
      Future(scala.util.Try(
        Snapshots.publishBatch(s, s.range(10).toDF("id"), base, 0L, "raceq")))
    }), 120.seconds)
    val wins = results.collect { case scala.util.Success(Some(v)) => v }
    assert(wins.size === 1, results.toString)
    results.foreach {
      case scala.util.Success(_) => // winner, or loser that saw the commit
      case scala.util.Failure(e) => // loser that raced an in-flight winner
        assert(e.isInstanceOf[IllegalStateException], e.toString)
    }
    assert(Snapshots.versions(spark, base).size === 1)
    // late redelivery after the dust settles: plain no-op
    assert(Snapshots.publishBatch(spark, spark.range(3).toDF("id"), base,
      0L, "raceq") === None)
    assert(Snapshots.versions(spark, base).size === 1)
    Snapshots.retain(spark, base, keep = 0)
  }

  test("merge validation is null-safe: a NULL _op fails fast, never a silent delete") {
    import graft.store.Snapshots
    import spark.implicits._
    val target = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    // pre-fix, isin(NULL) was NULL and count_if skipped it: the row
    // passed validation and then acted as a DELETE of key 1 in the apply
    val e = intercept[IllegalArgumentException] {
      Snapshots.mergeApplyOf(target,
        Seq((1L, 11L, null: String)).toDF("k", "v", "_op"), Seq("k"))
    }
    assert(e.getMessage.contains("_op outside"), e.getMessage)
  }

  test("retain preserves exactly-once txn history: retained-away batches never republish") {
    import graft.store.Snapshots
    val base = "graft_spec_retain_txn"
    Snapshots.retain(spark, base, keep = 0)
    assert(Snapshots.publishBatch(spark, spark.range(1).toDF("id"), base,
      0L, "w") === Some(1L))
    assert(Snapshots.publishBatch(spark, spark.range(2).toDF("id"), base,
      1L, "w") === Some(2L))
    assert(Snapshots.publishBatch(spark, spark.range(3).toDF("id"), base,
      2L, "w") === Some(3L))
    // retention drops the versions carrying batches 0 and 1 — but their
    // commit RECORD must outlive the data (round-14 ADVICE: pre-fix, a
    // redelivery first wedged on the orphaned .txn claim, and after
    // vacuum released it the batch silently REPUBLISHED)
    assert(Snapshots.retain(spark, base, keep = 1) === Seq(1L, 2L))
    assert(Snapshots.batchCommitted(spark, base, 0L, "w"))
    assert(Snapshots.publishBatch(spark, spark.range(9).toDF("id"), base,
      0L, "w") === None)
    // vacuum keeps honoring the tombstoned claims as transaction history
    assert(Snapshots.vacuum(spark, base, ttlMs = 0L).isEmpty)
    assert(Snapshots.publishBatch(spark, spark.range(9).toDF("id"), base,
      1L, "w") === None)
    assert(Snapshots.versions(spark, base) === Seq(3L))
    Snapshots.retain(spark, base, keep = 0)
  }

  test("AtomicClaim seam: the protocol survives a lost conditional-put") {
    import graft.store.{AtomicClaim, HadoopAtomicClaim, Snapshots}
    val base = "graft_spec_lostput"
    Snapshots.retain(spark, base, keep = 0)
    // the classic object-store failure: the store APPLIES the put but
    // the client sees a transport error — the impl must report false,
    // and the protocol must treat the orphan as a crashed writer's hole
    val losses = new java.util.concurrent.atomic.AtomicInteger(1)
    Snapshots.atomicClaim = new AtomicClaim {
      def create(hfs: org.apache.hadoop.fs.FileSystem,
                 p: org.apache.hadoop.fs.Path): Boolean = {
        val created = HadoopAtomicClaim.create(hfs, p)
        if (created && p.getName.startsWith(".claim-") &&
          losses.getAndDecrement() > 0) false
        else created
      }
    }
    try {
      // claim-1 is applied-but-reported-lost; publish retries at id 2
      assert(Snapshots.publish(spark, spark.range(5).toDF("id"), base) === 2L)
      assert(Snapshots.versions(spark, base) === Seq(2L))
      assert(Snapshots.readVersion(spark, base, 2L).count() === 5L)
    } finally Snapshots.atomicClaim = HadoopAtomicClaim
    // the orphaned claim is an unclaimed hole: invisible to readers,
    // reclaimed by vacuum after the lease, after which ids keep rolling
    assert(Snapshots.vacuum(spark, base, ttlMs = 0L) === Seq(".claim-1"))
    assert(Snapshots.publish(spark, spark.range(2).toDF("id"), base) === 3L)
    assert(Snapshots.versions(spark, base) === Seq(2L, 3L))
    Snapshots.retain(spark, base, keep = 0)
  }

  test("deletion vectors: k=5 stack reads with ONE position anti-join, state == key-delta fold") {
    import graft.store.Snapshots
    import spark.implicits._
    val baseDv = "graft_spec_dv_stack"
    val baseKd = "graft_spec_kd_stack"
    Seq(baseDv, baseKd).foreach(Snapshots.retain(spark, _, keep = 0))
    val t0 = (1L to 100L).map(k => (k, k * 10L)).toDF("k", "v").repartition(4)
    Snapshots.publish(spark, t0, baseDv)
    Snapshots.publish(spark, t0, baseKd)
    // 5 stacked deltas: update, update-the-update, resurrect a deleted
    // key, a DELETE-ONLY batch (zero upsert rows stored), and an
    // insert+resurrect — every supersede shape the DV must cover
    val batches = Seq(
      Seq((1L, 11L, "upsert"), (2L, 0L, "delete")),
      Seq((3L, 33L, "upsert"), (1L, 12L, "upsert")),
      Seq((2L, 222L, "upsert")),
      Seq((4L, 0L, "delete"), (5L, 0L, "delete")),
      Seq((5L, 555L, "upsert"), (101L, 1010L, "upsert")))
    batches.foreach { b =>
      Snapshots.publishDeltaDV(spark, b.toDF("k", "v", "_op"), baseDv, Seq("k"))
      Snapshots.publishDelta(spark, b.toDF("k", "v", "_op"), baseKd, Seq("k"))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the CASCADE property is anti-join NESTING depth: the key path
    // pipes the base scan through one anti-join per stacked delta
    // (depth k), the DV path has exactly one level however deep the
    // stack (Catalyst may PUSH that single join below the file union —
    // sibling anti-joins per branch — which is pushdown, not a cascade)
    def antiDepth(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int = {
      val below =
        if (p.children.isEmpty) 0 else p.children.map(antiDepth).max
      p match {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti =>
          below + 1
        case _ => below
      }
    }
    // bit-identical state at EVERY version of the stack...
    (2L to 6L).foreach { v =>
      assert(rows(Snapshots.readVersionMerged(spark, baseDv, v))
        === rows(Snapshots.readVersionMerged(spark, baseKd, v)), s"v$v")
    }
    // ...but the DV read reconciles in ONE anti-join LEVEL however deep
    // the stack, where the key path cascades one PER delta
    val dvState = Snapshots.latestMerged(spark, baseDv)
    assert(antiDepth(dvState.queryExecution.optimizedPlan) === 1,
      dvState.queryExecution.optimizedPlan.toString)
    assert(antiDepth(Snapshots.latestMerged(spark, baseKd)
      .queryExecution.optimizedPlan) === 5)
    // spot-check semantics: updates took the LAST write, deletes are
    // gone, the resurrected keys carry their new values
    val fin = rows(dvState)
    assert(fin.contains((1L, 12L)) && fin.contains((2L, 222L)) &&
      fin.contains((5L, 555L)) && fin.contains((101L, 1010L)))
    assert(!fin.exists(_._1 == 4L))
    assert(fin.size === 100L) // 100 - 1 deleted (k=4) + 1 inserted (k=101)
    // compaction MATERIALIZES the stack and sweeps the DVs: the new
    // version is a plain base (no markers), reads join-free, and the
    // whole pre-compaction chain is retainable
    val vC = Layout.compactSnapshot(spark, baseDv, col("k"), 1000L)
    assert(Snapshots.dvKeys(spark, baseDv, vC).isEmpty)
    assert(Snapshots.deltaKeys(spark, baseDv, vC).isEmpty)
    val compacted = Snapshots.latestMerged(spark, baseDv)
    assert(antiDepth(compacted.queryExecution.optimizedPlan) === 0)
    assert(rows(compacted) === fin)
    assert(Snapshots.retain(spark, baseDv, keep = 1)
      === Seq(1L, 2L, 3L, 4L, 5L, 6L))
    Seq(baseDv, baseKd).foreach(Snapshots.retain(spark, _, keep = 0))
  }

  test("deletion vectors: DV and key-delta stacks refuse to mix above one anchor") {
    import graft.store.Snapshots
    import spark.implicits._
    val base = "graft_spec_dv_mix"
    Snapshots.retain(spark, base, keep = 0)
    Snapshots.publish(spark, Seq((1L, 10L)).toDF("k", "v"), base)
    Snapshots.publishDelta(spark,
      Seq((1L, 11L, "upsert")).toDF("k", "v", "_op"), base, Seq("k"))
    intercept[IllegalArgumentException] {
      Snapshots.publishDeltaDV(spark,
        Seq((1L, 12L, "upsert")).toDF("k", "v", "_op"), base, Seq("k"))
    }
    intercept[IllegalArgumentException] {
      // reads of a hand-mixed stack refuse too, rather than reconciling
      // with the wrong discipline — simulate by asking the DV machinery
      // directly for a stack whose top is a key-delta
      Snapshots.publishDeltaDV(spark,
        Seq((2L, 20L, "upsert")).toDF("k", "v", "_op"), base, Seq("k"))
    }
    // the key-delta stack itself still reads fine
    assert(Snapshots.latestMerged(spark, base).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 11L)))
    Snapshots.retain(spark, base, keep = 0)
  }

  test("q_snap_merge_dv == q_snap_merge_mor == q_snap_merge: three write paths, one state") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val cow = rows(Layout.mergeIntoSnapshot(spark, sf))
    assert(rows(Layout.mergeIntoSnapshotDV(spark, sf)) === cow)
    assert(rows(Layout.mergeIntoSnapshotMoR(spark, sf)) === cow)
  }

  test("stable column ids: a declared rename reads through, a drop+add reads absent") {
    import graft.store.Snapshots
    import spark.implicits._
    val base = "graft_spec_colids"
    Snapshots.retain(spark, base, keep = 0)
    // v1 (k, name, score) -> v2 renames score->points -> v3 drops name
    // -> v4 re-adds a column ALSO called name (a different fact, so it
    // must mint a fresh id, never resurrect v1's)
    Snapshots.publish(spark, Seq((1L, "alice", 10L)).toDF("k", "name", "score"),
      base)
    Snapshots.publish(spark, Seq((1L, "alice", 11L)).toDF("k", "name", "points"),
      base, renames = Map("points" -> "score"))
    Snapshots.publish(spark, Seq((1L, 12L)).toDF("k", "points"), base)
    Snapshots.publish(spark, Seq((1L, 13L, "ALICE2")).toDF("k", "points", "name"),
      base)
    def one(df: org.apache.spark.sql.DataFrame) = df.head()
    // v1 under v4's schema: points surfaces v1's score DATA (the rename
    // chain preserved id), while v4's re-added name reads NULL from v1 —
    // v1's dead `name` column is NOT resurrected by its name
    val r1 = one(Snapshots.readVersionMapped(spark, base, 1L, asOf = 4L))
    assert(r1.getAs[Long]("k") === 1L)
    assert(r1.getAs[Long]("points") === 10L)
    assert(r1.isNullAt(r1.fieldIndex("name")), r1.toString)
    // ...where by-NAME resolution gets exactly that wrong
    val byName = one(Snapshots.readVersionAs(spark, base, 1L,
      Snapshots.versionSchema(spark, base, 4L).get))
    assert(byName.getAs[String]("name") === "alice")
    // the reverse direction: v4 under v1's schema — score carries v4's
    // points data, old name reads NULL
    val r4 = one(Snapshots.readVersionMapped(spark, base, 4L, asOf = 1L))
    assert(r4.getAs[Long]("score") === 13L)
    assert(r4.isNullAt(r4.fieldIndex("name")), r4.toString)
    // undeclared rename fails fast instead of silently minting an id
    intercept[IllegalArgumentException] {
      Snapshots.publish(spark, Seq((1L, 9L)).toDF("k", "pts"), base,
        renames = Map("pts" -> "no_such_column"))
    }
    Snapshots.retain(spark, base, keep = 0)
  }

  test("snapshot reads run no job at construction: the recorded schema replaces inference") {
    import graft.store.Snapshots
    import spark.implicits._
    val base = "graft_spec_read_nojob"
    Snapshots.retain(spark, base, keep = 0)
    Snapshots.publish(spark, Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("k", "s", "x"), base)
    Snapshots.publishDeltaDV(spark,
      Seq((2L, "b2", 3.5, "upsert")).toDF("k", "s", "x", "_op"), base, Seq("k"))
    assert(constructionJobs(Snapshots.readVersion(spark, base, 1L)) === 0)
    // the DV reconcile reads its anchor through the same path
    assert(constructionJobs(Snapshots.readVersionMerged(spark, base, 2L)) === 0)
    assert(Snapshots.readVersionMerged(spark, base, 2L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      === Set((1L, "a", 1.5), (2L, "b2", 3.5)))
    Snapshots.retain(spark, base, keep = 0)
  }

  test("recorded snapshot schema == parquet inference for base, key-delta and DV-delta versions") {
    import graft.store.Snapshots
    import spark.implicits._
    import org.apache.spark.sql.types.{ArrayType, DataType, StructType}
    def loose(t: DataType): DataType = t match {
      case ArrayType(e, _) => ArrayType(loose(e), containsNull = true)
      case other => other
    }
    val base = "graft_spec_schema_infer"
    val keyed = "graft_spec_schema_infer_keyed"
    Seq(base, keyed).foreach(Snapshots.retain(spark, _, keep = 0))
    val rows = Seq((1L, "a", 1.5, Seq(1, 2), java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, "b", 2.5, Seq(3), java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
    val cols = Seq("k", "s", "x", "arr", "ts")
    val ops = Seq((2L, "b2", 3.5, Seq(4), java.sql.Timestamp.valueOf("2024-01-03 00:00:00"),
      "upsert")).toDF(cols :+ "_op": _*)
    val vBase = Snapshots.publish(spark, rows.toDF(cols: _*), base)
    val vDv = Snapshots.publishDeltaDV(spark, ops, base, Seq("k"))
    Snapshots.publish(spark, rows.toDF(cols: _*), keyed)
    val vKey = Snapshots.publishDelta(spark, ops, keyed, Seq("k"))
    Seq((base, vBase), (base, vDv), (keyed, vKey)).foreach { case (b, v) =>
      val inferred = spark.read.parquet(Snapshots.versionPath(spark, b, v)).schema
      val recorded = Snapshots.versionSchema(spark, b, v).get
      // (name, type) per field; inference reads every level nullable
      def fields(st: StructType) = st.fields.map(f => (f.name, loose(f.dataType))).toSeq
      assert(fields(recorded) === fields(inferred), s"$b v$v")
      // and the read's frame carries exactly the inferred schema
      assert(Snapshots.readVersion(spark, b, v).schema === inferred, s"$b v$v")
    }
    Seq(base, keyed).foreach(Snapshots.retain(spark, _, keep = 0))
  }

  test("exactly-once CDC DV sink: one delta per micro-batch, redelivery no-op, state == batch apply") {
    import graft.store.Snapshots
    import spark.implicits._
    val base = "graft_spec_dv_sink"
    Snapshots.retain(spark, base, keep = 0)
    val t0 = (1L to 20L).map(k => (k, k * 10L)).toDF("k", "v")
    Snapshots.publish(spark, t0, base)
    // three CDC micro-batches (the foreachBatch body is exactly this
    // call), each delivered TWICE — at-least-once redelivery must be a
    // no-op, not a second stacked delta
    val batches = Seq(
      Seq((1L, 11L, "upsert"), (2L, 0L, "delete")),
      Seq((3L, 33L, "upsert"), (21L, 210L, "upsert")),
      Seq((21L, 211L, "upsert"), (4L, 0L, "delete")))
    batches.zipWithIndex.foreach { case (b, i) =>
      assert(Snapshots.publishDeltaDVBatch(spark, b.toDF("k", "v", "_op"),
        base, Seq("k"), i.toLong, "cdcq").isDefined, s"batch $i")
      assert(Snapshots.publishDeltaDVBatch(spark, b.toDF("k", "v", "_op"),
        base, Seq("k"), i.toLong, "cdcq") === None, s"redelivery $i")
    }
    assert(Snapshots.versions(spark, base).size === 4)
    // a DIFFERENT writer's batch 0 is a different transaction — it lands
    assert(Snapshots.publishDeltaDVBatch(spark,
      Seq((5L, 55L, "upsert")).toDF("k", "v", "_op"),
      base, Seq("k"), 0L, "otherq").isDefined)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = rows((batches :+ Seq((5L, 55L, "upsert")))
      .foldLeft(t0) { (acc, b) =>
        Snapshots.mergeApplyOf(acc, b.toDF("k", "v", "_op"), Seq("k"))
      })
    assert(rows(Snapshots.latestMerged(spark, base)) === want)
    // the last update for key 21 won (211, not the batch-1 value 210)
    assert(want.contains((21L, 211L)))
    Snapshots.retain(spark, base, keep = 0)
  }
}
