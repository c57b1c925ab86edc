package graft

import org.apache.spark.sql.functions._

import graft.ops.Relational
import graft.sources.Tables

class RelationalSpec extends SparkSpec {

  test("pricing summary: one row per (returnflag, linestatus), counts sum to filtered input") {
    val df = Relational.pricingSummary(spark, sf).cache()
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 9) // <=3 flags x <=3 statuses
    val nIn = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp")).count()
    assert(rows.map(_.getAs[Long]("count_order")).sum === nIn)
    // avg consistency: avg_qty ~= sum_qty / count
    rows.foreach { r =>
      val approx = r.getAs[Double]("sum_qty") / r.getAs[Long]("count_order")
      assert(math.abs(approx - r.getAs[Double]("avg_qty")) < 0.01)
    }
  }

  test("top revenue orders: 10 rows, revenue strictly ordered desc with key tiebreak") {
    val rows = Relational.topRevenueOrders(spark, sf).collect()
    assert(rows.length === 10)
    val revs = rows.map(_.getAs[Double]("rev"))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
  }

  test("nation revenue joins all dims: every nation belongs to a region") {
    val df = Relational.nationRevenue(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 25)
    assert(rows.forall(r => r.getAs[String]("r_name") != null))
    assert(rows.forall(_.getAs[Long]("n_items") > 0))
  }

  test("top-3 parts per brand: rank bounded, prices non-increasing within brand") {
    val rows = Relational.topPartsPerBrand(spark, sf).collect()
    assert(rows.forall(r => r.getAs[Long]("rnk") >= 1 && r.getAs[Long]("rnk") <= 3))
    rows.groupBy(_.getAs[String]("p_brand")).foreach { case (_, g) =>
      val byRank = g.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("p_retailprice"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("bounded-heap grouped top-k equals the window form row for row") {
    val win = Relational.topPartsPerBrand(spark, sf).collect().toSeq
    val agg = Relational.topPartsPerBrandAgg(spark, sf).collect().toSeq
    assert(agg === win)
  }

  test("bloom-filtered join equals the plain join result") {
    val bloom = Relational.bloomFilteredJoinRevenue(spark, sf).collect().toSeq
    val plain = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf)
          .where(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("l_shipdate")).cast("int").as("yr"),
        month(col("l_shipdate")).cast("int").as("mo"))
      .agg(round(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100 + 0.5)) / 100, 2).as("rev"),
        count(lit(1)).as("n_items"))
      .orderBy(col("yr"), col("mo"))
      .collect().toSeq
    assert(bloom === plain)
    assert(bloom.nonEmpty)
  }

  test("part supplier breadth: counts bounded by supplier population, excluded brand absent") {
    val rows = Relational.partSupplierBreadth(spark, sf).collect()
    assert(rows.nonEmpty)
    val nSupp = Tables.supplier(spark, sf).count()
    rows.foreach { r =>
      assert(r.getAs[String]("p_brand") !== "Brand#45")
      val c = r.getAs[Long]("supplier_cnt")
      assert(c >= 1 && c <= nSupp)
    }
  }

  test("supplier revenue leaderboard: k rows, ordered, names present") {
    val rows = Relational.supplierRevenue(spark, sf).collect()
    assert(rows.length === 10)
    assert(rows.forall(_.getAs[String]("s_name") != null))
    val revs = rows.map(_.getAs[Double]("rev"))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
  }

  test("distinct counts: exact values vs direct computation; approx HLL within 5%") {
    val r = Relational.distinctCounts(spark, sf).collect().head
    val li = Tables.lineitem(spark, sf)
    assert(r.getAs[Long]("n_rows") === li.count())
    val exactOrders = li.select("l_orderkey").distinct().count()
    assert(r.getAs[Long]("n_orders") === exactOrders)
    // default HLL++ rsd is 0.05 → 2-sigma envelope of 10%
    val approx = li.agg(approx_count_distinct(col("l_orderkey")))
      .collect().head.getLong(0)
    assert(math.abs(approx - exactOrders).toDouble / exactOrders < 0.10)
  }

  test("set ops partition the customer keyspace") {
    val withO = Relational.customersWithOrders(spark, sf).count()
    val noO = Tables.customer(spark, sf)
      .join(Tables.orders(spark, sf), col("c_custkey") === col("o_custkey"), "left_anti")
      .count()
    assert(withO + noO === Tables.customer(spark, sf).count())
  }

  test("rollup: grand-total row equals full aggregate; level counts consistent") {
    val rows = Relational.rollupAcctbal(spark, sf).collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length === 1)
    assert(grand.head.getAs[Long]("n_cust") === Tables.customer(spark, sf).count())
    val regionRows = rows.filter(r => !r.isNullAt(0) && r.isNullAt(1))
    assert(regionRows.map(_.getAs[Long]("n_cust")).sum === grand.head.getAs[Long]("n_cust"))
  }

  test("semi join returns a subset of orders keyed uniquely") {
    val df = Relational.ordersWithBigLines(spark, sf)
    val n = df.count()
    assert(n > 0 && n <= Tables.orders(spark, sf).count())
    assert(df.select("o_orderkey").distinct().count() === n)
  }

  test("grouping sets: three levels, grand total covers all orders") {
    val df = Relational.groupingSetsRevenue(spark, sf).cache()
    val grand = df.filter(col("n_name").isNull && col("c_mktsegment").isNull)
    assert(grand.count() === 1)
    assert(grand.head.getAs[Long]("n_orders") === Tables.orders(spark, sf).count())
    // no (n_name, segment) pair rows in this grouping-set spec
    assert(df.filter(col("n_name").isNotNull && col("c_mktsegment").isNotNull)
      .count() === 0)
  }

  test("except all: keeps multiplicity and is contained in the urgent set") {
    val urgent = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT").count()
    val n = Relational.urgentMinusBigLines(spark, sf).count()
    assert(n <= urgent)
  }

  test("pivot: F/O columns match direct filtered sums") {
    val piv = Relational.pivotQuantity(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getAs[Double]("F"), r.getAs[Double]("O"))).toMap
    val direct = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("s")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("s")).toMap
    piv.foreach { case (rf, (f, o)) =>
      assert(f === direct((rf, "F")))
      assert(o === direct((rf, "O")))
    }
  }

  test("string/date funcs: groups cover all orders, tags well-formed") {
    val rows = Relational.stringDateFuncs(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n")).sum === Tables.orders(spark, sf).count())
    rows.foreach { r =>
      assert(r.getAs[String]("tag").matches("[a-z]+_.{1,3}"))
      val yr = r.getAs[Int]("yr"); val mo = r.getAs[Int]("mo")
      assert(yr >= 1990 && yr <= 2005 && mo >= 1 && mo <= 12)
    }
  }

  test("percentiles: monotone p25 <= p50 <= p75 <= p95 per group") {
    Relational.percentiles(spark, sf).collect().foreach { r =>
      val Seq(p25, p50, p75, p95) =
        Seq("p25", "p50", "p75", "p95").map(r.getAs[Double])
      assert(p25 <= p50 && p50 <= p75 && p75 <= p95)
    }
  }

  test("math funcs: values bounded and finite") {
    Relational.mathFuncs(spark, sf).collect().foreach { r =>
      Seq("avg_sqrt_qty", "avg_ln_price", "max_disc_sq", "avg_abs_dev", "max_rate")
        .foreach { c =>
          val v = r.getAs[Double](c)
          assert(!v.isNaN && !v.isInfinite && v >= 0.0)
        }
    }
  }

  test("cube: grand total equals full aggregate, 4 grouping levels present") {
    val df = Relational.cubeRevenue(spark, sf).cache()
    val grand = df.filter(col("r_name").isNull && col("c_mktsegment").isNull)
      .collect()
    assert(grand.length === 1)
    assert(grand.head.getAs[Long]("n_orders") === Tables.orders(spark, sf).count())
    val byRegion = df.filter(col("r_name").isNotNull && col("c_mktsegment").isNull)
    val byBoth = df.filter(col("r_name").isNotNull && col("c_mktsegment").isNotNull)
    assert(byRegion.agg(sum("n_orders")).head.getLong(0) ===
      byBoth.agg(sum("n_orders")).head.getLong(0))
  }

  test("broadcast hint survives planning in the star join") {
    val plan = Relational.nationRevenue(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
  }

  test("filter and projection push into the parquet scan") {
    val plan = Relational.pricingSummary(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"), plan)
  }

  test("bucketed fact-fact join runs with ZERO shuffle exchanges") {
    val df = Relational.bucketedJoinRevenue(spark, sf)
    df.collect() // finalize the adaptive plan before inspecting it
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected merge join in:\n$plan")
    val nonBroadcast = plan.replace("BroadcastExchange", "")
    assert(!nonBroadcast.contains("Exchange"),
      s"expected no shuffle exchange in:\n$plan")
    // same result as the unbucketed join path
    val expect = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("rev"),
        count(lit(1)).as("n_items"))
      .orderBy(col("rev").desc, col("o_orderkey")).limit(10)
      .collect().toSeq
    assert(df.collect().toSeq === expect)
  }

  test("correlated scalar subquery decorrelates and returns one row") {
    val rows = Relational.smallQuantityRevenue(spark, sf).collect()
    assert(rows.length === 1)
  }

  test("correlated IN subquery returns a subset of orders") {
    val late = Relational.lateShippedOrders(spark, sf).collect()
    val nOrders = Tables.orders(spark, sf).count()
    assert(late.length > 0 && late.length < nOrders)
    // keys are distinct (semi-join semantics, no multiplicity from lineitem)
    assert(late.map(_.getLong(0)).distinct.length === late.length)
  }

  test("nation-pair trade volume: symmetric pair coverage, years bounded") {
    val rows = Relational.nationTradeVolume(spark, sf).collect()
    assert(rows.forall { r =>
      val y = r.getAs[Int]("l_year"); y >= 1996 && y <= 1997
    })
    assert(rows.forall(r =>
      r.getAs[String]("supp_nation") != r.getAs[String]("cust_nation")))
  }

  test("partition-pruned scan reads exactly one o_year partition") {
    val df = Relational.partitionPrunedRevenue(spark, sf, yr = 1997)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("o_year"), plan)
    // the physical scan must have pruned to a single partition directory
    // (sparkPlan, not executedPlan: AQE wraps stages into leaf nodes)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.head.relation.location.listFiles(
      scans.head.partitionFilters, scans.head.dataFilters).length === 1)
    // and the answer equals the unpartitioned computation
    val expect = Tables.orders(spark, sf)
      .where(year(col("o_orderdate")) === 1997)
      .groupBy(month(col("o_orderdate")).cast("int").as("mo"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("mo")).collect().toSeq
    assert(df.collect().toSeq === expect)
  }

  test("salted join equals the plain join") {
    val salted = Relational.saltedJoinRevenue(spark, sf).collect().toSeq
    val plain = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("rev"),
        count(lit(1)).as("n_items"))
      .orderBy(col("o_orderpriority")).collect().toSeq
    assert(salted === plain)
  }

  test("window rank breadth: k rows per segment, quartiles and ranks consistent") {
    val rows = Relational.customerBalanceWindows(spark, sf).collect()
    val bySeg = rows.groupBy(_.getAs[String]("c_mktsegment"))
    bySeg.foreach { case (_, rs) =>
      assert(rs.length <= 5)
      assert(rs.forall(r => r.getAs[Long]("quartile") >= 1 && r.getAs[Long]("quartile") <= 4))
      assert(rs.forall(r => r.getAs[Double]("pct_rnk") >= 0.0 && r.getAs[Double]("pct_rnk") <= 1.0))
      val topBal = rs.map(_.getAs[Double]("top_bal")).distinct
      assert(topBal.length === 1) // first_value constant within the segment
      assert(rs.forall(_.getAs[Double]("c_acctbal") <= topBal.head))
    }
  }

  test("full outer join: both null sides exercised and coalesced to zero") {
    val rows = Relational.nationPartiesOuter(spark, sf).collect()
    assert(rows.nonEmpty)
    // sparse filters should leave at least one side-less nation each way
    // at this SF; tolerate either but require no nulls in the output
    rows.foreach { r =>
      assert(!r.anyNull)
      assert(r.getAs[Long]("n_cust") > 0 || r.getAs[Long]("n_supp") > 0)
    }
  }

  test("deterministic stratified sample honors per-class rates") {
    val totals = Tables.documents(spark, sf).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = Relational.stratifiedSample(spark, sf).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Relational.stratRates.foreach { case (lang, k) =>
      if (totals.getOrElse(lang, 0L) >= 20) {
        val rate = kept.getOrElse(lang, 0L).toDouble / totals(lang)
        assert(math.abs(rate - 1.0 / k) < 0.2,
          s"$lang kept rate $rate vs expected ${1.0 / k}")
      }
    }
  }

  test("lateral top-n decorrelates and equals the window-rank recompute") {
    val df = Relational.regionTopNationsLateral(spark, sf)
    // the logical plan is a LateralJoin; the executed plan must be the
    // decorrelated join + bounded rank, never a per-row nested loop
    assert(df.queryExecution.analyzed.toString.contains("LateralJoin"))
    val got = df.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("r_name")).orderBy(col("bal").desc, col("n_name"))
    val want = Tables.customer(spark, sf)
      .join(Tables.nation(spark, sf), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, sf), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(col("c_acctbal")), 2).as("bal"))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= 2)
      .orderBy(col("r_name"), col("bal").desc, col("n_name"))
      .select("r_name", "n_name", "bal")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("NOT IN plans a null-aware anti join and matches the anti-join recompute") {
    val df = Relational.customersNoUrgentOrders(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // Spark renders the NAAJ flag as a trailing `true` on the
    // BroadcastHashJoin LeftAnti line
    assert(p.contains("LeftAnti"), p)
    assert(p.linesIterator.exists(l =>
      l.contains("LeftAnti") && l.contains("true")), p)
    // o_custkey has no actual nulls in this corpus, so 3VL NOT IN and the
    // plain anti join agree — the recompute is the semantic reference
    val got = df.collect().map(_.getLong(0)).toSeq
    val want = Tables.customer(spark, sf)
      .join(Tables.orders(spark, sf)
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .select("c_custkey").orderBy("c_custkey")
      .collect().map(_.getLong(0)).toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("group reservoir sample: exactly k per group, equals hash-rank recompute, no window") {
    val k = 5
    val out = Relational.groupReservoirSample(spark, sf, k).cache()
    val types = Tables.events(spark, sf).select("event_type").distinct().count()
    assert(out.count() === k * types)
    val perType = out.groupBy("event_type").count()
    assert(perType.filter(col("count") =!= k).count() === 0)
    // semantic reference: window rank over (polyHash, event_id)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(graft.functions.GraftFunctions
        .polyHash(col("event_id").cast("string")), col("event_id"))
    val ref = Tables.events(spark, sf)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("event_type", "event_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val got = out.select("event_type", "event_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === ref)
    // the operator is the bounded-heap aggregate, never a window sort
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p)
    out.unpersist()
  }

  test("sampleBy: seed-deterministic, per-class proportions near fractions") {
    val a = Relational.bernoulliStratifiedSample(spark, sf).collect()
    val b = Relational.bernoulliStratifiedSample(spark, sf).collect()
    assert(a.toSeq === b.toSeq) // same seed, same sample
    val totals = Tables.documents(spark, sf).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = a.groupBy(_.getString(1)).view.mapValues(_.length.toLong).toMap
    Relational.stratRates.foreach { case (lang, k) =>
      if (totals.getOrElse(lang, 0L) >= 30) {
        val rate = kept.getOrElse(lang, 0L).toDouble / totals(lang)
        assert(math.abs(rate - 1.0 / k) < 0.25,
          s"$lang sampleBy rate $rate vs fraction ${1.0 / k}")
      }
    }
  }

  test("HLL rollup: union of nation sketches == sketching the region directly; error bounded") {
    val rolled = Relational.hllSketchRollup(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("approx_cust")).toMap
    val base = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, sf), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, sf), col("n_regionkey") === col("r_regionkey"))
    // sketching each region directly (no nation level) must give the
    // identical estimate: HLL union is exact over sketch state
    val direct = base.groupBy(col("r_name"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("o_custkey"))).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rolled === direct)
    val exact = base.groupBy(col("r_name"))
      .agg(countDistinct(col("o_custkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rolled.foreach { case (region, est) =>
      val rel = math.abs(est - exact(region)).toDouble / exact(region)
      assert(rel <= 0.05, s"$region estimate $est vs exact ${exact(region)}")
    }
  }

  test("approx_count_distinct within rsd envelope of exact") {
    val exact = Relational.distinctCounts(spark, sf).head()
    val approx = Relational.approxDistinctCounts(spark, sf).head()
    for ((e, a) <- Seq(
        (exact.getAs[Long]("n_orders"), approx.getAs[Long]("approx_orders")),
        (exact.getAs[Long]("n_parts"), approx.getAs[Long]("approx_parts")),
        (exact.getAs[Long]("n_supps"), approx.getAs[Long]("approx_supps")))) {
      val rel = math.abs(a - e).toDouble / e
      assert(rel <= 0.15, s"approx $a vs exact $e: rel err $rel")
    }
  }

  test("approx percentiles near exact interpolated percentiles") {
    val exact = Relational.percentiles(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    Relational.approxPercentiles(spark, sf).collect().foreach { a =>
      val e = exact(a.getString(0))
      Seq("p25", "p50", "p75", "p95").foreach { c =>
        val rel = math.abs(a.getAs[Double](c) - e.getAs[Double](c)) /
          math.max(1.0, math.abs(e.getAs[Double](c)))
        assert(rel <= 0.05, s"${a.getString(0)}.$c rel err $rel")
      }
    }
  }

  test("salted two-phase aggregate equals the plain single-phase aggregate") {
    import graft.sources.Tables
    val salted = Relational.saltedSkewedAgg(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_parts"), r.getAs[Double]("rev"),
          r.getAs[Long]("n_items"))).toMap
    val plain = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100 + 0.5).as("cents"))
      .join(Tables.orders(spark, sf).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        round(sum(col("cents")) / 100, 2).as("rev"),
        count(lit(1)).as("n_items"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_parts"), r.getAs[Double]("rev"),
          r.getAs[Long]("n_items"))).toMap
    assert(salted.nonEmpty)
    assert(salted === plain)
  }
}
