package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.explore.Stats
import graft.ops.{Dedup, Relational, Similarity}

/** Plan-shape assertions: each declared operator's physical plan must keep
  * the properties that make it survive a 100 TB scale-up — broadcasts where
  * dims are small, partial aggregation before every exchange, top-k without
  * global sorts, no cartesian products outside the bounded brute baselines.
  * String-level but deliberate: these are the facts `.explain("formatted")`
  * was used to verify while building, frozen as regressions. */
class PlanSpec extends SparkSpec {

  // executedPlan, not sparkPlan: exchanges are only inserted by the
  // EnsureRequirements preparation (the AQE wrapper prints the initial
  // physical plan including them). Cache cleared first: other suites'
  // .cache() calls would otherwise swap scans for InMemoryTableScan and
  // change the node counts under assertion.
  private def plan(df: DataFrame): String = {
    spark.sharedState.cacheManager.clearCache()
    df.queryExecution.executedPlan.toString
  }

  private def countOccurrences(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)

  test("bench checksum evaluation preserves the final presentation sort") {
    val df = Relational.pricingSummary(spark, sf) // ends in ORDER BY
    // the timed plan must still contain the Sort: first(hash) is an
    // order-sensitive aggregate, so EliminateSorts cannot drop the
    // query's ORDER BY the way it does under count()/bit_xor alone
    val timed = plan(Timing.checksumPlan(df))
    assert(timed.contains("Sort "), timed)
    // counterfactual: an order-irrelevant aggregate over the same query
    // DOES lose the sort — proving first(hash) is load-bearing
    val counted = plan(df.groupBy().count())
    assert(!counted.contains("Sort "), counted)
  }

  test("q1 pricing summary: one shuffle, partial+final hash aggregation") {
    val p = plan(Relational.pricingSummary(spark, sf))
    assert(countOccurrences(p, "Exchange hashpartitioning") === 1, p)
    // partial + final = two HashAggregate nodes around the one exchange
    assert(countOccurrences(p, "HashAggregate") === 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q3 top revenue orders: top-k is TakeOrderedAndProject, no global sort") {
    val p = plan(Relational.topRevenueOrders(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q5 star join: all dimension chains broadcast, no cartesian product") {
    val p = plan(Relational.nationRevenue(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("exact top-k cosine: bounded-heap aggregate in partial mode before the exchange") {
    val p = plan(Similarity.topKCosine(spark, sf, nQueries = 3, k = 5))
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_graft_top_k"), p)
    // queries broadcast: the candidate side never shuffles pre-aggregation
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("kde: grid broadcast to samples; shuffle output bounded by grid points") {
    val p = plan(Stats.kdeDensity(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // bounds agg + grid-group agg: every exchange moves O(points) rows
    assert(!p.contains("CartesianProduct"), p)
  }

  test("star-capped band joins reuse the signature pipeline's exchange") {
    // starCapSides filters the BUILD side of the band self-join while
    // the probe side stays the raw banding — the two sides' exchanges
    // are plan-identical (same child pipeline incl. the deliberately
    // pinned isNotNull(id), same hash partitioning), so AQE's stage
    // reuse must compute the signature pipeline ONCE. A second full
    // signature pass here was a measured 2-3x regression on
    // q_dedup_simhash_pairs at every local corpus point. Reuse is a
    // RUNTIME property under AQE: execute, then read the final plan.
    def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
      spark.sharedState.cacheManager.clearCache()
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    val simhash = finalPlan(Dedup.simhashDupPairs(spark, sf))
    assert(simhash.contains("ReusedExchange") ||
      simhash.contains("ShuffleQueryStage"), simhash)
    Seq(Dedup.simhashDupPairs(spark, sf),
        Dedup.minhashDupPairs(spark, sf),
        Dedup.embeddingDupPairsLshAdaptive(spark, sf)).foreach { df =>
      val p = finalPlan(df)
      assert(p.contains("ReusedExchange"), p.take(4000))
    }
  }

  test("minhash LSH pairs: banding join is a real join, not a cartesian product") {
    val p = plan(Dedup.minhashDupPairs(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("histogram: bounds row broadcast, never collected") {
    val p = plan(Stats.histogram(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("grouped top-k via bounded-heap aggregate: partial mode before the exchange") {
    val p = plan(Relational.topPartsPerBrandAgg(spark, sf))
    // partial graft_top_k caps map-side buffers at k per group — the
    // window form can't do this, which is why this variant exists
    assert(p.contains("partial_graft_top_k"), p)
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("bloom-filtered join: runtime bloom filter injected into the fact scan") {
    val df = Relational.bloomFilteredJoinRevenue(spark, sf)
    // the builder states the filter in its own plan: the fact side carries
    // might_contain(bloom_filter_agg subquery, xxhash64(l_orderkey)) ahead
    // of the join
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("might_contain"), opt)
    // no forked session: the frame belongs to the caller's session
    assert(df.sparkSession eq spark)
    // and the merge hint keeps the sort-merge join
    val p = plan(df)
    assert(p.contains("SortMergeJoin"), p)
  }

  test("bigram counts: hash-keyed top-k is a TakeOrderedAndProject, strings join via broadcast") {
    val p = plan(graft.ops.Text.bigramCounts(spark, sf))
    // selection happens on 8-byte keys with a bounded top-k, never a
    // global sort of the full count set
    assert(p.contains("TakeOrderedAndProject"), p)
    // the winning keys broadcast back against the occurrence stream
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("repetition signals: pure per-row projection; only exchange is the final sort") {
    val p = plan(graft.ops.Text.repetitionSignals(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // both signals fold per-row over the hashed-token arrays: no
    // explode, no aggregation shuffle — one range exchange for the
    // presentation order
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Generate"), p)
    assert(countOccurrences(p, "Exchange ") === 1, p)
  }

  test("stratified sample: pushed filter; only exchange is the final sort") {
    val p = plan(Relational.stratifiedSample(spark, sf))
    assert(!p.contains("Exchange hashpartitioning"), p)
    // exactly one exchange total, and it's the presentation-order range sort
    assert(countOccurrences(p, "Exchange ") === 1, p)
    assert(p.contains("Exchange rangepartitioning"), p)
  }

  test("oov rate: the (source, token) aggregate is computed once, stage reused") {
    // exchange reuse is an AQE runtime decision: execute, then read the
    // final adaptive plan for the shared (source, token) shuffle stage
    spark.sharedState.cacheManager.clearCache()
    val df = graft.ops.Text.oovRate(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p)
    assert(p.toLowerCase.contains("reused"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ovr auc: melt collapses map-side; one window over the distinct-score frame") {
    val p = plan(graft.model.Metrics.linearAucOvr(spark, sf))
    // the 10x melt must pre-aggregate in partial mode before its shuffle
    assert(p.contains("partial_sum") || p.contains("Partial"), p)
    assert(countOccurrences(p, "Window") === 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("psi drift: stats rows broadcast back, never a cartesian product") {
    val p = plan(graft.ops.Features.psiDrift(spark, sf))
    // min/max frame and totals frame each broadcast to their consumers
    assert(countOccurrences(p, "BroadcastExchange") >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pmi: top-k is TakeOrderedAndProject over the pair frame, no global sort") {
    val p = plan(graft.ops.Text.pmiCollocations(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("shortest paths: relaxation rounds join broadcast distance frames") {
    // the relaxation rounds run on the driver at construction: the plan
    // is one broadcast of the driver-computed distance frame into the
    // nation name join — no iteration joins left in the plan
    val q = plan(graft.ops.Graph.boundedShortestPaths(spark, sf))
    assert(q.contains("LocalTableScan"), q)
    assert(q.contains("BroadcastExchange"), q)
    assert(!q.contains("CartesianProduct"), q)
  }

  test("rrf fusion: query postings broadcast into the index, no corpus pair scan") {
    val p = plan(Similarity.hybridRrfFusion(spark, sf))
    // the query slice joins the posting index via broadcast — the full
    // doc_a<doc_b pair self-join must NOT appear in this plan
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("winsorize: bounds broadcast back, two aggregates, no sort before them") {
    val p = plan(graft.ops.Features.winsorize(spark, sf))
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    // percentile + clamped stats: exactly two aggregation trees
    // (partial+final each) over the fact scans
    assert(countOccurrences(p, "ObjectHashAggregate") +
      countOccurrences(p, "HashAggregate") >= 4, p)
  }

  test("approx percentiles: ONE sketch aggregate, not four") {
    val p = plan(Relational.approxPercentiles(spark, sf))
    // the fused array-argument form carries a single percentile_approx
    // buffer through partial+final — four scalar sketches would show
    // four buffers here (the 4x plan defect caught by the sf1 audit)
    assert(countOccurrences(p, "percentile_approx") <= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  /** Run `body` with AQE and the engine's own auto-broadcast estimation
    * disabled, so the ONLY possible source of a BroadcastExchange in the
    * built plan is an explicit hint — the configuration under which the
    * size-guard assertions below are exact, not threshold-dependent. */
  private def withOnlyHintedBroadcasts[T](body: => T): T = {
    val confs = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = confs.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dimHint: the size guard alone decides broadcast vs shuffle") {
    withOnlyHintedBroadcasts {
      val o = graft.sources.Tables.orders(spark, sf).select("o_custkey")
      def joined(dim: DataFrame) =
        o.join(dim, col("o_custkey") === col("c_custkey"))
      val dim = graft.sources.Tables.customer(spark, sf).select("c_custkey")
      // under the guard (test-SF customer ≪ 64 MiB): hint applied
      val under = plan(joined(graft.ops.Hints.dimHint(dim)))
      assert(under.contains("BroadcastHashJoin"), under)
      // above the guard (1-byte ceiling): hint withheld — with the
      // engine estimator off this MUST fall back to a shuffled join,
      // which is exactly what a 100 TB customer frame gets
      val over = plan(joined(graft.ops.Hints.dimHint(dim, maxBytes = 1L)))
      assert(!over.contains("BroadcastExchange"), over)
      assert(over.contains("SortMergeJoin") || over.contains("ShuffledHashJoin"),
        over)
    }
  }

  test("dimHint fails SAFE under wrong estimates: over-estimated tiny frame stays un-hinted") {
    // round-12 verdict #5: the guard trusts optimizedPlan.stats, and
    // without CBO those estimates for derived frames are
    // size-of-child — an OVER-estimate. This pins the fail-safe
    // directionality: a frame that is actually 2 rows but estimated at
    // ~1.6 GB (range filtered without CBO selectivity) must take the
    // un-hinted path, so a mis-estimate can only cost a shuffle, never
    // force a driver-OOM broadcast. If a Spark upgrade or CBO flag flip
    // ever turns this into an under-estimate, this test fails loudly.
    val tiny = spark.range(200000000L)
      .where(pmod(col("id"), lit(100000000L)) === 0)
      .select(col("id").as("k"))
    val est = tiny.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(est > BigInt(graft.ops.Hints.dimMaxBytes),
      s"precondition: estimate $est must exceed the guard")
    // the guard returns the frame UNTOUCHED (reference-equal): no hint
    // node enters the plan regardless of what AQE later decides
    assert(graft.ops.Hints.dimHint(tiny) eq tiny)
    // and a genuinely small-estimated frame still gets the hint
    val small = spark.range(4L).select(col("id").as("k"))
    assert(!(graft.ops.Hints.dimHint(small) eq small))
  }

  test("knn vote: corpus-sized label frame is never the broadcast side") {
    withOnlyHintedBroadcasts {
      val exec = Similarity.knnLabelVote(spark, sf)
        .queryExecution.executedPlan
      val bxs = exec.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }
      // the two label joins build on the hinted tiny sides + the
      // topKCosine query broadcast — at least three hinted exchanges
      assert(bxs.size >= 3, exec.toString)
      // invariant (round-11 verdict #1a): every broadcast subtree is
      // bounded — EITHER its output passed through a reducing aggregate/
      // window (O(nQueries·k) rows) OR every embeddings scan under it
      // carries the vec_id < nQueries pushdown. A bare corpus-label scan
      // under an exchange fails both arms.
      bxs.foreach { b =>
        val s = b.toString
        val bounded = s.contains("HashAggregate") || s.contains("Window") ||
          b.collect {
            case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
          }.forall(_.toString.contains("LessThan(vec_id"))
        assert(bounded, s)
      }
    }
  }

  test("salted skewed aggregate: two aggregation levels, salt in the first shuffle key") {
    val p = plan(Relational.saltedSkewedAgg(spark, sf))
    // phase 1 shuffles on (o_custkey, salt) — the hot key fans out;
    // phase 2 shuffles on o_custkey alone over the collapsed frame
    assert(p.contains("hashpartitioning(o_custkey"), p)
    assert(countOccurrences(p, "Exchange hashpartitioning") >= 2, p)
    assert(p.contains("salt"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("deduped corpus + training corpus: drop-list anti-join is size-guarded") {
    withOnlyHintedBroadcasts {
      // the guard hints the drop list at test SF (it fits), so the plan
      // keeps the broadcast anti-join here — while the SAME call site
      // falls back to a shuffled left_anti once the optimizer estimate
      // crosses the guard (proven by the dimHint test above; these pin
      // the call sites actually routing through the guard)
      val p1 = plan(Dedup.dedupedCorpus(spark, sf))
      assert(p1.contains("BroadcastHashJoin") && p1.contains("LeftAnti"), p1)
      val p2 = plan(graft.ops.Text.trainingCorpus(spark, sf))
      assert(p2.contains("BroadcastHashJoin") && p2.contains("LeftAnti"), p2)
    }
  }

  test("snapshot merge apply: one left-anti equi-join, never a nested loop") {
    import org.apache.spark.sql.functions.when
    val target = spark.range(1000)
      .select(col("id").as("k"), (col("id") * 2).as("v"))
    val changes = spark.range(100)
      .select(col("id").as("k"), (col("id") * 3).as("v"),
        when(pmod(col("id"), lit(2)) === 0, "upsert")
          .otherwise("delete").as("_op"))
    val p = plan(graft.store.Snapshots.mergeApplyOf(target, changes, Seq("k")))
    // the matched-key drop is a real anti equi-join on the key...
    assert(p.contains("LeftAnti"), p)
    // ...and nothing degenerates into a per-row scan of the other side
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }
}
