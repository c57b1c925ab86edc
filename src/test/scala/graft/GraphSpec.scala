package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Graph
import graft.sources.Tables

class GraphSpec extends SparkSpec {

  /** The reference edge source for the plain-Scala replays: one
    * (c_nationkey, s_nationkey) row per lineitem, joined without the
    * library's hints. */
  private def tradePairs: DataFrame = {
    val li = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(spark, sf).select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.supplier(spark, sf).select(col("s_suppkey"), col("s_nationkey"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
  }

  private def nationNames: Map[Long, String] = Tables.nation(spark, sf)
    .select(col("n_nationkey"), col("n_name")).collect()
    .map(r => r.getInt(0).toLong -> r.getString(1)).toMap

  /** The strong undirected edge list (above-average weight, w·|E| > Σw)
    * of the triangles and communities queries, collected. */
  private def strongEdges: Array[(Long, Long, Long)] = {
    val und = tradePairs
      .where(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy(least(col("c_nationkey"), col("s_nationkey")).as("a"),
        greatest(col("c_nationkey"), col("s_nationkey")).as("b"))
      .agg(count(lit(1)).as("w"))
      .collect().map(r => (r.getInt(0).toLong, r.getInt(1).toLong, r.getLong(2)))
    val sw = und.map(_._3).sum
    val ne = und.length.toLong
    und.filter { case (_, _, w) => w * ne > sw }
  }

  test("pagerank: every nation ranked, mass conserved within floor loss, deterministic") {
    val df = Graph.nationTradePageRank(spark, sf).cache()
    val nations = Tables.nation(spark, sf).count()
    assert(df.count() === nations)
    val agg = df.agg(sum("units").as("s"), min("units").as("mn")).collect().head
    // initial mass is 1e9 nano-units; every iteration's floor divisions
    // (and any dangling node) only DROP mass, and the teleport base
    // restores 0.15 of it — total stays in (0.5e9, 1e9]
    assert(agg.getLong(0) <= 1000000000L)
    assert(agg.getLong(0) > 500000000L)
    // every node keeps at least its teleport base
    assert(agg.getLong(1) >= 150000000L / nations - 1)
    // integer arithmetic end to end: a second run is bit-identical
    val again = Graph.nationTradePageRank(spark, sf)
    assert(df.select("n_name", "units").collect().toSeq ===
      again.select("n_name", "units").collect().toSeq)
    // more iterations keep total order stable for the top node (sanity
    // that iteration actually propagates weight, not just the base)
    val one = Graph.nationTradePageRank(spark, sf, iters = 1)
      .agg(sum("units")).collect().head.getLong(0)
    assert(one <= 1000000000L && one > 500000000L)
    df.unpersist()
  }

  test("pagerank: exact vs plain-Scala integer power-iteration replay") {
    val rows = Graph.nationTradePageRank(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // independent reimplementation: collect the same weighted edge list
    // (self-loops kept) and run the 5 exact integer steps in plain Scala
    val ew = tradePairs
      .groupBy(col("c_nationkey"), col("s_nationkey")).agg(count(lit(1)))
      .collect().map(r => (r.getInt(0).toLong, r.getInt(1).toLong, r.getLong(2)))
    val outW = ew.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val names = nationNames
    val n = names.size.toLong
    var units: Map[Long, Long] = names.keys.map(_ -> 1000000000L / n).toMap
    for (_ <- 1 to 5) {
      val contrib = ew.filter(e => units.contains(e._1)).groupBy(_._2)
        .view.mapValues(_.map { case (a, _, w) =>
          units(a) * w * 85L / (100L * outW(a)) }.sum).toMap
      units = units.map { case (v, _) => v -> (150000000L / n + contrib.getOrElse(v, 0L)) }
    }
    val expect = units.toSeq
      .map { case (v, u) => (names(v), u, u / 1000000000.0) }
      .sortBy { case (nm, u, _) => (-u, nm) }
    assert(rows === expect)
  }

  test("shortest paths: exact vs driver-side bounded Bellman-Ford, source at zero") {
    val df = Graph.boundedShortestPaths(spark, sf).cache()
    val rows = df.collect()
    // the source itself: cost 0, hops 0
    val src = rows.find(_.getString(0) == "NATION_0").get
    assert(src.getLong(1) === 0L && src.getInt(2) === 0)
    // independent reimplementation: collect the same edge list and run
    // the ≤4-hop DP in plain Scala — the engine must match it exactly
    val ew = tradePairs
      .where(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy(col("c_nationkey").as("a"), col("s_nationkey").as("b"))
      .agg(count(lit(1)).as("w"))
      .collect().map(r => (r.getInt(0).toLong, r.getInt(1).toLong, r.getLong(2)))
    val mw = ew.map(_._3).max
    val edges = ew.map { case (a, b, w) => (a, b, mw + 1 - w) }
    var best = Map(0L -> ((0L, 0)))
    for (_ <- 1 to 4) {
      val relaxed = edges.flatMap { case (a, b, c) =>
        best.get(a).map { case (cost, hops) => b -> ((cost + c, hops + 1)) } }
      best = (best.toSeq ++ relaxed).groupBy(_._1)
        .map { case (n, vs) => n -> vs.map(_._2).min }
    }
    val names = nationNames
    val expect = best.toSeq
      .map { case (n, (c, h)) => (names(n), c, h) }
      .sortBy { case (nm, c, _) => (c, nm) }
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
      === expect)
    // deterministic: integer costs end to end
    assert(rows.toSeq === Graph.boundedShortestPaths(spark, sf).collect().toSeq)
    df.unpersist()
  }

  test("triangles: node participation sums to 3T, deterministic") {
    val df = Graph.tradeTriangles(spark, sf).cache()
    assert(df.count() === Tables.nation(spark, sf).count())
    // every node's count is the number of triangles it sits in, so the
    // column total is exactly 3 × the triangle count — an integer
    // conservation law that catches any double-counted orientation
    val total = df.agg(sum("n_triangles")).collect().head.getLong(0)
    assert(total % 3 === 0)
    // integer arithmetic end to end: re-run is bit-identical
    assert(df.collect().toSeq ===
      Graph.tradeTriangles(spark, sf).collect().toSeq)
    df.unpersist()
  }

  test("triangles: exact vs plain-Scala brute-force triple enumeration") {
    val rows = Graph.tradeTriangles(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // independent reimplementation: test every node triple a < b < c of
    // the strong edge set for all three edges
    val edges = strongEdges.map { case (a, b, _) => (a, b) }.toSet
    val names = nationNames
    val ids = names.keys.toSeq.sorted
    val tris = for {
      a <- ids; b <- ids if a < b && edges((a, b))
      c <- ids if b < c && edges((b, c)) && edges((a, c))
    } yield Seq(a, b, c)
    assert(tris.nonEmpty, "no strong triangle on this corpus")
    val perNode = tris.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expect = ids.map(v => (names(v), perNode.getOrElse(v, 0L)))
      .sortBy { case (nm, t) => (-t, nm) }
    assert(rows === expect)
  }

  test("communities: exact vs driver-side synchronous LPA replay, sizes consistent") {
    val df = Graph.tradeCommunities(spark, sf).cache()
    val rows = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === Tables.nation(spark, sf).count())
    // community_size must equal the actual label multiplicity
    val mult = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    rows.foreach { case (_, lbl, sz) => assert(sz === mult(lbl)) }
    // independent reimplementation: collect the same strong weighted
    // edge list and run Graph.lpaIters synchronous weighted-vote rounds
    // in plain Scala — tie-break (vote desc, label asc), absent voters
    // keep their label — the engine must match it exactly
    val sym = strongEdges.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    var labels: Map[Long, Long] = nationNames.keys.map(n => n -> n).toMap
    for (_ <- 0 until Graph.lpaIters) {
      val votes = sym.groupBy(_._1).map { case (src, es) =>
        val byLbl = es.groupBy { case (_, dst, _) => labels(dst) }
          .view.mapValues(_.map(_._3).sum).toSeq
        src -> byLbl.minBy { case (lbl, vw) => (-vw, lbl) }._1
      }
      labels = labels.map { case (n, l) => n -> votes.getOrElse(n, l) }
    }
    rows.foreach { case (name, lbl, _) =>
      val node = name.stripPrefix("NATION_").toLong
      assert(lbl === labels(node), s"label mismatch for $name")
    }
    // determinism: re-run is bit-identical
    assert(df.collect().toSeq === Graph.tradeCommunities(spark, sf).collect().toSeq)
    df.unpersist()
  }

  test("graph builders run their fact pass at construction: pinned job counts") {
    // the four builders are eager (Graph.graphMaxDriverEdges scaladoc):
    // the one collect of the nation-pair edge list (plus the nation ids
    // for pagerank and communities) runs while the frame is built, and
    // nothing else does
    val jobs = Seq(
      "pagerank" -> constructionJobs(Graph.nationTradePageRank(spark, sf)),
      "shortest" -> constructionJobs(Graph.boundedShortestPaths(spark, sf)),
      "triangles" -> constructionJobs(Graph.tradeTriangles(spark, sf)),
      "communities" -> constructionJobs(Graph.tradeCommunities(spark, sf)))
    assert(jobs === Seq("pagerank" -> 6, "shortest" -> 5,
      "triangles" -> 5, "communities" -> 6))
  }
}
