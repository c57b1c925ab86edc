package graft

import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.sources.Tables

class DedupSpec extends SparkSpec {

  /** Driver-side union-find (components = minimum label) — the
    * independent replay oracle for the contraction and increment specs. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  test("exact dedup: one row per distinct text, copies sum to row count") {
    val docs = Tables.documents(spark, sf)
    val rows = Dedup.exactDedup(spark, sf).collect()
    assert(rows.length === docs.select(col("text")).distinct().count())
    assert(rows.map(_.getAs[Long]("n_copies")).sum === docs.count())
  }

  test("hash-based exact dedup groups identically to text-based") {
    val byText = Dedup.exactDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val byHash = Dedup.exactDedupByHash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(byText === byHash)
  }

  test("minhash signatures: one per doc, all in [0, P)") {
    val sig = Dedup.minhashSignatures(spark, sf).collect()
    assert(sig.length === Tables.documents(spark, sf).count())
    sig.foreach { r =>
      (0 until Dedup.numHashes).foreach { j =>
        val s = r.getAs[Long](s"sig_$j")
        assert(s >= 0 && s < Dedup.P)
      }
    }
  }

  test("minhash LSH pairs: subset of brute-force pairs with high recall") {
    val brute = Dedup.jaccardPairsBrute(spark, sf, maxDocId = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashDupPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "corpus should contain planted near-dups")
    // precision is exact: every LSH pair is Jaccard-verified
    assert(lsh.subsetOf(brute))
    val recall = lsh.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.8, s"minhash recall $recall below 0.8")
  }

  test("simhash: near-dup texts land within small hamming distance") {
    val sig = Dedup.simhash(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sig.size === Tables.documents(spark, sf).count())
    val nearDups = Dedup.jaccardPairsBrute(spark, sf, maxDocId = Long.MaxValue,
      minJaccard = 0.95).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nearDups.nonEmpty)
    val hammings = nearDups.map { case (a, b) =>
      java.lang.Long.bitCount(sig(a) ^ sig(b))
    }
    // ≥95% shingle overlap → expect most simhashes within a few bits
    assert(hammings.count(_ <= 3).toDouble / hammings.length >= 0.7)
  }

  test("simhash pairs: hamming verified and consistent with signatures") {
    val sig = Dedup.simhash(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    val pairs = Dedup.simhashDupPairs(spark, sf).collect()
    pairs.foreach { r =>
      val (a, b, h) = (r.getLong(0), r.getLong(1), r.getAs[Int]("hamming"))
      assert(a < b)
      assert(h <= 3)
      assert(h === java.lang.Long.bitCount(sig(a) ^ sig(b)))
    }
  }

  test("dup clusters: edge endpoints share a rep; rep is the component minimum") {
    val edges = Dedup.minhashDupPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val rep = Dedup.dupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every edge endpoint is labeled, and both ends agree
    edges.foreach { case (a, b) =>
      assert(rep.contains(a) && rep.contains(b))
      assert(rep(a) === rep(b), s"edge ($a,$b) split across clusters")
    }
    // rep is a member of its own cluster and is the minimum member
    rep.groupBy(_._2).foreach { case (r, members) =>
      assert(members.keySet.min === r)
    }
    // reference union-find over the same edges gives identical components
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    rep.foreach { case (d, r) => assert(find(d) === r, s"doc $d") }
  }

  test("deduped corpus: keeps exactly the cluster representatives plus untouched docs") {
    val clusters = Dedup.dupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_rep")).toMap
    val all = Tables.documents(spark, sf).collect().map(_.getAs[Long]("doc_id")).toSet
    val expectKeep = all.filter(d => clusters.getOrElse(d, d) == d)
    val kept = Dedup.dedupedCorpus(spark, sf).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept === expectKeep)
    // every dropped doc has its representative still present
    (all -- kept).foreach(d => assert(kept.contains(clusters(d))))
  }

  test("incremental assign: equals an independent union-find replay of the rule") {
    val out = Dedup.incrementalAssign(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getInt(2)))).toMap
    val maxId = Tables.documents(spark, sf).agg(max("doc_id")).head.getLong(0)
    val cut = math.floor(maxId * (1.0 - Dedup.incNewFrac)).toLong
    val newIds = Tables.documents(spark, sf)
      .where(col("doc_id") >= cut).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(out.keySet === newIds.toSet)
    // ONE full-corpus pair run yields all three edge classes (band keys
    // are per-doc, so old×old / new×old / new×new candidates are
    // identical whether mined jointly or separately)
    val pairs = Dedup.minhashDupPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val olab = unionFind(pairs.filter { case (a, b) => a < cut && b < cut })
    val anchors = pairs.collect { case (a, b) if a < cut && b >= cut =>
      b -> olab.getOrElse(a, a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val comp = unionFind(pairs.filter { case (a, b) => a >= cut && b >= cut })
    val byComp = newIds.groupBy(id => comp.getOrElse(id, id))
    val expected = byComp.toSeq.flatMap { case (c, members) =>
      val anchor = members.flatMap(anchors.get).minOption
      members.toSeq.map(id =>
        id -> (anchor.getOrElse(c), if (anchor.isDefined) 1 else 0))
    }.toMap
    assert(out === expected)
    // attachment always adopts an existing (pre-cut) label
    out.foreach { case (id, (rep, att)) =>
      if (att == 1) assert(rep < cut, s"doc $id attached to new-side rep $rep")
      else assert(rep >= cut && rep <= id, s"doc $id fresh rep $rep out of range")
    }
  }

  test("incremental write-back: increment N+1 consumes N's PUBLISHED labels; " +
    "the chain equals a staged union-find replay") {
    val docs = Tables.documents(spark, sf)
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    val cut1 = math.floor(maxId * 0.8).toLong
    val cut2 = math.floor(maxId * 0.9).toLong
    val base = docs.where(col("doc_id") < cut1)
    val b1 = docs.where(col("doc_id") >= cut1 && col("doc_id") < cut2)
    val b2 = docs.where(col("doc_id") >= cut2)
    val fp = graft.store.FeatureStore.versionFingerprint(spark,
      s"$sf/documents.parquet")

    // day 0: full contraction of the base slice, published
    val labels0 = Dedup.connectedComponents(
      Dedup.selfVerifiedPairs(Dedup.shingleSets(base), 0.8))
    // day 1: increment batch1 against the base, publish merged labels
    val assign1 = Dedup.assignIncrement(
      Dedup.sigIndexOf(Dedup.shingleSets(base)), labels0,
      b1.select("doc_id"), Dedup.shingleSets(b1), 0.8)
    val t1 = graft.store.FeatureStore.ensurePlainTable(spark,
      labels0.select(col("doc_id"), col("cluster_rep"))
        .unionAll(assign1.select(col("doc_id"), col("cluster_rep"))),
      "graft_test_chain_m1", fp)
    // day 2: increment batch2 CONSUMING day 1's published table
    val assign2 = Dedup.assignIncrement(
      Dedup.sigIndexOf(Dedup.shingleSets(docs.where(col("doc_id") < cut2))),
      spark.table(t1), b2.select("doc_id"), Dedup.shingleSets(b2), 0.8)
    val merged2 = spark.table(t1)
      .unionAll(assign2.select(col("doc_id"), col("cluster_rep")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // staged replay over ONE full-corpus pair mine (band keys are
    // per-doc, so slice-restricted pair sets are identical either way)
    val pairs = Dedup.minhashDupPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val baseEdges = pairs.filter { case (a, b) => a < cut1 && b < cut1 }
    // connectedComponents labels EVERY node of an edge, including each
    // component's representative (rep → rep); mirror that here
    val olab = {
      val uf = unionFind(baseEdges)
      baseEdges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(x => x -> uf.getOrElse(x, x)).toMap
    }
    def stage(prev: Map[Long, Long], lo: Long, hi: Long,
              batchIds: Seq[Long]): Map[Long, (Long, Int)] = {
      val anchors = pairs
        .collect { case (a, b) if a < lo && b >= lo && b < hi =>
          b -> prev.getOrElse(a, a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      val comp = unionFind(pairs.filter { case (a, b) =>
        a >= lo && a < hi && b >= lo && b < hi })
      batchIds.groupBy(id => comp.getOrElse(id, id)).toSeq
        .flatMap { case (c, members) =>
          val anchor = members.flatMap(anchors.get).minOption
          members.map(id =>
            id -> (anchor.getOrElse(c), if (anchor.isDefined) 1 else 0))
        }.toMap
    }
    def idsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSeq
    val lab1 = stage(olab, cut1, cut2, idsOf(b1))
    val m1 = olab ++ lab1.view.mapValues(_._1).toMap
    val lab2 = stage(m1, cut2, Long.MaxValue, idsOf(b2))
    val expected = m1 ++ lab2.view.mapValues(_._1).toMap
    assert(merged2 === expected)
    // the attached flags of increment 2 match the replay's
    val att2 = assign2.collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(att2 === lab2.view.mapValues(_._2).toMap)
    // every label a batch-2 doc attached to is an existing-corpus label:
    // either a label already in day 1's published base, or the own id of
    // an old doc that had no cluster yet (the singleton-anchor rule) —
    // never a batch-2 id. The loop is closed, not re-derived.
    val m1Labels = spark.table(t1).collect().map(_.getLong(1)).toSet
    att2.foreach { case (id, a) =>
      if (a == 1) assert(
        m1Labels.contains(merged2(id)) || merged2(id) < cut2,
        s"doc $id attached to non-existing-corpus label ${merged2(id)}")
    }
  }

  test("bridge doc does NOT merge existing clusters; the healing contraction does") {
    import spark.implicits._
    // shared 30-token block X; clusters A = {0,1} and B = {2,3} share X
    // but differ in their unique tails (J(A,B) ≈ 0.58 < 0.7 → separate);
    // the bridge doc 4 is X alone (J(bridge, A) = J(bridge, B) ≈ 0.74 ≥ 0.7)
    val x = (1 to 30).map(i => s"x$i").mkString(" ")
    val u = (1 to 10).map(i => s"u$i").mkString(" ")
    val v = (1 to 10).map(i => s"v$i").mkString(" ")
    val old = Seq((0L, s"$x $u"), (1L, s"$x $u"),
      (2L, s"$x $v"), (3L, s"$x $v")).toDF("doc_id", "text")
    val all = old.unionAll(Seq((4L, x)).toDF("doc_id", "text"))
    val minJ = 0.7

    // construction sanity: the bridge really links to both sides and the
    // sides really don't link to each other (else the scenario is void)
    val oldPairs = Dedup.selfVerifiedPairs(Dedup.shingleSets(old), minJ)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oldPairs === Set((0L, 1L), (2L, 3L)))
    val crossPairs = Dedup.crossVerifiedPairs(
      Dedup.shingleSets(all.where(col("doc_id") === 4)),
      Dedup.sigIndexOf(Dedup.shingleSets(old)), minJ)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(crossPairs === Set((4L, 0L), (4L, 1L), (4L, 2L), (4L, 3L)),
      s"bridge candidates incomplete: $crossPairs")

    // the increment: doc 4 attaches to min(label(0..3)) = 0; cluster B
    // KEEPS label 2 — the documented bridge trade
    val labels0 = Dedup.connectedComponents(
      Dedup.selfVerifiedPairs(Dedup.shingleSets(old), minJ))
    val assign = Dedup.assignIncrement(
      Dedup.sigIndexOf(Dedup.shingleSets(old)), labels0,
      Seq(4L).toDF("doc_id"), Dedup.shingleSets(all.where(col("doc_id") === 4)),
      minJ).collect()
    assert(assign.length === 1)
    assert(assign.head.getLong(1) === 0L) // adopts the smaller label
    assert(assign.head.getInt(2) === 1)
    val merged = labels0.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap + (4L -> 0L)
    assert(merged(2L) === 2L && merged(3L) === 2L,
      "increment must NOT merge cluster B into A")

    // the healing pass: full contraction over the whole corpus merges
    // everything the bridge connected
    val healed = Dedup.connectedComponents(
      Dedup.selfVerifiedPairs(Dedup.shingleSets(all), minJ)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(healed === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
  }

  test("published write-back and healed tables equal their live computations") {
    // the production publish plumbing (table naming, fingerprint binding,
    // ordering) must serve exactly what the live operators compute
    val mergedTable = Dedup.ensureMergedIncrementalLabels(spark, sf)
    val mergedLive = Dedup.mergedIncrementalLabels(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val mergedPub = spark.table(mergedTable)
      .orderBy(org.apache.spark.sql.functions.col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(mergedPub.toSeq === mergedLive.toSeq)

    val healedTable = Dedup.healIncrementalBase(spark, sf)
    val healedLive = Dedup.dupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val healedPub = spark.table(healedTable)
      .orderBy(org.apache.spark.sql.functions.col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(healedPub.toSeq === healedLive.toSeq)
    // distinct layout families: one slug per parameterization
    assert(mergedTable !== healedTable)
  }

  test("incrementalAssign chains off the published HEALED base when given one") {
    val healedTable = Dedup.healIncrementalBase(spark, sf)
    val healedLabels = spark.table(healedTable).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out = Dedup.incrementalAssign(spark, sf,
        baseTable = Some(healedTable)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("attached")))
    assert(out.nonEmpty)
    // every attached doc adopts a label from the HEALED contraction —
    // the published heal output is what the next increment consumes
    val healedReps = healedLabels.values.toSet
    out.filter(_._3 == 1).foreach { case (id, rep, _) =>
      assert(healedReps.contains(rep), s"doc $id adopted non-healed rep $rep")
    }
    // same batch membership as the default-base wrapper (plumbing only
    // differs in which labels get adopted)
    val defaultIds = Dedup.incrementalAssign(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(out.map(_._1).toSet === defaultIds)
  }

  test("source dup matrix equals a driver-side regroup of the verified pairs") {
    val out = Dedup.sourceDupMatrix(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val srcOf = graft.sources.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("source"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = Dedup.minhashDupPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = pairs.groupBy { case (a, b) =>
      val (sa, sb) = (srcOf(a), srcOf(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.view.mapValues(_.length.toLong).toMap
    assert(out === want)
    assert(out.values.sum === pairs.length.toLong)
    out.keys.foreach { case (lo, hi) => assert(lo <= hi) }
  }

  test("containment: superset of Jaccard pairs at equal threshold, bounded asymmetric scores") {
    val jac = Dedup.jaccardPairsBrute(spark, sf, maxDocId = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cont = Dedup.containmentPairsBrute(spark, sf, maxDocId = Long.MaxValue)
      .collect()
    val contPairs = cont.map(r => (r.getLong(0), r.getLong(1))).toSet
    // jac(A,B) <= min(cont(A→B), cont(B→A)): every Jaccard pair qualifies
    assert(jac.subsetOf(contPairs), s"missing: ${jac.diff(contPairs).take(5)}")
    cont.foreach { r =>
      val (a, b) = (r.getAs[Double]("cont_a_in_b"), r.getAs[Double]("cont_b_in_a"))
      assert(a >= 0 && a <= 1.0 + 1e-9 && b >= 0 && b <= 1.0 + 1e-9)
      assert(math.max(a, b) >= 0.8 - 1e-9)
    }
  }

  test("containment LSH scale path: exact precision and full parity with brute on this corpus") {
    val brute = Dedup.containmentPairsBrute(spark, sf, maxDocId = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Double]("cont_a_in_b"), r.getAs[Double]("cont_b_in_a"))).toSet
    val lsh = Dedup.containmentPairsLsh(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Double]("cont_a_in_b"), r.getAs[Double]("cont_b_in_a"))).toSet
    // precision is exact by construction (every candidate passes the same
    // verify); on this corpus the windowed banding also recalls every
    // brute pair, so the two must agree exactly — scores included
    assert(lsh === brute,
      s"missing=${brute.diff(lsh).take(5)} extra=${lsh.diff(brute).take(5)}")
  }

  test("containment LSH finds a planted short-doc-inside-long-doc copy") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    def salad(n: Int): String =
      Seq.fill(n)(s"w${rnd.nextInt(5000)}").mkString(" ")
    // long host document; the planted short doc is a verbatim excerpt of
    // its middle — high cont(short→long), low Jaccard, the asymmetric
    // case whole-doc MinHash banding structurally misses
    val host = Seq.fill(400)(s"w${rnd.nextInt(5000)}")
    val excerpt = host.slice(180, 240).mkString(" ")
    // second planted pair at the document TAIL, host length off the
    // stride grid: catches the unanchored-grid recall hole (a final
    // window must be anchored at n-W+1 or the trailing tokens are
    // outside every window)
    val host2 = Seq.fill(391)(s"w${rnd.nextInt(5000)}")
    val tailExcerpt = host2.takeRight(34).mkString(" ")
    val docs = (Seq((0L, host.mkString(" ")), (1L, excerpt),
      (40L, host2.mkString(" ")), (41L, tailExcerpt)) ++
      (2L to 30L).map(i => (i, salad(120)))).toDF("doc_id", "text")
    val found = Dedup.containmentPairsLshOf(docs, minCont = 0.8, windowTokens = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(found.contains((0L, 1L)), s"planted pair missed; found ${found.toSeq}")
    assert(found.contains((40L, 41L)),
      s"planted TAIL pair missed; found ${found.toSeq}")
    // and the direction is right: the short doc is contained in the long
    val row = Dedup.containmentPairsLshOf(docs, 0.8, 32)
      .where(col("doc_a") === 0 && col("doc_b") === 1).head()
    assert(row.getAs[Double]("cont_b_in_a") >= 0.8)
    assert(row.getAs[Double]("cont_a_in_b") < 0.5)
  }

  test("embedding near-dup pairs: ordered, cosine above threshold") {
    val rows = Dedup.embeddingDupPairs(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val c = r.getAs[Double]("cos_sim")
      assert(c >= 0.4 && c <= 1.0 + 1e-9)
    }
  }

  test("embedding LSH near-dup: exact precision, documented recall floor vs brute force") {
    val brute = Dedup.embeddingDupPairs(spark, sf, maxVecId = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingDupPairsLsh(spark, sf).collect()
    val lshPairs = lsh.map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision exact by construction: every LSH pair is a true pair
    assert(lshPairs.subsetOf(brute),
      s"false positives: ${lshPairs.diff(brute).take(5)}")
    lsh.foreach(r => assert(r.getAs[Double]("cos_sim") >= 0.4 - 1e-9))
    // geometry is now DERIVED from minCos (round-3 ADVICE): at the default
    // minCos=0.4 autoBands picks 16 bands of 4 bits, whose Charikar
    // banding recall at the 0.4 boundary is ~0.94 — so defaults-callers
    // get a self-consistent operator, not the 8-bit geometry's ~0.2
    assert(Dedup.autoBands(0.4, 64) === 16)
    assert(Dedup.autoBands(0.9, 64) === 8)
    val recall = lshPairs.intersect(brute).size.toDouble / math.max(1, brute.size)
    assert(recall >= 0.6, s"LSH recall $recall below 0.6 (${brute.size} true pairs)")
  }

  test("embedding LSH in its real regime (cos >= 0.9): recall >= 0.9 on planted near-dups") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sqrt => ssqrt}
    // 40 planted near-dup pairs (noise ⇒ cos ≈ 0.99) + 200 random
    // background vectors, all 64-dim — the regime the operator exists
    // for, which this synthetic corpus can't provide
    val rnd = new scala.util.Random(13)
    def unit(): Array[Double] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val planted = (0 until 40).flatMap { i =>
      val base = unit()
      val dup = base.zip(unit()).map { case (b, z) => b + 0.08 * z }
      Seq((2L * i, base.toSeq), (2L * i + 1, dup.toSeq))
    }
    val background = (0 until 200).map(i => (1000L + i, unit().toSeq))
    val all = planted ++ background
    // exact truth, computed locally (the corpus is tiny by construction)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val truth = (for {
      (ia, va) <- all; (ib, vb) <- all
      if ia < ib && cos(va, vb) >= 0.9
    } yield (ia, ib)).toSet
    assert(truth.size >= 35, s"expected ~40 planted pairs, got ${truth.size}")

    val emb = all.toDF("vec_id", "embedding")
      .withColumn("nrm", ssqrt(graft.functions.GraftFunctions.dot(
        col("embedding"), col("embedding"))))
    val lsh = Dedup.embeddingDupPairsLshOf(emb, minCos = 0.9,
      nPlanes = 64, bands = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(truth), s"false positives: ${lsh.diff(truth).take(5)}")
    val recall = lsh.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"real-regime recall $recall below 0.9")
  }

  /** Planted near-dup corpus + exact local truth, shared by the rung
    * specs: 40 pairs at cos ≈ 0.99 + 200 random background vectors. */
  private def plantedCorpus(): (org.apache.spark.sql.DataFrame,
                               Set[(Long, Long)]) = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sqrt => ssqrt}
    val rnd = new scala.util.Random(13)
    def unit(): Array[Double] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val planted = (0 until 40).flatMap { i =>
      val base = unit()
      val dup = base.zip(unit()).map { case (b, z) => b + 0.08 * z }
      Seq((2L * i, base.toSeq), (2L * i + 1, dup.toSeq))
    }
    val background = (0 until 200).map(i => (1000L + i, unit().toSeq))
    val all = planted ++ background
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val truth = (for {
      (ia, va) <- all; (ib, vb) <- all
      if ia < ib && cos(va, vb) >= 0.9
    } yield (ia, ib)).toSet
    val emb = all.toDF("vec_id", "embedding")
      .withColumn("nrm", ssqrt(graft.functions.GraftFunctions.dot(
        col("embedding"), col("embedding"))))
    (emb, truth)
  }

  test("adaptive sign-LSH geometry: rung boundaries and hamming margin") {
    // rung table (corpus-adaptive bits-per-band — round-8 verdict #1)
    assert(Dedup.adaptiveGeometry(500L) === ((64, 8)))
    assert(Dedup.adaptiveGeometry(2048L) === ((64, 8)))
    assert(Dedup.adaptiveGeometry(2049L) === ((128, 8)))
    assert(Dedup.adaptiveGeometry(524288L) === ((128, 8)))
    assert(Dedup.adaptiveGeometry(524289L) === ((512, 16)))
    // every rung keeps bands·n/2^bits ≤ 64 expected random collisions
    // per row at its population cap (the documented linearity budget)
    Seq(2048L -> Dedup.adaptiveGeometry(2048L),
        524288L -> Dedup.adaptiveGeometry(524288L)).foreach {
      case (n, (planes, bands)) =>
        val bits = planes / bands
        assert(bands * n.toDouble / math.pow(2, bits) <= 64.0)
    }
    // published-index geometry: v1 one-word layout through 512 Ki rows,
    // layout-v2 wide signature (512 planes, 16x32 bands) beyond — the
    // rung table covers multi-Mi-row corpora
    assert(Dedup.adaptiveIndexGeometry(2048L) === ((64, 8)))
    assert(Dedup.adaptiveIndexGeometry(2049L) === ((64, 4)))
    assert(Dedup.adaptiveIndexGeometry(524288L) === ((64, 4)))
    assert(Dedup.adaptiveIndexGeometry(524289L) === ((512, 16)))
    assert(Dedup.adaptiveIndexGeometry(4194304L) === ((512, 16)))
    // the wide rung keeps the same linearity budget as the live path
    assert(16 * 4194304.0 / math.pow(2, 32) <= 64.0)
    // binomial mean + 2σ margin (round-8 ADVICE #5): documented example
    assert(Dedup.hamCutFor(64, 0.4) === 32)
    // margin scales with √nPlanes, mean with nPlanes
    assert(Dedup.hamCutFor(128, 0.4) === 59)
  }

  test("rung-2 geometry (128 planes, 16-bit bands): exact precision, recall >= 0.9") {
    val (emb, truth) = plantedCorpus()
    // 128 planes ⇒ the signature spans TWO words: exercises the
    // multi-word band keys and word-wise hamming sum of the adaptive path
    val lsh = Dedup.embeddingDupPairsLshOf(emb, minCos = 0.9,
      nPlanes = 128, bands = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(truth), s"false positives: ${lsh.diff(truth).take(5)}")
    val recall = lsh.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"rung-2 recall $recall below 0.9")
  }

  test("rung-3 geometry (512 planes, 32-bit bands): exact precision, recall >= 0.9") {
    val (emb, truth) = plantedCorpus()
    // 8 words, 32-bit band keys — the ≥512 Ki-row rung
    val lsh = Dedup.embeddingDupPairsLshOf(emb, minCos = 0.9,
      nPlanes = 512, bands = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(truth), s"false positives: ${lsh.diff(truth).take(5)}")
    val recall = lsh.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"rung-3 recall $recall below 0.9")
  }

  test("index layout v2: wide published signature mines with recall >= 0.9") {
    // Publish the planted corpus's sign index at the FORCED 512-plane
    // v2 width (the > 512 Ki-row rung on a spec-sized corpus), then mine
    // pairs off the published table exactly as the adaptive path would
    // above the threshold: sign_bits + sign_bits_1..7 assembled back to
    // the 8-word signature, banded 16x32. Precision stays exact (cosine
    // verify); recall >= 0.9 on the planted near-dups — the same
    // contract as the live rung-3 spec, now off the published layout.
    import spark.implicits._
    val (embDf, truth) = plantedCorpus()
    val dir = java.nio.file.Files.createTempDirectory("graft_signv2").toString
    embDf.select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"),
        lit(0).as("label"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val fp = graft.store.FeatureStore.versionFingerprint(
      spark, s"$dir/embeddings.parquet")
    val table = graft.ops.Similarity.ensureSignIndexAt(spark, dir, nPlanes = 512, fp)
    // the published schema carries the eight scalar word columns, and
    // word 0 equals the v1 64-plane signature (prefix-nested banks)
    val cols = spark.table(table).columns
    assert(cols.count(c => c == "sign_bits" || c.startsWith("sign_bits_")) === 8,
      cols.mkString(","))
    val v1 = graft.ops.Similarity.ensureSignIndexAt(spark, dir, nPlanes = 64, fp)
    assert(spark.table(table).select("vec_id", "sign_bits").except(
      spark.table(v1).select("vec_id", "sign_bits")).count() === 0)
    val pairs = Dedup.pairsFromSignTable(spark, table, dir,
      minCos = 0.9, bands = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.subsetOf(truth), s"false positives: ${pairs.diff(truth).take(5)}")
    val recall = pairs.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"v2 index recall $recall below 0.9")
  }

  test("adaptive LSH resolves to the pinned 8×8 profile at this corpus size") {
    // n = 500 ≤ 2048 ⇒ rung 1: the declared adaptive query must produce
    // EXACTLY the fixed-geometry operator's pairs (the oracle twin
    // replays rung-1 banding, so this equality is what keeps it valid)
    val adaptive = Dedup.embeddingDupPairsLshAdaptive(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pinned = Dedup.embeddingDupPairsLsh(spark, sf, minCos = 0.4,
      nPlanes = 64, bands = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(adaptive === pinned)
  }

  test("degenerate band buckets star-mine: bounded candidates, spam region " +
    "cluster-complete, cold pairs kept") {
    import spark.implicits._
    // a template-spam region: 1100 IDENTICAL signatures — one band
    // bucket of 1100 > maxBandBucket members in every key table, which
    // uncapped would explode into C(1100,2) ≈ 600k candidate pairs —
    // plus 20 planted cold near-pairs that must be unaffected. Round 9
    // DROPPED the capped buckets (spam region left undeduplicated);
    // round 10 star-mines them: the rep (min id 10000) pairs with every
    // member, verified, so the region reaches the contraction complete
    // at k−1 = 1099 pairs instead of 600k candidates or zero.
    val rnd = new scala.util.Random(41)
    def sig60(): Long = rnd.nextLong() & ((1L << 60) - 1)
    val tmpl = sig60()
    val template = (0 until 1100).map(i => (10000L + i, tmpl))
    val planted = (0 until 20).flatMap { i =>
      val b = sig60()
      Seq((2L * i, b), (2L * i + 1, b ^ (1L << rnd.nextInt(60))))
    }
    val sig = (template ++ planted).toDF("doc_id", "sg")
    val out = Dedup.hammingBandedPairs(sig, "doc_id", "sg", 60, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val coldPairs = (0 until 20).map(i => (2L * i, 2L * i + 1)).toSet
    val starPairs = (1 until 1100).map(i => (10000L, 10000L + i)).toSet
    assert(out === coldPairs ++ starPairs,
      s"expected 20 cold + 1099 star pairs, got ${out.size}")
    // cluster-level completeness: a union-find over the emitted edges
    // puts the whole spam region in ONE component rooted at the rep
    val comp = unionFind(out.toSeq)
    (10001L until 11100L).foreach(d => assert(comp(d) === 10000L))
  }

  test("band-bucket audit reports the dropped mass of a planted template region") {
    import spark.implicits._
    val docs = ((0 until 30).map(i =>
        (i.toLong, "spam spam template page with the same content every time"))
      ++ (0 until 10).map(i =>
        (100L + i, s"unique document number $i carrying words ${i * 7} and ${i * 13}")))
      .toDF("doc_id", "text")
    val audit = Dedup.bandBucketAuditOf(docs, cap = 8).collect()
    assert(audit.length === Dedup.numBands)
    audit.foreach { r =>
      assert(r.getAs[Long]("max_bucket") >= 30L)
      assert(r.getAs[Long]("n_dropped_buckets") >= 1L)
      assert(r.getAs[Long]("n_dropped_rows") >= 30L)
    }
  }

  test("driver corpus is healthy: the bucket guard drops nothing at the default cap") {
    Dedup.bandBucketAudit(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("n_dropped_buckets") === 0L)
      assert(r.getAs[Long]("n_dropped_rows") === 0L)
    }
  }

  test("Manku multi-block hamming keys produce exactly the single-block pairs") {
    import spark.implicits._
    // planted 60-bit signatures: 30 near-pairs (≤3 flips) + noise; both
    // key schemes are EXACT by pigeonhole, so outputs must be identical —
    // the corpus-size switch is pure cost tuning
    val rnd = new scala.util.Random(99)
    def sig60(): Long = rnd.nextLong() & ((1L << 60) - 1)
    val rows = (0 until 30).flatMap { i =>
      val base = sig60()
      val flips = (0 until 1 + rnd.nextInt(3)).map(_ => 1L << rnd.nextInt(60))
        .foldLeft(0L)(_ | _)
      Seq((2L * i, base), (2L * i + 1, base ^ flips))
    } ++ (0 until 300).map(i => (1000L + i, sig60()))
    val sig = rows.toDF("doc_id", "sg")
    def pairsWith(nRows: Long): Set[(Long, Long, Int)] =
      Dedup.hammingBandedPairs(sig, "doc_id", "sg", 60, 3, nRows = nRows)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val single = pairsWith(nRows = 100L)              // ≤ mankuThreshold
    val manku = pairsWith(nRows = Dedup.mankuThreshold + 1)
    assert(single === manku)
    // and both equal the local brute truth
    val brute = (for {
      (ia, sa) <- rows; (ib, sb) <- rows
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib, java.lang.Long.bitCount(sa ^ sb))).toSet
    assert(single === brute)
  }

  test("simhash: fused one-pass expression ≡ declarative vote aggregate") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, sf)
    // corpus parity: every (doc_id, simhash) row identical, including the
    // absent-row contract for token-less documents
    val fused = docs.select(col("doc_id"),
        graft.functions.GraftFunctions.simhash(col("text")).as("simhash"))
      .where(col("simhash").isNotNull)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val decl = Dedup.simhashSigDeclarative(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(fused.length > 0)
    assert(fused.toSeq === decl.toSeq)
    // edge shapes the corpus can't cover: empty / all-space / multi-space
    // / repeated-token (count weighting) / unicode beyond the BMP
    import spark.implicits._
    val edge = Seq((1L, ""), (2L, "   "), (3L, "a  a b"), (4L, "a a a zz"),
      (5L, "é 😀 tok"), (6L, "single")).toDF("doc_id", "text")
    val ef = edge.select(col("doc_id"),
        graft.functions.GraftFunctions.simhash(col("text")).as("simhash"))
      .where(col("simhash").isNotNull)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val ed = Dedup.simhashSigDeclarative(edge)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(ef.toSeq === ed.toSeq)
    assert(!ef.map(_._1).contains(1L) && !ef.map(_._1).contains(2L))
  }

  test("contraction: driver union-find fast path ≡ distributed star path") {
    import spark.implicits._
    // chains (multi-round star contraction), a hub star, bridges that
    // merge late, and id gaps — the shapes that distinguish a wrong
    // union-find from the star fixed point
    val edges = ((0L until 40L).map(i => (i, i + 1)) ++          // long chain
      (100L until 120L).map(i => (100L, i + 1)) ++               // star at 100
      Seq((40L, 100L), (300L, 301L), (302L, 303L), (301L, 302L)) // bridges
      ).map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toDF("doc_a", "doc_b")
    def labelsOf(maxDriverEdges: Long): Map[Long, Long] =
      Dedup.connectedComponents(edges, maxDriverEdges = maxDriverEdges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDriver = labelsOf(Long.MaxValue) // forces the driver path
    val viaStar = labelsOf(-1L)             // forces the distributed path
    assert(viaDriver === viaStar)
    // and both equal the independent local replay
    val uf = unionFind(Seq.tabulate(40)(i => (i.toLong, i + 1L)) ++
      (100L until 120L).map(i => (100L, i + 1)) ++
      Seq((40L, 100L), (300L, 301L), (302L, 303L), (301L, 302L)))
    val expected = uf.keys.map(x =>
      x -> uf(x)).toMap ++ uf.values.map(v => v -> v).toMap
    assert(viaDriver === expected)
  }
}
