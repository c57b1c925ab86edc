package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.model.{Metrics, TrainEval}

/** Property-based invariants (SURVEY §5.2.2). Trial counts are small —
  * each trial runs Spark jobs — but the inputs are adversarially random
  * where the example-based specs are fixed. */
object GraftProps extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // classification report: for ANY (label, pred) multiset,
  // weighted recall == accuracy, metrics bounded, support conserved
  property("report.weightedRecallIsAccuracy") = Prop.forAll(
    Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 4), Gen.choose(0, 4)))) { pairs =>
    // explicit guard: ScalaCheck's shrinker bypasses nonEmptyListOf
    Prop.propBoolean(pairs.nonEmpty) ==> {
    val df = pairs.toDF("label", "pred")
    val rep = Metrics.classificationReport(df, "label", "pred").collect()
    val n = rep.map(_.getAs[Long]("support")).sum
    val weightedRecall = rep.map(r =>
      r.getAs[Double]("recall") * r.getAs[Long]("support")).sum / n
    val acc = pairs.count(p => p._1 == p._2).toDouble / pairs.length
    n == pairs.length &&
      math.abs(weightedRecall - acc) < 1e-4 &&
      rep.forall { r =>
        Seq("precision", "recall", "f1").forall { c =>
          val v = r.getAs[Double](c); v >= 0.0 && v <= 1.0
        }
      }
    }
  }

  // bounded-heap top-k == sort-then-take for ANY multiset and k
  property("topK.equalsSortTake") = Prop.forAll(
    Gen.nonEmptyListOf(Gen.choose(-1000, 1000)), Gen.choose(1, 12)) { (xs, k) =>
    Prop.propBoolean(xs.nonEmpty) ==> {
      val got = xs.map(x => (1, x)).toDF("g", "x")
        .repartition(3) // force multiple partial buffers + a merge
        .groupBy(col("g"))
        .agg(graft.functions.GraftFunctions.topK(col("x"), k).as("t"))
        .select(col("t")).head.getSeq[Int](0).toList
      got == xs.sorted.take(k)
    }
  }

  // exact split: exact test count, disjoint, conserving
  property("exactSplit.partitions") = Prop.forAll(
    Gen.choose(1, 120), Gen.choose(1, 99)) { (n, pct) =>
    val frac = pct / 100.0
    val df = spark.range(n.toLong).toDF("row_id")
    val (train, test) = TrainEval.exactSplit(df, "row_id", frac, seed = 7)
    val (nTr, nTe) = (train.count(), test.count())
    nTe == math.ceil(n * frac).toLong && nTr + nTe == n &&
      train.intersect(test).isEmpty
  }

  // hashed-shingle Jaccard: j(a,a) == 1 for any ≥3-token text, and the
  // shingle set is never larger than tokens − 2
  property("shingles.selfJaccard") = Prop.forAll(
    Gen.choose(3, 30).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("alpha", "beta", "gamma", "delta")))) { toks =>
    val text = toks.mkString(" ")
    val df = Seq(text).toDF("text")
      .select(graft.ops.Dedup.shingleHashes(col("text")).as("hs"))
    val hs = df.head.getSeq[Long](0)
    hs.nonEmpty && hs.length <= toks.length - 2 && hs.distinct.length == hs.length
  }

  // native PolyHash == declarative char fold for arbitrary ASCII strings
  property("polyHash.nativeEqualsFold") = Prop.forAll(
    Gen.nonEmptyListOf(Gen.choose(32.toChar, 126.toChar)).map(_.mkString)) { s =>
    val df = Seq(s).toDF("text").select(
      aggregate(split(col("text"), ""), lit(0L),
        (acc, ch) => (acc * 31 + ascii(ch)) % 1000000007L).as("fold"),
      graft.functions.GraftFunctions.polyHash(col("text")).as("native"))
    val r = df.head
    r.getLong(0) == r.getLong(1)
  }

  // native DotProduct: |cos| ≤ 1 and dot(v,v) == Σv² for arbitrary vectors
  property("dot.cauchySchwarz") = Prop.forAll(
    Gen.zip(Gen.listOfN(8, Gen.choose(-10.0, 10.0)),
      Gen.listOfN(8, Gen.choose(-10.0, 10.0)))) { case (a, b) =>
    Prop.propBoolean(a.exists(_ != 0.0) && b.exists(_ != 0.0)) ==> {
      val df = Seq((a, b)).toDF("a", "b")
      val r = df.select(
        graft.functions.GraftFunctions.dot(col("a"), col("b")).as("ab"),
        graft.functions.GraftFunctions.dot(col("a"), col("a")).as("aa"),
        graft.functions.GraftFunctions.dot(col("b"), col("b")).as("bb")).head
      val (ab, aa, bb) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      math.abs(ab) <= math.sqrt(aa) * math.sqrt(bb) + 1e-9 &&
        math.abs(aa - a.map(x => x * x).sum) < 1e-9
    }
  }

  // BPE: for ANY word corpus, the fitted merge table's encode is
  // lossless (pieces concatenate back to the word), counts are
  // marker-consistent, and the fit itself is deterministic — the
  // invariants the whole-corpus round-trip spec checks on the real
  // corpus, here under adversarially random vocabularies (repeated
  // characters, shared prefixes, single-char words)
  property("bpe.encodeLossless") = Prop.forAll(
    Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(1, 10).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString)),
      Gen.choose(1L, 50L)))) { wc0 =>
    val wc = wc0.distinctBy(_._1)
    Prop.propBoolean(wc.nonEmpty) ==> {
      val merges = graft.ops.Text.fitBpe(wc, maxMerges = 20)
      val again = graft.ops.Text.fitBpe(wc, maxMerges = 20)
      val t = new graft.functions.BpeTable(
        merges.map(_._1).toArray, merges.map(_._2).toArray)
      merges == again && wc.forall { case (w, _) =>
        val (disp, n) = t.encodeWord(w)
        disp.replace("@@ ", "") == w &&
          n == 1 + "@@ ".r.findAllIn(disp).length &&
          n >= 1 && n <= w.length
      }
    }
  }
}
