package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.ops.Similarity

class TopKSpec extends SparkSpec {

  test("graft_top_k is result-identical to slice(array_sort(collect_list))") {
    val emb = Similarity.embWithNorm(spark, sf)
    val queries = emb.where(col("vec_id") < 7)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"), col("nrm").as("qn"))
    val scored = emb.select(col("vec_id").as("cand_id"), col("embedding").as("cv"),
        col("nrm").as("cn"))
      .crossJoin(broadcast(queries))
      .where(col("q_id") =!= col("cand_id"))
      .select(col("q_id"), col("cand_id"),
        round(GraftFunctions.dot(col("qv"), col("cv"))
          / nullif(col("qn") * col("cn"), lit(0.0)), 6).as("cos_sim"))
    val keyed = struct((-col("cos_sim")).as("negcos"), col("cand_id"), col("cos_sim"))
    val both = scored.groupBy(col("q_id")).agg(
      GraftFunctions.topK(keyed, 9).as("heap"),
      slice(array_sort(collect_list(keyed)), 1, 9).as("decl"))
    // bitwise equality of the full sorted arrays, not set/epsilon equality
    assert(both.where(not(col("heap") === col("decl"))).count() === 0)
    assert(both.count() === 7)
  }

  test("graft_top_k survives ObjectHashAggregate's sort-based fallback (many groups)") {
    import spark.implicits._
    // > spark.sql.objectHashAggregate.sortBased.fallbackThreshold (128)
    // distinct groups per partition forces the fallback, which round-trips
    // every partial buffer through serialize/deserialize
    val df = spark.range(20000)
      .select(col("id"), (col("id") % 400).as("g"),
        (col("id") * 37 % 1000).cast("double").as("x"))
    val both = df.groupBy(col("g")).agg(
      GraftFunctions.topK(struct(col("x"), col("id")), 7).as("heap"),
      slice(array_sort(collect_list(struct(col("x"), col("id")))), 1, 7).as("decl"))
    assert(both.count() === 400)
    assert(both.where(not(col("heap") === col("decl"))).count() === 0)
  }

  test("graft_top_k with k larger than the group returns the whole group sorted") {
    import spark.implicits._
    val df = Seq((1, 5.0), (1, 1.0), (1, 3.0), (2, 2.0)).toDF("g", "x")
    val got = df.groupBy($"g").agg(GraftFunctions.topK(struct($"x"), 10).as("t"))
      .select($"g", $"t.x".as("xs")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(got(1) === Seq(1.0, 3.0, 5.0))
    assert(got(2) === Seq(2.0))
  }

  test("graft_top_k skips nulls like collect_list") {
    import spark.implicits._
    val df = Seq[(Int, java.lang.Double)]((1, 4.0), (1, null), (1, 2.0))
      .toDF("g", "x")
    val got = df.groupBy($"g").agg(GraftFunctions.topK($"x", 5).as("t")).collect()
    assert(got.head.getSeq[Double](1) === Seq(2.0, 4.0))
  }

  test("graft_dot rejects array<float> and wrong types at analysis time") {
    import spark.implicits._
    val floats = graft.sources.Tables.embeddings(spark, sf)
    // embeddings' native type is array<float>: silently-wrong reads before,
    // analysis error now
    val e1 = intercept[AnalysisException] {
      floats.select(GraftFunctions.dot(col("embedding"), col("embedding"))).collect()
    }
    assert(e1.getMessage.contains("array<double>"))
    val e2 = intercept[AnalysisException] {
      Seq(("a", "b")).toDF("x", "y")
        .select(GraftFunctions.polyHash(lit(3))).collect()
    }
    assert(e2.getMessage.contains("string"))
  }

  test("graft_dot/graft_top_k reject wrong arity with a clear error") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_dot(array(1.0d))").collect()
    }
    assert(e.getMessage.contains("exactly 2"))
  }

  test("graft_sign_bits is bit-identical to the per-plane dot-sign fold") {
    import org.apache.spark.sql.functions.{typedLit, when}
    val rnd = new scala.util.Random(99)
    val dim = 16
    val planes = Array.fill(24)(Array.fill(dim)(rnd.nextGaussian()))
    import spark.implicits._
    val vecs = (0 until 50).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextGaussian()))).toDF("id", "v")
    val planesLit = typedLit(planes.map(_.toSeq).toSeq)
    val fold = (0 until planes.length).map { j =>
      when(GraftFunctions.dot(col("v"), typedLit(planes(j).toSeq)) > 0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val rows = vecs.select(col("id"),
      GraftFunctions.signBits(col("v"), planesLit).as("native"),
      fold.as("folded")).collect()
    rows.foreach(r => assert(r.getLong(1) === r.getLong(2), s"id ${r.getLong(0)}"))
  }

  test("graft_ngram_hashes is bit-identical to the sequence/element_at combine fold") {
    import graft.ops.{Dedup, Text}
    val th = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), transform(Text.tokens(col("text")),
        t => Dedup.polyHash(t)).as("th"))
    // n = 3 against the declarative rolling combine (the form the native
    // loop replaced), on docs long enough for the ascending sequence
    val tri = th.where(size(col("th")) >= 3).select(
      GraftFunctions.ngramHashes(col("th"), 3).as("native"),
      transform(sequence(lit(1), size(col("th")) - 2), i =>
        Dedup.combine3of(element_at(col("th"), i), element_at(col("th"), i + 1),
          element_at(col("th"), i + 2))).as("decl"))
    assert(tri.count() > 0)
    assert(tri.where(not(col("native") === col("decl"))).count() === 0)
    // n = 2
    val bi = th.where(size(col("th")) >= 2).select(
      GraftFunctions.ngramHashes(col("th"), 2).as("native"),
      transform(sequence(lit(1), size(col("th")) - 1), i =>
        Dedup.combine2(element_at(col("th"), i),
          element_at(col("th"), i + 1))).as("decl"))
    assert(bi.where(not(col("native") === col("decl"))).count() === 0)
    // shorter-than-n arrays yield EMPTY, never a descending sequence
    import spark.implicits._
    val short = Seq(Seq(7L), Seq.empty[Long]).toDF("th")
      .select(GraftFunctions.ngramHashes(col("th"), 3).as("out")).collect()
    short.foreach(r => assert(r.getSeq[Long](0).isEmpty))
  }

  test("graft_ngram_hashes_wide is bit-identical to the two-fold declarative combine") {
    import graft.ops.{Dedup, Text}
    import org.apache.spark.sql.Column
    val n = Text.sparseSimShingleWords
    def foldN(m: Long, terms: Seq[Column]): Column =
      terms.tail.foldLeft(terms.head)((acc, h) => (acc * m + h) % Dedup.P)
    val th = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), transform(Text.tokens(col("text")),
        t => Dedup.polyHash(t)).as("th"))
      .where(size(col("th")) >= n)
    val cmp = th.select(
      GraftFunctions.ngramHashesWide(col("th"), n).as("native"),
      transform(sequence(lit(1), size(col("th")) - (n - 1)), i => {
        val terms = (0 until n).map(j => element_at(col("th"), i + j))
        foldN(Dedup.shingleMult, terms) * Dedup.P +
          foldN(Dedup.shingleMult2, terms)
      }).as("decl"))
    assert(cmp.count() > 0)
    assert(cmp.where(not(col("native") === col("decl"))).count() === 0)
    // wide keys are non-negative and exceed the single-fold mod-P space
    val stats = th.select(explode(
        GraftFunctions.ngramHashesWide(col("th"), n)).as("k"))
      .agg(min(col("k")).as("mn"), max(col("k")).as("mx")).head()
    assert(stats.getLong(0) >= 0L)
    assert(stats.getLong(1) > Dedup.P)
    // shorter-than-n arrays yield EMPTY
    import spark.implicits._
    val short = Seq(Seq(7L), Seq.empty[Long]).toDF("th")
      .select(GraftFunctions.ngramHashesWide(col("th"), n).as("out")).collect()
    short.foreach(r => assert(r.getSeq[Long](0).isEmpty))
  }

  test("graft_minhash_sigs is bit-identical to the per-j array_min transform bank") {
    import graft.ops.Dedup
    val hs = Dedup.shingleSets(graft.sources.Tables.documents(spark, sf))
    val native = GraftFunctions.minhashSigs(col("hs"), Dedup.A, Dedup.B)
    val bank = Dedup.A.indices.map { j =>
      array_min(transform(col("hs"),
        h => (h * Dedup.A(j) + Dedup.B(j)) % Dedup.P))
    }
    val both = hs.select(col("doc_id"), native.as("sigs"))
      .join(hs.select((col("doc_id") +: bank.zipWithIndex.map {
        case (c, j) => c.as(s"m_$j") }): _*), "doc_id")
    assert(both.count() > 0)
    val mismatch = Dedup.A.indices.map(j =>
      element_at(col("sigs"), j + 1) =!= col(s"m_$j")).reduce(_ || _)
    assert(both.where(mismatch).count() === 0)
    // empty shingle set → null, matching array_min over an empty array
    import spark.implicits._
    val empty = Seq(Seq.empty[Long]).toDF("hs")
      .select(GraftFunctions.minhashSigs(col("hs"), Dedup.A, Dedup.B)).collect()
    assert(empty.head.isNullAt(0))
  }

  test("graft_token_hashes is bit-identical to the split/filter/poly-hash pipeline") {
    import graft.ops.{Dedup, Text}
    val both = graft.sources.Tables.documents(spark, sf).select(
      GraftFunctions.tokenHashes(col("text")).as("native"),
      transform(Text.tokens(col("text")),
        t => Dedup.polyHash(t)).as("decl"))
    assert(both.count() > 0)
    assert(both.where(not(col("native") === col("decl"))).count() === 0)
    // hostile inputs: empties, runs of spaces, leading/trailing spaces,
    // multi-char code points
    import spark.implicits._
    val hostile = Seq("", " ", "  a  b ", "a", "αβ γ", "aé béé")
      .toDF("text").select(
        GraftFunctions.tokenHashes(col("text")).as("native"),
        transform(Text.tokens(col("text")),
          t => Dedup.polyHash(t)).as("decl")).collect()
    hostile.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
  }

  test("graft_ngram_hashes/graft_minhash_sigs reject bad shapes at analysis time") {
    import spark.implicits._
    val df = Seq((1, Seq(1L, 2L, 3L))).toDF("n", "th")
    // non-literal n
    val e1 = intercept[AnalysisException] {
      df.select(expr("graft_ngram_hashes(th, n)")).collect()
    }
    assert(e1.getMessage.contains("literal"))
    // bank length mismatch
    val e2 = intercept[AnalysisException] {
      df.select(GraftFunctions.minhashSigs(col("th"),
        Seq(1L, 2L), Seq(3L))).collect()
    }
    assert(e2.getMessage.contains("length"))
  }

  test("graft_sign_bits rejects >64 planes and non-literal matrices at analysis time") {
    import spark.implicits._
    val df = Seq((1L, Seq(1.0, 2.0))).toDF("id", "v")
    val tooMany = org.apache.spark.sql.functions.typedLit(
      Seq.fill(65)(Seq(1.0, 2.0)))
    val e1 = intercept[AnalysisException] {
      df.select(GraftFunctions.signBits(col("v"), tooMany)).collect()
    }
    assert(e1.getMessage.contains("64"))
    val e2 = intercept[AnalysisException] {
      // non-foldable matrix: a column, not a literal
      df.select(GraftFunctions.signBits(col("v"),
        org.apache.spark.sql.functions.array(col("v")))).collect()
    }
    assert(e2.getMessage.contains("foldable"))
  }
}
