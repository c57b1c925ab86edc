package graft

import org.apache.spark.sql.functions._

import graft.ops.Text
import graft.sources.Tables

class TextSpec extends SparkSpec {

  test("token counts: positive counts, sorted desc, limited to 50") {
    val rows = Text.tokenCounts(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    val ns = rows.map(_.getAs[Long]("n"))
    assert(ns.forall(_ > 0))
    assert(ns.sameElements(ns.sorted(Ordering[Long].reverse)))
  }

  test("doc stats: group count and token totals consistent") {
    val rows = Text.docStats(spark, sf).collect()
    val nDocs = rows.map(_.getAs[Long]("n_docs")).sum
    assert(nDocs === Tables.documents(spark, sf).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("total_tokens") > 0)
      assert(r.getAs[Double]("avg_tokens") > 0)
    }
  }

  test("quality score: one row per doc, ratios in [0,1]") {
    val rows = Text.qualityScore(spark, sf).collect()
    assert(rows.length === Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val div = r.getAs[Double]("diversity")
      val stop = r.getAs[Double]("stop_ratio")
      val q = r.getAs[Double]("quality")
      assert(div >= 0.0 && div <= 1.0)
      assert(stop >= 0.0 && stop <= 1.0)
      assert(q >= 0.0 && q <= 1.0)
      assert(r.getAs[Long]("n_distinct") <= r.getAs[Long]("n_tokens"))
    }
  }

  test("langid confusion: counts cover every doc, preds drawn from profile langs") {
    val rows = Text.langIdConfusion(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n")).sum === Tables.documents(spark, sf).count())
    val langs = Text.langMarkers.map(_._1).toSet
    rows.foreach(r => assert(langs.contains(r.getAs[String]("pred_lang"))))
  }

  test("token accounting: regex tokens within whitespace bound, subwords >= tokens") {
    val rows = Text.tokenAccounting(spark, sf).collect()
    assert(rows.length === Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val ws = r.getAs[Long]("n_ws_tokens")
      val re = r.getAs[Long]("n_re_tokens")
      val sub = r.getAs[Long]("n_subwords")
      assert(ws > 0)
      assert(re >= ws, "regex splits at least as fine as whitespace here")
      assert(sub >= ws, "each token yields >= 1 subword chunk")
    }
  }

  test("poly fingerprint: deterministic, in modulus range, matches hand fold") {
    val rows = Text.fingerprintPoly(spark, sf).limit(5).collect()
    val docs = Tables.documents(spark, sf).orderBy(col("doc_id")).limit(5)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val fp = r.getAs[Long]("fp")
      assert(fp >= 0 && fp < 1000000007L)
      val expected = docs(r.getAs[Long]("doc_id"))
        .foldLeft(0L)((acc, ch) => (acc * 31 + ch.toLong) % 1000000007L)
      assert(fp === expected)
    }
  }

  test("quality score: empty document yields null ratios, not an error") {
    import spark.implicits._
    val docs = Seq((1L, "", "en", "src0", 0L), (2L, "a b c", "en", "src0", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = graft.ops.Text.qualityScoreOf(docs).collect()
    assert(rows.length === 2)
    val empty = rows.find(_.getLong(0) == 1L).get
    assert(empty.isNullAt(empty.fieldIndex("diversity")))
    assert(empty.isNullAt(empty.fieldIndex("quality")))
    val full = rows.find(_.getLong(0) == 2L).get
    assert(full.getAs[Double]("diversity") === 1.0)
  }

  test("native PolyHash is bit-identical to the declarative char fold") {
    val declarative = aggregate(split(col("text"), ""), lit(0L),
      (acc, ch) => (acc * 31 + ascii(ch)) % 1000000007L)
    val both = Tables.documents(spark, sf).select(
      declarative.as("fold"),
      graft.functions.GraftFunctions.polyHash(col("text")).as("native"))
    assert(both.where(col("fold") =!= col("native")).count() === 0)
  }

  test("fast fingerprint groups exactly like poly fingerprint (injectivity parity)") {
    val poly = Text.fingerprintPoly(spark, sf)
    val fast = Text.fingerprintFast(spark, sf)
    assert(poly.select(countDistinct(col("fp"))).head.getLong(0) ===
      fast.select(countDistinct(col("fp"))).head.getLong(0))
  }

  test("bigram counts: total mass equals sum over docs of (tokens - 1)") {
    val expected = Tables.documents(spark, sf)
      .select(greatest(size(Text.tokens(col("text"))) - 1, lit(0)).cast("long").as("m"))
      .agg(sum(col("m"))).head.getLong(0)
    val all = Text.bigramCounts(spark, sf, k = Int.MaxValue)
    assert(all.agg(sum(col("n"))).head.getLong(0) === expected)
    val top = Text.bigramCounts(spark, sf).collect()
    assert(top.length <= 50)
    assert(top.map(_.getAs[Long]("n")).sliding(2).forall {
      case Array(a, b) => a >= b; case _ => true
    })
  }

  test("bigram pairing guards empty and single-token texts (ANSI-safe)") {
    import spark.implicits._
    // same expression shape as bigramCounts, driven over hostile inputs
    val df = Seq("", "one", "two tokens", "a b c").toDF("text")
      .select(Text.tokens(col("text")).as("t"))
      .select(explode(when(size(col("t")) >= 2,
        transform(sequence(lit(1), size(col("t")) - 1),
          i => concat_ws(" ", element_at(col("t"), i), element_at(col("t"), i + 1))))
        .otherwise(array().cast("array<string>"))).as("bigram"))
    assert(df.collect().map(_.getString(0)).sorted.toSeq ===
      Seq("a b", "b c", "two tokens"))
  }

  test("repetition signals: bounded fractions, hand-computed on a crafted doc") {
    val rows = Text.repetitionSignals(spark, sf).collect()
    assert(rows.length ===
      Tables.documents(spark, sf)
        .where(size(Text.tokens(col("text"))) >= 3).count())
    rows.foreach { r =>
      val dup = r.getAs[Double]("dup_tri_frac")
      val top = r.getAs[Double]("top_bigram_frac")
      assert(dup >= 0 && dup <= 1.0 + 1e-9)
      assert(top > 0 && top <= 1.0 + 1e-9)
      assert(r.getAs[Long]("n_tri_distinct") <= r.getAs[Long]("n_tri"))
    }
    // crafted doc through the same operator core: "a b a b a b" has
    // 4 trigrams {aba, bab, aba, bab} -> dup frac 0.5; bigrams
    // {ab, ba, ab, ba, ab} -> top share 3/5
    import spark.implicits._
    val crafted = Seq((1L, "a b a b a b", "en", "s", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // drive the public operator over a one-doc frame by writing it to a
    // scratch dir shaped like the corpus
    val tmpDir = java.nio.file.Files.createTempDirectory("graft_rep")
    try {
      crafted.write.mode("overwrite").parquet(s"$tmpDir/documents.parquet")
      val got = Text.repetitionSignals(spark, tmpDir.toString).collect()
      assert(got.length === 1)
      assert(got.head.getAs[Long]("n_tri") === 4L)
      assert(got.head.getAs[Long]("n_tri_distinct") === 2L)
      assert(got.head.getAs[Double]("dup_tri_frac") === 0.5)
      assert(got.head.getAs[Double]("top_bigram_frac") === 0.6)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmpDir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("length filter keeps the inner percentile band") {
    val rows = Text.lengthFilteredStats(spark, sf).collect()
    val totalKept = rows.map(_.getAs[Long]("n_docs")).sum
    val total = Tables.documents(spark, sf).count()
    // [p5, p95] band keeps ~90% of docs
    assert(totalKept <= total && totalKept >= (total * 0.8).toLong,
      s"kept $totalKept of $total")
  }

  test("n-gram decontamination flags exact bench copies at full overlap; broadcast plan") {
    val df = Text.decontaminateNgram(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"))
    // the shingle-combine arithmetic (marker: the 1009 multiplier) must
    // never appear inside a Filter — InferFiltersFromGenerate once pushed
    // an inlined `size(hs) > 0` below the projections and made the scan
    // O(tokens²) per doc (180 s at sf0.1); the query's explodes are outer,
    // which that rule does not match
    assert(!p.linesIterator.exists(l => l.contains("Filter") && l.contains("1009")), p)
    val flagged = df.collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // independent recompute: shared distinct shingles vs the bench union
    val sh = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.ops.Dedup.shingleHashes(col("text")).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val benchUnion = sh.collect { case (id, s) if id % 50 == 0 => s }
      .foldLeft(Set.empty[Long])(_ ++ _)
    sh.foreach { case (id, s) =>
      if (id % 50 != 0 && s.nonEmpty) {
        val shared = (s & benchUnion).size.toLong
        if (shared >= 3) assert(flagged(id) === shared, s"doc $id")
        else assert(!flagged.contains(id), s"doc $id under threshold")
      }
    }
    // any corpus doc whose text equals a bench doc's must be flagged with
    // FULL overlap (the planted exact-copy case fuzzy matching subsumes)
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val benchTexts = texts.collect { case (id, t) if id % 50 == 0 => t }.toSet
    texts.foreach { case (id, t) =>
      if (id % 50 != 0 && benchTexts.contains(t) && sh(id).size >= 3)
        assert(flagged(id) === sh(id).size.toLong, s"exact copy $id")
    }
  }

  test("decontamination removes exactly the benchmark-text documents") {
    val docs = Tables.documents(spark, sf)
    val benchTexts = docs.where(pmod(col("doc_id"), lit(100)) === 0)
      .select("text").distinct().collect().map(_.getString(0)).toSet
    val kept = Text.decontaminate(spark, sf).collect().map(_.getLong(0)).toSet
    val keptTexts = docs.collect()
      .filter(r => kept.contains(r.getAs[Long]("doc_id")))
      .map(_.getAs[String]("text"))
    assert(keptTexts.forall(t => !benchTexts.contains(t)))
    // and nothing else was dropped
    val dropped = docs.collect().filterNot(r => kept.contains(r.getAs[Long]("doc_id")))
    assert(dropped.forall(r => benchTexts.contains(r.getAs[String]("text"))))
  }

  test("training corpus composition equals its independently-computed pieces") {
    import graft.ops.Dedup
    val minQ = 0.70
    val kept = Text.trainingCorpus(spark, sf, minQ).collect()
    val keptIds = kept.map(_.getAs[Long]("doc_id")).toSet
    // recompute each leg independently through the standalone operators
    val dedupKeep = Dedup.dedupedCorpus(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val train = Text.corpusSplit(spark, sf).collect()
      .filter(_.getString(1) == "train").map(_.getLong(0)).toSet
    val quality = Text.qualityScore(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality")).toMap
    val expect = dedupKeep
      .intersect(train)
      .filter(d => quality(d) >= minQ)
    assert(keptIds === expect,
      s"missing=${expect.diff(keptIds).take(5)} extra=${keptIds.diff(expect).take(5)}")
    // the composition is selective, not vacuous
    assert(keptIds.nonEmpty && keptIds.size < quality.size)
    // and the reported quality matches the standalone scorer
    kept.foreach(r =>
      assert(r.getAs[Double]("quality") === quality(r.getAs[Long]("doc_id"))))
  }

  test("corpus split: content-keyed, deterministic, duplicate texts co-assigned, ~80/10/10") {
    val a = Text.corpusSplit(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Text.corpusSplit(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a === b)                       // deterministic
    val docs = Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    // content-keyed: identical texts MUST land in the same split —
    // otherwise duplicates leak across the train/test boundary
    docs.groupBy(_._2).values.foreach { grp =>
      assert(grp.map(d => a(d._1)).toSet.size === 1)
    }
    val n = docs.length.toDouble
    val train = a.values.count(_ == "train") / n
    assert(train > 0.6 && train < 0.95, s"train fraction $train")
    assert(a.values.toSet.subsetOf(Set("train", "val", "test")))
  }

  test("sequence packing: chunks monotone per source, budget respected up to one straddler") {
    val maxTok = 256
    val rows = Text.packChunks(spark, sf, maxTok).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tok"), r.getAs[Long]("chunk_id")))
    rows.groupBy(_._1).values.foreach { src =>
      val ordered = src.sortBy(_._2)
      // chunk ids start at 0 and never decrease along the pack stream
      assert(ordered.head._4 === 0L)
      assert(ordered.map(_._4).zip(ordered.map(_._4).tail)
        .forall { case (x, y) => y >= x })
      // replay the greedy rule locally: chunk = floor(cum-before / max)
      var cum = 0L
      ordered.foreach { case (_, id, nTok, chunk) =>
        assert(chunk === cum / maxTok, s"doc $id")
        cum += nTok
      }
    }
  }

  test("digit normalization: accounting consistent with a local recompute") {
    val got = Text.normalizeNumbers(spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_changed"),
          r.getAs[Long]("digit_chars"), r.getAs[Long]("norm_chars"))).toMap
    val docs = Tables.documents(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("text")))
    val expect = docs.groupBy(_._1).map { case (src, ds) =>
      val texts = ds.map(_._2)
      val norms = texts.map(_.replaceAll("[0-9]+", "<num>"))
      src -> (texts.length.toLong,
        texts.zip(norms).count { case (t, m) => t != m }.toLong,
        texts.map(t => t.count(_.isDigit).toLong).sum,
        norms.map(_.length.toLong).sum)
    }
    assert(got === expect)
  }

  /** The engine's polynomial char fold, replicated independently. */
  private def polyFold(s: String): Long =
    s.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 1000000007L)

  test("lm quality score: repeated corpus phrasing outscores unique gibberish; exact recompute") {
    import spark.implicits._
    val common = "the quick brown fox jumps over the lazy dog"
    val docs = ((0L until 20L).map(i => (i, common)) ++
      Seq((20L, "zq xv qj wk pf bn mz lx"),
        (21L, "the quick brown fox"),
        (22L, "one"))) // <2 tokens: excluded
      .toDF("doc_id", "text")
    val out = graft.ops.Text.lmQualityScoreOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getAs[Double]("lm_score"))).toMap
    assert(!out.contains(22L)) // single-token doc has no transitions
    // every score is a mean log-probability: <= 0
    out.values.foreach { case (_, s) => assert(s <= 0.0) }
    // n_trans = tokens - 1
    assert(out(20L)._1 === 7L)
    assert(out(0L)._1 === 8L)
    // corpus-common phrasing scores strictly higher than unique gibberish
    assert(out(0L)._2 > out(20L)._2)
    // a prefix of the common phrase also scores well
    assert(out(21L)._2 > out(20L)._2)
    // exact recompute of the formula on this tiny corpus
    val texts = ((0L until 20L).map(i => (i, common)) :+
      (20L, "zq xv qj wk pf bn mz lx") :+ (21L, "the quick brown fox"))
    val P = 1000000007L
    val trans = texts.flatMap { case (id, t) =>
      val hs = t.split(" ").filter(_.nonEmpty).map(polyFold)
      hs.sliding(2).map(p => (id, p(0), (p(0) * 1009 + p(1)) % P)).toSeq
    }
    val c12 = trans.groupBy(t => (t._2, t._3)).view.mapValues(_.size).toMap
    val c1 = trans.groupBy(_._2).view.mapValues(_.size).toMap
    val v = texts.flatMap(_._2.split(" ").filter(_.nonEmpty)).map(polyFold)
      .distinct.size
    texts.map(_._1).foreach { id =>
      val lps = trans.filter(_._1 == id).map { case (_, h1, bh) =>
        math.log((c12((h1, bh)) + 0.5) / (c1(h1) + 0.5 * v)) }
      val expect = lps.sum / lps.length
      assert(math.abs(out(id)._2 - expect) < 1e-5, s"doc $id")
    }
  }

  test("chunk windows: stride coverage, bounded sizes, equals a driver replay") {
    val w = Text.chunkWindowTokens
    val s = Text.chunkStride
    val out = Text.chunkWindows(spark, sf).collect()
      .groupBy(_.getLong(0))
    val nTok = Tables.documents(spark, sf)
      .select(col("doc_id"), size(Text.tokens(col("text"))).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet === nTok.keySet)
    nTok.foreach { case (id, n) =>
      val wins = out(id).sortBy(_.getLong(1))
      val expectWins = if (n <= w) 1 else ((n - w + s - 1) / s + 1).toInt
      assert(wins.length === expectWins, s"doc $id")
      wins.zipWithIndex.foreach { case (r, i) =>
        assert(r.getLong(1) === i.toLong)
        assert(r.getLong(2) === i.toLong * s)          // start_tok
        assert(r.getLong(3) === math.min(w.toLong, n - i.toLong * s))
      }
      // the final window reaches the end of the document
      val last = wins.last
      assert(last.getLong(2) + last.getLong(3) === math.max(n, last.getLong(2)))
      // consecutive windows overlap by w - s tokens (full windows)
      if (wins.length > 2) assert(wins(0).getLong(2) + w - wins(1).getLong(2) === (w - s).toLong)
    }
  }

  test("boilerplate spans: planted shared header found across docs, not unique bodies") {
    import spark.implicits._
    val header = (1 to Text.boilWindowTokens).map(i => s"hdr$i").mkString(" ")
    def body(seed: Int) = (1 to 24).map(i => s"w${seed}_$i").mkString(" ")
    val docs = Seq(
      (0L, s"$header ${body(0)}"),
      (1L, s"$header ${body(1)}"),
      (2L, s"$header ${body(2)}"),
      (3L, body(3)), // no header — its spans are unique
      (4L, body(4))).toDF("doc_id", "text")
    val out = graft.ops.Text.boilerplateSpansOf(docs, minDocs = 2).collect()
    assert(out.nonEmpty)
    // the top span reaches exactly the three header-carrying docs
    val top = out.head
    assert(top.getAs[Long]("n_docs") === 3L)
    assert(top.getAs[Long]("first_doc") === 0L)
    // the planted header's hash (independent driver fold) is among them
    val P = 1000000007L
    def fold(s: String) = s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % P)
    val hdrHash = header.split(" ").map(fold)
      .foldLeft(0L)((a, h) => (a * 1009 + h) % P)
    assert(out.map(_.getAs[Long]("sh")).contains(hdrHash))
    // every reported span reaches >= 2 distinct docs; unique bodies absent
    out.foreach { r =>
      assert(r.getAs[Long]("n_docs") >= 2L)
      assert(r.getAs[Long]("n_occ") >= r.getAs[Long]("n_docs"))
    }
  }

  test("boilerplate ratio: window accounting matches the chunk geometry, ratios bounded") {
    val out = Text.boilerplateRatio(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getAs[Double]("shared_ratio"))).toMap
    assert(out.nonEmpty)
    // window totals per source equal the span geometry replayed on token
    // counts: floor((n-16)/8)+1 windows per doc with >= 16 tokens
    val perSource = Tables.documents(spark, sf)
      .select(col("source"), size(Text.tokens(col("text"))).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .filter(_._2 >= Text.boilWindowTokens)
      .groupBy(_._1).view.mapValues(_.map { case (_, n) =>
        (n - Text.boilWindowTokens) / Text.boilStride + 1 }.sum).toMap
    assert(out.keySet === perSource.keySet)
    perSource.foreach { case (src, nWin) =>
      val (n, nShared, ratio) = out(src)
      assert(n === nWin, src)
      assert(nShared >= 0 && nShared <= n, src)
      assert(ratio >= 0.0 && ratio <= 1.0, src)
      assert(math.abs(ratio - math.floor(nShared.toDouble * 1e6 / n + 0.5) / 1e6) < 1e-12, src)
    }
    // the corpus contains exact duplicates, so some sharing must exist
    assert(out.values.map(_._2).sum > 0)
  }

  test("temperature mix: smallest source keeps all, rates flatten, counts equal a hash replay") {
    val out = Text.temperatureMix(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getAs[Double]("p_accept"), r.getLong(3))).toMap
    assert(out.nonEmpty)
    val minSource = out.minBy(_._2._1)
    // p = n^(α-1)/max: the smallest source's acceptance is exactly 1
    assert(minSource._2._2 === 1.0)
    // acceptance is monotone non-increasing in source size
    out.toSeq.sortBy(_._2._1).map(_._2._2).sliding(2).foreach {
      case Seq(a, b) => assert(a >= b - 1e-9)
      case _ =>
    }
    // sampled counts equal an independent driver-side hash replay
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val n = docs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val wMax = n.values.map(c => math.pow(c.toDouble, Text.mixExponent)).max
    docs.groupBy(_._2).foreach { case (src, ds) =>
      val p = math.pow(n(src).toDouble, Text.mixExponent) / wMax
      val thr = math.floor(p * 1e6).toLong
      val expect = ds.count { case (id, _) =>
        polyFold(id.toString) % 1000000L < thr }
      assert(out(src)._3 === expect.toLong, src)
      assert(out(src)._1 === n(src), src)
      // sampled share tracks the acceptance probability (hash uniformity)
      assert(math.abs(out(src)._3.toDouble / n(src) - p) < 0.05, src)
    }
  }

  test("vocab stats: totals equal token accounting, hapax/types bounded") {
    val out = Text.vocabStats(spark, sf).collect()
    assert(out.nonEmpty)
    // per-source whitespace-token totals from the already-proven accounting
    val acc = Tables.documents(spark, sf).select(col("doc_id"), col("source"))
      .join(Text.tokenAccounting(spark, sf), "doc_id")
      .groupBy(col("source"))
      .agg(org.apache.spark.sql.functions.sum(col("n_ws_tokens")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val (src, nTok, nTyp, nHap, ttr) = (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getAs[Double]("ttr"))
      assert(nTok === acc(src), src)
      assert(nTyp >= 1 && nTyp <= nTok, src)
      assert(nHap >= 0 && nHap <= nTyp, src)
      assert(math.abs(ttr -
        math.floor(nTyp.toDouble / nTok * 1e6 + 0.5) / 1e6) < 1e-12, src)
    }
  }

  test("oov rate: zero under a full vocabulary, monotone in vocab size") {
    val full = Text.oovRate(spark, sf, vocabSize = 1 << 20).collect()
    full.foreach(r => assert(r.getAs[Long]("n_oov") === 0L))
    val small = Text.oovRate(spark, sf, vocabSize = 4).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("oov_rate")).toMap
    val default = Text.oovRate(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("oov_rate")).toMap
    default.foreach { case (src, rate) =>
      assert(rate >= 0.0 && rate <= 1.0, src)
      // a larger head vocabulary can only cover more token mass
      assert(rate <= small(src) + 1e-12, src)
    }
  }

  test("zipf slope equals a driver-side least-squares replay, negative on ranked counts") {
    val out = Text.zipfSlope(spark, sf).collect()
    assert(out.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySource = docs.groupBy(_._1)
    out.foreach { r =>
      val (src, nTop) = (r.getString(0), r.getLong(1))
      val counts = bySource(src).flatMap(_._2.split(" ").filter(_.nonEmpty))
        .groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) }
      val top = counts.toSeq.sortBy { case (t, n) => (-n, t) }
        .take(Text.zipfTopK).zipWithIndex
      assert(nTop === top.length.toLong, src)
      if (nTop == 1) {
        // single-type source: slope is contractually null, never 0/0
        assert(r.isNullAt(r.fieldIndex("slope")), src)
      } else {
        val slope = r.getAs[Double]("slope")
        val terms = top.map { case ((_, n), i) =>
          val x = math.log((i + 1).toDouble); val y = math.log(n.toDouble)
          (math.floor(x * 1e9 + 0.5).toLong, math.floor(y * 1e9 + 0.5).toLong,
            math.floor(x * y * 1e12 + 0.5).toLong,
            math.floor(x * x * 1e12 + 0.5).toLong)
        }
        val (sx, sy, sxy, sxx) = (terms.map(_._1).sum, terms.map(_._2).sum,
          terms.map(_._3).sum, terms.map(_._4).sum)
        val n = top.length.toDouble
        val expect = math.floor(
          (n * (sxy.toDouble / 1e12) - (sx.toDouble / 1e9) * (sy.toDouble / 1e9)) /
            (n * (sxx.toDouble / 1e12) - (sx.toDouble / 1e9) * (sx.toDouble / 1e9))
            * 1e6 + 0.5) / 1e6
        assert(slope === expect, src)
        // counts are non-increasing in rank, so the fitted slope can't
        // be positive
        assert(slope <= 0.0, src)
      }
    }
  }

  test("pmi collocations equal a driver-side replay over the token stream") {
    val out = Text.pmiCollocations(spark, sf).collect()
    assert(out.nonEmpty)
    // independent replay: bigram counts + marginals from the raw text
    val toks = Tables.documents(spark, sf).select(col("text")).collect()
      .map(_.getString(0).split(" ").filter(_.nonEmpty)).filter(_.length >= 2)
    val nXY = collection.mutable.Map.empty[(String, String), Long]
    toks.foreach(t => t.sliding(2).foreach { case Array(a, b) =>
      nXY((a, b)) = nXY.getOrElse((a, b), 0L) + 1 })
    val nX = nXY.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val nY = nXY.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val nTot = nXY.values.sum
    val expect = nXY.toSeq
      .filter(_._2 >= Text.pmiMinCount)
      .map { case ((a, b), n) =>
        (a, b, n, math.floor(math.log(
          (n * nTot).toDouble / (nX(a) * nY(b)).toDouble) * 1e6 + 0.5) / 1e6)
      }
      .sortBy { case (a, b, _, p) => (-p, a, b) }
      .take(Text.pmiTopK)
    val got = out.map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getAs[Double]("pmi"))).toSeq
    assert(got === expect)
  }

  test("ppjoin: prefix-filtered result equals brute force; prefixes actually prune") {
    val out = Text.prefixFilterJoin(spark, sf).collect()
    // brute force over the same pinned bigram-set frame: every pair,
    // exact integer threshold — the no-false-negatives ground truth
    val (sets, cand) = Text.prefixCandidates(spark, sf, 3, 5)
    val docs = sets.select(col("doc_id"), col("hs")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSet))
      .sortBy(_._1)
    val brute = for {
      i <- docs.indices; j <- (i + 1) until docs.length
      (ida, wa) = docs(i); (idb, wb) = docs(j)
      inter = (wa & wb).size.toLong
      uni = wa.size + wb.size - inter
      if inter * 5 >= uni * 3
    } yield (ida, idb, math.floor(inter.toDouble / uni * 1e6 + 0.5) / 1e6)
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      === brute.toSeq)
    assert(out.nonEmpty)
    // the point of the prefix+length filters: candidates ≪ n(n−1)/2
    // (trigram shingles keep dfs low even on this tiny-vocabulary
    // corpus, so the rare-first prefixes prune hard)
    val n = docs.length.toLong
    val nCand = cand.count()
    assert(nCand < n * (n - 1) / 2 / 20,
      s"prefix filter barely pruned: $nCand candidates for $n docs")
  }

  test("substring spans: planted shared runs yield exact extents, islands merge, unique doc absent") {
    import spark.implicits._
    // doc 0 and doc 1 share an exact 20-token run (doc 0 at offset 3,
    // doc 1 at offset 0); doc 1 and doc 3 additionally share a 16-token
    // run placed > w tokens after doc 1's first run, so doc 1 must
    // report TWO merged spans; doc 2 is entirely unique
    val shared = (1 to 20).map(i => s"shared$i").mkString(" ")
    val shared2 = (1 to 16).map(i => s"also$i").mkString(" ")
    val a = s"alpha beta gamma $shared delta epsilon"
    val b = s"$shared zeta " +
      (1 to 30).map(i => s"bfill$i").mkString(" ") + s" $shared2"
    val c = (1 to 40).map(i => s"cuniq$i").mkString(" ")
    val d = s"dstart $shared2 dtail1 dtail2"
    val docs = Seq((0L, a, "en", "s"), (1L, b, "en", "s"),
      (2L, c, "en", "s"), (3L, d, "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val out = graft.ops.Text.substringDupSpansOf(docs).collect()
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!byId.contains(2L), "unique doc reported a duplicated span")
    // doc 0: 5 overlapping duplicated windows (pos 3..7) merge into ONE
    // maximal span of exactly the 20 shared tokens at offset 3
    assert(byId(0L).getAs[Long]("n_spans") === 1)
    assert(byId(0L).getAs[Long]("dup_tokens") === 20)
    assert(byId(0L).getAs[Long]("first_start") === 3)
    // doc 1: two separated runs → two spans, 20 + 16 duplicated tokens
    assert(byId(1L).getAs[Long]("n_spans") === 2)
    assert(byId(1L).getAs[Long]("dup_tokens") === 36)
    assert(byId(1L).getAs[Long]("first_start") === 0)
    // doc 3: the 16-token run at offset 1 (single window = single span)
    assert(byId(3L).getAs[Long]("n_spans") === 1)
    assert(byId(3L).getAs[Long]("dup_tokens") === 16)
    assert(byId(3L).getAs[Long]("first_start") === 1)
    // fractions are span tokens over doc tokens (doc 0 has 25 tokens)
    assert(math.abs(byId(0L).getAs[Double]("dup_frac") - 20.0 / 25) < 1e-9)
  }

  test("substring excision: canonical copy kept byte-identical, later copies excised exactly") {
    import spark.implicits._
    // same planted geometry as the span-audit spec: doc 0 owns the
    // 20-token run (0 < 1), doc 1 owns the 16-token run (1 < 3)
    val shared = (1 to 20).map(i => s"shared$i").mkString(" ")
    val shared2 = (1 to 16).map(i => s"also$i").mkString(" ")
    val a = s"alpha beta gamma $shared delta epsilon"
    val bfill = (1 to 30).map(i => s"bfill$i").mkString(" ")
    val b = s"$shared zeta $bfill $shared2"
    val c = (1 to 40).map(i => s"cuniq$i").mkString(" ")
    val d = s"dstart $shared2 dtail1 dtail2"
    val docs = Seq((0L, a, "en", "s"), (1L, b, "en", "s"),
      (2L, c, "en", "s"), (3L, d, "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val out = graft.ops.Text.substringExcisedCorpusOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_excised"),
          r.getAs[String]("clean_text"))).toMap
    // owners and unique docs round-trip byte-identical
    assert(out(0L) === ((25L, 0L, a)))
    assert(out(2L) === ((40L, 0L, c)))
    // doc 1: loses doc-0's 20-token run, KEEPS the 16-token run it owns
    assert(out(1L) === ((67L, 20L, s"zeta $bfill $shared2")))
    // doc 3: loses the 16-token run owned by doc 1
    assert(out(3L) === ((19L, 16L, "dstart dtail1 dtail2")))
    // token conservation: kept + excised = total
    out.values.foreach { case (nt, ne, txt) =>
      val kept = if (txt.isEmpty) 0 else txt.split(" ").length
      assert(kept + ne === nt)
    }
  }

  test("substring ops key windows in the WIDE two-fold space (round-11 ADVICE #1)") {
    import spark.implicits._
    // a narrow-fold collision fabricates a verbatim duplicate that both
    // engines replay identically — the regression here pins the plans to
    // the wide expression so the narrow key can't silently come back
    val docs = Seq((0L, "a b", "en", "s")).toDF("doc_id", "text", "lang", "source")
    Seq(graft.ops.Text.substringDupSpansOf(docs),
        graft.ops.Text.substringExcisedCorpusOf(docs)).foreach { df =>
      val p = df.queryExecution.analyzed.toString
      assert(p.contains("graft_ngram_hashes_wide"), p)
      assert(!p.contains("graft_ngram_hashes("), p)
    }
    // and the wide key actually separates a planted single-fold collision:
    // [x+1, y-1009 mod P] has the SAME 1009-fold window hash as [x, y]
    // (Δ·1009 + Δ' ≡ 0 mod P) but a different 10007-fold — so the wide
    // combine distinguishes what the narrow key conflates
    val P = graft.ops.Dedup.P
    val x = 123456789L; val y = 987654321L
    val pair = Seq((Seq(x, y), Seq(x + 1, (y - 1009L + P) % P)))
      .toDF("a", "b")
      .select(
        graft.functions.GraftFunctions.ngramHashes(col("a"), 2).as("na"),
        graft.functions.GraftFunctions.ngramHashes(col("b"), 2).as("nb"),
        graft.functions.GraftFunctions.ngramHashesWide(col("a"), 2).as("wa"),
        graft.functions.GraftFunctions.ngramHashesWide(col("b"), 2).as("wb"))
      .head()
    assert(pair.getSeq[Long](0) === pair.getSeq[Long](1),
      "planted narrow collision did not collide")
    assert(pair.getSeq[Long](2) !== pair.getSeq[Long](3),
      "wide key failed to separate the planted collision")
  }

  test("dsir: weights equal a driver-side replay, target-like docs outrank, quotas exact") {
    import spark.implicits._
    val P = graft.ops.Dedup.P
    val M = graft.ops.Dedup.shingleMult
    val B = graft.ops.Text.dsirBuckets
    // src0 (the target) speaks {alpha beta}; srcA docs are either
    // target-like (alpha/beta) or unlike (gamma/delta)
    val docs = Seq(
      (0L, "alpha beta alpha beta alpha", "en", "src0"),
      (1L, "beta alpha beta alpha", "en", "src0"),
      (2L, "alpha beta alpha", "en", "srcA"),
      (3L, "gamma delta gamma delta", "en", "srcA"),
      (4L, "delta gamma delta gamma delta", "en", "srcA"),
      (5L, "alpha beta", "en", "srcA"),
      (6L, "gamma delta", "en", "srcA"))
      .toDF("doc_id", "text", "lang", "source")
    val out = graft.ops.Text.dsirWeightsOf(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    // driver-side replay of the full weight arithmetic
    def ph(tok: String): Long =
      tok.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % P)
    val toks = Map(0L -> "alpha beta alpha beta alpha",
      1L -> "beta alpha beta alpha", 2L -> "alpha beta alpha",
      3L -> "gamma delta gamma delta", 4L -> "delta gamma delta gamma delta",
      5L -> "alpha beta", 6L -> "gamma delta")
      .view.mapValues(_.split(" ").toSeq).toMap
    val srcOf = Map(0L -> "src0", 1L -> "src0", 2L -> "srcA", 3L -> "srcA",
      4L -> "srcA", 5L -> "srcA", 6L -> "srcA")
    val feats = toks.map { case (id, ts) =>
      val th = ts.map(ph)
      val bi = th.sliding(2).filter(_.length == 2)
        .map(p => (p(0) * M + p(1)) % P).toSeq
      id -> (th ++ bi).map(h => (h % B).toInt)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    }
    val rc = feats.values.flatten
      .groupMapReduce(_._1)(_._2)(_ + _)
    val tc = feats.filter(f => srcOf(f._1) == "src0").values.flatten
      .groupMapReduce(_._1)(_._2)(_ + _)
    val rT = rc.values.sum.toDouble
    val tT = tc.values.sum.toDouble
    val replay = feats.map { case (id, fb) =>
      id -> fb.map { case (bkt, c) =>
        val lr = math.log((tc.getOrElse(bkt, 0L) + 1.0) / (tT + B)) -
          math.log((rc(bkt) + 1.0) / (rT + B))
        math.floor(c.toDouble * lr * 1e6 + 0.5).toLong
      }.sum
    }
    out.foreach { case (id, _, w, _, _) =>
      assert(w === replay(id), s"weight mismatch for doc $id") }
    // target-like srcA docs outrank unlike ones within the shard
    val bySrcA = out.filter(_._2 == "srcA")
    val rankOf = bySrcA.map(r => r._1 -> r._4).toMap
    assert(rankOf(2L) < rankOf(3L) && rankOf(5L) < rankOf(6L))
    // quota: ceil(0.2*n) selected per source — src0 has 2 docs → 1,
    // srcA has 5 docs → 1; selected rows are exactly the rank-1 rows
    assert(out.count(_._5 == 1L) === 2)
    assert(out.filter(_._5 == 1L).forall(_._4 == 1L))
  }

  test("bpe: planted-vocab fit picks the expected ranked merges") {
    // pair mass: (a,b) = 2·10 + 5 = 25 wins round 1; merging makes
    // (ab,ab) = 10 win round 2; (c,d) = 3 wins round 3; then no pair
    // repeats (count < 2) and the fit stops before the merge cap
    val wc = Seq(("abab", 10L), ("ab", 5L), ("cd", 3L))
    val merges = Text.fitBpe(wc, maxMerges = 10)
    assert(merges === Seq(("a", "b"), ("ab", "ab"), ("c", "d")))
    // encode against the fitted table: rank order + iterated replace
    val t = new graft.functions.BpeTable(
      merges.map(_._1).toArray, merges.map(_._2).toArray)
    assert(t.encodeWord("abab") === (("abab", 1)))
    // back-to-back case the single replace pass would miss: after
    // (a,b), "ababab" is [ab ab ab]; (ab,ab) leftmost gives [abab, ab]
    assert(t.encodeWord("ababab") === (("abab@@ ab", 2)))
    assert(t.encodeWord("cdx") === (("cd@@ x", 2)))
    // out-of-vocabulary word falls back to characters
    assert(t.encodeWord("zq") === (("z@@ q", 2)))
    // deterministic tie-break: equal counts resolve lexicographically
    val tie = Text.fitBpe(Seq(("xy", 2L), ("uv", 2L)), maxMerges = 1)
    assert(tie === Seq(("u", "v")))
  }

  test("bpe encode: SQL-surface misuse is a clean analysis-time error") {
    // round-12 ADVICE: unequal-length, null, or null-entry merge arrays
    // must fail at analysis, not throw AIOOBE/NPE at plan/run time or
    // silently drop merges
    spark.range(1).createOrReplaceTempView("bpe_misuse_one")
    def fails(call: String, frag: String): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT graft_bpe_encode(array('a'), $call) " +
          "FROM bpe_misuse_one").collect()
      }
      assert(e.getMessage.contains(frag), s"$call -> ${e.getMessage}")
    }
    fails("array('a','b'), array('c')", "equal length")
    fails("CAST(NULL AS ARRAY<STRING>), array('c')", "non-null")
    fails("array('a', NULL), array('c', 'd')", "null entries")
    // the valid shape still encodes
    val ok = spark.sql("SELECT graft_bpe_encode(array('ab'), array('a'), " +
      "array('b')).n_bpe AS n FROM bpe_misuse_one").collect()
    assert(ok.head.getLong(0) === 1L)
  }

  test("bpe encode round-trips the corpus and counts subwords consistently") {
    val orig = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split(" ").filter(_.nonEmpty).mkString(" ")).toMap
    val out = Text.bpeEncodedDocs(spark, sf).collect()
    assert(out.length === orig.size)
    out.foreach { r =>
      val id = r.getLong(0)
      val nWords = r.getLong(1)
      val nBpe = r.getLong(2)
      val txt = r.getString(3)
      // stripping the continuation marker reconstructs the exact text
      assert(txt.replace("@@ ", "") === orig(id), s"doc $id round-trip")
      // every word yields >= 1 piece; marker count accounts for extras
      assert(nBpe >= nWords)
      assert(nBpe === nWords + "@@ ".r.findAllIn(txt).length, s"doc $id counts")
    }
    // the fit actually learned something on the corpus: some multi-char
    // subword exists (not the all-characters degenerate split)
    assert(out.exists(r => r.getLong(2) < 3 * r.getLong(1)))
  }

  test("bpe apply: foreign corpus under corpus-A merges == kernel replay; id fold replayable") {
    import spark.implicits._
    // corpus A's PUBLISHED merge artifact (fit once, apply everywhere)
    val merges = spark.table(Text.ensureBpeMergesTable(spark, sf))
    val m = merges.orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2)))
    assert(m.nonEmpty)
    // corpus B: in-vocabulary, OOV, repeated, and empty documents — the
    // apply path must NOT refit, just replay corpus A's merges
    val docsB = Seq((1L, "zqwx zqwx"), (2L, "the of and"), (3L, ""))
      .toDF("doc_id", "text")
    val out = Text.bpeEncodeWith(docsB, merges).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    val kernel = new graft.functions.BpeTable(m.map(_._1), m.map(_._2))
    Seq(1L -> "zqwx zqwx", 2L -> "the of and", 3L -> "").foreach {
      case (id, txt) =>
        val words = txt.split(" ").filter(_.nonEmpty)
        val encoded = words.map(kernel.encodeWord)
        assert(out(id) === ((encoded.map(_._2.toLong).sum,
          encoded.map(_._1).mkString(" "))), s"doc $id")
    }
    // the declared apply query's id fold replays driver-side: sorted
    // distinct marked pieces -> 1-based ids -> (acc*31 + id) % P in order
    val enc = Text.bpeEncodedDocs(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val pieceSeq = enc.view.mapValues(_.split(" ").filter(_.nonEmpty)).toMap
    val vocab = pieceSeq.values.flatten.toSeq.distinct.sorted
    val ids = vocab.zipWithIndex.map { case (p, i) => p -> (i + 1L) }.toMap
    val applied = Text.bpeApplyTokenIds(spark, sf).collect()
    assert(applied.length === enc.size)
    applied.foreach { r =>
      val docId = r.getLong(0)
      val expect = pieceSeq(docId).foldLeft(0L)(
        (acc, p) => (acc * 31 + ids(p)) % graft.ops.Dedup.P)
      assert(r.getAs[Long]("id_fold") === expect, s"doc $docId fold")
      assert(r.getAs[Long]("vocab_size") === vocab.length.toLong)
    }
  }

  test("bpe fertility: per-language sums equal the per-doc encode, ratio >= 1") {
    val docs = Text.bpeEncodedDocs(spark, sf)
      .join(Tables.documents(spark, sf).select("doc_id", "lang"), "doc_id")
      .collect().map(r => (r.getAs[String]("lang"),
        r.getAs[Long]("n_words"), r.getAs[Long]("n_bpe_tokens")))
    val expect = docs.groupBy(_._1).view.mapValues(rs =>
      (rs.length.toLong, rs.map(_._2).sum, rs.map(_._3).sum)).toMap
    val out = Text.bpeFertilityByLang(spark, sf).collect()
    assert(out.map(_.getString(0)).toSet === expect.keySet)
    out.foreach { r =>
      val (nd, nw, nb) = expect(r.getString(0))
      assert(r.getAs[Long]("n_docs") === nd)
      assert(r.getAs[Long]("n_words") === nw)
      assert(r.getAs[Long]("n_bpe_tokens") === nb)
      // a word yields at least one subword, so fertility >= 1 wherever
      // any words exist
      if (nw > 0) assert(r.getAs[Double]("fertility") >= 1.0)
    }
  }
}
