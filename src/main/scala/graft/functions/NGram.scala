package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native rolling n-gram hash combine over a token-hash array: for each
  * window start i, `out[i] = fold(th[i..i+n-1], (acc, h) =>
  * (acc·1009 + h) mod 1e9+7)` — THE shingle-key arithmetic of
  * `graft.ops.Dedup.combine2/combine3of` (reference:
  * tembolo1284/feature_store_ML has no text surface; this serves the
  * extended dedup/text mandate), emitted as one fused whole-stage-codegen
  * loop.
  *
  * Bit-identical to the declarative
  * `transform(sequence(1, size(th) − (n−1)), i => combineN(element_at…))`
  * it replaces (spec-asserted), and to the DuckDB oracles'
  * `list_transform(generate_series(…), i -> ((th[i]*1009 + th[i+1]) % P
  * …))` replay — only execution differs: the higher-order form is
  * interpreted (a `sequence` array, one lambda dispatch plus n
  * `element_at` probes per window); this walks the array once with a
  * rolling window, allocating only the output. Hot in every
  * shingle/MinHash/repetition/sparse-posting pipeline — the per-document
  * inner loop of the whole docs family.
  *
  * Short arrays (fewer than n tokens) yield an EMPTY array, not the
  * descending-`sequence` ANSI trap the declarative form has to guard
  * against. Null input → null (standard binary null-safety).
  */
case class NGramHashes(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_ngram_hashes"

  private val M = 1009L

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), IntegerType) =>
        if (!right.foldable)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires a literal n")
        else right.eval() match {
          case n: Int if n >= 1 => TypeCheckResult.TypeCheckSuccess
          case n => TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires n >= 1, got $n")
        }
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, int) operands, " +
          s"got (${l.sql}, ${r.sql})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val th = a.asInstanceOf[ArrayData]
    val n = b.asInstanceOf[Int]
    val len = th.numElements()
    val out = new Array[Long](math.max(0, len - n + 1))
    var i = 0
    while (i < out.length) {
      var acc = th.getLong(i)
      var j = 1
      while (j < n) { acc = (acc * M + th.getLong(i + j)) % P; j += 1 }
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (th, n) => {
      val len = ctx.freshName("len")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      s"""
         |int $len = java.lang.Math.max(0, $th.numElements() - $n + 1);
         |long[] $out = new long[$len];
         |for (int $i = 0; $i < $len; $i++) {
         |  long $acc = $th.getLong($i);
         |  for (int $j = 1; $j < $n; $j++) {
         |    $acc = ($acc * ${M}L + $th.getLong($i + $j)) % ${P}L;
         |  }
         |  $out[$i] = $acc;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NGramHashes =
    copy(left = newLeft, right = newRight)
}

/** [[NGramHashes]] with a WIDE (~60-bit) key: two independent rolling
  * folds per window — the [[NGramHashes]] fold (multiplier 1009) and a
  * second with multiplier 10007, both mod P = 1e9+7 — combined as
  * `h1 · P + h2` (< P² ≈ 1.0e18 < Long.Max, always non-negative).
  *
  * Exists for the rare-shingle POSTING keys (round-8 ADVICE #1): in the
  * single-fold ~2³⁰ key space, birthday collisions are *expected* past
  * ~10⁷ distinct shingles, and a collision merges two shingles' posting
  * lists — inflating df and n_shared invisibly to every check, because
  * the brute baseline and the DuckDB twin replay the identical hash.
  * The wide key needs BOTH folds to collide (~2⁻⁶⁰ per pair): expected
  * collisions stay ≪ 1 out past 10⁹ distinct shingles. Not used for
  * MinHash shingles — the signature arithmetic (aᵢ·H + bᵢ mod P) needs
  * H < P, and a signature collision only perturbs an estimate that the
  * exact-Jaccard verify re-checks anyway.
  *
  * Overflow safety: acc < P ≈ 1.0e9, acc·10007 ≈ 1.0e13, + th < P
  * ≈ 1.0e13 — far inside Long; the final h1·P ≈ 1.0e18 + h2 < 2⁶³. */
case class NGramHashesWide(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_ngram_hashes_wide"

  private val M1 = 1009L
  private val M2 = 10007L

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), IntegerType) =>
        if (!right.foldable)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires a literal n")
        else right.eval() match {
          case n: Int if n >= 1 => TypeCheckResult.TypeCheckSuccess
          case n => TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires n >= 1, got $n")
        }
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, int) operands, " +
          s"got (${l.sql}, ${r.sql})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val th = a.asInstanceOf[ArrayData]
    val n = b.asInstanceOf[Int]
    val len = th.numElements()
    val out = new Array[Long](math.max(0, len - n + 1))
    var i = 0
    while (i < out.length) {
      var h1 = th.getLong(i)
      var h2 = th.getLong(i)
      var j = 1
      while (j < n) {
        val t = th.getLong(i + j)
        h1 = (h1 * M1 + t) % P
        h2 = (h2 * M2 + t) % P
        j += 1
      }
      out(i) = h1 * P + h2
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (th, n) => {
      val len = ctx.freshName("len")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h1 = ctx.freshName("h1")
      val h2 = ctx.freshName("h2")
      val t = ctx.freshName("t")
      s"""
         |int $len = java.lang.Math.max(0, $th.numElements() - $n + 1);
         |long[] $out = new long[$len];
         |for (int $i = 0; $i < $len; $i++) {
         |  long $h1 = $th.getLong($i);
         |  long $h2 = $th.getLong($i);
         |  for (int $j = 1; $j < $n; $j++) {
         |    long $t = $th.getLong($i + $j);
         |    $h1 = ($h1 * ${M1}L + $t) % ${P}L;
         |    $h2 = ($h2 * ${M2}L + $t) % ${P}L;
         |  }
         |  $out[$i] = $h1 * ${P}L + $h2;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NGramHashesWide =
    copy(left = newLeft, right = newRight)
}

/** Native fused tokenize-and-hash: the per-token polynomial hashes of a
  * space-separated string — `transform(filter(split(text, ' '),
  * t => length(t) > 0), t => graft_polyhash(t))` as ONE pass over the
  * string's code points, emitting a hash at each non-empty token
  * boundary. Bit-identical to that declarative pipeline (spec-asserted)
  * and to the DuckDB oracles' `list_transform(list_filter(string_split…))`
  * replay; the declarative form materializes the full token-string array
  * (one String per token per document) before hashing and drops it
  * immediately after — the single largest allocation in every
  * docs-family scan. Tokenizer semantics match `Text.tokens` exactly:
  * split on the space character, empty tokens (consecutive/leading/
  * trailing spaces) contribute nothing.
  */
case class TokenPolyHashes(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_token_hashes"


  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // `_: StringType` (not the object): accept collated string columns too —
    // the hash is codepoint-based, collation-independent (round-16 ADVICE)
    case _: org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string operand, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    var acc = 0L
    var inTok = false
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp == ' ') {
        if (inTok) { out += acc; acc = 0L; inTok = false }
      } else {
        acc = (acc * 31 + cp) % P
        inTok = true
      }
      i += Character.charCount(cp)
    }
    if (inTok) out += acc
    new GenericArrayData(out.toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val cnt = ctx.freshName("cnt")
      val acc = ctx.freshName("acc")
      val inTok = ctx.freshName("inTok")
      val i = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      // worst case one token per two chars ("a a a…") plus one
      s"""
         |java.lang.String $s = $c.toString();
         |int $n = $s.length();
         |long[] $out = new long[$n / 2 + 1];
         |int $cnt = 0;
         |long $acc = 0L;
         |boolean $inTok = false;
         |int $i = 0;
         |while ($i < $n) {
         |  int $cp = $s.codePointAt($i);
         |  if ($cp == ' ') {
         |    if ($inTok) { $out[$cnt++] = $acc; $acc = 0L; $inTok = false; }
         |  } else {
         |    $acc = ($acc * 31L + $cp) % ${P}L;
         |    $inTok = true;
         |  }
         |  $i += java.lang.Character.charCount($cp);
         |}
         |if ($inTok) { $out[$cnt++] = $acc; }
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  java.util.Arrays.copyOf($out, $cnt));
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): TokenPolyHashes = copy(child = newChild)
}

/** Native MinHash signature bank: all k minima
  * `sig_j = min over h in hs of (h·a[j] + b[j]) mod 1e9+7` in ONE pass
  * over the shingle-hash array, returned as `array<bigint>` of length k.
  *
  * Bit-identical to the k separate
  * `array_min(transform(hs, h => (h*a(j)+b(j)) % P))` columns it replaces
  * (spec-asserted) and to the DuckDB oracles'
  * `list_aggregate(list_transform(hs, …), 'min')` replay. The declarative
  * bank materializes k transformed copies of the shingle set per document
  * and dispatches interpreted lambdas; this is one fused loop, no
  * intermediate arrays — the per-document hot path of signature
  * publication and every MinHash-LSH query.
  *
  * The multiplier/offset banks must be foldable (literals): they are the
  * library's fixed hash-family constants, baked into the plan. Empty `hs`
  * → null (the declarative `array_min` of an empty array is null per
  * signature; callers filter ≥3-token docs so neither path sees one).
  */
case class MinHashSigs(first: Expression, second: Expression,
                       third: Expression) extends TernaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_minhash_sigs"

  // empty hs → null even over a non-nullable input column (the codegen
  // branch assigns ev.isNull, which must not be the constant `false`)
  override def nullable: Boolean = true


  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), ArrayType(LongType, _)) =>
        if (!second.foldable || !third.foldable)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires foldable (literal) multiplier/offset banks")
        else (second.eval(), third.eval()) match {
          case (a: ArrayData, b: ArrayData) if a.numElements() != b.numElements() =>
            TypeCheckResult.TypeCheckFailure(
              s"$prettyName banks differ in length: " +
                s"${a.numElements()} vs ${b.numElements()}")
          case _ => TypeCheckResult.TypeCheckSuccess
        }
      case (h, a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<bigint>, array<bigint>)" +
          s" operands, got (${h.sql}, ${a.sql}, ${b.sql})")
    }

  override def nullSafeEval(h: Any, a: Any, b: Any): Any = {
    val hs = h.asInstanceOf[ArrayData]
    val as = a.asInstanceOf[ArrayData]
    val bs = b.asInstanceOf[ArrayData]
    val n = hs.numElements()
    if (n == 0) return null
    val k = as.numElements()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h0 = hs.getLong(i)
      var j = 0
      while (j < k) {
        val v = (h0 * as.getLong(j) + bs.getLong(j)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (hs, as_, bs) => {
      val n = ctx.freshName("n")
      val k = ctx.freshName("k")
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h0 = ctx.freshName("h0")
      val v = ctx.freshName("v")
      s"""
         |int $n = $hs.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $k = $as_.numElements();
         |  long[] $mins = new long[$k];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $h0 = $hs.getLong($i);
         |    for (int $j = 0; $j < $k; $j++) {
         |      long $v = ($h0 * $as_.getLong($j) + $bs.getLong($j)) % ${P}L;
         |      if ($v < $mins[$j]) $mins[$j] = $v;
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): MinHashSigs =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Native SimHash signature over raw text: one pass over the string
  * tokenizes on single spaces (exactly `Text.tokens` = non-empty
  * `split(text, " ")` segments), char-folds each token's polynomial
  * hash `(acc·31 + codepoint) mod 1e9+7` (exactly [[PolyHash]] /
  * [[TokenPolyHashes]]), derives the second hash
  * `h2 = (h1·48271 + 11) mod P`, and accumulates the per-bit votes
  * `s_b = Σ occurrences bit_b` over 60 bits (b < 30 from h1, else h2),
  * returning `Σ_{2·s_b > t} 2^b` where t is the token count.
  *
  * Bit-identical to the declarative pipeline it replaces in
  * `Dedup.simhashSig` — explode(tokens) → count per (doc, token) →
  * 60 conditional sums → threshold — because the distinct-token count
  * weighting is algebraically the per-occurrence sum:
  * `Σ_distinct cnt·bit = Σ_occurrences bit` (spec-asserted against an
  * inline declarative replay). The declarative form shuffles every
  * token of the corpus twice ((doc,token) combine + the 61-field vote
  * aggregate); this computes the signature without the token ever
  * leaving its document row — at 100 TB the difference is two
  * corpus-sized exchanges.
  *
  * Documents with no tokens return NULL (the declarative explode path
  * simply has no rows for them — callers filter `isNotNull` to keep
  * the frame identical). Null text → null. */
case class SimhashSig(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def prettyName: String = "graft_simhash"

  private val A2 = 48271L
  private val B2 = 11L
  private val bits = 60
  private val half = 30

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // `_: StringType` (not the object): accept collated string columns too —
    // the hash is codepoint-based, collation-independent (round-16 ADVICE)
    case _: org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string operand, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    val votes = new Array[Long](bits)
    var t = 0L
    var acc = 0L
    var inTok = false
    def fin(): Unit = {
      val h2 = (acc * A2 + B2) % P
      var b = 0
      while (b < half) {
        votes(b) += (acc >> b) & 1L
        votes(half + b) += (h2 >> b) & 1L
        b += 1
      }
      t += 1L; acc = 0L; inTok = false
    }
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp == ' ') { if (inTok) fin() }
      else { acc = (acc * 31 + cp) % P; inTok = true }
      i += Character.charCount(cp)
    }
    if (inTok) fin()
    if (t == 0L) null
    else {
      var sig = 0L
      var b = 0
      while (b < bits) {
        if (votes(b) * 2 > t) sig |= 1L << b
        b += 1
      }
      java.lang.Long.valueOf(sig)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val votes = ctx.freshName("votes")
      val t = ctx.freshName("t")
      val acc = ctx.freshName("acc")
      val h2 = ctx.freshName("h2")
      val inTok = ctx.freshName("inTok")
      val i = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      val b = ctx.freshName("b")
      val sig = ctx.freshName("sig")
      s"""
         |java.lang.String $s = $c.toString();
         |long[] $votes = new long[$bits];
         |long $t = 0L;
         |long $acc = 0L;
         |boolean $inTok = false;
         |int $i = 0;
         |while ($i < $s.length()) {
         |  int $cp = $s.codePointAt($i);
         |  if ($cp == ' ') {
         |    if ($inTok) {
         |      long $h2 = ($acc * ${A2}L + ${B2}L) % ${P}L;
         |      for (int $b = 0; $b < $half; $b++) {
         |        $votes[$b] += ($acc >> $b) & 1L;
         |        $votes[$half + $b] += ($h2 >> $b) & 1L;
         |      }
         |      $t++; $acc = 0L; $inTok = false;
         |    }
         |  } else {
         |    $acc = ($acc * 31L + $cp) % ${P}L;
         |    $inTok = true;
         |  }
         |  $i += java.lang.Character.charCount($cp);
         |}
         |if ($inTok) {
         |  long $h2 = ($acc * ${A2}L + ${B2}L) % ${P}L;
         |  for (int $b = 0; $b < $half; $b++) {
         |    $votes[$b] += ($acc >> $b) & 1L;
         |    $votes[$half + $b] += ($h2 >> $b) & 1L;
         |  }
         |  $t++;
         |}
         |if ($t == 0L) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $sig = 0L;
         |  for (int $b = 0; $b < $bits; $b++) {
         |    if ($votes[$b] * 2 > $t) $sig |= 1L << $b;
         |  }
         |  ${ev.value} = $sig;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimhashSig =
    copy(child = newChild)
}
