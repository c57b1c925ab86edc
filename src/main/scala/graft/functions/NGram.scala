package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native rolling n-gram hash combine over a token-hash array: for each
  * window start i, `out[i] = fold(th[i..i+n-1], (acc, h) =>
  * (acc·1009 + h) mod 1e9+7)` — THE shingle-key arithmetic of
  * `graft.ops.Dedup.combine2/combine3of` (reference:
  * tembolo1284/feature_store_ML has no text surface; this serves the
  * extended dedup/text mandate), as one fused loop
  * ([[Kernels.ngramHashes]]) called from whole-stage codegen.
  *
  * Bit-identical to the declarative
  * `transform(sequence(1, size(th) − (n−1)), i => combineN(element_at…))`
  * it replaces (spec-asserted), and to the DuckDB oracles'
  * `list_transform(generate_series(…), i -> ((th[i]*1009 + th[i+1]) % P
  * …))` replay — only execution differs: the higher-order form is
  * interpreted (a `sequence` array, one lambda dispatch plus n
  * `element_at` probes per window); this copies the array once into a
  * primitive `long[]` and folds each window from it, allocating only
  * that copy and the output. Hot in every
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

  override def checkInputDataTypes(): TypeCheckResult =
    Operands.ngram(prettyName, left, right)

  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.ngramHashes(a.asInstanceOf[ArrayData], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (th, n) => s"$K.ngramHashes($th, $n)")

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

  override def checkInputDataTypes(): TypeCheckResult =
    Operands.ngram(prettyName, left, right)

  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.ngramHashesWide(a.asInstanceOf[ArrayData], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (th, n) => s"$K.ngramHashesWide($th, $n)")

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
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_token_hashes"

  override def checkInputDataTypes(): TypeCheckResult =
    Operands.string(prettyName, child.dataType)

  override def nullSafeEval(input: Any): Any =
    Kernels.tokenHashes(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$K.tokenHashes($c)")

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
          case (_: ArrayData, _: ArrayData) => TypeCheckResult.TypeCheckSuccess
          case _ => TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires non-null multiplier/offset banks")
        }
      case (h, a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<bigint>, array<bigint>)" +
          s" operands, got (${h.sql}, ${a.sql}, ${b.sql})")
    }

  // the literal banks as primitive arrays, decoded once per task: read
  // through the boxed literal, every (shingle, j) pair unboxed two longs
  @transient private lazy val muls = second.eval().asInstanceOf[ArrayData].toLongArray()
  @transient private lazy val adds = third.eval().asInstanceOf[ArrayData].toLongArray()

  override def nullSafeEval(h: Any, a: Any, b: Any): Any =
    Kernels.minhashSigs(h.asInstanceOf[ArrayData], muls, adds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = ctx.addReferenceObj("minhashMuls", muls, "long[]")
    val b = ctx.addReferenceObj("minhashAdds", adds, "long[]")
    nullSafeCodeGen(ctx, ev, (hs, _, _) =>
      s"${ev.value} = $K.minhashSigs($hs, $a, $b); ${ev.isNull} = ${ev.value} == null;")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): MinHashSigs =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Native SimHash signature over raw text: the [[TokenPolyHashes]]
  * pass over the string tokenizes on single spaces (exactly
  * `Text.tokens` = non-empty `split(text, " ")` segments) and char-folds
  * each token's polynomial hash h1 = `(acc·31 + codepoint) mod 1e9+7`
  * (exactly [[PolyHash]]); [[Kernels.simhash]] then derives the second hash
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
  extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def prettyName: String = "graft_simhash"

  override def checkInputDataTypes(): TypeCheckResult =
    Operands.string(prettyName, child.dataType)

  // the kernel's -1 (no token) is the null result; a signature has
  // only 60 bits, so it is never negative
  override def nullSafeEval(input: Any): Any = {
    val sig = Kernels.simhash(input.asInstanceOf[UTF8String])
    if (sig < 0) null else sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $K.simhash($c); ${ev.isNull} = ${ev.value} < 0L;")

  override protected def withNewChildInternal(newChild: Expression): SimhashSig =
    copy(child = newChild)
}
