package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, ExpressionInfo, Literal, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native dot product over two `array<double>` columns.
  *
  * Bit-identical to the declarative fold it replaces —
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)`, i.e. a strict
  * left-to-right IEEE-754 sum of products — so every DuckDB oracle
  * (`list_reduce(list_transform(...), (x,y) -> x+y)`) still matches
  * exactly. The difference is execution: higher-order-function
  * expressions are `CodegenFallback` (interpreted, per-element lambda
  * dispatch, three materialized intermediate arrays), while this
  * expression calls one fused loop ([[Kernels.dot]]) from whole-stage
  * codegen. Brute-force similarity scoring is exactly the shape where
  * that matters: the fold runs once per *pair*, N×M times per query.
  *
  * Null semantics: null array → null (standard `BinaryExpression`
  * null-safety); element nulls read as 0-bits are not expected (embedding
  * arrays are dense; the fold variant would return null instead — the
  * engine never feeds element-null arrays to either form).
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  // the function is registered for SQL users (GraftExtensions), so reject
  // anything but array<double> at analysis time — notably array<float>
  // (the embeddings table's on-disk type), which the unchecked ArrayData
  // getDouble path would read as garbage 8-byte slots
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, array<double>) operands, got (${l.sql}, ${r.sql})")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$K.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native polynomial rolling hash over a string's code points:
  * fold(cp, 0, (acc, cp) => (acc·31 + cp) mod 1e9+7).
  *
  * Bit-identical to the declarative
  * `aggregate(split(s, ""), 0L, (acc, ch) => (acc*31 + ascii(ch)) % P)` —
  * Java-regex `split("")` yields code points and `ascii` returns the code
  * point, exactly what `codePointAt` stepping reproduces — and to the
  * DuckDB oracle's `list_reduce(list_transform(string_split(s,''), ascii))`
  * fold. The declarative form materializes a per-character string array and
  * dispatches two lambdas per char, interpreted; this is one fused loop
  * called from whole-stage codegen. Hot in every shingle/MinHash/SimHash/
  * fingerprint pipeline (one fold per token or document).
  */
case class PolyHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_polyhash"

  override def checkInputDataTypes(): TypeCheckResult =
    Operands.string(prettyName, child.dataType)

  override def nullSafeEval(input: Any): Any =
    Kernels.polyHash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$K.polyHash($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

/** Native sign-random-projection hasher: every hyperplane's sign bit in
  * ONE fused loop — bit j of the result long is set iff
  * dot(vec, planes[j]) > 0 (Charikar hyperplane hashing, the LSH keying
  * primitive for embedding near-dup).
  *
  * Bit-identical to `nPlanes` separate [[DotProduct]]-plus-`when`
  * expressions (spec-asserted), but one expression instead of 64: Janino
  * compiles a single call rather than 64 codegen blocks — the
  * 64-expression form's first-plan compile dominated the LSH query's
  * fresh-JVM cost — and the row's embedding array is read once, not 64
  * times. The plane matrix must be a non-empty literal of at most 64
  * rows: it's geometry baked into the query, decoded once per task
  * ([[LiteralMatrix]]). */
case class SignBits(left: Expression, right: Expression)
  extends BinaryExpression with LiteralMatrix {

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_sign_bits"

  override protected def matrix: Expression = right

  override def checkInputDataTypes(): TypeCheckResult =
    Operands.vecMatrix(prettyName, "plane", left, right, maxRows = 64)

  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.signBits(a.asInstanceOf[ArrayData], rows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planes = rowsRef(ctx)
    defineCodeGen(ctx, ev, (v, _) => s"$K.signBits($v, $planes)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SignBits =
    copy(left = newLeft, right = newRight)
}

/** Native IVF cell assignment: argmin over a literal centroid matrix of
  * the euclidean surrogate |c|² − 2·v·c (|v|² is constant per row), with
  * strict-less comparison so ties resolve to the LOWEST cell — exactly
  * the `array_position(distArr, array_min(distArr)) − 1` arithmetic of
  * the per-cell expression-array form it replaces, and the (dist, cell)
  * row_number tie-break the q_sim_ivf_topk DuckDB twin replays.
  *
  * Bit-identical to that form: |c|² is summed left-to-right over the
  * dims (the Scala `c.map(x*x).sum` order) and the dot product is the
  * [[DotProduct]] fold, so the assignment — and therefore the published
  * cells layout and every gate hash — is unchanged. The difference is
  * shape: one fused loop over a constant matrix instead of `nlist`
  * separate dot-product expressions, so codegen size is constant in the
  * cell count — the per-cell form compiles nlist Janino blocks and stops
  * being viable at the two-level rungs (512–4096 cells), where this is
  * one O(cells·dim) loop per row.
  *
  * The matrix is decoded once per task ([[LiteralMatrix]]): read as the
  * boxed literal, the 4096-cell / 64-dim rung put ~260k virtual calls and
  * unboxings on every row's assignment (the round-15 8M-rung publish
  * measured ~1 h of CPU per 500k-row task before the decode was
  * hoisted). Each row's full-width |c|² is pre-summed in the same order
  * too; a shorter input vector recomputes it over the shared prefix. */
case class CellArgMin(left: Expression, right: Expression)
  extends BinaryExpression with LiteralMatrix {

  override def dataType: DataType = IntegerType

  override def prettyName: String = "graft_cell_argmin"

  override protected def matrix: Expression = right

  override def checkInputDataTypes(): TypeCheckResult =
    Operands.vecMatrix(prettyName, "centroid", left, right)

  @transient private lazy val norms2: Array[Double] = Kernels.rowNorms2(rows)

  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.cellArgMin(a.asInstanceOf[ArrayData], rows, norms2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cells = rowsRef(ctx)
    val n2 = ctx.addReferenceObj("cellNorms2", norms2, "double[]")
    defineCodeGen(ctx, ev, (v, _) => s"$K.cellArgMin($v, $cells, $n2)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CellArgMin =
    copy(left = newLeft, right = newRight)
}

/** Element-wise division of an `array<double>` by a scalar — the
  * normalization step `transform(embedding, x => x / nrm)` every PQ/IVF
  * code-table publish runs over the WHOLE corpus. `transform` is an
  * interpreted higher-order function: per element it binds a lambda
  * variable and walks an expression tree (~64 boxed evaluations per row
  * on this corpus), where this is one fused primitive loop emitting an
  * UnsafeArrayData. Bit-identical: same per-element `x / s` double
  * division, same order. */
case class VecDivScalar(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "graft_vec_div"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, double), got (${l.sql}, ${r.sql})")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.vecDiv(a.asInstanceOf[ArrayData], b.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, s) => s"$K.vecDiv($v, $s)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDivScalar =
    copy(left = newLeft, right = newRight)
}

/** Residual against a LITERAL centroid matrix row: `v[i] − mat[cell][i]`
  * — the IVFADC encode step `zip_with(nv, cn, _ − _)` that previously
  * rode a broadcast (cell → cn) join plus an interpreted zip_with over
  * every corpus row. The matrix is decoded once per task
  * ([[LiteralMatrix]]); the subtraction is one fused loop, bit-identical
  * to the zip_with (same element order, same IEEE subtraction), and the
  * join disappears — the row's `cell` indexes the literal directly, and
  * a cell outside the matrix is an error naming the cell and the matrix
  * size. Output length = min(|v|, |mat[cell]|), the defined overlap
  * (equal everywhere this engine builds vectors). */
case class CellResidual(first: Expression, second: Expression,
                        third: Expression)
  extends TernaryExpression with LiteralMatrix {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "graft_cell_residual"

  override protected def matrix: Expression = third

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(DoubleType, _), IntegerType,
            ArrayType(ArrayType(DoubleType, _), _)) =>
        Operands.matrix(prettyName, "centroid", third)
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, int, array<array<double>>), " +
          s"got (${a.sql}, ${b.sql}, ${c.sql})")
    }

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    Kernels.cellResidual(a.asInstanceOf[ArrayData], b.asInstanceOf[Int], rows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cells = rowsRef(ctx)
    defineCodeGen(ctx, ev, (v, cell, _) => s"$K.cellResidual($v, $cell, $cells)")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): CellResidual =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Graft's native expressions and their column helpers. A helper resolves
  * its function by name in the session's registry, so it needs a session
  * with [[GraftExtensions]] installed (see [[graft.sources.GraftSession]]). */
object GraftFunctions {

  /** One native function: its SQL name, its arity, its expression class
    * and how it builds the expression. A wrong argument count is a clear
    * analysis-time error, not an IndexOutOfBoundsException at runtime. */
  private final class Native(val name: String, arity: Int, cls: Class[_],
                             build: Seq[Expression] => Expression) {
    def registration: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), exprs => {
        if (exprs.length != arity) throw new IllegalArgumentException(
          s"$name requires exactly $arity argument(s), got ${exprs.length}")
        build(exprs)
      })

    def apply(args: Column*): Column = call_function(name, args: _*)
  }

  private val natives = Seq.newBuilder[Native]

  private def native[E <: Expression](name: String, arity: Int)(
      build: Seq[Expression] => E)(implicit ct: ClassTag[E]): Native = {
    val n = new Native(name, arity, ct.runtimeClass, build)
    natives += n
    n
  }

  private val dotFn = native("graft_dot", 2)(e => DotProduct(e(0), e(1)))
  private val polyHashFn = native("graft_polyhash", 1)(e => PolyHash(e(0)))
  private val topKFn = native("graft_top_k", 2) { e =>
    e(1) match {
      case Literal(kv: Int, IntegerType) => BoundedTopK(e(0), kv)
      case other => throw new IllegalArgumentException(
        s"graft_top_k requires a literal int k, got $other")
    }
  }
  private val signBitsFn = native("graft_sign_bits", 2)(e => SignBits(e(0), e(1)))
  private val ngramFn = native("graft_ngram_hashes", 2)(e => NGramHashes(e(0), e(1)))
  private val ngramWideFn =
    native("graft_ngram_hashes_wide", 2)(e => NGramHashesWide(e(0), e(1)))
  private val minhashFn =
    native("graft_minhash_sigs", 3)(e => MinHashSigs(e(0), e(1), e(2)))
  private val tokenHashesFn =
    native("graft_token_hashes", 1)(e => TokenPolyHashes(e(0)))
  private val cellArgMinFn =
    native("graft_cell_argmin", 2)(e => CellArgMin(e(0), e(1)))
  private val bpeEncodeFn =
    native("graft_bpe_encode", 3)(e => BpeEncodeDoc(e(0), e(1), e(2)))
  private val vecDivFn = native("graft_vec_div", 2)(e => VecDivScalar(e(0), e(1)))
  private val cellResidualFn =
    native("graft_cell_residual", 3)(e => CellResidual(e(0), e(1), e(2)))
  private val simhashFn = native("graft_simhash", 1)(e => SimhashSig(e(0)))
  // Spark's own bloom-filter pair, which 4.1.2 resolves only internally,
  // under its Spark names: a builder states a join's bloom filter in its
  // plan with `call_function("bloom_filter_agg" | "might_contain", …)`.
  native("bloom_filter_agg", 1)(e => new BloomFilterAggregate(e(0)))
  native("might_contain", 2)(e => BloomFilterMightContain(e(0), e(1)))

  /** Every native scalar/aggregate function as (identifier, info,
    * builder): the list [[GraftExtensions]] installs. */
  private[graft] val registrations = natives.result().map(_.registration)

  /** `graft_version(base, v)` — snapshot time travel as a SQL TABLE
    * FUNCTION (round-14 verdict #8): a SQL user addresses a committed
    * version by the store's own coordinates (`FROM graft_version('t', 2)`)
    * instead of a physical `parquet.`path`` literal no catalog tells
    * them. The builder resolves through
    * [[graft.store.Snapshots.readVersion]] on the active session and
    * splices that read's logical plan into the query — so commit-marker
    * checking, the not-committed error, and the pruned parquet scan are
    * exactly the Scala read path's. */
  val versionTvfName = "graft_version"

  private[functions] val versionTvfBuilder
      : Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    args => {
      require(args.length == 2,
        s"$versionTvfName(base, version) takes 2 arguments, got ${args.length}")
      val lits = args.map {
        case Literal(v, _) => v
        case other => throw new IllegalArgumentException(
          s"$versionTvfName arguments must be literals, got $other")
      }
      val base = lits.head match {
        case s: UTF8String => s.toString
        case s: String => s
        case x => throw new IllegalArgumentException(
          s"$versionTvfName: base must be a string, got $x")
      }
      val v = lits(1) match {
        case n: java.lang.Number => n.longValue
        case x => throw new IllegalArgumentException(
          s"$versionTvfName: version must be an integer, got $x")
      }
      graft.store.Snapshots
        .readVersion(SparkSession.active, base, v)
        .queryExecution.logical
    }

  private[functions] def versionTvf = (FunctionIdentifier(versionTvfName),
    new ExpressionInfo("graft.store.Snapshots", versionTvfName),
    versionTvfBuilder)

  /** Codegen'd dot product column. */
  def dot(a: Column, b: Column): Column = dotFn(a, b)

  /** Codegen'd polynomial hash column. */
  def polyHash(c: Column): Column = polyHashFn(c)

  /** Bounded-heap top-k aggregate ([[BoundedTopK]]): the k smallest values
    * of `c` as a sorted ascending array. */
  def topK(c: Column, k: Int): Column = topKFn(c, lit(k))

  /** Packed hyperplane sign bits ([[SignBits]]); `planes` must be a
    * literal array-of-arrays column. */
  def signBits(v: Column, planes: Column): Column =
    signBitsFn(v, planes)

  /** Rolling n-gram hash combine over a token-hash array
    * ([[NGramHashes]]); `n` must be a literal. */
  def ngramHashes(th: Column, n: Int): Column =
    ngramFn(th, lit(n))

  /** Wide (~60-bit) two-fold n-gram key ([[NGramHashesWide]]) — the
    * posting-index variant. */
  def ngramHashesWide(th: Column, n: Int): Column =
    ngramWideFn(th, lit(n))

  /** One-pass MinHash signature bank ([[MinHashSigs]]) over literal
    * multiplier/offset banks. */
  def minhashSigs(hs: Column, a: Seq[Long], b: Seq[Long]): Column =
    minhashFn(hs,
      org.apache.spark.sql.functions.typedLit(a),
      org.apache.spark.sql.functions.typedLit(b))

  /** Fused tokenize-and-poly-hash of a space-separated string
    * ([[TokenPolyHashes]]). */
  def tokenHashes(text: Column): Column =
    tokenHashesFn(text)

  /** IVF cell assignment ([[CellArgMin]]): argmin cell index of `v`
    * against a literal centroid matrix. */
  def cellArgMin(v: Column, centroids: Column): Column =
    cellArgMinFn(v, centroids)

  /** Greedy-BPE document encode ([[BpeEncodeDoc]]) against a literal
    * merge table: `struct<n_bpe, bpe_text>`. */
  def bpeEncode(toks: Column, a: Seq[String], b: Seq[String]): Column =
    bpeEncodeFn(toks,
      org.apache.spark.sql.functions.typedLit(a),
      org.apache.spark.sql.functions.typedLit(b))

  /** Fused element-wise array/scalar division ([[VecDivScalar]]). */
  def vecDiv(arr: Column, s: Column): Column =
    vecDivFn(arr, s)

  /** Fused residual against a literal centroid matrix row
    * ([[CellResidual]]). */
  def cellResidual(v: Column, cell: Column, centroids: Column): Column =
    cellResidualFn(v, cell, centroids)

  /** Fused one-pass SimHash signature over raw text ([[SimhashSig]]);
    * null for token-less documents. */
  def simhash(text: Column): Column = simhashFn(text)
}

/** `spark.sql.extensions` entry point and the only way graft's native
  * functions and the `graft_version` table function get installed: at
  * session build time (`--conf spark.sql.extensions=
  * graft.functions.GraftExtensions`, set by
  * [[graft.sources.GraftSession.configure]]). Query builders and SQL users
  * alike resolve `graft_dot` / `graft_polyhash` / `graft_top_k` / … from
  * the registry it fills; sessions forked with `newSession()` inherit it. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.registrations.foreach(ext.injectFunction)
    ext.injectTableFunction(GraftFunctions.versionTvf)
  }
}
