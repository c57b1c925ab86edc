package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
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
  * expression emits one fused loop into whole-stage codegen. Brute-force
  * similarity scoring is exactly the shape where that matters: the fold
  * runs once per *pair*, N×M times per query.
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

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

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
  * dispatches two lambdas per char, interpreted; this is one fused loop in
  * whole-stage codegen. Hot in every shingle/MinHash/SimHash/fingerprint
  * pipeline (one fold per token or document).
  */
case class PolyHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_polyhash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // `_: StringType`: collated strings hash identically (round-16 ADVICE)
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string operand, got ${t.sql}")
  }


  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31 + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      s"""
         |java.lang.String $s = $c.toString();
         |long $acc = 0L;
         |int $i = 0;
         |while ($i < $s.length()) {
         |  int $cp = $s.codePointAt($i);
         |  $acc = ($acc * 31L + $cp) % ${P}L;
         |  $i += java.lang.Character.charCount($cp);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

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
  * compiles a single nested loop rather than 64 codegen blocks — the
  * 64-expression form's first-plan compile dominated the LSH query's
  * fresh-JVM cost — and the row's embedding array is bound once, not 64
  * times. The plane matrix must be foldable (a literal): it's geometry
  * baked into the query, and a non-literal matrix would defeat the point
  * of compiling the loop bounds in. */
case class SignBits(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_sign_bits"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        if (!right.foldable)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires a foldable (literal) plane matrix")
        else right.eval() match {
          case ps: ArrayData if ps.numElements() > 64 =>
            TypeCheckResult.TypeCheckFailure(
              s"$prettyName packs sign bits into one long: at most 64 " +
                s"planes, got ${ps.numElements()}")
          case _ => TypeCheckResult.TypeCheckSuccess
        }
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, array<array<double>>) " +
          s"operands, got (${l.sql}, ${r.sql})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val ps = b.asInstanceOf[ArrayData]
    var bits = 0L
    var j = 0
    val nPlanes = ps.numElements()
    while (j < nPlanes) {
      val p = ps.getArray(j)
      val d = math.min(v.numElements(), p.numElements())
      var s = 0.0
      var i = 0
      while (i < d) { s += v.getDouble(i) * p.getDouble(i); i += 1 }
      if (s > 0) bits |= 1L << j
      j += 1
    }
    bits
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, ps) => {
      val bits = ctx.freshName("bits")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      s"""
         |long $bits = 0L;
         |int ${j}N = $ps.numElements();
         |for (int $j = 0; $j < ${j}N; $j++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $p = $ps.getArray($j);
         |  int $d = java.lang.Math.min($v.numElements(), $p.numElements());
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $d; $i++) {
         |    $s += $v.getDouble($i) * $p.getDouble($i);
         |  }
         |  if ($s > 0) $bits |= 1L << $j;
         |}
         |${ev.value} = $bits;
       """.stripMargin
    })

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
  * one O(cells·dim) loop per row. */
case class CellArgMin(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def prettyName: String = "graft_cell_argmin"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        if (!right.foldable)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires a foldable (literal) centroid matrix")
        else TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, array<array<double>>) " +
          s"operands, got (${l.sql}, ${r.sql})")
    }

  /** The centroid matrix decoded ONCE from the foldable literal into
    * primitive rows, with each row's |c|² pre-summed (left-to-right, the
    * exact order the per-row loop used — the precomputed value is
    * bit-identical, just hoisted). The literal evaluates to a
    * GenericArrayData of BOXED doubles, and `getDouble` unboxes per
    * access: at the 4096-cell / 64-dim rung that put ~260k virtual calls
    * + unboxings on EVERY row's assignment — the round-15 8M-rung
    * publish measured ~1 h of CPU per 500k-row task on exactly this
    * before the hoist. One decode per task (the expression is
    * serialized per task), then the hot loop reads plain double[]. */
  @transient private lazy val cellMat: Array[Array[Double]] = {
    val cs = right.eval().asInstanceOf[ArrayData]
    Array.tabulate(cs.numElements())(j => cs.getArray(j).toDoubleArray())
  }

  /** Pre-summed |c|² per centroid row (full width — used only when the
    * input vector covers the whole centroid; a shorter input recomputes
    * over the shared prefix, exactly like the pre-hoist loop). */
  @transient private lazy val cellCn2: Array[Double] = cellMat.map { c =>
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    s
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val vn = v.numElements()
    var best = 0
    var bd = Double.MaxValue
    var j = 0
    val n = cellMat.length
    while (j < n) {
      val c = cellMat(j)
      val d = math.min(vn, c.length)
      var s = 0.0
      var i = 0
      while (i < d) { s += v.getDouble(i) * c(i); i += 1 }
      var cn2 = cellCn2(j)
      if (d < c.length) {
        cn2 = 0.0; i = 0
        while (i < d) { cn2 += c(i) * c(i); i += 1 }
      }
      val dist = cn2 - 2.0 * s
      if (dist < bd) { bd = dist; best = j }
      j += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("cellMat", cellMat, "double[][]")
    val cn2s = ctx.addReferenceObj("cellCn2", cellCn2, "double[]")
    nullSafeCodeGen(ctx, ev, (v, _) => {
      val best = ctx.freshName("best")
      val bd = ctx.freshName("bd")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val d = ctx.freshName("d")
      val cn2 = ctx.freshName("cn2")
      val s = ctx.freshName("s")
      val dist = ctx.freshName("dist")
      val vn = ctx.freshName("vn")
      s"""
         |int $best = 0;
         |double $bd = java.lang.Double.MAX_VALUE;
         |int $vn = $v.numElements();
         |for (int $j = 0; $j < $mat.length; $j++) {
         |  double[] $c = $mat[$j];
         |  int $d = java.lang.Math.min($vn, $c.length);
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $d; $i++) {
         |    $s += $v.getDouble($i) * $c[$i];
         |  }
         |  double $cn2 = $cn2s[$j];
         |  if ($d < $c.length) {
         |    $cn2 = 0.0;
         |    for (int $i = 0; $i < $d; $i++) { $cn2 += $c[$i] * $c[$i]; }
         |  }
         |  double $dist = $cn2 - 2.0 * $s;
         |  if ($dist < $bd) { $bd = $dist; $best = $j; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })
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

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val s = b.asInstanceOf[Double]
    val n = v.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = v.getDouble(i) / s; i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, s) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |int $n = $v.numElements();
         |double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = $v.getDouble($i) / $s;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions
         |  .UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDivScalar =
    copy(left = newLeft, right = newRight)
}

/** Residual against a LITERAL centroid matrix row: `v[i] − mat[cell][i]`
  * — the IVFADC encode step `zip_with(nv, cn, _ − _)` that previously
  * rode a broadcast (cell → cn) join plus an interpreted zip_with over
  * every corpus row. The matrix is decoded once per task into primitive
  * rows (the [[CellArgMin]] hoist); the subtraction is one fused loop,
  * bit-identical to the zip_with (same element order, same IEEE
  * subtraction), and the join disappears — the row's `cell` indexes the
  * literal directly. Output length = min(|v|, |mat[cell]|), the defined
  * overlap (equal everywhere this engine builds vectors). */
case class CellResidual(first: Expression, second: Expression,
                        third: Expression)
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "graft_cell_residual"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(DoubleType, _), IntegerType,
            ArrayType(ArrayType(DoubleType, _), _)) =>
        if (!third.foldable)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires a foldable (literal) centroid matrix")
        else TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, int, array<array<double>>), " +
          s"got (${a.sql}, ${b.sql}, ${c.sql})")
    }

  @transient private lazy val mat: Array[Array[Double]] = {
    val cs = third.eval().asInstanceOf[ArrayData]
    Array.tabulate(cs.numElements())(j => cs.getArray(j).toDoubleArray())
  }

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val cell = b.asInstanceOf[Int]
    val cn = mat(cell)
    val n = math.min(v.numElements(), cn.length)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = v.getDouble(i) - cn(i); i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val matRef = ctx.addReferenceObj("residMat", mat, "double[][]")
    nullSafeCodeGen(ctx, ev, (v, cell, _) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val cn = ctx.freshName("cn")
      s"""
         |double[] $cn = $matRef[$cell];
         |int $n = java.lang.Math.min($v.numElements(), $cn.length);
         |double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = $v.getDouble($i) - $cn[$i];
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions
         |  .UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })
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

  val dotName = "graft_dot"
  val polyHashName = "graft_polyhash"
  val topKName = "graft_top_k"
  val signBitsName = "graft_sign_bits"
  val ngramName = "graft_ngram_hashes"
  val ngramWideName = "graft_ngram_hashes_wide"
  val minhashName = "graft_minhash_sigs"
  val tokenHashesName = "graft_token_hashes"
  val cellArgMinName = "graft_cell_argmin"
  val bpeEncodeName = "graft_bpe_encode"
  val vecDivName = "graft_vec_div"
  val cellResidualName = "graft_cell_residual"
  val simhashName = "graft_simhash"

  /** Arity-checked SQL builders — a wrong argument count is a clear
    * analysis-time error, not an IndexOutOfBoundsException at runtime. */
  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      if (exprs.length != n) throw new IllegalArgumentException(
        s"$name requires exactly $n argument(s), got ${exprs.length}")
      build(exprs)
    }

  private[functions] val dotBuilder =
    arity(dotName, 2)(exprs => DotProduct(exprs(0), exprs(1)))
  private[functions] val polyHashBuilder =
    arity(polyHashName, 1)(exprs => PolyHash(exprs.head))
  private[functions] val topKBuilder =
    arity(topKName, 2) { exprs =>
      exprs(1) match {
        case Literal(kv: Int, IntegerType) => BoundedTopK(exprs(0), kv)
        case other => throw new IllegalArgumentException(
          s"$topKName requires a literal int k, got $other")
      }
    }

  private[functions] val signBitsBuilder =
    arity(signBitsName, 2)(exprs => SignBits(exprs(0), exprs(1)))

  private[functions] val ngramBuilder =
    arity(ngramName, 2)(exprs => NGramHashes(exprs(0), exprs(1)))

  private[functions] val ngramWideBuilder =
    arity(ngramWideName, 2)(exprs => NGramHashesWide(exprs(0), exprs(1)))

  private[functions] val minhashBuilder =
    arity(minhashName, 3)(exprs => MinHashSigs(exprs(0), exprs(1), exprs(2)))

  private[functions] val tokenHashesBuilder =
    arity(tokenHashesName, 1)(exprs => TokenPolyHashes(exprs.head))

  private[functions] val cellArgMinBuilder =
    arity(cellArgMinName, 2)(exprs => CellArgMin(exprs(0), exprs(1)))

  private[functions] val bpeEncodeBuilder =
    arity(bpeEncodeName, 3)(exprs => BpeEncodeDoc(exprs(0), exprs(1), exprs(2)))

  private[functions] val vecDivBuilder =
    arity(vecDivName, 2)(exprs => VecDivScalar(exprs(0), exprs(1)))

  private[functions] val cellResidualBuilder =
    arity(cellResidualName, 3)(exprs =>
      CellResidual(exprs(0), exprs(1), exprs(2)))

  private[functions] val simhashBuilder =
    arity(simhashName, 1)(exprs => SimhashSig(exprs.head))

  /** Every native scalar/aggregate function as (identifier, info,
    * builder): the list [[GraftExtensions]] installs. */
  private[graft] def registrations = Seq(
    (FunctionIdentifier(dotName),
      new ExpressionInfo(classOf[DotProduct].getName, dotName), dotBuilder),
    (FunctionIdentifier(polyHashName),
      new ExpressionInfo(classOf[PolyHash].getName, polyHashName), polyHashBuilder),
    (FunctionIdentifier(topKName),
      new ExpressionInfo(classOf[BoundedTopK].getName, topKName), topKBuilder),
    (FunctionIdentifier(signBitsName),
      new ExpressionInfo(classOf[SignBits].getName, signBitsName), signBitsBuilder),
    (FunctionIdentifier(ngramName),
      new ExpressionInfo(classOf[NGramHashes].getName, ngramName), ngramBuilder),
    (FunctionIdentifier(ngramWideName),
      new ExpressionInfo(classOf[NGramHashesWide].getName, ngramWideName),
      ngramWideBuilder),
    (FunctionIdentifier(minhashName),
      new ExpressionInfo(classOf[MinHashSigs].getName, minhashName), minhashBuilder),
    (FunctionIdentifier(tokenHashesName),
      new ExpressionInfo(classOf[TokenPolyHashes].getName, tokenHashesName),
      tokenHashesBuilder),
    (FunctionIdentifier(cellArgMinName),
      new ExpressionInfo(classOf[CellArgMin].getName, cellArgMinName),
      cellArgMinBuilder),
    (FunctionIdentifier(bpeEncodeName),
      new ExpressionInfo(classOf[BpeEncodeDoc].getName, bpeEncodeName),
      bpeEncodeBuilder),
    (FunctionIdentifier(vecDivName),
      new ExpressionInfo(classOf[VecDivScalar].getName, vecDivName),
      vecDivBuilder),
    (FunctionIdentifier(cellResidualName),
      new ExpressionInfo(classOf[CellResidual].getName, cellResidualName),
      cellResidualBuilder),
    (FunctionIdentifier(simhashName),
      new ExpressionInfo(classOf[SimhashSig].getName, simhashName),
      simhashBuilder))

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
  def dot(a: Column, b: Column): Column = call_function(dotName, a, b)

  /** Codegen'd polynomial hash column. */
  def polyHash(c: Column): Column = call_function(polyHashName, c)

  /** Bounded-heap top-k aggregate ([[BoundedTopK]]): the k smallest values
    * of `c` as a sorted ascending array. */
  def topK(c: Column, k: Int): Column = call_function(topKName, c, lit(k))

  /** Packed hyperplane sign bits ([[SignBits]]); `planes` must be a
    * literal array-of-arrays column. */
  def signBits(v: Column, planes: Column): Column =
    call_function(signBitsName, v, planes)

  /** Rolling n-gram hash combine over a token-hash array
    * ([[NGramHashes]]); `n` must be a literal. */
  def ngramHashes(th: Column, n: Int): Column =
    call_function(ngramName, th, lit(n))

  /** Wide (~60-bit) two-fold n-gram key ([[NGramHashesWide]]) — the
    * posting-index variant. */
  def ngramHashesWide(th: Column, n: Int): Column =
    call_function(ngramWideName, th, lit(n))

  /** One-pass MinHash signature bank ([[MinHashSigs]]) over literal
    * multiplier/offset banks. */
  def minhashSigs(hs: Column, a: Seq[Long], b: Seq[Long]): Column =
    call_function(minhashName, hs,
      org.apache.spark.sql.functions.typedLit(a),
      org.apache.spark.sql.functions.typedLit(b))

  /** Fused tokenize-and-poly-hash of a space-separated string
    * ([[TokenPolyHashes]]). */
  def tokenHashes(text: Column): Column =
    call_function(tokenHashesName, text)

  /** IVF cell assignment ([[CellArgMin]]): argmin cell index of `v`
    * against a literal centroid matrix. */
  def cellArgMin(v: Column, centroids: Column): Column =
    call_function(cellArgMinName, v, centroids)

  /** Greedy-BPE document encode ([[BpeEncodeDoc]]) against a literal
    * merge table: `struct<n_bpe, bpe_text>`. */
  def bpeEncode(toks: Column, a: Seq[String], b: Seq[String]): Column =
    call_function(bpeEncodeName, toks,
      org.apache.spark.sql.functions.typedLit(a),
      org.apache.spark.sql.functions.typedLit(b))

  /** Fused element-wise array/scalar division ([[VecDivScalar]]). */
  def vecDiv(arr: Column, s: Column): Column =
    call_function(vecDivName, arr, s)

  /** Fused residual against a literal centroid matrix row
    * ([[CellResidual]]). */
  def cellResidual(v: Column, cell: Column, centroids: Column): Column =
    call_function(cellResidualName, v, cell, centroids)

  /** Fused one-pass SimHash signature over raw text ([[SimhashSig]]);
    * null for token-less documents. */
  def simhash(text: Column): Column = call_function(simhashName, text)
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
