package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}

/** The operand checks the native functions share. The functions are
  * SQL-callable, so a malformed operand must be an analysis-time error,
  * not a wrong result or an exception on an executor. */
private[functions] object Operands {

  /** Any string type: the hashes are code-point based, so collated
    * strings hash identically. */
  def string(fn: String, t: DataType): TypeCheckResult = t match {
    case _: StringType => TypeCheckSuccess
    case _ => TypeCheckFailure(s"$fn requires a string operand, got ${t.sql}")
  }

  /** `(array<bigint>, literal int n ≥ 1)`: a token-hash array and its
    * n-gram width. */
  def ngram(fn: String, th: Expression, n: Expression): TypeCheckResult =
    (th.dataType, n.dataType) match {
      case (ArrayType(LongType, _), IntegerType) =>
        if (!n.foldable) TypeCheckFailure(s"$fn requires a literal n")
        else n.eval() match {
          case k: Int if k >= 1 => TypeCheckSuccess
          case k => TypeCheckFailure(s"$fn requires n >= 1, got $k")
        }
      case (l, r) => TypeCheckFailure(
        s"$fn requires (array<bigint>, int) operands, got (${l.sql}, ${r.sql})")
    }

  /** `(array<double>, literal matrix)`, the matrix checked by [[matrix]]. */
  def vecMatrix(fn: String, what: String, v: Expression, m: Expression,
                maxRows: Int = Int.MaxValue): TypeCheckResult =
    (v.dataType, m.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        matrix(fn, what, m, maxRows)
      case (l, r) => TypeCheckFailure(
        s"$fn requires (array<double>, array<array<double>>) operands, " +
          s"got (${l.sql}, ${r.sql})")
    }

  /** A foldable `array<array<double>>` of 1 to `maxRows` non-null rows
    * (the type itself is matched by the caller). An empty matrix has no
    * cell to assign and no plane to hash against. */
  def matrix(fn: String, what: String, m: Expression,
             maxRows: Int = Int.MaxValue): TypeCheckResult =
    if (!m.foldable) TypeCheckFailure(s"$fn requires a foldable (literal) $what matrix")
    else m.eval() match {
      case null => TypeCheckFailure(s"$fn requires a non-null $what matrix")
      case rows: ArrayData if rows.numElements() == 0 =>
        TypeCheckFailure(s"$fn requires a non-empty $what matrix")
      case rows: ArrayData if rows.numElements() > maxRows =>
        TypeCheckFailure(s"$fn takes at most $maxRows $what rows, " +
          s"got ${rows.numElements()}")
      case rows: ArrayData if (0 until rows.numElements()).exists(rows.isNullAt) =>
        TypeCheckFailure(s"$fn requires a $what matrix without null rows")
      case _ => TypeCheckSuccess
    }
}

/** An expression whose operand `matrix` is a foldable
  * `array<array<double>>` ([[Operands.matrix]]). The literal evaluates to
  * a `GenericArrayData` of boxed doubles; it is decoded into primitive
  * rows once per task (the expression is serialized per task) and handed
  * to the kernel, so no row unboxes it. */
private[functions] trait LiteralMatrix { self: Expression =>
  protected def matrix: Expression

  @transient protected lazy val rows: Array[Array[Double]] =
    Kernels.matrixRows(matrix.eval())

  /** [[rows]] as a reference of the generated class. */
  protected def rowsRef(ctx: CodegenContext): String =
    ctx.addReferenceObj("matrixRows", rows, "double[][]")
}
