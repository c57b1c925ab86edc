package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The one implementation of every native scalar function's arithmetic.
  * An expression's interpreted `nullSafeEval` and its generated code both
  * call the method here — the generated Java through the static forwarder
  * `graft.functions.Kernels.<name>` ([[K]]) — so the two paths cannot
  * drift apart. Signatures stay Java-plain (`ArrayData`, `UTF8String`,
  * primitives, primitive arrays).
  *
  * One call site now serves every caller's array class (`UnsafeArrayData`,
  * `GenericArrayData`, `ColumnarArray`), so a kernel that reads an input
  * array more than once per row copies it into a primitive array first;
  * the foldable literal operands (plane and centroid matrices, MinHash
  * banks) are decoded once per task by their expression and passed in
  * decoded. Every fold keeps its element order and its `% P`, so results
  * are bit-identical to the declarative forms and DuckDB oracles the
  * expressions replay. */
object Kernels {

  /** Strict left-to-right IEEE sum of products over the shared prefix. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  private def prefixDot(x: Array[Double], y: Array[Double], n: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < n) { s += x(i) * y(i); i += 1 }
    s
  }

  /** Polynomial hash of a string's code points:
    * fold(cp, 0, (acc, cp) => (acc·31 + cp) mod P). */
  def polyHash(str: UTF8String): Long = {
    val s = str.toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31 + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }

  /** [[polyHash]] of each non-empty space-separated token, written to
    * `out` in order; returns the token count. `out` needs
    * `length / 2 + 1` slots, the worst case (`"a a a…"`). */
  private def tokenHashesInto(s: String, out: Array[Long]): Int = {
    var cnt = 0
    var acc = 0L
    var inTok = false
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp == ' ') {
        if (inTok) { out(cnt) = acc; cnt += 1; acc = 0L; inTok = false }
      } else {
        acc = (acc * 31 + cp) % P
        inTok = true
      }
      i += Character.charCount(cp)
    }
    if (inTok) { out(cnt) = acc; cnt += 1 }
    cnt
  }

  def tokenHashes(str: UTF8String): ArrayData = {
    val s = str.toString
    val out = new Array[Long](s.length / 2 + 1)
    UnsafeArrayData.fromPrimitiveArray(
      out, Platform.LONG_ARRAY_OFFSET, tokenHashesInto(s, out), 8)
  }

  /** The 60-bit SimHash of the text's token hashes, or `-1` (no valid
    * signature) when it has no token. Bit b < 30 votes bit b of the token
    * hash h1, bit b ≥ 30 votes bit b − 30 of h2 = (h1·48271 + 11) mod P;
    * a bit is set when more than half the tokens vote for it. */
  def simhash(str: UTF8String): Long = {
    val s = str.toString
    val hs = new Array[Long](s.length / 2 + 1)
    val t = tokenHashesInto(s, hs)
    if (t == 0) return -1L
    val votes = new Array[Long](60)
    var k = 0
    while (k < t) {
      val h1 = hs(k)
      val h2 = (h1 * 48271L + 11L) % P
      var b = 0
      while (b < 30) {
        votes(b) += (h1 >> b) & 1L
        votes(30 + b) += (h2 >> b) & 1L
        b += 1
      }
      k += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) {
      if (votes(b) * 2 > t) sig |= 1L << b
      b += 1
    }
    sig
  }

  /** Rolling combine of the n hashes from `i`: (acc·m + h) mod P. */
  private def fold(x: Array[Long], i: Int, n: Int, m: Long): Long = {
    var acc = x(i)
    var j = 1
    while (j < n) { acc = (acc * m + x(i + j)) % P; j += 1 }
    acc
  }

  /** Each n-token window's combined hash (multiplier 1009); empty when
    * there are fewer than n hashes. */
  def ngramHashes(th: ArrayData, n: Int): ArrayData = {
    val x = th.toLongArray()
    val out = new Array[Long](math.max(0, x.length - n + 1))
    var i = 0
    while (i < out.length) { out(i) = fold(x, i, n, 1009L); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** [[ngramHashes]] with the wide key h1·P + h2 of two folds
    * (multipliers 1009 and 10007). */
  def ngramHashesWide(th: ArrayData, n: Int): ArrayData = {
    val x = th.toLongArray()
    val out = new Array[Long](math.max(0, x.length - n + 1))
    var i = 0
    while (i < out.length) {
      out(i) = fold(x, i, n, 1009L) * P + fold(x, i, n, 10007L)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** sig_j = min over h of (h·a(j) + b(j)) mod P for every j; null for an
    * empty shingle set. */
  def minhashSigs(hs: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val h = hs.toLongArray()
    if (h.isEmpty) return null
    val mins = Array.fill(a.length)(Long.MaxValue)
    var i = 0
    while (i < h.length) {
      var j = 0
      while (j < a.length) {
        val v = (h(i) * a(j) + b(j)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** A foldable `array<array<double>>` literal as primitive rows. */
  def matrixRows(m: Any): Array[Array[Double]] = {
    val ad = m.asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(j => ad.getArray(j).toDoubleArray())
  }

  /** |c|² of each row, summed left to right. */
  def rowNorms2(rows: Array[Array[Double]]): Array[Double] =
    rows.map(c => prefixDot(c, c, c.length))

  /** Bit j is set iff dot(v, planes(j)) > 0, over their shared prefix. */
  def signBits(v: ArrayData, planes: Array[Array[Double]]): Long = {
    val x = v.toDoubleArray()
    var bits = 0L
    var j = 0
    while (j < planes.length) {
      val p = planes(j)
      if (prefixDot(x, p, math.min(x.length, p.length)) > 0) bits |= 1L << j
      j += 1
    }
    bits
  }

  /** The cell minimising |c|² − 2·v·c; ties go to the lowest cell. A
    * vector shorter than a cell sums |c|² over the shared prefix only. */
  def cellArgMin(v: ArrayData, cells: Array[Array[Double]],
                 norms2: Array[Double]): Int = {
    val x = v.toDoubleArray()
    var best = 0
    var bd = Double.MaxValue
    var j = 0
    while (j < cells.length) {
      val c = cells(j)
      val d = math.min(x.length, c.length)
      val cn2 = if (d < c.length) prefixDot(c, c, d) else norms2(j)
      val dist = cn2 - 2.0 * prefixDot(x, c, d)
      if (dist < bd) { bd = dist; best = j }
      j += 1
    }
    best
  }

  /** v / s element-wise. */
  def vecDiv(v: ArrayData, s: Double): ArrayData = {
    val out = v.toDoubleArray()
    var i = 0
    while (i < out.length) { out(i) /= s; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** v − cells(cell) over their shared prefix. A cell outside the matrix
    * is an error that names both. */
  def cellResidual(v: ArrayData, cell: Int,
                   cells: Array[Array[Double]]): ArrayData = {
    if (cell < 0 || cell >= cells.length)
      throw new IllegalArgumentException(
        s"graft_cell_residual: cell $cell is outside the centroid matrix " +
          s"of ${cells.length} rows")
    val c = cells(cell)
    val out = v.toDoubleArray()
    val n = math.min(out.length, c.length)
    var i = 0
    while (i < n) { out(i) -= c(i); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(
      if (n == out.length) out else java.util.Arrays.copyOf(out, n))
  }
}
