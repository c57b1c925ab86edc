package graft

/** graft's native Catalyst expressions and their session extension. */
package object functions {

  /** The prime modulus (1e9+7) of every polynomial hash fold: the token
    * poly-hash, the n-gram combines, MinHash and SimHash. The native
    * kernels ([[Kernels]]) read it, and so do `graft.ops.Dedup.P` and the
    * DuckDB oracle builders. */
  final val P = 1000000007L

  /** The class generated code calls the [[Kernels]] through: the static
    * forwarders of `graft.functions.Kernels`. */
  private[functions] val K: String = Kernels.getClass.getName.stripSuffix("$")
}
