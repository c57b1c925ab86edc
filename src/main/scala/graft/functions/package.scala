package graft

/** graft's native Catalyst expressions and their session extension. */
package object functions {

  /** The prime modulus (1e9+7) of every polynomial hash fold: the token
    * poly-hash, the n-gram combines, MinHash and SimHash. The native
    * kernels emit it as a Java literal; `graft.ops.Dedup.P` and the DuckDB
    * oracle builders read this same value. */
  final val P = 1000000007L
}
