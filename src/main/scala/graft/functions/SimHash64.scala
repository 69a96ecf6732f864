package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** The kernel of `simhash64(array<bigint>)` (bound by [[Kernel]]) —
  * the 64-bit SimHash signature of a feature-hash array (llmops dedup). */
object SimHash64Util {
  /** Charikar SimHash over pre-hashed features: bit b of the signature is
    * set iff Σ over features of (±1 per feature's bit b) is positive.
    * Commutative/associative accumulation → identical result under any
    * partitioning or input order. */
  def simhash(hashes: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      if (!hashes.isNullAt(i)) {
        val h = hashes.getLong(i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= 1L << b; b += 1 }
    sig
  }
}
