package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** The kernels of `long_pairs(array<bigint>, array<bigint>, boolean)`
  * and `long_pairs_len(…, bigint)` (bound by [[Kernel]]): bounded-block
  * id-pair expansion for the dedup candidate stages; explode the
  * result. */
object LongPairsUtil {
  /** Length-ORDERED pair expansion over PACKED ids (`(m << 40) | id`,
    * m = the record's token-set size < 2²³, id < 2⁴⁰): emits only pairs
    * whose sizes satisfy the Jaccard length lemma
    * `tE6 · max(mᵢ, mⱼ) ≤ 1e6 · min(mᵢ, mⱼ)` — the AllPairs
    * length-ordering optimization (Bayardo, Ma & Srikant WWW'07 §3.1).
    * Each block is SORTED by packed value (= by m, then id) and scanned
    * with a sliding window, so length-INCOMPATIBLE pairs are never even
    * touched: per element the inner loop starts at the first compatible
    * size and stops at the last, making block cost O(k·log k + emitted)
    * instead of k². Same (min, max) pair convention and diagonal
    * semantics as [[pairs]]; with tE6 = 0 the emitted set equals
    * [[pairs]] exactly (spec-pinned). */
  def pairsLen(ls: ArrayData, rs: ArrayData, same: Boolean, tE6: Long): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    def emit(x: Long, y: Long): Unit = {
      val row = new GenericInternalRow(2)
      row.setLong(0, math.min(x, y))
      row.setLong(1, math.max(x, y))
      out += row
    }
    val l = ls.toLongArray()
    java.util.Arrays.sort(l)
    if (same) {
      var i = 0
      while (i < l.length) {
        val x = l(i)
        val mx = x >>> 40
        var j = i + 1
        var go = true
        while (go && j < l.length) {
          val y = l(j)
          // sorted ⇒ my ≥ mx, so only the upper bound can break
          if ((y >>> 40) * tE6 > mx * 1000000L) go = false
          else {
            if (x != y) emit(x, y)
            j += 1
          }
        }
        i += 1
      }
    } else {
      val r = rs.toLongArray()
      java.util.Arrays.sort(r)
      var i = 0
      var lo = 0 // monotone window start: l is sorted by m too
      while (i < l.length) {
        val x = l(i)
        val mx = x >>> 40
        while (lo < r.length && (r(lo) >>> 40) * 1000000L < mx * tE6) lo += 1
        var j = lo
        var go = true
        while (go && j < r.length) {
          val y = r(j)
          if ((y >>> 40) * tE6 > mx * 1000000L) go = false
          else {
            if (x != y) emit(x, y)
            j += 1
          }
        }
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Cross-pair expansion of one bounded block in a compiled loop
    * (graft.llmops.Dedup.boundedPairs): emits (min id, max id) for every
    * (x, y) ∈ ls × rs. `same` marks a diagonal sub-block (ls == rs):
    * there only x < y is emitted, so each unordered pair appears exactly
    * once instead of twice-then-filtered. Replaces an interpreted
    * `flatten(transform(ls, x -> transform(rs, …)))` that allocated k²
    * structs per block through per-element lambda calls. */
  def pairs(ls: ArrayData, rs: ArrayData, same: Boolean): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    val nl = ls.numElements()
    val nr = rs.numElements()
    var i = 0
    while (i < nl) {
      val x = ls.getLong(i)
      var j = 0
      while (j < nr) {
        val y = rs.getLong(j)
        if (if (same) x < y else x != y) {
          val row = new GenericInternalRow(2)
          row.setLong(0, math.min(x, y))
          row.setLong(1, math.max(x, y))
          out += row
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}
