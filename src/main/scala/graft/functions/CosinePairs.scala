package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** The kernel of `cosine_pairs(ls, rs, theta, same)` (bound by
  * [[Kernel]]), ls/rs: array<struct<id bigint, v array<double>>> — the
  * fused block scan for embedding near-dup (graft.llmops.Dedup q84):
  * explode the result to get the qualifying (id_a, id_b, cos) pairs of
  * one bounded block. */
object CosinePairsUtil {
  /** All qualifying pairs of a bounded block in one compiled pass: for
    * (x, y) ∈ ls × rs computes exact cosine (element-in-order — see
    * VecCosineUtil) and emits (min id, max id, cos) iff cos ≥ theta.
    *
    * `same` marks a diagonal sub-block (ls and rs hold the SAME rows):
    * there each unordered pair appears twice in ls × rs, so only
    * id_x < id_y is evaluated — half the flops and each pair exactly
    * once. Off-diagonal blocks hold disjoint rows, so every cross pair
    * is evaluated once and normalized to (min, max). Combined with
    * one-block-per-pair salting (g is a function of id), the output
    * needs NO distinct downstream.
    *
    * The k² cosine work is inherent to the blocked-scan semantics; this
    * kernel confines it to a compiled loop over one bounded block
    * (≤ cap ids per side), and only the (rare) surviving pairs ever
    * materialize as rows. */
  def pairs(ls: ArrayData, rs: ArrayData, theta: Double, same: Boolean): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    val nl = ls.numElements()
    val nr = rs.numElements()
    var i = 0
    while (i < nl) {
      val sx = ls.getStruct(i, 2)
      val idx = sx.getLong(0)
      val vx = sx.getArray(1)
      var j = 0
      while (j < nr) {
        val sy = rs.getStruct(j, 2)
        val idy = sy.getLong(0)
        if (if (same) idx < idy else idx != idy) {
          val c = VecCosineUtil.cosine(vx, sy.getArray(1))
          if (c >= theta) {
            val row = new GenericInternalRow(3)
            row.setLong(0, math.min(idx, idy))
            row.setLong(1, math.max(idx, idy))
            row.setDouble(2, c)
            out += row
          }
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}
