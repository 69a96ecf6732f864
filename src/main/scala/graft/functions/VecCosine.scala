package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** The kernel of `vec_cosine(array<double>, array<double>)` (bound by
  * [[Kernel]]) — fused cosine similarity for the llmops similarity and
  * dedup operators (the ANN hot path). */
object VecCosineUtil {
  /** Cosine similarity with strictly element-in-order double
    * accumulation — the exact evaluation order of the SQL
    * `aggregate(zip_with(...))` formulation and of DuckDB's
    * list_cosine_similarity over DOUBLE[], so all three agree
    * bit-for-bit. One fused pass instead of three lambda traversals. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
