package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

object MinHash64Util {
  /** 64 deterministic seeds from splitmix64(j) — no stored model. */
  private val seeds: Array[Long] = {
    def splitmix(x0: Long): Long = {
      var z = x0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Array.tabulate(64)(j => splitmix(j.toLong))
  }

  /** One pass over the feature hashes, maintaining all 64 minima — the
    * classic MinHash signature without 64 separate traversals. The
    * per-(h, seed) mix is a 3-op avalanche; min is commutative, so the
    * signature is identical under any input order or partitioning. */
  def signature(hashes: ArrayData): ArrayData = {
    val mins = Array.fill(64)(Long.MaxValue)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      if (!hashes.isNullAt(i)) {
        val h = hashes.getLong(i)
        var j = 0
        while (j < 64) {
          var z = h ^ seeds(j)
          z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
          z ^= (z >>> 33)
          if (z < mins(j)) mins(j) = z
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** `minhash64(array<bigint>)` — 64-element MinHash signature of a
  * feature-hash set (llmops dedup; LLM-pipeline extension). One array
  * traversal instead of 64 lambda-evaluated passes — the hot path of
  * MinHash+LSH dedup at corpus scale. */
case class MinHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash64 expects array<bigint>, got $other")
    }

  override protected def nullSafeEval(v: Any): Any =
    MinHash64Util.signature(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHash64Util.signature($c)")

  override protected def withNewChildInternal(newChild: Expression): MinHash64 = copy(newChild)
  override def prettyName: String = "minhash64"
}
