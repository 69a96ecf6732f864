package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

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

/** `simhash64(array<bigint>)` — 64-bit SimHash signature of a feature-hash
  * array (llmops dedup; no reference equivalent — LLM-pipeline extension
  * per the build brief). Codegen delegates to the static helper, keeping
  * the surrounding stage in whole-stage codegen. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash64 expects array<bigint>, got $other")
    }

  override protected def nullSafeEval(v: Any): Any =
    SimHash64Util.simhash(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // static forwarder on the companion class — janino can't resolve the
    // Scala MODULE$ field through the dollar-suffixed object class name
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64Util.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 = copy(newChild)
  override def prettyName: String = "simhash64"
}
