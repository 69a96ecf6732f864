package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between the public Column API and catalyst Expressions (the
  * converters are `private[sql]` in Spark 4, so this shim lives in the
  * org.apache.spark.sql package). Used to expose custom expressions like
  * graft.functions.FnvHash as Columns. */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Drops an RDD's blocks without `RDD.unpersist`'s per-call WARN for
    * locally checkpointed RDDs (`SparkContext.unpersistRDD` is
    * `private[spark]`). */
  def unpersistRDD(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
