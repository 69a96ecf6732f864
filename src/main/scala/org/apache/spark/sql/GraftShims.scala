package org.apache.spark.sql

import org.apache.spark.rdd.{RDD, ReliableRDDCheckpointData}

/** Spark internals the engine needs that are `private[spark]`, which is
  * why this shim lives in an org.apache.spark package. */
object GraftShims {

  /** Drops an RDD's blocks without `RDD.unpersist`'s per-call WARN for
    * locally checkpointed RDDs (`SparkContext.unpersistRDD` is
    * `private[spark]`). */
  def unpersistRDD(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Deletes a reliably checkpointed RDD's files now (a no-op for any
    * other RDD); Spark keeps them until the application ends unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is set. */
  def cleanCheckpoint(rdd: RDD[_]): Unit =
    if (rdd.getCheckpointFile.isDefined)
      ReliableRDDCheckpointData.cleanCheckpoint(rdd.sparkContext, rdd.id)

  /** Deletes a reliably checkpointed RDD's files once the RDD is garbage
    * collected — the ContextCleaner registration that
    * `spark.cleaner.referenceTracking.cleanCheckpoints` makes for every
    * checkpoint, made for this one RDD. */
  def cleanCheckpointWhenCollected(rdd: RDD[_]): Unit =
    rdd.sparkContext.cleaner.foreach(_.registerRDDCheckpointDataForCleanup(rdd, rdd.id))
}
