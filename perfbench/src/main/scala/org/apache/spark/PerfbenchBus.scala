package org.apache.spark

import org.apache.spark.scheduler.SparkListenerEvent

/** Marker posted behind a query's events: once a listener on the shared
  * queue receives marker `seq`, every event posted before it has been
  * delivered to that listener too (one queue delivers in order). */
final case class PerfbenchMarker(seq: Long) extends SparkListenerEvent {
  override protected[spark] def logEvent: Boolean = false
}

/** Posts on the listener bus, which is private to Spark's package. */
object PerfbenchBus {
  def postMarker(sc: SparkContext, seq: Long): Unit =
    sc.listenerBus.post(PerfbenchMarker(seq))
}
