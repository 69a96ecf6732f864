package graft.perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, PerfbenchMarker}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listeners. Every event is kept with its own timestamp
  * and attributed to a query afterwards by time window, so an event that
  * arrives late on the asynchronous listener bus still lands in the query
  * that caused it. Planning phases are taken per query after the drain. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobById = mutable.HashMap.empty[Int, JobRec]
  val execs = mutable.ArrayBuffer.empty[ExecRec]
  private val execById = mutable.HashMap.empty[Long, ExecRec]
  val stageEnds = mutable.ArrayBuffer.empty[Long]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private var jobStarts = 0L
  private var jobEnds = 0L
  private var markerSeen = -1L
  private var markerSent = -1L

  // QueryExecution has identity equality; weak keys pin no plans.
  private val seenQe = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]())
  private val phaseMs = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val execId = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption).getOrElse(-1L)
      val j = JobRec(e.jobId, e.time, -1L, execId)
      jobs += j
      jobById(e.jobId) = j
      jobStarts += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobById.get(e.jobId).foreach(_.end = e.time)
      jobEnds += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageEnds += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += TaskRec(
        e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          val x = ExecRec(s.executionId, s.time, -1L)
          execs += x
          execById(s.executionId) = x
        case s: SparkListenerSQLExecutionEnd =>
          execById.get(s.executionId).foreach(_.end = s.time)
        case a: SparkListenerSQLAdaptiveExecutionUpdate =>
          execById.get(a.executionId).foreach(_.aqeUpdates += 1)
        case PerfbenchMarker(seq) => markerSeen = seq
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      account(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      account(qe)
  }

  /** Add a QueryExecution's planning phases once, whichever of the
    * harness (its own DataFrame) or the listener (every executed action)
    * reports it first. */
  def account(qe: QueryExecution): Unit = synchronized {
    if (seenQe.add(qe))
      qe.tracker.phases.foreach { case (phase, s) => phaseMs(phase) += s.durationMs.toDouble }
  }

  /** Planning phase milliseconds accounted since the last call. */
  def takePhases(): Map[String, Double] = synchronized {
    val out = phaseMs.toMap
    phaseMs.clear()
    out
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Bounded drain: post a marker behind everything the last query posted,
    * poll until this listener has received it and every started job has
    * ended, or until `capMs` passes. Returns the jobs still without an end
    * event. */
  def drain(capMs: Long): Long = {
    val seq = synchronized { markerSent += 1; markerSent }
    PerfbenchBus.postMarker(spark.sparkContext, seq)
    val deadline = System.nanoTime() + capMs * 1000000L
    def settled: Boolean = synchronized(markerSeen >= seq && jobEnds >= jobStarts)
    while (!settled && System.nanoTime() < deadline)
      java.util.concurrent.locks.LockSupport.parkNanos(200000L)
    synchronized(jobStarts - jobEnds)
  }
}

object Tracer {
  final case class JobRec(id: Int, start: Long, var end: Long, execId: Long)
  final case class ExecRec(id: Long, start: Long, var end: Long) {
    var aqeUpdates = 0
  }
  final case class TaskRec(finish: Long, runMs: Long, cpuNs: Long, inBytes: Long,
                           inRows: Long, shuffleRead: Long, shuffleWrite: Long,
                           spill: Long)

  /** Per-rule (effective ns, total ns, effective runs, total runs) summed
    * over the rules whose name starts with `prefix`, read from Catalyst's
    * global RuleExecutor metering. */
  def ruleTotals(prefix: String): (Long, Long, Long, Long) = {
    val line = """^(\S+)\s+(\d+)\s*/\s*(\d+)\s+(\d+)\s*/\s*(\d+)\s*$""".r
    org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent()
      .linesIterator.map(_.trim).collect {
        case line(rule, et, tt, er, tr) if rule.startsWith(prefix) =>
          (et.toLong, tt.toLong, er.toLong, tr.toLong)
      }.foldLeft((0L, 0L, 0L, 0L)) { case ((a, b, c, d), (w, x, y, z)) =>
        (a + w, b + x, c + y, d + z)
      }
  }
}
