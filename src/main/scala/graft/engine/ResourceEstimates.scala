package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Per-host resource estimates for EXPLAIN — the reference's
  * `Planner.computeResourceReqs` (Planner.java:352-430) walks the
  * fragment tree summing each node's resource profile over the sets of
  * concurrently-open nodes (PipelinedPlanNodeSet.java:1-215) and prints
  * `Per-Host Resource Estimates: Memory=…` atop EXPLAIN output.
  *
  * Spark-first translation: Tungsten + the unified memory manager make
  * reservations dynamic, so the estimate is ADVISORY here exactly as it
  * is there ("mem-estimate" is a planning hint, not an admission-control
  * fact, unless admission control consumes it — our RequestPools
  * analogue can). The fragment analogue is the exchange-delimited STAGE;
  * the per-node profile analogue derives from the optimizer's logical
  * statistics (`sizeInBytes`, the same stats CBO join-reorder consumes):
  *
  *  - broadcast builds materialize the FULL relation on every host —
  *    counted once per executor, the dominant per-host term;
  *  - shuffle-side state (hash-agg maps, shuffled-join builds, sort
  *    runs, window buffers) holds ~1/shufflePartitions of its input per
  *    concurrently-running task, × cores tasks per host;
  *  - scans/projects/filters stream and hold O(batch) — ignored, as the
  *    reference ignores non-reserving nodes.
  *
  * Like the reference's two-phase pipeline model, stage memory is the
  * sum of operators whose state is simultaneously open (a probe
  * pipeline keeps every upstream build alive), which upper-bounds the
  * true phase-wise max. */
object ResourceEstimates {

  final case class StageEstimate(
      stageLabel: String, perHostBytes: Long, notes: Seq[String])

  final case class Estimate(
      perHostBytes: Long,
      broadcastBytes: Long,
      stages: Seq[StageEstimate],
      /** false when some memory-holding operator had no statistics —
        * the totals then cover only the known part, the reference's
        * "mem-estimate=unavailable" per-node state. */
      complete: Boolean) {
    def render: String = {
      val sb = new StringBuilder
      sb ++= f"Per-Host Resource Estimates: Memory=${mb(perHostBytes)}%s"
      sb ++= f" (broadcast=${mb(broadcastBytes)}%s)"
      if (!complete) sb ++= " [incomplete: operator(s) without stats]"
      sb ++= "\n"
      stages.foreach { st =>
        sb ++= s"  ${st.stageLabel}: mem-estimate=${mb(st.perHostBytes)}"
        if (st.notes.nonEmpty) sb ++= st.notes.mkString(" [", "; ", "]")
        sb ++= "\n"
      }
      sb.result()
    }
  }

  private def mb(b: Long): String =
    if (b >= (1L << 30)) f"${b / (1L << 30).toDouble}%.2fGB"
    else if (b >= (1L << 20)) f"${b / (1L << 20).toDouble}%.2fMB"
    else f"${math.max(b, 0L) / 1024.0}%.1fKB"

  /** Size estimate for a subtree that will be MATERIALIZED as operator
    * state (agg map, sort run, window buffer, join build): the sum of
    * PHYSICAL input bytes under the node — actual file sizes from each
    * scan's file index, local-relation stats, etc. This is the
    * reference's grounding too (scan bytes propagated up); Spark's
    * non-CBO logical `sizeInBytes` is NOT usable here because its join
    * estimate is the PRODUCT of the input sizes, which turns a 70 MB
    * join-agg into a "1.3 TB" state estimate. Expand (rollup/grouping
    * sets) multiplies its input by the projection count — the one
    * blow-up a byte-grounded walk must model, since a CUBE lattice
    * genuinely materializes every combination.
    *
    * Relations with NO physical size (RDD scans; logical stats at the
    * defaultSizeInBytes sentinel) are UNKNOWN: (known-so-far, true) —
    * the reference's "mem-estimate=unavailable", never an 8-EB value
    * that overflows accumulators or spuriously trips admission. */
  private def sizeOf(p: SparkPlan): Option[Long] = {
    var known = 0L
    var unknown = false
    var expandFactor = 1L
    def visit(n: SparkPlan): Unit = n match {
      case f: FileSourceScanExec =>
        known = addSat(known, f.relation.location.sizeInBytes)
      case e: ExpandExec =>
        expandFactor = math.min(expandFactor * math.max(e.projections.size, 1), 64L)
        e.children.foreach(visit)
      // executed-AQE leaves: a materialized stage wraps its real plan —
      // recurse into it (it is a LeafExecNode, so the generic leaf case
      // would otherwise consult the logical link and usually give up)
      case q: adaptive.QueryStageExec => visit(q.plan)
      case r: exchange.ReusedExchangeExec => visit(r.child)
      case leaf: LeafExecNode =>
        leaf.logicalLink.map(_.stats.sizeInBytes) match {
          case Some(s) if s < UnknownSentinel => known = addSat(known, s.toLong)
          case _ => unknown = true
        }
      case other => other.children.foreach(visit)
    }
    visit(p)
    if (unknown) None else Some(mulSat(known, expandFactor))
  }

  /** Anything at or past half of Long range is the no-stats sentinel
    * territory (spark.sql.defaultSizeInBytes defaults to
    * Long.MaxValue), not a measurement. */
  private val UnknownSentinel = BigInt(Long.MaxValue / 2)

  private def addSat(a: Long, b: Long): Long =
    if (a > Long.MaxValue - b) Long.MaxValue else a + b

  private def mulSat(a: Long, k: Long): Long =
    if (k != 0 && a > Long.MaxValue / k) Long.MaxValue else a * k

  def of(df: DataFrame): Estimate = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism.max(1)
    val shufflePartitions =
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt.max(1)
    // per-host concurrent tasks × per-task share of the stage's state
    def taskShare(inputBytes: Long): Long =
      inputBytes / shufflePartitions * math.min(cores, shufflePartitions)

    val plan = stripAdaptive(df.queryExecution.executedPlan)
    var broadcastTotal = 0L
    var complete = true
    val stages = scala.collection.mutable.ArrayBuffer.empty[StageEstimate]

    /** Walk one exchange-delimited stage. Unknown sizes (no stats)
      * contribute a note instead of bytes and mark the estimate
      * incomplete. */
    def walkStage(root: SparkPlan, label: String): Unit = {
      var bytes = 0L
      val notes = scala.collection.mutable.ArrayBuffer.empty[String]
      def account(sz: Option[Long], what: String): Unit = sz match {
        case Some(s) =>
          bytes = addSat(bytes, s)
          notes += s"$what ${mb(s)}"
        case None =>
          complete = false
          notes += s"$what unavailable (no stats)"
      }
      def visit(p: SparkPlan): Unit = p match {
        // executed-AQE plans replace exchanges with QueryStageExec
        // LEAVES; without this case they match nothing below and the
        // whole subtree silently accounts as 0 bytes (ADVICE r15) —
        // recurse into the materialized plan so the Exchange cases fire
        case q: adaptive.QueryStageExec => visit(q.plan)
        case _: exchange.ReusedExchangeExec =>
          // the original exchange is accounted where it first appears;
          // a broadcast reuse adds no per-host memory (one copy/host)
          notes += "reused exchange"
        case e: ShuffleExchangeExec =>
          walkStage(e.child, stageName(e.child)) // its own stage entry
        case b: BroadcastExchangeExec =>
          val sz = sizeOf(b.child)
          sz.foreach(s => broadcastTotal = addSat(broadcastTotal, s))
          account(sz, "broadcast build")
          visit(b.child)
        case j: BroadcastHashJoinExec =>
          visit(j.left); visit(j.right)
        case j: BroadcastNestedLoopJoinExec =>
          visit(j.left); visit(j.right)
        case j: ShuffledHashJoinExec =>
          val build = j.buildSide match {
            case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
            case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
          }
          account(sizeOf(build).map(taskShare), "hash build")
          visit(j.left); visit(j.right)
        case j: SortMergeJoinExec =>
          // sorted runs stream; only the in-flight buffers count (one
          // partition's run per task, spillable)
          visit(j.left); visit(j.right)
        case a: HashAggregateExec =>
          account(sizeOf(a.child).map(taskShare), "agg map")
          visit(a.child)
        case a: ObjectHashAggregateExec =>
          account(sizeOf(a.child).map(taskShare), "agg map")
          visit(a.child)
        case a: SortAggregateExec => visit(a.child)
        case s: SortExec =>
          account(sizeOf(s.child).map(taskShare), "sort buffer (spillable)")
          visit(s.child)
        case w: WindowExec =>
          account(sizeOf(w.child).map(taskShare), "window buffer")
          visit(w.child)
        case other => other.children.foreach(visit)
      }
      visit(root)
      stages += StageEstimate(label, bytes, notes.toSeq)
    }

    walkStage(plan, stageName(plan))
    // the buffer fills leaf-first (a child stage's entry lands before
    // its parent appends) — already EXPLAIN's leaf-to-root order
    val ordered = stages.toSeq
    Estimate(ordered.map(_.perHostBytes).foldLeft(0L)(addSat),
      broadcastTotal, ordered, complete)
  }

  private def stageName(p: SparkPlan): String = {
    val leaves = p.collectLeaves().map {
      case f: FileSourceScanExec =>
        f.tableIdentifier.map(_.table)
          .getOrElse(f.relation.location.rootPaths.headOption
            .map(_.getName).getOrElse("files"))
      case _: LocalTableScanExec => "local"
      case other => other.nodeName
    }
    s"stage(${leaves.distinct.take(3).mkString(",")})"
  }

  private def stripAdaptive(p: SparkPlan): SparkPlan = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      a.executedPlan
    case other => other
  }

  /** EXPLAIN text with the resource header, the reference's surface. */
  def explainString(df: DataFrame): String =
    of(df).render + df.queryExecution.explainString(SimpleMode)
}
