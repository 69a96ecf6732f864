package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Normalized physical-plan fingerprints — the shape of a plan with the
  * noise stripped (expression ids, literals, column lists, paths), so a
  * bench delta can be split into "machine noise" vs "the plan changed"
  * in one diff. A fingerprint keeps exactly what the 100 TB story is
  * made of: the operator tree, each join's strategy and type, every
  * exchange, scan sources, and whether a window is partitioned.
  *
  * The tree is taken from `sparkPlan` (pre-AQE, pre-codegen): the
  * statically chosen plan is the deterministic round-over-round
  * comparable; AQE runtime re-planning and WholeStageCodegen wrappers
  * would make equal plans print differently across runs. Shuffle
  * exchanges only exist after EnsureRequirements, so their count is
  * read off the initial (pre-execution) prepared plan and appended —
  * together the two capture "did anything about this plan move".
  *
  * A fingerprint covers only the plan of the query's FINAL execution:
  * work a query stages beforehand (`Checkpoints.stage`, the rounds of
  * `Checkpoints.iterate`) has already run when the DataFrame is built
  * and appears here as a `ScanExistingRDD` leaf, so a change inside a
  * staged loop is invisible to it, and moving work out of a loop into
  * the final plan reads as more work. Execution counts, not
  * fingerprints, show whether staged work grew or shrank. */
object PlanFingerprint {

  def of(df: DataFrame): String = {
    val prepared = df.queryExecution.executedPlan.toString
    val shuffles =
      "Exchange (hash|range)partitioning|Exchange SinglePartition".r
        .findAllIn(prepared).size
    render(df.queryExecution.sparkPlan) + s" shuffles=$shuffles"
  }

  /** Coarse registry-wide variant: the operator MULTISET (no tree
    * structure) + shuffle count. Cheap to diff across the whole query
    * registry at round boundaries — any query whose plan drifts shows up
    * in `git diff` of the committed artifact, without maintaining 343
    * golden trees. */
  def summary(df: DataFrame): String = {
    val prepared = df.queryExecution.executedPlan.toString
    val shuffles =
      "Exchange (hash|range)partitioning|Exchange SinglePartition".r
        .findAllIn(prepared).size
    val counts = df.queryExecution.sparkPlan.collect { case p => label(p) }
      .groupBy(identity).toSeq.sortBy(_._1)
      .map { case (l, os) => s"$l=${os.size}" }
    counts.mkString(" ") + s" shuffles=$shuffles"
  }

  private def tableOf(s: FileSourceScanExec): String =
    s.relation.location.rootPaths.headOption
      .map(_.getName.stripSuffix(".parquet")).getOrElse("?")

  /** ExistenceJoin prints its exists#<exprId> attribute — session
    * noise that would dirty the drift ledger on every regeneration. */
  private def jt(t: org.apache.spark.sql.catalyst.plans.JoinType): String =
    t.toString.replaceAll("#\\d+", "")

  private def label(p: SparkPlan): String = p match {
    case s: FileSourceScanExec          => s"Scan[${tableOf(s)}]"
    case j: BroadcastHashJoinExec       => s"BroadcastHashJoin[${jt(j.joinType)}]"
    case j: SortMergeJoinExec           => s"SortMergeJoin[${jt(j.joinType)}]"
    case j: ShuffledHashJoinExec        => s"ShuffledHashJoin[${jt(j.joinType)}]"
    case j: BroadcastNestedLoopJoinExec => s"BroadcastNestedLoopJoin[${jt(j.joinType)}]"
    case _: CartesianProductExec        => "CartesianProduct"
    case _: ShuffleExchangeExec         => "Exchange"
    case _: BroadcastExchangeExec       => "BroadcastExchange"
    case w: WindowExec                  =>
      if (w.partitionSpec.isEmpty) "Window[global]" else "Window"
    case other                          => other.nodeName.replace(" ", "")
  }

  private def render(p: SparkPlan): String =
    if (p.children.isEmpty) label(p)
    else label(p) + "(" + p.children.map(render).mkString(",") + ")"
}
