package graft.llmops

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftShims, Row}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan}
import org.apache.spark.sql.execution.LogicalRDD

/** Staging and the one staged-loop primitive for iterative (fixpoint /
  * bounded-round) dataflows. [[iterate]] owns the per-round loop:
  *   - each round is staged through [[stage]];
  *   - a round's observed metrics ride its own checkpoint job and are
  *     read back here only ([[Observed]]), from the staged query's own
  *     `observedMetrics` once the eager stage returns — no listener, no
  *     wait;
  *   - a superseded round is released only AFTER its successor is
  *     materialized and the stop probe has read both — otherwise
  *     block-manager storage grows O(rounds), an executor-memory leak on
  *     a long-running 100 TB job;
  *   - rounds are retained (`release = false`) only where later rounds or
  *     the result read every round: the suffix-array rank and chunked-LCP
  *     loops, whose storage is the shrinking-active-set envelope Σ|active|.
  *
  * Lifetime: a staged relation's storage lives exactly as long as some
  * DataFrame over it. [[unpersist]] ends it early; otherwise Spark's
  * ContextCleaner drops the blocks (and, for a reliable staging, this
  * object's cleanup registration deletes the checkpoint files) once the
  * last DataFrame over it is collected. Nothing recorded here holds an
  * RDD, so provenance never extends that lifetime.
  *
  * Durability: [[stage]] defaults to `localCheckpoint()` (executor-pinned,
  * lineage-truncated, cheap) and flips to RELIABLE checkpoints
  * (HDFS-backed, lineage-free recovery after executor loss) when the
  * session sets `spark.graft.stage.reliable=true` and a checkpoint dir —
  * one switch for every staging site in the llmops package. */
private[graft] object Checkpoints {

  /** Conf key: "true" + a set checkpoint dir → reliable checkpoints. */
  val ReliableKey = "spark.graft.stage.reliable"

  /** Pre-stage optimized plan per checkpoint RDD — a checkpoint truncates
    * lineage to an opaque LogicalRDD leaf, which would blind the
    * PlanSpec corpus sweeps (single-task windows, forced broadcasts) to
    * everything below a `.staged` boundary. Keyed WEAKLY by the RDD, and
    * every recorded plan has its RDD leaves replaced by [[RddLeaf]]s, so
    * no value references any RDD: an entry never keeps its own or an
    * earlier stage's storage alive, and a stale entry holds plans only.
    * Test observability only — never read by planning. */
  private[graft] val stagedProvenance: java.util.Map[RDD[_], LogicalPlan] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[RDD[_], LogicalPlan])

  /** An RDD-backed leaf inside a recorded plan: the replaced LogicalRDD's
    * output and, when [[stage]] made that RDD, the stage's own recorded
    * plan. It holds no RDD. */
  private[graft] final case class RddLeaf(output: Seq[Attribute],
      provenance: Option[LogicalPlan]) extends LeafNode

  /** The checkpointed RDD a LogicalRDD leaf scans — the handle both
    * the provenance map and [[unpersist]] key on (Dataset offers no
    * public one). */
  private def rddOf(node: LogicalPlan): Option[RDD[_]] = node match {
    case l: LogicalRDD => Some(l.rdd)
    case _ => None
  }

  /** The pre-stage plan behind a staged leaf — a live LogicalRDD this JVM
    * staged, or an [[RddLeaf]] of a recorded plan — if there is one. */
  private[graft] def provenanceOf(node: LogicalPlan): Option[LogicalPlan] =
    node match {
      case l: RddLeaf => l.provenance
      case _ => rddOf(node).flatMap(r => Option(stagedProvenance.get(r)))
    }

  /** `plan` with every LogicalRDD leaf, subqueries included, replaced by
    * an [[RddLeaf]] carrying that leaf's own provenance. */
  private def recordable(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithSubqueries {
      case l: LogicalRDD => RddLeaf(l.output, provenanceOf(l))
    }

  /** Materialize a staging point: every pipeline that consumes an
    * intermediate relation more than once stages it through here. */
  def stage(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val reliable = spark.conf.getOption(ReliableKey).contains("true") &&
      spark.sparkContext.getCheckpointDir.isDefined
    val out = if (reliable) df.checkpoint() else df.localCheckpoint()
    // the checkpoint is eager, so the source's optimizedPlan is already
    // computed — recording it is one plan rewrite, not a re-plan
    out.queryExecution.analyzed.foreach(rddOf(_).foreach { r =>
      if (reliable) GraftShims.cleanCheckpointWhenCollected(r)
      graft.discard(stagedProvenance.put(r, recordable(df.queryExecution.optimizedPlan)))
    })
    out
  }

  /** `relation.staged` — call-site-shaped like `.localCheckpoint()`. */
  implicit final class Stageable(private val df: DataFrame) extends AnyVal {
    def staged: DataFrame = stage(df)
  }

  /** Metrics observed on a staging job — the r21 fuse that folds each
    * round's O(1)-result driver probe (`isEmpty`, max-pos, winner rows)
    * into the job the round already runs instead of a separate
    * barrier + AQE execution. A NULL value (empty observed input) or an
    * absent key (a `CollectMetrics` AQE pruned) reads as the caller's
    * default. */
  final class Observed private[Checkpoints] (values: Map[String, Any]) {
    private def value(key: String): Option[Any] = values.get(key).flatMap(Option(_))

    def long(key: String, default: Long): Long = value(key).fold(default) {
      case l: java.lang.Long => l.longValue
      case other => other.toString.toLong
    }

    /** The rows of a collect_list(struct(…)) metric. */
    def rows(key: String): Seq[Row] = value(key)
      .fold(Seq.empty[Row])(_.asInstanceOf[scala.collection.Seq[Row]].toSeq)
  }

  private val observations = new AtomicLong

  /** `df` with `metrics` observed under a JVM-unique name, and that name. */
  private def observed(df: DataFrame, metric: Column,
                       metrics: Seq[Column]): (DataFrame, String) = {
    val name = s"graft_observed_${observations.incrementAndGet()}"
    (df.observe(name, metric, metrics: _*), name)
  }

  /** The metrics `name` observed in `src`'s own query execution: once the
    * eager [[stage]] of `src` has run it, they are already in its executed
    * plan's accumulators, so this never waits. */
  private def readback(src: DataFrame, name: Option[String]): Observed =
    new Observed(name.flatMap(src.queryExecution.observedMetrics.get)
      .fold(Map.empty[String, Any])(r => r.getValuesMap[Any](r.schema.fieldNames.toSeq)))

  /** [[stage]] with `metrics` observed on the staging job itself. */
  def stageObserved(df: DataFrame, metric: Column,
                    metrics: Column*): (DataFrame, Observed) = {
    val (src, name) = observed(df, metric, metrics)
    (stage(src), readback(src, Some(name)))
  }

  /** One round of [[iterate]]: the state it refines and its 1-based number. */
  final class Round private[Checkpoints] (val prev: DataFrame, val n: Int) {
    private[Checkpoints] var metricsName: Option[String] = None

    /** `df` with `metrics` observed on this round's checkpoint job — at
      * most once per round, and `df` must feed the returned relation. */
    def observe(df: DataFrame, metric: Column, metrics: Column*): DataFrame = {
      require(metricsName.isEmpty, s"round $n observes twice")
      val (src, name) = observed(df, metric, metrics)
      metricsName = Some(name)
      src
    }
  }

  /** The staged loop: round n = 1, 2, … stages `step` over the previous
    * state (`init` first) and then asks `more(round, next, observed)`;
    * the round where `more` is false is the last, and none runs past
    * `maxRounds` (≤ 0 returns `init`). With `release`, every superseded
    * state — `init` included, so it must not be a view over a checkpoint
    * still needed elsewhere — is released after `more` returns. Returns
    * the last state and the number of rounds run. */
  def iterate(init: DataFrame, maxRounds: Int, release: Boolean = true)(
      step: Round => DataFrame)(
      more: (Round, DataFrame, Observed) => Boolean): (DataFrame, Int) = {
    @annotation.tailrec
    def loop(prev: DataFrame, n: Int): (DataFrame, Int) =
      if (n >= maxRounds) (prev, n)
      else {
        val round = new Round(prev, n + 1)
        val src = step(round)
        val next = stage(src)
        val goOn = more(round, next, readback(src, round.metricsName))
        if (release) unpersist(prev)
        if (goOn) loop(next, n + 1) else (next, n + 1)
      }
    loop(init, 0)
  }

  /** Releases the storage behind a checkpointed DataFrame (the RDD inside
    * the plan's LogicalRDD leaf): its block-manager blocks and, for a
    * reliable checkpoint, its files — not via `RDD.unpersist`, which
    * WARNs "lineage has been truncated" for every locally checkpointed
    * RDD, the very point of staging, and leaves checkpoint files behind. */
  def unpersist(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach(rddOf(_).foreach { r =>
      GraftShims.unpersistRDD(r)
      GraftShims.cleanCheckpoint(r)
    })
}
