package graft.llmops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD

/** Storage hygiene for iterative (fixpoint / bounded-round) dataflows.
  * Every loop that localCheckpoints its per-round state must release the
  * superseded round's blocks once the next round is materialized, or
  * block-manager storage grows O(rounds) — harmless in a test JVM,
  * an executor-memory leak on a long-running 100 TB job.
  *
  * Durability note (the 100 TB story for the whole llmops package): the
  * corpus-staging pattern throughout (Dedup, Retrieval, CorpusStats, …)
  * stages through [[Checkpoints.stage]]/`.staged`, which defaults to
  * `localCheckpoint()` — executor-pinned, lineage-truncated, cheap, and
  * exactly right at test scope — but flips to RELIABLE checkpoints
  * (HDFS-backed, lineage-free recovery after executor loss) when the
  * session sets `spark.graft.stage.reliable=true` and a
  * `sparkContext.setCheckpointDir` is configured: the one-switch
  * durability story a multi-hour 1000-executor run needs, with zero
  * changes at the staging sites. */
private[graft] object Checkpoints {

  /** Conf key: "true" + a set checkpoint dir → reliable checkpoints. */
  val ReliableKey = "spark.graft.stage.reliable"

  /** Pre-stage optimized plan per checkpoint RDD — a checkpoint truncates
    * lineage to an opaque LogicalRDD leaf, which would blind the
    * PlanSpec corpus sweeps (single-task windows, forced broadcasts) to
    * everything below a `.staged` boundary. Keyed WEAKLY by the RDD
    * instance (the LogicalRDD holds it strongly while the DataFrame
    * lives; entries vanish with the relation), so the map never grows a
    * long-running job's heap. Test observability only — never read by
    * planning. */
  private[graft] val stagedProvenance: java.util.Map[RDD[_], LogicalPlan] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[RDD[_], LogicalPlan])

  /** The checkpointed RDD a LogicalRDD leaf scans — the handle both
    * the provenance map and [[unpersist]] key on (Dataset offers no
    * public one). */
  private def rddOf(node: LogicalPlan): Option[RDD[_]] = node match {
    case l: LogicalRDD => Some(l.rdd)
    case _ => None
  }

  /** The pre-stage plan behind a (possibly staged) LogicalRDD leaf, if
    * this JVM staged it. */
  private[graft] def provenanceOf(node: LogicalPlan): Option[LogicalPlan] =
    rddOf(node).flatMap(r => Option(stagedProvenance.get(r)))

  /** Materialize a staging point: every pipeline that consumes an
    * intermediate relation more than once stages it through here. */
  def stage(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val reliable = spark.conf.getOption(ReliableKey).contains("true") &&
      spark.sparkContext.getCheckpointDir.isDefined
    val out = if (reliable) df.checkpoint() else df.localCheckpoint()
    // record provenance: the checkpoint is eager, so the source's
    // optimizedPlan is already computed — this is a map put, not a plan
    out.queryExecution.analyzed.foreach(rddOf(_).foreach { r =>
      graft.discard(stagedProvenance.put(r, df.queryExecution.optimizedPlan))
    })
    out
  }

  /** `relation.staged` — call-site-shaped like `.localCheckpoint()`. */
  implicit final class Stageable(private val df: DataFrame) extends AnyVal {
    def staged: DataFrame = stage(df)
  }

  /** A Long observed metric with NULL (empty observed input) mapped to
    * `default`. Observations ride the checkpoint job that materializes
    * the observed relation — the r21 fuse that folds per-round
    * O(1)-result driver probes (`isEmpty`, max-pos, winner rows) into
    * the job the round already runs, instead of a separate barrier+AQE
    * execution per probe (guide §2.4: each execution is a cluster-wide
    * barrier at 100 TB; ~0.2–0.4 s of driver fixed cost each at bench
    * scale). `Observation.get` blocks until the observed plan's action
    * completes — always call it AFTER the eager stage()/checkpoint.
    * A MISSING key (not just a NULL value) also maps to `default`:
    * when the observed relation materializes empty, AQE's
    * empty-relation propagation can replace the subtree — CollectMetrics
    * node included — with an empty LocalRelation, so the metric never
    * reports; emptiness is exactly what every caller's default
    * encodes. */
  def obsLong(obs: org.apache.spark.sql.Observation, key: String,
              default: Long): Long =
    obs.get.get(key).flatMap(Option(_)).fold(default) {
      case l: java.lang.Long => l.longValue
      case other => other.toString.toLong
    }

  /** The observed rows of a collect_list(struct(…)) metric — empty when
    * the observed relation was empty (including the AQE-pruned case
    * [[obsLong]] documents). */
  def obsRows(obs: org.apache.spark.sql.Observation,
              key: String): Seq[org.apache.spark.sql.Row] =
    obs.get.get(key).flatMap(Option(_))
      .map(_.asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]].toSeq)
      .getOrElse(Seq.empty)

  /** Releases the block-manager storage behind a localCheckpoint-ed
    * DataFrame (the checkpointed RDD sits inside the plan's LogicalRDD
    * leaf). */
  def unpersist(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach(
      rddOf(_).foreach(r => graft.discard(r.unpersist(blocking = false))))
}
