package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global ranks and prefix sums — the scale-safe replacement
  * for an unpartitioned `ROW_NUMBER()/SUM() OVER (ORDER BY …)`, which
  * Spark plans as ONE window task that sorts and scans the whole
  * relation (the single-executor pass that kills a corpus-grain rank at
  * 100 TB).
  *
  * Scheme (the classic two-pass parallel prefix): range-repartition on
  * the sort key, so partition p holds a contiguous, non-overlapping key
  * range and partitions are ordered by p; compute the local
  * rank/running-sum per partition (a window PARTITIONED by the partition
  * id — one task per range, all ranges in parallel); aggregate one row
  * of totals per partition and turn those ≤`shuffle.partitions` rows
  * into exclusive offsets with a single tiny window; broadcast-join the
  * offsets back. global = offset(partition) + local. Exact — range
  * boundaries only move load around, never change a rank — and every
  * heavy operator is partition-parallel.
  *
  * The caller must pass a TOTAL order (include a tiebreak column) when
  * per-row rank values matter; with ties the ranks within a tie block
  * are assigned per the range/local order, which is deterministic only
  * up to the provided keys.
  *
  * The partitioned relation is materialized ONCE (localCheckpoint via
  * [[graft.llmops.Checkpoints.stage]]) before the local pass and the
  * offsets rollup read it. This is load-bearing, not an optimization:
  * the two consumers otherwise plan two INDEPENDENT range exchanges
  * (exchange reuse does not fire across the window/aggregate split),
  * and each instance samples its own range boundaries and is coalesced
  * by AQE on its own runtime stats — so `__pid` on the local side and
  * `__pid` on the offsets side can disagree, corrupting (or, when the
  * coalesced partition counts differ, silently DROPPING) global ranks.
  * Observed in practice on a checkpoint-fed input: 27,939 rows in,
  * 6,823 out. One materialization pins one set of boundaries for both
  * passes — and stops the whole upstream from executing twice. */
object Prefix {

  private def ranged(df: DataFrame, sort: Seq[Column]): DataFrame =
    // numPartitions defaults to spark.sql.shuffle.partitions — the knob
    // that already scales with the cluster.
    graft.llmops.Checkpoints.stage(
      df.repartitionByRange(sort: _*).withColumn("__pid", spark_partition_id()))

  /** The shared range+offset core every public rank builder composes
    * (one implementation, so a staging/boundary fix lands everywhere at
    * once): range-partition, compute `localFn` per partition, derive
    * per-partition totals — row counts for row_number/rank (equal keys
    * never span a range boundary, so tie blocks stay whole), or the max
    * local value for dense_rank (the distinct-key count) — roll the
    * totals into exclusive offsets with one tiny ≤`shuffle.partitions`-
    * row window, and broadcast-join them back. */
  private def offsetComposed(df: DataFrame, sort: Seq[Column], rankCol: String,
                             localFn: => Column,
                             offsetFromLocalMax: Boolean,
                             cntCol: Option[String] = None): DataFrame =
    offsetComposedStaged(df, sort, rankCol, localFn, offsetFromLocalMax,
      cntCol)._1

  /** [[offsetComposed]] plus the INTERNAL staged range partition it is
    * lazily derived from: a caller that materializes the result into
    * its own checkpoint can (and should) release the internal staging
    * afterwards — it is the WIDEST relation of the whole pass (it still
    * carries the sort payload), and leaving one behind per call is the
    * r21 bench finding: the suffix-array family's per-build prefix
    * checkpoints accumulated ~0.5 GB each across a multi-query JVM,
    * inflating every later query's GC (Checkpoints scaladoc: the same
    * leak class is executor memory on a long-running 100 TB job). */
  private def offsetComposedStaged(df: DataFrame, sort: Seq[Column],
                                   rankCol: String,
                                   localFn: => Column,
                                   offsetFromLocalMax: Boolean,
                                   cntCol: Option[String]):
      (DataFrame, DataFrame) = {
    val parts = ranged(df, sort)
    val ranked = parts.withColumn("__lrk",
      localFn.over(Window.partitionBy(col("__pid")).orderBy(sort: _*))
        .cast("long"))
    // Optional fused tie-block size: count over (__pid, local rank). A
    // tie block shares one sort key and equal keys never span a range
    // boundary, so the block is ALREADY colocated (and already ranked
    // serially) in its range partition — the count adds no shuffle and
    // no new skew class, where a caller-side groupBy(rank) + join-back
    // costs a corpus shuffle and a second checkpoint.
    val local = cntCol.fold(ranked)(c => ranked.withColumn(c,
      count(lit(1)).over(Window.partitionBy(col("__pid"), col("__lrk")))
        .cast("long")))
    val perPid =
      if (offsetFromLocalMax) local.groupBy("__pid").agg(max("__lrk").as("__pn"))
      else parts.groupBy("__pid").agg(count(lit(1)).as("__pn"))
    val offsets = perPid
      .withColumn("__off", coalesce(
        sum("__pn").over(Window.orderBy("__pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__pid", "__off")
    (local.join(broadcast(offsets), "__pid")
      .withColumn(rankCol, col("__off") + col("__lrk"))
      .drop("__pid", "__lrk", "__off"), parts)
  }

  /** Exact global `ROW_NUMBER() OVER (ORDER BY sort)` as `rankCol`
    * (BIGINT, 1-based) without a single-task window. */
  def globalRank(df: DataFrame, sort: Seq[Column], rankCol: String): DataFrame =
    offsetComposed(df, sort, rankCol, row_number(), offsetFromLocalMax = false)

  /** Exact global `RANK() OVER (ORDER BY sort)` (competition rank:
    * count of strictly-smaller rows + 1, ties share) as `rankCol`
    * (BIGINT, 1-based), range-partitioned like [[globalRank]] — the
    * same row-count offsets compose, because equal sort keys never
    * span a range boundary. The numbering iterative refiners want:
    * when a tie block splits later, every OTHER rank value is
    * unaffected (unlike dense ranks, which renumber globally). */
  def globalRankTies(df: DataFrame, sort: Seq[Column], rankCol: String): DataFrame =
    offsetComposed(df, sort, rankCol, rank(), offsetFromLocalMax = false)

  /** [[globalRankTies]] plus each row's TIE-BLOCK SIZE as `cntCol` —
    * fused into the same local pass (see the offsetComposed note on why
    * the fused count adds no shuffle and no new skew class) instead of
    * the groupBy(rank) + join-back a caller would otherwise run. */
  def globalRankTiesWithCounts(df: DataFrame, sort: Seq[Column],
                               rankCol: String, cntCol: String): DataFrame =
    offsetComposed(df, sort, rankCol, rank(), offsetFromLocalMax = false,
      cntCol = Some(cntCol))

  /** [[globalRankTiesWithCounts]] plus the internal staged range
    * partition (see [[offsetComposedStaged]]): the caller owns the
    * second handle and must release it once the ranked output is
    * materialized. */
  def globalRankTiesWithCountsStaged(df: DataFrame, sort: Seq[Column],
                                     rankCol: String, cntCol: String):
      (DataFrame, DataFrame) =
    offsetComposedStaged(df, sort, rankCol, rank(),
      offsetFromLocalMax = false, cntCol = Some(cntCol))

  /** Exact global `DENSE_RANK() OVER (ORDER BY sort)` as `rankCol`
    * (BIGINT, 1-based) without a single-task window and without
    * collapsing to the distinct key relation first (no distinct
    * shuffle, no join-back — the shape iterative rankers like the
    * suffix-array doubling loop need every round). Correctness of the
    * per-partition composition: repartitionByRange keys equal sort
    * values into ONE partition, so no dense-rank tie block ever spans
    * a partition boundary; the global rank is the local dense rank
    * plus the running total of distinct-key counts (max local rank)
    * of all prior partitions. */
  def globalDenseRank(df: DataFrame, sort: Seq[Column], rankCol: String): DataFrame =
    offsetComposed(df, sort, rankCol, dense_rank(), offsetFromLocalMax = true)

  /** Consecutive-row pairs under a TOTAL order, without a global window
    * and without the globalRank → self-join-on-idx two-shuffle shape:
    * ONE range exchange (staged), pairs inside each range via `lead()`
    * over the partition, and the P−1 boundary pairs (each range's last
    * row with the next range's first) stitched from a per-partition
    * head/tail/count rollup — a ≤`shuffle.partitions`-row relation, the
    * same tiny-global-window envelope as the offsets rollup every rank
    * builder already uses. Output: `idxCol` = the earlier row's global
    * row number (1-based), `a` = that row's payload struct, `b` = its
    * successor's; exactly n−1 rows. The caller must pass a total order
    * (the within-range `lead` and the head/tail `min_by`/`max_by` are
    * deterministic only up to the provided keys). */
  def adjacentBySort(df: DataFrame, sort: Seq[Column],
                     idxCol: String): DataFrame =
    adjacentBySortStaged(df, sort, idxCol)._1

  /** [[adjacentBySort]] plus the internal staged range partition (see
    * [[offsetComposedStaged]]): the caller owns the second handle and
    * must release it once the pair output is materialized. */
  def adjacentBySortStaged(df: DataFrame, sort: Seq[Column],
                           idxCol: String): (DataFrame, DataFrame) = {
    val parts = ranged(df, sort)
    val payloadCols = parts.columns.filter(_ != "__pid").toIndexedSeq.map(col)
    val payload = struct(payloadCols: _*)
    val sortKey = struct(sort: _*)
    val w = Window.partitionBy(col("__pid")).orderBy(sort: _*)
    // per-range head/tail/count in ONE map-side-combinable rollup — no
    // extra window pass over the corpus
    val perPid = parts.groupBy("__pid").agg(
      count(lit(1)).as("__pn"),
      min_by(payload, sortKey).as("__h"),
      max_by(payload, sortKey).as("__t"))
    val wOff = Window.orderBy("__pid")
    val offsets = perPid.withColumn("__off", coalesce(
      sum("__pn").over(wOff.rowsBetween(Window.unboundedPreceding, -1)),
      lit(0L)))
    val inner = parts
      .withColumn("__lrk", row_number().over(w).cast("long"))
      .withColumn("__s", payload)
      .withColumn("__nxt", lead(col("__s"), 1).over(w))
      .filter(col("__nxt").isNotNull)
      .join(broadcast(offsets.select(col("__pid"), col("__off"))), "__pid")
      .select((col("__off") + col("__lrk")).as(idxCol),
        col("__s").as("a"), col("__nxt").as("b"))
    // boundary pairs: range p's tail with the NEXT NON-EMPTY range's
    // head (spark_partition_id only labels ranges that hold rows, so
    // `lead` over the present pids skips gaps); idx = off(p) + pn(p),
    // the tail's own global row number
    val stitched = offsets
      .withColumn("__nh", lead(col("__h"), 1).over(wOff))
      .filter(col("__nh").isNotNull)
      .select((col("__off") + col("__pn")).as(idxCol),
        col("__t").as("a"), col("__nh").as("b"))
    (inner.unionByName(stitched), parts)
  }

  /** Exact inclusive running sums
    * `SUM(expr) OVER (ORDER BY sort ROWS UNBOUNDED PRECEDING)` for each
    * `(expr, alias)` without a single-task window. One range shuffle
    * serves every requested sum. */
  def prefixSums(df: DataFrame, sort: Seq[Column],
                 sums: Seq[(Column, String)]): DataFrame =
    prefixSumsStaged(df, sort, sums)._1

  /** [[prefixSums]] plus the internal staged range partition (see
    * [[offsetComposedStaged]]): the caller owns the second handle and
    * must release it once the summed output is materialized. */
  def prefixSumsStaged(df: DataFrame, sort: Seq[Column],
                       sums: Seq[(Column, String)]):
      (DataFrame, DataFrame) = {
    val parts = ranged(df, sort)
    val w = Window.partitionBy(col("__pid")).orderBy(sort: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = sums.zipWithIndex.foldLeft(parts) {
      case (acc, ((c, _), i)) => acc.withColumn(s"__l$i", sum(c).over(w))
    }
    val totalsAgg = parts.groupBy("__pid").agg(
      sum(sums.head._1).as("__p0"),
      sums.drop(1).zipWithIndex.map { case ((c, _), i) => sum(c).as(s"__p${i + 1}") }: _*)
    val wOff = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sums.indices.foldLeft(totalsAgg) { (acc, i) =>
      acc.withColumn(s"__o$i", coalesce(sum(s"__p$i").over(wOff), lit(0L)))
    }.select(col("__pid") +: sums.indices.map(i => col(s"__o$i")): _*)
    val joined = local.join(broadcast(offsets), "__pid")
    val withCums = sums.zipWithIndex.foldLeft(joined) {
      case (acc, ((_, alias), i)) =>
        acc.withColumn(alias, col(s"__o$i") + col(s"__l$i"))
    }
    (withCums.drop(
      "__pid" +: sums.indices.flatMap(i => Seq(s"__l$i", s"__o$i")): _*),
      parts)
  }
}
