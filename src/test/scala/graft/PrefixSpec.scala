package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Prefix

/** Direct evidence for the Prefix two-pass scheme: the distributed
  * ranks/prefix sums must equal the single-window reference EXACTLY —
  * on skewed data, with duplicate sort keys, across partition counts —
  * and the plan must contain no unpartitioned heavy window. */
class PrefixSpec extends EngineSuite {

  private def fixture = {
    val s = spark
    import s.implicits._
    // skewed keys (half the rows share key 7), plus a unique tiebreak
    (1L to 500L).map(i => (if (i % 2 == 0) 7L else i % 97, i))
      .toDF("k", "id")
  }

  test("globalRank equals the single-window ROW_NUMBER under a total order") {
    val df = fixture
    val got = Prefix.globalRank(df, Seq(col("k"), col("id")), "rk")
      .select("k", "id", "rk")
    val want = df.withColumn("rk",
      row_number().over(Window.orderBy(col("k"), col("id"))).cast("long"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "distributed ranks diverge from the reference window")
    // rank set is exactly 1..n
    val n = df.count()
    assert(got.agg(min("rk"), max("rk"), countDistinct("rk")).collect()(0)
      .toSeq == Seq(1L, n, n))
  }

  test("globalRankTiesWithCounts equals the single-window RANK plus the " +
    "tie-block size, ties included") {
    val df = fixture
    val got = Prefix.globalRankTiesWithCountsStaged(df, Seq(col("k")), "rk", "gs")._1
      .select("k", "id", "rk", "gs")
    val want = df
      .withColumn("rk", rank().over(Window.orderBy(col("k"))).cast("long"))
      .withColumn("gs",
        count(lit(1)).over(Window.partitionBy(col("k"))).cast("long"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "fused tie-counts diverge from the reference rank+count windows")
  }

  test("adjacentBySort equals the single-window LEAD pairing, boundary " +
    "pairs included") {
    val df = fixture
    val got = Prefix.adjacentBySort(df, Seq(col("k"), col("id")), "idx")
      .select(col("idx"), col("a.k").as("ak"), col("a.id").as("aid"),
        col("b.k").as("bk"), col("b.id").as("bid"))
    val w = Window.orderBy(col("k"), col("id"))
    val want = df
      .withColumn("idx", row_number().over(w).cast("long"))
      .withColumn("nk", lead(col("k"), 1).over(w))
      .withColumn("nid", lead(col("id"), 1).over(w))
      .filter(col("nk").isNotNull)
      .select(col("idx"), col("k").as("ak"), col("id").as("aid"),
        col("nk").as("bk"), col("nid").as("bid"))
    val n = df.count()
    assert(got.count() == n - 1, "exactly n-1 consecutive pairs")
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "distributed adjacency diverges from the reference LEAD pairing")
  }

  test("prefixSums equals the single-window running sums, exactly") {
    val df = fixture.withColumn("v", col("id") * 3 - 1)
    val got = Prefix.prefixSums(df, Seq(col("k"), col("id")),
      Seq(col("v") -> "cum_v", lit(1L) -> "rn"))
    val w = Window.orderBy(col("k"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df
      .withColumn("cum_v", sum("v").over(w))
      .withColumn("rn", sum(lit(1L)).over(w))
    assert(got.select("k", "id", "v", "cum_v", "rn")
      .except(want.select("k", "id", "v", "cum_v", "rn")).isEmpty,
      "distributed prefix sums diverge from the reference window")
  }

  test("globalRank is row-stable on a checkpoint-fed input (one materialized range pass)") {
    // Regression: before the ranged() materialization, the local pass
    // and the offsets rollup planned two INDEPENDENT range exchanges
    // (no reuse), each with its own sampled boundaries and its own AQE
    // coalescing — on a checkpoint-fed input the two __pid spaces
    // diverged and the inner join on __pid silently DROPPED rows
    // (27,939 → 6,823 observed). A single materialization makes the
    // count invariant unconditionally.
    val df = fixture.localCheckpoint()
    val ranked = Prefix.globalRank(df, Seq(col("k"), col("id")), "rk")
      .localCheckpoint() // freeze ONE materialization, then audit it
    val n = df.count()
    assert(ranked.count() == n, "globalRank dropped rows")
    assert(ranked.agg(min("rk"), max("rk"), countDistinct("rk")).collect()(0)
      .toSeq == Seq(1L, n, n), "ranks are not a permutation of 1..n")
  }

  test("the heavy window is range-partitioned; only the offsets rollup is global") {
    val df = Prefix.globalRank(fixture, Seq(col("k"), col("id")), "rk")
    val ws = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(ws.exists(_.partitionSpec.nonEmpty), "no per-range window found")
    ws.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.toString.contains("__pid"),
        "global window other than the offsets rollup:\n" + w.toString.take(800))
    }
  }
}
