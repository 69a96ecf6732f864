package graft

import graft.llmops.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

/** Pins the staged-loop primitive (llmops.Checkpoints.iterate): which
  * rounds it releases, where it stops, the round count it returns, and
  * that every loop built on it ends cleanly on an empty input. */
class CheckpointsSpec extends EngineSuite with TimeLimits {

  /** failAfter interrupts the looping thread at the deadline. */
  private implicit val signaler: Signaler = ThreadSignaler

  /** The checkpoint RDD id behind a staged relation. */
  private def rddId(df: DataFrame): Int = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.id
    case other => fail(s"not a staged relation: ${other.nodeName}")
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def counter(from: Long): DataFrame =
    Checkpoints.stage(spark.range(1).select(lit(from).as("x")))

  private def increment(r: Checkpoints.Round): DataFrame =
    r.prev.select((col("x") + 1).as("x"))

  test("iterate releases every superseded round, or retains all of them") {
    for (release <- Seq(true, false)) {
      val init = counter(0L)
      val rounds = scala.collection.mutable.ArrayBuffer(rddId(init))
      val (last, n) = Checkpoints.iterate(init, 4, release)(increment) {
        (_, next, _) => rounds += rddId(next); true
      }
      assert(n == 4 && last.first().getLong(0) == 4L)
      val left = rounds.filter(persisted.contains).toSeq
      if (release) assert(left == Seq(rddId(last)), s"left behind: $left")
      else assert(left == rounds.toSeq, s"released: ${rounds.diff(left)}")
      rounds.foreach(id => spark.sparkContext.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = false)))
    }
  }

  test("iterate stops on the first round where more is false, never runs " +
    "past maxRounds, and returns the round count") {
    val steps = scala.collection.mutable.ArrayBuffer.empty[Int]
    def run(maxRounds: Int, stopAt: Long): (Long, Int) = {
      steps.clear()
      val (last, n) = Checkpoints.iterate(counter(0L), maxRounds) { r =>
        steps += r.n
        increment(r)
      } { (r, next, _) =>
        assert(next.first().getLong(0) == r.prev.first().getLong(0) + 1L)
        next.first().getLong(0) < stopAt
      }
      (last.first().getLong(0), n)
    }
    assert(run(10, stopAt = 3L) == ((3L, 3)) && steps == Seq(1, 2, 3))
    assert(run(5, stopAt = 100L) == ((5L, 5)) && steps == (1 to 5))
    assert(run(0, stopAt = 100L) == ((0L, 0)) && steps.isEmpty)
  }

  test("iterate reads observed metrics back with their NULL defaults") {
    val (last, n) = Checkpoints.iterate(counter(0L), 10) { r =>
      r.observe(increment(r), max(col("x")).as("mx"),
        collect_list(col("x")).as("xs"),
        max(when(col("x") < 0, col("x"))).as("never"))
    } { (_, _, o) =>
      assert(o.long("never", -7L) == -7L && o.long("absent", -8L) == -8L)
      assert(o.rows("absent").isEmpty && o.rows("xs").length == 1)
      o.long("mx", 0L) < 2L
    }
    assert(n == 2 && last.first().getLong(0) == 2L)
  }

  test("iterate ends cleanly on an empty init, with and without observed " +
    "metrics") {
    def empty = Checkpoints.stage(spark.range(0).select(col("id").as("x")))
    val (plain, n1) = failAfter(120.seconds) {
      Checkpoints.iterate(empty, 3)(increment)((_, _, _) => true)
    }
    assert(n1 == 3 && plain.isEmpty)
    // the grouped step puts a shuffle stage that materializes empty under
    // the observed node — the shape AQE re-plans around an empty stage
    val (observed, n2) = failAfter(120.seconds) {
      Checkpoints.iterate(empty, 3) { r =>
        r.observe(r.prev.groupBy(col("x")).agg(count(lit(1)).as("c"))
          .select((col("x") + 1).as("x")),
          count(lit(1)).as("n"), max(col("x")).as("mx"))
      } { (_, _, o) => o.long("n", 0L) > 0 && o.long("mx", 0L) < 2L }
    }
    assert(n2 == 1 && observed.isEmpty)
  }

  private def emptyDocs: DataFrame = {
    val sess = spark
    import sess.implicits._
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  }

  test("the suffix-array build ends cleanly on an empty corpus") {
    val ranks = failAfter(120.seconds) {
      llmops.SuffixArray.suffixRanksOf(emptyDocs)
    }
    assert(ranks.isEmpty)
    val lcp = failAfter(120.seconds) {
      llmops.SuffixArray.adjacentLcpOf(emptyDocs)
    }
    assert(lcp.isEmpty)
  }

  test("connected components end cleanly on an empty edge list") {
    val sess = spark
    import sess.implicits._
    val (labels, rounds) = failAfter(120.seconds) {
      llmops.Dedup.connectedComponentsWithRounds(
        Seq.empty[(Long, Long)].toDF("src", "dst"))
    }
    assert(labels.isEmpty && rounds == 1)
  }
}
