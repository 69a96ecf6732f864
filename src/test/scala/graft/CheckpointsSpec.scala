package graft

import graft.llmops.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Range}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

/** Pins the staged-loop primitive (llmops.Checkpoints.iterate): which
  * rounds it releases, where it stops, the round count it returns, that
  * every loop built on it ends cleanly on an empty input, and that staged
  * storage (blocks or reliable checkpoint files) lives no longer than the
  * DataFrames over it. */
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

  /** Full GCs 200 ms apart, at most 50, until `done`; whether it held. */
  private def eventually(done: => Boolean): Boolean =
    Iterator.range(0, 50).exists { _ =>
      System.gc()
      Thread.sleep(200)
      done
    }

  test("iterate releases every superseded round, or retains all of them") {
    for (release <- Seq(true, false)) {
      val init = counter(0L)
      // held here as a retaining caller holds its rounds: a staged round
      // nothing references is collected, and its blocks with it
      val held = scala.collection.mutable.ArrayBuffer(init)
      val (last, n) = Checkpoints.iterate(init, 4, release)(increment) {
        (_, next, _) => held += next; true
      }
      assert(n == 4 && last.first().getLong(0) == 4L)
      val rounds = held.map(rddId).toSeq
      val left = rounds.filter(persisted.contains)
      java.lang.ref.Reference.reachabilityFence(held)
      if (release) assert(left == Seq(rddId(last)), s"left behind: $left")
      else assert(left == rounds, s"released: ${rounds.diff(left)}")
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

  test("staged lineage is walkable through provenance while the result " +
    "lives, and no staged RDD outlives the last DataFrame over it") {
    /** The leaves of `p`, subqueries included. */
    def leaves(p: LogicalPlan): Seq[LogicalPlan] =
      p.collectWithSubqueries { case l: LeafNode => l: LogicalPlan }
    /** Staged leaves on the longest provenance path below `p`; fails on a
      * recorded plan that still holds an RDD or ends anywhere but a Range. */
    def depth(p: LogicalPlan): Int = leaves(p).map { l =>
      Checkpoints.provenanceOf(l) match {
        case Some(src) =>
          assert(leaves(src).forall(!_.isInstanceOf[LogicalRDD]),
            s"a recorded plan holds an RDD:\n$src")
          1 + depth(src)
        case None =>
          assert(l.isInstanceOf[Range], s"walk ended at ${l.nodeName}")
          0
      }
    }.max

    // everything is built and dropped inside this method, so nothing
    // staged here is reachable once it returns
    def stagedAndWalked(): Unit = {
      val a = Checkpoints.stage(spark.range(64).select(col("id").as("x")))
      val b = Checkpoints.stage(a.select((col("x") * 2).as("x")))
      val c = Checkpoints.stage(
        b.filter(col("x") <= a.select(max(col("x"))).scalar()))
      val (last, n) = Checkpoints.iterate(c, 3, release = false)(increment) {
        (_, _, _) => true
      }
      assert(n == 3 && last.agg(sum(col("x"))).first().getLong(0) ==
        (0L until 32L).map(x => 2 * x + 3).sum)
      // last → rounds 2, 1 → c → b (c's subquery reaches a directly) → a
      assert(depth(last.queryExecution.optimizedPlan) == 6)
    }

    val before = persisted
    failAfter(120.seconds) {
      stagedAndWalked()
      assert(eventually((persisted -- before).isEmpty),
        s"still persistent after the result was dropped: ${persisted -- before}")
    }
  }

  test("reliable staging deletes a released round's files when iterate " +
    "returns and the rest once the result is dropped; observed metrics " +
    "read back exactly") {
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt")
    spark.sparkContext.setCheckpointDir(root.toString)
    spark.conf.set(Checkpoints.ReliableKey, "true")
    /** The names of the checkpoint directories on disk (`<root>/<uuid>/
      * rdd-<id>`); a snapshot listing, safe while the cleaner deletes. */
    def written: Set[String] = Option(root.toFile.listFiles()).toSeq.flatten
      .flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .map(_.getName).filter(_.startsWith("rdd-")).toSet

    def runAndDrop(): Unit = {
      val init = counter(0L)
      val ids = scala.collection.mutable.ArrayBuffer(rddId(init))
      val (last, n) = Checkpoints.iterate(init, 3) { r =>
        r.observe(increment(r), count(lit(1)).as("rows"), max(col("x")).as("mx"))
      } { (r, next, o) =>
        ids += rddId(next)
        assert(o.long("rows", -1L) == 1L && o.long("mx", -1L) == r.n.toLong)
        true
      }
      assert(n == 3 && last.first().getLong(0) == 3L)
      assert(ids.forall(id => written.contains(s"rdd-$id") == (id == rddId(last))),
        s"rounds ${ids.mkString(",")}, on disk: $written")
    }

    try failAfter(120.seconds) {
      runAndDrop()
      assert(eventually(written.isEmpty), s"left on disk: $written")
    } finally spark.conf.unset(Checkpoints.ReliableKey)
  }
}
