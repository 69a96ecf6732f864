package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.{QuerySpec, SparkEntry}

/** One benchmark run in a fresh JVM: set-up, one cold pass, then warm passes
  * (at least the workload's count) until `--seconds` have elapsed since the
  * cold pass began, all issued by a single closed-loop client: the next
  * query starts when the last one has returned its whole result.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --data <fixture root> --out <run dir> --expected <tsv>
  *
  * Writes `result.json` (the metrics) and `observed.tsv` (every result's
  * fingerprint) to the run directory, and with `--trace 1` also
  * `trace.jsonl` (spans) and per-query ledger entries in `result.json`. */
object Main {

  /** Warm passes of a traced run: untraced and traced alternate, U T U T U,
    * so the traced passes sit between untraced ones. Warm passes keep
    * getting faster as the JIT settles; with the traced passes in the
    * middle that trend largely cancels out of `trace.overhead_frac`. */
  val TracedWarmPasses = 5
  /** Cap on the per-query listener drain of a traced run. */
  val DrainCapMs = 2000L
  /** Calls timed for the mean cost of attach and function registration. */
  val MicroCalls = 20
  /** Cap on the full collections of the retained-heap reading, and the
    * pause before each. */
  val HeapSettleMaxGcs = 20
  val HeapSettlePauseMs = 100L

  final case class Op(pass: Int, query: String, startMs: Double, buildEndMs: Double,
                      planEndMs: Double, endMs: Double, parseMs: Double,
                      error: Option[String], phases: Map[String, Double],
                      codegenCompiles: Long, codegenNs: Long) {
    def latencyS: Double = (endMs - startMs) / 1e3
  }

  final case class Pass(index: Int, traced: Boolean, startMs: Double, endMs: Double,
                        gcMs: Long, ruleNs: Long, ruleEffectiveRuns: Long) {
    def seconds: Double = (endMs - startMs) / 1e3
  }

  private val nanoAnchor = System.nanoTime()
  private val epochAnchor = System.currentTimeMillis().toDouble
  /** Epoch milliseconds at nanosecond resolution, comparable with the
    * millisecond timestamps of Spark's listener events. */
  def clock(): Double = epochAnchor + (System.nanoTime() - nanoAnchor) / 1e6

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val w = Workloads.byName(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") match {
      case "0" => false
      case "1" => true
      case t => sys.error(s"--trace must be 0 or 1, got '$t'")
    }
    val out = Paths.get(opt("out"))
    val registry = SparkEntry.specs.map(_.name).toSet
    val unknown = w.queries.filterNot(registry)
    require(unknown.isEmpty, s"not in the registry: ${unknown.mkString(", ")}")
    val expected = opts.get("expected").map { p =>
      val e = Expected.load(Paths.get(p))
      val missing = w.queries.filterNot(e.contains)
      val extra = e.keySet.diff(w.queries.toSet).toSeq.sorted
      require(missing.isEmpty, s"no expected result recorded for ${missing.mkString(", ")} in $p")
      require(extra.isEmpty, s"expected results for queries not in ${w.name}: ${extra.mkString(", ")}")
      e
    }
    val dir = s"${opt("data")}/${w.scale}"
    require(Files.isDirectory(Paths.get(dir)), s"fixture directory $dir not found")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    new Main(w, seed, seconds, trace, out, expected, dir, jvmStartMs).run()
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** `{"name": {"value": v, "unit": u}, ...}` */
  def metricsJson(ms: Seq[(String, Double, String)]): JObject = JObject(ms.toList.map {
    case (k, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"non-finite metric $k = $v")
      k -> (("value" -> v) ~ ("unit" -> u))
  })

  /** Used heap in MB once full collections stop freeing memory. A
    * collection lets Spark's ContextCleaner, on its own thread, drop the
    * blocks, broadcasts and shuffle files of RDDs that became unreachable;
    * only a later collection frees what they held. Reads until three in a
    * row agree within 1 MB, or `HeapSettleMaxGcs` collections. */
  def settledHeapMb(): Double = {
    def used(): Double = {
      java.util.concurrent.locks.LockSupport.parkNanos(HeapSettlePauseMs * 1000000L)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val readings = mutable.ArrayBuffer(used(), used(), used())
    def settled = { val last = readings.takeRight(3); last.max - last.min < 1.0 }
    while (!settled && readings.size < HeapSettleMaxGcs) readings += used()
    System.err.println(s"[perfbench] retained heap readings (MB): ${readings.map(r => f"$r%.1f").mkString(" ")}")
    readings.last
  }

  def timedS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

final class Main(w: Workload, seed: Long, seconds: Double, trace: Boolean, out: Path,
                 expected: Option[Map[String, Expected.Entry]], dir: String,
                 jvmStartMs: Double) {
  import Main._

  private val cores = Runtime.getRuntime.availableProcessors()
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val passes = mutable.ArrayBuffer.empty[Pass]
  private val observed = mutable.ArrayBuffer.empty[String]
  private val failures = mutable.ArrayBuffer.empty[(Int, String, String)]
  private var unfinishedJobs = 0L

  def run(): Unit = {
    val (spark, sessionS) = timedS(graft.engine.GraftSession.local(cores, cores))
    val (_, registerS) = timedS(graft.sources.TestTables.register(spark, dir))
    graft.discard(spark.range(16).count())
    val setupS = (clock() - jvmStartMs) / 1e3

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val specs = SparkEntry.specs.map(s => s.name -> s).toMap

    val windowStart = clock()
    var p = 0
    val warmPasses = if (trace) math.max(w.warmPasses, TracedWarmPasses) else w.warmPasses
    while (p <= warmPasses || (clock() - windowStart) / 1e3 < seconds) {
      val traced = tracer.isDefined && p % 2 == 0
      if (traced) tracer.foreach(_.attach())
      val gc0 = gcMillis()
      val rules0 = if (traced) Tracer.ruleTotals("graft.plans.") else (0L, 0L, 0L, 0L)
      val start = clock()
      Stats.passOrder(w.queries, seed, p).foreach { q =>
        runOp(spark, specs(q), p, if (traced) tracer else None)
      }
      val end = clock()
      val rules1 = if (traced) Tracer.ruleTotals("graft.plans.") else (0L, 0L, 0L, 0L)
      if (traced) tracer.foreach(_.detach())
      passes += Pass(p, traced, start, end, gcMillis() - gc0,
        rules1._2 - rules0._2, rules1._3 - rules0._3)
      p += 1
    }

    val micro = tracer.map(_ => microCosts(spark)).getOrElse(Map.empty)
    // Measured with the session still alive, so blocks the queries left in
    // the block manager (checkpoints, cached relations) are counted.
    val retainedMb = settledHeapMb()
    spark.stop()

    val warm = passes.toSeq.filter(_.index > 0)
    val warmOps = ops.toSeq.filter(_.pass > 0)
    val lat = warmOps.map(_.latencyS)
    val (tailPct, tailS) = Stats.tail(lat)
    val failed = failures.size
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("cold_pass_s", passes.head.seconds, "s"),
      ("warm_pass_s", Stats.median(warm.filterNot(_.traced).map(_.seconds)), "s"),
      ("lat_p50_s", Stats.median(lat), "s"),
      ("lat_tail_s", tailS, "s"),
      ("failed_frac", failed.toDouble / ops.size, "fraction"),
      ("retained_heap_mb", retainedMb, "MB"))

    val setupLayer = Seq(
      ("engine.session_s", sessionS, "s"),
      ("sources.register_s", registerS, "s"))
    val layered = tracer.map { t =>
      val an = new TraceAnalysis(t, ops.toSeq, passes.toSeq, w.planOnly)
      Files.write(out.resolve("trace.jsonl"), an.spans(setupS, jvmStartMs).map { s =>
        compact(render(("id" -> s.id) ~ ("parent" -> s.parent) ~ ("kind" -> s.kind) ~
          ("name" -> s.name) ~ ("start_ms" -> s.startMs) ~ ("end_ms" -> s.endMs)))
      }.asJava, StandardCharsets.UTF_8)
      val tracedWarm = warm.filter(_.traced).map(_.seconds)
      val untracedWarm = warm.filterNot(_.traced).map(_.seconds)
      (an.perLayer(micro) ++ setupLayer ++ Seq(
        ("trace.overhead_frac", Stats.median(tracedWarm) / Stats.median(untracedWarm) - 1, "fraction"),
        ("trace.unfinished_jobs", unfinishedJobs.toDouble, "count")), an.ledger)
    }

    val summary =
      ("workload" -> w.name) ~ ("scale" -> w.scale) ~ ("seed" -> seed) ~ ("trace" -> trace) ~
      ("nproc" -> cores) ~ ("passes" -> passes.size) ~ ("warm_passes" -> warm.size) ~
      ("ops_per_pass" -> w.queries.size) ~ ("warm_samples" -> lat.size) ~
      ("lat_tail_percentile" -> tailPct) ~
      ("attempted" -> ops.size) ~ ("failed" -> failed) ~
      ("correct" -> (failed == 0 && expected.isDefined)) ~
      ("failures" -> failures.toList.map { case (pass, q, e) =>
        ("pass" -> pass) ~ ("query" -> q) ~ ("error" -> e) }) ~
      ("pass_seconds" -> passes.toList.map(_.seconds)) ~
      ("end_to_end" -> metricsJson(endToEnd)) ~
      ("per_layer" -> metricsJson(layered.map(_._1).getOrElse(Seq.empty))) ~
      ("queries" -> queryLedger(layered.map(_._2).getOrElse(Map.empty)))
    Files.write(out.resolve("observed.tsv"), observed.asJava, StandardCharsets.UTF_8)
    Files.write(out.resolve("result.json"),
      (compact(render(summary)) + "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Per-query cold and warm latency (every run), merged with the traced
    * per-query counters when there are any. */
  private def queryLedger(traced: Map[String, List[JField]]): JObject =
    JObject(w.queries.sorted.toList.map { q =>
      val mine = ops.toSeq.filter(_.query == q)
      val warmLat = mine.filter(_.pass > 0).map(_.latencyS)
      q -> JObject(List[JField](
        "cold_s" -> JDouble(mine.find(_.pass == 0).map(_.latencyS).getOrElse(-1.0)),
        "warm_median_s" -> JDouble(if (warmLat.isEmpty) -1.0 else Stats.median(warmLat))) ++
        traced.getOrElse(q, Nil))
    })

  private def runOp(spark: SparkSession, spec: QuerySpec, pass: Int,
                    tracer: Option[Tracer]): Unit = {
    val cc0 = if (tracer.isDefined) CodegenMetrics.METRIC_COMPILATION_TIME.getCount else 0L
    val cn0 = if (tracer.isDefined) CodeGenerator.compileTime else 0L
    val start = clock()
    var buildEnd, planEnd, end = start
    var parseMs = 0.0
    val error = try {
      val (count, digest) =
        if (w.planOnly) {
          val block = graft.positions.SqlPositions.parse(spark, spec.sparkSql.get)
          val parsed = clock()
          parseMs = parsed - start
          val df = spec.run(spark, dir)
          buildEnd = clock()
          val qe = df.queryExecution
          graft.discard(qe.executedPlan)
          planEnd = clock(); end = planEnd
          tracer.foreach(_.account(qe))
          (graft.positions.SqlPositions.flatten(block).size.toLong, df.schema.catalogString)
        } else {
          val df: DataFrame = spec.run(spark, dir)
          buildEnd = clock()
          val qe = df.queryExecution
          graft.discard(qe.executedPlan)
          planEnd = clock()
          val rows = df.collect()
          end = clock()
          tracer.foreach(_.account(qe))
          val f = Fingerprint.of(rows)
          (f.rows, f.hash)
        }
      observed += s"${spec.name}\t$pass\t$count\t$digest"
      expected.flatMap(e => Expected.check(e, spec.name, count, digest))
    } catch {
      case e: Throwable =>
        end = clock()
        Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}")
    }
    error.foreach { e =>
      failures += ((pass, spec.name, e))
      System.err.println(s"[perfbench] pass $pass ${spec.name} FAILED: $e")
    }
    val phases = tracer.map { t =>
      unfinishedJobs += t.drain(DrainCapMs)
      t.takePhases()
    }.getOrElse(Map.empty)
    val cc = if (tracer.isDefined) CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0 else 0L
    val cn = if (tracer.isDefined) CodeGenerator.compileTime - cn0 else 0L
    ops += Op(pass, spec.name, start, buildEnd, planEnd, end, parseMs, error, phases, cc, cn)
  }

  /** Mean cost of one session attach and of one function-surface
    * registration, the fixed costs every query's `prepared` pays. */
  private def microCosts(spark: SparkSession): Map[String, Double] = {
    def meanMs(body: => Unit): Double = {
      body // first call outside the timing
      val t0 = System.nanoTime()
      (1 to MicroCalls).foreach(_ => body)
      (System.nanoTime() - t0) / 1e6 / MicroCalls
    }
    Map(
      "engine.attach_ms" -> meanMs(graft.discard(graft.engine.GraftSession.attach(spark))),
      "functions.register_ms" -> meanMs(graft.functions.ImpalaFunctions.registerAll(spark)))
  }
}
