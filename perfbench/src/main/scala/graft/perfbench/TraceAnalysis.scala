package graft.perfbench

import org.json4s.JField

import graft.perfbench.Main.{Op, Pass, metricsJson}

/** Turns a traced run's listener events and the harness's own timings into
  * per-query counters, per-pass layer metrics and spans. Events are matched
  * to the query whose time window holds them: one client runs one query at
  * a time, so the windows are disjoint. */
final class TraceAnalysis(t: Tracer, ops: Seq[Op], passes: Seq[Pass], planOnly: Boolean) {

  private val sorted = ops.sortBy(_.startMs).toIndexedSeq
  private val starts = sorted.map(_.startMs).toArray

  private def opAt(ms: Double): Option[Int] = {
    val i = java.util.Arrays.binarySearch(starts, ms)
    val idx = if (i >= 0) i else -i - 2
    if (idx >= 0 && ms <= sorted(idx).endMs) Some(idx) else None
  }

  private def byOp[A](xs: Seq[A])(time: A => Double): Map[Int, Seq[A]] =
    xs.flatMap(x => opAt(time(x)).map(_ -> x)).groupMap(_._1)(_._2)

  private val (jobs, execs, tasks, stageEnds) = t.synchronized(
    (t.jobs.toSeq, t.execs.toSeq, t.tasks.toSeq, t.stageEnds.toSeq))
  private val jobsOf = byOp(jobs)(_.start.toDouble)
  private val execsOf = byOp(execs)(_.start.toDouble)
  private val tasksOf = byOp(tasks)(_.finish.toDouble)
  private val stagesOf = byOp(stageEnds)(_.toDouble)

  private val MB = 1048576.0

  /** Counters and times of one query execution, keyed by metric name. */
  private def opMetrics(i: Int): Seq[(String, Double)] = {
    val op = sorted(i)
    val js = jobsOf.getOrElse(i, Seq.empty)
    val xs = execsOf.getOrElse(i, Seq.empty)
    val ts = tasksOf.getOrElse(i, Seq.empty)
    val jobEnd = (j: Tracer.JobRec) => if (j.end >= 0) j.end.toDouble else op.endMs
    val gapMs = Span.selfTimeMs(
      Span(0, -1, "query", op.query, op.startMs, op.endMs),
      js.map(j => Span(0, 0, "job", "", j.start.toDouble, jobEnd(j))))
    Seq(
      "registry.build_s" -> (op.buildEndMs - op.startMs - op.parseMs) / 1e3,
      "plans.analysis_s" -> op.phases.getOrElse("analysis", 0.0) / 1e3,
      "plans.optimization_s" -> op.phases.getOrElse("optimization", 0.0) / 1e3,
      "plans.planning_s" -> op.phases.getOrElse("planning", 0.0) / 1e3,
      "llmops.build_executions" ->
        xs.count(x => x.start >= op.startMs && x.start <= op.buildEndMs).toDouble,
      "exec.sql_executions" -> xs.size.toDouble,
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> stagesOf.getOrElse(i, Seq.empty).size.toDouble,
      "exec.tasks" -> ts.size.toDouble,
      "exec.aqe_replans" -> xs.map(_.aqeUpdates).sum.toDouble,
      "exec.task_run_s" -> ts.map(_.runMs).sum / 1e3,
      "exec.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "sources.input_mb" -> ts.map(_.inBytes).sum / MB,
      "sources.input_rows" -> ts.map(_.inRows).sum.toDouble,
      "exec.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / MB,
      "exec.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / MB,
      "exec.spill_mb" -> ts.map(_.spill).sum / MB,
      "exec.driver_gap_s" -> gapMs / 1e3,
      "exec.codegen_compiles" -> op.codegenCompiles.toDouble,
      "exec.codegen_compile_ms" -> op.codegenNs / 1e6)
  }

  private val perOp: IndexedSeq[Seq[(String, Double)]] = sorted.indices.map(opMetrics)

  /** One pass's layer metrics: per-query sums, the mean statement parse
    * time, and the pass-wide GC and engine-rule totals. */
  private def passMetrics(p: Pass): Seq[(String, Double)] = {
    val idx = sorted.indices.filter(i => sorted(i).pass == p.index)
    val sums = perOp.head.map(_._1).map(k =>
      k -> idx.map(i => perOp(i).find(_._1 == k).get._2).sum)
    val parse = if (planOnly && idx.nonEmpty) idx.map(i => sorted(i).parseMs).sum / idx.size else 0.0
    sums ++ Seq(
      "positions.parse_ms" -> parse,
      "exec.gc_s" -> p.gcMs / 1e3,
      "plans.graft_rules_ms" -> p.ruleNs / 1e6,
      "plans.graft_rules_effective" -> p.ruleEffectiveRuns.toDouble)
  }

  private def mean(xs: Seq[Seq[(String, Double)]]): Seq[(String, Double)] =
    xs.head.map(_._1).map(k => k -> xs.map(_.find(_._1 == k).get._2).sum / xs.size)

  /** Metrics reported for the cold pass too: the ones a cold-pass change
    * (planning, codegen, loop structure) moves. */
  val ColdKeys: Seq[String] = Seq(
    "registry.build_s", "plans.analysis_s", "plans.optimization_s", "plans.planning_s",
    "plans.graft_rules_ms", "exec.sql_executions", "exec.jobs",
    "llmops.build_executions", "exec.driver_gap_s", "exec.codegen_compiles",
    "exec.codegen_compile_ms")

  /** Per-layer metrics: the mean over traced warm passes, the cold pass's
    * values under `cold.`, and the set-up and micro costs the caller
    * measured. */
  def perLayer(micro: Map[String, Double]): Seq[(String, Double, String)] = {
    val warm = mean(passes.filter(p => p.traced && p.index > 0).map(passMetrics))
    val cold = passMetrics(passes.head).filter(m => ColdKeys.contains(m._1))
      .map { case (k, v) => ("cold." + k, v) }
    (warm ++ cold ++ micro.toSeq.sorted).map { case (k, v) => (k, v, Units.of(k)) }
  }

  /** Per-query counters for the ledger, each with its unit: cold-pass
    * values and the mean over traced warm passes. */
  def ledger: Map[String, List[JField]] = {
    val warmPasses = passes.filter(p => p.traced && p.index > 0).map(_.index).toSet
    sorted.indices.groupBy(i => sorted(i).query).map { case (q, idx) =>
      val cold = idx.filter(i => sorted(i).pass == 0).map(perOp)
      val warm = idx.filter(i => warmPasses.contains(sorted(i).pass)).map(perOp)
      def withUnits(ms: Seq[(String, Double)]) = metricsJson(ms.map { case (k, v) => (k, v, Units.of(k)) })
      q -> List[JField](
        "cold" -> withUnits(cold.headOption.getOrElse(Seq.empty)),
        "warm" -> withUnits(if (warm.isEmpty) Seq.empty else mean(warm)))
    }
  }

  /** Spans: run → set-up and passes → query → build/plan/exec, with the
    * SQL executions and jobs each query caused. */
  def spans(setupS: Double, jvmStartMs: Double): Seq[Span] = {
    val out = Seq.newBuilder[Span]
    var next = 0
    def add(parent: Int, kind: String, name: String, a: Double, b: Double): Int = {
      val id = next
      next += 1
      out += Span(id, parent, kind, name, a, b)
      id
    }
    val run = add(-1, "run", "run", jvmStartMs, passes.last.endMs)
    add(run, "setup", "setup", jvmStartMs, jvmStartMs + setupS * 1e3)
    passes.filter(_.traced).foreach { p =>
      val ps = add(run, "pass", s"pass ${p.index}", p.startMs, p.endMs)
      sorted.indices.filter(i => sorted(i).pass == p.index).foreach { i =>
        val op = sorted(i)
        val q = add(ps, "query", op.query, op.startMs, op.endMs)
        if (op.parseMs > 0) add(q, "parse", "parse", op.startMs, op.startMs + op.parseMs)
        add(q, "build", "build", op.startMs + op.parseMs, op.buildEndMs)
        add(q, "plan", "plan", op.buildEndMs, op.planEndMs)
        if (!planOnly) add(q, "exec", "exec", op.planEndMs, op.endMs)
        val execSpan = execsOf.getOrElse(i, Seq.empty).map { x =>
          x.id -> add(q, "sql_execution", s"execution ${x.id}", x.start.toDouble,
            (if (x.end >= 0) x.end else x.start).toDouble)
        }.toMap
        jobsOf.getOrElse(i, Seq.empty).foreach { j =>
          add(execSpan.getOrElse(j.execId, q), "job", s"job ${j.id}", j.start.toDouble,
            (if (j.end >= 0) j.end else j.start).toDouble)
        }
      }
    }
    out.result()
  }
}

object Units {
  def of(metric: String): String = {
    val m = metric.stripPrefix("cold.")
    if (m.endsWith("_s")) "s"
    else if (m.endsWith("_ms")) "ms"
    else if (m.endsWith("_mb")) "MB"
    else if (m.endsWith("_frac")) "fraction"
    else "count"
  }
}
