package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming versions of the event-table analytics.
  *
  * The reference has no streaming surface at all (Impala 2.x is
  * batch-only — SURVEY §2.4); this is the extension hook (§7): the same
  * tumbling-window and sessionization semantics as graft.operators.Events,
  * expressed over an unbounded source. `readStream → transform →
  * writeStream` with watermarks; custom session state via
  * flatMapGroupsWithState (KeyValueGroupedDataset), exactly the
  * Spark-native shape for stateful operators.
  *
  * Scale notes: tumbling aggregation shuffles on (window, key) with
  * watermark-bounded state; sessionization keeps one small state object
  * per active user, evicted on timeout — both run unchanged on a
  * 1000-executor cluster.
  */
object EventStreams {

  final case class Event(
      user_id: Long, event_id: Long, ts: Timestamp, event_type: String, value: Double)

  final case class SessionSummary(
      user_id: Long, session_no: Int, n_events: Int, start_ts: Timestamp, end_ts: Timestamp)

  // public: the state encoder's generated code must reach the constructor
  final case class SessionState(
      sessionNo: Int, n: Int, startMs: Long, lastMs: Long)

  /** Tumbling 1-hour rollup with a 2-hour watermark — streaming twin of
    * q65_events_tumbling. Works on a batch DataFrame too (watermark is a
    * no-op there), so batch/stream parity is testable on one code path. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("total"))

  /** Stream-static enrichment: join the event stream against a static
    * dimension (broadcast on a cluster — the dimension doesn't grow with
    * the stream) and roll up per enrichment key. The standard shape for
    * joining unbounded facts to reference data without stateful join
    * bookkeeping. */
  def enriched(events: DataFrame, userDim: DataFrame): DataFrame =
    events
      .join(org.apache.spark.sql.functions.broadcast(userDim), Seq("user_id"))
      .groupBy(col("segment"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total"))

  /** Salted stream-static enrichment — the streaming twin of the
    * [[graft.operators.Skew.saltedJoin]] hot-key join. A stream-static
    * join hash-partitions each micro-batch on the join key, so ONE hot
    * key (the power-law user every event corpus has) lands its whole
    * micro-batch share on one task forever — AQE's skew split never
    * sees a streaming plan. The fix is identical to batch salting with
    * one structural difference: the hot-key LIST cannot come from
    * scanning the stream, so it arrives as an input relation (in
    * production: the q219 key-skew report of yesterday's batch, or a
    * config list — bounded by contract, broadcast). Hot stream rows
    * scatter via a deterministic per-row hash; hot dim rows replicate
    * `salts` ways (explode of a literal sequence, amplification ≤
    * salts × |hot|); cold keys keep salt 0 unamplified. Result ≡ the
    * plain stream-static inner join, row for row (parity-tested both
    * modes). The salting algebra itself is
    * [[graft.operators.Skew.saltedJoinWithHotKeys]] — one copy, shared
    * with the batch join, so the two cannot drift. */
  def saltedEnrich(events: DataFrame, userDim: DataFrame, hotKeys: DataFrame,
                   salts: Int = 8): DataFrame =
    graft.operators.Skew.saltedJoinWithHotKeys(
      events, userDim, "user_id",
      saltBy = col("event_id"), salts = salts,
      hotKeys = hotKeys.select(col("user_id")))

  /** Continuous data-contract monitoring — the streaming twin of the
    * q210 expectations battery: per tumbling hour, every declared check
    * (accepted event types, non-negative value, non-null user) is a
    * conditional aggregate inside ONE stateful rollup, so a contract
    * violation surfaces within a watermark delay instead of at the next
    * batch audit. State is bounded (one row per open window — the
    * checks add counters, not keys), and like the other twins it runs
    * on a batch frame unchanged (watermark no-op) so batch/stream
    * parity is testable on one code path. */
  def qualityMonitor(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type").isin("view", "click", "purchase", "signup", "error"), 0L)
          .otherwise(1L)).as("bad_type"),
        sum(when(col("value") < 0, 1L).otherwise(0L)).as("neg_value"),
        sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_user"))
      .select(col("window.start").as("hour_start"), col("n_events"),
        col("bad_type"), col("neg_value"), col("null_user"),
        (col("bad_type") + col("neg_value") + col("null_user") === 0).as("pass"))

  /** Continuous inter-rater agreement — the streaming twin of q306's
    * Fleiss κ: three deterministic binary "raters" (value, event-type,
    * and combined heuristics for "engaged event") judge every event,
    * and per tumbling hour the monitor reports their
    * agreement-beyond-chance. The whole sufficient statistic is the
    * positive-vote histogram (c ∈ 0..3 ⇒ FOUR counters per open
    * window — constant state, like the other twins), so κ is a closed
    * form in the final select; an hour where every vote lands in one
    * category reports NULL (chance agreement 1 — q306's convention).
    * A falling κ means the cheap signals stopped agreeing — the
    * earliest observable symptom of a drifting event mix. Runs on a
    * batch frame unchanged (watermark no-op) for one-code-path
    * parity. */
  def agreementMonitor(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val c =
      when(col("value") >= 5.0, 1).otherwise(0) +
        when(col("event_type").isin("click", "purchase", "signup"), 1).otherwise(0) +
        when(col("value") >= 3.0 && col("event_type") =!= "error", 1).otherwise(0)
    val agg = events
      .withWatermark("ts", watermark)
      .withColumn("c", c)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("c") === 0, 1L).otherwise(0L)).as("votes0"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("votes1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("votes2"),
        sum(when(col("c") === 3, 1L).otherwise(0L)).as("votes3"),
        sum(col("c").cast("long")).as("tt"),
        sum((col("c") * (col("c") - 1) + (lit(3) - col("c")) * (lit(2) - col("c")))
          .cast("long")).as("s6"))
    val pbar = col("s6").cast("double") / (lit(6.0) * col("n"))
    val ppos = col("tt").cast("double") / (lit(3.0) * col("n"))
    val pe = ppos * ppos + (lit(1.0) - ppos) * (lit(1.0) - ppos)
    agg.select(col("window.start").as("hour_start"), col("n"),
      col("votes0"), col("votes1"), col("votes2"), col("votes3"),
      when(ppos === 0.0 || ppos === 1.0, lit(null).cast("bigint"))
        .otherwise(round((pbar - pe) / (lit(1.0) - pe) * 1e6).cast("bigint"))
        .as("fleiss_kappa_e6"))
  }

  /** Continuous population-stability monitoring — the streaming twin of
    * q314's PSI drift: per tumbling hour, the event-value distribution
    * bins against FIXED reference boundaries (frozen from the training
    * snapshot — exactly how PSI is deployed: the reference never moves
    * with the stream) and the monitor reports PSI against the
    * reference shares, with q314's named thresholds. State per open
    * window is the bin-count vector (|bins| counters — constant), PSI
    * is a closed form in the final select, and the current-side
    * +1/(n+|bins|) Laplace smoothing keeps ln finite on empty bins.
    * Runs on a batch frame unchanged (watermark no-op) for
    * one-code-path parity. */
  def psiMonitor(events: DataFrame,
                 refBounds: Seq[Double],
                 refShares: Seq[Double],
                 watermark: String = "2 hours"): DataFrame = {
    require(refShares.size == refBounds.size + 1,
      "one reference share per bin (bounds define |bounds|+1 bins)")
    require(refShares.forall(_ > 0), "reference shares must be positive")
    val binCol = refBounds.zipWithIndex.reverse
      .foldLeft(lit(refBounds.size): Column) { case (acc, (b, i)) =>
        when(col("value") < b, lit(i)).otherwise(acc)
      }
    val agg = events
      .withWatermark("ts", watermark)
      .withColumn("bin", binCol)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"),
        refShares.indices.map(i =>
          sum(when(col("bin") === i, 1L).otherwise(0L)).as(s"bin$i")): _*)
    val nb = refShares.size
    val psi = refShares.zipWithIndex.map { case (q, i) =>
      val p = (col(s"bin$i") + lit(1.0)) / (col("n") + lit(nb.toDouble))
      (p - lit(q)) * log(p / lit(q))
    }.reduce(_ + _)
    agg.select(
      (col("window.start").as("hour_start") +:
        col("n") +:
        refShares.indices.map(i => col(s"bin$i"))) :+
        round(psi * 1e6).cast("bigint").as("psi_e6") :+
        when(psi < 0.1, "stable").when(psi < 0.25, "moderate")
          .otherwise("shifted").as("verdict"): _*)
  }

  /** Continuous two-sample distribution-shift monitoring — the streaming
    * twin of q317's Mann-Whitney rank-sum: per tumbling hour, purchase
    * vs view transaction values, with the joint ordering coarsened to
    * FIXED value-bin boundaries (the psiMonitor discipline: the grid is
    * frozen, state per open window is the 2·|bins| counter vector —
    * constant, never a per-row rank). The statistic IS the exact
    * tie-corrected Mann-Whitney z of the binned relation (within-bin =
    * tied, the same midrank algebra as q317 at bin granularity), so it
    * converges on the true z as the grid refines and is bit-identical
    * between the streaming and batch paths. One group empty or zero
    * variance (everything in one bin) reports NULL, the q299
    * convention. */
  def rankShiftMonitor(events: DataFrame,
                       bounds: Seq[Double],
                       watermark: String = "2 hours"): DataFrame = {
    require(bounds.nonEmpty && bounds == bounds.sorted, "sorted bin bounds")
    val nb = bounds.size + 1
    val binCol = bounds.zipWithIndex.reverse
      .foldLeft(lit(bounds.size): Column) { case (acc, (b, i)) =>
        when(col("value") < b, lit(i)).otherwise(acc)
      }
    val agg = events
      .filter(col("event_type").isin("purchase", "view"))
      .withWatermark("ts", watermark)
      .withColumn("bin", binCol)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(
        sum(when(col("bin") === 0 && col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("a0"),
        ((1 until nb).map(i =>
          sum(when(col("bin") === i && col("event_type") === "purchase", 1L)
            .otherwise(0L)).as(s"a$i")) ++
          (0 until nb).map(i =>
            sum(when(col("bin") === i && col("event_type") === "view", 1L)
              .otherwise(0L)).as(s"b$i"))): _*)
    val na = (0 until nb).map(i => col(s"a$i")).reduce(_ + _)
    val nbv = (0 until nb).map(i => col(s"b$i")).reduce(_ + _)
    val n = na + nbv
    // 2·U = Σ a_i·(2·(views strictly below bin i) + b_i): exact integers,
    // carried in DECIMAL(38,0) — the q317 headroom discipline. In Long
    // arithmetic a single (bin, hour) beyond ~2.1M rows silently wraps
    // the t³ tie sum (t³ ≈ 10²⁷ at web scale), and u2 ≈ n² is marginal
    // at ~10⁹ rows/hour; decimal keeps both exact to 38 digits.
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val u2 = (0 until nb).map { i =>
      val below =
        if (i == 0) lit(0L)
        else (0 until i).map(j => col(s"b$j")).reduce(_ + _)
      dec(col(s"a$i")) * (dec(lit(2L) * below) + dec(col(s"b$i")))
    }.reduce(_ + _)
    val tsum = (0 until nb).map { i =>
      val t = dec(col(s"a$i") + col(s"b$i"))
      t * t * t - t
    }.reduce(_ + _)
    val varU = na.cast("double") * nbv / lit(12.0) *
      ((n + lit(1)) - tsum.cast("double") / (n * (n - lit(1))))
    val z = (u2.cast("double") - na.cast("double") * nbv) /
      (lit(2.0) * sqrt(varU))
    agg.select(
      col("window.start").as("hour_start"),
      na.as("n_purchase"), nbv.as("n_view"),
      round(u2.cast("double") / 2).cast("bigint").as("u_stat"),
      when(na === 0 || nbv === 0 || varU <= 0.0, lit(null).cast("bigint"))
        .otherwise(round(z * 1e6).cast("bigint")).as("z_e6"),
      when(na === 0 || nbv === 0, lit(null).cast("bigint"))
        .otherwise(round((u2.cast("double") / (na.cast("double") * nbv) - 1.0)
          * 1e6).cast("bigint")).as("rank_biserial_e6"))
  }

  /** Continuous latency/value-quantile monitoring — binned P50/P95/P99
    * per tumbling hour: values bin against a FROZEN boundary grid (the
    * psiMonitor discipline), the per-window state is the |bins| counter
    * vector, and each reported quantile is the UPPER EDGE of the first
    * bin whose cumulative count reaches ⌈q·n⌉ — a deterministic
    * conservative bound (true quantile ≤ reported edge, exact when the
    * grid is fine), never a per-row sort. The cumulative scan unrolls
    * over the bin literals in the final select, so the whole monitor is
    * one windowed aggregation, stream/batch bit-identical. The top bin
    * is open-ended; values landing there report the last boundary
    * (reported as saturated via the p99_saturated flag). */
  def quantileMonitor(events: DataFrame,
                      bounds: Seq[Double],
                      watermark: String = "2 hours"): DataFrame = {
    require(bounds.nonEmpty && bounds == bounds.sorted, "sorted bin bounds")
    val nb = bounds.size + 1
    val binCol = bounds.zipWithIndex.reverse
      .foldLeft(lit(bounds.size): Column) { case (acc, (b, i)) =>
        when(col("value") < b, lit(i)).otherwise(acc)
      }
    val agg = events
      .withWatermark("ts", watermark)
      .withColumn("bin", binCol)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"),
        (0 until nb).map(i =>
          sum(when(col("bin") === i, 1L).otherwise(0L)).as(s"c$i")): _*)
    // upper edge of the first bin whose cumulative count reaches ceil(q·n);
    // the open top bin reports the last boundary (saturated)
    def quantile(q: Double): Column = {
      val need = ceil(lit(q) * col("n")).cast("long")
      (0 until nb - 1).foldRight(lit(bounds.last): Column) { case (i, rest) =>
        val cum = (0 to i).map(j => col(s"c$j")).reduce(_ + _)
        when(cum >= need, lit(bounds(i))).otherwise(rest)
      }
    }
    val cumLast = (0 until nb - 1).map(j => col(s"c$j")).reduce(_ + _)
    agg.select(
      (col("window.start").as("hour_start") +: col("n") +:
        (0 until nb).map(i => col(s"c$i"))) ++
        Seq(quantile(0.5).as("p50_edge"), quantile(0.95).as("p95_edge"),
          quantile(0.99).as("p99_edge"),
          (cumLast < ceil(lit(0.99) * col("n")).cast("long"))
            .as("p99_saturated")): _*)
  }

  /** Gap-based sessionization (30-minute inactivity) — streaming twin of
    * q66_events_sessionize. Emits a SessionSummary when a gap closes a
    * session; the open session lives in per-user GroupState. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[SessionSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L

    def update(userId: Long, it: Iterator[Event],
        state: GroupState[SessionState]): Iterator[SessionSummary] = {
      val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var st = state.getOption.orNull
      val out = Seq.newBuilder[SessionSummary]
      sorted.foreach { e =>
        val t = e.ts.getTime
        if (st == null) st = SessionState(1, 1, t, t)
        else if (t - st.lastMs > gapMs) {
          out += SessionSummary(userId, st.sessionNo, st.n,
            new Timestamp(st.startMs), new Timestamp(st.lastMs))
          st = SessionState(st.sessionNo + 1, 1, t, t)
        } else st = st.copy(n = st.n + 1, lastMs = t)
      }
      if (st != null) state.update(st)
      out.result().iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  final case class CepSummary(
      user_id: Long, session_no: Int, n_events: Int,
      browse_burst: Boolean, converted: Boolean)

  // public: the state encoder's generated code must reach the constructor
  final case class CepState(
      sessionNo: Int, n: Int, lastMs: Long,
      prev1: String, prev2: String,
      burst: Boolean, sawClick: Boolean, converted: Boolean)

  /** Streaming CEP — the stateful twin of q223_events_cep: the session
    * patterns ("view view click" burst, "click … purchase" conversion)
    * COMPILED TO A CONSTANT-SIZE AUTOMATON instead of the batch fold's
    * per-session sequence string. The state per user is the last two
    * event types plus three booleans — O(1) regardless of session
    * length, strictly tighter than both the batch fold (O(session))
    * and the naive "buffer the session" streaming approach; this is
    * what a MATCH_RECOGNIZE engine does internally (NFA state, not
    * event buffers). Emits one summary per CLOSED session (gap > 30
    * min), the [[sessionize]] convention.
    *
    * Ordering contract: events are sorted by ((ts, event_id)) WITHIN
    * each micro-batch only — the price of O(1) state. Under in-order
    * arrival (per key, across batches) flags agree exactly with the
    * batch twin; an event arriving in a LATER batch but timestamped
    * inside an earlier gap is stepped through the automaton out of
    * event-time order, so its session's flags/splits can diverge from
    * q223. Callers needing exactness under late data must feed the
    * stream through a watermark-sorted buffer first (trading bounded
    * per-key event buffering for the guarantee) — the same explicit
    * policy choice [[hourlyAnomaly]] documents for its drop-late rule. */
  def sessionCep(events: Dataset[Event], gapMinutes: Int = 30): Dataset[CepSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L

    def step(st: CepState, t: String): CepState = {
      val burst = st.burst ||
        (st.prev2 == "view" && st.prev1 == "view" && t == "click")
      val converted = st.converted || (st.sawClick && t == "purchase")
      st.copy(n = st.n + 1, prev2 = st.prev1, prev1 = t,
        burst = burst, converted = converted,
        sawClick = st.sawClick || t == "click")
    }

    def fresh(sessionNo: Int, tMs: Long, t: String): CepState =
      CepState(sessionNo, 1, tMs, t, "", burst = false,
        sawClick = t == "click", converted = false)

    def update(userId: Long, it: Iterator[Event],
        state: GroupState[CepState]): Iterator[CepSummary] = {
      val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var st = state.getOption.orNull
      val out = Seq.newBuilder[CepSummary]
      sorted.foreach { e =>
        val tMs = e.ts.getTime
        if (st == null) st = fresh(1, tMs, e.event_type)
        else if (tMs - st.lastMs > gapMs) {
          out += CepSummary(userId, st.sessionNo, st.n, st.burst, st.converted)
          st = fresh(st.sessionNo + 1, tMs, e.event_type)
        } else st = step(st, e.event_type).copy(lastMs = tMs)
      }
      if (st != null) state.update(st)
      out.result().iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  final case class AnomalyAlert(
      event_type: String, hour_start: Timestamp, n_events: Long,
      n_baseline: Int, z_e6: Long, anomaly: Boolean)

  // public: the state encoder's generated code must reach the constructor
  final case class AnomState(hourMs: Long, cur: Long, hist: Seq[Long])

  /** Streaming rolling z-score anomaly detection — the stateful twin of
    * q224_events_anomaly, keyed per event_type: each CLOSED hour scores
    * against the trailing baseline held in per-key state. The state is
    * a RING BUFFER of at most 24 completed hour counts plus the open
    * hour — bounded regardless of stream lifetime (the unbounded-state
    * trap of naive "keep all history" scoring), and the z formula is
    * q224's exact integer Σ/Σ² identity with the same var-floor and
    * 12-hour warm-up. Alerts emit the moment the hour closes instead
    * of at the next batch audit — the whole point of the streaming
    * twin. Events for an already-closed hour are dropped (watermark
    * discipline); a multi-hour gap scores only the hour that actually
    * carried events, like the batch rollup's hour-keyed relation. */
  def hourlyAnomaly(events: Dataset[Event], histHours: Int = 24): Dataset[AnomalyAlert] = {
    val spark = events.sparkSession
    import spark.implicits._
    val hourMsLen = 3600L * 1000

    def score(hist: Seq[Long], c: Long): (Long, Boolean) = {
      val n = hist.size
      val s1 = hist.sum
      val s2 = hist.map(h => h * h).sum
      val mean = s1.toDouble / n
      val variance = math.max(s2.toDouble / n - mean * mean, 1.0)
      val z = (c - mean) / math.sqrt(variance)
      (math.round(z * 1e6), math.abs(z) > 3.0)
    }

    def update(tpe: String, it: Iterator[Event],
        state: GroupState[AnomState]): Iterator[AnomalyAlert] = {
      val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var st = state.getOption.orNull
      val out = Seq.newBuilder[AnomalyAlert]
      sorted.foreach { e =>
        val hr = e.ts.getTime / hourMsLen * hourMsLen
        if (st == null) st = AnomState(hr, 1L, Vector.empty)
        else if (hr == st.hourMs) st = st.copy(cur = st.cur + 1)
        else if (hr > st.hourMs) {
          // close the open hour: score it against the trailing baseline
          if (st.hist.size >= 12) {
            val (z, anom) = score(st.hist, st.cur)
            out += AnomalyAlert(tpe, new Timestamp(st.hourMs), st.cur,
              st.hist.size, z, anom)
          }
          val hist = (st.hist :+ st.cur).takeRight(histHours)
          st = AnomState(hr, 1L, hist)
        } // hr < st.hourMs: late event for a closed hour — dropped
      }
      if (st != null) state.update(st)
      out.result().iterator
    }

    events.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  final case class HeavyHitter(
      event_type: String, gen: Long, rank: Int, item: Long, cnt: Long)

  // public: the state encoder's generated code must reach the constructor
  final case class MgState(gen: Long, items: Seq[Long], counts: Seq[Long])

  /** Streaming heavy hitters — the stateful twin of q216's `mg_top_k`
    * aggregate: per event_type, a Misra-Gries summary of the user_id
    * stream held in GroupState. State is AT MOST `capacity` counters per
    * key — bounded for stream lifetime regardless of how many distinct
    * users flow through (the unbounded-state trap of a naive
    * count-everything top-k), with the classic deterministic guarantee:
    * any item with frequency > N/capacity is guaranteed present, and
    * every kept count understates the true count by at most N/capacity.
    * When distinct items ≤ capacity the counts are EXACT — the same
    * property the batch aggregate's spec pins. Events step in the
    * ((ts, event_id)) order within each batch (the sessionCep
    * contract); each batch emits the current top-k stamped with a
    * monotone `gen` so consumers (and the parity spec) read the latest
    * generation per key. */
  def heavyHitters(events: Dataset[Event], k: Int = 5, capacity: Int = 64)
      : Dataset[HeavyHitter] = {
    val spark = events.sparkSession
    import spark.implicits._
    require(k <= capacity, "top-k cannot exceed the counter capacity")

    def update(tpe: String, it: Iterator[Event],
        state: GroupState[MgState]): Iterator[HeavyHitter] = {
      val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      val st = state.getOption.getOrElse(MgState(0L, Vector.empty, Vector.empty))
      val m = scala.collection.mutable.LinkedHashMap.from(st.items.zip(st.counts))
      sorted.foreach { e =>
        val x = e.user_id
        if (m.contains(x)) m(x) += 1
        else if (m.size < capacity) m(x) = 1L
        else {
          // Misra-Gries decrement step: every counter pays one
          m.mapValuesInPlace((_, c) => c - 1)
          m.filterInPlace((_, c) => c > 0)
        }
      }
      val gen = st.gen + 1
      state.update(MgState(gen, m.keys.toVector, m.values.toVector))
      m.toSeq.sortBy { case (item, c) => (-c, item) }.take(k).zipWithIndex.map {
        case ((item, c), i) => HeavyHitter(tpe, gen, i + 1, item, c)
      }.iterator
    }

    events.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  final case class DriftReport(
      event_type: String, gen: Long, n: Long, chi2_e6: Long, drift_flag: Boolean)

  // public: the state encoder's generated code must reach the constructor
  final case class DowState(gen: Long, counts: Seq[Long])

  /** Streaming day-of-week drift monitor — the stateful goodness-of-fit
    * twin of q280's independence test: per event_type, CONSTANT state of
    * exactly 7 day-of-week counters (bounded for stream lifetime — the
    * contingency row never grows with the stream), emitting per batch
    * the χ² of the accumulated profile against a baseline distribution
    * (uniform by default; pass the calibration profile to monitor drift
    * FROM it), flagged at the dof=6, α=0.05 critical value. Day-of-week
    * uses q280's pinned datediff-mod-7 epoch (2024-01-01) so the batch
    * and streaming twins bucket identically. The per-key statistic is
    * exact at any batch boundary: counters are exact integers and χ² is
    * one fixed DOUBLE tree, so unlike sketch-based monitors there is no
    * approximation to bound. Emits with a monotone `gen`; consumers read
    * the latest generation per key (heavyHitters contract). */
  def dowDriftMonitor(events: Dataset[Event],
      baseline: Seq[Double] = Seq.fill(7)(1.0 / 7)): Dataset[DriftReport] = {
    val spark = events.sparkSession
    import spark.implicits._
    require(baseline.length == 7 && math.abs(baseline.sum - 1.0) < 1e-9,
      "baseline must be a 7-bucket distribution")
    val epochDay2024 = java.time.LocalDate.parse("2024-01-01").toEpochDay

    def update(tpe: String, it: Iterator[Event],
        state: GroupState[DowState]): Iterator[DriftReport] = {
      val st = state.getOption.getOrElse(DowState(0L, Vector.fill(7)(0L)))
      val counts = st.counts.toArray
      it.foreach { e =>
        val day = java.time.Instant.ofEpochMilli(e.ts.getTime)
          .atZone(java.time.ZoneOffset.UTC).toLocalDate.toEpochDay
        val dow = java.lang.Math.floorMod(day - epochDay2024, 7L).toInt
        counts(dow) += 1
      }
      val n = counts.sum
      val gen = st.gen + 1
      state.update(DowState(gen, counts.toVector))
      if (n == 0) Iterator.empty
      else {
        val chi2 = counts.indices.map { d =>
          val e = n * baseline(d)
          (counts(d) - e) * (counts(d) - e) / e
        }.sum
        // dof = 6, alpha = 0.05 critical value of the chi-square law
        Iterator.single(DriftReport(tpe, gen, n,
          math.round(chi2 * 1e6), chi2 > 12.591587243743977))
      }
    }

    events.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  final case class ForecastError(
      event_type: String, day_start: Timestamp, n_events: Long,
      f_naive: Long, f_seasonal: Long,
      abs_err_naive: Long, abs_err_seasonal: Long)

  // public: the state encoder's generated code must reach the constructor
  final case class FcastState(dayMs: Long, cur: Long, hist: Seq[Long])

  /** Streaming forecast-error monitor — the stateful twin of
    * q296_forecast_backtest's naive / seasonal-naive legs, keyed per
    * event_type: when a day CLOSES, its count is scored against the
    * one-step forecasts both baselines would have issued (naive =
    * yesterday's count, seasonal-naive = the count 7 observed days
    * back), so a forecast-quality regression surfaces the day it
    * happens instead of at the next batch backtest. State is CONSTANT:
    * the open day's counter plus a ring of the last ≤ 7 closed daily
    * counts — bounded for stream lifetime. The series is the
    * OBSERVED-day sequence exactly as in the batch twin (a calendar
    * gap shortens the ring, never misaligns it), scoring starts once
    * 7 closed days exist (q296's rn ≥ 8 warm-up), errors are exact
    * integers, and days bucket by UTC epoch day so batch and stream
    * agree. Late events for an already-closed day are dropped — the
    * hourlyAnomaly watermark discipline. */
  def forecastMonitor(events: Dataset[Event], season: Int = 7): Dataset[ForecastError] = {
    val spark = events.sparkSession
    import spark.implicits._
    val dayMsLen = 86400L * 1000

    def update(tpe: String, it: Iterator[Event],
        state: GroupState[FcastState]): Iterator[ForecastError] = {
      val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var st = state.getOption.orNull
      val out = Seq.newBuilder[ForecastError]
      sorted.foreach { e =>
        val day = e.ts.getTime / dayMsLen * dayMsLen
        if (st == null) st = FcastState(day, 1L, Vector.empty)
        else if (day == st.dayMs) st = st.copy(cur = st.cur + 1)
        else if (day > st.dayMs) {
          // close the open day: score it against both baselines
          if (st.hist.size >= season) {
            val fn = st.hist.last
            val fs = st.hist.head
            out += ForecastError(tpe, new Timestamp(st.dayMs), st.cur,
              fn, fs, math.abs(st.cur - fn), math.abs(st.cur - fs))
          }
          val hist = (st.hist :+ st.cur).takeRight(season)
          st = FcastState(day, 1L, hist)
        } // day < st.dayMs: late event for a closed day — dropped
      }
      if (st != null) state.update(st)
      out.result().iterator
    }

    events.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Streaming ingest dedup — the streaming twin of exact dedup (q80):
    * drop re-deliveries of the same event_id, keeping state only for the
    * watermark horizon. dropDuplicatesWithinWatermark is the Spark-native
    * shape for at-least-once sources (a Kafka replay of yesterday's ids
    * is outside the horizon and its state is long evicted — state size is
    * bounded by arrival rate × watermark, not by stream history, which is
    * what lets it run forever at 100 TB/day). */
  def deduplicated(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming TOKENIZER stage: a document stream → (doc_id, tokens,
    * n_tokens) through the pretrained-merge-table BPE encode expressed
    * as one stateless per-row expression
    * ([[graft.llmops.TextAnalysis.bpeTokensExpr]]) — no join, no
    * shuffle, no state, so it composes under any output mode and holds
    * no watermark state; at 100 TB it is a map-only stage whose
    * throughput scales with input partitions. StreamingSpec pins
    * stream ≡ batch and the occurrence-grain token counts ≡ q167's
    * frequency-weighted vocab-grain counts. */
  def tokenizedDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.llmops.TextAnalysis.bpeTokensExpr(col("text")).as("tokens"))
      .withColumn("n_tokens", size(col("tokens")).cast("long"))

  /** Streaming UNIGRAM tokenizer stage — [[tokenizedDocs]] for the
    * second tokenizer family: stateless per-row Viterbi segmentation
    * under a pretrained vocabulary (the q413 expression,
    * [[graft.llmops.UnigramTokenizer.unigramTokensExprWith]] — the one
    * unigram Viterbi DP, fed its candidate edges from a literal vocab
    * map); words without a full lattice path emit `<unk>`. The vocab defaults to
    * the static platter but accepts a SHIPPED artifact — q414's pruned
    * (token, lp_e6) model — which is how a production ingest deploys
    * the trainer's output (UnigramSpec pins the stage under the q414
    * artifact against batch Viterbi under the same model). Same scale
    * shape: map-only, no join/shuffle/state, batch ≡ stream by
    * construction (StreamingSpec pins it plus the known
    * segmentations). */
  def unigramTokenizedDocs(
      docs: DataFrame,
      vocab: Seq[(String, Long)] =
        graft.llmops.UnigramTokenizer.StaticVocab): DataFrame =
    docs.select(col("doc_id"),
      graft.llmops.UnigramTokenizer.unigramTokensExprWith(col("text"), vocab)
        .as("tokens"))
      .withColumn("n_tokens", size(col("tokens")).cast("long"))

  /** Streaming SAMPLED (subword-regularization) tokenizer stage — the
    * q425/q429 sampler for a live ingest, completing the
    * train → prune → ship → sample loop on the streaming path (r19
    * VERDICT item 6): the shipped model's flattened 2-best relation
    * `b2(word, s1, p1, s2, p2)`
    * ([[graft.llmops.UnigramTokenizer.best2Under]] — built once per
    * release, like the SA artifact) joins each arriving document's
    * exploded words STREAM-STATIC (broadcast at these sizes — no
    * shuffle on the stream side, no watermark state), and the frozen-
    * hash pick ([[graft.llmops.UnigramTokenizer.samplePick]] — the ONE
    * shared definition) chooses each occurrence's segmentation. The
    * draw is deterministic per (doc, word), so stream ≡ batch and a
    * replayed micro-batch emits identical rows — exactly why the
    * sampler is RNG-free. A word outside the shipped relation (drifted
    * live traffic) emits the `<unk>` contract, never a silent drop.
    * Output grain: one row per (doc_id, pos, word) occurrence with its
    * sampled `path`. */
  def sampledTokenizedDocs(docs: DataFrame, b2: DataFrame,
                           alpha: Double): DataFrame =
    graft.llmops.UnigramTokenizer.samplePick(
      docs
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .filter(col("word") =!= "")
        .join(b2, Seq("word"), "left"), alpha)
      .withColumn("path", coalesce(col("path"),
        lit(graft.llmops.UnigramTokenizer.Unk)))
      .select(col("doc_id"), col("pos"), col("word"), col("path"))

  /** Streaming phrase-blocklist redaction — the streaming twin of
    * q419's scrubbing stage: every arriving document is shipped with
    * every blocklisted-phrase occurrence cut (eval-set canaries,
    * boilerplate sentences, PII phrases), via the SAME span algebra as
    * the batch rewrite re-expressed as stateless per-row expressions
    * ([[graft.llmops.Retrieval.coveredPositionsExpr]] — the blocklist
    * is a ≤ few-row parameter, exactly what the standing
    * phrase-parameter artifact stores, collected into the expression).
    * Covered positions are materialized ONCE per row and the kept
    * filter tests membership against that column, so the per-word
    * work is one array probe. Emits EVERY doc (a scrubbing stage
    * ships the whole corpus; removed_tokens = 0 marks the untouched) —
    * zero joins, zero shuffles, zero streaming state: StreamingSpec
    * pins stream ≡ batch ≡ the q419 relational rewrite. */
  def redactedDocs(docs: DataFrame, phrases: Seq[String]): DataFrame =
    docs
      .withColumn("__w", split(col("text"), " "))
      .withColumn("__cov",
        graft.llmops.Retrieval.coveredPositionsExpr(col("__w"), phrases))
      .withColumn("__kept", filter(col("__w"),
        (_, i) => !array_contains(col("__cov"), i + 1)))
      .select(col("doc_id"),
        (size(col("__w")) - size(col("__kept"))).cast("long")
          .as("removed_tokens"),
        array_join(col("__kept"), " ").as("new_text"))

  /** Streaming corpus curation — the streaming twin of the release
    * pipeline's gate stages (q165's quality gate + exact dedup, scored
    * by q169's classifier): each arriving document is scored map-side
    * (stateless — the logit is the same shared expression q169 uses, so
    * stream and batch can never disagree), sub-threshold docs are
    * dropped, and survivors pass an exact-dedup gate keyed on the
    * normalized content (lowercase + whitespace collapse, the q80 key).
    * dropDuplicatesWithinWatermark keeps dedup state bounded by
    * arrival rate × watermark horizon, so the pipeline runs forever;
    * a full-history dedup belongs in the periodic batch compaction
    * (q151 incremental dedup), not in stream state. */
  def curated(docs: DataFrame, watermark: String = "2 hours"): DataFrame =
    docs
      .withColumn("z", expr(graft.llmops.TextAnalysis.qualityLogitSql))
      .filter(col("z") > 0)
      .withColumn("content_key", expr("regexp_replace(lower(text), ' +', ' ')"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_key")
      .select(col("doc_id"), col("lang"), round(col("z"), 6).as("score"))

  /** Streaming near-dup probe — the streaming twin of incremental
    * delta-vs-corpus dedup (q151): a document stream is shingled, MinHash-
    * signed and band-keyed PER ROW (all map-side, codegen'd expressions),
    * then stream-static joined against the standing corpus's precomputed
    * (band, key) → doc index. No streaming state at all: the corpus index
    * is the static side (on a cluster: a bucketed table on (band, key),
    * refreshed per corpus release), so each micro-batch does one index
    * probe and emits (new doc, duplicate-of) candidates. Exact-verify
    * happens downstream exactly as in q151. A pair colliding in several
    * bands is emitted once per band — deliberately NOT deduplicated
    * here: streaming dropDuplicates without a watermark key would keep
    * state for every pair ever seen (unbounded), and the downstream
    * exact-verify is idempotent per pair anyway. */
  def nearDupProbe(docs: DataFrame, corpusIndex: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        posexplode(expr("lshbands64(minhash64(shingles64(text)))")).as(Seq("band", "key")))
      .join(corpusIndex, Seq("band", "key"))
      .select(col("doc_id").as("new_doc_id"), col("corpus_doc_id").as("dup_of"))

  /** The standing corpus's LSH band index consumed by [[nearDupProbe]] —
    * in production this is materialized once per corpus release (and
    * bucketed on (band, key)); here derived from the documents table. */
  def corpusBandIndex(corpus: DataFrame): DataFrame =
    corpus
      .select(col("doc_id").as("corpus_doc_id"),
        posexplode(expr("lshbands64(minhash64(shingles64(text)))")).as(Seq("band", "key")))

  /** Streaming sketch rollup — the streaming twin of the q102 batch
    * pattern: hourly HLL sketches of distinct users merged into daily
    * estimates, expressed as CHAINED windowed aggregations (hour → day,
    * the multiple-stateful-operator shape Spark supports in append
    * mode). The hourly sketch state is bounded by the watermark; the
    * daily level merges SKETCHES (hll_union_agg), never re-scans raw
    * events — at 100 TB the hourly pre-aggregation is the only pass
    * over the stream and a day's answer is a 24-sketch merge. */
  def hllDailyUniques(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      .groupBy(window(col("window"), "1 day"))
      .agg(expr("CAST(hll_sketch_estimate(hll_union_agg(sk)) AS BIGINT)").as("est_uniques"),
        count(lit(1)).as("n_hours"))
      .select(col("window.start").cast("date").as("day"),
        col("est_uniques"), col("n_hours"))

  /** Stream-stream interval join — click→purchase attribution: every
    * purchase within 1 hour of a same-user click. Both sides carry a
    * watermark and the join condition bounds purchase_ts to a window
    * after click_ts, so each side's buffered state is evicted once the
    * other side's watermark passes the interval — state is
    * arrival-rate × horizon, independent of stream history (the property
    * that makes the join runnable forever at cluster scale). Inner join ⇒
    * matches emit immediately; the watermark only drives eviction. */
  def clickToPurchase(events: DataFrame, horizon: String = "1 hour"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "2 hours")
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $horizon"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** LEFT OUTER variant of [[clickToPurchase]] — the conversion-funnel
    * report: every click emits, attributed when a purchase followed
    * within the horizon and with NULL purchase columns otherwise. The
    * semantic difference from the inner join is WHEN the unmatched row
    * can exist: only once the purchase-side watermark has passed the
    * click's whole interval can Spark prove no match will arrive, so
    * null rows emit on watermark advance (delayed, exactly once) while
    * matches still emit immediately. Same bounded state as the inner
    * form — the outer row is produced from state already held for the
    * join, not extra history. */
  def clickToPurchaseFunnel(events: DataFrame, horizon: String = "1 hour"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "2 hours")
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $horizon"),
      "left_outer")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** Native session windows — the built-in `session_window` twin of the
    * custom [[sessionize]] state machine: Spark merges overlapping
    * per-event [ts, ts+gap) intervals into sessions inside the streaming
    * aggregation itself, with state evicted by the watermark. Prefer this
    * shape when the per-session output is an aggregate (counts, sums):
    * it stays in the codegen'd aggregation path and needs no bespoke
    * state class; drop to flatMapGroupsWithState only for semantics the
    * merge can't express (session numbering, mid-session emission). In
    * append mode a session emits once the watermark passes its close —
    * exactly-once per closed session, state = active sessions only. */
  def sessionWindowCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total"))
      .select(col("user_id"), col("session_window.start").as("start_ts"),
        col("session_window.end").as("end_ts"), col("n_events"), col("total"))

  /** Streaming UPSERT sink via foreachBatch — maintains a "latest event
    * per user" table under `tableDir`, the standard merge-into pattern
    * for landing a change stream in a keyed table when the sink format
    * has no native MERGE. Each micro-batch is first reduced to its own
    * latest row per key (one small shuffle over the batch), then merged
    * against the standing table with the same latest-wins rule.
    *
    * The table is hash-bucketed by key (`pmod(hash(user_id), nBuckets)`
    * — the directory-sink analogue of Layout's bucketed tables): each
    * version's data lives in per-bucket directories, and a batch
    * re-reads and rewrites ONLY the buckets its keys hash into, carrying
    * every other bucket forward by reference in the commit manifest.
    * Write amplification per batch is O(touched buckets), not O(table) —
    * the property that keeps the sink viable when the keyed table is far
    * larger than a micro-batch. (At true 100 TB scale a table format
    * with row-level merge takes over; the dataflow — dedup batch → merge
    * → latest-wins — and this manifest protocol are exactly what such
    * formats implement.)
    *
    * Crash safety is versioned-commit, not rename-swap: bucket data
    * directories are immutable once written, and a version commits by
    * atomically renaming its manifest into place as `_commit_<n>` (the
    * manifest maps bucket → data directory, mixing this version's
    * rewritten buckets with carried-forward older ones). A crash before
    * the rename leaves the previous version current — there is NO window
    * in which the table is absent. Retention deletes a pruned version's
    * manifest BEFORE any data directory it uniquely references, so a
    * mid-sweep crash strands only unreferenced orphan directories
    * (re-swept by a later batch), never a manifest pointing at deleted
    * data. Replay detection is the Delta txnAppId pattern: each commit
    * records an `_txn_<appId>_<batchId>` marker and a batch whose
    * (appId, batchId) marker already exists is a no-op. `appId` names
    * the stream incarnation (e.g. its checkpoint path — sanitized via
    * [[sanitizeAppId]] before embedding, so path separators are safe); a
    * restart with a FRESH checkpoint passes a fresh appId whose
    * batchIds, starting again at 0, are correctly treated as NEW data
    * and ratcheted past the committed version. The newest
    * `retainVersions` (≥ 1, enforced) versions stay readable so
    * lazily-consumed [[readLatest]] DataFrames remain valid for that
    * many batches; consume sooner or materialize for longer-lived
    * handles. */
  def upsertLatest(
      tableDir: String, appId: String = "default", retainVersions: Int = 3,
      nBuckets: Int = 16)(batchDf: DataFrame, batchId: Long): Unit = {
    require(retainVersions >= 1,
      "retainVersions must keep at least the current committed version")
    require(nBuckets >= 1, "nBuckets must be positive")
    val sp = batchDf.sparkSession
    import org.apache.hadoop.fs.Path
    def latest(df: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    }
    def bucketed(df: DataFrame): DataFrame =
      df.withColumn("__bucket", pmod(hash(col("user_id")), lit(nBuckets)))
    val root = new Path(tableDir)
    val fs = root.getFileSystem(sp.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    val names = fs.listStatus(root).map(_.getPath.getName)
    // replay detection is scoped to (appId, batchId) — the Delta
    // txnAppId pattern: a version number alone cannot distinguish "this
    // batch already committed" from "a restarted checkpoint's new batch
    // whose id happens to equal the current version" (the latter
    // carries NEW data and must be written). The caller identifies a
    // stream incarnation with appId (e.g. its checkpoint path); a fresh
    // checkpoint means a fresh appId.
    val txnPrefix = s"_txn_${sanitizeAppId(appId)}_${batchId}_"
    if (names.exists(_.startsWith(txnPrefix))) return
    val curVer = committedVersion(fs, root)
    // the written version ratchets past the current committed version
    // regardless of batchId, so a restarted stream's low batchIds are
    // never shadowed by an older max-marker nor pruned as stale
    val ver = math.max(curVer.map(_ + 1L).getOrElse(batchId), batchId)
    val cur: Option[Manifest] = curVer.map(readManifest(fs, root, _))
    // the bucket count is part of the table's physical identity: a
    // different count re-hashes keys into different buckets, so carrying
    // old buckets forward would duplicate keys (count shrank) or let the
    // sweep delete rows the manifest never referenced (count grew).
    // The manifest pins it; a mismatched caller is refused, not obeyed.
    cur.foreach(m => require(m.nBuckets == nBuckets,
      s"table at $tableDir is bucketed with nBuckets=${m.nBuckets}; caller passed $nBuckets"))
    // same for the row schema: a drifted batch schema would make the
    // merge union throw somewhere mid-plan (or worse, silently coerce);
    // refusing up front names the actual problem. Schema evolution is a
    // deliberate format feature — [[evolveSchema]] is the front door —
    // not something to back into via union semantics. Compared on
    // (name, type) only: nullability markers are not part of the
    // table's logical identity (the reference's column model has none).
    def shape(s: org.apache.spark.sql.types.StructType)
        : Seq[(String, org.apache.spark.sql.types.DataType)] =
      s.map(f => (f.name, f.dataType))
    cur.filter(_.schemaDdl.nonEmpty).foreach(m => require(
      shape(org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)) ==
        shape(batchDf.schema),
      s"table at $tableDir has schema [${m.schemaDdl}]; batch has [${batchDf.schema.toDDL}]"))
    val curManifest: Map[Int, String] = cur.map(_.dirs).getOrElse(Map.empty)

    // stage the batch's own latest-per-key rows laid out by bucket; the
    // affected-bucket set then comes from a directory listing — bounded
    // by nBuckets, nothing is collect()ed to the driver
    val stage = new Path(root, s"_stage_$ver")
    fs.delete(stage, true)
    bucketed(latest(batchDf)).write.partitionBy("__bucket").parquet(stage.toString)
    val affected = fs.listStatus(stage).map(_.getPath.getName)
      .filter(_.startsWith("__bucket=")).map(_.stripPrefix("__bucket=").toInt)
      .toSeq.sorted
    // merge ONLY the affected buckets against their current per-bucket
    // directories; the staged batch is read back (not recomputed) so the
    // dedup window runs once. An empty batch touches no bucket and
    // writes no data — it still commits (manifest + txn marker) so the
    // (appId, batchId) replay ledger stays complete.
    if (affected.nonEmpty) {
      // old bucket files are read under the batch schema (equal to the
      // manifest's after the check above): post-evolution they may lack
      // appended columns, which parquet then serves as NULL
      val curAffected = affected.flatMap(curManifest.get)
        .map(rel => sp.read.schema(batchDf.schema).parquet(new Path(root, rel).toString))
      val batchLatest = sp.read.parquet(stage.toString).drop("__bucket")
      val merged = latest(curAffected.foldLeft(batchLatest)(_ unionByName _))
      bucketed(merged).write.mode("overwrite").partitionBy("__bucket")
        .parquet(new Path(root, s"v_$ver").toString)
    }
    fs.delete(stage, true)

    // commit: untouched buckets carry forward by reference; the manifest
    // rename inside writeManifest is the commit point
    val newManifest = Manifest(nBuckets, batchDf.schema.toDDL,
      curManifest ++ affected.map(b => b -> s"v_$ver/__bucket=$b"))
    writeManifest(fs, root, ver, newManifest)
    fs.create(new Path(root, s"$txnPrefix$ver"), true).close()

    val committed = (names.collect {
      case n if n.startsWith("_commit_") => n.stripPrefix("_commit_").toLong
    }.sorted :+ ver).toIndexedSeq
    retentionSweep(fs, root, committed, retainVersions, curStage = s"_stage_$ver")
  }

  /** Txn replay markers outlive the data versions they committed by
    * this many versions: a marker is a zero-byte file, so a deep ledger
    * is nearly free, and it is what keeps [[upsertLatest]]'s replay
    * no-op durable against a checkpoint restored from an old backup —
    * the marker must survive even after its version's data was pruned.
    * The durability horizon is (retainVersions + grace) versions: a
    * replay from beyond it falls off the ledger and is re-applied.
    * Latest-wins makes pure upserts idempotent under that, but such a
    * replay can resurrect keys removed by [[deleteKeys]] since —
    * restore checkpoints from within the horizon, or re-run the
    * delete after the restore. */
  private[graft] val TxnMarkerGraceVersions = 64L

  /** Retention, shared by the writer and [[compact]]: prune manifests
    * beyond the newest `retainVersions`, then sweep bucket directories
    * no retained manifest references (which also clears crash orphans —
    * a v_ dir written but never committed). Manifest deletion comes
    * FIRST: a mid-sweep crash strands only unreferenced data, never a
    * ghost manifest, and [[committedVersion]] needs no data-existence
    * probing. `committed` is the ascending version list INCLUDING the
    * commit just written. */
  private def retentionSweep(
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      committed: Seq[Long], retainVersions: Int, curStage: String): Unit = {
    import org.apache.hadoop.fs.Path
    committed.dropRight(retainVersions)
      .foreach(old => fs.delete(new Path(root, s"_commit_$old"), false))
    val retained = committed.takeRight(retainVersions)
    val cutoff = retained.head
    val referenced = retained.flatMap(v => readManifest(fs, root, v).dirs.values).toSet
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("v_")) {
        fs.listStatus(st.getPath).foreach { b =>
          val bn = b.getPath.getName
          if (bn.startsWith("__bucket=") && !referenced.contains(s"$n/$bn"))
            fs.delete(b.getPath, true)
        }
        if (!fs.listStatus(st.getPath).map(_.getPath.getName).exists(_.startsWith("__bucket=")))
          fs.delete(st.getPath, true)  // no live buckets left in this version
      } else if (n.startsWith("_txn_") &&
          n.split("_").last.toLong < cutoff - TxnMarkerGraceVersions) {
        fs.delete(st.getPath, false)   // txn marker beyond the replay horizon
      } else if (n.startsWith("_stage_") && n != curStage) {
        fs.delete(st.getPath, true)    // staging debris from a crashed batch
      } else if (n.startsWith("_tmp_manifest_")) {
        fs.delete(st.getPath, false)   // unrenamed manifest from a crashed commit
      }
    }
  }

  /** Maintenance compaction — the small-files sweep a long-running
    * upsert stream needs: every bucket of the current version whose
    * directory holds more than `maxFilesPerBucket` data files is
    * rewritten as one file, and the result commits as a new version.
    * Table state is unchanged; already-compact buckets carry forward by
    * reference; if no bucket needs work the call commits nothing. The
    * per-bucket loop is driver-side but bounded by the table's bucket
    * count — each iteration is a distributed read+write of one bucket.
    * Run it from the maintenance path while the stream is quiesced: a
    * writer and a compaction racing to the same version cannot corrupt
    * the table (the manifest rename is the commit point, so one of the
    * two renames fails loudly) but the loser must be retried. */
  def compact(spark: org.apache.spark.sql.SparkSession, tableDir: String,
      maxFilesPerBucket: Int = 1, retainVersions: Int = 3): Unit = {
    import org.apache.hadoop.fs.Path
    require(maxFilesPerBucket >= 1, "maxFilesPerBucket must be positive")
    require(retainVersions >= 1,
      "retainVersions must keep at least the current committed version")
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val curVer = committedVersion(fs, root).getOrElse(
      throw new IllegalStateException(s"no committed version under $tableDir"))
    val m = readManifest(fs, root, curVer)
    def dataFiles(rel: String): Int = fs.listStatus(new Path(root, rel)).count { st =>
      val n = st.getPath.getName; !n.startsWith("_") && !n.startsWith(".")
    }
    val targets = m.dirs.filter { case (_, rel) => dataFiles(rel) > maxFilesPerBucket }
      .keys.toSeq.sorted
    if (targets.isEmpty) return
    val ver = curVer + 1
    targets.foreach { b =>
      // read under the manifest schema so a post-evolution compaction
      // materializes appended columns (as NULL) into the rewritten files
      manifestRead(spark, root, Seq(m.dirs(b)), m.schemaDdl)
        .coalesce(1).write.mode("overwrite")
        .parquet(new Path(root, s"v_$ver/__bucket=$b").toString)
    }
    writeManifest(fs, root, ver, Manifest(m.nBuckets, m.schemaDdl,
      m.dirs ++ targets.map(b => b -> s"v_$ver/__bucket=$b")))
    val committed = fs.listStatus(root).map(_.getPath.getName)
      .collect { case n if n.startsWith("_commit_") => n.stripPrefix("_commit_").toLong }
      .sorted.toSeq
    retentionSweep(fs, root, committed, retainVersions, curStage = "")
  }

  /** appId sanitized for embedding in a flat marker filename: a path
    * separator (the scaladoc recommends checkpoint paths as appIds)
    * would otherwise nest the marker in subdirectories, silently
    * breaking replay detection and crashing the retention parse; any
    * non-[letter, digit, '-'] character maps to '-' with a hex
    * discriminator appended so distinct raw ids stay distinct. */
  private[streaming] def sanitizeAppId(appId: String): String = {
    val cleaned = appId.map(c => if (c.isLetterOrDigit || c == '-') c else '-')
    if (cleaned == appId) appId
    else s"$cleaned-${java.lang.Integer.toHexString(appId.hashCode)}"
  }

  /** Parsed `_commit_<n>` manifest: the table's physical identity
    * (bucket count + row schema) and the bucket → data-directory map. */
  private final case class Manifest(nBuckets: Int, schemaDdl: String, dirs: Map[Int, String])

  /** Manifest IO: `_commit_<n>` starts with `#buckets` / `#schema`
    * header lines (the table's physical identity — checked on every
    * write, and what lets an empty committed table still report its
    * schema), followed by one "bucket TAB dir" line per live bucket.
    * Written under a temp name and renamed into place, so a manifest
    * that exists is complete — the rename is the version's commit
    * point. A file without the header is some other format (e.g. a
    * marker from a different tool) — refused loudly, never treated as
    * an empty table. */
  private def writeManifest(
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      ver: Long, m: Manifest): Unit = {
    import org.apache.hadoop.fs.Path
    val tmp = new Path(root, s"_tmp_manifest_$ver")
    val out = fs.create(tmp, true)
    val body = (Seq(s"#buckets\t${m.nBuckets}", s"#schema\t${m.schemaDdl}") ++
      m.dirs.toSeq.sorted.map { case (b, d) => s"$b\t$d" }).mkString("\n")
    try out.write(body.getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, new Path(root, s"_commit_$ver")))
      throw new java.io.IOException(s"failed to commit manifest _commit_$ver under $root")
  }

  private def readManifest(
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      ver: Long): Manifest = {
    import org.apache.hadoop.fs.Path
    val in = fs.open(new Path(root, s"_commit_$ver"))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val lines = text.split("\n").filter(_.nonEmpty)
    val header = lines.takeWhile(_.startsWith("#")).map { l =>
      val Array(k, v) = l.split("\t", 2); k -> v
    }.toMap
    if (!header.contains("#buckets"))
      throw new IllegalStateException(
        s"_commit_$ver under $root is not an upsert manifest (missing #buckets header) — " +
          "refusing to interpret an unknown format as an empty table")
    val dirs = lines.dropWhile(_.startsWith("#")).map { line =>
      val Array(b, d) = line.split("\t", 2)
      b.toInt -> d
    }.toMap
    Manifest(header("#buckets").toInt, header.getOrElse("#schema", ""), dirs)
  }

  /** Reads the current committed version of an [[upsertLatest]] table:
    * the union of the per-bucket directories its manifest references. A
    * committed-but-empty table (the stream's first trigger carried no
    * rows) is a valid state and reads as an empty DataFrame with the
    * manifest's recorded schema — distinct from a table that does not
    * exist, which throws. */
  def readLatest(spark: org.apache.spark.sql.SparkSession, tableDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    committedVersion(fs, root) match {
      case Some(v) => manifestDf(spark, fs, root, v)
      case None => throw new IllegalStateException(s"no committed version under $tableDir")
    }
  }

  /** Retained (readable) versions of an [[upsertLatest]] table,
    * ascending. Retention keeps the newest `retainVersions` commits, so
    * this is the table's time-travel horizon; empty means the table has
    * never committed. */
  def versions(spark: org.apache.spark.sql.SparkSession, tableDir: String): Seq[Long] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).map(_.getPath.getName)
      .collect { case n if n.startsWith("_commit_") => n.stripPrefix("_commit_").toLong }
      .sorted.toSeq
  }

  /** Time-travel read: the table exactly as committed at `version`
    * (Delta's `versionAsOf` analogue). Versions are immutable — a
    * commit's manifest and the bucket directories it references are
    * never modified, only pruned wholesale by retention — so the
    * returned frame is a stable snapshot. Asking for a pruned or
    * never-committed version throws, naming the retained horizon. */
  def readVersion(spark: org.apache.spark.sql.SparkSession, tableDir: String,
      version: Long): DataFrame = {
    import org.apache.hadoop.fs.Path
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val retained = versions(spark, tableDir)
    if (!retained.contains(version))
      throw new IllegalStateException(
        s"version $version of $tableDir is not readable; retained versions: " +
          (if (retained.isEmpty) "none (table never committed)"
           else retained.mkString("[", ", ", "]")))
    manifestDf(spark, fs, root, version)
  }

  /** Publish a whole-relation RELEASE ARTIFACT as the next version of a
    * versioned-manifest table — the [[upsertLatest]] commit protocol
    * (immutable data directories, atomic `_commit_<n>` manifest rename
    * as the commit point, retention sweeping unreferenced versions)
    * applied at the FULL-REWRITE grain instead of the keyed-merge one:
    * each release writes its complete relation as one fresh data
    * directory and commits; no merge, no carry-forward. This is the
    * lifecycle a once-per-release corpus artifact needs (r19 VERDICT
    * item: the suffix-array pair relation, phrase parameters — built
    * when the corpus re-releases, read by every audit until the next
    * release): a re-release publishes v+1 ATOMICALLY (a crash before
    * the manifest rename leaves v current — the table is never absent,
    * never half-written), while a long-running audit PINS the version
    * it started on via [[readVersion]] and keeps answering against the
    * corpus it was run on. Readers are the standard table readers —
    * [[readLatest]] (current release), [[readVersion]] (pinned
    * release), [[versions]] (the retained horizon). Cluster the
    * DataFrame before publishing (e.g. repartitionByRange + sort) —
    * the layout is written as given. Returns the committed version.
    * Publishers are SERIALIZED per table within the JVM (the
    * Layout.locked per-path monitor — two in-JVM callers computing the
    * same next version would otherwise overwrite each other's data
    * directory, and the local filesystem's rename does not refuse an
    * existing destination, r20 review finding); cross-PROCESS
    * publishers must coordinate externally, as a release job naturally
    * does (one publisher per release). */
  def publishArtifact(tableDir: String, retainVersions: Int = 3)(
      df: DataFrame): Long = graft.operators.Layout.locked(tableDir) {
    import org.apache.hadoop.fs.Path
    require(retainVersions >= 1,
      "retainVersions must keep at least the current committed version")
    val sp = df.sparkSession
    val root = new Path(tableDir)
    val fs = root.getFileSystem(sp.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    val ver = committedVersion(fs, root).map(_ + 1L).getOrElse(0L)
    // one data directory per release, named like a single-bucket table
    // so retention's referenced-directory sweep applies unchanged
    val rel = s"v_$ver/__bucket=0"
    // overwrite clears debris from a publish that crashed pre-commit
    df.write.mode("overwrite").parquet(new Path(root, rel).toString)
    writeManifest(fs, root, ver, Manifest(1, df.schema.toDDL, Map(0 -> rel)))
    val committed = fs.listStatus(root).map(_.getPath.getName)
      .collect { case n if n.startsWith("_commit_") =>
        n.stripPrefix("_commit_").toLong }
      .sorted.toIndexedSeq
    retentionSweep(fs, root, committed, retainVersions, curStage = "")
    ver
  }

  /** Keyed DELETE — the Kudu-model mutation (the q73 DELETE statement's
    * maintenance twin, analysis/DeleteStmt semantics) against the upsert
    * table: rows of the given keys are dropped by rewriting ONLY the
    * buckets the keys hash into; untouched buckets carry forward by
    * reference and the result commits as a new version (so time travel
    * still sees the rows before the delete, and [[changesBetween]]
    * reports them as op=delete). A bucket left empty is dropped from the
    * manifest — the same state an upsert that never touched it would
    * have left. A key set hitting no live bucket is a no-op. The
    * per-bucket loop is driver-side but bounded by nBuckets, like
    * [[compact]]; `keys` is a driver-held list, sized for maintenance
    * calls (for corpus-sized deletes, run an anti-join rewrite batch
    * through the upsert path instead). */
  def deleteKeys(spark: org.apache.spark.sql.SparkSession, tableDir: String,
      keys: Seq[Long], retainVersions: Int = 3): Unit = {
    import org.apache.hadoop.fs.Path
    require(retainVersions >= 1,
      "retainVersions must keep at least the current committed version")
    if (keys.isEmpty) return
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val curVer = committedVersion(fs, root).getOrElse(
      throw new IllegalStateException(s"no committed version under $tableDir"))
    val m = readManifest(fs, root, curVer)
    val kt = manifestKeyType(m)
    // a key that cannot fit the table's key type cannot be present — it
    // drops out here exactly like a key whose bucket holds no match
    val byBucket = keys.distinct
      .flatMap(k => bucketOf(k, kt, m.nBuckets).map(_ -> k))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // touch only buckets that actually hold one of the keys — an
    // absent-key delete must not burn a version rewriting identical
    // rows (and a fully-absent key set commits nothing at all)
    val targets = byBucket.keys.toSeq.sorted.filter(m.dirs.contains).filter { b =>
      manifestRead(spark, root, Seq(m.dirs(b)), m.schemaDdl)
        .filter(col("user_id").isin(byBucket(b): _*)).limit(1).count() > 0
    }
    if (targets.isEmpty) return
    val ver = curVer + 1
    val (emptied, rewritten) = targets.partition { b =>
      val remaining = manifestRead(spark, root, Seq(m.dirs(b)), m.schemaDdl)
        .filter(!col("user_id").isin(byBucket(b): _*))
      if (remaining.isEmpty) true
      else {
        remaining.write.mode("overwrite")
          .parquet(new Path(root, s"v_$ver/__bucket=$b").toString)
        false
      }
    }
    writeManifest(fs, root, ver, Manifest(m.nBuckets, m.schemaDdl,
      m.dirs -- emptied ++ rewritten.map(b => b -> s"v_$ver/__bucket=$b")))
    val committed = fs.listStatus(root).map(_.getPath.getName)
      .collect { case n if n.startsWith("_commit_") => n.stripPrefix("_commit_").toLong }
      .sorted.toSeq
    retentionSweep(fs, root, committed, retainVersions, curStage = "")
  }

  /** Primary-key point read — the KuduScanNode keyed-lookup analogue
    * (planner/KuduScanNode.java: PK-predicate scans) over the bucketed
    * upsert table: the key hashes to exactly one bucket, so the read
    * touches ONE bucket directory of the (optionally time-traveled)
    * version — O(table/nBuckets) bytes, not O(table) — then filters to
    * the key inside it. The bucket computation replicates the writer's
    * `pmod(hash(user_id), nBuckets)` via the same Murmur3 expression,
    * so it is correct by construction against tables this sink wrote. */
  def lookup(spark: org.apache.spark.sql.SparkSession, tableDir: String,
      userId: Long, version: Option[Long] = None): DataFrame = {
    import org.apache.hadoop.fs.Path
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ver = version.getOrElse(committedVersion(fs, root).getOrElse(
      throw new IllegalStateException(s"no committed version under $tableDir")))
    val retained = versions(spark, tableDir)
    if (!retained.contains(ver))
      throw new IllegalStateException(
        s"version $ver of $tableDir is not readable; retained versions: " +
          (if (retained.isEmpty) "none (table never committed)"
           else retained.mkString("[", ", ", "]")))
    val m = readManifest(fs, root, ver)
    val dirs = bucketOf(userId, manifestKeyType(m), m.nBuckets)
      .flatMap(m.dirs.get).toSeq
    manifestRead(spark, root, dirs, m.schemaDdl)
      .filter(col("user_id") === userId)
  }

  /** The writer's `pmod(hash(user_id), nBuckets)` replicated on the
    * driver: `hash()` is Murmur3 with seed 42, `pmod` of a positive
    * modulus is floorMod. The hash is computed over a Literal of the
    * TABLE's key type, not a hardcoded Long: Murmur3 hashes an INT's
    * 4 bytes differently from a BIGINT's 8, so probing an INT-keyed
    * table with `Literal(x: Long)` would silently land in the wrong
    * bucket (lookup empty, delete no-op). The manifest schema names the
    * authoritative type; `None` means the value cannot fit that type and
    * therefore cannot be in the table at all. */
  private[graft] def bucketOf(
      userId: Long, keyType: org.apache.spark.sql.types.DataType,
      nBuckets: Int): Option[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    import org.apache.spark.sql.types._
    val keyLit: Option[Literal] = keyType match {
      case LongType    => Some(Literal(userId))
      case IntegerType => if (userId.isValidInt) Some(Literal(userId.toInt)) else None
      case ShortType   => if (userId.isValidShort) Some(Literal(userId.toShort)) else None
      case ByteType    => if (userId.isValidByte) Some(Literal(userId.toByte)) else None
      case other => throw new IllegalArgumentException(
        s"bucketed key probes support integral user_id types; table has $other")
    }
    keyLit.map(l => java.lang.Math.floorMod(
      Murmur3Hash(Seq(l), 42).eval(null).asInstanceOf[Int], nBuckets))
  }

  /** The table's key type per its manifest schema; an empty-DDL manifest
    * (never written by this sink's writer, but tolerated by readers)
    * falls back to the Event model's BIGINT. */
  private def manifestKeyType(m: Manifest): org.apache.spark.sql.types.DataType =
    if (m.schemaDdl.isEmpty) org.apache.spark.sql.types.LongType
    else org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)("user_id").dataType

  /** Row-level change feed between two retained versions (a CDC read
    * over the snapshot history): every key `toVersion` inserted, updated
    * or deleted relative to `fromVersion`, as (op, row) with the
    * post-image for insert/update and the pre-image for delete. The scan
    * is pruned by the manifests themselves: an untouched bucket carries
    * the SAME directory reference in both manifests, so its rows cannot
    * differ and it is never read — the feed costs O(changed buckets),
    * not O(table), the property that makes incremental downstream
    * consumption viable at scale. A row carried forward unchanged
    * through a rewritten bucket is filtered by value. (The current
    * writer is a pure upsert and never deletes a key; the delete branch
    * is reported for completeness should a version drop one.) */
  def changesBetween(spark: org.apache.spark.sql.SparkSession, tableDir: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.hadoop.fs.Path
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must not exceed toVersion $toVersion")
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val retained = versions(spark, tableDir)
    Seq(fromVersion, toVersion).foreach(v =>
      if (!retained.contains(v)) throw new IllegalStateException(
        s"version $v of $tableDir is not readable; retained versions: " +
          (if (retained.isEmpty) "none (table never committed)"
           else retained.mkString("[", ", ", "]"))))
    val mFrom = readManifest(fs, root, fromVersion)
    val mTo = readManifest(fs, root, toVersion)
    val changed = (mFrom.dirs.keySet ++ mTo.dirs.keySet)
      .filter(b => mFrom.dirs.get(b) != mTo.dirs.get(b)).toSeq.sorted
    // both sides read under the TO schema: across an evolution boundary
    // the pre-image rows surface appended columns as NULL, keeping the
    // full-outer compare well-typed
    def side(m: Manifest): DataFrame =
      manifestRead(spark, root, changed.flatMap(m.dirs.get), mTo.schemaDdl)
    val o = side(mFrom).alias("o")
    val n = side(mTo).alias("n")
    val cols = side(mTo).columns.toSeq
    val joined = o.join(n, col("o.user_id") === col("n.user_id"), "full_outer")
    val op = when(col("o.user_id").isNull, lit("insert"))
      .when(col("n.user_id").isNull, lit("delete"))
      .otherwise(lit("update"))
    joined
      .withColumn("_op", op)
      // unchanged rows carried forward through a rewritten bucket
      .filter(col("_op") =!= "update" ||
        struct(cols.map(c => col(s"o.$c")): _*) =!= struct(cols.map(c => col(s"n.$c")): _*))
      .select(col("_op").as("op") +:
        cols.map(c => coalesce(col(s"n.$c"), col(s"o.$c")).as(c)): _*)
  }

  /** What one [[consumeChanges]] delivery covers: the half-open version
    * interval (fromVersion, toVersion], with fromVersion None on the
    * initial snapshot. `resync = true` means the consumer's cursor had
    * fallen off the table's retention horizon, so the delivery is the
    * FULL current snapshot (all op=insert) and must replace, not
    * increment, the consumer's state. */
  final case class ChangeBatch(fromVersion: Option[Long], toVersion: Long, resync: Boolean)

  /** Incremental change-feed consumer — the downstream-subscription
    * shape over the versioned table (how a CDC feed is actually drained
    * by a dependent pipeline): a durable cursor under `cursorDir`
    * records the last version fully processed; each call hands `f`
    * exactly the (cursor, current] delta via [[changesBetween]] —
    * O(changed buckets), not O(table) — and advances the cursor ONLY
    * after `f` returns. A consumer that crashes mid-`f` re-receives the
    * same delta next call: at-least-once, so pair it with an idempotent
    * sink (this module's own upsert protocol is one). Returns false
    * when the cursor is already current (nothing delivered).
    *
    * First call (no cursor) delivers the current snapshot as op=insert
    * rows. A consumer that falls behind the writer's retention cannot
    * reconstruct the missed deltas from pruned versions — the call then
    * RESYNCS (full snapshot, `resync = true` in the batch descriptor)
    * rather than failing or silently skipping. The cursor advance is
    * write-tmp + rename; the non-atomic delete-then-rename window can
    * at worst lose the cursor, which degrades to a redelivered
    * snapshot — never a skipped delta. */
  def consumeChanges(spark: org.apache.spark.sql.SparkSession, tableDir: String,
      cursorDir: String)(f: (DataFrame, ChangeBatch) => Unit): Boolean = {
    import org.apache.hadoop.fs.Path
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = committedVersion(fs, root).getOrElse(
      throw new IllegalStateException(s"no committed version under $tableDir"))
    val cdir = new Path(cursorDir)
    val cfs = cdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cpath = new Path(cdir, "cursor")
    val last: Option[Long] =
      if (cfs.exists(cpath)) {
        val in = cfs.open(cpath)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong)
        finally in.close()
      } else None
    if (last.contains(cur)) return false
    def snapshotInserts(): DataFrame = {
      val snap = manifestDf(spark, fs, root, cur)
      snap.select(
        lit("insert").as("op") +: snap.columns.toIndexedSeq.map(col): _*)
    }
    val retained = versions(spark, tableDir)
    val (df, batch) = last match {
      case None =>
        (snapshotInserts(), ChangeBatch(None, cur, resync = false))
      case Some(v) if retained.contains(v) =>
        (changesBetween(spark, tableDir, v, cur), ChangeBatch(Some(v), cur, resync = false))
      case Some(v) => // cursor below the retention horizon: full resync
        (snapshotInserts(), ChangeBatch(Some(v), cur, resync = true))
    }
    f(df, batch)
    cfs.mkdirs(cdir)
    val tmp = new Path(cdir, s"_tmp_cursor_$cur")
    val out = cfs.create(tmp, true)
    try out.write(cur.toString.getBytes("UTF-8")) finally out.close()
    cfs.delete(cpath, false)
    if (!cfs.rename(tmp, cpath))
      throw new IllegalStateException(s"could not advance cursor at $cpath")
    true
  }

  /** The DataFrame a committed manifest describes: the union of its
    * per-bucket directories, or an empty frame carrying the recorded
    * schema when the manifest references no data (a committed-but-empty
    * table — valid, and distinct from a table that does not exist). */
  private def manifestDf(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      ver: Long): DataFrame = {
    val m = readManifest(fs, root, ver)
    manifestRead(spark, root, m.dirs.toSeq.sortBy(_._1).map(_._2), m.schemaDdl)
  }

  /** Reads bucket directories under the MANIFEST's schema, not the
    * files' own: after [[evolveSchema]] older files lack the appended
    * columns and the explicit schema makes parquet serve them as NULL —
    * the column-mapping read path of a real table format. */
  private def manifestRead(spark: org.apache.spark.sql.SparkSession,
      root: org.apache.hadoop.fs.Path, rels: Seq[String], schemaDdl: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    if (rels.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))
    else {
      val reader =
        if (schemaDdl.nonEmpty)
          spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))
        else spark.read
      reader.parquet(rels.map(rel => new Path(root, rel).toString): _*)
    }
  }

  /** Additive schema evolution — the deliberate format feature the
    * writer's drift check points at (a drifted BATCH is refused; the
    * TABLE evolves through this front door): appends nullable columns by
    * committing a new version with the same data directories and the
    * widened `#schema` header. Existing columns must be unchanged in
    * name, order, and type; only appended columns are accepted (drops,
    * renames, and retypes would need rewritten data or per-column
    * mapping ids, which this format does not claim). Readers serve old
    * files under the manifest schema, so pre-evolution rows surface the
    * new columns as NULL; time travel still reads each version under
    * its own schema. Subsequent batches must carry the evolved schema
    * (the writer's equality check now enforces the NEW shape). */
  def evolveSchema(spark: org.apache.spark.sql.SparkSession, tableDir: String,
      newSchemaDdl: String, retainVersions: Int = 3): Unit = {
    import org.apache.hadoop.fs.Path
    require(retainVersions >= 1,
      "retainVersions must keep at least the current committed version")
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val curVer = committedVersion(fs, root).getOrElse(
      throw new IllegalStateException(s"no committed version under $tableDir"))
    val m = readManifest(fs, root, curVer)
    val cur = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    val next = org.apache.spark.sql.types.StructType.fromDDL(newSchemaDdl)
    require(next.length >= cur.length &&
      next.take(cur.length).zip(cur).forall { case (n, c) =>
        n.name == c.name && n.dataType == c.dataType },
      s"schema evolution is additive-only: [${m.schemaDdl}] -> [$newSchemaDdl] " +
        "must keep existing columns unchanged in name, order, and type")
    if (next.length == cur.length) return // nothing appended: no-op
    val ver = curVer + 1
    writeManifest(fs, root, ver, Manifest(m.nBuckets, next.toDDL, m.dirs))
    val committed = fs.listStatus(root).map(_.getPath.getName)
      .collect { case n if n.startsWith("_commit_") => n.stripPrefix("_commit_").toLong }
      .sorted.toSeq
    retentionSweep(fs, root, committed, retainVersions, curStage = "")
  }

  /** Highest committed manifest version. A manifest is renamed into
    * place only after its data directories are fully written, and
    * retention deletes a manifest before any data it references — so
    * presence of `_commit_<n>` implies the version is readable, with no
    * per-directory existence probing. */
  private def committedVersion(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Option[Long] =
    if (!fs.exists(root)) None
    else fs.listStatus(root).map(_.getPath.getName)
      .collect { case n if n.startsWith("_commit_") => n.stripPrefix("_commit_").toLong }
      .sorted.lastOption
}
