package graft

import org.apache.spark.sql.Row

/** Independent re-derivations of the rank/variance test family
  * (q317–q321): each test recomputes the statistic BRUTE-FORCE from
  * collected rows (naive pair counting, literal midranks, direct
  * centroid math) so an algebra slip in the collapsed-relation SQL
  * can't hide behind oracle agreement. Collects are test-side only,
  * at sf0.001. */
class RankStatsSpec extends EngineSuite {

  private def rows(q: QuerySpec): Array[Row] = q.run(spark, sfDir).collect()

  private def cents(types: String*): Map[String, Array[Long]] = {
    QuerySpec.prepared(spark, sfDir)
    val filt = if (types.isEmpty) "" else
      types.mkString(" WHERE event_type IN ('", "', '", "')")
    spark.sql(s"SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) c FROM events$filt")
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  test("q317 U and z match naive pair counting") {
    val g = cents("purchase", "view")
    val a = g("purchase"); val b = g("view")
    // brute force: every (purchase, view) pair, half credit on ties
    val u2 = (for (x <- a; y <- b) yield
      if (x > y) 2L else if (x == y) 1L else 0L).sum
    val r = rows(operators.Events.q317MannWhitney).head
    assert(r.getAs[Long]("n_purchase") == a.length && r.getAs[Long]("n_view") == b.length)
    assert(r.getAs[Long]("u_stat") == math.round(u2 / 2.0))
    val n = a.length.toLong + b.length
    val tie = (a ++ b).groupBy(identity).values
      .map(t => t.length.toLong * t.length * t.length - t.length).sum
    val varU = a.length.toDouble * b.length / 12.0 *
      ((n + 1) - tie.toDouble / (n * (n - 1.0)))
    val z = (u2 / 2.0 - a.length.toDouble * b.length / 2) / math.sqrt(varU)
    assert(math.abs(z * 1e6 - r.getAs[Long]("z_e6")) <= 1, s"z=$z")
    val rb = u2.toDouble / (a.length.toDouble * b.length) - 1.0
    assert(math.abs(rb * 1e6 - r.getAs[Long]("rank_biserial_e6")) <= 1)
  }

  test("q318 H matches literal midrank computation") {
    val g = cents()
    val all = g.values.flatten.toArray.sorted
    val n = all.length
    // literal midrank of each value: mean of its 1-based occupied ranks
    val midrank = all.zipWithIndex.groupBy(_._1)
      .map { case (v, xs) => v -> xs.map(_._2 + 1.0).sum / xs.length }
    val perGroup = g.map { case (t, vs) =>
      t -> (vs.length.toLong, vs.map(midrank).sum / vs.length) }
    val ssq = perGroup.values.map { case (ng, mr) =>
      ng * (mr - (n + 1) / 2.0) * (mr - (n + 1) / 2.0) }.sum
    val h = 12.0 * ssq / (n.toDouble * (n + 1))
    val tie = all.groupBy(identity).values
      .map(t => t.length.toDouble * t.length * t.length - t.length).sum
    val hTie = h / (1.0 - tie / (n.toDouble * n * n - n))
    val rs = rows(operators.Events.q318KruskalWallis)
    assert(rs.length == g.size)
    for (r <- rs) {
      val t = r.getAs[String]("event_type")
      assert(r.getAs[Long]("n_g") == perGroup(t)._1)
      assert(math.abs(perGroup(t)._2 * 1e6 - r.getAs[Long]("mean_rank_e6")) <= 1)
      assert(math.abs(h * 1e6 - r.getAs[Long]("h_e6")) <= 1, s"h=$h")
      assert(math.abs(hTie * 1e6 - r.getAs[Long]("h_tie_e6")) <= 1)
    }
  }

  test("q319 W matches direct two-pass Levene") {
    val g = cents()
    val z = g.map { case (t, vs) =>
      val mean = vs.sum.toDouble / vs.length
      t -> vs.map(v => math.abs(v - mean)) }
    val nTot = z.values.map(_.length).sum
    val k = z.size
    val zbar = z.values.flatten.sum / nTot
    val num = z.values.map(vs => vs.length *
      math.pow(vs.sum / vs.length - zbar, 2)).sum
    val den = z.values.map(vs => {
      val m = vs.sum / vs.length; vs.map(v => (v - m) * (v - m)).sum }).sum
    val w = (nTot - k).toDouble / (k - 1) * num / den
    val r = rows(operators.Events.q319LeveneTest).head
    assert(r.getAs[Long]("k_groups") == k && r.getAs[Long]("n_total") == nTot)
    assert(math.abs(w * 1e6 - r.getAs[Long]("w_e6")) <= 2, s"w=$w")
  }

  test("q320 Davies-Bouldin matches direct centroid math") {
    QuerySpec.prepared(spark, sfDir)
    val vecs = spark.sql("SELECT label, CAST(embedding AS ARRAY<DOUBLE>) FROM embeddings")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
    val byLabel = vecs.groupBy(_._1).map { case (l, vs) => l -> vs.map(_._2) }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val cents = byLabel.map { case (l, vs) =>
      l -> Array.tabulate(vs.head.length)(i => vs.map(_(i)).sum / vs.length) }
    val s = byLabel.map { case (l, vs) =>
      l -> vs.map(v => 1.0 - cos(v, cents(l))).sum / vs.length }
    val labels = byLabel.keys.toSeq.sorted
    val worst = labels.map { i =>
      val (jl, ratio) = labels.filter(_ != i).map { j =>
        j -> (s(i) + s(j)) / (1.0 - cos(cents(i), cents(j))) }
        .maxBy { case (j, r) => (math.round(r * 1e6), -j) }
      (i, jl, ratio)
    }
    val db = worst.map(_._3).sum / labels.length
    val rs = rows(llmops.Clustering.q320DaviesBouldin)
    assert(rs.length == labels.length)
    for ((r, (l, jl, ratio)) <- rs.zip(worst)) {
      assert(r.getAs[Int]("label") == l)
      assert(r.getAs[Int]("nearest_label") == jl)
      assert(math.abs(ratio * 1e6 - r.getAs[Long]("r_e6")) <= 2)
      assert(math.abs(db * 1e6 - r.getAs[Long]("db_e6")) <= 2, s"db=$db")
    }
  }

  test("q322 Friedman chi2 matches literal within-block midranks") {
    QuerySpec.prepared(spark, sfDir)
    val cells = spark.sql(
      """SELECT CAST(ts AS DATE) AS day, event_type,
        |       SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s
        |FROM events GROUP BY 1, 2""".stripMargin)
      .collect().map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2)))
    val k = cells.map(_._2).distinct.length
    val blocks = cells.groupBy(_._1).filter(_._2.length == k)
    val n = blocks.size
    // literal midranks within each complete block
    val ranks = blocks.values.flatMap { rowsInDay =>
      val sorted = rowsInDay.map(_._3).sorted
      rowsInDay.map { case (_, g, s) =>
        val below = sorted.count(_ < s); val tie = sorted.count(_ == s)
        g -> (below + (tie + 1) / 2.0)
      }
    }.toSeq
    val meanRank = ranks.groupBy(_._1).map { case (g, xs) =>
      g -> xs.map(_._2).sum / xs.length }
    val ssq = meanRank.values.map(mr => (mr - (k + 1) / 2.0) * (mr - (k + 1) / 2.0)).sum
    val chi2 = 12.0 * n * ssq / (k * (k + 1.0))
    val tie = blocks.values.flatMap(_.groupBy(_._3).values.map(_.length.toLong))
      .map(t => t.toDouble * t * t - t).sum
    val chi2Tie = chi2 / (1.0 - tie / (n.toDouble * k * (k.toDouble * k - 1)))
    val rs = rows(operators.Events.q322Friedman)
    assert(rs.length == k)
    for (r <- rs) {
      assert(r.getAs[Long]("n_blocks") == n && r.getAs[Long]("k_treatments") == k)
      val g = r.getAs[String]("event_type")
      assert(math.abs(meanRank(g) * 1e6 - r.getAs[Long]("mean_rank_e6")) <= 1)
      assert(math.abs(chi2 * 1e6 - r.getAs[Long]("chi2_e6")) <= 2, s"chi2=$chi2")
      assert(math.abs(chi2Tie * 1e6 - r.getAs[Long]("chi2_tie_e6")) <= 2)
    }
  }

  test("q323 W+ matches literal signed midranks") {
    QuerySpec.prepared(spark, sfDir)
    val us = spark.sql(
      """WITH b AS (SELECT MIN(unix_micros(CAST(ts AS TIMESTAMP))) AS t0,
        |                  MAX(unix_micros(CAST(ts AS TIMESTAMP))) AS t1 FROM events)
        |SELECT e.user_id,
        |  SUM(CASE WHEN 2 * unix_micros(CAST(e.ts AS TIMESTAMP)) < b.t0 + b.t1
        |           THEN CAST(ROUND(e.value * 100) AS BIGINT) END) AS c1,
        |  SUM(CASE WHEN 2 * unix_micros(CAST(e.ts AS TIMESTAMP)) >= b.t0 + b.t1
        |           THEN CAST(ROUND(e.value * 100) AS BIGINT) END) AS c2
        |FROM events e CROSS JOIN b GROUP BY e.user_id""".stripMargin)
      .collect().filter(r => !r.isNullAt(1) && !r.isNullAt(2))
      .map(r => r.getLong(2) - r.getLong(1)).filter(_ != 0)
    val n = us.length
    val absSorted = us.map(math.abs).sorted
    def midrank(a: Long): Double = {
      val below = absSorted.count(_ < a); val tie = absSorted.count(_ == a)
      below + (tie + 1) / 2.0
    }
    val wPlus = us.filter(_ > 0).map(d => midrank(math.abs(d))).sum
    val tieSum = absSorted.groupBy(identity).values
      .map(t => t.length.toDouble * t.length * t.length - t.length).sum
    val varW = n.toDouble * (n + 1) * (2 * n + 1) / 24.0 - tieSum / 48.0
    val z = (wPlus - n.toDouble * (n + 1) / 4.0) / math.sqrt(varW)
    val r = rows(operators.Events.q323WilcoxonSignedRank).head
    assert(r.getAs[Long]("n_pairs") == n)
    assert(r.getAs[Long]("n_pos") == us.count(_ > 0))
    assert(r.getAs[Long]("w_plus") == math.round(wPlus))
    assert(math.abs(z * 1e6 - r.getAs[Long]("z_e6")) <= 1, s"z=$z")
  }

  test("q324 Cochran Q matches direct row/column-total computation") {
    QuerySpec.prepared(spark, sfDir)
    val flags = spark.sql(
      """SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END,
        |       CASE WHEN size(split(text, ' ')) >= 55 THEN 1 ELSE 0 END,
        |       CASE WHEN text LIKE '% the %' THEN 1 ELSE 0 END
        |FROM documents""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    val k = 3
    val cols = Seq(flags.map(_._1).sum.toLong, flags.map(_._2).sum.toLong,
      flags.map(_._3).sum.toLong)
    val rSums = flags.map(f => (f._1 + f._2 + f._3).toLong)
    val num = (k - 1).toDouble * (k * cols.map(c => c * c).sum - math.pow(cols.sum.toDouble, 2))
    val den = k.toDouble * rSums.sum - rSums.map(r => r * r).sum
    val q = num / den
    val r = rows(llmops.QualityEval.q324CochranQ).head
    assert(r.getAs[Long]("n_docs") == flags.length)
    assert(Seq("pass_len", "pass_tok", "pass_fn").map(r.getAs[Long]) == cols)
    assert(math.abs(q * 1e6 - r.getAs[Long]("q_e6")) <= 1, s"q=$q")
  }

  test("q325 chained peel: two fused rounds equal two sequential rounds " +
    "and the round's plan reuses the degree-rollup exchange (ADVICE r20)") {
    val sp = spark
    import sp.implicits._
    // a graph where the two rounds peel DIFFERENT vertices: a 4-cycle
    // (stable 2-core) + a pendant path 1-2-3 off the cycle — round 1
    // peels leaf 3's edge, round 2 peels the now-degree-1 vertex 2's
    val edges = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L), // the 2-core
      (10L, 2L), (2L, 3L)) // pendant path: peels in two rounds
      .toDF("a", "b")
    def edgeSet(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val fused = llmops.Dedup.kCorePeel(llmops.Dedup.kCorePeel(edges))
    val sequential = {
      val r1 = edgeSet(llmops.Dedup.kCorePeel(edges).collect())
      llmops.Dedup.kCorePeel(r1.toSeq.toDF("a", "b"))
    }
    val got = edgeSet(fused.collect())
    val want = edgeSet(sequential.collect())
    assert(got == want, s"fused $got != sequential $want")
    assert(got == Set((10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L)),
      s"two rounds must strip the pendant path: $got")
    // the r20 perf invariant, now pinned (ADVICE r20): within one
    // execution the duplicated peel subtrees resolve to REUSED
    // exchanges, not recomputation
    val plan = fused.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"peel-round plan lost exchange reuse:\n$plan")
  }

  test("q325 k-core reached its fixpoint at fixture scale") {
    // the query replays a FIXED 6 peeling rounds; parity with the oracle
    // holds regardless, but the NUMBER is only "the 2-core" if the
    // fixture converged — assert it did: every survivor keeps degree ≥ 2
    // (a 7th round would peel nobody)
    val rs = rows(llmops.Dedup.q325KCore)
    assert(rs.forall(_.getAs[Long]("core_deg") >= 2),
      s"unconverged peel: ${rs.mkString(",")}")
  }

  test("q326 split is source-disjoint and shares account for every doc") {
    QuerySpec.prepared(spark, sfDir)
    val rs = rows(llmops.Sharding.q326GroupSplitLeakage)
    assert(rs.forall(_.getAs[Long]("max_splits_per_source") == 1L))
    val totalDocs = spark.table("documents").count()
    assert(rs.map(_.getAs[Long]("n_docs")).sum == totalDocs)
    val shares = rs.map(_.getAs[Long]("share_e6")).sum
    assert(math.abs(shares - 1000000L) <= 2, s"shares=$shares")
    // brute: recompute each source's split from the same polynomial
    val bySource = spark.table("documents")
      .select("source").distinct().collect().map(_.getString(0))
      .map { src =>
        val h = src.zipWithIndex.map { case (c, i) => (i + 1L) * c.toLong }.sum
        val hm = ((h % 1000003L) * 2654435761L) % 100L
        src -> (if (hm < 80) "train" else if (hm < 90) "val" else "test")
      }.toMap
    val expected = bySource.values.groupBy(identity).map { case (s, xs) => s -> xs.size }
    for (r <- rs)
      assert(r.getAs[Long]("n_sources") == expected(r.getAs[String]("split")),
        s"${r.getAs[String]("split")}")
  }

  test("q327 KM curve matches the literal product-limit estimator") {
    QuerySpec.prepared(spark, sfDir)
    val spans = spark.sql(
      """SELECT datediff(MAX(CAST(ts AS DATE)), MIN(CAST(ts AS DATE))) AS d,
        |       MAX(CAST(ts AS DATE)) AS last_day
        |FROM events GROUP BY user_id""".stripMargin)
      .collect().map(r => (r.getInt(0).toLong, r.getDate(1).toString))
    val horizon = spans.map(_._2).max
    val users = spans.map { case (d, l) => (d, l < horizon) } // (duration, churned)
    val rs = rows(operators.Events.q327KaplanMeier)
    assert(rs.map(_.getAs[Long]("n_churned")).sum == users.count(_._2))
    assert(rs.map(r => r.getAs[Long]("n_churned") + r.getAs[Long]("n_censored")).sum
      == users.length)
    var surv = 1.0; var haz = 0.0
    for (r <- rs) {
      val t = r.getAs[Long]("duration_days")
      val atRisk = users.count(_._1 >= t)
      val churn = users.count(u => u._1 == t && u._2)
      assert(r.getAs[Long]("n_at_risk") == atRisk, s"t=$t")
      assert(r.getAs[Long]("n_churned") == churn)
      surv *= 1.0 - churn.toDouble / atRisk
      haz += churn.toDouble / atRisk
      assert(math.abs(surv * 1e6 - r.getAs[Long]("km_survival_e6")) <= 1, s"t=$t surv=$surv")
      assert(math.abs(haz * 1e6 - r.getAs[Long]("na_hazard_e6")) <= 1)
    }
  }

  test("q328 Hill alpha matches the direct order-statistic formula") {
    QuerySpec.prepared(spark, sfDir)
    val lens = spark.table("documents").select("n_chars")
      .collect().map(_.getLong(0)).filter(_ > 0).sorted(Ordering[Long].reverse)
    val r = rows(llmops.CorpusStats.q328HillTailIndex).head
    val k = r.getAs[Long]("k_top").toInt
    val xk = lens(k) // (k+1)-th largest, 0-indexed
    assert(r.getAs[Long]("x_cutoff") == xk)
    val lnsum = lens.take(k).map(x => math.log(x.toDouble / xk)).sum
    val alpha = k / lnsum
    assert(math.abs(alpha * 1e6 - r.getAs[Long]("alpha_e6")) <= 2, s"alpha=$alpha")
    assert(math.abs(alpha / math.sqrt(k.toDouble) * 1e6
      - r.getAs[Long]("alpha_se_e6")) <= 2)
  }

  private def docScores(): Array[(Double, Double, Double)] = {
    QuerySpec.prepared(spark, sfDir)
    spark.sql(
      """SELECT CAST(n_chars AS DOUBLE), CAST(size(split(text, ' ')) AS DOUBLE),
        |       CAST(size(array_distinct(split(text, ' '))) AS DOUBLE)
        |FROM documents""".stripMargin)
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
  }

  test("q329 Cronbach alpha matches the direct variance-ratio form") {
    val xs = docScores()
    val n = xs.length
    def popVar(v: Seq[Double]): Double = {
      val m = v.sum / v.size; v.map(x => (x - m) * (x - m)).sum / v.size
    }
    val items = Seq(xs.map(_._1).toSeq, xs.map(_._2).toSeq, xs.map(_._3).toSeq)
    val total = xs.map(t => t._1 + t._2 + t._3).toSeq
    val alpha = 1.5 * (1.0 - items.map(popVar).sum / popVar(total))
    val r = rows(llmops.Reliability.q329CronbachAlpha).head
    assert(r.getAs[Long]("n_docs") == n)
    assert(math.abs(alpha * 1e6 - r.getAs[Long]("alpha_e6")) <= 2, s"alpha=$alpha")
  }

  test("q330 ICC(2,1) matches the direct mean-squares decomposition") {
    val xs = docScores()
    val n = xs.length; val k = 3
    val grand = xs.map(t => t._1 + t._2 + t._3).sum / (n * k)
    val rowMeans = xs.map(t => (t._1 + t._2 + t._3) / k)
    val colMeans = Seq(xs.map(_._1).sum / n, xs.map(_._2).sum / n, xs.map(_._3).sum / n)
    val ssRows = k * rowMeans.map(m => (m - grand) * (m - grand)).sum
    val ssCols = n * colMeans.map(m => (m - grand) * (m - grand)).sum
    val ssTotal = xs.flatMap(t => Seq(t._1, t._2, t._3))
      .map(x => (x - grand) * (x - grand)).sum
    val msr = ssRows / (n - 1); val msc = ssCols / (k - 1)
    val mse = (ssTotal - ssRows - ssCols) / ((n - 1.0) * (k - 1))
    val icc = (msr - mse) / (msr + (k - 1) * mse + k.toDouble * (msc - mse) / n)
    val r = rows(llmops.Reliability.q330Icc21).head
    assert(math.abs(icc * 1e6 - r.getAs[Long]("icc21_e6")) <= 2, s"icc=$icc")
  }

  test("q331 CCC and Bland-Altman match direct moment computation") {
    val xs = docScores().map(t => (t._1, 5.0 * t._2))
    val n = xs.length
    val mx = xs.map(_._1).sum / n; val my = xs.map(_._2).sum / n
    val vx = xs.map(t => (t._1 - mx) * (t._1 - mx)).sum / n
    val vy = xs.map(t => (t._2 - my) * (t._2 - my)).sum / n
    val cxy = xs.map(t => (t._1 - mx) * (t._2 - my)).sum / n
    val ccc = 2 * cxy / (vx + vy + (mx - my) * (mx - my))
    val sd = math.sqrt(vx + vy - 2 * cxy)
    val r = rows(llmops.Reliability.q331ConcordanceLimits).head
    assert(math.abs(ccc * 1e6 - r.getAs[Long]("ccc_e6")) <= 2, s"ccc=$ccc")
    assert(math.abs((mx - my) * 1e2 - r.getAs[Long]("ba_bias_e2")) <= 1)
    assert(math.abs(sd * 1e2 - r.getAs[Long]("ba_sd_e2")) <= 1)
    assert(math.abs(((mx - my) + 1.96 * sd) * 1e2 - r.getAs[Long]("ba_upper_e2")) <= 1)
  }

  test("q332 Burrows Delta matches a brute-force stylometric computation") {
    QuerySpec.prepared(spark, sfDir)
    val words = spark.sql(
      "SELECT source, explode(split(text, ' ')) AS w FROM documents")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val top = words.groupBy(_._2).view.mapValues(_.length).toSeq
      .sortBy { case (w, c) => (-c, w) }.take(30).map(_._1)
    val sources = words.map(_._1).distinct.sorted
    val totals = words.groupBy(_._1).view.mapValues(_.length.toDouble).toMap
    val fr = (for (s <- sources; w <- top) yield
      (s, w) -> words.count(t => t._1 == s && t._2 == w) / totals(s)).toMap
    val z = (for (w <- top) yield {
      val vals = sources.map(s => fr((s, w)))
      val m = vals.sum / vals.size
      val sd = math.sqrt(vals.map(v => (v - m) * (v - m)).sum / vals.size)
      w -> sources.map(s => s -> (if (sd <= 0) 0.0 else (fr((s, w)) - m) / sd)).toMap
    }).toMap
    val rs = rows(llmops.TextAnalysis.q332BurrowsDelta)
    assert(rs.length == sources.size * (sources.size - 1) / 2)
    for (r <- rs.take(5) ++ rs.takeRight(5)) {
      val (a, b) = (r.getAs[String]("source_a"), r.getAs[String]("source_b"))
      val delta = top.map(w => math.abs(z(w)(a) - z(w)(b))).sum / 30
      assert(math.abs(delta * 1e6 - r.getAs[Long]("delta_e6")) <= 2, s"$a-$b")
    }
  }

  test("q333 Granger F matches direct restricted-vs-full OLS") {
    QuerySpec.prepared(spark, sfDir)
    val days = spark.sql(
      """SELECT CAST(ts AS DATE) AS day,
        |  SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p,
        |  SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin)
      .collect().map(r => (r.getLong(1).toDouble, r.getLong(2).toDouble))
    val triples = days.sliding(2).map { case Array(prev, cur) =>
      (cur._1, prev._1, prev._2) }.toArray // (y, a=lag p, b=lag c)
    val n = triples.length
    def cm(f: ((Double, Double, Double)) => Double,
           g: ((Double, Double, Double)) => Double): Double = {
      val mf = triples.map(f).sum / n; val mg = triples.map(g).sum / n
      triples.map(t => (f(t) - mf) * (g(t) - mg)).sum
    }
    val (syy, saa, sbb) = (cm(_._1, _._1), cm(_._2, _._2), cm(_._3, _._3))
    val (say, sby, sab) = (cm(_._2, _._1), cm(_._3, _._1), cm(_._2, _._3))
    val det = saa * sbb - sab * sab
    val b1 = (say * sbb - sby * sab) / det
    val b2 = (sby * saa - say * sab) / det
    val sseF = syy - (b1 * say + b2 * sby)
    val sseR = syy - say * say / saa
    val fStat = (sseR - sseF) / (sseF / (n - 3))
    val r = rows(operators.Events.q333GrangerLite).head
    assert(r.getAs[Long]("n_days") == n)
    assert(math.abs(b2 * 1e6 - r.getAs[Long]("beta_cross_e6")) <= 2)
    assert(math.abs(fStat * 1e6 - r.getAs[Long]("f_stat_e6")) <= 5, s"F=$fStat")
  }

  test("q335 l-diversity matches direct per-group computation") {
    QuerySpec.prepared(spark, sfDir)
    val groups = spark.sql(
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |  CASE WHEN value < 50 THEN 0 WHEN value < 150 THEN 1
        |       WHEN value < 250 THEN 2 WHEN value < 350 THEN 3 ELSE 4 END AS band
        |FROM events""".stripMargin)
      .collect().map(r => ((r.getString(0), r.getDate(1).toString), r.getInt(2)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val r = rows(llmops.Reliability.q335LDiversity).head
    assert(r.getAs[Long]("n_groups") == groups.size)
    assert(r.getAs[Long]("min_distinct_l") == groups.values.map(_.distinct.size).min)
    val minEnt = groups.values.map { bands =>
      val n = bands.size.toDouble
      math.exp(-bands.groupBy(identity).values
        .map(g => g.size / n * math.log(g.size / n)).sum)
    }.min
    assert(math.abs(minEnt * 1e6 - r.getAs[Long]("min_entropy_l_e6")) <= 2)
  }

  test("q336 Neyman allocation sums to budget and matches direct weights") {
    QuerySpec.prepared(spark, sfDir)
    val strata = spark.table("documents")
      .select("lang", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1).toDouble))
      .groupBy(_._1).map { case (l, v) => l -> v.map(_._2) }
    val weights = strata.map { case (l, xs) =>
      val m = xs.sum / xs.length
      l -> xs.length * math.sqrt(xs.map(x => (x - m) * (x - m)).sum / xs.length)
    }
    val wtot = weights.values.sum
    val rs = rows(llmops.Sharding.q336NeymanAllocation)
    assert(rs.map(_.getAs[Long]("n_neyman")).sum == 100L)
    for (r <- rs) {
      val l = r.getAs[String]("lang")
      val raw = 100.0 * weights(l) / wtot
      assert(math.abs(raw * 1e4 - r.getAs[Long]("raw_neyman_e4")) <= 2, s"$l raw=$raw")
      // integerized allocation is within 1 of the raw weight (largest remainder)
      assert(math.abs(r.getAs[Long]("n_neyman") - raw) < 1.0, s"$l")
    }
  }

  test("q338 burst labels match a brute-force 2-state Viterbi") {
    QuerySpec.prepared(spark, sfDir)
    val days = spark.sql(
      "SELECT CAST(ts AS DATE) AS d, COUNT(*) c FROM events GROUP BY 1 ORDER BY d")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1)))
    val lam0 = days.map(_._2).sum.toDouble / days.length
    val gamma = 1.0
    def llr(c: Long): Double = lam0 * 0.05 - c * math.log(1.05)
    // full table Viterbi with backtracking (independent of the fold form)
    val n = days.length
    val cost = Array.ofDim[Double](n + 1, 2)
    val from = Array.ofDim[Int](n + 1, 2)
    cost(0)(0) = 0.0; cost(0)(1) = 1e18
    for (i <- 1 to n) {
      val l = llr(days(i - 1)._2)
      cost(i)(0) = math.min(cost(i - 1)(0), cost(i - 1)(1))
      from(i)(0) = if (cost(i - 1)(0) <= cost(i - 1)(1)) 0 else 1
      cost(i)(1) = math.min(cost(i - 1)(0) + gamma, cost(i - 1)(1)) + l
      from(i)(1) = if (cost(i - 1)(0) + gamma <= cost(i - 1)(1)) 0 else 1
    }
    val states = new Array[Int](n + 1)
    states(n) = if (cost(n)(0) <= cost(n)(1)) 0 else 1
    for (i <- n until 0 by -1) states(i - 1) = from(i)(states(i))
    val rs = rows(operators.Events.q338KleinbergBursts)
    assert(rs.length == n)
    for ((r, i) <- rs.zipWithIndex) {
      assert(r.getAs[Boolean]("burst") == (states(i + 1) == 1),
        s"day ${days(i)._1}")
      assert(math.abs(llr(days(i)._2) * 1e6 - r.getAs[Long]("llr_e6")) <= 1)
    }
  }

  test("q337 Rocchio rounds match a brute-force replay") {
    QuerySpec.prepared(spark, sfDir)
    val seeds = Set("dup", "spark", "hash")
    val docs = spark.table("documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val n = docs.length
    val tf = docs.flatMap { case (id, ws) =>
      ws.groupBy(identity).map { case (w, xs) => (id, w, xs.size.toLong) } }
    val df = tf.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    def idf(w: String): Double = math.log(n.toDouble / df(w))
    def score(terms: Map[String, Double]): Map[Long, Double] =
      tf.filter(t => terms.contains(t._2))
        .groupBy(_._1).view.mapValues(_.map(t => terms(t._2) * t._3 * idf(t._2)).sum)
        .toMap
    val s1 = score(seeds.map(_ -> 1.0).toMap)
    val top10 = s1.toSeq.sortBy { case (id, s) => (-math.round(s * 1e6), id) }
      .take(10).map(_._1).toSet
    val exp5 = tf.filter(t => top10(t._1) && !seeds(t._2))
      .groupBy(_._2).view.mapValues(_.map(t => t._3 * idf(t._2)).sum).toSeq
      .sortBy { case (w, s) => (-math.round(s * 1e6), w) }.take(5).map(_._1)
    val s2 = score(seeds.map(_ -> 1.0).toMap ++ exp5.map(_ -> 0.5))
    val want = s2.toSeq.sortBy { case (id, s) => (-math.round(s * 1e6), id) }.take(15)
    val rs = rows(llmops.Retrieval.q337RocchioPrf)
    assert(rs.map(_.getAs[String]("exp_terms")).distinct.toSeq ==
      Seq(exp5.sorted.mkString(",")))
    for ((r, (id, s)) <- rs.zip(want)) {
      assert(r.getAs[Long]("doc_id") == id)
      assert(math.abs(s * 1e6 - r.getAs[Long]("score_e6")) <= 2, s"doc $id")
    }
  }

  test("q339 conformal radius and coverage match a direct replay") {
    QuerySpec.prepared(spark, sfDir)
    val docs = spark.table("documents").select("lang", "doc_id", "n_chars")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val rs = rows(llmops.CorpusStats.q339ConformalInterval)
    for (r <- rs) {
      val lang = r.getAs[String]("lang")
      val (cal, ev) = docs.filter(_._1 == lang)
        .partition(d => ((d._2 % 1000003L) * 2654435761L) % 100 < 50)
      val center = cal.map(_._3).sum.toDouble / cal.length
      val res = cal.map(d => math.abs(d._3 - center)).sorted
      val k = math.ceil((cal.length + 1) * 0.9).toInt
      val radius = res(k - 1)
      assert(r.getAs[Long]("n_cal") == cal.length)
      assert(math.abs(radius * 1e2 - r.getAs[Long]("radius_e2")) <= 1, s"$lang")
      val covered = ev.count(d => math.abs(d._3 - center) <= radius)
      assert(r.getAs[Long]("n_eval") == ev.length)
      assert(math.abs(covered.toDouble / ev.length * 1e6
        - r.getAs[Long]("coverage_e6")) <= 1)
      // the honesty property itself: coverage near the nominal 90%
      // (wide slack — sf0.001 strata have ~50 docs, so ±3/n is normal)
      assert(r.getAs[Long]("coverage_e6") > 700000, s"$lang under-covers")
    }
  }

  test("q340 PACF matches a direct Durbin-Levinson recursion") {
    QuerySpec.prepared(spark, sfDir)
    val cs = spark.sql(
      "SELECT CAST(ts AS DATE) d, COUNT(*) c FROM events GROUP BY 1 ORDER BY d")
      .collect().map(_.getLong(1).toDouble)
    val n = cs.length; val mu = cs.sum / n
    val d2 = cs.map(c => (c - mu) * (c - mu)).sum
    val r = (1 to 7).map(k =>
      (0 until n - k).map(i => (cs(i) - mu) * (cs(i + k) - mu)).sum / d2).toArray
    // Durbin-Levinson
    var phi = Array(r(0))
    val pacf = Array.newBuilder[Double]
    pacf += r(0)
    for (k <- 2 to 7) {
      val num = r(k - 1) - (1 until k).map(j => phi(j - 1) * r(k - j - 1)).sum
      val den = 1.0 - (1 until k).map(j => phi(j - 1) * r(j - 1)).sum
      val pkk = num / den
      phi = ((1 until k).map(j => phi(j - 1) - pkk * phi(k - j - 1)) :+ pkk).toArray
      pacf += pkk
    }
    val want = pacf.result()
    val rs = rows(operators.Events.q340Pacf)
    for ((row, k) <- rs.zipWithIndex) {
      assert(math.abs(r(k) * 1e6 - row.getAs[Long]("acf_e6")) <= 2)
      assert(math.abs(want(k) * 1e6 - row.getAs[Long]("pacf_e6")) <= 2,
        s"lag ${k + 1}: ${want(k)}")
    }
  }

  test("q341 Holt-Winters state matches a direct recursion") {
    QuerySpec.prepared(spark, sfDir)
    val cs = spark.sql(
      "SELECT CAST(ts AS DATE) d, COUNT(*) c FROM events GROUP BY 1 ORDER BY d")
      .collect().map(_.getLong(1).toDouble)
    val (al, be, ga) = (0.3, 0.1, 0.2)
    var l = cs.take(7).sum / 7
    var b = 0.0
    val sea = cs.take(7).map(_ - l).toArray
    var sae = 0.0
    for (i <- 7 until cs.length) {
      val slot = i % 7
      sae += math.abs(cs(i) - (l + b + sea(slot)))
      val nl = al * (cs(i) - sea(slot)) + (1 - al) * (l + b)
      b = be * (nl - l) + (1 - be) * b
      sea(slot) = ga * (cs(i) - nl) + (1 - ga) * sea(slot)
      l = nl
    }
    val r = rows(operators.Events.q341HoltWinters).head
    assert(r.getAs[Long]("n_forecast_days") == cs.length - 7)
    assert(math.abs(l * 1e2 - r.getAs[Long]("level_e2")) <= 1, s"l=$l")
    assert(math.abs(b * 1e2 - r.getAs[Long]("trend_e2")) <= 1)
    assert(math.abs(sae / (cs.length - 7) * 1e2 - r.getAs[Long]("mae_e2")) <= 1)
    assert(math.abs((sea.max - sea.min) * 1e2
      - r.getAs[Long]("seasonal_span_e2")) <= 1)
  }

  test("q342 log-rank chi2 matches a direct per-time computation") {
    QuerySpec.prepared(spark, sfDir)
    val users = spark.sql(
      """SELECT datediff(MAX(CAST(ts AS DATE)), MIN(CAST(ts AS DATE))) AS t,
        |  MAX(CAST(ts AS DATE)) AS last_day,
        |  MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS g1
        |FROM events GROUP BY user_id""".stripMargin)
      .collect().map(r => (r.getInt(0).toLong, r.getDate(1).toString, r.getInt(2) == 1))
    val horizon = users.map(_._2).max
    val rows2 = users.map { case (t, l, g) => (t, l < horizon, g) }
    var o1 = 0L; var e1 = 0.0; var v = 0.0
    for (t <- rows2.map(_._1).distinct.sorted) {
      val n1 = rows2.count(u => u._1 >= t && u._3)
      val n0 = rows2.count(u => u._1 >= t && !u._3)
      val d1 = rows2.count(u => u._1 == t && u._2 && u._3)
      val d0 = rows2.count(u => u._1 == t && u._2 && !u._3)
      val n = n1 + n0; val d = d1 + d0
      o1 += d1
      if (n > 0) e1 += d.toDouble * n1 / n
      if (n > 1) v += d.toDouble * (n1.toDouble / n) * (1.0 - n1.toDouble / n) *
        (n - d) / (n - 1.0)
    }
    val r = rows(operators.Events.q342LogRank).head
    assert(r.getAs[Long]("observed_g1") == o1)
    assert(math.abs(e1 * 1e6 - r.getAs[Long]("expected_g1_e6")) <= 2)
    if (v == 0) // sf0.001 can have zero churns: NULL by the q299 convention
      assert(r.isNullAt(r.fieldIndex("chi2_e6")))
    else {
      val chi2 = (o1 - e1) * (o1 - e1) / v
      assert(math.abs(chi2 * 1e6 - r.getAs[Long]("chi2_e6")) <= 2, s"chi2=$chi2")
    }
  }

  test("q343 Gumbel fit matches direct block-maxima moments") {
    QuerySpec.prepared(spark, sfDir)
    val maxes = spark.sql(
      """SELECT CAST(FLOOR(datediff(CAST(ts AS DATE), DATE '2024-01-01') / 7)
        |  AS BIGINT) AS wk, MAX(c) AS mx
        |FROM (SELECT ts, COUNT(*) OVER (PARTITION BY CAST(ts AS DATE)) AS c
        |      FROM events) t GROUP BY 1""".stripMargin)
      .collect().map(_.getLong(1).toDouble)
    val n = maxes.length
    val mean = maxes.sum / n
    val sd = math.sqrt(maxes.map(x => (x - mean) * (x - mean)).sum / n)
    val beta = sd * math.sqrt(6.0) / math.Pi
    val mu = mean - 0.5772156649015329 * beta
    val rl = mu - beta * math.log(-math.log(0.99))
    val r = rows(operators.Events.q343GumbelExtremes).head
    assert(r.getAs[Long]("n_weeks") == n)
    assert(math.abs(mu * 1e2 - r.getAs[Long]("mu_e2")) <= 1)
    assert(math.abs(beta * 1e2 - r.getAs[Long]("beta_e2")) <= 1)
    assert(math.abs(rl * 1e2 - r.getAs[Long]("return_level_99_e2")) <= 1)
  }

  test("q344 JT statistic matches naive ordered-pair counting") {
    QuerySpec.prepared(spark, sfDir)
    val docs = spark.sql(
      """SELECT CASE WHEN n_chars < 150 THEN 1 WHEN n_chars < 300 THEN 2
        |            WHEN n_chars < 450 THEN 3 ELSE 4 END AS g,
        |       size(array_distinct(split(text, ' '))) AS y
        |FROM documents""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getInt(1).toLong))
    val groups = docs.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val ordered = groups.keys.toSeq.sorted
    val j2 = (for {
      ai <- ordered.indices; bi <- ai + 1 until ordered.size
      x <- groups(ordered(ai)); yv <- groups(ordered(bi))
    } yield if (x < yv) 2L else if (x == yv) 1L else 0L).sum
    val n = docs.length.toLong
    val us = ordered.map(g => groups(g).length.toLong)
    val tsizes = docs.map(_._2).groupBy(identity).values.map(_.length.toLong)
    val e2 = (n.toDouble * n - us.map(u => u.toDouble * u).sum) / 2.0
    val a = n.toDouble * (n - 1) * (2 * n + 5) -
      us.map(u => u.toDouble * (u - 1) * (2 * u + 5)).sum -
      tsizes.map(t => t.toDouble * (t - 1) * (2 * t + 5)).sum
    val b = us.map(u => u.toDouble * (u - 1) * (u - 2)).sum *
      tsizes.map(t => t.toDouble * (t - 1) * (t - 2)).sum
    val c = us.map(u => u.toDouble * (u - 1)).sum *
      tsizes.map(t => t.toDouble * (t - 1)).sum
    val v = a / 72.0 + b / (36.0 * n * (n - 1) * (n - 2)) + c / (8.0 * n * (n - 1))
    val z = (j2 - 2 * e2) / (2.0 * math.sqrt(v))
    val r = rows(llmops.QualityEval.q344JonckheereTerpstra).head
    assert(r.getAs[Long]("n_docs") == n)
    assert(r.getAs[Long]("jt_stat") == math.round(j2 / 2.0))
    assert(math.abs(z * 1e6 - r.getAs[Long]("z_e6")) <= 2, s"z=$z")
  }

  test("q345 decile lift matches a direct tie-block assignment") {
    QuerySpec.prepared(spark, sfDir)
    val docs = spark.table("documents").select("n_chars", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1) == "en"))
    val n = docs.length; val p = docs.count(_._2)
    // whole tie blocks by descending score; decile = ceil(10*cumThrough/n)
    val blocks = docs.groupBy(_._1).toSeq.sortBy(-_._1)
    var cum = 0L
    val assigned = blocks.map { case (_, xs) =>
      cum += xs.length
      (math.ceil(10.0 * cum / n).toLong, xs.length.toLong, xs.count(_._2).toLong)
    }
    val byDec = assigned.groupBy(_._1).view
      .mapValues(v => (v.map(_._2).sum, v.map(_._3).sum)).toMap
    val rs = rows(llmops.QualityEval.q345DecileLift)
    assert(rs.map(_.getAs[Long]("n_docs")).sum == n)
    assert(rs.map(_.getAs[Long]("n_pos")).sum == p)
    var cumPos = 0L
    for (r <- rs) {
      val d = r.getAs[Long]("decile")
      val (nd, pd) = byDec(d)
      assert(r.getAs[Long]("n_docs") == nd && r.getAs[Long]("n_pos") == pd, s"d=$d")
      val lift = (pd.toDouble / nd) / (p.toDouble / n)
      assert(math.abs(lift * 1e6 - r.getAs[Long]("lift_e6")) <= 1)
      cumPos += pd
      assert(math.abs(cumPos.toDouble / p * 1e6 - r.getAs[Long]("cum_gain_e6")) <= 1)
    }
  }

  test("q346 Kendall W matches a direct midrank computation") {
    val xs = docScores()
    val n = xs.length
    def midranks(v: Seq[Double]): Map[Double, Double] = {
      val sorted = v.sorted
      v.distinct.map(x => x ->
        (sorted.count(_ < x) + (sorted.count(_ == x) + 1) / 2.0)).toMap
    }
    val items = Seq(xs.map(_._1).toSeq, xs.map(_._2).toSeq, xs.map(_._3).toSeq)
    val mrs = items.map(midranks)
    val rSums = xs.map(t =>
      mrs(0)(t._1) + mrs(1)(t._2) + mrs(2)(t._3))
    val mean = 3.0 * (n + 1) / 2
    val s = rSums.map(r => (r - mean) * (r - mean)).sum
    val tsum = items.map(v => v.groupBy(identity).values
      .map(g => g.size.toDouble * g.size * g.size - g.size).sum).sum
    val w = 12.0 * s / (9.0 * (n.toDouble * n * n - n) - 3.0 * tsum)
    val r = rows(llmops.QualityEval.q346KendallW).head
    assert(r.getAs[Long]("n_docs") == n)
    assert(math.abs(w * 1e6 - r.getAs[Long]("w_e6")) <= 2, s"w=$w")
    assert(math.abs(3.0 * (n - 1) * w * 1e6 - r.getAs[Long]("chi2_e6")) <= 5)
  }

  test("q347 Page L matches literal within-block midranks and j-weights") {
    QuerySpec.prepared(spark, sfDir)
    val cells = spark.sql(
      """SELECT CAST(ts AS DATE) AS day, event_type,
        |       SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s
        |FROM events GROUP BY 1, 2""".stripMargin)
      .collect().map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2)))
    val k = cells.map(_._2).distinct.length
    val order = cells.map(_._2).distinct.sorted.zipWithIndex
      .map { case (g, i) => g -> (i + 1) }.toMap
    val blocks = cells.groupBy(_._1).filter(_._2.length == k)
    val n = blocks.size
    val rSums = blocks.values.flatMap { day =>
      val sorted = day.map(_._3).sorted
      day.map { case (_, g, s) =>
        g -> (sorted.count(_ < s) + (sorted.count(_ == s) + 1) / 2.0) }
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val l = rSums.map { case (g, r) => order(g) * r }.sum
    val z = (l - n.toDouble * k * (k + 1) * (k + 1) / 4.0) /
      math.sqrt(n.toDouble * k * k * (k + 1) * (k + 1) * (k - 1) / 144.0)
    val r = rows(operators.Events.q347PageTrend).head
    assert(r.getAs[Long]("n_blocks") == n && r.getAs[Long]("k_treatments") == k)
    assert(math.abs(l * 1e2 - r.getAs[Long]("page_l_e2")) <= 1, s"L=$l")
    assert(math.abs(z * 1e6 - r.getAs[Long]("z_e6")) <= 2, s"z=$z")
  }

  test("q321 diversity indices match direct per-language computation") {
    QuerySpec.prepared(spark, sfDir)
    val docs = spark.sql("SELECT lang, source FROM documents")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val rs = rows(llmops.CorpusStats.q321SourceDiversity)
    for (r <- rs) {
      val lang = r.getAs[String]("lang")
      val counts = docs.filter(_._1 == lang).groupBy(_._2).values.map(_.length.toLong)
      val n = counts.sum
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("n_sources") == counts.size)
      val simpson = 1.0 - counts.map(c => c.toDouble * (c - 1)).sum / (n.toDouble * (n - 1))
      val h = -counts.map(c => c.toDouble / n * math.log(c.toDouble / n)).sum
      assert(math.abs(simpson * 1e6 - r.getAs[Long]("simpson_div_e6")) <= 1)
      assert(math.abs(h * 1e6 - r.getAs[Long]("shannon_e6")) <= 1)
      assert(math.abs(math.exp(h) * 1e6 - r.getAs[Long]("effective_sources_e6")) <= 2)
    }
  }
}
