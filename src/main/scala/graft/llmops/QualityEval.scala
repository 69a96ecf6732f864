package graft.llmops

import graft.QuerySpec
import org.apache.spark.sql.functions._

/** Classifier- and corpus-evaluation statistics — the measurement layer a
  * curation pipeline needs the moment it starts TRUSTING heuristic
  * signals: how discriminative is a quality score (ROC AUC), how much do
  * two cheap labelers agree beyond chance (Cohen's kappa), how
  * concentrated is the token distribution (Gini/Lorenz), is the
  * score↔signal relation monotone (Spearman), and which tokens actually
  * distinguish two sources (Monroe-style weighted log-odds). §8.4
  * build-brief extensions; no reference analogue.
  *
  * Scale design: every operator collapses the corpus to a bounded
  * relation FIRST — the score-cardinality relation for AUC (|scores|
  * rows), the 2×2 table for kappa, the vocab relation for Gini and
  * log-odds — and all heavy sums are partial-aggregable exact-integer
  * rollups. Nothing here windows over the raw corpus.
  *
  * Determinism (house rules): ratios of exact integers divided once;
  * double trees are fixed-shape; micro-unit (…_e6) BIGINT outputs; any
  * sum OF doubles accumulates via DECIMAL(27,18) casts (q184 rule);
  * every rank/top-k carries a total tie order on already-rounded keys. */
object QualityEval {

  /** ROC AUC of a quality score (n_chars) against a weak binary label
    * (lang = 'en') — the one-number answer to "does this cheap score
    * actually separate the class I care about?". Computed RANK-FREE on
    * the collapsed score-cardinality relation: for score s with n1(s)
    * positives and n0(s) negatives, the Mann-Whitney pair count is
    * Σ n1(s)·(2·#neg_below(s) + n0(s)) / 2 — ties contribute the
    * half-credit term exactly, and the whole statistic is exact INTEGER
    * arithmetic until the single final division. The running negative
    * count is a window over the |scores|-sized relation, never the
    * corpus. Gini index = 2·AUC − 1 reported alongside. */
  val q278QualityRocAuc: QuerySpec = QuerySpec.sql(
    "q278_quality_roc_auc",
    """WITH d AS (SELECT n_chars AS score,
      |             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |           FROM documents),
      |sc AS (SELECT score, SUM(y) AS n1, COUNT(*) - SUM(y) AS n0
      |       FROM d GROUP BY score),
      |c AS (SELECT score, n1, n0,
      |        COALESCE(SUM(n0) OVER (ORDER BY score
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lt0
      |      FROM sc),
      |m AS (SELECT CAST(SUM(n1) AS BIGINT) AS np, CAST(SUM(n0) AS BIGINT) AS nn,
      |        CAST(SUM(n1 * (2 * lt0 + n0)) AS BIGINT) AS num2
      |      FROM c)
      |SELECT np AS n_pos, nn AS n_neg,
      |  CAST(ROUND(num2 * 1e6 / (2.0 * CAST(np AS DOUBLE) * nn)) AS BIGINT) AS auc_e6,
      |  CAST(ROUND((num2 / (CAST(np AS DOUBLE) * nn) - 1.0) * 1e6) AS BIGINT) AS gini_e6
      |FROM m""".stripMargin)

  /** Cohen's kappa between two heuristic binary labelers (length-based
    * and token-count-based quality flags) — the agreement-beyond-chance
    * number that decides whether a second cheap signal adds information
    * or just repeats the first. The corpus collapses to the 2×2
    * contingency table in one rollup; the cells stay exact integers,
    * and kappa's n²-scaled closed form
    * κ = (n·(n11+n00) − (ra·cb + (n−ra)·(n−cb))) / (n² − (…))
    * keeps num and den EXACT integer algebra until the single final
    * division (the q299 contract): n² ≈ 10¹⁹ at 3·10⁹ docs wraps
    * BIGINT, but every product of two ≤n cells fits DECIMAL(38,0)
    * (Spark) / HUGEINT (DuckDB) until n ≈ 10¹⁸ — no DOUBLE
    * cancellation argument needed. */
  val q279ClassifierKappa: QuerySpec = {
    def text(spark: Boolean): String = {
      val words =
        if (spark) "size(split(text, ' '))" else "len(string_split(text, ' '))"
      val big = if (spark) "DECIMAL(38,0)" else "HUGEINT"
      s"""WITH d AS (SELECT
         |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
         |    CASE WHEN $words >= 55 THEN 1 ELSE 0 END AS b
         |  FROM documents),
         |t AS (SELECT COUNT(*) AS n,
         |        CAST(SUM(a * b) AS BIGINT) AS n11,
         |        CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
         |        CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
         |        CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
         |      FROM d),
         |k AS (SELECT n11, n10, n01, n00, n,
         |        CAST(CAST(n AS $big) * (n11 + n00)
         |             - (CAST(n11 + n10 AS $big) * (n11 + n01)
         |                + CAST(n01 + n00 AS $big) * (n10 + n00)) AS $big) AS num,
         |        CAST(CAST(n AS $big) * n
         |             - (CAST(n11 + n10 AS $big) * (n11 + n01)
         |                + CAST(n01 + n00 AS $big) * (n10 + n00)) AS $big) AS den
         |      FROM t)
         |SELECT n11, n10, n01, n00,
         |  CAST(ROUND((n11 + n00) * 1e6 / n) AS BIGINT) AS agreement_e6,
         |  CAST(ROUND(CAST(num AS DOUBLE) * 1e6 / CAST(den AS DOUBLE)) AS BIGINT)
         |    AS kappa_e6
         |FROM k""".stripMargin
    }
    QuerySpec.sql2("q279_classifier_kappa", text(spark = true), text(spark = false))
  }

  /** Gini coefficient of the token-frequency distribution plus the
    * Lorenz top-1%-vocab token share — the inequality view of
    * [[CorpusStats.q235ZipfFit]]'s scaling law (a boilerplate-heavy
    * corpus concentrates mass in few types; Gini surfaces it without
    * fitting anything). Both numbers are exact-integer functions of the
    * COUNT-MULTIPLICITY relation (distinct count values c with their
    * multiplicities m — ≪ vocab, let alone corpus): Gini's sorted-rank
    * identity 2·Σ rank·c = Σ_blocks c·(2·m·lo + m² + m) because a block
    * of m equal counts occupies the contiguous rank range
    * (lo, lo+m] regardless of tie order (Gini is tie-invariant — equal
    * c contributes the same Σ rank·c under any permutation), and the
    * Lorenz top-1%-of-vocab cut takes LEAST(m, k − hi) whole-or-partial
    * blocks off the descending end the same way. No per-vocab-row rank
    * ever materializes: the only windows are running sums over the
    * count-multiplicity relation itself (a web-scale vocab has ~10⁴
    * distinct count values, not 10⁸ rows — the r12 single-task
    * vocab-grain ROW_NUMBER is gone). All integer algebra, DECIMAL(38,0)
    * headroom on the rank-weighted sum, one division at the end. */
  val q281TokenGini: QuerySpec = {
    def text(spark: Boolean): String = {
      val words =
        if (spark) "SELECT explode(split(text, ' ')) AS word FROM documents"
        else "SELECT unnest(string_split(text, ' ')) AS word FROM documents"
      s"""WITH c AS (SELECT word, COUNT(*) AS c FROM ($words) w GROUP BY word),
         |g AS (SELECT c, COUNT(*) AS m FROM c GROUP BY c),
         |w AS (SELECT c, m,
         |        COALESCE(SUM(m) OVER (ORDER BY c
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo,
         |        COALESCE(SUM(m) OVER (ORDER BY c DESC
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS hi
         |      FROM g),
         |tot AS (SELECT CAST(SUM(m) AS BIGINT) AS v,
         |          CAST(SUM(m * c) AS BIGINT) AS t
         |        FROM g),
         |m AS (SELECT
         |        SUM(CAST(c AS DECIMAL(38,0)) * (2 * m * lo + m * m + m)) AS s2,
         |        CAST(SUM(c * LEAST(m, GREATEST(CAST(0 AS BIGINT),
         |               CAST(CEIL(v / 100.0) AS BIGINT) - hi))) AS BIGINT) AS top1
         |      FROM w CROSS JOIN tot)
         |SELECT tot.v AS vocab, tot.t AS tokens,
         |  CAST(ROUND((CAST(s2 AS DOUBLE) / (CAST(tot.v AS DOUBLE) * tot.t) - (CAST(tot.v AS DOUBLE) + 1.0) / tot.v) * 1e6) AS BIGINT)
         |    AS gini_e6,
         |  CAST(ROUND(top1 * 1e6 / CAST(tot.t AS DOUBLE)) AS BIGINT) AS top1pct_share_e6
         |FROM m CROSS JOIN tot""".stripMargin
    }
    QuerySpec.sql2("q281_token_gini", text(spark = true), text(spark = false))
  }

  /** Spearman rank correlation between document length (n_chars) and
    * lexical diversity (distinct-token count) — the monotone-relation
    * check Pearson (q247 family) can't give: rank first, then correlate.
    * Average-rank tie handling is exact and COLLAPSE-FIRST, the q278
    * pattern: the corpus reduces to the joint (x, y, cnt) cell relation
    * in one rollup, each marginal's average rank is
    * below-count + (tie-block + 1)/2 — a running sum over the
    * VALUE-cardinality marginal relation (|distinct x| rows, never the
    * corpus; the r12 single-task corpus-grain RANK() is gone) — and the
    * cells join their two marginal ranks back (both marginals are
    * value-cardinality, broadcast-sized at any realistic scale). Rank
    * halves are integers or integer halves — exactly representable
    * doubles; the cnt-weighted rank products accumulate via
    * DECIMAL(27,18) casts and ρ is one fixed DOUBLE tree (the
    * rank-moment identity replaces the O(n²) concordance count). */
  val q282SpearmanCorr: QuerySpec = {
    def text(spark: Boolean): String = {
      val dw =
        if (spark) "size(array_distinct(split(text, ' ')))"
        else "len(list_distinct(string_split(text, ' ')))"
      s"""WITH d AS (SELECT n_chars AS x, $dw AS y FROM documents),
         |j AS (SELECT x, y, COUNT(*) AS cnt FROM d GROUP BY x, y),
         |mx AS (SELECT x, CAST(SUM(cnt) AS BIGINT) AS cx
         |       FROM j GROUP BY x),
         |mxr AS (SELECT x,
         |          COALESCE(SUM(cx) OVER (ORDER BY x
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          + (cx + 1) / 2.0 AS rx
         |        FROM mx),
         |my AS (SELECT y, CAST(SUM(cnt) AS BIGINT) AS cy
         |       FROM j GROUP BY y),
         |myr AS (SELECT y,
         |          COALESCE(SUM(cy) OVER (ORDER BY y
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          + (cy + 1) / 2.0 AS ry
         |        FROM my),
         |r AS (SELECT j.cnt, mxr.rx, myr.ry
         |      FROM j JOIN mxr ON j.x = mxr.x JOIN myr ON j.y = myr.y),
         |m AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
         |        CAST(SUM(CAST(cnt * rx AS DECIMAL(27,18))) AS DOUBLE) AS sx,
         |        CAST(SUM(CAST(cnt * ry AS DECIMAL(27,18))) AS DOUBLE) AS sy,
         |        CAST(SUM(CAST(cnt * rx * ry AS DECIMAL(27,18))) AS DOUBLE) AS sxy,
         |        CAST(SUM(CAST(cnt * rx * rx AS DECIMAL(27,18))) AS DOUBLE) AS sx2,
         |        CAST(SUM(CAST(cnt * ry * ry AS DECIMAL(27,18))) AS DOUBLE) AS sy2
         |      FROM r)
         |SELECT CAST(n AS BIGINT) AS n_docs,
         |  CAST(ROUND((n * sxy - sx * sy)
         |    / SQRT((n * sx2 - sx * sx) * (n * sy2 - sy * sy)) * 1e6) AS BIGINT)
         |    AS spearman_e6
         |FROM m""".stripMargin
    }
    QuerySpec.sql2("q282_spearman_corr", text(spark = true), text(spark = false))
  }

  /** Monroe-style weighted log-odds (uniform +1 Dirichlet prior) of
    * tokens between two sources — "which words make src0 sound like
    * src0?", the principled replacement for raw frequency ratios (the
    * variance term 1/(y1+α) + 1/(y2+α) shrinks rare-word noise). The
    * token stream collapses to the vocab-sized (word, y1, y2) relation
    * in one scan; δ and its z-score are fixed DOUBLE trees over exact
    * integers; the two top-5 picks rank the ROUNDED z (total
    * (z_e6, word) order — a float ulp can't flap the cut). Each side's
    * pick is its OWN rank-filtered window (rn ≤ 5 → partial+final
    * WindowGroupLimit, map-side bounded) — the r12 single window with
    * an OR of two rank filters defeated the group-limit pushdown and
    * ranked the whole vocab in one task. */
  val q287LogOddsTokens: QuerySpec = {
    // shared tail over the (word, y1, y2) relation `q287_c`: totals, z,
    // and the two independently rank-filtered top-5 picks
    val tail =
      """WITH t AS (SELECT CAST(SUM(y1) AS BIGINT) AS n1, CAST(SUM(y2) AS BIGINT) AS n2,
        |        COUNT(*) AS v
        |      FROM q287_c),
        |z AS (SELECT word, y1, y2,
        |        CAST(ROUND((LN((CAST(y1 AS DOUBLE) + 1.0) / (CAST(n1 AS DOUBLE) + v - y1 - 1.0))
        |                  - LN((CAST(y2 AS DOUBLE) + 1.0) / (CAST(n2 AS DOUBLE) + v - y2 - 1.0)))
        |          / SQRT(1.0 / CAST(y1 + 1 AS DOUBLE) + 1.0 / CAST(y2 + 1 AS DOUBLE)) * 1e6) AS BIGINT) AS z_e6
        |      FROM q287_c CROSS JOIN t),
        |top AS (SELECT word, y1, y2, z_e6 FROM (
        |          SELECT word, y1, y2, z_e6,
        |            ROW_NUMBER() OVER (ORDER BY z_e6 DESC, word) AS rn
        |          FROM z) tt WHERE rn <= 5),
        |bot AS (SELECT word, y1, y2, z_e6 FROM (
        |          SELECT word, y1, y2, z_e6,
        |            ROW_NUMBER() OVER (ORDER BY z_e6, word) AS rn
        |          FROM z) tb WHERE rn <= 5)
        |SELECT side, word, y1, y2, z_e6 FROM (
        |  SELECT 'src0' AS side, word, y1, y2, z_e6 FROM top
        |  UNION ALL
        |  SELECT 'src1' AS side, word, y1, y2, z_e6 FROM bot) u
        |ORDER BY side, z_e6 DESC, word""".stripMargin
    val oracleText =
      """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word
        |           FROM documents WHERE source IN ('src0', 'src1')),
        |q287_c AS (SELECT word,
        |        CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS y1,
        |        CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS y2
        |      FROM w GROUP BY word),
        |""".stripMargin + tail.stripPrefix("WITH ")
    QuerySpec("q287_log_odds_tokens", oracleText) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      import graft.llmops.Checkpoints.Stageable
      // the vocab rollup feeds the totals, the z relation, AND two ranked
      // picks — stage it once so Spark's CTE inlining can't re-explode
      // the corpus per consumer
      sp.table("documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
        .groupBy("word")
        .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).cast("long").as("y1"),
          sum(when(col("source") === "src1", 1L).otherwise(0L)).cast("long").as("y2"))
        .staged
        .createOrReplaceTempView("q287_c")
      sp.sql(tail)
    }
  }

  /** Trapezoidal precision-recall AUC of the same score/label pair as
    * [[q278QualityRocAuc]] — the curve that matters under class
    * imbalance (ROC AUC stays rosy when negatives dominate; PR AUC
    * does not). Cuts are the DISTINCT score values descending (every
    * achievable operating point, no sampling); P/R at each cut are
    * exact-integer ratios off running sums over the score-cardinality
    * relation; the trapezoid terms are fixed DOUBLE trees accumulated
    * via DECIMAL(27,18). The (0-recall, first-precision) anchor makes
    * the leading trapezoid explicit rather than a convention. */
  val q288PrAuc: QuerySpec = QuerySpec.sql(
    "q288_pr_auc",
    """WITH d AS (SELECT n_chars AS score,
      |             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |           FROM documents),
      |sc AS (SELECT score, SUM(y) AS p1, COUNT(*) AS cnt
      |       FROM d GROUP BY score),
      |c AS (SELECT score,
      |        CAST(SUM(p1) OVER (ORDER BY score DESC) AS BIGINT) AS cum_p,
      |        CAST(SUM(cnt) OVER (ORDER BY score DESC) AS BIGINT) AS cum,
      |        CAST(SUM(p1) OVER () AS BIGINT) AS np
      |      FROM sc),
      |t AS (SELECT
      |        CAST(cum_p AS DOUBLE) / np AS r, CAST(cum_p AS DOUBLE) / cum AS p,
      |        LAG(CAST(cum_p AS DOUBLE) / np, 1, 0.0) OVER (ORDER BY score DESC) AS r0,
      |        LAG(CAST(cum_p AS DOUBLE) / cum, 1) OVER (ORDER BY score DESC) AS p0
      |      FROM c),
      |m AS (SELECT CAST(SUM(CAST((r - r0) * (p + COALESCE(p0, p)) / 2
      |               AS DECIMAL(27,18))) AS DOUBLE) AS auc_pr
      |      FROM t)
      |SELECT CAST(ROUND(auc_pr * 1e6) AS BIGINT) AS pr_auc_e6
      |FROM m""".stripMargin)

  /** Calibration audit of a score-derived probability against the weak
    * label: 10-bin expected calibration error (ECE), maximum
    * calibration error (MCE), and the Brier score. The "probability"
    * is the score min-max squashed to [0,1] — a fixed arithmetic tree
    * over exact integers, so both engines bin IDENTICAL doubles (no
    * boundary-ulp flap); the per-bin confidence/accuracy gap weights by
    * exact bin counts, and every double sum goes through DECIMAL(27,18).
    * The corpus collapses to the score relation before any of it. */
  val q289CalibrationEce: QuerySpec = QuerySpec.sql(
    "q289_calibration_ece",
    """WITH d AS (SELECT n_chars AS score,
      |             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |           FROM documents),
      |sc AS (SELECT score, CAST(SUM(y) AS BIGINT) AS p1,
      |         CAST(COUNT(*) AS BIGINT) AS cnt
      |       FROM d GROUP BY score),
      |mm AS (SELECT MIN(score) AS lo, MAX(score) AS hi FROM sc),
      |pb AS (SELECT p1, cnt,
      |         CAST(score - lo AS DOUBLE) / (hi - lo) AS prob,
      |         CAST(LEAST(FLOOR(10.0 * CAST(score - lo AS DOUBLE) / (hi - lo)), 9) AS INT) AS bin
      |       FROM sc CROSS JOIN mm),
      |b AS (SELECT bin, CAST(SUM(cnt) AS BIGINT) AS n,
      |        CAST(SUM(p1) AS BIGINT) AS pos,
      |        CAST(SUM(CAST(prob * cnt AS DECIMAL(27,18))) AS DOUBLE) AS sprob,
      |        CAST(SUM(CAST((prob * prob * cnt - 2 * prob * p1) AS DECIMAL(27,18)))
      |          AS DOUBLE) AS brier_part
      |      FROM pb GROUP BY bin),
      |m AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
      |        CAST(SUM(CAST(ABS(sprob - pos) AS DECIMAL(27,18))) AS DOUBLE) AS ece_num,
      |        MAX(ABS(sprob / n - CAST(pos AS DOUBLE) / n)) AS mce,
      |        CAST(SUM(CAST(brier_part AS DECIMAL(27,18))) AS DOUBLE)
      |          + CAST(SUM(pos) AS DOUBLE) AS brier_num,
      |        COUNT(*) AS n_bins
      |      FROM b)
      |SELECT CAST(n_bins AS BIGINT) AS n_bins,
      |  CAST(ROUND(ece_num / nn * 1e6) AS BIGINT) AS ece_e6,
      |  CAST(ROUND(mce * 1e6) AS BIGINT) AS mce_e6,
      |  CAST(ROUND(brier_num / nn * 1e6) AS BIGINT) AS brier_e6
      |FROM m""".stripMargin)

  /** Rank-biased overlap (Webber et al., p = 0.9, depth 50) between
    * the two quality rankings (by n_chars vs by lexical diversity) —
    * the top-weighted ranking-agreement number Spearman (whole-list,
    * unweighted) can't give: RBO asks "do the lists agree where it
    * matters, at the top?". The overlap-at-k curve needs no per-depth
    * set intersection: an item is in both top-k prefixes iff
    * max(rank_a, rank_b) ≤ k, so ov(k) is a running count over the
    * m = GREATEST(ra, rb) relation — one join of the 50-row depth grid
    * against the ≤depth m-distribution. Ranks are total-ordered
    * ROW_NUMBERs (ties pinned by doc_id); the geometric weights are
    * fixed POWER doubles accumulated via DECIMAL(27,18). Reported as
    * truncated RBO@50 (no extrapolation) plus overlap at 10 and 50. */
  val q290RankRbo: QuerySpec = {
    // tail over the doc-grain relation `q290_d(doc_id, xa, xb)`: each
    // ranking is its OWN rank-filtered top-50 window (partial+final
    // WindowGroupLimit — the r12 version computed both ranks in one
    // window relation, whose AND-of-two-rank-filters defeated the
    // group-limit pushdown and sorted the corpus in one task); the
    // ra≤50 ∧ rb≤50 set is exactly the inner join of the two top-50s
    def tail(spark: Boolean): String = {
      val depths =
        if (spark) "SELECT explode(sequence(1, 50)) AS k"
        else "SELECT CAST(unnest(range(1, 51)) AS INT) AS k"
      s"""WITH ra AS (SELECT doc_id, rk AS ra FROM (
         |       SELECT doc_id, ROW_NUMBER() OVER (ORDER BY xa DESC, doc_id) AS rk
         |       FROM q290_d) t WHERE rk <= 50),
         |rb AS (SELECT doc_id, rk AS rb FROM (
         |       SELECT doc_id, ROW_NUMBER() OVER (ORDER BY xb DESC, doc_id) AS rk
         |       FROM q290_d) t WHERE rk <= 50),
         |mrel AS (SELECT GREATEST(ra.ra, rb.rb) AS m
         |         FROM ra JOIN rb ON ra.doc_id = rb.doc_id),
         |ks AS ($depths),
         |ov AS (SELECT ks.k, COUNT(mrel.m) AS ov
         |       FROM ks LEFT JOIN mrel ON mrel.m <= ks.k
         |       GROUP BY ks.k),
         |m AS (SELECT
         |        CAST(SUM(CAST(POWER(0.9, k - 1) * ov / k AS DECIMAL(27,18)))
         |          AS DOUBLE) AS wsum,
         |        CAST(MAX(CASE WHEN k = 10 THEN ov END) AS BIGINT) AS ov10,
         |        CAST(MAX(CASE WHEN k = 50 THEN ov END) AS BIGINT) AS ov50
         |      FROM ov)
         |SELECT CAST(ROUND(wsum * (1.0 - 0.9) / (1.0 - POWER(0.9, 50)) * 1e6)
         |    AS BIGINT) AS rbo50_e6,
         |  ov10 AS overlap_at_10, ov50 AS overlap_at_50
         |FROM m""".stripMargin
    }
    val oracleText =
      """WITH q290_d AS (SELECT doc_id, n_chars AS xa,
        |                  len(list_distinct(string_split(text, ' '))) AS xb
        |                FROM documents),
        |""".stripMargin + tail(spark = false).stripPrefix("WITH ")
    QuerySpec("q290_rank_rbo", oracleText) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      import graft.llmops.Checkpoints.Stageable
      // both rankings consume the doc relation: stage it once
      sp.table("documents")
        .select(col("doc_id"), col("n_chars").as("xa"),
          size(array_distinct(split(col("text"), " "))).as("xb"))
        .staged
        .createOrReplaceTempView("q290_d")
      sp.sql(tail(spark = true))
    }
  }

  /** Cochran's Q across THREE binary quality flags on the same documents
    * (length, token-count, function-word) — "do the cheap pass/fail
    * heuristics fire at the same RATE?", the k-treatment extension of
    * [[graft.llmops.TextAnalysis]]'s q315 McNemar (k = 2). With k = 3
    * the per-doc information is just the flag triple, so the corpus
    * collapses in ONE rollup to the three column totals plus the
    * row-sum distribution Σr and Σr² (r ∈ 0..3) — Q = (k−1)·(k·ΣC_j² −
    * (ΣC_j)²) / (k·Σr − Σr²) is exact integer arithmetic until the one
    * division, DECIMAL(38,0) headroom on the squared totals (C² ~ 10¹⁸
    * at web scale squares past BIGINT). Degenerate corpora (every doc
    * all-pass or all-fail ⇒ zero denominator) report NULL. */
  val q324CochranQ: QuerySpec = {
    def text(spark: Boolean): String = {
      val words =
        if (spark) "size(split(text, ' '))" else "len(string_split(text, ' '))"
      s"""WITH d AS (SELECT
         |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS fa,
         |    CASE WHEN $words >= 55 THEN 1 ELSE 0 END AS fb,
         |    CASE WHEN text LIKE '% the %' THEN 1 ELSE 0 END AS fc
         |  FROM documents),
         |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |        CAST(SUM(fa) AS BIGINT) AS ca,
         |        CAST(SUM(fb) AS BIGINT) AS cb,
         |        CAST(SUM(fc) AS BIGINT) AS cc,
         |        CAST(SUM(fa + fb + fc) AS BIGINT) AS rsum,
         |        CAST(SUM((fa + fb + fc) * (fa + fb + fc)) AS BIGINT) AS rsq
         |      FROM d)
         |SELECT n AS n_docs, ca AS pass_len, cb AS pass_tok, cc AS pass_fn,
         |  CASE WHEN 3 * rsum - rsq = 0 THEN CAST(NULL AS BIGINT)
         |       ELSE CAST(ROUND(2.0
         |         * CAST(3 * (CAST(ca AS DECIMAL(38,0)) * ca
         |                     + CAST(cb AS DECIMAL(38,0)) * cb
         |                     + CAST(cc AS DECIMAL(38,0)) * cc)
         |                 - CAST(rsum AS DECIMAL(38,0)) * rsum AS DOUBLE)
         |         / (3 * rsum - rsq) * 1e6) AS BIGINT) END AS q_e6
         |FROM t""".stripMargin
    }
    QuerySpec.sql2("q324_cochran_q", text(spark = true), text(spark = false))
  }

  /** Jonckheere-Terpstra test for a MONOTONE trend of lexical richness
    * (distinct-word count) across ORDERED length bands — the ordered-
    * alternative test [[graft.operators.Events.q318KruskalWallis]]
    * can't express (KW asks "any difference?"; JT asks "does y RISE
    * with the band?" and spends its power only on that ordering).
    * 2·J = Σ over the dense (value, band) grid of
    * cnt·(2·Σ_{a<band} cum_a(<y) + Σ_{a<band} cnt_a(y)) — ties get
    * exact half credit, every term integer. The grid is value-
    * cardinality × 4 (distinct-word counts are bounded), per-band
    * running sums are PARTITIONED windows over it, and the cross-band
    * prefix is a ≤4-row window per value. The tie-corrected
    * Hollander-Wolfe variance (A/72 + B/… + C/…) is exact integer
    * algebra with DECIMAL(38,0) cube headroom. Degenerate variance ⇒
    * NULL. */
  val q344JonckheereTerpstra: QuerySpec = {
    def text(spark: Boolean): String = {
      s"""WITH ys AS (SELECT DISTINCT y FROM q344_v),
         |gs AS (SELECT DISTINCT g FROM q344_v),
         |grid AS (SELECT ys.y, gs.g, COALESCE(v.cnt, 0) AS cnt
         |         FROM ys CROSS JOIN gs
         |         LEFT JOIN q344_v v ON v.y = ys.y AND v.g = gs.g),
         |w AS (SELECT y, g, cnt,
         |        COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY y
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumlt
         |      FROM grid),
         |z AS (SELECT y, g, cnt,
         |        COALESCE(SUM(cumlt) OVER (PARTITION BY y ORDER BY g
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lowlt,
         |        COALESCE(SUM(cnt) OVER (PARTITION BY y ORDER BY g
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS loweq
         |      FROM w),
         |j AS (SELECT CAST(SUM(CAST(cnt AS DECIMAL(38,0)) * (2 * lowlt + loweq))
         |          AS DECIMAL(38,0)) AS j2 FROM z),
         |ug AS (SELECT CAST(SUM(cnt) AS BIGINT) AS u FROM q344_v GROUP BY g),
         |us AS (SELECT CAST(SUM(u) AS BIGINT) AS n, COUNT(*) AS k,
         |         CAST(SUM(CAST(u AS DECIMAL(38,0)) * u) AS DECIMAL(38,0)) AS u2,
         |         CAST(SUM(CAST(u AS DECIMAL(38,0)) * (u - 1) * (2 * u + 5))
         |           AS DECIMAL(38,0)) AS ua,
         |         CAST(SUM(CAST(u AS DECIMAL(38,0)) * (u - 1) * (u - 2))
         |           AS DECIMAL(38,0)) AS ub,
         |         CAST(SUM(CAST(u AS DECIMAL(38,0)) * (u - 1)) AS DECIMAL(38,0)) AS uc
         |       FROM ug),
         |tg AS (SELECT y, CAST(SUM(cnt) AS BIGINT) AS t FROM q344_v GROUP BY y),
         |ts AS (SELECT
         |         CAST(SUM(CAST(t AS DECIMAL(38,0)) * (t - 1) * (2 * t + 5))
         |           AS DECIMAL(38,0)) AS ta,
         |         CAST(SUM(CAST(t AS DECIMAL(38,0)) * (t - 1) * (t - 2))
         |           AS DECIMAL(38,0)) AS tb,
         |         CAST(SUM(CAST(t AS DECIMAL(38,0)) * (t - 1)) AS DECIMAL(38,0)) AS tc
         |       FROM tg),
         |s AS (SELECT us.n, us.k, j.j2,
         |        (CAST(us.n AS DOUBLE) * us.n - CAST(us.u2 AS DOUBLE)) / 2.0 AS e2,
         |        (CAST(us.n AS DOUBLE) * (us.n - 1) * (2 * us.n + 5)
         |         - CAST(us.ua AS DOUBLE) - CAST(ts.ta AS DOUBLE)) / 72.0
         |        + CAST(us.ub AS DOUBLE) * CAST(ts.tb AS DOUBLE)
         |          / (36.0 * us.n * (us.n - 1) * (us.n - 2))
         |        + CAST(us.uc AS DOUBLE) * CAST(ts.tc AS DOUBLE)
         |          / (8.0 * us.n * (us.n - 1)) AS var
         |      FROM us CROSS JOIN ts CROSS JOIN j)
         |SELECT CAST(n AS BIGINT) AS n_docs, CAST(k AS BIGINT) AS k_bands,
         |  CAST(ROUND(CAST(j2 AS DOUBLE) / 2) AS BIGINT) AS jt_stat,
         |  CASE WHEN var <= 0 THEN CAST(NULL AS BIGINT)
         |       ELSE CAST(ROUND((CAST(j2 AS DOUBLE) - 2 * e2)
         |         / (2.0 * SQRT(var)) * 1e6) AS BIGINT) END AS z_e6
         |FROM s""".stripMargin
    }
    // the (value, band, cnt) collapse feeds the grid, the group sizes and
    // the tie rollup: staged once (q290 pattern — inlined it re-scanned
    // and re-tokenized documents ~5x); the oracle keeps it as a CTE
    def vSql(spark: Boolean): String = {
      val dw =
        if (spark) "size(array_distinct(split(text, ' ')))"
        else "len(list_distinct(string_split(text, ' ')))"
      s"""SELECT y, g, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
         |  SELECT CASE WHEN n_chars < 150 THEN 1 WHEN n_chars < 300 THEN 2
         |              WHEN n_chars < 450 THEN 3 ELSE 4 END AS g,
         |         CAST($dw AS BIGINT) AS y
         |  FROM documents) d GROUP BY y, g""".stripMargin
    }
    QuerySpec("q344_jonckheere_terpstra",
      "WITH q344_v AS (" + vSql(spark = false).replace('\n', ' ') + "),\n" +
        text(spark = false).stripPrefix("WITH ")) { (sp0, dir) =>
      val sp = QuerySpec.prepared(sp0, dir)
      import graft.llmops.Checkpoints.Stageable
      sp.sql(vSql(spark = true)).staged.createOrReplaceTempView("q344_v")
      sp.sql(text(spark = true))
    }
  }

  /** Decile lift and cumulative-gains table for the length score
    * against the weak 'en' label — the campaign-targeting view of
    * [[q278QualityRocAuc]]'s one number: "if I take the top d deciles,
    * what fraction of positives do I capture, and at what lift over
    * random?" — the table a labeling-budget decision actually reads.
    * Deciles are EXACT on the score-cardinality relation (q232
    * machinery): descending running counts assign each whole tie block
    * the decile its cumulative rank lands in (CEIL(10·cum/n) — integer
    * arithmetic, no percent_rank float cuts), so a decile boundary
    * never splits equal scores. Per-decile and cumulative sums are
    * running windows over the ≤10-row rollup; everything exact until
    * the e6 ratios. */
  val q345DecileLift: QuerySpec = QuerySpec.sql(
    "q345_decile_lift",
    """WITH d AS (SELECT n_chars AS score,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
      |sc AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt,
      |         CAST(SUM(y) AS BIGINT) AS pos
      |       FROM d GROUP BY score),
      |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS p
      |      FROM sc),
      |w AS (SELECT /*+ BROADCAST(t) */ sc.score, sc.cnt, sc.pos, t.n, t.p,
      |        CAST(SUM(sc.cnt) OVER (ORDER BY sc.score DESC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |          AS cum
      |      FROM sc CROSS JOIN t),
      |b AS (SELECT CAST(CEIL(10.0 * cum / n) AS BIGINT) AS decile,
      |        cnt, pos, n, p FROM w),
      |g AS (SELECT decile, CAST(SUM(cnt) AS BIGINT) AS n_docs,
      |        CAST(SUM(pos) AS BIGINT) AS n_pos,
      |        MAX(n) AS n, MAX(p) AS p
      |      FROM b GROUP BY decile)
      |SELECT decile, n_docs, n_pos,
      |  CASE WHEN p = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(ROUND((CAST(n_pos AS DOUBLE) / n_docs)
      |         / (CAST(p AS DOUBLE) / n) * 1e6) AS BIGINT) END AS lift_e6,
      |  CASE WHEN p = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(ROUND(CAST(SUM(n_pos) OVER (ORDER BY decile
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |         / p * 1e6) AS BIGINT) END AS cum_gain_e6
      |FROM g ORDER BY decile""".stripMargin)

  /** Kendall's W coefficient of concordance across the three quality
    * rankings (length, token count, distinct tokens) — "do the cheap
    * scores RANK the corpus the same way?", the rank-space sibling of
    * q329's Cronbach (scale-free where α is scale-bound, m-ranking
    * where q316's τ is pairwise). Rank-free construction: each
    * ranking's midranks come from its own value-cardinality collapse
    * (the q282 Spearman machinery ×3 — running counts over bounded
    * score relations, never a corpus sort); docs join their three
    * midranks back (broadcast value relations), and doubling
    * (2R is integer even with .5 midranks) keeps
    * S = Σ(R−R̄)² = (Σ(2R − 3(n+1))²)/4 exact integer with
    * DECIMAL(38,0) headroom; tie correction T = Σ_raters Σ(t³−t).
    * W = 12S/(9(n³−n) − 3T), χ² = 3(n−1)·W alongside. */
  val q346KendallW: QuerySpec = {
    def text(spark: Boolean): String = {
      def rankCtes(i: Int) =
        s"""v$i AS (SELECT x$i AS x, CAST(COUNT(*) AS BIGINT) AS t FROM q346_d GROUP BY x$i),
           |r$i AS (SELECT x, t,
           |         2 * COALESCE(SUM(t) OVER (ORDER BY x
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |         + t + 1 AS mr2
           |       FROM v$i),
           |t$i AS (SELECT CAST(SUM(CAST(t AS DECIMAL(38,0)) * t * t - t)
           |           AS DECIMAL(38,0)) AS ts FROM v$i)""".stripMargin
      s"""WITH ${rankCtes(1)},
         |${rankCtes(2)},
         |${rankCtes(3)},
         |rr AS (SELECT d.doc_id, r1.mr2 + r2.mr2 + r3.mr2 AS r2sum
         |       FROM q346_d d JOIN r1 ON d.x1 = r1.x
         |       JOIN r2 ON d.x2 = r2.x JOIN r3 ON d.x3 = r3.x),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |        CAST(SUM(CAST(r2sum AS DECIMAL(38,0)) * r2sum)
         |          AS DECIMAL(38,0)) AS q2,
         |        CAST(SUM(r2sum) AS BIGINT) AS s2
         |      FROM rr),
         |f AS (SELECT m.n,
         |        (CAST(m.q2 AS DOUBLE) - 2.0 * (3.0 * (m.n + 1)) * m.s2
         |         + CAST(m.n AS DOUBLE) * (3.0 * (m.n + 1)) * (3.0 * (m.n + 1)))
         |          / 4.0 AS s,
         |        CAST(t1.ts AS DOUBLE) + CAST(t2.ts AS DOUBLE)
         |          + CAST(t3.ts AS DOUBLE) AS tsum
         |      FROM m CROSS JOIN t1 CROSS JOIN t2 CROSS JOIN t3)
         |SELECT CAST(n AS BIGINT) AS n_docs,
         |  CASE WHEN 9.0 * (CAST(n AS DOUBLE) * n * n - n) - 3.0 * tsum = 0
         |       THEN CAST(NULL AS BIGINT)
         |       ELSE CAST(ROUND(12.0 * s
         |         / (9.0 * (CAST(n AS DOUBLE) * n * n - n) - 3.0 * tsum) * 1e6)
         |         AS BIGINT) END AS w_e6,
         |  CASE WHEN 9.0 * (CAST(n AS DOUBLE) * n * n - n) - 3.0 * tsum = 0
         |       THEN CAST(NULL AS BIGINT)
         |       ELSE CAST(ROUND(3.0 * (n - 1) * 12.0 * s
         |         / (9.0 * (CAST(n AS DOUBLE) * n * n - n) - 3.0 * tsum) * 1e6)
         |         AS BIGINT) END AS chi2_e6
         |FROM f""".stripMargin
    }
    // the doc-score projection feeds the three value collapses AND the
    // midrank join-back: staged once (q290 pattern — inlined it re-scans
    // and re-tokenizes documents ~7x); the oracle keeps it as a CTE
    def dSql(spark: Boolean): String = {
      val words =
        if (spark) "size(split(text, ' '))" else "len(string_split(text, ' '))"
      val dw =
        if (spark) "size(array_distinct(split(text, ' ')))"
        else "len(list_distinct(string_split(text, ' ')))"
      s"""SELECT doc_id, CAST(n_chars AS BIGINT) AS x1,
         |  CAST($words AS BIGINT) AS x2, CAST($dw AS BIGINT) AS x3
         |FROM documents""".stripMargin
    }
    QuerySpec("q346_kendall_w",
      "WITH q346_d AS (" + dSql(spark = false).replace('\n', ' ') + "),\n" +
        text(spark = false).stripPrefix("WITH ")) { (sp0, dir) =>
      val sp = QuerySpec.prepared(sp0, dir)
      import graft.llmops.Checkpoints.Stageable
      sp.sql(dSql(spark = true)).staged.createOrReplaceTempView("q346_d")
      sp.sql(text(spark = true))
    }
  }

  val all: Seq[QuerySpec] =
    Seq(q278QualityRocAuc, q279ClassifierKappa, q281TokenGini,
      q282SpearmanCorr, q287LogOddsTokens, q288PrAuc, q289CalibrationEce,
      q290RankRbo, q324CochranQ, q344JonckheereTerpstra.benched, q345DecileLift,
      q346KendallW.benched)
}
