package graft.llmops

import graft.Dialect
import graft.llmops.Checkpoints.Stageable
import graft.QuerySpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level statistical quality signals — the measurement pass a
  * curation pipeline runs before choosing filters and mixing weights:
  * per-document repetition signals (the Gopher repetition filters, Rae
  * et al. 2021 §A1.1 — the strongest cheap predictor of degenerate
  * text), per-source lexical statistics (type-token ratio, hapax
  * fraction), and pairwise Jensen-Shannon divergence between source
  * unigram distributions (the distance that drives mixing/reweighting
  * decisions). §8.4 build-brief extensions; no reference analogue.
  *
  * Scale design: repetition signals are PURE MAP WORK (higher-order
  * array functions over each document's own n-grams — zero shuffle at
  * any corpus size); the lexical/divergence relations are vocab-sized
  * aggregates ((source, word) keyed — partial-aggregable, skew-bounded
  * by |vocab| · |sources|), and the divergence pair join runs on that
  * tiny relation, never on raw tokens. */
object CorpusStats {

  /** Per-document repetition signals (Gopher-style): duplicate word /
    * bigram instance fractions and top word / bigram concentration.
    * Every column is computed from the document's own token array with
    * higher-order functions — O(len²) within one row, zero shuffle, no
    * (doc, gram) relation ever materialized. Identity: the number of
    * instances of duplicated grams is (n − distinct) + #grams-with-c>1,
    * which needs no per-gram counting relation. Fractions surface as
    * integer micro-units (exact integer arithmetic → identical
    * rounding on both engines). */
  val q204GopherRepetition: QuerySpec = {
    def text(spark: Boolean): String = {
      val ws = Dialect.words(spark)
      // per array `a`: its length, distinct members, members that occur
      // more than once, and the most frequent member's count
      def counts(a: String, n: String): String = {
        val occ = Dialect.size(spark, Dialect.filter(spark, a, "x -> x = g"))
        val ds = Dialect.distinct(spark, a)
        s"""${Dialect.size(spark, a)} AS $n, ${Dialect.size(spark, ds)} AS d_$a,
           |    ${Dialect.size(spark, Dialect.filter(spark, ds, s"g -> $occ > 1"))} AS dup_$a,
           |    ${Dialect.arrayMax(spark, Dialect.transform(spark, ds, s"g -> $occ"))} AS top_$a""".stripMargin
      }
      val bgs =
        if (spark)
          "transform(sequence(0, size(split(text, ' ')) - 2), i -> concat_ws(' ', slice(split(text, ' '), i + 1, 2)))"
        else
          "list_transform(range(len(string_split(text, ' ')) - 1), i -> array_to_string(string_split(text, ' ')[i + 1 : i + 2], ' '))"
      s"""WITH t AS (
         |  SELECT doc_id, $ws AS w, $bgs AS b FROM documents
         |  WHERE ${Dialect.wordCount(spark)} >= 2),
         |s AS (
         |  SELECT doc_id,
         |    ${counts("w", "n_words")},
         |    ${counts("b", "n_bigrams")}
         |  FROM t)
         |SELECT doc_id, n_words, n_bigrams,
         |  CAST(ROUND((n_words - d_w + dup_w) * 1e6 / n_words) AS BIGINT) AS dup_word_frac_e6,
         |  CAST(ROUND(top_w * 1e6 / n_words) AS BIGINT) AS top_word_frac_e6,
         |  CAST(ROUND((n_bigrams - d_b + dup_b) * 1e6 / n_bigrams) AS BIGINT) AS dup_bigram_frac_e6,
         |  CAST(ROUND(top_b * 1e6 / n_bigrams) AS BIGINT) AS top_bigram_frac_e6
         |FROM s ORDER BY doc_id""".stripMargin
    }
    QuerySpec.sql2("q204_gopher_repetition", text(spark = true), text(spark = false))
  }

  /** Pairwise Jensen-Shannon divergence between source unigram
    * distributions — the corpus-mixing distance (which sources are
    * near-duplicates of each other, which add diversity). The token
    * stream collapses to a (source, word) count relation in ONE scan;
    * per-source totals are window sums over that vocab-sized relation
    * (not a second corpus pass); the pair term needs only words the two
    * sources SHARE — each side's missing-word mass contributes a
    * closed-form ½·ln2·(1−Σp) correction, so no zero-filled
    * source×vocab grid and no cross join ever materializes. The pair
    * join is the tiny relation against itself on word, bounded by
    * |sources|² rows per word. Micro-unit output (ln ulp hygiene). */
  val q205SourceJsDivergence: QuerySpec = QuerySpec(
    "q205_source_js_divergence",
    """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
      |c AS (SELECT source, word, COUNT(*) AS c FROM w GROUP BY source, word),
      |p AS (SELECT source, word,
      |        c / CAST(SUM(c) OVER (PARTITION BY source) AS DOUBLE) AS p
      |      FROM c),
      |pair AS (
      |  SELECT a.source AS source_a, b.source AS source_b, a.p AS pa, b.p AS pb
      |  FROM p a JOIN p b ON a.word = b.word AND a.source < b.source),
      |agg AS (
      |  SELECT source_a, source_b,
      |    SUM(0.5 * pa * LN(2 * pa / (pa + pb))
      |      + 0.5 * pb * LN(2 * pb / (pa + pb))) AS inner_term,
      |    SUM(pa) AS spa, SUM(pb) AS spb
      |  FROM pair GROUP BY source_a, source_b)
      |SELECT source_a, source_b,
      |  CAST(ROUND((inner_term + 0.5 * LN(2) * (2 - spa - spb)) * 1e6) AS BIGINT) AS js_e6
      |FROM agg ORDER BY source_a, source_b""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val c = sp.table("documents")
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c"))
    val p = c
      .withColumn("p",
        col("c").cast("double") / sum("c").over(Window.partitionBy("source")))
      .select("source", "word", "p")
      .staged // self-joined below; one corpus scan, not two
    val a = p.select(col("source").as("source_a"), col("word"), col("p").as("pa"))
    val b = p.select(col("source").as("source_b"), col("word"), col("p").as("pb"))
    val ln2 = log(lit(2.0))
    a.join(b, "word").filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(
        sum(lit(0.5) * col("pa") * log(lit(2) * col("pa") / (col("pa") + col("pb"))) +
          lit(0.5) * col("pb") * log(lit(2) * col("pb") / (col("pa") + col("pb"))))
          .as("inner_term"),
        sum("pa").as("spa"), sum("pb").as("spb"))
      .select(col("source_a"), col("source_b"),
        round((col("inner_term") +
          lit(0.5) * ln2 * (lit(2.0) - col("spa") - col("spb"))) * lit(1e6))
          .cast("bigint").as("js_e6"))
      .orderBy("source_a", "source_b")
  }

  /** Per-source lexical statistics — tokens, vocabulary, type-token
    * ratio, hapax count/fraction (the vocabulary-health numbers that
    * catch template-generated or truncated sources before training).
    * One scan to the (source, word) relation, then a source-keyed
    * rollup of that vocab-sized relation — both aggregates
    * partial-merged, nothing keyed on a raw token. */
  val q206VocabStats: QuerySpec = QuerySpec.sql2(
    "q206_vocab_stats",
    """WITH w AS (SELECT source, explode(split(text, ' ')) AS word FROM documents),
      |c AS (SELECT source, word, COUNT(*) AS c FROM w GROUP BY source, word)
      |SELECT source, CAST(SUM(c) AS BIGINT) AS tokens, COUNT(*) AS vocab,
      |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
      |  CAST(ROUND(COUNT(*) * 1e6 / SUM(c)) AS BIGINT) AS ttr_e6,
      |  CAST(ROUND(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1e6 / COUNT(*)) AS BIGINT)
      |    AS hapax_frac_e6
      |FROM c GROUP BY source ORDER BY source""".stripMargin,
    """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
      |c AS (SELECT source, word, COUNT(*) AS c FROM w GROUP BY source, word)
      |SELECT source, CAST(SUM(c) AS BIGINT) AS tokens, COUNT(*) AS vocab,
      |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
      |  CAST(ROUND(COUNT(*) * 1e6 / SUM(c)) AS BIGINT) AS ttr_e6,
      |  CAST(ROUND(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1e6 / COUNT(*)) AS BIGINT)
      |    AS hapax_frac_e6
      |FROM c GROUP BY source ORDER BY source""".stripMargin)

  /** Per-source heavy-hitter tokens via the engine's mergeable
    * Misra-Gries sketch ([[graft.functions.MisraGriesTopK]],
    * `mg_top_k`). The aggregate keeps a bounded counter summary per
    * group — top terms WITHOUT materializing the full (source, word)
    * relation the exact plan needs, which is the difference between a
    * vocab-sized shuffle and a capacity-sized one at 100 TB. Here
    * capacity (256) exceeds the fixture vocab, so every count is exact
    * and the DuckDB oracle can check values; the genuinely-approximate
    * regime (capacity << vocab) is bounded by SketchesSpec's
    * deterministic MG guarantee instead. Output order is total
    * ((cnt DESC, item ASC) inside the sketch, mirrored by the oracle's
    * window) — count ties cannot flap the result. */
  val q216HeavyHitters: QuerySpec = QuerySpec(
    "q216_topk_heavy_hitters",
    """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
      |c AS (SELECT source, word, COUNT(*) AS cnt FROM w GROUP BY source, word),
      |r AS (SELECT source, word, cnt,
      |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY cnt DESC, word) AS rn
      |      FROM c)
      |SELECT source, word, cnt FROM r WHERE rn <= 5
      |ORDER BY source, cnt DESC, word""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    sp.sql(
      """SELECT source, t.item AS word, t.cnt AS cnt
        |FROM (SELECT source, mg_top_k(word, 5) AS tk
        |      FROM (SELECT source, explode(split(text, ' ')) AS word FROM documents)
        |      GROUP BY source)
        |LATERAL VIEW explode(tk) x AS t
        |ORDER BY source, cnt DESC, word""".stripMargin)
  }

  /** Per-source Kolmogorov-Smirnov drift of the quality-score
    * distribution (score = token count) against the global corpus —
    * the statistical test behind "did this source's length profile
    * shift?" monitoring, reported as the KS statistic
    * `max |F_src − F_global|` plus the mean CDF shift. The sup is
    * evaluated over the UNION of both CDFs' jump points (= every global
    * score, since source scores are a subset): the per-source grid
    * cross-joins the collapsed score relation and carries the source
    * CDF forward (held flat, via the running sum of per-cell counts
    * COALESCEd to 0) where the source has no mass — so a global jump
    * at a score the source skips IS examined, and the reported value is
    * the true KS statistic, not a sampled-at-source-support bound.
    * Computed SKEW-FREE: docs collapse to the score-cardinality
    * relation first (scores are small integers), both CDFs are
    * running-sum windows over that tiny relation, and the grid is
    * |sources|·|scores| rows — never the corpus. Determinism: CDF
    * values are exact-integer ratios divided once; MAX over doubles is
    * order-free; the mean goes through DECIMAL(27,18) accumulation
    * (q184 rule). */
  val q225ScoreKsDrift: QuerySpec = {
    def text(spark: Boolean): String = {
      val score = Dialect.wordCount(spark)
      s"""WITH d AS (SELECT source, $score AS score FROM documents),
      |sc AS (SELECT score, COUNT(*) AS c FROM d GROUP BY score),
      |g AS (SELECT score,
      |        CAST(SUM(c) OVER (ORDER BY score) AS DOUBLE)
      |          / CAST(SUM(c) OVER () AS DOUBLE) AS gcdf
      |      FROM sc),
      |fs AS (SELECT source, score, COUNT(*) AS c FROM d GROUP BY source, score),
      |srcs AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM fs GROUP BY source),
      |grid AS (SELECT s.source, s.n, g.score, g.gcdf,
      |           CAST(COALESCE(fs.c, 0) AS BIGINT) AS c
      |         FROM srcs s CROSS JOIN g
      |         LEFT JOIN fs ON fs.source = s.source AND fs.score = g.score),
      |f AS (SELECT source, n, score, gcdf, c,
      |        CAST(SUM(c) OVER (PARTITION BY source ORDER BY score) AS DOUBLE)
      |          / CAST(n AS DOUBLE) AS fcdf
      |      FROM grid)
      |SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
      |  CAST(ROUND(MAX(ABS(fcdf - gcdf)) * 1e6) AS BIGINT) AS ks_e6,
      |  CAST(ROUND(CAST(SUM(CAST(c * ABS(fcdf - gcdf) AS DECIMAL(27,18)))
      |       AS DOUBLE) / MAX(n) * 1e6) AS BIGINT) AS mean_shift_e6
      |FROM f
      |GROUP BY source
      |ORDER BY source""".stripMargin
    }
    QuerySpec.sql2("q225_score_ks_drift", text(spark = true), text(spark = false))
  }

  /** Error bars for a corpus statistic without resampling RNG: a
    * deterministic half-sample (delete-half jackknife) confidence
    * interval for mean tokens/doc. Replicate b keeps a doc iff the
    * HIGH bit of the low-32 Knuth product
    * ((doc_id + b·7919) mod 1000003)·2654435761 is set — the top bit is
    * where the multiply actually mixes (a mod-2 test of the product
    * would reduce to raw id parity, the odd constant being a no-op);
    * the prime pre-mod bounds the product inside BIGINT on any id
    * range. Pure function of the ids, so release N+1 reproduces
    * release N's replicates; pseudo-replicate 32 keeps everything,
    * giving the point estimate in the SAME single corpus pass (no
    * second scan for the full mean). SE = std(replicate means)/√2 (a
    * half-sample mean has twice the variance of the full mean).
    * Determinism: replicate means are exact-integer ratios; their
    * spread accumulates via DECIMAL(27,18) casts (q184 rule); the CI is
    * one fixed DOUBLE tree. Scale shape: a 33× map-side fanout (the
    * price of one-pass uncertainty), one (b)-keyed 33-row aggregate,
    * O(1) algebra after. */
  val q229SubsampleCi: QuerySpec = {
    def text(spark: Boolean): String = {
      val score = Dialect.wordCount(spark)
      val fan = Dialect.lateralRange(spark, "d", 0, 32, "fb", "b")
      s"""WITH d AS (SELECT doc_id, $score AS score FROM documents),
         |r AS (SELECT b, score FROM $fan
         |      WHERE b = 32
         |         OR (((doc_id + b * 7919) % 1000003) * 2654435761) % 4294967296
         |            >= 2147483648),
         |m AS (SELECT b, CAST(SUM(score) AS DOUBLE) / COUNT(*) AS mb,
         |             COUNT(*) AS nb
         |      FROM r GROUP BY b),
         |s AS (SELECT
         |        CAST(SUM(CASE WHEN b < 32 THEN CAST(mb AS DECIMAL(27,18)) END) AS DOUBLE) AS sm,
         |        CAST(SUM(CASE WHEN b < 32 THEN CAST(mb * mb AS DECIMAL(27,18)) END) AS DOUBLE) AS sm2,
         |        CAST(MIN(CASE WHEN b < 32 THEN nb END) AS BIGINT) AS min_rep_n,
         |        CAST(MAX(CASE WHEN b < 32 THEN nb END) AS BIGINT) AS max_rep_n,
         |        MAX(CASE WHEN b = 32 THEN mb END) AS full_mean
         |      FROM m)
         |SELECT CAST(ROUND(full_mean * 1e6) AS BIGINT) AS mean_e6,
         |  CAST(ROUND(SQRT((sm2 - sm * sm / 32) / 31) / SQRT(2.0) * 1e6) AS BIGINT) AS se_e6,
         |  CAST(ROUND((full_mean - 1.96 * SQRT((sm2 - sm * sm / 32) / 31) / SQRT(2.0)) * 1e6)
         |    AS BIGINT) AS ci_lo_e6,
         |  CAST(ROUND((full_mean + 1.96 * SQRT((sm2 - sm * sm / 32) / 31) / SQRT(2.0)) * 1e6)
         |    AS BIGINT) AS ci_hi_e6,
         |  min_rep_n, max_rep_n
         |FROM s""".stripMargin
    }
    QuerySpec.sql2("q229_subsample_ci", text(spark = true), text(spark = false))
  }

  /** Cross-source score-calibration map — the actionable twin of
    * [[q225ScoreKsDrift]]: for every source and decile d, the smallest
    * score whose within-source CDF reaches d/10, next to the global
    * corpus boundary (the lookup table quantile normalization applies
    * so "top 30% by quality" means the same thing in every source).
    * Same skew-free shape as q225: docs collapse to the
    * score-cardinality relation first, CDFs are running sums over that
    * tiny relation, and the decile grid cross-joins the COLLAPSED
    * relation (|sources|·|scores|·9 rows), never the corpus. Boundaries
    * are exact integers selected by MIN over an exact-ratio threshold
    * compare — no interpolation, no float rounding in the output. */
  val q232CalibrationMap: QuerySpec = {
    def text(spark: Boolean): String = {
      val score = Dialect.wordCount(spark)
      val deciles =
        if (spark) "SELECT explode(sequence(1, 9)) AS decile"
        else "SELECT unnest(range(1, 10)) AS decile"
      s"""WITH d AS (SELECT source, $score AS score FROM documents),
         |sc AS (SELECT score, COUNT(*) AS c FROM d GROUP BY score),
         |g AS (SELECT score,
         |        CAST(SUM(c) OVER (ORDER BY score) AS DOUBLE)
         |          / CAST(SUM(c) OVER () AS DOUBLE) AS gcdf
         |      FROM sc),
         |fs AS (SELECT source, score, COUNT(*) AS c FROM d GROUP BY source, score),
         |f AS (SELECT source, score,
         |        CAST(SUM(c) OVER (PARTITION BY source ORDER BY score) AS DOUBLE)
         |          / CAST(SUM(c) OVER (PARTITION BY source) AS DOUBLE) AS fcdf
         |      FROM fs),
         |dec AS ($deciles),
         |sb AS (SELECT f.source, dec.decile,
         |         CAST(MIN(CASE WHEN f.fcdf >= dec.decile / 10.0
         |                       THEN f.score END) AS BIGINT) AS src_boundary
         |       FROM f CROSS JOIN dec GROUP BY f.source, dec.decile),
         |gb AS (SELECT dec.decile,
         |         CAST(MIN(CASE WHEN g.gcdf >= dec.decile / 10.0
         |                       THEN g.score END) AS BIGINT) AS global_boundary
         |       FROM g CROSS JOIN dec GROUP BY dec.decile)
         |SELECT sb.source, CAST(sb.decile AS INT) AS decile, sb.src_boundary, gb.global_boundary
         |FROM sb JOIN gb ON sb.decile = gb.decile
         |ORDER BY sb.source, sb.decile""".stripMargin
    }
    QuerySpec.sql2("q232_score_calibration_map", text(spark = true), text(spark = false))
  }

  /** Zipf-law fit of the corpus vocabulary — OLS slope of
    * ln(freq) ~ ln(rank), the scaling exponent natural text keeps near
    * −1 (template-generated or truncated corpora bend it): the
    * vocabulary-health scalar next to [[q206VocabStats]]'s ratios.
    * Rank is a TOTAL order over the vocab count relation
    * ((count DESC, word) — tied counts DO get different ranks, so the
    * tie order is pinned rather than assumed away), but it needs
    * ln(rank) PER VOCAB ROW, which no tie-invariant collapse removes —
    * so the Spark side assigns it with [[graft.operators.Prefix
    * .globalRank]]'s two-pass range-partitioned scheme (local
    * row_number per range + broadcast offsets) instead of the r12
    * single-task `ROW_NUMBER() OVER (ORDER BY …)`: a 10⁸-type web
    * vocab ranks in parallel across every executor. The regression
    * moments accumulate per-term via DECIMAL(27,18) casts of fixed
    * ln() doubles (order-invariant — partition boundaries can move
    * without moving the answer), and slope/intercept/R² are one fixed
    * DOUBLE tree. One corpus scan, vocab-sized everything after. */
  val q235ZipfFit: QuerySpec = {
    val moments =
      """WITH r AS (SELECT LN(CAST(rk AS DOUBLE)) AS lx,
        |             LN(CAST(c AS DOUBLE)) AS ly
        |      FROM q235_ranked),
        |m AS (SELECT COUNT(*) AS n,
        |        CAST(SUM(CAST(lx AS DECIMAL(27,18))) AS DOUBLE) AS sx,
        |        CAST(SUM(CAST(ly AS DECIMAL(27,18))) AS DOUBLE) AS sy,
        |        CAST(SUM(CAST(lx * ly AS DECIMAL(27,18))) AS DOUBLE) AS sxy,
        |        CAST(SUM(CAST(lx * lx AS DECIMAL(27,18))) AS DOUBLE) AS sx2,
        |        CAST(SUM(CAST(ly * ly AS DECIMAL(27,18))) AS DOUBLE) AS sy2
        |      FROM r)
        |SELECT CAST(n AS BIGINT) AS vocab,
        |  CAST(ROUND((n * sxy - sx * sy) / (n * sx2 - sx * sx) * 1e6) AS BIGINT)
        |    AS zipf_slope_e6,
        |  CAST(ROUND((sy - (n * sxy - sx * sy) / (n * sx2 - sx * sx) * sx) / n * 1e6)
        |    AS BIGINT) AS intercept_e6,
        |  CAST(ROUND(((n * sxy - sx * sy) / (n * sx2 - sx * sx))
        |           * ((n * sxy - sx * sy) / (n * sx2 - sx * sx))
        |           * (n * sx2 - sx * sx) / (n * sy2 - sy * sy) * 1e6) AS BIGINT)
        |    AS r2_e6
        |FROM m""".stripMargin
    val oracleText =
      """WITH c AS (SELECT word, COUNT(*) AS c
        |           FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) w
        |           GROUP BY word),
        |q235_ranked AS (SELECT ROW_NUMBER() OVER (ORDER BY c DESC, word) AS rk, c
        |                FROM c),
        |""".stripMargin + moments.stripPrefix("WITH ")
    QuerySpec("q235_zipf_fit", oracleText) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      val counts = sp.table("documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c"))
      QuerySpec.sqlOver(sp, "q235_ranked" -> graft.operators.Prefix
        .globalRank(counts, Seq(col("c").desc, col("word")), "rk")
        .select("rk", "c"))(moments)
    }
  }

  /** Heaps'-law fit of vocabulary growth — [[q235ZipfFit]]'s companion
    * scaling law: `V(n) ≈ K·n^β` (β ≈ 0.4-0.6 for natural text; a
    * template corpus saturates early and bends β down). The growth
    * curve needs no per-prefix rescan: each word contributes a NEW
    * vocab unit at its first-occurrence doc (word-keyed MIN — one
    * vocab-sized aggregate), per-doc token counts come from the same
    * exploded stream, and both running sums are EXACT distributed
    * prefix sums over the doc-grain relation via [[graft.operators
    * .Prefix.prefixSums]] (range-partition on doc_id, local running
    * sums per range, broadcast offsets) — the r12 version's
    * unpartitioned `SUM() OVER (ORDER BY doc_id)` put the whole
    * corpus-grain relation through ONE window task. The log-log OLS
    * reuses the q235 moment recipe (per-term DECIMAL(27,18), fixed
    * ln() doubles — order-invariant sums, so partition boundaries
    * never move the answer). */
  val q243HeapsFit: QuerySpec = {
    val moments =
      """WITH r AS (SELECT LN(CAST(cum_toks AS DOUBLE)) AS lx,
        |             LN(CAST(cum_vocab AS DOUBLE)) AS ly
        |      FROM q243_growth),
        |m AS (SELECT COUNT(*) AS n,
        |        CAST(SUM(CAST(lx AS DECIMAL(27,18))) AS DOUBLE) AS sx,
        |        CAST(SUM(CAST(ly AS DECIMAL(27,18))) AS DOUBLE) AS sy,
        |        CAST(SUM(CAST(lx * ly AS DECIMAL(27,18))) AS DOUBLE) AS sxy,
        |        CAST(SUM(CAST(lx * lx AS DECIMAL(27,18))) AS DOUBLE) AS sx2,
        |        CAST(SUM(CAST(ly * ly AS DECIMAL(27,18))) AS DOUBLE) AS sy2
        |      FROM r)
        |SELECT CAST(n AS BIGINT) AS n_docs,
        |  CAST(ROUND((n * sxy - sx * sy) / (n * sx2 - sx * sx) * 1e6) AS BIGINT)
        |    AS heaps_beta_e6,
        |  CAST(ROUND(EXP((sy - (n * sxy - sx * sy) / (n * sx2 - sx * sx) * sx) / n) * 1e6)
        |    AS BIGINT) AS heaps_k_e6,
        |  CAST(ROUND(((n * sxy - sx * sy) / (n * sx2 - sx * sx))
        |           * ((n * sxy - sx * sy) / (n * sx2 - sx * sx))
        |           * (n * sx2 - sx * sx) / (n * sy2 - sy * sy) * 1e6) AS BIGINT)
        |    AS r2_e6
        |FROM m""".stripMargin
    val oracleText =
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tok AS (SELECT doc_id, COUNT(*) AS toks FROM w GROUP BY doc_id),
        |fo AS (SELECT word, MIN(doc_id) AS first_doc FROM w GROUP BY word),
        |nw AS (SELECT first_doc AS doc_id, COUNT(*) AS new_words FROM fo GROUP BY first_doc),
        |q243_growth AS (SELECT tok.doc_id,
        |        CAST(SUM(tok.toks) OVER (ORDER BY tok.doc_id) AS BIGINT) AS cum_toks,
        |        CAST(SUM(COALESCE(nw.new_words, 0)) OVER (ORDER BY tok.doc_id) AS BIGINT)
        |          AS cum_vocab
        |      FROM tok LEFT JOIN nw ON tok.doc_id = nw.doc_id),
        |""".stripMargin + moments.stripPrefix("WITH ")
    QuerySpec("q243_heaps_fit", oracleText) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      val w = sp.table("documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      val tok = w.groupBy("doc_id").agg(count(lit(1)).as("toks"))
      val nw = w.groupBy("word").agg(min("doc_id").as("first_doc"))
        .groupBy(col("first_doc").as("doc_id"))
        .agg(count(lit(1)).as("new_words"))
      val base = tok.join(nw, Seq("doc_id"), "left")
        .select(col("doc_id"), col("toks"),
          coalesce(col("new_words"), lit(0L)).as("new_words"))
      QuerySpec.sqlOver(sp, "q243_growth" -> graft.operators.Prefix
        .prefixSums(base, Seq(col("doc_id")),
          Seq(col("toks") -> "cum_toks", col("new_words") -> "cum_vocab"))
        .select("cum_toks", "cum_vocab"))(moments)
    }
  }

  /** Leave-one-source-out influence of each source on a corpus
    * statistic (mean tokens/doc) — the cheap end of the data-valuation
    * spectrum (the Shapley-style question "which source moves the
    * metric?") answered EXACTLY and in closed form: dropping source i
    * gives mean `(T − t_i)/(N − n_i)` from the totals alone, so the
    * whole sweep costs ONE source-keyed rollup + a broadcast totals
    * row — no per-source re-scan, no resampling. Deltas are fixed
    * DOUBLE trees over exact integers; the influence rank carries a
    * total tie order. Pairs with [[q229SubsampleCi]]: that op says how
    * uncertain the metric is, this one says who moves it. */
  val q250LosoInfluence: QuerySpec = {
    def text(spark: Boolean): String = {
      val score = Dialect.wordCount(spark)
      s"""WITH d AS (SELECT source, $score AS toks FROM documents),
         |s AS (SELECT source, COUNT(*) AS n_i, CAST(SUM(toks) AS BIGINT) AS t_i
         |      FROM d GROUP BY source),
         |tot AS (SELECT CAST(SUM(n_i) AS BIGINT) AS n, CAST(SUM(t_i) AS BIGINT) AS t
         |        FROM s),
         |x AS (SELECT s.source, s.n_i, s.t_i,
         |        CAST(tot.t AS DOUBLE) / tot.n AS full_mean,
         |        CAST(tot.t - s.t_i AS DOUBLE) / (tot.n - s.n_i) AS loso_mean
         |      FROM s CROSS JOIN tot)
         |SELECT source, CAST(n_i AS BIGINT) AS n_docs,
         |  CAST(ROUND(loso_mean * 1e6) AS BIGINT) AS loso_mean_e6,
         |  CAST(ROUND((full_mean - loso_mean) * 1e6) AS BIGINT) AS influence_e6,
         |  CAST(ROW_NUMBER() OVER (ORDER BY ABS(full_mean - loso_mean) DESC, source)
         |    AS INT) AS influence_rank
         |FROM x ORDER BY influence_rank""".stripMargin
    }
    QuerySpec.sql2("q250_loso_influence", text(spark = true), text(spark = false))
  }

  /** Asymptotic KS p-values for [[q225ScoreKsDrift]]'s per-source
    * statistics with Benjamini–Hochberg FDR control — the multiple-
    * testing discipline a 20-source drift monitor needs (at α = 0.05 a
    * no-drift corpus still flags ~1 source per run without it). The
    * p-value is the Kolmogorov series Q(λ) = 2Σ(−1)^{j−1}e^{−2j²λ²}
    * (50 terms, a 50-row grid join — terms underflow to exact 0 long
    * before that) at the Stephens small-sample λ, with the effective n
    * of the source-vs-corpus comparison. BH ranks the ROUNDED p (total
    * (p_e6, source) order — no float flap at the cut) and adjusts by
    * the running min of m·p/rank from the tail (a MIN window over
    * FOLLOWING rows). Everything downstream of q225's score-relation
    * grid is |sources|-sized. */
  val q294KsDriftFdr: QuerySpec = {
    def text(spark: Boolean): String = {
      val score = Dialect.wordCount(spark)
      val terms = Dialect.intRange(spark, 1, 50, "j")
      s"""WITH d AS (SELECT source, $score AS score FROM documents),
         |sc AS (SELECT score, COUNT(*) AS c FROM d GROUP BY score),
         |g AS (SELECT score,
         |        CAST(SUM(c) OVER (ORDER BY score) AS DOUBLE)
         |          / CAST(SUM(c) OVER () AS DOUBLE) AS gcdf
         |      FROM sc),
         |fs AS (SELECT source, score, COUNT(*) AS c FROM d GROUP BY source, score),
         |srcs AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM fs GROUP BY source),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nt FROM sc),
         |grid AS (SELECT s.source, s.n, g.score, g.gcdf,
         |           CAST(COALESCE(fs.c, 0) AS BIGINT) AS c
         |         FROM srcs s CROSS JOIN g
         |         LEFT JOIN fs ON fs.source = s.source AND fs.score = g.score),
         |f AS (SELECT source, n, score, gcdf, c,
         |        CAST(SUM(c) OVER (PARTITION BY source ORDER BY score) AS DOUBLE)
         |          / CAST(n AS DOUBLE) AS fcdf
         |      FROM grid),
         |ks AS (SELECT source, MAX(n) AS n, MAX(ABS(fcdf - gcdf)) AS ks
         |       FROM f GROUP BY source),
         |lam AS (SELECT source, n, ks,
         |          (SQRT(CAST(n AS DOUBLE) * nt / (n + nt)) + 0.12
         |            + 0.11 / SQRT(CAST(n AS DOUBLE) * nt / (n + nt))) * ks AS l
         |        FROM ks CROSS JOIN tot),
         |tj AS ($terms),
         |p AS (SELECT source, n, ks,
         |        LEAST(1.0, GREATEST(0.0,
         |          2 * CAST(SUM(CAST(
         |            CASE WHEN j % 2 = 1 THEN EXP(-2.0 * j * j * l * l)
         |                 ELSE -EXP(-2.0 * j * j * l * l) END AS DECIMAL(27,18)))
         |            AS DOUBLE))) AS pv
         |      FROM lam CROSS JOIN tj
         |      GROUP BY source, n, ks),
         |r AS (SELECT source, n, ks,
         |        CAST(ROUND(pv * 1e6) AS BIGINT) AS p_e6,
         |        ROW_NUMBER() OVER (ORDER BY CAST(ROUND(pv * 1e6) AS BIGINT), source)
         |          AS rk,
         |        COUNT(*) OVER () AS m
         |      FROM p),
         |adj AS (SELECT source, n, ks, p_e6,
         |          CAST(ROUND(LEAST(1e6, MIN(m * CAST(p_e6 AS DOUBLE) / rk) OVER (
         |            ORDER BY rk ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)))
         |            AS BIGINT) AS p_adj_e6
         |        FROM r)
         |SELECT source, CAST(n AS BIGINT) AS n_docs,
         |  CAST(ROUND(ks * 1e6) AS BIGINT) AS ks_e6,
         |  p_e6, p_adj_e6, (p_adj_e6 <= 50000) AS drift_flag
         |FROM adj ORDER BY source""".stripMargin
    }
    QuerySpec.sql2("q294_ks_drift_fdr", text(spark = true), text(spark = false))
  }

  /** Empirical-Bayes (James–Stein / random-effects) shrinkage of
    * per-source mean tokens/doc — the estimator a mixing-weight
    * pipeline should use instead of raw source means: small sources
    * borrow strength from the corpus (weight τ²/(τ²+σ²/nᵢ) → 0), big
    * sources keep their own mean (→ 1). Method-of-moments on the
    * unbalanced one-way layout: pooled within-variance σ² and
    * between-variance τ² come from ONE source-keyed rollup of exact
    * integer (n, Σ, Σ²) sums (the cross-term identity SSB = Σtᵢ²/nᵢ −
    * T²/N needs no second pass); per-source double terms accumulate
    * via DECIMAL(27,18); τ² floors at 0. Everything after the rollup
    * is |sources|-sized algebra. */
  val q295EbShrinkage: QuerySpec = {
    def text(spark: Boolean): String = {
      val score = Dialect.wordCount(spark)
      s"""WITH d AS (SELECT source, $score AS toks FROM documents),
         |s AS (SELECT source, COUNT(*) AS n_i,
         |        CAST(SUM(toks) AS BIGINT) AS t_i,
         |        CAST(SUM(CAST(toks AS DECIMAL(19,0)) * toks) AS DECIMAL(38,0)) AS q_i
         |      FROM d GROUP BY source),
         |tot AS (SELECT COUNT(*) AS k, CAST(SUM(n_i) AS BIGINT) AS n,
         |          CAST(SUM(t_i) AS BIGINT) AS t,
         |          CAST(SUM(CAST(n_i AS DECIMAL(19,0)) * n_i) AS DECIMAL(38,0)) AS sn2,
         |          CAST(SUM(CAST(q_i - CAST(t_i AS DOUBLE) * t_i / n_i
         |            AS DECIMAL(27,18))) AS DOUBLE) AS ssw,
         |          CAST(SUM(CAST(CAST(t_i AS DOUBLE) * t_i / n_i
         |            AS DECIMAL(27,18))) AS DOUBLE) AS sb
         |        FROM s),
         |v AS (SELECT k, n, t,
         |        ssw / (n - k) AS sigma2,
         |        GREATEST(0.0,
         |          (sb - CAST(t AS DOUBLE) * t / n - (k - 1) * ssw / (n - k))
         |          / (n - CAST(sn2 AS DOUBLE) / n)) AS tau2,
         |        CAST(t AS DOUBLE) / n AS gm
         |      FROM tot)
         |SELECT s.source, CAST(s.n_i AS BIGINT) AS n_docs,
         |  CAST(ROUND(CAST(s.t_i AS DOUBLE) / s.n_i * 1e6) AS BIGINT) AS raw_mean_e6,
         |  CAST(ROUND((v.gm + (v.tau2 / (v.tau2 + v.sigma2 / s.n_i))
         |    * (CAST(s.t_i AS DOUBLE) / s.n_i - v.gm)) * 1e6) AS BIGINT)
         |    AS shrunk_mean_e6,
         |  CAST(ROUND(v.tau2 / (v.tau2 + v.sigma2 / s.n_i) * 1e6) AS BIGINT)
         |    AS weight_e6
         |FROM s CROSS JOIN v
         |ORDER BY s.source""".stripMargin
    }
    QuerySpec.sql2("q295_eb_shrinkage", text(spark = true), text(spark = false))
  }

  /** Log-normal fit of the document-length distribution (method of
    * moments on ln n_chars) with a quantile-level goodness check —
    * the distributional prior behind every length-based curation
    * decision: if lengths are log-normal (the usual web-text shape),
    * truncation budgets and length-bucket boundaries should be set in
    * log space, and a fitted-vs-empirical quantile gap flags when a
    * source mix breaks the assumption (e.g. template corpora spike a
    * single length). MoM keeps it closed-form and one-pass: μ, σ from
    * Σln x, Σln²x accumulated through DECIMAL(27,18) (the q235 rule —
    * ln() doubles are identical fixed trees per row, summation order
    * never reaches the e6 rounding); the fitted P50/P90 (exp(μ),
    * exp(μ + z₀.₉σ)) compare against the exact interpolated empirical
    * percentiles computed in the SAME single aggregate (q199's
    * multi-quantile call). One corpus scan, O(1) algebra after.
    * Zero-length docs are excluded up front (ln 0 is NULL in Spark
    * but -inf/error in DuckDB, and a NULL-skipping SUM against a
    * COUNT(*) that still counted the doc would silently bias μ/σ) —
    * the fit and the empirical percentiles run over the SAME
    * positive-length population. */
  val q303LognormalLengths: QuerySpec = {
    def text(spark: Boolean): String = {
      val ps =
        if (spark) "percentile(n_chars, array(0.5D, 0.9D))"
        else "quantile_cont(n_chars, [0.5, 0.9])"
      val p50 = if (spark) "ps[0]" else "ps[1]"
      val p90 = if (spark) "ps[1]" else "ps[2]"
      s"""WITH v AS (SELECT LN(CAST(n_chars AS DOUBLE)) AS lx, n_chars
         |           FROM documents WHERE n_chars > 0),
         |m AS (SELECT COUNT(*) AS n,
         |        SUM(CAST(lx AS DECIMAL(27,18))) AS s1,
         |        SUM(CAST(lx * lx AS DECIMAL(27,18))) AS s2,
         |        $ps AS ps
         |      FROM v),
         |f AS (SELECT n, $p50 AS ep50, $p90 AS ep90,
         |        CAST(s1 AS DOUBLE) / n AS mu,
         |        SQRT(GREATEST(CAST(s2 AS DOUBLE) / n
         |          - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n),
         |          CAST(0 AS DOUBLE))) AS sig
         |      FROM m)
         |SELECT CAST(n AS BIGINT) AS n_docs,
         |  CAST(ROUND(mu * 1e6) AS BIGINT) AS mu_e6,
         |  CAST(ROUND(sig * 1e6) AS BIGINT) AS sigma_e6,
         |  CAST(ROUND(EXP(mu) * 1e2) AS BIGINT) AS fit_p50_e2,
         |  CAST(ROUND(ep50 * 1e2) AS BIGINT) AS emp_p50_e2,
         |  CAST(ROUND(EXP(mu + CAST(1.2815515655446004 AS DOUBLE) * sig) * 1e2)
         |    AS BIGINT) AS fit_p90_e2,
         |  CAST(ROUND(ep90 * 1e2) AS BIGINT) AS emp_p90_e2
         |FROM f""".stripMargin
    }
    QuerySpec.sql2("q303_lognormal_lengths", text(spark = true), text(spark = false))
  }

  /** Source-diversity indices per language — the "is this language's
    * slice really multi-source?" gate a mixing plan reads before
    * trusting per-language token budgets (one crawler dominating a
    * language is a silent dedup/bias risk that raw source COUNTS hide).
    * Per lang: unbiased Simpson concentration λ = Σ n_s(n_s−1)/(N(N−1))
    * (the probability two draws WITHOUT replacement share a source),
    * its complement as diversity, Shannon entropy H = −Σ p·ln p, and
    * the effective source count e^H (the "equivalent equally-sized
    * sources" number mixing math actually wants). The corpus collapses
    * to the (lang, source) contingency relation in one rollup; pair
    * counts are exact integers with DECIMAL(38,0) headroom, and the
    * k-row entropy sum accumulates n·ln(n/N) terms via DECIMAL(38,18)
    * before the single division (summing p·ln p doubles directly would
    * leak engine summation order). Single-source languages report
    * diversity 0 / H 0; N = 1 guards the Simpson denominator. */
  val q321SourceDiversity: QuerySpec = QuerySpec.sql(
    "q321_source_diversity",
    """WITH c AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
      |           FROM documents GROUP BY lang, source),
      |t AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS nn,
      |        CAST(COUNT(*) AS BIGINT) AS k FROM c GROUP BY lang),
      |m AS (SELECT c.lang,
      |        CAST(SUM(CAST(c.n AS DECIMAL(38,0)) * (c.n - 1))
      |          AS DECIMAL(38,0)) AS pairs,
      |        CAST(SUM(CAST(c.n * LN(CAST(c.n AS DOUBLE) / t.nn)
      |                 AS DECIMAL(38,18))) AS DOUBLE) AS nlp
      |      FROM c JOIN t ON c.lang = t.lang GROUP BY c.lang)
      |SELECT t.lang, t.nn AS n_docs, t.k AS n_sources,
      |  CASE WHEN t.nn <= 1 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(ROUND((1.0 - CAST(m.pairs AS DOUBLE)
      |         / (CAST(t.nn AS DOUBLE) * (t.nn - 1))) * 1e6) AS BIGINT) END
      |    AS simpson_div_e6,
      |  CAST(ROUND(-m.nlp / t.nn * 1e6) AS BIGINT) AS shannon_e6,
      |  CAST(ROUND(EXP(-m.nlp / t.nn) * 1e6) AS BIGINT) AS effective_sources_e6
      |FROM t JOIN m ON t.lang = m.lang
      |ORDER BY t.lang""".stripMargin)

  /** Hill estimator of the document-length tail index — the power-law
    * companion to [[q303LognormalLengths]]'s body fit: how heavy is the
    * n_chars tail really (α ≈ 1–2 ⇒ batch token budgets are dominated
    * by outlier documents; α large ⇒ exponential-ish, truncation is
    * cheap). α̂ = k / Σ_{i≤k} ln(X₍ᵢ₎/X₍ₖ₊₁₎) over the top-k order
    * statistics — the only global structure needed is the rank-FILTERED
    * top-(k+1), which plans as a partial+final WindowGroupLimit
    * (map-side top-k per partition, never a corpus sort; the PlanSpec
    * sweep's sanctioned shape), with the (k+1)-th value a broadcast
    * scalar and the ln ratios accumulating via DECIMAL(38,18). The
    * standard error α/√k and the k-th largest cutoff are reported
    * alongside; a flat top (all k values equal the cutoff ⇒ zero sum)
    * yields NULL. */
  val q328HillTailIndex: QuerySpec = QuerySpec.sql(
    "q328_hill_tail_index",
    """WITH r AS (SELECT n_chars, doc_id,
      |             ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rk
      |           FROM documents WHERE n_chars > 0),
      |top AS (SELECT n_chars, rk FROM r WHERE rk <= 101),
      |kv AS (SELECT n_chars AS xk FROM top WHERE rk = 101),
      |m AS (SELECT /*+ BROADCAST(kv) */ CAST(COUNT(*) AS BIGINT) AS k,
      |        MAX(kv.xk) AS xk,
      |        CAST(SUM(CAST(LN(CAST(t.n_chars AS DOUBLE) / kv.xk)
      |             AS DECIMAL(38,18))) AS DOUBLE) AS lnsum
      |      FROM top t CROSS JOIN kv WHERE t.rk <= 100)
      |SELECT k AS k_top, CAST(xk AS BIGINT) AS x_cutoff,
      |  CASE WHEN lnsum <= 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(ROUND(k / lnsum * 1e6) AS BIGINT) END AS alpha_e6,
      |  CASE WHEN lnsum <= 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(ROUND(k / lnsum / SQRT(CAST(k AS DOUBLE)) * 1e6)
      |            AS BIGINT) END AS alpha_se_e6
      |FROM m""".stripMargin)

  /** Split-conformal prediction interval for document length given
    * language — distribution-free uncertainty the q229 normal-theory CI
    * can't give on skewed lengths: calibrate per-lang absolute
    * residuals |x − median-ish center| on the hash-frozen calibration
    * half, take the ⌈(n+1)·0.9⌉-th order statistic as the radius, then
    * report EMPIRICAL coverage on the disjoint evaluation half — the
    * honesty check (≈ 90 % by construction if exchangeability holds;
    * a miss flags drift between the halves). Scale shape: the center
    * (per-lang mean, exact integer ratio) and the rank-selected radius
    * live on per-lang relations; the quantile is an exact rank in a
    * PER-LANG window (partitioned — never global); coverage is one
    * conditional rollup. The q95/q130 multiplicative doc_id hash
    * freezes the split on both engines. */
  val q339ConformalInterval: QuerySpec = {
    // the half-flagged projection feeds the center, the residual pass
    // and the coverage pass: staged once (q290 pattern)
    val dSql =
      """SELECT lang, doc_id, n_chars,
        |  CASE WHEN ((doc_id % 1000003) * 2654435761) % 100 < 50
        |       THEN 'cal' ELSE 'eval' END AS half
        |FROM documents""".stripMargin
    val tail =
      """WITH ctr AS (SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS s,
      |          CAST(COUNT(*) AS BIGINT) AS n
      |        FROM q339_d WHERE half = 'cal' GROUP BY lang),
      |res AS (SELECT d.lang,
      |          ABS(d.n_chars - CAST(ctr.s AS DOUBLE) / ctr.n) AS r
      |        FROM q339_d d JOIN ctr ON d.lang = ctr.lang WHERE d.half = 'cal'),
      |rk AS (SELECT lang, r,
      |         ROW_NUMBER() OVER (PARTITION BY lang
      |           ORDER BY r, CAST(ROUND(r * 1e6) AS BIGINT)) AS rn,
      |         COUNT(*) OVER (PARTITION BY lang) AS n_cal
      |       FROM res),
      |q AS (SELECT lang, CAST(MAX(n_cal) AS BIGINT) AS n_cal,
      |        MIN(r) AS radius
      |      FROM rk
      |      WHERE rn >= CAST(CEIL((n_cal + 1) * 0.9) AS BIGINT)
      |      GROUP BY lang),
      |cov AS (SELECT d.lang,
      |          CAST(COUNT(*) AS BIGINT) AS n_eval,
      |          CAST(SUM(CASE WHEN ABS(d.n_chars - CAST(ctr.s AS DOUBLE) / ctr.n)
      |                             <= q.radius THEN 1 ELSE 0 END) AS BIGINT)
      |            AS n_covered
      |        FROM q339_d d JOIN ctr ON d.lang = ctr.lang
      |        JOIN q ON d.lang = q.lang
      |        WHERE d.half = 'eval' GROUP BY d.lang)
      |SELECT cov.lang, q.n_cal, cov.n_eval,
      |  CAST(ROUND(q.radius * 1e2) AS BIGINT) AS radius_e2,
      |  CAST(ROUND(cov.n_covered * 1e6 / CAST(cov.n_eval AS DOUBLE)) AS BIGINT)
      |    AS coverage_e6
      |FROM cov JOIN q ON cov.lang = q.lang
      |ORDER BY cov.lang""".stripMargin
    QuerySpec("q339_conformal_interval",
      "WITH q339_d AS (" + dSql.replace('\n', ' ') + "),\n" +
        tail.stripPrefix("WITH ")) { (sp0, dir) =>
      val sp = QuerySpec.prepared(sp0, dir)
      import graft.llmops.Checkpoints.Stageable
      QuerySpec.sqlOver(sp, "q339_d" -> sp.sql(dSql).staged)(tail)
    }
  }

  val all: Seq[QuerySpec] =
    Seq(q303LognormalLengths, q321SourceDiversity, q328HillTailIndex,
      q339ConformalInterval,
      q204GopherRepetition, q205SourceJsDivergence, q206VocabStats,
      q216HeavyHitters.benched, q225ScoreKsDrift, q229SubsampleCi,
      q232CalibrationMap, q235ZipfFit, q243HeapsFit, q250LosoInfluence,
      q294KsDriftFdr, q295EbShrinkage)
}
