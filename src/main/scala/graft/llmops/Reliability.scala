package graft.llmops

import graft.Dialect
import graft.QuerySpec
import org.apache.spark.sql.functions._

/** Annotation-reliability and data-governance statistics — the layer a
  * curation pipeline needs once labels come from MULTIPLE cheap sources:
  * do three heuristic raters agree beyond chance (Fleiss' κ,
  * Krippendorff's α — the multi-rater generalizations of q279's
  * two-rater Cohen κ), do two PARTITIONS of the corpus agree (adjusted
  * Rand index), is a ranking good where it matters (nDCG@k, the graded
  * complement to q230's recall/MRR and q290's RBO), and governance
  * screens: quasi-identifier k-anonymity, encoding/mojibake QC, and
  * readability. §8.4 build-brief extensions; no reference analogue.
  *
  * Scale design: every statistic collapses the corpus FIRST — the
  * 4-value vote-count relation for κ/α (three binary raters ⇒ c ∈
  * 0..3), the |classes|² contingency table for ARI, rank-filtered
  * top-k windows (map-side WindowGroupLimit) for nDCG, one
  * quasi-identifier rollup for k-anonymity — and per-document signals
  * (syllables, sentences, encoding counts) are pure map work.
  *
  * Determinism (house rules): exact integer algebra until one final
  * division; fixed DOUBLE trees; micro-unit (…_e6/_e2) outputs; double
  * sums through DECIMAL(27,18); every rank total-ordered. */
object Reliability {

  /** The three deterministic binary raters shared by q306/q307: length,
    * token count, and type-token-ratio quality flags — three genuinely
    * different cheap signals, so their agreement statistics are
    * informative. `2·distinct ≥ words` keeps the TTR test exact
    * integer. */
  private def votesSql(spark: Boolean): String = {
    val words = Dialect.wordCount(spark)
    val dw = Dialect.distinctWordCount(spark)
    s"""SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END
       |     + CASE WHEN $words >= 55 THEN 1 ELSE 0 END
       |     + CASE WHEN 2 * $dw >= $words THEN 1 ELSE 0 END AS c
       |FROM documents""".stripMargin
  }

  /** Fleiss' kappa for the three binary raters. With m = 3 raters the
    * per-item agreement P_i = (c(c−1) + (3−c)(2−c)) / 6 depends only on
    * the positive-vote count c ∈ 0..3, so the corpus collapses to the
    * FOUR-row (c, multiplicity) relation and κ is a fixed DOUBLE tree
    * over three exact integers (n, Σc, Σ6P_i). A degenerate corpus
    * where every vote lands in one category has chance agreement 1 and
    * κ undefined — reported NULL, the q296 convention. The c-histogram
    * rides along: it is the entire sufficient statistic. */
  val q306FleissKappa: QuerySpec = {
    def text(spark: Boolean): String =
      s"""WITH d AS (${votesSql(spark)}),
         |g AS (SELECT c, COUNT(*) AS m FROM d GROUP BY c),
         |v AS (SELECT
         |        CAST(SUM(CASE WHEN c = 0 THEN m ELSE 0 END) AS BIGINT) AS votes0,
         |        CAST(SUM(CASE WHEN c = 1 THEN m ELSE 0 END) AS BIGINT) AS votes1,
         |        CAST(SUM(CASE WHEN c = 2 THEN m ELSE 0 END) AS BIGINT) AS votes2,
         |        CAST(SUM(CASE WHEN c = 3 THEN m ELSE 0 END) AS BIGINT) AS votes3,
         |        CAST(SUM(m) AS BIGINT) AS n,
         |        CAST(SUM(m * c) AS BIGINT) AS tt,
         |        CAST(SUM(m * (c * (c - 1) + (3 - c) * (2 - c))) AS BIGINT) AS s6
         |      FROM g),
         |f AS (SELECT n, tt, s6, votes0, votes1, votes2, votes3,
         |        CAST(s6 AS DOUBLE) / (6.0 * n) AS pbar,
         |        CAST(tt AS DOUBLE) / (3.0 * n) AS ppos
         |      FROM v)
         |SELECT CAST(n AS BIGINT) AS n_docs, votes0, votes1, votes2, votes3,
         |  CAST(ROUND(pbar * 1e6) AS BIGINT) AS mean_agreement_e6,
         |  CASE WHEN ppos = 0.0 OR ppos = 1.0 THEN CAST(NULL AS BIGINT)
         |       ELSE CAST(ROUND(
         |         (pbar - (ppos * ppos + (1.0 - ppos) * (1.0 - ppos)))
         |         / (1.0 - (ppos * ppos + (1.0 - ppos) * (1.0 - ppos))) * 1e6)
         |         AS BIGINT) END AS fleiss_kappa_e6
         |FROM f""".stripMargin
    QuerySpec.sql2("q306_fleiss_kappa", text(spark = true), text(spark = false))
  }

  /** Krippendorff's alpha (nominal, binary, complete ratings) for the
    * same three raters — the reliability number that, unlike κ, is
    * built from a chance model over the POOLED value distribution:
    * α = 1 − (N−1)/(m−1) · Σᵢ nᵢ₀nᵢ₁ / (n₀n₁) with N = 3n total
    * values. Same 4-row collapse (Σᵢ nᵢ₀nᵢ₁ = Σ m·c(3−c)); the margins
    * multiply as DOUBLEs (n₀·n₁ overflows 64-bit at web scale).
    * Everything-one-category ⇒ no disagreement is measurable ⇒ NULL. */
  val q307KrippendorffAlpha: QuerySpec = {
    def text(spark: Boolean): String =
      s"""WITH d AS (${votesSql(spark)}),
         |g AS (SELECT c, COUNT(*) AS m FROM d GROUP BY c),
         |t AS (SELECT CAST(SUM(m) AS BIGINT) AS n,
         |        CAST(SUM(m * c) AS BIGINT) AS n1,
         |        CAST(SUM(m * c * (3 - c)) AS BIGINT) AS p
         |      FROM g)
         |SELECT CAST(n AS BIGINT) AS n_docs,
         |  CAST(3 * n AS BIGINT) AS n_values,
         |  CASE WHEN n1 = 0 OR n1 = 3 * n THEN CAST(NULL AS BIGINT)
         |       ELSE CAST(ROUND((1.0 - (3.0 * n - 1.0) / 2.0
         |              * CAST(p AS DOUBLE)
         |              / (CAST(n1 AS DOUBLE) * (3.0 * n - n1))) * 1e6)
         |         AS BIGINT) END AS kripp_alpha_e6
         |FROM t""".stripMargin
    QuerySpec.sql2("q307_krippendorff_alpha", text(spark = true), text(spark = false))
  }

  /** Adjusted Rand index between the TRUE language partition and the
    * heuristic language-ID partition — the clustering-agreement view of
    * q301's confusion matrix (ARI scores the PARTITIONS, so it also
    * serves as the dedup-cluster/sharding-assignment quality metric for
    * any two labelings). All four pair sums are exact integers off the
    * |classes|² contingency rollup, kept ×2 throughout (nᵢⱼ(nᵢⱼ−1) is
    * the doubled pair count) so no integer division ever appears — the
    * ARI ratio is invariant to the common factor. Cross-margin products
    * go through DOUBLE (they overflow 64-bit at web scale). */
  val q308AdjustedRand: QuerySpec = {
    def text(spark: Boolean): String =
      s"""WITH p AS (${TextAnalysis.langidPredSql(spark)}),
         |ct AS (SELECT lang, pred_lang, COUNT(*) AS nij
         |       FROM p GROUP BY lang, pred_lang),
         |a AS (SELECT lang, CAST(SUM(nij) AS BIGINT) AS ai FROM ct GROUP BY lang),
         |b AS (SELECT pred_lang, CAST(SUM(nij) AS BIGINT) AS bj FROM ct GROUP BY pred_lang),
         |s AS (SELECT CAST(SUM(nij * (nij - 1)) AS BIGINT) AS sij2,
         |        CAST(SUM(nij) AS BIGINT) AS n
         |      FROM ct),
         |sa AS (SELECT CAST(SUM(ai * (ai - 1)) AS BIGINT) AS sa2 FROM a),
         |sb AS (SELECT CAST(SUM(bj * (bj - 1)) AS BIGINT) AS sb2 FROM b),
         |f AS (SELECT n, sij2, sa2, sb2,
         |        CAST(sa2 AS DOUBLE) * sb2 / (CAST(n AS DOUBLE) * (n - 1)) AS e2
         |      FROM s CROSS JOIN sa CROSS JOIN sb)
         |SELECT CAST(n AS BIGINT) AS n_docs,
         |  sij2 AS agree_pairs_x2,
         |  CASE WHEN (sa2 + sb2) / 2.0 - e2 = 0.0 THEN CAST(NULL AS BIGINT)
         |       ELSE CAST(ROUND((sij2 - e2) / ((sa2 + sb2) / 2.0 - e2) * 1e6)
         |         AS BIGINT) END AS ari_e6
         |FROM f""".stripMargin
    QuerySpec.sql2("q308_adjusted_rand", text(spark = true), text(spark = false))
  }

  /** nDCG@10 of the length ranking scored against lexical-diversity
    * gains — the top-weighted GRADED ranking metric (recall@k treats
    * relevance as binary, RBO compares two rankings; nDCG asks "did the
    * ranking put the high-gain items first?"). Both the system top-10
    * (by n_chars) and the ideal top-10 (by gain) are rank-FILTERED
    * total-order windows — Spark plans the partial+final
    * WindowGroupLimit, so each task forwards 10 rows, never the corpus.
    * Gains are bounded exact integers (the distinct-token count, capped
    * at 1000 so a pathological doc can't dominate the linear sum); the
    * linear-gain DCG Σ g/log₂(r+1) is 10 fixed DOUBLE terms through
    * DECIMAL(27,18). Zero ideal gain ⇒ nDCG 0 by convention. */
  val q309NdcgAt10: QuerySpec = {
    def text(spark: Boolean): String = {
      val dw = Dialect.distinctWordCount(spark)
      s"""WITH d AS (SELECT doc_id, n_chars AS xa,
         |             LEAST(CAST(1000 AS BIGINT), CAST($dw AS BIGINT)) AS g
         |           FROM documents),
         |r AS (SELECT g, ROW_NUMBER() OVER (ORDER BY xa DESC, doc_id) AS rk FROM d),
         |sys AS (SELECT g, rk FROM r WHERE rk <= 10),
         |i AS (SELECT g, ROW_NUMBER() OVER (ORDER BY g DESC, doc_id) AS rk FROM d),
         |ideal AS (SELECT g, rk FROM i WHERE rk <= 10),
         |m AS (SELECT
         |  (SELECT CAST(SUM(CAST(g / LOG2(rk + 1.0) AS DECIMAL(27,18))) AS DOUBLE)
         |   FROM sys) AS dcg,
         |  (SELECT CAST(SUM(CAST(g / LOG2(rk + 1.0) AS DECIMAL(27,18))) AS DOUBLE)
         |   FROM ideal) AS idcg)
         |SELECT CAST(ROUND(dcg * 1e6) AS BIGINT) AS dcg_e6,
         |  CAST(ROUND(idcg * 1e6) AS BIGINT) AS idcg_e6,
         |  CASE WHEN idcg = 0.0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(ROUND(dcg / idcg * 1e6) AS BIGINT) END AS ndcg10_e6
         |FROM m""".stripMargin
    }
    QuerySpec.sql2("q309_ndcg_at_10", text(spark = true), text(spark = false))
  }

  /** Quasi-identifier k-anonymity audit over the event stream: with
    * (event_type, day) as the QI tuple, how close does any group come
    * to identifying a row? One rollup to the QI-group relation, then
    * O(|groups|) algebra: minimum k, singleton and sub-5 group counts,
    * and the share of rows living in sub-5 groups (the re-identification
    * exposure a release review reads first). Pure governance screen —
    * exact integers, one corpus scan. */
  val q310KAnonymity: QuerySpec = QuerySpec.sql(
    "q310_k_anonymity",
    """WITH q AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS k
      |           FROM events GROUP BY event_type, CAST(ts AS DATE)),
      |m AS (SELECT COUNT(*) AS n_groups,
      |        CAST(MIN(k) AS BIGINT) AS min_k,
      |        CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT) AS singleton_groups,
      |        CAST(SUM(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT) AS groups_below_5,
      |        CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS rows_below_5,
      |        CAST(SUM(k) AS BIGINT) AS n_rows
      |      FROM q)
      |SELECT CAST(n_groups AS BIGINT) AS n_groups, min_k, singleton_groups,
      |  groups_below_5, rows_below_5,
      |  CAST(ROUND(rows_below_5 * 1e6 / CAST(n_rows AS DOUBLE)) AS BIGINT)
      |    AS exposure_share_e6
      |FROM m""".stripMargin)

  /** Encoding / mojibake QC over an inline fixture (the driver corpus is
    * clean ASCII, so the fixture carries the failure shapes: UTF-8
    * replacement characters, the 'Ã©'-style double-decode signature, a
    * control character via CHR(7), and LEGITIMATE accented text that
    * must NOT flag as mojibake). Counts are regex matches over
    * escape-free character classes ('[ -~]' = printable ASCII) so both
    * engines' regex dialects agree; everything is per-row map work at
    * corpus scale. */
  val q311EncodingQc: QuerySpec = {
    def text(spark: Boolean): String =
      s"""WITH fixture(id, t) AS (VALUES
         |    (1, 'clean ascii text only.'),
         |    (2, 'mojibake cafÃ© and seÃ±or from a double decode'),
         |    (3, 'bad bytes � here � twice'),
         |    (4, 'control ' || CHR(7) || ' char embedded'),
         |    (5, 'legit accents: café résumé naïve')),
         |sc AS (SELECT id,
         |         LENGTH(t) AS n_cp,
         |         ${Dialect.regexCount(spark, "t", "[ -~]")} AS n_print,
         |         ${Dialect.regexCount(spark, "t", "�")} AS n_repl,
         |         ${Dialect.regexCount(spark, "t", "Ã")} AS n_moji
         |       FROM fixture)
         |SELECT id, CAST(n_cp AS BIGINT) AS n_cp,
         |  CAST(n_cp - n_print AS BIGINT) AS n_nonprint,
         |  CAST(n_repl AS BIGINT) AS n_replacement,
         |  CAST(n_moji AS BIGINT) AS n_mojibake_marks,
         |  CASE WHEN n_repl > 0 OR n_moji > 0 THEN 'mojibake'
         |       WHEN n_cp - n_print > 0 THEN 'nonascii'
         |       ELSE 'ok' END AS verdict
         |FROM sc ORDER BY id""".stripMargin
    QuerySpec.sql2("q311_encoding_qc", text(spark = true), text(spark = false))
  }

  /** Flesch reading-ease per source — the classic readability screen
    * (vowel-group syllable proxy, sentence count from terminal
    * punctuation): template text and natural text separate cleanly on
    * it, which makes the per-source mean a cheap source-mix diagnostic.
    * All per-doc counts are map-side regex/split work; each doc's score
    * is one fixed DOUBLE tree over exact integers; the per-source means
    * go through DECIMAL(27,18) sums over the |sources|-group rollup. */
  val q312Readability: QuerySpec = {
    def text(spark: Boolean): String = {
      val words = Dialect.wordCount(spark)
      s"""WITH d AS (SELECT source,
         |    $words AS w,
         |    GREATEST(1, ${Dialect.regexCount(spark, "text", "[.!?]")}) AS s,
         |    ${Dialect.regexCount(spark, "text", "[aeiouyAEIOUY]+")} AS y
         |  FROM documents),
         |f AS (SELECT source,
         |    CAST(206.835 AS DOUBLE)
         |      - CAST(1.015 AS DOUBLE) * (CAST(w AS DOUBLE) / s)
         |      - CAST(84.6 AS DOUBLE) * (CAST(y AS DOUBLE) / w) AS flesch,
         |    w, s
         |  FROM d),
         |g AS (SELECT source, COUNT(*) AS n,
         |    CAST(SUM(CAST(flesch AS DECIMAL(27,18))) AS DOUBLE) AS sf,
         |    CAST(SUM(w) AS BIGINT) AS sw, CAST(SUM(s) AS BIGINT) AS ss
         |  FROM f GROUP BY source)
         |SELECT source, CAST(n AS BIGINT) AS n_docs,
         |  CAST(ROUND(sf / n * 1e2) AS BIGINT) AS mean_flesch_e2,
         |  CAST(ROUND(sw * 1e2 / CAST(ss AS DOUBLE)) AS BIGINT)
         |    AS words_per_sentence_e2
         |FROM g ORDER BY source""".stripMargin
    }
    QuerySpec.sql2("q312_readability", text(spark = true), text(spark = false))
  }

  /** Homogeneity / completeness / V-measure of the language-ID
    * partition against the true languages — the information-theoretic
    * partition score next to q308's pair-counting ARI (the two
    * disagree exactly when clusters are split vs merged, which is why
    * both belong in a cluster-quality report). All entropies are
    * Σ-over-cells of the SAME |classes|² contingency rollup q308 uses:
    * H(C|K) = −Σᵢⱼ (nᵢⱼ/n)·ln(nᵢⱼ/bⱼ), each term a fixed DOUBLE tree
    * over exact integers through DECIMAL(27,18). h=1 when H(C)=0 by
    * convention (and symmetrically for c); v = 2hc/(h+c), 0 when both
    * vanish. */
  val q313VMeasure: QuerySpec = {
    def text(spark: Boolean): String =
      s"""WITH p AS (${TextAnalysis.langidPredSql(spark)}),
         |ct AS (SELECT lang, pred_lang, COUNT(*) AS nij
         |       FROM p GROUP BY lang, pred_lang),
         |n AS (SELECT CAST(SUM(nij) AS BIGINT) AS n FROM ct),
         |a AS (SELECT lang, CAST(SUM(nij) AS BIGINT) AS ai FROM ct GROUP BY lang),
         |b AS (SELECT pred_lang, CAST(SUM(nij) AS BIGINT) AS bj FROM ct GROUP BY pred_lang),
         |hc AS (SELECT CAST(SUM(CAST(-(ai / CAST(n AS DOUBLE))
         |           * LN(ai / CAST(n AS DOUBLE)) AS DECIMAL(27,18))) AS DOUBLE) AS h
         |       FROM a CROSS JOIN n),
         |hk AS (SELECT CAST(SUM(CAST(-(bj / CAST(n AS DOUBLE))
         |           * LN(bj / CAST(n AS DOUBLE)) AS DECIMAL(27,18))) AS DOUBLE) AS h
         |       FROM b CROSS JOIN n),
         |hck AS (SELECT CAST(SUM(CAST(-(nij / CAST(n AS DOUBLE))
         |            * LN(nij / CAST(bj AS DOUBLE)) AS DECIMAL(27,18))) AS DOUBLE) AS h
         |        FROM ct JOIN b ON ct.pred_lang = b.pred_lang CROSS JOIN n),
         |hkc AS (SELECT CAST(SUM(CAST(-(nij / CAST(n AS DOUBLE))
         |            * LN(nij / CAST(ai AS DOUBLE)) AS DECIMAL(27,18))) AS DOUBLE) AS h
         |        FROM ct JOIN a ON ct.lang = a.lang CROSS JOIN n),
         |f AS (SELECT
         |        CASE WHEN hc.h = 0.0 THEN 1.0 ELSE 1.0 - hck.h / hc.h END AS hom,
         |        CASE WHEN hk.h = 0.0 THEN 1.0 ELSE 1.0 - hkc.h / hk.h END AS com
         |      FROM hc CROSS JOIN hk CROSS JOIN hck CROSS JOIN hkc)
         |SELECT CAST(ROUND(hom * 1e6) AS BIGINT) AS homogeneity_e6,
         |  CAST(ROUND(com * 1e6) AS BIGINT) AS completeness_e6,
         |  CASE WHEN hom + com = 0.0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(ROUND(2.0 * hom * com / (hom + com) * 1e6) AS BIGINT)
         |       END AS v_measure_e6
         |FROM f""".stripMargin
    // Spark side is DataFrame code staging the contingency table ONCE
    // (oracle text unchanged): Spark inlines a multi-referenced CTE, so
    // the shared-SQL form re-ran the langid corpus pass per `ct`
    // reference — Scan[documents]=10 in the registry fingerprint (the
    // q174 trap, r21 guide §2.4/§6). Every expression below copies the
    // SQL text verbatim so the arithmetic (and its coercions) is
    // bit-identical to the shared form the oracle gates.
    QuerySpec("q313_v_measure", text(spark = false)) { (s, dir) =>
      import graft.llmops.Checkpoints.Stageable
      val sp = QuerySpec.prepared(s, dir)
      val ct = sp.sql(
        s"""SELECT lang, pred_lang, COUNT(*) AS nij
           |FROM (${TextAnalysis.langidPredSql(spark = true)}) p
           |GROUP BY lang, pred_lang""".stripMargin)
        .staged // the ONE corpus pass; 6 readers below are cell-grain
      val n = ct.selectExpr("CAST(SUM(nij) AS BIGINT) AS n")
      val a = ct.groupBy(col("lang"))
        .agg(expr("CAST(SUM(nij) AS BIGINT)").as("ai"))
      val b = ct.groupBy(col("pred_lang"))
        .agg(expr("CAST(SUM(nij) AS BIGINT)").as("bj"))
      val hc = a.crossJoin(n).selectExpr(
        "CAST(SUM(CAST(-(ai / CAST(n AS DOUBLE)) * LN(ai / CAST(n AS DOUBLE))" +
          " AS DECIMAL(27,18))) AS DOUBLE) AS h")
      val hk = b.crossJoin(n).selectExpr(
        "CAST(SUM(CAST(-(bj / CAST(n AS DOUBLE)) * LN(bj / CAST(n AS DOUBLE))" +
          " AS DECIMAL(27,18))) AS DOUBLE) AS h")
      val hck = ct.join(b, "pred_lang").crossJoin(n).selectExpr(
        "CAST(SUM(CAST(-(nij / CAST(n AS DOUBLE)) * LN(nij / CAST(bj AS DOUBLE))" +
          " AS DECIMAL(27,18))) AS DOUBLE) AS h")
      val hkc = ct.join(a, "lang").crossJoin(n).selectExpr(
        "CAST(SUM(CAST(-(nij / CAST(n AS DOUBLE)) * LN(nij / CAST(ai AS DOUBLE))" +
          " AS DECIMAL(27,18))) AS DOUBLE) AS h")
      val f = hc.select(col("h").as("hch"))
        .crossJoin(hk.select(col("h").as("hkh")))
        .crossJoin(hck.select(col("h").as("hckh")))
        .crossJoin(hkc.select(col("h").as("hkch")))
        .selectExpr(
          "CASE WHEN hch = 0.0 THEN 1.0 ELSE 1.0 - hckh / hch END AS hom",
          "CASE WHEN hkh = 0.0 THEN 1.0 ELSE 1.0 - hkch / hkh END AS com")
      f.selectExpr(
        "CAST(ROUND(hom * 1e6) AS BIGINT) AS homogeneity_e6",
        "CAST(ROUND(com * 1e6) AS BIGINT) AS completeness_e6",
        "CASE WHEN hom + com = 0.0 THEN CAST(0 AS BIGINT) " +
          "ELSE CAST(ROUND(2.0 * hom * com / (hom + com) * 1e6) AS BIGINT) " +
          "END AS v_measure_e6")
    }
  }

  /** Population stability index of the length distribution between two
    * sources — the standard train-vs-serving drift scalar next to
    * q294's KS tests (PSI reads in fixed bins with named thresholds:
    * <0.1 stable, >0.25 shifted — what a model-ops dashboard actually
    * shows). Bins are the REFERENCE source's deciles, derived exactly
    * on the score-cardinality relation (q232's machinery: running-sum
    * CDF, boundary = MIN score with cdf ≥ k/10 — integer boundaries,
    * no interpolation); both sources then bin by counting boundaries
    * below each score against the broadcast 9-row boundary relation.
    * +1/+10 Laplace smoothing keeps ln finite on empty bins; every
    * term is a fixed DOUBLE tree through DECIMAL(27,18). */
  val q314PsiDrift: QuerySpec = psiDriftSpec

  private def psiDriftSpec: QuerySpec = QuerySpec(
    "q314_psi_drift",
    """WITH sc AS (SELECT source, n_chars AS score, COUNT(*) AS cnt
      |            FROM documents WHERE source IN ('src0', 'src1')
      |            GROUP BY source, n_chars),
      |ref AS (SELECT score,
      |          CAST(SUM(cnt) OVER (ORDER BY score) AS BIGINT) AS cdf,
      |          CAST(SUM(cnt) OVER () AS BIGINT) AS n
      |        FROM sc WHERE source = 'src0'),
      |bd AS (SELECT k, MIN(score) AS b
      |       FROM ref CROSS JOIN (SELECT 1 AS k UNION ALL SELECT 2 UNION ALL
      |         SELECT 3 UNION ALL SELECT 4 UNION ALL SELECT 5 UNION ALL
      |         SELECT 6 UNION ALL SELECT 7 UNION ALL SELECT 8 UNION ALL
      |         SELECT 9) ks
      |       WHERE cdf * 10 >= k * n GROUP BY k),
      |binned AS (SELECT sc.source,
      |             (SELECT COUNT(*) FROM bd WHERE bd.b < sc.score) AS bin,
      |             CAST(SUM(sc.cnt) AS BIGINT) AS cnt
      |           FROM sc
      |           GROUP BY sc.source, (SELECT COUNT(*) FROM bd WHERE bd.b < sc.score)),
      |grid AS (SELECT b0.bin FROM (SELECT DISTINCT bin FROM binned) b0),
      |pq AS (SELECT g.bin,
      |         CAST(COALESCE(MAX(CASE WHEN source = 'src0' THEN cnt END), 0) AS BIGINT) AS p0,
      |         CAST(COALESCE(MAX(CASE WHEN source = 'src1' THEN cnt END), 0) AS BIGINT) AS q0
      |       FROM grid g LEFT JOIN binned ON g.bin = binned.bin
      |       GROUP BY g.bin),
      |t AS (SELECT CAST(SUM(p0) AS BIGINT) AS np, CAST(SUM(q0) AS BIGINT) AS nq,
      |        COUNT(*) AS nb
      |      FROM pq),
      |m AS (SELECT CAST(SUM(CAST(
      |          ((p0 + 1.0) / (np + nb) - (q0 + 1.0) / (nq + nb))
      |          * LN(((p0 + 1.0) / (np + nb)) / ((q0 + 1.0) / (nq + nb)))
      |        AS DECIMAL(27,18))) AS DOUBLE) AS psi
      |      FROM pq CROSS JOIN t)
      |SELECT CAST(ROUND(psi * 1e6) AS BIGINT) AS psi_e6,
      |  CASE WHEN psi < 0.1 THEN 'stable'
      |       WHEN psi < 0.25 THEN 'moderate'
      |       ELSE 'shifted' END AS verdict
      |FROM m""".stripMargin) { (s, dir) =>
    // Spark side in DataFrame form (oracle text above unchanged): the
    // shared-SQL form inlined the multi-referenced `sc`/`bd` CTEs and
    // the correlated bin subquery into Scan[documents]=12 + 32 shuffles
    // (registry fingerprint) — the q174 trap (r21; guide §2.4/§6). One
    // staged corpus rollup; the correlated COUNT(*) becomes a ≤9-row
    // broadcast join counted per (source, score) — identical algebra
    // ((source, score) is unique in sc, so counting matches then
    // summing cnt per (source, bin) IS the original grouping). All
    // arithmetic fragments are copied verbatim from the SQL text.
    import graft.llmops.Checkpoints.Stageable
    val sp = QuerySpec.prepared(s, dir)
    val sc = sp.sql(
      """SELECT source, n_chars AS score, COUNT(*) AS cnt
        |FROM documents WHERE source IN ('src0', 'src1')
        |GROUP BY source, n_chars""".stripMargin)
      .staged // the ONE corpus pass; ref + binned read it
    val ref = sc.filter("source = 'src0'").selectExpr("score",
      "CAST(SUM(cnt) OVER (ORDER BY score) AS BIGINT) AS cdf",
      "CAST(SUM(cnt) OVER () AS BIGINT) AS n")
    val ks = sp.sql("SELECT explode(sequence(1, 9)) AS k")
    val bd = ref.crossJoin(ks).filter(expr("cdf * 10 >= k * n"))
      .groupBy(col("k")).agg(min(col("score")).as("b"))
    val binned = sc.join(broadcast(bd), col("b") < col("score"), "left")
      .groupBy(col("source"), col("score"), col("cnt"))
      .agg(count(col("b")).as("bin"))
      .groupBy(col("source"), col("bin"))
      .agg(expr("CAST(SUM(cnt) AS BIGINT)").as("cnt"))
    val grid = binned.select(col("bin")).distinct()
    val pq = grid.join(binned, Seq("bin"), "left")
      .groupBy(col("bin")).agg(
        expr("CAST(COALESCE(MAX(CASE WHEN source = 'src0' THEN cnt END), 0)" +
          " AS BIGINT)").as("p0"),
        expr("CAST(COALESCE(MAX(CASE WHEN source = 'src1' THEN cnt END), 0)" +
          " AS BIGINT)").as("q0"))
    val t = pq.selectExpr("CAST(SUM(p0) AS BIGINT) AS np",
      "CAST(SUM(q0) AS BIGINT) AS nq", "COUNT(*) AS nb")
    val m = pq.crossJoin(t).selectExpr(
      "CAST(SUM(CAST(((p0 + 1.0) / (np + nb) - (q0 + 1.0) / (nq + nb))" +
        " * LN(((p0 + 1.0) / (np + nb)) / ((q0 + 1.0) / (nq + nb)))" +
        " AS DECIMAL(27,18))) AS DOUBLE) AS psi")
    m.selectExpr("CAST(ROUND(psi * 1e6) AS BIGINT) AS psi_e6",
      "CASE WHEN psi < 0.1 THEN 'stable' WHEN psi < 0.25 THEN 'moderate' " +
        "ELSE 'shifted' END AS verdict")
  }

  /** McNemar's test for PAIRED classifier comparison: do the length
    * flag and the token-count flag differ in accuracy against the weak
    * English label, judged only on the DISCORDANT documents (the pairs
    * where exactly one is right — the information a pooled accuracy
    * diff throws away)? χ² = (b−c)²/(b+c) in exact integers until one
    * division; the corpus collapses to the 2×2 discordance table in
    * one rollup. No discordant docs ⇒ NULL (test undefined). */
  val q315Mcnemar: QuerySpec = {
    def text(spark: Boolean): String = {
      val words = Dialect.wordCount(spark)
      s"""WITH d AS (SELECT
         |    CASE WHEN (n_chars >= 300) = (lang = 'en') THEN 1 ELSE 0 END AS ok_a,
         |    CASE WHEN ($words >= 55) = (lang = 'en') THEN 1 ELSE 0 END AS ok_b
         |  FROM documents),
         |t AS (SELECT
         |        CAST(SUM(ok_a * (1 - ok_b)) AS BIGINT) AS b,
         |        CAST(SUM((1 - ok_a) * ok_b) AS BIGINT) AS c,
         |        CAST(SUM(ok_a) AS BIGINT) AS acc_a,
         |        CAST(SUM(ok_b) AS BIGINT) AS acc_b,
         |        COUNT(*) AS n
         |      FROM d)
         |SELECT CAST(n AS BIGINT) AS n_docs, b AS a_only_correct, c AS b_only_correct,
         |  CAST(ROUND(acc_a * 1e6 / n) AS BIGINT) AS acc_a_e6,
         |  CAST(ROUND(acc_b * 1e6 / n) AS BIGINT) AS acc_b_e6,
         |  CASE WHEN b + c = 0 THEN CAST(NULL AS BIGINT)
         |       ELSE CAST(ROUND((b - c) * (b - c) * 1e6
         |              / CAST(b + c AS DOUBLE)) AS BIGINT)
         |       END AS mcnemar_chi2_e6
         |FROM t""".stripMargin
    }
    QuerySpec.sql2("q315_mcnemar", text(spark = true), text(spark = false))
  }

  /** Kendall's τ-b between document length and lexical diversity — the
    * concordance-based companion to q282's Spearman ρ (τ has a direct
    * probabilistic reading — P(concordant) − P(discordant) — and is
    * more robust to a few extreme ranks; reporting both is standard).
    * The O(n²) pair classification collapses to the JOINT-CELL
    * relation first (value-cardinality² cell pairs, never corpus²):
    * concordant/discordant pair counts are c·c′ products over cell
    * pairs with x strictly ordered, tie corrections come from the two
    * marginals' C(c,2) sums, and everything is exact integers kept ×2
    * (no integer division) until the one sqrt. The cell self-join is
    * broadcast (the collapsed relation is tiny); an all-tied axis
    * makes τ undefined ⇒ NULL. */
  val q316KendallTau: QuerySpec = {
    def text(spark: Boolean): String = {
      val dw = Dialect.distinctWordCount(spark)
      s"""WITH d AS (SELECT n_chars AS x, $dw AS y FROM documents),
         |j AS (SELECT x, y, COUNT(*) AS c FROM d GROUP BY x, y),
         |pr AS (SELECT /*+ BROADCAST(a) */
         |        CAST(SUM(CASE WHEN a.y < b.y THEN a.c * b.c ELSE 0 END) AS BIGINT) AS conc,
         |        CAST(SUM(CASE WHEN a.y > b.y THEN a.c * b.c ELSE 0 END) AS BIGINT) AS disc
         |      FROM j a JOIN j b ON a.x < b.x),
         |mx AS (SELECT x, CAST(SUM(c) AS BIGINT) AS cx FROM j GROUP BY x),
         |my AS (SELECT y, CAST(SUM(c) AS BIGINT) AS cy FROM j GROUP BY y),
         |tx AS (SELECT CAST(SUM(cx * (cx - 1)) AS BIGINT) AS t1x2 FROM mx),
         |ty AS (SELECT CAST(SUM(cy * (cy - 1)) AS BIGINT) AS t1y2 FROM my),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM j),
         |f AS (SELECT n, conc, disc,
         |        CAST(n AS DOUBLE) * (n - 1) - t1x2 AS dx2,
         |        CAST(n AS DOUBLE) * (n - 1) - t1y2 AS dy2
         |      FROM pr CROSS JOIN tx CROSS JOIN ty CROSS JOIN tot)
         |SELECT CAST(n AS BIGINT) AS n_docs, conc AS concordant, disc AS discordant,
         |  CASE WHEN dx2 = 0.0 OR dy2 = 0.0 THEN CAST(NULL AS BIGINT)
         |       ELSE CAST(ROUND(2.0 * (conc - disc) / SQRT(dx2 * dy2) * 1e6)
         |         AS BIGINT) END AS kendall_tau_b_e6
         |FROM f""".stripMargin
    }
    // Spark side in DataFrame form (oracle text unchanged): the
    // shared-SQL form inlined the multi-referenced joint-cell CTE `j`
    // into Scan[documents]=5 — five corpus passes each recomputing the
    // array_distinct tokenization (the q174 trap; r21, guide §2.4/§6).
    // One staged cell rollup; the self-join and the marginals read the
    // checkpoint. Expressions copied verbatim from the SQL text.
    QuerySpec("q316_kendall_tau", text(spark = false)) { (s, dir) =>
      import graft.llmops.Checkpoints.Stageable
      val sp = QuerySpec.prepared(s, dir)
      val j = sp.sql(
        """SELECT x, y, COUNT(*) AS c FROM
          |  (SELECT n_chars AS x, size(array_distinct(split(text, ' '))) AS y
          |   FROM documents) d
          |GROUP BY x, y""".stripMargin)
        .staged // the ONE corpus pass; pair arms + marginals read it
      val pr = broadcast(j.as("a")).join(j.as("b"), expr("a.x < b.x"))
        .selectExpr(
          "CAST(SUM(CASE WHEN a.y < b.y THEN a.c * b.c ELSE 0 END) AS BIGINT)" +
            " AS conc",
          "CAST(SUM(CASE WHEN a.y > b.y THEN a.c * b.c ELSE 0 END) AS BIGINT)" +
            " AS disc")
      val tx = j.groupBy(col("x")).agg(expr("CAST(SUM(c) AS BIGINT)").as("cx"))
        .selectExpr("CAST(SUM(cx * (cx - 1)) AS BIGINT) AS t1x2")
      val ty = j.groupBy(col("y")).agg(expr("CAST(SUM(c) AS BIGINT)").as("cy"))
        .selectExpr("CAST(SUM(cy * (cy - 1)) AS BIGINT) AS t1y2")
      val tot = j.selectExpr("CAST(SUM(c) AS BIGINT) AS n")
      val f = pr.crossJoin(tx).crossJoin(ty).crossJoin(tot)
        .selectExpr("n", "conc", "disc",
          "CAST(n AS DOUBLE) * (n - 1) - t1x2 AS dx2",
          "CAST(n AS DOUBLE) * (n - 1) - t1y2 AS dy2")
      f.selectExpr("CAST(n AS BIGINT) AS n_docs", "conc AS concordant",
        "disc AS discordant",
        "CASE WHEN dx2 = 0.0 OR dy2 = 0.0 THEN CAST(NULL AS BIGINT) " +
          "ELSE CAST(ROUND(2.0 * (conc - disc) / SQRT(dx2 * dy2) * 1e6)" +
          " AS BIGINT) END AS kendall_tau_b_e6")
    }
  }

  /** The three CONTINUOUS per-doc quality scores shared by q329/q330:
    * character count, word count, distinct-word count — the raw-score
    * versions of the binary raters above, for the continuous-agreement
    * statistics. All exact integers per document. */
  private def scoresSql(spark: Boolean): String = {
    val words = Dialect.wordCount(spark)
    val dw = Dialect.distinctWordCount(spark)
    s"""SELECT CAST(n_chars AS BIGINT) AS x1, CAST($words AS BIGINT) AS x2,
       |       CAST($dw AS BIGINT) AS x3
       |FROM documents""".stripMargin
  }

  /** Cronbach's alpha over the three continuous quality scores — the
    * internal-consistency number that says whether the cheap signals
    * measure ONE underlying construct (α high ⇒ a composite quality
    * score is meaningful; α low ⇒ averaging them mixes constructs).
    * α = k/(k−1)·(1 − Σσ²ᵢ/σ²_total) with every variance an exact
    * integer-moment identity (n·Σx² − (Σx)² over n²) from ONE corpus
    * rollup — k BIGINT sums, k sum-of-squares, the row-total pair; no
    * second pass, no per-doc state. DECIMAL(38,0) headroom on the
    * squared sums; zero total variance ⇒ NULL. */
  val q329CronbachAlpha: QuerySpec = {
    def text(spark: Boolean): String =
      s"""WITH d AS (${scoresSql(spark)}),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |        CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         |        CAST(SUM(x3) AS BIGINT) AS s3,
         |        CAST(SUM(CAST(x1 AS DECIMAL(38,0)) * x1) AS DECIMAL(38,0)) AS q1,
         |        CAST(SUM(CAST(x2 AS DECIMAL(38,0)) * x2) AS DECIMAL(38,0)) AS q2,
         |        CAST(SUM(CAST(x3 AS DECIMAL(38,0)) * x3) AS DECIMAL(38,0)) AS q3,
         |        CAST(SUM(x1 + x2 + x3) AS BIGINT) AS st,
         |        CAST(SUM(CAST(x1 + x2 + x3 AS DECIMAL(38,0)) * (x1 + x2 + x3))
         |          AS DECIMAL(38,0)) AS qt
         |      FROM d)
         |SELECT n AS n_docs,
         |  CASE WHEN CAST(n AS DOUBLE) * CAST(qt AS DOUBLE)
         |            - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) = 0
         |       THEN CAST(NULL AS BIGINT)
         |       ELSE CAST(ROUND(1.5 * (1.0
         |         - ((CAST(n AS DOUBLE) * CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1)
         |            + (CAST(n AS DOUBLE) * CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2)
         |            + (CAST(n AS DOUBLE) * CAST(q3 AS DOUBLE) - CAST(s3 AS DOUBLE) * s3))
         |           / (CAST(n AS DOUBLE) * CAST(qt AS DOUBLE)
         |              - CAST(st AS DOUBLE) * st)) * 1e6) AS BIGINT) END
         |    AS alpha_e6
         |FROM m""".stripMargin
    QuerySpec.sql2("q329_cronbach_alpha", text(spark = true), text(spark = false))
  }

  /** Two-way intraclass correlation ICC(2,1) treating the three scores
    * as random "raters" — the absolute-agreement companion to
    * [[q329CronbachAlpha]]'s consistency (ICC also punishes systematic
    * scale offsets between raters, which α forgives). The classical
    * mean-squares decomposition is FOUR exact integer moments from the
    * same one-pass rollup (Σx², row-total Σt², per-rater totals, grand
    * total): SS_rows = Σt²/k − G²/(nk), SS_cols = ΣSⱼ²/n − G²/(nk),
    * SS_err the remainder — every term integer until the final doubles;
    * ICC(2,1) = (MSR−MSE)/(MSR + (k−1)MSE + k(MSC−MSE)/n). Degenerate
    * zero-denominator corpora report NULL. */
  val q330Icc21: QuerySpec = {
    def text(spark: Boolean): String =
      s"""WITH d AS (${scoresSql(spark)}),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |        CAST(SUM(x1) AS BIGINT) AS c1, CAST(SUM(x2) AS BIGINT) AS c2,
         |        CAST(SUM(x3) AS BIGINT) AS c3,
         |        CAST(SUM(CAST(x1 AS DECIMAL(38,0)) * x1
         |                 + CAST(x2 AS DECIMAL(38,0)) * x2
         |                 + CAST(x3 AS DECIMAL(38,0)) * x3) AS DECIMAL(38,0)) AS qq,
         |        CAST(SUM(CAST(x1 + x2 + x3 AS DECIMAL(38,0)) * (x1 + x2 + x3))
         |          AS DECIMAL(38,0)) AS qt
         |      FROM d),
         |s AS (SELECT n,
         |        CAST(qt AS DOUBLE) / 3 - CAST(c1 + c2 + c3 AS DOUBLE)
         |          * (c1 + c2 + c3) / (3.0 * n) AS ss_rows,
         |        (CAST(c1 AS DOUBLE) * c1 + CAST(c2 AS DOUBLE) * c2
         |         + CAST(c3 AS DOUBLE) * c3) / n
         |          - CAST(c1 + c2 + c3 AS DOUBLE) * (c1 + c2 + c3) / (3.0 * n)
         |          AS ss_cols,
         |        CAST(qq AS DOUBLE) - CAST(c1 + c2 + c3 AS DOUBLE)
         |          * (c1 + c2 + c3) / (3.0 * n) AS ss_total
         |      FROM m),
         |ms AS (SELECT n, ss_rows / (n - 1) AS msr, ss_cols / 2 AS msc,
         |         (ss_total - ss_rows - ss_cols) / ((n - 1) * 2.0) AS mse
         |       FROM s)
         |SELECT CAST(n AS BIGINT) AS n_docs,
         |  CASE WHEN msr + 2 * mse + 3 * (msc - mse) / n = 0
         |       THEN CAST(NULL AS BIGINT)
         |       ELSE CAST(ROUND((msr - mse)
         |         / (msr + 2 * mse + 3 * (msc - mse) / n) * 1e6) AS BIGINT) END
         |    AS icc21_e6
         |FROM ms""".stripMargin
    QuerySpec.sql2("q330_icc_absolute", text(spark = true), text(spark = false))
  }

  /** Lin's concordance correlation + Bland-Altman limits between the
    * character count and a rescaled word count (5·words — the two
    * length measures a pipeline treats as interchangeable): CCC asks
    * "can one REPLACE the other?" (it punishes scale and location
    * shifts Pearson r forgives), Bland-Altman reports the bias and the
    * ±1.96σ band the replacement error lives in. One rollup of exact
    * integer moments (sums, squares, cross-products, difference
    * moments with DECIMAL(38,0) headroom); both statistics are single
    * fixed DOUBLE trees; zero combined variance ⇒ NULL CCC. */
  val q331ConcordanceLimits: QuerySpec = {
    def text(spark: Boolean): String = {
      val words = Dialect.wordCount(spark)
      s"""WITH d AS (SELECT CAST(n_chars AS BIGINT) AS x,
         |             CAST(5 * $words AS BIGINT) AS y
         |           FROM documents),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |        CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS qx,
         |        CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS qy,
         |        CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS qxy
         |      FROM d),
         |v AS (SELECT n,
         |        CAST(sx AS DOUBLE) / n AS mx, CAST(sy AS DOUBLE) / n AS my,
         |        (CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / n AS vx,
         |        (CAST(qy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / n AS vy,
         |        (CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) / n AS cxy
         |      FROM m)
         |SELECT CAST(n AS BIGINT) AS n_docs,
         |  CASE WHEN vx + vy + (mx - my) * (mx - my) = 0 THEN CAST(NULL AS BIGINT)
         |       ELSE CAST(ROUND(2.0 * cxy
         |         / (vx + vy + (mx - my) * (mx - my)) * 1e6) AS BIGINT) END
         |    AS ccc_e6,
         |  CAST(ROUND((mx - my) * 1e2) AS BIGINT) AS ba_bias_e2,
         |  CAST(ROUND(SQRT(GREATEST(vx + vy - 2 * cxy, 0.0)) * 1e2) AS BIGINT) AS ba_sd_e2,
         |  CAST(ROUND(((mx - my) - 1.96 * SQRT(GREATEST(vx + vy - 2 * cxy, 0.0))) * 1e2)
         |    AS BIGINT) AS ba_lower_e2,
         |  CAST(ROUND(((mx - my) + 1.96 * SQRT(GREATEST(vx + vy - 2 * cxy, 0.0))) * 1e2)
         |    AS BIGINT) AS ba_upper_e2
         |FROM v""".stripMargin
    }
    QuerySpec.sql2("q331_concordance_limits", text(spark = true), text(spark = false))
  }

  /** l-diversity of the transaction-value band within each
    * quasi-identifier group — the [[q310KAnonymity]] follow-up: k
    * anonymity says groups are big, l-diversity says the SENSITIVE
    * value inside a group isn't uniform (a 50-person group that all
    * share one value band still leaks it). Sensitive attribute = the
    * 5-way value band (fixed integer boundaries, replayed exactly);
    * per QI group (event_type, day): distinct-l and entropy-l
    * (e^H — the effective number of bands an attacker faces).
    * Scale shape: ONE rollup to the (QI, band) relation (≤ 5·|groups|
    * rows), per-group entropies over ≤ 5-row slices with
    * DECIMAL(38,18) accumulation, then a |groups|-row summary.
    * Reported: worst distinct-l, worst entropy-l, share of groups
    * below l = 3 — the numbers a release gate thresholds on. */
  val q335LDiversity: QuerySpec = QuerySpec.sql(
    "q335_l_diversity",
    """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |    CASE WHEN value < 50 THEN 0 WHEN value < 150 THEN 1
      |         WHEN value < 250 THEN 2 WHEN value < 350 THEN 3
      |         ELSE 4 END AS band
      |  FROM events),
      |gb AS (SELECT event_type, day, band, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM d GROUP BY event_type, day, band),
      |g AS (SELECT event_type, day,
      |        CAST(COUNT(*) AS BIGINT) AS l_distinct,
      |        CAST(SUM(c) AS BIGINT) AS n,
      |        CAST(SUM(CAST(c * LN(CAST(c AS DOUBLE)) AS DECIMAL(38,18)))
      |          AS DOUBLE) AS clnc
      |      FROM gb GROUP BY event_type, day),
      |e AS (SELECT event_type, day, l_distinct, n,
      |        EXP(LN(CAST(n AS DOUBLE)) - clnc / n) AS l_entropy
      |      FROM g)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
      |  CAST(MIN(l_distinct) AS BIGINT) AS min_distinct_l,
      |  CAST(ROUND(MIN(l_entropy) * 1e6) AS BIGINT) AS min_entropy_l_e6,
      |  CAST(SUM(CASE WHEN l_distinct < 3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS groups_below_3,
      |  CAST(ROUND(SUM(CASE WHEN l_distinct < 3 THEN n ELSE 0 END) * 1e6
      |    / CAST(SUM(n) AS DOUBLE)) AS BIGINT) AS exposure_share_e6
      |FROM e""".stripMargin)

  val all: Seq[QuerySpec] = Seq(
    q306FleissKappa, q307KrippendorffAlpha, q308AdjustedRand,
    q309NdcgAt10, q310KAnonymity, q311EncodingQc, q312Readability,
    q313VMeasure, q314PsiDrift, q315Mcnemar, q316KendallTau,
    q329CronbachAlpha, q330Icc21, q331ConcordanceLimits, q335LDiversity)
}
