package graft.llmops

import graft.llmops.Checkpoints.Stageable
import graft.QuerySpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation — language ID,
  * quality scoring, token counting, document fingerprinting (llmops
  * extension; no reference equivalent). All are single-pass, per-row
  * expression pipelines: at 100 TB they run inside whole-stage codegen on
  * the scan with zero shuffles (the rollups shuffle only the grouped
  * summaries).
  */
object TextAnalysis {

  /** Function-word-profile language ID with a deterministic arg-max
    * (ties broken by fixed language order). The profiles are standard
    * public function-word lists; scores are word-boundary regexp counts,
    * identical on both engines. */
  // language → function-word alternation (kept tiny & public-knowledge)
  private val langProfiles = Seq(
    "de" -> "(der|die|das|und|ist|nicht|mit|ein)",
    "en" -> "(the|and|of|to|is|in|that|it)",
    "es" -> "(el|la|los|de|que|y|en|un)",
    "fr" -> "(le|la|les|et|de|un|que|pour)",
    "zh" -> "(的|是|了|在|我|有|和|不)")

  /** Shared language-ID predictor subquery: `doc_id, lang, pred_lang`
    * from the function-word profile scores — used by [[q88LangId]] and
    * the [[q301LangidConfusion]] classification eval. */
  private[llmops] def langidPredSql(spark: Boolean): String = {
    def scoreCol(pat: String): String =
      if (spark) s"size(regexp_extract_all(text, '(^| )$pat( |$$)', 0))"
      else s"len(regexp_extract_all(text, '(^| )$pat( |$$)'))"
    val selects = langProfiles.map { case (l, p) =>
      s"  ${scoreCol(p)} AS s_$l"
    }.mkString(",\n")
    val pred =
      """CASE
        |  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |  WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |  WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |  WHEN s_fr >= s_zh THEN 'fr'
        |  ELSE 'zh' END""".stripMargin
    s"""SELECT doc_id, lang, $pred AS pred_lang
       |      FROM (SELECT doc_id, lang,
       |$selects
       |            FROM documents) scored""".stripMargin
  }

  val q88LangId: QuerySpec = {
    def text(spark: Boolean): String =
      s"""SELECT doc_id, lang, pred_lang, (lang = pred_lang) AS hit
         |FROM (${langidPredSql(spark)}) p
         |ORDER BY doc_id""".stripMargin
    QuerySpec.sql2("q88_text_langid", text(spark = true), text(spark = false))
  }

  /** Per-class precision / recall / F1 + overall accuracy of the
    * [[q88LangId]] heuristic against the declared `lang` label — the
    * multi-class confusion-matrix readout that closes the eval-stats
    * family (q278 AUC and q279 kappa are binary; a 5-way classifier
    * audit needs per-class margins, and macro metrics hide exactly the
    * minority-class collapse this surfaces). EXACT algebra: tp and both
    * margins are integer counts from ONE corpus scan's per-doc
    * prediction, F1 uses the margin identity 2·tp/(n_pred + n_true) —
    * integers until the final division; a class never predicted
    * reports precision 0 instead of dividing by zero, and the report
    * keys on the FULL OUTER union of true and predicted class sets —
    * a class the heuristic invents (predicted but never true) still
    * surfaces its false positives as an n_true=0 / recall-0 row
    * rather than vanishing. Scale shape: the prediction is pure map
    * work; everything after runs on the ≤ |classes|-sized margin
    * relations. */
  val q301LangidConfusion: QuerySpec = {
    def text(spark: Boolean): String =
      s"""WITH p AS (${langidPredSql(spark)}),
         |t AS (SELECT lang, COUNT(*) AS n_true FROM p GROUP BY lang),
         |pr AS (SELECT pred_lang, COUNT(*) AS n_pred FROM p GROUP BY pred_lang),
         |tp AS (SELECT lang, COUNT(*) AS tp FROM p WHERE lang = pred_lang GROUP BY lang),
         |acc AS (SELECT CAST(SUM(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END) AS BIGINT) AS hits,
         |               COUNT(*) AS n
         |        FROM p)
         |SELECT COALESCE(t.lang, pr.pred_lang) AS lang,
         |  CAST(COALESCE(t.n_true, 0) AS BIGINT) AS n_true,
         |  CAST(COALESCE(pr.n_pred, 0) AS BIGINT) AS n_pred,
         |  CAST(COALESCE(tp.tp, 0) AS BIGINT) AS tp,
         |  CASE WHEN COALESCE(pr.n_pred, 0) = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(ROUND(COALESCE(tp.tp, 0) * 1e6 / pr.n_pred) AS BIGINT)
         |       END AS precision_e6,
         |  CASE WHEN COALESCE(t.n_true, 0) = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(ROUND(COALESCE(tp.tp, 0) * 1e6 / t.n_true) AS BIGINT)
         |       END AS recall_e6,
         |  CAST(ROUND(2 * COALESCE(tp.tp, 0) * 1e6
         |             / (COALESCE(pr.n_pred, 0) + COALESCE(t.n_true, 0))) AS BIGINT) AS f1_e6,
         |  CAST(ROUND(acc.hits * 1e6 / acc.n) AS BIGINT) AS accuracy_e6
         |FROM t FULL OUTER JOIN pr ON t.lang = pr.pred_lang
         |       LEFT JOIN tp ON COALESCE(t.lang, pr.pred_lang) = tp.lang
         |       CROSS JOIN acc
         |ORDER BY lang""".stripMargin
    QuerySpec.sql2("q301_eval_langid_confusion", text(spark = true), text(spark = false))
  }

  /** Quality scoring: length, word, punctuation/digit/whitespace ratios,
    * mean word length, and a composite quality bucket — the standard
    * pre-training filter features. */
  val q89Quality: QuerySpec = {
    def n(spark: Boolean, pat: String): String =
      if (spark) s"size(regexp_extract_all(text, '$pat', 0))"
      else s"len(regexp_extract_all(text, '$pat'))"
    def text(spark: Boolean): String =
      s"""SELECT doc_id, n_chars, n_words,
         |  ROUND(CAST(n_chars AS DOUBLE) / n_words, 6) AS chars_per_word,
         |  ROUND(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
         |  ROUND(CAST(n_digit AS DOUBLE) / n_chars, 6) AS digit_ratio,
         |  CASE WHEN n_words >= 40 AND CAST(n_punct AS DOUBLE) / n_chars < 0.1 THEN 'good'
         |       WHEN n_words >= 10 THEN 'fair'
         |       ELSE 'poor' END AS quality
         |FROM (SELECT doc_id, LENGTH(text) AS n_chars,
         |        ${n(spark, "[a-zA-Z0-9]+")} AS n_words,
         |        ${n(spark, "[^a-zA-Z0-9 ]")} AS n_punct,
         |        ${n(spark, "[0-9]")} AS n_digit
         |      FROM documents) f
         |ORDER BY doc_id""".stripMargin
    QuerySpec.sql2("q89_text_quality", text(spark = true), text(spark = false))
  }

  /** Token counting: whitespace tokens, BPE-ish regex tokens
    * (alnum runs / single non-alnum), and the chars/4 heuristic. */
  val q90Tokens: QuerySpec = {
    def n(spark: Boolean, pat: String): String =
      if (spark) s"size(regexp_extract_all(text, '$pat', 0))"
      else s"len(regexp_extract_all(text, '$pat'))"
    def text(spark: Boolean): String =
      s"""SELECT doc_id,
         |  ${n(spark, "[^ ]+")} AS ws_tokens,
         |  ${n(spark, "[a-z0-9]+|[^a-z0-9 ]")} AS re_tokens,
         |  CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS est_tokens
         |FROM documents
         |ORDER BY doc_id""".stripMargin
    QuerySpec.sql2("q90_text_tokens", text(spark = true), text(spark = false))
  }

  /** Document fingerprint: bottom-4 sketch of per-word MD5 hashes — a
    * winnowing-style content fingerprint that is stable under word
    * reordering and partitioning, portable across engines. */
  val q91Fingerprint: QuerySpec = QuerySpec.sql2(
    "q91_text_fingerprint",
    """SELECT doc_id,
      |  array_join(slice(sort_array(transform(array_distinct(split(text, ' ')),
      |    w -> md5(w))), 1, 4), '') AS fingerprint
      |FROM documents
      |ORDER BY doc_id""".stripMargin,
    """SELECT doc_id,
      |  array_to_string(list_sort(list_transform(list_distinct(string_split(text, ' ')),
      |    w -> md5(w)))[1:4], '') AS fingerprint
      |FROM documents
      |ORDER BY doc_id""".stripMargin)

  /** Quality-quantile pruning: keep the top half per language by a
    * quality score, via percent_rank — the windowed form is exact and
    * engine-portable (approx-percentile thresholds are not), and at scale
    * it is one shuffle on the stratum key. Caveat at 100×: the window
    * sorts each language stratum within ONE task; when a stratum
    * outgrows a task, use [[q191QualityPruneThreshold]] — same pruning
    * decision, no stratum-global sort. */
  val q94QualityPrune: QuerySpec = QuerySpec.sql(
    "q94_text_quality_prune",
    """SELECT lang, doc_id, n_chars
      |FROM (SELECT lang, doc_id, n_chars,
      |             PERCENT_RANK() OVER (PARTITION BY lang
      |                                  ORDER BY n_chars DESC, doc_id) AS pr
      |      FROM documents) t
      |WHERE pr <= 0.5
      |ORDER BY lang, doc_id""".stripMargin)

  /** The skew-immune twin of [[q94QualityPrune]]: per-stratum EXACT
    * median via the `percentile` aggregate (a partial-merged
    * TypedImperativeAggregate — per-task value maps merge on the
    * driver-bound lang key, no stratum ever sorts inside one task),
    * broadcast back as a threshold filter. The pruning decision is
    * threshold-based (ties at the cut all survive) rather than q94's
    * rank-based half, which is exactly the trade a 100 TB corpus makes:
    * an O(strata) aggregate + map-side filter instead of a per-stratum
    * global sort. Interpolation follows the shared (n-1)·p linear
    * definition, so the threshold is bit-identical across engines. */
  val q191QualityPruneThreshold: QuerySpec = QuerySpec.sql2(
    "q191_quality_prune_threshold",
    """WITH th AS (SELECT lang, percentile(n_chars, 0.5D) AS cut
      |            FROM documents GROUP BY lang)
      |SELECT d.lang, d.doc_id, d.n_chars
      |FROM documents d JOIN th ON d.lang = th.lang
      |WHERE d.n_chars >= th.cut
      |ORDER BY d.lang, doc_id""".stripMargin,
    """WITH th AS (SELECT lang, quantile_cont(n_chars, 0.5) AS cut
      |            FROM documents GROUP BY lang)
      |SELECT d.lang, d.doc_id, d.n_chars
      |FROM documents d JOIN th ON d.lang = th.lang
      |WHERE d.n_chars >= th.cut
      |ORDER BY d.lang, doc_id""".stripMargin)

  /** Deterministic stratified sampling: a Knuth-multiplicative key hash
    * selects ~20% per language — reproducible on any engine or cluster
    * (no RNG), the property a curation pipeline needs for auditability.
    * The key is reduced mod a prime BEFORE the multiply so the product
    * stays < 2^63 for any BIGINT doc_id: an unbounded doc_id * 2654435761
    * overflows at doc_id ≳ 3.47e9 — Spark (non-ANSI) would wrap silently
    * while DuckDB/ANSI engines raise, breaking the portability contract. */
  val q95StratifiedSample: QuerySpec = QuerySpec.sql(
    "q95_text_stratified_sample",
    """SELECT lang, COUNT(*) AS n_sampled,
      |  CAST(MIN(doc_id) AS BIGINT) AS first_doc
      |FROM documents
      |WHERE ((doc_id % 1000003) * 2654435761) % 100 < 20
      |GROUP BY lang
      |ORDER BY lang""".stripMargin)

  /** TF-IDF keyword extraction: term frequency per doc × inverse document
    * frequency, top-3 terms per doc. Ranking uses the exact integer pair
    * (tf DESC, df ASC) — monotone in the tf·ln(N/df) score for fixed
    * vocabularies — so ordering never hinges on last-ulp ln() differences
    * between engines; the rounded score is still emitted. Two shuffles
    * (per-doc terms, per-term doc counts) + a broadcast of the doc count. */
  val q96TfIdf: QuerySpec = {
    def text(spark: Boolean): String = {
      val wordsRel =
        if (spark) "SELECT doc_id, explode(split(text, ' ')) AS word FROM documents"
        else "SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents"
      s"""WITH words AS ($wordsRel),
         |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY doc_id, word),
         |df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY word),
         |total AS (SELECT COUNT(*) AS n FROM documents)
         |SELECT doc_id, word, tf, df,
         |       ROUND(tf * LN(CAST(n AS DOUBLE) / df), 6) AS tfidf, rnk
         |FROM (SELECT tf.doc_id, tf.word, tf.tf, df.df, total.n,
         |             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
         |                                ORDER BY tf.tf DESC, df.df ASC, tf.word) AS rnk
         |      FROM tf JOIN df ON tf.word = df.word CROSS JOIN total) ranked
         |WHERE rnk <= 3
         |ORDER BY doc_id, rnk""".stripMargin
    }
    QuerySpec.sql2("q96_text_tfidf", text(spark = true), text(spark = false))
  }

  /** Benchmark decontamination: flag training documents sharing any word
    * 3-gram with the held-out eval slice (doc_id % 100 = 0 — a
    * deterministic stand-in for a benchmark suite). The canonical
    * train/test-overlap check of an LLM curation pipeline. Scale shape:
    * the eval side's distinct n-grams are tiny relative to the corpus
    * (benchmarks are ~1e5 docs vs 1e9+), so the join broadcasts them and
    * the training corpus streams through map-side — one wide shuffle on
    * ngram only if the bench set outgrows the broadcast threshold.
    * The explicit size guard keeps Spark's sequence() from producing a
    * descending range on short documents. */
  val q122Decontaminate: QuerySpec = {
    def text(spark: Boolean): String = {
      val g =
        if (spark)
          """SELECT doc_id, ngram
            |  FROM (SELECT doc_id,
            |          CASE WHEN size(split(text, ' ')) >= 3
            |               THEN transform(sequence(0, size(split(text, ' ')) - 3),
            |                      i -> concat_ws(' ', slice(split(text, ' '), i + 1, 3)))
            |               ELSE array() END AS ngrams
            |        FROM documents) t
            |  LATERAL VIEW explode(ngrams) x AS ngram""".stripMargin
        else
          """SELECT doc_id, unnest(list_transform(range(len(string_split(text, ' ')) - 2),
            |         i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' '))) AS ngram
            |  FROM documents""".stripMargin
      s"""WITH g AS (
         |$g),
         |bench AS (SELECT DISTINCT ngram FROM g WHERE doc_id % 100 = 0),
         |train AS (SELECT DISTINCT doc_id, ngram FROM g WHERE doc_id % 100 <> 0)
         |SELECT train.doc_id, COUNT(*) AS n_shared_ngrams
         |FROM train JOIN bench ON train.ngram = bench.ngram
         |GROUP BY train.doc_id
         |ORDER BY train.doc_id""".stripMargin
    }
    QuerySpec.sql2("q122_text_decontaminate", text(spark = true), text(spark = false))
  }

  /** Repetition-based quality filter (the Gopher/C4-style rule): flag
    * documents whose most frequent word bigram accounts for more than 20%
    * of all bigrams — the signature of boilerplate and degenerate
    * generation. One explode + two two-phase aggregations: the first
    * exchange carries map-side-combined distinct (doc, bigram) counts;
    * the second only per-doc partial (sum, max) pairs — a few rows per
    * doc per task — so the corpus-sized data crosses the network once. */
  val q123Repetition: QuerySpec = {
    def text(spark: Boolean): String = {
      val g =
        if (spark)
          """SELECT doc_id, ngram
            |  FROM (SELECT doc_id,
            |          CASE WHEN size(split(text, ' ')) >= 2
            |               THEN transform(sequence(0, size(split(text, ' ')) - 2),
            |                      i -> concat_ws(' ', slice(split(text, ' '), i + 1, 2)))
            |               ELSE array() END AS ngrams
            |        FROM documents) t
            |  LATERAL VIEW explode(ngrams) x AS ngram""".stripMargin
        else
          """SELECT doc_id, unnest(list_transform(range(len(string_split(text, ' ')) - 1),
            |         i -> array_to_string(string_split(text, ' ')[i+1:i+2], ' '))) AS ngram
            |  FROM documents""".stripMargin
      s"""WITH g AS (
         |$g),
         |c AS (SELECT doc_id, ngram, COUNT(*) AS n FROM g GROUP BY doc_id, ngram),
         |t AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
         |             CAST(MAX(n) AS BIGINT) AS top_count
         |      FROM c GROUP BY doc_id)
         |SELECT doc_id, n_bigrams, top_count,
         |       ROUND(CAST(top_count AS DOUBLE) / n_bigrams, 6) AS top_frac,
         |       (CAST(top_count AS DOUBLE) / n_bigrams > 0.2) AS flagged
         |FROM t
         |ORDER BY doc_id""".stripMargin
    }
    QuerySpec.sql2("q123_text_repetition", text(spark = true), text(spark = false))
  }

  /** Sequence packing: assign documents to training batches of ≤ 4096
    * whitespace tokens by exclusive running sum over a deterministic
    * order — the contiguous-packing planner a pretraining data loader
    * runs (greedy bin packing is inherently sequential; ordered
    * contiguous packing is its scalable stand-in and what streaming
    * packers actually do). Packing is per SHARD (doc_id % 8; a real
    * corpus would use its file/shard id): each shard's running sum is an
    * independent window partition, so the plan is one shuffle on the
    * shard key and embarrassingly parallel — a global ORDER BY window
    * would serialize the whole corpus through one task. Shard-local
    * batch ids are offset by shard * 1e6 so ids never collide across
    * shards. The windowed SUM is cast to BIGINT (DuckDB windows sum to
    * HUGEINT). */
  val q125PackBatches: QuerySpec = {
    def text(spark: Boolean): String = {
      val nTokens =
        if (spark) "size(split(text, ' '))"
        else "len(string_split(text, ' '))"
      s"""SELECT doc_id, n_tokens,
         |  CAST(shard * 1000000 + FLOOR(CAST(cum_before AS DOUBLE) / 4096) AS BIGINT) AS batch_id
         |FROM (
         |  SELECT doc_id, n_tokens, shard,
         |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM (SELECT doc_id, CAST($nTokens AS BIGINT) AS n_tokens,
         |               doc_id % 8 AS shard
         |        FROM documents) t) w
         |ORDER BY doc_id""".stripMargin
    }
    QuerySpec.sql2("q125_text_pack_batches", text(spark = true), text(spark = false))
  }

  /** Corpus vocabulary: top-50 words by total frequency (ties broken by
    * word) with document frequency — the seed statistics of a tokenizer/
    * BPE build. One word-keyed shuffle with map-side partial aggregation;
    * the top-k is ORDER BY + LIMIT, which Spark plans as
    * TakeOrderedAndProject (per-partition heaps + a k-row merge — no
    * global sort, no single-partition window), so the same plan holds at
    * any corpus size. */
  val q138Vocab: QuerySpec = {
    def text(spark: Boolean): String = {
      val wordsRel =
        if (spark) "SELECT doc_id, explode(split(text, ' ')) AS word FROM documents"
        else "SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents"
      s"""WITH words AS ($wordsRel)
         |SELECT word, n_total, n_docs
         |FROM (SELECT word, COUNT(*) AS n_total, COUNT(DISTINCT doc_id) AS n_docs
         |      FROM words GROUP BY word) c
         |ORDER BY n_total DESC, word
         |LIMIT 50""".stripMargin
    }
    QuerySpec.sql2("q138_text_vocab", text(spark = true), text(spark = false))
  }

  /** Cross-corpus boilerplate detector (the C4 "frequent line" rule,
    * re-keyed on word 3-grams since the fixture has no line structure):
    * a doc's shared_frac is the fraction of its 3-gram INSTANCES whose
    * 3-gram also occurs in at least one other document. Complements
    * q122 (overlap vs a fixed eval slice) and q123 (repetition WITHIN a
    * doc). Single fact scan, zero self-joins: (doc,ngram) counts in one
    * shuffle, document frequency via a COUNT window over the already-
    * distinct (doc,ngram) relation (no second scan, no join back), then
    * a per-doc re-aggregation — corpus-sized data crosses the network
    * once, the rest is per-gram/per-doc rows. */
  val q146Boilerplate: QuerySpec = {
    def text(spark: Boolean): String = {
      val g =
        if (spark)
          """SELECT doc_id, ngram
            |  FROM (SELECT doc_id,
            |          CASE WHEN size(split(text, ' ')) >= 3
            |               THEN transform(sequence(0, size(split(text, ' ')) - 3),
            |                      i -> concat_ws(' ', slice(split(text, ' '), i + 1, 3)))
            |               ELSE array() END AS ngrams
            |        FROM documents) t
            |  LATERAL VIEW explode(ngrams) x AS ngram""".stripMargin
        else
          """SELECT doc_id, unnest(list_transform(range(len(string_split(text, ' ')) - 2),
            |         i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' '))) AS ngram
            |  FROM documents""".stripMargin
      s"""WITH g AS (
         |$g),
         |c AS (SELECT doc_id, ngram, COUNT(*) AS n FROM g GROUP BY doc_id, ngram),
         |w AS (SELECT doc_id, n, COUNT(*) OVER (PARTITION BY ngram) AS df FROM c),
         |d AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_grams,
         |             CAST(SUM(CASE WHEN df >= 2 THEN n ELSE 0 END) AS BIGINT) AS n_shared
         |      FROM w GROUP BY doc_id)
         |SELECT doc_id, n_grams, n_shared,
         |       ROUND(CAST(n_shared AS DOUBLE) / n_grams, 6) AS shared_frac,
         |       (CAST(n_shared AS DOUBLE) / n_grams > 0.8) AS flagged
         |FROM d
         |ORDER BY doc_id""".stripMargin
    }
    QuerySpec.sql2("q146_text_boilerplate", text(spark = true), text(spark = false))
  }

  /** RAG/window chunking with overlap: fixed 32-token windows on a
    * 24-token stride (striding keeps every token in ≥1 chunk and gives
    * 8-token overlaps for boundary-robust retrieval). Purely map-side —
    * chunk starts come from a per-row sequence, so at 100 TB this is a
    * zero-shuffle scan emitting ~n_tokens/24 rows per doc; the chunk
    * content is carried as an md5 so the result stays narrow. Short docs
    * get exactly one chunk (start 0). */
  val q158ChunkOverlap: QuerySpec = {
    def text(spark: Boolean): String = {
      val split = if (spark) "split(text, ' ')" else "string_split(text, ' ')"
      val nw = if (spark) "size(w)" else "len(w)"
      val starts =
        if (spark) "explode(sequence(0, size(w) - 1, 24))"
        else "unnest(range(0, len(w), 24))"
      val chunk =
        if (spark) "concat_ws(' ', slice(w, start + 1, 32))"
        else "array_to_string(w[start + 1 : start + 32], ' ')"
      s"""SELECT doc_id, CAST(start / 24 AS INT) AS chunk_idx,
         |  CAST(start AS INT) AS start_tok,
         |  CAST(LEAST(32, $nw - start) AS INT) AS n_tok,
         |  md5($chunk) AS chunk_md5
         |FROM (SELECT doc_id, w, $starts AS start
         |      FROM (SELECT doc_id, $split AS w FROM documents) t) u
         |ORDER BY doc_id, chunk_idx""".stripMargin
    }
    QuerySpec.sql2("q158_text_chunk_overlap", text(spark = true), text(spark = false))
  }

  /** PII detection + redaction over an inline fixture (the driver corpus
    * is digit-free synthetic text, so the fixture carries the PII shapes:
    * emails, NANP phones, SSNs, IPv4s — the standard pre-training scrub
    * list). Counts come from regexp_extract_all and the redacted text
    * from chained regexp_replace; category patterns are disjoint
    * (3-2-4 SSN vs 3-3-4 phone) so replacement order cannot cascade.
    * Both engines use leftmost-first regex semantics (Java regex / RE2),
    * so counts and redactions agree exactly. At corpus scale this is the
    * same zero-shuffle map-side scan as q89. */
  val q159PiiRedact: QuerySpec = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ssn = "\\d{3}-\\d{2}-\\d{4}"
    val phone = "\\d{3}-\\d{3}-\\d{4}"
    val ip = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
    val fixture =
      """(VALUES (1, 'contact john.doe@example.com or jane_smith99@mail.co.uk for details'),
        |        (2, 'call 555-867-5309 or 415-555-0100 now'),
        |        (3, 'ssn 123-45-6789 leaked from host 10.0.0.1'),
        |        (4, 'servers at 192.168.1.100 and 8.8.8.8'),
        |        (5, 'no pii here just plain text'),
        |        (6, 'mixed: a@b.io, 212-555-1212, 987-65-4321, 127.0.0.1')) AS t(id, s)""".stripMargin
    def text(spark: Boolean): String = {
      // Spark SQL string literals process escapes, DuckDB's are literal
      def p(raw: String): String = if (spark) raw.replace("\\", "\\\\") else raw
      def n(raw: String): String =
        if (spark) s"size(regexp_extract_all(s, '${p(raw)}', 0))"
        else s"len(regexp_extract_all(s, '${p(raw)}'))"
      def repl(src: String, raw: String, tag: String): String =
        if (spark) s"regexp_replace($src, '${p(raw)}', '$tag')"
        else s"regexp_replace($src, '${p(raw)}', '$tag', 'g')"
      val redacted =
        repl(repl(repl(repl("s", email, "<EMAIL>"), ssn, "<SSN>"), phone, "<PHONE>"), ip, "<IP>")
      s"""SELECT id,
         |  CAST(${n(email)} AS INT) AS n_email,
         |  CAST(${n(ssn)} AS INT) AS n_ssn,
         |  CAST(${n(phone)} AS INT) AS n_phone,
         |  CAST(${n(ip)} AS INT) AS n_ip,
         |  $redacted AS redacted
         |FROM $fixture
         |ORDER BY id""".stripMargin
    }
    QuerySpec.sql2("q159_text_pii_redact", text(spark = true), text(spark = false))
  }

  /** Shared CTE block for the exact-substring dedup family
    * ([[q160SubstringDedup]] measurement, [[q175SubstringRemove]]
    * rewrite): tokenize, enumerate word-8-grams, find each gram's
    * corpus-global first occurrence (min (doc_id, pos)), and expand every
    * non-first occurrence into its 8 covered token positions.
    *
    * On the Spark side the first occurrence is a per-gram
    * `MIN(STRUCT(doc_id, pos))` aggregate — partial-aggregable
    * (map-side combine) and therefore skew-immune — and non-first
    * occurrences are marked by a hash-probe join back to the gram
    * stream, which AQE can skew-split. The previous formulation
    * (`ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos)`)
    * sorted every occurrence of a gram inside one task: a boilerplate
    * gram (license header, templated sentence) at 100 TB concentrates
    * millions of occurrences into a single sort — a classic skew
    * scale-killer. No per-gram total order is materialized anymore.
    * The price is one extra corpus scan (the gram stream feeds both the
    * aggregate and the probe join, and Spark inlines the CTE): an extra
    * embarrassingly-parallel scan is linear headroom, where the removed
    * hot-key sort was a single-task straggler.
    *
    * The oracle keeps the window formulation: the dup sets are
    * identical (rn > 1 ⇔ (doc_id, pos) differs from the per-gram min),
    * skew is irrelevant at oracle scale, and keeping the texts
    * independent guards against a shared-bug false green. */
  private def substringCtes(spark: Boolean): String = {
    val split = if (spark) "split(text, ' ')" else "string_split(text, ' ')"
    val g =
      if (spark)
        """SELECT doc_id, pos, concat_ws(' ', slice(w, pos + 1, 8)) AS gram
          |  FROM (SELECT doc_id, w,
          |          CASE WHEN size(w) >= 8 THEN sequence(0, size(w) - 8)
          |               ELSE array() END AS ps
          |        FROM t) x
          |  LATERAL VIEW explode(ps) p AS pos""".stripMargin
      else
        """SELECT doc_id, pos, array_to_string(w[pos + 1 : pos + 8], ' ') AS gram
          |  FROM (SELECT doc_id, w, unnest(range(len(w) - 7)) AS pos FROM t) x""".stripMargin
    val dup =
      if (spark)
        """m AS (SELECT gram, MIN(STRUCT(doc_id, pos)) AS f FROM g GROUP BY gram),
          |dup AS (SELECT g.doc_id, g.pos FROM g JOIN m ON g.gram = m.gram
          |        WHERE g.doc_id != m.f.doc_id OR g.pos != m.f.pos)""".stripMargin
      else
        """r AS (SELECT doc_id, pos,
          |             ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
          |      FROM g),
          |dup AS (SELECT doc_id, pos FROM r WHERE rn > 1)""".stripMargin
    val cov =
      if (spark)
        """SELECT DISTINCT doc_id, cp
          |  FROM dup
          |  LATERAL VIEW explode(sequence(pos, pos + 7)) c AS cp""".stripMargin
      else
        """SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS cp
          |  FROM dup""".stripMargin
    s"""t AS (SELECT doc_id, $split AS w FROM documents),
       |g AS (
       |$g),
       |$dup,
       |cov AS (
       |$cov)""".stripMargin
  }

  /** Exact-substring dedup statistics (the Lee et al. "Deduplicating
    * Training Data Makes Language Models Better" formulation, at word-8-
    * gram granularity): a token position is duplicate-covered when it
    * falls inside an 8-gram whose occurrence is not the corpus-global
    * first (first = min (doc_id, pos), via the skew-immune per-gram
    * aggregate in [[substringCtes]]). Distributed shape: one gram-keyed
    * aggregate + probe join, an 8× position fan-out on duplicate
    * instances only, and a per-doc re-aggregation — no suffix array, no
    * self-join, no per-gram sort, which is how the MapReduce variant of
    * the paper's algorithm scales. Docs shorter than 8 tokens have no
    * 8-grams and report 0. */
  val q160SubstringDedup: QuerySpec = {
    def text(spark: Boolean): String = {
      val size = if (spark) "size(w)" else "len(w)"
      s"""WITH ${substringCtes(spark)},
         |d AS (SELECT doc_id, COUNT(*) AS n_dup FROM cov GROUP BY doc_id)
         |SELECT t.doc_id, CAST($size AS BIGINT) AS n_tokens,
         |       CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS n_dup_tokens,
         |       ROUND(COALESCE(d.n_dup, 0) / CAST($size AS DOUBLE), 6) AS dup_frac
         |FROM t LEFT JOIN d ON t.doc_id = d.doc_id
         |ORDER BY t.doc_id""".stripMargin
    }
    QuerySpec.sql2("q160_dedup_substring", text(spark = true), text(spark = false))
  }

  /** Exact-substring span REMOVAL — the rewrite counterpart of
    * [[q160SubstringDedup]] (Lee et al. §4.1 actually delete the
    * duplicated spans from the corpus; q160 only measures them): every
    * token position covered by a non-first 8-gram occurrence is dropped
    * and each document's text is reconstructed from the surviving tokens
    * in position order. First occurrences always survive, so exactly one
    * copy of every duplicated span remains corpus-wide.
    *
    * Distributed shape, like q160: the gram-keyed first-occurrence
    * aggregate + probe join of [[substringCtes]] is the only
    * corpus-sized shuffle (no per-gram sort), coverage fans out 8× on
    * duplicate instances only, and the rebuild is one per-doc ordered
    * string aggregation (no suffix array, no self-join). The
    * cleaned text is emitted truncated to 80 chars — the differential is
    * over token counts plus the reconstruction prefix, which pins the
    * ordering without shipping whole documents through the compare. */
  val q175SubstringRemove: QuerySpec = {
    def text(spark: Boolean): String = {
      // The surviving-token aggregate runs over words LEFT JOIN cov with
      // the removed positions nulled inside the string aggregate (both
      // engines' string aggregates skip NULLs): a document whose every
      // position is duplicate-covered still emits a row, with
      // n_removed = n_tokens and an empty head, instead of silently
      // vanishing from the report (the old kept-only aggregate dropped
      // exactly the most-duplicated documents).
      val agg =
        if (spark)
          "listagg(CASE WHEN c.cp IS NULL THEN w.word END, ' ') WITHIN GROUP (ORDER BY w.pos)"
        else
          "string_agg(CASE WHEN c.cp IS NULL THEN w.word END, ' ' ORDER BY w.pos)"
      val words =
        if (spark)
          """SELECT doc_id, size(w) AS n_words, pos, word FROM t
            |  LATERAL VIEW posexplode(w) p AS pos, word""".stripMargin
        else
          """SELECT doc_id, len(w) AS n_words, unnest(range(len(w))) AS pos,
            |         unnest(w) AS word FROM t""".stripMargin
      s"""WITH ${substringCtes(spark)},
         |words AS (
         |$words)
         |SELECT w.doc_id, CAST(MAX(w.n_words) AS BIGINT) AS n_tokens,
         |       CAST(SUM(CASE WHEN c.cp IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
         |       SUBSTR(COALESCE($agg, ''), 1, 80) AS head
         |FROM words w LEFT JOIN cov c
         |  ON w.doc_id = c.doc_id AND w.pos = c.cp
         |GROUP BY w.doc_id
         |ORDER BY w.doc_id""".stripMargin
    }
    QuerySpec.sql2("q175_dedup_substring_remove", text(spark = true), text(spark = false))
  }

  /** Unigram-LM cross-entropy scoring — the cheap perplexity proxy a
    * curation pipeline uses for fluency/outlier filtering: score each doc
    * by the mean negative log-probability of its words under the corpus's
    * own unigram MLE. Two shuffles (word counts, per-doc mean) with the
    * tiny vocabulary joined map-side at scale. The per-word log-probs are
    * summed as DECIMAL (the house rule for double aggregation — see
    * graft.operators.Num): the sum is exact and order-independent, so
    * the score is identical under any partitioning/CPU count on either
    * engine; the exact sum divides as DOUBLE and the threshold flag
    * compares the ROUNDED score so both engines branch on the identical
    * value. */
  val q162UnigramLm: QuerySpec = {
    def text(spark: Boolean): String = {
      val words =
        if (spark) "SELECT doc_id, explode(split(text, ' ')) AS word FROM documents"
        else "SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents"
      s"""WITH words AS ($words),
         |f AS (SELECT word, COUNT(*) AS cnt FROM words GROUP BY word),
         |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM words),
         |s AS (SELECT w.doc_id, COUNT(*) AS n_words,
         |             SUM(CAST(LN(f.cnt / tot.n) AS DECIMAL(27,18))) AS lsum
         |      FROM words w JOIN f ON w.word = f.word CROSS JOIN tot
         |      GROUP BY w.doc_id)
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |       ROUND(-CAST(lsum AS DOUBLE) / n_words, 6) AS xent_nats,
         |       (ROUND(-CAST(lsum AS DOUBLE) / n_words, 6) > 3.5) AS flagged
         |FROM s
         |ORDER BY doc_id""".stripMargin
    }
    QuerySpec.sql2("q162_text_unigram_lm", text(spark = true), text(spark = false))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al., "CCNet: Extracting
    * High Quality Monolingual Datasets from Web Crawl Data"): within each
    * language, rank documents by their LM score (the [[q162UnigramLm]]
    * cross-entropy proxy) and split into head/middle/tail terciles —
    * CCNet trains on head+middle and drops or down-weights tail. NTILE
    * over (lang, score) is the whole bucketing; the report aggregates
    * each (lang, bucket) with exact-decimal score sums so the mean is
    * partitioning-independent.
    *
    * Scale shape: the q162 scoring envelope (one word-keyed join + one
    * doc-keyed sum) plus one per-lang window — the window shuffles the
    * per-DOC score table (tiny vs the corpus), not the word stream.
    * Should even the doc table outgrow a task per language, swap the
    * NTILE for percentile-threshold buckets (the [[q191QualityPruneThreshold]]
    * idiom: two exact tertile cuts via the partial-merged `percentile`
    * aggregate, broadcast back). */
  val q177PerplexityBuckets: QuerySpec = {
    def text(spark: Boolean): String = {
      val words =
        if (spark) "SELECT doc_id, lang, explode(split(text, ' ')) AS word FROM documents"
        else "SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM documents"
      s"""WITH words AS ($words),
         |f AS (SELECT word, COUNT(*) AS cnt FROM words GROUP BY word),
         |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM words),
         |s AS (SELECT w.doc_id, w.lang, COUNT(*) AS n_words,
         |             SUM(CAST(LN(f.cnt / tot.n) AS DECIMAL(27,18))) AS lsum
         |      FROM words w JOIN f ON w.word = f.word CROSS JOIN tot
         |      GROUP BY w.doc_id, w.lang),
         |sc AS (SELECT doc_id, lang,
         |         ROUND(-CAST(lsum AS DOUBLE) / n_words, 6) AS xent,
         |         NTILE(3) OVER (PARTITION BY lang
         |                        ORDER BY ROUND(-CAST(lsum AS DOUBLE) / n_words, 6), doc_id) AS b
         |       FROM s)
         |SELECT lang,
         |       CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       ROUND(CAST(SUM(CAST(xent AS DECIMAL(27,18))) AS DOUBLE) / COUNT(*), 6) AS mean_xent
         |FROM sc
         |GROUP BY lang, b
         |ORDER BY lang, bucket""".stripMargin
    }
    QuerySpec.sql2("q177_perplexity_buckets", text(spark = true), text(spark = false))
  }

  /** BPE merge learning (Sennrich et al., "Neural Machine Translation of
    * Rare Words with Subword Units") — the first two merge rounds of a
    * byte-pair-encoding tokenizer build, as pure dataflow: words become
    * sentinel-spaced symbol sequences, adjacent-symbol pairs are counted
    * weighted by word frequency, the argmax pair (ties by pair text) is
    * merged corpus-wide via non-overlapping left-to-right replace (the
    * greedy BPE application order), and the count repeats on the merged
    * sequences. Emits the top-5 pairs of each round. Symbols are joined
    * with DOUBLE spaces (pair pattern ' a  b ', replacement ' ab '): with
    * single spaces, adjacent occurrences share the delimiting space and
    * left-to-right replace skips every second merge site ('b a n a n a'
    * would become 'b a na n a' instead of 'b a na na'), diverging from
    * Sennrich's re.sub over symbol boundaries. Scale shape: pair
    * counting is one shuffle over the DISTINCT word vocabulary (corpus
    * frequency is carried as a weight, so the fact table is scanned once
    * for the vocab build and never again); each merge is a broadcast of
    * one row. A full tokenizer build iterates this dataflow k times —
    * two rounds pin the fixpoint machinery. */
  val q163BpeMerges: QuerySpec = {
    def text(spark: Boolean): String = {
      val words =
        if (spark) "SELECT explode(split(text, ' ')) AS word FROM documents"
        else "SELECT unnest(string_split(text, ' ')) AS word FROM documents"
      // POSITION-based character seeds, not a regexp split: regex `.`
      // excludes line terminators (and Spark's Java regex excludes MORE
      // of them than DuckDB's RE2), so a newline-bearing word would seed
      // differently across engines AND across the engine's own three
      // encode formulations. substring/word[i] index characters
      // identically everywhere — the one seeding convention shared with
      // [[bpeEncodeState]], [[bpeEncodeExpr]] and the BpeTokenizer
      // trainer (BpeSpec pins the parity on a newline-bearing word).
      val chars =
        if (spark)
          "concat_ws('  ', transform(sequence(1, length(word)), i -> substring(word, i, 1)))"
        else
          "array_to_string(list_transform(range(1, len(word) + 1), i -> word[i]), '  ')"
      def syms(src: String) =
        if (spark) s"split(trim($src), '  ')" else s"string_split(trim($src), '  ')"
      def pairs(rel: String): String =
        if (spark)
          s"""SELECT pair, SUM(n) AS cnt
             |  FROM (SELECT n,
             |          CASE WHEN size(${syms("seq")}) >= 2
             |               THEN transform(sequence(0, size(${syms("seq")}) - 2),
             |                      i -> concat(${syms("seq")}[i], ' ', ${syms("seq")}[i + 1]))
             |               ELSE array() END AS ps
             |        FROM $rel) t
             |  LATERAL VIEW explode(ps) x AS pair
             |  GROUP BY pair""".stripMargin
        else
          s"""SELECT pair, SUM(n) AS cnt
             |  FROM (SELECT n, unnest(list_transform(range(len(${syms("seq")}) - 1),
             |          i -> ${syms("seq")}[i + 1] || ' ' || ${syms("seq")}[i + 2])) AS pair
             |        FROM $rel) t
             |  GROUP BY pair""".stripMargin
      val wCte =
        if (spark) "" // Spark reads the checkpointed vocab view instead
        else s"WITH w AS (SELECT word, COUNT(*) AS n FROM ($words) x WHERE word != '' GROUP BY word),\n"
      val wRel = if (spark) "g_bpe_vocab" else "w"
      s"""${wCte}${if (spark) "WITH " else ""}s0 AS (SELECT word, n, ' ' || $chars || ' ' AS seq FROM $wRel),
         |p1 AS (
         |${pairs("s0")}),
         |r1 AS (SELECT pair, cnt,
         |              ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rnk
         |       FROM p1),
         |m1 AS (SELECT pair FROM r1 WHERE rnk = 1),
         |s1 AS (SELECT word, n,
         |         replace(seq, ' ' || replace(m1.pair, ' ', '  ') || ' ',
         |                 ' ' || replace(m1.pair, ' ', '') || ' ') AS seq
         |       FROM s0 CROSS JOIN m1),
         |p2 AS (
         |${pairs("s1")}),
         |r2 AS (SELECT pair, cnt,
         |              ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rnk
         |       FROM p2)
         |SELECT merge_round, rnk, pair, CAST(cnt AS BIGINT) AS cnt FROM (
         |  SELECT 1 AS merge_round, rnk, pair, cnt FROM r1 WHERE rnk <= 5
         |  UNION ALL
         |  SELECT 2 AS merge_round, rnk, pair, cnt FROM r2 WHERE rnk <= 5) u
         |ORDER BY merge_round, rnk""".stripMargin
    }
    QuerySpec("q163_text_bpe_merges", text(spark = false)) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      // the ONLY corpus scan, checkpointed: Spark inlines WITH CTEs, so
      // a `w` CTE consumed via s0 by BOTH merge rounds would re-run the
      // corpus-sized word explode per round (the q116 double-scan trap —
      // see the verify notes); the checkpointed vocab is vocabulary-sized
      // and every round reads it, never documents
      sp.sql(
        """SELECT word, COUNT(*) AS n
          |FROM (SELECT explode(split(text, ' ')) AS word FROM documents) x
          |WHERE word != ''
          |GROUP BY word""".stripMargin)
        .staged
        .createOrReplaceTempView("g_bpe_vocab")
      sp.sql(text(spark = true))
    }
  }

  /** BPE tokenizer APPLICATION (encode) — the counterpart of [[q163BpeMerges]]:
    * q163 LEARNS merges; this query APPLIES a pretrained, rank-ordered
    * merge table to the corpus, the way a production pipeline tokenizes
    * with a shipped tokenizer artifact. Per word, the encode loop is the
    * standard greedy BPE: while any merge-table pair occurs in the word,
    * apply the LOWEST-rank one (all its occurrences, via the same
    * double-space sentinel replace as q163), then re-evaluate — later
    * merges can re-enable earlier ranks (a rank-1 pair ('x','yz') only
    * becomes adjacent after the rank-5 merge that builds 'yz'), so the
    * loop runs to fixpoint, not one pass per rank.
    *
    * Scale shape: the corpus is scanned exactly ONCE (the word-vocab
    * build, checkpointed); every encode round is a vocabulary-sized scan
    * joined against the BROADCAST merge table (real tokenizers ship
    * 32k-100k merges — a few MB, still broadcast-sized), and the round
    * count is bounded by the max merges applicable within one word
    * (≲ word length), never by corpus size. Emits the top-30 token
    * frequencies after encoding (token counts weighted by word
    * frequency — the fact table is never rejoined).
    *
    * The oracle replays the identical fixpoint as [[Rounds]] unrolled
    * chained CTEs in DuckDB; LlmOpsSpec pins that the fixpoint is
    * actually reached within [[Rounds]] (so the unrolled replay IS the
    * full encode), that the 4-deep chain t a→ta b→tab l→tabl e fully
    * re-fuses 'table', and that rank priority wins inside 'customer'. */
  // pretrained merge table (rank = priority, 1 highest) shared by the
  // BPE-application queries q167 and q176: exercises chained merges
  // (ranks 2-5 rebuild 'table'; 6-8 rebuild 'scan') and in-word priority
  // (rank 1 'e r' beats rank 9 's t')
  private[graft] val BpeMerges: Seq[(String, Int)] = Seq(
    "e r" -> 1, "t a" -> 2, "ta b" -> 3, "tab l" -> 4, "tabl e" -> 5,
    "s c" -> 6, "a n" -> 7, "sc an" -> 8, "s t" -> 9, "o w" -> 10)
  // Each round applies ONE merge rule per word, so the per-word round
  // bound is the number of distinct applicable rules, not chain depth:
  // a word hitting every rule needs BpeMerges.size rounds — provably
  // sufficient for ANY fixture (the unrolled oracle stays
  // merge-table-sized, never corpus-sized).
  private[graft] val BpeRounds = BpeMerges.size

  /** The corpus (word, source) rollup feeding a train → encode
    * composition's per-source report — ONE definition for both
    * tokenizer families (q406 BPE, q412 unigram) so their reports stay
    * guaranteed-comparable, not convention-comparable. */
  private[graft] def perSourceWordCounts(sp: org.apache.spark.sql.SparkSession):
      org.apache.spark.sql.DataFrame =
    sp.table("documents")
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"), col("source")).agg(count(lit(1)).as("n"))

  /** Per-source compression report over a `(word, n_tokens, n_chars)`
    * relation joined to [[perSourceWordCounts]]'s rollup: word count,
    * exact char/token totals, e6 compression ratio — the shared output
    * grain of the q406/q412 train → encode compositions. */
  private[graft] def perSourceCompression(
      ws: org.apache.spark.sql.DataFrame,
      tk: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ws.join(tk, "word")
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("n_chars")).as("tokens_before"),
        sum(col("n") * col("n_tokens")).as("tokens_after"),
        round(sum(col("n") * col("n_tokens")).cast("double") * 1e6
          / sum(col("n") * col("n_chars")).cast("double"))
          .cast("long").as("compression_e6"))
      .orderBy(col("source"))

  /** The DuckDB tail of the per-source compression report — the `ws`
    * rollup plus the final SELECT, parameterized over the caller's
    * `tk(word, n_tokens, n_chars)` CTE text. Consumed by q412; q406's
    * replay inlines its own byte-identical copy because its `ws` CTE
    * ALSO feeds the encode vocabulary (`ev`) and so must precede the
    * encode unroll — keep the two texts in sync (the SPARK side of
    * both families does share [[perSourceCompression]]). */
  private[graft] def perSourceCompressionSqlTail(tkCte: String): String =
    s"""ws AS (SELECT word, source, CAST(COUNT(*) AS BIGINT) AS n
       |       FROM (SELECT source, unnest(string_split(text, ' ')) AS word
       |             FROM documents) x
       |       WHERE word != '' GROUP BY word, source),
       |$tkCte
       |SELECT ws.source,
       |  CAST(SUM(ws.n) AS BIGINT) AS n_words,
       |  CAST(SUM(ws.n * tk.n_chars) AS BIGINT) AS tokens_before,
       |  CAST(SUM(ws.n * tk.n_tokens) AS BIGINT) AS tokens_after,
       |  CAST(ROUND(SUM(ws.n * tk.n_tokens) * 1e6 / SUM(ws.n * tk.n_chars))
       |    AS BIGINT) AS compression_e6
       |FROM ws JOIN tk USING (word)
       |GROUP BY ws.source ORDER BY ws.source""".stripMargin

  /** DuckDB CTE text (no leading WITH) for a `rounds`-unrolled greedy
    * BPE encode reading `$mergeRel(pair, rank)` and `$vocabRel(word, n)`:
    * emits s0..s`rounds` (per-round states) and a0..a`rounds−1` (the
    * per-word lowest-rank applicable rule). Parameterized over the merge
    * relation so the SAME replay text serves the static pretrained table
    * (q167/q405/q176) and the q401-LEARNED table (q406 — the train →
    * encode composition). The caller appends a final SELECT over
    * s`rounds`. */
  private[graft] def bpeEncodeUnrollCtes(
      mergeRel: String, vocabRel: String, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""s0 AS (SELECT word, n,
              |         -- position-based seeds (NOT regexp `.`, which drops
              |         -- line terminators — and differently per engine):
              |         -- the one seeding convention of every encode path
              |         ' ' || array_to_string(list_transform(range(1, len(word) + 1),
              |                                               i -> word[i]), '  ') || ' ' AS seq
              |       FROM $vocabRel)""".stripMargin
    for (r <- 0 until rounds) {
      sb ++= s""",
                |a$r AS (
                |  SELECT word, pair FROM (
                |    SELECT t.word, m.pair,
                |      ROW_NUMBER() OVER (PARTITION BY t.word ORDER BY m.rank) AS rn
                |    FROM (SELECT word, unnest(list_transform(range(len(ss) - 1),
                |            i -> ss[i + 1] || ' ' || ss[i + 2])) AS pair
                |          FROM (SELECT word, string_split(trim(seq), '  ') AS ss FROM s$r) q) t
                |    JOIN $mergeRel m ON m.pair = t.pair) z
                |  WHERE rn = 1),
                |s${r + 1} AS (
                |  SELECT s.word, s.n,
                |    CASE WHEN a.pair IS NULL THEN s.seq
                |         ELSE replace(s.seq, ' ' || replace(a.pair, ' ', '  ') || ' ',
                |                      ' ' || replace(a.pair, ' ', '') || ' ') END AS seq
                |  FROM s$r s LEFT JOIN a$r a USING (word))""".stripMargin
    }
    sb.toString
  }

  /** The [[BpeRounds]]-unrolled DuckDB replay of the greedy BPE encode
    * over the STATIC pretrained table: CTEs m (merge table), w (word
    * vocab), s0..s[[BpeRounds]] (per-round states). The caller appends
    * a final SELECT over s[[BpeRounds]]. */
  private[llmops] def bpeOracleUnroll: String = {
    val mergeValues = BpeMerges.map { case (p, r) => s"('$p', $r)" }.mkString(", ")
    s"""WITH m(pair, rank) AS (VALUES $mergeValues),
       |w AS (SELECT word, COUNT(*) AS n
       |      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) x
       |      WHERE word != '' GROUP BY word),
       |${bpeEncodeUnrollCtes("m", "w", BpeRounds)}""".stripMargin
  }

  /** The Spark-side greedy BPE encode loop over a `(word, n)` vocab
    * DataFrame with the static pretrained [[BpeMerges]] table. */
  private[graft] def bpeEncodeState(
      sp: org.apache.spark.sql.SparkSession,
      vocab: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import sp.implicits._
    bpeEncodeStateWith(sp, vocab, BpeMerges.toDF("pair", "rank"), BpeRounds)
  }

  /** Greedy BPE encode over a `(word, n)` vocab with an ARBITRARY
    * `(pair, rank)` merge table — the static literal (q167/q176) or the
    * q401-trained artifact (q406): `rounds` broadcast-join rounds,
    * per-round localCheckpoint with superseded-state release
    * ([[Checkpoints]]). Per word per round, the LOWEST-rank pair present
    * in the sentinel-spaced symbol string is replaced at every
    * occurrence (left-to-right non-overlapping — the trainer's own
    * parity). Returns the final `(word, n, seq)` state. */
  private[graft] def bpeEncodeStateWith(
      sp: org.apache.spark.sql.SparkSession,
      vocab: org.apache.spark.sql.DataFrame,
      mdf: org.apache.spark.sql.DataFrame,
      rounds: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, explode, expr, min, struct, when}
    val seeded = vocab
      // position-based seeds (callers filter word != '' — sequence(1, 0)
      // throws): identical characters to the DuckDB oracle's word[i] and
      // to [[bpeEncodeExpr]]'s substr seeds, newlines included — a regexp
      // '.' seed would silently diverge on newline-bearing words
      .selectExpr("word", "n",
        "concat(' ', concat_ws('  ', transform(sequence(1, length(word)), i -> substring(word, i, 1))), ' ') AS seq")
      .staged
    // checkpoint per round: keeps the plan linear (the state is consumed
    // by BOTH the applicable-join and the next round) and the state is
    // vocabulary-sized; the superseded round's blocks are released so
    // storage stays O(1) in the round count ([[Checkpoints.iterate]])
    Checkpoints.iterate(seeded, rounds) { r =>
      // per word: the lowest-rank merge-table pair present in its
      // current symbol sequence (broadcast join, vocab-sized)
      val applicable = r.prev
        .select(col("word"), expr("split(trim(seq), '  ')").as("ss"))
        .select(col("word"), explode(expr(
          """CASE WHEN size(ss) >= 2
            |     THEN transform(sequence(0, size(ss) - 2),
            |            i -> concat(ss[i], ' ', ss[i + 1]))
            |     ELSE array() END""".stripMargin)).as("pair"))
        .join(broadcast(mdf), "pair")
        .groupBy("word").agg(min(struct(col("rank"), col("pair"))).as("mp"))
        .select(col("word"), col("mp.pair").as("pair"))
      r.prev.join(applicable, Seq("word"), "left")
        .withColumn("seq", when(col("pair").isNull, col("seq"))
          .otherwise(expr(
            """replace(seq, concat(' ', replace(pair, ' ', '  '), ' '),
              |             concat(' ', replace(pair, ' ', ''), ' '))""".stripMargin)))
        .select("word", "n", "seq")
    } { (_, _, _) => true }._1
  }

  /** Stateless greedy BPE ENCODE of one word as a SINGLE expression —
    * the [[bpeEncodeState]] loop with identical semantics (per round,
    * replace every occurrence of the lowest-rank merge-table pair
    * present in the sentinel-spaced symbol string) but zero joins, zero
    * shuffles, zero state: an `aggregate` over the round sequence whose
    * lambda picks the first applicable rule via `filter` over the
    * broadcast-free RULE LITERAL. Lambda variables give the expression
    * LET semantics, so the accumulator is referenced, never re-expanded
    * — a naive unrolled WHEN/replace chain would grow ~21^rounds nodes.
    * Because it is one per-row expression it runs identically over
    * batch rows and a structured stream (the tokenizer stage of a
    * streaming ingestion pipeline — see
    * [[graft.streaming.EventStreams.tokenizedDocs]]); StreamingSpec
    * pins stream ≡ batch and the vocab-grain token counts ≡ q167's
    * join-based state loop. Takes the word as a Column so it composes
    * under an outer per-document `transform` lambda. */
  private[graft] def bpeEncodeExpr(word: Column): Column = {
    val rules = array(BpeMerges.sortBy(_._2).map { case (p, _) =>
      struct(lit(" " + p.replace(" ", "  ") + " ").as("pat"),
        lit(" " + p.replace(" ", "") + " ").as("rep"))
    }: _*)
    val seed = concat(lit(" "),
      array_join(transform(sequence(lit(1), length(word)),
        i => substr(word, i, lit(1))), "  "),
      lit(" "))
    aggregate(sequence(lit(1), lit(BpeRounds)), seed, (acc, _) => {
      val applicable = filter(rules, r => acc.contains(r.getField("pat")))
      when(size(applicable) > 0,
        replace(acc, element_at(applicable, 1).getField("pat"),
          element_at(applicable, 1).getField("rep")))
        .otherwise(acc)
    })
  }

  // ---------------------------------------------------------------------
  // q433 — BPE-dropout (Provilkov et al. 2020 "BPE-Dropout: Simple and
  // Effective Subword Regularization"): during encode, each merge rule
  // is DROPPED for a given (doc, word) with probability p, so the same
  // word segments differently across documents — the BPE-family twin of
  // q425's unigram subword regularization, under the same frozen-hash
  // (RNG-free, oracle-replayable) discipline.
  // ---------------------------------------------------------------------

  /** Dropout probability, e6-quantized (p = 0.1 — the paper's
    * recommended training value). */
  private[graft] val BpeDropPE6 = 100000L

  /** The frozen per-(doc, word, merge-rank) drop coordinate in
    * [0, 1e6): the q425 sampling hash salted with the rule rank —
    * 64-bit-safe (doc term < 2^52, wp·131 < 2^27, rank·524287 < 2^23),
    * identical on any engine/partitioning/rerun. `wp` is the rolling
    * code-point polynomial ([[UnigramTokenizer.WordPolySqlSpark]]),
    * computed once per (doc, word) row and passed in — never
    * re-folded per rule per round. A coordinate below the threshold
    * means the rule is dropped for the WHOLE encode of that (doc,
    * word): the draw is per merge rule, frozen up front, which keeps
    * the unrolled DuckDB replay a plain join filter (a per-application
    * re-draw would need the replay to thread round state through the
    * hash). */
  private def dropCoordinate(docId: Column, wp: Column, rank: Column): Column =
    ((docId % 1000003L) * 2654435761L + wp * 131L + rank * 524287L) % 1000000L

  /** The DuckDB text of [[dropCoordinate]] over columns `doc_id`, `wp`
    * and `m.rank` — kept textually parallel so the two sides can be
    * eyeballed against each other; any drift fails the q433 oracle. */
  private def dropCoordinateSql: String =
    "((doc_id % 1000003) * 2654435761 + wp * 131 + m.rank * 524287) % 1000000"

  /** Greedy BPE encode of one word under BPE-dropout: identical to
    * [[bpeEncodeExpr]] except the rule literal is first filtered to the
    * rules whose frozen (doc, word, rank) coordinate clears the drop
    * threshold — per round, the lowest-rank SURVIVING pair present in
    * the symbol string is applied. p = 0 keeps every rule and reduces
    * exactly to the greedy encode (spec-pinned). Still one pure per-row
    * expression: zero joins, zero shuffles, streaming-safe. */
  private[graft] def bpeDropoutEncodeExpr(docId: Column, word: Column,
                                          wp: Column, pE6: Long): Column = {
    val rules = array(BpeMerges.sortBy(_._2).map { case (p, r) =>
      struct(lit(" " + p.replace(" ", "  ") + " ").as("pat"),
        lit(" " + p.replace(" ", "") + " ").as("rep"),
        lit(r.toLong).as("rank"))
    }: _*)
    val kept = filter(rules, r =>
      dropCoordinate(docId, wp, r.getField("rank")) >= lit(pE6))
    val seed = concat(lit(" "),
      array_join(transform(sequence(lit(1), length(word)),
        i => substr(word, i, lit(1))), "  "),
      lit(" "))
    aggregate(sequence(lit(1), lit(BpeRounds)), seed, (acc, _) => {
      val applicable = filter(kept, r => acc.contains(r.getField("pat")))
      when(size(applicable) > 0,
        replace(acc, element_at(applicable, 1).getField("pat"),
          element_at(applicable, 1).getField("rep")))
        .otherwise(acc)
    })
  }

  /** The greedy encode of one word PLUS the ranks it actually applied:
    * `struct(seq, applied)` — the [[bpeEncodeExpr]] loop with the
    * accumulator widened to carry the applied-rank list. The applied
    * set is what makes the dropout encode cheap at corpus scale
    * ([[q433BpeDropoutEncode]]): dropping a rule the greedy encode
    * never APPLIED cannot change the segmentation (by induction the
    * state evolves identically round for round — the greedy pick at
    * each round is the lowest-rank applicable rule, which is applied
    * and therefore kept), so only (doc, word) pairs whose frozen
    * coordinate drops an APPLIED rank need their own encode; the rest
    * reuse the word-grain greedy result. */
  private[graft] def bpeEncodeWithAppliedExpr(word: Column): Column = {
    val rules = array(BpeMerges.sortBy(_._2).map { case (p, r) =>
      struct(lit(" " + p.replace(" ", "  ") + " ").as("pat"),
        lit(" " + p.replace(" ", "") + " ").as("rep"),
        lit(r.toLong).as("rank"))
    }: _*)
    val seed = struct(
      concat(lit(" "),
        array_join(transform(sequence(lit(1), length(word)),
          i => substr(word, i, lit(1))), "  "),
        lit(" ")).as("seq"),
      typedLit(Seq.empty[Long]).as("applied"))
    aggregate(sequence(lit(1), lit(BpeRounds)), seed, (acc, _) => {
      val applicable = filter(rules,
        r => acc.getField("seq").contains(r.getField("pat")))
      when(size(applicable) > 0, struct(
        replace(acc.getField("seq"),
          element_at(applicable, 1).getField("pat"),
          element_at(applicable, 1).getField("rep")).as("seq"),
        concat(acc.getField("applied"),
          array(element_at(applicable, 1).getField("rank"))).as("applied")))
        .otherwise(acc)
    })
  }

  /** The [[bpeEncodeUnrollCtes]] replay at the (doc_id, word) grain
    * with the dropout filter on the merge join: `dwp(doc_id, word,
    * nocc, wp)` seeds s0, and each round's applicable-rule pick keeps
    * only rules clearing the frozen coordinate. Every per-round state
    * is MATERIALIZED — s_r is referenced twice (a_r and s_{r+1}), and
    * at the (doc, word) grain DuckDB's inline expansion would go
    * exponential in the round count (the q325 lesson). */
  private def bpeDropoutUnrollCtes(rounds: Int, pE6: Long): String = {
    val sb = new StringBuilder
    sb ++= s"""s0 AS MATERIALIZED (SELECT doc_id, word, nocc, wp,
              |         ' ' || array_to_string(list_transform(range(1, len(word) + 1),
              |                                               i -> word[i]), '  ') || ' ' AS seq
              |       FROM dwp)""".stripMargin
    for (r <- 0 until rounds) {
      sb ++= s""",
                |a$r AS (
                |  SELECT doc_id, word, pair FROM (
                |    SELECT t.doc_id, t.word, m.pair,
                |      ROW_NUMBER() OVER (PARTITION BY t.doc_id, t.word
                |                         ORDER BY m.rank) AS rn
                |    FROM (SELECT doc_id, word, wp,
                |            unnest(list_transform(range(len(ss) - 1),
                |              i -> ss[i + 1] || ' ' || ss[i + 2])) AS pair
                |          FROM (SELECT doc_id, word, wp,
                |                  string_split(trim(seq), '  ') AS ss
                |                FROM s$r) q) t
                |    JOIN m ON m.pair = t.pair
                |    WHERE ($dropCoordinateSql) >= $pE6) z
                |  WHERE rn = 1),
                |s${r + 1} AS MATERIALIZED (
                |  SELECT s.doc_id, s.word, s.nocc, s.wp,
                |    CASE WHEN a.pair IS NULL THEN s.seq
                |         ELSE replace(s.seq, ' ' || replace(a.pair, ' ', '  ') || ' ',
                |                      ' ' || replace(a.pair, ' ', '') || ' ') END AS seq
                |  FROM s$r s LEFT JOIN a$r a USING (doc_id, word))""".stripMargin
    }
    sb.toString
  }

  /** BPE-dropout encode report: occurrence-weighted top-30 tokens of
    * the regularized segmentations (q425's output grain — the delta
    * against q405's greedy top-30 is the regularization mass the
    * dropout injects on the BPE side). Scale shape: ONE corpus-grain
    * (doc, word) rollup, then a pure per-row encode expression — no
    * joins on the corpus spine, no windows except the rank-limited
    * top-30; the rollup dominates and is map-side combined. */
  val q433BpeDropoutEncode: QuerySpec = {
    val mergeValues = BpeMerges.map { case (p, r) => s"('$p', $r)" }.mkString(", ")
    val oracleText =
      s"""WITH m(pair, rank) AS (VALUES $mergeValues),
         |dw AS MATERIALIZED (
         |  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS nocc
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |        FROM documents) u
         |  WHERE word != '' GROUP BY doc_id, word),
         |dwp AS (SELECT doc_id, word, nocc,
         |          (${graft.llmops.UnigramTokenizer.WordPolySqlDuck}) AS wp
         |        FROM dw),
         |${bpeDropoutUnrollCtes(BpeRounds, BpeDropPE6)}
         |SELECT CAST(rnk AS INT) AS rnk, token, CAST(cnt AS BIGINT) AS cnt FROM (
         |  SELECT token, SUM(nocc) AS cnt,
         |         ROW_NUMBER() OVER (ORDER BY SUM(nocc) DESC, token) AS rnk
         |  FROM (SELECT unnest(string_split(trim(seq), '  ')) AS token, nocc
         |        FROM s$BpeRounds) t
         |  GROUP BY token) z
         |WHERE rnk <= 30 ORDER BY rnk""".stripMargin
    QuerySpec("q433_bpe_dropout_encode", oracleText) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val sp = QuerySpec.prepared(s, dir)
      val dw = sp.table("documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("nocc"))
        .withColumn("wp",
          expr(graft.llmops.UnigramTokenizer.WordPolySqlSpark))
      // dw is DELIBERATELY not staged although both the word-grain
      // side and the join probe read it: a localCheckpoint here
      // materializes the corpus-grain (doc, word) rollup, and that
      // measured 2.4x SLOWER at 10x (7.4 s vs 3.0 s warm at sf1) than
      // letting the cheap codegen'd explode + map-side-combined rollup
      // run twice — the q167-family lesson that slim recomputation
      // beats chunky checkpoints, re-measured here (r20).
      // the encode grain is (doc, word) — per-document draws are the
      // point — but the EXPENSIVE loop only runs where a draw can
      // matter: the greedy encode + its APPLIED ranks are computed
      // once per DISTINCT WORD ([[bpeEncodeWithAppliedExpr]]), joined
      // back (vocab-sized side, AQE broadcasts), and a pair re-encodes
      // only when its frozen coordinate drops an APPLIED rank —
      // dropping a never-applied rule provably changes nothing. The
      // `when` evaluates the dropout loop lazily per row, so most
      // pairs pay one small array probe, not ten merge rounds.
      val wg = dw.select(col("word")).distinct()
        .withColumn("g", bpeEncodeWithAppliedExpr(col("word")))
        .select(col("word"), col("g.seq").as("gseq"),
          col("g.applied").as("gapplied"))
      dw.join(wg, Seq("word"))
        .withColumn("seq",
          when(exists(col("gapplied"), rk =>
            dropCoordinate(col("doc_id"), col("wp"), rk) < lit(BpeDropPE6)),
            bpeDropoutEncodeExpr(col("doc_id"), col("word"), col("wp"),
              BpeDropPE6))
            .otherwise(col("gseq")))
        .select(explode(split(trim(col("seq")), "  ")).as("token"),
          col("nocc"))
        .groupBy(col("token")).agg(sum(col("nocc")).as("cnt"))
        .withColumn("rnk", row_number()
          .over(Window.orderBy(col("cnt").desc, col("token"))).cast("int"))
        .filter(col("rnk") <= 30)
        .select(col("rnk"), col("token"), col("cnt"))
        .orderBy(col("rnk"))
    }
  }

  /** Document text → BPE token array via [[bpeEncodeExpr]]: split to
    * words (empty tokens from doubled separators guarded — Spark's
    * sequence(1, 0) throws), encode each word under a lambda, flatten.
    * Pure per-row expression — batch and streaming alike. */
  private[graft] def bpeTokensExpr(text: Column): Column =
    flatten(transform(
      filter(split(text, " "), w => w =!= ""),
      w => split(trim(bpeEncodeExpr(w)), "  ")))

  /** The unrolled-replay oracle for the BPE ENCODE output grain (top-30
    * token counts) — shared by the join-based loop (q167) and the
    * stateless expression path (q405): both must reproduce it exactly. */
  private def bpeEncodeOracleText: String = bpeOracleUnroll +
    s"""
       |SELECT CAST(rnk AS INT) AS rnk, token, CAST(cnt AS BIGINT) AS cnt FROM (
       |  SELECT token, SUM(n) AS cnt,
       |         ROW_NUMBER() OVER (ORDER BY SUM(n) DESC, token) AS rnk
       |  FROM (SELECT unnest(string_split(trim(seq), '  ')) AS token, n FROM s$BpeRounds) t
       |  GROUP BY token) z
       |WHERE rnk <= 30 ORDER BY rnk""".stripMargin

  val q167BpeEncode: QuerySpec = {
    val oracleText: String = bpeEncodeOracleText
    QuerySpec("q167_text_bpe_encode", oracleText) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      // the ONLY corpus scan (vocab build), checkpointed as in q163
      val vocab = sp.sql(
        """SELECT word, COUNT(*) AS n
          |FROM (SELECT explode(split(text, ' ')) AS word FROM documents) x
          |WHERE word != '' GROUP BY word""".stripMargin)
      bpeEncodeState(sp, vocab).createOrReplaceTempView("g_bpe_encoded")
      sp.sql(
        """SELECT CAST(rnk AS INT) AS rnk, token, CAST(cnt AS BIGINT) AS cnt FROM (
          |  SELECT token, SUM(n) AS cnt,
          |         ROW_NUMBER() OVER (ORDER BY SUM(n) DESC, token) AS rnk
          |  FROM (SELECT explode(split(trim(seq), '  ')) AS token, n FROM g_bpe_encoded) t
          |  GROUP BY token) z
          |WHERE rnk <= 30 ORDER BY rnk""".stripMargin)
    }
  }

  /** The STATELESS-EXPRESSION encode path under the oracle gate: q167
    * pins the join-based per-round state loop; this query pins
    * [[bpeTokensExpr]] — the exact code path the streaming tokenizer
    * stage ([[graft.streaming.EventStreams.tokenizedDocs]]) runs per
    * row — against the SAME unrolled DuckDB replay. Two independent
    * Spark formulations and one oracle: the strongest cross-check the
    * harness offers that the greedy-merge algebra is right. Scale
    * shape: the encode is a pure per-row expression over the distinct
    * word relation (zero joins), the rollup is vocab-grain and
    * map-side combined, and the top-30 window is rank-limited. */
  val q405BpeEncodeExprQ: QuerySpec =
    QuerySpec("q405_bpe_encode_expr", bpeEncodeOracleText) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val sp = QuerySpec.prepared(s, dir)
      sp.table("documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .select(explode(bpeTokensExpr(col("word"))).as("token"), col("n"))
        .groupBy(col("token")).agg(sum(col("n")).as("cnt"))
        .withColumn("rnk", row_number()
          .over(Window.orderBy(col("cnt").desc, col("token"))).cast("int"))
        .filter(col("rnk") <= 30)
        .select(col("rnk"), col("token"), col("cnt"))
        .orderBy(col("rnk"))
    }

  /** Tokenizer fertility report — tokens-per-word and chars-per-token by
    * language, the standard metric for how well a tokenizer serves each
    * language in a multilingual corpus (high fertility = the tokenizer
    * fragments that language, inflating its effective training cost).
    * Applies the [[BpeMerges]] tokenizer via [[bpeEncodeState]] and
    * aggregates token counts per language, weighted by word frequency.
    *
    * Scale shape: ONE corpus scan builds the (word, lang, n) rollup
    * (checkpointed); the word-level vocab the encode loop runs on is a
    * vocabulary-sized re-aggregation of that rollup, and the final report
    * joins the vocabulary-sized encode result back to the rollup — the
    * fact table is never rejoined, same envelope as q167 plus one tiny
    * grouped join. */
  val q176TokenizerFertility: QuerySpec = {
    val oracleText: String = bpeOracleUnroll +
      s""",
         |wl AS (SELECT word, lang, COUNT(*) AS n
         |       FROM (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents) x
         |       WHERE word != '' GROUP BY word, lang),
         |tk AS (SELECT word, len(string_split(trim(seq), '  ')) AS n_tokens,
         |              length(word) AS n_chars
         |       FROM s$BpeRounds)
         |SELECT lang,
         |       CAST(SUM(wl.n) AS BIGINT) AS n_words,
         |       CAST(SUM(wl.n * tk.n_tokens) AS BIGINT) AS n_tokens,
         |       ROUND(CAST(SUM(wl.n * tk.n_tokens) AS DOUBLE)
         |             / CAST(SUM(wl.n) AS DOUBLE), 6) AS fertility,
         |       ROUND(CAST(SUM(wl.n * tk.n_chars) AS DOUBLE)
         |             / CAST(SUM(wl.n * tk.n_tokens) AS DOUBLE), 6) AS chars_per_token
         |FROM wl JOIN tk USING (word)
         |GROUP BY lang ORDER BY lang""".stripMargin
    QuerySpec("q176_tokenizer_fertility", oracleText) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      import org.apache.spark.sql.functions.{col, sum}
      // the ONLY corpus scan: per-(word, lang) rollup, checkpointed
      // because it feeds BOTH the encode vocab and the final report join
      val wl = sp.sql(
        """SELECT word, lang, COUNT(*) AS n
          |FROM (SELECT lang, explode(split(text, ' ')) AS word FROM documents) x
          |WHERE word != '' GROUP BY word, lang""".stripMargin)
        .staged
      val vocab = wl.groupBy("word").agg(sum("n").as("n"))
      val tk = bpeEncodeState(sp, vocab)
        .selectExpr("word", "size(split(trim(seq), '  ')) AS n_tokens",
          "length(word) AS n_chars")
      wl.join(tk, "word")
        .createOrReplaceTempView("g_bpe_fertility")
      sp.sql(
        """SELECT lang,
          |       CAST(SUM(n) AS BIGINT) AS n_words,
          |       CAST(SUM(n * n_tokens) AS BIGINT) AS n_tokens,
          |       ROUND(CAST(SUM(n * n_tokens) AS DOUBLE)
          |             / CAST(SUM(n) AS DOUBLE), 6) AS fertility,
          |       ROUND(CAST(SUM(n * n_chars) AS DOUBLE)
          |             / CAST(SUM(n * n_tokens) AS DOUBLE), 6) AS chars_per_token
          |FROM g_bpe_fertility
          |GROUP BY lang ORDER BY lang""".stripMargin)
    }
  }

  /** Model-based quality filtering — the classifier-inference stage of a
    * modern corpus pipeline (fastText/DCLM/FineWeb-Edu style): each doc
    * gets a feature vector, the dot product with a broadcast weight
    * vector is the quality logit, and the corpus is filtered on the
    * score. Inference is pure map-side dataflow — zero shuffles at any
    * scale; a real model only widens the feature row and weight vector.
    *
    * Features (all deterministic ratios): ln(1+word count), average word
    * length, type-token ratio, stopword fraction. The keep decision
    * thresholds the LOGIT, not sigmoid(logit) — sigmoid is monotone, so
    * the filter is identical, and skipping exp() keeps the arithmetic
    * engine-portable (libm exp differs in the last ulp across engines;
    * +, *, / and ln over these well-separated values do not flip the
    * sign: the closest logit to 0 on the fixture is 3.7e-4). */
  private def qualityLogit(spark: Boolean): String = {
    def words = if (spark) "split(text, ' ')" else "string_split(text, ' ')"
    def nWords = if (spark) s"size($words)" else s"len($words)"
    def nDistinct =
      if (spark) s"size(array_distinct($words))" else s"len(list_distinct($words))"
    def nStop =
      if (spark) s"size(filter($words, w -> w = 'the' OR w = 'a'))"
      else s"len(list_filter($words, w -> w = 'the' OR w = 'a'))"
    s"""-4.6 + 0.5 * ln(1 + $nWords)
       |    + 0.4 * CAST(length(replace(text, ' ', '')) AS DOUBLE) / $nWords
       |    + 1.2 * CAST($nDistinct AS DOUBLE) / $nWords
       |    + 3.0 * CAST($nStop AS DOUBLE) / $nWords""".stripMargin
  }

  /** Spark-dialect quality logit over a `text` column — the single
    * source of truth shared by q169 and the streaming curation twin
    * (graft.streaming.EventStreams.curated). */
  val qualityLogitSql: String = qualityLogit(spark = true)

  val q169ModelQuality: QuerySpec = {
    def text(spark: Boolean): String =
      s"""SELECT doc_id, lang, ROUND(z, 6) AS score, (z > 0) AS kept
         |FROM (
         |  SELECT doc_id, lang,
         |    ${qualityLogit(spark)} AS z
         |  FROM documents) f
         |ORDER BY doc_id""".stripMargin
    QuerySpec.sql2("q169_text_model_quality", text(spark = true), text(spark = false))
  }

  /** URL canonicalization — the normalization a web-corpus dedup keys
    * on (the "canonical URL" of crawl pipelines): lowercase scheme and
    * host, strip the fragment, drop default ports, remove tracking
    * parameters (utm_ prefix, fbclid, gclid), sort the surviving query
    * parameters, and trim a trailing slash on the path. Pure per-row
    * string/array algebra (zero shuffles at scale); the fixture carries
    * the URL shapes since the driver corpus has none. The same
    * canonical key then powers exact URL dedup: the output includes
    * each URL's canonical group size (grouped count + broadcast join —
    * skew-immune against a dominant duplicate URL, see the in-query
    * note). */
  val q166UrlCanonicalize: QuerySpec = {
    val fixture =
      """(VALUES (1, 'https://Example.COM:443/a/b/?utm_source=x&b=2&a=1#frag'),
        |        (2, 'https://example.com/a/b?a=1&b=2'),
        |        (3, 'HTTP://Example.com:80/a/b/'),
        |        (4, 'http://example.com/a/b'),
        |        (5, 'https://example.com/a/b?fbclid=abc&gclid=def'),
        |        (6, 'https://other.org/x?z=26&y=25'),
        |        (7, 'https://other.org/x?y=25&z=26'),
        |        (8, 'http://example.com:443/a/b'),
        |        (9, 'https://example.com:80/a/b')) AS t(id, url)""".stripMargin
    def text(spark: Boolean): String = {
      // dialect helpers: split/filter/sort/join over the query params.
      // Only the SCHEME'S OWN default port is dropped (http→80,
      // https→443): http://host:443/x and https://host:80/x are
      // distinct origins and must keep their explicit port.
      val portKeep =
        """port != '' AND NOT (scheme = 'http' AND port = '80')
          |            AND NOT (scheme = 'https' AND port = '443')""".stripMargin
      def canon(spark: Boolean): String =
        if (spark)
          s"""concat(
             |  scheme, '://',
             |  lower(regexp_extract(u, '^[a-zA-Z]+://([^/:?#]+)', 1)),
             |  CASE WHEN $portKeep
             |       THEN concat(':', port)
             |       ELSE '' END,
             |  CASE WHEN path = '/' THEN '/'
             |       ELSE regexp_replace(path, '/$$', '') END,
             |  CASE WHEN size(params) > 0
             |       THEN concat('?', array_join(array_sort(params), '&'))
             |       ELSE '' END)""".stripMargin
        else
          s"""scheme || '://' ||
             |  lower(regexp_extract(u, '^[a-zA-Z]+://([^/:?#]+)', 1)) ||
             |  CASE WHEN $portKeep
             |       THEN ':' || port
             |       ELSE '' END ||
             |  CASE WHEN path = '/' THEN '/'
             |       ELSE regexp_replace(path, '/$$', '') END ||
             |  CASE WHEN len(params) > 0
             |       THEN '?' || array_to_string(list_sort(params), '&')
             |       ELSE '' END""".stripMargin
      // exact substr prefix tests, not LIKE: Spark default-escapes \_ in
      // LIKE patterns but DuckDB's LIKE has no default escape character
      val paramsExpr =
        if (spark)
          """filter(split(regexp_extract(u, '\\?([^#]*)', 1), '&'),
            |  p -> p != '' AND substr(p, 1, 4) != 'utm_'
            |       AND substr(p, 1, 7) != 'fbclid=' AND substr(p, 1, 6) != 'gclid=')""".stripMargin
        else
          """list_filter(string_split(regexp_extract(u, '\?([^#]*)', 1), '&'),
            |  p -> p != '' AND substr(p, 1, 4) != 'utm_'
            |       AND substr(p, 1, 7) != 'fbclid=' AND substr(p, 1, 6) != 'gclid=')""".stripMargin
      val pathExpr =
        if (spark) "coalesce(nullif(regexp_extract(u, '^[a-zA-Z]+://[^/?#]*(/[^?#]*)', 1), ''), '/')"
        else "coalesce(nullif(regexp_extract(u, '^[a-zA-Z]+://[^/?#]*(/[^?#]*)', 1), ''), '/')"
      // group size by grouped-count + join, not COUNT() OVER (PARTITION
      // BY canonical): a boilerplate canonical (a crawl's top dup URL)
      // would funnel its whole window partition into one task, while the
      // grouped count partial-aggregates map-side and the tiny
      // (canonical, n) relation broadcasts back
      s"""WITH c AS (
         |  SELECT id, ${canon(spark)} AS canonical
         |  FROM (SELECT id, url AS u,
         |          lower(regexp_extract(url, '^([a-zA-Z]+)://', 1)) AS scheme,
         |          regexp_extract(url, '^[a-zA-Z]+://[^/:?#]+:([0-9]+)', 1) AS port,
         |          $pathExpr AS path, $paramsExpr AS params
         |        FROM $fixture) parsed),
         |g AS (SELECT canonical, CAST(COUNT(*) AS BIGINT) AS group_size
         |      FROM c GROUP BY canonical)
         |SELECT c.id, c.canonical, g.group_size
         |FROM c JOIN g ON c.canonical = g.canonical
         |ORDER BY c.id""".stripMargin
    }
    QuerySpec.sql2("q166_text_url_canonicalize", text(spark = true), text(spark = false))
  }

  /** Within-document duplicate-n-gram coverage — the second half of the
    * Gopher repetition suite (Rae et al., "Scaling Language Models",
    * A1.1): [[q123Repetition]] flags the TOP n-gram's share; this flags
    * the fraction of token positions covered by ANY word-3-gram that
    * repeats inside the same document (degenerate generation, chorus
    * boilerplate). The within-doc twin of [[q160SubstringDedup]]: same
    * coverage expansion, but every aggregate and join is keyed on
    * (doc_id, gram) — key cardinality is bounded by a single document's
    * length, so there is no corpus-global hot key at all and the plan is
    * three embarrassingly-parallel passes over `documents` plus doc-local
    * shuffles. Docs shorter than 3 tokens report 0. The Gopher cutoff
    * for this class is 0.30 of the document. (Gopher measures n=5..10
    * on real web text; the synthetic fixture's short word-soup docs
    * have no 5-gram self-repeats at any SF, so the gram size is
    * calibrated to 3 to keep the operator's positive path exercised —
    * the dataflow is n-independent.) */
  val q183DupNgramCoverage: QuerySpec = {
    def text(spark: Boolean): String = {
      val (split, size) =
        if (spark) ("split(text, ' ')", "size(w)") else ("string_split(text, ' ')", "len(w)")
      val g3 =
        if (spark)
          """SELECT doc_id, pos, concat_ws(' ', slice(w, pos + 1, 3)) AS gram
            |  FROM (SELECT doc_id, w,
            |          CASE WHEN size(w) >= 3 THEN sequence(0, size(w) - 3)
            |               ELSE array() END AS ps
            |        FROM t) x
            |  LATERAL VIEW explode(ps) p AS pos""".stripMargin
        else
          """SELECT doc_id, pos, array_to_string(w[pos + 1 : pos + 3], ' ') AS gram
            |  FROM (SELECT doc_id, w, unnest(range(len(w) - 2)) AS pos FROM t) x""".stripMargin
      // cov keeps the gram alongside each covered position so ONE
      // doc-keyed aggregate yields both measures (distinct positions
      // covered, distinct repeated grams) — a separate r3 grouping of
      // d3 would re-inline d3's whole subtree into a fourth corpus scan
      val cov =
        if (spark)
          """SELECT g.doc_id, g.gram, cp
            |  FROM g3 g JOIN d3 d ON g.doc_id = d.doc_id AND g.gram = d.gram
            |  LATERAL VIEW explode(sequence(g.pos, g.pos + 2)) c AS cp""".stripMargin
        else
          """SELECT g.doc_id, g.gram, unnest(range(g.pos, g.pos + 3)) AS cp
            |  FROM g3 g JOIN d3 d ON g.doc_id = d.doc_id AND g.gram = d.gram""".stripMargin
      s"""WITH t AS (SELECT doc_id, $split AS w FROM documents),
         |g3 AS (
         |$g3),
         |d3 AS (SELECT doc_id, gram FROM g3 GROUP BY doc_id, gram HAVING COUNT(*) > 1),
         |cov AS (
         |$cov),
         |a3 AS (SELECT doc_id, COUNT(DISTINCT cp) AS n_cov,
         |              COUNT(DISTINCT gram) AS n_rep
         |       FROM cov GROUP BY doc_id)
         |SELECT t.doc_id, CAST($size AS BIGINT) AS n_tokens,
         |       CAST(COALESCE(a3.n_rep, 0) AS BIGINT) AS n_repeated_grams,
         |       ROUND(COALESCE(a3.n_cov, 0) / CAST($size AS DOUBLE), 6) AS dup3_frac,
         |       (ROUND(COALESCE(a3.n_cov, 0) / CAST($size AS DOUBLE), 6) > 0.3) AS flagged
         |FROM t LEFT JOIN a3 ON t.doc_id = a3.doc_id
         |ORDER BY t.doc_id""".stripMargin
    }
    QuerySpec.sql2("q183_dup_ngram_coverage", text(spark = true), text(spark = false))
  }

  /** Collocation mining by pointwise mutual information — the corpus
    * statistic behind phrase vocabularies and tokenizer pre-merges:
    * PMI(a,b) = ln( P(ab) / (P(a)·P(b)) ) over adjacent word pairs,
    * with a minimum pair count against PMI's rare-pair bias, top-20 by
    * (PMI, pair). [[q184BigramLm]]'s dataflow skeleton — per-doc LAG,
    * vocab-sized count relations, totals as window sums (never a
    * totals CTE: q174 rule) — three corpus scans: bigrams once, and
    * the unigram relation twice because BOTH pair sides join it and
    * Spark re-inlines the doubly-referenced CTE (in DataFrame form
    * you'd stage the vocab once, the q81 localCheckpoint idiom; the
    * SQL form keeps the oracle text shared). Everything downstream is
    * vocab-sized, and the final global rank runs on the thresholded
    * pair table. Fixed
    * DOUBLE expression tree + ROUND(…,6) keeps the scores bit-equal
    * across engines. */
  val q196PmiCollocations: QuerySpec = {
    def text(spark: Boolean): String = {
      val words =
        if (spark)
          """SELECT doc_id, pos, word FROM t
            |  LATERAL VIEW posexplode(w) p AS pos, word""".stripMargin
        else
          """SELECT doc_id, unnest(range(len(w))) AS pos,
            |         unnest(w) AS word FROM t""".stripMargin
      val split = if (spark) "split(text, ' ')" else "string_split(text, ' ')"
      s"""WITH t AS (SELECT doc_id, $split AS w FROM documents),
         |words AS (
         |$words),
         |w2 AS (SELECT doc_id, pos, word,
         |              LAG(word) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |       FROM words),
         |uni AS (SELECT word, cu, SUM(cu) OVER () AS n1
         |        FROM (SELECT word, COUNT(*) AS cu FROM words GROUP BY word) u0),
         |bi AS (SELECT prev, word, c2, SUM(c2) OVER () AS n2
         |       FROM (SELECT prev, word, COUNT(*) AS c2 FROM w2
         |             WHERE prev IS NOT NULL GROUP BY prev, word) b0),
         |pmi AS (
         |  SELECT b.prev, b.word, b.c2,
         |    LN((CAST(b.c2 AS DOUBLE) / CAST(b.n2 AS DOUBLE))
         |       / ((CAST(ua.cu AS DOUBLE) / CAST(ua.n1 AS DOUBLE))
         |          * (CAST(ub.cu AS DOUBLE) / CAST(ub.n1 AS DOUBLE)))) AS score
         |  FROM bi b
         |  JOIN uni ua ON b.prev = ua.word
         |  JOIN uni ub ON b.word = ub.word
         |  WHERE b.c2 >= 5),
         |r AS (SELECT prev, word, c2, score,
         |             ROW_NUMBER() OVER (ORDER BY score DESC, prev, word) AS rnk
         |      FROM pmi)
         |SELECT CAST(rnk AS INT) AS rnk, prev, word,
         |       CAST(c2 AS BIGINT) AS n_pair, ROUND(score, 6) AS pmi
         |FROM r WHERE rnk <= 20
         |ORDER BY rnk""".stripMargin
    }
    QuerySpec.sql2("q196_text_pmi", text(spark = true), text(spark = false))
  }

  /** Interpolated bigram-LM cross-entropy — the KenLM-shaped upgrade of
    * [[q162UnigramLm]]'s fluency proxy: each token scores
    * `λ·P(w|prev) + (1-λ)·P(w)` (λ=0.7) with exact MLE context counts
    * (`count(prev, *)` summed from the bigram table, not approximated by
    * the unigram count), and a document's score is the mean negative
    * log-probability. Curation pipelines use exactly this jump —
    * conditioned probabilities separate fluent text from bag-of-words
    * word salad that a unigram model scores identically.
    *
    * Scale shape: one per-doc LAG window (doc-bounded keys), two
    * corpus-sized keyed joins (token→unigram, token-pair→bigram) whose
    * build sides are vocab-sized, and one doc-keyed sum. The corpus
    * total and per-context sums ride as window sums OVER the vocab-sized
    * grouped relations (the q174 rule: a totals CTE over a grouped CTE
    * re-inlines into an extra corpus scan), so the corpus is scanned
    * exactly three times — unigram count, bigram count, scoring. All
    * probability arithmetic runs in DOUBLE with a fixed expression tree
    * (bit-identical across engines and partitionings); the per-doc sum
    * follows the exact-DECIMAL house rule (graft.operators.Num) so the
    * result is order-independent, and the threshold compares the
    * ROUNDED score. */
  val q184BigramLm: QuerySpec = {
    def text(spark: Boolean): String = {
      val words =
        if (spark)
          """SELECT doc_id, pos, word FROM t
            |  LATERAL VIEW posexplode(w) p AS pos, word""".stripMargin
        else
          """SELECT doc_id, unnest(range(len(w))) AS pos,
            |         unnest(w) AS word FROM t""".stripMargin
      val split = if (spark) "split(text, ' ')" else "string_split(text, ' ')"
      s"""WITH t AS (SELECT doc_id, $split AS w FROM documents),
         |words AS (
         |$words),
         |w2 AS (SELECT doc_id, pos, word,
         |              LAG(word) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |       FROM words),
         |uni AS (SELECT word, cu, SUM(cu) OVER () AS n
         |        FROM (SELECT word, COUNT(*) AS cu FROM words GROUP BY word) u0),
         |bi AS (SELECT prev, word, c2, SUM(c2) OVER (PARTITION BY prev) AS cc
         |       FROM (SELECT prev, word, COUNT(*) AS c2 FROM w2
         |             WHERE prev IS NOT NULL GROUP BY prev, word) b0),
         |p AS (SELECT w2.doc_id,
         |        CASE WHEN w2.prev IS NULL
         |             THEN CAST(u.cu AS DOUBLE) / CAST(u.n AS DOUBLE)
         |             ELSE 0.7 * (CAST(b.c2 AS DOUBLE) / CAST(b.cc AS DOUBLE))
         |                  + 0.3 * (CAST(u.cu AS DOUBLE) / CAST(u.n AS DOUBLE)) END AS pt
         |      FROM w2
         |      JOIN uni u ON w2.word = u.word
         |      LEFT JOIN bi b ON w2.prev = b.prev AND w2.word = b.word),
         |s AS (SELECT doc_id, COUNT(*) AS nw,
         |             SUM(CAST(LN(pt) AS DECIMAL(27,18))) AS lsum
         |      FROM p GROUP BY doc_id)
         |SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
         |       ROUND(-CAST(lsum AS DOUBLE) / nw, 6) AS xent2_nats,
         |       (ROUND(-CAST(lsum AS DOUBLE) / nw, 6) > 3.0) AS flagged
         |FROM s
         |ORDER BY doc_id""".stripMargin
    }
    QuerySpec.sql2("q184_bigram_lm", text(spark = true), text(spark = false))
  }

  /** Interpolated Kneser-Ney bigram probabilities (D = 0.75) — the
    * KenLM-default smoothing that [[q184BigramLm]]'s fixed-λ MLE
    * interpolation approximates: absolute discounting on the bigram
    * count, with the stolen mass backed off to the CONTINUATION
    * unigram (how many distinct contexts a word follows — "Francisco"
    * is frequent but predictable, "report" follows anything), i.e.
    * `P_KN(w|prev) = max(c(prev,w)-D, 0)/c(prev,·)
    *   + D·N1+(prev,·)/c(prev,·) · N1+(·,w)/N1+(·,·)`.
    *
    * Scale shape: the q184 skeleton — per-doc LAG (doc-keyed window,
    * never global), then everything is vocab²-bounded off ONE staged
    * bigram relation: the top-30 pick is a rank-FILTERED window
    * (rn ≤ 30 → partial+final WindowGroupLimit; the r12 version's
    * partition-by stat windows got scheduled between the rank and its
    * filter, which silently defeated the group-limit pushdown and
    * ranked the whole bigram vocabulary in one task), and the KN
    * statistics are plain grouped aggregates joined to the 30
    * survivors (same exact integers as the old window sums). Fixed
    * DOUBLE expression tree + ROUND(…,6): bit-equal on both
    * engines. */
  val q218KneserNey: QuerySpec = {
    val tail =
      """WITH topr AS (SELECT prev, word, c2, rnk FROM (
        |     SELECT prev, word, c2,
        |       ROW_NUMBER() OVER (ORDER BY c2 DESC, prev, word) AS rnk
        |     FROM q218_bi) t WHERE rnk <= 30),
        |fwd AS (SELECT prev, CAST(SUM(c2) AS BIGINT) AS ctot, COUNT(*) AS nfwd
        |        FROM q218_bi GROUP BY prev),
        |bwd AS (SELECT word, COUNT(*) AS nbwd FROM q218_bi GROUP BY word),
        |tot AS (SELECT COUNT(*) AS ntypes FROM q218_bi)
        |SELECT CAST(rnk AS INT) AS rnk, topr.prev, topr.word,
        |  CAST(c2 AS BIGINT) AS n_pair,
        |  ROUND((GREATEST(CAST(c2 AS DOUBLE) - 0.75, 0.0)
        |           / CAST(ctot AS DOUBLE))
        |        + (0.75 * CAST(nfwd AS DOUBLE) / CAST(ctot AS DOUBLE))
        |          * (CAST(nbwd AS DOUBLE) / CAST(ntypes AS DOUBLE)), 6) AS p_kn
        |FROM topr JOIN fwd ON topr.prev = fwd.prev
        |JOIN bwd ON topr.word = bwd.word
        |CROSS JOIN tot
        |ORDER BY rnk""".stripMargin
    val oracleText =
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |words AS (
        |SELECT doc_id, unnest(range(len(w))) AS pos,
        |         unnest(w) AS word FROM t),
        |w2 AS (SELECT doc_id, pos, word,
        |              LAG(word) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |       FROM words),
        |q218_bi AS (SELECT prev, word, COUNT(*) AS c2
        |       FROM w2 WHERE prev IS NOT NULL GROUP BY prev, word),
        |""".stripMargin + tail.stripPrefix("WITH ")
    QuerySpec("q218_kneser_ney_bigram", oracleText) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      import graft.llmops.Checkpoints.Stageable
      val w = org.apache.spark.sql.expressions.Window
      // one corpus scan → the bigram count relation, staged (it feeds
      // the ranked pick and three stat aggregates)
      sp.table("documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .withColumn("prev",
          lag("word", 1).over(w.partitionBy("doc_id").orderBy("pos")))
        .filter(col("prev").isNotNull)
        .groupBy("prev", "word").agg(count(lit(1)).as("c2"))
        .staged
        .createOrReplaceTempView("q218_bi")
      sp.sql(tail)
    }
  }

  /** Character-level Shannon entropy per document — the cheapest
    * degenerate-text detector (repeated-char runs, base64 blobs, and
    * single-token spam all sit far from natural text's ~4 nats/char),
    * complementing [[q89Quality]]'s token-shape ratios. PURE MAP WORK:
    * each doc's entropy comes from its own char array with higher-order
    * functions — zero shuffle at any corpus size. Determinism: the
    * distinct-char array is SORTED before the Σc·ln(c) fold, so both
    * engines sum the same doubles in the same order and the e6-adjacent
    * rounding can't flap (the q205 ulp rule, solved structurally). */
  val q222CharEntropy: QuerySpec = {
    def text(spark: Boolean): String = {
      val split = if (spark) "split(text, '')" else "string_split(text, '')"
      val sz = if (spark) "size" else "len"
      val sort = if (spark) "array_sort" else "list_sort"
      val dedup = if (spark) "array_distinct" else "list_distinct"
      val filt = if (spark) "filter" else "list_filter"
      val fold =
        if (spark)
          s"aggregate(ds, CAST(0.0 AS DOUBLE), (acc, g) -> acc + $sz($filt(cs, x -> x = g)) * LN($sz($filt(cs, x -> x = g))))"
        else
          s"list_aggregate(list_transform(ds, g -> $sz($filt(cs, x -> x = g)) * LN($sz($filt(cs, x -> x = g)))), 'sum')"
      s"""WITH t AS (SELECT doc_id, $split AS cs FROM documents),
         |d AS (SELECT doc_id, $sz(cs) AS n, $sort($dedup(cs)) AS ds, cs
         |      FROM t WHERE $sz(cs) > 0),
         |e AS (SELECT doc_id, n, $fold AS clnc FROM d)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
         |  ROUND(LN(CAST(n AS DOUBLE)) - clnc / n, 6) AS char_entropy_nats,
         |  (ROUND(LN(CAST(n AS DOUBLE)) - clnc / n, 6) < 3.0) AS flagged
         |FROM e ORDER BY doc_id""".stripMargin
    }
    QuerySpec.sql2("q222_char_entropy", text(spark = true), text(spark = false))
  }

  /** Feature-hashing (hashing-trick) collision report — the sizing
    * check before training a fastText-style n-gram classifier (the
    * standard quality/language filter): hash the corpus vocabulary
    * into 1024 buckets with the portable FNV-1a hash and report how
    * hard the buckets collide. `bucket = fnv_hash(word) mod 1024` is
    * engine-portable because 1024 divides 2⁶⁴ — the unsigned-HUGEINT
    * mod in the oracle and pmod of the signed hash in Spark agree
    * bit-for-bit, no sign fix-up needed.
    *
    * Scale shape: vocab distinct (one word-keyed shuffle with map-side
    * combine) → 1024-row load relation → one-row report; the hash is a
    * codegen'd Expression, and at 100 TB the distinct is the only
    * corpus-sized stage (the same relation the vocab/BPE ops already
    * build). */
  val q213FeatureHashing: QuerySpec = {
    // q82's ASCII-corpus FNV-1a HUGEINT replay (see the caveat there)
    val fnvWord =
      """list_reduce(list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(length(word)), i -> CAST(ascii(substr(word, CAST(i+1 AS INT), 1)) AS HUGEINT))),
        |      (h, x) -> ((h - (h % 256) + xor(CAST(h % 256 AS BIGINT), CAST(x AS BIGINT))) * 1099511628211)
        |                % CAST('18446744073709551616' AS HUGEINT))""".stripMargin
    def report(fromLoads: String): String =
      s"""SELECT CAST(SUM(ld) AS BIGINT) AS n_features,
         |  CAST(1024 AS BIGINT) AS n_buckets,
         |  CAST(COUNT(*) AS BIGINT) AS used_buckets,
         |  CAST(MAX(ld) AS BIGINT) AS max_load,
         |  CAST(SUM(CASE WHEN ld > 1 THEN ld ELSE 0 END) AS BIGINT) AS collided_features,
         |  CAST(ROUND(SUM(CASE WHEN ld > 1 THEN ld ELSE 0 END) * 1e6 / SUM(ld)) AS BIGINT) AS collision_frac_e6
         |FROM $fromLoads""".stripMargin
    QuerySpec.sql2(
      "q213_feature_hashing",
      s"""WITH w AS (
         |  SELECT DISTINCT word FROM (
         |    SELECT explode(split(text, ' ')) AS word FROM documents) x),
         |l AS (SELECT pmod(fnv_hash(word), 1024L) AS bucket, COUNT(*) AS ld
         |      FROM w GROUP BY 1)
         |${report("l")}""".stripMargin,
      s"""WITH w AS (
         |  SELECT DISTINCT word FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word FROM documents) x),
         |l AS (SELECT CAST($fnvWord % 1024 AS BIGINT) AS bucket, COUNT(*) AS ld
         |      FROM w GROUP BY 1)
         |${report("l")}""".stripMargin)
  }

  /** Context-length fit report — the planning pass before choosing a
    * training sequence length: for each candidate context size, how
    * many documents get truncated, how many tokens truncation loses,
    * and what fraction of sequence slots padding wastes if each doc
    * occupies its own (truncate-or-pad) sequence. Read together with
    * the packing op (q125): high pad waste is the argument for packing.
    *
    * Scale shape: the token counts are one codegen'd scan; the 3-row
    * candidate grid joins in by cross product BEFORE the group-by, so
    * the aggregate is a 3-key map-side-combined rollup — no per-length
    * rescan of the corpus. */
  val q214ContextFit: QuerySpec = {
    def text(spark: Boolean): String = {
      val nTok = if (spark) "size(split(text, ' '))" else "len(string_split(text, ' '))"
      s"""WITH d AS (SELECT $nTok AS n_tok FROM documents),
         |x AS (SELECT ctx, n_tok
         |      FROM d CROSS JOIN (VALUES (128), (512), (2048)) t(ctx))
         |SELECT ctx, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN n_tok > ctx THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
         |  CAST(SUM(CASE WHEN n_tok > ctx THEN n_tok - ctx ELSE 0 END) AS BIGINT) AS tokens_lost,
         |  CAST(ROUND(SUM(ctx - LEAST(n_tok, ctx)) * 1e6 / SUM(ctx)) AS BIGINT) AS pad_waste_e6
         |FROM x GROUP BY ctx
         |ORDER BY ctx""".stripMargin
    }
    QuerySpec.sql2("q214_context_fit", text(spark = true), text(spark = false))
  }

  /** Flesch-style readability score — the classic prose-difficulty
    * quality signal (alongside q89's surface ratios): 206.835 −
    * 1.015·(words/sentences) − 84.6·(syllables/words), with syllables
    * approximated as maximal vowel-group runs (the standard cheap
    * heuristic) and sentences as terminal-punctuation runs, floored at
    * one. Pure map work — three regexp_extract_all counts per document,
    * zero shuffle at any corpus size; the score is one fixed DOUBLE
    * tree over exact integers, surfaced in centi-points. */
  val q277Readability: QuerySpec = {
    def text(spark: Boolean): String = {
      val words = if (spark) "size(split(text, ' '))" else "len(string_split(text, ' '))"
      val syll =
        if (spark) "size(regexp_extract_all(lower(text), '[aeiouy]+', 0))"
        else "len(regexp_extract_all(lower(text), '[aeiouy]+'))"
      val sent =
        if (spark) "size(regexp_extract_all(text, '[.!?]+', 0))"
        else "len(regexp_extract_all(text, '[.!?]+'))"
      s"""WITH c AS (
         |  SELECT doc_id, $words AS w, $syll AS sy,
         |         GREATEST($sent, 1) AS se
         |  FROM documents
         |  WHERE $words >= 1)
         |SELECT doc_id, CAST(w AS BIGINT) AS n_words,
         |  CAST(sy AS BIGINT) AS n_syllables, CAST(se AS BIGINT) AS n_sentences,
         |  CAST(ROUND((206.835
         |    - 1.015 * (CAST(w AS DOUBLE) / se)
         |    - 84.6 * (CAST(sy AS DOUBLE) / w)) * 100) AS BIGINT) AS flesch_c
         |FROM c ORDER BY doc_id""".stripMargin
    }
    QuerySpec.sql2("q277_text_readability", text(spark = true), text(spark = false))
  }

  /** Robust-winnowing fingerprint density (Schleimer/Wilkerson/Aiken,
    * MOSS): hash every char k-gram (k = 8), slide a w = 4 window over
    * the hash sequence, and select each window's minimum (rightmost on
    * ties) — the selected-position set is the document's fingerprint,
    * guaranteed to share a hash with any copy that overlaps by
    * k + w − 1 chars. The per-position tie-break is ENCODED into the
    * minimized key (h·2²⁰ + (2²⁰−1−i): min h wins, max i breaks ties)
    * so one array_min per window does argmin-with-rightmost exactly.
    * The k-gram hash is the first 8 hex chars of md5 — the only hash
    * both engines spell identically. Complements q91's bottom-k sketch
    * (order-insensitive) with the POSITION-SENSITIVE fingerprint family
    * local plagiarism/clone detection needs. Pure map work: arrays per
    * row, zero shuffle at any corpus size; density is an exact integer
    * ratio. */
  val q286Winnowing: QuerySpec = {
    def text(spark: Boolean): String = {
      val hs =
        if (spark)
          """transform(sequence(0, length(text) - 8),
            |      i -> cast(conv(substr(md5(substr(text, i + 1, 8)), 1, 8), 16, 10) AS BIGINT)
            |           * 1048576 + (1048575 - i))""".stripMargin
        else
          """list_transform(range(0, length(text) - 8 + 1),
            |      i -> ('0x' || substr(md5(substr(text, i + 1, 8)), 1, 8))::BIGINT
            |           * 1048576 + (1048575 - i))""".stripMargin
      val fp =
        if (spark)
          "size(array_distinct(transform(sequence(0, size(hs) - 4), s -> array_min(slice(hs, s + 1, 4)))))"
        else
          "len(list_distinct(list_transform(range(0, len(hs) - 4 + 1), s -> list_aggregate(hs[s + 1:s + 4], 'min'))))"
      val ng = if (spark) "size(hs)" else "len(hs)"
      s"""WITH g AS (
         |  SELECT doc_id, $hs AS hs
         |  FROM documents WHERE length(text) >= 11),
         |w AS (SELECT doc_id, $ng AS n_grams, $fp AS n_fingerprints FROM g)
         |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
         |  CAST(n_fingerprints AS BIGINT) AS n_fingerprints,
         |  CAST(ROUND(n_fingerprints * 1e6 / n_grams) AS BIGINT) AS density_e6
         |FROM w ORDER BY doc_id""".stripMargin
    }
    QuerySpec.sql2("q286_winnowing_fingerprint", text(spark = true), text(spark = false))
  }

  /** Conditional entropy H(next|prev) of the word-bigram distribution,
    * with the unigram entropy H(word) and the information gain
    * H(word) − H(next|prev) — the corpus-level predictability scalar
    * behind [[q184BigramLm]]'s per-document cross-entropy (how much
    * does one word of context buy, corpus-wide?), and exp(H) as the
    * bigram perplexity. Identity used: H(Y|X) = −Σ_{xy} p(x,y)·ln
    * p(y|x) with all probabilities exact count ratios off ONE bigram
    * rollup (unigram counts = window sums per prev — no second corpus
    * scan); entropy terms accumulate via DECIMAL(27,18). Relations
    * after the first rollup are vocab²-bounded. */
  val q291BigramCondEntropy: QuerySpec = {
    def text(spark: Boolean): String = {
      val words =
        if (spark)
          """SELECT doc_id, pos, word FROM t
            |  LATERAL VIEW posexplode(w) p AS pos, word""".stripMargin
        else
          """SELECT doc_id, unnest(range(len(w))) AS pos,
            |         unnest(w) AS word FROM t""".stripMargin
      val split = if (spark) "split(text, ' ')" else "string_split(text, ' ')"
      s"""WITH t AS (SELECT doc_id, $split AS w FROM documents),
         |words AS (
         |$words),
         |w2 AS (SELECT word,
         |              LAG(word) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |       FROM words),
         |bi AS (SELECT prev, word, COUNT(*) AS c2
         |       FROM w2 WHERE prev IS NOT NULL GROUP BY prev, word),
         |bc AS (SELECT prev, word, c2,
         |         CAST(SUM(c2) OVER (PARTITION BY prev) AS BIGINT) AS cp,
         |         CAST(SUM(c2) OVER () AS BIGINT) AS n
         |       FROM bi),
         |hc AS (SELECT MAX(n) AS n,
         |         CAST(SUM(CAST(c2 * LN(CAST(c2 AS DOUBLE) / cp) AS DECIMAL(27,18)))
         |           AS DOUBLE) AS s_cond
         |       FROM bc),
         |un AS (SELECT cu, CAST(SUM(cu) OVER () AS BIGINT) AS nu
         |       FROM (SELECT word, COUNT(*) AS cu FROM words GROUP BY word) u0),
         |hu AS (SELECT MAX(nu) AS nu,
         |         CAST(SUM(CAST(cu * LN(CAST(cu AS DOUBLE) / nu) AS DECIMAL(27,18)))
         |           AS DOUBLE) AS s_uni
         |       FROM un)
         |SELECT CAST(hc.n AS BIGINT) AS n_bigrams,
         |  CAST(ROUND(-s_cond / hc.n * 1e6) AS BIGINT) AS cond_entropy_e6,
         |  CAST(ROUND(-s_uni / hu.nu * 1e6) AS BIGINT) AS unigram_entropy_e6,
         |  CAST(ROUND((-s_uni / hu.nu + s_cond / hc.n) * 1e6) AS BIGINT)
         |    AS info_gain_e6,
         |  CAST(ROUND(EXP(-s_cond / hc.n) * 1e6) AS BIGINT) AS bigram_ppl_e6
         |FROM hc CROSS JOIN hu""".stripMargin
    }
    QuerySpec.sql2("q291_bigram_cond_entropy", text(spark = true), text(spark = false))
  }

  /** Line-level boilerplate REMOVAL with ordered reconstruction — the
    * CCNet/RefinedWeb cleanup stage: a line whose exact text appears in
    * ≥ 2 DISTINCT documents is boilerplate (navigation, headers,
    * license banners) and EVERY copy is dropped — unlike
    * [[q175SubstringRemove]] (Lee-style: first occurrence survives)
    * and [[q146Boilerplate]] (flags, never edits). The fixture is
    * newline-free, so "lines" are fixed 10-word blocks (production
    * swaps in split('\n') — the algebra is segmentation-agnostic);
    * blocks under 3 words are exempt from removal (the char-length
    * floor real pipelines use against spurious short matches). Scale
    * shape: one scan → block relation (corpus-sized, map-side), df
    * through a distinct-doc aggregate; the removal join's build side
    * is the boilerplate-block relation (small — broadcast it; at
    * 100 TB join on xxhash64(block) instead of raw text), and the hot
    * probe keys a universal banner creates are harmless — the build
    * row is unique per block. Reconstruction = per-doc sort of the
    * kept (index, block) pairs, one doc-keyed shuffle. */
  val q300BoilerplateRemove: QuerySpec = {
    def text(spark: Boolean): String =
      if (spark)
        """WITH t AS (SELECT doc_id, split(text, ' ') AS ws FROM documents),
          |b0 AS (SELECT doc_id, ws,
          |         sequence(0, (size(ws) + 9) div 10 - 1) AS bis FROM t),
          |b AS (SELECT doc_id, bi, concat_ws(' ', slice(ws, bi * 10 + 1, 10)) AS blk
          |      FROM b0 LATERAL VIEW explode(bis) p AS bi),
          |df AS (SELECT blk FROM (SELECT DISTINCT doc_id, blk FROM b
          |                        WHERE size(split(blk, ' ')) >= 3) x
          |       GROUP BY blk HAVING COUNT(*) >= 2),
          |r AS (SELECT b.doc_id, b.bi, b.blk, (df.blk IS NOT NULL) AS rm
          |      FROM b LEFT JOIN df ON b.blk = df.blk)
          |SELECT doc_id,
          |  CAST(COUNT(*) AS BIGINT) AS n_blocks,
          |  CAST(SUM(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed_blocks,
          |  CAST(SUM(size(split(blk, ' '))) AS BIGINT) AS n_words_before,
          |  CAST(SUM(CASE WHEN rm THEN 0 ELSE size(split(blk, ' ')) END) AS BIGINT)
          |    AS n_words_after,
          |  concat_ws(' ', transform(array_sort(collect_list(
          |    CASE WHEN NOT rm THEN struct(bi, blk) END)), x -> x.blk)) AS kept_text
          |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin
      else
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |b0 AS (SELECT doc_id, ws, unnest(range((len(ws) + 9) // 10)) AS bi FROM t),
          |b AS (SELECT doc_id, bi,
          |        array_to_string(ws[bi * 10 + 1 : bi * 10 + 10], ' ') AS blk
          |      FROM b0),
          |df AS (SELECT blk FROM (SELECT DISTINCT doc_id, blk FROM b
          |                        WHERE len(string_split(blk, ' ')) >= 3) x
          |       GROUP BY blk HAVING COUNT(*) >= 2),
          |r AS (SELECT b.doc_id, b.bi, b.blk, (df.blk IS NOT NULL) AS rm
          |      FROM b LEFT JOIN df ON b.blk = df.blk)
          |SELECT doc_id,
          |  CAST(COUNT(*) AS BIGINT) AS n_blocks,
          |  CAST(SUM(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed_blocks,
          |  CAST(SUM(len(string_split(blk, ' '))) AS BIGINT) AS n_words_before,
          |  CAST(SUM(CASE WHEN rm THEN 0 ELSE len(string_split(blk, ' ')) END) AS BIGINT)
          |    AS n_words_after,
          |  COALESCE(string_agg(blk, ' ' ORDER BY bi) FILTER (WHERE NOT rm), '')
          |    AS kept_text
          |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin
    QuerySpec.sql2("q300_dedup_boilerplate_remove", text(spark = true), text(spark = false))
  }

  /** Burrows' Delta stylometric distance between every source pair —
    * the authorship-attribution workhorse turned source-forensics tool:
    * two "different" crawls with near-zero Delta are the same generator
    * in disguise (a contamination signal no content hash catches,
    * complementing [[graft.llmops.Dedup]]'s lexical overlap measures).
    * Delta(a,b) = mean over the top-m corpus words of |z_a − z_b|,
    * where z standardizes each word's per-source relative frequency
    * across sources. Scale shape: the top-30 marker words are a
    * rank-FILTERED window (map-side WindowGroupLimit, never a vocab
    * sort); everything downstream lives on the |sources|·30 dense grid
    * (sources × markers cross join, zero-filled via LEFT JOIN) — the
    * corpus appears only in two rollups (per-source totals, per-
    * (source, word) counts). Frequencies and z-scores are fixed DOUBLE
    * trees; cross-source moments and the 30-word distance sums
    * accumulate via DECIMAL(38,18); a zero-variance marker contributes
    * z = 0 for every source (distance 0 — well-defined and harmless).
    * Output: all unordered source pairs, closest first (ties by pair
    * name) — the top of this list is the duplicate-generator report. */
  val q332BurrowsDelta: QuerySpec = {
    def text(spark: Boolean): String = {
      val words =
        if (spark) "SELECT source, explode(split(text, ' ')) AS word FROM documents"
        else "SELECT source, unnest(string_split(text, ' ')) AS word FROM documents"
      s"""WITH w AS ($words),
         |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM w GROUP BY source),
         |cw AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
         |top AS (SELECT word FROM (
         |          SELECT word, ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rk
         |          FROM cw) t WHERE rk <= 30),
         |sw AS (SELECT w.source, w.word, CAST(COUNT(*) AS BIGINT) AS c
         |       FROM w JOIN top ON w.word = top.word GROUP BY w.source, w.word),
         |grid AS (SELECT tot.source, top.word, tot.n_s,
         |           COALESCE(sw.c, 0) AS c
         |         FROM tot CROSS JOIN top
         |         LEFT JOIN sw ON sw.source = tot.source AND sw.word = top.word),
         |f AS (SELECT source, word, CAST(c AS DOUBLE) / n_s AS fr FROM grid),
         |mo AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS k,
         |         CAST(SUM(CAST(fr AS DECIMAL(38,18))) AS DOUBLE) AS s1,
         |         CAST(SUM(CAST(fr * fr AS DECIMAL(38,18))) AS DOUBLE) AS s2
         |       FROM f GROUP BY word),
         |z AS (SELECT f.source, f.word,
         |        CASE WHEN mo.s2 / mo.k - (mo.s1 / mo.k) * (mo.s1 / mo.k) <= 0
         |             THEN 0.0
         |             ELSE (f.fr - mo.s1 / mo.k)
         |                  / SQRT(mo.s2 / mo.k - (mo.s1 / mo.k) * (mo.s1 / mo.k))
         |             END AS z
         |      FROM f JOIN mo ON f.word = mo.word)
         |SELECT a.source AS source_a, b.source AS source_b,
         |  CAST(ROUND(CAST(SUM(CAST(ABS(a.z - b.z) AS DECIMAL(38,18)))
         |    AS DOUBLE) / 30 * 1e6) AS BIGINT) AS delta_e6
         |FROM z a JOIN z b ON a.word = b.word AND a.source < b.source
         |GROUP BY a.source, b.source
         |ORDER BY delta_e6, source_a, source_b""".stripMargin
    }
    // Spark side is DataFrame code, NOT the shared text: the token
    // relation feeds THREE consumers (per-source totals, the top-30
    // scan, the per-(source,word) counts) and Spark's CTE inlining
    // would re-scan and re-explode the corpus per consumer (the q116
    // lesson — the sql2 form planned 32 scans). Staged once, the plan
    // has one corpus explode; everything after lives on tiny relations.
    QuerySpec("q332_burrows_delta", text(spark = false)) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      import org.apache.spark.sql.expressions.Window
      val tok = sp.table("documents")
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
        .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
        .staged // three consumers below
      val tot = tok.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
      val top = tok.groupBy(col("word")).agg(sum(col("c")).as("cnt"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("cnt").desc, col("word"))))
        .filter(col("rk") <= 30).select(col("word"))
      val sw = tok.join(broadcast(top), "word")
        .select(col("source"), col("word"), col("c"))
      val grid = tot.crossJoin(broadcast(top))
        .join(sw, Seq("source", "word"), "left_outer")
        .select(col("source"), col("word"),
          (coalesce(col("c"), lit(0L)).cast("double") / col("n_s")).as("fr"))
        .staged // feeds the moment rollup AND both z branches
      val mo = grid.groupBy(col("word"))
        .agg(count(lit(1)).as("k"),
          sum(col("fr").cast("decimal(38,18)")).cast("double").as("s1"),
          sum((col("fr") * col("fr")).cast("decimal(38,18)")).cast("double")
            .as("s2"))
      val mu = col("s1") / col("k")
      val vr = col("s2") / col("k") - mu * mu
      val z = grid.join(broadcast(mo), "word")
        .select(col("source"), col("word"),
          when(vr <= 0, lit(0.0)).otherwise((col("fr") - mu) / sqrt(vr)).as("z"))
        .staged // self-joined below
      z.as("a").join(z.as("b"),
          col("a.word") === col("b.word") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(round(sum(abs(col("a.z") - col("b.z")).cast("decimal(38,18)"))
          .cast("double") / 30 * lit(1e6)).cast("long").as("delta_e6"))
        .orderBy(col("delta_e6"), col("source_a"), col("source_b"))
    }
  }

  val all: Seq[QuerySpec] = Seq(
    q332BurrowsDelta.benched,
    q300BoilerplateRemove, q301LangidConfusion,
    q277Readability, q286Winnowing, q291BigramCondEntropy,
    q213FeatureHashing, q214ContextFit,
    q88LangId, q89Quality, q90Tokens.benched, q91Fingerprint,
    q94QualityPrune, q191QualityPruneThreshold, q95StratifiedSample,
    q96TfIdf, q122Decontaminate,
    q123Repetition, q125PackBatches, q138Vocab, q146Boilerplate,
    q158ChunkOverlap, q159PiiRedact, q160SubstringDedup,
    q175SubstringRemove.benched, q162UnigramLm, q177PerplexityBuckets,
    q163BpeMerges, q166UrlCanonicalize, q167BpeEncode, q405BpeEncodeExprQ,
    q176TokenizerFertility, q433BpeDropoutEncode, q169ModelQuality,
    q183DupNgramCoverage,
    q184BigramLm.benched, q196PmiCollocations, q218KneserNey,
    q222CharEntropy)
}
