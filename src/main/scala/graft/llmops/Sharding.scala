package graft.llmops

import graft.Dialect
import graft.QuerySpec

/** Corpus sharding and split assignment for training pipelines — the
  * operations between "curated corpus" and "training job": reproducible
  * train/val/test splits, a deterministic global shuffle into shards, and
  * weighted source mixing. All selection is by multiplicative hashing of
  * the stable doc_id (the q95 scheme: product bounded by a prior modulo so
  * 64-bit arithmetic never wraps on either engine), so every operation is
  * a map-side decision — no shuffle to *assign*, one shuffle to *report* —
  * and the assignment of any document is identical on 1 or 10,000
  * executors, across reruns, and across engines (no rand(), no
  * partition-index dependence).
  */
object Sharding {

  /** h(doc_id) in [0, 100): the q95 multiplicative hash — Knuth's 2654435761
    * with the product pre-bounded (doc_id % 1000003 < 2^20, so the product
    * stays < 2^52 — exact in BIGINT on both engines, non-ANSI-safe). */
  private def h100(col: String) = s"(($col % 1000003) * 2654435761) % 100"

  /** Reproducible train/val/test split (80/10/10) with per-language
    * accounting — the split of any doc is a pure function of doc_id, so
    * adding data never reshuffles existing assignments (critical when the
    * eval set must stay frozen across corpus versions). */
  val q130SplitTrainValTest: QuerySpec = QuerySpec.sql(
    "q130_split_train_val_test",
    s"""WITH t AS (
       |  SELECT lang, doc_id, n_chars,
       |    CASE WHEN ${h100("doc_id")} < 80 THEN 'train'
       |         WHEN ${h100("doc_id")} < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents)
       |SELECT split, lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM t GROUP BY split, lang
       |ORDER BY split, lang""".stripMargin)

  /** End-to-end corpus-release pipeline — the composition a curation run
    * actually ships: exact dedup on normalized text (keep-lowest-id per
    * content key), quality gate (the q89 word-count floor), then the
    * frozen multiplicative-hash train/val/test split, reported per
    * (split, language) stratum. One content-key shuffle (the dedup
    * window), everything after it map-side until the stratum rollup —
    * the same plan at 100 TB writes each stratum straight out of the
    * final aggregation's partitioning. Every stage is a pure function
    * of (text, doc_id), so release N+1 reproduces release N's
    * assignments for unchanged documents. */
  val q165PipelineCurate: QuerySpec = {
    def text(spark: Boolean): String = {
      val norm = Dialect.regexReplace(spark, "lower(text)", " +", " ")
      val nWords = Dialect.wordCount(spark)
      s"""WITH kept AS (
         |  SELECT doc_id, lang, $nWords AS n_words FROM (
         |    SELECT doc_id, lang, text,
         |      ROW_NUMBER() OVER (PARTITION BY $norm ORDER BY doc_id) AS rn
         |    FROM documents) t
         |  WHERE rn = 1),
         |gated AS (SELECT * FROM kept WHERE n_words >= 10),
         |s AS (
         |  SELECT doc_id, lang, n_words,
         |    CASE WHEN ${h100("doc_id")} < 80 THEN 'train'
         |         WHEN ${h100("doc_id")} < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM gated)
         |SELECT split, lang, COUNT(*) AS n_docs,
         |  CAST(SUM(n_words) AS BIGINT) AS sum_tokens,
         |  MIN(doc_id) AS first_doc
         |FROM s GROUP BY split, lang
         |ORDER BY split, lang""".stripMargin
    }
    QuerySpec.sql2("q165_pipeline_curate", text(spark = true), text(spark = false))
  }

  /** GROUP-disjoint train/val/test split keyed on the SOURCE (domain)
    * plus its leakage audit — the contamination-proof split: near-dups
    * and templates concentrate within a source, so splitting by doc
    * ([[q130SplitTrainValTest]]) leaks them across the eval boundary
    * while splitting by source cannot. The split of every doc is a pure
    * map-side function of a position-weighted character polynomial of
    * its source (no rand(), replayed identically by the oracle), so
    * assignment shuffles nothing; the audit proves disjointness
    * (max splits touched by any source — MUST be 1 by construction,
    * reported so a pipeline can assert it) and quantifies the price of
    * group granularity: realized doc shares vs the 80/10/10 target
    * (group splits are lumpy — that drift is the number to watch).
    * Share denominators via an unpartitioned window over the 3-row
    * split rollup (aggregated on its own keys — sweep-exempt). */
  val q326GroupSplitLeakage: QuerySpec = {
    def text(spark: Boolean): String = {
      val h =
        if (spark)
          """aggregate(transform(sequence(0, length(source) - 1),
            |      i -> (i + 1) * ascii(substr(source, CAST(i + 1 AS INT), 1))),
            |      0L, (a, x) -> a + x)""".stripMargin
        else
          """list_aggregate(list_transform(range(length(source)),
            |      i -> (i + 1) * ascii(substr(source, CAST(i + 1 AS INT), 1))),
            |      'sum')""".stripMargin
      s"""WITH t AS (
         |  SELECT doc_id, source, n_chars,
         |    CASE WHEN hm < 80 THEN 'train' WHEN hm < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id, source, n_chars,
         |          (($h % 1000003) * 2654435761) % 100 AS hm
         |        FROM documents) d),
         |audit AS (SELECT source, COUNT(DISTINCT split) AS k
         |          FROM t GROUP BY source),
         |a AS (SELECT CAST(MAX(k) AS BIGINT) AS max_splits_per_source
         |      FROM audit),
         |g AS (SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |        CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         |        CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |      FROM t GROUP BY split)
         |SELECT /*+ BROADCAST(a) */ g.split, g.n_docs, g.n_sources, g.sum_chars,
         |  CAST(ROUND(g.n_docs * 1e6
         |    / CAST(SUM(g.n_docs) OVER () AS BIGINT)) AS BIGINT) AS share_e6,
         |  a.max_splits_per_source
         |FROM g CROSS JOIN a
         |ORDER BY g.split""".stripMargin
    }
    QuerySpec.sql2("q326_group_split_leakage",
      text(spark = true), text(spark = false))
  }

  /** Deterministic global shuffle into training shards: shard = hash
    * bucket, within-shard order = (secondary hash, doc_id). The checksum
    * SUM(pos * doc_id) is order-sensitive through pos, so it pins the full
    * permutation, not just membership. At 100 TB the same expression
    * drives `repartition(N, shard)` + `sortWithinPartitions(h2, doc_id)` —
    * one shuffle, each shard written independently. */
  val q131ShuffleShards: QuerySpec = QuerySpec.sql(
    "q131_shuffle_shards",
    """WITH t AS (
      |  SELECT doc_id,
      |    ((doc_id % 1000003) * 2654435761) % 16 AS shard,
      |    ((doc_id % 999983) * 40503) % 65536 AS h2
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, shard,
      |    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h2, doc_id) AS pos
      |  FROM t)
      |SELECT shard, COUNT(*) AS n_docs,
      |  CAST(SUM(CAST(pos AS DECIMAL(19,0)) * doc_id)
      |       % 1000000000000000000 AS BIGINT) AS order_checksum,
      |  MIN(doc_id) AS min_doc
      |FROM p GROUP BY shard
      |ORDER BY shard""".stripMargin)

  /** Weighted source mixing (curriculum/mixture weights): per-source
    * sampling rates applied by hash threshold — src0 keeps 100%, src1 50%,
    * src2 25%, everything else 10%. Map-side selection; the report joins
    * kept counts against totals per source. */
  val q135SourceMix: QuerySpec = QuerySpec.sql(
    "q135_text_source_mix",
    s"""WITH rates AS (
       |  SELECT source, doc_id,
       |    CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 50
       |                WHEN 'src2' THEN 25 ELSE 10 END AS rate_pct
       |  FROM documents),
       |kept AS (
       |  SELECT source, COUNT(*) AS n_kept
       |  FROM rates WHERE ${h100("doc_id")} < rate_pct
       |  GROUP BY source)
       |SELECT r.source, COUNT(*) AS n_total,
       |  MAX(COALESCE(k.n_kept, 0)) AS n_kept,
       |  MAX(r.rate_pct) AS rate_pct
       |FROM rates r LEFT JOIN kept k ON r.source = k.source
       |GROUP BY r.source
       |ORDER BY r.source""".stripMargin)

  /** Temperature-weighted mixing — the τ knob of multilingual training
    * mixes (mT5, PaLM): sampled size per language ∝ n_s^τ, flattening
    * the natural distribution toward uniform as τ → 0 (the fixture's
    * languages are size-skewed, en ≈ 3× fr, unlike its uniform
    * sources). Rates are DERIVED from the observed sizes, anchored
    * so the smallest language is kept whole (downsample-only — no
    * replacement): rate_s = sqrt(min_n / n_s) at τ = 0.5. sqrt (not
    * pow) on purpose: IEEE 754 requires sqrt be correctly rounded, so
    * the rate — and therefore every keep decision — is bit-identical
    * across engines; pow/exp carry last-ulp variance. Row selection is
    * the frozen multiplicative hash of doc_id (the q130/q135 recipe):
    * re-running, re-partitioning, or growing the corpus never flips an
    * existing doc's fate. Scale shape: one tiny per-source agg
    * broadcast back over one corpus scan — no corpus shuffle. */
  val q170TemperatureMix: QuerySpec = {
    val h1m = "((doc_id % 1000003) * 2654435761) % 1000000"
    QuerySpec.sql(
      "q170_text_temperature_mix",
      s"""WITH counts AS (
         |  SELECT lang, COUNT(*) AS n_s FROM documents GROUP BY lang),
         |rates AS (
         |  SELECT lang, n_s,
         |    sqrt(CAST((SELECT MIN(n_s) FROM counts) AS DOUBLE) / n_s) AS rate
         |  FROM counts),
         |kept AS (
         |  SELECT d.lang, COUNT(*) AS n_kept
         |  FROM documents d JOIN rates r ON d.lang = r.lang
         |  WHERE CAST($h1m AS DOUBLE) < rate * 1000000
         |  GROUP BY d.lang)
         |SELECT r.lang, CAST(r.n_s AS BIGINT) AS n_total,
         |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
         |  ROUND(r.rate, 6) AS rate
         |FROM rates r LEFT JOIN kept k ON r.lang = k.lang
         |ORDER BY r.lang""".stripMargin)
  }

  /** Weighted sampling without replacement by sequential Poisson
    * sampling (Ohlsson): each doc gets priority = h(doc_id)/weight for a
    * uniform-ish integer hash h, and the sample is the k smallest
    * priorities — inclusion probability is approximately proportional to
    * the weight (here n_chars, a stand-in for a quality score). No
    * rand(): the priority is a pure function of doc_id, so the sample is
    * identical across reruns, engines, and partitionings, and adding new
    * data never evicts more than the displaced tail. Scale shape: the
    * priority is map-side; global smallest-k plans as
    * TakeOrderedAndProject (no global sort, no corpus shuffle); the
    * oracle's ROW_NUMBER() spelling is the portable SQL equivalent. The
    * one double division per row is a single IEEE op — bit-identical on
    * both engines, so the oracle replays the exact sample. */
  val q150WeightedSample: QuerySpec = {
    val prioritySql =
      "CAST(((doc_id % 999983) * 40503) % 65536 AS DOUBLE) / n_chars"
    QuerySpec(
      "q150_sample_weighted",
      s"""WITH t AS (
         |  SELECT doc_id, lang, n_chars, $prioritySql AS priority
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, lang, n_chars, priority,
         |    ROW_NUMBER() OVER (ORDER BY priority, doc_id) AS rank
         |  FROM t)
         |SELECT rank, doc_id, lang, n_chars, ROUND(priority, 8) AS priority
         |FROM s WHERE rank <= 100
         |ORDER BY rank""".stripMargin) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      import org.apache.spark.sql.functions._
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("priority"), col("doc_id"))
      val t = sp.table("documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          expr(prioritySql).as("priority"))
      // TakeOrderedAndProject first; the rank window touches only k rows
      t.orderBy(col("priority"), col("doc_id")).limit(100)
        .withColumn("rank", row_number().over(w))
        .select(col("rank"), col("doc_id"), col("lang"), col("n_chars"),
          round(col("priority"), 8).as("priority"))
        .orderBy(col("rank"))
    }
  }

  /** DSIR-style data selection via importance resampling (Xie et al.,
    * "Data Selection for Language Models via Importance Resampling",
    * 2023): score every document by how much its hashed-bigram profile
    * looks like a target domain vs the raw corpus, then resample with
    * Gumbel top-k so selection is proportional to the importance weight
    * rather than a hard threshold.
    *
    *  - Features: word bigrams hashed into B=1024 buckets with the
    *    engine's portable fnv_hash (the q82/q120 DuckDB HUGEINT fold
    *    replays it bit-exactly; FixtureGuardSpec pins the ASCII corpus
    *    that makes code-point == byte hashing).
    *  - Weights: per-bucket add-one-smoothed log ratio
    *    ln(p_target/p_source); a doc's log-importance is the sum over
    *    its bigram tokens, accumulated as DECIMAL(27,18) (the q162
    *    recipe) so the fold is partitioning-independent.
    *  - Resampling: Gumbel key logw − ln(−ln(u)) with the deterministic
    *    q150 multiplicative-hash uniform — no rand(), replayable.
    *
    * Scale shape: two passes over the bigram stream, the DSIR minimum —
    * ONE histogram aggregate computes target and source counts together
    * (1024 rows; the smoothing totals are window sums over that tiny
    * relation, NOT a separate CTE, which Spark would inline into a third
    * corpus scan), broadcast into the scoring join; the scoring pass
    * partial-aggregates into the only corpus-sized shuffle (per-doc sum)
    * and the top-k is TakeOrdered. The "target" here is the
    * deterministic doc_id % 7 slice standing in for a curated seed
    * corpus; a real pipeline swaps that predicate for its domain sample. */
  val q174DsirResample: QuerySpec = {
    def text(spark: Boolean): String = {
      val bigrams =
        if (spark)
          """SELECT doc_id, explode(
            |         CASE WHEN size(ws) >= 2
            |              THEN transform(sequence(0, size(ws) - 2),
            |                     i -> concat(ws[i], ' ', ws[i + 1]))
            |              ELSE array() END) AS bg
            |  FROM (SELECT doc_id, split(text, ' ') AS ws FROM documents) x""".stripMargin
        else
          """SELECT doc_id, unnest(list_transform(range(len(ws) - 1),
            |         i -> ws[i + 1] || ' ' || ws[i + 2])) AS bg
            |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) x""".stripMargin
      val bucket =
        if (spark) "pmod(fnv_hash(bg), 1024)"
        else
          """CAST(list_reduce(list_prepend(CAST('14695981039346656037' AS HUGEINT),
            |      list_transform(range(length(bg)), i -> CAST(ascii(substr(bg, CAST(i+1 AS INT), 1)) AS HUGEINT))),
            |      (h, x) -> ((h - (h % 256) + xor(CAST(h % 256 AS BIGINT), CAST(x AS BIGINT))) * 1099511628211)
            |                % CAST('18446744073709551616' AS HUGEINT)) % 1024 AS BIGINT)""".stripMargin
      s"""WITH b AS (
         |  SELECT doc_id, $bucket AS bucket FROM (
         |  $bigrams) bg_rel),
         |hist AS (SELECT bucket, COUNT(*) AS cs,
         |           SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS ct
         |         FROM b GROUP BY bucket),
         |r AS (SELECT bucket,
         |        LN(((ct + 1) / (CAST(SUM(ct) OVER () AS DOUBLE) + 1024.0))
         |           / ((cs + 1) / (CAST(SUM(cs) OVER () AS DOUBLE) + 1024.0))) AS lr
         |      FROM hist),
         |d AS (SELECT b.doc_id, COUNT(*) AS n_bigrams,
         |        SUM(CAST(r.lr AS DECIMAL(27,18))) AS lsum
         |      FROM b JOIN r ON b.bucket = r.bucket
         |      GROUP BY b.doc_id),
         |g AS (SELECT doc_id, n_bigrams, CAST(lsum AS DOUBLE) AS logw,
         |        CAST(lsum AS DOUBLE)
         |          - LN(-LN((CAST(((doc_id % 999983) * 40503) % 65536 AS DOUBLE) + 1.0) / 65537.0)) AS gkey
         |      FROM d),
         |s AS (SELECT doc_id, n_bigrams, logw, gkey,
         |        ROW_NUMBER() OVER (ORDER BY gkey DESC, doc_id) AS rnk
         |      FROM g)
         |SELECT CAST(rnk AS INT) AS rnk, doc_id,
         |       CAST(n_bigrams AS BIGINT) AS n_bigrams, ROUND(logw, 6) AS logw
         |FROM s WHERE rnk <= 50
         |ORDER BY rnk""".stripMargin
    }
    // The Spark side runs as DataFrame code with the bigram-bucket
    // relation staged ONCE: as shared SQL, Spark inlines the `b` CTE
    // into BOTH consumers (the histogram and the per-doc scoring join),
    // re-running the corpus explode + FNV hash — the q116 CTE-inlining
    // trap, caught by the r20 profiling pass. Same algebra term for
    // term; the DuckDB oracle text (which materializes CTEs) is
    // unchanged, so the driver hash-checks the equivalence.
    QuerySpec(
      "q174_dsir_resample",
      Some(text(spark = false)),
      { (s, dir) =>
        import graft.llmops.Checkpoints.Stageable
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val sp = QuerySpec.prepared(s, dir)
        val b = sp.table("documents")
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .select(col("doc_id"), explode(expr(
            """CASE WHEN size(ws) >= 2
              |     THEN transform(sequence(0, size(ws) - 2),
              |            i -> concat(ws[i], ' ', ws[i + 1]))
              |     ELSE array() END""".stripMargin)).as("bg"))
          .select(col("doc_id"),
            expr("pmod(fnv_hash(bg), 1024)").as("bucket"))
          .staged // the histogram and the scoring join both read it
        val hist = b.groupBy(col("bucket")).agg(
          count(lit(1)).as("cs"),
          sum(when(col("doc_id") % 7 === 0, 1L).otherwise(0L)).as("ct"))
        // smoothing totals: window sums over the ≤1024-row histogram
        val r = hist
          .withColumn("lr", log(
            ((col("ct") + 1) / (sum(col("ct")).over(Window.partitionBy())
              .cast("double") + 1024.0))
              / ((col("cs") + 1) / (sum(col("cs")).over(Window.partitionBy())
                .cast("double") + 1024.0))))
          .select(col("bucket"), col("lr"))
        val d = b.join(broadcast(r), "bucket")
          .groupBy(col("doc_id")).agg(
            count(lit(1)).as("n_bigrams"),
            sum(col("lr").cast("decimal(27,18)")).as("lsum"))
        val g = d
          .withColumn("logw", col("lsum").cast("double"))
          .withColumn("gkey", col("logw")
            - log(-log(((((col("doc_id") % 999983) * 40503) % 65536)
              .cast("double") + 1.0) / 65537.0)))
        g.withColumn("rnk", row_number().over(
            Window.orderBy(col("gkey").desc, col("doc_id"))))
          .filter(col("rnk") <= 50)
          .select(col("rnk").cast("int").as("rnk"), col("doc_id"),
            col("n_bigrams").cast("long").as("n_bigrams"),
            round(col("logw"), 6).as("logw"))
          .orderBy(col("rnk"))
      })
  }

  /** Neyman-optimal labeling-budget allocation across language strata —
    * "given 100 annotations, how many per language?": n_h ∝ N_h·S_h
    * (stratum size × within-stratum spread of n_chars) minimizes the
    * variance of the estimated corpus mean, vs the proportional
    * allocation (∝ N_h) shown alongside; high-variance strata earn
    * more than their headcount. Weights come from exact integer
    * moments (one corpus rollup; population S_h = √((Σx²−(Σx)²/N)/N)
    * as a fixed DOUBLE tree with DECIMAL(38,0) headroom); integerizing
    * uses LARGEST-REMAINDER rounding — FLOOR everything, hand the
    * missing units to the largest fractional parts (rounded-e9 keys,
    * lang tie-break) — so the allocation sums to the budget EXACTLY,
    * deterministically, on both engines. All post-rollup work lives on
    * the |strata|-row relation. */
  val q336NeymanAllocation: QuerySpec = QuerySpec.sql(
    "q336_neyman_allocation",
    """WITH m AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nh,
      |    CAST(SUM(n_chars) AS BIGINT) AS sx,
      |    CAST(SUM(CAST(n_chars AS DECIMAL(38,0)) * n_chars) AS DECIMAL(38,0)) AS qx
      |  FROM documents GROUP BY lang),
      |s AS (SELECT lang, nh,
      |        SQRT(GREATEST((CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / nh)
      |                      / nh, 0.0)) AS sh
      |      FROM m),
      |w AS (SELECT lang, nh, sh,
      |        nh * sh AS wgt,
      |        CAST(SUM(CAST(nh * sh AS DECIMAL(38,6))) OVER () AS DOUBLE) AS wtot,
      |        CAST(SUM(nh) OVER () AS BIGINT) AS ntot
      |      FROM s),
      |r AS (SELECT lang, nh, sh,
      |        100.0 * wgt / wtot AS raw_ney,
      |        100.0 * nh / ntot AS raw_prop,
      |        CAST(FLOOR(100.0 * wgt / wtot) AS BIGINT) AS base
      |      FROM w),
      |k AS (SELECT lang, nh, sh, raw_ney, raw_prop, base,
      |        ROW_NUMBER() OVER (ORDER BY CAST(ROUND((raw_ney - base) * 1e9)
      |          AS BIGINT) DESC, lang) AS frac_rank,
      |        CAST(100 - SUM(base) OVER () AS BIGINT) AS missing
      |      FROM r)
      |SELECT lang, nh AS n_docs,
      |  CAST(ROUND(sh * 1e2) AS BIGINT) AS stddev_chars_e2,
      |  base + CASE WHEN frac_rank <= missing THEN 1 ELSE 0 END AS n_neyman,
      |  CAST(ROUND(raw_prop) AS BIGINT) AS n_proportional,
      |  CAST(ROUND(raw_ney * 1e4) AS BIGINT) AS raw_neyman_e4
      |FROM k ORDER BY lang""".stripMargin)

  /** Sequence PACKING audit — the concatenate-and-chunk batching every
    * causal-LM pre-training pipeline runs between "shuffled corpus" and
    * "fixed-length training batches" (documents are laid end to end in
    * a deterministic order and cut into context-window chunks; a doc
    * whose span crosses a chunk boundary is split across training
    * sequences). Context length 64 words here (a spec parameter — the
    * production value is the model's context size). Per source: how
    * many documents, how many tokens, how many docs get SPLIT across a
    * boundary, and how many chunk slots the source's docs touch — the
    * numbers a data engineer tunes shuffle granularity against (a
    * source whose docs are mostly split loses attention locality).
    *
    * Scale shape: each doc's global token offset is ONE range-
    * partitioned prefix sum over the doc-grain relation
    * ([[graft.operators.Prefix.prefixSums]] — never a single-task
    * window); everything after is per-row integer arithmetic and one
    * map-side-combined rollup. Exact BIGINT throughout. */
  val q404PackSequences: QuerySpec = QuerySpec(
    "q404_pack_sequences",
    """WITH d AS (SELECT doc_id, source,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |           FROM documents),
      |o AS (SELECT doc_id, source, n,
      |        CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |          AS BIGINT) AS off
      |      FROM d),
      |per AS (SELECT source, n,
      |          (off + n - 1) // 64 - off // 64 AS extra
      |        FROM o)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
      |  CAST(SUM(n) AS BIGINT) AS tokens,
      |  CAST(SUM(CASE WHEN extra > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS boundary_docs,
      |  CAST(SUM(extra + 1) AS BIGINT) AS chunk_slots
      |FROM per GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val sp = QuerySpec.prepared(s, dir)
    val d = sp.table("documents").select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n"))
    val cum = graft.operators.Prefix.prefixSums(
      d, Seq(col("doc_id")), Seq((col("n"), "cum")))
    cum.withColumn("off", col("cum") - col("n"))
      .withColumn("extra", expr("(off + n - 1) div 64 - off div 64"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"), sum(col("n")).as("tokens"),
        sum(when(col("extra") > 0, 1L).otherwise(0L)).as("boundary_docs"),
        sum(col("extra") + 1).as("chunk_slots"))
      .orderBy(col("source"))
  }

  val all: Seq[QuerySpec] = Seq(
    q336NeymanAllocation,
    q165PipelineCurate,
    q130SplitTrainValTest, q131ShuffleShards, q135SourceMix, q170TemperatureMix,
    q150WeightedSample, q174DsirResample.benched, q326GroupSplitLeakage,
    q404PackSequences)
}
