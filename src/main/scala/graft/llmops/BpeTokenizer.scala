package graft.llmops

import graft.QuerySpec
import graft.llmops.Checkpoints.Stageable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer TRAINING — the merge-table learning loop of
  * Sennrich et al. 2016 ("Neural Machine Translation of Rare Words with
  * Subword Units", the algorithm behind GPT/Llama tokenizers), run as
  * pure DataFrame algebra. ONE loop, [[BpeTokenizer.trainMerges]]: each
  * round counts adjacent symbol-pair frequencies across the corpus,
  * picks up to m NON-INTERACTING winners (deterministic tie-break:
  * count DESC, then the pair lexicographically), and rewrites every word
  * by greedy LEFT-TO-RIGHT non-overlapping replacement. At m = 1 that is
  * the exact textbook loop (q401), so the learned merge table is
  * reproducible bit-for-bit on any partitioning; m > 1 (q407, q422)
  * learns K merges in K/m rounds.
  *
  * Scale shape — the decisive trick is the GRAIN: training never touches
  * the corpus again after one groupBy. The working relation is the
  * DISTINCT-WORD symbol table `(word, freq, pos, sym)` — vocabulary ×
  * average word length rows (~10⁸·6 at web scale, vs 10¹¹+ corpus
  * tokens), where `freq` carries each word's corpus weight so pair
  * counts stay corpus-exact. Per round: pair counting is a map-side-
  * combined groupBy; the winners are a TopN (never a global sort); the
  * rewrite joins the ≤ m-row winner relation via an explicit broadcast
  * and uses only windows PARTITIONED BY word — each partition is one
  * word's symbols, bounded by the longest word's character count, so no
  * tie block, boilerplate or otherwise, can pin a task (the q383/suffix-
  * array skew discipline). Per-round SYMBOL state is localCheckpoint-ed
  * and its predecessor released, like the suffix-array doubling loop;
  * the round's winners are read back as ≤ m observed rows and the K-row
  * merge-table artifact is a local relation, so no winner checkpoint is
  * ever retained.
  *
  * Greedy left-to-right on "aaaa" with winner (a,a) must yield
  * [aa, aa] — NOT three overlapping matches. Encoded without any
  * per-word UDF: a match CANDIDATE is a position whose (sym, next-sym)
  * equals a winner; within each maximal run of consecutive candidates
  * the kept matches are the 1st, 3rd, 5th, … (odd row number inside the
  * run — runs delimited by the running count of non-candidates), and a
  * row is consumed when its LEFT neighbour was kept. BpeSpec pins the
  * overlap parity, the tie-break, and the empty-winner guard.
  *
  * The reference has no tokenizer trainer (it is a SQL frontend); this
  * is part of the training-data-pipeline surface the build adds on top
  * (SURVEY §2 LLM-ops block). Relation to the existing BPE queries:
  * [[TextAnalysis.q163BpeMerges]] pins the fixpoint machinery of the
  * FIRST TWO merge rounds in a sentinel-spaced string-replace
  * formulation; [[TextAnalysis.q167BpeEncode]] APPLIES a pretrained
  * merge table. This module is the full TRAINER between them — the
  * k-round loop with the empty-winner stop, producing the ordered
  * merge-table artifact (q401) an encoder consumes and the compression
  * metric (q402) a training sweep tunes K against — in a purely
  * relational formulation (run-parity windows, no string surgery)
  * whose per-round cost is independent of symbol text lengths. */
object BpeTokenizer {

  /** Number of merges to learn. A SPEC PARAMETER of the operator (the
    * "first K merges", like k in a top-k) — not a corpus-derived
    * correctness bound: stopping early is always well-defined, and the
    * loop also stops on its own the round no adjacent pair is left
    * anywhere (every word fully merged), so no corpus can run it off
    * the end. Real trainings use K≈30k–100k; the loop cost is
    * K/m·(one vocab-grain groupBy + one TopN + one broadcast-join
    * rewrite), so at production K the round count is bounded by the
    * batch size m, not by K. */
  private[graft] val Merges = 6

  /** Batch size of q407: merges applied per round. K merges need K/m
    * rounds. */
  private[graft] val BatchM = 3

  /** Candidate-pool depth the per-round batch is selected from — a
    * documented cap: a pair blocked only by candidates BELOW the pool
    * cut cannot be selected this round (it returns in a later round, so
    * no merge is ever lost, only deferred). Pool² drives the blocking
    * self-join: 16² = 256 comparisons, broadcast-trivial. */
  private[graft] val BatchPool = 16

  /** Batched training rounds for q407: 2 × [[BatchM]] = the same merge
    * budget as q401's K = 6, in one third the rounds. */
  private[graft] val BatchRounds = 2

  /** The larger-K budget of q416/q422: rounds × m = 48 merges — 8×
    * q401's K. */
  private[graft] val K48Rounds = 6
  private[graft] val K48M = 8
  private[graft] val K48Pool = 32

  /** Corpus words with total occurrence counts — the ONLY corpus-grain
    * pass in the whole training (one map-side-combinable groupBy). */
  private def wordFreqs(sp: SparkSession): DataFrame =
    sp.table("documents")
      .select(explode(split(col("text"), " ")).as("word"))
      // empty tokens (doubled separators) carry no symbols — and Spark's
      // sequence(1, 0) THROWS where DuckDB's range(1, 1) is just empty,
      // so the guard is a cross-engine safety rail, not cosmetics
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Seed symbol table: one row per (word, char position), `sym` the
    * single character. Character extraction is an explicit
    * sequence/substring transform (not a regex split) so Spark and the
    * DuckDB oracle (`word[i]`) index characters identically. */
  private[graft] def seedSyms(sp: SparkSession): DataFrame =
    wordFreqs(sp)
      .select(col("word"), col("freq"),
        posexplode(expr(
          "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
          .as(Seq("p0", "sym")))
      .select(col("word"), col("freq"),
        (col("p0") + 1).cast("long").as("pos"), col("sym"))

  private def wordW = Window.partitionBy(col("word")).orderBy(col("pos"))

  /** Symbol table with each position's right neighbour attached. The
    * window partitions by WORD: bounded by the longest word's length,
    * never a corpus- or vocab-grain partition. */
  private[graft] def withNext(syms: DataFrame): DataFrame =
    syms.withColumn("nxt", lead(col("sym"), 1).over(wordW))

  /** Corpus-weighted adjacent-pair counts (l, r, pair_freq) off a
    * neighbour-attached symbol table — the relation every winner
    * selection ranks. GroupBy is map-side combined; the relation is
    * PAIR-grain (distinct adjacent pairs), far below the symbol grain. */
  private def pairCounts(next: DataFrame): DataFrame =
    next.filter(col("nxt").isNotNull)
      .groupBy(col("sym"), col("nxt")).agg(sum(col("freq")).as("pair_freq"))
      .select(col("sym").as("l"), col("nxt").as("r"), col("pair_freq"))

  /** The round's batch of up to m NON-INTERACTING winners, selected
    * from the top-`pool` candidate pairs: ranked by corpus-weighted
    * count DESC then (l, r), a candidate is kept iff NO higher-ranked
    * candidate in the pool shares a symbol with it (rank-blind blocking
    * — a pure per-pair predicate over the pool, fully parallel;
    * kept-aware greedy would chain sequentially). Because kept rules
    * share no symbol, every position matches at most one rule and all
    * batch counts/candidates are consistently evaluated against the
    * ROUND-START state. Returns (l, r, pair_freq, brk) with brk the
    * 1-based in-batch rank. */
  private[graft] def batchWinners(next: DataFrame, m: Int, pool: Int): DataFrame = {
    // TakeOrdered pool, then windows over the ≤pool-row relation only
    val pooled = pairCounts(next)
      .orderBy(col("pair_freq").desc, col("l"), col("r")).limit(pool)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("pair_freq").desc, col("l"), col("r"))))
    val blockers = pooled.select(col("rk").as("q_rk"), col("l").as("q_l"),
      col("r").as("q_r"))
    pooled.join(blockers,
        col("q_rk") < col("rk") &&
          (col("q_l") === col("l") || col("q_l") === col("r") ||
            col("q_r") === col("l") || col("q_r") === col("r")),
        "left_anti")
      .orderBy(col("rk")).limit(m)
      .withColumn("brk",
        row_number().over(Window.orderBy(col("rk"))).cast("long"))
      .select(col("l"), col("r"), col("pair_freq"), col("brk"))
  }

  /** The round's winners in [[batchWinners]]' shape; empty iff no word
    * has ≥ 2 symbols left. At m = 1 the batch is the top-1 pair — rank 1
    * is never blocked — so a plain TopN replaces the pool window and
    * blocking anti-join (measurably cheaper per round; BpeSpec pins the
    * two selections equal). */
  private[graft] def winners(next: DataFrame, m: Int, pool: Int): DataFrame =
    if (m == 1)
      pairCounts(next).orderBy(col("pair_freq").desc, col("l"), col("r"))
        .limit(1).withColumn("brk", lit(1L))
    else batchWinners(next, m, pool)

  /** Greedy left-to-right rewrite of every word by the ≤ m-row,
    * broadcast winner relation. The winners share no symbol, so each
    * position matches at most one rule and candidates of different rules
    * can never be consecutive — consecutive candidates are always the
    * same (s, s) rule, which keeps the run-parity algebra exact:
    * candidates → run parity → keep odd matches, drop each kept match's
    * right neighbour, renumber. All windows partition by word. An empty
    * winner relation leaves every word untouched (equality left join). */
  private[graft] def rewrite(next: DataFrame, winner: DataFrame): DataFrame = {
    val m = next.join(broadcast(winner.select(col("l"), col("r"))),
        col("sym") === col("l") && col("nxt") === col("r"), "left")
      .withColumn("cand", when(col("l").isNotNull, 1L).otherwise(0L))
    val g = m.withColumn("grp",
      sum(when(col("cand") === 0, 1L).otherwise(0L)).over(wordW))
    val h = g.withColumn("take",
      when(col("cand") === 1 &&
        row_number().over(Window.partitionBy(col("word"), col("grp"),
          col("cand")).orderBy(col("pos"))) % 2 === 1, 1L)
        .otherwise(0L))
    h.withColumn("ptake", lag(col("take"), 1, 0L).over(wordW))
      .filter(col("ptake") === 0)
      .withColumn("sym2",
        when(col("take") === 1, concat(col("sym"), col("r")))
          .otherwise(col("sym")))
      .withColumn("pos2", row_number().over(wordW).cast("long"))
      .select(col("word"), col("freq"), col("pos2").as("pos"),
        col("sym2").as("sym"))
  }

  /** The training loop: `rounds` rounds of up to `m` merges each,
    * selected from the top-`pool` pairs ([[winners]]). Returns (merge
    * table `(round, brk, l, r, pair_freq)` with 1-based `round` and
    * in-batch rank `brk`, final symbol table). Stops early, recording no
    * merge, the round no adjacent pair is left.
    *
    * Per round ONE execution: the winners are selected INSIDE the
    * rewrite's own execution (the TopN relation joins the rewrite as a
    * broadcast subtree) and read back as an observed collect_list metric
    * off the round's checkpoint job. The symbol table is staged and its
    * predecessor released ([[Checkpoints.iterate]]); the merge table is
    * rebuilt on the driver
    * from the observations, so it stays a local relation and the loop
    * retains ZERO winner checkpoints. At m = 256, K ≈ 30k merges take
    * ~120 rounds instead of 30k sequential job rounds.
    *
    * Pair counts are recounted every round: delta-maintained counts
    * measured 1.2–1.3× slower at 48 merges, because the recount's groupBy
    * is map-side combined and the rewrite scans every symbol anyway. */
  private[graft] def trainMerges(
      sp: SparkSession, rounds: Int = Merges, m: Int = 1,
      pool: Int = BatchPool): (DataFrame, DataFrame) = {
    import sp.implicits._
    // the exhausting round (no winner) rewrites nothing, so its identity
    // copy is the final table
    val merges = Seq.newBuilder[(Long, Long, String, String, Long)]
    val (syms, _) = Checkpoints.iterate(seedSyms(sp).staged, rounds) { r =>
      // NOT staged: the winner selection and the rewrite each derive the
      // lead() column from the checkpointed symbol table in their own
      // (already word-sorted) pipeline, within ONE execution — cheaper
      // than a second per-round materialization
      val next = withNext(r.prev)
      rewrite(next, r.observe(winners(next, m, pool),
        collect_list(struct(col("brk"), col("l"), col("r"),
          col("pair_freq"))).as("__ws")))
    } { (r, _, observed) =>
      // collect_list order is nondeterministic — brk restores batch rank
      val batch = observed.rows("__ws").sortBy(_.getAs[Long]("brk"))
      merges ++= batch.map(w => (r.n.toLong, w.getAs[Long]("brk"),
        w.getAs[String]("l"), w.getAs[String]("r"),
        w.getAs[Long]("pair_freq")))
      batch.nonEmpty
    }
    val mergeTable = merges.result()
      .toDF("round", "brk", "l", "r", "pair_freq")
    (mergeTable, syms)
  }

  /** A learned merge table as [[TextAnalysis.bpeEncodeRules]]'s rule
    * literal: `("l r", rank)` rows. The table is the driver-local
    * relation [[trainMerges]] builds (at most `rounds × m` rows), so the
    * collect stages nothing and leaves nothing to release. */
  private[graft] def mergeRules(mergeTable: DataFrame,
                                rank: Column): Seq[(String, Int)] =
    mergeTable.select(concat_ws(" ", col("l"), col("r")), rank.cast("int"))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq

  /** DuckDB oracle: the same loop with each round unrolled into one CTE
    * chain (pairs → winner → candidates → run parity → rewrite) —
    * generated programmatically so the two engines can never drift on
    * round count. `LEFT JOIN ... ON TRUE` mirrors the Spark side's
    * empty-winner guard. */
  private def oracleRound(k: Int): String = {
    val i = s"syms$k"
    s"""pairs$k AS (
       |  SELECT a.sym AS l, b.sym AS r, CAST(SUM(a.freq) AS BIGINT) AS c
       |  FROM $i a JOIN $i b ON a.word = b.word AND b.pos = a.pos + 1
       |  GROUP BY 1, 2),
       |win$k AS (SELECT l, r, c FROM pairs$k ORDER BY c DESC, l, r LIMIT 1),
       |m$k AS (
       |  SELECT s.word, s.freq, s.pos, s.sym, w.l, w.r,
       |    CASE WHEN s.sym = w.l AND
       |              LEAD(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) = w.r
       |         THEN 1 ELSE 0 END AS cand
       |  FROM $i s LEFT JOIN win$k w ON TRUE),
       |g$k AS (
       |  SELECT *, SUM(CASE WHEN cand = 0 THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY word ORDER BY pos) AS grp
       |  FROM m$k),
       |h$k AS (
       |  SELECT *, CASE WHEN cand = 1 AND
       |      ROW_NUMBER() OVER (PARTITION BY word, grp, cand ORDER BY pos) % 2 = 1
       |    THEN 1 ELSE 0 END AS take
       |  FROM g$k),
       |syms${k + 1} AS MATERIALIZED (
       |  SELECT word, freq,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos,
       |    CASE WHEN take = 1 THEN sym || r ELSE sym END AS sym
       |  FROM (SELECT *, COALESCE(LAG(take) OVER (PARTITION BY word ORDER BY pos), 0)
       |          AS ptake FROM h$k) z
       |  WHERE ptake = 0)""".stripMargin
  }

  /** Seed CTEs (words0 + syms0) shared by the textbook-loop oracle and
    * the batched-trainer oracle. */
  private def oracleSeed: String =
    """words0 AS (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) u
      |  WHERE word != ''
      |  GROUP BY word),
      |syms0 AS MATERIALIZED (
      |  -- each round reads its syms 3x (both pair arms + the rewrite):
      |  -- MATERIALIZED stops the inlining from compounding 3^rounds
      |  -- (the q325 exponential-CTE trap)
      |  SELECT word, freq, CAST(i AS BIGINT) AS pos, word[i] AS sym
      |  FROM words0, LATERAL (SELECT unnest(range(1, len(word) + 1)) AS i) u)"""
      .stripMargin

  private[llmops] def oracleCtes(rounds: Int): String =
    (oracleSeed +: (0 until rounds).map(oracleRound)).mkString(",\n")

  /** The learned merge table itself — round, pair, merged token, corpus-
    * weighted pair frequency. THE artifact a tokenizer trainer ships. */
  val q401BpeMerges: QuerySpec = QuerySpec(
    "q401_bpe_merges",
    s"""WITH ${oracleCtes(Merges)},
       |merges AS (${(0 until Merges)
        .map(k => s"SELECT ${k + 1} AS round, l, r, c FROM win$k")
        .mkString(" UNION ALL ")})
       |SELECT CAST(round AS BIGINT) AS round, l AS left_sym, r AS right_sym,
       |       l || r AS merged, c AS pair_freq
       |FROM merges ORDER BY round""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val (mergeTable, finalSyms) = trainMerges(sp)
    Checkpoints.unpersist(finalSyms)
    mergeTable.select(col("round"), col("l").as("left_sym"),
      col("r").as("right_sym"), concat(col("l"), col("r")).as("merged"),
      col("pair_freq"))
      .orderBy(col("round"))
  }

  /** Corpus compression achieved by the learned merges: exact
    * corpus-weighted token counts before (characters) and after, the
    * surviving subword vocabulary, and the compression ratio — the
    * quality signal a tokenizer-training sweep tunes K against.
    * Single-row exact-integer aggregate over the final symbol table. */
  val q402BpeCompression: QuerySpec = QuerySpec(
    "q402_bpe_compression",
    s"""WITH ${oracleCtes(Merges)},
       |per_word AS (
       |  SELECT word, MAX(freq) AS freq, CAST(COUNT(*) AS BIGINT) AS n_syms,
       |         CAST(LEN(word) AS BIGINT) AS n_chars
       |  FROM syms$Merges GROUP BY word)
       |SELECT CAST(COUNT(*) AS BIGINT) AS vocab_words,
       |  CAST((SELECT COUNT(DISTINCT sym) FROM syms$Merges) AS BIGINT)
       |    AS distinct_syms,
       |  CAST(SUM(freq * n_chars) AS BIGINT) AS tokens_before,
       |  CAST(SUM(freq * n_syms) AS BIGINT) AS tokens_after,
       |  CAST(ROUND(SUM(freq * n_syms) * 1e6 / SUM(freq * n_chars)) AS BIGINT)
       |    AS compression_e6
       |FROM per_word""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val (mergeTable, finalSyms) = trainMerges(sp)
    Checkpoints.unpersist(mergeTable)
    val perWord = finalSyms.groupBy(col("word"))
      .agg(max(col("freq")).as("freq"), count(lit(1)).as("n_syms"))
      .withColumn("n_chars", length(col("word")).cast("long"))
    val vocab = finalSyms.agg(
      countDistinct(col("sym")).as("distinct_syms"))
    perWord.agg(
      count(lit(1)).as("vocab_words"),
      sum(col("freq") * col("n_chars")).as("tokens_before"),
      sum(col("freq") * col("n_syms")).as("tokens_after"),
      round(sum(col("freq") * col("n_syms")).cast("double") * 1e6
        / sum(col("freq") * col("n_chars")).cast("double"))
        .cast("long").as("compression_e6"))
      .crossJoin(broadcast(vocab))
      .select(col("vocab_words"), col("distinct_syms"), col("tokens_before"),
        col("tokens_after"), col("compression_e6"))
  }

  // ---------------------------------------------------------------------
  // q406 — the train → encode composition: the q401-LEARNED merge table
  // is the tokenizer artifact; this query APPLIES it.
  // ---------------------------------------------------------------------

  /** Encode the corpus, per source split, with the merge table q401
    * LEARNED — the composition that makes the trainer a tokenizer
    * pipeline (train → ship artifact → encode) instead of two halves
    * that never meet. The encoder is [[TextAnalysis.bpeEncodeRules]]
    * (the q167 greedy lowest-rank-first encode) fed the TRAINED table,
    * collected to the driver (at most [[Merges]] rows) and passed as the
    * rule literal; per-source compression is the held-out signal (the
    * table was learned on the FULL corpus, each source is encoded as its
    * own split). One encode round per learned rule suffices: each round
    * applies one rule per word, so a word needs at most one round per
    * distinct applicable rule.
    *
    * Scale shape: training is the q401 envelope (vocab-grain rounds);
    * the encode adds one corpus-grain (word, source) rollup — the only
    * new corpus pass — then one per-row encode expression over its
    * distinct words and one grouped join back to the rollup. The rule
    * literal bounds the table at [[TextAnalysis.BpeMaxRules]] rows.
    * BpeSpec pins that encoding the TRAINING
    * corpus with the learned table reproduces the trainer's own final
    * symbol table (the standard BPE replay property; it can break only
    * when a later merge recreates an earlier rule's pair string —
    * impossible at this K on single-character-seeded text). */
  val q406BpeTrainedEncode: QuerySpec = QuerySpec(
    "q406_bpe_trained_encode",
    s"""WITH ${oracleCtes(Merges)},
       |mt AS (SELECT l || ' ' || r AS pair, rank FROM (${(0 until Merges)
        .map(k => s"SELECT l, r, ${k + 1} AS rank FROM win$k")
        .mkString(" UNION ALL ")}) u),
       |ws AS (SELECT word, source, CAST(COUNT(*) AS BIGINT) AS n
       |       FROM (SELECT source, unnest(string_split(text, ' ')) AS word
       |             FROM documents) x
       |       WHERE word != '' GROUP BY word, source),
       |ev AS (SELECT word, CAST(SUM(n) AS BIGINT) AS n FROM ws GROUP BY word),
       |${TextAnalysis.bpeEncodeUnrollCtes("mt", "ev", Merges)},
       |tk AS (SELECT word,
       |         CAST(len(string_split(trim(seq), '  ')) AS BIGINT) AS n_tokens,
       |         CAST(len(word) AS BIGINT) AS n_chars
       |       FROM s$Merges)
       |SELECT ws.source,
       |  CAST(SUM(ws.n) AS BIGINT) AS n_words,
       |  CAST(SUM(ws.n * tk.n_chars) AS BIGINT) AS tokens_before,
       |  CAST(SUM(ws.n * tk.n_tokens) AS BIGINT) AS tokens_after,
       |  CAST(ROUND(SUM(ws.n * tk.n_tokens) * 1e6 / SUM(ws.n * tk.n_chars))
       |    AS BIGINT) AS compression_e6
       |FROM ws JOIN tk USING (word)
       |GROUP BY ws.source ORDER BY ws.source""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val (mergeTable, finalSyms) = trainMerges(sp)
    Checkpoints.unpersist(finalSyms)
    val learned = mergeRules(mergeTable, col("round"))
    val ws = TextAnalysis.perSourceWordCounts(sp)
      .staged // the encode vocab AND the per-source report both read it
    val tk = ws.select(col("word")).distinct()
      .select(col("word"),
        size(split(trim(TextAnalysis.bpeEncodeRules(col("word"), learned)
          .getField("seq")), "  ")).cast("long").as("n_tokens"),
        length(col("word")).cast("long").as("n_chars"))
    TextAnalysis.perSourceCompression(ws, tk)
  }

  /** One batched round, unrolled for DuckDB — the same candidate pool,
    * rank-blind blocking, top-m batch, and run-parity rewrite. */
  private def batchedOracleRound(k: Int, m: Int, pool: Int): String = {
    val i = if (k == 0) "syms0" else s"bs$k"
    s"""bn$k AS (SELECT word, freq, pos, sym,
       |    LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
       |  FROM $i),
       |bp$k AS (SELECT sym AS l, nxt AS r, CAST(SUM(freq) AS BIGINT) AS c
       |  FROM bn$k WHERE nxt IS NOT NULL GROUP BY 1, 2),
       |bpool$k AS (SELECT l, r, c, ROW_NUMBER() OVER (ORDER BY c DESC, l, r) AS rk
       |            FROM bp$k ORDER BY c DESC, l, r LIMIT $pool),
       |bw$k AS (
       |  SELECT l, r, c, ROW_NUMBER() OVER (ORDER BY rk) AS brk FROM (
       |    SELECT p.l, p.r, p.c, p.rk FROM bpool$k p WHERE NOT EXISTS (
       |      SELECT 1 FROM bpool$k q WHERE q.rk < p.rk AND
       |        (q.l = p.l OR q.l = p.r OR q.r = p.l OR q.r = p.r))
       |    ORDER BY rk LIMIT $m) z),
       |bm$k AS (
       |  SELECT s.word, s.freq, s.pos, s.sym, w.l, w.r,
       |    CASE WHEN w.l IS NOT NULL THEN 1 ELSE 0 END AS cand
       |  FROM bn$k s LEFT JOIN bw$k w ON s.sym = w.l AND s.nxt = w.r),
       |bg$k AS (
       |  SELECT *, SUM(CASE WHEN cand = 0 THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY word ORDER BY pos) AS grp
       |  FROM bm$k),
       |bh$k AS (
       |  SELECT *, CASE WHEN cand = 1 AND
       |      ROW_NUMBER() OVER (PARTITION BY word, grp, cand ORDER BY pos) % 2 = 1
       |    THEN 1 ELSE 0 END AS take
       |  FROM bg$k),
       |bs${k + 1} AS MATERIALIZED (
       |  SELECT word, freq,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos,
       |    CASE WHEN take = 1 THEN sym || r ELSE sym END AS sym
       |  FROM (SELECT *, COALESCE(LAG(take) OVER (PARTITION BY word ORDER BY pos), 0)
       |          AS ptake FROM bh$k) z
       |  WHERE ptake = 0)""".stripMargin
  }

  /** The full batched-trainer oracle text at an arbitrary (rounds, m,
    * pool) budget — the programmatically-unrolled full-recount replay,
    * shared VERBATIM by q407 (q401's budget) and q416/q422 (the
    * 48-merge budget), so no two gates can drift on the batching
    * semantics. */
  private def batchedMergesOracle(rounds: Int, m: Int, pool: Int): String =
    s"""WITH ${(oracleSeed +: (0 until rounds)
        .map(batchedOracleRound(_, m, pool))).mkString(",\n")},
       |merges AS (${(0 until rounds)
        .map(k => s"SELECT ${k + 1} AS round, brk, l, r, c FROM bw$k")
        .mkString(" UNION ALL ")})
       |SELECT CAST(round AS BIGINT) AS round, CAST(brk AS BIGINT) AS batch_rank,
       |       l AS left_sym, r AS right_sym, l || r AS merged, c AS pair_freq
       |FROM merges ORDER BY round, batch_rank""".stripMargin

  /** The batched merge table at q401's budget in one third the rounds —
    * q401's artifact shape plus the in-batch rank. */
  val q407BpeBatchedMerges: QuerySpec = QuerySpec(
    "q407_bpe_batched_merges",
    batchedMergesOracle(BatchRounds, BatchM, BatchPool)) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val (mergeTable, finalSyms) =
      trainMerges(sp, rounds = BatchRounds, m = BatchM, pool = BatchPool)
    Checkpoints.unpersist(finalSyms)
    batchedArtifact(mergeTable)
  }

  /** The trainer at the 48-merge budget ([[K48Rounds]] × [[K48M]],
    * pool [[K48Pool]]) under the same unrolled oracle — the bench's
    * timing sentinel for the larger-K path. */
  val q422BpeBatchedMergesK48: QuerySpec = QuerySpec(
    "q422_bpe_batched_merges_k48",
    batchedMergesOracle(K48Rounds, K48M, K48Pool)) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val (mergeTable, finalSyms) =
      trainMerges(sp, rounds = K48Rounds, m = K48M, pool = K48Pool)
    Checkpoints.unpersist(finalSyms)
    batchedArtifact(mergeTable)
  }

  /** The 48-merge gate under its older name: identical to q422. */
  val q416BpeIncrementalMerges: QuerySpec =
    q422BpeBatchedMergesK48.copy(name = "q416_bpe_incremental_merges")

  private def batchedArtifact(mergeTable: DataFrame): DataFrame =
    mergeTable.select(col("round"), col("brk").cast("long").as("batch_rank"),
      col("l").as("left_sym"), col("r").as("right_sym"),
      concat(col("l"), col("r")).as("merged"), col("pair_freq"))
      .orderBy(col("round"), col("batch_rank"))

  // q401 joins the bench headline set: it exercises the iterative
  // checkpointed-loop envelope (like q325/q381) at the vocab grain;
  // q422 benches the same loop at the 48-merge budget
  val all: Seq[QuerySpec] = Seq(q401BpeMerges.benched, q402BpeCompression,
    q406BpeTrainedEncode, q407BpeBatchedMerges,
    q416BpeIncrementalMerges, q422BpeBatchedMergesK48.benched)
}
