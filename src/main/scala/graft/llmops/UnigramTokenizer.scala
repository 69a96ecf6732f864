package graft.llmops

import graft.QuerySpec
import graft.llmops.Checkpoints.Stageable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed UNIGRAM-LM tokenizer (Kudo 2018, "Subword Regularization:
  * Improving Neural Network Translation Models with Multiple Subword
  * Candidates" — the SentencePiece algorithm), the second production
  * tokenizer family next to the BPE trainer ([[BpeTokenizer]]): instead
  * of learning a merge ORDER, a unigram model scores every subword with
  * a log-probability and each word is segmented by VITERBI — the
  * maximum-likelihood path through the word's subword lattice — with
  * training as EM re-estimation of the probabilities from the
  * segmentations themselves.
  *
  * Both halves run as pure DataFrame algebra at the DISTINCT-WORD grain
  * (the [[BpeTokenizer]] scale discipline: the corpus is touched exactly
  * once, for word frequencies):
  *  - the subword LATTICE is a per-word explode of all substrings up to
  *    [[SubMaxLen]] characters (≤ len·[[SubMaxLen]] edges per word),
  *    joined to the vocabulary on the subword — vocab-grain, never
  *    corpus-grain;
  *  - the Viterbi DP is ONE per-row expression, [[viterbiBest]]: an
  *    `aggregate` over the word's positions whose accumulator holds the
  *    top-k (score, path) states per position, each step a sort of the
  *    candidate edges ending at that position — zero joins, zero
  *    shuffles, zero iterative rounds, bounded by word length ×
  *    [[SubMaxLen]] × k comparisons (contrast the BPE trainer's K
  *    driver-barrier rounds: Viterbi segmentation is embarrassingly
  *    parallel). The 1-best segmentation, the removal DP, the 2-best
  *    lattice and the literal-vocab encode all call it and differ only
  *    in where the candidate edges come from;
  *  - EM's M-step is one vocab-grain rollup of segmentation usage
  *    counts, re-normalized — subwords the Viterbi paths never use drop
  *    out (the algorithm's implicit pruning; Kudo prunes by likelihood
  *    loss, this hard-EM variant by usage), and coverage survives
  *    because every word's previous segmentation remains available.
  *
  * Determinism across engines is the design center: log-probabilities
  * are QUANTIZED to fixed-point e6 BIGINTs (`round(ln(cnt/total)·1e6)`,
  * the house jacc_e6/compression_e6 idiom) ONCE per vocab entry, so the
  * DP sums and compares exact integers — no float-accumulation argmax
  * hazard on any partitioning or engine. Ties break on the larger start
  * position (the SHORTER final token), which identifies the edge
  * uniquely; the DP's candidate sort encodes exactly that order.
  *
  * The reference is a SQL frontend with no tokenizer surface; this
  * module is part of the training-data-pipeline layer the build adds
  * (SURVEY §2 LLM-ops block), completing the tokenizer-family story:
  * BPE train (q401/q407) / encode (q167/q405/q406) learn and apply
  * MERGES; unigram-LM (q410/q411) learns and applies PROBABILITIES. */
object UnigramTokenizer {

  /** Maximum subword length in the seed vocabulary — the standard
    * lattice bound (SentencePiece's --max_sentencepiece_length). */
  private[graft] val SubMaxLen = 4

  /** Seed-vocab frequency cutoff: substrings with corpus-weighted count
    * below this are not candidates — EXCEPT single characters, which are
    * always kept so every word has at least one full segmentation (the
    * coverage guarantee the DP's reachability rests on). */
  private[graft] val MinFreq = 2L

  /** Oracle unroll bound on word length. The Spark side is generic (the
    * DP iterates `sequence(1, length(word))`); the DuckDB replay unrolls
    * one CTE per position, so it must stop somewhere — 16 doubles the
    * fixture corpus's maximum word length of 8 (FixtureGuardSpec pins
    * the bound, so a fixture drift fails loudly instead of silently
    * truncating the oracle's DP). */
  private[graft] val MaxWordLen = 16

  /** Corpus words with total occurrence counts — the ONLY corpus-grain
    * pass (empty tokens guarded: Spark's sequence(1, 0) throws where
    * DuckDB's range is just empty). */
  private[llmops] def wordFreqs(sp: SparkSession): DataFrame =
    sp.table("documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** The subword lattice of every distinct word: one row per (start j,
    * end i, substring) with 1 ≤ i − j ≤ [[SubMaxLen]] — at most
    * len·[[SubMaxLen]] rows per word. Position-based `substring` (not a
    * regex) so Spark and the DuckDB oracle's `word[a:b]` slice index
    * characters identically, line terminators included (the BPE-family
    * seeding convention). */
  private[graft] def edges(wf: DataFrame): DataFrame =
    wf.selectExpr("word", "freq",
      s"""inline(flatten(transform(sequence(0, length(word) - 1), j ->
         |  transform(sequence(1, least($SubMaxLen, length(word) - j)), l ->
         |    named_struct('j', j, 'i', j + l,
         |                 'sub', substring(word, j + 1, l))))))""".stripMargin)

  /** Fixed-point e6 log-probabilities over a (sub, cnt) count relation:
    * lp = round(ln(cnt / Σcnt)·1e6) as BIGINT — quantized ONCE here so
    * every downstream comparison is exact integer arithmetic. The 1-row
    * total is an explicit broadcast. */
  private[graft] def withLogProbs(counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum(col("cnt")).cast("double").as("tot"))
    counts.crossJoin(broadcast(tot))
      .select(col("sub"), col("cnt"),
        round(ln(col("cnt").cast("double") / col("tot")) * 1e6)
          .cast("long").as("lp"))
  }

  /** Seed vocabulary: corpus-weighted substring counts off the lattice
    * (occurrences at every position, the suffix-array-style seed Kudo
    * uses), cut at [[MinFreq]] with the single-character coverage
    * exemption, then e6 log-probs over the KEPT mass. */
  private[graft] def seedVocab(ed: DataFrame): DataFrame =
    withLogProbs(
      ed.groupBy(col("sub")).agg(sum(col("freq")).as("cnt"))
        .filter(col("cnt") >= MinFreq || length(col("sub")) === 1))

  /** Viterbi-segment every distinct word under a `(sub, lp)` vocabulary:
    * returns (word, freq, score, toks) — [[viterbiBest]] at k = 1 over
    * the word's collected lattice edges. Unreachable interior positions
    * (possible under a pruned EM vocabulary) hold no state, and the
    * word's own previous segmentation keeps the FINAL position
    * reachable. Scores are e6-quantized BIGINTs: exact sums, engine-
    * and partitioning-independent argmax.
    *
    * EVERY word of `ed` comes back: a word with no full lattice path
    * under a non-covering vocabulary (digits/uppercase outside a static
    * cover, or an aggressively pruned model) returns toks = [[[Unk]]]
    * with a NULL score — the same UNK contract as the expression path
    * [[unigramTokensExpr]], and a downstream `size(toks)` rollup can
    * never swallow a NULL. Scope honestly: the score stays NULL on the
    * UNK arm (no likelihood is defined for an unsegmentable word —
    * q411's ll_e6 would drop such a word, which is why q414 guards
    * coverage LOUDLY in-plan), and the dpChain ORACLES assume a covering
    * vocabulary (exactly what every oracle-gated query runs; q413's
    * replay is the one that models UNK, via its COALESCE spine). Under
    * the seed/EM vocabularies the single-char coverage guarantee makes
    * the UNK arm unreachable (spec-pinned). */
  private[graft] def viterbi(ed: DataFrame, vocab: DataFrame): DataFrame =
    viterbiLat(ed, latticeOf(ed, vocab))

  /** The lattice join behind [[viterbi]]/[[viterbiScoreWithout]]/
    * [[viterbi2Best]]: the word edges carrying their vocab log-probs —
    * split out so callers that feed BOTH consumers (q423) can stage it
    * once. */
  private[graft] def latticeOf(ed: DataFrame, vocab: DataFrame): DataFrame =
    ed.join(vocab.select(col("sub"), col("lp")), Seq("sub"))

  /** The ONE unigram Viterbi DP: a per-row Column keeping, for every end
    * position p of a word of length `len`, the top `k` derivations over
    * the candidate edges `cands(p)` (`struct(j, sub, lp)` — an edge from
    * start j to p) in the TOTAL order (score DESC, start j DESC,
    * predecessor rank ASC). (j, rank) identifies a derivation uniquely,
    * so the emitted paths are distinct; at k = 1 the order is (score,
    * larger start — the shorter final token), the argmax tie-break every
    * oracle replays. The accumulator is the array of per-position state
    * arrays (an unreachable position is an EMPTY array, so it simply
    * contributes no candidates); scores are exact e6 BIGINT sums, so
    * the argmax is engine- and partitioning-independent. Returns
    * `array<struct<score: bigint, path: string>>` for the final position
    * — empty when it is unreachable; paths carry a leading space.
    *
    * Zero joins, zero shuffles, zero rounds: the work is bounded by
    * word length × [[SubMaxLen]] × k comparisons per word, and every
    * caller (lattice edges keyed by word or by (word, ex), or a literal
    * vocab map probed per substring) only chooses the candidates. */
  private def viterbiBest(len: Column, k: Int, cands: Column => Column): Column = {
    // the CAST declares every level nullable: the states' scores are
    // sums over a nullable lp column, and the accumulator type must not
    // claim otherwise to a codegen'd consumer
    val zero = array(array(struct(lit(0L).as("score"), lit("").as("path"))))
      .cast("array<array<struct<score: bigint, path: string>>>")
    val dp = aggregate(sequence(lit(1), len), zero, (acc, p) =>
      concat(acc, array(transform(
        // ascending natural struct sort on (-score, -j, rank) IS the
        // total candidate order
        slice(sort_array(flatten(transform(cands(p), e =>
          transform(element_at(acc, e("j") + 1), (d, r) => {
            val score = d("score") + e("lp")
            struct((-score).as("nscore"), (-e("j")).as("nj"), r.as("r"),
              score.as("score"),
              concat(d("path"), lit(" "), e("sub")).as("path"))
          })))), 1, k),
        c => struct(c("score").as("score"), c("path").as("path"))))))
    element_at(dp, len + 1)
  }

  /** [[viterbiBest]] per `keys` group of a joined lattice (`(word, …,
    * j, i, sub, lp)` — [[latticeOf]]'s shape): the group's edges are
    * collected once and the candidates into p are those ending at p.
    * Returns (keys…, `name`). */
  private def latticeBest(lat: DataFrame, k: Int, name: String,
                          keys: String*): DataFrame =
    lat.groupBy(keys.map(col): _*)
      .agg(collect_list(struct(col("i"), col("j"), col("lp"), col("sub")))
        .as("es"))
      .select(keys.map(col) :+ viterbiBest(length(col("word")), k,
        p => filter(col("es"), e => e("i") === p)).as(name): _*)

  /** The word spine of `ed` left-joined to a per-word DP relation `dp`
    * (keyed by (word, freq)): a word with no full path (`c` empty) or no
    * vocab edge at all (dropped by the lattice join, `c` NULL) takes the
    * UNK arm `unk`, so no word silently vanishes. The spine comes off
    * the lattice itself, AGGREGATION-FREE: every word has exactly one
    * (j = 0, length-1) edge, so a filter IS the distinct-word relation
    * (no second corpus pass, no shuffle). */
  private def onWordSpine(ed: DataFrame, dp: DataFrame, c: String,
                          unk: Column): DataFrame =
    ed.filter(col("j") === 0 && col("i") === 1)
      .select(col("word"), col("freq"))
      .join(dp, Seq("word", "freq"), "left")
      .withColumn(c, coalesce(when(size(col(c)) > 0, col(c)), unk))

  /** [[viterbi]] over an already-joined lattice (`(word, freq, j, i,
    * sub, lp)` — [[latticeOf]]'s shape); `ed` supplies the word spine. */
  private def viterbiLat(ed: DataFrame, lat: DataFrame): DataFrame = {
    val best = try_element_at(col("best"), lit(1))
    onWordSpine(ed,
      latticeBest(lat, 1, "best", "word", "freq")
        .select(col("word"), col("freq"), best("score").as("score"),
          split(trim(best("path")), " ").as("toks")),
      "toks", array(lit(Unk)))
  }

  /** Best Viterbi score per (word, excluded token): [[viterbiBest]] at
    * k = 1, but on the word's lattice with ALL edges of one candidate
    * token removed — the inner computation of Kudo 2018 §3.2's
    * likelihood-loss pruning criterion ("how much does the corpus LL
    * drop if token x leaves the vocabulary?"), answered exactly against
    * the current Viterbi segmentations. `cand(word, ex)` enumerates the
    * pairs to price (a token is only priced against words whose BEST
    * path uses it — elsewhere its removal changes nothing). Returns
    * (word, ex, score_wo); score_wo is NULL (or the pair absent, when
    * every edge of the word is `ex`'s) when the word has no full path
    * without `ex` — the token is load-bearing for coverage and must
    * never be pruned. Scale shape: one (word)-keyed join fans the
    * word-grain lattice out to the (word, used-token) grain — avg
    * tokens-per-word × word-grain rows, embarrassingly parallel, one
    * shuffle on the (word, ex) group key, zero rounds. */
  private[graft] def viterbiScoreWithout(lat: DataFrame,
                                         cand: DataFrame): DataFrame =
    latticeBest(
      lat.join(cand.select(col("word"), col("ex")), Seq("word"))
        .filter(col("sub") =!= col("ex")),
      1, "best", "word", "ex")
      .select(col("word"), col("ex"),
        try_element_at(col("best"), lit(1))("score").as("score_wo"))

  // ---------------------------------------------------------------------
  // DuckDB oracle: the identical DP with one CTE per word position —
  // dp{tag}p = the argmax row per word into position p, selected from the
  // ≤ SubMaxLen predecessor states. MATERIALIZED throughout: each dp CTE
  // is referenced by up to SubMaxLen later ones (4^16 if inlined — the
  // q325 exponential-CTE trap).
  // ---------------------------------------------------------------------

  private[llmops] def oracleSeed: String =
    s"""wf AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) u
       |  WHERE word != '' GROUP BY word),
       |ed AS MATERIALIZED (
       |  SELECT word, freq, CAST(j AS INT) AS j, CAST(j + l AS INT) AS i,
       |         word[j + 1 : j + l] AS sub
       |  FROM wf,
       |    LATERAL (SELECT unnest(range(0, len(word))) AS j) a,
       |    LATERAL (SELECT unnest(range(1, least($SubMaxLen, len(word) - j) + 1)) AS l) b),
       |sc0 AS MATERIALIZED (
       |  SELECT sub, CAST(SUM(freq) AS BIGINT) AS cnt FROM ed GROUP BY sub),
       |ksc0 AS (SELECT sub, cnt FROM sc0 WHERE cnt >= $MinFreq OR len(sub) = 1),
       |tot0 AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM ksc0),
       |vc0 AS MATERIALIZED (
       |  SELECT sub, cnt,
       |         CAST(ROUND(LN(CAST(cnt AS DOUBLE) / tot) * 1e6) AS BIGINT) AS lp
       |  FROM ksc0 CROSS JOIN tot0),
       |lat0 AS MATERIALIZED (
       |  SELECT e.word, e.freq, e.j, e.i, e.sub, v.lp
       |  FROM ed e JOIN vc0 v USING (sub))""".stripMargin

  /** The positionally-unrolled Viterbi chain `dp{tag}0..dp{tag}MaxWordLen`
    * over lattice `latRel`, ending in `seg{tag}(word, freq, score, path)`. */
  private[llmops] def dpChain(tag: String, latRel: String): String = {
    val parts = Seq.newBuilder[String]
    parts += s"""dp${tag}0 AS (SELECT word, freq, 0 AS pos,
                |  CAST(0 AS BIGINT) AS score, '' AS path FROM wf)""".stripMargin
    for (p <- 1 to MaxWordLen) {
      val prevs = (math.max(0, p - SubMaxLen) until p)
        .map(q => s"SELECT word, freq, pos, score, path FROM dp$tag$q")
        .mkString(" UNION ALL ")
      parts += s"""dp$tag$p AS MATERIALIZED (
                  |  SELECT word, freq, pos, score, path FROM (
                  |    SELECT e.word, e.freq, $p AS pos, d.score + e.lp AS score,
                  |           d.path || ' ' || e.sub AS path,
                  |           ROW_NUMBER() OVER (PARTITION BY e.word
                  |             ORDER BY d.score + e.lp DESC, e.j DESC) AS rn
                  |    FROM $latRel e JOIN ($prevs) d
                  |      ON e.word = d.word AND e.j = d.pos
                  |    WHERE e.i = $p) z
                  |  WHERE rn = 1)""".stripMargin
    }
    val finals = (1 to MaxWordLen)
      .map(p => s"SELECT word, freq, pos, score, path FROM dp$tag$p")
      .mkString(" UNION ALL ")
    parts += s"""seg$tag AS MATERIALIZED (
                |  SELECT d.word, d.freq, d.score, trim(d.path) AS path
                |  FROM ($finals) d
                |  JOIN (SELECT word AS w2, len(word) AS lw FROM wf) x
                |    ON d.word = x.w2 AND d.pos = x.lw)""".stripMargin
    parts.result().mkString(",\n")
  }

  /** The (word, excluded-token)-KEYED Viterbi chain for the q423
    * oracle — [[dpChain]] with the composite key: `latRel` carries an
    * extra `ex` column and the chain tracks the best score per (word,
    * ex) into each position, ending in `segx(word, ex, score)` with a
    * (word, ex) pair ABSENT when the word has no full path without
    * `ex` (the Spark side's NULL score_wo arm). Score-only: the pruner
    * prices paths, it never ships them. */
  private def dpChainKeyed(latRel: String, spine: String,
                           tag: String = ""): String = {
    val parts = Seq.newBuilder[String]
    parts += s"""dpk${tag}0 AS (SELECT word, ex, 0 AS pos,
                |  CAST(0 AS BIGINT) AS score FROM $spine)""".stripMargin
    for (p <- 1 to MaxWordLen) {
      val prevs = (math.max(0, p - SubMaxLen) until p)
        .map(q => s"SELECT word, ex, pos, score FROM dpk$tag$q")
        .mkString(" UNION ALL ")
      parts += s"""dpk$tag$p AS MATERIALIZED (
                  |  SELECT word, ex, pos, score FROM (
                  |    SELECT e.word, e.ex, $p AS pos, d.score + e.lp AS score,
                  |           ROW_NUMBER() OVER (PARTITION BY e.word, e.ex
                  |             ORDER BY d.score + e.lp DESC, e.j DESC) AS rn
                  |    FROM $latRel e JOIN ($prevs) d
                  |      ON e.word = d.word AND e.ex = d.ex AND e.j = d.pos
                  |    WHERE e.i = $p) z
                  |  WHERE rn = 1)""".stripMargin
    }
    val finals = (1 to MaxWordLen)
      .map(p => s"SELECT word, ex, pos, score FROM dpk$tag$p")
      .mkString(" UNION ALL ")
    parts += s"""segx$tag AS MATERIALIZED (
                |  SELECT d.word, d.ex, d.score
                |  FROM ($finals) d
                |  JOIN (SELECT word AS w2, len(word) AS lw FROM wf) x
                |    ON d.word = x.w2 AND d.pos = x.lw)""".stripMargin
    parts.result().mkString(",\n")
  }

  /** The EM M-step CTE block shared VERBATIM by the q411 and q412
    * oracles: usage counts over the round-0 segmentations (`uc`),
    * re-normalized into the trained model (`vc1`) and its lattice
    * (`lat1`). One definition so a quantization change can never drift
    * between the two replays. */
  private[llmops] def emRetrainCtes: String =
    s"""uc AS MATERIALIZED (
       |  SELECT token AS sub, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(string_split(path, ' ')) AS token, freq FROM sega) t
       |  GROUP BY token),
       |tot1 AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM uc),
       |vc1 AS MATERIALIZED (
       |  SELECT sub, cnt,
       |         CAST(ROUND(LN(CAST(cnt AS DOUBLE) / tot) * 1e6) AS BIGINT) AS lp
       |  FROM uc CROSS JOIN tot1),
       |lat1 AS MATERIALIZED (
       |  SELECT e.word, e.freq, e.j, e.i, e.sub, v.lp
       |  FROM ed e JOIN vc1 v USING (sub))""".stripMargin

  /** Viterbi segmentation under the SEED model — the inference half: the
    * corpus-weighted top-30 subword tokens of the maximum-likelihood
    * segmentations (the q167/q405 output grain, so the two tokenizer
    * families report comparably). */
  val q410UnigramViterbi: QuerySpec = QuerySpec(
    "q410_unigram_viterbi",
    s"""WITH $oracleSeed,
       |${dpChain("a", "lat0")}
       |SELECT CAST(rnk AS INT) AS rnk, token, CAST(cnt AS BIGINT) AS cnt FROM (
       |  SELECT token, SUM(freq) AS cnt,
       |         ROW_NUMBER() OVER (ORDER BY SUM(freq) DESC, token) AS rnk
       |  FROM (SELECT unnest(string_split(path, ' ')) AS token, freq FROM sega) t
       |  GROUP BY token) z
       |WHERE rnk <= 30 ORDER BY rnk""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val ed = edges(wordFreqs(sp)).staged // vocab counts + lattice read it
    viterbi(ed, seedVocab(ed))
      .select(explode(col("toks")).as("token"), col("freq"))
      .groupBy(col("token")).agg(sum(col("freq")).as("cnt"))
      // rank-limited global window over the BOUNDED subword vocab (the
      // q405 precedent)
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("cnt").desc, col("token"))).cast("int"))
      .filter(col("rnk") <= 30)
      .select(col("rnk"), col("token"), col("cnt"))
      .orderBy(col("rnk"))
  }

  /** One Viterbi-EM training round — the learning half: M-step counts
    * subword usage over the round-0 segmentations (corpus-weighted),
    * re-normalizes into a new model (unused seeds drop out — hard-EM's
    * implicit pruning), and re-segments. The per-round report (vocab
    * size, corpus token count, exact e6 corpus log-likelihood) is the
    * signal a training sweep watches: the LL must not decrease and the
    * vocabulary shrinks toward the useful subwords. All exact BIGINTs —
    * the LL is a sum of quantized scores, so the report is bit-stable
    * under any partitioning. */
  val q411UnigramEm: QuerySpec = QuerySpec(
    "q411_unigram_em",
    s"""WITH $oracleSeed,
       |${dpChain("a", "lat0")},
       |$emRetrainCtes,
       |${dpChain("b", "lat1")},
       |r0 AS (SELECT CAST(0 AS BIGINT) AS round,
       |              (SELECT CAST(COUNT(*) AS BIGINT) FROM vc0) AS vocab_size,
       |              CAST(SUM(freq * len(string_split(path, ' '))) AS BIGINT)
       |                AS tokens_total,
       |              CAST(SUM(freq * score) AS BIGINT) AS ll_e6
       |       FROM sega),
       |r1 AS (SELECT CAST(1 AS BIGINT) AS round,
       |              (SELECT CAST(COUNT(*) AS BIGINT) FROM vc1) AS vocab_size,
       |              CAST(SUM(freq * len(string_split(path, ' '))) AS BIGINT)
       |                AS tokens_total,
       |              CAST(SUM(freq * score) AS BIGINT) AS ll_e6
       |       FROM segb)
       |SELECT * FROM r0 UNION ALL SELECT * FROM r1 ORDER BY round""".stripMargin) {
    (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      val ed = edges(wordFreqs(sp)).staged // vc0 counts + both lattices
      val vc0 = seedVocab(ed).staged // round-0 lattice + vocab_size
      val seg0 = viterbi(ed, vc0).staged // usage counts + the r0 report
      val vc1 = withLogProbs(
        seg0.select(explode(col("toks")).as("sub"), col("freq"))
          .groupBy(col("sub")).agg(sum(col("freq")).as("cnt")))
        .staged // round-1 lattice + vocab_size
      val seg1 = viterbi(ed, vc1)
      emReport(seg0, vc0, 0).unionByName(emReport(seg1, vc1, 1))
        .orderBy(col("round"))
  }

  /** Corpus-weighted subword usage counts of a segmentation relation —
    * EM's M-step rollup, shared by q411/q412/q414/q421. */
  private def usageCounts(seg: DataFrame): DataFrame =
    seg.select(explode(col("toks")).as("sub"), col("freq"))
      .groupBy(col("sub")).agg(sum(col("freq")).as("cnt"))

  /** The per-EM-round report row (q411/q421): vocab size, corpus token
    * count, exact e6 log-likelihood. The LL is only defined under a
    * COVERING vocab (an UNK word has a NULL score, which a bare SUM
    * would silently SKIP — under-counting the LL where the oracle drops
    * the word entirely: two different silent behaviors). Seed/EM vocabs
    * cover by construction (spec-pinned); the in-plan guard turns any
    * future coverage regression into a loud failure, the q414
    * raise_error discipline. */
  private def emReport(seg: DataFrame, vc: DataFrame, r: Int): DataFrame =
    seg.agg(
      sum(col("freq") * size(col("toks"))).as("tokens_total"),
      sum(col("freq") * when(col("score").isNull,
        expr("raise_error('unigram EM coverage violated: NULL Viterbi " +
          "score (an <unk> word) reached the log-likelihood rollup')")
          .cast("long")).otherwise(col("score"))).as("ll_e6"))
      .crossJoin(broadcast(vc.agg(count(lit(1)).as("vocab_size"))))
      .select(lit(r.toLong).as("round"), col("vocab_size"),
        col("tokens_total"), col("ll_e6"))

  /** The unigram train → encode COMPOSITION (the [[BpeTokenizer
    * .q406BpeTrainedEncode]] analogue): segment each source split with
    * the EM-TRAINED model (vc1 — the round-1 probabilities, the artifact
    * a unigram trainer ships) and report per-source compression. Encode
    * IS Viterbi under the trained vocab, so the composition adds exactly
    * one corpus-grain (word, source) rollup to the q411 envelope — the
    * trained table is applied, not just learned. */
  val q412UnigramTrainedEncode: QuerySpec = QuerySpec(
    "q412_unigram_trained_encode",
    s"""WITH $oracleSeed,
       |${dpChain("a", "lat0")},
       |$emRetrainCtes,
       |${dpChain("b", "lat1")},
       |${TextAnalysis.perSourceCompressionSqlTail(
          s"""tk AS (SELECT word,
             |         CAST(len(string_split(path, ' ')) AS BIGINT) AS n_tokens,
             |         CAST(len(word) AS BIGINT) AS n_chars
             |       FROM segb)""".stripMargin)}""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val ed = edges(wordFreqs(sp)).staged // seed counts + both lattices
    val seg0 = viterbi(ed, seedVocab(ed))
    val vc1 = withLogProbs(
      seg0.select(explode(col("toks")).as("sub"), col("freq"))
        .groupBy(col("sub")).agg(sum(col("freq")).as("cnt")))
    val tk = viterbi(ed, vc1).select(col("word"),
      size(col("toks")).cast("long").as("n_tokens"),
      length(col("word")).cast("long").as("n_chars"))
    TextAnalysis.perSourceCompression(
      TextAnalysis.perSourceWordCounts(sp), tk)
  }

  // ---------------------------------------------------------------------
  // q414 — prune to a TARGET vocabulary (SentencePiece's vocab_size
  // knob): the step between EM and shipping the artifact.
  // ---------------------------------------------------------------------

  /** Multi-character entries kept after pruning — the target-size knob.
    * Single characters are ALWAYS kept (SentencePiece's required
    * character coverage), so the full vocab is |chars| + this. */
  private[graft] val TargetMulti = 8

  /** The usage-count floor for characters that appear in the corpus but
    * were never a round-1 token on their own (covered only inside
    * multi-char subwords): they must survive pruning for coverage, and
    * a zero count has no log-probability — the standard smoothing
    * floor. */
  private[graft] val CharFloor = 1L

  /** The DuckDB CTE block deriving the PRUNED target model `vc2` and
    * its lattice `lat2` from the EM round's usage counts (`uc`/`ed` of
    * [[emRetrainCtes]]/[[oracleSeed]]) — shared VERBATIM by the q414
    * and q417 oracles so the artifact the two replays price can never
    * drift. */
  private[llmops] def prunedModelCtes: String =
    s"""mk AS (SELECT sub, cnt,
       |         ROW_NUMBER() OVER (ORDER BY cnt DESC, sub) AS rk
       |       FROM uc WHERE len(sub) > 1),
       |chfloor AS (SELECT sub, CAST($CharFloor AS BIGINT) AS cnt
       |            FROM (SELECT DISTINCT sub FROM ed WHERE len(sub) = 1) s
       |            WHERE sub NOT IN (SELECT sub FROM uc)),
       |keep AS (SELECT sub, cnt FROM uc WHERE len(sub) = 1
       |         UNION ALL SELECT sub, cnt FROM mk WHERE rk <= $TargetMulti
       |         UNION ALL SELECT sub, cnt FROM chfloor),
       |tot2 AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM keep),
       |vc2 AS MATERIALIZED (
       |  SELECT sub, cnt,
       |         CAST(ROUND(LN(CAST(cnt AS DOUBLE) / tot) * 1e6) AS BIGINT) AS lp
       |  FROM keep CROSS JOIN tot2),
       |lat2 AS MATERIALIZED (
       |  SELECT e.word, e.freq, e.j, e.i, e.sub, v.lp
       |  FROM ed e JOIN vc2 v USING (sub))""".stripMargin

  /** The Spark side of the pruned target model: (staged lattice `ed`,
    * staged pruned vocab `vc2`) — q414's derivation split out so q417
    * (the artifact-encode composition) and the UnigramSpec artifact
    * pins consume the IDENTICAL model. Caller owns both staged handles. */
  /** The re-normalized PRUNED model over the q414 keep arms — the ONE
    * definition of "prune to (model singles + `keptMulti`) with the
    * char-floor coverage guarantee": every single character of the
    * corpus stays segmentable (model singles at their counts; corpus
    * chars absent from the model enter at [[CharFloor]]), the kept
    * multi-char tokens ride at their counts, and the union
    * re-normalizes. Shared by the usage prune (q414/q417/q424/q429),
    * the LL-loss prune rounds (q423/q430), and every budget of the
    * vocab-size sweep (q434) so the coverage/re-normalization
    * semantics can never drift between the pruning criteria (r20
    * review finding: the arms existed as three copies). `keptMulti`
    * is a (sub, cnt) relation of multi-char tokens. */
  private[graft] def prunedVocab(ed: DataFrame, uc: DataFrame,
                                 keptMulti: DataFrame): DataFrame = {
    val floorSingles = ed.select(col("sub")).filter(length(col("sub")) === 1)
      .distinct()
      .join(uc.select(col("sub")), Seq("sub"), "left_anti")
      .select(col("sub"), lit(CharFloor).as("cnt"))
    withLogProbs(
      uc.filter(length(col("sub")) === 1).select(col("sub"), col("cnt"))
        .unionByName(keptMulti)
        .unionByName(floorSingles))
  }

  private[graft] def prunedModelParts(sp: SparkSession): (DataFrame, DataFrame) = {
    val ed = edges(wordFreqs(sp)).staged // seed counts + all lattices
    val seg0 = viterbi(ed, seedVocab(ed))
    val uc = seg0.select(explode(col("toks")).as("sub"), col("freq"))
      .groupBy(col("sub")).agg(sum(col("freq")).as("cnt"))
      .staged // singles arm, multi rank arm, and the floor anti-join
    val topMulti = uc.filter(length(col("sub")) > 1)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cnt").desc, col("sub"))))
      .filter(col("rk") <= TargetMulti)
      .select(col("sub"), col("cnt"))
    val vc2 = prunedVocab(ed, uc, topMulti)
      .staged // the lattice join + the final lp attach both read it
    Checkpoints.unpersist(uc) // folded into the eager vc2
    (ed, vc2)
  }

  /** Prune the EM-trained model to a TARGET vocabulary and re-segment —
    * the artifact-shipping step of a unigram trainer: keep every single
    * character (those absent from the trained model enter at the
    * [[CharFloor]] count, so NO word can become unsegmentable), keep
    * the top-[[TargetMulti]] multi-char subwords by corpus-weighted
    * usage (ties lexicographic), re-normalize, Viterbi-resegment, and
    * emit the top-30 of the FINAL vocabulary with usage counts and e6
    * log-probs — the (token, prob) table a tokenizer release ships
    * (and q417 APPLIES, closing the family's train → ship → encode
    * loop). Same grain discipline as the rest of the family: one corpus
    * pass, vocab-grain everything else; the multi-char rank is a
    * WindowGroupLimit (rank-limited top-m, never a global sort). */
  val q414UnigramPruneTarget: QuerySpec = QuerySpec(
    "q414_unigram_prune_target",
    s"""WITH $oracleSeed,
       |${dpChain("a", "lat0")},
       |$emRetrainCtes,
       |$prunedModelCtes,
       |${dpChain("c", "lat2")},
       |uc2 AS (SELECT token AS sub, CAST(SUM(freq) AS BIGINT) AS cnt
       |        FROM (SELECT unnest(string_split(path, ' ')) AS token, freq
       |              FROM segc) t
       |        GROUP BY token)
       |SELECT CAST(rnk AS INT) AS rnk, sub AS token, cnt, lp AS lp_e6 FROM (
       |  SELECT u.sub, u.cnt, v.lp,
       |         ROW_NUMBER() OVER (ORDER BY u.cnt DESC, u.sub) AS rnk
       |  FROM uc2 u JOIN vc2 v USING (sub)) z
       |WHERE rnk <= 30 ORDER BY rnk""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val (ed, vc2) = prunedModelParts(sp)
    val uc2 = viterbi(ed, vc2)
      .select(explode(col("toks")).as("sub"), col("freq"))
      .groupBy(col("sub")).agg(sum(col("freq")).as("cnt"))
    // LEFT join + loud guard, not an inner join: an inner join would
    // silently DROP a token outside the pruned vocab (<unk>, or a bug
    // in the keep arms) — the one failure mode a coverage pin must
    // surface, not mask
    uc2.join(vc2.select(col("sub"), col("lp")), Seq("sub"), "left")
      .withColumn("lp", when(col("lp").isNull,
        expr("raise_error('q414 coverage violated: a token outside the " +
          "pruned vocab reached the final segmentation')").cast("long"))
        .otherwise(col("lp")))
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("cnt").desc, col("sub"))).cast("int"))
      .filter(col("rnk") <= 30)
      .select(col("rnk"), col("sub").as("token"), col("cnt"),
        col("lp").as("lp_e6"))
      .orderBy(col("rnk"))
  }

  // ---------------------------------------------------------------------
  // q423 — LIKELIHOOD-LOSS pruning (Kudo 2018 §3.2): the criterion
  // SentencePiece actually prunes by, next to q414's usage-rank prune.
  // ---------------------------------------------------------------------

  /** One prune-EM iteration by LIKELIHOOD-LOSS rank — Kudo 2018 §3.2's
    * pruning criterion, exact under hard-EM: for every multi-char token
    * x of the EM-trained model, the corpus-LL drop if x left the
    * vocabulary is Σ_w freq(w) · (score(w) − score_without_x(w)) over
    * the words whose CURRENT best path uses x (elsewhere the optimum
    * cannot change), with score_without_x an exact re-run of the same
    * Viterbi DP on the word's lattice minus x's edges
    * ([[viterbiScoreWithout]]). Keep the [[TargetMulti]] multi-char
    * tokens whose removal hurts MOST (essential tokens — whose removal
    * leaves some word with NO full path — rank above every finite
    * loss), re-normalize with the q414 keep arms (singles + char
    * floor), re-segment, and re-estimate: one full prune→EM step.
    * UnigramSpec pins that the kept set genuinely DIFFERS from q414's
    * usage-ranked choice on a constructed fixture (high-usage ≠
    * irreplaceable: a token whose words all have near-equal alternate
    * paths is cheap to drop no matter how often it is used).
    *
    * Report: the kept tokens by loss rank with their exact e6 loss
    * (NULL for an essential token — no finite loss is defined) and
    * their post-re-EM usage/log-prob (NULL when re-segmentation
    * abandons a kept token). Scale shape: everything is word- or
    * (word, used-token)-grain and embarrassingly parallel — the ONE
    * new cost over q414 is the removal DP's fan-out (avg
    * tokens-per-word × distinct words, one shuffle); the rank windows
    * stay on the bounded vocab relation. */
  /** The LL-loss ranking core of q423, over explicit relations so
    * UnigramSpec can drive it with a constructed model: `uc(sub, cnt)`
    * is the model's support with usage counts (the ranked DOMAIN —
    * multi-char rows only are ranked), `lat1` the model lattice
    * ([[latticeOf]]), `segb(word, freq, score, toks)` the current
    * Viterbi segmentations under it. Returns every multi-char token
    * with (ex, cnt, ess, ll_loss, rnk): rnk orders essential tokens
    * first (removal breaks coverage for some word — ll_loss NULL, no
    * finite loss exists), then finite loss DESC, then token; a token
    * no current best path uses has loss 0 exactly (removing it cannot
    * move any optimum). */
  private[graft] def llLossRanked(uc: DataFrame, lat1: DataFrame,
                                  segb: DataFrame): DataFrame = {
    val cand = segb
      .select(col("word"), col("freq"), explode(col("toks")).as("ex"))
      .filter(length(col("ex")) > 1)
      .distinct()
      .staged // the keyed DP and both sides of the loss join read it
    val wo = viterbiScoreWithout(lat1, cand)
    val perTok = cand
      .join(segb.select(col("word"), col("score")), Seq("word"))
      .join(wo, Seq("word", "ex"), "left")
      .groupBy(col("ex"))
      .agg(max(when(col("score_wo").isNull, 1).otherwise(0)).as("ess"),
        sum(when(col("score_wo").isNotNull,
          col("freq") * (col("score") - col("score_wo")))).as("loss_raw"))
    val dom = uc.filter(length(col("sub")) > 1)
      .select(col("sub").as("ex"), col("cnt"))
      .join(perTok, Seq("ex"), "left")
      .select(col("ex"), col("cnt"),
        coalesce(col("ess"), lit(0)).as("ess"),
        when(coalesce(col("ess"), lit(0)) === 1, lit(null).cast("long"))
          .otherwise(coalesce(col("loss_raw"), lit(0L))).as("ll_loss"))
    // rank-limited window over the BOUNDED multi-char vocab (the q414
    // WindowGroupLimit precedent)
    dom.withColumn("rnk", row_number().over(
      Window.orderBy(col("ess").desc, col("ll_loss").desc_nulls_last,
        col("ex"))).cast("int"))
  }

  /** ONE LL-loss prune round — the iterable unit of Kudo's pruning
    * schedule, shared by q423 (one round) and q430 (two rounds): given
    * the corpus lattice `ed` and the current model's usage counts `uc`
    * (support + weights — the model itself is its re-normalization),
    * Viterbi-segment under it, rank every multi-char token by exact
    * removal loss ([[llLossRanked]]), keep the top `target`,
    * re-normalize with the q414 keep arms (singles + char floor — so
    * the pruned model stays covering by construction), re-segment, and
    * re-estimate. Returns (the staged kept-token relation with loss
    * ranks, the NEXT model's usage counts — feed them back in to
    * iterate). Caller owns the staged handle. */
  private[graft] def llLossPruneRound(ed: DataFrame, uc: DataFrame,
                                      target: Int): (DataFrame, DataFrame) = {
    val lat = latticeOf(ed, withLogProbs(uc))
      .staged // the segmentation DP AND the keyed removal DP read it
    val segb = viterbiLat(ed, lat)
      .staged // the candidate explode AND the loss join read it
    val keepm = llLossRanked(uc, lat, segb)
      .filter(col("rnk") <= target)
      .staged // the keep arms AND the caller's report read it
    val vcP = prunedVocab(ed, uc,
      keepm.select(col("ex").as("sub"), col("cnt")))
    (keepm, usageCounts(viterbi(ed, vcP)))
  }

  val q423UnigramPruneLlLoss: QuerySpec = QuerySpec(
    "q423_unigram_prune_llloss",
    s"""WITH $oracleSeed,
       |${dpChain("a", "lat0")},
       |$emRetrainCtes,
       |${dpChain("b", "lat1")},
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT word, freq, token AS ex
       |  FROM (SELECT word, freq, unnest(string_split(path, ' ')) AS token
       |        FROM segb) t
       |  WHERE len(token) > 1),
       |latx AS MATERIALIZED (
       |  SELECT c.word, c.ex, l.j, l.i, l.sub, l.lp
       |  FROM cand c JOIN lat1 l USING (word)
       |  WHERE l.sub != c.ex),
       |${dpChainKeyed("latx", "cand")},
       |pw AS (SELECT c.ex, c.freq, sb.score, sx.score AS score_wo
       |       FROM cand c JOIN segb sb USING (word)
       |       LEFT JOIN segx sx ON sx.word = c.word AND sx.ex = c.ex),
       |pt AS (SELECT ex,
       |         MAX(CASE WHEN score_wo IS NULL THEN 1 ELSE 0 END) AS ess,
       |         CAST(SUM(CASE WHEN score_wo IS NOT NULL
       |                       THEN freq * (score - score_wo) END) AS BIGINT)
       |           AS loss_raw
       |       FROM pw GROUP BY ex),
       |dom AS (SELECT u.sub AS ex, u.cnt, COALESCE(pt.ess, 0) AS ess,
       |          CASE WHEN COALESCE(pt.ess, 0) = 1 THEN NULL
       |               ELSE COALESCE(pt.loss_raw, 0) END AS ll_loss
       |        FROM uc u LEFT JOIN pt ON pt.ex = u.sub
       |        WHERE len(u.sub) > 1),
       |rkm AS (SELECT ex, cnt, ess, ll_loss,
       |          ROW_NUMBER() OVER (ORDER BY ess DESC,
       |            ll_loss DESC NULLS LAST, ex) AS rnk
       |        FROM dom),
       |keepm AS (SELECT * FROM rkm WHERE rnk <= $TargetMulti),
       |chfloor3 AS (SELECT sub, CAST($CharFloor AS BIGINT) AS cnt
       |             FROM (SELECT DISTINCT sub FROM ed WHERE len(sub) = 1) s
       |             WHERE sub NOT IN (SELECT sub FROM uc)),
       |keep3 AS (SELECT sub, cnt FROM uc WHERE len(sub) = 1
       |          UNION ALL SELECT ex AS sub, cnt FROM keepm
       |          UNION ALL SELECT sub, cnt FROM chfloor3),
       |tot3 AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM keep3),
       |vc3 AS MATERIALIZED (
       |  SELECT sub, cnt,
       |         CAST(ROUND(LN(CAST(cnt AS DOUBLE) / tot) * 1e6) AS BIGINT) AS lp
       |  FROM keep3 CROSS JOIN tot3),
       |lat3 AS MATERIALIZED (
       |  SELECT e.word, e.freq, e.j, e.i, e.sub, v.lp
       |  FROM ed e JOIN vc3 v USING (sub)),
       |${dpChain("c", "lat3")},
       |uc4 AS (SELECT token AS sub, CAST(SUM(freq) AS BIGINT) AS cnt
       |        FROM (SELECT unnest(string_split(path, ' ')) AS token, freq
       |              FROM segc) t
       |        GROUP BY token),
       |tot4 AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM uc4),
       |vc4 AS (SELECT sub, cnt,
       |          CAST(ROUND(LN(CAST(cnt AS DOUBLE) / tot) * 1e6) AS BIGINT) AS lp
       |        FROM uc4 CROSS JOIN tot4)
       |SELECT CAST(k.rnk AS INT) AS rnk, k.ex AS token,
       |  CAST(k.ll_loss AS BIGINT) AS ll_loss_e6,
       |  CAST(v.cnt AS BIGINT) AS cnt2, v.lp AS lp2_e6
       |FROM keepm k LEFT JOIN vc4 v ON v.sub = k.ex
       |ORDER BY rnk""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val ed = edges(wordFreqs(sp))
      .staged // seed counts, every lattice, and the char floor read it
    val uc = usageCounts(viterbi(ed, seedVocab(ed)))
      .staged // vc1, the multi domain, the keep arms, the floor anti-join
    val (keepm, ucNext) = llLossPruneRound(ed, uc, TargetMulti)
    keepm
      .join(withLogProbs(ucNext)
        .select(col("sub").as("ex"), col("cnt").as("cnt2"),
          col("lp").as("lp2_e6")), Seq("ex"), "left")
      .select(col("rnk"), col("ex").as("token"),
        col("ll_loss").as("ll_loss_e6"), col("cnt2"), col("lp2_e6"))
      .orderBy(col("rnk"))
  }

  /** Round-2 target of the ITERATED prune (q430) — Kudo's schedule
    * drops a fraction per round until vocab_size; the fixture schedule
    * is [[TargetMulti]] → this. */
  private[graft] val TargetMulti2 = 4

  /** TWO LL-loss prune rounds — q423's step ITERATED, which is how
    * SentencePiece actually reaches its target (prune an α-fraction,
    * re-EM, repeat; Kudo 2018 §3.2): round 2 re-ranks by removal loss
    * UNDER THE RE-ESTIMATED MODEL (losses shift as probabilities
    * re-normalize over the shrunken support — the reason the loop
    * cannot be replaced by one deeper truncation of round 1's ranking)
    * and keeps [[TargetMulti2]] < [[TargetMulti]]. Round-2 candidates
    * live inside round-1's kept set by construction (the new model's
    * multi support IS what round 1 kept and round-1's re-segmentation
    * used), so the vocabulary shrinks monotonically — spec-pinned.
    * Report: round 2's kept tokens in its own loss order with their
    * post-final-EM usage/log-prob. Envelope: exactly 2× q423's round
    * cost (every stage word- or vocab-grain, zero driver barriers
    * beyond the staged round boundary). */
  val q430UnigramPruneLlLoss2: QuerySpec = QuerySpec(
    "q430_unigram_prune_llloss2",
    s"""WITH $oracleSeed,
       |${dpChain("a", "lat0")},
       |$emRetrainCtes,
       |${dpChain("b", "lat1")},
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT word, freq, token AS ex
       |  FROM (SELECT word, freq, unnest(string_split(path, ' ')) AS token
       |        FROM segb) t
       |  WHERE len(token) > 1),
       |latx AS MATERIALIZED (
       |  SELECT c.word, c.ex, l.j, l.i, l.sub, l.lp
       |  FROM cand c JOIN lat1 l USING (word)
       |  WHERE l.sub != c.ex),
       |${dpChainKeyed("latx", "cand")},
       |pw AS (SELECT c.ex, c.freq, sb.score, sx.score AS score_wo
       |       FROM cand c JOIN segb sb USING (word)
       |       LEFT JOIN segx sx ON sx.word = c.word AND sx.ex = c.ex),
       |pt AS (SELECT ex,
       |         MAX(CASE WHEN score_wo IS NULL THEN 1 ELSE 0 END) AS ess,
       |         CAST(SUM(CASE WHEN score_wo IS NOT NULL
       |                       THEN freq * (score - score_wo) END) AS BIGINT)
       |           AS loss_raw
       |       FROM pw GROUP BY ex),
       |dom AS (SELECT u.sub AS ex, u.cnt, COALESCE(pt.ess, 0) AS ess,
       |          CASE WHEN COALESCE(pt.ess, 0) = 1 THEN NULL
       |               ELSE COALESCE(pt.loss_raw, 0) END AS ll_loss
       |        FROM uc u LEFT JOIN pt ON pt.ex = u.sub
       |        WHERE len(u.sub) > 1),
       |rkm AS (SELECT ex, cnt, ess, ll_loss,
       |          ROW_NUMBER() OVER (ORDER BY ess DESC,
       |            ll_loss DESC NULLS LAST, ex) AS rnk
       |        FROM dom),
       |keepm AS (SELECT * FROM rkm WHERE rnk <= $TargetMulti),
       |chfloor3 AS (SELECT sub, CAST($CharFloor AS BIGINT) AS cnt
       |             FROM (SELECT DISTINCT sub FROM ed WHERE len(sub) = 1) s
       |             WHERE sub NOT IN (SELECT sub FROM uc)),
       |keep3 AS (SELECT sub, cnt FROM uc WHERE len(sub) = 1
       |          UNION ALL SELECT ex AS sub, cnt FROM keepm
       |          UNION ALL SELECT sub, cnt FROM chfloor3),
       |tot3 AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM keep3),
       |vc3 AS MATERIALIZED (
       |  SELECT sub, cnt,
       |         CAST(ROUND(LN(CAST(cnt AS DOUBLE) / tot) * 1e6) AS BIGINT) AS lp
       |  FROM keep3 CROSS JOIN tot3),
       |lat3 AS MATERIALIZED (
       |  SELECT e.word, e.freq, e.j, e.i, e.sub, v.lp
       |  FROM ed e JOIN vc3 v USING (sub)),
       |${dpChain("c", "lat3")},
       |uc4 AS MATERIALIZED (
       |  SELECT token AS sub, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(string_split(path, ' ')) AS token, freq
       |        FROM segc) t
       |  GROUP BY token),
       |tot4 AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM uc4),
       |vc4 AS MATERIALIZED (
       |  SELECT sub, cnt,
       |         CAST(ROUND(LN(CAST(cnt AS DOUBLE) / tot) * 1e6) AS BIGINT) AS lp
       |  FROM uc4 CROSS JOIN tot4),
       |lat4 AS MATERIALIZED (
       |  SELECT e.word, e.freq, e.j, e.i, e.sub, v.lp
       |  FROM ed e JOIN vc4 v USING (sub)),
       |${dpChain("d", "lat4")},
       |cand2 AS MATERIALIZED (
       |  SELECT DISTINCT word, freq, token AS ex
       |  FROM (SELECT word, freq, unnest(string_split(path, ' ')) AS token
       |        FROM segd) t
       |  WHERE len(token) > 1),
       |latx2 AS MATERIALIZED (
       |  SELECT c.word, c.ex, l.j, l.i, l.sub, l.lp
       |  FROM cand2 c JOIN lat4 l USING (word)
       |  WHERE l.sub != c.ex),
       |${dpChainKeyed("latx2", "cand2", "b")},
       |pw2 AS (SELECT c.ex, c.freq, sb.score, sx.score AS score_wo
       |        FROM cand2 c JOIN segd sb USING (word)
       |        LEFT JOIN segxb sx ON sx.word = c.word AND sx.ex = c.ex),
       |pt2 AS (SELECT ex,
       |          MAX(CASE WHEN score_wo IS NULL THEN 1 ELSE 0 END) AS ess,
       |          CAST(SUM(CASE WHEN score_wo IS NOT NULL
       |                        THEN freq * (score - score_wo) END) AS BIGINT)
       |            AS loss_raw
       |        FROM pw2 GROUP BY ex),
       |dom2 AS (SELECT u.sub AS ex, u.cnt, COALESCE(pt2.ess, 0) AS ess,
       |           CASE WHEN COALESCE(pt2.ess, 0) = 1 THEN NULL
       |                ELSE COALESCE(pt2.loss_raw, 0) END AS ll_loss
       |         FROM uc4 u LEFT JOIN pt2 ON pt2.ex = u.sub
       |         WHERE len(u.sub) > 1),
       |rkm2 AS (SELECT ex, cnt, ess, ll_loss,
       |           ROW_NUMBER() OVER (ORDER BY ess DESC,
       |             ll_loss DESC NULLS LAST, ex) AS rnk
       |         FROM dom2),
       |keepm2 AS (SELECT * FROM rkm2 WHERE rnk <= $TargetMulti2),
       |chfloor5 AS (SELECT sub, CAST($CharFloor AS BIGINT) AS cnt
       |             FROM (SELECT DISTINCT sub FROM ed WHERE len(sub) = 1) s
       |             WHERE sub NOT IN (SELECT sub FROM uc4)),
       |keep5 AS (SELECT sub, cnt FROM uc4 WHERE len(sub) = 1
       |          UNION ALL SELECT ex AS sub, cnt FROM keepm2
       |          UNION ALL SELECT sub, cnt FROM chfloor5),
       |tot5 AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM keep5),
       |vc5 AS MATERIALIZED (
       |  SELECT sub, cnt,
       |         CAST(ROUND(LN(CAST(cnt AS DOUBLE) / tot) * 1e6) AS BIGINT) AS lp
       |  FROM keep5 CROSS JOIN tot5),
       |lat5 AS MATERIALIZED (
       |  SELECT e.word, e.freq, e.j, e.i, e.sub, v.lp
       |  FROM ed e JOIN vc5 v USING (sub)),
       |${dpChain("e", "lat5")},
       |uc6 AS (SELECT token AS sub, CAST(SUM(freq) AS BIGINT) AS cnt
       |        FROM (SELECT unnest(string_split(path, ' ')) AS token, freq
       |              FROM sege) t
       |        GROUP BY token),
       |tot6 AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM uc6),
       |vc6 AS (SELECT sub, cnt,
       |          CAST(ROUND(LN(CAST(cnt AS DOUBLE) / tot) * 1e6) AS BIGINT) AS lp
       |        FROM uc6 CROSS JOIN tot6)
       |SELECT CAST(k.rnk AS INT) AS rnk, k.ex AS token,
       |  CAST(k.ll_loss AS BIGINT) AS ll_loss_e6,
       |  CAST(v.cnt AS BIGINT) AS cnt2, v.lp AS lp2_e6
       |FROM keepm2 k LEFT JOIN vc6 v ON v.sub = k.ex
       |ORDER BY rnk""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val ed = edges(wordFreqs(sp))
      .staged // seed counts, every lattice, and both char floors read it
    val uc1 = usageCounts(viterbi(ed, seedVocab(ed)))
      .staged // round-1 model, domain, keep arms, floor anti-join
    val (keep1, ucNext) = llLossPruneRound(ed, uc1, TargetMulti)
    val uc2 = ucNext
      .staged // round-2 model, domain, keep arms, floor anti-join
    // safe to release only AFTER uc2 is materialized — ucNext's plan
    // reads the kept relation (the vcP keep arm)
    Checkpoints.unpersist(keep1)
    val (keep2, ucFinal) = llLossPruneRound(ed, uc2, TargetMulti2)
    keep2
      .join(withLogProbs(ucFinal)
        .select(col("sub").as("ex"), col("cnt").as("cnt2"),
          col("lp").as("lp2_e6")), Seq("ex"), "left")
      .select(col("rnk"), col("ex").as("token"),
        col("ll_loss").as("ll_loss_e6"), col("cnt2"), col("lp2_e6"))
      .orderBy(col("rnk"))
  }

  // ---------------------------------------------------------------------
  // q434 — the VOCAB-SIZE SWEEP decision table: the LL-loss prune at
  // several size budgets in ONE pass, reported at q424's per-language
  // fertility grain — the table a tokenizer release decision actually
  // reads (size vs per-language cost).
  // ---------------------------------------------------------------------

  /** The swept multi-token budgets, largest first ([[TargetMulti]] is
    * the q423 release budget; the smaller rungs price what tightening
    * the vocabulary costs each language). */
  private[graft] val SweepMultis = Seq(TargetMulti, TargetMulti2, 2)

  /** Per-size × per-language fertility/compression table (r19 VERDICT
    * item 5): for every budget in [[SweepMultis]], prune the EM-trained
    * model to the top-k multi-char tokens by LL-loss rank, re-segment,
    * and report q424's fertility grain with the budget as a key column.
    *
    * The sweep SHARES everything budget-independent — that is the
    * operator: (a) the removal-loss RANKING runs ONCE ([[llLossRanked]]
    * — a budget only cuts a prefix of the one rank order, so pricing 3
    * budgets costs one keyed removal DP, not three); (b) the (word,
    * lang, n) corpus rollup is staged ONCE and every budget's report
    * joins it; (c) the corpus lattice `ed` is staged ONCE and each
    * budget's re-segmentation is a vocabulary join + word-grain DP over
    * it. Per added budget the marginal cost is one bounded-vocab model
    * build and one word-grain Viterbi — never a corpus rescan. */
  val q434UnigramVocabSweep: QuerySpec = {
    val perSizeCtes = SweepMultis.map { k =>
      s"""keep_$k AS (SELECT sub, cnt FROM uc WHERE len(sub) = 1
         |            UNION ALL SELECT ex AS sub, cnt FROM rkm WHERE rnk <= $k
         |            UNION ALL SELECT sub, cnt FROM chfloor),
         |tot_$k AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM keep_$k),
         |vc_$k AS MATERIALIZED (
         |  SELECT sub, cnt,
         |         CAST(ROUND(LN(CAST(cnt AS DOUBLE) / tot) * 1e6) AS BIGINT) AS lp
         |  FROM keep_$k CROSS JOIN tot_$k),
         |lat_$k AS MATERIALIZED (
         |  SELECT e.word, e.freq, e.j, e.i, e.sub, v.lp
         |  FROM ed e JOIN vc_$k v USING (sub)),
         |${dpChain(s"m$k", s"lat_$k")},
         |rep_$k AS (
         |  SELECT $k AS vocab_multi, wl.lang,
         |         CAST(SUM(wl.n) AS BIGINT) AS n_words,
         |         CAST(SUM(wl.n * tk.n_tokens) AS BIGINT) AS n_tokens,
         |         ROUND(CAST(SUM(wl.n * tk.n_tokens) AS DOUBLE)
         |               / CAST(SUM(wl.n) AS DOUBLE), 6) AS fertility,
         |         ROUND(CAST(SUM(wl.n * tk.n_chars) AS DOUBLE)
         |               / CAST(SUM(wl.n * tk.n_tokens) AS DOUBLE), 6)
         |           AS chars_per_token
         |  FROM wl JOIN (SELECT word,
         |                  CAST(len(string_split(path, ' ')) AS BIGINT)
         |                    AS n_tokens,
         |                  CAST(len(word) AS BIGINT) AS n_chars
         |                FROM segm$k) tk USING (word)
         |  GROUP BY wl.lang)""".stripMargin
    }.mkString(",\n")
    val unionAll = SweepMultis
      .map(k => s"SELECT * FROM rep_$k").mkString(" UNION ALL ")
    QuerySpec("q434_unigram_vocab_sweep",
      s"""WITH $oracleSeed,
         |${dpChain("a", "lat0")},
         |$emRetrainCtes,
         |${dpChain("b", "lat1")},
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT word, freq, token AS ex
         |  FROM (SELECT word, freq, unnest(string_split(path, ' ')) AS token
         |        FROM segb) t
         |  WHERE len(token) > 1),
         |latx AS MATERIALIZED (
         |  SELECT c.word, c.ex, l.j, l.i, l.sub, l.lp
         |  FROM cand c JOIN lat1 l USING (word)
         |  WHERE l.sub != c.ex),
         |${dpChainKeyed("latx", "cand")},
         |pw AS (SELECT c.ex, c.freq, sb.score, sx.score AS score_wo
         |       FROM cand c JOIN segb sb USING (word)
         |       LEFT JOIN segx sx ON sx.word = c.word AND sx.ex = c.ex),
         |pt AS (SELECT ex,
         |         MAX(CASE WHEN score_wo IS NULL THEN 1 ELSE 0 END) AS ess,
         |         CAST(SUM(CASE WHEN score_wo IS NOT NULL
         |                       THEN freq * (score - score_wo) END) AS BIGINT)
         |           AS loss_raw
         |       FROM pw GROUP BY ex),
         |dom AS (SELECT u.sub AS ex, u.cnt, COALESCE(pt.ess, 0) AS ess,
         |          CASE WHEN COALESCE(pt.ess, 0) = 1 THEN NULL
         |               ELSE COALESCE(pt.loss_raw, 0) END AS ll_loss
         |        FROM uc u LEFT JOIN pt ON pt.ex = u.sub
         |        WHERE len(u.sub) > 1),
         |rkm AS (SELECT ex, cnt, ess, ll_loss,
         |          ROW_NUMBER() OVER (ORDER BY ess DESC,
         |            ll_loss DESC NULLS LAST, ex) AS rnk
         |        FROM dom),
         |chfloor AS (SELECT sub, CAST($CharFloor AS BIGINT) AS cnt
         |            FROM (SELECT DISTINCT sub FROM ed WHERE len(sub) = 1) s
         |            WHERE sub NOT IN (SELECT sub FROM uc)),
         |wl AS MATERIALIZED (
         |  SELECT word, lang, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
         |        FROM documents) x
         |  WHERE word != '' GROUP BY word, lang),
         |$perSizeCtes
         |SELECT CAST(vocab_multi AS INT) AS vocab_multi, lang, n_words,
         |       n_tokens, fertility, chars_per_token
         |FROM ($unionAll) z
         |ORDER BY vocab_multi, lang""".stripMargin) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      val ed = edges(wordFreqs(sp))
        .staged // seed counts, every budget's lattice, the char floor
      val uc = usageCounts(viterbi(ed, seedVocab(ed)))
        .staged // the domain, every budget's keep arms, the floor anti-join
      // the ONE shared ranking (budget-independent)
      val lat = latticeOf(ed, withLogProbs(uc))
        .staged // the segmentation DP AND the keyed removal DP read it
      val segb = viterbiLat(ed, lat)
        .staged // the candidate explode AND the loss join read it
      val ranked = llLossRanked(uc, lat, segb)
        .staged // every budget cuts a prefix of it
      // the ONE shared corpus rollup (q424's grain)
      val wl = sp.table("documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word"), col("lang")).agg(count(lit(1)).as("n"))
        .staged // every budget's report joins it
      SweepMultis.map { k =>
        val vcK = prunedVocab(ed, uc, ranked.filter(col("rnk") <= k)
          .select(col("ex").as("sub"), col("cnt")))
        val tk = viterbi(ed, vcK)
          .select(col("word"), size(col("toks")).cast("long").as("n_tokens"),
            length(col("word")).cast("long").as("n_chars"))
        wl.join(tk, "word")
          .groupBy(col("lang"))
          .agg(sum(col("n")).as("n_words"),
            sum(col("n") * col("n_tokens")).as("n_tokens"),
            round(sum(col("n") * col("n_tokens")).cast("double") /
              sum(col("n")).cast("double"), 6).as("fertility"),
            round(sum(col("n") * col("n_chars")).cast("double") /
              sum(col("n") * col("n_tokens")).cast("double"), 6)
              .as("chars_per_token"))
          .withColumn("vocab_multi", lit(k).cast("int"))
      }.reduce(_.unionByName(_))
        .select(col("vocab_multi"), col("lang"), col("n_words"),
          col("n_tokens"), col("fertility"), col("chars_per_token"))
        .orderBy(col("vocab_multi"), col("lang"))
    }
  }

  // ---------------------------------------------------------------------
  // q413 — the STATELESS-EXPRESSION encode over a static pretrained
  // vocab: the unigram analogue of the BPE q405/streaming-stage pair.
  // ---------------------------------------------------------------------

  /** Pretrained static vocabulary (subword → e6 log-prob LITERAL — no
    * LN anywhere, so the cross-engine replay has zero float surface)
    * for the expression encode and the streaming tokenizer stage: all
    * 26 lowercase letters cover letter-only words; the multi-char
    * entries are priced so they beat their single-char spellings (one
    * 4-char token at −6.5 vs four singles ≈ −13). A word containing
    * ANY character outside the cover (digits, uppercase, punctuation)
    * has no full lattice path and encodes as `<unk>` — the
    * SentencePiece UNK contract. */
  private[graft] val StaticVocab: Seq[(String, Long)] = {
    val singles = "abcdefghijklmnopqrstuvwxyz".map(c =>
      c.toString -> -3200000L)
    val multi = Seq(
      "er" -> -4000000L, "an" -> -4200000L, "or" -> -4300000L,
      "scan" -> -6500000L, "tabl" -> -6600000L, "wind" -> -6700000L,
      "colu" -> -6800000L, "sort" -> -6900000L, "merg" -> -7000000L,
      "row" -> -5500000L, "join" -> -6400000L)
    singles ++ multi
  }

  /** The UNK token emitted for words with no full lattice path. */
  private[graft] val Unk = "<unk>"

  /** Stateless unigram ENCODE of a document as a SINGLE per-row
    * expression: [[viterbiBest]] at k = 1 — the DP behind [[viterbi]] —
    * with each position's candidates derived INLINE (the ≤ [[SubMaxLen]]
    * substrings ending there, looked up in a literal vocab map, misses
    * dropped), so there are zero joins, zero shuffles, zero state. Runs
    * identically over batch rows and a structured stream (the tokenizer
    * stage of a streaming ingestion pipeline —
    * [[graft.streaming.EventStreams.unigramTokenizedDocs]]); words
    * without a full path emit [[Unk]]. */
  private[graft] def unigramTokensExpr(text: Column): Column =
    unigramTokensExprWith(text, StaticVocab)

  /** [[unigramTokensExpr]] parameterized over the vocabulary — the form
    * a SHIPPED artifact feeds (q417 applies the q414-trained pruned
    * model; [[StaticVocab]] is just the default instance). The vocab
    * rides as a map LITERAL: exactly right for a pruned target model,
    * which is SMALL by construction (the vocab_size knob — tens of k
    * entries, a few hundred KB; at that size Spark ships it inside the
    * plan like any broadcast parameter, and the per-row DP stays
    * join-free on every executor). */
  private[graft] def unigramTokensExprWith(text: Column,
                                           vocab: Seq[(String, Long)]): Column = {
    val vocabMap = map_from_arrays(
      array(vocab.map(kv => lit(kv._1)): _*),
      array(vocab.map(kv => lit(kv._2)): _*))
    def wordToks(w: Column) = {
      val best = viterbiBest(length(w), 1, p =>
        filter(
          transform(sequence(greatest(lit(0), p - SubMaxLen), p - 1), j =>
            struct(j.as("j"), substr(w, j + 1, p - j).as("sub"),
              element_at(vocabMap, substr(w, j + 1, p - j)).as("lp"))),
          e => e("lp").isNotNull))
      split(trim(coalesce(try_element_at(best, lit(1))("path"), lit(Unk))),
        " ")
    }
    flatten(transform(
      filter(split(text, " "), w => w =!= ""),
      w => wordToks(w)))
  }

  /** The expression encode under the oracle gate (the q405 analogue):
    * corpus-weighted top-30 tokens — `<unk>` included — of the static-
    * vocab segmentations. The DuckDB replay runs the positional DP over
    * a VALUES lattice, with uncovered words LEFT-JOIN-defaulted to
    * [[Unk]]; the Spark side is [[viterbiBest]] fed from the literal
    * vocab map, the same DP UnigramSpec's parity pin runs over the
    * lattice join. */
  val q413UnigramEncodeExpr: QuerySpec = {
    val vals = StaticVocab.map { case (s2, l) => s"('$s2', CAST($l AS BIGINT))" }
      .mkString(", ")
    QuerySpec(
      "q413_unigram_encode_expr",
      s"""WITH wf AS (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) u
         |  WHERE word != '' GROUP BY word),
         |ed AS MATERIALIZED (
         |  SELECT word, freq, CAST(j AS INT) AS j, CAST(j + l AS INT) AS i,
         |         word[j + 1 : j + l] AS sub
         |  FROM wf,
         |    LATERAL (SELECT unnest(range(0, len(word))) AS j) a,
         |    LATERAL (SELECT unnest(range(1, least($SubMaxLen, len(word) - j) + 1)) AS l) b),
         |vcs(sub, lp) AS (VALUES $vals),
         |lats AS MATERIALIZED (
         |  SELECT e.word, e.freq, e.j, e.i, e.sub, v.lp
         |  FROM ed e JOIN vcs v USING (sub)),
         |${dpChain("s", "lats")},
         |enc AS (SELECT w.word, w.freq, COALESCE(s.path, '$Unk') AS path
         |        FROM wf w LEFT JOIN segs s USING (word))
         |SELECT CAST(rnk AS INT) AS rnk, token, CAST(cnt AS BIGINT) AS cnt FROM (
         |  SELECT token, SUM(freq) AS cnt,
         |         ROW_NUMBER() OVER (ORDER BY SUM(freq) DESC, token) AS rnk
         |  FROM (SELECT unnest(string_split(path, ' ')) AS token, freq FROM enc) t
         |  GROUP BY token) z
         |WHERE rnk <= 30 ORDER BY rnk""".stripMargin) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      sp.table("documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        .select(explode(unigramTokensExpr(col("word"))).as("token"),
          col("freq"))
        .groupBy(col("token")).agg(sum(col("freq")).as("cnt"))
        .withColumn("rnk", row_number()
          .over(Window.orderBy(col("cnt").desc, col("token"))).cast("int"))
        .filter(col("rnk") <= 30)
        .select(col("rnk"), col("token"), col("cnt"))
        .orderBy(col("rnk"))
    }
  }

  /** TWO Viterbi-EM training rounds — q411's loop iterated (the shape a
    * real training sweep runs until the LL plateaus): round 2 re-counts
    * usage over the round-1 segmentations, re-normalizes, re-segments.
    * The per-round report is q411's exactly, extended one row; the
    * monotonicity contract (hard-EM's LL never decreases — each
    * re-estimated model scores its OWN training segmentations at least
    * as well, and the new Viterbi pass only improves on fixed
    * probabilities) now spans both steps, spec-pinned. Envelope: one
    * more vocab-grain rollup + one more per-row DP pass over the same
    * staged lattice — the round count multiplies only the
    * embarrassingly-parallel segmentation work, never a driver
    * barrier. */
  val q421UnigramEm2: QuerySpec = QuerySpec(
    "q421_unigram_em2",
    s"""WITH $oracleSeed,
       |${dpChain("a", "lat0")},
       |$emRetrainCtes,
       |${dpChain("b", "lat1")},
       |ucb AS MATERIALIZED (
       |  SELECT token AS sub, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(string_split(path, ' ')) AS token, freq FROM segb) t
       |  GROUP BY token),
       |totb AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM ucb),
       |vcb AS MATERIALIZED (
       |  SELECT sub, cnt,
       |         CAST(ROUND(LN(CAST(cnt AS DOUBLE) / tot) * 1e6) AS BIGINT) AS lp
       |  FROM ucb CROSS JOIN totb),
       |latb AS MATERIALIZED (
       |  SELECT e.word, e.freq, e.j, e.i, e.sub, v.lp
       |  FROM ed e JOIN vcb v USING (sub)),
       |${dpChain("c", "latb")},
       |r0 AS (SELECT CAST(0 AS BIGINT) AS round,
       |              (SELECT CAST(COUNT(*) AS BIGINT) FROM vc0) AS vocab_size,
       |              CAST(SUM(freq * len(string_split(path, ' '))) AS BIGINT)
       |                AS tokens_total,
       |              CAST(SUM(freq * score) AS BIGINT) AS ll_e6
       |       FROM sega),
       |r1 AS (SELECT CAST(1 AS BIGINT) AS round,
       |              (SELECT CAST(COUNT(*) AS BIGINT) FROM vc1) AS vocab_size,
       |              CAST(SUM(freq * len(string_split(path, ' '))) AS BIGINT)
       |                AS tokens_total,
       |              CAST(SUM(freq * score) AS BIGINT) AS ll_e6
       |       FROM segb),
       |r2 AS (SELECT CAST(2 AS BIGINT) AS round,
       |              (SELECT CAST(COUNT(*) AS BIGINT) FROM vcb) AS vocab_size,
       |              CAST(SUM(freq * len(string_split(path, ' '))) AS BIGINT)
       |                AS tokens_total,
       |              CAST(SUM(freq * score) AS BIGINT) AS ll_e6
       |       FROM segc)
       |SELECT * FROM r0 UNION ALL SELECT * FROM r1 UNION ALL SELECT * FROM r2
       |ORDER BY round""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val ed = edges(wordFreqs(sp)).staged // seed counts + all three lattices
    val vc0 = seedVocab(ed).staged
    val seg0 = viterbi(ed, vc0).staged // round-1 M-step + the r0 report
    val vc1 = withLogProbs(usageCounts(seg0)).staged
    val seg1 = viterbi(ed, vc1).staged // round-2 M-step + the r1 report
    val vc2 = withLogProbs(usageCounts(seg1)).staged
    val seg2 = viterbi(ed, vc2)
    emReport(seg0, vc0, 0).unionByName(emReport(seg1, vc1, 1))
      .unionByName(emReport(seg2, vc2, 2))
      .orderBy(col("round"))
  }

  // ---------------------------------------------------------------------
  // q420 — 2-BEST Viterbi segmentation: the n-best lattice core of
  // subword REGULARIZATION (Kudo 2018 §3 — sampling segmentations needs
  // the l-best paths, not just the argmax).
  // ---------------------------------------------------------------------

  /** Top-2 segmentations per word under a `(sub, lp)` vocabulary —
    * [[viterbiBest]] at k = 2 over [[latticeOf]]: per position the
    * ordered array of up to 2 (score, path) states, candidates in the
    * total order (score DESC, start j DESC, predecessor rank ASC), so
    * the two emitted paths are distinct derivations and rank 1 is
    * exactly [[viterbi]]'s argmax path (UnigramSpec fuzzes both ranks
    * against an independent reference). A word UNREACHABLE at its final
    * position under a non-covering vocabulary returns the same UNK
    * contract as [[viterbi]] — one element (score = NULL, path =
    * [[Unk]]) — via the left-joined word spine, so a caller under a
    * pruned vocab can never silently lose words (an empty array would
    * vanish through posexplode). Returns
    * (word, freq, best2: array of (score, path)). Same scale shape as
    * [[viterbi]]: zero joins/shuffles/rounds past the lattice join —
    * the 2-best bookkeeping multiplies the per-step constant by ≤ 2,
    * nothing else. */
  private[graft] def viterbi2Best(ed: DataFrame, vocab: DataFrame): DataFrame =
    onWordSpine(ed, latticeBest(latticeOf(ed, vocab), 2, "best2", "word", "freq"),
      "best2",
      array(struct(lit(null).cast("long").as("score"), lit(Unk).as("path"))))

  /** The 2-best DP chain unrolled for DuckDB: `dp2{p}` holds up to TWO
    * rows per word into position p (rn 1..2), candidates ranked by the
    * same total order as the expression side. */
  private def dp2Chain(latRel: String, spine: String): String = {
    val parts = Seq.newBuilder[String]
    parts += s"""dp2x0 AS (SELECT word, freq, 0 AS pos,
                |  CAST(0 AS BIGINT) AS score, '' AS path, 1 AS rn
                |  FROM $spine)""".stripMargin
    for (p <- 1 to MaxWordLen) {
      val prevs = (math.max(0, p - SubMaxLen) until p)
        .map(q => s"SELECT word, freq, pos, score, path, rn FROM dp2x$q")
        .mkString(" UNION ALL ")
      parts += s"""dp2x$p AS MATERIALIZED (
                  |  SELECT word, freq, pos, score, path, rn FROM (
                  |    SELECT e.word, e.freq, $p AS pos, d.score + e.lp AS score,
                  |           d.path || ' ' || e.sub AS path,
                  |           ROW_NUMBER() OVER (PARTITION BY e.word
                  |             ORDER BY d.score + e.lp DESC, e.j DESC, d.rn ASC)
                  |             AS rn
                  |    FROM $latRel e JOIN ($prevs) d
                  |      ON e.word = d.word AND e.j = d.pos
                  |    WHERE e.i = $p) z
                  |  WHERE rn <= 2)""".stripMargin
    }
    val finals = (1 to MaxWordLen)
      .map(p => s"SELECT word, freq, pos, score, path, rn FROM dp2x$p")
      .mkString(" UNION ALL ")
    parts += s"""seg2 AS (
                |  SELECT d.word, d.freq, d.rn, d.score, trim(d.path) AS path
                |  FROM ($finals) d
                |  JOIN (SELECT word AS w2, len(word) AS lw FROM wf) x
                |    ON d.word = x.w2 AND d.pos = x.lw)""".stripMargin
    parts.result().mkString(",\n")
  }

  /** 2-best segmentations of the 10 most frequent corpus words under
    * the seed model — per word: both paths with exact e6 scores, the
    * relation a subword-regularization sampler draws from (Kudo's
    * l-best with l = 2; the score GAP is the sampling temperature
    * signal). The DP runs on the report's words only (a TakeOrdered
    * 10-word spine semi-joins the lattice — the operator itself is
    * corpus-generic and embarrassingly parallel). */
  val q420Unigram2Best: QuerySpec = QuerySpec(
    "q420_unigram_2best",
    s"""WITH $oracleSeed,
       |top10 AS (SELECT word, freq FROM wf ORDER BY freq DESC, word LIMIT 10),
       |latt AS MATERIALIZED (
       |  SELECT l.word, l.freq, l.j, l.i, l.sub, l.lp
       |  FROM lat0 l JOIN top10 USING (word)),
       |${dp2Chain("latt", "top10")}
       |SELECT s.word, s.freq, CAST(s.rn AS INT) AS rnk,
       |       s.score AS score_e6, s.path AS seg
       |FROM seg2 s
       |ORDER BY s.freq DESC, s.word, rnk""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val ed = edges(wordFreqs(sp)).staged // vocab counts + spine + lattice
    val vc0 = seedVocab(ed)
    // the 10-word report spine: TakeOrdered off the aggregation-free
    // word relation (the j=0 length-1 edge — the q410 spine idiom)
    val top10 = ed.filter(col("j") === 0 && col("i") === 1)
      .select(col("word"), col("freq"))
      .orderBy(col("freq").desc, col("word")).limit(10)
    viterbi2Best(ed.join(broadcast(top10.select(col("word"))), Seq("word"),
        "left_semi"), vc0)
      .select(col("word"), col("freq"),
        posexplode(col("best2")).as(Seq("r0", "e")))
      .select(col("word"), col("freq"), (col("r0") + 1).cast("int").as("rnk"),
        col("e.score").as("score_e6"), trim(col("e.path")).as("seg"))
      .orderBy(col("freq").desc, col("word"), col("rnk"))
  }

  // ---------------------------------------------------------------------
  // q417 — the artifact-ENCODE composition: the q414-trained pruned
  // model, applied through the stateless per-row expression.
  // ---------------------------------------------------------------------

  /** Encode the corpus per source split with the PRUNED target model
    * q414 ships, through the STATELESS expression encoder — the unigram
    * family's full train → prune → ship → encode loop in one gated
    * query (q413's "pretrained vocab" story with the trainer's own
    * artifact instead of a hand platter, closing the r17 finding that
    * the static prices were fixture-tuned literals). The (token, lp_e6)
    * artifact is COLLECTED (bounded by the TARGET SIZE by construction
    * — |chars| + [[TargetMulti]] + floor; the vocab_size knob IS the
    * bound, the same ship-an-artifact probe class as the BPE merge
    * table) and fed to [[unigramTokensExprWith]], so the encode path is
    * the streaming-deployable zero-join form. Per-source compression is
    * the held-out signal, exactly the q412 report shape. The char floor
    * makes vc2 covering, so the UNK arm is unreachable here (pinned by
    * UnigramSpec; the oracle's segc spine relies on it the same way
    * q412's does). */
  val q417UnigramArtifactEncode: QuerySpec = QuerySpec(
    "q417_unigram_artifact_encode",
    s"""WITH $oracleSeed,
       |${dpChain("a", "lat0")},
       |$emRetrainCtes,
       |$prunedModelCtes,
       |${dpChain("c", "lat2")},
       |${TextAnalysis.perSourceCompressionSqlTail(
          s"""tk AS (SELECT word,
             |         CAST(len(string_split(path, ' ')) AS BIGINT) AS n_tokens,
             |         CAST(len(word) AS BIGINT) AS n_chars
             |       FROM segc)""".stripMargin)}""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val (ed, vc2) = prunedModelParts(sp)
    val artifact = vc2.select(col("sub"), col("lp"))
      .collect() // the shipped model: ≤ target-size rows by construction
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    Checkpoints.unpersist(ed) // the encode below is vocab-literal —
    Checkpoints.unpersist(vc2) // neither staged relation feeds it
    val ws = TextAnalysis.perSourceWordCounts(sp)
      .staged // the encode vocab AND the per-source report both read it
    val tk = ws.groupBy("word").agg(sum(col("n")).as("n"))
      .select(col("word"),
        size(unigramTokensExprWith(col("word"), artifact))
          .cast("long").as("n_tokens"),
        length(col("word")).cast("long").as("n_chars"))
    TextAnalysis.perSourceCompression(ws, tk)
  }

  // ---------------------------------------------------------------------
  // q424 — unigram fertility by language: the q176 report over the
  // q414/q417 pruned-model ARTIFACT (the family comparison a
  // multilingual tokenizer decision needs — q415 compares totals, this
  // compares per-language cost).
  // ---------------------------------------------------------------------

  /** Tokens-per-word and chars-per-token by language under the
    * PRUNED unigram artifact — the unigram twin of
    * [[TextAnalysis.q176TokenizerFertility]] (which prices the BPE
    * encoder): high fertility = the tokenizer fragments that language,
    * inflating its effective training cost. The model is the q414
    * artifact applied exactly as q417 ships it — collected (bounded by
    * the target size BY CONSTRUCTION) and fed to the stateless
    * expression encoder, so the fertility table prices the model a
    * release would actually deploy. Same envelope as q176: ONE corpus
    * scan builds the (word, lang, n) rollup (staged — it feeds both
    * the encode word relation and the report join); the encode runs on
    * the vocabulary-sized word relation; the report joins the two at
    * the word grain. */
  val q424UnigramFertility: QuerySpec = QuerySpec(
    "q424_unigram_fertility",
    s"""WITH $oracleSeed,
       |${dpChain("a", "lat0")},
       |$emRetrainCtes,
       |$prunedModelCtes,
       |${dpChain("c", "lat2")},
       |wl AS (SELECT word, lang, CAST(COUNT(*) AS BIGINT) AS n
       |       FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
       |             FROM documents) x
       |       WHERE word != '' GROUP BY word, lang),
       |tk AS (SELECT word,
       |         CAST(len(string_split(path, ' ')) AS BIGINT) AS n_tokens,
       |         CAST(len(word) AS BIGINT) AS n_chars
       |       FROM segc)
       |SELECT lang,
       |       CAST(SUM(wl.n) AS BIGINT) AS n_words,
       |       CAST(SUM(wl.n * tk.n_tokens) AS BIGINT) AS n_tokens,
       |       ROUND(CAST(SUM(wl.n * tk.n_tokens) AS DOUBLE)
       |             / CAST(SUM(wl.n) AS DOUBLE), 6) AS fertility,
       |       ROUND(CAST(SUM(wl.n * tk.n_chars) AS DOUBLE)
       |             / CAST(SUM(wl.n * tk.n_tokens) AS DOUBLE), 6)
       |         AS chars_per_token
       |FROM wl JOIN tk USING (word)
       |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val (ed, vc2) = prunedModelParts(sp)
    val artifact = vc2.select(col("sub"), col("lp"))
      .collect() // the shipped model: ≤ target-size rows by construction
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    Checkpoints.unpersist(ed) // the encode below is vocab-literal
    Checkpoints.unpersist(vc2)
    val wl = sp.table("documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"), col("lang")).agg(count(lit(1)).as("n"))
      .staged // the encode word relation AND the report join read it
    val tk = wl.groupBy("word").agg(sum(col("n")).as("n"))
      .select(col("word"),
        size(unigramTokensExprWith(col("word"), artifact))
          .cast("long").as("n_tokens"),
        length(col("word")).cast("long").as("n_chars"))
    wl.join(tk, "word")
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("n_tokens")).as("n_tokens"),
        round(sum(col("n") * col("n_tokens")).cast("double") /
          sum(col("n")).cast("double"), 6).as("fertility"),
        round(sum(col("n") * col("n_chars")).cast("double") /
          sum(col("n") * col("n_tokens")).cast("double"), 6)
          .as("chars_per_token"))
      .orderBy(col("lang"))
  }

  // ---------------------------------------------------------------------
  // q425 — SAMPLED (subword-regularization) encode: Kudo 2018 §3's
  // point — train-time segmentations are SAMPLED from the l-best set,
  // not argmax'd — composed over the q420 2-best lattice core.
  // ---------------------------------------------------------------------

  /** Sampling temperature α (Kudo's smoothing exponent): P(rank k) ∝
    * exp(α·score_k). Small α flattens toward uniform; α → ∞ degenerates
    * to the argmax (spec-pinned). */
  private[graft] val SampleAlpha = 0.5

  /** The frozen per-(doc, word) sampling coordinate in [0, 1e6): the
    * q130/q95 multiplicative doc_id hash salted with a rolling
    * polynomial over ALL the word's code points — pure 64-bit-safe
    * integer arithmetic (doc term < 2^51, poly < 2^20 so poly·131 <
    * 2^27; the sum stays far under 2^63 — and under 2^52, so even a
    * DOUBLE engine would be exact), making the draw identical on any
    * engine, partitioning, or rerun: RNG-free, oracle-replayable
    * determinism (the q130-family discipline). The polynomial replaces
    * the r19 (length, first, last) salt, whose draws were CORRELATED —
    * same-shape words ('cat'/'cot') shared one coordinate, biasing the
    * regularization mass relative to Kudo 2018's independent
    * per-occurrence sampling (ADVICE r19); the rolling fold
    * `acc·31 + cp (mod 1000003)` separates any two distinct words with
    * overwhelming probability while staying exactly replayable.
    *
    * The fold needs a lambda, and lambda dialects differ — so the
    * polynomial ships as TWO texts computing the SAME integer (Spark
    * `aggregate` over a `sequence` of positions, folded at the WORD
    * grain by [[best2Under]] so the (doc, word) pair grain is pure
    * arithmetic ([[samplePick]]); DuckDB `list_reduce` with a
    * prepended 0 seed over the char split, inlined in the full
    * coordinate [[SampleHashSqlDuck]]). Any drift between them flips a
    * sampling pick and fails the q425/q429 oracle gate — the texts are
    * cross-checked by construction, and the Scala replay in
    * UnigramSpec pins the formula a third time. */
  private[graft] val WordPolySqlSpark: String =
    "aggregate(transform(sequence(1, length(word)), " +
      "i -> CAST(ascii(substring(word, i, 1)) AS BIGINT)), " +
      "CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % 1000003)"
  private[graft] val WordPolySqlDuck: String =
    "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(string_split(word, ''), " +
      "c -> CAST(ascii(c) AS BIGINT))), (acc, x) -> (acc * 31 + x) % 1000003)"
  private[graft] val SampleHashSqlDuck: String =
    s"((doc_id % 1000003) * 2654435761 + ($WordPolySqlDuck) * 131) % 1000000"

  /** Per-(doc, word) sampling decisions under the seed model: each
    * distinct word of each document draws between its 2-best
    * segmentations ([[viterbi2Best]]) with P(rank 1) =
    * softmax(α·score)₁ = 1 / (1 + exp(α·(s₂−s₁)/1e6)), quantized to e6
    * and compared against the frozen hash coordinate — deterministic,
    * replayable, and partitioning-independent (the one float surface,
    * exp/round, is guarded by a UnigramSpec boundary-distance pin, the
    * LN-quantization discipline). Single-path words (no rank 2) keep
    * their only segmentation. Returns (doc_id, word, nocc, u_e6,
    * p1_e6, path). Scale shape: ONE corpus-grain (doc, word) rollup,
    * one word-keyed join against the word-grain 2-best relation (AQE
    * broadcasts the small side), then pure per-row arithmetic — no
    * windows, no rounds, no state. */
  private[graft] def sampledSegments(sp: SparkSession,
                                     alpha: Double): DataFrame = {
    val ed = edges(wordFreqs(sp))
      .staged // seed-vocab counts AND the 2-best lattice read it
    sampledSegmentsUnder(sp, ed, seedVocab(ed), alpha)
  }

  /** [[sampledSegments]] under an EXPLICIT `(sub, lp)` model — the form
    * a SHIPPED artifact feeds (q429 samples under the q414-pruned
    * model; the seed model is just the default instance). `ed` is the
    * corpus lattice ([[edges]], typically staged by the caller). */
  /** The flattened 2-best relation `(word, s1, p1, s2, p2)` under a
    * model — what a release SHIPS for the sampling path (the q417
    * artifact story at the distinct-word grain): built once per
    * release, read by the batch sampler AND the streaming stage
    * ([[graft.streaming.EventStreams.sampledTokenizedDocs]]). s2/p2
    * are NULL for single-path words. */
  private[graft] def best2Under(ed: DataFrame, vocab: DataFrame): DataFrame =
    viterbi2Best(ed, vocab)
      .select(col("word"),
        element_at(col("best2"), 1).getField("score").as("s1"),
        trim(element_at(col("best2"), 1).getField("path")).as("p1"),
        try_element_at(col("best2"), lit(2)).getField("score").as("s2"),
        trim(try_element_at(col("best2"), lit(2)).getField("path")).as("p2"))
      // the word polynomial of the sampling coordinate rides the
      // word-grain relation: folding it here (once per distinct word)
      // instead of per (doc, word) row leaves the pair grain pure
      // integer arithmetic
      .withColumn("wp", expr(WordPolySqlSpark))

  /** The stateless per-row sampling PICK over a relation carrying
    * (doc_id, wp, s1, p1, s2, p2) — `wp` the word polynomial
    * [[best2Under]] pre-folds at the word grain: frozen hash +
    * e6-quantized softmax gate, adding (u_e6, p1_e6, path). ONE
    * definition shared by the batch sampler and the streaming stage so
    * the two can never drift on the draw; u_e6 is the same value the
    * oracle's [[SampleHashSqlDuck]] folds inline (the q425 oracle gate
    * and the UnigramSpec Scala replay pin the equality). */
  private[graft] def samplePick(joined: DataFrame, alpha: Double): DataFrame =
    joined
      .withColumn("u_e6",
        ((col("doc_id") % 1000003L) * 2654435761L + col("wp") * 131L)
          % 1000000L)
      .withColumn("p1_e6",
        when(col("s2").isNull, lit(1000000L))
          .otherwise(round(lit(1e6) / (lit(1.0) +
            exp(lit(alpha) * (col("s2") - col("s1")).cast("double") /
              lit(1e6)))).cast("long")))
      .withColumn("path",
        when(col("s2").isNull || col("u_e6") < col("p1_e6"), col("p1"))
          .otherwise(col("p2")))

  private[graft] def sampledSegmentsUnder(sp: SparkSession, ed: DataFrame,
                                          vocab: DataFrame,
                                          alpha: Double): DataFrame = {
    val dw = sp.table("documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("nocc"))
    samplePick(dw.join(best2Under(ed, vocab), Seq("word")), alpha)
  }

  /** The sampled-encode report: corpus-weighted top-30 tokens of the
    * SAMPLED segmentations — the token distribution a subword-
    * regularized training run feeds the model (vs q410's argmax
    * distribution; the delta between the two reports is the
    * regularization mass). The DuckDB replay runs the same 2-best
    * chain, the same frozen hash (its own lambda dialect computing the
    * same integer — see [[WordPolySqlDuck]]), and the same e6-quantized
    * softmax gate.
    * Coverage note: like every dpChain oracle this assumes the seed
    * vocabulary covers (single-char floor — spec-pinned); an UNK word
    * would take the Spark <unk> arm but drop from the replay's spine. */
  val q425UnigramSampledEncode: QuerySpec = QuerySpec(
    "q425_unigram_sampled_encode",
    s"""WITH $oracleSeed,
       |${dp2Chain("lat0", "wf")},
       |dw AS MATERIALIZED (
       |  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS nocc
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |        FROM documents) u
       |  WHERE word != '' GROUP BY doc_id, word),
       |b1 AS (SELECT word, score AS s1, path AS p1 FROM seg2 WHERE rn = 1),
       |b2 AS (SELECT word, score AS s2, path AS p2 FROM seg2 WHERE rn = 2),
       |ch AS (SELECT dw.doc_id, dw.word, dw.nocc, b1.s1, b1.p1, b2.s2, b2.p2,
       |         ($SampleHashSqlDuck) AS u_e6,
       |         CASE WHEN b2.s2 IS NULL THEN 1000000
       |              ELSE CAST(ROUND(1e6 / (1 + EXP($SampleAlpha
       |                * CAST(b2.s2 - b1.s1 AS DOUBLE) / 1e6))) AS BIGINT)
       |         END AS p1_e6
       |       FROM dw JOIN b1 USING (word) LEFT JOIN b2 USING (word)),
       |pick AS (SELECT doc_id, word, nocc,
       |           CASE WHEN s2 IS NULL OR u_e6 < p1_e6 THEN p1 ELSE p2 END
       |             AS path
       |         FROM ch)
       |SELECT CAST(rnk AS INT) AS rnk, token, CAST(cnt AS BIGINT) AS cnt FROM (
       |  SELECT token, SUM(nocc) AS cnt,
       |         ROW_NUMBER() OVER (ORDER BY SUM(nocc) DESC, token) AS rnk
       |  FROM (SELECT unnest(string_split(path, ' ')) AS token, nocc
       |        FROM pick) t
       |  GROUP BY token) z
       |WHERE rnk <= 30 ORDER BY rnk""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    sampledTop30(sampledSegments(sp, SampleAlpha))
  }

  /** The sampled-encode report rollup shared by q425/q429: top-30
    * tokens of the sampled segmentations, occurrence-weighted. */
  private def sampledTop30(segments: DataFrame): DataFrame =
    segments
      .select(explode(split(col("path"), " ")).as("token"), col("nocc"))
      .groupBy(col("token")).agg(sum(col("nocc")).as("cnt"))
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("cnt").desc, col("token"))).cast("int"))
      .filter(col("rnk") <= 30)
      .select(col("rnk"), col("token"), col("cnt"))
      .orderBy(col("rnk"))

  /** The sampler under the SHIPPED model — the production
    * subword-regularization path end-to-end: train → prune (q414) →
    * ship → SAMPLE. Same frozen-hash/quantized-softmax gate as q425,
    * but the 2-best lattice runs under the pruned target model (whose
    * char floor keeps it covering — the q414/q417 guarantee, so the
    * UNK arm stays unreachable and the replay's spine is total). The
    * only addition to q425's envelope is the vocab-grain prune
    * derivation q414 already prices. */
  val q429UnigramSampledArtifact: QuerySpec = QuerySpec(
    "q429_unigram_sampled_artifact",
    s"""WITH $oracleSeed,
       |${dpChain("a", "lat0")},
       |$emRetrainCtes,
       |$prunedModelCtes,
       |${dp2Chain("lat2", "wf")},
       |dw AS MATERIALIZED (
       |  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS nocc
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |        FROM documents) u
       |  WHERE word != '' GROUP BY doc_id, word),
       |b1 AS (SELECT word, score AS s1, path AS p1 FROM seg2 WHERE rn = 1),
       |b2 AS (SELECT word, score AS s2, path AS p2 FROM seg2 WHERE rn = 2),
       |ch AS (SELECT dw.doc_id, dw.word, dw.nocc, b1.s1, b1.p1, b2.s2, b2.p2,
       |         ($SampleHashSqlDuck) AS u_e6,
       |         CASE WHEN b2.s2 IS NULL THEN 1000000
       |              ELSE CAST(ROUND(1e6 / (1 + EXP($SampleAlpha
       |                * CAST(b2.s2 - b1.s1 AS DOUBLE) / 1e6))) AS BIGINT)
       |         END AS p1_e6
       |       FROM dw JOIN b1 USING (word) LEFT JOIN b2 USING (word)),
       |pick AS (SELECT doc_id, word, nocc,
       |           CASE WHEN s2 IS NULL OR u_e6 < p1_e6 THEN p1 ELSE p2 END
       |             AS path
       |         FROM ch)
       |SELECT CAST(rnk AS INT) AS rnk, token, CAST(cnt AS BIGINT) AS cnt FROM (
       |  SELECT token, SUM(nocc) AS cnt,
       |         ROW_NUMBER() OVER (ORDER BY SUM(nocc) DESC, token) AS rnk
       |  FROM (SELECT unnest(string_split(path, ' ')) AS token, nocc
       |        FROM pick) t
       |  GROUP BY token) z
       |WHERE rnk <= 30 ORDER BY rnk""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val (ed, vc2) = prunedModelParts(sp)
    sampledTop30(sampledSegmentsUnder(sp, ed, vc2, SampleAlpha))
  }

  // q411 joins the bench headline set: it is the per-row-DP family's
  // representative (two Viterbi passes + the EM rollup)
  val all: Seq[QuerySpec] = Seq(q410UnigramViterbi, q411UnigramEm.benched,
    q412UnigramTrainedEncode, q413UnigramEncodeExpr, q414UnigramPruneTarget,
    q417UnigramArtifactEncode, q420Unigram2Best, q421UnigramEm2,
    q423UnigramPruneLlLoss, q424UnigramFertility, q425UnigramSampledEncode,
    q429UnigramSampledArtifact, q430UnigramPruneLlLoss2,
    q434UnigramVocabSweep)
}
