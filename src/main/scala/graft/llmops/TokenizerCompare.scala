package graft.llmops

import graft.QuerySpec
import graft.llmops.Checkpoints.Stageable
import org.apache.spark.sql.functions._

/** Tokenizer-family comparison — the decision report a pre-training
  * data engineer actually runs: train BOTH production families
  * ([[BpeTokenizer]]'s Sennrich merge learner and
  * [[UnigramTokenizer]]'s Viterbi-EM model) on the SAME corpus and put
  * their artifacts side by side — distinct subword tokens actually
  * USED in the final segmentation (the comparable vocab measure:
  * model-entry counts are not comparable across families), exact
  * corpus-weighted token totals before/after, and the e6 compression
  * ratio. "Which tokenizer do I ship at this budget" reduces to this
  * two-row table.
  *
  * Scale shape: each family keeps its own envelope (one corpus-grain
  * word-frequency pass each, then vocab-grain training — the BPE K
  * rounds, the unigram seed + EM Viterbi passes); the report arms are
  * single-row aggregates over the two DISTINCT-WORD final states,
  * unioned. Nothing new is materialized beyond what q402/q411 already
  * build. The DuckDB replay chains both families' unrolls in one WITH
  * (their CTE namespaces are disjoint by construction). */
object TokenizerCompare {

  /** Side-by-side artifact quality of the two trained tokenizers. */
  val q415TokenizerCompare: QuerySpec = QuerySpec(
    "q415_tokenizer_compare",
    s"""WITH ${BpeTokenizer.oracleCtes(BpeTokenizer.Merges)},
       |bpe_pw AS (
       |  SELECT word, MAX(freq) AS freq, CAST(COUNT(*) AS BIGINT) AS n_syms,
       |         CAST(LEN(word) AS BIGINT) AS n_chars
       |  FROM syms${BpeTokenizer.Merges} GROUP BY word),
       |bpe_rep AS (
       |  SELECT 'bpe' AS family,
       |    (SELECT CAST(COUNT(DISTINCT sym) AS BIGINT)
       |     FROM syms${BpeTokenizer.Merges}) AS vocab_used,
       |    CAST(SUM(freq * n_chars) AS BIGINT) AS tokens_before,
       |    CAST(SUM(freq * n_syms) AS BIGINT) AS tokens_after,
       |    CAST(ROUND(SUM(freq * n_syms) * 1e6 / SUM(freq * n_chars)) AS BIGINT)
       |      AS compression_e6
       |  FROM bpe_pw),
       |${UnigramTokenizer.oracleSeed},
       |${UnigramTokenizer.dpChain("a", "lat0")},
       |${UnigramTokenizer.emRetrainCtes},
       |${UnigramTokenizer.dpChain("b", "lat1")},
       |uni_rep AS (
       |  SELECT 'unigram' AS family,
       |    (SELECT CAST(COUNT(DISTINCT token) AS BIGINT)
       |     FROM (SELECT unnest(string_split(path, ' ')) AS token FROM segb) t)
       |      AS vocab_used,
       |    CAST(SUM(freq * LEN(word)) AS BIGINT) AS tokens_before,
       |    CAST(SUM(freq * len(string_split(path, ' '))) AS BIGINT)
       |      AS tokens_after,
       |    CAST(ROUND(SUM(freq * len(string_split(path, ' '))) * 1e6
       |               / SUM(freq * LEN(word))) AS BIGINT) AS compression_e6
       |  FROM segb)
       |SELECT * FROM bpe_rep UNION ALL SELECT * FROM uni_rep
       |ORDER BY family""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    // BPE arm — q402's aggregate shape over the trainer's final symbol
    // table (by the replay property, = encoding the corpus with the
    // learned table)
    val (mergeTable, finalSyms) = BpeTokenizer.trainMerges(sp)
    Checkpoints.unpersist(mergeTable)
    val bpePw = finalSyms.groupBy(col("word"))
      .agg(max(col("freq")).as("freq"), count(lit(1)).as("n_syms"))
      .withColumn("n_chars", length(col("word")).cast("long"))
    val bpeVocab = finalSyms.agg(
      countDistinct(col("sym")).as("vocab_used"))
    val bpeRep = bpePw.agg(
      sum(col("freq") * col("n_chars")).as("tokens_before"),
      sum(col("freq") * col("n_syms")).as("tokens_after"),
      round(sum(col("freq") * col("n_syms")).cast("double") * 1e6
        / sum(col("freq") * col("n_chars")).cast("double"))
        .cast("long").as("compression_e6"))
      .crossJoin(broadcast(bpeVocab))
      .select(lit("bpe").as("family"), col("vocab_used"),
        col("tokens_before"), col("tokens_after"), col("compression_e6"))
    // Unigram arm — the q411 EM round's final segmentation
    val ed = UnigramTokenizer.edges(UnigramTokenizer.wordFreqs(sp))
      .staged // seed counts + both lattices
    val seg0 = UnigramTokenizer.viterbi(ed, UnigramTokenizer.seedVocab(ed))
    val vc1 = UnigramTokenizer.withLogProbs(
      seg0.select(explode(col("toks")).as("sub"), col("freq"))
        .groupBy(col("sub")).agg(sum(col("freq")).as("cnt")))
    val seg1 = UnigramTokenizer.viterbi(ed, vc1)
      .staged // the usage-vocab count and the totals both read it
    val uniVocab = seg1.select(explode(col("toks")).as("token"))
      .agg(countDistinct(col("token")).as("vocab_used"))
    val uniRep = seg1.agg(
      sum(col("freq") * length(col("word"))).as("tokens_before"),
      sum(col("freq") * size(col("toks"))).as("tokens_after"),
      round(sum(col("freq") * size(col("toks"))).cast("double") * 1e6
        / sum(col("freq") * length(col("word"))).cast("double"))
        .cast("long").as("compression_e6"))
      .crossJoin(broadcast(uniVocab))
      .select(lit("unigram").as("family"), col("vocab_used"),
        col("tokens_before"), col("tokens_after"), col("compression_e6"))
    bpeRep.unionByName(uniRep).orderBy(col("family"))
  }

  /** Per-LANGUAGE tokenizer-family fertility comparison — q415's
    * two-row totals table extended to the grain a MULTILINGUAL
    * tokenizer decision is actually made at: for each language, both
    * production encoders' tokens-per-word and chars-per-token, side by
    * side (a language one family fragments needs more training budget
    * under that family — the q176 fertility argument, now comparative).
    * The arms are the two shipped ENCODERS: the static-table greedy
    * BPE (q176's) and the q414-pruned unigram artifact through the
    * stateless expression (q424's) — the code paths a release runs,
    * not the trainers. Scale shape: ONE corpus-grain (word, lang, n)
    * rollup staged and shared by both arms and the report joins;
    * everything else is vocabulary-sized; the replay chains both
    * families' unrolls in one WITH (namespaces disjoint). */
  val q428FertilityCompare: QuerySpec = QuerySpec(
    "q428_tokenizer_fertility_compare",
    s"""${TextAnalysis.bpeOracleUnroll},
       |wl AS (SELECT word, lang, CAST(COUNT(*) AS BIGINT) AS n
       |       FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
       |             FROM documents) x
       |       WHERE word != '' GROUP BY word, lang),
       |btk AS (SELECT word,
       |          CAST(len(string_split(trim(seq), '  ')) AS BIGINT) AS n_tokens,
       |          CAST(len(word) AS BIGINT) AS n_chars
       |        FROM s${TextAnalysis.BpeRounds}),
       |${UnigramTokenizer.oracleSeed},
       |${UnigramTokenizer.dpChain("a", "lat0")},
       |${UnigramTokenizer.emRetrainCtes},
       |${UnigramTokenizer.prunedModelCtes},
       |${UnigramTokenizer.dpChain("c", "lat2")},
       |utk AS (SELECT word,
       |          CAST(len(string_split(path, ' ')) AS BIGINT) AS n_tokens,
       |          CAST(len(word) AS BIGINT) AS n_chars
       |        FROM segc),
       |brep AS (SELECT 'bpe' AS family, lang,
       |           CAST(SUM(wl.n) AS BIGINT) AS n_words,
       |           CAST(SUM(wl.n * btk.n_tokens) AS BIGINT) AS n_tokens,
       |           ROUND(CAST(SUM(wl.n * btk.n_tokens) AS DOUBLE)
       |                 / CAST(SUM(wl.n) AS DOUBLE), 6) AS fertility,
       |           ROUND(CAST(SUM(wl.n * btk.n_chars) AS DOUBLE)
       |                 / CAST(SUM(wl.n * btk.n_tokens) AS DOUBLE), 6)
       |             AS chars_per_token
       |         FROM wl JOIN btk USING (word) GROUP BY lang),
       |urep AS (SELECT 'unigram' AS family, lang,
       |           CAST(SUM(wl.n) AS BIGINT) AS n_words,
       |           CAST(SUM(wl.n * utk.n_tokens) AS BIGINT) AS n_tokens,
       |           ROUND(CAST(SUM(wl.n * utk.n_tokens) AS DOUBLE)
       |                 / CAST(SUM(wl.n) AS DOUBLE), 6) AS fertility,
       |           ROUND(CAST(SUM(wl.n * utk.n_chars) AS DOUBLE)
       |                 / CAST(SUM(wl.n * utk.n_tokens) AS DOUBLE), 6)
       |             AS chars_per_token
       |         FROM wl JOIN utk USING (word) GROUP BY lang)
       |SELECT * FROM brep UNION ALL SELECT * FROM urep
       |ORDER BY family, lang""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val (ed, vc2) = UnigramTokenizer.prunedModelParts(sp)
    val artifact = vc2.select(col("sub"), col("lp"))
      .collect() // ≤ target-size rows by construction (the q417 probe)
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    Checkpoints.unpersist(ed)
    Checkpoints.unpersist(vc2)
    val wl = sp.table("documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"), col("lang")).agg(count(lit(1)).as("n"))
      .staged // both encode vocabs AND both report joins read it
    val vocab = wl.groupBy("word").agg(sum(col("n")).as("n"))
    val btk = vocab
      .select(col("word"),
        size(split(trim(TextAnalysis.bpeEncodeRules(col("word"),
          TextAnalysis.BpeMerges).getField("seq")), "  "))
          .cast("long").as("n_tokens"),
        length(col("word")).cast("long").as("n_chars"))
    val utk = vocab
      .select(col("word"),
        size(UnigramTokenizer.unigramTokensExprWith(col("word"), artifact))
          .cast("long").as("n_tokens"),
        length(col("word")).cast("long").as("n_chars"))
    def rep(family: String, tk: org.apache.spark.sql.DataFrame) =
      wl.join(tk, "word")
        .groupBy(col("lang"))
        .agg(sum(col("n")).as("n_words"),
          sum(col("n") * col("n_tokens")).as("n_tokens"),
          round(sum(col("n") * col("n_tokens")).cast("double") /
            sum(col("n")).cast("double"), 6).as("fertility"),
          round(sum(col("n") * col("n_chars")).cast("double") /
            sum(col("n") * col("n_tokens")).cast("double"), 6)
            .as("chars_per_token"))
        .select(lit(family).as("family"), col("lang"), col("n_words"),
          col("n_tokens"), col("fertility"), col("chars_per_token"))
    rep("bpe", btk).unionByName(rep("unigram", utk))
      .orderBy(col("family"), col("lang"))
  }

  val all: Seq[QuerySpec] = Seq(q415TokenizerCompare, q428FertilityCompare)
}
