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
       |${UnigramTokenizer.seedEmSql},
       |${UnigramTokenizer.dpChain("1", "lat1")},
       |uni_rep AS (
       |  SELECT 'unigram' AS family,
       |    (SELECT CAST(COUNT(DISTINCT token) AS BIGINT)
       |     FROM (SELECT unnest(${UnigramTokenizer.PathTokensSql}) AS token FROM seg1) t)
       |      AS vocab_used,
       |    CAST(SUM(freq * LEN(word)) AS BIGINT) AS tokens_before,
       |    CAST(SUM(freq * len(${UnigramTokenizer.PathTokensSql})) AS BIGINT) AS tokens_after,
       |    CAST(ROUND(SUM(freq * len(${UnigramTokenizer.PathTokensSql})) * 1e6
       |               / SUM(freq * LEN(word))) AS BIGINT) AS compression_e6
       |  FROM seg1)
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
    val vc1 = UnigramTokenizer.withLogProbs(UnigramTokenizer.usageCounts(
      UnigramTokenizer.viterbi(ed, UnigramTokenizer.seedVocab(ed))))
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
       |${TextAnalysis.wordCountsBySql("wl", "lang")},
       |${UnigramTokenizer.seedEmPrunedSql},
       |${UnigramTokenizer.dpChain("2", "lat2")},
       |brep AS (${TextAnalysis.fertilityByLangSql(s"s${TextAnalysis.BpeRounds}",
          TextAnalysis.SeqTokensSql, "'bpe' AS family, ")}),
       |urep AS (${TextAnalysis.fertilityByLangSql("seg2",
          UnigramTokenizer.PathTokensSql, "'unigram' AS family, ")})
       |SELECT * FROM brep UNION ALL SELECT * FROM urep
       |ORDER BY family, lang""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val artifact = UnigramTokenizer.shippedModel(sp)
    val wl = TextAnalysis.wordCountsBy(sp, "lang")
      .staged // both encode vocabs AND both report joins read it
    val vocab = wl.groupBy("word").agg(sum(col("n")).as("n"))
    def rep(family: String, nTokens: org.apache.spark.sql.Column) =
      TextAnalysis.fertilityByLang(wl, TextAnalysis.tokenCounts(vocab, nTokens))
        .select(lit(family).as("family"), col("lang"), col("n_words"),
          col("n_tokens"), col("fertility"), col("chars_per_token"))
    rep("bpe", TextAnalysis.bpeTokenCount(col("word"), TextAnalysis.BpeMerges))
      .unionByName(rep("unigram",
        size(UnigramTokenizer.unigramTokensExprWith(col("word"), artifact))))
      .orderBy(col("family"), col("lang"))
  }

  val all: Seq[QuerySpec] = Seq(q415TokenizerCompare, q428FertilityCompare)
}
