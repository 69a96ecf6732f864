package graft.llmops

import graft.Dialect
import graft.llmops.Checkpoints.Stageable
import graft.QuerySpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval-side operators of a training-data pipeline: the stages
  * between "curated corpus" and "retrieval index" — overlapping RAG
  * chunking, TF-IDF term weighting, BM25 scoring (Robertson/Spärck
  * Jones probabilistic relevance, the lexical-retrieval baseline), and
  * inverted-index statistics. The reference has no retrieval surface
  * (it is a SQL frontend); these are §8.4 build-brief extensions, all
  * expressed as one-scan aggregate/join plans:
  *
  *  - per-document work (chunking) is map-side with zero shuffle;
  *  - corpus-level term relations (df, totals) are vocab-sized and
  *    broadcast back, never joined by shuffle;
  *  - per-document top-k uses a window keyed on doc_id, whose groups
  *    are bounded by a document's own vocabulary — no hot key at any
  *    corpus size (the q160/q175 lesson: never window on the TERM).
  */
object Retrieval {

  /** Overlapping word-window chunker — the RAG ingestion splitter
    * (fixed window, fixed stride, trailing partial window kept): 40-word
    * chunks every 30 words, each fingerprinted for downstream dedup.
    * Pure per-row computation (split → explode bounded by the doc's own
    * length) — zero shuffle at any scale; the overlap means chunk
    * boundaries never cut a span further than 10 words from any word,
    * the property retrieval recall depends on. */
  val q200RagChunks: QuerySpec = QuerySpec.sql2(
    "q200_rag_chunks",
    """WITH t AS (
      |  SELECT doc_id, split(text, ' ') AS ws, size(split(text, ' ')) AS nw
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, nw, ws,
      |    explode(sequence(0, CASE WHEN nw <= 40 THEN 0
      |      ELSE CAST(CEIL((nw - 40) / 30.0) AS INT) END)) AS chunk_no
      |  FROM t)
      |SELECT doc_id, chunk_no,
      |  LEAST(40, nw - chunk_no * 30) AS n_words,
      |  md5(concat_ws(' ', slice(ws, chunk_no * 30 + 1, 40))) AS chunk_md5
      |FROM c ORDER BY doc_id, chunk_no""".stripMargin,
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws,
      |    len(string_split(text, ' ')) AS nw
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, nw, ws,
      |    unnest(range(CASE WHEN nw <= 40 THEN 1
      |      ELSE CAST(CEIL((nw - 40) / 30.0) AS INT) + 1 END)) AS chunk_no
      |  FROM t)
      |SELECT doc_id, chunk_no,
      |  LEAST(40, nw - chunk_no * 30) AS n_words,
      |  md5(array_to_string(ws[chunk_no * 30 + 1 : chunk_no * 30 + 40], ' ')) AS chunk_md5
      |FROM c ORDER BY doc_id, chunk_no""".stripMargin)

  /** TF-IDF top-3 terms per document — the classic term-weighting pass
    * (tf · ln(N/df)). Plan shape for 100 TB: ONE corpus scan builds the
    * (doc, term, tf) relation, which is materialized once
    * (localCheckpoint — it feeds both the df aggregate and the scoring
    * join, and Spark re-inlines shared subtrees); df is a VOCAB-sized
    * aggregate broadcast back to the tf relation (never a shuffle
    * join); N is a metadata-only count-star scan. The top-3 window
    * partitions by doc_id — group size bounded by one document's
    * vocabulary, immune to corpus growth. Scores surface as integer
    * micro-units so the differential gate is not exposed to
    * cross-engine ln() ulp drift. */
  val q201TfidfTopk: QuerySpec = QuerySpec(
    "q201_tfidf_topk",
    """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word),
      |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |s AS (SELECT tf.doc_id, tf.word, tf.tf, df.df,
      |        tf.tf * LN(CAST(n.n AS DOUBLE) / df.df) AS score
      |      FROM tf JOIN df USING (word) CROSS JOIN n),
      |r AS (SELECT s.*, ROW_NUMBER() OVER (
      |        PARTITION BY doc_id ORDER BY score DESC, word) AS rk FROM s)
      |SELECT doc_id, word, tf, df,
      |  CAST(ROUND(score * 1e6) AS BIGINT) AS score_e6
      |FROM r WHERE rk <= 3 ORDER BY doc_id, score_e6 DESC, word""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val tf = sp.table("documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .staged // feeds the df aggregate AND the scoring join
    val dfRel = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = sp.table("documents").agg(count(lit(1)).as("n"))
    val scored = tf.join(broadcast(dfRel), "word")
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * log(col("n").cast("double") / col("df")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("word"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select(col("doc_id"), col("word"), col("tf"), col("df"),
        round(col("score") * lit(1e6)).cast("bigint").as("score_e6"))
      .orderBy(col("doc_id"), col("score_e6").desc, col("word"))
  }

  /** One (doc, term) row's BM25 weight over its `tf`, `df`, `dl` and the
    * corpus stats `n`, `avgdl` (k1 = 1.2, b = 0.75, the Robertson idf
    * with +1 smoothing), in the operation order of the oracle texts. */
  private val bm25Weight: Column =
    (log((col("n").cast("double") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
      * col("tf") * lit(2.2)
      / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))

  /** BM25 document scoring for a fixed lexical query (k1 = 1.2,
    * b = 0.75, the Robertson idf with +1 smoothing) — the retrieval
    * baseline every hybrid-search pipeline keeps next to its ANN leg
    * (q85). One corpus scan computes per-document length AND the
    * query-term tfs together (the term filter prunes the exploded
    * stream before the aggregate); corpus stats (N, avgdl) are one
    * metadata-light aggregate broadcast into the scoring expression.
    * No per-term state anywhere — scoring a 3-term query over 100 TB
    * is one scan + one vocab-row broadcast. Scores in integer
    * micro-units (cross-engine ln() ulp hygiene, q201's argument). */
  val q202Bm25: QuerySpec = QuerySpec(
    "q202_bm25_retrieval",
    """WITH t AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |    unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |q AS (SELECT doc_id, dl, word, COUNT(*) AS tf FROM t
      |      WHERE word IN ('dup', 'spark', 'hash') GROUP BY 1, 2, 3),
      |df AS (SELECT word, COUNT(*) AS df FROM q GROUP BY 1),
      |st AS (SELECT COUNT(*) AS n,
      |         AVG(len(string_split(text, ' '))) AS avgdl FROM documents),
      |sc AS (SELECT q.doc_id,
      |    LN((CAST(st.n AS DOUBLE) - df.df + 0.5) / (df.df + 0.5) + 1.0)
      |      * q.tf * 2.2
      |      / (q.tf + 1.2 * (0.25 + 0.75 * q.dl / st.avgdl)) AS contrib
      |  FROM q JOIN df USING (word) CROSS JOIN st)
      |SELECT doc_id, CAST(ROUND(SUM(contrib) * 1e6) AS BIGINT) AS score_e6
      |FROM sc GROUP BY doc_id ORDER BY score_e6 DESC, doc_id""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val docs = sp.table("documents")
    val t = docs
      .select(col("doc_id"), size(split(col("text"), " ")).as("dl"),
        explode(split(col("text"), " ")).as("word"))
      .filter(col("word").isin("dup", "spark", "hash"))
      .groupBy("doc_id", "dl", "word").agg(count(lit(1)).as("tf"))
      .staged // feeds the df aggregate AND the scoring join
    val dfRel = t.groupBy("word").agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n"),
      avg(size(split(col("text"), " "))).as("avgdl"))
    val scored = t.join(broadcast(dfRel), "word").crossJoin(broadcast(stats))
      .withColumn("contrib", bm25Weight)
    scored.groupBy("doc_id").agg(sum("contrib").as("score"))
      .select(col("doc_id"),
        round(col("score") * lit(1e6)).cast("bigint").as("score_e6"))
      .orderBy(col("score_e6").desc, col("doc_id"))
  }

  /** Inverted-index statistics — per term: document frequency, total
    * postings, and the doc-id range of its posting list. Everything is
    * partial-aggregable (COUNT DISTINCT on the (term, doc) pre-grouped
    * pairs, MIN/MAX), so the plan is one scan + one vocab-sized
    * aggregate with map-side combine — no per-term list is ever
    * collected (a stopword's full posting list is the classic hot key;
    * materializing actual lists is [[graft.operators.Layout]]'s
    * bucketed-write path, where the list is a SORTED DATA LAYOUT, not
    * an in-memory aggregate). */
  val q203IndexStats: QuerySpec = QuerySpec.sql2(
    "q203_index_stats",
    """WITH w AS (SELECT doc_id, explode(split(text, ' ')) AS word FROM documents)
      |SELECT word, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS total_tf,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM w GROUP BY word ORDER BY df DESC, word""".stripMargin,
    """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
      |SELECT word, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS total_tf,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM w GROUP BY word ORDER BY df DESC, word""".stripMargin)

  /** Hybrid retrieval via Reciprocal Rank Fusion — the standard way a
    * RAG stack combines the lexical ([[q202Bm25]]) and dense (cosine
    * against a query embedding) legs without score calibration:
    * `rrf = Σ 1/(60 + rank)` over each leg's TOP-60 (truncated RRF —
    * the deployed formulation: each retriever returns its k best, docs
    * outside a leg's cut contribute 0 from that leg). Both legs rank
    * with a TOTAL order (score DESC, doc_id), so fusion is
    * deterministic. Scale shape: the lexical leg is q202's term-pruned
    * pipeline; the dense leg is one broadcast-query corpus pass; both
    * rank cuts are rank-FILTERED windows (partial+final
    * WindowGroupLimit — each task forwards 60 rows, so no leg ever
    * sorts the corpus in one task); fusion is a doc_id-keyed FULL
    * OUTER join of two 60-row relations and one TopN. At 100 TB the
    * dense leg's input swaps to the ANN index (q86/q87) — fusion
    * algebra unchanged. */
  val q230RrfHybrid: QuerySpec = QuerySpec(
    "q230_rrf_hybrid_retrieval",
    """WITH t AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |    unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |q AS (SELECT doc_id, dl, word, COUNT(*) AS tf FROM t
      |      WHERE word IN ('dup', 'spark', 'hash') GROUP BY 1, 2, 3),
      |df AS (SELECT word, COUNT(*) AS df FROM q GROUP BY 1),
      |st AS (SELECT COUNT(*) AS n,
      |         AVG(len(string_split(text, ' '))) AS avgdl FROM documents),
      |lexs AS (SELECT q.doc_id,
      |    SUM(LN((CAST(st.n AS DOUBLE) - df.df + 0.5) / (df.df + 0.5) + 1.0)
      |      * q.tf * 2.2
      |      / (q.tf + 1.2 * (0.25 + 0.75 * q.dl / st.avgdl))) AS score
      |  FROM q JOIN df USING (word) CROSS JOIN st GROUP BY q.doc_id),
      |lex AS (SELECT doc_id, lr FROM (
      |          SELECT doc_id,
      |            ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS lr
      |          FROM lexs) t WHERE lr <= 60),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |qv AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      |dense AS (SELECT doc_id, dr FROM (
      |    SELECT e.vec_id AS doc_id,
      |      ROW_NUMBER() OVER (
      |        ORDER BY list_cosine_similarity(e.v, qv.qv) DESC, e.vec_id) AS dr
      |    FROM e CROSS JOIN qv) t WHERE dr <= 60)
      |SELECT COALESCE(d.doc_id, l.doc_id) AS doc_id,
      |  CAST(ROUND((COALESCE(1.0 / (60 + d.dr), 0.0)
      |    + COALESCE(1.0 / (60 + l.lr), 0.0)) * 1e6) AS BIGINT) AS rrf_e6
      |FROM dense d FULL JOIN lex l ON d.doc_id = l.doc_id
      |ORDER BY rrf_e6 DESC, doc_id LIMIT 15""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val w = org.apache.spark.sql.expressions.Window
    // docs feeds the tf relation AND the (n, avgdl) stats: stage it once
    val docs = sp.table("documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .staged
    val t = docs
      .select(col("doc_id"), size(col("ws")).as("dl"),
        explode(col("ws")).as("word"))
      .filter(col("word").isin("dup", "spark", "hash"))
      .groupBy("doc_id", "dl", "word").agg(count(lit(1)).as("tf"))
      .staged // feeds the df aggregate AND the scoring join
    val dfRel = t.groupBy("word").agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n"),
      avg(size(col("ws"))).as("avgdl"))
    val lex = t.join(broadcast(dfRel), "word").crossJoin(broadcast(stats))
      .withColumn("contrib", bm25Weight)
      .groupBy("doc_id").agg(sum("contrib").as("score"))
      .withColumn("lr", row_number().over(
        w.orderBy(col("score").desc, col("doc_id"))))
      .filter(col("lr") <= 60) // rank-filtered → map-side WindowGroupLimit
      .select(col("doc_id"), col("lr"))
    val e = sp.table("embeddings")
      .select(col("vec_id"), expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
      .staged // query vector + corpus side
    val qv = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val dense = e.crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"), expr("vec_cosine(v, qv)").as("cs"))
      .withColumn("dr", row_number().over(
        w.orderBy(col("cs").desc, col("doc_id"))))
      .filter(col("dr") <= 60) // rank-filtered → map-side WindowGroupLimit
      .select(col("doc_id"), col("dr"))
    dense.join(lex, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round((coalesce(lit(1.0) / (lit(60) + col("dr")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("lr")), lit(0.0))) * lit(1e6))
          .cast("bigint").as("rrf_e6"))
      .orderBy(col("rrf_e6").desc, col("doc_id")).limit(15)
  }

  /** Retrieval-quality evaluation — recall@10, MRR@10, and binary
    * nDCG@10 of the dense leg against same-source relevance judgments
    * (every 100th doc is a query; its qrels are the other docs of its
    * source): the measurement harness that turns "we have an index"
    * into "the index works", run after every index/embedding change.
    * Determinism: ranks come from a total order (cosine DESC, id);
    * the DCG/IDCG sums accumulate per-term through DECIMAL(27,18)
    * (q184 rule) with log2 spelled LN(2)/LN(r+1) identically on both
    * engines. Scale shape: the scored relation is |queries| × corpus
    * with a broadcast query set (the q85 brute baseline — at 100 TB
    * the ANN index replaces it, metrics algebra unchanged); everything
    * after the per-query rank window is qrels-sized. */
  val q237RetrievalEval: QuerySpec = {
    def text(spark: Boolean): String = {
      val vcast = if (spark) "CAST(embedding AS ARRAY<DOUBLE>)" else "embedding::DOUBLE[]"
      val cosine = if (spark) "vec_cosine(e.v, q.qv)" else "list_cosine_similarity(e.v, q.qv)"
      val ranks = Dialect.lateralRange(spark, "relc", 1, 10, "t", "i")
      s"""WITH e AS (SELECT vec_id, $vcast AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0),
         |d AS (SELECT doc_id, source FROM documents),
         |qs AS (SELECT q.qid, d.source AS qsrc FROM q JOIN d ON q.qid = d.doc_id),
         |scored AS (SELECT q.qid, e.vec_id AS did, $cosine AS cs
         |           FROM q JOIN e ON e.vec_id <> q.qid),
         |r AS (SELECT qid, did,
         |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, did) AS rnk
         |      FROM scored),
         |top AS (SELECT qid, did, rnk FROM r WHERE rnk <= 10),
         |rel AS (SELECT qs.qid, d.doc_id AS did
         |        FROM qs JOIN d ON d.source = qs.qsrc AND d.doc_id <> qs.qid),
         |relc AS (SELECT qid, COUNT(*) AS n_rel FROM rel GROUP BY qid),
         |hits AS (SELECT top.qid, top.rnk
         |         FROM top JOIN rel ON top.qid = rel.qid AND top.did = rel.did),
         |hagg AS (SELECT qid, COUNT(*) AS hits, CAST(MIN(rnk) AS BIGINT) AS first_hit,
         |           CAST(SUM(CAST(LN(2.0) / LN(rnk + 1.0) AS DECIMAL(27,18)))
         |             AS DOUBLE) AS dcg
         |         FROM hits GROUP BY qid),
         |ideal AS (SELECT qid,
         |            CAST(SUM(CAST(LN(2.0) / LN(i + 1.0) AS DECIMAL(27,18)))
         |              AS DOUBLE) AS idcg
         |          FROM (SELECT relc.qid, t.i FROM $ranks
         |                WHERE t.i <= LEAST(relc.n_rel, 10)) x
         |          GROUP BY qid)
         |SELECT relc.qid AS query_id, CAST(relc.n_rel AS BIGINT) AS n_relevant,
         |  CAST(COALESCE(hagg.hits, 0) AS BIGINT) AS hits,
         |  CAST(ROUND(COALESCE(hagg.hits, 0) * 1e6 / relc.n_rel) AS BIGINT)
         |    AS recall10_e6,
         |  CAST(COALESCE(CAST(ROUND(1e6 / hagg.first_hit) AS BIGINT), 0) AS BIGINT)
         |    AS mrr10_e6,
         |  CAST(COALESCE(CAST(ROUND(hagg.dcg / ideal.idcg * 1e6) AS BIGINT), 0)
         |    AS BIGINT) AS ndcg10_e6
         |FROM relc
         |LEFT JOIN hagg ON relc.qid = hagg.qid
         |LEFT JOIN ideal ON relc.qid = ideal.qid
         |ORDER BY query_id""".stripMargin
    }
    // Spark side is DataFrame code, not the SQL text: the shared-CTE form
    // would re-inline `e` and `d` (Spark recomputes doubly-referenced
    // CTEs), scanning embeddings and documents twice each; the staged
    // form materializes each ONCE (localCheckpoint) — at corpus scale
    // that halves the scan work for identical results.
    QuerySpec("q237_retrieval_eval", Some(text(spark = false)), (s, dir) => {
      val sp = QuerySpec.prepared(s, dir)
      val w = org.apache.spark.sql.expressions.Window
      val e = sp.table("embeddings")
        .select(col("vec_id"), expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
        .staged // query set + corpus side
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val d = sp.table("documents").select(col("doc_id"), col("source"))
        .staged // query sources + relevance set
      val qs = q.select(col("qid"))
        .join(d, col("qid") === col("doc_id"))
        .select(col("qid"), col("source").as("qsrc"))
      val top = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("did"),
          expr("vec_cosine(v, qv)").as("cs"))
        .withColumn("rnk", row_number().over(
          w.partitionBy(col("qid")).orderBy(col("cs").desc, col("did"))))
        .filter(col("rnk") <= 10)
        .select(col("qid"), col("did"), col("rnk"))
      val rel = qs.join(d,
          col("source") === col("qsrc") && col("doc_id") =!= col("qid"))
        .select(col("qid"), col("doc_id").as("did"))
      val relc = rel.groupBy(col("qid")).agg(count(lit(1)).as("n_rel"))
        .staged // hit join + ideal-DCG fanout + final spine
      val hits = top.join(rel, Seq("qid", "did"))
      val hagg = hits.groupBy(col("qid")).agg(
        count(lit(1)).as("hits"),
        min(col("rnk")).cast("bigint").as("first_hit"),
        sum((log(lit(2.0)) / log(col("rnk") + lit(1.0))).cast("decimal(27,18)"))
          .cast("double").as("dcg"))
      val ideal = relc
        .select(col("qid"), col("n_rel"),
          explode(expr("sequence(1, 10)")).as("i"))
        .filter(col("i") <= least(col("n_rel"), lit(10)))
        .groupBy(col("qid")).agg(
          sum((log(lit(2.0)) / log(col("i") + lit(1.0))).cast("decimal(27,18)"))
            .cast("double").as("idcg"))
      relc
        .join(hagg, Seq("qid"), "left")
        .join(ideal, Seq("qid"), "left")
        .select(col("qid").as("query_id"),
          col("n_rel").cast("bigint").as("n_relevant"),
          coalesce(col("hits"), lit(0L)).cast("bigint").as("hits"),
          round(coalesce(col("hits"), lit(0L)) * lit(1e6) / col("n_rel"))
            .cast("bigint").as("recall10_e6"),
          coalesce(round(lit(1e6) / col("first_hit")).cast("bigint"), lit(0L))
            .cast("bigint").as("mrr10_e6"),
          coalesce(round(col("dcg") / col("idcg") * lit(1e6)).cast("bigint"), lit(0L))
            .cast("bigint").as("ndcg10_e6"))
        .orderBy(col("query_id"))
    })
  }

  /** Rocchio pseudo-relevance feedback — the two-pass retrieval loop:
    * round 1 scores the seed query by TF-IDF and takes the top-10
    * pseudo-relevant docs, the 5 heaviest non-seed terms of THOSE docs
    * (summed TF-IDF mass) expand the query at β = 0.5, and round 2
    * rescores the corpus with the expanded vector. Scale shape: the
    * corpus-wide (doc, word, tf) inverted index and the DF relation
    * are each built ONCE and staged (Spark would otherwise rescan
    * documents per consumer — the q116 CTE-inlining lesson); both
    * ranking passes are rank-FILTERED windows (map-side
    * WindowGroupLimit); expansion-term discovery explodes only the 10
    * pseudo-relevant docs; the 8-term expanded query joins as a
    * broadcast. The vocab-sized DF relation is never broadcast whole:
    * each pass semi-join/filter-prunes it to its live term set (3
    * seeds / top-10-docs' vocab / 8 query terms) before the broadcast
    * — the pruned sides are bounded regardless of corpus vocabulary. Determinism: idf = ln(n/df) fixed trees, per-doc sums
    * through DECIMAL(38,18), every rank on (rounded e6, id) total
    * orders. Oracle replays both passes; its multiply-consumed CTEs
    * are MATERIALIZED (the q325 lesson). */
  val q337RocchioPrf: QuerySpec = {
    val seeds = Seq("dup", "spark", "hash")
    val seedList = seeds.map(s => s"'$s'").mkString(", ")
    QuerySpec(
      "q337_rocchio_prf",
      s"""WITH tok AS MATERIALIZED (
         |  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |    FROM documents) t
         |  GROUP BY doc_id, word),
         |dfr AS MATERIALIZED (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY word),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
         |s1 AS (SELECT tok.doc_id,
         |         CAST(SUM(CAST(tok.tf * LN(CAST(st.n AS DOUBLE) / dfr.df)
         |              AS DECIMAL(38,18))) AS DOUBLE) AS score
         |       FROM tok JOIN dfr ON tok.word = dfr.word CROSS JOIN st
         |       WHERE tok.word IN ($seedList)
         |       GROUP BY tok.doc_id),
         |top10 AS MATERIALIZED (SELECT doc_id FROM (
         |    SELECT doc_id, ROW_NUMBER() OVER (
         |      ORDER BY CAST(ROUND(score * 1e6) AS BIGINT) DESC, doc_id) AS rk
         |    FROM s1) t WHERE rk <= 10),
         |cand AS (SELECT tok.word,
         |    CAST(SUM(CAST(tok.tf * LN(CAST(st.n AS DOUBLE) / dfr.df)
         |         AS DECIMAL(38,18))) AS DOUBLE) AS wgt
         |  FROM tok JOIN top10 ON tok.doc_id = top10.doc_id
         |  JOIN dfr ON tok.word = dfr.word CROSS JOIN st
         |  WHERE tok.word NOT IN ($seedList)
         |  GROUP BY tok.word),
         |exp5 AS MATERIALIZED (SELECT word FROM (
         |    SELECT word, ROW_NUMBER() OVER (
         |      ORDER BY CAST(ROUND(wgt * 1e6) AS BIGINT) DESC, word) AS rk
         |    FROM cand) t WHERE rk <= 5),
         |qterms AS MATERIALIZED (
         |  SELECT word, 1.0 AS w
         |  FROM (VALUES ${seeds.map(s => s"('$s')").mkString(", ")}) s(word)
         |  UNION ALL SELECT word, 0.5 AS w FROM exp5),
         |s2 AS (SELECT tok.doc_id,
         |         CAST(SUM(CAST(q.w * tok.tf * LN(CAST(st.n AS DOUBLE) / dfr.df)
         |              AS DECIMAL(38,18))) AS DOUBLE) AS score
         |       FROM tok JOIN qterms q ON tok.word = q.word
         |       JOIN dfr ON tok.word = dfr.word CROSS JOIN st
         |       GROUP BY tok.doc_id),
         |terms AS (SELECT array_to_string(list(word ORDER BY word), ',')
         |            AS exp_terms FROM exp5)
         |SELECT doc_id, CAST(ROUND(score * 1e6) AS BIGINT) AS score_e6,
         |  terms.exp_terms
         |FROM (SELECT doc_id, score, ROW_NUMBER() OVER (
         |        ORDER BY CAST(ROUND(score * 1e6) AS BIGINT) DESC, doc_id) AS rk
         |      FROM s2) t CROSS JOIN terms
         |WHERE rk <= 15 ORDER BY rk""".stripMargin) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      val w = Window
      // tok is the ONE corpus pass (staged for its three consumers); the
      // doc count comes straight off the table — staging the split word
      // arrays just to count rows checkpointed the whole tokenized
      // corpus for nothing (r20; the r16 docs stage predated tok being
      // the only word-grain consumer).
      val tok = sp.table("documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
        .staged // round-1 scoring, expansion discovery, round-2 scoring
      val dfr = tok.groupBy(col("word")).agg(count(lit(1)).as("df")).staged
      val stats = sp.table("documents").agg(count(lit(1)).as("n"))
      def idfScore(weighted: org.apache.spark.sql.Column) =
        sum((weighted * col("tf")
          * log(col("n").cast("double") / col("df"))).cast("decimal(38,18)"))
          .cast("double").as("score")
      // Every broadcast of the DF relation is PRUNED to the pass's live
      // term set first — `dfr` itself is vocab-sized (10⁷–10⁸ words of a
      // whitespace-tokenized web corpus), so a bare broadcast(dfr) would
      // ship a multi-GB table to every executor. Pass 1 touches the 3
      // literal seeds (a pushed filter), pass 2 only the 10 pseudo-
      // relevant docs' own vocabulary (a semi-join against the staged
      // candidate relation), pass 3 the 8-term expanded query (a
      // semi-join against qterms). Each pruned side is provably bounded.
      val dfrSeeds = dfr.filter(col("word").isin(seeds: _*))
      val s1 = tok.filter(col("word").isin(seeds: _*))
        .join(broadcast(dfrSeeds), "word").crossJoin(broadcast(stats))
        .groupBy(col("doc_id")).agg(idfScore(lit(1.0)))
      val top10 = s1
        .withColumn("rk", row_number().over(w.orderBy(
          round(col("score") * 1e6).cast("long").desc, col("doc_id"))))
        .filter(col("rk") <= 10).select(col("doc_id"))
      val cand = tok.join(broadcast(top10), "doc_id")
        .filter(!col("word").isin(seeds: _*))
        .staged // live-term prune of dfr + the discovery scoring join
      val dfrCand = dfr.join(
        broadcast(cand.select(col("word")).distinct()), Seq("word"), "left_semi")
      val exp5 = cand
        .join(broadcast(dfrCand), "word").crossJoin(broadcast(stats))
        .groupBy(col("word")).agg(idfScore(lit(1.0)).as("wgt"))
        .withColumn("rk", row_number().over(w.orderBy(
          round(col("wgt") * 1e6).cast("long").desc, col("word"))))
        .filter(col("rk") <= 5).select(col("word"))
        .staged // round-2 join side AND the exp_terms label
      val qterms = sp.createDataFrame(seeds.map((_, 1.0)))
        .toDF("word", "w")
        .unionByName(exp5.withColumn("w", lit(0.5)))
        .staged // consumed twice: the scoring join + the dfr prune
      val dfrQ = dfr.join(
        broadcast(qterms.select(col("word"))), Seq("word"), "left_semi")
      val termsLabel = exp5
        .agg(array_join(sort_array(collect_list(col("word"))), ",").as("exp_terms"))
      tok.join(broadcast(qterms), "word")
        .join(broadcast(dfrQ), "word").crossJoin(broadcast(stats))
        .groupBy(col("doc_id")).agg(idfScore(col("w")))
        .withColumn("rk", row_number().over(w.orderBy(
          round(col("score") * 1e6).cast("long").desc, col("doc_id"))))
        .filter(col("rk") <= 15)
        .crossJoin(broadcast(termsLabel))
        .select(col("doc_id"), round(col("score") * 1e6).cast("long").as("score_e6"),
          col("exp_terms"))
        .orderBy(col("rk"))
    }
  }

  /** Doc-id bound of the phrase-DERIVATION slice in q403/q408: the
    * fixture phrase parameters come from the n-grams of the first 100
    * documents only, so the derivation is a BOUNDED setup step — a
    * pushed `doc_id < 100` parquet scan whose cost is fixed at any
    * corpus size — and the gated plans' scale behavior is the SEARCH
    * path's (broadcast-only posting intersection), not an all-corpus
    * n-gram pass (the r17 finding: the 10× drills were measuring the
    * scaffold). In production the phrases arrive with the query and
    * the slice disappears entirely. */
  private[graft] val PhraseDeriveDocs = 100L

  /** The corpus's positional-postings relation (doc_id, pos, word) —
    * the inverted index both phrase-search queries intersect. */
  private[graft] def postings(sp: org.apache.spark.sql.SparkSession): DataFrame =
    sp.table("documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("p0", "word")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        col("word"))

  /** The BOUNDED phrase-derivation slice: postings of the first
    * [[PhraseDeriveDocs]] documents, off its OWN scan so the
    * `doc_id < 100` predicate reaches the parquet reader (LlmOpsSpec
    * pins the pushed filter) — the setup step's cost is fixed at any
    * corpus size. */
  private[graft] def phraseDeriveSlice(
      sp: org.apache.spark.sql.SparkSession): DataFrame =
    sp.table("documents")
      .filter(col("doc_id") < PhraseDeriveDocs)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("p0", "word")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        col("word"))

  /** Positional-postings PHRASE search — the exact-phrase leg a lexical
    * index needs next to the bag-of-words scoring of [[q202Bm25]]: the
    * corpus's positional inverted index is the (doc_id, pos, word)
    * relation, and a k-word phrase query is the k-way intersection of
    * its words' posting lists joined on (doc, consecutive positions) —
    * the classic positional-index merge (Manning et al., IR book §2.4),
    * expressed as (doc_id, pos)-co-partitioned equi-joins. The searched
    * phrase is derived from the corpus itself (the most frequent
    * trigram of the [[PhraseDeriveDocs]]-bounded slice — count DESC,
    * then lexicographic) so the operator is parameter-free and
    * meaningful at any corpus while the derivation stays a scale-free
    * setup step; in production the phrase arrives as a query parameter
    * and ONLY the filtered posting arms are read — which is exactly how
    * the hit path below is shaped: each arm filters the token relation
    * by one broadcast phrase word BEFORE joining, so the intersection
    * touches three posting lists, never the corpus. Per-source hit/doc
    * rollup attaches source once, after the intersection. */
  val q403PhraseSearch: QuerySpec = QuerySpec(
    "q403_phrase_search",
    s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w
      |           FROM documents),
      |t AS MATERIALIZED (
      |      -- read by all three posting arms; MATERIALIZED stops the
      |      -- intersection from inlining the unnest three times
      |      SELECT doc_id, CAST(generate_subscripts(w, 1) AS BIGINT) AS pos,
      |             unnest(w) AS word FROM d),
      |td AS (SELECT * FROM t WHERE doc_id < $PhraseDeriveDocs),
      |tri AS (SELECT a.word AS w1, b.word AS w2, c.word AS w3
      |        FROM td a
      |        JOIN td b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      |        JOIN td c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
      |top1 AS (SELECT w1, w2, w3 FROM tri
      |         GROUP BY w1, w2, w3 ORDER BY COUNT(*) DESC, w1, w2, w3 LIMIT 1),
      |hits AS (SELECT p1.doc_id, p1.w1, p1.w2, p1.w3
      |         FROM (SELECT t.doc_id, t.pos, o.w1, o.w2, o.w3
      |               FROM t JOIN top1 o ON t.word = o.w1) p1
      |         JOIN t m2 ON m2.doc_id = p1.doc_id AND m2.pos = p1.pos + 1
      |                  AND m2.word = p1.w2
      |         JOIN t m3 ON m3.doc_id = p1.doc_id AND m3.pos = p1.pos + 2
      |                  AND m3.word = p1.w3)
      |SELECT h.w1 || ' ' || h.w2 || ' ' || h.w3 AS phrase, d.source,
      |  CAST(COUNT(*) AS BIGINT) AS hits,
      |  CAST(COUNT(DISTINCT h.doc_id) AS BIGINT) AS docs,
      |  CAST(MIN(h.doc_id) AS BIGINT) AS first_doc
      |FROM hits h JOIN (SELECT DISTINCT doc_id, source FROM d) d
      |  ON h.doc_id = d.doc_id
      |GROUP BY phrase, d.source
      |ORDER BY d.source""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val toks = postings(sp)
      .staged // all three filtered posting arms read it
    // phrase parameter: the trigram row of the STANDING parameter
    // artifact (phraseParams — derived once per corpus from the
    // bounded slice); the gated plan consumes a 1-row parquet read,
    // never the derivation subtree
    val top1 = phraseParams(sp, dir)
      .filter(size(split(col("phrase"), " ")) === 3)
      .select(split(col("phrase"), " ").getItem(0).as("w1"),
        split(col("phrase"), " ").getItem(1).as("w2"),
        split(col("phrase"), " ").getItem(2).as("w3"))
    // the phrase-search path proper: word-FILTERED posting lists
    // intersected on (doc, consecutive pos) — three bounded arms, never
    // a corpus-grain all-trigrams pass
    val p1 = toks.join(broadcast(top1), col("word") === col("w1"))
      .select(col("doc_id"), col("pos"), col("w1"), col("w2"), col("w3"))
    val hits = p1
      .join(toks.select(col("doc_id"), (col("pos") - 1).as("pos"),
        col("word").as("m2")), Seq("doc_id", "pos"))
      .filter(col("m2") === col("w2"))
      .join(toks.select(col("doc_id"), (col("pos") - 2).as("pos"),
        col("word").as("m3")), Seq("doc_id", "pos"))
      .filter(col("m3") === col("w3"))
    hits.join(sp.table("documents").select(col("doc_id"), col("source")),
        "doc_id")
      .groupBy(concat_ws(" ", col("w1"), col("w2"), col("w3")).as("phrase"),
        col("source"))
      .agg(count(lit(1)).as("hits"), countDistinct(col("doc_id")).as("docs"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("source"))
  }

  /** The anchor-join core of [[q408MultiPhraseSearch]]: a positional
    * postings relation `(doc_id, pos, word)` × a phrase-word relation
    * `phrases(phrase, plen, k, word)` (k = 1-based position in phrase)
    * → one row per phrase occurrence `(phrase, doc_id, anchor)`. A
    * posting at (doc, p) matching phrase word k proposes the anchor
    * p − k; an anchor is a HIT iff ALL plen phrase positions proposed
    * it (count-distinct-k == plen) — the k-way positional intersection
    * of Manning §2.4 for EVERY phrase at once, with no per-arm join
    * chain and no length-specific code. The phrase side is tiny by
    * construction (query parameters), so the ONE corpus-grain join is
    * a broadcast hash join that reads only postings of phrase words —
    * the plan LlmOpsSpec pins. Duplicate words inside a phrase are
    * handled by the DISTINCT-k count (word w at phrase positions 1 and
    * 3 proposes two anchors per posting, each needing the other
    * positions to confirm). */
  private[graft] def phraseAnchorHits(toks: DataFrame,
                                      phrases: DataFrame): DataFrame = {
    val pw = phrases
      .select(col("phrase"), posexplode(split(col("phrase"), " "))
        .as(Seq("k0", "word")))
      .select(col("phrase"), (col("k0") + 1).cast("long").as("k"),
        col("word"))
      .withColumn("plen",
        size(split(col("phrase"), " ")).cast("long"))
    toks.join(broadcast(pw), "word")
      .withColumn("anchor", col("pos") - col("k"))
      .groupBy(col("phrase"), col("plen"), col("doc_id"), col("anchor"))
      .agg(countDistinct(col("k")).as("nk"))
      .filter(col("nk") === col("plen"))
      .select(col("phrase"), col("doc_id"), col("anchor"))
  }

  /** The q408/q419 fixture phrase parameters: top-2 bigrams + the top
    * trigram of the BOUNDED derivation slice, off its own pushed-filter
    * scan (q403's setup shape — in production this 3-row relation
    * arrives with the query). */
  private def derivedPhraseParams(
      sp: org.apache.spark.sql.SparkSession): DataFrame = {
    val derToks = phraseDeriveSlice(sp)
      .staged // bigram + trigram derivation arms read it
    val big = derToks.select(col("doc_id"), col("pos"), col("word").as("w1"))
      .join(derToks.select(col("doc_id"), (col("pos") - 1).as("pos"),
        col("word").as("w2")), Seq("doc_id", "pos"))
    val top2 = big.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w1"), col("w2")).limit(2)
      .select(concat_ws(" ", col("w1"), col("w2")).as("phrase"))
    val tri = big
      .join(derToks.select(col("doc_id"), (col("pos") - 2).as("pos"),
        col("word").as("w3")), Seq("doc_id", "pos"))
    val top1 = tri.groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w1"), col("w2"), col("w3")).limit(1)
      .select(concat_ws(" ", col("w1"), col("w2"), col("w3")).as("phrase"))
    top2.unionByName(top1)
  }

  /** The STANDING phrase-parameter relation: the fixture's corpus-
    * derived phrases ([[derivedPhraseParams]] — top-2 bigrams + top
    * trigram of the bounded slice) written ONCE per (JVM, source dir)
    * as a parquet artifact and READ by the gated queries — the q151
    * standing-index pattern applied to query parameters (r18 VERDICT
    * item: the gated plans should consume a parameter RELATION, not
    * re-derive it inline). In production the phrases arrive with the
    * query (or from exactly such a staged relation); here the bounded
    * pushed-filter derivation runs once at write time, and the q403/
    * q408/q419 plan fingerprints lose the derivation subtree entirely
    * (LlmOpsSpec pins the gated plans Limit-free). The `_SUCCESS`
    * marker gates the rewrite, keyed by sanitized-path+SHA per source
    * dir (the Layout.partitionedDocsDir discipline). */
  private[graft] def phraseParamsDir(dir: String): String =
    s"${graft.operators.Layout.keyedDir("phrases", dir)}/params"

  private[graft] def phraseParams(
      sp: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val path = phraseParamsDir(dir)
    graft.operators.Layout.writeOnce(sp, path) {
      derivedPhraseParams(sp).write.mode("overwrite").parquet(path)
    }
    sp.read.parquet(path)
  }

  /** The phrase-parameter CTE block of the q408/q419 oracles (through
    * `phrases`), shared verbatim so the two replays can never drift on
    * the fixture parameters. Expects `t` (the postings CTE) upstream. */
  private def oraclePhraseParamCtes: String =
    s"""td AS (SELECT * FROM t WHERE doc_id < $PhraseDeriveDocs),
      |big AS (SELECT a.word AS w1, b.word AS w2, COUNT(*) AS c
      |        FROM td a JOIN td b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      |        GROUP BY 1, 2),
      |top2 AS (SELECT w1 || ' ' || w2 AS phrase FROM big
      |         ORDER BY c DESC, w1, w2 LIMIT 2),
      |tri AS (SELECT a.word AS w1, b.word AS w2, c.word AS w3, COUNT(*) AS c
      |        FROM td a
      |        JOIN td b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      |        JOIN td c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
      |        GROUP BY 1, 2, 3),
      |top1 AS (SELECT w1 || ' ' || w2 || ' ' || w3 AS phrase FROM tri
      |         ORDER BY c DESC, w1, w2, w3 LIMIT 1),
      |phrases AS (SELECT phrase FROM top2 UNION ALL SELECT phrase FROM top1)"""
      .stripMargin

  /** Multi-phrase positional search — [[q403PhraseSearch]] generalized
    * from one hardcoded trigram to a phrase RELATION: k phrases of
    * arbitrary, mixed lengths resolved in ONE bipartite pass
    * ([[phraseAnchorHits]]), the shape a production query API needs
    * (phrases arrive as parameters; only the phrase words' postings are
    * read, via one broadcast join — never an all-n-grams corpus pass on
    * the search path). The fixture's phrase set is corpus-derived to
    * stay parameter-free: the top-2 bigrams and the top trigram of the
    * [[PhraseDeriveDocs]]-bounded slice (count DESC, then
    * lexicographic), lengths 2, 2 and 3 — a scale-free setup step off
    * its own pushed-filter scan, exactly like q403's trigram
    * derivation. Per-(phrase, source) rollup: occurrences, distinct
    * docs, first doc. */
  val q408MultiPhraseSearch: QuerySpec = QuerySpec(
    "q408_multi_phrase_search",
    s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w
      |           FROM documents),
      |t AS MATERIALIZED (
      |      -- read by the derivation slice and the anchor join:
      |      -- MATERIALIZED stops compounding inlining
      |      SELECT doc_id, CAST(generate_subscripts(w, 1) AS BIGINT) AS pos,
      |             unnest(w) AS word FROM d),
      |$oraclePhraseParamCtes,
      |pw AS (SELECT phrase, CAST(len(ws) AS BIGINT) AS plen,
      |              CAST(generate_subscripts(ws, 1) AS BIGINT) AS k,
      |              unnest(ws) AS word
      |       FROM (SELECT phrase, string_split(phrase, ' ') AS ws
      |             FROM phrases) z),
      |h AS (SELECT pw.phrase, pw.plen, t.doc_id, t.pos - pw.k AS anchor,
      |             COUNT(DISTINCT pw.k) AS nk
      |      FROM t JOIN pw USING (word)
      |      GROUP BY 1, 2, 3, 4),
      |hits AS (SELECT phrase, doc_id FROM h WHERE nk = plen)
      |SELECT h.phrase, d.source,
      |  CAST(COUNT(*) AS BIGINT) AS hits,
      |  CAST(COUNT(DISTINCT h.doc_id) AS BIGINT) AS docs,
      |  CAST(MIN(h.doc_id) AS BIGINT) AS first_doc
      |FROM hits h JOIN (SELECT DISTINCT doc_id, source FROM d) d
      |  ON h.doc_id = d.doc_id
      |GROUP BY h.phrase, d.source
      |ORDER BY h.phrase, d.source""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val toks = postings(sp)
      .staged // the anchor join reads it
    val phrases = phraseParams(sp, dir) // the standing parameter artifact
    phraseAnchorHits(toks, phrases)
      .join(sp.table("documents").select(col("doc_id"), col("source")),
        "doc_id")
      .groupBy(col("phrase"), col("source"))
      .agg(count(lit(1)).as("hits"), countDistinct(col("doc_id")).as("docs"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("phrase"), col("source"))
  }

  /** Phrase-BLOCKLIST redaction — the removal composition of the
    * positional machinery: every occurrence of every blocklisted phrase
    * is located by the [[phraseAnchorHits]] anchor join and its token
    * span is cut from the document, emitting the q396 rewrite report
    * (doc_id, removed_tokens, new_text). This is the contaminant /
    * banned-phrase scrubbing stage of a training-data pipeline (eval-
    * set canaries, boilerplate sentences, PII phrases): q408 ANSWERS
    * "where does the phrase occur", this one SHIPS the corpus with the
    * occurrences gone — overlapping and nested spans collapse through
    * the same exists-over-spans filter as the SA-based q396 removal.
    *
    * Scale shape: hits come from the one broadcast anchor join (only
    * blocklist-word postings move); spans are hit-grain; the rewrite is
    * one doc-keyed join of the span lists onto the corpus with a
    * per-row filter — no n-gram pass, no window over the corpus. The
    * fixture blocklist is the q408 phrase-parameter relation (bounded
    * derivation slice); production passes the blocklist as data. */
  val q419PhraseRedaction: QuerySpec = QuerySpec(
    "q419_phrase_redaction",
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
      |           FROM documents),
      |t AS MATERIALIZED (
      |      SELECT doc_id, CAST(generate_subscripts(w, 1) AS BIGINT) AS pos,
      |             unnest(w) AS word FROM d),
      |$oraclePhraseParamCtes,
      |pw AS (SELECT phrase, CAST(len(ws) AS BIGINT) AS plen,
      |              CAST(generate_subscripts(ws, 1) AS BIGINT) AS k,
      |              unnest(ws) AS word
      |       FROM (SELECT phrase, string_split(phrase, ' ') AS ws
      |             FROM phrases) z),
      |h AS (SELECT pw.phrase, pw.plen, t.doc_id, t.pos - pw.k AS anchor,
      |             COUNT(DISTINCT pw.k) AS nk
      |      FROM t JOIN pw USING (word)
      |      GROUP BY 1, 2, 3, 4),
      |spans AS (SELECT doc_id, anchor + 1 AS st, anchor + 1 + plen AS en
      |          FROM h WHERE nk = plen),
      |ivs AS (SELECT doc_id, list({'st': st, 'en': en}) AS spans
      |        FROM spans GROUP BY doc_id),
      |rec AS (SELECT d.doc_id,
      |          list_filter(d.w, (x, i) ->
      |            len(list_filter(ivs.spans,
      |                s -> i >= s.st AND i < s.en)) = 0) AS kept,
      |          len(d.w) AS n0
      |        FROM d JOIN ivs USING (doc_id))
      |SELECT doc_id,
      |  CAST(n0 - len(kept) AS BIGINT) AS removed_tokens,
      |  COALESCE(array_to_string(kept, ' '), '') AS new_text
      |FROM rec WHERE n0 > len(kept)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val toks = postings(sp).staged // the anchor join reads it
    // the standing parameter artifact: consumed twice (anchor join +
    // span-length attach) — a 3-row parquet re-read, no staging needed
    val phrases = phraseParams(sp, dir)
    phraseRedact(
      sp.table("documents").select(col("doc_id"), split(col("text"), " ").as("w")),
      toks, phrases)
  }

  /** The q419 redaction body over explicit relations — docs (doc_id,
    * w: word array), postings, and the phrase blocklist — split out so
    * LlmOpsSpec can pin overlapping/nested-span collapse on synthetic
    * rows. */
  private[graft] def phraseRedact(docs: DataFrame, toks: DataFrame,
                                  phrases: DataFrame): DataFrame = {
    val spans = phraseAnchorHits(toks, phrases)
      .withColumn("plen", size(split(col("phrase"), " ")).cast("long"))
      .select(col("doc_id"), (col("anchor") + 1L).as("st"),
        (col("anchor") + 1L + col("plen")).as("en"))
    val ivs = spans.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("st"), col("en"))).as("spans"))
    docs
      .join(ivs, Seq("doc_id"))
      .withColumn("kept", expr(
        "filter(w, (x, i) -> NOT exists(spans, s -> i + 1 >= s.st AND i + 1 < s.en))"))
      .filter(size(col("w")) > size(col("kept")))
      .select(col("doc_id"),
        (size(col("w")) - size(col("kept"))).cast("long").as("removed_tokens"),
        array_join(col("kept"), " ").as("new_text"))
      .orderBy(col("doc_id"))
  }

  /** The blocklist-COVERED word positions (1-based) of one document's
    * word array, as ONE stateless expression over a LITERAL blocklist —
    * the per-row form of [[phraseRedact]]'s span algebra for the
    * streaming scrubbing stage ([[graft.streaming.EventStreams
    * .redactedDocs]]): per phrase, anchors are the positions where all
    * its words match consecutively (the conjunction is generated at
    * expression-build time — the blocklist is a parameter, ≤ a few
    * rows, exactly what [[phraseParams]] stores); covered = the union
    * of every anchored span, overlap/nesting collapsing in the final
    * membership test exactly as the batch exists-over-spans filter
    * does. Zero joins, zero shuffles, zero state — identical over
    * batch rows and a structured stream. Callers should materialize
    * this ONCE per row (a withColumn) and test membership against the
    * materialized column, not inline it inside a per-element lambda. */
  private[graft] def coveredPositionsExpr(
      w: org.apache.spark.sql.Column,
      phrases: Seq[String]): org.apache.spark.sql.Column = {
    val perPhrase = phrases.map { p =>
      val pw = p.split(" ").toSeq
      val plen = pw.length
      // sequence(1, 0) is DESCENDING in Spark, not empty — guard the
      // too-short-doc case explicitly
      val anchors = filter(
        when(size(w) >= plen, sequence(lit(1), size(w) - plen + 1))
          .otherwise(array().cast("array<int>")),
        a => pw.zipWithIndex.map { case (word, k) =>
          element_at(w, a + k) === lit(word)
        }.reduce(_ && _))
      flatten(transform(anchors, a => sequence(a, a + plen - 1)))
    }
    if (perPhrase.isEmpty) array().cast("array<int>")
    else concat(perPhrase: _*)
  }

  val all: Seq[QuerySpec] =
    Seq(q200RagChunks, q201TfidfTopk, q202Bm25, q203IndexStats, q230RrfHybrid,
      q237RetrievalEval, q337RocchioPrf.benched, q403PhraseSearch,
      q408MultiPhraseSearch, q419PhraseRedaction)
}
