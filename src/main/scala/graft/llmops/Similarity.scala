package graft.llmops

import graft.llmops.Checkpoints.Stageable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.QuerySpec

/** Approximate-nearest-neighbor search over the embeddings table
  * (`embedding: array<float>`, 64-dim unit vectors) — LLM-ops extension.
  *
  * Three tiers, mirroring how an ANN service scales:
  *  - brute-force cosine top-k: the exactness baseline. Scale shape:
  *    broadcast the (small) query set, scan the corpus once, per-query
  *    top-k via window — corpus-side work is a single pass, no corpus
  *    self-join;
  *  - random-hyperplane LSH buckets: deterministic ±1 hyperplanes from
  *    seeded hashes; candidates only from matching buckets → corpus scan
  *    + bucket-key shuffle, constant work per row at any scale;
  *  - IVF (inverted-file) probing: coarse centroids → nearest-centroid
  *    assignment (the inverted lists), queries probe the 2 nearest lists.
  *    At 100 TB the lists are the partitioning key, so a probe touches
  *    2/nlist of the data.
  */
object Similarity {

  /** Element-ordered double cosine (graft.functions.VecCosineUtil — fused
    * single pass, same accumulation order as DuckDB's
    * list_cosine_similarity over DOUBLE[], so oracle values agree
    * bit-for-bit before rounding). */
  private def cosSql(a: String, b: String): String = s"vec_cosine($a, $b)"

  private def vecs(sp: org.apache.spark.sql.SparkSession): DataFrame =
    sp.table("embeddings").select(col("vec_id"), col("label"),
      expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))

  /** Brute-force cosine top-10 for query vectors (vec_id < 5). */
  val q85BruteTopK: QuerySpec = QuerySpec(
    "q85_ann_brute_topk",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
      |SELECT query_id, rank, neighbor_id, cos FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    ROUND(list_cosine_similarity(q.v, c.v), 6) AS cos,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rank
      |  FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id <> q.vec_id) t
      |WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val e = vecs(sp)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = broadcast(q).join(e, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr(cosSql("qv", "v")).as("c"))
    scored.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("c").desc, col("neighbor_id"))))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("c"), 6).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Random-hyperplane LSH, 4 tables × 6-bit signatures from seeded ±1
    * hyperplanes; a query probes its bucket in every table and candidates
    * are the (deduplicated) union — the standard multi-table trade-off
    * between recall and bucket fan-in. The hyperplane component for
    * (table t, bit j, dim i) is the parity of our portable fnv_hash of
    * t*512+j*64+i, and the dot product folds element-in-order — so the
    * DuckDB oracle re-derives the identical buckets (FNV-1a in HUGEINT,
    * q120 recipe) and the approximate index becomes exactly checkable:
    * same candidates, same ranks, same cosines. Recall vs brute force is
    * still pinned in LlmOpsSpec. */
  val q86LshBucketed: QuerySpec = QuerySpec(
    "q86_ann_lsh_bucketed",
    {
      val fnvParity =
        """list_reduce(list_prepend(CAST('14695981039346656037' AS HUGEINT),
          |        list_transform(range(8), b -> CAST(((t.t*512 + j.j*64 + i.i) >> CAST(b*8 AS INT)) & 255 AS HUGEINT))),
          |        (h, x) -> ((h - (h % 256) + xor(CAST(h % 256 AS BIGINT), CAST(x AS BIGINT))) * 1099511628211)
          |                  % CAST('18446744073709551616' AS HUGEINT)) % 2""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |hp AS (
         |  SELECT t, j, list(s ORDER BY i) AS s FROM (
         |    SELECT t.t AS t, j.j AS j, i.i AS i,
         |      CASE WHEN $fnvParity = 0 THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS s
         |    FROM range(4) t(t) CROSS JOIN range(6) j(j) CROSS JOIN range(64) i(i)) c
         |  GROUP BY t, j),
         |sig AS (
         |  SELECT vec_id, t AS tbl, CAST(SUM(bit) AS BIGINT) AS bucket FROM (
         |    SELECT e.vec_id, hp.t, hp.j,
         |      CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |             list_transform(range(64), i -> e.v[i+1] * hp.s[i+1])),
         |             (acc, p) -> acc + p) > 0
         |           THEN (1 << hp.j) ELSE 0 END AS bit
         |    FROM e CROSS JOIN hp) parts
         |  GROUP BY vec_id, t),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM sig q JOIN sig c ON q.tbl = c.tbl AND q.bucket = c.bucket
         |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
         |SELECT query_id, rank, neighbor_id, cos FROM (
         |  SELECT cand.query_id, cand.neighbor_id,
         |    ROUND(list_cosine_similarity(qe.v, ce.v), 6) AS cos,
         |    ROW_NUMBER() OVER (PARTITION BY cand.query_id
         |      ORDER BY list_cosine_similarity(qe.v, ce.v) DESC, cand.neighbor_id) AS rank
         |  FROM cand
         |  JOIN e qe ON qe.vec_id = cand.query_id
         |  JOIN e ce ON ce.vec_id = cand.neighbor_id) t
         |WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin
    }) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    // Table t, bit j: sign of <v, h_tj>, h_tj[i] = ±1 from the parity of
    // fnv_hash(t*512 + j*64 + i) — deterministic, portable, no stored model.
    val bucketsSql =
      """transform(sequence(0, 3), t -> named_struct(
        |  'tbl', t,
        |  'bucket', aggregate(
        |    transform(sequence(0, 5), j ->
        |      CASE WHEN aggregate(
        |        zip_with(v, sequence(0, 63), (x, i) ->
        |          CASE WHEN pmod(fnv_hash(CAST(t * 512 + j * 64 + i AS BIGINT)), 2) = 0 THEN x ELSE -x END),
        |        0D, (acc, p) -> acc + p) > 0 THEN shiftleft(1L, j) ELSE 0L END),
        |    0L, (acc, b) -> acc + b)))""".stripMargin
    val e = vecs(sp).select(col("vec_id"), col("v"),
      explode(expr(bucketsSql)).as("tb"))
      .select(col("vec_id"), col("v"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("tbl"), col("bucket"))
    broadcast(q).join(e, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qv"), col("vec_id"), col("v")).distinct()
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr(cosSql("qv", "v")).as("c"))
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("c").desc, col("neighbor_id"))))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("c"), 6).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF probing: coarse centroids (deterministic sample: vec_id % 50 = 0)
    * → nearest-centroid inverted lists → queries probe the 2 nearest
    * lists and rank true cosine inside them. Every step is deterministic
    * (modular centroid sample + exact cosines + total tie orders), so the
    * DuckDB oracle replays the whole index build + probe. */
  val q87IvfProbe: QuerySpec = QuerySpec(
    "q87_ann_ivf_probe",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id % 50 = 0),
      |assigned AS (
      |  SELECT vec_id, v, cent_id FROM (
      |    SELECT e.vec_id, e.v, c.cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id) AS crank
      |    FROM e CROSS JOIN cents c) t WHERE crank = 1),
      |probes AS (
      |  SELECT query_id, qv, cent_id FROM (
      |    SELECT q.vec_id AS query_id, q.v AS qv, c.cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(q.v, c.cv) DESC, c.cent_id) AS crank
      |    FROM e q CROSS JOIN cents c WHERE q.vec_id < 5) t WHERE crank <= 2)
      |SELECT query_id, rank, neighbor_id, cos FROM (
      |  SELECT p.query_id, a.vec_id AS neighbor_id,
      |    ROUND(list_cosine_similarity(p.qv, a.v), 6) AS cos,
      |    ROW_NUMBER() OVER (PARTITION BY p.query_id
      |      ORDER BY list_cosine_similarity(p.qv, a.v) DESC, a.vec_id) AS rank
      |  FROM probes p JOIN assigned a ON p.cent_id = a.cent_id
      |  WHERE a.vec_id <> p.query_id) t
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val e = vecs(sp)
    val cents = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val w = org.apache.spark.sql.expressions.Window
    // inverted lists: every vector → nearest centroid
    val assigned = e.join(broadcast(cents), lit(true))
      .select(col("vec_id"), col("v"), col("cent_id"),
        expr(cosSql("v", "cv")).as("cc"))
      .withColumn("crank", row_number().over(
        w.partitionBy(col("vec_id")).orderBy(col("cc").desc, col("cent_id"))))
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("v"), col("cent_id"))
    // queries probe their 2 nearest lists
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .join(broadcast(cents), lit(true))
      .select(col("query_id"), col("qv"), col("cent_id"),
        expr(cosSql("qv", "cv")).as("qc"))
      .withColumn("crank", row_number().over(
        w.partitionBy(col("query_id")).orderBy(col("qc").desc, col("cent_id"))))
      .filter(col("crank") <= 2)
      .select(col("query_id"), col("qv"), col("cent_id"))
    broadcast(probes).join(assigned, Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr(cosSql("qv", "v")).as("c"))
      .withColumn("rank", row_number().over(
        w.partitionBy(col("query_id")).orderBy(col("c").desc, col("neighbor_id"))))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("c"), 6).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Product quantization (PQ) with asymmetric-distance (ADC) search —
    * the fourth classic ANN tier (after brute/LSH/IVF): 64 dims split
    * into 8 blocks of 8; per block, a codebook of sampled sub-vectors
    * (deterministic modular sample, vec_id % 40 = 0); every corpus
    * vector is encoded as 8 small codes (nearest codebook entry per
    * block by squared L2, ties → lowest cent_id). A query precomputes
    * its tiny ADC lookup table (blocks × codebook sub-distances) and a
    * candidate's approximate distance is the SUM of 8 table lookups —
    * at 100 TB the corpus is scanned as codes (8 ints/vector, ~32× less
    * IO than raw floats), the lookup table broadcasts, and the exact
    * re-rank touches only the top-20 candidates. Every step is
    * deterministic (element-in-order double folds, block-ordered ADC
    * sum, total tie orders), so the DuckDB oracle replays codebook
    * build, encoding, ADC, and re-rank exactly. */
  val q149PqAdc: QuerySpec = QuerySpec(
    "q149_ann_pq_adc",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id % 40 = 0),
      |enc AS (
      |  SELECT vec_id, m, cent_id, d2 FROM (
      |    SELECT e.vec_id, m.m AS m, c.cent_id,
      |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |        list_transform(range(8), i ->
      |          (e.v[m.m*8 + i + 1] - c.cv[m.m*8 + i + 1])
      |          * (e.v[m.m*8 + i + 1] - c.cv[m.m*8 + i + 1]))),
      |        (acc, x) -> acc + x) AS d2
      |    FROM e CROSS JOIN range(8) m(m) CROSS JOIN cents c) t),
      |codes AS (
      |  SELECT vec_id, m, cent_id AS code FROM (
      |    SELECT vec_id, m, cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cent_id) AS r
      |    FROM enc) t WHERE r = 1),
      |qd AS (SELECT vec_id AS query_id, m, cent_id, d2 FROM enc WHERE vec_id < 5),
      |adc AS (
      |  SELECT qd.query_id, codes.vec_id AS neighbor_id,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(qd.d2 ORDER BY qd.m)),
      |      (acc, x) -> acc + x) AS dist
      |  FROM codes JOIN qd ON codes.m = qd.m AND codes.code = qd.cent_id
      |  WHERE codes.vec_id <> qd.query_id
      |  GROUP BY qd.query_id, codes.vec_id),
      |cand AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS r
      |    FROM adc) t WHERE r <= 20)
      |SELECT query_id, rank, neighbor_id, cos FROM (
      |  SELECT cand.query_id, cand.neighbor_id,
      |    ROUND(list_cosine_similarity(qe.v, ce.v), 6) AS cos,
      |    ROW_NUMBER() OVER (PARTITION BY cand.query_id
      |      ORDER BY list_cosine_similarity(qe.v, ce.v) DESC, cand.neighbor_id) AS rank
      |  FROM cand JOIN e qe ON qe.vec_id = cand.query_id
      |            JOIN e ce ON ce.vec_id = cand.neighbor_id) t
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val w = org.apache.spark.sql.expressions.Window
    val e = vecs(sp).select(col("vec_id"), col("v"))
    val cents = e.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    // per (vector, block, codebook entry) sub-vector squared L2 —
    // zip_with + aggregate folds element-in-order, matching the oracle
    // localCheckpoint: `enc` feeds BOTH the corpus code assignment and
    // the query distance table — without materialization the whole
    // scan + per-block distance computation executes twice (ReuseExchange
    // does not dedupe the differing consumers; a production PQ system
    // persists the codes instead, which subsumes this)
    val enc = e.select(col("vec_id"), col("v"),
        explode(expr("sequence(0, 7)")).as("m"))
      .join(broadcast(cents), lit(true))
      .select(col("vec_id"), col("m"), col("cent_id"),
        expr("""aggregate(
                  zip_with(slice(v, m*8 + 1, 8), slice(cv, m*8 + 1, 8),
                           (x, y) -> (x - y) * (x - y)),
                  0D, (acc, p) -> acc + p)""").as("d2"))
      .staged
    val codes = enc
      .withColumn("r", row_number().over(
        w.partitionBy(col("vec_id"), col("m")).orderBy(col("d2"), col("cent_id"))))
      .filter(col("r") === 1)
      .select(col("vec_id"), col("m"), col("cent_id").as("code"))
    val qd = enc.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("m").as("qm"),
        col("cent_id"), col("d2"))
    // ADC: 8 lookups per (query, vector), summed in block order
    val adc = codes.join(broadcast(qd),
        col("m") === col("qm") && col("code") === col("cent_id") &&
          col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(expr("""aggregate(
                     transform(sort_array(collect_list(struct(m, d2))), s -> s.d2),
                     0D, (acc, x) -> acc + x)""").as("dist"))
    val cand = adc
      .withColumn("r", row_number().over(
        w.partitionBy(col("query_id")).orderBy(col("dist"), col("neighbor_id"))))
      .filter(col("r") <= 20)
      .select(col("query_id"), col("neighbor_id"))
    cand
      .join(e.select(col("vec_id").as("query_id"), col("v").as("qv")), Seq("query_id"))
      .join(e.select(col("vec_id").as("neighbor_id"), col("v")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        expr(cosSql("qv", "v")).as("c"))
      .withColumn("rank", row_number().over(
        w.partitionBy(col("query_id")).orderBy(col("c").desc, col("neighbor_id"))))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("c"), 6).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Int8 scalar quantization (SQ8) ANN — the fifth ANN tier and the one
    * vector stores ship first: per-dimension global [min, max] ranges map
    * every component to an 8-bit code (floor-quantized, clamped); the
    * candidate scan DEQUANTIZES the codes on the fly and ranks by the
    * reconstructed dot product (the corpus is unit vectors, so dot ≈
    * cosine); only the top-20 candidates are re-ranked with exact
    * cosine. The approximate dot folds element-in-order over identical
    * double arithmetic, so the DuckDB oracle reproduces it bit-for-bit
    * (the q149 ADC recipe). Scale shape: the 64×2 range stats are one
    * tiny global aggregate (broadcast back), the corpus is scanned as
    * int8 codes (4× less IO than float32), dequantization is a map-side
    * array transform, and re-rank touches 20 rows per query. */
  val q161AnnInt8: QuerySpec = QuerySpec(
    "q161_ann_int8_quant",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |dims AS (SELECT d, MIN(v[d + 1]) AS mn, MAX(v[d + 1]) AS mx
      |         FROM e CROSS JOIN range(64) t(d) GROUP BY d),
      |st AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM dims),
      |codes AS (
      |  SELECT vec_id, list_transform(range(64), d ->
      |           CASE WHEN mxs[d + 1] > mns[d + 1]
      |                THEN CAST(LEAST(255, GREATEST(0, FLOOR(
      |                       255 * (v[d + 1] - mns[d + 1]) / (mxs[d + 1] - mns[d + 1])))) AS BIGINT)
      |                ELSE CAST(0 AS BIGINT) END) AS c
      |  FROM e CROSS JOIN st),
      |dq AS (
      |  SELECT vec_id, list_transform(range(64), d ->
      |           mns[d + 1] + c[d + 1] * (mxs[d + 1] - mns[d + 1]) / 255.0) AS r
      |  FROM codes CROSS JOIN st),
      |adot AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(range(64), i -> q.r[i + 1] * c.r[i + 1])),
      |      (acc, x) -> acc + x) AS ad
      |  FROM dq q JOIN dq c ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
      |cand AS (
      |  SELECT query_id, neighbor_id, ad FROM (
      |    SELECT query_id, neighbor_id, ad,
      |      ROW_NUMBER() OVER (PARTITION BY query_id
      |        ORDER BY ad DESC, neighbor_id) AS r
      |    FROM adot) t WHERE r <= 20)
      |SELECT query_id, rank, neighbor_id, approx_dot, cos FROM (
      |  SELECT cand.query_id, cand.neighbor_id,
      |    ROUND(cand.ad, 6) AS approx_dot,
      |    ROUND(list_cosine_similarity(qe.v, ce.v), 6) AS cos,
      |    ROW_NUMBER() OVER (PARTITION BY cand.query_id
      |      ORDER BY list_cosine_similarity(qe.v, ce.v) DESC, cand.neighbor_id) AS rank
      |  FROM cand JOIN e qe ON qe.vec_id = cand.query_id
      |            JOIN e ce ON ce.vec_id = cand.neighbor_id) t
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val w = org.apache.spark.sql.expressions.Window
    val e = vecs(sp).select(col("vec_id"), col("v"))
    // per-dimension global [min, max] — one tiny aggregate, collected
    // into ordered arrays so quantization is a map-side array transform
    val dims = e.select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("mn"), max("x").as("mx"))
    val st = dims.agg(
      expr("transform(sort_array(collect_list(struct(d, mn))), s -> s.mn)").as("mns"),
      expr("transform(sort_array(collect_list(struct(d, mx))), s -> s.mx)").as("mxs"))
    // Spark array subscripts are 0-based (DuckDB's are 1-based)
    // localCheckpoint: the int8 code table is EXACTLY what a production
    // SQ8 index persists; materializing it here also stops the quantize
    // subtree (scan + stats broadcast + transform) from executing once
    // per downstream consumer (the query slice and the corpus side both
    // read it, and ReuseExchange does not dedupe them)
    val codes = e.join(broadcast(st), lit(true))
      .select(col("vec_id"), col("mns"), col("mxs"),
        expr("""transform(sequence(0, 63), d ->
                  CASE WHEN mxs[d] > mns[d]
                       THEN CAST(LEAST(255, GREATEST(0, FLOOR(
                              255 * (v[d] - mns[d]) / (mxs[d] - mns[d])))) AS BIGINT)
                       ELSE CAST(0 AS BIGINT) END)""").as("c"))
      .staged
    val dq = codes.select(col("vec_id"),
      expr("""transform(sequence(0, 63), d ->
                mns[d] + c[d] * (mxs[d] - mns[d]) / 255.0)""").as("r"))
    val q = dq.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("r").as("qr"))
    // reconstructed dot product — element-in-order fold, oracle-identical
    val adot = broadcast(q).join(dq, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("aggregate(zip_with(qr, r, (a, b) -> a * b), 0D, (acc, x) -> acc + x)").as("ad"))
    val cand = adot
      .withColumn("rk", row_number().over(
        w.partitionBy(col("query_id")).orderBy(col("ad").desc, col("neighbor_id"))))
      .filter(col("rk") <= 20)
      .select(col("query_id"), col("neighbor_id"), col("ad"))
    cand
      .join(e.select(col("vec_id").as("query_id"), col("v").as("qv")), Seq("query_id"))
      .join(e.select(col("vec_id").as("neighbor_id"), col("v")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("ad"),
        expr(cosSql("qv", "v")).as("cs"))
      .withColumn("rank", row_number().over(
        w.partitionBy(col("query_id")).orderBy(col("cs").desc, col("neighbor_id"))))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("ad"), 6).as("approx_dot"), round(col("cs"), 6).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Chunk→document embedding pooling: mean-pool the chunk vectors of
    * each document, then L2-normalize the pooled vector — the standard
    * reduction from passage embeddings to one retrieval vector per doc
    * (and the preprocessing ANN indexes expect: unit norm makes cosine
    * = dot). Chunks are grouped as vec_id DIV 10 (10 chunks/doc on the
    * fixture).
    *
    * Determinism recipe (the q97 k-means pattern): per-dimension means
    * are EXACT DECIMAL(27,18) sums divided as one IEEE double op, so no
    * partitioning or engine can reorder them; the L2 norm is an
    * element-IN-ORDER fold over the dim-sorted pooled array (double
    * addition is not associative — a groupBy SUM over dims would be
    * order-dependent across engines). Scale shape: ONE shuffle keyed
    * (doc, dim) for the means, one (doc)-keyed assembly reusing the same
    * hash partitioning — no corpus self-join, no collect. */
  val q168PoolNormalize: QuerySpec = QuerySpec.sql2(
    "q168_embed_pool_normalize",
    """WITH x AS (
      |  SELECT CAST(vec_id DIV 10 AS BIGINT) AS doc, pos AS dim, CAST(v AS DOUBLE) AS x
      |  FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, v),
      |m AS (
      |  SELECT doc, dim,
      |    CAST(SUM(CAST(x AS DECIMAL(27,18))) AS DOUBLE) / COUNT(*) AS m
      |  FROM x GROUP BY doc, dim),
      |p AS (
      |  SELECT doc, transform(array_sort(collect_list(struct(dim, m))), s -> s.m) AS pooled
      |  FROM m GROUP BY doc),
      |n AS (
      |  SELECT doc, pooled,
      |    sqrt(aggregate(pooled, CAST(0 AS DOUBLE), (acc, v) -> acc + v * v)) AS nrm
      |  FROM p)
      |SELECT doc, pos AS dim, ROUND(v / nrm, 6) AS unit
      |FROM n LATERAL VIEW posexplode(pooled) t AS pos, v
      |ORDER BY doc, dim""".stripMargin,
    """WITH x AS (
      |  SELECT CAST(vec_id // 10 AS BIGINT) AS doc, CAST(pos AS INT) AS dim,
      |         CAST(embedding[pos + 1] AS DOUBLE) AS x
      |  FROM (SELECT vec_id, embedding, unnest(range(len(embedding))) AS pos
      |        FROM embeddings) e),
      |m AS (
      |  SELECT doc, dim,
      |    CAST(SUM(CAST(x AS DECIMAL(27,18))) AS DOUBLE) / COUNT(*) AS m
      |  FROM x GROUP BY doc, dim),
      |p AS (
      |  SELECT doc, list(m ORDER BY dim) AS pooled
      |  FROM m GROUP BY doc),
      |n AS (
      |  SELECT doc, pooled,
      |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), pooled),
      |                     (acc, v) -> acc + v * v)) AS nrm
      |  FROM p)
      |SELECT doc, CAST(pos AS INT) AS dim, ROUND(pooled[pos + 1] / nrm, 6) AS unit
      |FROM (SELECT doc, pooled, nrm, unnest(range(len(pooled))) AS pos FROM n) u
      |ORDER BY doc, dim""".stripMargin)

  /** ANN index-quality evaluation — recall@10 of the LSH index
    * ([[q86LshBucketed]]) against the brute-force ground truth
    * ([[q85BruteTopK]]), per query. This is the eval loop every
    * embedding pipeline runs before trusting an approximate index: the
    * exact pass is affordable because it runs on the sampled QUERY set
    * (here vec_id < 5), not all-pairs — the standard recall-measurement
    * shape at scale. Both inputs are the deterministic, oracle-checked
    * index paths, so the recall numbers themselves are exactly
    * reproducible in DuckDB by composing the two oracle texts. */
  val q185AnnRecall: QuerySpec = QuerySpec(
    "q185_ann_recall",
    s"""WITH b AS (
       |${q85BruteTopK.oracle.get}),
       |l AS (
       |${q86LshBucketed.oracle.get})
       |SELECT b.query_id, CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_hits,
       |       ROUND(CAST(COUNT(l.neighbor_id) AS DOUBLE) / 10, 6) AS recall_at_10
       |FROM b LEFT JOIN l
       |  ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
       |GROUP BY b.query_id
       |ORDER BY b.query_id""".stripMargin) { (s, dir) =>
    val brute = q85BruteTopK.run(s, dir).select(col("query_id"), col("neighbor_id"))
    val lsh = q86LshBucketed.run(s, dir).select(col("query_id"), col("neighbor_id"))
    brute.join(lsh.withColumn("hit", lit(1)), Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(count(col("hit")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits").cast("double") / 10, 6).as("recall_at_10"))
      .orderBy(col("query_id"))
  }

  /** Matryoshka truncation eval (Kusupati et al., "Matryoshka
    * Representation Learning"): recall@10 of a 16-dim PREFIX of the
    * 64-dim embeddings against the full-dimension ground truth — the
    * measurement every MRL deployment runs before serving the cheaper
    * prefix index. Cosine needs no re-normalization (it normalizes both
    * sides), so truncation is a free `slice` and both passes are the
    * [[q85BruteTopK]] shape: broadcast sampled queries × one corpus
    * scan each, exact because the query set is sampled (the q185
    * affordability argument). Deterministic end to end, so DuckDB
    * re-derives both top-k sets and the recall numbers exactly. */
  val q193AnnMatryoshka: QuerySpec = QuerySpec(
    "q193_ann_matryoshka",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |b AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rank
      |    FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id <> q.vec_id) t
      |  WHERE rank <= 10),
      |m AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(q.v[1:16], c.v[1:16]) DESC, c.vec_id) AS rank
      |    FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id <> q.vec_id) t
      |  WHERE rank <= 10)
      |SELECT b.query_id, CAST(COUNT(m.neighbor_id) AS BIGINT) AS n_hits,
      |       ROUND(CAST(COUNT(m.neighbor_id) AS DOUBLE) / 10, 6) AS recall_at_10
      |FROM b LEFT JOIN m
      |  ON b.query_id = m.query_id AND b.neighbor_id = m.neighbor_id
      |GROUP BY b.query_id
      |ORDER BY b.query_id""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    def top10(e: DataFrame): DataFrame = {
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      broadcast(q).join(e, col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          expr(cosSql("qv", "v")).as("c"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id")).orderBy(col("c").desc, col("neighbor_id"))))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("neighbor_id"))
    }
    val full = top10(vecs(sp).select(col("vec_id"), col("v")))
    val trunc = top10(vecs(sp)
      .select(col("vec_id"), expr("slice(v, 1, 16)").as("v")))
    full.join(trunc.withColumn("hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id")).agg(count(col("hit")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits").cast("double") / 10, 6).as("recall_at_10"))
      .orderBy(col("query_id"))
  }

  /** Supervised triplet mining for contrastive training — per anchor,
    * the HARDEST positive (same label, lowest cosine: the pair the
    * model most needs to pull together) and the top-3 hard negatives
    * (different label, highest cosine: the pairs it most needs to push
    * apart). The scored relation is the [[q85BruteTopK]] shape —
    * broadcast sampled anchors × one corpus scan — split by
    * label-match into two anchor-keyed rank windows (groups bounded by
    * the candidate set, anchors sampled). At 100 TB the candidate set
    * comes from the ANN leg (q86/q87) instead of the full corpus; the
    * mining algebra after it is unchanged. */
  val q207TripletMining: QuerySpec = QuerySpec(
    "q207_triplet_mining",
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |s AS (
      |  SELECT q.vec_id AS anchor_id, c.vec_id AS cand_id,
      |    q.label = c.label AS same,
      |    list_cosine_similarity(q.v, c.v) AS cos
      |  FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
      |pos AS (
      |  SELECT anchor_id, 'pos' AS role, ROW_NUMBER() OVER (
      |      PARTITION BY anchor_id ORDER BY cos ASC, cand_id) AS rank,
      |    cand_id, cos FROM s WHERE same),
      |neg AS (
      |  SELECT anchor_id, 'neg' AS role, ROW_NUMBER() OVER (
      |      PARTITION BY anchor_id ORDER BY cos DESC, cand_id) AS rank,
      |    cand_id, cos FROM s WHERE NOT same)
      |SELECT anchor_id, role, rank, cand_id, ROUND(cos, 6) AS cos
      |FROM (SELECT * FROM pos WHERE rank <= 1
      |      UNION ALL SELECT * FROM neg WHERE rank <= 3) t
      |ORDER BY anchor_id, role, rank""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val w = org.apache.spark.sql.expressions.Window
    val e = vecs(sp)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("anchor_id"), col("label").as("qlabel"),
        col("v").as("qv"))
    val scored = broadcast(q).join(e, col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("vec_id").as("cand_id"),
        (col("qlabel") === col("label")).as("same"),
        expr(cosSql("qv", "v")).as("cos"))
      .staged // feeds both role branches; one corpus scan
    val pos = scored.filter(col("same"))
      .withColumn("role", lit("pos"))
      .withColumn("rank", row_number().over(
        w.partitionBy(col("anchor_id")).orderBy(col("cos").asc, col("cand_id"))))
      .filter(col("rank") <= 1)
    val neg = scored.filter(!col("same"))
      .withColumn("role", lit("neg"))
      .withColumn("rank", row_number().over(
        w.partitionBy(col("anchor_id")).orderBy(col("cos").desc, col("cand_id"))))
      .filter(col("rank") <= 3)
    pos.unionByName(neg)
      .select(col("anchor_id"), col("role"), col("rank"), col("cand_id"),
        round(col("cos"), 6).as("cos"))
      .orderBy(col("anchor_id"), col("role"), col("rank"))
  }

  /** Embedding-drift monitor between two corpus snapshots — the check a
    * pipeline runs after re-embedding or after a large ingest: per
    * label, the cosine between the snapshot centroids (and both member
    * counts). Snapshots here are the vec_id parity halves; in
    * production they are two versions of the embeddings table (the
    * upsert sink's readVersion), same algebra.
    *
    * Scale shape: ONE corpus pass — both halves' per-dimension means
    * are conditional DECIMAL sums in the same (label, pos) aggregate
    * (exact under any partitioning, the q97 centroid recipe), so no
    * second scan, no join of two corpus-sized relations; the final
    * per-label relation is label-count sized. */
  val q212EmbeddingDrift: QuerySpec = QuerySpec(
    "q212_embedding_drift",
    """WITH e AS (SELECT vec_id % 2 AS half, label, embedding::DOUBLE[] AS v FROM embeddings),
      |m AS (
      |  SELECT label, pos,
      |    CAST(SUM(CASE WHEN half = 0 THEN CAST(v[pos + 1] AS DECIMAL(27,18)) END) AS DOUBLE)
      |      / SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS m0,
      |    CAST(SUM(CASE WHEN half = 1 THEN CAST(v[pos + 1] AS DECIMAL(27,18)) END) AS DOUBLE)
      |      / SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS m1,
      |    SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c0,
      |    SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c1
      |  FROM (SELECT label, half, v, unnest(range(len(v))) AS pos FROM e) x
      |  GROUP BY 1, 2),
      |cv AS (
      |  SELECT label, list(m0 ORDER BY pos) AS cv0, list(m1 ORDER BY pos) AS cv1,
      |    MAX(c0) AS n0, MAX(c1) AS n1
      |  FROM m GROUP BY 1)
      |SELECT label, CAST(n0 AS BIGINT) AS n_even, CAST(n1 AS BIGINT) AS n_odd,
      |  CAST(ROUND(list_cosine_similarity(cv0, cv1) * 1e6) AS BIGINT) AS centroid_cos_e6
      |FROM cv ORDER BY label""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val e = sp.table("embeddings")
      .select(col("label"), (col("vec_id") % 2).as("half"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
    e.select(col("label"), col("half"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(
        (sum(when(col("half") === 0, col("x")).cast("decimal(27,18)")).cast("double")
          / sum(when(col("half") === 0, 1L).otherwise(0L))).as("m0"),
        (sum(when(col("half") === 1, col("x")).cast("decimal(27,18)")).cast("double")
          / sum(when(col("half") === 1, 1L).otherwise(0L))).as("m1"),
        sum(when(col("half") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("c1"))
      .groupBy(col("label"))
      .agg(
        expr("transform(sort_array(collect_list(struct(pos, m0))), s -> s.m0)").as("cv0"),
        expr("transform(sort_array(collect_list(struct(pos, m1))), s -> s.m1)").as("cv1"),
        max(col("c0")).as("n_even"), max(col("c1")).as("n_odd"))
      .select(col("label"), col("n_even"), col("n_odd"),
        round(expr("vec_cosine(cv0, cv1)") * lit(1e6)).cast("long").as("centroid_cos_e6"))
      .orderBy(col("label"))
  }

  val all: Seq[QuerySpec] = Seq(
    q85BruteTopK.benched, q86LshBucketed, q87IvfProbe, q149PqAdc, q161AnnInt8,
    q168PoolNormalize, q185AnnRecall, q193AnnMatryoshka, q207TripletMining,
    q212EmbeddingDrift)
}
