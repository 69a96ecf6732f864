package graft.llmops

import graft.llmops.Checkpoints.Stageable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QuerySpec

/** Embedding clustering + cluster-balanced sampling — the curation step
  * that keeps a training mix diverse: cluster the corpus, then draw a
  * bounded, reproducible sample from every cluster.
  *
  * Deterministic Lloyd iterations (k-means without RNG):
  *  - seeds: fixed arithmetic selection (vec_id % 50 = 0), no sampling;
  *  - assignment: broadcast the k centroids, one corpus pass with
  *    vec_cosine, argmax with a fixed tie-break;
  *  - update: element-wise mean computed over exact DECIMAL sums, so the
  *    centroid bytes are identical under any partitioning — float drift
  *    in the mean could otherwise flip an assignment and cascade.
  *
  * Scale shape: each iteration is one broadcast + one shuffle on
  * (cluster, pos); nothing is ever collected to the driver.
  */
object Clustering {

  private def vecs(sp: SparkSession): DataFrame =
    sp.table("embeddings").select(col("vec_id"),
      expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))

  /** One assignment pass: nearest centroid per vector (ties → lowest id). */
  private def assign(e: DataFrame, cents: DataFrame): DataFrame =
    e.join(broadcast(cents), lit(true))
      .select(col("vec_id"), col("v"), col("cluster"),
        expr("vec_cosine(v, cv)").as("cc"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cc").desc, col("cluster"))))
      .filter(col("r") === 1)
      .select(col("vec_id"), col("v"), col("cluster"))

  /** Element-wise mean of assigned vectors via exact decimal sums. The
    * division happens AFTER casting the exact sum to double (double ÷ int
    * is one IEEE operation, identical on every engine), not in decimal —
    * decimal-division scale rules are engine-specific. */
  private def recompute(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cluster"), col("pos"))
      .agg((sum(col("x").cast("decimal(27,18)")).cast("double") / count(lit(1)))
        .as("m"))
      .groupBy(col("cluster"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, m))), s -> s.m)").as("cv"))

  /** k-means (2 Lloyd iterations) + balanced sample of 3 ids per cluster
    * selected by a deterministic multiplicative hash. Every step is
    * RNG-free with total tie orders, so the DuckDB oracle replays the
    * whole algorithm — seeds, both Lloyd rounds (exact DECIMAL(27,18)
    * sums, double division), final assignment, and the hash-picked
    * sample. Determinism under repartitioning pinned in ClusteringSpec. */
  // one assignment pass: nearest centroid per vector (ties → lowest id)
  private def assignSql(cents: String): String =
    s"""SELECT vec_id, v, cluster FROM (
       |    SELECT e.vec_id, e.v, c.cluster,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cluster) AS r
       |    FROM e CROSS JOIN $cents c) t WHERE r = 1""".stripMargin

  // element-wise mean via exact decimal sums, divided as doubles;
  // dimension derived from the vectors themselves (range(len(v))),
  // matching the Spark side's posexplode — no hardcoded fixture dim
  private def recomputeSql(assigned: String): String =
    s"""SELECT cluster, list(m ORDER BY pos) AS cv FROM (
       |    SELECT cluster, pos,
       |      CAST(SUM(CAST(v[pos + 1] AS DECIMAL(27,18))) AS DOUBLE) / COUNT(*) AS m
       |    FROM (SELECT cluster, v, unnest(range(len(v))) AS pos FROM $assigned) x
       |    GROUP BY cluster, pos) t GROUP BY cluster""".stripMargin

  /** The replayed-kmeans oracle prologue shared by q97 and q211: seeds →
    * two Lloyd rounds → converged centroids `c2`. */
  private def kmeansOracleCtes: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cluster, v AS cv FROM e WHERE vec_id % 50 = 0),
       |a1 AS (${assignSql("c0")}),
       |c1 AS (${recomputeSql("a1")}),
       |a2 AS (${assignSql("c1")}),
       |c2 AS (${recomputeSql("a2")})""".stripMargin

  /** Deterministic two-round Lloyd centroids on the Spark side — the
    * DataFrame twin of [[kmeansOracleCtes]]. */
  private def kmeansCentroids(e: DataFrame): DataFrame = {
    var cents = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").cast("int").as("cluster"), col("v").as("cv"))
    for (_ <- 1 to 2)
      cents = recompute(assign(e, cents))
    cents
  }

  val q97KmeansBalanced: QuerySpec = {
    QuerySpec(
      "q97_embed_kmeans_balanced",
      s"""WITH $kmeansOracleCtes,
         |fin AS (${assignSql("c2")}),
         |picked AS (
         |  SELECT vec_id, cluster,
         |    ROW_NUMBER() OVER (PARTITION BY cluster
         |      ORDER BY (vec_id * 2654435761) % 99991, vec_id) AS pick
         |  FROM fin)
         |SELECT cluster, COUNT(*) AS n_members,
         |  COALESCE(array_to_string(list(vec_id ORDER BY vec_id) FILTER (pick <= 3), ','), '') AS sampled_ids
         |FROM picked GROUP BY cluster
         |ORDER BY cluster""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val e = vecs(sp)
    val fin = assign(e, kmeansCentroids(e))
      .withColumn("pick", row_number().over(
        Window.partitionBy(col("cluster"))
          .orderBy(pmod(col("vec_id") * 2654435761L, lit(99991)), col("vec_id"))))
    fin.groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n_members"),
        array_join(sort_array(collect_list(when(col("pick") <= 3, col("vec_id")))), ",")
          .as("sampled_ids"))
      .orderBy(col("cluster"))
    }
  }

  /** Cluster-quality report: simplified (centroid) silhouette per
    * cluster over the q97 clustering — the metric that decides whether
    * a clustering is good enough to drive SemDeDup / cluster-balanced
    * sampling, without the O(n²) pairwise silhouette. Per vector,
    * a = cosine distance to its own centroid and b = distance to the
    * SECOND-nearest centroid, s = (b − a) / max(a, b), which reduces to
    * (cc₁ − cc₂) / (1 − cc₂) on cosines; per-cluster mean/min/max are
    * then exact integer rollups of the per-vector micro-unit scores.
    *
    * Scale shape: one broadcast of k centroids over one corpus pass; the
    * rank window is keyed on vec_id (group = k rows, never a hot key);
    * scores become integers BEFORE aggregation, so the rollup is exact
    * under any partitioning (no order-dependent double sums). The
    * DuckDB oracle replays the whole deterministic kmeans and the
    * silhouette algebra. */
  val q211ClusterSilhouette: QuerySpec = QuerySpec(
    "q211_cluster_silhouette",
    s"""WITH $kmeansOracleCtes,
       |ranked AS (
       |  SELECT e.vec_id, c.cluster,
       |    list_cosine_similarity(e.v, c.cv) AS cc,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cluster) AS r
       |  FROM e CROSS JOIN c2 c),
       |sil AS (
       |  SELECT a.vec_id, a.cluster,
       |    CAST(ROUND((CASE WHEN 1 - b.cc = 0 THEN 0
       |      ELSE (a.cc - b.cc) / (1 - b.cc) END) * 1e6) AS BIGINT) AS sil_e6
       |  FROM ranked a JOIN ranked b
       |    ON a.vec_id = b.vec_id AND a.r = 1 AND b.r = 2)
       |SELECT cluster, COUNT(*) AS n_members,
       |  CAST(ROUND(CAST(SUM(sil_e6) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mean_sil_e6,
       |  MIN(sil_e6) AS min_sil_e6, MAX(sil_e6) AS max_sil_e6
       |FROM sil GROUP BY cluster
       |ORDER BY cluster""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val e = vecs(sp)
    val cents = kmeansCentroids(e)
    // localCheckpoint: the two-best relation feeds both rank branches of
    // the self-join below; without it the broadcast-score-window pipeline
    // would execute twice
    val ranked = e.join(broadcast(cents), lit(true))
      .select(col("vec_id"), col("cluster"), expr("vec_cosine(v, cv)").as("cc"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cc").desc, col("cluster"))))
      .filter(col("r") <= 2)
      .staged
    val own = ranked.filter(col("r") === 1)
      .select(col("vec_id"), col("cluster"), col("cc").as("cc1"))
    val second = ranked.filter(col("r") === 2)
      .select(col("vec_id"), col("cc").as("cc2"))
    own.join(second, Seq("vec_id"))
      .withColumn("sil_e6",
        round(when(lit(1) - col("cc2") === 0, lit(0.0))
          .otherwise((col("cc1") - col("cc2")) / (lit(1) - col("cc2"))) * lit(1e6))
          .cast("long"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        round(sum(col("sil_e6")).cast("double") / count(lit(1))).cast("long")
          .as("mean_sil_e6"),
        min(col("sil_e6")).as("min_sil_e6"),
        max(col("sil_e6")).as("max_sil_e6"))
      .orderBy(col("cluster"))
  }

  /** Dominant principal axis of the embedding corpus via two
    * deterministic power-iteration rounds — the PCA-lite signal behind
    * anisotropy checks ("is the embedding space collapsing onto one
    * direction?") and whitening decisions. RNG-free by construction:
    * the start vector is the fixed uniform unit vector, each round is
    * `w ← normalize(Σ_v v·⟨v,w⟩)` with the per-vector dot an IN-ROW
    * index-order fold and the per-dimension Σ an exact DECIMAL(27,18)
    * aggregate divided/normalized in one fixed DOUBLE tree (the q97
    * centroid rule) — so the axis is bit-identical under any
    * partitioning and the DuckDB oracle replays both rounds. Sign is
    * canonicalized (dominant loading positive) since the eigenvector
    * is only defined up to ±. Scale shape: per round ONE corpus pass
    * (broadcast 64-double w, map-side dot) + a 64-row aggregate;
    * nothing driver-side, no collect. */
  val q228PcaAxis: QuerySpec = {
    val oracle = {
      def dot(v: String, w: String): String =
        s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |        list_transform(range(64), i -> $v[i+1] * $w[i+1])),
           |        (acc, p) -> acc + p)""".stripMargin
      def round(wPrev: String, n: Int): String =
        s"""d$n AS (SELECT e.vec_id, e.v,
           |    ${dot("e.v", "w.wv")} AS dot
           |  FROM e CROSS JOIN $wPrev w),
           |s$n AS (SELECT i.i AS pos,
           |    CAST(SUM(CAST(d$n.v[i.i+1] * d$n.dot AS DECIMAL(27,18))) AS DOUBLE) AS m
           |  FROM d$n CROSS JOIN range(64) i(i) GROUP BY i.i),
           |r$n AS (SELECT list(m ORDER BY pos) AS raw FROM s$n),
           |w$n AS (SELECT list_transform(raw, x -> x / sqrt(
           |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |      list_transform(raw, y -> y * y)), (acc, p) -> acc + p))) AS wv
           |  FROM r$n)""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |w0 AS (SELECT list_transform(range(64), i -> CAST(0.125 AS DOUBLE)) AS wv),
         |${round("w0", 1)},
         |${round("w1", 2)}
         |SELECT CAST(pos AS INT) AS dim,
         |  CAST(ROUND(x * sgn * 1e6) AS BIGINT) AS loading_e6
         |FROM (
         |  SELECT i.i AS pos, w2.wv[i.i+1] AS x,
         |    FIRST_VALUE(CASE WHEN w2.wv[i.i+1] < 0 THEN -1.0 ELSE 1.0 END)
         |      OVER (ORDER BY ABS(w2.wv[i.i+1]) DESC, i.i) AS sgn
         |  FROM w2 CROSS JOIN range(64) i(i)) t
         |ORDER BY ABS(x) DESC, dim LIMIT 8""".stripMargin
    }
    QuerySpec("q228_embed_pca_axis", oracle) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      val e = vecs(sp).staged // consumed by both rounds
      val w0 = sp.range(1)
        .select(expr("transform(sequence(0, 63), i -> CAST(0.125 AS DOUBLE))").as("wv"))
      val (w, _) = Checkpoints.iterate(w0, 2) { r =>
        val dots = e.join(broadcast(r.prev), lit(true))
          .select(col("vec_id"), col("v"),
            expr("aggregate(zip_with(v, wv, (a, b) -> a * b), CAST(0.0 AS DOUBLE), (acc, p) -> acc + p)")
              .as("dot"))
        val sums = dots
          .select(col("dot"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy(col("pos"))
          .agg(sum((col("x") * col("dot")).cast("decimal(27,18)")).cast("double").as("m"))
        sums
          .agg(expr("transform(sort_array(collect_list(struct(pos, m))), s -> s.m)").as("raw"))
          .select(expr(
            """transform(raw, x -> x / sqrt(
              |  aggregate(transform(raw, y -> y * y), CAST(0.0 AS DOUBLE), (acc, p) -> acc + p)))""".stripMargin)
            .as("wv"))
      } { (_, _, _) => true }
      w.select(posexplode(col("wv")).as(Seq("pos", "x")))
        .withColumn("sgn",
          first(when(col("x") < 0, -1.0).otherwise(1.0))
            .over(Window.orderBy(abs(col("x")).desc, col("pos"))))
        .orderBy(abs(col("x")).desc, col("pos"))
        .limit(8)
        .select(col("pos").cast("int").as("dim"),
          round(col("x") * col("sgn") * lit(1e6)).cast("bigint").as("loading_e6"))
    }
  }

  /** Corpus isotropy score — the SCALAR companion of [[q228PcaAxis]]'s
    * dominant direction: the mean pairwise cosine of all unit vectors,
    * computed WITHOUT pairs through the identity
    * `mean_{i≠j} cos(u_i,u_j) = (‖Σu‖² − n) / (n(n−1))` — one corpus
    * pass (in-row normalization, per-dim DECIMAL(27,18) sums) and then
    * O(dim) algebra, versus the O(n²) pair join the naive form needs.
    * A collapsed (anisotropic) embedding space scores near 1, a healthy
    * one near 0 — the standard representation-health check before
    * cosine-based dedup/ANN is trusted. Deterministic: the in-row
    * norm fold is index-ordered, per-dim sums are exact decimals, and
    * ‖Σu‖² accumulates per-term the same way. */
  val q245Isotropy: QuerySpec = QuerySpec(
    "q245_embed_isotropy",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |u AS (SELECT vec_id, list_transform(v, x -> x / sqrt(
      |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |          list_transform(v, y -> y * y)), (acc, p) -> acc + p))) AS u
      |      FROM e),
      |s AS (SELECT i.i AS pos,
      |        CAST(SUM(CAST(u.u[i.i + 1] AS DECIMAL(27,18))) AS DOUBLE) AS sv
      |      FROM u CROSS JOIN range(64) i(i) GROUP BY i.i),
      |agg AS (SELECT CAST(SUM(CAST(sv * sv AS DECIMAL(27,18))) AS DOUBLE) AS ss2
      |        FROM s),
      |n AS (SELECT COUNT(*) AS n FROM u)
      |SELECT CAST(n.n AS BIGINT) AS n_vecs,
      |  CAST(ROUND((agg.ss2 - n.n) / (n.n * (n.n - 1.0)) * 1e6) AS BIGINT)
      |    AS avg_pairwise_cos_e6,
      |  CAST(ROUND((1.0 - (agg.ss2 - n.n) / (n.n * (n.n - 1.0))) * 1e6) AS BIGINT)
      |    AS isotropy_e6
      |FROM agg CROSS JOIN n""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val u = vecs(sp).select(col("vec_id"),
      expr("""transform(v, x -> x / sqrt(
              |  aggregate(transform(v, y -> y * y), CAST(0.0 AS DOUBLE), (acc, p) -> acc + p)))""".stripMargin)
        .as("u"))
      .staged // feeds the per-dim sums AND the count
    val sums = u.select(posexplode(col("u")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(sum(col("x").cast("decimal(27,18)")).cast("double").as("sv"))
    val ss2 = sums.agg(
      sum((col("sv") * col("sv")).cast("decimal(27,18)")).cast("double").as("ss2"))
    val n = u.agg(count(lit(1)).as("n"))
    ss2.crossJoin(broadcast(n))
      .select(col("n").cast("bigint").as("n_vecs"),
        round((col("ss2") - col("n")) / (col("n") * (col("n") - lit(1.0))) * lit(1e6))
          .cast("bigint").as("avg_pairwise_cos_e6"),
        round((lit(1.0) - (col("ss2") - col("n"))
          / (col("n") * (col("n") - lit(1.0)))) * lit(1e6))
          .cast("bigint").as("isotropy_e6"))
  }

  /** Davies-Bouldin index of the GIVEN label partition (cosine
    * distance) — the cluster-validity number for labels we did not fit
    * ourselves ([[q211ClusterSilhouette]] grades our own k-means;
    * this grades the upstream labeling): DB = mean over clusters of
    * R_i = max_{j≠i} (S_i + S_j) / M_ij, with S the mean member→centroid
    * distance and M the centroid→centroid distance — lower is tighter.
    * Scale shape: centroids are one (label, pos) shuffle with exact
    * DECIMAL means (the q97 centroid rule), member distances are ONE
    * corpus pass against the broadcast k-row centroid table with
    * DECIMAL(38,18) accumulation, and everything after lives on the
    * k-row relation (k² pair grid, k ≪ anything). The max is taken on
    * already-rounded ratio_e6 with a label tie-break (house rank rule);
    * coincident centroids (M = 0) yield NULL ratios ranked last. */
  val q320DaviesBouldin: QuerySpec = QuerySpec(
    "q320_davies_bouldin",
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |c AS (SELECT label, list(m ORDER BY pos) AS cv FROM (
      |        SELECT label, pos,
      |          CAST(SUM(CAST(v[pos + 1] AS DECIMAL(27,18))) AS DOUBLE) / COUNT(*) AS m
      |        FROM (SELECT label, v, unnest(range(len(v))) AS pos FROM e) x
      |        GROUP BY label, pos) t GROUP BY label),
      |s AS (SELECT e.label, COUNT(*) AS n_members,
      |        CAST(SUM(CAST(1.0 - list_cosine_similarity(e.v, c.cv)
      |                 AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS s_i
      |      FROM e JOIN c ON e.label = c.label GROUP BY e.label),
      |sc AS (SELECT s.label, s.n_members, s.s_i, c.cv
      |       FROM s JOIN c ON s.label = c.label),
      |p AS (SELECT i.label, i.n_members, i.s_i, j.label AS jl,
      |        CASE WHEN 1.0 - list_cosine_similarity(i.cv, j.cv) = 0
      |             THEN CAST(NULL AS BIGINT)
      |             ELSE CAST(ROUND((i.s_i + j.s_i)
      |               / (1.0 - list_cosine_similarity(i.cv, j.cv)) * 1e6)
      |               AS BIGINT) END AS ratio_e6
      |      FROM sc i JOIN sc j ON i.label <> j.label),
      |r AS (SELECT label, n_members, s_i, jl, ratio_e6,
      |        ROW_NUMBER() OVER (PARTITION BY label
      |          ORDER BY ratio_e6 DESC NULLS LAST, jl) AS rk
      |      FROM p),
      |w AS (SELECT * FROM r WHERE rk = 1),
      |db AS (SELECT CAST(ROUND(CAST(SUM(CAST(ratio_e6 AS DECIMAL(38,6)))
      |           AS DOUBLE) / COUNT(*)) AS BIGINT) AS db_e6 FROM w)
      |SELECT w.label, w.n_members,
      |  CAST(ROUND(w.s_i * 1e6) AS BIGINT) AS s_e6,
      |  w.jl AS nearest_label, w.ratio_e6 AS r_e6, db.db_e6
      |FROM w CROSS JOIN db ORDER BY w.label""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val e = sp.table("embeddings").select(col("vec_id"), col("label"),
      expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
    val cents = e
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("x").cast("decimal(27,18)")).cast("double") / count(lit(1)))
        .as("m"))
      .groupBy(col("label"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, m))), s -> s.m)")
        .as("cv"))
    val sI = e.join(broadcast(cents), Seq("label"))
      .select(col("label"), (lit(1.0) - expr("vec_cosine(v, cv)")).as("dist"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"),
        (sum(col("dist").cast("decimal(38,18)")).cast("double") / count(lit(1)))
          .as("s_i"))
    val si = sI.join(cents, Seq("label")).staged
    val m = lit(1.0) - expr("vec_cosine(i.cv, j.cv)")
    val pairs = si.as("i").join(si.as("j"), col("i.label") =!= col("j.label"))
      .select(col("i.label").as("label"), col("i.n_members").as("n_members"),
        col("i.s_i").as("s_i"), col("j.label").as("jl"),
        when(m === 0, lit(null).cast("long"))
          .otherwise(round((col("i.s_i") + col("j.s_i")) / m * lit(1e6))
            .cast("long")).as("ratio_e6"))
    val worst = pairs
      .withColumn("rk", row_number().over(Window.partitionBy(col("label"))
        .orderBy(col("ratio_e6").desc_nulls_last, col("jl"))))
      .filter(col("rk") === 1)
      .staged
    val db = worst.agg(
      round(sum(col("ratio_e6").cast("decimal(38,6)")).cast("double")
        / count(lit(1))).cast("long").as("db_e6"))
    worst.join(broadcast(db), lit(true))
      .select(col("label"), col("n_members"),
        round(col("s_i") * lit(1e6)).cast("long").as("s_e6"),
        col("jl").as("nearest_label"), col("ratio_e6").as("r_e6"),
        col("db_e6"))
      .orderBy(col("label"))
  }

  val all: Seq[QuerySpec] = Seq(q97KmeansBalanced, q211ClusterSilhouette,
    q228PcaAxis, q245Isotropy, q320DaviesBouldin)
}
