package graft.llmops

import graft.llmops.Checkpoints.Stageable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuerySpec

/** Deduplication operators for large-scale training-data pipelines —
  * the LLM-ops extension beyond the reference's own surface (SURVEY §7,
  * llmops module). Every operator is designed 100 TB-first:
  *
  *  - exact dedup = hash-groupBy (one shuffle on the normalized key);
  *  - MinHash+LSH = shingle → signature → band-bucket join: candidate
  *    generation cost is O(docs × bands), never O(docs²) — the shuffle key
  *    is the band hash, and only bucket-colliding pairs are verified;
  *  - SimHash = per-row 64-bit signature + byte-pigeonhole bucket join
  *    (hamming ≤ 7 is guaranteed to collide on ≥ 1 of 8 bytes);
  *  - n-gram Jaccard = exact verification over MinHash-band candidate
  *    blocks (never all-pairs within a raw partition key);
  *  - embedding near-dup = exact cosine over hyperplane-LSH candidate
  *    blocks, with the semantic key (label) demoted to a secondary key.
  *
  * Every candidate-expansion stage goes through [[boundedPairs]], which
  * triangle-salts oversized blocks so per-task memory and pair compute
  * stay capped no matter how degenerate the key distribution is.
  *
  * All hash functions are seeded deterministic (xxhash64), so results are
  * identical on 1 or 10,000 partitions.
  */
object Dedup {

  /** Candidate-pair expansion from blocking keys with a HARD per-task
    * bound, the skew armor for every verify stage here: a degenerate
    * block (identical boilerplate, one dominant label) must not become
    * one task holding k ids and computing k² pairs.
    *
    * Input: columns (`bkey`: any blocking key, `id`: bigint). Output:
    * distinct (id_a < id_b) pairs of ids sharing a bkey — EXACTLY the
    * pairs of the naive per-block expansion, independent of `cap`.
    *
    * Blocks over `cap` are triangle-salted: each id gets a deterministic
    * salt g ∈ [0, s) with s = ceil(size/cap) and is replicated into the
    * s sub-blocks (min(g,b), max(g,b)); a pair with salts (gᵢ, gⱼ) meets
    * in exactly the sub-block (min, max), so recall is 100% while every
    * collected array stays ≤ ~2·cap regardless of block size. Total pair
    * work is unchanged (the candidate set itself is quadratic in a
    * degenerate block — that is inherent) but it is now spread across s²
    * bounded tasks instead of one unbounded one. Block sizes come from a
    * map-side-combined groupBy + join (not a window, which would buffer
    * the whole degenerate block in one partition; the join is AQE
    * skew-splittable). */
  /** Probe counter: how many [[boundedPairs]] calls took the salted
    * over-cap branch in this JVM. Test observability only (the skew
    * drill pins that a giant block really exercises the salted path
    * inside the full q81/q217 pipelines) — never read by planning. */
  private[graft] val saltedExpansions = new java.util.concurrent.atomic.AtomicLong

  /** `lenFilterE6 = Some(t·1e6)` switches the block expansion to
    * [[graft.functions.LongPairsLen]] over PACKED `(m << 40) | id`
    * values: the Jaccard length filter runs INSIDE the compiled
    * expansion loop (sorted block + sliding window), so
    * length-incompatible pairs are never generated, never distinct-ed,
    * never shuffled — the AllPairs length-ordering optimization. The
    * caller packs and unpacks; everything else (staging, salting, caps,
    * dedup) is unchanged. */
  def boundedPairs(keyed: DataFrame, cap: Int,
                   lenFilterE6: Option[Long] = None): DataFrame = {
    // materialize the blocking keys once: they are consumed twice (block
    // sizes + the expansion), and the upstream is typically the corpus
    // scan + signature pipeline — without this the whole shingle/minhash
    // pass would execute twice
    val k = keyed.staged
    val sizes = k.groupBy("bkey").agg(count(lit(1)).as("cnt")).staged
    // probe-and-branch: one O(1)-result action on the (already needed)
    // size aggregate. The common case — no block over cap — skips the
    // salt join and the replication explode entirely; the pair set is
    // IDENTICAL either way (spec-pinned), only the task bound changes.
    val maxCnt = sizes.agg(coalesce(max("cnt"), lit(0L))).head().getLong(0)
    val blocks =
      if (maxCnt <= cap) {
        k.groupBy(col("bkey"))
          .agg(collect_list(col("id")).as("ls"))
          .select(col("ls"), col("ls").as("rs"), lit(true).as("same"))
      } else {
        saltedExpansions.incrementAndGet()
        k.join(sizes, Seq("bkey"))
          .withColumn("s", ceil(col("cnt").cast("double") / cap).cast("int"))
          .withColumn("g", pmod(xxhash64(col("id")), col("s")).cast("int"))
          .select(col("bkey"), col("id"), col("g"), explode(expr("sequence(0, s - 1)")).as("b"))
          .select(col("bkey"), least(col("g"), col("b")).as("bi"),
            greatest(col("g"), col("b")).as("bj"), col("id"), col("g"))
          .groupBy(col("bkey"), col("bi"), col("bj"))
          .agg(
            collect_list(when(col("g") === col("bi"), col("id"))).as("ls"),
            collect_list(when(col("g") === col("bj"), col("id"))).as("rs"))
          .select(col("ls"), col("rs"), (col("bi") === col("bj")).as("same"))
      }
    // codegen'd block expansion (graft.functions.LongPairs[Len]) —
    // diagonal sub-blocks (same, ls = rs) emit each unordered pair once
    val pairExpr = lenFilterE6 match {
      case Some(t) => s"long_pairs_len(ls, rs, same, CAST($t AS BIGINT))"
      case None => "long_pairs(ls, rs, same)"
    }
    blocks
      .select(explode(expr(pairExpr)).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .distinct()
  }

  /** Bipartite sibling of [[boundedPairs]] for delta-vs-corpus probing:
    * distinct (id_l, id_r) pairs sharing a bkey across the two inputs,
    * never left×left or right×right. Each side is salted into
    * ceil(size/cap) sub-groups per bkey and replicated across the OTHER
    * side's group range, so a pair (l, r) meets in exactly the sub-block
    * (g_l, g_r): 100% recall, every collected array ≤ cap, and a
    * degenerate bucket (one boilerplate band key over most of the corpus)
    * becomes s_l·s_r bounded tasks instead of one unbounded one. Only
    * bkeys present on BOTH sides survive the sizes join — a corpus-only
    * bucket costs nothing downstream. */
  def boundedPairsBipartite(leftKeyed: DataFrame, rightKeyed: DataFrame, cap: Int): DataFrame = {
    // both sides are consumed twice (sizes + expansion) — see boundedPairs
    val left = leftKeyed.staged
    val right = rightKeyed.staged
    val sizes = left.groupBy("bkey").agg(count(lit(1)).as("lcnt"))
      .join(right.groupBy("bkey").agg(count(lit(1)).as("rcnt")), Seq("bkey"))
      .staged
    // probe-and-branch as in boundedPairs: identical pairs, bounded tasks
    // only when some bucket actually needs them
    val maxCnt = sizes.agg(coalesce(greatest(max("lcnt"), max("rcnt")), lit(0L)))
      .head().getLong(0)
    val blocks =
      if (maxCnt <= cap) {
        left.groupBy("bkey").agg(collect_list(col("id")).as("ls"))
          .join(right.groupBy("bkey").agg(collect_list(col("id")).as("rs")), Seq("bkey"))
      } else {
        val sized = sizes
          .withColumn("sl", ceil(col("lcnt").cast("double") / cap).cast("int"))
          .withColumn("sr", ceil(col("rcnt").cast("double") / cap).cast("int"))
          .select("bkey", "sl", "sr")
        val lg = left.join(sized, Seq("bkey"))
          .withColumn("bi", pmod(xxhash64(col("id")), col("sl")).cast("int"))
          .select(col("bkey"), col("bi"), explode(expr("sequence(0, sr - 1)")).as("bj"), col("id"))
          .groupBy("bkey", "bi", "bj").agg(collect_list(col("id")).as("ls"))
        val rg = right.join(sized, Seq("bkey"))
          .withColumn("bj", pmod(xxhash64(col("id")), col("sr")).cast("int"))
          .select(col("bkey"), explode(expr("sequence(0, sl - 1)")).as("bi"), col("bj"), col("id"))
          .groupBy("bkey", "bi", "bj").agg(collect_list(col("id")).as("rs"))
        lg.join(rg, Seq("bkey", "bi", "bj"))
      }
    blocks
      // NOT long_pairs: the sides carry distinct roles (delta vs corpus)
      // that its (min, max) normalization would erase, so pairs keep
      // (left, right) orientation
      .select(explode(expr(
        "flatten(transform(ls, x -> transform(rs, y -> named_struct('l', x, 'r', y))))")).as("p"))
      .select(col("p.l").as("id_l"), col("p.r").as("id_r"))
      .distinct()
  }

  /** Exact deduplication on normalized text (lowercase + whitespace
    * collapse): the survivors-per-language report. One hash shuffle. */
  val q80Exact: QuerySpec = QuerySpec.sql2(
    "q80_dedup_exact",
    """SELECT lang,
      |  COUNT(*) AS n_docs,
      |  COUNT(DISTINCT regexp_replace(lower(text), ' +', ' ')) AS n_unique,
      |  COUNT(*) - COUNT(DISTINCT regexp_replace(lower(text), ' +', ' ')) AS n_dups
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin,
    """SELECT lang,
      |  COUNT(*) AS n_docs,
      |  COUNT(DISTINCT regexp_replace(lower(text), ' +', ' ', 'g')) AS n_unique,
      |  COUNT(*) - COUNT(DISTINCT regexp_replace(lower(text), ' +', ' ', 'g')) AS n_dups
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin)

  /** Spark-side word-3-gram shingle set (distinct, hashed to i64) — a
    * single-pass custom expression (graft.functions.Shingles64). */
  private val shingleSql = "shingles64(text)"

  /** Verified near-duplicate pairs at word-3-gram Jaccard ≥ 0.8 —
    * the LSH pipeline shared by [[q81MinHashLsh]] and the dedup-method
    * ablation report (q208/q209). Returns (doc_id_a < doc_id_b, j).
    *
    * 64 minhashes in one pass (graft.functions.MinHash64); band b hashes
    * signature rows [4b, 4b+4). ONE corpus-wide shingle+signature pass:
    * bucket pairs expand through boundedPairs (skew armor — a bucket of
    * identical boilerplate becomes bounded sub-tasks, never one O(k²)
    * task), and the exact-Jaccard verify recomputes shingles only for
    * the (few) candidate docs after a semi-join (no broadcast hint: the
    * candidate set is O(corpus) in a duplicate-heavy corpus, so AQE
    * picks broadcast vs shuffle from the actual size). */
  private def nearDupJaccard(sp: SparkSession): DataFrame = {
    // localCheckpoint: `pairs` is consumed three times below (both candId
    // branches + the verify join) — without materialization the whole
    // corpus scan+shuffle pipeline would re-execute per consumer.
    val keyed = sp.table("documents")
      .select(col("doc_id"),
        posexplode(expr(s"lshbands64(minhash64($shingleSql))")).as(Seq("band", "key")))
      .select(struct(col("band"), col("key")).as("bkey"), col("doc_id").as("id"))
    val pairs = boundedPairs(keyed, cap = 256)
      .select(col("id_a").as("doc_id_a"), col("id_b").as("doc_id_b"))
      .staged
    val candIds = pairs.select(col("doc_id_a").as("doc_id"))
      .union(pairs.select(col("doc_id_b").as("doc_id"))).distinct()
    // localCheckpoint: `g` feeds BOTH sides of the verify join below —
    // without materialization its subtree (corpus scan + semi-join +
    // shingle pass) executes twice, and ReuseExchange does not dedupe it
    // (the consumers differ). One candidate-bounded materialization
    // saves a full corpus scan + shingle pass per run.
    val g = sp.table("documents")
      .join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), expr(shingleSql).as("sh"))
      .staged
    pairs
      .join(g.select(col("doc_id").as("doc_id_a"), col("sh").as("sh_a")), Seq("doc_id_a"))
      .join(g.select(col("doc_id").as("doc_id_b"), col("sh").as("sh_b")), Seq("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("j"))
      .filter(col("j") >= 0.8)
  }

  /** The near-dup graph as directed `(src, dst)` edges, both directions —
    * the edge relation of the graph loops (q215, q220, q244, q395).
    * Staged: the pairs feed both directions, and the edges feed every
    * round. */
  private def nearDupEdges(sp: SparkSession): DataFrame = {
    val pairs = nearDupJaccard(sp)
      .select(col("doc_id_a"), col("doc_id_b")).staged
    pairs.select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
      .unionByName(pairs.select(col("doc_id_b").as("src"), col("doc_id_a").as("dst")))
      .staged
  }

  /** The DuckDB-side exact all-pairs grounding of [[nearDupJaccard]]:
    * CTEs `g` (word-3-gram shingle sets) and `np` (verified pairs). */
  private val nearDupOracleCtes =
    """g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(string_split(text,' ')) < 3 THEN [text]
      |         ELSE list_distinct(list_transform(range(len(string_split(text,' ')) - 2),
      |           i -> string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2] || ' ' || string_split(text,' ')[i+3])) END AS sh
      |  FROM documents),
      |np AS (
      |  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      |  FROM g a JOIN g b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / len(list_distinct(a.sh || b.sh)) >= 0.8)""".stripMargin

  /** Asymmetric shingle CONTAINMENT ≥ 0.9 — quote/subset detection, the
    * dedup axis Jaccard cannot see: a paragraph quoted inside a long
    * document has tiny Jaccard but containment ≈ 1, and training-data
    * curation wants exactly those pairs (boilerplate inclusion, quoted
    * reposts, doc-in-doc concatenations). MinHash bands estimate
    * JACCARD, so the q81 candidates would miss small-in-large pairs;
    * candidates here come from the standard containment machinery
    * instead — a DF-PRUNED shingle inverted index (shingles with
    * document frequency > maxDf are stop-shingles: they cost df² pair
    * work and carry no identifying signal; the prune is part of the
    * operator's declared semantics, applied identically by the oracle,
    * so recall parity is exact by construction). Block expansion runs
    * through [[boundedPairs]] (skew armor), the exact verify touches
    * candidates only, and the ≥ threshold compares exact INTEGERS
    * (inter·10 ≥ n·9) — no double boundary. Both directions emit:
    * (doc_small contained-in doc_big). */
  val q276Containment: QuerySpec = QuerySpec(
    "q276_dedup_containment",
    s"""WITH $nearDupOracleCtes,
       |e AS (SELECT doc_id, unnest(sh) AS s FROM g),
       |df AS (SELECT s, COUNT(*) AS df FROM e GROUP BY s),
       |keep AS (SELECT e.doc_id, e.s FROM e JOIN df ON e.s = df.s WHERE df.df <= 50),
       |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |         FROM keep a JOIN keep b ON a.s = b.s AND a.doc_id < b.doc_id),
       |v AS (SELECT ida, idb,
       |        len(list_intersect(ga.sh, gb.sh)) AS inter,
       |        len(ga.sh) AS na, len(gb.sh) AS nb
       |      FROM cand
       |      JOIN g ga ON ga.doc_id = ida
       |      JOIN g gb ON gb.doc_id = idb),
       |out AS (
       |  SELECT ida AS doc_small, idb AS doc_big,
       |    CAST(ROUND(inter * 1e6 / na) AS BIGINT) AS containment_e6
       |  FROM v WHERE na >= 5 AND inter * 10 >= na * 9
       |  UNION ALL
       |  SELECT idb, ida, CAST(ROUND(inter * 1e6 / nb) AS BIGINT)
       |  FROM v WHERE nb >= 5 AND inter * 10 >= nb * 9)
       |SELECT doc_small, doc_big, containment_e6 FROM out
       |ORDER BY doc_small, doc_big""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val g = sp.table("documents")
      .select(col("doc_id"), expr(shingleSql).as("sh"))
      .staged // inverted index + both verify sides
    val e = g.select(col("doc_id"), explode(col("sh")).as("s"))
    val keep = e.join(
      e.groupBy("s").agg(count(lit(1)).as("df")).filter(col("df") <= 50), "s")
    val pairs = boundedPairs(
      keep.select(col("s").as("bkey"), col("doc_id").as("id")), cap = 256)
    val v = pairs
      .join(g.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(g.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"),
        size(col("sh_a")).as("na"), size(col("sh_b")).as("nb"))
      .staged // both direction filters below
    val fwd = v.filter(col("na") >= 5 && col("inter") * 10 >= col("na") * 9)
      .select(col("id_a").as("doc_small"), col("id_b").as("doc_big"),
        round(col("inter") * lit(1e6) / col("na")).cast("bigint").as("containment_e6"))
    val rev = v.filter(col("nb") >= 5 && col("inter") * 10 >= col("nb") * 9)
      .select(col("id_b").as("doc_small"), col("id_a").as("doc_big"),
        round(col("inter") * lit(1e6) / col("nb")).cast("bigint").as("containment_e6"))
    fwd.unionByName(rev).orderBy(col("doc_small"), col("doc_big"))
  }

  /** MOSS-style clone-pair detection via shared robust-winnowing
    * fingerprints (the cross-doc application of q286's per-doc
    * fingerprint): char 16-gram hashes winnowed with window 8, pairs
    * sharing ≥ 5 fingerprints AND ≥ 50% of the smaller doc's
    * fingerprint set. Winnowing's guarantee makes this the LOCAL
    * overlap detector (any shared run of k+w−1 = 23 chars leaves a
    * shared fingerprint) that set-based Jaccard (q81) and containment
    * (q276) approximate only globally. Candidates come from a
    * DF-pruned inverted fingerprint index (df ≤ 20 stop-fingerprints
    * are part of the declared semantics, applied identically by the
    * oracle — parity exact by construction) expanded through the
    * capped salted [[boundedPairs]]; verification intersects the full
    * per-doc fingerprint arrays on candidates only. Thresholds compare
    * exact integers (shared·2 ≥ min-set). */
  val q292WinnowingClones: QuerySpec = {
    val duckFp =
      """g AS (SELECT doc_id,
        |  list_transform(range(0, length(text) - 16 + 1),
        |    i -> ('0x' || substr(md5(substr(text, i + 1, 16)), 1, 8))::BIGINT
        |         * 1048576 + (1048575 - i)) AS hs
        |  FROM documents WHERE length(text) >= 23),
        |f AS (SELECT doc_id,
        |  list_distinct(list_transform(list_transform(range(0, len(hs) - 8 + 1),
        |    s -> list_aggregate(hs[s + 1:s + 8], 'min')), k -> k // 1048576)) AS fp
        |  FROM g)""".stripMargin
    val sparkFp =
      """array_distinct(transform(
        |  transform(sequence(0, size(hs) - 8), s -> array_min(slice(hs, s + 1, 8))),
        |  k -> CAST(k div 1048576 AS BIGINT)))""".stripMargin
    val sparkHs =
      """transform(sequence(0, length(text) - 16),
        |  i -> cast(conv(substr(md5(substr(text, i + 1, 16)), 1, 8), 16, 10) AS BIGINT)
        |       * 1048576 + (1048575 - i))""".stripMargin
    QuerySpec(
      "q292_winnowing_clones",
      s"""WITH $duckFp,
         |e AS (SELECT doc_id, unnest(fp) AS h FROM f),
         |df AS (SELECT h, COUNT(*) AS df FROM e GROUP BY h),
         |keep AS (SELECT e.doc_id, e.h FROM e JOIN df ON e.h = df.h WHERE df.df <= 20),
         |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         |         FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id),
         |v AS (SELECT ida, idb,
         |        len(list_intersect(fa.fp, fb.fp)) AS shared,
         |        LEAST(len(fa.fp), len(fb.fp)) AS mn
         |      FROM cand
         |      JOIN f fa ON fa.doc_id = ida
         |      JOIN f fb ON fb.doc_id = idb)
         |SELECT ida AS doc_id_a, idb AS doc_id_b,
         |  CAST(shared AS BIGINT) AS shared_fp,
         |  CAST(ROUND(shared * 1e6 / CAST(mn AS DOUBLE)) AS BIGINT) AS overlap_e6
         |FROM v WHERE shared >= 5 AND shared * 2 >= mn
         |ORDER BY doc_id_a, doc_id_b""".stripMargin) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      val f = sp.table("documents")
        .filter(length(col("text")) >= 23)
        .withColumn("hs", expr(sparkHs))
        .select(col("doc_id"), expr(sparkFp).as("fp"))
        .staged // inverted index + both verify sides
      val e = f.select(col("doc_id"), explode(col("fp")).as("h"))
      val keep = e.join(
        e.groupBy("h").agg(count(lit(1)).as("df")).filter(col("df") <= 20), "h")
      val pairs = boundedPairs(
        keep.select(col("h").as("bkey"), col("doc_id").as("id")), cap = 256)
      pairs
        .join(f.select(col("doc_id").as("id_a"), col("fp").as("fa")), "id_a")
        .join(f.select(col("doc_id").as("id_b"), col("fp").as("fb")), "id_b")
        .select(col("id_a"), col("id_b"),
          size(array_intersect(col("fa"), col("fb"))).as("shared"),
          least(size(col("fa")), size(col("fb"))).as("mn"))
        .filter(col("shared") >= 5 && col("shared") * 2 >= col("mn"))
        .select(col("id_a").as("doc_id_a"), col("id_b").as("doc_id_b"),
          col("shared").cast("bigint").as("shared_fp"),
          round(col("shared") * lit(1e6) / col("mn").cast("double"))
            .cast("bigint").as("overlap_e6"))
        .orderBy(col("doc_id_a"), col("doc_id_b"))
    }
  }

  /** MinHash + LSH near-duplicate pairs at Jaccard ≥ 0.8.
    *
    * Pipeline: shingle (word 3-grams, hashed) → 64-hash MinHash signature
    * → 16 bands × 4 rows → band-bucket self-join → exact-Jaccard verify.
    * With r=4, b=16 a pair at J=0.9 is missed with prob (1-0.9⁴)¹⁶ ≈ 4e-8,
    * so the exact all-pairs DuckDB oracle is a safe differential check at
    * test scale while the Spark plan stays O(n·bands) at 100 TB. */
  val q81MinHashLsh: QuerySpec = QuerySpec(
    "q81_dedup_minhash_lsh",
    """WITH g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(string_split(text,' ')) < 3 THEN [text]
      |         ELSE list_distinct(list_transform(range(len(string_split(text,' ')) - 2),
      |           i -> string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2] || ' ' || string_split(text,' ')[i+3])) END AS sh
      |  FROM documents)
      |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
      |  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / len(list_distinct(a.sh || b.sh)), 4) AS jaccard
      |FROM g a JOIN g b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |      / len(list_distinct(a.sh || b.sh)) >= 0.8
      |ORDER BY doc_id_a, doc_id_b""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    nearDupJaccard(sp)
      .select(col("doc_id_a"), col("doc_id_b"), round(col("j"), 4).as("jaccard"))
      .orderBy(col("doc_id_a"), col("doc_id_b"))
  }

  /** SimHash near-duplicate pairs: per-row 64-bit signature over word
    * hashes (custom Expression, graft.functions.SimHash64), then a
    * byte-pigeonhole bucket join — any pair at hamming ≤ 7 shares at
    * least one of the 8 signature bytes, so candidate generation is
    * O(docs × 8), not O(docs²), with 100% recall (≤7 flipped bits
    * cannot touch all 8 bytes). Because recall is exact, the all-pairs
    * DuckDB oracle is the *same* result set, not an approximation: the
    * oracle re-derives the per-word FNV-1a 64 feature hash in HUGEINT
    * (the q120 recipe), takes the bit-majority per doc, and compares
    * every pair's popcount(xor). Word hash is our portable fnv_hash —
    * deterministic across engines and partitionings. */
  val q82SimHash: QuerySpec = {
    // ASCII-corpus assumption: this oracle hashes per-CHARACTER code
    // points (ascii(substr(...))), while Spark's fnv_hash hashes UTF-8
    // BYTES — identical only while every word is pure ASCII, which the
    // synthetic documents fixture guarantees (TESTDATA.md). DuckDB
    // cannot subscript BLOB bytes, so a byte-exact replay would need a
    // manual code-point→UTF-8 expansion (see q120's explicit byte-image
    // recipe for the general pattern). Revisit if the fixture ever
    // grows non-ASCII words.
    val fnvWord =
      """list_reduce(list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(length(word)), i -> CAST(ascii(substr(word, CAST(i+1 AS INT), 1)) AS HUGEINT))),
        |      (h, x) -> ((h - (h % 256) + xor(CAST(h % 256 AS BIGINT), CAST(x AS BIGINT))) * 1099511628211)
        |                % CAST('18446744073709551616' AS HUGEINT))""".stripMargin
    def signed(h: String): String =
      s"""CAST(CASE WHEN $h >= CAST('9223372036854775808' AS HUGEINT)
         |          THEN $h - CAST('18446744073709551616' AS HUGEINT) ELSE $h END AS BIGINT)""".stripMargin
    QuerySpec(
      "q82_dedup_simhash",
      s"""WITH w AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |h AS (
         |  SELECT doc_id, ${signed(fnvWord)} AS h FROM w),
         |bits AS (
         |  SELECT doc_id, r.b,
         |    SUM(CASE WHEN ((h >> r.b) & 1) = 1 THEN 1 ELSE -1 END) AS cnt
         |  FROM h CROSS JOIN (SELECT unnest(range(64)) AS b) r
         |  GROUP BY doc_id, r.b),
         |sig AS (
         |  SELECT doc_id,
         |    ${signed("SUM(CASE WHEN cnt > 0 THEN (CAST(1 AS HUGEINT) << b) ELSE CAST(0 AS HUGEINT) END)")} AS sh
         |  FROM bits GROUP BY doc_id)
         |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |  bit_count(xor(a.sh, b.sh)) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 7
         |ORDER BY doc_id_a, doc_id_b""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val docs = sp.table("documents").select(col("doc_id"),
      expr("simhash64(transform(split(text, ' '), w -> fnv_hash(w)))").as("sh"))
    val bytes = docs.select(col("doc_id"), col("sh"),
      explode(expr(
        "transform(sequence(0, 7), i -> named_struct('bi', i, 'bv', (sh >> (i * 8)) & 255))")).as("bk"))
      .select(col("doc_id"), col("sh"), col("bk.bi").as("bi"), col("bk.bv").as("bv"))
    val a = bytes.select(col("bi"), col("bv"), col("doc_id").as("doc_id_a"), col("sh").as("sh_a"))
    val b = bytes.select(col("bi"), col("bv"), col("doc_id").as("doc_id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("bi", "bv"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        expr("bit_count(sh_a ^ sh_b)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 7)
      .orderBy(col("doc_id_a"), col("doc_id_b"))
    }
  }

  /** Exact character-3-gram Jaccard near-duplicate pairs within a
    * `source` (threshold 0.6). The pair space is NOT all-pairs-per-
    * source (a dominant crawl source would make that O(k²) over most of
    * the corpus): candidates come from MinHash band buckets — 64 bands
    * of width 1 over the fnv-hashed gram set, keyed (band, minhash,
    * source) — expanded through [[boundedPairs]], then exact Jaccard
    * verifies only the colliding pairs. A pair at J ≥ 0.6 shares a
    * given minhash with prob ≥ 0.6, so it is missed by all 64 bands
    * with prob ≤ 0.4⁶⁴ ≈ 1e-25: the exact all-pairs DuckDB oracle
    * remains a safe differential check while the Spark plan stays
    * O(docs × 64) with bounded per-task blocks at 100 TB. */
  val q83NgramJaccard: QuerySpec = {
    val grams = "array_distinct(transform(sequence(0, length(text) - 3), i -> substr(text, i + 1, 3)))"
    QuerySpec(
      "q83_dedup_ngram_jaccard",
      """WITH g AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(range(length(text) - 2),
        |      i -> substr(text, i + 1, 3))) AS gr
        |  FROM documents)
        |SELECT a.source AS source, a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  ROUND(CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE)
        |        / len(list_distinct(a.gr || b.gr)), 4) AS jaccard3
        |FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE)
        |      / len(list_distinct(a.gr || b.gr)) >= 0.6
        |ORDER BY source, doc_id_a, doc_id_b""".stripMargin) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      val keyed = sp.table("documents")
        .filter(col("source").isNotNull)
        .select(col("doc_id"), col("source"),
          posexplode(expr(s"minhash64(transform($grams, g -> fnv_hash(g)))")).as(Seq("band", "key")))
        .select(struct(col("band"), col("key"), col("source")).as("bkey"),
          col("doc_id").as("id"))
      val pairs = boundedPairs(keyed, cap = 256).staged
      val candIds = pairs.select(col("id_a").as("doc_id"))
        .union(pairs.select(col("id_b").as("doc_id"))).distinct()
      // no broadcast hint: candidate ids are O(corpus) when duplicates
      // dominate — AQE decides broadcast vs shuffle from the actual size
      val g = sp.table("documents")
        .join(candIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("source"), expr(grams).as("gr"))
      pairs
        .join(g.select(col("doc_id").as("id_a"), col("source"), col("gr").as("gr_a")), Seq("id_a"))
        .join(g.select(col("doc_id").as("id_b"), col("gr").as("gr_b")), Seq("id_b"))
        .select(col("source"), col("id_a"), col("id_b"),
          (size(array_intersect(col("gr_a"), col("gr_b"))).cast("double") /
            size(array_union(col("gr_a"), col("gr_b")))).as("j"))
        .filter(col("j") >= 0.6)
        .select(col("source"), col("id_a").as("doc_id_a"), col("id_b").as("doc_id_b"),
          round(col("j"), 4).as("jaccard3"))
        .orderBy(col("source"), col("doc_id_a"), col("doc_id_b"))
    }
  }

  /** Embedding cosine near-duplicates within a `label` (threshold 0.4),
    * double-precision dot/norms evaluated element-in-order on both
    * engines so values agree bit-for-bit before rounding.
    *
    * WHY a bounded blocked scan and NOT hyperplane LSH: θ = 0.4 sits
    * next to the random-pair cosine background (in this corpus, p99 of
    * intra-label cosines ≈ 0.3, median ≈ 0). Per-hyperplane agreement is
    * a(c) = 1 − acos(c)/π, i.e. a(0.4) = 0.631 vs a(0) = 0.5 — so for a
    * near-zero miss bound exp(−b·a(θ)ʳ) = ε, the bands needed are
    * b = ln(1/ε)/a(θ)ʳ and a background pair still collides somewhere
    * with expected count b·a(0)ʳ = ln(1/ε)·(0.5/0.631)ʳ — at ε = 1e-6
    * that stays > 1 until r ≈ 12, where b ≈ 55,000 bands. No (r, b) is
    * simultaneously high-recall and selective this close to background;
    * the previous 32-band/2-bit formulation collected a cos≈0 pair with
    * prob 1−0.75³² ≈ 0.9999 — ALL pairs, expanded 32× then deduped: a
    * blocked all-pairs scan in disguise, at 32× the cost. (Hyperplane
    * LSH is the right tool in the selective regime θ ≥ ~0.9 — see
    * [[q155PlantedNearDup]].)
    *
    * So the scan is honest and bounded instead: label blocks are
    * triangle-salted exactly like [[boundedPairs]] (g = xxhash64(id) mod
    * ceil(k/cap), a pair meets in exactly the sub-block (min g, max g) —
    * 100% recall, per-task arrays ≤ 2·cap, one block per pair so no
    * downstream distinct), and each bounded block runs through the
    * codegen'd kernel graft.functions.CosinePairs: exact cosine inside
    * the expansion, only surviving pairs ever become rows. Two shuffles
    * total (block sizes + the block groupBy); the k² flops per label are
    * inherent to the θ-near-background semantics, but they are compiled,
    * bounded per task, and spread across ceil(k/cap)² AQE-splittable
    * tasks. Its interpreted-lambda LSH predecessor benched 6.7 s warm at
    * sf0.1; this plan is ~0.3 s. */
  val q84EmbeddingCosine: QuerySpec = QuerySpec(
    "q84_dedup_embedding_cosine",
    """SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
      |  ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
      |FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
      |ORDER BY label, id_a, id_b""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val cap = 256
    val e = sp.table("embeddings")
      .filter(col("label").isNotNull)
      .select(col("vec_id"), col("label"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
    val sizes = e.groupBy("label").agg(count(lit(1)).as("cnt"))
    val blocks = e.join(sizes, Seq("label"))
      .withColumn("s", ceil(col("cnt").cast("double") / cap).cast("int"))
      .withColumn("g", pmod(xxhash64(col("vec_id")), col("s")).cast("int"))
      .select(col("label"), col("g"), explode(expr("sequence(0, s - 1)")).as("b"),
        struct(col("vec_id"), col("v")).as("iv"))
      .select(col("label"), least(col("g"), col("b")).as("bi"),
        greatest(col("g"), col("b")).as("bj"), col("iv"), col("g"))
      .groupBy("label", "bi", "bj")
      .agg(collect_list(when(col("g") === col("bi"), col("iv"))).as("ls"),
        collect_list(when(col("g") === col("bj"), col("iv"))).as("rs"))
    blocks
      .select(col("label"),
        explode(expr("cosine_pairs(ls, rs, CAST(0.4 AS DOUBLE), bi = bj)")).as("p"))
      .select(col("label"), col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        round(col("p.cos"), 6).as("cos"))
      .orderBy(col("label"), col("id_a"), col("id_b"))
  }

  /** Planted-twin near-duplicate detection at θ = 0.95 — hyperplane LSH
    * in its SELECTIVE regime (the complement of [[q84EmbeddingCosine]]'s
    * analysis). The corpus is the embeddings table unioned with a
    * deterministic "re-encoded" twin of every vector (vec_id + 10⁷,
    * component i scaled by 1 + 0.04·((i mod 7) − 3)/3 — pure arithmetic,
    * so DuckDB replays it bit-for-bit): twins sit at cos ≈ 0.999 while
    * unrelated pairs stay ≤ ~0.5, the planted analogue of re-crawled /
    * re-encoded content.
    *
    * Blocking: 256 hyperplanes → 16 bands × 16 sign bits
    * (graft.functions.HyperplaneBands64, seed-strided xxhash64 parity).
    * At cos = 0.999 a band matches with a(0.999)¹⁶ ≈ 0.85, so a twin
    * pair is missed by all 16 bands with prob 0.15¹⁶ ≈ 7e-14; a
    * background pair (cos ≈ 0) matches a band with 0.5¹⁶ = 1.5e-5 —
    * expected spurious candidates 16·1.5e-5 ≈ 2.4e-4 per pair, i.e. the
    * candidate set is ~linear in the corpus, NOT all-pairs: this is the
    * regime where banding genuinely prunes. Candidates expand through
    * [[boundedPairs]] (skew armor) and exact vec_cosine verifies. */
  val q155PlantedNearDup: QuerySpec = {
    val twinSql =
      """zip_with(v, sequence(0, size(v) - 1),
        |  (x, i) -> x * (1D + 0.04D * CAST((i % 7) - 3 AS DOUBLE) / 3D))""".stripMargin
    QuerySpec(
      "q155_dedup_planted_lsh",
      """WITH base AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |u AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 10000000,
        |    list_transform(list_zip(v, range(len(v))),
        |      p -> p[1] * (1 + 0.04 * CAST((p[2] % 7) - 3 AS DOUBLE) / 3)) AS v
        |  FROM base)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
        |FROM u a JOIN u b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.95
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      val base = sp.table("embeddings")
        .select(col("vec_id"), expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
      val u = base.unionAll(
        base.select((col("vec_id") + 10000000L).as("vec_id"), expr(twinSql).as("v")))
        .staged // consumed by the banding AND the verify below
      val keyed = u
        .select(col("vec_id"),
          posexplode(expr("hyperplanebands64(v, 256, 16)")).as(Seq("band", "key")))
        .select(struct(col("band"), col("key")).as("bkey"), col("vec_id").as("id"))
      val pairs = boundedPairs(keyed, cap = 256)
      pairs
        .join(u.select(col("vec_id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
        .join(u.select(col("vec_id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"), expr("vec_cosine(v_a, v_b)").as("c"))
        .filter(col("c") >= 0.95)
        .select(col("id_a"), col("id_b"), round(col("c"), 6).as("cos"))
        .orderBy(col("id_a"), col("id_b"))
    }
  }

  /** Semantic deduplication (SemDeDup, Abbas et al., "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"):
    * cluster the embedding space coarsely, then remove within-cluster
    * semantic duplicates, keeping one representative per duplicate set.
    * This is the composition the paper runs at web scale — k-means
    * restricts the quadratic near-dup search to cluster-sized blocks —
    * expressed here as: IVF-style nearest-centroid assignment (the q87
    * machinery: deterministic modular centroid sample, cosine argmax
    * with total tie order), cluster-keyed candidate expansion through
    * [[boundedPairs]] (the skew armor — a degenerate cluster cannot
    * become one quadratic task), exact vec_cosine verify at θ = 0.4
    * (this corpus's near-dup regime — see q84's selectivity analysis:
    * the synthetic embeddings top out near cos 0.5, so 0.4 plays the
    * role 0.95 plays on a real embedding space), and the
    * keep-lowest-id rule: a vector is removed iff a lower-id
    * θ-neighbor shares its cluster, with dup_of = the smallest such id.
    * Scale shape: one broadcast of the centroids, one cluster-keyed
    * shuffle, pair work bounded per task; the removal set (not the
    * corpus) is the output. */
  val q164SemDeDup: QuerySpec = QuerySpec(
    "q164_dedup_semantic",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id % 50 = 0),
      |assigned AS (
      |  SELECT vec_id, v, cent_id FROM (
      |    SELECT e.vec_id, e.v, c.cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id) AS crank
      |    FROM e CROSS JOIN cents c) t WHERE crank = 1),
      |p AS (
      |  SELECT a.vec_id AS ia, b.vec_id AS ib, a.cent_id AS cluster,
      |         list_cosine_similarity(a.v, b.v) AS c
      |  FROM assigned a JOIN assigned b
      |    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.v, b.v) >= 0.4)
      |SELECT ib AS vec_id, CAST(cluster AS BIGINT) AS cluster,
      |       ia AS dup_of, ROUND(c, 6) AS cos
      |FROM (SELECT ib, cluster, ia, c,
      |             ROW_NUMBER() OVER (PARTITION BY ib ORDER BY ia) AS r
      |      FROM p) t
      |WHERE r = 1
      |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val w = org.apache.spark.sql.expressions.Window
    val e = sp.table("embeddings")
      .select(col("vec_id"), expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
      .staged // consumed by assignment AND the pair verify
    val cents = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val assigned = e.join(broadcast(cents), lit(true))
      .select(col("vec_id"), col("cent_id"),
        expr("vec_cosine(v, cv)").as("cc"))
      .withColumn("crank", row_number().over(
        w.partitionBy(col("vec_id")).orderBy(col("cc").desc, col("cent_id"))))
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("cent_id"))
      .staged // consumed by the pair keying AND the output join
    val keyed = assigned
      .select(col("cent_id").as("bkey"), col("vec_id").as("id"))
    val pairs = boundedPairs(keyed, cap = 256)
    pairs
      .join(e.select(col("vec_id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), expr("vec_cosine(v_a, v_b)").as("c"))
      .filter(col("c") >= 0.4)
      .withColumn("r", row_number().over(
        w.partitionBy(col("id_b")).orderBy(col("id_a"))))
      .filter(col("r") === 1)
      .join(assigned.select(col("vec_id").as("id_b"), col("cent_id")), Seq("id_b"))
      .select(col("id_b").as("vec_id"), col("cent_id").cast("long").as("cluster"),
        col("id_a").as("dup_of"), round(col("c"), 6).as("cos"))
      .orderBy(col("vec_id"))
  }

  /** Connected components by min-label propagation WITH POINTER DOUBLING,
    * iterated to fixpoint: each round every node adopts the smallest of
    * (its own label, its neighbors' labels, its label's label). The
    * label-of-label shortcut halves the depth of any label-forwarding
    * chain per round (the classic pointer-doubling/shortcutting step of
    * MapReduce connected components, cf. Kiveris et al., "Connected
    * Components in MapReduce and Beyond"), so convergence is O(log
    * diameter) rounds instead of O(diameter) — an adversarially long
    * chain at 100 TB costs ~log2(d) shuffles, not d. Correctness is
    * unchanged: a label is always the id of some member of the same
    * component, so min-folding labels-of-labels can never jump
    * components, and the loop still stops only when a round changes zero
    * labels (a fixed round count would silently under-merge). Two joins
    * + one groupBy per round plus an O(1)-result convergence probe;
    * labels are staged per round so lineage stays flat, and each
    * round's superseded checkpoint is released once the next one is
    * materialized ([[Checkpoints.iterate]]), so block-manager storage
    * stays O(1) in the round count. */
  def connectedComponents(edges: DataFrame): DataFrame =
    connectedComponentsWithRounds(edges)._1

  /** [[connectedComponents]] plus the number of rounds the fixpoint loop
    * ran — exposed so tests can pin the O(log diameter) bound. */
  def connectedComponentsWithRounds(edges: DataFrame): (DataFrame, Int) = {
    val init = edges.select(col("src").as("doc_id"), col("src").as("cluster"))
      .unionAll(edges.select(col("dst").as("doc_id"), col("dst").as("cluster")))
      .groupBy("doc_id").agg(min("cluster").as("cluster"))
      .staged
    Checkpoints.iterate(init, Int.MaxValue) { r =>
      val labels = r.prev
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("doc_id", "dst"), Seq("dst"))
        .select(col("src").as("doc_id"), col("cluster"))
      // pointer doubling: node → label(label(node)) — join labels with
      // itself on cluster = doc_id of the label's own row
      val viaParent = labels
        .join(labels.select(col("doc_id").as("cluster"),
          col("cluster").as("grand")), Seq("cluster"))
        .select(col("doc_id"), col("grand").as("cluster"))
      labels.unionAll(viaNeighbor).unionAll(viaParent)
        .groupBy("doc_id").agg(min("cluster").as("cluster"))
    } { (r, next, _) =>
      // not converged while some label changed
      !next
        .join(r.prev.withColumnRenamed("cluster", "prev"), Seq("doc_id"))
        .filter(col("cluster") =!= col("prev"))
        .isEmpty
    }
  }

  /** Near-duplicate clusters: [[connectedComponents]] over the verified
    * MinHash pairs — near-dup components at J ≥ 0.8 are clique-like
    * (diameter 1-2), so the fixpoint loop typically runs 2-3 rounds, but
    * an adversarially long chain now converges instead of under-merging.
    * Output: every clustered doc with its canonical (min) id, so "keep
    * one per cluster" is a filter on doc_id = cluster_id. */
  val q79DedupClusters: QuerySpec = QuerySpec(
    "q79_dedup_clusters",
    // Oracle: exact all-pairs Jaccard (the q81 oracle shape) → undirected
    // edge list with self-loops → WITH RECURSIVE transitive closure →
    // min reachable id per node. The closure is the ground-truth fixpoint,
    // so this also guards the iteration count of the Spark side's label
    // propagation (a component with diameter > 6 would diverge from it).
    """WITH RECURSIVE g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(string_split(text,' ')) < 3 THEN [text]
      |         ELSE list_distinct(list_transform(range(len(string_split(text,' ')) - 2),
      |           i -> string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2] || ' ' || string_split(text,' ')[i+3])) END AS sh
      |  FROM documents),
      |p AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b
      |  FROM g a JOIN g b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / len(list_distinct(a.sh || b.sh)) >= 0.8),
      |edges AS (
      |  SELECT a AS src, b AS dst FROM p
      |  UNION SELECT b, a FROM p
      |  UNION SELECT a, a FROM p
      |  UNION SELECT b, b FROM p),
      |reach AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
      |SELECT src AS doc_id, MIN(dst) AS cluster, (src = MIN(dst)) AS is_canonical
      |FROM reach GROUP BY src ORDER BY cluster, doc_id""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val pairs = q81MinHashLsh.run(sp, dir).select("doc_id_a", "doc_id_b")
    // undirected edge list incl. self-loops so isolated-after-filter docs
    // keep their own label; checkpointed — reused every round
    val edges = pairs.select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
      .unionAll(pairs.select(col("doc_id_b").as("src"), col("doc_id_a").as("dst")))
      .staged
    connectedComponents(edges)
      .withColumn("is_canonical", col("doc_id") === col("cluster"))
      .orderBy("cluster", "doc_id")
  }

  /** Quality-based canonical selection per near-dup cluster — the
    * release decision [[q79DedupClusters]] feeds: within every cluster
    * keep the BEST document (longest, ties to the lowest id), not the
    * lowest-id one (q165's exact-dup rule). Docs untouched by any
    * near-dup pair are their own singleton cluster via the left join.
    * The argmax is a `MAX(STRUCT(quality, -doc_id))` aggregate —
    * partial-aggregable, so a degenerate giant cluster (thousands of
    * copies of one boilerplate page, the common real-corpus case) never
    * concentrates into one window-sort task; the oracle uses the
    * equivalent per-cluster window, fine at oracle scale. */
  val q186CanonicalPick: QuerySpec = QuerySpec(
    "q186_dedup_canonical_pick",
    s"""WITH c AS (
       |${q79DedupClusters.oracle.get}),
       |sel AS (
       |  SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster, d.n_chars
       |  FROM documents d LEFT JOIN c ON d.doc_id = c.doc_id),
       |r AS (
       |  SELECT cluster, doc_id, n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY n_chars DESC, doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY cluster) AS nm
       |  FROM sel)
       |SELECT cluster, CAST(nm AS BIGINT) AS n_members, doc_id AS kept_doc,
       |       CAST(n_chars AS BIGINT) AS kept_chars
       |FROM r WHERE rn = 1
       |ORDER BY cluster""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val clusters = q79DedupClusters.run(sp, dir).select("doc_id", "cluster")
    val docs = sp.table("documents").select(col("doc_id"), col("n_chars"))
    docs.join(clusters, Seq("doc_id"), "left_outer")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("cluster"), col("n_members"),
        (-col("best.neg_id")).as("kept_doc"),
        col("best.n_chars").cast("long").as("kept_chars"))
      .orderBy(col("cluster"))
  }

  /** Cross-language near-dup report: operator composition — the verified
    * LSH pairs joined back to document metadata, counting same- vs
    * cross-language duplicate pairs (the translation-leakage check of a
    * curation pipeline). The oracle recomputes from exact all-pairs
    * Jaccard, so it also re-validates LSH completeness. */
  val q101CrossLang: QuerySpec = QuerySpec(
    "q101_dedup_crosslang",
    """WITH g AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN len(string_split(text,' ')) < 3 THEN [text]
      |         ELSE list_distinct(list_transform(range(len(string_split(text,' ')) - 2),
      |           i -> string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2] || ' ' || string_split(text,' ')[i+3])) END AS sh
      |  FROM documents),
      |p AS (
      |  SELECT a.lang AS lang_a, b.lang AS lang_b
      |  FROM g a JOIN g b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / len(list_distinct(a.sh || b.sh)) >= 0.8)
      |SELECT (lang_a = lang_b) AS same_lang, COUNT(*) AS n_pairs
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val langs = sp.table("documents").select(col("doc_id"), col("lang"))
    q81MinHashLsh.run(sp, dir)
      .join(langs.select(col("doc_id").as("doc_id_a"), col("lang").as("lang_a")), Seq("doc_id_a"))
      .join(langs.select(col("doc_id").as("doc_id_b"), col("lang").as("lang_b")), Seq("doc_id_b"))
      .groupBy((col("lang_a") === col("lang_b")).as("same_lang"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("same_lang"))
  }

  /** Incremental dedup: a NEW batch (doc_id % 10 = 9, standing in for
    * "this week's crawl") is LSH-probed against the EXISTING corpus —
    * only the delta is shingled, signed, and joined, never
    * delta × delta or corpus × corpus. This is the shape that keeps a
    * 100 TB corpus maintainable: the standing corpus contributes its
    * (band, key) index (in production: precomputed and stored), the
    * delta streams through it, and the exact verify touches only
    * colliding pairs. Same 16×4 band scheme and the same exact
    * all-pairs oracle argument as [[q81MinHashLsh]], restricted to
    * new × old pairs. */
  val q151IncrementalDedup: QuerySpec = QuerySpec(
    "q151_dedup_incremental",
    """WITH g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(string_split(text,' ')) < 3 THEN [text]
      |         ELSE list_distinct(list_transform(range(len(string_split(text,' ')) - 2),
      |           i -> string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2] || ' ' || string_split(text,' ')[i+3])) END AS sh
      |  FROM documents)
      |SELECT n.doc_id AS new_doc_id, o.doc_id AS dup_of,
      |  ROUND(CAST(len(list_intersect(n.sh, o.sh)) AS DOUBLE)
      |        / len(list_distinct(n.sh || o.sh)), 4) AS jaccard
      |FROM g n JOIN g o ON n.doc_id % 10 = 9 AND o.doc_id % 10 <> 9
      |WHERE CAST(len(list_intersect(n.sh, o.sh)) AS DOUBLE)
      |      / len(list_distinct(n.sh || o.sh)) >= 0.8
      |ORDER BY new_doc_id, dup_of""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    // delta × corpus candidates via boundedPairsBipartite: a degenerate
    // band bucket (boilerplate shared by the delta AND most of the
    // corpus) becomes bounded sub-tasks, never one task collecting the
    // whole corpus side of the bucket.
    val bands = sp.table("documents")
      .select(col("doc_id"),
        posexplode(expr(s"lshbands64(minhash64($shingleSql))")).as(Seq("band", "key")))
      .select(struct(col("band"), col("key")).as("bkey"), col("doc_id").as("id"))
      .staged // sliced into BOTH bipartite sides below — one signature pass
    val pairs = boundedPairsBipartite(
        bands.filter(col("id") % 10 === 9), bands.filter(col("id") % 10 =!= 9), cap = 256)
      .select(col("id_l").as("new_doc_id"), col("id_r").as("dup_of"))
      .staged
    val candIds = pairs.select(col("new_doc_id").as("doc_id"))
      .union(pairs.select(col("dup_of").as("doc_id"))).distinct()
    // no broadcast hint — AQE sizes the semi-join (see q81)
    val g = sp.table("documents")
      .join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), expr(shingleSql).as("sh"))
    pairs
      .join(g.select(col("doc_id").as("new_doc_id"), col("sh").as("sh_n")), Seq("new_doc_id"))
      .join(g.select(col("doc_id").as("dup_of"), col("sh").as("sh_o")), Seq("dup_of"))
      .select(col("new_doc_id"), col("dup_of"),
        (size(array_intersect(col("sh_n"), col("sh_o"))).cast("double") /
          size(array_union(col("sh_n"), col("sh_o")))).as("j"))
      .filter(col("j") >= 0.8)
      .select(col("new_doc_id"), col("dup_of"), round(col("j"), 4).as("jaccard"))
      .orderBy(col("new_doc_id"), col("dup_of"))
  }

  /** Corpus-version diff: two corpus versions (v1 = all docs, v2 = docs
    * surviving a re-crawl filter with some texts "revised") compared by
    * full outer join on doc_id + content-hash equality — the dataset-
    * versioning report (added/removed/changed/unchanged) that gates an
    * incremental training-data release. One doc_id-keyed shuffle; text
    * equality is compared through a hash, never by shipping both texts
    * to one node. */
  val q152CorpusDiff: QuerySpec = QuerySpec.sql(
    "q152_corpus_diff",
    """WITH v1 AS (SELECT doc_id, md5(text) AS h FROM documents
      |            WHERE doc_id % 7 <> 0),
      |v2 AS (SELECT doc_id,
      |         md5(CASE WHEN doc_id % 11 = 0 THEN concat(text, ' rev2')
      |                  ELSE text END) AS h
      |       FROM documents WHERE doc_id % 5 <> 0)
      |SELECT status, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
      |FROM (
      |  SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
      |    CASE WHEN v1.doc_id IS NULL THEN 'added'
      |         WHEN v2.doc_id IS NULL THEN 'removed'
      |         WHEN v1.h <> v2.h THEN 'changed'
      |         ELSE 'unchanged' END AS status
      |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id) t
      |GROUP BY status
      |ORDER BY status""".stripMargin)

  /** Content-defined chunking (CDC) — rolling-hash chunk boundaries, the
    * long-document primitive behind shift-resistant dedup (a fixed-size
    * chunker breaks on one inserted word; CDC boundaries depend only on
    * LOCAL content, so an edit perturbs at most its own chunk — the
    * Rabin-fingerprint idea of LBFS/restic applied at word granularity).
    * A word position i opens a boundary when fnv_hash of the 4-gram at i
    * is ≡ 0 mod 16 (expected chunk length 16 words).
    *
    * Scale shape: entirely map-side — boundaries come from
    * filter(sequence(...)) over each doc's own word array inside
    * whole-stage codegen; ZERO shuffles at any corpus size (the report
    * ORDER BY is the only exchange). The DuckDB oracle replays the same
    * fold with the q120 HUGEINT fnv recipe (ASCII corpus —
    * FixtureGuardSpec). */
  val q179CdcChunking: QuerySpec = {
    def text(spark: Boolean): String =
      if (spark)
        """WITH t AS (SELECT doc_id, split(text, ' ') AS ws FROM documents),
          |c AS (SELECT doc_id, size(ws) AS n_words,
          |        filter(CASE WHEN size(ws) >= 4 THEN sequence(0, size(ws) - 4)
          |                    ELSE array() END,
          |          i -> pmod(fnv_hash(concat_ws(' ', slice(ws, i + 1, 4))), 16) = 0) AS cuts
          |      FROM t)
          |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
          |       CAST(size(cuts) + 1 AS BIGINT) AS n_chunks,
          |       CAST(COALESCE(element_at(cuts, 1), -1) AS BIGINT) AS first_cut
          |FROM c ORDER BY doc_id""".stripMargin
      else {
        val fnv =
          """list_reduce(list_prepend(CAST('14695981039346656037' AS HUGEINT),
            |      list_transform(range(length(array_to_string(ws[i+1:i+4], ' '))),
            |        j -> CAST(ascii(substr(array_to_string(ws[i+1:i+4], ' '), CAST(j+1 AS INT), 1)) AS HUGEINT))),
            |      (h, x) -> ((h - (h % 256) + xor(CAST(h % 256 AS BIGINT), CAST(x AS BIGINT))) * 1099511628211)
            |                % CAST('18446744073709551616' AS HUGEINT))""".stripMargin
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |c AS (SELECT doc_id, len(ws) AS n_words,
           |        list_filter(range(CASE WHEN len(ws) >= 4 THEN len(ws) - 3 ELSE 0 END),
           |          i -> $fnv % 16 = 0) AS cuts
           |      FROM t)
           |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           |       CAST(len(cuts) + 1 AS BIGINT) AS n_chunks,
           |       CAST(COALESCE(cuts[1], -1) AS BIGINT) AS first_cut
           |FROM c ORDER BY doc_id""".stripMargin
      }
    QuerySpec.sql2("q179_dedup_cdc_chunking", text(spark = true), text(spark = false))
  }

  /** Cross-source n-gram overlap matrix — the decontamination diagnostic
    * answering "which corpus sources share content, and how much":
    * |distinct 3-grams of a ∩ b| as a fraction of each side. This is the
    * report a pipeline consults before mixing sources (high overlap ⇒
    * dedup across the pair before weighting them independently).
    *
    * Scale shape — NO gram self-join (the naive a.gram = b.gram join is
    * corpus² at worst): one scan → distinct (source, gram) → per-gram
    * sorted source-set (bounded by #sources, not corpus) → each gram
    * emits its source pairs INCLUDING the (s, s) diagonal, so one
    * aggregation yields the pair matrix and the per-source totals
    * together; the final ratio join runs over the checkpointed
    * sources²-row matrix, never the corpus. The DuckDB oracle uses the
    * plain self-join formulation — same answer, different plan class. */
  val q180CrossSourceOverlap: QuerySpec = QuerySpec(
    "q180_dedup_source_overlap",
    """WITH g AS (SELECT DISTINCT source, unnest(list_transform(range(len(ws) - 2),
      |             i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS gram
      |           FROM (SELECT source, string_split(text, ' ') AS ws FROM documents) x
      |           WHERE len(ws) >= 3),
      |tot AS (SELECT source, COUNT(*) AS n FROM g GROUP BY source),
      |pair AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS common
      |         FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
      |         GROUP BY a.source, b.source)
      |SELECT src_a, src_b, CAST(common AS BIGINT) AS common,
      |       ROUND(common / CAST(ta.n AS DOUBLE), 6) AS frac_of_a,
      |       ROUND(common / CAST(tb.n AS DOUBLE), 6) AS frac_of_b
      |FROM pair JOIN tot ta ON ta.source = src_a JOIN tot tb ON tb.source = src_b
      |ORDER BY src_a, src_b""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    import org.apache.spark.sql.functions.{col, collect_set, count, explode, expr, lit, round, sort_array}
    val g = sp.sql(
      """SELECT DISTINCT source, gram FROM (
        |  SELECT source, explode(CASE WHEN size(ws) >= 3
        |    THEN transform(sequence(0, size(ws) - 3),
        |           i -> concat(ws[i], ' ', ws[i + 1], ' ', ws[i + 2]))
        |    ELSE array() END) AS gram
        |  FROM (SELECT source, split(text, ' ') AS ws FROM documents) x) y""".stripMargin)
    val pairs = g.groupBy("gram").agg(sort_array(collect_set(col("source"))).as("ss"))
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ss) - 1),
          |  i -> transform(sequence(i, size(ss) - 1),
          |         j -> struct(ss[i] AS a, ss[j] AS b))))""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    // sources²-row matrix: diagonal rows ARE the per-source totals
    val m = pairs.groupBy("a", "b").agg(count(lit(1)).as("common")).staged
    val d = m.filter(col("a") === col("b"))
      .select(col("a").as("s"), col("common").as("n"))
    m.filter(col("a") < col("b"))
      .join(d.withColumnRenamed("s", "a").withColumnRenamed("n", "na"), Seq("a"))
      .join(d.withColumnRenamed("s", "b").withColumnRenamed("n", "nb"), Seq("b"))
      .select(col("a").as("src_a"), col("b").as("src_b"),
        col("common").cast("long").as("common"),
        round(col("common") / col("na").cast("double"), 6).as("frac_of_a"),
        round(col("common") / col("nb").cast("double"), 6).as("frac_of_b"))
      .orderBy("src_a", "src_b")
  }

  /** (method, doc_id) of documents each dedup method would remove under
    * the standard keep-first (lowest doc_id wins its group) policy.
    * Methods: `exact` (whole-text key), `prefix80` (leading-80-char key,
    * the CCNet-style truncation-dup catch), `near08` (verified 3-gram
    * Jaccard ≥ 0.8 via the LSH pipeline). Keep-first is expressed as the
    * skew-free MIN-aggregate + probe join — never a window over the
    * (possibly degenerate) key group. */
  private def removedSets(sp: SparkSession): DataFrame = {
    val docs = sp.table("documents").select(col("doc_id"), col("text"))
    def keyRemoved(method: String, key: Column): DataFrame = {
      val groups = docs.groupBy(key.as("k")).agg(min(col("doc_id")).as("keep"))
      docs.select(key.as("k"), col("doc_id"))
        .join(groups, "k")
        .filter(col("doc_id") =!= col("keep"))
        .select(lit(method).as("method"), col("doc_id"))
    }
    keyRemoved("exact", col("text"))
      .unionByName(keyRemoved("prefix80", substring(col("text"), 1, 80)))
      .unionByName(nearDupJaccard(sp).select(col("doc_id_b").as("doc_id")).distinct()
        .select(lit("near08").as("method"), col("doc_id")))
  }

  /** Dedup-method ablation report — the measurement pass a curation run
    * does before committing to a dedup policy: for each method, how many
    * duplicate pairs it finds and how many documents/tokens the
    * keep-first policy would drop. The three methods share one corpus
    * scan shape each (hash-groupBy for the key methods, the banded LSH
    * pipeline for near08); every per-method statistic is a partial-
    * aggregable rollup, so the report costs the methods themselves plus
    * three O(1)-row aggregates. Always emits exactly 3 rows (one per
    * method), zeros included — a corpus with no duplicates still gets a
    * hash-checked answer. */
  val q208DedupAblation: QuerySpec = QuerySpec(
    "q208_dedup_ablation",
    s"""WITH d AS (SELECT doc_id, text, len(string_split(text,' ')) AS n_words FROM documents),
       |eg AS (SELECT text AS k, MIN(doc_id) AS keep, COUNT(*) AS cnt FROM d GROUP BY 1),
       |pg AS (SELECT substr(text,1,80) AS k, MIN(doc_id) AS keep, COUNT(*) AS cnt FROM d GROUP BY 1),
       |$nearDupOracleCtes,
       |er AS (SELECT d.doc_id, d.n_words FROM d JOIN eg ON d.text = eg.k WHERE d.doc_id <> eg.keep),
       |pr AS (SELECT d.doc_id, d.n_words FROM d JOIN pg ON substr(d.text,1,80) = pg.k WHERE d.doc_id <> pg.keep),
       |nr AS (SELECT d.doc_id, d.n_words FROM d JOIN (SELECT DISTINCT doc_id_b AS doc_id FROM np) x USING (doc_id))
       |SELECT 'exact' AS method,
       |  CAST(COALESCE((SELECT SUM(cnt * (cnt - 1) // 2) FROM eg), 0) AS BIGINT) AS n_pairs,
       |  CAST((SELECT COUNT(*) FROM er) AS BIGINT) AS n_removed,
       |  CAST(COALESCE((SELECT SUM(n_words) FROM er), 0) AS BIGINT) AS removed_tokens
       |UNION ALL
       |SELECT 'near08',
       |  CAST((SELECT COUNT(*) FROM np) AS BIGINT),
       |  CAST((SELECT COUNT(*) FROM nr) AS BIGINT),
       |  CAST(COALESCE((SELECT SUM(n_words) FROM nr), 0) AS BIGINT)
       |UNION ALL
       |SELECT 'prefix80',
       |  CAST(COALESCE((SELECT SUM(cnt * (cnt - 1) // 2) FROM pg), 0) AS BIGINT),
       |  CAST((SELECT COUNT(*) FROM pr) AS BIGINT),
       |  CAST(COALESCE((SELECT SUM(n_words) FROM pr), 0) AS BIGINT)
       |ORDER BY method""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val docs = sp.table("documents")
      .select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).cast("long").as("n_words"))
    def keyStats(method: String, key: Column): (DataFrame, DataFrame) = {
      // localCheckpoint: the group relation feeds both the pair-count
      // aggregate and the removed-doc probe join
      val groups = docs.groupBy(key.as("k"))
        .agg(min(col("doc_id")).as("keep"), count(lit(1)).as("cnt"))
        .staged
      val nPairs = groups
        .agg(coalesce(sum(expr("cnt * (cnt - 1) DIV 2")), lit(0L)).as("n_pairs"))
        .select(lit(method).as("method"), col("n_pairs"))
      val removed = docs.select(key.as("k"), col("doc_id"), col("n_words"))
        .join(groups.select(col("k"), col("keep")), "k")
        .filter(col("doc_id") =!= col("keep"))
        .select(lit(method).as("method"), col("doc_id"), col("n_words"))
      (nPairs, removed)
    }
    val (ep, er) = keyStats("exact", col("text"))
    val (pp, pr) = keyStats("prefix80", substring(col("text"), 1, 80))
    val np = nearDupJaccard(sp).staged // pair count + removed set
    val npairs = np.agg(count(lit(1)).as("n_pairs"))
      .select(lit("near08").as("method"), col("n_pairs"))
    val nr = np.select(col("doc_id_b").as("doc_id")).distinct()
      .join(docs.select(col("doc_id"), col("n_words")), Seq("doc_id"))
      .select(lit("near08").as("method"), col("doc_id"), col("n_words"))
    val pairStats = ep.unionByName(npairs).unionByName(pp)
    val remStats = er.unionByName(nr).unionByName(pr)
      .groupBy("method")
      .agg(count(lit(1)).as("n_removed"), sum(col("n_words")).as("removed_tokens"))
    pairStats.join(remStats, Seq("method"), "left")
      .select(col("method"), col("n_pairs"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("removed_tokens"), lit(0L)).as("removed_tokens"))
      .orderBy("method")
  }

  /** Pairwise agreement between the dedup methods' removed-document
    * sets — which methods are redundant with each other and which catch
    * distinct duplicates (the number that decides whether running both
    * is worth a second pass at 100 TB). The heavy lifting is the methods
    * themselves; the agreement algebra runs on the tiny (method, doc_id)
    * relation: per-method counts and the intersection join are both
    * doc_id-keyed partial aggregates. The 3×3 method scaffold guarantees
    * all 3 pair rows exist even when every set is empty (empty = perfect
    * agreement, jaccard_e6 = 1000000). */
  val q209DedupAgreement: QuerySpec = QuerySpec(
    "q209_dedup_agreement",
    s"""WITH d AS (SELECT doc_id, text FROM documents),
       |eg AS (SELECT text AS k, MIN(doc_id) AS keep FROM d GROUP BY 1),
       |pg AS (SELECT substr(text,1,80) AS k, MIN(doc_id) AS keep FROM d GROUP BY 1),
       |$nearDupOracleCtes,
       |r AS (
       |  SELECT 'exact' AS method, d.doc_id FROM d JOIN eg ON d.text = eg.k WHERE d.doc_id <> eg.keep
       |  UNION ALL
       |  SELECT 'prefix80', d.doc_id FROM d JOIN pg ON substr(d.text,1,80) = pg.k WHERE d.doc_id <> pg.keep
       |  UNION ALL
       |  SELECT 'near08', doc_id FROM (SELECT DISTINCT doc_id_b AS doc_id FROM np)),
       |c AS (SELECT method, COUNT(*) AS n FROM r GROUP BY 1),
       |m AS (SELECT * FROM (VALUES ('exact'), ('near08'), ('prefix80')) t(method)),
       |mp AS (SELECT x.method AS ma, y.method AS mb FROM m x JOIN m y ON x.method < y.method),
       |bt AS (SELECT p.method AS ma, q.method AS mb, COUNT(*) AS nb
       |       FROM r p JOIN r q ON p.doc_id = q.doc_id AND p.method < q.method GROUP BY 1, 2)
       |SELECT mp.ma AS method_a, mp.mb AS method_b,
       |  CAST(COALESCE(ca.n, 0) AS BIGINT) AS n_a,
       |  CAST(COALESCE(cb.n, 0) AS BIGINT) AS n_b,
       |  CAST(COALESCE(bt.nb, 0) AS BIGINT) AS n_both,
       |  CAST(CASE WHEN COALESCE(ca.n, 0) + COALESCE(cb.n, 0) - COALESCE(bt.nb, 0) = 0 THEN 1000000
       |       ELSE ROUND(COALESCE(bt.nb, 0) * 1e6
       |                  / (COALESCE(ca.n, 0) + COALESCE(cb.n, 0) - COALESCE(bt.nb, 0))) END AS BIGINT) AS jaccard_e6
       |FROM mp
       |LEFT JOIN bt ON mp.ma = bt.ma AND mp.mb = bt.mb
       |LEFT JOIN c ca ON ca.method = mp.ma
       |LEFT JOIN c cb ON cb.method = mp.mb
       |ORDER BY method_a, method_b""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    // localCheckpoint: the removed-set relation is consumed three times
    // (per-method counts + both sides of the intersection join)
    val r = removedSets(sp).staged
    val counts = r.groupBy("method").agg(count(lit(1)).as("n"))
    val methods = sp.sql(
      "SELECT * FROM VALUES ('exact'), ('near08'), ('prefix80') AS t(method)")
    val mp = methods.select(col("method").as("method_a"))
      .join(methods.select(col("method").as("method_b")),
        col("method_a") < col("method_b"))
    val bt = r.select(col("method").as("method_a"), col("doc_id"))
      .join(r.select(col("method").as("method_b"), col("doc_id")), Seq("doc_id"))
      .filter(col("method_a") < col("method_b"))
      .groupBy("method_a", "method_b").agg(count(lit(1)).as("n_both"))
    mp.join(bt, Seq("method_a", "method_b"), "left")
      .join(counts.select(col("method").as("method_a"), col("n").as("n_a")),
        Seq("method_a"), "left")
      .join(counts.select(col("method").as("method_b"), col("n").as("n_b")),
        Seq("method_b"), "left")
      .select(col("method_a"), col("method_b"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("n_both"), lit(0L)).as("n_both"))
      .withColumn("u", col("n_a") + col("n_b") - col("n_both"))
      .withColumn("jaccard_e6",
        when(col("u") === 0, lit(1000000L))
          .otherwise(round(col("n_both") * lit(1e6) / col("u")).cast("long")))
      .drop("u")
      .orderBy("method_a", "method_b")
  }

  /** Fixed-point PageRank over the near-duplicate graph — link analysis
    * for curation (the CommonCrawl-style "importance" signal, here over
    * the doc-similarity graph: heavily-duplicated template families
    * accumulate rank, singleton docs stay at the teleport floor).
    *
    * The arithmetic is INTEGER micro-units end to end: contributions
    * are `pr // deg` and the damping step is `(85 · Σ) // 100`, so
    * every round is exact BIGINT algebra — bit-identical on 1 or
    * 10,000 partitions and replayable by the oracle with no float
    * accumulation order to worry about (the q79/q97 determinism
    * discipline applied to an iterative numeric kernel).
    *
    * Scale shape: 3 rounds, each one edge-keyed shuffle (contribution
    * sum) plus a node-keyed left join; rank state is checkpointed per
    * round (lineage stays O(1), superseded state released — the q79
    * recipe). Isolated nodes never enter the edge join and cost
    * nothing beyond the teleport constant. */
  val q215PageRank: QuerySpec = {
    def iterSql(prev: String): String =
      s"""SELECT n.doc_id,
         |    150000 + (85 * COALESCE(SUM(p.pr // d.dg), 0)) // 100 AS pr
         |  FROM nodes n
         |  LEFT JOIN edges e ON e.dst = n.doc_id
         |  LEFT JOIN $prev p ON p.doc_id = e.src
         |  LEFT JOIN deg d ON d.src = e.src
         |  GROUP BY 1""".stripMargin
    QuerySpec(
      "q215_graph_pagerank",
      s"""WITH $nearDupOracleCtes,
         |nodes AS (SELECT doc_id FROM documents),
         |edges AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM np
         |          UNION ALL SELECT doc_id_b, doc_id_a FROM np),
         |deg AS (SELECT src, COUNT(*) AS dg FROM edges GROUP BY 1),
         |p0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS pr FROM nodes),
         |p1 AS (${iterSql("p0")}),
         |p2 AS (${iterSql("p1")}),
         |p3 AS (${iterSql("p2")})
         |SELECT doc_id, CAST(pr AS BIGINT) AS pr_e6 FROM p3
         |ORDER BY pr_e6 DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      val nodes = sp.table("documents").select(col("doc_id"))
      val edges = nearDupEdges(sp)
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("dg"))
      val (pr, _) = Checkpoints.iterate(
          nodes.select(col("doc_id"), lit(1000000L).as("pr")), 3) { r =>
        val pr = r.prev
        val contrib = pr.join(deg, pr("doc_id") === deg("src"))
          .select(col("src"), expr("pr DIV dg").as("c"))
          .join(edges, Seq("src"))
          .groupBy(col("dst")).agg(sum(col("c")).as("ss"))
        nodes.join(contrib, nodes("doc_id") === contrib("dst"), "left")
          .select(col("doc_id"),
            (lit(150000L) + expr("(85 * coalesce(ss, 0L)) DIV 100")).as("pr"))
      } { (_, _, _) => true }
      pr.orderBy(col("pr").desc, col("doc_id")).limit(20)
        .select(col("doc_id"), col("pr").as("pr_e6"))
    }
  }

  /** `rounds` of synchronous label propagation: each round every
    * still-unlabeled node adopts the label most of its labeled `edges`
    * neighbors carry (count DESC, label ASC — a total order, so the
    * result is deterministic at any parallelism). `seeds` and the
    * result are `(doc_id, label)`. Scale shape: each round is one
    * edge-keyed shuffle (votes) + a rank window keyed on the
    * destination node (group = candidate labels, bounded by label
    * cardinality); label state is staged per round and the superseded
    * round released ([[Checkpoints.iterate]]). */
  private def labelPropagation(edges: DataFrame, seeds: DataFrame,
                               rounds: Int): DataFrame =
    Checkpoints.iterate(seeds, rounds) { r =>
      val labels = r.prev
      val votes = edges
        .join(labels.select(col("doc_id").as("src"), col("label")), "src")
        .join(labels.select(col("doc_id").as("dst")), Seq("dst"), "left_anti")
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("dst")).orderBy(col("c").desc, col("label"))
      val adopted = votes
        .withColumn("rn", row_number().over(win))
        .filter(col("rn") === 1)
        .select(col("dst").as("doc_id"), col("label"))
      labels.unionByName(adopted)
    } { (_, _, _) => true }._1

  /** Two-round synchronous label propagation over the near-dup graph —
    * the semi-supervised step that spreads a small set of trusted
    * source labels (here: every 3rd doc seeds its own `source`) to
    * unlabeled neighbors by majority vote, the cheap cluster-labeling
    * pass curation uses between CC ([[q79DedupClusters]]) and a real
    * classifier. SYNCHRONOUS rounds + a total-order vote make the
    * fixpoint deterministic at any parallelism — asynchronous LPA is
    * famously order-dependent; this one is replayed round-for-round by
    * the oracle ([[labelPropagation]]). */
  val q220LabelPropagation: QuerySpec = {
    def roundSql(prev: String): String =
      s"""SELECT doc_id, label FROM $prev
         |  UNION ALL
         |  SELECT dst AS doc_id, label FROM (
         |    SELECT e.dst, l.label,
         |           ROW_NUMBER() OVER (PARTITION BY e.dst
         |             ORDER BY COUNT(*) DESC, l.label) AS rn
         |    FROM edges e
         |    JOIN $prev l ON l.doc_id = e.src
         |    WHERE NOT EXISTS (SELECT 1 FROM $prev p WHERE p.doc_id = e.dst)
         |    GROUP BY e.dst, l.label) v
         |  WHERE rn = 1""".stripMargin
    QuerySpec(
      "q220_graph_label_prop",
      s"""WITH $nearDupOracleCtes,
         |edges AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM np
         |          UNION ALL SELECT doc_id_b, doc_id_a FROM np),
         |l0 AS (SELECT doc_id, source AS label FROM documents
         |       WHERE doc_id % 3 = 0),
         |l1 AS (${roundSql("l0")}),
         |l2 AS (${roundSql("l1")})
         |SELECT doc_id, label FROM l2 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      val edges = nearDupEdges(sp)
      val seeds = sp.table("documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("source").as("label"))
        .staged
      labelPropagation(edges, seeds, rounds = 2).orderBy(col("doc_id"))
    }
  }

  /** Orients canonical (a<b) undirected edges from the LOWER-degree
    * endpoint to the higher (ties by id) — the standard hardening that
    * bounds a wedge build by graph arboricity instead of raw degree: a
    * boilerplate near-dup hub with degree d contributes C(out-deg, 2)
    * wedges where out-deg is small (every spoke orients INTO the hub),
    * not d². Output columns: src, dst, ddeg (dst's degree — carried so
    * the wedge join can order targets by the same (deg, id) key).
    * Spec-pinned: deg(src) ≤ deg(dst) on every oriented edge. */
  def orientEdges(e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val deg = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // canonical a<b, so the (deg, id) tie-break reduces to da <= db
    val fwd = col("da") <= col("db")
    e.join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(fwd, col("a")).otherwise(col("b")).as("src"),
        when(fwd, col("b")).otherwise(col("a")).as("dst"),
        when(fwd, col("db")).otherwise(col("da")).as("ddeg"))
  }

  /** Wedges (u, v, w) from an [[orientEdges]] relation: two out-edges of
    * u with v ≺ w in the orientation's (deg, id) order. Only nodes with
    * out-degree ≥ 2 produce wedges — a pure hub (all edges inbound)
    * produces none, which is the whole point. */
  def orientedWedges(o: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    o.as("o1").join(o.as("o2"),
        col("o1.src") === col("o2.src") &&
          (col("o1.ddeg") < col("o2.ddeg") ||
            (col("o1.ddeg") === col("o2.ddeg") && col("o1.dst") < col("o2.dst"))))
      .select(col("o1.src").as("u"), col("o1.dst").as("v"), col("o2.dst").as("w"))

  /** Exact triangle enumeration via degree-ordered wedges: a wedge
    * (u, v, w) closes iff the oriented edge v→w exists (v ≺ w by
    * construction, and the closing undirected edge orients low→high in
    * the same order, so one equi-join suffices). Each triangle appears
    * exactly once, rooted at its ≺-minimal vertex. */
  def triangles(e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val o = orientEdges(e).staged // wedge side + closing side
    orientedWedges(o).as("w")
      .join(o.as("e3"),
        col("w.v") === col("e3.src") && col("w.w") === col("e3.dst"))
      .select(col("w.u").as("a"), col("w.v").as("b"), col("w.w").as("c"))
  }

  /** Triangle count over the near-dup graph — the local clustering
    * signal that separates a CHAIN of borderline near-dups (A~B~C,
    * no A~C: transitive-closure dedup would over-merge) from a genuine
    * duplicate CLIQUE, which is exactly the call [[q79DedupClusters]]'s
    * connected components cannot make on its own. Algorithm:
    * DEGREE-ORDERED wedge enumeration ([[orientEdges]] +
    * [[orientedWedges]] + one closing equi-join): each triangle counted
    * exactly once from its (deg, id)-minimal vertex, and the wedge
    * count is bounded by arboricity — a degree-10⁴ boilerplate hub
    * yields C(out-deg, 2) wedges, not 10⁸. The oracle keeps the naive
    * a<b<c formulation (same triangle set, spec-pinned equal). Scale
    * shape: one degree aggregate + two joins of the EDGE relation
    * (pair-bounded, never the corpus). Output: per-node triangle
    * membership plus the global count (exact integers). */
  val q236Triangles: QuerySpec = QuerySpec(
    "q236_graph_triangles",
    s"""WITH $nearDupOracleCtes,
       |e AS (SELECT doc_id_a AS a, doc_id_b AS b FROM np),
       |tri AS (
       |  SELECT w.a, w.b, w.c FROM (
       |    SELECT e1.a, e1.b, e2.b AS c
       |    FROM e e1 JOIN e e2 ON e1.b = e2.a AND e1.a < e2.b) w
       |  JOIN e e3 ON e3.a = w.a AND e3.b = w.c),
       |nodes AS (
       |  SELECT a AS doc_id FROM tri
       |  UNION ALL SELECT b FROM tri
       |  UNION ALL SELECT c FROM tri)
       |SELECT doc_id, COUNT(*) AS n_triangles,
       |  (SELECT COUNT(*) FROM tri) AS total_triangles
       |FROM nodes GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val e = nearDupJaccard(sp)
      .select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))
      .staged // degree aggregate + both join roles
    val tri = triangles(e)
      .staged // per-node rollup + global count
    val totalDf = tri.agg(count(lit(1)).as("total_triangles"))
    tri.select(col("a").as("doc_id"))
      .unionByName(tri.select(col("b").as("doc_id")))
      .unionByName(tri.select(col("c").as("doc_id")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_triangles"))
      .crossJoin(broadcast(totalDf))
      .orderBy(col("doc_id"))
  }

  /** Newman modularity of the label-propagation communities over the
    * near-dup graph — the quality score that tells whether [[q220]]'s
    * communities are real structure or noise (Q ≈ 0): per community c,
    * `Q_c = e_c/m − (d_c/2m)²` with e_c intra-community edges, d_c the
    * community's degree sum, m total edges. EXACT algebra: e_c, d_c, m
    * are integers from two edge-relation aggregates (label both
    * endpoints via two joins against the label relation — never a
    * node×node term), the quadratic term is one fixed DOUBLE tree.
    * Unlabeled nodes form no community and only dilute m, exactly as
    * in the standard partial-partition definition. Output: per
    * community + the global Q as the INTEGER sum of the per-community
    * micro-unit terms (rounding before the windowed total keeps the
    * cross-engine sum order out of the result — the q205 ulp rule). */
  val q244Modularity: QuerySpec = {
    def roundSql(prev: String): String =
      s"""SELECT doc_id, label FROM $prev
         |  UNION ALL
         |  SELECT dst AS doc_id, label FROM (
         |    SELECT e.dst, l.label,
         |           ROW_NUMBER() OVER (PARTITION BY e.dst
         |             ORDER BY COUNT(*) DESC, l.label) AS rn
         |    FROM edges e
         |    JOIN $prev l ON l.doc_id = e.src
         |    WHERE NOT EXISTS (SELECT 1 FROM $prev p WHERE p.doc_id = e.dst)
         |    GROUP BY e.dst, l.label) v
         |  WHERE rn = 1""".stripMargin
    QuerySpec(
      "q244_graph_modularity",
      s"""WITH $nearDupOracleCtes,
         |edges AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM np
         |          UNION ALL SELECT doc_id_b, doc_id_a FROM np),
         |l0 AS (SELECT doc_id, source AS label FROM documents
         |       WHERE doc_id % 3 = 0),
         |l1 AS (${roundSql("l0")}),
         |l2 AS (${roundSql("l1")}),
         |m AS (SELECT COUNT(*) / 2 AS m FROM edges),
         |intra AS (
         |  SELECT la.label, COUNT(*) / 2 AS e_c
         |  FROM edges e
         |  JOIN l2 la ON la.doc_id = e.src
         |  JOIN l2 lb ON lb.doc_id = e.dst AND lb.label = la.label
         |  GROUP BY la.label),
         |deg AS (
         |  SELECT l2.label, COUNT(*) AS d_c
         |  FROM edges e JOIN l2 ON l2.doc_id = e.src
         |  GROUP BY l2.label)
         |SELECT deg.label, CAST(deg.d_c AS BIGINT) AS degree_sum,
         |  CAST(COALESCE(intra.e_c, 0) AS BIGINT) AS intra_edges,
         |  CAST(ROUND((CAST(COALESCE(intra.e_c, 0) AS DOUBLE) / m.m
         |      - (CAST(deg.d_c AS DOUBLE) / (2 * m.m))
         |        * (CAST(deg.d_c AS DOUBLE) / (2 * m.m))) * 1e6) AS BIGINT) AS q_c_e6,
  CAST(SUM(CAST(ROUND((CAST(COALESCE(intra.e_c, 0) AS DOUBLE) / m.m
         |      - (CAST(deg.d_c AS DOUBLE) / (2 * m.m))
         |        * (CAST(deg.d_c AS DOUBLE) / (2 * m.m))) * 1e6) AS BIGINT)) OVER ()
         |    AS BIGINT) AS modularity_e6
         |FROM deg LEFT JOIN intra ON deg.label = intra.label CROSS JOIN m
         |ORDER BY deg.label""".stripMargin) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      val edges = nearDupEdges(sp)
      val seeds = sp.table("documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("source").as("label"))
        .staged
      val labels = labelPropagation(edges, seeds, rounds = 2)
      val mDf = edges.agg((count(lit(1)) / 2).as("m"))
      val la = labels.select(col("doc_id").as("src"), col("label"))
      val lb = labels.select(col("doc_id").as("dst"), col("label").as("label_b"))
      val intra = edges.join(la, "src").join(lb, "dst")
        .filter(col("label") === col("label_b"))
        .groupBy(col("label")).agg((count(lit(1)) / 2).as("e_c"))
      val deg = edges.join(la, "src")
        .groupBy(col("label")).agg(count(lit(1)).as("d_c"))
      val joined = deg.join(intra, Seq("label"), "left")
        .crossJoin(broadcast(mDf))
        .withColumn("q_c",
          coalesce(col("e_c"), lit(0L)).cast("double") / col("m")
            - (col("d_c").cast("double") / (lit(2) * col("m")))
              * (col("d_c").cast("double") / (lit(2) * col("m"))))
      joined
        .select(col("label"), col("d_c").cast("bigint").as("degree_sum"),
          coalesce(col("e_c"), lit(0L)).cast("bigint").as("intra_edges"),
          round(col("q_c") * lit(1e6)).cast("bigint").as("q_c_e6"),
          sum(round(col("q_c") * lit(1e6)).cast("bigint")).over(
            org.apache.spark.sql.expressions.Window.partitionBy())
            .cast("bigint").as("modularity_e6"))
        .orderBy(col("label"))
    }
  }

  /** Near-dup threshold sensitivity sweep — the tuning table a curation
    * run consults before fixing the Jaccard cutoff: at each candidate
    * threshold (0.80…0.95), how many pairs survive, how many docs the
    * keep-first policy drops, and how many tokens go with them. The
    * sweep stays INSIDE the banded candidate set ([[nearDupJaccard]]'s
    * verified pairs, which carry their exact scores) — thresholds at or
    * above the LSH design point only FILTER that relation, so recall is
    * q81's recall and the all-pairs oracle stays a safe differential;
    * sweeping BELOW the design point would need re-banding (a different
    * operator, not a report). One pipeline run + a 4-row threshold grid
    * against the tiny pair relation; the removed-token join touches
    * only removed docs. */
  val q253ThresholdSweep: QuerySpec = QuerySpec(
    "q253_dedup_threshold_sweep",
    s"""WITH $nearDupOracleCtes,
       |scored AS (
       |  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |      / len(list_distinct(a.sh || b.sh)) AS j
       |  FROM g a JOIN g b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |        / len(list_distinct(a.sh || b.sh)) >= 0.8),
       |thr AS (SELECT unnest([80, 85, 90, 95]) AS thr_e2),
       |hit AS (SELECT thr.thr_e2, s.doc_id_a, s.doc_id_b
       |        FROM thr JOIN scored s ON s.j >= thr.thr_e2 / 100.0),
       |removed AS (SELECT DISTINCT thr_e2, doc_id_b AS doc_id FROM hit),
       |toks AS (SELECT removed.thr_e2,
       |           COUNT(*) AS n_docs_removed,
       |           CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS tokens_removed
       |         FROM removed JOIN documents d ON d.doc_id = removed.doc_id
       |         GROUP BY removed.thr_e2),
       |pairs AS (SELECT thr_e2, COUNT(*) AS n_pairs FROM hit GROUP BY thr_e2)
       |SELECT thr.thr_e2, COALESCE(pairs.n_pairs, 0) AS n_pairs,
       |  COALESCE(toks.n_docs_removed, 0) AS n_docs_removed,
       |  COALESCE(toks.tokens_removed, 0) AS tokens_removed
       |FROM thr
       |LEFT JOIN pairs ON thr.thr_e2 = pairs.thr_e2
       |LEFT JOIN toks ON thr.thr_e2 = toks.thr_e2
       |ORDER BY thr.thr_e2""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val scored = nearDupJaccard(sp).staged // 4 threshold slices
    val thr = sp.range(0, 4).select((lit(80) + col("id") * 5).cast("int").as("thr_e2"))
    val hit = broadcast(thr).join(scored, col("j") >= col("thr_e2") / lit(100.0))
      .select(col("thr_e2"), col("doc_id_a"), col("doc_id_b"))
      .staged // pair counts + removed-doc rollup
    val removed = hit.select(col("thr_e2"), col("doc_id_b").as("doc_id")).distinct()
    val toks = removed
      .join(sp.table("documents").select(col("doc_id"),
        size(split(col("text"), " ")).as("nw")), "doc_id")
      .groupBy(col("thr_e2"))
      .agg(count(lit(1)).as("n_docs_removed"),
        sum(col("nw")).cast("bigint").as("tokens_removed"))
    val pairs = hit.groupBy(col("thr_e2")).agg(count(lit(1)).as("n_pairs"))
    thr
      .join(pairs, Seq("thr_e2"), "left")
      .join(toks, Seq("thr_e2"), "left")
      .select(col("thr_e2"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_removed"), lit(0L)).as("n_docs_removed"),
        coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"))
      .orderBy(col("thr_e2"))
  }

  /** Fuzzy entity resolution (record linkage) over customer names:
    * multi-pass blocking → [[boundedPairs]] → exact edit-distance
    * verification, the Fellegi-Sunter candidate machinery every
    * identity-dedup pipeline runs before scoring. Blocking is COMPLETE
    * for the declared threshold by a pigeonhole split of the name
    * (fixed-length here): two equal-length names within Levenshtein 1
    * differ by exactly one substitution, which lies either in the
    * prefix block's span or the suffix block's span — so the union of
    * the two block passes has 100% recall and the DuckDB oracle may be
    * the plain all-pairs text (the q82 SimHash argument). At 100 TB
    * the all-pairs oracle plan is impossible but the blocked plan is
    * unchanged: block sizes bound task width via boundedPairs' salting
    * (the shared prefix block here IS over-cap — the salted path is
    * exercised, spec-pinned equal either way), and verification
    * (codegen'd levenshtein) runs only on candidates. */
  val q217FuzzyEntityResolution: QuerySpec = QuerySpec(
    "q217_fuzzy_entity_resolution",
    """SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
      |       levenshtein(a.c_name, b.c_name) AS lev
      |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 1
      |ORDER BY custkey_a, custkey_b""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val c = sp.table("customer").select(col("c_custkey"), col("c_name"))
      .staged // consumed by 2 block passes + 2 verify joins
    val keyed =
      c.select(concat(lit("p:"), substring(col("c_name"), 1, 14)).as("bkey"),
          col("c_custkey").as("id"))
        .unionAll(
          c.select(concat(lit("s:"), substring(col("c_name"), 15, 4)).as("bkey"),
            col("c_custkey").as("id")))
    val cand = boundedPairs(keyed, 256)
      .withColumnRenamed("id_a", "custkey_a").withColumnRenamed("id_b", "custkey_b")
    cand
      .join(c.select(col("c_custkey").as("custkey_a"), col("c_name").as("name_a")), "custkey_a")
      .join(c.select(col("c_custkey").as("custkey_b"), col("c_name").as("name_b")), "custkey_b")
      // banded kernel: exact below the threshold, k+1 above — same rows,
      // O(k·n) per candidate instead of O(n·m) (parity spec-pinned)
      .withColumn("lev", expr("levenshtein_bounded(name_a, name_b, 1)"))
      .filter(col("lev") <= 1)
      .select(col("custkey_a"), col("custkey_b"), col("lev"))
      .orderBy(col("custkey_a"), col("custkey_b"))
  }

  /** Clustering coefficient of the near-dup graph — the per-node and
    * global closure signal that ranks [[q236Triangles]]'s raw counts:
    * local c_v = 2·t_v / (deg_v·(deg_v−1)) says whether a node's
    * neighborhood is a quote CHAIN (c ≈ 0 — transitive-closure dedup
    * would over-merge through it) or a template CLIQUE (c ≈ 1 — safe
    * to collapse); global transitivity 3·T/W (W = Σ C(deg,2)) and the
    * Watts-Strogatz mean local coefficient summarize the whole graph.
    * EXACT algebra: t_v, deg, W are integers from the degree-ordered
    * triangle build + one degree aggregate (never a node×node term),
    * each local coefficient is one fixed DOUBLE tree over integers,
    * and the mean accumulates through DECIMAL(27,18) so summation
    * order stays out of the e6 rounding. Scale shape: [[triangles]]
    * is arboricity-bounded (q236's hardening), everything after runs
    * on the triangle-node-sized relation. Oracle: naive all-pairs
    * grounding, same triangle set. */
  val q298ClusteringCoefficient: QuerySpec = QuerySpec(
    "q298_graph_clustering_coeff",
    s"""WITH $nearDupOracleCtes,
       |e AS (SELECT doc_id_a AS a, doc_id_b AS b FROM np),
       |deg AS (SELECT doc_id, COUNT(*) AS deg
       |        FROM (SELECT a AS doc_id FROM e UNION ALL SELECT b FROM e) n
       |        GROUP BY doc_id),
       |tri AS (
       |  SELECT w.a, w.b, w.c FROM (
       |    SELECT e1.a, e1.b, e2.b AS c
       |    FROM e e1 JOIN e e2 ON e1.b = e2.a AND e1.a < e2.b) w
       |  JOIN e e3 ON e3.a = w.a AND e3.b = w.c),
       |tn AS (SELECT doc_id, COUNT(*) AS n_tri
       |       FROM (SELECT a AS doc_id FROM tri
       |             UNION ALL SELECT b FROM tri
       |             UNION ALL SELECT c FROM tri) x
       |       GROUP BY doc_id),
       |nodes AS (SELECT d.doc_id, d.deg, COALESCE(tn.n_tri, 0) AS n_tri,
       |            (2 * COALESCE(tn.n_tri, 0))
       |              / CAST(d.deg * (d.deg - 1) AS DOUBLE) AS lcc
       |          FROM deg d LEFT JOIN tn ON d.doc_id = tn.doc_id
       |          WHERE d.deg >= 2),
       |gl AS (SELECT CAST(SUM(deg * (deg - 1)) AS BIGINT) AS w2,
       |        SUM(CAST(lcc AS DECIMAL(27,18))) AS slcc,
       |        COUNT(*) AS nn
       |      FROM nodes),
       |t AS (SELECT COUNT(*) AS nt FROM tri)
       |SELECT nodes.doc_id, CAST(nodes.deg AS BIGINT) AS degree,
       |  CAST(nodes.n_tri AS BIGINT) AS n_triangles,
       |  CAST(ROUND(lcc * 1e6) AS BIGINT) AS local_cc_e6,
       |  CAST(ROUND(6 * CAST(nt AS DOUBLE) / w2 * 1e6) AS BIGINT)
       |    AS global_transitivity_e6,
       |  CAST(ROUND(CAST(slcc AS DOUBLE) / nn * 1e6) AS BIGINT)
       |    AS mean_local_cc_e6
       |FROM nodes CROSS JOIN gl CROSS JOIN t
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val e = nearDupJaccard(sp)
      .select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))
      .staged // degree aggregate + triangle build share it
    val deg = e.select(col("a").as("doc_id"))
      .unionByName(e.select(col("b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
    val tri = triangles(e).staged // per-node rollup + global count
    val tn = tri.select(col("a").as("doc_id"))
      .unionByName(tri.select(col("b").as("doc_id")))
      .unionByName(tri.select(col("c").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tri"))
    val nodes = deg.filter(col("deg") >= 2)
      .join(tn, Seq("doc_id"), "left")
      .select(col("doc_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("lcc",
        (lit(2) * col("n_tri")) /
          (col("deg") * (col("deg") - 1)).cast("double"))
      .staged // report rows + both global rollups
    val g = nodes.agg(
      sum(col("deg") * (col("deg") - 1)).as("w2"),
      sum(col("lcc").cast("decimal(27,18)")).as("slcc"),
      count(lit(1)).as("nn"))
    val t = tri.agg(count(lit(1)).as("nt"))
    nodes.crossJoin(broadcast(g)).crossJoin(broadcast(t))
      .select(col("doc_id"), col("deg").cast("long").as("degree"),
        col("n_tri").cast("long").as("n_triangles"),
        round(col("lcc") * lit(1e6)).cast("long").as("local_cc_e6"),
        round(lit(6) * col("nt").cast("double") / col("w2") * lit(1e6))
          .cast("long").as("global_transitivity_e6"),
        round(col("slcc").cast("double") / col("nn") * lit(1e6))
          .cast("long").as("mean_local_cc_e6"))
      .orderBy(col("doc_id"))
  }

  /** Degree assortativity (Newman's r) of the near-dup graph — do
    * heavy duplicators link to other heavy duplicators (r > 0:
    * template families forming dense cores — batch them) or to
    * one-off spokes (r < 0: hub-and-spoke boilerplate — the q236
    * hub shape, prune the hub)? Pearson correlation of endpoint
    * degrees over the both-directions edge list, computed from the
    * scaled integer identity r = (2m·Σxy − sx²) / (2m·Σxx − sx²)
    * (the doubled list makes the x and y margins equal, so one set
    * of integer sums suffices) — EXACT until one final division, a
    * zero-variance (regular) graph reports 0 instead of dividing by
    * zero. Scale shape: one degree aggregate + two joins of the
    * edge relation, then a single 4-sum rollup; nothing beyond the
    * pair-bounded edge list is ever materialized. */
  val q299DegreeAssortativity: QuerySpec = QuerySpec(
    "q299_graph_assortativity",
    s"""WITH $nearDupOracleCtes,
       |e AS (SELECT doc_id_a AS a, doc_id_b AS b FROM np),
       |deg AS (SELECT doc_id, COUNT(*) AS deg
       |        FROM (SELECT a AS doc_id FROM e UNION ALL SELECT b FROM e) n
       |        GROUP BY doc_id),
       |j AS (SELECT d1.deg AS da, d2.deg AS db
       |      FROM e JOIN deg d1 ON e.a = d1.doc_id
       |             JOIN deg d2 ON e.b = d2.doc_id),
       |s AS (SELECT COUNT(*) AS m,
       |        CAST(SUM(da + db) AS BIGINT) AS sx,
       |        CAST(SUM(CAST(da AS DECIMAL(19,0)) * da
       |                 + CAST(db AS DECIMAL(19,0)) * db) AS DECIMAL(38,0)) AS sxx,
       |        CAST(SUM(CAST(da AS DECIMAL(19,0)) * db) AS DECIMAL(38,0)) AS sxy
       |      FROM j)
       |SELECT CAST(m AS BIGINT) AS n_edges,
       |  CAST(ROUND(CAST(sx AS DOUBLE) / (2 * m) * 1e6) AS BIGINT)
       |    AS mean_end_deg_e6,
       |  CAST(ROUND(CASE WHEN 2 * CAST(m AS DOUBLE) * sxx
       |                   - CAST(sx AS DOUBLE) * sx = 0 THEN CAST(0 AS DOUBLE)
       |       ELSE (4 * CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx)
       |            / (2 * CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
       |       END * 1e6) AS BIGINT)
       |    AS assortativity_e6
       |FROM s""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val e = nearDupJaccard(sp)
      .select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))
      .staged // degree aggregate + both deg-join roles
    val deg = e.select(col("a").as("doc_id"))
      .unionByName(e.select(col("b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
      .staged
    val j = e
      .join(deg.select(col("doc_id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("doc_id").as("b"), col("deg").as("db")), "b")
    // degree-square sums through DECIMAL(38,0); num and den stay
    // EXACT integer algebra until the single final division. Both fit
    // DECIMAL(38,0) at web scale: m ≈ 10¹², deg ≤ 10⁶ ⇒ 2m·sxx ≈
    // 4·10³⁶ < 10³⁸. (A DOUBLE tree here loses bits AND invited the
    // r14 dropped-term parse bug — every expression is parenthesized.)
    val dd = col("da").cast("decimal(19,0)")
    val sm = j.agg(
      count(lit(1)).as("m"),
      sum(col("da") + col("db")).as("sx"),
      sum(dd * col("da") + col("db").cast("decimal(19,0)") * col("db"))
        .cast("decimal(38,0)").as("sxx"),
      sum(dd * col("db")).cast("decimal(38,0)").as("sxy"))
    val mDec = col("m").cast("decimal(38,0)")
    val sxDec = col("sx").cast("decimal(38,0)")
    val num = (lit(4).cast("decimal(38,0)") * mDec * col("sxy")
      - sxDec * sxDec).cast("decimal(38,0)")
    val den = (lit(2).cast("decimal(38,0)") * mDec * col("sxx")
      - sxDec * sxDec).cast("decimal(38,0)")
    sm.select(
      col("m").cast("long").as("n_edges"),
      round(col("sx").cast("double") / (lit(2) * col("m")) * lit(1e6))
        .cast("long").as("mean_end_deg_e6"),
      round(when(den === 0, lit(0.0))
          .otherwise(num.cast("double") / den.cast("double")) * lit(1e6))
        .cast("long").as("assortativity_e6"))
  }

  /** 2-core of the near-dup graph via SIX replayed peeling rounds —
    * the "dense boilerplate nucleus" extractor: a chain of pairwise
    * dups dissolves under peeling, a template cluster (every page
    * near-dups several others) survives, so the 2-core separates
    * systematic boilerplate from incidental pair dups in one number
    * per doc. Determinism follows the kmeans/Lloyd replay rule: a
    * FIXED round count both engines replay identically (parity holds
    * even mid-convergence; the spec asserts the fixture reaches the
    * fixpoint). Scale shape per round: one degree rollup (shuffle on
    * doc_id) + two semi-joins on the shrinking edge relation — the
    * classic distributed peel, O(rounds·E), nothing global; each
    * round's survivor set is staged so no round re-executes the last.
    * Output: surviving docs with their within-core degree. */
  /** One k=2 peel round: degree rollup + two semi-joins. `keep` is NOT
    * staged: both semi-joins consume the SAME degree rollup subtree,
    * whose exchange canonicalizes identically, so ReuseExchange
    * computes it once per execution (verified by counting the jobs
    * each peel round runs). */
  private[graft] def kCorePeel(edges: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame = {
    val keep = edges.select(col("a").as("doc_id"))
      .unionAll(edges.select(col("b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2).select(col("doc_id"))
    edges
      .join(keep.withColumnRenamed("doc_id", "a"), Seq("a"), "left_semi")
      .join(keep.withColumnRenamed("doc_id", "b"), Seq("b"), "left_semi")
  }

  val q325KCore: QuerySpec = {
    // AS MATERIALIZED (DuckDB-only text): each round references the
    // previous edge relation 5× — inlined, the 6-round unroll expands
    // the quadratic np subtree 5^6 times and exhausts file handles
    def peelRounds(rounds: Int): String =
      (1 to rounds).map { r =>
        s"""d$r AS MATERIALIZED (SELECT doc_id, COUNT(*) AS deg
           |        FROM (SELECT a AS doc_id FROM e${r - 1}
           |              UNION ALL SELECT b FROM e${r - 1}) n GROUP BY doc_id),
           |k$r AS MATERIALIZED (SELECT doc_id FROM d$r WHERE deg >= 2),
           |e$r AS MATERIALIZED (SELECT e.a, e.b FROM e${r - 1} e
           |        JOIN k$r x ON e.a = x.doc_id
           |        JOIN k$r y ON e.b = y.doc_id)""".stripMargin
      }.mkString(",\n")
    QuerySpec(
      "q325_k_core",
      s"""WITH $nearDupOracleCtes,
         |e0 AS MATERIALIZED (SELECT doc_id_a AS a, doc_id_b AS b FROM np),
         |${peelRounds(6)}
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS core_deg
         |FROM (SELECT a AS doc_id FROM e6 UNION ALL SELECT b FROM e6) n
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      val e0 = nearDupJaccard(sp)
        .select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))
        .staged
      // ONE materialization per peel round. Chaining TWO rounds per
      // checkpoint (kCorePeel(kCorePeel(e))) was tried in r21 (guide
      // §2.4 fewer barriers) and measured NET-NEGATIVE in the isolated
      // A/B (warm 2.95 → 3.38 s, cold 11.0 → 15.8 s at sf0.1): the
      // chained inner round's un-shared semi-join probes re-evaluate 3×
      // under the outer round's consumers and the per-round plan
      // doubles in codegen size — more than the saved barrier buys.
      // RankStatsSpec still pins the chained≡sequential equality and
      // the degree-rollup exchange reuse (the ADVICE-r20 invariant this
      // round's shape relies on).
      val (e, _) = Checkpoints.iterate(e0, 6)(r => kCorePeel(r.prev)) {
        (_, _, _) => true
      }
      e.select(col("a").as("doc_id")).unionAll(e.select(col("b").as("doc_id")))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("core_deg"))
        .orderBy(col("doc_id"))
    }
  }

  /** Jaro-Winkler near-name pairs over the part catalog — the classic
    * fuzzy-matching complement to [[q217FuzzyEntityResolution]]'s edit
    * distance (JW weights shared prefixes, the right bias for product/
    * person names where variants diverge at the END). Candidates block
    * on (brand, first name token) — an equality key both engines
    * replay exactly — expanded through the capped salted
    * [[boundedPairs]] so one mega-block cannot serialize a task; the
    * verify kernel is the codegen'd [[graft.functions.JaroWinkler]]
    * expression (stays inside whole-stage codegen over the candidate
    * relation), semantics pinned to DuckDB's
    * `jaro_winkler_similarity` which the oracle calls directly. Both
    * engines threshold on the ROUNDED e6 value so the cut is
    * bit-identical. */
  val q334JaroWinklerPairs: QuerySpec = QuerySpec(
    "q334_jw_name_pairs",
    """WITH p AS (SELECT p_partkey, p_name, p_brand,
      |             string_split(p_name, ' ')[1] AS w1 FROM part)
      |SELECT a.p_partkey AS partkey_a, b.p_partkey AS partkey_b,
      |  CAST(ROUND(jaro_winkler_similarity(a.p_name, b.p_name) * 1e6) AS BIGINT)
      |    AS jw_e6
      |FROM p a JOIN p b ON a.p_brand = b.p_brand AND a.w1 = b.w1
      |                 AND a.p_partkey < b.p_partkey
      |WHERE CAST(ROUND(jaro_winkler_similarity(a.p_name, b.p_name) * 1e6)
      |      AS BIGINT) >= 900000
      |ORDER BY partkey_a, partkey_b""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val p = sp.table("part")
      .select(col("p_partkey"), col("p_name"), col("p_brand"))
      .staged // block pass + two verify joins
    // two-column struct key, not a delimiter-joined string: a '|' inside
    // either field must not alias distinct (brand, token) blocks — the
    // oracle joins the columns separately, so the block partition has to
    // be the exact (brand, first-token) equality both engines replay
    val keyed = p.select(
      struct(col("p_brand"),
        substring_index(col("p_name"), " ", 1)).as("bkey"),
      col("p_partkey").as("id"))
    boundedPairs(keyed, 256)
      .join(p.select(col("p_partkey").as("id_a"), col("p_name").as("name_a")), "id_a")
      .join(p.select(col("p_partkey").as("id_b"), col("p_name").as("name_b")), "id_b")
      .withColumn("jw_e6",
        round(expr("jaro_winkler(name_a, name_b)") * lit(1e6)).cast("long"))
      .filter(col("jw_e6") >= 900000)
      .select(col("id_a").as("partkey_a"), col("id_b").as("partkey_b"),
        col("jw_e6"))
      .orderBy(col("partkey_a"), col("partkey_b"))
  }

  /** Landmark multi-source BFS + harmonic centrality over the near-dup
    * graph — the distance view the existing graph family lacks: CC
    * (q79) says WHO is connected, PageRank (q215) says who accumulates
    * mass, but "how CLOSE is this doc to the template cores" needs
    * shortest-path structure. Exact all-pairs BFS is O(n·E) and dead at
    * corpus scale; the standard scale path (landmark/pivot BFS — the
    * Ullman-Yannakakis / HyperANF lineage) runs BFS from a FIXED,
    * deterministic landmark sample and scores every node by harmonic
    * sum 1/dist to the landmarks it reaches (unreached ⇒ 0, the
    * harmonic convention that needs no diameter guess).
    *
    * Scale shape: K landmarks (a modular sample — corpus-size-
    * independent by config in production), R = 3 fixed rounds (both
    * engines replay identically, the q97/q215 determinism rule); each
    * round one edge-keyed equi-join of the CURRENT frontier + one
    * (landmark, node) min-dist rollup, state checkpointed per round
    * with the superseded round released. Frontier ≤ K·n rows; no
    * all-pairs anywhere. Distances score as exact integer micro-units
    * (1e6/d unrolled to literal CASE arms — no engine division). */
  val q395LandmarkBfs: QuerySpec = QuerySpec(
    "q395_graph_landmark_bfs",
    s"""WITH $nearDupOracleCtes,
       |edges AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM np
       |          UNION ALL SELECT doc_id_b, doc_id_a FROM np),
       |lm AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
       |b0 AS (SELECT doc_id AS l, doc_id AS v, 0 AS d FROM lm),
       |b1 AS MATERIALIZED (
       |  SELECT l, v, MIN(d) AS d FROM (
       |    SELECT l, v, d FROM b0
       |    UNION ALL
       |    SELECT b0.l, e.dst, 1 FROM b0 JOIN edges e ON b0.v = e.src
       |    WHERE b0.d = 0) u GROUP BY l, v),
       |b2 AS MATERIALIZED (
       |  SELECT l, v, MIN(d) AS d FROM (
       |    SELECT l, v, d FROM b1
       |    UNION ALL
       |    SELECT b1.l, e.dst, 2 FROM b1 JOIN edges e ON b1.v = e.src
       |    WHERE b1.d = 1) u GROUP BY l, v),
       |b3 AS MATERIALIZED (
       |  SELECT l, v, MIN(d) AS d FROM (
       |    SELECT l, v, d FROM b2
       |    UNION ALL
       |    SELECT b2.l, e.dst, 3 FROM b2 JOIN edges e ON b2.v = e.src
       |    WHERE b2.d = 2) u GROUP BY l, v)
       |SELECT v AS doc_id,
       |  CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_landmarks,
       |  CAST(SUM(CASE d WHEN 1 THEN 1000000 WHEN 2 THEN 500000
       |                  WHEN 3 THEN 333333 ELSE 0 END) AS BIGINT)
       |    AS harmonic_e6
       |FROM b3
       |GROUP BY v
       |HAVING SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) > 0
       |ORDER BY harmonic_e6 DESC, doc_id
       |LIMIT 20""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val edges = nearDupEdges(sp)
    val lm = sp.table("documents").filter(col("doc_id") % 25 === 0)
      .select(col("doc_id"))
    val (reach, _) = Checkpoints.iterate(lm.select(col("doc_id").as("l"),
        col("doc_id").as("v"), lit(0).as("d")).staged, 3) { r =>
      val frontier = r.prev.filter(col("d") === r.n - 1)
      val expand = frontier.join(edges, col("v") === col("src"))
        .select(col("l"), col("dst").as("v"), lit(r.n).as("d"))
      r.prev.unionByName(expand)
        .groupBy(col("l"), col("v")).agg(min(col("d")).as("d"))
    } { (_, _, _) => true }
    reach.groupBy(col("v").as("doc_id"))
      .agg(sum(when(col("d") > 0, 1L).otherwise(0L)).as("n_landmarks"),
        sum(when(col("d") === 1, 1000000L).when(col("d") === 2, 500000L)
          .when(col("d") === 3, 333333L).otherwise(0L)).as("harmonic_e6"))
      .filter(col("n_landmarks") > 0)
      .orderBy(col("harmonic_e6").desc, col("doc_id"))
      .limit(20)
  }

  /** Sorted-neighborhood blocking (Hernández–Stolfo merge/purge) — the
    * THIRD blocking strategy next to hash blocking ([[q217]]) and LSH
    * banding ([[q81MinHashLsh]]): sort the corpus once on a cheap key
    * (here the 40-char text prefix), then candidate pairs are only the
    * records within a fixed window w of each other in sort order —
    * n·(w−1) candidates TOTAL, independent of key-collision skew (the
    * property hash blocking lacks: a degenerate blocking key floods a
    * hash block, but a sort window never exceeds w). Distributed shape:
    * the global sort position comes from [[graft.operators.Prefix]]
    * (range-partitioned, no single-task window), the window pairing is
    * an equi-join of rank against rank+d for d ∈ 1..w−1 (an explode of
    * a 3-literal sequence — bounded fan-out), and the verify is
    * `levenshtein ≤ 12` on the 80-char prefixes, which the always-on
    * [[graft.plans.BoundedLevenshteinRewrite]] lowers to the banded
    * kernel. Known SNM recall property (documented, deterministic):
    * a near-dup pair whose edit falls inside the sort key lands apart
    * in sort order and is missed — production runs multiple passes
    * with rotated keys; one pass is pinned here. */
  val q384SortedNeighborhood: QuerySpec = QuerySpec(
    "q384_er_sorted_neighborhood",
    """WITH d AS (SELECT doc_id, text, substr(text, 1, 40) AS k FROM documents),
      |r AS (SELECT doc_id, text, k,
      |        ROW_NUMBER() OVER (ORDER BY k, doc_id) AS rn
      |      FROM d),
      |c AS (SELECT LEAST(a.doc_id, b.doc_id) AS doc_id_a,
      |             GREATEST(a.doc_id, b.doc_id) AS doc_id_b,
      |             levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80))
      |               AS dist
      |      FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 3)
      |SELECT doc_id_a, doc_id_b, CAST(dist AS BIGINT) AS dist
      |FROM c WHERE dist <= 12
      |ORDER BY doc_id_a, doc_id_b""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val d = sp.table("documents")
      .select(col("doc_id"), col("text"),
        substring(col("text"), 1, 40).as("k"))
    val r = graft.operators.Prefix.globalRank(
      d, Seq(col("k"), col("doc_id")), "rn")
      .staged // both window arms read the ranked relation
    val a = r.select(col("rn"), col("doc_id").as("id_a"),
        substring(col("text"), 1, 80).as("t_a"))
      .withColumn("__d", explode(sequence(lit(1L), lit(3L))))
      .withColumn("rn_b", col("rn") + col("__d")).drop("__d")
    val b = r.select(col("rn").as("rn_b"), col("doc_id").as("id_b"),
      substring(col("text"), 1, 80).as("t_b"))
    a.join(b, "rn_b")
      .withColumn("dist", levenshtein(col("t_a"), col("t_b")).cast("long"))
      .filter(col("dist") <= 12)
      .select(least(col("id_a"), col("id_b")).as("doc_id_a"),
        greatest(col("id_a"), col("id_b")).as("doc_id_b"), col("dist"))
      .orderBy(col("doc_id_a"), col("doc_id_b"))
  }

  /** EXACT all-pairs similarity self-join by prefix filtering — the
    * AllPairs/PPJoin family (Bayardo, Ma & Srikant, WWW'07 "Scaling Up
    * All Pairs Similarity Search"; Xiao et al., WWW'08 PPJoin): every
    * document pair with token-set Jaccard ≥ t, with ZERO false
    * negatives — the exact counterpart to the probabilistic LSH path
    * (q81), for when a data-release contract demands "all pairs above
    * t", not "pairs with high probability".
    *
    * The prefix-filter lemma: order the token universe totally (here
    * rarest-first by document frequency, the order that makes prefixes
    * selective); if J(x, y) ≥ t then the first |x| − ⌈t·|x|⌉ + 1
    * tokens of x and the first |y| − ⌈t·|y|⌉ + 1 tokens of y (in that
    * global order) must share a token. So the candidate set is the
    * inverted index over PREFIX tokens only — rare tokens by
    * construction — expanded through [[boundedPairs]] (the skew armor:
    * a pathological prefix token cannot become one quadratic task),
    * then verified with one exact set intersection per candidate.
    *
    * Scale shape: token df is a map-side-combined aggregate; the
    * per-doc rarest-first sort is a window PARTITIONED BY doc (bounded
    * by doc length); candidate grain is bounded by prefix-token df and
    * capped by the salting; the verify joins attach each doc's token
    * set exactly twice. The oracle is the brute-force all-pairs
    * Jaccard — the query IS the zero-false-negative proof at both
    * fixture scales. */
  val q400PrefixFilterJoin: QuerySpec = QuerySpec(
    "q400_simjoin_prefix_filter",
    """WITH s AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      |  FROM documents),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.toks, b.toks)) AS inter_tokens,
      |    len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))
      |      AS un
      |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, CAST(inter_tokens AS BIGINT) AS inter_tokens,
      |  CAST(ROUND(inter_tokens * 1e6 / un) AS BIGINT) AS jacc_e6
      |FROM pairs
      |WHERE inter_tokens >= 0.95 * un
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    prefixFilterJoin(QuerySpec.prepared(s, dir), t = 0.95)
  }

  /** The full q400 operator on an attached session: candidates at the
    * REPRESENTATIVE grain ([[prefixFilterCandidates]]), exact-Jaccard
    * verify, then the identical-set expansion that restores the full
    * pair set — cross-group rep pairs fan out to all member
    * combinations (identical sets ⇒ identical Jaccard), and each
    * multi-member group emits its own all-pairs at Jaccard exactly 1
    * through the same capped salted expansion as every block here. */
  private[graft] def prefixFilterJoin(sp: SparkSession, t: Double): DataFrame = {
    val (repSets, candLen, members) = prefixFilterCandidates(sp, t)
    val repPairs = candLen
      .join(repSets.select(col("doc_id").as("id_a"), col("s").as("s_a")),
        Seq("id_a"))
      .join(repSets.select(col("doc_id").as("id_b"), col("s").as("s_b")),
        Seq("id_b"))
      .withColumn("inter_tokens",
        size(array_intersect(col("s_a"), col("s_b"))).cast("long"))
      .withColumn("un", col("m_a") + col("m_b") - col("inter_tokens"))
      .filter(col("inter_tokens") >= lit(t) * col("un"))
      .select(col("id_a"), col("id_b"), col("inter_tokens"),
        round(col("inter_tokens") * 1e6 / col("un")).cast("long")
          .as("jacc_e6"))
    val cross = repPairs
      .join(members.select(col("rep").as("id_a"), col("doc").as("da")),
        Seq("id_a"))
      .join(members.select(col("rep").as("id_b"), col("doc").as("db")),
        Seq("id_b"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        col("inter_tokens"), col("jacc_e6"))
    // within-group pairs: identical token sets, Jaccard exactly 1;
    // packed ids keep doc order (equal m ⇒ packed order = doc order)
    val withinPacked = members.filter(col("g") >= 2)
      .select(col("rep").as("bkey"), packSized(col("m"), col("doc")).as("id"))
    val within = boundedPairs(withinPacked, cap = 256)
      .selectExpr("id_a & 1099511627775 AS doc_a",
        "id_b & 1099511627775 AS doc_b",
        "shiftrightunsigned(id_a, 40) AS inter_tokens")
      .select(col("doc_a"), col("doc_b"), col("inter_tokens"),
        lit(1000000L).as("jacc_e6"))
    cross.unionByName(within).orderBy(col("doc_a"), col("doc_b"))
  }

  /** `(m << 40) | id` packing for the compiled length-filtered pair
    * expansion — enforcing the documented contract LOUDLY (id < 2⁴⁰,
    * set size m < 2²³, both non-negative): a violating id would bleed
    * into the size bits and make [[graft.functions.LongPairsLen]]'s
    * sliding window silently DROP true candidate pairs — a false
    * negative in an operator whose whole contract is exactness. */
  private def packSized(m: Column, id: Column): Column =
    when(id >= lit(1L << 40) || id < 0 || m >= lit(1L << 23) || m < 0,
      expr("raise_error('q400 packed-id contract violated: need 0 <= id < 2^40 and 0 <= token-set size < 2^23')")
        .cast("long"))
      .otherwise(shiftleft(m.cast("long"), 40) + id)

  /** The q400 candidate pipeline at the REPRESENTATIVE grain: returns
    * (rep token sets, rep candidate pairs with both set sizes attached,
    * group membership (rep, g, m, doc)). The PPJoin LENGTH
    * filter — the lemma t·|x| ≤ |y| ∧ t·|y| ≤ |x| (J(x, y) ≥ t ⇒
    * inter ≥ t·un ≥ t·max(|x|, |y|), and inter ≤ min(|x|, |y|)) — runs
    * INSIDE the compiled pair expansion: each document's set size m is
    * packed into its id's high bits ((m << 40) | doc_id) and
    * [[graft.functions.LongPairsLen]] sorts each block by m and slides
    * a window, so length-incompatible pairs are never generated, never
    * distinct-ed, never shuffled, and the verify stage ships token-set
    * arrays only for pairs that could possibly reach t. On the fresh
    * 10× drill fixture the filter keeps 25% of the raw candidate mass
    * (339M of 1.35B — measured, BENCH_SF1.json); zero false negatives
    * (the lemma is exact; LlmOpsSpec pins both the reduction and the
    * unchanged result). Packing contract: doc_id < 2⁴⁰, distinct-token
    * count < 2²³ — web documents are orders of magnitude inside both.
    * `lengthFilter = false` keeps the raw expansion (the spec's
    * reduction-measurement arm). */
  private[graft] def prefixFilterCandidates(
      sp: SparkSession, t: Double,
      lengthFilter: Boolean = true): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val toks = sp.table("documents")
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      .staged // consumed by the set-grouping and the rep-grain pipeline
    // Identical-set collapse: docs whose DISTINCT token sets are EQUAL
    // are interchangeable for every candidate and verify decision, so
    // the pipeline runs on ONE representative per set and the caller
    // expands the verified pairs back ([[prefixFilterJoin]]) — the
    // production "exact dedup first" advice folded inside the operator:
    // on a corpus with d-fold duplication, candidate and verify work
    // drop d² while the (inherently quadratic-in-d) duplicate pairs are
    // restored as pure output expansion. Measured on the 10× replicated
    // drill fixture (every doc × 10): warm 109 s → the rep pipeline
    // runs at the base corpus's size.
    val grouped = toks.groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("tok"))).as("s"))
      .groupBy(col("s")).agg(min(col("doc_id")).as("rep"),
        collect_list(col("doc_id")).as("docs"), count(lit(1)).as("g"))
      .staged // repSets, members, and the rep-token semi-join read it
    val repSets = grouped.select(col("rep").as("doc_id"), col("s"))
    val members = grouped.select(col("rep"), col("g"),
      size(col("s")).cast("long").as("m"), explode(col("docs")).as("doc"))
    val repToks = toks.join(grouped.select(col("rep").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val dfreq = repToks.groupBy("tok").agg(count(lit(1)).as("df"))
    // rarest-first prefix: per-doc window (bounded by doc length);
    // prefix length m − ⌈t·m⌉ + 1 per the AllPairs lemma
    val pref = repToks.join(dfreq, "tok")
      .withColumn("m", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))))
      .filter(col("r") <= col("m") - ceil(lit(t) * col("m")) + 1)
    val packed = pref.select(col("tok").as("bkey"),
      packSized(col("m"), col("doc_id")).as("id"))
    val tE6 = math.round(t * 1e6)
    val cand = boundedPairs(packed, cap = 256,
      lenFilterE6 = if (lengthFilter) Some(tE6) else None)
    val unpacked = cand.selectExpr(
      "id_a & 1099511627775 AS da", "shiftrightunsigned(id_a, 40) AS ma",
      "id_b & 1099511627775 AS db", "shiftrightunsigned(id_b, 40) AS mb")
      .select(
        least(col("da"), col("db")).as("id_a"),
        greatest(col("da"), col("db")).as("id_b"),
        when(col("da") < col("db"), col("ma")).otherwise(col("mb")).as("m_a"),
        when(col("da") < col("db"), col("mb")).otherwise(col("ma")).as("m_b"))
    (repSets, unpacked, members)
  }

  val all: Seq[QuerySpec] = Seq(
    q325KCore.benched, q334JaroWinklerPairs, q384SortedNeighborhood,
    q395LandmarkBfs, q400PrefixFilterJoin,
    q215PageRank, q217FuzzyEntityResolution, q220LabelPropagation, q236Triangles, q244Modularity, q253ThresholdSweep, q276Containment, q292WinnowingClones,
    q298ClusteringCoefficient, q299DegreeAssortativity,
    q80Exact, q81MinHashLsh.benched, q82SimHash, q83NgramJaccard,
    q84EmbeddingCosine.benched, q155PlantedNearDup, q79DedupClusters,
    q186CanonicalPick,
    q101CrossLang, q151IncrementalDedup, q152CorpusDiff, q164SemDeDup,
    q179CdcChunking, q180CrossSourceOverlap, q208DedupAblation,
    q209DedupAgreement)
}
