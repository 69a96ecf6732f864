package graft

import org.apache.spark.sql.functions._

/** Behavioral checks on the LLM-ops operators: MinHash recall vs exact
  * Jaccard, SimHash recall on true near-dups, LSH/IVF ANN recall vs
  * brute force — the properties an oracle row-compare can't express. */
class LlmOpsSpec extends EngineSuite {

  private lazy val exactPairs: Set[(Long, Long)] = {
    // exact all-pairs word-3-gram Jaccard ≥ 0.8 (tiny at sf0.001)
    QuerySpec.prepared(spark, sfDir)
    spark.sql(
      """WITH g AS (
        |  SELECT doc_id, array_distinct(transform(
        |    sequence(0, greatest(size(split(text,' ')) - 3, 0)),
        |    i -> concat_ws(' ', slice(split(text,' '), i + 1, 3)))) AS sh
        |  FROM documents)
        |SELECT a.doc_id a, b.doc_id b
        |FROM g a JOIN g b ON a.doc_id < b.doc_id
        |WHERE CAST(size(array_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / size(array_union(a.sh, b.sh)) >= 0.8""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("minhash-LSH finds exactly the exact-Jaccard pairs") {
    val got = llmops.Dedup.q81MinHashLsh.run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exactPairs, s"LSH=${got.size} exact=${exactPairs.size}")
  }

  // A synthetic testdata dir whose `documents` is 300 identical docs (one
  // LSH band block of 300 > the pipelines' cap of 256) plus distinct
  // fillers, and whose `customer` has 300 same-prefix names — the skew
  // pathology the salted boundedPairs branch exists for, at a size the
  // fixture itself never reaches. Other tables copy through from sf0.001.
  private lazy val skewDir: String = {
    val sess = spark
    import sess.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_skew").toString
    for (n <- sources.TestTables.names if n != "documents" && n != "customer")
      sources.TestTables.load(spark, sfDir, n)
        .write.mode("overwrite").parquet(s"$dir/$n.parquet")
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val docs =
      (1L to 300L).map(i => (i, dup, "en", "dup", dup.length.toLong)) ++
        (1L to 50L).map(i => (1000L + i,
          s"filler f${i}a f${i}b f${i}c f${i}d f${i}e", "en", "fill", 30L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val custs = (1L to 300L).map(i => (i, f"Customer#$i%09d", 1, 0.0, "BUILDING"))
    custs.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    dir
  }

  test("skew drill: q81 whole pipeline over a giant block = naive all-pairs, salted branch fired") {
    try {
      llmops.Dedup.saltedExpansions.set(0)
      val got = llmops.Dedup.q81MinHashLsh.run(spark, skewDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(llmops.Dedup.saltedExpansions.get() > 0,
        "the 300-doc block never exercised the salted over-cap branch")
      // naive ground truth: all-pairs exact Jaccard over the synthetic corpus
      val naive = spark.sql(
        """WITH g AS (
          |  SELECT doc_id, array_distinct(transform(
          |    sequence(0, greatest(size(split(text,' ')) - 3, 0)),
          |    i -> concat_ws(' ', slice(split(text,' '), i + 1, 3)))) AS sh
          |  FROM documents)
          |SELECT a.doc_id a, b.doc_id b
          |FROM g a JOIN g b ON a.doc_id < b.doc_id
          |WHERE CAST(size(array_intersect(a.sh, b.sh)) AS DOUBLE)
          |      / size(array_union(a.sh, b.sh)) >= 0.8""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(naive.size == 300 * 299 / 2, s"ground truth should be C(300,2): ${naive.size}")
      assert(got == naive, s"pipeline=${got.size} naive=${naive.size}")
    } finally QuerySpec.prepared(spark, sfDir) // restore fixture views
  }

  test("skew drill: q217 whole pipeline over a giant prefix block = naive all-pairs, salted branch fired") {
    try {
      llmops.Dedup.saltedExpansions.set(0)
      val got = llmops.Dedup.q217FuzzyEntityResolution.run(spark, skewDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(llmops.Dedup.saltedExpansions.get() > 0,
        "the 300-name prefix block never exercised the salted over-cap branch")
      val naive = spark.sql(
        """SELECT a.c_custkey a, b.c_custkey b
          |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
          |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(naive.nonEmpty, "synthetic names should contain lev<=1 pairs")
      assert(got == naive, s"pipeline=${got.size} naive=${naive.size}")
    } finally QuerySpec.prepared(spark, sfDir) // restore fixture views
  }

  test("reliable staging switch: same results, checkpoints actually written") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val baseline = llmops.Dedup.q81MinHashLsh.run(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(llmops.Checkpoints.ReliableKey, "true")
    try {
      // held while the files are counted: a reliable staging's files are
      // deleted once nothing references its relation
      val result = llmops.Dedup.q81MinHashLsh.run(spark, sfDir)
      val reliable = result.collect().map(_.toString).sorted.toSeq
      assert(reliable == baseline, "reliable staging changed the result")
      def files(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(files).sum else 1
      assert(files(new java.io.File(dir)) > 0,
        "reliable mode wrote no checkpoint data — the switch never engaged")
      java.lang.ref.Reference.reachabilityFence(result)
    } finally spark.conf.unset(llmops.Checkpoints.ReliableKey)
  }

  test("triangle wedge build is degree-ordered: hubs produce no wedges") {
    val sess = spark
    import sess.implicits._
    // star with the hub id in the MIDDLE of the id range (the worst case
    // for the old e1.b = e2.a wedge join, which would have built
    // 50×50 = 2500 hub wedges) — canonical a<b edges
    val hub = 50L
    val spokes = (0L until 101L).filterNot(_ == hub)
    val star = spokes.map(s => (math.min(s, hub), math.max(s, hub))).toDF("a", "b")
    val oriented = llmops.Dedup.orientEdges(star)
    // every spoke (deg 1) orients INTO the hub (deg 100)
    assert(oriented.filter(col("src") === hub).count() == 0,
      "a max-degree hub must not be a wedge-build source")
    assert(llmops.Dedup.orientedWedges(oriented).count() == 0,
      "pure star has no degree-ordered wedges (naive build: 2500)")
    assert(llmops.Dedup.triangles(star).count() == 0)

    // hub graph with planted triangles: add spoke-spoke edges 1-2, 2-3, 1-3
    val withTris = star.unionByName(Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b"))
    val tri = llmops.Dedup.triangles(withTris)
      .collect().map(r => Set(r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // {1,2,3} plus each pair closed through the hub
    assert(tri == Set(Set(1L, 2L, 3L), Set(1L, 2L, hub), Set(2L, 3L, hub), Set(1L, 3L, hub)),
      s"wrong triangle set: $tri")
    // and the orientation invariant holds on every oriented edge
    val deg = withTris.select(col("a").as("n")).unionByName(withTris.select(col("b").as("n")))
      .groupBy("n").count()
    val bad = llmops.Dedup.orientEdges(withTris)
      .join(deg.select(col("n").as("src"), col("count").as("sdeg")), "src")
      .join(deg.select(col("n").as("dst"), col("count").as("tdeg")), "dst")
      .filter(col("sdeg") > col("tdeg")).count()
    assert(bad == 0, "an oriented edge runs high-degree → low-degree")
  }

  test("boundedPairs: skewed block is salted — same pairs, capped per-task arrays") {
    val sess = spark
    import sess.implicits._
    // one degenerate block of 200 ids (identical-boilerplate pathology),
    // one normal block of 10, one singleton — cap far below the big block
    val keyed = ((1L to 200L).map(("hot", _)) ++ (301L to 310L).map(("warm", _)) :+ (("cold", 999L)))
      .toDF("bkey", "id")
    val cap = 20
    val got = llmops.Dedup.boundedPairs(keyed, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      ids <- Seq((1L to 200L), (301L to 310L)); a <- ids; b <- ids if a < b
    } yield (a, b)).toSet
    assert(got == want, s"salting changed the pair set: got=${got.size} want=${want.size}")
    // the bound itself: no collected sub-block array may exceed ~2·cap
    // (salt-hash imbalance slack), i.e. the degenerate block never lands
    // in one task as 200 ids / 19900 pairs
    val sizes = keyed.groupBy("bkey").agg(count(lit(1)).as("cnt"))
    val maxArr = keyed.join(sizes, Seq("bkey"))
      .withColumn("s", ceil(col("cnt").cast("double") / cap).cast("int"))
      .withColumn("g", pmod(xxhash64(col("id")), col("s")).cast("int"))
      .groupBy("bkey", "g").agg(count(lit(1)).as("n"))
      .agg(max("n")).as[Long].head()
    assert(maxArr <= 2L * cap, s"a salted sub-block holds $maxArr ids (cap $cap)")
  }

  test("boundedPairsBipartite: skewed bucket — exact cross pairs, capped arrays, no same-side pairs") {
    val sess = spark
    import sess.implicits._
    // one hot bucket: 15 delta ids vs 180 corpus ids (boilerplate band
    // key shared with most of the corpus), plus a corpus-only bucket
    // that must contribute nothing
    val left = (1L to 15L).map(("hot", _)).toDF("bkey", "id")
    val right = ((101L to 280L).map(("hot", _)) ++ (301L to 330L).map(("corpusonly", _)))
      .toDF("bkey", "id")
    val cap = 20
    val got = llmops.Dedup.boundedPairsBipartite(left, right, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for (a <- 1L to 15L; b <- 101L to 280L) yield (a, b)).toSet
    assert(got == want, s"bipartite salting changed the pair set: got=${got.size} want=${want.size}")
    // per-side sub-block bound: no salt group on either side exceeds ~2·cap
    val maxGroup = right.filter(col("bkey") === "hot")
      .withColumn("g", pmod(xxhash64(col("id")), lit(9)).cast("int"))
      .groupBy("g").agg(count(lit(1)).as("n")).agg(max("n")).as[Long].head()
    assert(maxGroup <= 2L * cap, s"a salted sub-block holds $maxGroup ids (cap $cap)")
  }

  test("boundedPairs == naive expansion across random block structures and caps (seeded)") {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      // random bucket layout: a few keys, sizes spanning under/over cap,
      // ids overlapping across keys (a pair can meet in several buckets)
      val rows = (0 until 1 + rnd.nextInt(5)).flatMap { k =>
        val size = 1 + rnd.nextInt(120)
        val base = rnd.nextInt(300)
        (0 until size).map(i => (s"k$k", (base + i).toLong))
      }
      val cap = Seq(3, 17, 50, 1000)(rnd.nextInt(4))
      val got = llmops.Dedup.boundedPairs(rows.toDF("bkey", "id"), cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = rows.groupBy(_._1).values.flatMap { b =>
        val ids = b.map(_._2).distinct
        for (a <- ids; c <- ids if a < c) yield (a, c)
      }.toSet
      assert(got == want, s"cap=$cap layout=${rows.size}: got=${got.size} want=${want.size}")
    }
  }

  test("boundedPairsBipartite == naive cross expansion across random layouts (seeded)") {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val keys = (0 until 1 + rnd.nextInt(4)).map(k => s"k$k")
      def side(off: Long) = keys.flatMap { k =>
        if (rnd.nextInt(5) == 0) Nil // some keys exist on one side only
        else (0 until 1 + rnd.nextInt(90)).map(i => (k, off + rnd.nextInt(200)))
      }.distinct
      val l = side(0L)
      val r = side(10000L)
      val cap = Seq(5, 23, 1000)(rnd.nextInt(3))
      val got = llmops.Dedup.boundedPairsBipartite(
        l.toDF("bkey", "id"), r.toDF("bkey", "id"), cap)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val rByKey = r.groupBy(_._1)
      val want = l.flatMap { case (k, a) =>
        rByKey.getOrElse(k, Nil).map { case (_, b) => (a, b) }
      }.toSet
      assert(got == want, s"cap=$cap: got=${got.size} want=${want.size}")
    }
  }

  test("q155 planted-twin LSH finds exactly the planted pairs") {
    val rows = llmops.Dedup.q155PlantedNearDup.run(spark, sfDir).collect()
    QuerySpec.prepared(spark, sfDir)
    val n = spark.table("embeddings").count()
    // every original must pair with its twin (id + 10^7) at cos ≈ 0.999;
    // background pairs stay far below the 0.95 threshold
    assert(rows.length == n, s"expected $n planted pairs, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) + 10000000L, s"non-twin pair: $r")
      assert(r.getDouble(2) >= 0.99, s"twin cosine suspiciously low: $r")
    }
  }

  test("simhash recall on true near-dups") {
    val sim = llmops.Dedup.q82SimHash.run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // SimHash at hamming ≤ 7 is a recall/precision trade-off, not a
    // guarantee: a J=0.9 pair's differing words can flip > 7 bits. Require
    // high-but-not-perfect recall to catch broken signatures or joins.
    if (exactPairs.nonEmpty) {
      val found = exactPairs.count(sim.contains)
      assert(found.toDouble / exactPairs.size >= 0.6,
        s"simhash found $found of ${exactPairs.size} true near-dups")
    }
  }

  test("LSH ANN recall@10 vs brute force") {
    val brute = llmops.Similarity.q85BruteTopK.run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = llmops.Similarity.q86LshBucketed.run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    // the synthetic embeddings are near-uniform on the sphere (no tight
    // clusters), the hardest case for hyperplane LSH — a low floor just
    // guards against a broken bucket join returning nothing relevant
    assert(recall >= 0.1, s"LSH recall@10 $recall implausibly low")
  }

  test("PQ/ADC candidates overlap brute-force top-5 and ranks descend") {
    val brute = llmops.Similarity.q85BruteTopK.run(spark, sfDir)
      .collect().filter(_.getInt(1) <= 5).map(r => (r.getLong(0), r.getLong(2))).toSet
    val rows = llmops.Similarity.q149PqAdc.run(spark, sfDir).collect()
    val pq = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & pq).size.toDouble / brute.size
    // 8×8 PQ with a sampled codebook on near-uniform sphere vectors is
    // coarse; the floor guards against an ADC join returning garbage
    assert(recall >= 0.1, s"PQ recall@5 $recall implausibly low")
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val cs = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y })
    }
  }

  test("IVF probe returns descending-cosine ranks per query") {
    val rows = llmops.Similarity.q87IvfProbe.run(spark, sfDir).collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val cs = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y })
    }
  }

  test("connected components converge on a long path in O(log diameter) rounds") {
    val sess = spark
    import sess.implicits._
    // path 1-2-...-100 (diameter 99): plain min-label propagation needs
    // ~100 rounds; pointer doubling must land the full merge in O(log d)
    val path = (1L until 100L).map(i => (i, i + 1))
    val edges = (path ++ path.map(_.swap)).toDF("src", "dst")
    val (labelDf, rounds) = llmops.Dedup.connectedComponentsWithRounds(edges)
    val labels = labelDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.keySet == (1L to 100L).toSet)
    assert(labels.values.forall(_ == 1L), s"under-merged: $labels")
    assert(rounds <= 12, s"pointer doubling degraded to linear rounds: $rounds")
  }

  test("dedup clusters: every pair shares a cluster; canonical is the min id") {
    val labels = llmops.Dedup.q79DedupClusters.run(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    exactPairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
      assert(labels(a) <= a && labels(b) <= b, "canonical id must be the min")
    }
    // each cluster's canonical member is in the cluster
    labels.values.toSet.foreach { (c: Long) => assert(labels(c) == c) }
  }

  test("documents fixture is pure ASCII (q92 byte/char oracle equivalence)") {
    QuerySpec.prepared(spark, sfDir)
    val nonAscii = spark.sql(
      "SELECT COUNT(*) FROM documents WHERE length(text) != octet_length(text)")
      .collect().head.getLong(0)
    assert(nonAscii == 0, "q92's char-based oracle requires ASCII text")
  }

  test("multimodal resize stage: 8-chunk thumbnails are valid byte means") {
    val rows = llmops.Multimodal.decoded(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { d =>
      assert(d.thumb.length == 8)
      d.thumb.foreach(v => assert(v >= 0.0 && v < 256.0))
      // chunk means must bracket the global mean
      assert(d.thumb.min <= d.channel_mean && d.channel_mean <= d.thumb.max)
    }
  }

  test("q158 chunking: stride-24 starts tile every token into at least one chunk") {
    QuerySpec.prepared(spark, sfDir)
    val chunks = SparkEntry.queries("q158_text_chunk_overlap")(spark, sfDir)
    val perDoc = chunks.groupBy("doc_id").agg(
        max(col("start_tok") + col("n_tok")).as("covered_to"),
        max("start_tok").as("last_start"), count(lit(1)).as("n_chunks"))
      .join(spark.table("documents")
        .selectExpr("doc_id", "size(split(text, ' ')) AS n_tokens"), "doc_id")
    // the last chunk ends exactly at the token count (full coverage, no
    // overrun) and starts form the arithmetic stride: n_chunks = ⌈n/24⌉
    val bad = perDoc.filter(col("covered_to") =!= col("n_tokens") ||
      col("n_chunks") =!= ceil(col("n_tokens").cast("double") / 24).cast("long") ||
      col("last_start") =!= (col("n_chunks") - 1) * 24)
    assert(bad.count() == 0, bad.collect().take(3).mkString(", "))
  }

  test("q159 PII redaction leaves no addressable identifiers behind") {
    val out = SparkEntry.queries("q159_text_pii_redact")(spark, sfDir).collect()
    assert(out.length == 6)
    out.foreach { r =>
      val red = r.getString(r.fieldIndex("redacted"))
      assert(!red.contains("@"), s"email survived: $red")
      assert(!red.exists(_.isDigit), s"digits survived: $red")
    }
    // fixture exercises every category at least twice corpus-wide
    Seq("n_email", "n_ssn", "n_phone", "n_ip").foreach { c =>
      assert(out.map(r => r.getInt(r.fieldIndex(c))).sum >= 2, s"$c never fired")
    }
  }

  test("q160 substring dedup: exact-copy docs are fully duplicate-covered") {
    QuerySpec.prepared(spark, sfDir)
    val stats = SparkEntry.queries("q160_dedup_substring")(spark, sfDir)
    // docs whose full text equals an EARLIER doc's text: every 8-gram in
    // them is a repeat occurrence, so dup_frac must be exactly 1.0
    val copies = spark.sql(
      """SELECT b.doc_id FROM documents a JOIN documents b
        |ON a.text = b.text AND a.doc_id < b.doc_id
        |WHERE size(split(b.text, ' ')) >= 8""".stripMargin)
    val n = copies.distinct().count()
    val full = stats.join(copies.distinct(), "doc_id").filter(col("dup_frac") === 1.0)
    assert(full.count() == n, s"an exact copy was not fully covered (of $n)")
    // and nothing exceeds its own length
    assert(stats.filter(col("n_dup_tokens") > col("n_tokens")).count() == 0)
  }

  test("q161 SQ8 ANN: per-query recall@5 vs brute force >= 4/5") {
    // NOT exact equality: int8 quantization error can legitimately push
    // a true top-5 neighbor out of the approximate top-20 candidate
    // pool, so a fixture change must not flip a correct implementation
    // into a failure. The recall CONTRACT is >= 4/5 per query (on the
    // current fixture it happens to be 5/5).
    val brute = SparkEntry.queries("q85_ann_brute_topk")(spark, sfDir)
      .filter(col("rank") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val sq = SparkEntry.queries("q161_ann_int8_quant")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    assert(sq.keySet == brute.keySet, s"query sets differ: ${sq.keySet} vs ${brute.keySet}")
    brute.foreach { case (q, ids) =>
      val got = sq(q)
      assert(got.size == ids.size, s"query $q returned ${got.size} of ${ids.size}")
      val recall = (ids & got).size
      assert(recall >= 4, s"query $q recall@5 $recall/${ids.size}")
    }
  }

  test("q168 pooled doc embeddings are unit-norm and cover every (doc, dim)") {
    val out = SparkEntry.queries("q168_embed_pool_normalize")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val docs = out.groupBy(_._1)
    assert(docs.size == 50 && out.length == 50 * 64, s"${docs.size} docs, ${out.length} rows")
    docs.foreach { case (d, xs) =>
      assert(xs.map(_._2).sorted.toSeq == (0 until 64), s"doc $d dims incomplete")
      // L2-normalized output: sum of squares ≈ 1 (values rounded to 6dp)
      val n2 = xs.map(x => x._3 * x._3).sum
      assert(math.abs(n2 - 1.0) < 1e-4, s"doc $d norm^2 = $n2")
    }
  }

  test("q164 SemDeDup: kept set has no within-cluster θ-pair; removals point at lower kept-or-removed ids") {
    QuerySpec.prepared(spark, sfDir)
    val removed = SparkEntry.queries("q164_dedup_semantic")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    removed.foreach { case (v, _, dupOf, cos) =>
      assert(dupOf < v, s"dup_of $dupOf !< $v")
      assert(cos >= 0.4, s"removed pair below threshold: $cos")
    }
    // ground truth at this scale: every within-cluster θ-pair must have
    // its higher id in the removal set (keep-lowest-id rule)
    val gt = spark.sql(
      """WITH e AS (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM embeddings),
        |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id % 50 = 0),
        |assigned AS (
        |  SELECT vec_id, v, cent_id FROM (
        |    SELECT e.vec_id, e.v, c.cent_id,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY vec_cosine(e.v, c.cv) DESC, c.cent_id) AS crank
        |    FROM e CROSS JOIN cents c) t WHERE crank = 1)
        |SELECT a.vec_id AS ia, b.vec_id AS ib
        |FROM assigned a JOIN assigned b
        |  ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
        |WHERE vec_cosine(a.v, b.v) >= 0.4""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val removedIds = removed.map(_._1).toSet
    gt.foreach { case (_, b) =>
      assert(removedIds.contains(b), s"θ-pair survivor $b not removed")
    }
    assert(removedIds.size == gt.map(_._2).distinct.size,
      "removal set is not exactly the higher ids of θ-pairs")
  }

  test("q163 BPE: round-1 argmax pair is merged away and resurfaces inside round-2 symbols") {
    val out = SparkEntry.queries("q163_text_bpe_merges")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getLong(3)))
    val r1 = out.filter(_._1 == 1).sortBy(_._2)
    val r2 = out.filter(_._1 == 2).sortBy(_._2)
    assert(r1.size == 5 && r2.size == 5)
    // counts non-increasing in rank within each round
    Seq(r1, r2).foreach { r =>
      assert(r.sliding(2).forall(p => p.head._4 >= p.last._4), r.mkString(", "))
    }
    // the merged pair no longer exists as a pair in round 2
    val merged = r1.head._3
    assert(!r2.exists(_._3 == merged), s"round-1 merge '$merged' still countable in round 2")
    // merging never raises any pair's count (it only removes adjacencies
    // or creates new pairs bounded by the merged count), so the round-2
    // argmax is bounded by the round-1 argmax
    assert(r2.head._4 <= r1.head._4,
      s"round-2 max ${r2.head} exceeds round-1 max ${r1.head}")
  }

  test("q163 BPE merge kernel: adjacent occurrences all merge (double-space sentinel)") {
    // the Sennrich divergence the advisor flagged: with single-space
    // separators, 'b a n a n a' + merge 'n a' yields 'b a na n a'
    // (adjacent matches share the delimiting space); the double-space
    // sentinel form must merge BOTH sites
    val r = spark.sql(
      """SELECT split(trim(replace(s, ' ' || replace(p, ' ', '  ') || ' ',
        |                          ' ' || replace(p, ' ', '') || ' ')), '  ') AS syms
        |FROM (SELECT ' b  a  n  a  n  a ' AS s, 'n a' AS p)""".stripMargin)
      .collect().head.getSeq[String](0)
    assert(r == Seq("b", "a", "na", "na"), r.mkString("|"))
  }

  test("q167 BPE encode: fixpoint reached, chained merges fuse 'table', rank priority holds") {
    val out = SparkEntry.queries("q167_text_bpe_encode")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.length == 30 && out.map(_._1).toSeq == (1 to 30))
    // counts non-increasing in rank
    assert(out.sliding(2).forall(p => p.head._3 >= p.last._3))
    // the encoded vocabulary q167 ranks, (word, n, seq):
    val enc = llmops.TextAnalysis.bpeEncodedVocab(QuerySpec.prepared(spark, sfDir))
    // 1) FIXPOINT — no merge-table pair survives in any final sequence,
    //    so the bounded unrolling IS the full greedy encode
    val leftover = enc.selectExpr("split(trim(seq), '  ') AS ss")
      .selectExpr(
        """explode(CASE WHEN size(ss) >= 2
          |  THEN transform(sequence(0, size(ss) - 2),
          |         i -> concat(ss[i], ' ', ss[i + 1]))
          |  ELSE array() END) AS pair""".stripMargin)
      .filter("pair IN ('e r','t a','ta b','tab l','tabl e','s c','a n','sc an','s t','o w')")
      .count()
    assert(leftover == 0, s"$leftover applicable pairs survive the unrolled rounds")
    // 2) the 4-deep chain re-fuses 'table' into one token
    val table = enc.filter(col("word") === "table").selectExpr("trim(seq)")
      .collect().head.getString(0)
    assert(table == "table", s"chain did not fully fuse: '$table'")
    // 3) priority: in 'customer', rank-1 'e r' and rank-9 's t' both
    //    apply and nothing else does — final symbols c|u|st|o|m|er
    val cust = enc.filter(col("word") === "customer").selectExpr("split(trim(seq), '  ')")
      .collect().head.getSeq[String](0)
    assert(cust == Seq("c", "u", "st", "o", "m", "er"), cust.mkString("|"))
    // and the fused tokens surface in the frequency table
    assert(out.exists(_._2 == "table") && out.exists(_._2 == "er"), out.map(_._2).mkString(","))
  }

  test("q166 URL canonicalization groups tracking-param/port/case variants, keeps real params apart") {
    val out = SparkEntry.queries("q166_text_url_canonicalize")(spark, sfDir)
      .collect().map(r => r.getInt(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out.size == 9)
    // utm-stripped + sorted params == the plain form; default port + case
    // + trailing slash collapse; tracking-only query == no query; but a
    // REAL query string must never merge with the bare URL
    assert(out(1)._1 == out(2)._1 && out(1)._2 == 2)
    assert(out(3)._1 == out(4)._1 && out(3)._2 == 2)
    assert(out(5)._2 == 1 && out(5)._1 != out(1)._1 && out(5)._1 != out(3)._1)
    assert(out(6)._1 == out(7)._1 && out(6)._2 == 2)
    // only the scheme's OWN default port is dropped: http://…:443 and
    // https://…:80 are distinct origins — the port survives and neither
    // merges with the portless forms
    assert(out(8)._1 == "http://example.com:443/a/b" && out(8)._2 == 1, out(8).toString)
    assert(out(9)._1 == "https://example.com:80/a/b" && out(9)._2 == 1, out(9).toString)
  }

  test("q169 model quality filter: kept flag matches the logit sign and splits the corpus") {
    val out = SparkEntry.queries("q169_text_model_quality")(spark, sfDir).collect()
    out.foreach { r =>
      val z = r.getDouble(r.fieldIndex("score"))
      val kept = r.getBoolean(r.fieldIndex("kept"))
      // rounded score and full-precision flag must agree: the fixture's
      // closest logit to 0 is ~3.7e-4, far above 6dp rounding error
      assert(kept == (z > 0), s"doc ${r.getLong(0)}: score $z but kept=$kept")
    }
    val n = out.count(_.getBoolean(3))
    assert(n > 0 && n < out.length, s"filter does not split the corpus ($n/${out.length})")
  }

  test("q162 unigram LM: flag is consistent with the rounded score and splits the corpus") {
    val out = SparkEntry.queries("q162_text_unigram_lm")(spark, sfDir).collect()
    out.foreach { r =>
      val x = r.getDouble(r.fieldIndex("xent_nats"))
      assert(x > 0 && x < 20, s"implausible cross-entropy $x")
      assert(r.getBoolean(r.fieldIndex("flagged")) == (x > 3.5))
    }
    val n = out.count(_.getBoolean(3))
    assert(n > 0 && n < out.length, s"flag does not split the corpus ($n/${out.length})")
  }

  test("multimodal stub decode matches SQL-side byte math") {
    QuerySpec.prepared(spark, sfDir)
    val dec = llmops.Multimodal.q92DecodePipeline.run(spark, sfDir)
    val viaSql = spark.table("documents")
      .select(col("doc_id"), length(col("text")).as("n"))
    val joined = dec.join(viaSql, "doc_id")
      .filter(col("byte_len") =!= col("n") ||
        col("width") =!= lit(64) * (lit(1) + col("n") % 16))
    assert(joined.count() == 0)
  }

  test("q179 CDC chunking is shift-resistant: an insertion only perturbs its own chunk") {
    // the property the operator exists for — with fixed-size chunking
    // one inserted word re-cuts the whole tail; with content-defined
    // boundaries every cut after the edit survives, shifted by one
    val s = spark
    val base = (1 to 60).map(i => s"w${i * 7 % 23}x$i").mkString(" ")
    val edited = "INSERTED " + base
    def cuts(text: String): Seq[Int] = {
      import org.apache.spark.sql.functions.{expr, lit}
      s.range(1).select(lit(text).as("txt"))
        .select(expr(
          """filter(sequence(0, size(split(txt, ' ')) - 4),
            |  i -> pmod(fnv_hash(concat_ws(' ', slice(split(txt, ' '), i + 1, 4))), 16) = 0)""".stripMargin))
        .collect().head.getSeq[Int](0)
    }
    val c0 = cuts(base)
    val c1 = cuts(edited)
    assert(c0.nonEmpty, "fixture produced no boundaries — weaken the mod")
    // every original boundary reappears shifted by exactly the insertion
    assert(c0.map(_ + 1).toSet.subsetOf(c1.toSet),
      s"tail boundaries did not survive the edit: $c0 vs $c1")
    // and the edit can only ADD boundaries near position 0
    assert((c1.toSet -- c0.map(_ + 1).toSet).forall(_ <= 4), c1.toString)
  }

  test("q175 substring removal is exactly q160's measured duplicate coverage") {
    // q160 measures duplicate-covered token positions; q175 removes
    // them. On every doc the removed count must equal the measured
    // n_dup_tokens, and the reconstruction head must be the doc's own
    // prefix whenever nothing was removed before position 80.
    val stats = llmops.TextAnalysis.q160SubstringDedup.run(spark, sfDir)
      .select(col("doc_id"), col("n_dup_tokens"))
    val removed = llmops.TextAnalysis.q175SubstringRemove.run(spark, sfDir)
      .select(col("doc_id"), col("n_removed"), col("head"))
    val j = removed.join(stats, "doc_id").collect()
    assert(j.nonEmpty)
    j.foreach(r => assert(r.getAs[Long]("n_removed") == r.getAs[Long]("n_dup_tokens"),
      s"doc ${r.get(0)}: removed ${r.get(1)} != measured ${r.getAs[Long]("n_dup_tokens")}"))
    // the fixture contains duplicated spans — the operator must act
    assert(j.exists(_.getAs[Long]("n_removed") > 0), "no spans removed anywhere")
    // untouched docs reconstruct to their own text prefix
    val untouched = removed.filter(col("n_removed") === 0)
      .join(spark.table("documents").select(col("doc_id"), col("text")), "doc_id")
      .filter(col("head") =!= substring(col("text"), 1, 80))
    assert(untouched.count() == 0, "an untouched doc reconstructed differently")
  }

  test("q183 within-doc dup coverage: bounded, present in fixture, zero for short docs") {
    QuerySpec.prepared(spark, sfDir)
    val r = llmops.TextAnalysis.q183DupNgramCoverage.run(spark, sfDir)
    // coverage is a fraction of the doc's own positions
    assert(r.filter(col("dup3_frac") < 0 || col("dup3_frac") > 1).count() == 0)
    // the fixture's repetitive corpus must exhibit within-doc repeats
    assert(r.filter(col("dup3_frac") > 0).count() > 0, "no within-doc repetition found")
    // docs with < 3 tokens have no 3-grams: exactly zero
    val short = r.join(
      spark.sql("SELECT doc_id FROM documents WHERE size(split(text, ' ')) < 3"), "doc_id")
    assert(short.filter(col("dup3_frac") =!= 0.0).count() == 0)
  }

  test("q184 bigram LM scores at or below the unigram model on average") {
    // The interpolated bigram model conditions on context, so corpus-wide
    // it must fit the corpus at least as well as the unigram MLE it
    // interpolates with (up to the λ mixing loss on a tiny corpus, mean
    // cross-entropy should not be materially worse).
    val uni = llmops.TextAnalysis.q162UnigramLm.run(spark, sfDir)
      .agg(avg(col("xent_nats"))).head().getDouble(0)
    val bi = llmops.TextAnalysis.q184BigramLm.run(spark, sfDir)
      .agg(avg(col("xent2_nats"))).head().getDouble(0)
    assert(bi < uni + 0.05, s"bigram model fits worse than unigram: $bi vs $uni")
    // and scores are finite positive cross-entropies
    val bad = llmops.TextAnalysis.q184BigramLm.run(spark, sfDir)
      .filter(col("xent2_nats") <= 0 || col("xent2_nats").isNull || isnan(col("xent2_nats")))
    assert(bad.count() == 0)
  }

  test("q185 ANN recall: bounded per query and consistent with the two index paths") {
    val r = llmops.Similarity.q185AnnRecall.run(spark, sfDir).collect()
    assert(r.length == 5, "one row per sampled query")
    r.foreach { row =>
      val hits = row.getAs[Long]("n_hits")
      assert(hits >= 0 && hits <= 10, s"recall hits out of range: $row")
      assert(math.abs(row.getAs[Double]("recall_at_10") - hits / 10.0) < 1e-9)
    }
    // the multi-table LSH index must find at least some true neighbors
    assert(r.map(_.getAs[Long]("n_hits")).sum > 0, "LSH index found nothing")
  }

  test("q215 pagerank: teleport floor holds and ranks are partition-independent") {
    val run1 = llmops.Dedup.q215PageRank.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(run1.nonEmpty && run1.forall(_._2 >= 150000L),
      "a node can never rank below the teleport constant")
    // integer fixed-point arithmetic ⇒ bit-identical under any parallelism
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try {
      val run2 = llmops.Dedup.q215PageRank.run(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(run1 == run2, "pagerank must be partitioning-independent")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prior)
  }

  test("q208/q209 dedup ablation agrees with the underlying method outputs") {
    val ab = llmops.Dedup.q208DedupAblation.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(ab.keySet == Set("exact", "near08", "prefix80"))
    // near08's pair count is exactly the q81 pipeline's verified pair set
    assert(ab("near08")._1 == llmops.Dedup.q81MinHashLsh.run(spark, sfDir).count())
    // identical texts share prefixes: exact removals ⊆ prefix80 removals
    assert(ab("exact")._2 <= ab("prefix80")._2)
    // every removed doc pairs with its keeper, so pairs ≥ removals
    ab.foreach { case (m, (pairs, removed, _)) =>
      assert(removed <= pairs, s"$m removed $removed > pairs $pairs")
    }
    val ag = llmops.Dedup.q209DedupAgreement.run(spark, sfDir).collect()
    assert(ag.length == 3, "one row per method pair")
    ag.foreach { r =>
      val (na, nb, both) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(both <= math.min(na, nb), s"intersection exceeds a set size: $r")
      assert(na == ab(r.getString(0))._2 && nb == ab(r.getString(1))._2,
        s"q209 set sizes disagree with q208 removal counts: $r")
    }
    // exact ⊆ prefix80 ⇒ their intersection is the whole exact set
    val ep = ag.find(r => r.getString(0) == "exact" && r.getString(1) == "prefix80").get
    assert(ep.getLong(4) == ep.getLong(2))
  }

  test("q207 triplet mining: hardest positive and top-3 negatives per anchor") {
    val r = llmops.Similarity.q207TripletMining.run(spark, sfDir).collect()
    val byAnchor = r.groupBy(_.getAs[Long]("anchor_id"))
    assert(byAnchor.size == 5, "one group per sampled anchor")
    byAnchor.foreach { case (a, rows) =>
      val pos = rows.filter(_.getAs[String]("role") == "pos")
      val neg = rows.filter(_.getAs[String]("role") == "neg")
        .sortBy(_.getAs[Int]("rank"))
      assert(pos.length <= 1, s"anchor $a has ${pos.length} positives")
      assert(neg.length == 3, s"anchor $a has ${neg.length} negatives")
      val negCos = neg.map(_.getAs[Double]("cos"))
      assert(negCos.zip(negCos.tail).forall { case (x, y) => x >= y - 1e-9 },
        s"anchor $a negatives not ranked by descending cosine: ${negCos.toSeq}")
      assert(rows.forall(_.getAs[Long]("cand_id") != a),
        s"anchor $a mined itself as a candidate")
    }
    // the hardest positive really is the same-label argmin: no same-label
    // candidate may score strictly below it (checked via the neg side's
    // complement — recompute same-label cosines directly)
    QuerySpec.prepared(spark, sfDir)
    val lows = spark.sql(
      """SELECT q.vec_id AS anchor_id, MIN(ROUND(vec_cosine(q.v, c.v), 6)) AS lo
        |FROM (SELECT vec_id, label, CAST(embedding AS ARRAY<DOUBLE>) v FROM embeddings) q
        |JOIN (SELECT vec_id, label, CAST(embedding AS ARRAY<DOUBLE>) v FROM embeddings) c
        |  ON q.vec_id < 5 AND c.vec_id <> q.vec_id AND q.label = c.label
        |GROUP BY 1""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    byAnchor.foreach { case (a, rows) =>
      rows.filter(_.getAs[String]("role") == "pos").foreach { p =>
        assert(math.abs(p.getAs[Double]("cos") - lows(a)) < 1e-9,
          s"anchor $a hardest positive ${p.getAs[Double]("cos")} != argmin ${lows(a)}")
      }
    }
  }

  test("q187 phash dedup: exact-copy payloads collide at hamming 0") {
    QuerySpec.prepared(spark, sfDir)
    val pairs = llmops.Multimodal.q187PhashDedup.run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // identical text → identical payload bytes → identical signature
    // (sf0.001 happens to contain no exact copies; the clause arms at
    // any SF that does, and the sf0.01 oracle gate exercises it too)
    val copies = spark.sql(
      """SELECT a.doc_id, b.doc_id FROM documents a JOIN documents b
        |ON a.text = b.text AND a.doc_id < b.doc_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    copies.foreach { p =>
      assert(pairs.get(p).contains(0), s"exact copy $p missing or hamming != 0")
    }
    // threshold enforced, pairs canonically ordered, and the banded
    // candidate path is deterministic across runs
    assert(pairs.values.forall(h => h >= 0 && h <= 3))
    assert(pairs.keys.forall { case (a, b) => a < b })
    val again = llmops.Multimodal.q187PhashDedup.run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(again == pairs, "phash dedup is not deterministic")
  }

  test("q186 canonical pick keeps the best member of every cluster and covers the corpus") {
    QuerySpec.prepared(spark, sfDir)
    val picks = llmops.Dedup.q186CanonicalPick.run(spark, sfDir)
    val docs = spark.table("documents").select(col("doc_id"), col("n_chars"))
    // the kept doc's recorded length is its real length
    val wrongLen = picks.join(docs, picks("kept_doc") === docs("doc_id"))
      .filter(col("kept_chars") =!= col("n_chars").cast("long"))
    assert(wrongLen.count() == 0, "kept_chars disagrees with the document table")
    // membership accounting covers every document exactly once
    val total = picks.agg(sum(col("n_members"))).head().getLong(0)
    assert(total == docs.count(), s"cluster membership does not partition the corpus: $total")
    // within multi-member clusters the kept doc maximizes length: no
    // member may be longer than its cluster's pick
    val clusters = llmops.Dedup.q79DedupClusters.run(spark, sfDir)
      .select(col("doc_id"), col("cluster"))
    val longer = clusters.join(docs, "doc_id")
      .join(picks.select(col("cluster"), col("kept_chars")), "cluster")
      .filter(col("n_chars").cast("long") > col("kept_chars"))
    assert(longer.count() == 0, "a cluster member is longer than the canonical pick")
  }

  test("prefix-filter similarity join finds EXACTLY the brute-force " +
    "Jaccard >= 0.95 pairs (zero false negatives)") {
    // the AllPairs lemma's whole claim: candidates from PREFIX tokens
    // only lose nothing — compare against the unfiltered all-pairs set
    QuerySpec.prepared(spark, sfDir)
    val brute = spark.sql(
      """WITH s AS (
        |  SELECT doc_id, array_distinct(split(text, ' ')) AS toks
        |  FROM documents)
        |SELECT a.doc_id a, b.doc_id b
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE CAST(size(array_intersect(a.toks, b.toks)) AS DOUBLE)
        |      >= 0.95 * size(array_union(a.toks, b.toks))""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = llmops.Dedup.q400PrefixFilterJoin.run(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute,
      s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)} " +
        s"(|brute|=${brute.size}, |got|=${got.size})")
    assert(brute.nonEmpty, "fixture must exercise the join (threshold too high)")
  }

  test("q400 length filter cuts candidates INSIDE the pair expansion, " +
    "identical-set docs collapse to one rep, and the expansion restores " +
    "their pairs — all losslessly") {
    // Docs 5, 6 and 7 carry the SAME token set {a,b,c,d} (different
    // orders/multiplicity) ⇒ ONE representative (5) runs the pipeline;
    // their three pairs come back through the within-group expansion at
    // Jaccard exactly 1. Docs 1 and 5 share the prefix token 'a' ⇒ a
    // raw rep candidate — but |1|=2 vs |5|=4 fails t·|y| ≤ |x|, so the
    // in-expansion length window must never emit it. Doc 2 shares no
    // prefix bucket with anyone.
    val sp = QuerySpec.prepared(spark.newSession(), sfDir)
    import sp.implicits._
    Seq((1L, "q a"), (2L, "q b c d"), (5L, "a b c d"), (6L, "b a d c d"),
      (7L, "a b c d"))
      .toDF("doc_id", "text").createOrReplaceTempView("documents")
    def pairsOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id_a"), col("id_b"), col("m_a"), col("m_b"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val (_, raw, members) =
      llmops.Dedup.prefixFilterCandidates(sp, t = 0.95, lengthFilter = false)
    assert(pairsOf(raw) == Set((1L, 5L, 2L, 4L)),
      s"the rep-grain prefix bucket must emit (1, 5) with true sizes: ${pairsOf(raw)}")
    val (_, filtered, _) = llmops.Dedup.prefixFilterCandidates(sp, t = 0.95)
    assert(pairsOf(filtered).isEmpty,
      s"the length-mismatched (1, 5) candidate must be cut: ${pairsOf(filtered)}")
    // the identical-set group holds docs 5, 6, 7 under rep 5
    val grp = members.filter(col("g") === 3)
      .select(col("rep"), col("doc")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(grp == Set((5L, 5L), (5L, 6L), (5L, 7L)), s"group: $grp")
    // end to end: exactly the three within-group pairs, Jaccard 1
    val out = llmops.Dedup.prefixFilterJoin(sp, t = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(out == Set((5L, 6L, 4L, 1000000L), (5L, 7L, 4L, 1000000L),
      (6L, 7L, 4L, 1000000L)), s"got $out")
  }

  test("q408 anchor join: mixed-length phrase relation, overlapping and " +
    "duplicate-word matches, and a broadcast-only search path") {
    val sp = spark.newSession()
    import sp.implicits._
    val docs = Seq((1L, "a b a b a"), (2L, "x a b y")).toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("p0", "word")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        col("word"))
    // "a b a" carries the SAME word at phrase positions 1 and 3: the
    // distinct-k count must demand all three positions per anchor
    val phrases = Seq("a b a", "a b").toDF("phrase")
    val hits = llmops.Retrieval.phraseAnchorHits(toks, phrases)
    val got = hits.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      ("a b", 1L, 0L), ("a b", 1L, 2L), ("a b", 2L, 1L),
      ("a b a", 1L, 0L), ("a b a", 1L, 2L)), // overlapping occurrences
      s"got $got")
    // the search path's ONE corpus-grain join broadcasts the phrase
    // words — the production contract: only phrase-word postings move
    val p = hits.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "the phrase-word side must broadcast, not shuffle")
  }

  test("q403/q408 phrase derivation is a BOUNDED setup step: the slice " +
    "scan pushes doc_id to parquet and the gated search plan carries " +
    "no n-gram derivation pass") {
    val sp = QuerySpec.prepared(spark, sfDir)
    // the derivation slice reads its OWN scan with the doc-id bound
    // pushed to the parquet reader — the setup cost is fixed at any
    // corpus size (r17 finding: the 10x drills measured the scaffold)
    val scan = llmops.Retrieval.phraseDeriveSlice(sp)
      .queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") &&
      scan.contains(s"LessThan(doc_id,${llmops.Retrieval.PhraseDeriveDocs}"),
      s"derivation slice must push its doc_id bound to parquet:\n$scan")
    // above the staging boundary the gated plans are the SEARCH path
    // only: no tokenization of document text (postings are a staged
    // setup relation; the phrase parameters arrive from the STANDING
    // parquet artifact — r19: the derivation subtree left the plans
    // entirely, so no top-k Limit survives either; q408's one
    // surviving explode is over the ≤3-row PHRASE relation, never text
    for (q <- Seq(llmops.Retrieval.q403PhraseSearch,
        llmops.Retrieval.q408MultiPhraseSearch)) {
      val plan = q.run(sp, sfDir).queryExecution.optimizedPlan.toString
      assert(!plan.contains("split(text"),
        s"${q.name}: the gated plan re-tokenizes the corpus:\n$plan")
    }
    // q419's REWRITE side legitimately splits text once (the doc word
    // arrays being redacted), so it is exempt from the no-split pin —
    // but like the search queries its parameters must come from the
    // standing artifact: no phrase-derivation top-k Limit in any of
    // the three gated plans
    for (q <- Seq(llmops.Retrieval.q403PhraseSearch,
        llmops.Retrieval.q408MultiPhraseSearch,
        llmops.Retrieval.q419PhraseRedaction)) {
      val plan = q.run(sp, sfDir).queryExecution.optimizedPlan.toString
      assert(!plan.contains("Limit"),
        s"${q.name}: the phrase-derivation top-k is back inside the " +
          s"gated plan — parameters must come from the artifact:\n$plan")
    }
  }

  test("phrase parameters flow through the versioned release lifecycle: " +
    "a re-release publishes v+1 atomically and a pinned audit still " +
    "reads its release's phrases") {
    val sp = QuerySpec.prepared(spark, sfDir)
    import sp.implicits._
    import graft.streaming.EventStreams
    val root = java.nio.file.Files
      .createTempDirectory("graft-phrase-rel-").toString + "/params"
    // release 1: the fixture's derived parameter relation (≤ 3 rows)
    val params1 = llmops.Retrieval.phraseParams(sp, sfDir)
      .collect().map(_.getString(0)).toSet
    val v1 = EventStreams.publishArtifact(root)(
      llmops.Retrieval.phraseParams(sp, sfDir))
    // release 2: a revised blocklist (the corpus re-release re-derives)
    val v2 = EventStreams.publishArtifact(root)(
      Seq("brand new phrase").toDF("phrase"))
    assert(EventStreams.versions(sp, root) == Seq(v1, v2))
    val pinned = EventStreams.readVersion(sp, root, v1)
      .collect().map(_.getString(0)).toSet
    assert(pinned == params1,
      s"pinned v1 must still serve release 1's phrases: $pinned vs $params1")
    val latest = EventStreams.readLatest(sp, root)
      .collect().map(_.getString(0)).toSet
    assert(latest == Set("brand new phrase"),
      s"latest must serve the re-released parameters: $latest")
  }

  test("q419 redaction: overlapping and nested blocklist spans collapse; " +
    "untouched docs stay out of the report") {
    val sp = spark.newSession()
    import sp.implicits._
    val docs = Seq((1L, "a b a b a"), (2L, "x a b y"), (3L, "c c c"))
      .toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("p0", "word")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        col("word"))
    // "a b" hits doc1 at anchors 0/2 (spans [1,3)/[3,5)) and doc2 at 1;
    // "a b a" hits doc1 at 0/2 (spans [1,4)/[3,6)) — together they
    // cover all 5 words of doc1 through overlapping AND nested spans
    val phrases = Seq("a b", "a b a").toDF("phrase")
    val out = llmops.Retrieval.phraseRedact(
        docs.select(col("doc_id"), split(col("text"), " ").as("w")),
        toks, phrases)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq((1L, 5L, ""), (2L, 2L, "x y")),
      s"got ${out.toSeq}")
  }
}
