package graft

import org.apache.spark.sql.functions._

/** Guards on the documented fixture assumptions some oracles lean on.
  * These are NOT correctness tests — they pin properties of the
  * driver-generated testdata that specific DuckDB oracle texts assume,
  * so a fixture change fails HERE with a pointer to the queries to
  * update, instead of surfacing as an inscrutable hash mismatch. */
class FixtureGuardSpec extends EngineSuite {

  // Both sf dirs the gates run at: specs use sf0.001, Verify sf0.01.
  private val sfDirs = Seq(sfDir, "/root/testdata/sf0.01")

  test("embeddings are exactly 64-dim (q86/q97/q149/q161 oracles hardcode range(64))") {
    // q86 hyperplane LSH, q149 PQ-ADC, and q161 SQ8 enumerate range(64)
    // in their DuckDB oracle texts; q97's seed stride assumes the vector
    // population. A dimension change must fail here first.
    for (dir <- sfDirs) {
      val dims = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(size(col("embedding")).as("d")).distinct().collect().map(_.getInt(0))
      assert(dims.toSeq == Seq(64),
        s"$dir: embedding dims ${dims.mkString(",")} != 64 — update the " +
          "range(64) oracle texts in Similarity.scala and the q97 seeds")
    }
  }

  test("q97 seed stride (vec_id % 50 = 0) selects a non-trivial seed set") {
    // the k-means oracle re-derives seeds with the same modular stride;
    // a fixture with fewer vectors would silently under-seed
    for (dir <- sfDirs) {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val seeds = e.filter(col("vec_id") % 50 === 0).count()
      assert(seeds >= 2 && seeds < e.count(),
        s"$dir: ${seeds} seeds from vec_id % 50 — q97's seeding no longer meaningful")
    }
  }

  test("documents are pure ASCII (the q82 oracle hashes code points, not UTF-8 bytes)") {
    // Dedup.scala q82: DuckDB's ascii(substr(...)) replay of fnv_hash
    // equals the Spark byte-wise hash ONLY while every character is
    // single-byte. One non-ASCII character breaks the equivalence.
    for (dir <- sfDirs) {
      val nonAscii = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("text").rlike("[^\\x00-\\x7F]")).count()
      assert(nonAscii == 0,
        s"$dir: $nonAscii docs contain non-ASCII — q82's oracle (Dedup.scala) " +
          "needs the explicit code-point→UTF-8 byte expansion (q120 recipe)")
    }
  }

  test("max word length fits the q410/q411 oracle's positional DP unroll") {
    // UnigramTokenizer.dpChain, the one DuckDB Viterbi-DP generator,
    // unrolls one CTE per word position up to MaxWordLen; a longer word
    // would silently fall out of the oracle's segmentation (no dp row at
    // pos = len) while the Spark side still segments it — an
    // inscrutable hash mismatch.
    for (dir <- sfDirs) {
      val maxLen = spark.read.parquet(s"$dir/documents.parquet")
        .select(explode(split(col("text"), " ")).as("w"))
        .agg(max(length(col("w")))).collect()(0).getInt(0)
      assert(maxLen <= llmops.UnigramTokenizer.MaxWordLen,
        s"$dir: max word length $maxLen exceeds the oracle unroll bound " +
          s"${llmops.UnigramTokenizer.MaxWordLen} of UnigramTokenizer.dpChain, " +
          "the one DuckDB DP chain generator that the unigram family " +
          "(q410-q414, q417, q420, q421, q423-q425, q429, q430, q434), " +
          "q415 and q428 depend on — raise MaxWordLen in " +
          "UnigramTokenizer.scala")
    }
  }

  test("the fixture satisfies the q210 data contract (all expectations pass)") {
    // q210's value is detecting violations; the healthy fixture must
    // report zero everywhere, or its rules no longer describe the data.
    val report = operators.Relational.q210ExpectationsAudit.run(spark, sfDir).collect()
    assert(report.length == 7, "one row per declared expectation")
    report.foreach { r =>
      assert(r.getAs[Boolean]("pass") && r.getAs[Long]("n_violations") == 0L,
        s"fixture violates declared contract: $r")
      assert(r.getAs[Long]("n_checked") > 0L, s"empty check domain: $r")
    }
  }
}
