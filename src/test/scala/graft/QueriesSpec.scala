package graft

/** Smoke-executes every registered query at sf0.001 (through the one
  * [[RegistryPass]] build): schema resolves, plan runs, and (for all but
  * the listed small-result queries) rows come back. Value-level
  * correctness is the driver's DuckDB differential gate
  * (scripts/oracle_check.py) — this spec catches broken plans early. */
class QueriesSpec extends EngineSuite {

  /** Queries whose result can legitimately be tiny/empty at sf0.001. */
  private val mayBeEmpty = Set(
    "q13_join_full_outer", "q15_join_left_anti", "q16_join_nullaware_anti",
    "q44_sub_not_exists_corr", "q46_sub_count_scalar",
    "q81_dedup_minhash_lsh", "q82_dedup_simhash", "q83_dedup_ngram_jaccard",
    "q84_dedup_embedding_cosine", "q86_ann_lsh_bucketed", "q74_dml_views",
    "q164_dedup_semantic", "q325_k_core")

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has a unique name and (usually) an oracle") {
    val names = SparkEntry.specs.map(_.name)
    assert(names.distinct.size == names.size, "duplicate query names")
    val noOracle = SparkEntry.specs.filter(_.oracle.isEmpty).map(_.name)
    assert(noOracle.size <= 10, s"too many rows-only queries: $noOracle")
  }

  test("a name-prefix selection fails on, and names, each prefix that matches no query") {
    assert(SparkEntry.selected(" , ").isEmpty)
    assert(SparkEntry.selected("q01_,q02_").contains(SparkEntry.queries.keys.toSeq.sorted
      .filter(n => n.startsWith("q01_") || n.startsWith("q02_"))))
    val e = intercept[IllegalArgumentException](SparkEntry.selected("q01_, zz_none ,yy_none"))
    assert(e.getMessage.endsWith("prefix(es) zz_none,yy_none"))
    // Verify fails before it starts a session or writes anything
    val tmp = java.nio.file.Files.createTempDirectory("verify-none")
    val out = tmp.resolve("out")
    intercept[IllegalArgumentException](Verify.main(Array(sfDir, out.toString, "zz_none")))
    assert(!java.nio.file.Files.exists(out))
    java.nio.file.Files.delete(tmp)
  }

  /** The cross-join operator itself is the only query allowed to plan a
    * cartesian product — anywhere else one appears it is a scale bug
    * (the anti-pattern sweep, run per-query so a future query can't
    * slip one in unpinned). */
  private val mayCartesian = Set("q17_join_cross")

  SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
    test(s"$name executes at sf0.001") {
      val b = RegistryPass(name).built
      assert(b.width > 0)
      // a view left in the session keeps the relation it names (often
      // a staged checkpoint) reachable after the query is gone
      assert(b.leftViews.isEmpty,
        s"$name leaves session temp views behind: ${b.leftViews.mkString(", ")}")
      if (!mayCartesian(name))
        assert(!b.cartesian, s"$name plans a cartesian product")
      if (!mayBeEmpty(name)) assert(b.rows > 0, s"$name returned 0 rows")
    }
  }
}
