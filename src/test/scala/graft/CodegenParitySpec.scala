package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Codegen/interpreted parity fuzz for every custom scalar kernel.
  *
  * Each kernel runs two ways: the code Spark generates for its
  * `StaticInvoke` binding (the hot path, inlined into whole-stage
  * codegen) and Spark's interpreted eval (the fallback Spark silently
  * uses when codegen fails or is disabled). A divergence between them
  * is invisible to the oracle gate — the same mode runs on both sides
  * of every compare — so this suite drives the SAME randomized inputs
  * through both execution modes
  * (`spark.sql.codegen.factoryMode` CODEGEN_ONLY vs NO_CODEGEN) and
  * requires bit-identical results. Inputs are scalacheck-generated with
  * a fixed seed: unicode strings (the corpus is ASCII, the functions
  * must not be), empties, extreme doubles, and zero vectors. */
class CodegenParitySpec extends EngineSuite {

  /** Runs `sql` over `rows` (one string column `s` / array column `v`)
    * in both execution modes and returns the two result sets. */
  private def bothModes(setup: () => Unit, sql: String): (Seq[String], Seq[String]) = {
    val sp = spark
    def run(): Seq[String] = {
      setup()
      sp.sql(sql).collect().map(_.toString).toSeq
    }
    // one finally restores the SHARED session no matter which run throws
    // (a codegen compile failure — the very bug class under test — must
    // not leave every later suite in this JVM running interpreted-only)
    try {
      sp.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      sp.conf.set("spark.sql.codegen.wholeStage", "true")
      val gen = run()
      sp.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      sp.conf.set("spark.sql.codegen.wholeStage", "false")
      val interp = run()
      (gen, interp)
    } finally {
      sp.conf.unset("spark.sql.codegen.factoryMode")
      sp.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  private def check(name: String)(prop: Prop): Unit = {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(30)
      .withInitialSeed(org.scalacheck.rng.Seed(42L))
    val res = SCTest.check(params, prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  // strings: ASCII words, unicode (multi-byte UTF-8), supplementary-plane
  // (surrogate-pair) code points, empties, spaces — the non-BMP entries
  // exercise levenshtein parity where code units ≠ code points
  private val strGen: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(24)),
    Gen.listOfN(6, Gen.oneOf("tier", "scan", "über", "数据", "λ", "", " ", "a b",
        "👍", "x😀y", "𝔸"))
      .map(_.mkString(" ")),
    Gen.const(""))

  // doubles: ordinary, tiny, huge, negative zero — NaN excluded (NaN !=
  // NaN breaks row equality, and the corpus never produces NaN inputs)
  private val dblGen: Gen[Double] = Gen.oneOf(
    Gen.choose(-1.0, 1.0), Gen.const(0.0), Gen.const(-0.0),
    Gen.const(1e-300), Gen.const(1e300), Gen.const(-3.5))

  test("string kernels: fnv_hash, murmur_hash, shingles64, simhash+minhash+lsh chain") {
    val s0 = spark
    import s0.implicits._
    check("string kernels")(Prop.forAll(Gen.listOfN(8, strGen)) { texts =>
      val setup = () => texts.toDF("s").createOrReplaceTempView("g_parity_s")
      val (g, i) = bothModes(setup,
        """SELECT s, fnv_hash(s), murmur_hash(s),
          |       shingles64(s),
          |       minhash64(shingles64(s)),
          |       lshbands64(minhash64(shingles64(s))),
          |       simhash64(transform(split(s, ' '), w -> fnv_hash(w)))
          |FROM g_parity_s""".stripMargin)
      g == i
    })
  }

  test("numeric-input hashes: fnv_hash/murmur_hash over bigint and double byte images") {
    val s0 = spark
    import s0.implicits._
    check("numeric hashes")(Prop.forAll(
      Gen.listOfN(8, Gen.zip(Gen.choose(Long.MinValue, Long.MaxValue), dblGen))) { rows =>
      val setup = () => rows.toDF("l", "d").createOrReplaceTempView("g_parity_n")
      val (g, i) = bothModes(setup,
        "SELECT l, d, fnv_hash(l), fnv_hash(d), murmur_hash(l) FROM g_parity_n")
      g == i
    })
  }

  test("vector kernels: vec_cosine and hyperplanebands64 over random embeddings") {
    val s0 = spark
    import s0.implicits._
    val vecGen = Gen.listOfN(64, dblGen).map(_.toArray)
    check("vector kernels")(Prop.forAll(Gen.listOfN(6, Gen.zip(vecGen, vecGen))) { vs =>
      val setup = () => vs.map { case (a, b) => (a.toSeq, b.toSeq) }
        .toDF("a", "b").createOrReplaceTempView("g_parity_v")
      val (g, i) = bothModes(setup,
        """SELECT vec_cosine(a, b),
          |       hyperplanebands64(a, 256, 16),
          |       hyperplanebands64(b, 64, 8)
          |FROM g_parity_v""".stripMargin)
      g == i
    })
  }

  test("pair generators: long_pairs and cosine_pairs diagonal + cross blocks") {
    val s0 = spark
    import s0.implicits._
    check("pair generators")(Prop.forAll(
      Gen.listOfN(5, Gen.choose(0L, 50L)), Gen.listOfN(5, Gen.choose(0L, 50L))) { (ls, rs) =>
      val setup = () => Seq((ls, rs)).toDF("ls", "rs").createOrReplaceTempView("g_parity_p")
      val (g, i) = bothModes(setup,
        """SELECT long_pairs(ls, rs, true), long_pairs(ls, rs, false)
          |FROM g_parity_p""".stripMargin)
      g == i
    })
    // long_pairs_len: packed (m << 40 | id) blocks, codegen ≡ interpreted
    check("long_pairs_len")(Prop.forAll(
      Gen.listOfN(5, Gen.zip(Gen.choose(0L, 50L), Gen.choose(1L, 12L))),
      Gen.listOfN(5, Gen.zip(Gen.choose(0L, 50L), Gen.choose(1L, 12L)))) { (la, ra) =>
      val pack = (p: (Long, Long)) => (p._2 << 40) | p._1
      val ls = la.map(pack)
      val rs = ra.map(pack)
      val setup = () => Seq((ls, rs)).toDF("ls", "rs")
        .createOrReplaceTempView("g_parity_pl")
      val (g, i) = bothModes(setup,
        """SELECT long_pairs_len(ls, rs, true, CAST(950000 AS BIGINT)),
          |       long_pairs_len(ls, rs, false, CAST(950000 AS BIGINT))
          |FROM g_parity_pl""".stripMargin)
      g == i
    })
    // deterministic set-equivalence: with tE6 = 0 (every size window
    // open — raw unpacked ids carry m = 0) the sorted-window expansion
    // emits EXACTLY long_pairs' multiset, diagonal and cross
    val eq = spark.sql(
      """SELECT array_sort(long_pairs_len(array(3L, 1L, 2L), array(3L, 1L, 2L),
        |                                 true, CAST(0 AS BIGINT)))
        |       = array_sort(long_pairs(array(3L, 1L, 2L), array(3L, 1L, 2L), true)) AS d,
        |       array_sort(long_pairs_len(array(5L, 9L), array(7L, 9L, 1L),
        |                                 false, CAST(0 AS BIGINT)))
        |       = array_sort(long_pairs(array(5L, 9L), array(7L, 9L, 1L), false)) AS x
        |""".stripMargin).collect()(0)
    assert(eq.getBoolean(0) && eq.getBoolean(1),
      "tE6 = 0 long_pairs_len must degenerate to long_pairs exactly")
    // cosine_pairs: id+vector struct blocks, diagonal and cross
    val blockGen = Gen.listOfN(4,
      Gen.zip(Gen.choose(0L, 20L), Gen.listOfN(8, dblGen)))
    check("cosine_pairs")(Prop.forAll(blockGen, blockGen) { (la, ra) =>
      val setup = () => la.map(x => (x._1, x._2)).toDF("id", "v")
        .selectExpr("collect_list(struct(id, v)) AS ls")
        .crossJoin(ra.map(x => (x._1, x._2)).toDF("id", "v")
          .selectExpr("collect_list(struct(id, v)) AS rs"))
        .createOrReplaceTempView("g_parity_cp")
      val (g, i) = bothModes(setup,
        """SELECT cosine_pairs(ls, rs, CAST(-2.0 AS DOUBLE), true),
          |       cosine_pairs(ls, rs, CAST(0.1 AS DOUBLE), false)
          |FROM g_parity_cp""".stripMargin)
      g == i
    })
  }
  test("levenshtein_bounded: codegen parity and LEAST(levenshtein, k+1) equivalence") {
    val s0 = spark
    import s0.implicits._
    check("levenshtein_bounded")(Prop.forAll(
      Gen.listOfN(8, Gen.zip(strGen, strGen, Gen.choose(0, 4)))) { rows =>
      val setup = () => rows.toDF("a", "b", "k").createOrReplaceTempView("g_parity_lev")
      // k must be a literal: probe each k value present in the batch
      val ks = rows.map(_._3).distinct.sorted
      ks.forall { k =>
        val (g, i) = bothModes(setup,
          s"""SELECT a, b, levenshtein_bounded(a, b, $k),
             |       (levenshtein_bounded(a, b, $k)
             |          = LEAST(levenshtein(a, b), $k + 1)) AS eq
             |FROM g_parity_lev""".stripMargin)
        g == i && g.forall(_.endsWith("true]"))
      }
    })
  }

  test("jaro_winkler: codegen parity and invariants (range, symmetry-of-self, empties)") {
    val s0 = spark
    import s0.implicits._
    check("jaro_winkler")(Prop.forAll(
      Gen.listOfN(8, Gen.zip(strGen, strGen))) { rows =>
      val setup = () => rows.toDF("a", "b").createOrReplaceTempView("g_parity_jw")
      val (g, i) = bothModes(setup,
        """SELECT a, b, jaro_winkler(a, b),
          |  (jaro_winkler(a, b) BETWEEN 0.0 AND 1.0) AS in_range,
          |  (a = '' OR jaro_winkler(a, a) = 1.0) AS self_one,
          |  ((a <> '' AND b <> '') OR jaro_winkler(a, b) = 0.0) AS empty_zero
          |FROM g_parity_jw""".stripMargin)
      g == i && g.forall(r => r.contains("true,true,true]"))
    })
  }

  test("jaro_winkler: strcmp95 integer-floor half-transposition (odd mismatch counts)") {
    // DuckDB 1.0 / strcmp95 floor the half-transposition credit:
    // t = mismatches / 2 in INTEGER division. ('bdaaab','dabe') has 3
    // matches with 3 mismatched positions → t = 1 (not 1.5), giving
    // jaro = (3/6 + 3/4 + 2/3)/3 = 0.638888…; the exact-halves variant
    // yields 0.583333… and diverges from the oracle on every odd count.
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String): Double =
      graft.functions.JaroWinklerUtil.sim(
        UTF8String.fromString(a), UTF8String.fromString(b))
    assert(math.abs(jw("bdaaab", "dabe") - 0.6388888888888888) < 1e-12)
    assert(math.abs(jw("dabe", "bdaaab") - 0.6388888888888888) < 1e-12)
    // even mismatch count unchanged by the convention: 'martha'/'marhta'
    // has 6 matches, 2 mismatched positions → t = 1, jw = 0.9611…
    assert(math.abs(jw("martha", "marhta") - 0.9611111111111111) < 1e-12)
    // another odd-count pair: 'abc'/'bca' matches all 3 within window 0?
    // w = 0 so only diagonal compares: zero matches → 0.0
    assert(jw("abc", "bca") == 0.0)
  }

}
