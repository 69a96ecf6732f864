package graft

import org.apache.spark.sql.Row

/** Pins exact semantics of the custom function surface
  * (graft.functions.ImpalaFunctions + expressions). */
class FunctionsSpec extends EngineSuite {

  private def one(sql: String): Row = {
    graft.engine.GraftSession.attach(spark)
    spark.sql(sql).collect().head
  }

  test("attach registers the function surface once per session; a " +
    "newSession() gets its own") {
    val s2 = spark.newSession()
    val reg = s2.sessionState.functionRegistry
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("strleft")
    discard(reg.dropFunction(id))
    graft.engine.GraftSession.attach(s2)
    assert(reg.lookupFunctionBuilder(id).isDefined,
      "a session's first attach must register its functions")
    // a second attach on the same session registers nothing: the
    // dropped function stays dropped (and no function is re-registered
    // with a "replaced" WARN per query)
    discard(reg.dropFunction(id))
    graft.engine.GraftSession.attach(s2)
    assert(reg.lookupFunctionBuilder(id).isEmpty)
  }

  test("fnv_hash known vectors (FNV-1a 64)") {
    // public FNV-1a test vectors: hash of empty = offset basis; "a"; "abc"
    assert(functions.FnvHashUtil.hashBytes(Array.empty) == 0xcbf29ce484222325L)
    assert(functions.FnvHashUtil.hashBytes("a".getBytes) == 0xaf63dc4c8601ec8cL)
    assert(functions.FnvHashUtil.hashBytes("abc".getBytes) == 0xe71fa2190541574bL)
  }

  test("fnv_hash decimal uses byte-image layout, not string") {
    // DECIMAL(9,2) value 1.00 → unscaled 100 as 4-byte little-endian
    val h = one("SELECT fnv_hash(CAST(1.00 AS DECIMAL(9,2))) h").getLong(0)
    assert(h == functions.FnvHashUtil.hashLong(100L, 4))
    // 18-digit precision → 8-byte image
    val h8 = one("SELECT fnv_hash(CAST(1.00 AS DECIMAL(18,2))) h").getLong(0)
    assert(h8 == functions.FnvHashUtil.hashLong(100L, 8))
    assert(h != h8)
  }

  test("trunc dispatches on type and rejects bad units") {
    val r = one(
      """SELECT trunc(TIMESTAMP '2024-05-05 10:11:12', 'Q') q,
        |       trunc(TIMESTAMP '2024-05-08 10:11:12', 'DAY') wk,
        |       trunc(DATE '2024-05-05', 'YYYY') y""".stripMargin)
    assert(r.get(0).toString.startsWith("2024-04-01 00:00")) // quarter start
    assert(r.get(1).toString.startsWith("2024-05-06 00:00")) // Impala DAY = week start
    assert(r.get(2).toString == "2024-01-01")                // DATE in, DATE out
    val e = intercept[Exception](one("SELECT trunc(TIMESTAMP '2024-05-05 10:11:12', 'BOGUS')"))
    assert(e.getMessage.contains("BOGUS"))
  }

  test("decode matches NULL keys null-safely (Impala semantics)") {
    val r = one(
      """SELECT decode(x, NULL, 'was_null', 1, 'one', 'other') d
        |FROM VALUES (CAST(NULL AS INT)), (1), (2) AS t(x)
        |ORDER BY x NULLS FIRST LIMIT 1""".stripMargin)
    assert(r.getString(0) == "was_null")
  }

  test("conditional family") {
    val r = one(
      """SELECT nvl(NULL, 7) a, isnull(NULL) b, isnull(3, 9) c,
        |       zeroifnull(CAST(NULL AS INT)) d, nullifzero(0) e, nullifzero(5) f""".stripMargin)
    assert(r.getInt(0) == 7 && r.getBoolean(1) && r.getInt(2) == 3)
    assert(r.getInt(3) == 0 && r.isNullAt(4) && r.getInt(5) == 5)
  }

  test("simhash64 is order-insensitive and sensitive to content") {
    val a = one("SELECT simhash64(transform(split('x y z w', ' '), w -> xxhash64(w))) h").getLong(0)
    val b = one("SELECT simhash64(transform(split('w z y x', ' '), w -> xxhash64(w))) h").getLong(0)
    val c = one("SELECT simhash64(transform(split('x y z q', ' '), w -> xxhash64(w))) h").getLong(0)
    assert(a == b, "simhash must ignore word order")
    assert(a != c, "simhash must change with content")
  }

  test("group_concat: plain, custom sep, DISTINCT, all-NULL → NULL") {
    val r = one(
      """SELECT group_concat(x) a, group_concat(x, '|') b,
        |       group_concat(DISTINCT x, ',') c,
        |       group_concat(CAST(NULL AS STRING)) d
        |FROM VALUES ('b'), ('a'), ('b') AS t(x)""".stripMargin)
    assert(r.getString(0) == "a, b, b")
    assert(r.getString(1) == "a|b|b")
    assert(r.getString(2) == "a,b")
    assert(r.isNullAt(3))
  }

  test("quotient and nanoseconds_add close the math/timestamp surface") {
    val r = one(
      """SELECT quotient(7, 2) q, quotient(-7.9, 2) qd,
        |       nanoseconds_add(TIMESTAMP '2024-01-01 00:00:00', 1500) n""".stripMargin)
    assert(r.getLong(0) == 3L && r.getLong(1) == -3L)
    assert(r.get(2).toString.contains("00:00:00.000001")) // 1500ns truncates to 1µs
  }

  test("timestamp arithmetic aliases") {
    val r = one(
      """SELECT weeks_add(TIMESTAMP '2024-01-01 00:00:00', 2) a,
        |       days_sub(TIMESTAMP '2024-01-01 00:00:00', 1) b,
        |       hours_add(TIMESTAMP '2024-01-01 00:00:00', 25) c""".stripMargin)
    assert(r.get(0).toString.startsWith("2024-01-15"))
    assert(r.get(1).toString.startsWith("2023-12-31"))
    assert(r.get(2).toString.startsWith("2024-01-02"))
  }

  test("hyperplanebands64 matches its interpreted SQL formulation") {
    // the codegen'd kernel vs the reference higher-order-function
    // formulation it replaced (sign of Σ ±vᵢ with xxhash64-parity signs,
    // seed stride 2^20, 2-bit keys) — same vector, bit-identical keys
    val r = one(
      """WITH t AS (SELECT transform(sequence(1, 64), i -> CAST(i AS DOUBLE) / 7D - 4.5D) AS v),
        |b AS (SELECT v, hyperplanebands64(v) AS fast,
        |  transform(sequence(0, 63), k ->
        |    CASE WHEN aggregate(
        |      zip_with(v, sequence(0, size(v) - 1), (x, i) ->
        |        CASE WHEN pmod(xxhash64(CAST(k * 1048576 + i AS BIGINT)), 2) = 0 THEN x ELSE -x END),
        |      0D, (acc, p) -> acc + p) > 0 THEN 1L ELSE 0L END) AS bits
        |  FROM t)
        |SELECT CAST(fast AS STRING) = CAST(transform(sequence(0, 31),
        |         b -> bits[2*b] * 2 + bits[2*b+1]) AS STRING) AS same,
        |       size(hyperplanebands64(v, 256, 16)) AS nb,
        |       array_max(hyperplanebands64(v, 256, 16)) <= 65535L AS keyrange
        |FROM b""".stripMargin)
    assert(r.getBoolean(0), "codegen'd band keys diverge from the interpreted formulation")
    assert(r.getInt(1) == 16)
    assert(r.getBoolean(2))
  }

  test("cosine_pairs and long_pairs: diagonal vs cross block semantics") {
    val r = one(
      """WITH b AS (SELECT
        |  array(named_struct('id', 1L, 'v', array(1D, 0D)),
        |        named_struct('id', 2L, 'v', array(1D, 0.01D)),
        |        named_struct('id', 3L, 'v', array(0D, 1D))) AS d)
        |SELECT cosine_pairs(d, d, CAST(0.9 AS DOUBLE), true) AS diag,
        |       cosine_pairs(d, d, CAST(-2.0 AS DOUBLE), true) AS allp,
        |       long_pairs(array(5L, 1L), array(5L, 1L), true) AS lp_diag,
        |       long_pairs(array(9L, 2L), array(4L), false) AS lp_cross
        |FROM b""".stripMargin)
    // diagonal: each unordered pair once; only (1,2) passes cos ≥ 0.9
    val diag = r.getSeq[Row](0)
    assert(diag.map(p => (p.getLong(0), p.getLong(1))) == Seq((1L, 2L)))
    assert(math.abs(diag.head.getDouble(2) - 1.0) < 1e-3)
    assert(r.getSeq[Row](1).size == 3, "diagonal block must emit C(3,2) pairs exactly once")
    assert(r.getSeq[Row](2).map(p => (p.getLong(0), p.getLong(1))) == Seq((1L, 5L)))
    // cross block: all pairs, normalized to (min, max)
    assert(r.getSeq[Row](3).map(p => (p.getLong(0), p.getLong(1))).toSet ==
      Set((4L, 9L), (2L, 4L)))
  }

  test("every kernel binding: NULL in gives NULL, the declared result schema, no implicit casts") {
    import org.apache.spark.sql.types._
    graft.engine.GraftSession.attach(spark)
    val longs = "array(1L, 2L)"
    val vec = "array(1D, 0.5D)"
    val block = "array(named_struct('id', 1L, 'v', array(1D, 0D)), " +
      "named_struct('id', 2L, 'v', array(0.5D, 1D)))"
    val keys = ArrayType(LongType, containsNull = false)
    def pairsOf(fields: (String, DataType)*): DataType = ArrayType(StructType(fields.map {
      case (n, t) => StructField(n, t, nullable = false) }), containsNull = false)
    val idPairs = pairsOf("a" -> LongType, "b" -> LongType)
    // name -> (well-typed non-NULL arguments, result type, arguments one
    // implicit cast away from well-typed)
    val cases: Seq[(String, Seq[String], DataType, Seq[String])] = Seq(
      ("fnv_hash", Seq("'abc'"), LongType, Seq("array(1)")),
      ("murmur_hash", Seq("CAST(7 AS TINYINT)"), LongType, Seq("map(1, 1)")),
      ("simhash64", Seq(longs), LongType, Seq("array(1, 2)")),
      ("minhash64", Seq(longs), keys, Seq("array(1, 2)")),
      ("lshbands64", Seq("sequence(1L, 64L)"), keys, Seq("sequence(1, 64)")),
      ("shingles64", Seq("'a b c d'"), keys, Seq("1")),
      ("vec_cosine", Seq(vec, vec), DoubleType, Seq(vec, "array(1, 2)")),
      ("hyperplanebands64", Seq(vec, "64", "2"), keys, Seq("array(1F, 2F)", "64", "2")),
      ("cosine_pairs", Seq(block, block, "0.5D", "true"),
        pairsOf("id_a" -> LongType, "id_b" -> LongType, "cos" -> DoubleType),
        Seq(block, block, "0.5", "true")),
      ("long_pairs", Seq(longs, longs, "true"), idPairs, Seq(longs, "array(1, 2)", "true")),
      ("long_pairs_len", Seq(longs, longs, "false", "0L"), idPairs,
        Seq(longs, longs, "false", "0")),
      ("jaro_winkler", Seq("'martha'", "'marhta'"), DoubleType, Seq("'martha'", "1")),
      ("levenshtein_bounded", Seq("'kitten'", "'sitting'", "2"), IntegerType,
        Seq("'kitten'", "1", "2")))
    assert(cases.map(_._1).toSet == functions.Kernel.table.keySet)
    // planes and bits size the bands at analysis: they must be literals
    val literalOnly = Set(("hyperplanebands64", 1), ("hyperplanebands64", 2))
    cases.foreach { case (name, args, resultType, wrong) =>
      val call = s"$name(${args.mkString(", ")})"
      val df = spark.sql(s"SELECT $call")
      val f = df.schema.head
      assert(f.dataType == resultType && !f.nullable, s"$call: $f")
      assert(!df.collect().head.isNullAt(0), call)
      args.indices.filterNot(i => literalOnly((name, i))).foreach { i =>
        val t = spark.sql(s"SELECT ${args(i)}").schema.head.dataType.sql
        val nullCall = s"$name(${args.updated(i, s"CAST(NULL AS $t)").mkString(", ")})"
        assert(spark.sql(s"SELECT $nullCall").collect().head.isNullAt(0), nullCall)
      }
      val bad = s"$name(${wrong.mkString(", ")})"
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(s"SELECT $bad"))
      assert(e.getMessage.contains(s"$name expects"), s"$bad: ${e.getMessage}")
    }
  }
}
