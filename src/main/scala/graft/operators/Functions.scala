package graft.operators

import graft.QuerySpec

/** Scalar expression/function surface — the reference's operator-backed
  * builtins (ArithmeticExpr/BinaryPredicate/CaseExpr/CastExpr/
  * LikePredicate/TimestampArithmeticExpr, impala/analysis/) plus the
  * generated scalar library (catalog/BuiltinsDb.java:48-61; callable set =
  * Impala 2.x docs). ~95% maps to Spark builtins under the same names;
  * graft.functions.ImpalaFunctions closes the gaps (nvl, isnull,
  * zeroifnull, nullifzero, decode, strleft/strright, iregexp, trunc,
  * units_add/_sub). Oracle texts adapt to DuckDB spellings where dialects
  * diverge (TRY_CAST, TRUNC-before-int-cast — DuckDB rounds where
  * Spark/Impala truncate — regexp 'g' flag, dayofweek origin, …).
  */
object Functions {

  /** CASE (simple + searched) and Impala decode()
    * (CaseExpr.java:68-379, decode at 99-150). */
  val q50CaseDecode: QuerySpec = QuerySpec.sql2(
    "q50_expr_case_decode",
    """SELECT o_orderkey,
      |  CASE o_orderpriority WHEN '1-URGENT' THEN 'hot' WHEN '2-HIGH' THEN 'warm' ELSE 'cold' END AS pri_class,
      |  CASE WHEN o_totalprice > 250000 THEN 'big' WHEN o_totalprice > 100000 THEN 'mid' ELSE 'small' END AS size_class,
      |  decode(o_orderstatus, 'F', 'final', 'O', 'open', 'P', 'pending', 'unknown') AS status_word
      |FROM orders ORDER BY o_orderkey""".stripMargin,
    """SELECT o_orderkey,
      |  CASE o_orderpriority WHEN '1-URGENT' THEN 'hot' WHEN '2-HIGH' THEN 'warm' ELSE 'cold' END AS pri_class,
      |  CASE WHEN o_totalprice > 250000 THEN 'big' WHEN o_totalprice > 100000 THEN 'mid' ELSE 'small' END AS size_class,
      |  CASE o_orderstatus WHEN 'F' THEN 'final' WHEN 'O' THEN 'open' WHEN 'P' THEN 'pending' ELSE 'unknown' END AS status_word
      |FROM orders ORDER BY o_orderkey""".stripMargin)

  /** Cast lattice incl. Impala's permissive failures-to-NULL
    * (CastExpr.java:36-313; we run non-ANSI so bad string→int is NULL,
    * float→int truncates — DuckDB TRY_CAST + TRUNC mirror it). */
  val q51Cast: QuerySpec = QuerySpec.sql2(
    "q51_expr_cast",
    """SELECT id,
      |  CAST(s AS INT) AS s_int,
      |  CAST(d AS INT) AS d_int,
      |  CAST(i AS STRING) AS i_str,
      |  CAST(s2 AS DOUBLE) AS s_dbl,
      |  CAST(b AS INT) AS b_int,
      |  CAST('2024-03-05 06:07:08' AS TIMESTAMP) AS ts1
      |FROM VALUES
      |  (1, '42',  2.7D,  7,  '3.14', true),
      |  (2, '1.1', -2.7D, -7, '1e3',  false),
      |  (3, 'abc', 0.5D,  0,  'x',    true)
      |  AS t(id, s, d, i, s2, b)
      |ORDER BY id""".stripMargin,
    """SELECT id,
      |  TRY_CAST(s AS INT) AS s_int,
      |  CAST(TRUNC(d) AS INT) AS d_int,
      |  CAST(i AS VARCHAR) AS i_str,
      |  TRY_CAST(s2 AS DOUBLE) AS s_dbl,
      |  CAST(b AS INT) AS b_int,
      |  CAST('2024-03-05 06:07:08' AS TIMESTAMP) AS ts1
      |FROM (VALUES
      |  (1, '42',  2.7,  7,  '3.14', true),
      |  (2, '1.1', -2.7, -7, '1e3',  false),
      |  (3, 'abc', 0.5,  0,  'x',    true))
      |  t(id, s, d, i, s2, b)
      |ORDER BY id""".stripMargin)

  /** String function library (concat/substr/pad/trim/case/regexp/
    * translate/split_part + Impala strleft/strright). */
  val q52String: QuerySpec = QuerySpec.sql2(
    "q52_expr_string_fns",
    """SELECT p_partkey,
      |  CONCAT(p_brand, ':', p_type) AS label,
      |  CONCAT_WS('-', p_brand, p_type) AS label2,
      |  SUBSTR(p_name, 1, 8) AS name8,
      |  LENGTH(p_name) AS name_len,
      |  UPPER(p_name) AS up, LOWER(p_type) AS lo,
      |  TRIM(CONCAT(' ', p_brand, ' ')) AS trimmed,
      |  LPAD(CAST(p_size AS STRING), 4, '0') AS size4,
      |  REVERSE(p_brand) AS rev,
      |  REPLACE(p_name, ' ', '_') AS underscored,
      |  SPLIT_PART(p_name, ' ', 1) AS first_word,
      |  INSTR(p_name, 'e') AS e_pos,
      |  REGEXP_EXTRACT(p_name, '([a-z]+)', 1) AS first_alpha,
      |  REGEXP_REPLACE(p_name, '[aeiou]', '*') AS starred,
      |  TRANSLATE(p_brand, 'B#', 'b_') AS translated,
      |  INITCAP(SPLIT_PART(p_name, ' ', 1)) AS capped,
      |  strleft(p_name, 5) AS l5, strright(p_name, 5) AS r5,
      |  REPEAT(p_brand, 2) AS doubled
      |FROM part ORDER BY p_partkey""".stripMargin,
    """SELECT p_partkey,
      |  CONCAT(p_brand, ':', p_type) AS label,
      |  CONCAT_WS('-', p_brand, p_type) AS label2,
      |  SUBSTR(p_name, 1, 8) AS name8,
      |  LENGTH(p_name) AS name_len,
      |  UPPER(p_name) AS up, LOWER(p_type) AS lo,
      |  TRIM(CONCAT(' ', p_brand, ' ')) AS trimmed,
      |  LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size4,
      |  REVERSE(p_brand) AS rev,
      |  REPLACE(p_name, ' ', '_') AS underscored,
      |  SPLIT_PART(p_name, ' ', 1) AS first_word,
      |  INSTR(p_name, 'e') AS e_pos,
      |  REGEXP_EXTRACT(p_name, '([a-z]+)', 1) AS first_alpha,
      |  REGEXP_REPLACE(p_name, '[aeiou]', '*', 'g') AS starred,
      |  TRANSLATE(p_brand, 'B#', 'b_') AS translated,
      |  UPPER(SUBSTR(SPLIT_PART(p_name, ' ', 1), 1, 1)) || SUBSTR(SPLIT_PART(p_name, ' ', 1), 2) AS capped,
      |  LEFT(p_name, 5) AS l5, RIGHT(p_name, 5) AS r5,
      |  REPEAT(p_brand, 2) AS doubled
      |FROM part ORDER BY p_partkey""".stripMargin)

  /** Math + bit operators (ops table sql-parser.cup:7409-7576: + - * /
    * DIV % & | ^ ~ !, factorial; BuiltinsDb math library). sqrt is IEEE
    * exact; ln/exp are rounded to dodge last-ulp libm differences. */
  val q53Math: QuerySpec = QuerySpec.sql2(
    "q53_expr_math_fns",
    """SELECT p_partkey,
      |  ABS(p_size - 25) AS dist25,
      |  CEIL(p_retailprice / 100) AS ceil_h,
      |  FLOOR(p_retailprice / 100) AS floor_h,
      |  ROUND(p_retailprice / 7, 2) AS div7,
      |  POWER(p_size, 2) AS sq,
      |  SQRT(CAST(p_size AS DOUBLE)) AS rt,
      |  ROUND(LN(p_size), 8) AS ln_sz,
      |  ROUND(EXP(p_size % 5), 6) AS exp_m5,
      |  SIGN(p_size - 25) AS sgn,
      |  PMOD(p_size - 25, 7) AS pm7,
      |  p_size % 7 AS m7,
      |  p_size DIV 7 AS d7,
      |  p_size & 15 AS band, p_size | 16 AS bor, p_size ^ 21 AS bxor,
      |  SHIFTLEFT(p_size, 2) AS shl,
      |  FACTORIAL(p_size % 10) AS fact,
      |  GREATEST(p_size, 25) AS gst, LEAST(p_size, 25) AS lst
      |FROM part ORDER BY p_partkey""".stripMargin,
    """SELECT p_partkey,
      |  ABS(p_size - 25) AS dist25,
      |  CAST(CEIL(p_retailprice / 100) AS BIGINT) AS ceil_h,
      |  CAST(FLOOR(p_retailprice / 100) AS BIGINT) AS floor_h,
      |  ROUND(p_retailprice / 7, 2) AS div7,
      |  POWER(p_size, 2) AS sq,
      |  SQRT(CAST(p_size AS DOUBLE)) AS rt,
      |  ROUND(LN(p_size), 8) AS ln_sz,
      |  ROUND(EXP(p_size % 5), 6) AS exp_m5,
      |  CAST(SIGN(p_size - 25) AS DOUBLE) AS sgn,
      |  ((p_size - 25) % 7 + 7) % 7 AS pm7,
      |  p_size % 7 AS m7,
      |  CAST(p_size // 7 AS BIGINT) AS d7,
      |  p_size & 15 AS band, p_size | 16 AS bor, XOR(p_size, 21) AS bxor,
      |  p_size << 2 AS shl,
      |  CAST(FACTORIAL(p_size % 10) AS BIGINT) AS fact,
      |  CAST(GREATEST(p_size, 25) AS INT) AS gst, CAST(LEAST(p_size, 25) AS INT) AS lst
      |FROM part ORDER BY p_partkey""".stripMargin)

  /** Date/time library + INTERVAL arithmetic + EXTRACT + Impala trunc
    * units (TimestampArithmeticExpr.java:38-48, ExtractFromExpr.java). */
  val q54Date: QuerySpec = QuerySpec.sql2(
    "q54_expr_date_fns",
    """SELECT o_orderkey,
      |  YEAR(o_orderdate) AS y, MONTH(o_orderdate) AS m, DAY(o_orderdate) AS d,
      |  QUARTER(o_orderdate) AS q,
      |  DAYOFWEEK(o_orderdate) AS dow,
      |  WEEKOFYEAR(o_orderdate) AS woy,
      |  EXTRACT(YEAR FROM o_orderdate) AS ey,
      |  o_orderdate + INTERVAL 45 DAY AS plus45,
      |  o_orderdate - INTERVAL 2 HOUR AS minus2h,
      |  o_orderdate + INTERVAL 3 MONTH AS plus3m,
      |  DATEDIFF(TIMESTAMP '1996-01-01 00:00:00', o_orderdate) AS days_to_96,
      |  UNIX_TIMESTAMP(o_orderdate) AS epoch_s,
      |  FROM_UNIXTIME(UNIX_TIMESTAMP(o_orderdate)) AS rendered,
      |  trunc(o_orderdate, 'Q') AS quarter_start,
      |  trunc(o_orderdate, 'MM') AS month_start,
      |  LAST_DAY(o_orderdate) AS month_end,
      |  weeks_add(o_orderdate, 2) AS plus2w,
      |  days_sub(o_orderdate, 7) AS minus7d
      |FROM orders WHERE o_orderkey <= 4000 ORDER BY o_orderkey""".stripMargin,
    """SELECT o_orderkey,
      |  YEAR(o_orderdate) AS y, MONTH(o_orderdate) AS m, DAY(o_orderdate) AS d,
      |  QUARTER(o_orderdate) AS q,
      |  DAYOFWEEK(o_orderdate) + 1 AS dow,
      |  WEEKOFYEAR(o_orderdate) AS woy,
      |  EXTRACT(YEAR FROM o_orderdate) AS ey,
      |  o_orderdate + INTERVAL 45 DAY AS plus45,
      |  o_orderdate - INTERVAL 2 HOUR AS minus2h,
      |  o_orderdate + INTERVAL 3 MONTH AS plus3m,
      |  DATE_DIFF('day', o_orderdate, TIMESTAMP '1996-01-01 00:00:00') AS days_to_96,
      |  CAST(EPOCH(o_orderdate) AS BIGINT) AS epoch_s,
      |  STRFTIME(o_orderdate, '%Y-%m-%d %H:%M:%S') AS rendered,
      |  CAST(DATE_TRUNC('quarter', o_orderdate) AS TIMESTAMP) AS quarter_start,
      |  CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
      |  LAST_DAY(o_orderdate) AS month_end,
      |  o_orderdate + INTERVAL 14 DAY AS plus2w,
      |  o_orderdate - INTERVAL 7 DAY AS minus7d
      |FROM orders WHERE o_orderkey <= 4000 ORDER BY o_orderkey""".stripMargin)

  /** Conditional family: if / nullif / nvl / isnull (1- and 2-arg) /
    * coalesce / zeroifnull / nullifzero (CaseExpr.initBuiltins +
    * conditional builtins). */
  val q55Conditional: QuerySpec = QuerySpec.sql2(
    "q55_expr_conditional",
    """SELECT c_custkey,
      |  IF(c_acctbal > 0, 'pos', 'nonpos') AS sign_class,
      |  NULLIF(c_mktsegment, 'BUILDING') AS seg_nb,
      |  nvl(NULLIF(c_mktsegment, 'BUILDING'), 'suppressed') AS seg_filled,
      |  isnull(NULLIF(c_nationkey, 3)) AS is_n3,
      |  isnull(NULLIF(c_nationkey, 3), -1) AS n_or_neg1,
      |  zeroifnull(NULLIF(c_nationkey, 5)) AS z5,
      |  nullifzero(c_nationkey % 5) AS nz5,
      |  COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), c_name) AS coal
      |FROM customer ORDER BY c_custkey""".stripMargin,
    """SELECT c_custkey,
      |  IF(c_acctbal > 0, 'pos', 'nonpos') AS sign_class,
      |  NULLIF(c_mktsegment, 'BUILDING') AS seg_nb,
      |  COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'suppressed') AS seg_filled,
      |  (NULLIF(c_nationkey, 3) IS NULL) AS is_n3,
      |  COALESCE(NULLIF(c_nationkey, 3), -1) AS n_or_neg1,
      |  COALESCE(NULLIF(c_nationkey, 5), 0) AS z5,
      |  NULLIF(c_nationkey % 5, 0) AS nz5,
      |  COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), c_name) AS coal
      |FROM customer ORDER BY c_custkey""".stripMargin)

  /** Pattern predicates: LIKE / NOT LIKE / ILIKE / RLIKE / iregexp /
    * BETWEEN / IN / IS DISTINCT FROM (LikePredicate.java:35-39,
    * BetweenPredicate, InPredicate, BinaryPredicate <=>). */
  val q56Pattern: QuerySpec = QuerySpec.sql2(
    "q56_expr_pattern",
    """SELECT p_partkey,
      |  p_name LIKE '%bolt%' AS has_bolt,
      |  p_name NOT LIKE 'red%' AS not_red,
      |  p_name ILIKE '%WIDGET%' AS has_widget_ci,
      |  p_name RLIKE '^(red|blue) ' AS rb_prefix,
      |  iregexp(p_name, '^RED|BLUE') AS rb_ci,
      |  p_size BETWEEN 10 AND 20 AS mid_size,
      |  p_brand IN ('Brand#1', 'Brand#2', 'Brand#3') AS low_brand,
      |  NULLIF(p_size, 25) IS DISTINCT FROM NULLIF(p_size, 30) AS distinct_nulls
      |FROM part ORDER BY p_partkey""".stripMargin,
    """SELECT p_partkey,
      |  p_name LIKE '%bolt%' AS has_bolt,
      |  p_name NOT LIKE 'red%' AS not_red,
      |  p_name ILIKE '%WIDGET%' AS has_widget_ci,
      |  REGEXP_MATCHES(p_name, '^(red|blue) ') AS rb_prefix,
      |  REGEXP_MATCHES(p_name, '^RED|BLUE', 'i') AS rb_ci,
      |  p_size BETWEEN 10 AND 20 AS mid_size,
      |  p_brand IN ('Brand#1', 'Brand#2', 'Brand#3') AS low_brand,
      |  NULLIF(p_size, 25) IS DISTINCT FROM NULLIF(p_size, 30) AS distinct_nulls
      |FROM part ORDER BY p_partkey""".stripMargin)

  /** JSON path extraction over the events.props column. */
  val q57Json: QuerySpec = QuerySpec.sql2(
    "q57_expr_json",
    """SELECT event_id,
      |  GET_JSON_OBJECT(props, '$.k') AS k_str,
      |  CAST(GET_JSON_OBJECT(props, '$.k') AS INT) AS k_int
      |FROM events ORDER BY event_id""".stripMargin,
    """SELECT event_id,
      |  JSON_EXTRACT_STRING(props, '$.k') AS k_str,
      |  TRY_CAST(JSON_EXTRACT_STRING(props, '$.k') AS INT) AS k_int
      |FROM events ORDER BY event_id""".stripMargin)

  /** DuckDB HUGEINT spellings of wrap-around unsigned 64-bit arithmetic
    * for the MurmurHash2 64A oracles (q58, [[q128MurmurOracle]], whose doc
    * gives the recipe): `mul` multiplies by M = 0xc6a4a7935bd1e995,
    * `sg`/`un` convert to and from signed BIGINT, `shr47` is k >>> 47. */
  private object U64 {
    val P64 = "CAST('18446744073709551616' AS HUGEINT)"
    val P63 = "CAST('9223372036854775808' AS HUGEINT)"
    val M = "14313749767032793493"
    def mul(x: String): String =
      s"((($x) % 4294967296) * $M + (((($x) // 4294967296) * $M) % 4294967296) * 4294967296) % $P64"
    def sg(x: String): String =
      s"CAST(CASE WHEN ($x) >= $P63 THEN ($x) - $P64 ELSE ($x) END AS BIGINT)"
    def un(x: String): String =
      s"CAST(CASE WHEN ($x) < 0 THEN CAST($x AS HUGEINT) + $P64 ELSE CAST($x AS HUGEINT) END AS HUGEINT)"
    def xor64(a: String, b: String): String = un(s"xor(${sg(a)}, ${sg(b)})")
    def shr47(x: String): String = s"(($x) // 140737488355328)"
  }

  /** The float-bit hash surface — fnv_hash / murmur_hash over DOUBLE —
    * plus typeof. Integer/string/decimal/bool images are oracled by
    * [[q120FnvOracle]] / [[q128MurmurOracle]]; this query covers the one
    * input class those cannot: IEEE-754 bit images. The DuckDB oracle
    * reconstructs the double's bit pattern with EXACT arithmetic — the
    * exponent from floor(log2(|v|)) with a one-step boundary adjustment
    * (log2 is inexact at powers of two; comparing |v| against 2^e0 and
    * 2^(e0+1) repairs it), then mantissa = (|v|/2^e − 1)·2^52, exact
    * because |v|/2^e ∈ [1,2) makes the subtraction Sterbenz-exact and
    * the scaling a power-of-two shift — and replays FNV-1a (q120 recipe)
    * and MurmurHash2 64A (q128 recipe, single 8-byte block whose LE word
    * IS the bit pattern) over those bytes in HUGEINT. typeof values are
    * pinned as literals. Normals only — the corpus has no subnormals /
    * zeros / NaNs (|c_acctbal| ∈ [0.01, 10⁴]). */
  val q58HashTypeof: QuerySpec = {
    import U64._
    QuerySpec.sql2(
      "q58_expr_fnv_hash",
      """SELECT c_custkey,
        |  fnv_hash(c_acctbal) AS h_double,
        |  murmur_hash(c_acctbal) AS mh_double,
        |  typeof(c_acctbal) AS t_dbl,
        |  typeof(c_custkey) AS t_key,
        |  typeof(c_name) AS t_str
        |FROM customer ORDER BY c_custkey LIMIT 100""".stripMargin,
      s"""WITH t0 AS (
         |  SELECT c_custkey, c_acctbal, abs(c_acctbal) AS a
         |  FROM customer ORDER BY c_custkey LIMIT 100),
         |t1 AS (SELECT *, CAST(floor(log2(a)) AS INT) AS e0 FROM t0),
         |t2 AS (SELECT *, CASE WHEN a < power(2, e0) THEN e0 - 1
         |                      WHEN a >= power(2, e0 + 1) THEN e0 + 1
         |                      ELSE e0 END AS e FROM t1),
         |t3 AS (SELECT *, CAST(round((a / power(2, e) - 1) * 4503599627370496, 0) AS HUGEINT) AS mant FROM t2),
         |t4 AS (SELECT *,
         |    CASE WHEN c_acctbal = 0 THEN CAST(0 AS HUGEINT)
         |         ELSE CASE WHEN c_acctbal < 0 THEN $P63 ELSE CAST(0 AS HUGEINT) END
         |              + CAST(e + 1023 AS HUGEINT) * CAST('4503599627370496' AS HUGEINT) + mant
         |    END AS bits FROM t3),
         |f1 AS (SELECT *,
         |    list_reduce(list_prepend(CAST('14695981039346656037' AS HUGEINT),
         |      list_transform(range(8), i -> (bits // (CAST(1 AS HUGEINT) << CAST(8*i AS INT))) % 256)),
         |      (h, x) -> ((h - (h % 256) + xor(CAST(h % 256 AS BIGINT), CAST(x AS BIGINT))) * 1099511628211)
         |                % $P64) AS hf FROM t4),
         |m1 AS (SELECT *, ${mul("bits")} AS k1 FROM f1),
         |m2 AS (SELECT *, ${mul(xor64("k1", shr47("k1")))} AS k3 FROM m1),
         |m3 AS (SELECT *, ${mul(xor64(mul("CAST(8 AS HUGEINT)"), "k3"))} AS mh1 FROM m2),
         |m4 AS (SELECT *, ${mul(xor64("mh1", shr47("mh1")))} AS mh2 FROM m3),
         |m5 AS (SELECT *, ${xor64("mh2", shr47("mh2"))} AS mh3 FROM m4)
         |SELECT c_custkey,
         |  ${sg("hf")} AS h_double,
         |  ${sg("mh3")} AS mh_double,
         |  'double' AS t_dbl, 'bigint' AS t_key, 'string' AS t_str
         |FROM m5 ORDER BY c_custkey""".stripMargin)
  }

  /** Cross-engine oracle for the custom fnv_hash kernel
    * (graft.functions.FnvHashUtil; reference registers fnv_hash per primitive
    * width, catalog/BuiltinsDb.java:48-61): the DuckDB side re-derives
    * FNV-1a 64 from first principles — byte images built with arithmetic
    * shifts (two's complement for negative decimals), the hash loop as a
    * list_reduce in HUGEINT with an explicit mod-2^64, then a signed
    * reinterpretation. Proves the Expression's byte-image contract
    * (little-endian fixed-width numerics, UTF-8 strings, unscaled
    * decimals) on real data, not just the pinned vectors in
    * FunctionsSpec. h_double is excluded — DuckDB 1.0 has no
    * float-bit-image function (those stay pinned in FunctionsSpec). */
  val q120FnvOracle: QuerySpec = {
    def reduce(bytes: String): String =
      s"""list_reduce(list_prepend(CAST('14695981039346656037' AS HUGEINT), $bytes),
         |      (h, x) -> ((h - (h % 256) + xor(CAST(h % 256 AS BIGINT), CAST(x AS BIGINT))) * 1099511628211)
         |                % CAST('18446744073709551616' AS HUGEINT))""".stripMargin
    def signed(h: String): String =
      s"""CAST(CASE WHEN $h >= CAST('9223372036854775808' AS HUGEINT)
         |          THEN $h - CAST('18446744073709551616' AS HUGEINT) ELSE $h END AS BIGINT)""".stripMargin
    QuerySpec.sql2(
      "q120_expr_fnv_oracle",
      """SELECT c_custkey,
        |  fnv_hash(c_custkey) AS h_bigint,
        |  fnv_hash(CAST(c_nationkey AS INT)) AS h_int,
        |  fnv_hash(c_name) AS h_string,
        |  fnv_hash(CAST(c_acctbal AS DECIMAL(12,2))) AS h_dec,
        |  fnv_hash(c_acctbal > 0) AS h_bool
        |FROM customer ORDER BY c_custkey LIMIT 100""".stripMargin,
      s"""WITH b AS (
         |  SELECT c_custkey,
         |    list_transform(range(8), i -> CAST((c_custkey >> CAST(i*8 AS INT)) & 255 AS HUGEINT)) AS bytes_key,
         |    list_transform(range(4), i -> CAST((CAST(c_nationkey AS BIGINT) >> CAST(i*8 AS INT)) & 255 AS HUGEINT)) AS bytes_nat,
         |    list_transform(range(length(c_name)), i -> CAST(ascii(substr(c_name, CAST(i+1 AS INT), 1)) AS HUGEINT)) AS bytes_name,
         |    list_transform(range(8), i -> CAST((CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) >> CAST(i*8 AS INT)) & 255 AS HUGEINT)) AS bytes_dec,
         |    [CAST(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS HUGEINT)] AS bytes_bool
         |  FROM customer ORDER BY c_custkey LIMIT 100)
         |SELECT c_custkey,
         |  ${signed("h_key")} AS h_bigint,
         |  ${signed("h_nat")} AS h_int,
         |  ${signed("h_name")} AS h_string,
         |  ${signed("h_acct")} AS h_dec,
         |  ${signed("h_b")} AS h_bool
         |FROM (
         |  SELECT c_custkey,
         |    ${reduce("bytes_key")} AS h_key,
         |    ${reduce("bytes_nat")} AS h_nat,
         |    ${reduce("bytes_name")} AS h_name,
         |    ${reduce("bytes_dec")} AS h_acct,
         |    ${reduce("bytes_bool")} AS h_b
         |  FROM b) t
         |ORDER BY c_custkey""".stripMargin)
  }

  /** Cross-engine oracle for the murmur_hash kernel
    * (MurmurHash2 64A, the variant Impala's hash-util uses): DuckDB
    * re-derives the full algorithm in HUGEINT — 64-bit little-endian
    * block loads, the k-mix (k*M, k ^= k>>47, k*M), the fold, the tail
    * and the 3-step finalization. 64-bit wrap-around multiply is done as
    * a 32-bit split ((lo*M + ((hi*M) mod 2^32)*2^32) mod 2^64) because a
    * full 64x64 product overflows even INT128; XOR round-trips through
    * signed BIGINT (two's complement preserves bits). String and bigint
    * inputs ride one pipeline as tagged byte lists (strings exercise the
    * tail path — name length 18 = 2 blocks + 2 tail bytes). */
  val q128MurmurOracle: QuerySpec = {
    import U64._
    val load = (0 until 8).map(j => s"bts[8*i+${j + 1}] * ${1L << (8 * j)}").mkString(" + ")
    val tailv =
      "COALESCE(list_aggregate(list_transform(range(rem), j -> bts[nb*8 + j + 1] * power2[j+1]), 'sum'), CAST(0 AS HUGEINT))"
    QuerySpec.sql2(
      "q128_expr_murmur_oracle",
      """SELECT c_custkey,
        |  murmur_hash(c_name) AS mh_string,
        |  murmur_hash(c_custkey) AS mh_bigint
        |FROM customer ORDER BY c_custkey LIMIT 100""".stripMargin,
      s"""WITH b AS (
         |  SELECT c_custkey, kind, bts, CAST(len(bts) AS HUGEINT) AS len
         |  FROM (
         |    SELECT c_custkey, 'str' AS kind,
         |      list_transform(range(length(c_name)), i -> CAST(ascii(substr(c_name, CAST(i+1 AS INT), 1)) AS HUGEINT)) AS bts
         |    FROM customer
         |    UNION ALL
         |    SELECT c_custkey, 'int' AS kind,
         |      list_transform(range(8), i -> CAST((c_custkey >> CAST(i*8 AS INT)) & 255 AS HUGEINT)) AS bts
         |    FROM customer) src
         |  WHERE c_custkey < 100),
         |l1 AS (
         |  SELECT c_custkey, kind, bts, len,
         |    CAST(len // 8 AS BIGINT) AS nb, CAST(len % 8 AS BIGINT) AS rem,
         |    [CAST(1 AS HUGEINT), 256, 65536, 16777216, 4294967296, 1099511627776, 281474976710656, 72057594037927936] AS power2,
         |    list_transform(range(CAST(len // 8 AS BIGINT)), i -> $load) AS ks
         |  FROM b),
         |l2 AS (
         |  SELECT c_custkey, kind, nb, rem, bts, power2,
         |    list_reduce(
         |      list_prepend(${mul("len")},
         |        list_transform(ks, k -> ${mul(xor64(mul("k"), shr47(mul("k"))))})),
         |      (h, k) -> ${mul(xor64("h", "k"))}) AS h1
         |  FROM l1),
         |l3 AS (
         |  SELECT c_custkey, kind,
         |    CASE WHEN rem > 0 THEN ${mul(xor64("h1", tailv))} ELSE h1 END AS h2
         |  FROM l2),
         |l4 AS (SELECT c_custkey, kind, ${mul(xor64("h2", shr47("h2")))} AS h3 FROM l3),
         |l5 AS (SELECT c_custkey, kind, ${xor64("h3", shr47("h3"))} AS h4 FROM l4)
         |SELECT c_custkey,
         |  MAX(CASE WHEN kind = 'str' THEN ${sg("h4")} END) AS mh_string,
         |  MAX(CASE WHEN kind = 'int' THEN ${sg("h4")} END) AS mh_bigint
         |FROM l5 GROUP BY c_custkey
         |ORDER BY c_custkey""".stripMargin)
  }

  /** parse_url (Impala/Hive-style URL part extraction — Spark has the
    * same builtin; the oracle rebuilds each part with regexps). */
  val q59ParseUrl: QuerySpec = QuerySpec.sql2(
    "q59_expr_parse_url",
    """SELECT id,
      |  parse_url(url, 'HOST') AS host,
      |  parse_url(url, 'PATH') AS path,
      |  parse_url(url, 'QUERY') AS query,
      |  parse_url(url, 'QUERY', 'k') AS k_param,
      |  parse_url(url, 'PROTOCOL') AS protocol
      |FROM VALUES
      |  (1, 'https://data.example.com/corpus/shard1?k=7&lang=en'),
      |  (2, 'http://mirror.example.org/a/b/c?x=1&k=42'),
      |  (3, 'https://example.net/path?k=abc')
      |  AS t(id, url)
      |ORDER BY id""".stripMargin,
    """SELECT id,
      |  regexp_extract(url, '//([^/]+)', 1) AS host,
      |  regexp_extract(url, '//[^/]+(/[^?]*)', 1) AS path,
      |  regexp_extract(url, '\?(.*)$', 1) AS query,
      |  regexp_extract(url, '[?&]k=([^&]*)', 1) AS k_param,
      |  regexp_extract(url, '^([a-z]+):', 1) AS protocol
      |FROM (VALUES
      |  (1, 'https://data.example.com/corpus/shard1?k=7&lang=en'),
      |  (2, 'http://mirror.example.org/a/b/c?x=1&k=42'),
      |  (3, 'https://example.net/path?k=abc'))
      |  t(id, url)
      |ORDER BY id""".stripMargin)

  /** Oracle-engine semantics probe — one labeled row per
    * semantics-sensitive scalar class that can shift across
    * oracle-engine (DuckDB) releases: double→decimal rounding at .xx5
    * boundaries, double→integer cast rounding-vs-truncation, integer
    * division/modulo sign, ROUND tie-breaking, decimal-division
    * rescale, explicit NULLS FIRST/LAST placement, UTF-8 binary
    * collation, month-end interval clamping, and native
    * float/timestamp renderings. Motivated by the q171 round-8/9
    * episode (a double→decimal value drift in the gate's oracle engine,
    * invisible to rows/schema checks): when the gate's oracle next
    * diverges from the in-container one, the failing ROW names the
    * semantics class instead of leaving a whole-query hash to
    * root-cause. Every value is rendered to STRING inside the query so
    * the compare is bit-exact, not float-normalized. Constants only —
    * no scan, no shuffle, scale-irrelevant by design. */
  val q182OracleProbe: QuerySpec = {
    // (label, spark expression, duckdb expression) — most classes share
    // text modulo STRING/VARCHAR and DIV-vs-// spelling; the double→int
    // cast and date+interval rows desugar the documented dialect gaps
    // (DuckDB rounds double→int where Spark truncates; DuckDB widens
    // date+interval to timestamp) so both engines state the same value.
    val rows: Seq[(String, String, String)] = Seq(
      ("cast_dbl_dec_2675",
        "CAST(CAST(CAST(2.675 AS DOUBLE) AS DECIMAL(5,2)) AS STRING)",
        "CAST(CAST(CAST(2.675 AS DOUBLE) AS DECIMAL(5,2)) AS VARCHAR)"),
      ("cast_dbl_dec_1005",
        "CAST(CAST(CAST(1.005 AS DOUBLE) AS DECIMAL(4,2)) AS STRING)",
        "CAST(CAST(CAST(1.005 AS DOUBLE) AS DECIMAL(4,2)) AS VARCHAR)"),
      ("cast_dbl_bigint_neg",
        "CAST(CAST(CAST(-7.9 AS DOUBLE) AS BIGINT) AS STRING)",
        "CAST(CAST(TRUNC(CAST(-7.9 AS DOUBLE)) AS BIGINT) AS VARCHAR)"),
      ("int_div_neg", "CAST(-7 DIV 2 AS STRING)", "CAST(-7 // 2 AS VARCHAR)"),
      ("mod_neg", "CAST(-7 % 2 AS STRING)", "CAST(-7 % 2 AS VARCHAR)"),
      ("round_half_2_5",
        "CAST(ROUND(CAST(2.5 AS DOUBLE)) AS STRING)",
        "CAST(ROUND(CAST(2.5 AS DOUBLE)) AS VARCHAR)"),
      ("round_half_neg_2_5",
        "CAST(ROUND(CAST(-2.5 AS DOUBLE)) AS STRING)",
        "CAST(ROUND(CAST(-2.5 AS DOUBLE)) AS VARCHAR)"),
      ("round_scale_2675",
        "CAST(ROUND(CAST(2.675 AS DOUBLE), 2) AS STRING)",
        "CAST(ROUND(CAST(2.675 AS DOUBLE), 2) AS VARCHAR)"),
      ("dec_div_rescale",
        "CAST(CAST(CAST(1 AS DECIMAL(10,2)) / CAST(3 AS DECIMAL(10,2)) AS DECIMAL(20,10)) AS STRING)",
        "CAST(CAST(CAST(1 AS DECIMAL(10,2)) / CAST(3 AS DECIMAL(10,2)) AS DECIMAL(20,10)) AS VARCHAR)"),
      ("str_int_trim",
        "CAST(CAST('  42 ' AS INT) AS STRING)",
        "CAST(CAST('  42 ' AS INT) AS VARCHAR)"),
      ("dbl_render_third",
        "CAST(CAST(1 AS DOUBLE) / 3 AS STRING)",
        "CAST(CAST(1 AS DOUBLE) / 3 AS VARCHAR)"),
      ("ts_render_ms",
        "CAST(TIMESTAMP '2024-02-29 12:34:56.789' AS STRING)",
        "CAST(TIMESTAMP '2024-02-29 12:34:56.789' AS VARCHAR)"),
      ("utf8_binary_cmp", "CAST('a' > 'B' AS STRING)", "CAST('a' > 'B' AS VARCHAR)"),
      ("nulls_first_head",
        "(SELECT COALESCE(CAST(x AS STRING), 'NULL') FROM VALUES (1),(NULL),(2) AS t(x) ORDER BY x NULLS FIRST LIMIT 1)",
        "(SELECT COALESCE(CAST(x AS VARCHAR), 'NULL') FROM (VALUES (1),(NULL),(2)) t(x) ORDER BY x NULLS FIRST LIMIT 1)"),
      ("nulls_last_tail",
        "(SELECT COALESCE(CAST(x AS STRING), 'NULL') FROM VALUES (1),(NULL),(2) AS t(x) ORDER BY x DESC NULLS LAST LIMIT 1)",
        "(SELECT COALESCE(CAST(x AS VARCHAR), 'NULL') FROM (VALUES (1),(NULL),(2)) t(x) ORDER BY x DESC NULLS LAST LIMIT 1)"),
      ("month_add_clamp",
        "CAST(DATE '2024-01-31' + INTERVAL 1 MONTH AS STRING)",
        "CAST(CAST(DATE '2024-01-31' + INTERVAL 1 MONTH AS DATE) AS VARCHAR)"))
    def text(pick: ((String, String, String)) => String): String =
      rows.map { r =>
        s"SELECT '${r._1}' AS label, ${pick(r)} AS val"
      }.mkString("", "\nUNION ALL ", "\nORDER BY label")
    QuerySpec.sql2("q182_oracle_probe", text(_._2), text(_._3))
  }

  /** Binary/radix codec family from the documented builtin library
    * (BuiltinsDb.java:48-61 callable set: base64encode/base64decode,
    * hex/unhex, chr/ascii, bin, conv): base64 and hex round-trips over
    * string and numeric arguments, CHR/ASCII at computed code points,
    * and radix conversion (Spark CONV vs the oracle's format-based
    * re-derivation — DuckDB has no conv, so the hex case pins it). Both
    * engines render numeric hex uppercase with no leading zeros. */
  val q189Codecs: QuerySpec = QuerySpec.sql2(
    "q189_expr_codec_fns",
    """SELECT p_partkey,
      |  BASE64(CAST(p_name AS BINARY)) AS b64,
      |  CAST(UNBASE64(BASE64(CAST(p_name AS BINARY))) AS STRING) AS b64_rt,
      |  HEX(p_brand) AS hx_s,
      |  HEX(p_partkey) AS hx_n,
      |  CAST(UNHEX(HEX(p_brand)) AS STRING) AS hx_rt,
      |  CHR(65 + p_size % 26) AS code_chr,
      |  ASCII(SUBSTR(p_name, 1, 1)) AS first_ascii,
      |  BIN(p_size) AS size_bits,
      |  LOWER(CONV(CAST(p_partkey AS STRING), 10, 16)) AS hex_key
      |FROM part ORDER BY p_partkey""".stripMargin,
    """SELECT p_partkey,
      |  to_base64(encode(p_name)) AS b64,
      |  decode(from_base64(to_base64(encode(p_name)))) AS b64_rt,
      |  hex(p_brand) AS hx_s,
      |  hex(p_partkey) AS hx_n,
      |  decode(unhex(hex(p_brand))) AS hx_rt,
      |  chr(65 + p_size % 26) AS code_chr,
      |  ascii(substr(p_name, 1, 1)) AS first_ascii,
      |  bin(p_size) AS size_bits,
      |  format('{:x}', p_partkey) AS hex_key
      |FROM part ORDER BY p_partkey""".stripMargin)

  val all: Seq[QuerySpec] = Seq(
    q50CaseDecode, q51Cast, q52String, q53Math, q54Date, q55Conditional,
    q56Pattern, q57Json, q58HashTypeof, q59ParseUrl, q120FnvOracle,
    q128MurmurOracle, q182OracleProbe, q189Codecs)
}
