package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** Registers the Impala builtin-function surface that Spark lacks (or names
  * differently) onto a session's FunctionRegistry.
  *
  * Reference inventory: impala/catalog/BuiltinsDb.java:42-1054 — the
  * operator-backed builtins plus the generated scalar library. ~95% of it
  * exists natively in Spark under the same names (abs, concat, substr,
  * regexp_extract, year/month/day, coalesce, stddev/variance families,
  * parse_url, …); this object closes the gaps with thin expression builders
  * so both SQL text and the Column DSL can call them. Custom sketch
  * aggregates (histogram/sample/distinctpc — BuiltinsDb.java:721-790) live
  * in [[graft.functions.SketchAggregates]].
  */
object ImpalaFunctions {

  /** Truncation-unit map for Impala `trunc(ts, fmt)`
    * (BuiltinsDb/ScalarBuiltins; units per Impala 2.x docs). Impala's
    * 'DAY'/'DY' truncate to the start of the week. Spark's native unit
    * spellings pass through so existing trunc callers keep working; any
    * other unit is an analysis error (Impala raises too — never NULL). */
  private[functions] val truncUnits: Map[String, String] = Map(
    "SYYYY" -> "year", "YYYY" -> "year", "YEAR" -> "year", "SYEAR" -> "year",
    "YY" -> "year", "Y" -> "year",
    "Q" -> "quarter", "QUARTER" -> "quarter",
    "MONTH" -> "month", "MON" -> "month", "MM" -> "month", "RM" -> "month",
    "DDD" -> "day", "DD" -> "day", "J" -> "day",
    "DAY" -> "week", "DY" -> "week", "D" -> "week",
    "WW" -> "week", "W" -> "week", "WEEK" -> "week",
    "HH" -> "hour", "HH12" -> "hour", "HH24" -> "hour", "HOUR" -> "hour",
    "MI" -> "minute", "MINUTE" -> "minute",
    "SECOND" -> "second", "MILLISECOND" -> "millisecond",
    "MICROSECOND" -> "microsecond")

  /** The full gap-closing builder list, consumed by [[registerAll]]
    * (session-level) and [[graft.engine.GraftExtensions]]
    * (spark.sql.extensions — cluster-wide, no code call needed). */
  lazy val builders: Seq[(String, Seq[Expression] => Expression)] = {
    val acc = Seq.newBuilder[(String, Seq[Expression] => Expression)]

    def add(name: String)(builder: Seq[Expression] => Expression): Unit =
      acc += (name -> builder)

    // --- conditional (BuiltinsDb CaseExpr.initBuiltins + conditional fns) ---
    // isnull(a, b) is Impala's 2-arg null-substitution; keep Spark's 1-arg
    // IS NULL test under the same name (arity dispatch).
    add("isnull") {
      case Seq(e) => IsNull(e)
      case es => Coalesce(es)
    }
    add("nvl") { es => Coalesce(es) }
    add("zeroifnull") { case Seq(e) => Coalesce(Seq(e, Literal(0))) }
    add("nullifzero") { case Seq(e) =>
      CaseWhen(Seq((EqualTo(e, Literal(0)), Literal(null))), Some(e))
    }
    // Impala decode(expr, key1, val1, …[, default]) — NULL keys match NULL
    // (CaseExpr.java:99-150). 2-arg form stays Spark's charset decode.
    add("decode") {
      case Seq(bin, charset) => new StringDecode(bin, charset)
      case key +: rest if rest.size >= 2 =>
        val (pairs, default) =
          if (rest.size % 2 == 0) (rest, None)
          else (rest.init, Some(rest.last))
        val branches = pairs.grouped(2).map {
          case Seq(k, v) => (EqualNullSafe(key, k), v)
        }.toSeq
        CaseWhen(branches, default)
    }

    // --- aggregates (BuiltinsDb.java:679-950) ---
    add("ndv") { case Seq(e) => HyperLogLogPlusPlus(e) }
    add("appx_median") {
      case Seq(e) => new ApproximatePercentile(e, Literal(0.5d))
    }
    // group_concat with deterministic (sorted) order; Impala's is
    // order-undefined (BuiltinsDb.java:928-950) — we pin a total order so
    // results are reproducible across partitionings (SURVEY §7 hard part b).
    // A real AggregateFunction, so group_concat(DISTINCT x) works.
    // cast any child to string (Impala-style implicit cast) — a bare
    // non-string child would ClassCastException at runtime otherwise
    add("group_concat") {
      case Seq(e) => GroupConcat(Cast(e, StringType))
      case Seq(e, sep) => GroupConcat(Cast(e, StringType), sep)
    }

    // --- hashing ---
    add("fnv_hash") { case Seq(e) => FnvHash(e) }
    add("murmur_hash") { case Seq(e) => MurmurHash2(e) }
    // llmops: SimHash / MinHash over a feature-hash array (graft.llmops.Dedup)
    add("simhash64") { case Seq(e) => SimHash64(e) }
    add("minhash64") { case Seq(e) => MinHash64(e) }
    add("lshbands64") { case Seq(e) => LshBands64(e) }
    add("shingles64") { case Seq(e) => Shingles64(e) }
    add("vec_cosine") { case Seq(a, b) => VecCosine(a, b) }
    add("hyperplanebands64") {
      case Seq(e) => new HyperplaneBands64(e)
      case Seq(e, p, b) => HyperplaneBands64(e, p, b)
    }
    add("cosine_pairs") { case Seq(ls, rs, t, sm) => CosinePairs(ls, rs, t, sm) }
    add("long_pairs") { case Seq(ls, rs, sm) => LongPairs(ls, rs, sm) }
    add("long_pairs_len") { case Seq(ls, rs, sm, t) => LongPairsLen(ls, rs, sm, t) }

    // --- pattern matching: iregexp = case-insensitive regexp ---
    add("iregexp") { case Seq(s, p) =>
      RLike(s, Concat(Seq(Literal("(?i)"), p)))
    }

    // --- string aliases (Impala names) ---
    add("strleft") { case Seq(s, n) => Left(s, n) }
    add("strright") { case Seq(s, n) => Right(s, n) }

    // --- timestamp arithmetic family (TimestampArithmeticExpr.java:38-48:
    //     units_add/units_sub for YEAR..MICROSECOND) ---
    val units = Seq(
      "years" -> "YEAR", "months" -> "MONTH", "weeks" -> "WEEK",
      "days" -> "DAY", "hours" -> "HOUR", "minutes" -> "MINUTE",
      "seconds" -> "SECOND", "milliseconds" -> "MILLISECOND",
      "microseconds" -> "MICROSECOND")
    units.foreach { case (fn, unit) =>
      add(s"${fn}_add") { case Seq(ts, n) => TimestampAdd(unit, n, ts) }
      add(s"${fn}_sub") { case Seq(ts, n) =>
        TimestampAdd(unit, UnaryMinus(n, failOnError = false), ts)
      }
    }
    // NANOSECOND truncates to microseconds (Spark timestamps are µs;
    // documented divergence from Impala's ns-resolution timestamps).
    add("nanoseconds_add") { case Seq(ts, n) =>
      TimestampAdd("MICROSECOND",
        IntegralDivide(Cast(n, LongType), Literal(1000L), EvalMode.LEGACY), ts)
    }
    add("nanoseconds_sub") { case Seq(ts, n) =>
      TimestampAdd("MICROSECOND",
        UnaryMinus(IntegralDivide(Cast(n, LongType), Literal(1000L), EvalMode.LEGACY),
          failOnError = false), ts)
    }
    // quotient(a, b) — integer division after bigint coercion (Impala
    // math builtin; doubles truncate to bigint first).
    add("quotient") { case Seq(a, b) =>
      IntegralDivide(Cast(a, LongType), Cast(b, LongType), EvalMode.LEGACY)
    }
    // Impala trunc(ts, 'UNIT') — truncate timestamp (argument order is
    // (ts, fmt), same as Spark's trunc(date, fmt), so one name serves both;
    // ImpalaTrunc dispatches on the input type after resolution so date
    // callers keep Spark's DATE-returning TruncDate).
    add("trunc") { case Seq(ts, fmt) => ImpalaTrunc(ts, fmt) }

    add("levenshtein_bounded") {
      case Seq(a, b, kE: org.apache.spark.sql.catalyst.expressions.Literal) =>
        BoundedLevenshtein(a, b, kE.eval().asInstanceOf[Number].intValue())
      case other => throw new IllegalArgumentException(
        s"levenshtein_bounded(a, b, k) needs a literal k, got $other")
    }

    add("jaro_winkler") { case Seq(a, b) => JaroWinkler(a, b) }

    acc.result() ++ SketchAggregates.builders
  }

  /** Registers every builder the session does not already carry. A
    * session built with [[graft.engine.GraftExtensions]] holds these same
    * builder instances, and replacing one with itself would only log a
    * "replaced a previously registered function" WARN. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!reg.lookupFunctionBuilder(FunctionIdentifier(name)).contains(b))
        reg.createOrReplaceTempFunction(name, b, "scala_udf")
    }
  }

  // ------------------------------------------------------------------
  // Column DSL mirrors (Spark-first callers use these instead of SQL text)
  // ------------------------------------------------------------------
  def fnv_hash(c: Column): Column =
    org.apache.spark.sql.GraftShims.column(FnvHash(expression(c)))
  def zeroifnull(c: Column): Column = coalesce(c, lit(0))
  def nullifzero(c: Column): Column = when(c === 0, lit(null)).otherwise(c)
  def ndv(c: Column): Column = approx_count_distinct(c)
  def appx_median(c: Column): Column = percentile_approx(c, lit(0.5), lit(10000))
  def group_concat(c: Column, sep: String = ", "): Column =
    concat_ws(sep, sort_array(collect_list(c)))

  private def expression(c: Column): Expression =
    org.apache.spark.sql.GraftShims.expression(c)
}
