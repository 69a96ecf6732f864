package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{
  Add, Cast, Expression, If, LessThan, Levenshtein, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** `name(args)` for every custom scalar kernel — the one way the engine
  * binds one (the reference binds each scalar builtin as a name mapped
  * to one backend symbol, catalog/BuiltinsDb.java:42-1054).
  *
  * The expression keeps the SQL name, so column names and `sql` text
  * read as the function call. It checks its argument types strictly (no
  * implicit casts) against its [[Kernel.table]] row, and after analysis
  * replaces itself with that row's call: a `StaticInvoke` of the kernel
  * object's static forwarder, the way Spark binds its own `url_encode`
  * and `luhn_check`. Spark then owns both the generated code and the
  * interpreted fallback, so there is no per-function eval/codegen pair
  * to keep in step. A NULL argument gives NULL.
  *
  * Like [[ImpalaTrunc]], `replacement` is a def: the analyzer may read
  * it before the children resolve. */
private[graft] case class Kernel(name: String, children: Seq[Expression])
  extends RuntimeReplaceable {

  private def row: Kernel.Row = Kernel.table(name)

  override def checkInputDataTypes(): TypeCheckResult =
    if (row.bind(children).isEmpty)
      TypeCheckFailure(s"$name expects ${row.inputs}, got " +
        children.map(_.dataType.simpleString).mkString("(", ", ", ")"))
    else row.domain(children).fold[TypeCheckResult](TypeCheckSuccess)(TypeCheckFailure(_))

  override def dataType: DataType = row.dataType
  override def nullable: Boolean = children.exists(_.nullable)

  override def replacement: Expression = row.bind(children).getOrElse(
    throw new IllegalStateException(s"$name: unchecked input types"))

  override def prettyName: String = name
  // toString reads `name(args)`, not `name(name, args)`
  override protected def flatArguments: Iterator[Any] = children.iterator
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Kernel =
    copy(children = c)
}

private[graft] object Kernel {

  /** A kernel binding: the result type, the accepted inputs as the error
    * message spells them, the replacement for a well-typed argument list
    * (None for any other), and a check on literal arguments' values. */
  final case class Row(
      dataType: DataType,
      inputs: String,
      bind: Seq[Expression] => Option[Expression],
      domain: Seq[Expression] => Option[String] = _ => None)

  /** An argument a kernel accepts, spelled as in the error message. */
  private final case class In(sql: String)(val accepts: Expression => Boolean)

  private def arrayOf(t: DataType): DataType => Boolean = {
    case ArrayType(`t`, _) => true
    case _ => false
  }
  private def typed(sql: String)(p: DataType => Boolean): In = In(sql)(e => p(e.dataType))
  private val string = typed("string")(_ == StringType)
  private val bool = typed("boolean")(_ == BooleanType)
  private val double = typed("double")(_ == DoubleType)
  private val bigint = typed("bigint")(_ == LongType)
  private val intLit = In("int literal")(e => e.dataType == IntegerType && e.foldable)
  private val longs = typed("array<bigint>")(arrayOf(LongType))
  private val doubles = typed("array<double>")(arrayOf(DoubleType))
  private val block = typed("array<struct<bigint, array<double>>>") {
    case ArrayType(StructType(Array(id, v)), _) =>
      id.dataType == LongType && arrayOf(DoubleType)(v.dataType)
    case _ => false
  }

  /** `method(args)` on a kernel object's static forwarder. */
  private def invoke(kernel: AnyRef, method: String, dataType: DataType,
                     args: Seq[Expression]): Expression =
    StaticInvoke(kernel.getClass, dataType, method, args,
      propagateNull = true, returnNullable = false)

  private def signature(in: Seq[In]): String = in.map(_.sql).mkString("(", ", ", ")")
  private def matches(in: Seq[In], args: Seq[Expression]): Boolean =
    args.size == in.size && in.zip(args).forall { case (i, a) => i.accepts(a) }

  /** A kernel method over a fixed argument signature. */
  private def fixed(kernel: AnyRef, method: String, dataType: DataType, in: In*): Row =
    Row(dataType, signature(in), args =>
      Option.when(matches(in, args))(invoke(kernel, method, dataType, args)))

  /** The byte image `fnv_hash` and `murmur_hash` hash, per input type:
    * the kernel method and its arguments. Fixed-width values hash their
    * little-endian image at the type's width (a boolean as one 0/1
    * byte), decimals the unscaled image at the precision's width
    * ([[FnvHashUtil.decimalImage]]). Timestamps hash their 8-byte
    * microsecond value, a documented divergence: Impala's backend hashes
    * its 16-byte boost TimestampValue layout (not defined in the
    * frontend-only reference repo), so timestamp hashes differ from
    * Impala while staying stable within this engine. */
  private def byteImage(e: Expression): Option[(String, Seq[Expression])] = {
    def image(width: Int) = Some(("hashLong", Seq(e, Literal(width))))
    e.dataType match {
      case StringType => Some(("hashUtf8", Seq(e)))
      case BinaryType => Some(("hashBytes", Seq(e)))
      case BooleanType => Some(("hashLong", Seq(Cast(e, LongType), Literal(1))))
      case ByteType => image(1)
      case ShortType => image(2)
      case IntegerType | DateType => image(4)
      case LongType | TimestampType | TimestampNTZType => image(8)
      case FloatType => Some(("hashFloat", Seq(e)))
      case DoubleType => Some(("hashDouble", Seq(e)))
      case d: DecimalType => Some(("hashDecimal", Seq(e, Literal(d.precision))))
      case _ => None
    }
  }

  private def hash(kernel: AnyRef): Row =
    Row(LongType, "(string, binary, boolean, numeric, date or timestamp)", {
      case Seq(e) => byteImage(e).map { case (m, args) => invoke(kernel, m, LongType, args) }
      case _ => None
    })

  /** Exact edit distance when ≤ k, else k+1, from Spark's thresholded
    * `levenshtein(a, b, k)` (code points, banded with an early exit),
    * which reads -1 over the bound. */
  private val levenshteinBounded = {
    val in = Seq(string, string, intLit)
    Row(IntegerType, signature(in), args => Option.when(matches(in, args)) {
      val lev = Levenshtein(args(0), args(1), Some(args(2)))
      If(LessThan(lev, Literal(0)), Add(args(2), Literal(1)), lev)
    })
  }

  private val pairs = ArrayType(StructType(Seq(
    StructField("a", LongType, nullable = false),
    StructField("b", LongType, nullable = false))), containsNull = false)
  private val cosinePairs = ArrayType(StructType(Seq(
    StructField("id_a", LongType, nullable = false),
    StructField("id_b", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false))), containsNull = false)
  private val keys = ArrayType(LongType, containsNull = false)

  /** planes % bits == 0 and 0 < bits < 64, on the literal arguments */
  private def planesBits(args: Seq[Expression]): Option[String] = {
    val p = args(1).eval().asInstanceOf[Int]
    val b = args(2).eval().asInstanceOf[Int]
    Option.unless(p > 0 && b > 0 && b <= 63 && p % b == 0)(
      s"hyperplanebands64 needs planes % bits == 0 and 0 < bits < 64, got planes=$p bits=$b")
  }

  val table: Map[String, Row] = Map(
    "fnv_hash" -> hash(FnvHashUtil),
    "murmur_hash" -> hash(MurmurHash2Util),
    "simhash64" -> fixed(SimHash64Util, "simhash", LongType, longs),
    "minhash64" -> fixed(MinHash64Util, "signature", keys, longs),
    "lshbands64" -> fixed(LshBands64Util, "bands", keys, longs),
    "shingles64" -> fixed(Shingles64Util, "shingles", keys, string),
    "vec_cosine" -> fixed(VecCosineUtil, "cosine", DoubleType, doubles, doubles),
    "hyperplanebands64" -> fixed(HyperplaneBands64Util, "bands", keys, doubles, intLit, intLit)
      .copy(domain = planesBits),
    "cosine_pairs" -> fixed(CosinePairsUtil, "pairs", cosinePairs, block, block, double, bool),
    "long_pairs" -> fixed(LongPairsUtil, "pairs", pairs, longs, longs, bool),
    "long_pairs_len" -> fixed(LongPairsUtil, "pairsLen", pairs, longs, longs, bool, bigint),
    "jaro_winkler" -> fixed(JaroWinklerUtil, "sim", DoubleType, string, string),
    "levenshtein_bounded" -> levenshteinBounded)
}
