package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The reference's sketch aggregates that have no Spark builtin:
  * `distinctpc` / `distinctpcsa` (Flajolet-Martin probabilistic counting,
  * catalog/BuiltinsDb.java:772-790), `sample` (reservoir sample,
  * BuiltinsDb.java:721-750) and `histogram` (equi-height buckets from the
  * reservoir, same lines).
  *
  * Distributed-determinism design (SURVEY §7 hard part e): instead of a
  * random reservoir — whose contents depend on partition split and row
  * order — `sample`/`histogram` keep the K values with the smallest FNV-1a
  * hash (a uniform "bottom-k" sample). Bottom-k is a commutative,
  * idempotent merge (union → keep K smallest), so the result is identical
  * on 1 partition or 10,000: exactly what a 100 TB run needs.
  */
object SketchAggregates {

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "distinctpc" -> { case Seq(e) => DistinctPC(fnvHash(e), numBitmaps = 1) },
    "distinctpcsa" -> { case Seq(e) => DistinctPC(fnvHash(e), numBitmaps = 64) },
    "sample" -> { case Seq(e) =>
      BottomKSample(toStr(e), fnvHash(e), k = 20, histogram = false) },
    "histogram" -> { case Seq(e) =>
      BottomKSample(toStr(e), fnvHash(e), k = 4096, histogram = true) },
    // approx_top_k(expr, k[, capacity]) — k/capacity must be literals
    // (they size the aggregation buffer, a plan-time property)
    "mg_top_k" -> { args =>
      def lit(e: Expression): Int = e match {
        case l: Literal if l.foldable => l.eval().asInstanceOf[Number].intValue()
        case other => throw new IllegalArgumentException(
          s"mg_top_k k/capacity must be integer literals, got $other")
      }
      args match {
        case Seq(e, kE) => MisraGriesTopK(toStr(e), lit(kE), capacity = math.max(4 * lit(kE), 256))
        case Seq(e, kE, capE) => MisraGriesTopK(toStr(e), lit(kE), capacity = lit(capE))
      }
    })

  private def toStr(e: Expression): Expression = Cast(e, StringType)
  private def fnvHash(e: Expression): Expression = Kernel("fnv_hash", Seq(e))
}

/** Flajolet-Martin probabilistic distinct counting over an FNV64 hash.
  * `numBitmaps = 1` → plain PC (Impala `distinctpc`); `numBitmaps = 64` →
  * stochastic averaging (Impala `distinctpcsa`). Buffer = bitmap array;
  * merge = bitwise OR (associative + commutative → partition-order
  * independent). */
case class DistinctPC(
    child: Expression,
    numBitmaps: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private final val Phi = 0.77351d

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def createAggregationBuffer(): Array[Long] = new Array[Long](numBitmaps)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      val idx = if (numBitmaps == 1) 0 else (h & (numBitmaps - 1)).toInt
      val rest = h >>> 6
      val bit = if (rest == 0) 57 else java.lang.Long.numberOfTrailingZeros(rest)
      buf(idx) |= 1L << bit
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    // Empty / all-NULL group: no update ever set a bit → 0 distinct values
    // (update() always sets exactly one bit per non-null input, so all-zero
    // bitmaps ⇔ empty).
    if (buf.forall(_ == 0L)) return 0L
    // R_i = position of the lowest zero bit; estimate = m/φ · 2^(ΣR_i/m)
    var sumR = 0.0
    var i = 0
    while (i < buf.length) {
      sumR += java.lang.Long.numberOfTrailingZeros(~buf(i)); i += 1
    }
    val m = buf.length.toDouble
    math.round(m / Phi * math.pow(2.0, sumR / m))
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
    buf.foreach(bb.putLong)
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(o: Int): DistinctPC = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): DistinctPC = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): DistinctPC =
    copy(child = c.head)
  override def prettyName: String = if (numBitmaps == 1) "distinctpc" else "distinctpcsa"
}

/** Bottom-k (min-hash) sample of column values; backs both `sample`
  * (emit the sampled values) and `histogram` (emit 100 equi-height bucket
  * bounds computed from the sample). Output: comma-separated string, like
  * the reference's (BuiltinsDb.java:721-750). */
case class BottomKSample(
    child: Expression,
    hashExpr: Expression,
    k: Int,
    histogram: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeMap[java.lang.Long, String]] {

  type Buf = java.util.TreeMap[java.lang.Long, String]

  override def children: Seq[Expression] = Seq(child, hashExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = StringType

  override def createAggregationBuffer(): Buf = new Buf()

  private def insert(buf: Buf, h: Long, s: String): Unit = {
    if (buf.size < k) graft.discard(buf.putIfAbsent(h, s))
    else if (h < buf.lastKey()) {
      if (buf.putIfAbsent(h, s) == null) graft.discard(buf.remove(buf.lastKey()))
    }
  }

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = child.eval(input)
    if (v != null) {
      val h = hashExpr.eval(input).asInstanceOf[Long]
      insert(buf, h, v.asInstanceOf[UTF8String].toString)
    }
    buf
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    other.forEach((h, s) => insert(buf, h, s))
    buf
  }

  override def eval(buf: Buf): Any = {
    import scala.jdk.CollectionConverters._
    val values = buf.values().asScala.toSeq
    val out =
      if (!histogram) values.sorted
      else {
        // numeric sort when possible, else lexical; 100 equi-height bounds
        val sorted =
          if (values.forall(s => scala.util.Try(s.toDouble).isSuccess))
            values.sortBy(_.toDouble)
          else values.sorted
        if (sorted.isEmpty) Seq.empty
        else (1 to 100).map(i => sorted(((i.toLong * (sorted.size - 1)) / 100).toInt))
      }
    UTF8String.fromString(out.mkString(", "))
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.forEach { (h, s) =>
      out.writeLong(h)
      val b = s.getBytes("UTF-8")
      out.writeInt(b.length)
      out.write(b)
    }
    out.flush()
    bos.toByteArray
  }
  override def deserialize(bytes: Array[Byte]): Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Buf()
    val n = in.readInt()
    (1 to n).foreach { _ =>
      val h = in.readLong()
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      buf.put(h, new String(b, "UTF-8"))
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): BottomKSample = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BottomKSample = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BottomKSample =
    copy(child = c(0), hashExpr = c(1))
  override def prettyName: String = if (histogram) "histogram" else "sample"
}

/** Mergeable Misra-Gries heavy-hitters summary (`mg_top_k`): the
  * DETERMINISTIC sibling of Spark 4's DataSketches `approx_top_k`
  * (which q190 covers) — top-k terms without a full (term, count)
  * shuffle, with a provable worst-case bound instead of a
  * probabilistic one. Buffer = at most `capacity` counters;
  * update decrements all counters when full (classic MG); merge sums
  * counters then truncates to the capacity-largest, subtracting the
  * (capacity+1)-th count — the Agarwal et al. "Mergeable Summaries"
  * (PODS '12) reduction that preserves the deterministic guarantee
  * `true_count - n/(capacity+1) <= mg_count <= true_count` under ANY
  * partitioning / merge tree, so results are cluster-size-independent.
  * When `capacity >=` the number of distinct items no decrement ever
  * fires and every count is EXACT — the property the DuckDB oracle
  * checks; the sketch path (capacity << distinct) is spec-bounded in
  * SketchesSpec instead (no SQL oracle can express it).
  *
  * eval() emits the top `k` as an array of (item, cnt) structs ordered
  * by (cnt DESC, item ASC) — a total order, so output is deterministic
  * even under count ties. */
case class MisraGriesTopK(
    child: Expression,
    k: Int,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[String, Long]] {

  type Buf = java.util.HashMap[String, Long]

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("item", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): Buf = new Buf()

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String].toString
      val cur = buf.get(s)
      if (cur != 0L || buf.containsKey(s)) buf.put(s, cur + 1L)
      else if (buf.size < capacity) buf.put(s, 1L)
      else decrementAll(buf, 1L)
    }
    buf
  }

  /** Subtract `d` from every counter, dropping non-positive ones — the
    * MG decrement (update) and the merge-truncation both route here. */
  private def decrementAll(buf: Buf, d: Long): Unit = {
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val nv = e.getValue - d
      if (nv <= 0L) it.remove() else e.setValue(nv)
    }
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    other.forEach((s, c) => graft.discard(buf.put(s, buf.get(s) + c))) // get(miss) unboxes to 0L
    if (buf.size > capacity) {
      // (capacity+1)-th largest count, subtracted from all (PODS '12 §3.1)
      val counts = new Array[Long](buf.size)
      var i = 0
      val vit = buf.values().iterator()
      while (vit.hasNext) { counts(i) = vit.next(); i += 1 }
      java.util.Arrays.sort(counts)
      decrementAll(buf, counts(buf.size - capacity - 1))
      // ties at the pivot can leave > capacity survivors of equal rank;
      // MG's bound allows any further whole-counter drop of tied minima
      while (buf.size > capacity) {
        var minK: String = null
        var minV = Long.MaxValue
        buf.forEach((s, c) => if (c < minV || (c == minV && (minK == null || s.compareTo(minK) > 0))) { minK = s; minV = c })
        buf.remove(minK)
      }
    }
    buf
  }

  override def eval(buf: Buf): Any = {
    import scala.jdk.CollectionConverters._
    val top = buf.asScala.toSeq
      .sortBy { case (s, c) => (-c, s) }
      .take(k)
      .map { case (s, c) =>
        InternalRow(UTF8String.fromString(s), c): Any
      }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(top.toArray)
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.forEach { (s, c) =>
      val b = s.getBytes("UTF-8")
      out.writeInt(b.length)
      out.write(b)
      out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }
  override def deserialize(bytes: Array[Byte]): Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Buf()
    val n = in.readInt()
    (1 to n).foreach { _ =>
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      buf.put(new String(b, "UTF-8"), in.readLong())
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): MisraGriesTopK = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MisraGriesTopK = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): MisraGriesTopK =
    copy(child = c.head)
  override def prettyName: String = "mg_top_k"
}
