package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** FNV-1a 64-bit hash kernel, bound to `fnv_hash` by [[Kernel]]. */
object FnvHashUtil {
  final val Prime = 0x100000001b3L
  final val Seed = 0xcbf29ce484222325L

  def hashBytes(bytes: Array[Byte]): Long = {
    var h = Seed
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xffL)) * Prime; i += 1 }
    h
  }
  def hashUtf8(s: UTF8String): Long = hashBytes(s.getBytes)
  def hashRange(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = Seed
    var i = from
    while (i < until) { h = (h ^ (bytes(i) & 0xffL)) * Prime; i += 1 }
    h
  }
  // Fixed-width numerics hash their little-endian representation, matching
  // the byte-image hashing the reference's builtin registry declares for
  // fnv_hash over each primitive type (catalog/BuiltinsDb.java:48-61).
  def hashLong(v: Long, width: Int): Long = {
    var h = Seed
    var i = 0
    while (i < width) { h = (h ^ ((v >>> (8 * i)) & 0xffL)) * Prime; i += 1 }
    h
  }
  def hashDouble(v: Double): Long = hashLong(java.lang.Double.doubleToLongBits(v), 8)
  def hashFloat(v: Float): Long = hashLong(java.lang.Float.floatToIntBits(v).toLong & 0xffffffffL, 4)

  /** Impala stores DECIMAL(p,s) as a little-endian 4/8/16-byte two's
    * complement integer of the unscaled value (Decimal4/8/16Value; the
    * builtin registry declares fnv_hash over each width,
    * catalog/BuiltinsDb.java:48-61). This byte image is the single
    * source of truth for every hash function over decimals. */
  def decimalImage(d: org.apache.spark.sql.types.Decimal, precision: Int): Array[Byte] = {
    val width = if (precision <= 9) 4 else if (precision <= 18) 8 else 16
    val b = new Array[Byte](width)
    if (width <= 8) {
      val v = d.toUnscaledLong
      var i = 0
      while (i < width) { b(i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
    } else {
      val bi = d.toJavaBigDecimal.unscaledValue()
      val lo = bi.longValue()
      val hi = bi.shiftRight(64).longValue()
      var i = 0
      while (i < 8) { b(i) = ((lo >>> (8 * i)) & 0xff).toByte; i += 1 }
      while (i < 16) { b(i) = ((hi >>> (8 * (i - 8))) & 0xff).toByte; i += 1 }
    }
    b
  }

  def hashDecimal(d: org.apache.spark.sql.types.Decimal, precision: Int): Long =
    hashBytes(decimalImage(d, precision))
}
