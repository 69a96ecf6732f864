package graft.functions

import org.apache.spark.sql.types.Decimal
import org.apache.spark.unsafe.types.UTF8String

/** MurmurHash2 64A (Appleby's public-domain algorithm — the variant
  * Impala's be/src/util/hash-util.h uses for its murmur_hash builtin;
  * registered per primitive type alongside fnv_hash in
  * catalog/BuiltinsDb.java:48-61). Same byte layouts as [[FnvHashUtil]]:
  * little-endian fixed widths for numerics, raw bytes for strings. */
object MurmurHash2Util {
  private final val M = 0xc6a4a7935bd1e995L
  private final val R = 47

  def hashBytes(data: Array[Byte], from: Int, len: Int): Long = {
    var h = 0L ^ (len * M)
    val nBlocks = len / 8
    var i = 0
    while (i < nBlocks) {
      val o = from + i * 8
      var k =
        (data(o) & 0xffL) | ((data(o + 1) & 0xffL) << 8) |
          ((data(o + 2) & 0xffL) << 16) | ((data(o + 3) & 0xffL) << 24) |
          ((data(o + 4) & 0xffL) << 32) | ((data(o + 5) & 0xffL) << 40) |
          ((data(o + 6) & 0xffL) << 48) | ((data(o + 7) & 0xffL) << 56)
      k *= M; k ^= k >>> R; k *= M
      h ^= k; h *= M
      i += 1
    }
    val tail = from + nBlocks * 8
    val rem = len & 7
    var j = rem - 1
    while (j >= 0) { h ^= (data(tail + j) & 0xffL) << (8 * j); j -= 1 }
    if (rem > 0) h *= M
    h ^= h >>> R; h *= M; h ^= h >>> R
    h
  }

  def hashBytes(data: Array[Byte]): Long = hashBytes(data, 0, data.length)
  def hashUtf8(s: UTF8String): Long = hashBytes(s.getBytes)

  /** little-endian fixed-width numeric image (Impala Decimal/int layout) */
  def hashLong(v: Long, width: Int): Long = {
    val b = new Array[Byte](width)
    var i = 0
    while (i < width) { b(i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
    hashBytes(b)
  }
  def hashDouble(v: Double): Long = hashLong(java.lang.Double.doubleToLongBits(v), 8)
  def hashFloat(v: Float): Long = hashLong(java.lang.Float.floatToIntBits(v).toLong & 0xffffffffL, 4)
  // single source of truth for the decimal byte layout: FnvHashUtil
  def hashDecimal(d: Decimal, precision: Int): Long =
    hashBytes(FnvHashUtil.decimalImage(d, precision))
}
