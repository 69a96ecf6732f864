package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** The kernel of `lshbands64(array<bigint>)` (bound by [[Kernel]]) —
  * MinHash band keys for LSH bucketing (graft.llmops.Dedup); posexplode
  * yields the (band, key) pairs. */
object LshBands64Util {
  /** 16 band keys from a 64-element MinHash signature (bands of 4 rows):
    * band b's key is an FNV-style fold of signature rows [4b, 4b+4) with
    * the band index mixed in, so identical sub-signatures in different
    * bands land in different buckets. One pass, no intermediate arrays. */
  def bands(sig: ArrayData): ArrayData = {
    val out = new Array[Long](16)
    var b = 0
    while (b < 16) {
      var h = 0xcbf29ce484222325L ^ b
      var j = 4 * b
      val end = j + 4
      while (j < end) {
        h = (h ^ sig.getLong(j)) * 0x100000001b3L
        h ^= (h >>> 29)
        j += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }
}
