package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** The kernel of `shingles64(text)` (bound by [[Kernel]]) — distinct
  * hashed word-3-gram shingles, the input to MinHash dedup
  * (graft.llmops.Dedup). */
object Shingles64Util {
  /** Distinct word-3-gram shingle hashes in one pass over the bytes:
    * scan for space-separated word boundaries, FNV-1a-hash each 3-word
    * byte range in place (no per-shingle string allocation). Fewer than 3
    * words → one shingle covering the whole text. Set semantics (distinct)
    * match `array_distinct` over string shingles, so downstream Jaccard
    * is identical to the string-shingle formulation (64-bit collisions
    * aside). */
  def shingles(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    // word start offsets (single-space-separated; empty words kept to
    // mirror split(text, ' ') semantics on runs of spaces)
    var starts = new Array[Int](64)
    var nWords = 0
    var i = 0
    var wordStart = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        if (nWords == starts.length) starts = java.util.Arrays.copyOf(starts, nWords * 2)
        starts(nWords) = wordStart
        nWords += 1
        wordStart = i + 1
      }
      i += 1
    }
    val out = new java.util.HashSet[java.lang.Long]()
    if (nWords < 3) {
      out.add(FnvHashUtil.hashRange(bytes, 0, n))
    } else {
      var w = 0
      while (w + 3 <= nWords) {
        // shingle = bytes of words w..w+2 incl. the two inner spaces
        val from = starts(w)
        val to = if (w + 3 == nWords) n else starts(w + 3) - 1
        out.add(FnvHashUtil.hashRange(bytes, from, to))
        w += 1
      }
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = it.next(); k += 1 }
    java.util.Arrays.sort(arr) // deterministic order
    new GenericArrayData(arr)
  }
}
