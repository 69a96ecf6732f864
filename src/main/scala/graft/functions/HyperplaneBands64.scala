package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** The kernel of `hyperplanebands64(array<double>[, planes, bits])`
  * (bound by [[Kernel]]; defaults 64 planes, 2-bit bands) —
  * random-hyperplane LSH band keys for embedding near-dup blocking in the
  * SELECTIVE regime (graft.llmops.Dedup q155; see the q84 doc for why no
  * (planes, bits) is selective when the threshold sits near the
  * random-pair cosine background). posexplode yields the (band, key)
  * pairs. */
object HyperplaneBands64Util {
  /** Hyperplane seeds stride 2^20 per hyperplane so component seeds never
    * alias across hyperplanes for any embedding dim ≤ 1,048,576 (seed
    * k*64+i would make hyperplane k+1 reuse hyperplane k's signs shifted
    * by 64 components). Parity comes from xxhash64 (Spark seed 42): its
    * avalanche finalizer gives independent sign bits, unlike FNV-1a whose
    * low bit is linear in the input bytes. */
  private val Stride = 1L << 20

  /** masks(i * words + w) bit k set ⇔ hyperplane (64w + k) negates
    * component i. Grown lazily to the largest (planes, dim) seen in this
    * JVM; the read path is a volatile read of an immutable array, so row
    * evaluation never takes the lock. */
  @volatile private var masks: Array[Long] = new Array[Long](0)
  @volatile private var cachedDim = 0
  @volatile private var cachedWords = 0

  private def ensure(planes: Int, dim: Int): Array[Long] = {
    val words = (planes + 63) / 64
    if (cachedDim >= dim && cachedWords >= words) masks
    else synchronized {
      if (cachedDim >= dim && cachedWords >= words) masks
      else {
        val nd = math.max(dim, cachedDim)
        val nw = math.max(words, cachedWords)
        val n = new Array[Long](nd * nw)
        var i = 0
        while (i < nd) {
          var w = 0
          while (w < nw) {
            var mask = 0L
            var k = 0
            while (k < 64) {
              if ((XXH64.hashLong((64L * w + k) * Stride + i, 42L) & 1L) != 0L) mask |= 1L << k
              k += 1
            }
            n(i * nw + w) = mask
            w += 1
          }
          i += 1
        }
        masks = n
        cachedDim = nd
        cachedWords = nw
        n
      }
    }
  }

  /** planes/bits band keys from `planes` random-hyperplane sign bits: the
    * sign of hyperplane k is 1 iff Σᵢ ±vᵢ > 0 (element-in-order double
    * accumulation, identical on any partitioning); band b's key packs the
    * signs of hyperplanes [b·bits, (b+1)·bits) big-endian. One fused pass
    * over the vector instead of planes×dim interpreted lambda
    * evaluations. */
  def bands(v: ArrayData, planes: Int, bits: Int): ArrayData = {
    val dim = v.numElements()
    graft.discard(ensure(planes, dim))
    val m = masks
    val nw = cachedWords
    val acc = new Array[Double](planes)
    var i = 0
    while (i < dim) {
      val x = v.getDouble(i)
      val base = i * nw
      var k = 0
      while (k < planes) {
        if (((m(base + (k >>> 6)) >>> (k & 63)) & 1L) == 0L) acc(k) += x else acc(k) -= x
        k += 1
      }
      i += 1
    }
    val nb = planes / bits
    val out = new Array[Long](nb)
    var b = 0
    while (b < nb) {
      var key = 0L
      var j = 0
      while (j < bits) {
        key = (key << 1) | (if (acc(b * bits + j) > 0) 1L else 0L)
        j += 1
      }
      out(b) = key
      b += 1
    }
    new GenericArrayData(out)
  }
}
