package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** All banded-minhash bucket ids of one shingle array in ONE pass.
  *
  * The declarative formulation (bands × rowsPerBand `array_min(transform(
  * shingles, xxhash64(...)))` Columns) re-walks the shingle array once per
  * hash function and allocates an intermediate array each time — profiled
  * at 2.5 s of q19's wall time at sf0.1. This kernel walks the array
  * once, computing two base XXH64 values per shingle and deriving the
  * `bands × rowsPerBand` permutation family by double hashing
  * (h_i = h1 + i·h2 — Kirsch–Mitzenmacher, standard for LSH families),
  * then folds each band's row minima into one bucket id.
  *
  * Output: array<long> of length `bands`; element b is the bucket id of
  * band b (band index is mixed in, so buckets never collide across bands).
  */
object MinHashFast {

  def bandBuckets(arr: ArrayData, bands: Int, rowsPerBand: Int, seed: Long): ArrayData = {
    val n = bands * rowsPerBand
    val mins = new Array[Long](n)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val sz = arr.numElements()
    var i = 0
    while (i < sz) {
      val s = arr.getUTF8String(i)
      val h1 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)
      val h2 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed ^ 0x9e3779b97f4a7c15L)
      var h = 0
      var v = h1
      while (h < n) {
        if (v < mins(h)) mins(h) = v
        v += h2
        h += 1
      }
      i += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = XXH64.hashLong(b.toLong, seed)
      var r = 0
      while (r < rowsPerBand) {
        acc = XXH64.hashLong(mins(b * rowsPerBand + r), acc)
        r += 1
      }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }
}
