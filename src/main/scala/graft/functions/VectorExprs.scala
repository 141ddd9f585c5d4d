package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Embedding kernels (`Kernels.cosine_f` / `lsh_buckets`). The Column twins
  * (SimilaritySearch.cosine / bandBuckets) build on Spark's higher-order
  * functions, which evaluate interpreted with per-element boxing — fine
  * for correctness, ~10× too slow as the ANN hot path (128 plane dots ×
  * 64 dims per vector). These run the same left-fold float→double loops
  * over primitive arrays; OperatorSpec pins kernel == Column twin.
  */
object VectorEvals {

  /** cosine over two float arrays — same op order as the Column twin
    * (left-fold dot, left-fold norms, sqrt, divide) so results are
    * bit-identical. Mismatched lengths yield NULL exactly like the twin
    * (zip_with pads with null → null dot), so a corrupt/truncated
    * embedding surfaces as an excluded row instead of a plausible score.
    * A zero-norm side yields 0.0, NOT NaN: Spark sorts NaN first under
    * `ORDER BY sim DESC`, so a NaN here would crown the zero vector the
    * nearest neighbor of everything.
    */
  def cosineF(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    var na = 0.0
    i = 0
    while (i < n) { val x = a.getFloat(i).toDouble; na += x * x; i += 1 }
    var nb = 0.0
    i = 0
    while (i < n) { val x = b.getFloat(i).toDouble; nb += x * x; i += 1 }
    if (na == 0.0 || nb == 0.0) return 0.0
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** per-band signed-projection buckets: band b packs the sign bits of its
    * bandBits planes (same bit layout as the Column twin).
    */
  def lshBuckets(v: ArrayData, planes: Array[Double], bands: Int, bandBits: Int): ArrayData = {
    val dim = v.numElements()
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var bucket = 0L
      var j = 0
      while (j < bandBits) {
        val p = (b * bandBits + j) * dim
        var dot = 0.0
        var i = 0
        while (i < dim) { dot += v.getFloat(i).toDouble * planes(p + i); i += 1 }
        if (dot >= 0) bucket |= (1L << j)
        j += 1
      }
      out(b) = bucket
      b += 1
    }
    new GenericArrayData(out)
  }
}
