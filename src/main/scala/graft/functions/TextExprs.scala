package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Character-class predicates as native kernels. langId runs over the
  * FULL corpus in a training pipeline, and its CJK gate was the last
  * java.util.regex (`rlike`) on a full-scan hot path (this host's measured
  * intra-JVM regex thread collapse, BENCH_SCALING.md). The scan below is a
  * single codepoint-range loop; the `rlike` twin stays as the differential
  * pin and the DuckDB oracle keeps its regexp_matches formulation.
  */
object TextEvals {

  /** Any char in the CJK Unified Ideographs block U+4E00..U+9FFF (all BMP,
    * so a char-level range check is exact — no surrogate pairs in range).
    */
  def hasCjk(s: UTF8String): Boolean = {
    if (s.isFullAscii) return false // skip the String copy on the dominant case
    val str = s.toString
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      if (c >= 0x4e00 && c <= 0x9fff) return true
      i += 1
    }
    false
  }
}
