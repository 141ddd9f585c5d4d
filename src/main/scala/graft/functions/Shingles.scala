package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** k-word shingles as ONE codegen'd kernel (`Kernels.word_shingles`).
  *
  * Semantics are pinned (ShinglesSpec) to the pure-Column twin
  * `Dedup.wordShinglesColumn`: split(lower(c), "\\s+") with Java
  * Pattern.split(-1) edge behavior (leading/trailing empties), then the
  * n-k+1 positional joins, then array_distinct (first-occurrence order).
  *
  * Why it exists: the Column version pays a java.util.regex split (this
  * host's measured intra-JVM thread collapse, BENCH_SCALING.md) plus a
  * Catalyst slice+join array copy per position — profiled at 7 s of q19's
  * 9.5 s at sf0.1. The scanner below is regex-free and builds each shingle
  * with one StringBuilder pass, and is the dedup family's hot path at
  * corpus scale.
  */
object ShingleFast {

  private def isWs(c: Char): Boolean = // regex \s (non-unicode): [ \t\n\x0B\f\r]
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Tokens per java Pattern.split("\\s+", -1): a leading separator run
    * yields a leading "", a trailing run a trailing "", "" yields [""].
    */
  private def splitWs(str: String): java.util.ArrayList[String] = {
    val toks = new java.util.ArrayList[String]()
    val len = str.length
    var i = 0
    var start = 0
    while (i < len) {
      if (isWs(str.charAt(i))) {
        toks.add(str.substring(start, i))
        var j = i + 1
        while (j < len && isWs(str.charAt(j))) j += 1
        start = j
        i = j
      } else i += 1
    }
    toks.add(str.substring(start, len))
    toks
  }

  def shingles(s: UTF8String, k: Int): ArrayData = {
    val toks = splitWs(s.toLowerCase.toString)
    val n = toks.size()
    val count = math.max(n - k, 0) + 1
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < count) {
      sb.setLength(0)
      val end = math.min(i + k, n)
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks.get(j))
        j += 1
      }
      seen.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    new GenericArrayData(seen.toArray)
  }
}
