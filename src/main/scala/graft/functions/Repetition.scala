package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Intra-document REPETITION signals (the Gopher quality-filter family,
  * Rae et al. 2021 Table A1): pretraining pipelines drop documents whose
  * text is dominated by repeated n-grams (boilerplate, listings, SEO spam).
  * Per document, over lowercased whitespace tokens:
  *
  *   - `n_words`          non-empty token count
  *   - `dup_word_frac`    fraction of token OCCURRENCES that are repeats
  *                        of an earlier token: (n - distinct) / n
  *   - `top{2,3,4}_char_frac`  fraction of (non-whitespace) characters
  *                        covered by the most frequent word n-gram:
  *                        count(top) * chars(top) / total_chars, ties on
  *                        count broken by lexicographically smallest gram.
  *                        Overlapping occurrences are each counted (the
  *                        standard implementations' semantics), so a
  *                        degenerate all-same-word doc scores > 1 — the
  *                        filter thresholds sit far below 1 either way
  *   - `dup5_char_frac`   fraction of characters inside ANY duplicated
  *                        5-gram, each token position counted ONCE (the
  *                        position-union semantics the standard
  *                        implementations use for n >= 5)
  *
  * Char accounting is token characters only (separators excluded), so the
  * signals are invariant to whitespace runs. This is a full-corpus scan op,
  * so it follows the repo's hot-path rules: ONE regex-free pass per
  * document inside a codegen'd expression (tokenization shares
  * [[ShingleFast]]'s java-`\s` scanner semantics), no explode, no shuffle —
  * at 100 TB the naive explode-ngrams-and-groupBy plan shuffles the corpus
  * five times; this plan shuffles it zero times. [[RepetitionEvals.statsRef]]
  * is the obviously-correct Scala-collections twin (RepetitionSpec fuzz-pins
  * the scanner to it); the q74 oracle has DuckDB recompute every signal
  * independently from `unnest`ed positions + window ranking.
  */
object RepetitionEvals {

  val schema: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("dup_word_frac", DoubleType, nullable = false),
    StructField("top2_char_frac", DoubleType, nullable = false),
    StructField("top3_char_frac", DoubleType, nullable = false),
    StructField("top4_char_frac", DoubleType, nullable = false),
    StructField("dup5_char_frac", DoubleType, nullable = false)))

  @inline private def isWs(c: Char): Boolean = // java regex \s
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Non-empty lowercased tokens — split semantics shared with the shingle
    * scanner (maximal non-`\s` runs; edge empties never materialize).
    */
  private def tokens(str: String): Array[String] = {
    val out = new java.util.ArrayList[String]()
    val len = str.length
    var i = 0
    while (i < len) {
      if (!isWs(str.charAt(i))) {
        var j = i
        while (j < len && !isWs(str.charAt(j))) j += 1
        out.add(str.substring(i, j))
        i = j
      } else i += 1
    }
    out.toArray(new Array[String](out.size()))
  }

  /** count(top gram) * chars(top gram) / tc with (count desc, gram asc)
    * tie-break; 0 when no gram fits or tc == 0.
    */
  private def topNgramFrac(toks: Array[String], joined: Array[String],
      charsAt: Array[Int], n: Int, tc: Double): Double = {
    val nw = toks.length
    if (nw < n || tc == 0) return 0.0
    val counts = new java.util.HashMap[String, Int]()
    var i = 0
    while (i <= nw - n) {
      counts.merge(joined(i), 1, Integer.sum)
      i += 1
    }
    var bestKey: String = null
    var bestCount = 0
    var bestChars = 0L
    i = 0
    while (i <= nw - n) {
      val k = joined(i)
      val c = counts.get(k)
      if (c > bestCount || (c == bestCount && k.compareTo(bestKey) < 0)) {
        bestKey = k
        bestCount = c
        bestChars = (charsAt(i + n) - charsAt(i)).toLong
      }
      i += 1
    }
    bestCount * bestChars / tc
  }

  /** chars inside any duplicated n-gram, each position once, / tc. */
  private def dupNgramFrac(toks: Array[String], joined: Array[String],
      n: Int, tc: Double): Double = {
    val nw = toks.length
    if (nw < n || tc == 0) return 0.0
    val counts = new java.util.HashMap[String, Int]()
    var i = 0
    while (i <= nw - n) {
      counts.merge(joined(i), 1, Integer.sum)
      i += 1
    }
    val covered = new Array[Boolean](nw)
    i = 0
    while (i <= nw - n) {
      if (counts.get(joined(i)) > 1) {
        var p = i
        while (p < i + n) { covered(p) = true; p += 1 }
      }
      i += 1
    }
    var cc = 0L
    i = 0
    while (i < nw) {
      if (covered(i)) cc += toks(i).length
      i += 1
    }
    cc / tc
  }

  def stats(s: UTF8String): InternalRow = {
    if (s == null) return null
    val toks = tokens(s.toLowerCase.toString)
    val nw = toks.length
    // prefix char sums: gram chars for [i, i+n) = charsAt(i+n) - charsAt(i)
    val charsAt = new Array[Int](nw + 1)
    var i = 0
    while (i < nw) { charsAt(i + 1) = charsAt(i) + toks(i).length; i += 1 }
    val tc = charsAt(nw).toDouble
    val dupWord = if (nw == 0) 0.0 else {
      val seen = new java.util.HashSet[String]()
      i = 0
      while (i < nw) { seen.add(toks(i)); i += 1 }
      (nw - seen.size).toDouble / nw
    }
    // n-gram join strings built once per START position for the largest n,
    // smaller n reuse prefixes — one StringBuilder pass per position
    def joins(n: Int): Array[String] = {
      if (nw < n) return Array.empty
      val out = new Array[String](nw - n + 1)
      val sb = new java.lang.StringBuilder()
      var p = 0
      while (p <= nw - n) {
        sb.setLength(0)
        var q = p
        while (q < p + n) {
          if (q > p) sb.append(' ')
          sb.append(toks(q))
          q += 1
        }
        out(p) = sb.toString
        p += 1
      }
      out
    }
    val j2 = joins(2); val j3 = joins(3); val j4 = joins(4); val j5 = joins(5)
    InternalRow(nw.toLong, dupWord,
      topNgramFrac(toks, j2, charsAt, 2, tc),
      topNgramFrac(toks, j3, charsAt, 3, tc),
      topNgramFrac(toks, j4, charsAt, 4, tc),
      dupNgramFrac(toks, j5, 5, tc))
  }

  /** Obviously-correct Scala-collections twin of [[stats]] (differential
    * pin only — RepetitionSpec fuzz).
    */
  def statsRef(text: String): (Long, Double, Double, Double, Double, Double) = {
    val toks = UTF8String.fromString(text).toLowerCase.toString
      .split("\\s+", -1).filter(_.nonEmpty).toSeq
    val nw = toks.length
    val tc = toks.map(_.length).sum.toDouble
    def grams(n: Int): Seq[(String, Long)] =
      if (nw < n) Seq.empty
      else toks.sliding(n).map(g => (g.mkString(" "), g.map(_.length).sum.toLong)).toSeq
    def topFrac(n: Int): Double = {
      val g = grams(n)
      if (g.isEmpty || tc == 0) 0.0
      else {
        val byKey = g.groupBy(_._1).view.mapValues(v => (v.size, v.head._2)).toSeq
        val (_, (c, gc)) = byKey.minBy { case (k, (c, _)) => (-c, k) }
        c * gc / tc
      }
    }
    def dupFrac(n: Int): Double = {
      if (nw < n || tc == 0) 0.0
      else {
        val keys = (0 to nw - n).map(i => toks.slice(i, i + n).mkString(" "))
        val dup = keys.groupBy(identity).filter(_._2.size > 1).keySet
        val covered = (0 to nw - n).filter(i => dup(keys(i)))
          .flatMap(i => i until i + n).toSet
        covered.toSeq.map(toks(_).length).sum / tc
      }
    }
    val dupWord = if (nw == 0) 0.0 else (nw - toks.distinct.length).toDouble / nw
    (nw.toLong, dupWord, topFrac(2), topFrac(3), topFrac(4), dupFrac(5))
  }
}
