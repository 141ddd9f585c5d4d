package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** One-pass native kernels for the full-corpus language-ID and quality
  * scans (q12/q33/q13, plus the q34 translate language gate). The Column
  * formulations tokenized via `split(lower(c), " ")` — a java.util.regex
  * StringSplit node the PlanSpec marker list never caught — and langId
  * evaluated that split FOUR times per row (once per language score),
  * materializing a token array + distinct + intersect each time. Here each
  * op is a single scan with zero per-row arrays: marker scores tokenize on
  * the single-space byte and length-gate raw byte compares into a 28-bit
  * seen-mask (popcount per language = the twin's distinct-intersect size),
  * trigram scores pack each window of 3 consecutive ASCII bytes into 21
  * bits for an open-addressed profile probe (a byte-window match is always
  * code-point aligned because continuation/lead bytes are >= 0x80), and
  * the quality formula folds token length / stopword / all-digit tallies
  * in one walk.
  *
  * Null handling: the kernels are null-propagating (`Kernel.Propagate`,
  * like almost every other graft kernel); TextAnalysis.langId /
  * langIdTrigram coalesce the output to the label their Column twins'
  * CaseWhen falls through to on null input ("es" / "en"), keeping the
  * three-way native == twin == DuckDB equivalence total.
  *
  * The Column versions remain as `*Column` differential twins in
  * TextAnalysis (fuzz-pinned in LangScanSpec) and the DuckDB oracles keep
  * their independent string_split/regexp formulations, so semantics stay
  * cross-checked three ways. All evals take the ALREADY-LOWERED text
  * (callers wrap `lower(c)`); the CJK gate is unaffected by lowercasing.
  */
object LangEvals {

  // language marker words (tiny deterministic profiles; semantic shape of
  // the reference's remote language detect, SURVEY §2.2 F7, re-expressed
  // as a local stopword heuristic). Order = tie order en > de > fr > es.
  val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "with", "for"),
    "de" -> Seq("der", "die", "und", "ist", "das", "mit", "nicht"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une"),
    "es" -> Seq("el", "los", "las", "una", "es", "para", "por"))

  // character-trigram profiles (F7 n-gram variant; ASCII-only so the
  // constants embed identically in Spark and DuckDB SQL)
  val trigrams: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "ing", "and", "ion", "ent", "for", "th "),
    "de" -> Seq("der", "und", "sch", "ich", "cht", "ein", "die"),
    "fr" -> Seq("les", "des", "une", "que", "ais", "eur", "ant"),
    // "cio" not "cion": a profile entry longer than 3 chars can never
    // equal a 3-gram, which left es with only 6 live trigrams and
    // mislabeled '-cion-' texts (their "ion" window credits en) — the
    // round-3 review fix; all three formulations share this constant
    "es" -> Seq("los", "las", "una", "por", "ado", "cio", "par"))

  private val zh = UTF8String.fromString("zh")
  private val labels: Array[UTF8String] =
    markers.map(m => UTF8String.fromString(m._1)).toArray

  // flattened marker table: entry k carries bit k in a 32-bit "seen" set,
  // langBit masks select each language's 7 bits. Entries are distinct
  // across languages (required — a duplicate surface would need its bit
  // set for BOTH languages and first-match lookup would miss one).
  // Markers are ASCII, so token comparison is raw byte equality.
  // the langBit math below hard-codes 7 entries per language (bit range
  // l*7 .. l*7+6); pin the arity so an edited profile fails at class-load
  // instead of as an opaque fuzz divergence
  require(markers.forall(_._2.length == 7), "marker profiles must have exactly 7 entries")
  require(trigrams.forall(_._2.length == 7), "trigram profiles must have exactly 7 entries")

  private val markerFlat: Array[String] = markers.flatMap(_._2).toArray
  require(markerFlat.distinct.length == markerFlat.length, "duplicate marker surface")
  require(markerFlat.length <= 32, "marker bitmask overflow")
  require(markerFlat.forall(_.forall(_ < 128)), "non-ASCII marker")
  private val markerBytes: Array[Array[Byte]] =
    markerFlat.map(_.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
  private val markerLangBits: Array[Int] =
    markers.indices.map(l => 0x7f << (l * 7)).toArray

  // packed-trigram lookup: profile entries of exactly 3 ASCII chars pack
  // into 21 bits (7 per byte); open-addressed table, linear probing.
  // A hypothetical entry that is NOT exactly 3 chars could never equal a
  // 3-gram in the twin, so it gets a bit that is simply never set (kept
  // as a guard; since the cion->cio fix every entry is 3 chars).
  private val trigramFlat: Array[String] = trigrams.flatMap(_._2).toArray
  require(trigramFlat.distinct.length == trigramFlat.length, "duplicate trigram")
  require(trigramFlat.length <= 32, "trigram bitmask overflow")
  private val trigramLangBits: Array[Int] =
    trigrams.indices.map(l => 0x7f << (l * 7)).toArray
  private val TRI_MASK = 63
  private val triKeys: Array[Int] = Array.fill(TRI_MASK + 1)(-1)
  private val triIds: Array[Int] = new Array[Int](TRI_MASK + 1)
  @inline private def triSlot(key: Int): Int =
    (key * 0x9e3779b1) >>> 26 // top 6 bits of a fibonacci hash
  trigramFlat.zipWithIndex.foreach { case (p, id) =>
    if (p.length == 3) {
      require(p.forall(_ < 128), s"non-ASCII trigram profile: $p")
      val key = (p.charAt(0) << 14) | (p.charAt(1) << 7) | p.charAt(2)
      var slot = triSlot(key)
      while (triKeys(slot) != -1) slot = (slot + 1) & TRI_MASK
      triKeys(slot) = key
      triIds(slot) = id
    }
  }

  /** U+4E00..U+9FFF at the UTF-8 byte level: 3-byte sequences E4 B8 80 ..
    * E9 BF BF. Leading byte E5..E9 is always in range; E4 needs its first
    * continuation byte >= B8. (TextEvals.hasCjk — the char-level form —
    * stays as the independent twin used by the Column formulations.)
    */
  @inline private def cjkLead(b0: Int, s: UTF8String, i: Int, n: Int): Boolean =
    (b0 >= 0xe5 && b0 <= 0xe9) ||
      (b0 == 0xe4 && i + 1 < n && (s.getByte(i + 1) & 0xff) >= 0xb8)

  /** en>=de>=fr>=es argmax chain shared by both detectors (the Column
    * twins' when-chain order, TextAnalysis.langIdColumn).
    */
  private def argmaxLabel(s0: Int, s1: Int, s2: Int, s3: Int): UTF8String =
    if (s0 >= s1 && s0 >= s2 && s0 >= s3) labels(0)
    else if (s1 >= s2 && s1 >= s3) labels(1)
    else if (s2 >= s3) labels(2)
    else labels(3)

  /** table-entry id for byte-token [start,end) of s, or -1 (length-gated
    * raw byte compare against a small flat ASCII table — the tables are
    * tiny, so a linear probe with an int length pre-filter beats hashing; a
    * token containing multi-byte chars has a byte length no ASCII entry
    * shares OR fails the byte compare, so no decode is ever needed).
    */
  private def tableIdAt(table: Array[Array[Byte]], s: UTF8String, start: Int, end: Int): Int = {
    val tl = end - start
    var k = 0
    while (k < table.length) {
      val w = table(k)
      if (w.length == tl) {
        var j = 0
        while (j < tl && s.getByte(start + j) == w(j)) j += 1
        if (j == tl) return k
      }
      k += 1
    }
    -1
  }

  private def markerIdAt(s: UTF8String, start: Int, end: Int): Int =
    tableIdAt(markerBytes, s, start, end)

  /** == TextAnalysis.langIdColumn(lower-domain): CJK gate then distinct
    * marker-token overlap argmax, in ONE fused byte walk — each lead byte
    * is checked for the CJK range (zh short-circuits, like the twin's
    * first `when`) while single-space (0x20 — a byte that can't occur
    * inside a multi-byte code point) token boundaries drive marker lookups
    * into a seen bitmask. popcount(seen & langBits) == the twin's
    * size(array_intersect(array_distinct(tokens), markers)) because marker
    * lists are duplicate-free.
    */
  def langId(lowered: UTF8String): UTF8String = {
    val n = lowered.numBytes
    var seen = 0
    var tokStart = 0
    var i = 0
    while (i < n) {
      val b = lowered.getByte(i) & 0xff
      if (b == ' ') {
        if (i > tokStart) {
          val id = markerIdAt(lowered, tokStart, i)
          if (id >= 0) seen |= 1 << id
        }
        tokStart = i + 1
      } else if (b >= 0xe4 && cjkLead(b, lowered, i, n)) return zh
      i += 1
    }
    if (n > tokStart) {
      val id = markerIdAt(lowered, tokStart, n)
      if (id >= 0) seen |= 1 << id
    }
    argmaxLabel(
      Integer.bitCount(seen & markerLangBits(0)),
      Integer.bitCount(seen & markerLangBits(1)),
      Integer.bitCount(seen & markerLangBits(2)),
      Integer.bitCount(seen & markerLangBits(3)))
  }

  /** == TextAnalysis.langIdTrigramColumn(lower-domain): one fused byte
    * walk — CJK short-circuit per lead byte, and every window of 3
    * consecutive ASCII bytes packs into 21 bits for an open-addressed
    * profile probe. A profile 3-gram occurs among the twin's code-point
    * trigrams iff it occurs as 3 consecutive bytes (ASCII chars are single
    * bytes and continuation/lead bytes are >= 0x80, so a byte match is
    * always code-point aligned); strings shorter than 3 chars can't form a
    * window, matching the twin's empty-array gate.
    */
  def langIdTrigram(lowered: UTF8String): UTF8String = {
    val n = lowered.numBytes
    var seen = 0
    var i = 0
    while (i < n) {
      val b = lowered.getByte(i) & 0xff
      if (b >= 0xe4 && cjkLead(b, lowered, i, n)) return zh
      if (b < 0x80 && i + 2 < n) {
        val b1 = lowered.getByte(i + 1) & 0xff
        val b2 = lowered.getByte(i + 2) & 0xff
        if (b1 < 0x80 && b2 < 0x80) {
          val key = (b << 14) | (b1 << 7) | b2
          var slot = triSlot(key)
          while (triKeys(slot) != -1 && triKeys(slot) != key) slot = (slot + 1) & TRI_MASK
          if (triKeys(slot) == key) seen |= 1 << triIds(slot)
        }
      }
      i += 1
    }
    argmaxLabel(
      Integer.bitCount(seen & trigramLangBits(0)),
      Integer.bitCount(seen & trigramLangBits(1)),
      Integer.bitCount(seen & trigramLangBits(2)),
      Integer.bitCount(seen & trigramLangBits(3)))
  }

  val qualityStopwords: Seq[String] =
    Seq("the", "and", "of", "to", "a", "in", "is", "for", "with", "on")
  private val stopBytes: Array[Array[Byte]] =
    qualityStopwords.map(_.getBytes(java.nio.charset.StandardCharsets.US_ASCII)).toArray

  private def isStopword(s: UTF8String, start: Int, end: Int): Boolean =
    tableIdAt(stopBytes, s, start, end) >= 0

  /** == TextAnalysis.qualityScoreColumn(lower-domain): one byte walk over
    * the single-space token structure tallying token count (spaces + 1 —
    * the split-with-limit=-1 field count), code-point token lengths
    * (non-continuation bytes), stopword hits (raw byte compares), and
    * all-ASCII-digit tokens (the translate() trick's semantics), then the
    * twin's exact double formula in the twin's exact operation order,
    * rounded like Spark's Round (HALF_UP on the shortest-decimal
    * BigDecimal) so results stay bit-identical.
    */
  def qualityScore(lowered: UTF8String): Double = {
    val len = lowered.numBytes
    var n = 1
    var sumLen = 0L
    var stopHits = 0
    var digitTokens = 0
    var tokStart = 0
    var allDig = true
    var i = 0
    while (i <= len) {
      val b: Int = if (i == len) ' ' else lowered.getByte(i) & 0xff
      if (b == ' ') {
        if (i > tokStart) {
          if (isStopword(lowered, tokStart, i)) stopHits += 1
          if (allDig) digitTokens += 1
        }
        if (i < len) { n += 1; tokStart = i + 1; allDig = true }
      } else {
        if ((b & 0xc0) != 0x80) sumLen += 1 // one code point per non-continuation byte
        if (b < '0' || b > '9') allDig = false
      }
      i += 1
    }
    val nd = n.toDouble // split always yields >= 1 field: greatest(.,1) is a no-op
    val stopRatio = stopHits.toDouble / nd
    val digitRatio = digitTokens.toDouble / nd
    val meanLen = sumLen.toDouble / nd
    val v = math.min(stopRatio * 2, 1.0) * 0.3 +
      (1.0 - digitRatio) * 0.3 +
      math.min(meanLen / 8.0, 1.0) * 0.4
    java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }
}
