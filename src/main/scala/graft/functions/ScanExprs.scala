package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Single-pass scanners for the corpus-wide text-analysis kernels that
  * previously ran on java.util.regex: token counting (ws + BPE-ish) and the
  * whitespace/charset normalizers behind document fingerprinting and the
  * reduced normalizer. These are scan-everything operators in a training
  * pipeline — fingerprinting in particular feeds BOTH dedup entry points
  * (Dedup.exactDedup, Dedup.minHashDedup), so at 100 TB it runs over every
  * document — and this host's measured intra-JVM regex thread collapse
  * (BENCH_SCALING.md) is why the rest of the hot path went regex-free in
  * round 2. Beyond the regex removal, the token counters also drop the
  * intermediate token ARRAY that `size(split(...))` / `size(
  * regexp_extract_all(...))` materialized per row just to take its length.
  *
  * All kernels walk the UTF-8 BYTES of the UTF8String directly — no
  * per-row java.lang.String materialization (the toString copy+decode
  * dominated the char-level first cut; BENCH_SCALING.md round 3, "Native
  * text-analysis kernels vs their Column twins"). Every
  * decision here is byte-decidable: the `\s` class and all kept charsets
  * are ASCII (single bytes; UTF-8 continuation bytes are >= 0x80 and can
  * never alias them), and a non-ASCII code point is exactly one leading
  * byte plus continuations.
  *
  * Each scanner's Pattern formulation stays in TextAnalysis as a `*Regex`
  * differential twin (fuzz-pinned in TokenScanSpec) and the DuckDB oracles
  * keep their independent RE2 formulations, so semantics remain
  * cross-checked three ways.
  */
object ScanEvals {

  /** java.util.regex `\s` (ASCII-only by default): [ \t\n\x0B\f\r]. */
  @inline private def isJavaWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0d)

  /** == size(split(s, "\\s+")) with Spark's limit=-1 semantics: the split
    * produces (number of maximal whitespace runs) + 1 fields — a leading
    * run yields a leading empty field and a trailing run a trailing empty
    * field (kept at limit -1), interior runs separate fields.
    */
  def wsTokenCount(s: UTF8String): Int = {
    val n = s.numBytes
    var runs = 0
    var inRun = false
    var i = 0
    while (i < n) {
      if (isJavaWs(s.getByte(i))) {
        if (!inRun) { runs += 1; inRun = true }
      } else inRun = false
      i += 1
    }
    runs + 1
  }

  /** == count of matches of `[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]`: letter runs
    * and digit runs count once, every other non-whitespace CODE POINT
    * counts by itself — at the byte level a non-ASCII code point is its
    * leading byte (counted as one mark) plus continuation bytes (skipped),
    * so an astral char is one token, matching the regex's code-point
    * semantics.
    */
  def bpeTokenCount(s: UTF8String): Int = {
    val len = s.numBytes
    var n = 0
    var run = 0 // 0 = none, 1 = letter run, 2 = digit run
    var i = 0
    while (i < len) {
      val b = s.getByte(i)
      if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) {
        if (run != 1) { n += 1; run = 1 }
      } else if (b >= '0' && b <= '9') {
        if (run != 2) { n += 1; run = 2 }
      } else if (isJavaWs(b)) {
        run = 0
      } else if ((b & 0xc0) != 0x80) { // ASCII mark or a non-ASCII LEADING byte
        n += 1; run = 0
      } // continuation byte: interior of the already-counted code point
      i += 1
    }
    n
  }

  /** == trim(regexp_replace(s, "\\s+", " ")): every maximal whitespace run
    * becomes one space, then the (only possible) leading/trailing space is
    * trimmed — emitted here directly as "space before the next kept byte,
    * never at the start, pending run dropped at the end". Non-ws bytes copy
    * through verbatim, so multi-byte code points survive untouched.
    */
  def collapseWs(s: UTF8String): UTF8String = {
    val len = s.numBytes
    if (len == 0) return s
    val out = new Array[Byte](len)
    var o = 0
    var pending = false
    var i = 0
    while (i < len) {
      val b = s.getByte(i)
      if (isJavaWs(b)) pending = true
      else {
        if (pending && o > 0) { out(o) = ' '; o += 1 }
        out(o) = b
        o += 1
        pending = false
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, o)
  }

  /** == trim(regexp_replace(regexp_replace(s, "[^a-z0-9 ]", ""), " +", " ")):
    * strip everything outside [a-z0-9 ] FIRST (so a stripped char between
    * two spaces leaves one collapsible run, and tabs/newlines vanish rather
    * than becoming spaces), then collapse space runs and trim. Stripping a
    * non-ASCII code point byte-by-byte is identical to stripping it whole —
    * every one of its bytes is >= 0x80 and outside the kept set. Callers
    * pass lower(c), so uppercase never reaches the scanner.
    */
  def asciiNormalize(s: UTF8String): UTF8String = {
    val len = s.numBytes
    if (len == 0) return s
    val out = new Array[Byte](len)
    var o = 0
    var pending = false
    var i = 0
    while (i < len) {
      val b = s.getByte(i)
      if (b == ' ') pending = true
      else if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        if (pending && o > 0) { out(o) = ' '; o += 1 }
        out(o) = b
        o += 1
        pending = false
      }
      // any other byte is stripped by the inner [^a-z0-9 ] pass — it does
      // NOT touch the pending-space state ("a . b" -> "a b")
      i += 1
    }
    UTF8String.fromBytes(out, 0, o)
  }
}
