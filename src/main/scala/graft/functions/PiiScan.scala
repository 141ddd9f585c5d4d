package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** PII redaction for training corpora — emails, IPv4 addresses and phone
  * numbers replaced with `<EMAIL>` / `<IP>` / `<PHONE>` placeholders, the
  * standard scrub before web text enters a pretraining mix.
  *
  * Regex-free char scanner (this host's java.util.regex thread collapse is
  * why every full-corpus scan op in this engine is scanner-based —
  * BENCH_SCALING.md), but the SEMANTICS are defined by five plain regexes,
  * applied in this fixed order, and the scanner is fuzz-pinned equal to
  * the java.util.regex Column twin (PiiScanSpec) and cross-engine to
  * DuckDB's RE2 (q72) — all five patterns use only constructs the three
  * engines agree on (ASCII classes, `\b` on ASCII word chars, bounded
  * greedy repetition):
  *
  *   1. email  `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}`
  *   2. ipv4   `\bOCT\.OCT\.OCT\.OCT\b` with
  *             `OCT = 25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9]`
  *             (an out-of-range octet like 300 kills the whole match)
  *   3. phone  `\(\d{3}\) \d{3}-\d{4}`   (NANP parenthesized)
  *   4. phone  `\b\d{3}-\d{3}-\d{4}\b`   (NANP dashed)
  *   5. phone  `\+\d{7,15}\b`            (E.164 compact)
  *
  * Each pass is a leftmost non-overlapping global replace over the
  * PREVIOUS pass's output (nested regexp_replace in the twins), so
  * ordering is part of the contract. Greedy-with-backtracking corners are
  * reproduced exactly: the email domain backtracks to the LAST dot
  * followed by >= 2 letters (`a@b.cd1` matches `a@b.cd`), the IP octet
  * alternation backtracks across octets (`1234.1.2.3` never matches), and
  * E.164 runs longer than 15 digits match nothing (no prefix ends on a
  * word boundary).
  */
object PiiScan {

  private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'
  private def isAlpha(c: Char): Boolean = {
    val l = (c | 0x20).toChar; l >= 'a' && l <= 'z'
  }
  private def isWord(c: Char): Boolean = isAlpha(c) || isDigit(c) || c == '_'
  private def isLocal(c: Char): Boolean =
    isAlpha(c) || isDigit(c) || c == '.' || c == '_' || c == '%' || c == '+' || c == '-'
  private def isDomain(c: Char): Boolean =
    isAlpha(c) || isDigit(c) || c == '.' || c == '-'

  def redact(s: String): String =
    if (s == null) null
    else redactE164(redactNanpDash(redactNanpParen(redactIps(redactEmails(s)))))

  def redactUTF8(s: UTF8String): UTF8String =
    if (s == null) null else UTF8String.fromString(redact(s.toString))

  // ---- pass 1: email ------------------------------------------------------

  private def redactEmails(s: String): String = {
    var i = s.indexOf('@')
    if (i < 0) return s
    val sb = new java.lang.StringBuilder(s.length + 16)
    var copied = 0
    while (i >= 0) {
      var ls = i // local-part start: maximal run, never into consumed text
      while (ls > copied && isLocal(s.charAt(ls - 1))) ls -= 1
      var de = i + 1 // domain-run end (maximal)
      while (de < s.length && isDomain(s.charAt(de))) de += 1
      // the regex backtracks the greedy domain group to the LAST dot with
      // >= 2 letters after it and >= 1 domain char before it
      var matchEnd = -1
      if (ls < i && de >= i + 4) {
        var d = de - 3
        while (d > i + 1 && matchEnd < 0) {
          if (s.charAt(d) == '.' && isAlpha(s.charAt(d + 1)) && isAlpha(s.charAt(d + 2))) {
            var e = d + 3
            while (e < de && isAlpha(s.charAt(e))) e += 1
            matchEnd = e
          }
          d -= 1
        }
      }
      if (matchEnd > 0) {
        sb.append(s, copied, ls).append("<EMAIL>")
        copied = matchEnd
        i = s.indexOf('@', matchEnd)
      } else i = s.indexOf('@', i + 1)
    }
    if (copied == 0) s else sb.append(s, copied, s.length).toString
  }

  // ---- pass 2: ipv4 -------------------------------------------------------

  /** Octet-alternation candidate lengths at `p`, in regex order: the
    * (unique) 3-digit form when one applies, then 2 digits ([1-9]\d),
    * then 1. Empty when s(p) is not a digit.
    */
  private def octetLens(s: String, p: Int): Array[Int] = {
    val n = s.length
    if (p >= n || !isDigit(s.charAt(p))) return Array.emptyIntArray
    val c0 = s.charAt(p)
    val has2 = p + 1 < n && isDigit(s.charAt(p + 1))
    val has3 = has2 && p + 2 < n && isDigit(s.charAt(p + 2))
    val c1 = if (has2) s.charAt(p + 1) else ' '
    val c2 = if (has3) s.charAt(p + 2) else ' '
    val three = has3 &&
      ((c0 == '2' && c1 == '5' && c2 >= '0' && c2 <= '5') ||
        (c0 == '2' && c1 >= '0' && c1 <= '4') ||
        c0 == '1')
    val two = has2 && c0 >= '1'
    if (three && two) Array(3, 2, 1)
    else if (three) Array(3, 1)
    else if (two) Array(2, 1)
    else Array(1)
  }

  /** Match end of `\bOCT(\.OCT){3}\b` anchored at `start` (boundary before
    * `start` already checked by the caller), or -1 — with the same
    * backtracking across octets the regex performs.
    */
  private def matchIp(s: String, start: Int): Int = {
    val n = s.length
    def tryFrom(p: Int, k: Int): Int = {
      val lens = octetLens(s, p)
      var li = 0
      while (li < lens.length) {
        val q = p + lens(li)
        if (k == 3) {
          if (q >= n || !isWord(s.charAt(q))) return q
        } else if (q < n && s.charAt(q) == '.') {
          val r = tryFrom(q + 1, k + 1)
          if (r > 0) return r
        }
        li += 1
      }
      -1
    }
    tryFrom(start, 0)
  }

  private def redactIps(s: String): String = {
    val n = s.length
    var sb: java.lang.StringBuilder = null
    var copied = 0
    var i = 0
    while (i < n) {
      if (isDigit(s.charAt(i)) && (i == 0 || !isWord(s.charAt(i - 1)))) {
        val end = matchIp(s, i)
        if (end > 0) {
          if (sb == null) sb = new java.lang.StringBuilder(n + 16)
          sb.append(s, copied, i).append("<IP>")
          copied = end
          i = end
        } else i += 1
      } else i += 1
    }
    if (sb == null) s else sb.append(s, copied, n).toString
  }

  // ---- passes 3-5: phones -------------------------------------------------

  private def digitsAt(s: String, p: Int, k: Int): Boolean = {
    if (p + k > s.length) return false
    var i = p
    while (i < p + k) { if (!isDigit(s.charAt(i))) return false; i += 1 }
    true
  }

  /** Generic single-pattern global replace: `m(i)` returns the match end
    * at position i or -1.
    */
  private def replaceAll(s: String, token: String)(m: Int => Int): String = {
    val n = s.length
    var sb: java.lang.StringBuilder = null
    var copied = 0
    var i = 0
    while (i < n) {
      val end = m(i)
      if (end > 0) {
        if (sb == null) sb = new java.lang.StringBuilder(n + 16)
        sb.append(s, copied, i).append(token)
        copied = end
        i = end
      } else i += 1
    }
    if (sb == null) s else sb.append(s, copied, n).toString
  }

  /** `\(\d{3}\) \d{3}-\d{4}` */
  private def redactNanpParen(s: String): String = replaceAll(s, "<PHONE>") { i =>
    if (s.charAt(i) == '(' && digitsAt(s, i + 1, 3) &&
      i + 4 < s.length && s.charAt(i + 4) == ')' &&
      i + 5 < s.length && s.charAt(i + 5) == ' ' &&
      digitsAt(s, i + 6, 3) &&
      i + 9 < s.length && s.charAt(i + 9) == '-' &&
      digitsAt(s, i + 10, 4)) i + 14
    else -1
  }

  /** `\b\d{3}-\d{3}-\d{4}\b` */
  private def redactNanpDash(s: String): String = replaceAll(s, "<PHONE>") { i =>
    if ((i == 0 || !isWord(s.charAt(i - 1))) && digitsAt(s, i, 3) &&
      i + 3 < s.length && s.charAt(i + 3) == '-' &&
      digitsAt(s, i + 4, 3) &&
      i + 7 < s.length && s.charAt(i + 7) == '-' &&
      digitsAt(s, i + 8, 4) &&
      (i + 12 >= s.length || !isWord(s.charAt(i + 12)))) i + 12
    else -1
  }

  /** `\+\d{7,15}\b` — a run longer than 15 digits matches nothing: every
    * shorter prefix ends before a digit, which is never a word boundary.
    */
  private def redactE164(s: String): String = replaceAll(s, "<PHONE>") { i =>
    if (s.charAt(i) != '+') -1
    else {
      var e = i + 1
      while (e < s.length && isDigit(s.charAt(e))) e += 1
      val len = e - (i + 1)
      if (len >= 7 && len <= 15 && (e >= s.length || !isWord(s.charAt(e)))) e
      else -1
    }
  }
}
