package graft.rules

/** Regex-free char scanners for every pass of the clean chain.
  *
  * Why: the chain runs per turn inside the codegen'd clean_text expression
  * — the pipeline's hottest path — and this host's measured
  * java.util.regex behavior collapses across threads in one JVM
  * (BENCH_SCALING.md), capping intra-JVM scaling. Each function below
  * replicates ONE regex pass of the CPython reference chain exactly
  * (same order, same consumption semantics); Rules.cleanStringRegex keeps
  * the original Pattern chain as the differential twin, and
  * CleanScanSpec pins scanner == regex on the fixture corpus and
  * adversarial edge cases.
  *
  * Most turns hold nothing most passes rewrite (no tag, no caret, no
  * thousands comma), so each pass first checks, mostly by `indexOf`,
  * whether it would change anything, and returns its input untouched when
  * not: no StringBuilder copy per pass per turn.
  */
object CleanScan {

  @inline private def isWs(c: Char): Boolean = // regex \s: [ \t\n\x0B\f\r]
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
  @inline private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'
  @inline private def isAsciiLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  @inline private def isWordChar(c: Char): Boolean = // regex \w: [a-zA-Z0-9_]
    isAsciiLetter(c) || isDigit(c) || c == '_'

  /** Whether `at(s, i)` holds at some index of `s`. */
  @inline private def exists(s: String, at: (String, Int) => Boolean): Boolean = {
    var i = 0
    while (i < s.length && !at(s, i)) i += 1
    i < s.length
  }

  /** [[exists]] over the indices that hold `c` only. */
  @inline private def existsAt(s: String, c: Char, at: (String, Int) => Boolean): Boolean = {
    var i = s.indexOf(c)
    while (i >= 0 && !at(s, i)) i = s.indexOf(c, i + 1)
    i >= 0
  }

  // the match sites of the single-char passes below: the loops and the
  // fast-path checks read the same predicate
  private def letterDigitAt(s: String, i: Int): Boolean =
    i > 0 && isDigit(s.charAt(i)) && isAsciiLetter(s.charAt(i - 1))
  private def singleLetterAt(s: String, i: Int): Boolean =
    isAsciiLetter(s.charAt(i)) &&
      (i == 0 || !isWordChar(s.charAt(i - 1))) &&
      (i + 1 == s.length || !isWordChar(s.charAt(i + 1)))
  private def kiloAt(s: String, i: Int): Boolean =
    s.charAt(i) == 'k' && i > 0 && isDigit(s.charAt(i - 1))
  private def thousandsCommaAt(s: String, i: Int): Boolean =
    s.charAt(i) == ',' && i > 0 && isDigit(s.charAt(i - 1)) &&
      i + 3 < s.length && isDigit(s.charAt(i + 1)) &&
      isDigit(s.charAt(i + 2)) && isDigit(s.charAt(i + 3))
  private def rangeAt(s: String, i: Int): Boolean =
    s.charAt(i) == '-' && i >= 4 && i + 4 < s.length &&
      isDigit(s.charAt(i - 1)) && isDigit(s.charAt(i - 2)) &&
      isDigit(s.charAt(i - 3)) && isDigit(s.charAt(i - 4)) &&
      isDigit(s.charAt(i + 1)) && isDigit(s.charAt(i + 2)) &&
      isDigit(s.charAt(i + 3)) && isDigit(s.charAt(i + 4))

  /** [\n\r\t] -> "" */
  def stripNewlines(s: String): String = {
    if (s.indexOf('\n') < 0 && s.indexOf('\r') < 0 && s.indexOf('\t') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c != '\n' && c != '\r' && c != '\t') sb.append(c)
      i += 1
    }
    sb.toString
  }

  // the admitted set of the reference's negated charset class (see
  // Rules.charsetPattern derivation): alnum handled in code, plus these
  private val admittedPunct: String = "-_!@#%&=,'\";:~`č₽€£$^()+[].{}|?<>"
  private val admittedAscii: Array[Boolean] = Array.tabulate(128) { i =>
    val c = i.toChar
    isAsciiLetter(c) || isDigit(c) || isWs(c) || admittedPunct.indexOf(c) >= 0
  }
  private val admittedOther: String = admittedPunct.filter(_ >= 128)
  @inline private def admitted(c: Char): Boolean =
    if (c < 128) admittedAscii(c) else admittedOther.indexOf(c) >= 0

  /** charsetPattern (negated class)+ -> "" : keep only admitted chars. */
  def charsetKeep(s: String): String = {
    var first = 0
    while (first < s.length && admitted(s.charAt(first))) first += 1
    if (first == s.length) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (admitted(c)) sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** True when `s` holds a '<' with a '>' somewhere after it: the only
    * strings a `<[^>]+>` pass can change.
    */
  private def mayHoldTag(s: String): Boolean = {
    val lt = s.indexOf('<')
    lt >= 0 && s.indexOf('>', lt + 1) >= 0
  }

  /** <[^>]+> -> "" (html tags; at least one char between brackets). */
  def stripTags(s: String): String = {
    if (!mayHoldTag(s)) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '<') {
        var j = i + 1
        while (j < s.length && s.charAt(j) != '>') j += 1
        if (j < s.length && j > i + 1) i = j + 1 // matched <...>, skip it
        else { sb.append(c); i += 1 } // no closing '>' or empty "<>"
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** \^[a-zA-Z]\s+ -> "" */
  def stripCaretSingles(s: String): String = {
    if (s.indexOf('^') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '^' &&
          i + 1 < s.length && isAsciiLetter(s.charAt(i + 1)) &&
          i + 2 < s.length && isWs(s.charAt(i + 2))) {
        var j = i + 3
        while (j < s.length && isWs(s.charAt(j))) j += 1
        i = j
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** \s+ -> " " */
  def collapseWs(s: String): String = {
    var i0 = 0
    while (i0 < s.length && (!isWs(s.charAt(i0)) ||
        s.charAt(i0) == ' ' && (i0 + 1 == s.length || !isWs(s.charAt(i0 + 1))))) i0 += 1
    if (i0 == s.length) return s // every whitespace run is one ' '
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (isWs(c)) {
        sb.append(' ')
        var j = i + 1
        while (j < s.length && isWs(s.charAt(j))) j += 1
        i = j
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** ^b\s+ -> "" */
  def stripPrefixB(s: String): String =
    if (s.length >= 2 && s.charAt(0) == 'b' && isWs(s.charAt(1))) {
      var j = 2
      while (j < s.length && isWs(s.charAt(j))) j += 1
      s.substring(j)
    } else s

  /** ([a-zA-Z])(\d+) -> "$1 $2": space at every letter->digit boundary. */
  def splitLetterDigit(s: String): String = {
    if (!exists(s, letterDigitAt)) return s
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (letterDigitAt(s, i)) sb.append(' ')
      sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** \b[a-zA-Z]\b -> "": drop letters with non-word chars on both sides. */
  def dropSingleLetters(s: String): String = {
    if (!exists(s, singleLetterAt)) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (!singleLetterAt(s, i)) sb.append(s.charAt(i))
      i += 1
    }
    sb.toString
  }

  /** (\d+)(k) -> "$1000": 'k' preceded by a digit becomes "000". */
  def expandKilo(s: String): String = {
    if (!existsAt(s, 'k', kiloAt)) return s
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (kiloAt(s, i)) sb.append("000")
      else sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** (?<=\d),(?=\d{3}) -> "": thousands comma removal. */
  def dropThousandsCommas(s: String): String = {
    if (!existsAt(s, ',', thousandsCommaAt)) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (!thousandsCommaAt(s, i)) sb.append(s.charAt(i))
      i += 1
    }
    sb.toString
  }

  /** (\d+)[ ]?<sym> -> "<sym> $1" — one regex pass (spaced=true replicates
    * "(\d+) (sym)", spaced=false "(\d+)(sym)").
    */
  def reorderCurrency(s: String, sym: Char, spaced: Boolean): String = {
    if (s.indexOf(sym) < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (isDigit(c)) {
        var j = i
        while (j < s.length && isDigit(s.charAt(j))) j += 1 // digit run [i, j)
        val symAt = if (spaced) j + 1 else j
        val ok = symAt < s.length && s.charAt(symAt) == sym &&
          (!spaced || s.charAt(j) == ' ')
        if (ok) {
          sb.append(sym).append(' ').append(s, i, j)
          i = symAt + 1
        } else {
          sb.append(s, i, j)
          i = j
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** (?<=\d{4})-(?=\d{4}) -> " to " */
  def rangeToWords(s: String): String = {
    if (!existsAt(s, '-', rangeAt)) return s
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      if (rangeAt(s, i)) sb.append(" to ") else sb.append(s.charAt(i))
      i += 1
    }
    sb.toString
  }

  // string.punctuation minus [$-:.%,£_] (ExtractInfo.py:156); all ASCII
  private val customPunct: Array[Boolean] = {
    val t = new Array[Boolean](128)
    "!\"#;<=>?@[\\]^`{|}~".foreach(c => t(c) = true)
    t
  }
  @inline private def isCustomPunct(c: Char): Boolean = c < 128 && customPunct(c)

  /** custom punctuation class -> "" */
  def dropCustomPunct(s: String): String = {
    if (!exists(s, (t, i) => isCustomPunct(t.charAt(i)))) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (!isCustomPunct(c)) sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** <[^>]+> -> " " (the preprocess tag strip replaces with a SPACE,
    * unlike the clean chain's removal).
    */
  def stripTagsSpace(s: String): String = {
    if (!mayHoldTag(s)) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '<') {
        var j = i + 1
        while (j < s.length && s.charAt(j) != '>') j += 1
        if (j < s.length && j > i + 1) { sb.append(' '); i = j + 1 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  @inline private def isLineTerm(c: Char): Boolean = // chars regex '.' skips
    c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029'

  /** [\[(].*?[\])] -> " " : from an opener ('[' or '('), the NEAREST closer
    * of EITHER type (']' or ')') ends the span — non-greedy, openers and
    * closers unmatched by type, and '.' cannot cross a line terminator (an
    * opener with no closer on its line stays literal).
    */
  def dropParensSpans(s: String): String = {
    if (s.indexOf('[') < 0 && s.indexOf('(') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '[' || c == '(') {
        var j = i + 1
        while (j < s.length && !isLineTerm(s.charAt(j)) &&
            s.charAt(j) != ']' && s.charAt(j) != ')') j += 1
        if (j < s.length && (s.charAt(j) == ']' || s.charAt(j) == ')')) {
          sb.append(' ')
          i = j + 1
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** python no-arg split() + lemma map + ' '.join — regex-free tokenizer. */
  def lemmatizeTokens(s: String, lemmas: Map[String, String]): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var first = true
    while (i < s.length) {
      while (i < s.length && isWs(s.charAt(i))) i += 1
      if (i < s.length) {
        var j = i
        while (j < s.length && !isWs(s.charAt(j))) j += 1
        val tok = s.substring(i, j)
        if (!first) sb.append(' ')
        sb.append(lemmas.getOrElse(tok, tok))
        first = false
        i = j
      }
    }
    sb.toString
  }
}
