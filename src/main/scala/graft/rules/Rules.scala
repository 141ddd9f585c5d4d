package graft.rules

import java.util.regex.Pattern

import graft.sources.Dims

/** Pure, row-local re-expressions of the reference's extraction semantics.
  *
  * Every function here is deterministic and side-effect-free so it can be
  * used (a) inside typed Dataset.map operators on executors, (b) by the
  * fixture generator to derive golden triples by construction, and (c) in
  * hand-computed unit tests. Where the reference is nondeterministic
  * (Python set ordering) we pin first-occurrence order — recorded per
  * SURVEY.md §7.4.
  */
object Rules {

  // ==================================================================
  // clean_string — canonical spec: /root/reference/extract-info/ExtractInfo.py:154-207
  // (the variant that feeds extraction; the three clones differ only in
  // currency-regex details, SURVEY §2.2 F3).
  // ==================================================================

  /** Allowed-charset negation. The reference's regex looks like an
    * alternation but its `\]` is escaped, so the class actually closes at
    * the `[^\s]` bracket — net effect: one negated class that admits
    * alnum, the listed punctuation, č₽€£ and whitespace. A literal
    * backslash is NOT admitted (the source's `\\]` is an escaped `]`, not
    * an admitted backslash — CPython strips `\` from `foo\bar`). Verified
    * against CPython behavior, including the backslash case (RulesSpec).
    */
  private val charsetPattern: Pattern =
    Pattern.compile("[^-_a-zA-Z0-9!@#%&=,'\";:~`č₽€£$^()+\\[\\].{}|?<>\\s]+")

  private val pTag = Pattern.compile("<[^>]+>")
  private val pCaret = Pattern.compile("\\^[a-zA-Z]\\s+")
  private val pSpaces = Pattern.compile("\\s+")
  private val pPrefixB = Pattern.compile("^b\\s+")
  private val pLetterDigit = Pattern.compile("([a-zA-Z])(\\d+)")
  private val pSingleChar = Pattern.compile("\\b[a-zA-Z]\\b")
  private val pKilo = Pattern.compile("(\\d+)(k)")
  private val pThousandsComma = Pattern.compile("(?<=\\d),(?=\\d{3})")
  private val pEurReorder1 = Pattern.compile("(\\d+) (€)")
  private val pEurReorder2 = Pattern.compile("(\\d+)(€)")
  private val pUsdReorder1 = Pattern.compile("(\\d+) (\\$)")
  private val pUsdReorder2 = Pattern.compile("(\\d+)(\\$)")
  private val pGbpReorder1 = Pattern.compile("(\\d+) (£)")
  private val pGbpReorder2 = Pattern.compile("(\\d+)(£)")
  private val pRange = Pattern.compile("(?<=\\d{4})-(?=\\d{4})")
  // string.punctuation minus [$-:.%,£_] → !"#;<=>?@[\]^`{|}~ (ExtractInfo.py:156)
  private val pCustomPunct = Pattern.compile("[!\"#;<=>?@\\[\\\\\\]^`{|}~]")
  private val pNewlines = Pattern.compile("[\\n\\r\\t]")

  /** Production clean chain — regex-FREE (CleanScan char scanners, one
    * per reference pass; this host's java.util.regex collapses across
    * threads in one JVM, so the hot path avoids it entirely). Pinned to
    * [[cleanStringRegex]] by CleanScanSpec and to CPython by the RulesSpec
    * cases.
    */
  @inline private def isAsciiOnly(s: String): Boolean = {
    var i = 0
    while (i < s.length) { if (s.charAt(i) >= 0x80) return false; i += 1 }
    true
  }

  def cleanString(s: String): String = {
    if (s == null) return ""
    // NFKD is the identity on pure-ASCII strings (no ASCII char has a
    // compatibility decomposition), so skip the normalizer's copy for the
    // common case — one allocation-free scan instead (r6)
    var d = if (isAsciiOnly(s)) s
            else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKD)
    d = d.trim
    d = CleanScan.stripNewlines(d)
    d = d.toLowerCase
    d = CleanScan.charsetKeep(d)
    d = CleanScan.stripTags(d)
    d = CleanScan.stripCaretSingles(d)
    d = CleanScan.collapseWs(d)
    d = CleanScan.stripPrefixB(d)
    d = d.replace("&amp;", "and")
    d = d.replace("atm", "")
    d = CleanScan.splitLetterDigit(d)
    d = CleanScan.dropSingleLetters(d)
    d = CleanScan.expandKilo(d)
    d = CleanScan.dropThousandsCommas(d)
    d = d.replace("euro ", "€").replace("eur ", "€")
    d = d.replace("dollar ", "$").replace("usd ", "$") // String.replace is literal
    d = CleanScan.reorderCurrency(d, '€', spaced = true)
    d = CleanScan.reorderCurrency(d, '€', spaced = false)
    d = CleanScan.reorderCurrency(d, '$', spaced = true)
    d = CleanScan.reorderCurrency(d, '$', spaced = false)
    d = CleanScan.reorderCurrency(d, '£', spaced = true)
    d = CleanScan.reorderCurrency(d, '£', spaced = false)
    d = CleanScan.rangeToWords(d)
    d = CleanScan.dropCustomPunct(d)
    CleanScan.lemmatizeTokens(d, Dims.lemmas)
  }

  /** The original Pattern-chain implementation — kept verbatim as the
    * differential twin for the scanner chain (CleanScanSpec pins
    * cleanString == cleanStringRegex on corpus + adversarial edge cases).
    */
  def cleanStringRegex(s: String): String = {
    if (s == null) return ""
    var d = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKD)
    d = d.trim
    d = pNewlines.matcher(d).replaceAll("")
    d = d.toLowerCase
    d = charsetPattern.matcher(d).replaceAll("")
    d = pTag.matcher(d).replaceAll("")
    d = pCaret.matcher(d).replaceAll("")
    d = pSpaces.matcher(d).replaceAll(" ")
    d = pPrefixB.matcher(d).replaceAll("")
    d = d.replace("&amp;", "and")
    d = d.replace("atm", "")
    d = pLetterDigit.matcher(d).replaceAll("$1 $2")
    d = pSingleChar.matcher(d).replaceAll("")
    d = pKilo.matcher(d).replaceAll("$1000")
    d = pThousandsComma.matcher(d).replaceAll("")
    d = d.replace("euro ", "€").replace("eur ", "€")
    d = d.replace("dollar ", "$").replace("usd ", "$") // String.replace is literal
    d = pEurReorder1.matcher(d).replaceAll("€ $1")
    d = pEurReorder2.matcher(d).replaceAll("€ $1")
    d = pUsdReorder1.matcher(d).replaceAll("\\$ $1")
    d = pUsdReorder2.matcher(d).replaceAll("\\$ $1")
    d = pGbpReorder1.matcher(d).replaceAll("£ $1")
    d = pGbpReorder2.matcher(d).replaceAll("£ $1")
    d = pRange.matcher(d).replaceAll(" to ")
    d = pCustomPunct.matcher(d).replaceAll("")
    // lemmatize tokens; python's no-arg split() collapses whitespace runs
    d.split("\\s+").iterator.filter(_.nonEmpty)
      .map(t => Dims.lemmas.getOrElse(t, t)).mkString(" ")
  }

  // ==================================================================
  // Generic helpers (ExtractInfo.py:211-285)
  // ==================================================================

  /** Nonempty whitespace-separated tokens — scanner equivalent of
    * split("\\s+").filter(_.nonEmpty) (regex-free: hot-path helper for
    * the per-turn gates and NER-proxy features).
    */
  @inline private def isWsCh(c: Char): Boolean = // regex \s: [ \t\n\x0B\f\r]
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  def wsTokens(s: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val len = s.length
    var i = 0
    while (i < len) {
      while (i < len && isWsCh(s.charAt(i))) i += 1
      if (i < len) {
        var j = i
        while (j < len && !isWsCh(s.charAt(j))) j += 1
        out += s.substring(i, j)
        i = j
      }
    }
    out.toArray
  }

  /** getOrConditionUsingCombinations — both substrings present. */
  def comboGate(combos: Seq[(String, String)], s: String): Boolean =
    combos.exists { case (a, b) => s.contains(a) && s.contains(b) }

  /** findSurroundingWords (ExtractInfo.py:279-284): ±n word context
    * windows around every occurrence of `key`, joined with a space.
    */
  def surroundingWords(s: String, key: String, n: Int): String = {
    val pat = Pattern.compile(
      ("\\w*\\W*" * n) + Pattern.quote(key) + ("\\W*\\w*" * n),
      Pattern.CASE_INSENSITIVE)
    val m = pat.matcher(s)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.mkString(" ")
  }

  /** minDistance (ExtractInfo.py:261-275): keep all adjacent pairs with the
    * minimal gap after sorting (faithfully including its duplicates).
    */
  def minDistance(values: Seq[Double]): Seq[Double] = {
    val lst = values.sorted
    var distance = lst.max - lst.min
    for (i <- 0 until lst.length - 1)
      if (lst(i + 1) - lst(i) < distance) distance = lst(i + 1) - lst(i)
    val res = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (i <- 0 until lst.length - 1)
      if (lst(i + 1) - lst(i) == distance) { res += lst(i); res += lst(i + 1) }
    res.toSeq
  }

  // ==================================================================
  // Currency (ExtractInfo.py:370-408)
  // ==================================================================

  private val currencyTokens: Set[String] = Dims.currencyWords.keySet

  /** getCurrency: first currency word token (first occurrence pinned), else
    * first of €/$/£ as substring; canonicalized to a currency family.
    */
  def getCurrency(s: String): Option[String] = {
    val word = wsTokens(s).find(currencyTokens.contains).map(Dims.currencyWords)
    word.orElse(Seq("€", "$", "£").find(s.contains).map(Dims.currencySymbols))
  }

  /** Currency pattern-hit count (NER-proxy feature M3/M4 substitute):
    * currency word tokens + distinct symbol families present.
    */
  def currencyHits(s: String): Int =
    wsTokens(s).count(currencyTokens.contains) +
      Seq("€", "$", "£").count(s.contains)

  /** filterCurrencyAndSalary (ExtractInfo.py:390-408): euro-associated
    * salaries win; otherwise all pairs pass through. Returns
    * (currencies, salaries), first-occurrence-deduped.
    */
  def filterCurrencyAndSalary(byValue: Seq[(Double, String)]): (Seq[String], Seq[Double]) = {
    val withEuro = byValue.collect { case (v, "euro") => v }
    if (withEuro.nonEmpty) (Seq("euro"), withEuro.distinct)
    else (byValue.map(_._2).distinct, byValue.map(_._1).distinct)
  }

  // ==================================================================
  // Base salary (X6, ExtractInfo.py:412-521)
  // ==================================================================

  final case class SalaryHit(values: Seq[Double], currencies: Seq[String],
      currencyAssociated: Seq[Double], surrounding: String)

  private val pNumber = Pattern.compile("([0-9.]*[0-9]+)")

  def findNumbers(s: String): Seq[String] = {
    val m = pNumber.matcher(s)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group(1)
    out.toSeq
  }

  def salaryGate(cleaned: String): Boolean =
    comboGate(Dims.salaryCombinations, cleaned) ||
      wsTokens(cleaned).exists(Dims.salaryCommonKeywords.contains) ||
      getCurrency(cleaned).isDefined

  /** Extract the salary facts of one cleaned chunk. Numbers stand in for
    * the reference's MONEY/CARDINAL/DATE entity texts (SURVEY §2.6 X6 —
    * spaCy CARDINAL covers bare numbers, so candidates = every number
    * occurrence); the DATE year-discard keeps its month-within-2-words
    * rule verbatim.
    */
  def extractSalary(cleaned: String): Option[SalaryHit] = {
    if (!salaryGate(cleaned)) return None
    val numbers = findNumbers(cleaned)
      .flatMap(t => scala.util.Try(t.toDouble).toOption.map(v => (t, v)))
      .filter(_._2 >= 450.0)
    val info = scala.collection.mutable.LinkedHashSet.empty[Double]
    val currencyInfo = scala.collection.mutable.LinkedHashSet.empty[String]
    val withCur = scala.collection.mutable.LinkedHashMap.empty[Double, String]
    val surrounding = scala.collection.mutable.ArrayBuffer.empty[String]
    numbers.foreach { case (surface, v) =>
      if (!info.contains(v)) {
        val sw2 = surroundingWords(cleaned, v.toInt.toString, 2)
        val isYear = sw2.split("\\s+").exists(Dims.monthNames.contains)
        if (!isYear) {
          val sw5 = surroundingWords(cleaned, surface, 5)
          surrounding += sw5
          getCurrency(surface + sw5).foreach { cur =>
            currencyInfo += cur
            withCur.getOrElseUpdate(v, cur)
          }
          info += v
        }
      }
    }
    if (info.isEmpty) None
    else {
      var vals = info.toSeq
      var curs = currencyInfo.toSeq
      if (vals.length > 1 && withCur.nonEmpty) {
        val (c, s) = filterCurrencyAndSalary(withCur.toSeq)
        curs = c; vals = s
      }
      if (vals.length > 2) vals = minDistance(vals)
      val curAssoc = if (curs.nonEmpty) vals else Seq.empty
      Some(SalaryHit(vals.distinct, curs, curAssoc, surrounding.mkString(",")))
    }
  }

  // ==================================================================
  // Employment type (X9, ExtractInfo.py:562-597)
  // ==================================================================

  /** matched surface keywords (substring containment, list order). */
  def employmentSurfaces(cleaned: String): Seq[String] =
    Dims.employmentKeywords.filter(cleaned.contains).distinct

  /** surfaces -> group names, first-hit-per-group order. */
  def employmentGroupsOf(surfaces: Seq[String]): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    surfaces.foreach { s =>
      Dims.employmentGroups.find(_._2.contains(s)).foreach(g => out += g._1)
    }
    out.toSeq
  }

  /** prioritizedEmpType (ProcessAndMergeInfo.py:341-349). */
  def priorityEmployment(groups: Seq[String]): Option[String] =
    if (groups.isEmpty) None
    else Some(groups.minBy(Dims.employmentPriority.indexOf))

  // ==================================================================
  // Location (X3 — gazetteer re-expression of spaCy GPE + geograpy;
  // ExtractInfo.py:325-363,536-555)
  // ==================================================================

  private val gazetteerSorted: Seq[(String, String)] =
    Dims.gazetteer.toSeq.sortBy(_._1)

  private val gazetteerPatterns: Seq[(Pattern, String)] =
    gazetteerSorted.map { case (surface, country) =>
      (Pattern.compile("\\b" + Pattern.quote(surface) + "\\b"), country)
    }

  @inline private def isWordCh(c: Char): Boolean = // regex \w: [a-zA-Z0-9_]
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'

  /** Java \b's word definition (Pattern.Bound.isWord WITHOUT
    * UNICODE_CHARACTER_CLASS): underscore or any Unicode letter/digit —
    * BROADER than \w's ASCII class. 'é' is not \w but IS a \b word char,
    * so "a" in "aé" has no trailing boundary. Every scanner boundary test
    * must use this predicate, not isWordCh (CleanScanSpec fuzz pins it).
    */
  @inline private def isBoundWordCh(c: Char): Boolean =
    c == '_' || Character.isLetterOrDigit(c)

  /** First \b-delimited occurrence of `needle` in `hay`, or -1 — scanner
    * equivalent of Pattern("\\b" + quote(needle) + "\\b").find. The \b
    * tests apply to the needle's own edge chars: a needle edge that is a
    * non-word char (e.g. "st.") has its boundary INSIDE the needle, so the
    * neighbor test flips accordingly.
    */
  def indexOfBounded(hay: String, needle: String): Int = {
    if (needle.isEmpty) return -1
    val first = isBoundWordCh(needle.charAt(0))
    val last = isBoundWordCh(needle.charAt(needle.length - 1))
    var from = 0
    while (true) {
      val i = hay.indexOf(needle, from)
      if (i < 0) return -1
      // \b = exactly one side is a word char; string edge counts non-word
      val beforeOk =
        if (i == 0) first else isBoundWordCh(hay.charAt(i - 1)) != first
      val endIdx = i + needle.length
      val afterOk =
        if (endIdx == hay.length) last else isBoundWordCh(hay.charAt(endIdx)) != last
      if (beforeOk && afterOk) return i
      from = i + 1
    }
    -1
  }

  @inline private def asciiLower(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  /** First \b-delimited ASCII-case-insensitive occurrence of `needle`, or
    * -1 — scanner equivalent of
    * Pattern("\\b"+quote(needle)+"\\b", CASE_INSENSITIVE).find: Java folds
    * ASCII only without UNICODE_CASE ('ä' ≠ 'Ä' for the regex), so the
    * fold here is explicitly ASCII (NOT regionMatches(ignoreCase), which
    * folds Unicode). Pinned by DictRulesSpec fuzz.
    */
  def indexOfBoundedCI(hay: String, needle: String): Int = {
    val nLen = needle.length
    if (nLen == 0) return -1
    val first = isBoundWordCh(needle.charAt(0))
    val last = isBoundWordCh(needle.charAt(nLen - 1))
    val hLen = hay.length
    var i = 0
    while (i + nLen <= hLen) {
      var j = 0
      while (j < nLen && asciiLower(hay.charAt(i + j)) == asciiLower(needle.charAt(j))) j += 1
      if (j == nLen) {
        val beforeOk =
          if (i == 0) first else isBoundWordCh(hay.charAt(i - 1)) != first
        val endIdx = i + nLen
        val afterOk =
          if (endIdx == hLen) last else isBoundWordCh(hay.charAt(endIdx)) != last
        if (beforeOk && afterOk) return i
      }
      i += 1
    }
    -1
  }

  // one-pass gazetteer automaton (r6): the prior shape ran indexOfBounded
  // once PER surface — ~70 full passes over every turn's text, on BOTH
  // the NER-proxy (tagger feature) and extract paths. One Aho-Corasick
  // scan + per-match \b checks computes the identical per-surface
  // first-bounded-occurrence.
  private val gazSurfaces: Array[String] = gazetteerSorted.map(_._1).toArray
  private val gazCountries: Array[String] = gazetteerSorted.map(_._2).toArray
  private val gazIdx: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    gazSurfaces.zipWithIndex.foreach { case (s, i) => m.put(s, i) }
    m
  }
  private val gazFirstW: Array[Boolean] = gazSurfaces.map(s => isBoundWordCh(s.charAt(0)))
  private val gazLastW: Array[Boolean] =
    gazSurfaces.map(s => isBoundWordCh(s.charAt(s.length - 1)))
  private val gazAc = new graft.rules.AhoCorasick(gazSurfaces.toIndexedSeq)

  /** country display names mentioned in a cleaned chunk, first-occurrence
    * position order (the reference appends in entity order). Single
    * Aho-Corasick pass; per surface the first \b-bounded occurrence, so
    * the result is identical to the per-surface indexOfBounded loop —
    * pinned to [[extractLocationsRegex]] by CleanScanSpec.
    */
  def extractLocations(cleaned: String): Seq[String] = {
    val best = new Array[Int](gazSurfaces.length)
    java.util.Arrays.fill(best, Int.MaxValue)
    gazAc.scan(cleaned).foreach { case (end, pat) =>
      val k = gazIdx.get(pat).intValue()
      val start = end - gazSurfaces(k).length + 1
      if (start < best(k)) { // per-pattern ends ascend: first bounded wins
        val beforeOk =
          if (start == 0) gazFirstW(k)
          else isBoundWordCh(cleaned.charAt(start - 1)) != gazFirstW(k)
        val afterOk =
          if (end + 1 == cleaned.length) gazLastW(k)
          else isBoundWordCh(cleaned.charAt(end + 1)) != gazLastW(k)
        if (beforeOk && afterOk) best(k) = start
      }
    }
    val hits = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    var k = 0
    while (k < best.length) {
      if (best(k) != Int.MaxValue) hits += ((best(k), gazCountries(k)))
      k += 1
    }
    hits.sortBy(_._1).map(_._2).distinct.toSeq
  }

  /** Pattern-based twin of [[extractLocations]] (differential pin only). */
  def extractLocationsRegex(cleaned: String): Seq[String] = {
    val hits = gazetteerPatterns.flatMap { case (p, country) =>
      val m = p.matcher(cleaned)
      if (m.find()) Some((m.start, country)) else None
    }
    hits.sortBy(_._1).map(_._2).distinct
  }

  /** X3 engine-side gazetteer scan — the exact semantics of a single
    * `\b(s1|s2|…)\b` alternation sorted by (-length, surface): at each
    * word start the LONGEST surface whose trailing edge is also a word
    * boundary wins, the match is consumed (non-overlapping), surfaces map
    * to country names, first-occurrence distinct. This is what the
    * extract_locations kernel's regexp_extract_all twin (OperatorSpec)
    * expresses; pinned to [[scanGazetteerRegex]] by CleanScanSpec fuzz.
    * (Distinct from [[extractLocations]], the per-surface-first-occurrence
    * NER-proxy counter — the two differ only on nested surfaces.)
    */
  private val gazByFirst: Map[Char, IndexedSeq[(String, String)]] =
    Dims.gazetteer.toSeq.sortBy { case (s, _) => (-s.length, s) }
      .groupBy(_._1.charAt(0)).view.mapValues(_.toIndexedSeq).toMap

  def scanGazetteer(cleaned: String): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    val len = cleaned.length
    var i = 0
    while (i < len) {
      val c = cleaned.charAt(i)
      // surfaces start with an ASCII letter, so \b restricts starts to
      // positions whose LEFT neighbor is not a Java-\b word char
      if (i == 0 || !isBoundWordCh(cleaned.charAt(i - 1))) {
        val cands = gazByFirst.getOrElse(c, IndexedSeq.empty)
        var matchedEnd = -1
        var k = 0
        while (matchedEnd < 0 && k < cands.length) {
          val (s, country) = cands(k)
          val end = i + s.length
          if (end <= len && cleaned.regionMatches(i, s, 0, s.length) &&
              (end == len || !isBoundWordCh(cleaned.charAt(end)))) {
            out += country
            matchedEnd = end
          }
          k += 1
        }
        i = if (matchedEnd >= 0) matchedEnd else i + 1
      } else i += 1
    }
    out.toSeq
  }

  /** the alternation regex itself, for the differential twin and docs. */
  val gazAlternationStr: String =
    "\\b(" + Dims.gazetteer.keys.toSeq.sortBy(s => (-s.length, s))
      .map(Pattern.quote).mkString("|") + ")\\b"

  private lazy val pGazAlternation = Pattern.compile(gazAlternationStr)

  /** Pattern twin of [[scanGazetteer]] (differential pin only). */
  def scanGazetteerRegex(cleaned: String): Seq[String] = {
    val m = pGazAlternation.matcher(cleaned)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (m.find()) out += Dims.gazetteer(m.group(1))
    out.toSeq
  }

  /** getPrioritizedJobLocation (ProcessAndMergeInfo.py:549-553): mode with
    * first-occurrence tie-break over the *concatenated* per-chunk lists
    * (per-chunk deduped, cross-chunk duplicates kept — A1 semantics).
    */
  def modeLocation(locations: Seq[String]): Option[String] =
    if (locations.isEmpty) None
    else {
      val counts = locations.groupBy(identity).view.mapValues(_.size).toMap
      Some(locations.maxBy(counts)) // maxBy keeps first max in order
    }

  // ==================================================================
  // Education (X10, ExtractInfo.py:630-678; mapping + priority
  // ProcessAndMergeInfo.py:490-528)
  // ==================================================================

  private val pAlphaToken = Pattern.compile("\\b[^\\d\\W]+\\b")

  @inline private def isAlphaTokCh(c: Char): Boolean = // [^\d\W] = [a-zA-Z_]
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || c == '_'

  /** \b[^\d\W]+\b matches — scanner: a maximal [a-zA-Z_] run qualifies iff
    * its neighbors are non-word (a digit neighbor kills the \b, and the
    * run cannot shrink to find an internal boundary). Pinned to
    * [[alphaTokensRegex]] by CleanScanSpec fuzz.
    */
  def alphaTokens(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val len = s.length
    var i = 0
    while (i < len) {
      if (isAlphaTokCh(s.charAt(i))) {
        var j = i
        while (j < len && isAlphaTokCh(s.charAt(j))) j += 1
        val beforeOk = i == 0 || !isBoundWordCh(s.charAt(i - 1))
        val afterOk = j == len || !isBoundWordCh(s.charAt(j))
        if (beforeOk && afterOk) out += s.substring(i, j)
        i = j
      } else i += 1
    }
    out.toSeq
  }

  /** Pattern twin of [[alphaTokens]] (differential pin only). */
  def alphaTokensRegex(s: String): Seq[String] = {
    val m = pAlphaToken.matcher(s)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.toSeq
  }

  private lazy val degreeTokenSeqs: Seq[(String, Seq[String])] =
    Dims.allDegreePhrases.map(p => p -> alphaTokens(p).filterNot(Dims.stopwords))

  private[graft] def containsSubseq(hay: Seq[String], needle: Seq[String]): Boolean =
    needle.nonEmpty && hay.sliding(needle.length).exists(_ == needle)

  // one-pass degree-phrase scan (r6): the containsSubseq shape allocated a
  // sliding-window Seq per token position per phrase on EVERY turn (it runs
  // on both the NER-proxy tagger-feature path and the extract path — 8% of
  // kg executor samples). First-token index over the phrase token arrays:
  // hit(p) is set iff phrase p's tokens occur consecutively in toks —
  // containsSubseq's exact predicate — and hits are emitted in
  // degreeTokenSeqs order, so the result is identical.
  private lazy val degreePhraseArr: Array[String] = degreeTokenSeqs.map(_._1).toArray
  private lazy val degreeTokArrays: Array[Array[String]] =
    degreeTokenSeqs.map(_._2.toArray).toArray
  private lazy val degreeByFirstTok: java.util.HashMap[String, Array[Int]] = {
    val acc = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Int]]()
    var p = 0
    while (p < degreeTokArrays.length) {
      val seq = degreeTokArrays(p)
      if (seq.nonEmpty) { // empty needle: containsSubseq is false, never indexed
        var b = acc.get(seq(0))
        if (b == null) { b = scala.collection.mutable.ArrayBuffer.empty[Int]; acc.put(seq(0), b) }
        b += p
      }
      p += 1
    }
    val out = new java.util.HashMap[String, Array[Int]]()
    acc.forEach((k, v) => out.put(k, v.toArray))
    out
  }

  /** phrases hit in the chunk (CountVectorizer n-gram semantics: alphabetic
    * tokens, sklearn-english stopwords removed before n-gram formation),
    * then getTopEduReq's top-5-by-key-length (ExtractInfo.py:644-648 — the
    * "top 3" that returns 5; ties alphabetical like sklearn's sorted vocab).
    * Pinned to the [[containsSubseq]] shape by RulesSpec.
    */
  def extractEducation(cleaned: String): Seq[String] = {
    val toks = alphaTokens(cleaned).filterNot(Dims.stopwords).toArray
    var hit: Array[Boolean] = null
    var i = 0
    while (i < toks.length) {
      val cands = degreeByFirstTok.get(toks(i))
      if (cands != null) {
        var c = 0
        while (c < cands.length) {
          val p = cands(c)
          if (hit == null || !hit(p)) {
            val seq = degreeTokArrays(p)
            if (i + seq.length <= toks.length) {
              var j = 1 // seq(0) == toks(i) by index construction
              while (j < seq.length && toks(i + j) == seq(j)) j += 1
              if (j == seq.length) {
                if (hit == null) hit = new Array[Boolean](degreeTokArrays.length)
                hit(p) = true
              }
            }
          }
          c += 1
        }
      }
      i += 1
    }
    if (hit == null) Nil
    else {
      val hits = scala.collection.mutable.ArrayBuffer.empty[String]
      var p = 0
      while (p < hit.length) { if (hit(p)) hits += degreePhraseArr(p); p += 1 }
      hits.sortBy(p => (-p.length, p)).take(5).toSeq
    }
  }

  /** containsSubseq-shape twin of [[extractEducation]] (differential pin
    * only — RulesSpec fuzzes the two against each other).
    */
  private[graft] def extractEducationSubseq(cleaned: String): Seq[String] = {
    val toks = alphaTokens(cleaned).filterNot(Dims.stopwords)
    val hits = degreeTokenSeqs.collect { case (p, seq) if containsSubseq(toks, seq) => p }
    hits.sortBy(p => (-p.length, p)).take(5)
  }

  /** merged phrases -> lowest degree level (min priority index). */
  def priorityDegree(phrases: Seq[String]): Option[String] = {
    val levels = phrases.flatMap(Dims.degreeLevelOf.get)
    if (levels.isEmpty) None else Some(levels.minBy(Dims.degreePriority.indexOf))
  }

  // ==================================================================
  // Start/deadline dates (X5, ExtractInfo.py:348-350 DATE branch +
  // checkDateConditions :620-624; DISABLED in the reference's shipped
  // config (:131-132) — here behind the `extractDates` flag, default off,
  // flag-off parity preserved)
  // ==================================================================

  /** checkDateConditions stoplist: generic DATE entities dropped. */
  val dateStoplist: Set[String] =
    Set("day", "days", "date", "month", "months", "year", "years")

  /** spaCy-DATE re-expression over CLEANED text (the reference NERs the
    * cleaned chunk): "[d] <month> <year>" and "dd.mm.yyyy" spans. Shared
    * with the extract_dates kernel's Column twin in OperatorSpec.
    */
  val datePatternStr: String =
    "\\b(?:\\d{1,2} )?(?:" + Dims.monthNames.mkString("|") + ") \\d{4}\\b" +
      "|\\b\\d{1,2}\\.\\d{1,2}\\.\\d{4}\\b"

  private val pDate = Pattern.compile(datePatternStr)

  /** date-like spans, first-occurrence order, stoplist-filtered.
    * NOTE: this is the one remaining java.util.regex in the extraction
    * bank — deliberately: X5 ships flag-off (reference parity), so it is
    * NOT on the default hot path, and the regex-free claims in
    * BENCH_SCALING.md / PlanSpec scope to the default configuration.
    */
  def extractDates(cleaned: String): Seq[String] = {
    val m = pDate.matcher(cleaned)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (m.find()) {
      val t = m.group()
      if (!dateStoplist.contains(t)) out += t
    }
    out.toSeq
  }

  // ==================================================================
  // Hiring organization (X4 — spaCy ORG re-expressed as a
  // capitalized-sequence pattern + the reference's own filters,
  // ExtractInfo.py:604-613; disabled in the shipped reference config,
  // enabled here to feed the entity-linking stage)
  // ==================================================================

  private val pOrg = Pattern.compile("\\b([A-Z][a-z]+(?: [A-Z][a-zA-Z]+)+)\\b")
  private lazy val countryNames: Set[String] = Dims.countries.map(_.name).toSet

  private def orgFilterOk(cand: String): Boolean =
    !(Seq("http", "www").exists(cand.toLowerCase.contains) ||
      (cand.length < 3 && cand != "eu" && cand != "un") ||
      countryNames.contains(cand))

  /** org-like mentions in RAW (uncleaned) text: ≥2 adjacent capitalized
    * words, minus URLs, minus country names (the GPE/ORG distinction the
    * reference gets from spaCy), len ≥ 3 kept per checkOrganisationConditions.
    *
    * Scanner re-derivation of the pattern (pinned to [[extractOrgsRegex]]
    * by CleanScanSpec fuzz): tokenize into MAXIMAL \w runs; a match is a
    * chain of runs separated by exactly one space where run1 is
    * [A-Z][a-z]+ and each later run is [A-Z][a-zA-Z]+ — maximality gives
    * the \b edges (a digit/underscore touching a run disqualifies it, and
    * regex backtracking cannot shrink a run to manufacture a boundary).
    * Greedy (longest chain), non-overlapping, first-occurrence dedup.
    */
  def extractOrgs(raw: String): Seq[String] = {
    if (raw == null) return Seq.empty
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    val len = raw.length
    // collect maximal word-char runs
    val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val ends = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < len) {
      if (isWordCh(raw.charAt(i))) {
        val s0 = i
        while (i < len && isWordCh(raw.charAt(i))) i += 1
        starts += s0; ends += i
      } else i += 1
    }
    def isFirstWord(a: Int, b: Int): Boolean = {
      if (b - a < 2) return false
      val c0 = raw.charAt(a)
      if (!(c0 >= 'A' && c0 <= 'Z')) return false
      var k = a + 1
      while (k < b) { val c = raw.charAt(k); if (!(c >= 'a' && c <= 'z')) return false; k += 1 }
      true
    }
    def isLaterWord(a: Int, b: Int): Boolean = {
      if (b - a < 2) return false
      val c0 = raw.charAt(a)
      if (!(c0 >= 'A' && c0 <= 'Z')) return false
      var k = a + 1
      while (k < b) {
        val c = raw.charAt(k)
        if (!((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))) return false
        k += 1
      }
      true
    }
    var r = 0
    while (r < starts.length) {
      // leading \b: the char left of the chain must not be a Java-\b word
      // char (runs are ASCII-\w-maximal, so only non-ASCII letters/digits
      // can violate this, e.g. "éAb Cd")
      val startOk = starts(r) == 0 || !isBoundWordCh(raw.charAt(starts(r) - 1))
      if (startOk && isFirstWord(starts(r), ends(r))) {
        var last = r
        while (last + 1 < starts.length &&
            starts(last + 1) == ends(last) + 1 && raw.charAt(ends(last)) == ' ' &&
            isLaterWord(starts(last + 1), ends(last + 1))) {
          last += 1
        }
        // trailing \b: if a Java-word char (non-ASCII letter) abuts the last
        // run, the regex backtracks one whole repetition — the new edge is a
        // space, which always satisfies \b
        if (last > r && ends(last) < len && isBoundWordCh(raw.charAt(ends(last))))
          last -= 1
        if (last > r) {
          val cand = raw.substring(starts(r), ends(last))
          if (orgFilterOk(cand)) out += cand
          r = last + 1
        } else r += 1
      } else r += 1
    }
    out.toSeq
  }

  /** Pattern twin of [[extractOrgs]] (differential pin only). */
  def extractOrgsRegex(raw: String): Seq[String] = {
    if (raw == null) return Seq.empty
    val m = pOrg.matcher(raw)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (m.find()) {
      val cand = m.group(1)
      if (orgFilterOk(cand)) out += cand
    }
    out.toSeq
  }

  // ==================================================================
  // Work hours (X11, ExtractInfo.py:685-752; cleaning
  // ProcessAndMergeInfo.py:354-485)
  // ==================================================================

  def workHoursGate(cleaned: String): Boolean =
    comboGate(Dims.workHoursCombinations, cleaned) ||
      Dims.workHoursCommonKeywords.exists(cleaned.contains)

  def defaultNormalHours(cleaned: String): Boolean =
    Dims.defaultNormalHoursStrings.exists(cleaned.contains)

  /** word -> number lexicon (F12 — the reference's per-token
    * `w2n.word_to_num` fallback, ExtractInfo.py:223-230; single tokens only,
    * exactly like the try/except-per-token loop).
    */
  val numberWords: Map[String, Int] = Map(
    "one" -> 1, "two" -> 2, "three" -> 3, "four" -> 4, "five" -> 5, "six" -> 6,
    "seven" -> 7, "eight" -> 8, "nine" -> 9, "ten" -> 10, "eleven" -> 11,
    "twelve" -> 12, "fifteen" -> 15, "twenty" -> 20, "thirty" -> 30,
    "forty" -> 40, "fifty" -> 50, "sixty" -> 60)

  def wordToNumberStr(s: String): String =
    s.split("\\s+").map(t => numberWords.get(t).map(_.toString).getOrElse(t)).mkString(" ")

  /** TIME-span bank — our re-expression of spaCy TIME entities (SURVEY
    * §2.6 X11): hour amounts/intervals, am/pm clock ranges, and written-out
    * hour words (converted via F12 like the reference's no-digit branch,
    * ExtractInfo.py:736-741).
    */
  private val pHourSpan = Pattern.compile(
    "\\d+(?:\\.\\d+)?(?:\\s*(?:to|-)\\s*\\d+(?:\\.\\d+)?)?\\s*(?:hours?|hrs)\\b")
  private val pClockRange = Pattern.compile(
    "\\d+(?:[.:]\\d+)?\\s*(?:am)?\\s*-\\s*\\d+(?:[.:]\\d+)?\\s*(?:am|pm)\\b")
  private val pWordHour = Pattern.compile(
    "\\b(" + numberWords.keys.toSeq.sorted.mkString("|") + ")\\s*(?:hours?|hrs)\\b")

  /** Scanner re-derivation of the three TIME patterns (regex-free — this
    * runs per turn BOTH as extractor input and as a ner_proxy tagger
    * feature, so it is hot-path in train AND serve; pinned to
    * [[timeSpansRegex]] by RulesSpec fuzz). Each matcher replicates
    * find()'s leftmost-match scan and the patterns' only backtrack points
    * (the optional decimal/range/am groups and the suffix alternation
    * order hours > hour > hrs, sorted word alternation for pWordHour).
    */
  def timeSpans(cleaned: String): Seq[String] = {
    // semantics-preserving cheap gate (the patterns require one of these
    // literals); false positives like "program"/"amsterdam" now cost one
    // cheap char scan, not a regex engine run
    if (!cleaned.contains("hour") && !cleaned.contains("hrs") &&
        !cleaned.contains("am") && !cleaned.contains("pm")) return Seq.empty
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    TimeScan.findAll(cleaned, TimeScan.matchClockRange).foreach { t =>
      if (!Dims.workHoursCommonKeywords.contains(t)) out += t
    }
    TimeScan.findAll(cleaned, TimeScan.matchHourSpan).foreach { t =>
      if (!Dims.workHoursCommonKeywords.contains(t)) out += t
    }
    TimeScan.findAll(cleaned, TimeScan.matchWordHour).foreach { t =>
      val conv = wordToNumberStr(t)
      if (conv.exists(_.isDigit) && !out.contains(conv)) out += conv
    }
    out.toSeq
  }

  /** Pattern twin of [[timeSpans]] (differential pin only). */
  def timeSpansRegex(cleaned: String): Seq[String] = {
    if (!cleaned.contains("hour") && !cleaned.contains("hrs") &&
        !cleaned.contains("am") && !cleaned.contains("pm")) return Seq.empty
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    Seq(pClockRange, pHourSpan).foreach { p =>
      val m = p.matcher(cleaned)
      while (m.find()) {
        val t = m.group()
        if (!Dims.workHoursCommonKeywords.contains(t)) out += t
      }
    }
    // no-digit TIME spans go through word-to-number (kept only if the
    // conversion produced a digit, mirroring the reference's check)
    val m = pWordHour.matcher(cleaned)
    while (m.find()) {
      val conv = wordToNumberStr(m.group())
      if (conv.exists(_.isDigit) && !out.contains(conv)) out += conv
    }
    out.toSeq
  }

  /** Char-scanner matchers for the TIME patterns. Each matchX(s, i)
    * returns the match END when the pattern matches starting exactly at i,
    * else -1; [[findAll]] replays java.util.regex find(): try every start
    * left-to-right, continue after each match's end (non-overlapping).
    */
  private[rules] object TimeScan {
    @inline private def isDigitCh(c: Char): Boolean = c >= '0' && c <= '9'
    @inline private def isWsCh(c: Char): Boolean = // regex \s
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    @inline private def isWordCh(c: Char): Boolean =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || isDigitCh(c) || c == '_'
    private def skipWs(s: String, i: Int): Int = {
      var k = i
      while (k < s.length && isWsCh(s.charAt(k))) k += 1
      k
    }
    /** trailing \b after a word char: next char non-word or end. */
    @inline private def boundAfter(s: String, e: Int): Boolean =
      e == s.length || !isWordCh(s.charAt(e))
    private def digitsEnd(s: String, i: Int): Int = {
      var k = i
      while (k < s.length && isDigitCh(s.charAt(k))) k += 1
      if (k == i) -1 else k
    }
    /** \d+(?:SEP\d+)? — greedy: the with-decimal end first, then without
      * (regex backtracks the optional group in exactly that order).
      */
    private def numEnds(s: String, i: Int, seps: String): Seq[Int] = {
      val d = digitsEnd(s, i)
      if (d < 0) return Nil
      if (d < s.length && seps.indexOf(s.charAt(d)) >= 0) {
        val d2 = digitsEnd(s, d + 1)
        if (d2 > 0) return Seq(d2, d)
      }
      Seq(d)
    }
    /** \s*(?:hours?|hrs)\b — alternation order hours, hour, hrs. */
    private def hoursSuffix(s: String, p: Int): Int = {
      val k = skipWs(s, p)
      Seq("hours", "hour", "hrs").foreach { suf =>
        if (s.startsWith(suf, k) && boundAfter(s, k + suf.length)) return k + suf.length
      }
      -1
    }
    /** pHourSpan: \d+(\.\d+)?(\s*(to|-)\s*\d+(\.\d+)?)?\s*(hours?|hrs)\b */
    def matchHourSpan(s: String, i: Int): Int = {
      numEnds(s, i, ".").foreach { n1 =>
        // greedy optional range first
        val k = skipWs(s, n1)
        val sep = if (s.startsWith("to", k)) k + 2 else if (k < s.length && s.charAt(k) == '-') k + 1 else -1
        if (sep > 0) {
          numEnds(s, skipWs(s, sep), ".").foreach { n2 =>
            val e = hoursSuffix(s, n2)
            if (e >= 0) return e
          }
        }
        val e = hoursSuffix(s, n1)
        if (e >= 0) return e
      }
      -1
    }
    /** pClockRange: \d+([.:]\d+)?\s*(am)?\s*-\s*\d+([.:]\d+)?\s*(am|pm)\b */
    def matchClockRange(s: String, i: Int): Int = {
      numEnds(s, i, ".:").foreach { n1 =>
        val kAm = skipWs(s, n1)
        val starts = if (s.startsWith("am", kAm)) Seq(kAm + 2, n1) else Seq(n1)
        starts.foreach { p =>
          val kDash = skipWs(s, p)
          if (kDash < s.length && s.charAt(kDash) == '-') {
            numEnds(s, skipWs(s, kDash + 1), ".:").foreach { n2 =>
              val k2 = skipWs(s, n2)
              if ((s.startsWith("am", k2) || s.startsWith("pm", k2)) && boundAfter(s, k2 + 2))
                return k2 + 2
            }
          }
        }
      }
      -1
    }
    private val sortedNumberWords: Seq[String] = numberWords.keys.toSeq.sorted
    /** pWordHour: \b(one|two|…)\s*(hours?|hrs)\b — sorted alternation with
      * backtracking (so "six" failing its suffix falls through to "sixty").
      */
    def matchWordHour(s: String, i: Int): Int = {
      if (!(i == 0 || !isWordCh(s.charAt(i - 1)))) return -1
      sortedNumberWords.foreach { w =>
        if (s.startsWith(w, i)) {
          val e = hoursSuffix(s, i + w.length)
          if (e >= 0) return e
        }
      }
      -1
    }
    def findAll(s: String, m: (String, Int) => Int): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < s.length) {
        val e = m(s, i)
        if (e > i) { out += s.substring(i, e); i = e } else i += 1
      }
      out.toSeq
    }
  }

  /** Whole-document extraction: gate → spans (+ '40 hours' default when a
    * default-normal-hours phrasing is present, ExtractInfo.py:743-745).
    */
  def extractWorkHourSpans(cleaned: String): Seq[String] = {
    if (!workHoursGate(cleaned)) return Seq.empty
    var info = timeSpans(cleaned)
    if (defaultNormalHours(cleaned) && !info.contains("40 hours")) info = info :+ "40 hours"
    info
  }

  private val pClockPair = Pattern.compile(
    "(\\d+(?:[.:]\\d+)?)\\s*(?:am)?\\s*-?\\s*(\\d+(?:[.:]\\d+)?)\\s*pm")
  private val pInterval = Pattern.compile("(\\d+-\\d+)")

  private def parseClock(t: String): Option[Int] = {
    val parts = t.replace('.', ':').split(':')
    scala.util.Try(parts(0).toInt * 60 + (if (parts.length > 1) parts(1).toInt else 0)).toOption
  }

  /** getWorkTimeFromPattern (ProcessAndMergeInfo.py:354-399) — am/pm clock
    * ranges to weekly hours (end<start rolls +12h; weekly multiplies by 4).
    */
  def clockRangeHours(span: String, weekly: Boolean): Seq[Double] = {
    val s = span.replace(",", "")
    val m = pClockPair.matcher(s)
    val out = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (m.find()) {
      for (start <- parseClock(m.group(1)); end0 <- parseClock(m.group(2))) {
        val end = if (start > end0) end0 + 12 * 60 else end0
        val dif = (end - start) / 60.0
        if (dif > 0) out += (if (weekly) dif * 4 else dif)
      }
    }
    out.toSeq
  }

  /** getWorkHoursFromIntervalPattern (ProcessAndMergeInfo.py:404-417) —
    * faithfully including the *lexicographic* max over the interval's
    * string halves (`int(max(i.split('-')))`).
    */
  def intervalHours(span: String, weekly: Boolean): Seq[Int] = {
    val m = pInterval.matcher(span)
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (m.find()) {
      val maxStr = m.group(1).split('-').max // string compare, as the reference does
      val v = maxStr.toInt
      out += (if (weekly) v * 4 else v)
    }
    out.toSeq
  }

  /** getCleanedWorkHours (ProcessAndMergeInfo.py:430-475). */
  def cleanedWorkHours(spans: Seq[String]): Seq[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Double]
    spans.foreach { k =>
      val amPm = clockRangeHours(k, weekly = true)
      if (amPm.nonEmpty) out ++= amPm
      else if (Seq("week", "weeks", "wk").exists(k.contains)) {
        val iv = intervalHours(k, weekly = true)
        if (iv.nonEmpty) out ++= iv.map(_.toDouble)
        else out ++= findNumbers(k).flatMap(n => scala.util.Try(n.toDouble).toOption)
      } else {
        val iv = intervalHours(k, weekly = false)
        if (iv.nonEmpty) out ++= iv.map(_.toDouble)
        else if (Seq("hours", "hour", "hrs").exists(k.contains))
          out ++= findNumbers(k).flatMap(n => scala.util.Try(n.toDouble).toOption)
      }
    }
    out.map(_.toInt).toSeq
  }

  def maxWorkHours(cleaned: Seq[Int]): Int = if (cleaned.isEmpty) 0 else cleaned.max

  // ==================================================================
  // Yearly salary normalization (ProcessAndMergeInfo.py:256-321)
  // ==================================================================

  /** getYearlySalary: FX-convert non-euro, drop > 1M, monthly→yearly by
    * comparison with the estimate (fallback ×12 if ≤ 10k), then keep the
    * single value closest to the estimate.
    */
  def yearlySalary(values: Seq[Double], currencies: Seq[String],
      location: Option[String], estimate: Option[Double]): Seq[Double] = {
    val curStr = currencies.mkString(",")
    val yearly = values.flatMap { v0 =>
      var v = v0
      if (!curStr.contains("euro")) {
        val fx = currencies.headOption.flatMap(Dims.fxToEur.get)
          .orElse(location.flatMap(l => Dims.countryByName.get(l))
            .flatMap(c => Dims.fxToEur.get(c.currency)))
        fx.foreach(r => v = v * r)
      }
      if (v <= 1000000.0) {
        estimate match {
          case Some(e) => Some(if (math.abs(v * 12 - e) < math.abs(v - e)) v * 12 else v)
          case None => Some(if (v <= 10000.0) v * 12 else v)
        }
      } else None
    }
    if (yearly.length > 1) {
      val e = estimate.getOrElse(Double.NaN)
      if (e.isNaN) Seq(yearly.head)
      else Seq(yearly.minBy(v => math.abs(v - e)))
    } else yearly
  }
}
