package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.rules.{CleanScan, Rules}
import graft.sources.TranscriptGen

/** Differential pin: the regex-free scanner chain must equal the original
  * Pattern chain on fixture corpus, adversarial edge cases, and seeded
  * fuzz over a trap-rich alphabet (currency symbols, digit runs, tags,
  * carets, thousands commas, 4-digit ranges, whitespace varieties).
  */
class CleanScanSpec extends AnyFunSuite {

  private def check(s: String): Unit =
    assert(Rules.cleanString(s) == Rules.cleanStringRegex(s),
      s"input: ${s.replace("\n", "\\n").replace("\t", "\\t")}")

  test("scanner == regex twin on adversarial edge cases") {
    Seq(
      "", " ", "b ", "b  x", "^a  tail", "^ab tail", "^5 tail", "x^a y",
      "<b>bold</b> and <i>it</i>", "a<>b", "<unclosed tag", "<<nested>>",
      "3k", "33kk", "3k5k", "k3k", "1,234", "1,23", "12,3456", ",123", "1,",
      "2984 €", "2984€", "12 $ and 34$", "55 £", "55£x", "1 2 €", "€ 99",
      "1000-2000", "123-4567", "12345-67890", "-1234", "1234-", "9999-9999",
      "a1b2c3", "x9", "9x", "a b c d", "ab cd", "_a_ b_", "a_b c-d",
      "euro 500", "eur 500", "usd 500", "dollar 500", "500 euro 600 eur ",
      "tab\there", "mix \u000B vt \f ff", "  lead", "trail  ",
      "masteratms atm atms", "&amp; co", "Grüß größe straße", "čžš čč",
      "45,000 € per year in 2024-2025 range", "^x ^y ^z chain",
      // fast-path boundaries through the whole chain
      "trailing space ", "a1", "k", "no digit k here", "< with no close", "a < b",
      ",", ", no digits ,", "tab\tonly").foreach(check)
  }

  test("scanner == regex twin on the generated fixture corpus") {
    (0L until 150L).foreach { i =>
      TranscriptGen.turnsFor(i, 42L, 0, 0).foreach(t => check(t.text))
    }
  }

  test("scanner == regex twin under seeded fuzz (trap-rich alphabet)") {
    val alphabet = "ab k09€$£<>,-^._! \t\n\u000B\f\r;\"?&=:#" + "é€£č"
    val rnd = new scala.util.Random(99)
    (0 until 3000).foreach { _ =>
      val n = rnd.nextInt(40)
      check((0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
  }

  // ---- each pass alone: the fast path that returns its input unchanged ----

  private def re(pattern: String, replacement: String): String => String = {
    val p = java.util.regex.Pattern.compile(pattern)
    s => p.matcher(s).replaceAll(replacement)
  }

  /** (name, scanner pass, the one regex pass it replicates) */
  private val passes: Seq[(String, String => String, String => String)] = Seq(
    ("stripNewlines", CleanScan.stripNewlines, re("[\\n\\r\\t]", "")),
    ("charsetKeep", CleanScan.charsetKeep,
      re("[^-_a-zA-Z0-9!@#%&=,'\";:~`č₽€£$^()+\\[\\].{}|?<>\\s]+", "")),
    ("stripTags", CleanScan.stripTags, re("<[^>]+>", "")),
    ("stripCaretSingles", CleanScan.stripCaretSingles, re("\\^[a-zA-Z]\\s+", "")),
    ("collapseWs", CleanScan.collapseWs, re("\\s+", " ")),
    ("stripPrefixB", CleanScan.stripPrefixB, re("^b\\s+", "")),
    ("splitLetterDigit", CleanScan.splitLetterDigit, re("([a-zA-Z])(\\d+)", "$1 $2")),
    ("dropSingleLetters", CleanScan.dropSingleLetters, re("\\b[a-zA-Z]\\b", "")),
    ("expandKilo", CleanScan.expandKilo, re("(\\d+)(k)", "$1000")),
    ("dropThousandsCommas", CleanScan.dropThousandsCommas, re("(?<=\\d),(?=\\d{3})", "")),
    ("reorderCurrency € spaced", CleanScan.reorderCurrency(_, '€', spaced = true),
      re("(\\d+) (€)", "€ $1")),
    ("reorderCurrency $", CleanScan.reorderCurrency(_, '$', spaced = false),
      re("(\\d+)(\\$)", "\\$ $1")),
    ("rangeToWords", CleanScan.rangeToWords, re("(?<=\\d{4})-(?=\\d{4})", " to ")),
    ("dropCustomPunct", CleanScan.dropCustomPunct, re("[!\"#;<=>?@\\[\\\\\\]^`{|}~]", "")),
    ("stripTagsSpace", CleanScan.stripTagsSpace, re("<[^>]+>", " ")),
    ("dropParensSpans", CleanScan.dropParensSpans, re("[\\[(].*?[\\])]", " ")))

  /** Inputs at the boundary of each pass's fast-path check: one side of
    * each pair leaves the pass nothing to do, the other just enough.
    */
  private val passEdges = Seq(
    "", "plain words only", "a lone trailing space ", " lone leading", "two  spaces",
    "tab\tonly", "new\nline", "cr\rreturn", "vt\u000Bff\f", "\t", " \n",
    "a1", "1a", "ab12", "_1", "a", "a b", "ab", "x_y", "k", "kk 3", "3k", "k3", "3 k",
    "<", "no close <here", "> before <", "<>", "a<b>c", "<<a>", "open < close >",
    ",", ", no digits,", "1,", ",123", "1,23", "1,234", "a,234", ",1,234", "a,b 5,000",
    "^", "^a", "^a ", "x^ay", "^ab ",
    "b", "b x", "bx y", "€", "5€", "5 €", "$", "5$", "5 $",
    "-", "1234-", "-5678", "123-4567", "1234-5678", "(", "[x", "(x)", "[x)", "(x\ny)",
    "#", "plain!", "a~b", "č", "ä", "€£", "\\")

  private def escaped(s: String): String =
    s.flatMap(c => if (c >= ' ' && c < 127) c.toString else f"\\u${c.toInt}%04x")

  test("each scanner pass == its regex on fast-path boundaries") {
    for ((name, scan, regex) <- passes; s <- passEdges)
      assert(scan(s) == regex(s), s"$name, input: ${escaped(s)}")
  }

  test("each scanner pass == its regex under seeded fuzz") {
    val alphabet = "ab k09€$£<>,-^._! \t\n\u000B\f\r;\"?&=:#([)]" + "é€£č"
    val rnd = new scala.util.Random(7)
    (0 until 2000).foreach { _ =>
      val s = (0 until rnd.nextInt(24)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      // Java's \b counts non-ASCII letters as word chars, the scanner does
      // not; in the chain NFKD + charsetKeep remove them first
      val asciiLetters = !s.exists(c => c >= 128 && c.isLetter)
      for ((name, scan, regex) <- passes if asciiLetters || name != "dropSingleLetters")
        assert(scan(s) == regex(s), s"$name, input: ${escaped(s)}")
    }
  }

  test("a pass with nothing to change returns its input itself") {
    val untouched = "plain words 42 and more"
    for ((name, scan, _) <- passes)
      assert(scan(untouched) eq untouched, name)
  }

  // ---- mention scanners: each pinned to its Pattern twin ----

  /** word-fuzz: sentences assembled from trap words (gazetteer surfaces,
    * partial surfaces, capitalized runs, digits-adjacent words) so \b and
    * longest-alternative paths all fire.
    */
  private def wordFuzz(seed: Int, n: Int)(f: String => Unit): Unit = {
    val words = Seq(
      "berlin", "munich", "united", "kingdom", "united kingdom", "unitedkingdom",
      "berlin7", "xberlin", "berlinx", "paris", "warsaw", "oslo", "o", "os",
      "Acme", "Acme Corp", "Acme Corp Inc5", "Http Www", "ACme", "aCme",
      "Germany", "The Hague Group", "A B", "Ab C", "Ab Cd Ef", "Ab cD",
      "12", "a1", "_x", "x_", "rome", "milan", "pragu", "prague", "praguee",
      // Java-\b traps: non-ASCII letters are \b-word chars but not \w
      "é", "aé", "éa", "Abé", "éAb", "Ab Cdé", "Ab Cdé Ef", "berliné", "éberlin",
      "Grüß", "Ab Cd Efé", "münich", "²x", "x²")
    val seps = Seq(" ", ", ", ".", " - ", "", "  ", "\t")
    val rnd = new scala.util.Random(seed)
    (0 until n).foreach { _ =>
      val k = rnd.nextInt(8)
      f((0 until k).map(_ => words(rnd.nextInt(words.length)) +
        seps(rnd.nextInt(seps.length))).mkString)
    }
  }

  test("scanGazetteer == alternation-regex twin (fixture + word fuzz)") {
    wordFuzz(7, 4000)(s =>
      assert(Rules.scanGazetteer(s) == Rules.scanGazetteerRegex(s), s"input: $s"))
    (0L until 120L).foreach { i =>
      TranscriptGen.turnsFor(i, 42L, 0, 0).foreach { t =>
        val cl = Rules.cleanString(t.text)
        assert(Rules.scanGazetteer(cl) == Rules.scanGazetteerRegex(cl), s"input: $cl")
      }
    }
  }

  test("extractLocations == per-surface regex twin (fixture + word fuzz)") {
    wordFuzz(11, 4000)(s =>
      assert(Rules.extractLocations(s) == Rules.extractLocationsRegex(s), s"input: $s"))
  }

  test("extractOrgs == regex twin (fixture + word fuzz)") {
    wordFuzz(13, 4000)(s =>
      assert(Rules.extractOrgs(s) == Rules.extractOrgsRegex(s), s"input: $s"))
    (0L until 120L).foreach { i =>
      TranscriptGen.turnsFor(i, 42L, 0, 0).foreach(t =>
        assert(Rules.extractOrgs(t.text) == Rules.extractOrgsRegex(t.text),
          s"input: ${t.text}"))
    }
  }

  test("alphaTokens == regex twin (word fuzz + edge cases)") {
    val edges = Seq("", "_", "a", "a1", "1a", "_a_", "ab_cd", "ab 1cd e_f",
      "é", "aé", "x-y_z", "9_9", "a_1", "__ab__")
    edges.foreach(s =>
      assert(Rules.alphaTokens(s) == Rules.alphaTokensRegex(s), s"input: $s"))
    wordFuzz(17, 4000)(s =>
      assert(Rules.alphaTokens(s) == Rules.alphaTokensRegex(s), s"input: $s"))
  }

  test("wsTokens == split-regex twin") {
    val cases = Seq("", " ", "a b", "  a  b  ", "a\tb\nc", "\f\r", "one")
    cases.foreach { s =>
      assert(Rules.wsTokens(s).toSeq == s.split("\\s+").toSeq.filter(_.nonEmpty),
        s"input: $s")
    }
    wordFuzz(19, 2000)(s =>
      assert(Rules.wsTokens(s).toSeq == s.split("\\s+").toSeq.filter(_.nonEmpty),
        s"input: $s"))
  }
}
