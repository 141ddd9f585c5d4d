package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.{Kernels, PiiScan}

/** Pure-Column twin of `Kernels.redact_pii` (nested regexp_replace,
  * java.util.regex) — the differential pin for the scanner and the
  * declarative documentation of its semantics.
  */
object PiiRegexTwin {
  /** The five patterns as java.util.regex literals. */
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val octetRe = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
  private val ipRe = s"\\b$octetRe\\.$octetRe\\.$octetRe\\.$octetRe\\b"
  private val nanpParenRe = "\\(\\d{3}\\) \\d{3}-\\d{4}"
  private val nanpDashRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  private val e164Re = "\\+\\d{7,15}\\b"

  def redactPiiColumn(c: Column): Column = {
    val e = regexp_replace(c, emailRe, "<EMAIL>")
    val ip = regexp_replace(e, ipRe, "<IP>")
    val p1 = regexp_replace(ip, nanpParenRe, "<PHONE>")
    val p2 = regexp_replace(p1, nanpDashRe, "<PHONE>")
    regexp_replace(p2, e164Re, "<PHONE>")
  }
}

/** PII redaction: the regex-free scanner vs the java.util.regex Column
  * twin — targeted greedy/backtracking corners plus an adversarial fuzz
  * differential (the same pin style as CleanScanSpec). The five patterns'
  * semantics are the contract; the scanner must reproduce them exactly.
  */
class PiiScanSpec extends SparkSpec {
  import spark.implicits._

  private def viaTwin(texts: Seq[String]): Seq[String] =
    texts.toDF("t").select(PiiRegexTwin.redactPiiColumn(col("t")).as("r"))
      .collect().map(_.getString(0)).toSeq

  private def viaExpr(texts: Seq[String]): Seq[String] =
    texts.toDF("t").select(Kernels.redact_pii(col("t")).as("r"))
      .collect().map(_.getString(0)).toSeq

  test("targeted semantics: emails") {
    assert(PiiScan.redact("mail me at john.doe+spam@sub.example.com today") ==
      "mail me at <EMAIL> today")
    // greedy domain backtracks to the LAST dot with >= 2 letters
    assert(PiiScan.redact("a@b.cd1") == "<EMAIL>1")
    assert(PiiScan.redact("x a@b.c-d.ef y") == "x <EMAIL> y")
    // single-letter TLD / no dot / no local part: no match
    assert(PiiScan.redact("a@b.c") == "a@b.c")
    assert(PiiScan.redact("a@bcd") == "a@bcd")
    assert(PiiScan.redact("@example.com") == "@example.com")
    // two emails, non-overlapping global replace
    assert(PiiScan.redact("a@x.de and b@y.fr") == "<EMAIL> and <EMAIL>")
  }

  test("targeted semantics: ipv4") {
    assert(PiiScan.redact("server at 192.168.0.1 responded") ==
      "server at <IP> responded")
    // out-of-range octet kills the match entirely
    assert(PiiScan.redact("at 256.1.2.3 or 1.2.3.300") == "at 256.1.2.3 or 1.2.3.300")
    // leading zeros are not octets ([1-9]?\d)
    assert(PiiScan.redact("01.2.3.4") == "01.2.3.4")
    // word boundaries: digits glued on either side kill it
    assert(PiiScan.redact("x1.2.3.4 and 1.2.3.45x and v1.2.3.4") ==
      "x1.2.3.4 and 1.2.3.45x and v1.2.3.4")
    // a fifth component is outside the match (dot is a boundary)
    assert(PiiScan.redact("1.2.3.4.5") == "<IP>.5")
    assert(PiiScan.redact("10.0.255.255") == "<IP>")
  }

  test("targeted semantics: phones") {
    assert(PiiScan.redact("call (555) 123-4567 now") == "call <PHONE> now")
    assert(PiiScan.redact("or 555-123-4567.") == "or <PHONE>.")
    assert(PiiScan.redact("intl +4915123456789 ok") == "intl <PHONE> ok")
    // boundaries and length limits
    assert(PiiScan.redact("x555-123-4567") == "x555-123-4567")
    assert(PiiScan.redact("555-123-45678") == "555-123-45678")
    assert(PiiScan.redact("+123456") == "+123456")           // 6 digits: too short
    assert(PiiScan.redact("+1234567890123456") == "+1234567890123456") // 16: too long
    assert(PiiScan.redact("+12345678a") == "+12345678a")     // no boundary
    // pass ordering: the parenthesized form wins before the dashed form
    assert(PiiScan.redact("(123) 456-7890 and 123-456-7890") == "<PHONE> and <PHONE>")
  }

  test("null, empty and clean strings pass through; expression == scanner") {
    assert(PiiScan.redact(null) == null)
    assert(PiiScan.redact("") == "")
    val clean = Seq("no pii here", "just 1.2 numbers 3456", "a@b", "(12) 34")
    assert(viaExpr(clean) == clean)
    val dirty = Seq("a@x.de", "1.2.3.4", "+1234567", "(555) 123-4567")
    assert(viaExpr(dirty) == Seq("<EMAIL>", "<IP>", "<PHONE>", "<PHONE>"))
  }

  test("fuzz differential: scanner == java.util.regex twin on adversarial strings") {
    val rnd = new scala.util.Random(20260820)
    // alphabet heavy in the structural chars of all five patterns
    val alphabet = "0123456789.@+-() ._%abzAZ_"
    val snippets = Seq("user@host.com", "1.2.3.4", "255.255.255.255", "256.0.0.1",
      "(123) 456-7890", "987-654-3210", "+123456789", "a@b.cd", "@.", "..@@",
      "+", "()", "1.2.3.", ".4.5.6.7", "x@y.zz")
    val texts = (1 to 4000).map { _ =>
      val n = rnd.nextInt(40)
      val sb = new StringBuilder
      (0 until n).foreach { _ =>
        if (rnd.nextInt(8) == 0) sb.append(snippets(rnd.nextInt(snippets.size)))
        else sb.append(alphabet.charAt(rnd.nextInt(alphabet.length)))
      }
      sb.toString
    } ++ snippets
    val scanner = texts.map(PiiScan.redact)
    val twin = viaTwin(texts)
    texts.lazyZip(scanner).lazyZip(twin).foreach { (t, a, b) =>
      assert(a == b, s"scanner/regex divergence on input: «$t»\n scanner: «$a»\n   regex: «$b»")
    }
  }
}
