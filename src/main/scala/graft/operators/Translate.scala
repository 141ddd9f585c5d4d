package graft.operators

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** F8 — the reference's chunked-translation protocol
  * (GenerateDataFromHtml.py:142,226-242): skip 'en'/'False'; join the
  * chunks with '||'; above the 5000-char API limit, slice into
  * ceil(len/5000) FIXED windows (plain slicing — a window boundary can
  * land inside a '||' marker, quirk kept), translate each window,
  * concatenate, split back on '||' (empties kept, like Python's split).
  *
  * The remote translation API is out of scope in this zero-egress sandbox
  * (SURVEY §7.5) — [[stubTranslate]] is a clearly-marked deterministic
  * stand-in (ASCII uppercase: char-local, so it is marker-preserving and
  * lets the q34 DuckDB twin verify the composite value-exact while the
  * windowing protocol genuinely executes). The PROTOCOL — windowing,
  * marker join/split, language gate — is the real, tested surface; swap
  * `translate` for an API client to productionize.
  */
object Translate {

  val transCharLimit: Int = 5000 // the reference's API window (:142)

  def translateChunkedData(chunks: Seq[String], language: String,
      translate: (String, String) => String,
      charLimit: Int = transCharLimit): Seq[String] = {
    if (language == "en" || language == "False") chunks
    else {
      val data = chunks.mkString("||")
      val translated =
        if (data.length > charLimit) {
          val n = math.ceil(data.length.toDouble / charLimit).toInt
          (0 until n).map { i =>
            translate(data.substring(i * charLimit,
              math.min((i + 1) * charLimit, data.length)), language)
          }.mkString
        } else translate(data, language)
      // Python str.split keeps empty fields
      splitLiteral(translated, "||")
    }
  }

  private def splitLiteral(s: String, sep: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var from = 0
    var i = s.indexOf(sep)
    while (i >= 0) {
      out += s.substring(from, i)
      from = i + sep.length
      i = s.indexOf(sep, from)
    }
    out += s.substring(from)
    out.toSeq
  }

  /** deterministic API stand-in: ASCII uppercase (length-, order- and
    * marker-preserving; a real client replaces this — // stub, no egress).
    */
  def stubTranslate(window: String, language: String): String = {
    val sb = new java.lang.StringBuilder(window.length)
    var i = 0
    while (i < window.length) {
      val c = window.charAt(i)
      sb.append(if (c >= 'a' && c <= 'z') (c - 32).toChar else c)
      i += 1
    }
    sb.toString
  }

  def evalStub(chunks: ArrayData, lang: UTF8String): ArrayData = {
    val in = (0 until chunks.numElements()).map(i => chunks.getUTF8String(i).toString)
    val out = translateChunkedData(in, lang.toString, stubTranslate)
    new GenericArrayData(out.map(UTF8String.fromString).toArray[Any])
  }
}
