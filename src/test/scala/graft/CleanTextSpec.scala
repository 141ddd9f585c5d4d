package graft

import org.apache.spark.sql.functions._

import graft.operators.CleanText
import graft.rules.Rules
import graft.sources.TranscriptGen

/** Differential property: the Column clean chain and the pure Scala spec
  * must agree on every generated turn text plus adversarial edge cases
  * (SURVEY §5 property tests).
  */
class CleanTextSpec extends SparkSpec {

  test("Column clean chain == Rules.cleanString on fixture corpus + edge cases") {
    import spark.implicits._
    val generated = (0 until 40).flatMap(i => TranscriptGen.turnsFor(i.toLong, 7L, 1, 30)).map(_.text)
    val edges = Seq(
      "", " ", "a", "B", "3k", "45,000", "2984€", "2984 €", "1000-2000", "€£$",
      "<b>bold</b> &amp; more", "masteratms atm", "a34301", "b prefixed",
      "ünïcødé ß ñ", "tabs\tand\nnewlines\r", "UPPER lower MiXeD",
      "1,000,000 and 1000-2000 and 1999-2024", "x9 9x", "?!#@[]{}|~`^",
      "multi   spaces    here")
    val inputs = (generated ++ edges).distinct
    val got = inputs.toDF("text")
      .withColumn("c", CleanText.clean(col("text")))
      .withColumn("f", graft.functions.Kernels.clean_text(col("text")))
      .select("text", "c", "f").as[(String, String, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    inputs.foreach { in =>
      assert(got(in)._1 == Rules.cleanString(in), s"column-chain divergence on: ${in.take(80)}")
      assert(got(in)._2 == Rules.cleanString(in), s"fast-expr divergence on: ${in.take(80)}")
    }
  }

  test("nfkd_normalize expression (eval + codegen parity)") {
    import spark.implicits._
    val inputs = Seq("ﬁne", "①②③", "Ａｂｃ", "plain ascii", "é (combining)")
    val got = inputs.toDF("s")
      .select(col("s"), graft.functions.Kernels.nfkd_normalize(col("s")).as("n"))
      .as[(String, String)].collect().toMap
    inputs.foreach { s =>
      val want = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKD)
      assert(got(s) == want, s"nfkd divergence on $s")
    }
  }
}
