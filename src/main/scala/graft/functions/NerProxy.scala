package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.rules.Rules

/** NER-proxy features for the section tagger (SURVEY §7.4's substitution
  * for the reference's spaCy POS/NER count features, M3/M4,
  * ClassifyUsingSavedModel.py:157-184): instead of a parser, count the
  * extraction rule bank's own pattern hits per turn — locations
  * (gazetteer), employment keywords, currency tokens/symbols, time spans,
  * degree phrases. These are exactly the entity families the downstream
  * extractors look for, so they carry the same signal the reference got
  * from NER counts, computed by the same battle-tested rules.
  *
  * Output: array<double> [loc, emp, cur, hour, edu] hit counts.
  *
  * Every rule called here is a char scanner (extractLocations /
  * employmentSurfaces / currencyHits / timeSpans / extractEducation —
  * timeSpans via Rules.TimeScan since round 3), so this kernel keeps
  * the tagger's prepare() projection java.util.regex-free in BOTH train
  * and serve; PlanSpec's no-regex assertion covers the plan shape and
  * RulesSpec fuzz pins each scanner to its Pattern twin.
  */
object NerProxyFast {
  /** feature vector layout: token ratios first (F10), then the hit counts */
  val names: Seq[String] =
    Seq("digit_ratio", "word_ratio", "ner_loc", "ner_emp", "ner_cur", "ner_hour", "ner_edu")

  /** Raw feature array in [[names]] order — shared by the kernel and
    * the compiled tagger serve (TaggerServe.scala).
    */
  def rawCounts(str: String): Array[Double] = {
    // F10 ratios (ClassifyUsingSavedModel.py:191-193) — replicates the
    // previous Column formulation split(text, " ") + rlike("^[0-9]+$"):
    // single-space split keeping empties, digit = non-empty all-digit
    val toks = str.split(" ", -1)
    var digits = 0
    toks.foreach { t =>
      if (t.nonEmpty && t.forall(c => c >= '0' && c <= '9')) digits += 1
    }
    val n = math.max(toks.length, 1).toDouble
    Array[Double](
      digits / n,
      (toks.length - digits) / n,
      Rules.extractLocations(str).size.toDouble,
      Rules.employmentSurfaces(str).size.toDouble,
      Rules.currencyHits(str).toDouble,
      Rules.timeSpans(str).size.toDouble,
      Rules.extractEducation(str).size.toDouble)
  }

  def counts(s: UTF8String): ArrayData = new GenericArrayData(rawCounts(s.toString))
}
