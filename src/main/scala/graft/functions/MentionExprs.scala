package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.rules.Rules
import graft.sources.Dims

/** X3/X4/X5/X9 mention extraction as native kernels (SURVEY §2.6),
  * declared as `Kernels.extract_locations` / `extract_orgs` /
  * `extract_dates` / `extract_employment` and called by TurnExtract.
  *
  * These were `regexp_extract_all` + `transform`/`filter` Column chains;
  * the per-turn regex scans were the last java.util.regex on the hot path
  * (this host's measured intra-JVM regex thread collapse, BENCH_SCALING.md)
  * — the evaluators below call the Rules char scanners, each pinned to its
  * Pattern twin by CleanScanSpec fuzz, so the whole s3 projection is now
  * regex-free and stays inside one whole-stage-codegen span.
  */
object MentionEvals {
  private def strArray(xs: Seq[String]): ArrayData =
    new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])

  /** X3 gazetteer alternation scan over CLEANED text -> country names. */
  def locations(s: UTF8String): ArrayData = strArray(Rules.scanGazetteer(s.toString))

  /** X4 capitalized-sequence ORG mentions over RAW text (URL/length/
    * country filters inside Rules.extractOrgs).
    */
  def orgs(s: UTF8String): ArrayData = strArray(Rules.extractOrgs(s.toString))

  /** X5 date-like spans over CLEANED text, stoplist-filtered. */
  def dates(s: UTF8String): ArrayData = strArray(Rules.extractDates(s.toString))

  // X9 keywords in Dims.employmentKeywords order, each with its group
  private val empKeywords: Array[UTF8String] =
    Dims.employmentKeywords.map(UTF8String.fromString).toArray
  private val empGroupOf: Array[UTF8String] = {
    val groupOf = Dims.employmentGroups.flatMap { case (g, ss) => ss.map(_ -> g) }.toMap
    Dims.employmentKeywords.map(k => UTF8String.fromString(groupOf(k))).toArray
  }

  /** X9 employment groups over CLEANED text: the group of every keyword
    * the text contains, keyword order, first hit per group kept
    * (ExtractInfo.py:562-597). A null text has no groups.
    */
  def employment(s: UTF8String): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    if (s != null) {
      var i = 0
      while (i < empKeywords.length) {
        if (s.contains(empKeywords(i)) && !out.contains(empGroupOf(i))) out += empGroupOf(i)
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }
}
