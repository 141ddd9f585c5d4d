package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ExtractFunctions.{extract_education, extract_salary}
import graft.functions.MentionFunctions.{extract_dates, extract_employment, extract_locations, extract_orgs}
import graft.sources.Dims

/** Salary fields of one gated turn (null struct = gate closed or no hit). */
final case class SalStruct(values: Seq[Double], currencies: Seq[String],
    cur_assoc: Seq[Double], sw_kw: Boolean)

/** Per-turn extracted row — one row per turn, extraction results as array/
  * struct columns. The s3 checkpoint schema.
  */
final case class TurnExtracted(
    conv_id: String,
    turn_idx: Int,
    role: String,
    tool: String,
    text: String,
    text_clean: String,
    category: String,
    emp_groups: Seq[String],
    locations: Seq[String],
    orgs: Seq[String],
    edu_phrases: Seq[String],
    sal: Option[SalStruct],
    start_dates: Seq[String],
    deadline_dates: Seq[String])

/** S3 mention detection — rule extractors X1-X10, all expressed as Column
  * expressions: builtins where they fit, the parsers and gazetteer/ORG/
  * date scans as native codegen'd expressions over the regex-free Rules
  * char scanners (each pinned to its Pattern twin by CleanScanSpec). The
  * whole stage is one narrow whole-stage-codegen projection with zero
  * java.util.regex on the hot path: no shuffle, no object-encoder
  * boundary (SURVEY §2.11, BENCH_SCALING.md regex collapse).
  */
object TurnExtract {

  /** X9 — employment surfaces by substring containment, mapped to group
    * names, first-hit order preserved (ExtractInfo.py:562-597). Pinned to
    * its typedlit + filter/transform Column twin by EmploymentSpec.
    */
  def employmentGroupsCol(clean: Column): Column = extract_employment(clean)

  /** X3 — location gazetteer scan (countries + cities), mapped to country
    * display names, match-order distinct (Rules.scanGazetteer).
    */
  def locationsCol(clean: Column): Column = extract_locations(clean)

  /** regexp_extract_all twin of [[locationsCol]] — differential pin only
    * (OperatorSpec asserts expression == Column-regex on the corpus).
    */
  def locationsColRegex(clean: Column): Column =
    array_distinct(
      transform(
        regexp_extract_all(clean, lit(graft.rules.Rules.gazAlternationStr), lit(1)),
        s => element_at(typedlit(Dims.gazetteer), s)))

  private val orgPattern = "\\b([A-Z][a-z]+(?: [A-Z][a-zA-Z]+)+)\\b"

  /** X4 — ORG mentions on RAW text (capitalization carries the signal),
    * with the reference's URL/length filters and a country blocklist
    * (Rules.extractOrgs).
    */
  def orgsCol(raw: Column): Column = extract_orgs(raw)

  /** regexp_extract_all twin of [[orgsCol]] (differential pin only). */
  def orgsColRegex(raw: Column): Column = {
    val countryLit = typedlit(Dims.countries.map(_.name))
    array_distinct(
      filter(
        regexp_extract_all(raw, lit(orgPattern), lit(1)),
        o => !lower(o).contains("http") && !lower(o).contains("www") &&
          length(o) >= 3 && !array_contains(countryLit, o)))
  }

  /** X5 — date-like spans over cleaned text (Rules.extractDates: same
    * pattern string + stoplist as the reference's DATE branch).
    */
  def datesCol(clean: Column): Column = extract_dates(clean)

  /** regexp_extract_all twin of [[datesCol]] (differential pin only). */
  def datesColRegex(clean: Column): Column =
    array_distinct(
      filter(
        regexp_extract_all(clean, lit(graft.rules.Rules.datePatternStr), lit(0)),
        d => !array_contains(typedlit(graft.rules.Rules.dateStoplist.toSeq), d)))

  /** turns(+category) -> TurnExtracted-shaped DataFrame. Input must carry
    * conv_id, turn_idx, role, tool, text, text_clean, category.
    * `extractDates` is the X5 flag — the reference ships it disabled
    * (ExtractInfo.py:131-132), so it defaults off and emits empty arrays
    * (flag-off schema/behavior parity).
    *
    * The X1/X2 salary gate (ExtractInfo.py:425-430) lives INSIDE
    * extract_salary (Rules.extractSalary checks Rules.salaryGate first and
    * returns null below it) — no duplicate Column-side gate.
    */
  def extract(turns: DataFrame, extractDates: Boolean = false,
      keepTs: Boolean = false)(
      implicit spark: SparkSession): DataFrame = {
    val cl = col("text_clean")
    def gatedDates(cat: String): Column =
      if (extractDates)
        when(col("category") === cat, datesCol(cl)).otherwise(typedlit(Seq.empty[String]))
      else typedlit(Seq.empty[String])
    turns
      .withColumn("emp_groups", employmentGroupsCol(cl))
      .withColumn("locations", locationsCol(cl))
      .withColumn("orgs", orgsCol(col("text")))
      .withColumn("edu_phrases",
        when(col("category") === "education_requirements", extract_education(cl))
          .otherwise(typedlit(Seq.empty[String])))
      .withColumn("sal", extract_salary(cl))
      .withColumn("start_dates", gatedDates("start_date"))
      .withColumn("deadline_dates", gatedDates("deadline_date"))
      .select(Seq("conv_id", "turn_idx", "role", "tool", "text", "text_clean", "category",
        "emp_groups", "locations", "orgs", "edu_phrases", "sal",
        "start_dates", "deadline_dates")
        // opt-in event-time passthrough for the streaming completion path
        // (StreamingTriples watermarks on ts); batch callers keep the
        // original schema so stage checkpoints don't silently widen
        .++(if (keepTs) Seq("ts") else Nil)
        .map(col): _*)
  }
}
