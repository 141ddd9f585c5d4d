package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Kernels.{extract_dates, extract_education, extract_employment,
  extract_locations, extract_orgs, extract_salary}

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
  * date scans as `graft.functions.Kernels` called directly:
  *   - X9 `extract_employment`: employment surfaces by substring
  *     containment, mapped to group names, first-hit order
  *     (ExtractInfo.py:562-597; EmploymentSpec pins its HOF twin);
  *   - X3 `extract_locations`: gazetteer scan over cleaned text, country
  *     display names, match-order distinct (Rules.scanGazetteer);
  *   - X4 `extract_orgs`: ORG mentions on RAW text (capitalization carries
  *     the signal) with the reference's URL/length filters and a country
  *     blocklist (Rules.extractOrgs);
  *   - X5 `extract_dates`: date-like spans over cleaned text
  *     (Rules.extractDates: the reference's DATE pattern + stoplist).
  * Each kernel is a regex-free Rules char scanner pinned to its Pattern
  * twin by CleanScanSpec (and to a regexp_extract_all Column twin by
  * OperatorSpec). The whole stage is one narrow whole-stage-codegen
  * projection with zero java.util.regex on the hot path: no shuffle, no
  * object-encoder boundary (SURVEY §2.11, BENCH_SCALING.md regex collapse).
  */
object TurnExtract {

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
        when(col("category") === cat, extract_dates(cl)).otherwise(typedlit(Seq.empty[String]))
      else typedlit(Seq.empty[String])
    turns
      .withColumn("emp_groups", extract_employment(cl))
      .withColumn("locations", extract_locations(cl))
      .withColumn("orgs", extract_orgs(col("text")))
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
