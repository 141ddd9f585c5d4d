package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Triple
import graft.rules.Rules

final case class ConvFull(
    conv_id: String,
    title: String,
    skills: Seq[String],
    employment: Option[String],
    location: Option[String],
    education: Option[String],
    sal_values: Seq[Double],
    currencies: Seq[String],
    work_hours: Option[Int],
    tools: Seq[String],
    start_dates: Seq[String],
    deadline_dates: Seq[String],
    sector: Option[String],
    estimated_salary: Option[Int])

/** S6 — emit the long-form (subj, pred, obj) rows: each non-null cell of
  * the reference's wide MySQL row (MergeAndExportInfo.py:90) becomes one
  * triple; orgs go through the entity-linking canonical map first.
  */
object TripleEmit {

  /** The emitted predicates whose objects are LITERALS (numbers, dates)
    * rather than entities — the graph/embedding stages (s7/s8) exclude
    * them: a date or salary node carries no entity semantics to rank or
    * corrupt. Owned here because this file owns the predicate names.
    */
  val literalPreds: Seq[String] =
    Seq("base_salary", "estimated_salary", "work_hours",
      "start_date", "deadline_date")

  /** Pure per-conversation emission of the non-org triples — shared by the
    * batch emit (graft.KgPipeline.emitLinked), its join twin below and the
    * streaming completion path (streaming.StreamingTriples), so all three
    * emit bit-identical rows.
    */
  def convTriples(c: ConvFull): Seq[Triple] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Triple]
    c.employment.foreach(v => out += Triple(c.conv_id, "employment_type", v))
    c.location.foreach(v => out += Triple(c.conv_id, "job_location", v))
    c.education.foreach(v => out += Triple(c.conv_id, "education_requirements", v))
    c.currencies.foreach(v => out += Triple(c.conv_id, "salary_currency", v))
    if (c.title.nonEmpty) out += Triple(c.conv_id, "job_title", c.title)
    c.skills.foreach(s => out += Triple(c.conv_id, "skill", s.capitalize))
    // sectorAndIsco yields sector "" when skills match ISCO but no NACE
    // weight rows; an empty-object triple must not reach the KG (the
    // reference sectors() path emits no row in that case)
    c.sector.filter(_.nonEmpty).foreach(v => out += Triple(c.conv_id, "sector", v))
    c.estimated_salary.foreach(v => out += Triple(c.conv_id, "estimated_salary", v.toString))
    if (c.sal_values.nonEmpty) {
      Rules.yearlySalary(c.sal_values, c.currencies, c.location,
        c.estimated_salary.map(_.toDouble))
        .foreach(v => out += Triple(c.conv_id, "base_salary", v.toString))
    }
    c.work_hours.foreach(v => out += Triple(c.conv_id, "work_hours", v.toString))
    c.tools.foreach(t => out += Triple(c.conv_id, "uses_tool", t))
    // X5 (flag-gated upstream; empty arrays when disabled): A1 union
    // semantics of the reference's keyword-type merge
    // (ProcessAndMergeInfo.py:185-187), first-occurrence order pinned
    c.start_dates.foreach(d => out += Triple(c.conv_id, "start_date", d))
    c.deadline_dates.foreach(d => out += Triple(c.conv_id, "deadline_date", d))
    out.toSeq
  }

  /** Join twin of graft.KgPipeline.emitLinked, kept as its reference:
    * `enriched` carries (conv_id, sector, estimated_salary), at most one
    * row per conv, and the non-org triples cost ONE conv-scale left join.
    */
  def runEnriched(
      convs: Dataset[ConvExtract],
      enriched: DataFrame,
      orgCanonical: DataFrame)(implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    val base = convs.drop("orgs")
      .join(enriched, Seq("conv_id"), "left")
      .as[ConvFull]
      .flatMap(convTriples _)
    base.union(orgTriples(convs, orgCanonical))
  }

  /** `hiring_organization` triples: each org surface through the
    * entity-linking canonical map (a surface the map lacks stands for
    * itself), one triple per distinct (conv, canonical) pair.
    */
  def orgTriples(convs: Dataset[ConvExtract], orgCanonical: DataFrame)(
      implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    convs.select(col("conv_id"), explode(col("orgs")).as("surface"))
      .join(orgCanonical, Seq("surface"), "left")
      .select(col("conv_id").as("subj"), lit("hiring_organization").as("pred"),
        coalesce(col("canonical"), col("surface")).as("obj"))
      .distinct()
      .as[Triple]
  }

  /** One conversation's `hiring_organization` triples: its org surfaces
    * through `canonical`, distinct — [[orgTriples]] for a single conv, so
    * the map-side batch emit and the streaming completion path (identity
    * map) share it.
    */
  def orgTriplesOf(convId: String, orgs: Seq[String], canonical: String => String): Seq[Triple] =
    orgs.map(canonical).distinct.map(Triple(convId, "hiring_organization", _))
}
