package graft.golden

import graft.model.{Triple, Turn}
import graft.rules.{DictRules, Rules}
import graft.sources.{Dims, TranscriptGen}

/** Pure, driver-side reference implementation of the whole pipeline — the
  * "pandas-style" loop semantics of the reference re-derived in Scala,
  * applied per conversation. It exists ONLY for differential testing: the
  * distributed Spark pipeline must reproduce these triples at P/R ≥ 0.95
  * (BASELINE.json). The merge logic mirrors ProcessAndMergeInfo /
  * MergeAndExportInfo row by row (citations inline).
  */
object GoldenPipeline {

  /** Per-conv triples derived from the conversation's turns alone, plus the
    * generator-known section labels as the category gate (the Spark side
    * uses the trained tagger; §5 of SURVEY justifies the controlled
    * substitution).
    */
  def triplesFor(turnsWithCat: Seq[(Turn, String)]): Seq[Triple] =
    triplesFor(turnsWithCat, defaultOrgCanonical)

  /** Fallback canonical map when no global view is available: suffix-free
    * base of the fixture org.
    */
  private def defaultOrgCanonical(surface: String): String =
    Dims.orgs.find(base => surface.toLowerCase.startsWith(base.toLowerCase)).getOrElse(surface)

  def triplesFor(turnsWithCat: Seq[(Turn, String)], orgCanonical: String => String,
      extractDates: Boolean = false): Seq[Triple] = {
    val convId = turnsWithCat.head._1.conv_id
    val turns = turnsWithCat.sortBy(_._1.turn_idx)
    val cleaned = turns.map { case (t, c) => (t, c, Rules.cleanString(t.text)) }

    val out = scala.collection.mutable.ArrayBuffer.empty[Triple]

    // --- employment type (X9 + A1 + A5) ---
    val empGroups = {
      val acc = scala.collection.mutable.LinkedHashSet.empty[String]
      cleaned.foreach { case (_, _, cl) =>
        Rules.employmentGroupsOf(Rules.employmentSurfaces(cl)).foreach(acc += _)
      }
      acc.toSeq
    }
    Rules.priorityEmployment(empGroups).foreach(g => out += Triple(convId, "employment_type", g))

    // --- job location (X3 + A1 concat + A3 mode) ---
    val allLocs = cleaned.flatMap { case (_, _, cl) => Rules.extractLocations(cl) }
    val modeLoc = Rules.modeLocation(allLocs)
    modeLoc.foreach(l => out += Triple(convId, "job_location", l))

    // --- education (X10 gated by category + level mapping + priority) ---
    val eduPhrases = {
      val acc = scala.collection.mutable.LinkedHashSet.empty[String]
      cleaned.foreach { case (_, cat, cl) =>
        if (cat == "education_requirements") Rules.extractEducation(cl).foreach(acc += _)
      }
      acc.toSeq
    }
    Rules.priorityDegree(eduPhrases).foreach(l => out += Triple(convId, "education_requirements", l))

    // --- base salary + currency (X6/X7 + A1 short-circuit merge) ---
    val hits = cleaned.flatMap { case (_, _, cl) => Rules.extractSalary(cl) }
    var salVals = Seq.empty[Double]
    var broke = false
    hits.foreach { h =>
      if (!broke) {
        if (h.currencyAssociated.nonEmpty) { salVals = h.currencyAssociated; broke = true }
        else if (h.surrounding.split("[\\s,]+").exists(Dims.salaryCommonKeywords.contains))
          salVals = salVals ++ h.values.distinct.filterNot(salVals.contains)
      }
    }
    val curs = hits.flatMap(_.currencies).distinct
    curs.foreach(c => out += Triple(convId, "salary_currency", c))

    // --- dictionary branch (X12-X16) on the whole-conv text ---
    val convText = turns.map(_._1.text).mkString(". ")
    val pre = DictRules.preprocess(convText).toLowerCase
    val title = DictRules.extractTitle(pre)
    if (title.nonEmpty) out += Triple(convId, "job_title", title)
    val skills = DictRules.extractSkills(pre)
    val fsk = DictRules.filterSkillsByTitle(title, skills)
    fsk.foreach(s => out += Triple(convId, "skill", s.capitalize))
    if (fsk.nonEmpty) out += Triple(convId, "sector", DictRules.sector(fsk))
    val estimate =
      if (fsk.isEmpty) None
      else DictRules.estimateSalary(fsk, modeLoc.map(_.split(',')(0)))
    estimate.foreach(e => out += Triple(convId, "estimated_salary", e.toString))

    // --- yearly-normalized base salary (ProcessAndMergeInfo.getYearlySalary) ---
    if (salVals.nonEmpty) {
      val yearly = Rules.yearlySalary(salVals, curs, modeLoc, estimate.map(_.toDouble))
      yearly.foreach(v => out += Triple(convId, "base_salary", v.toString))
    }

    // --- work hours (X11 on the whole document + A4 max) ---
    val docClean = Rules.cleanString(convText)
    val spans = Rules.extractWorkHourSpans(docClean)
    if (spans.nonEmpty)
      out += Triple(convId, "work_hours", Rules.maxWorkHours(Rules.cleanedWorkHours(spans)).toString)

    // --- hiring organization (X4 + entity canonicalization: by fixture
    //     construction the suffix-free base is each cluster's mode) ---
    val orgMentions = turns.flatMap { case (t, _) => Rules.extractOrgs(t.text) }
    orgMentions.map(orgCanonical).distinct.foreach(o => out += Triple(convId, "hiring_organization", o))

    // --- tool-call entities (new surface: north_star tool mentions) ---
    turns.flatMap(t => Option(t._1.tool)).distinct.foreach { tl =>
      out += Triple(convId, "uses_tool", tl)
    }

    // --- start/deadline dates (X5, flag-gated like the pipeline) ---
    if (extractDates) {
      Seq("start_date", "deadline_date").foreach { cat =>
        val acc = scala.collection.mutable.LinkedHashSet.empty[String]
        cleaned.foreach { case (_, c, cl) =>
          if (c == cat) Rules.extractDates(cl).foreach(acc += _)
        }
        acc.foreach(d => out += Triple(convId, cat, d))
      }
    }

    out.toSeq
  }

  /** Golden triples for the whole generated range, with the org canonical
    * computed the way the linking stage defines it: cluster (= fixture base
    * group, which is what LSH+CC must recover) → most frequent member
    * surface, lexicographic-min tie-break. One mention row per
    * (conv, surface), matching the pipeline's exploded org mentions.
    */
  def allTriples(nConvs: Long, seed: Long = 42L, skewConvs: Int = 2, skewTurns: Int = 800): Seq[Triple] = {
    val convs = (0L until nConvs).map(i => TranscriptGen.labeledTurnsFor(i, seed, skewConvs, skewTurns))
    val mentionRows = convs.flatMap { ts =>
      ts.flatMap { case (t, _) => Rules.extractOrgs(t.text) }.distinct
    }
    val canonical: Map[String, String] = mentionRows
      .groupBy(defaultOrgCanonical)
      .flatMap { case (_, members) =>
        val counts = members.groupBy(identity).view.mapValues(_.size).toMap
        val canon = members.distinct.sortBy(s => (-counts(s), s)).head
        members.distinct.map(_ -> canon)
      }
    convs.flatMap(ts => triplesFor(ts, s => canonical.getOrElse(s, s)))
  }
}
