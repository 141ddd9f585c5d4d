package graft

import graft.ml.SectionTagger
import graft.model.Triple
import graft.operators._
import graft.rules.DictRules
import graft.sources.{Dims, TranscriptGen}

/** S5 scoring and S6 emit run map-side, one conversation at a time
  * ([[KgPipeline.emitTriples]] over [[Scoring.enrich]]); the join chain
  * ([[ScoringJoin]]) is the reference. The two must emit the same triple
  * set on a generated corpus and on hand-built conversations at every edge
  * of the joins.
  */
class MapSideEmitSpec extends SparkSpec {

  private def conv(id: String, skills: Seq[String], location: Option[String],
      orgs: Seq[String] = Nil, sal: Seq[Double] = Nil): ConvExtract =
    ConvExtract(id, s"title $id", skills, None, location, None, sal,
      if (sal.isEmpty) Nil else Seq("EUR"), None, orgs, Nil, Nil, Nil)

  private def assertSame(got: Set[Triple], want: Set[Triple], what: String): Unit = {
    val missing = (want diff got).toSeq.sortBy(t => (t.subj, t.pred)).take(10)
    val extra = (got diff want).toSeq.sortBy(t => (t.subj, t.pred)).take(10)
    assert(got == want, s"$what: ${got.size} triples vs join ${want.size}; " +
      s"missing $missing; extra $extra")
  }

  test("map-side emit == join chain on a generated corpus through runClustered") {
    import spark.implicits._
    val tagger = SectionTagger.train(KgPipeline.taggerTrainingFrame(spark, nConvs = 120))
    val turns = TranscriptGen.dataset(spark, 300, seed = 7L, skewConvs = 2, skewTurns = 200)
    val convs = ConvFinalize.runClustered(TurnExtract.extract(
      SectionTagger.predict(tagger, KgPipeline.cleanTurns(turns)))).cache()
    try {
      val canon = Linking.canonicalize(KgPipeline.orgMentions(convs)).cache()
      val mapSide = KgPipeline.emitTriples(convs, canon).collect()
      val join = ScoringJoin.emitTriples(convs, ScoringJoin.scores(convs), canon)
        .collect().toSet
      assert(mapSide.length == mapSide.toSet.size, "map-side emit repeats a triple")
      assertSame(mapSide.toSet, join, "generated corpus")
      Seq("sector", "estimated_salary", "hiring_organization").foreach { p =>
        assert(join.exists(_.pred == p), s"corpus emits no $p triple")
      }
      canon.unpersist()
    } finally convs.unpersist()
  }

  test("map-side emit == join chain on hand-built edge conversations") {
    import spark.implicits._
    val orphans = Dims.skills.map(_.label).filterNot(l =>
      Dims.occupations.exists(o => (o.essential ++ o.optional).contains(l)))
    assert(orphans.nonEmpty, "fixture promises at least one orphan skill")
    val dev = Dims.occupationByIsco("251").essential
    val rows = Seq(
      conv("orphan", orphans, Some("Germany")),
      conv("orphan_mix", orphans.head +: dev, Some("France")),
      conv("no_country", dev, Some("Atlantis")),
      conv("no_location", dev, None, sal = Seq(4000.0)),
      conv("scored", dev, Some("Poland"), sal = Seq(50000.0)),
      conv("no_skills", Nil, Some("Spain")),
      conv("two_orgs", dev, Some("Italy"), orgs = Seq("Acme Corp", "ACME corp.", "Other Ltd")))
    val convs = rows.toDS()
    val canon = Seq("Acme Corp" -> "Acme", "ACME corp." -> "Acme").toDF("surface", "canonical")
    val mapSide = KgPipeline.emitTriples(convs, canon).collect()
    val join = ScoringJoin.emitTriples(convs, ScoringJoin.scores(convs), canon).collect().toSet
    assertSame(mapSide.toSet, join, "edge conversations")

    def preds(id: String): Seq[String] = mapSide.filter(_.subj == id).map(_.pred).toSeq
    // taxonomy-orphan skills: no sector, no estimate; the orphan adds nothing
    assert(!preds("orphan").exists(Set("sector", "estimated_salary")))
    assert(Scoring.enrich(rows(1)).estimated_salary ==
      Scoring.enrich(conv("x", dev, Some("France"))).estimated_salary)
    // a location that is no dim country, or none: a sector but no estimate
    Seq("no_country", "no_location").foreach { id =>
      assert(preds(id).contains("sector") && !preds(id).contains("estimated_salary"), id)
    }
    assert(preds("scored").count(_ == "estimated_salary") == 1)
    assert(!preds("no_skills").exists(Set("skill", "sector", "estimated_salary")))
    // two surfaces, one canonical: exactly one triple for them
    assert(mapSide.filter(t => t.subj == "two_orgs" && t.pred == "hiring_organization")
      .map(_.obj).sorted.toSeq == Seq("Acme", "Other Ltd"))
  }

  test("scores no skill set reaches: an empty sector and a walk short of a 3-digit code") {
    import spark.implicits._
    // every ISCO-weighted fixture skill also has a NACE row, and every level
    // rolls up from 3-digit occupations, so no skill set yields these
    // scores; feed them to both paths as a scored row instead
    assert(DictRules.iscoWeightRows.map(_._3).toSet.subsetOf(DictRules.naceWeightRows.map(_._2).toSet))
    val dev = Dims.occupationByIsco("251").essential
    val c = conv("c", dev, Some("Germany"), sal = Seq(4000.0))
    val sector = Scoring.sectorIscoPure(dev).get._1
    Seq(("", "251"), (sector, "25"), (sector, "2"), ("", "")).foreach { case si @ (sec, code) =>
      val mapSide = TripleEmit.convTriples(Scoring.enrich(c, Some(si))).toSet
      val join = ScoringJoin.emitTriples(Seq(c).toDS(), Seq(("c", sec, code)).toDF("conv_id", "sector", "isco3"),
        Seq.empty[(String, String)].toDF("surface", "canonical")).collect().toSet
      assertSame(mapSide, join, s"score $si")
      assert(!mapSide.exists(t => t.pred == "sector" && t.obj.isEmpty), s"empty sector triple at $si")
      assert(mapSide.exists(_.pred == "estimated_salary") == Dims.occupationByIsco.contains(code), s"$si")
    }
  }
}
