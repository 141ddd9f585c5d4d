package graft

import graft.ml.SectionTagger
import graft.model.Triple
import graft.operators._
import graft.rules.DictRules
import graft.sources.{Dims, TranscriptGen}

/** S5 scoring and S6 emit run map-side, one conversation at a time
  * ([[KgPipeline.emitLinked]] over [[Scoring.enrich]] and the broadcast
  * org canonical map); the join chain ([[ScoringJoin]]) is the reference.
  * The two must emit the same triple set on a generated corpus, linked on
  * the driver and through LSH, and on hand-built conversations at every
  * edge of the joins. The linking count pass is pinned to
  * `groupBy("surface").count()`.
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
      // the fused path: link on the driver, emit in one pass
      val linked = Linking.link(convs.rdd.flatMap(_.orgs))
      assert(linked.isRight, "the corpus vocabulary links on the driver")
      val fused = KgPipeline.emitLinked(convs.rdd, linked).collect()
      assert(fused.length == fused.toSet.size, "fused emit repeats a triple")
      assertSame(fused.toSet, join, "fused emit, local linking")

      // LSH linking: the canonical table is joined, and the same table
      // read to the driver emits the same set map-side
      val lshCanon = Linking.canonicalizeLsh(KgPipeline.orgMentions(convs))._1.cache()
      val lshJoin = ScoringJoin.emitTriples(convs, ScoringJoin.scores(convs), lshCanon)
        .collect().toSet
      assertSame(KgPipeline.emitLinked(convs.rdd, Left(lshCanon)).collect().toSet, lshJoin,
        "LSH linking, joined")
      val lshMap = lshCanon.as[(String, String)].collect().toMap
      val lshMapSide = KgPipeline.emitLinked(convs.rdd, Right(lshMap)).collect()
      assert(lshMapSide.length == lshMapSide.toSet.size, "map-side emit repeats a triple")
      assertSame(lshMapSide.toSet, lshJoin, "LSH linking, map-side")
      Seq(canon, lshCanon).foreach(_.unpersist())
    } finally convs.unpersist()
  }

  test("surfaceCounts == groupBy(surface).count(), None past the threshold") {
    import spark.implicits._
    // two partitions of three distinct surfaces each, "a" in both
    val parts = Seq(Seq("a", "b", "b", "c"), Seq("a", "d", "e", "e", "e"))
    val surfaces = spark.sparkContext.parallelize(parts, 2).flatMap(identity)
    val want = parts.flatten.toDF("surface").groupBy("surface").count()
      .as[(String, Long)].collect().toMap
    Seq(5L, 6L, 100L).foreach { t =>
      val got = Linking.surfaceCounts(surfaces, t)
      assert(got.map(_.toMap).contains(want), s"threshold $t: $got")
      assert(got.get.length == want.size, s"threshold $t: a surface counted twice")
    }
    // 3 per partition fits, 5 merged does not
    assert(Linking.surfaceCounts(surfaces, 3L).isEmpty, "merged map over the threshold")
    assert(Linking.surfaceCounts(surfaces, 4L).isEmpty, "merged map over the threshold")
    // one partition alone over the threshold
    assert(Linking.surfaceCounts(surfaces, 2L).isEmpty, "partition over the threshold")
    assert(Linking.surfaceCounts(surfaces, 0L).isEmpty)
    assert(Linking.surfaceCounts(spark.sparkContext.emptyRDD[String], 0L).exists(_.isEmpty))
    // a task stops reading at threshold + 1 surfaces: an endless
    // partition of distinct surfaces still returns
    val endless = spark.sparkContext.parallelize(Seq(0), 1)
      .flatMap(_ => Iterator.from(0).map(i => s"s$i"))
    assert(Linking.surfaceCounts(endless, 1000L).isEmpty)
  }

  test("surfaceCounts over many partitions, each holding most of the vocabulary") {
    import spark.implicits._
    // 64 partitions (past 16, so the maps merge in a tree on the
    // executors), each holding 90 of 100 surfaces, some twice
    val parts = (0 until 64).map { p =>
      (0 until 100).filterNot(i => (i + p) % 10 == 0).flatMap(i => Seq.fill(1 + (i + p) % 3)(s"org$i"))
    }
    val surfaces = spark.sparkContext.parallelize(parts, parts.size).flatMap(identity)
    val want = parts.flatten.toDF("surface").groupBy("surface").count()
      .as[(String, Long)].collect().toMap
    assert(want.size == 100)
    Seq(100L, 20000L).foreach { t =>
      val got = Linking.surfaceCounts(surfaces, t)
      assert(got.map(_.toMap).contains(want), s"threshold $t")
      assert(got.get.length == want.size, s"threshold $t: a surface counted twice")
    }
    assert(Linking.surfaceCounts(surfaces, 99L).isEmpty, "merged map over the threshold")
    assert(Linking.surfaceCounts(surfaces, 89L).isEmpty, "every partition over the threshold")
  }

  test("canonicalizeWithMetrics: local path rows == the counts' union-find, audit names the path") {
    import spark.implicits._
    val mentions = (Seq.fill(3)("Acme Industries") ++ Seq("Acme Industries Ltd", "Globex Corp"))
      .toDF("surface").repartition(3)
    val (local, la) = Linking.canonicalizeWithMetrics(mentions)
    assert(la.as[(String, Long)].collect().toSeq == Seq("path_local" -> 1L))
    val localMap = local.as[(String, String)].collect().toMap
    assert(localMap == Linking.localCanonical(mentions.as[String].rdd).get)
    assert(localMap("Acme Industries Ltd") == "Acme Industries" && localMap("Globex Corp") == "Globex Corp")
    val (lsh, lshAudit) = Linking.canonicalizeWithMetrics(mentions, localThreshold = 2L)
    assert(lshAudit.as[(String, Long)].collect().head == ("path_lsh" -> 1L))
    assert(lsh.as[(String, String)].collect().toMap == localMap)
  }

  test("computeTriples adds no CacheManager entry and equals the join chain") {
    import spark.implicits._
    def cacheEntries(): Int = {
      val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
      val f = cm.getClass.getDeclaredField("cachedData")
      f.setAccessible(true)
      f.get(cm).asInstanceOf[scala.collection.Seq[_]].size
    }
    val tagger = SectionTagger.train(KgPipeline.taggerTrainingFrame(spark, nConvs = 120))
    val turns = TranscriptGen.dataset(spark, 120, seed = 11L, skewConvs = 1, skewTurns = 100)
    val before = cacheEntries()
    val fused = KgPipeline.computeTriples(turns, tagger).collect()
    assert(cacheEntries() == before, "computeTriples left a cached plan behind")
    val convs = ConvFinalize.run(TurnExtract.extract(
      SectionTagger.predict(tagger, KgPipeline.cleanTurns(turns)))).cache()
    try {
      val canon = Linking.canonicalize(KgPipeline.orgMentions(convs))
      assert(fused.length == fused.toSet.size, "fused emit repeats a triple")
      assertSame(fused.toSet, ScoringJoin.emitTriples(convs, ScoringJoin.scores(convs), canon)
        .collect().toSet, "computeTriples")
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
