package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.Kernels
import graft.operators._
import graft.rules.DictRules
import graft.sources.Dims

/** regexp_extract_all / rlike Column twins of the S3 mention kernels and
  * the CJK gate — differential pins only.
  */
object MentionRegexTwins {
  private val orgPattern = "\\b([A-Z][a-z]+(?: [A-Z][a-zA-Z]+)+)\\b"

  /** twin of `Kernels.extract_locations` */
  def locationsColRegex(clean: Column): Column =
    array_distinct(
      transform(
        regexp_extract_all(clean, lit(graft.rules.Rules.gazAlternationStr), lit(1)),
        s => element_at(typedlit(Dims.gazetteer), s)))

  /** twin of `Kernels.extract_orgs` */
  def orgsColRegex(raw: Column): Column = {
    val countryLit = typedlit(Dims.countries.map(_.name))
    array_distinct(
      filter(
        regexp_extract_all(raw, lit(orgPattern), lit(1)),
        o => !lower(o).contains("http") && !lower(o).contains("www") &&
          length(o) >= 3 && !array_contains(countryLit, o)))
  }

  /** twin of `Kernels.extract_dates` */
  def datesColRegex(clean: Column): Column =
    array_distinct(
      filter(
        regexp_extract_all(clean, lit(graft.rules.Rules.datePatternStr), lit(0)),
        d => !array_contains(typedlit(graft.rules.Rules.dateStoplist.toSeq), d)))

  /** twin of `Kernels.has_cjk` */
  def hasCjkRegex(c: Column): Column = c.rlike("[\\x{4e00}-\\x{9fff}]")
}

/** Distributed-operator specs: join-based scoring vs the pure functions,
  * linking/CC, dedup family, ANN recall, multimodal plumbing.
  */
class OperatorSpec extends SparkSpec {

  test("join-based sector/isco/estimate == pure scoring") {
    import spark.implicits._
    val cases = Seq(
      ("c1", Dims.occupationByIsco("251").essential, "Germany"),
      ("c2", Dims.occupationByIsco("222").essential, "Poland"),
      ("c3", Dims.occupationByIsco("122").essential ++ Dims.occupationByIsco("122").optional, "France"),
      ("c4", Dims.occupationByIsco("721").essential.take(1), "Sweden"))
    val convSkills = cases.flatMap { case (c, sk, _) => sk.map(s => (c, s)) }.toDF("conv_id", "skill")
    val convLoc = cases.map { case (c, _, l) => (c, l) }.toDF("conv_id", "location")

    val sectors = Scoring.sectors(convSkills).as[(String, String)].collect().toMap
    val isco = Scoring.isco3(convSkills).as[(String, String)].collect().toMap
    // estimates through the S5 join twin (left joins) and through the
    // per-conversation scorer the pipeline emits from, both pinned to the
    // pure reference
    val est = ScoringJoin.enrichScores(Scoring.sectorAndIsco(convSkills), convLoc)
      .select("conv_id", "estimated_salary").as[(String, Int)].collect().toMap
    cases.foreach { case (c, sk, loc) =>
      assert(sectors(c) == DictRules.sector(sk), s"sector $c")
      assert(isco(c) == DictRules.isco3(sk), s"isco $c")
      assert(est(c) == DictRules.estimateSalary(sk, Some(loc)).get, s"estimate $c")
      val full = Scoring.enrich(ConvExtract(c, "", sk, None, Some(loc), None,
        Nil, Nil, None, Nil, Nil, Nil, Nil))
      assert(full.sector.contains(DictRules.sector(sk)), s"enrich sector $c")
      assert(full.estimated_salary == DictRules.estimateSalary(sk, Some(loc)), s"enrich estimate $c")
    }
  }

  test("native vector kernels == HOF Column twins (cosine bit-exact, identical buckets)") {
    import spark.implicits._
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").limit(300)
    val pairs = e.select(col("vec_id").as("ia"), col("embedding").as("va"))
      .join(e.select(col("vec_id").as("ib"), col("embedding").as("vb")),
        col("ia") + 1 === col("ib"))
    val cosDiff = pairs.select(
      SimilaritySearch.cosine(col("va"), col("vb")).as("fast"),
      SimilaritySearch.cosineColumns(col("va"), col("vb")).as("twin"))
      .filter(col("fast") =!= col("twin")).count()
    assert(cosDiff == 0, "cosine expression != HOF twin")
    val planes = SimilaritySearch.hyperplanes(64, 32 * 4)
    val bDiff = e.select(
      SimilaritySearch.bandBuckets(col("embedding"), planes, 32, 4).as("fast"),
      SimilaritySearch.bandBucketsColumns(col("embedding"), planes, 32, 4).as("twin"))
      .filter(col("fast") =!= col("twin")).count()
    assert(bDiff == 0, "lsh_buckets expression != HOF twin")
    // dim mismatch -> NULL in BOTH (a truncated embedding must be excluded,
    // never scored from a partial dot product)
    val mism = Seq((Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f))).toDF("va", "vb")
    val both = mism.select(
      SimilaritySearch.cosine(col("va"), col("vb")).as("fast"),
      SimilaritySearch.cosineColumns(col("va"), col("vb")).as("twin")).head()
    assert(both.isNullAt(0) && both.isNullAt(1), s"mismatch must be null: $both")
  }

  test("A7 skill-popularity resolution: distributed == pure dict; ambiguity decided by popularity") {
    import spark.implicits._
    // the fixture dict has a real ambiguity: "quality control" is an alt of
    // both quality inspection (popularity 3) and quality assurance (0)
    assert(Dims.skillSurfaceCandidates("quality control").size == 2)
    assert(Dims.skillSurfaceToPreferred("quality control") == "quality inspection")
    val relations = Dims.occupations
      .flatMap(o => (o.essential ++ o.optional).map(s => (o.isco3, s)))
      .toDF("occ", "skill")
    val candidates = Dims.skillSurfaceCandidates.toSeq
      .flatMap { case (surf, cands) =>
        cands.zipWithIndex.map { case (c, i) => (surf, c, i) }
      }.toDF("surface", "cand", "cand_idx")
    val resolved = Scoring.resolveSkillSurfaces(relations, candidates)
      .as[(String, String)].collect().toMap
    assert(resolved == Dims.skillSurfaceToPreferred)
    // popularity flip: same candidates, relations weighted the other way
    val flipped = Seq(("x", "quality assurance"), ("y", "quality assurance")).toDF("occ", "skill")
    val r2 = Scoring.resolveSkillSurfaces(flipped, candidates)
      .as[(String, String)].collect().toMap
    assert(r2("quality control") == "quality assurance")
  }

  test("mention expressions == regexp_extract_all Column twins on the corpus") {
    import spark.implicits._
    val turns = graft.sources.TranscriptGen.dataset(spark, 60, 42L)
      .select(col("text"))
    val cleaned = KgPipeline.cleanTurns(graft.sources.TranscriptGen.dataset(spark, 60, 42L))
      .select(col("text"), col("text_clean"))
    val locDiff = cleaned.select(
      Kernels.extract_locations(col("text_clean")).as("a"),
      MentionRegexTwins.locationsColRegex(col("text_clean")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(locDiff == 0, "locations expression != regex twin")
    val orgDiff = turns.select(
      Kernels.extract_orgs(col("text")).as("a"),
      MentionRegexTwins.orgsColRegex(col("text")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(orgDiff == 0, "orgs expression != regex twin")
    val dateDiff = cleaned.select(
      Kernels.extract_dates(col("text_clean")).as("a"),
      MentionRegexTwins.datesColRegex(col("text_clean")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(dateDiff == 0, "dates expression != regex twin")
  }

  test("connected components: local union-find and distributed paths agree") {
    import spark.implicits._
    val vertices = (1L to 7L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    Seq(500000L, 0L).foreach { threshold => // local, then forced-distributed
      val comp = ConnectedComponents.run(vertices, edges, localThreshold = threshold)
        .as[(Long, Long)].collect().toMap
      assert(Seq(1L, 2L, 3L).map(comp).distinct == Seq(1L), s"t=$threshold")
      assert(Seq(4L, 5L, 6L).map(comp).distinct == Seq(4L), s"t=$threshold")
      assert(comp(7L) == 7L, s"t=$threshold")
    }
  }

  test("connected components: 40-vertex chain converges distributed in O(log n) supersteps") {
    import spark.implicits._
    // a path graph is the worst case for plain min-label propagation
    // (O(diameter) supersteps — the old 20-round budget would have been
    // exhausted SILENTLY); pointer jumping must resolve it within the
    // default budget, and a too-small budget must throw, never return.
    val n = 40L
    val vertices = (1L to n).toDF("id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    val comp = ConnectedComponents.runDistributed(vertices, edges)
      .as[(Long, Long)].collect().toMap
    assert(comp.values.toSet == Set(1L), "whole chain must collapse to min id 1")
    val ex = intercept[IllegalStateException] {
      ConnectedComponents.runDistributed(vertices, edges, maxIter = 2)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("oversized minhash buckets star-sample instead of dropping (family stays connected)") {
    import spark.implicits._
    // 6 nodes with IDENTICAL shingle sets land in the same bucket of EVERY
    // band — with a cap of 3 the old drop-the-bucket guard lost the whole
    // family. Star sampling must keep it connected at linear cost.
    val nodes = (1L to 6L).map(i => (i, Seq("a b c", "b c d", "c d e")))
      .toDF("id", "shingles")
    val pairs = Dedup.bandedMinHashPairs(nodes, bucketCap = 3)
      .as[(Long, Long)].collect().toSet
    assert(pairs == (2L to 6L).map(v => (1L, v)).toSet,
      s"expected the 5 star edges to the min id, got $pairs")
    // and with a roomy cap the same input yields all 15 pairs
    val full = Dedup.bandedMinHashPairs(nodes, bucketCap = 2000)
      .as[(Long, Long)].collect().toSet
    assert(full.size == 15, s"expected all pairs under the cap, got ${full.size}")
  }

  test("bandedMinHashPairs audit frame counts star-sampled buckets, never silently") {
    import spark.implicits._
    val nodes = (1L to 6L).map(i => (i, Seq("a b c", "b c d", "c d e")))
      .toDF("id", "shingles")
    // capped run: every one of the 12 bands holds one size-6 bucket →
    // 12 oversized buckets, 5 star edges each (pre-distinct)
    val (pairs, metrics) = Dedup.bandedMinHashPairsAudited(nodes, bucketCap = 3)
    val m = metrics.as[(String, Long)].collect().toMap
    assert(m("n_oversized_buckets") == 12L, s"audit: $m")
    assert(m("n_star_pairs") == 12L * 5, s"audit: $m")
    assert(m("n_allpairs_buckets") == 0L && m("max_bucket_size") == 6L, s"audit: $m")
    assert(pairs.as[(Long, Long)].collect().toSet ==
      (2L to 6L).map(v => (1L, v)).toSet, "audited pairs == plain pairs")
    // roomy cap: zero oversized, all buckets all-pairs
    val (_, m2d) = Dedup.bandedMinHashPairsAudited(nodes, bucketCap = 2000)
    val m2 = m2d.as[(String, Long)].collect().toMap
    assert(m2("n_oversized_buckets") == 0L && m2("n_star_pairs") == 0L
      && m2("n_allpairs_buckets") == 12L, s"audit: $m2")
    // canonicalizeWithMetrics surfaces the path taken
    val mentions = Seq("acme gmbh", "acme  gmbh", "other co")
      .toDF("surface")
    val (_, lm) = graft.operators.Linking.canonicalizeWithMetrics(mentions)
    assert(lm.as[(String, Long)].collect().toMap.contains("path_local"))
  }

  test("ivfTopK guards zero-norm embeddings and samples the quantizer fit") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val corpus = ((0 until 60).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f))) :+
      (60L, Array.fill(8)(0.0f))).toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") < 3)
    // fitSampleCap below the corpus size forces the sampled-fit path
    val res = SimilaritySearch.ivfTopK(q, corpus, k = 3, nLists = 4, nProbe = 4,
      fitSampleCap = 30L)
    val sims = res.select("sim").as[Double].collect()
    assert(sims.nonEmpty && sims.forall(d => !d.isNaN), "NaN sim leaked from ivfTopK")
  }

  test("native has_cjk == rlike twin on boundary codepoints") {
    import spark.implicits._
    val cases = Seq("hello world", "", "你好", "mixed 中文 text", "䷿", "一",
      "鿿", "ꀀ", "emoji 😀 only", "ärger straße", "日本語テスト")
    val diff = cases.toDF("t").select(
      operators.TextAnalysis.hasCjk(col("t")).as("a"),
      MentionRegexTwins.hasCjkRegex(col("t")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0, "has_cjk scanner != rlike twin")
  }

  test("single-pass sectorAndIsco == per-op scoring") {
    import spark.implicits._
    val cases = Seq(
      ("c1", Dims.occupationByIsco("251").essential),
      ("c2", Dims.occupationByIsco("222").essential),
      ("c3", Dims.occupationByIsco("833").essential :+ "communication skills"))
    val convSkills = cases.flatMap { case (c, sk) => sk.map(s => (c, s)) }.toDF("conv_id", "skill")
    val fast = Scoring.sectorAndIsco(convSkills).as[(String, String, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    cases.foreach { case (c, sk) =>
      assert(fast(c)._1 == DictRules.sector(sk), s"sector $c")
      assert(fast(c)._2 == DictRules.isco3(sk), s"isco $c")
    }
  }

  test("linking canonicalizes suffix variants to the most frequent surface") {
    import spark.implicits._
    val mentions = (Seq.fill(5)("Acme Industries") ++ Seq("Acme Industries GmbH", "Acme Industries Ltd") ++
      Seq.fill(4)("Globex Corporation") ++ Seq("Globex Corporation Inc"))
      .toDF("surface")
    Seq(20000L, 0L).foreach { threshold => // local union-find, then LSH path
      val canon = Linking.canonicalize(mentions, localThreshold = threshold)
        .as[(String, String)].collect().toMap
      assert(canon("Acme Industries GmbH") == "Acme Industries", s"t=$threshold")
      assert(canon("Acme Industries Ltd") == "Acme Industries", s"t=$threshold")
      assert(canon("Globex Corporation Inc") == "Globex Corporation", s"t=$threshold")
      assert(canon("Acme Industries") == "Acme Industries", s"t=$threshold")
    }
  }

  test("linking handles dotted legal suffixes (B.V./S.A.) on both paths") {
    import spark.implicits._
    // the generator only plants suffix indices 1-3 (Dims.orgSuffixes note),
    // so the punctuated variants are pinned here directly
    val mentions = (Seq.fill(5)("Acme Industries") ++
      Seq("Acme Industries B.V.", "Acme Industries S.A.") ++
      Seq.fill(3)("Initech Solutions") ++ Seq("Initech Solutions B.V."))
      .toDF("surface")
    Seq(20000L, 0L).foreach { threshold =>
      val canon = Linking.canonicalize(mentions, localThreshold = threshold)
        .as[(String, String)].collect().toMap
      assert(canon("Acme Industries B.V.") == "Acme Industries", s"t=$threshold")
      assert(canon("Acme Industries S.A.") == "Acme Industries", s"t=$threshold")
      assert(canon("Initech Solutions B.V.") == "Initech Solutions", s"t=$threshold")
    }
  }

  test("exact dedup groups identical normalized texts") {
    import spark.implicits._
    val docs = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "different")).toDF("doc_id", "text")
    val d = Dedup.exact(docs, "doc_id", "text").as[(String, Long, Long)].collect()
    assert(d.length == 2)
    val byKeep = d.map(r => r._2 -> r._3).toMap
    assert(byKeep(1L) == 2L && byKeep(3L) == 1L)
  }

  test("minhash dedup clusters near-duplicates, not distinct docs") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    val nearDup = base.replace("tonight", "today")
    val other = "completely different content about databases and distributed systems at large scale"
    val docs = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val keep = Dedup.minHashDedup(docs, "doc_id", "text", maxDistance = 0.5)
      .as[(Long, Long)].collect().toMap
    assert(keep(1L) == 1L && keep(2L) == 1L && keep(3L) == 3L)
  }

  test("simhash: near-dups are closer than unrelated; banding finds exact dups") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val other = "unrelated words entirely distinct tokens about warehouses and shipping"
    val dNear = java.lang.Long.bitCount(Dedup.simHash64(base) ^ Dedup.simHash64(base + " omicron"))
    val dFar = java.lang.Long.bitCount(Dedup.simHash64(base) ^ Dedup.simHash64(other))
    assert(dNear < dFar, s"near=$dNear far=$dFar")
    val docs = Seq((1L, base), (2L, base), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.simHashCandidates(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("LSH ANN recall@5 >= 0.9 vs brute force on testdata embeddings (default config)") {
    import spark.implicits._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    val brute = SimilaritySearch.bruteForceTopK(q, e, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = SimilaritySearch.lshTopK(q, e, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    info(f"lsh recall@5 = $recall%.2f (brute force is the exact baseline)")
    assert(recall >= 0.9)
  }

  test("IVF ANN recall@5 >= 0.9 vs brute force on testdata embeddings (default config)") {
    import spark.implicits._
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = e.filter(col("vec_id") < 20)
    val brute = SimilaritySearch.bruteForceTopK(q, e, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = SimilaritySearch.ivfTopK(q, e, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    info(f"ivf recall@5 = $recall%.2f (nLists=16, nProbe=8)")
    assert(recall >= 0.9)
  }

  test("multimodal plumbing: schema, feature shape, frame sampling") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val media = Multimodal.withFakeMedia(docs)
    assert(media.schema.fieldNames.toSeq ==
      Seq("doc_id", "media_type", "width", "height", "payload"))
    val feats = Multimodal.extractFeatures(media)
    val row = feats.head()
    assert(row.getAs[scala.collection.Seq[Float]]("features").length == 8)
    assert(feats.count() == docs.count())
    // real frame sampling: 10 GIF docs × 8 frames, every 2nd kept -> 4 each
    val gifMedia = Multimodal.withGifMedia(docs.limit(10), nFrames = 8)
    val frames = Multimodal.sampleFrames(gifMedia, everyNth = 2)
    assert(frames.count() == 40)
  }

  test("section tagger f1 >= 0.8 on held-out conversations") {
    val train = KgPipeline.taggerTrainingFrame(spark, nConvs = 250, firstConv = 2000000L)
    val heldOut = KgPipeline.taggerTrainingFrame(spark, nConvs = 80, firstConv = 3000000L)
    val tagger = graft.ml.SectionTagger.train(train)
    val pred = graft.ml.SectionTagger.predict(tagger, heldOut.withColumnRenamed("category", "category_true"))
      .withColumnRenamed("category", "category_pred")
      .withColumnRenamed("category_true", "category")
    val f1 = graft.ml.SectionTagger.weightedF1(pred)
    info(f"held-out weighted f1 = $f1%.3f (reference anchor: 0.80, README.md:9)")
    assert(f1 >= 0.8)
  }
}
