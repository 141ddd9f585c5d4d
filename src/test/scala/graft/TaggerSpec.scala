package graft

import graft.ml.SectionTagger

/** Tagger robustness + M9/M12 coverage: NER-proxy features must keep the
  * f1 gate green under injected noise (typos/char drops), the NaiveBayes
  * alternate must train and clear the same gate, and the per-class report
  * must match hand-computed precision/recall.
  */
/** Deterministic typo injection (serializable — runs inside tasks): for
  * ~rate of tokens, swap two adjacent chars or drop one (the classic typo
  * families).
  */
object TaggerNoise extends Serializable {
  def addNoise(text: String, rnd: scala.util.Random, rate: Double): String =
    text.split(" ").map { tok =>
      if (tok.length > 3 && rnd.nextDouble() < rate) {
        val i = 1 + rnd.nextInt(tok.length - 2)
        if (rnd.nextBoolean()) tok.substring(0, i) + tok.charAt(i + 1) + tok.charAt(i) + tok.substring(i + 2)
        else tok.substring(0, i) + tok.substring(i + 1)
      } else tok
    }.mkString(" ")
}

class TaggerSpec extends SparkSpec {

  test("f1 gate holds on noise-injected held-out turns (typos at 10% token rate)") {
    import spark.implicits._
    val train = KgPipeline.taggerTrainingFrame(spark, nConvs = 250, firstConv = 4000000L)
    val heldOut = KgPipeline.taggerTrainingFrame(spark, nConvs = 80, firstConv = 5000000L)
    val noisy = heldOut.as[(String, String)].mapPartitions { it =>
      val rnd = new scala.util.Random(13)
      it.map { case (text, cat) => (TaggerNoise.addNoise(text, rnd, 0.10), cat) }
    }.toDF("text_clean", "category")
    val tagger = SectionTagger.train(train)
    val pred = SectionTagger.predict(tagger, noisy.withColumnRenamed("category", "category_true"))
      .withColumnRenamed("category", "category_pred")
      .withColumnRenamed("category_true", "category")
    val f1 = SectionTagger.weightedF1(pred)
    info(f"noisy held-out weighted f1 = $f1%.3f")
    assert(f1 >= 0.8)
  }

  test("NaiveBayes alternate (M9) trains and clears the f1 gate") {
    val train = KgPipeline.taggerTrainingFrame(spark, nConvs = 250, firstConv = 4000000L)
    val heldOut = KgPipeline.taggerTrainingFrame(spark, nConvs = 80, firstConv = 5000000L)
    val tagger = SectionTagger.train(train, algorithm = "nb")
    val pred = SectionTagger.predict(tagger, heldOut.withColumnRenamed("category", "category_true"))
      .withColumnRenamed("category", "category_pred")
      .withColumnRenamed("category_true", "category")
    val f1 = SectionTagger.weightedF1(pred)
    info(f"naive bayes held-out weighted f1 = $f1%.3f")
    assert(f1 >= 0.8)
  }

  test("trainEval (M7): in-frame 75/25 split at seed 42, per-class report gate") {
    val labeled = KgPipeline.taggerTrainingFrame(spark, nConvs = 300, firstConv = 6000000L)
    val (_, report) = SectionTagger.trainEval(labeled)
    assert(report.nonEmpty)
    // every class must appear with support and clear a per-class f1 floor
    val total = labeled.count()
    assert(report.map(_.support).sum.toDouble / total > 0.2) // ~25% held out
    report.foreach { r =>
      info(f"${r.category}%-28s p=${r.precision}%.2f r=${r.recall}%.2f f1=${r.f1}%.2f n=${r.support}")
      assert(r.f1 >= 0.8, s"class ${r.category} f1 ${r.f1}")
    }
  }

  test("rare-feature pruning (M5): column-sum <= 0.2 features leave the assembler") {
    import spark.implicits._
    // craft a frame where some NER-proxy columns stay at 0 (no locations,
    // no currency, no hours, no education in the texts) — their train-sum
    // is 0 <= 0.2 -> pruned; ratios and present features survive
    val df = Seq(("plain words only here", "description"),
      ("more plain text", "description")).toDF("text_clean", "category")
    val kept = SectionTagger.prunedFeatureCols(SectionTagger.prepare(df)).toSet
    assert(kept.contains("word_ratio")) // sum 2.0 > 0.2
    assert(!kept.contains("ner_loc") && !kept.contains("ner_cur") &&
      !kept.contains("ner_hour") && !kept.contains("ner_edu"))
    // on the real fixture corpus every proxy family fires -> nothing pruned
    val corpus = KgPipeline.taggerTrainingFrame(spark, nConvs = 120, firstConv = 8000000L)
    assert(SectionTagger.prunedFeatureCols(SectionTagger.prepare(corpus)).length ==
      graft.functions.NerProxyFast.names.length)
  }

  test("oversample (M8): single pass balances every class toward the majority, deterministic") {
    import spark.implicits._
    val df = (Seq.fill(900)("a") ++ Seq.fill(100)("b") ++ Seq.fill(30)("c"))
      .zipWithIndex.map { case (c, i) => (s"t$i", c) }.toDF("text_clean", "category")
      .repartition(8)
    def countsOf(seed: Long) =
      SectionTagger.oversample(df, "category", seed).groupBy("category").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts = countsOf(42L)
    assert(counts("a") == 900) // majority gets no extras (fraction 0)
    assert(counts("b") > 700 && counts("c") > 700, s"under-sampled: $counts")
    assert(countsOf(42L) == counts) // same seed -> same draw
  }

  test("oversample survives extreme imbalance (Poisson lambda past the exp underflow)") {
    import spark.implicits._
    // 1 row of 'c' vs 2000 of 'a': lambda = 1999; a naive Knuth draw caps
    // near ~745 when exp(-lambda) underflows to 0
    val df = (Seq.fill(2000)("a") :+ "c").zipWithIndex
      .map { case (cl, i) => (s"t$i", cl) }.toDF("text_clean", "category")
    val counts = SectionTagger.oversample(df, "category", 7L)
      .groupBy("category").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("c") > 1700, s"underflow cap: ${counts("c")}")
  }

  test("letter_runs expression == RegexTokenizer([a-z]+, gaps=false) on corpus + traps") {
    import org.apache.spark.ml.feature.RegexTokenizer
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val traps = Seq("", "abc", "ABC def", "a1b2", "mixedCASE tail", "é splité here",
      "99", "x", " lead trail ", "tab\there", "Ünïcode Ört")
    val corpus = KgPipeline.taggerTrainingFrame(spark, nConvs = 60, firstConv = 7000000L)
      .select(col("text_clean")).as[String].collect().toSeq
    val df = (traps ++ corpus).toDF("text_clean")
    val rt = new RegexTokenizer().setInputCol("text_clean").setOutputCol("rt_tokens")
      .setPattern("[a-z]+").setGaps(false).setMinTokenLength(1)
    val both = rt.transform(df.withColumn("tokens",
      graft.functions.Kernels.letter_runs(col("text_clean"))))
    val diff = both.filter(col("tokens") =!= col("rt_tokens")).count()
    assert(diff == 0)
  }

  test("relabel (M13): qualifications folds into skills, job_fields drops; train honors it") {
    import spark.implicits._
    val labeled = Seq(
      ("python and sql required", "qualifications"),
      ("we are a media company", "job_fields"),
      ("salary 50000 euro per year", "base_salary"),
      ("bachelor degree required", "education_requirements"))
      .toDF("text_clean", "category")
    val out = ml.SectionTagger.relabel(labeled)
      .select("category").as[String].collect().sorted.toSeq
    assert(out == Seq("base_salary", "education_requirements", "skills"))
    // end-to-end: a tagger trained on a frame carrying the raw labels must
    // never emit the dropped/folded classes
    val corpus = (1 to 40).flatMap { i =>
      Seq((s"python spark sql tools $i", "qualifications"),
        (s"media business field $i", "job_fields"),
        (s"salary ${40000 + i} euro yearly", "base_salary"))
    }.toDF("text_clean", "category")
    val tagger = ml.SectionTagger.train(corpus)
    assert(tagger.labels.toSet == Set("skills", "base_salary"))
  }

  test("compiled LR serve expression == PipelineModel path, prediction-identical on corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val tagger = ml.SectionTagger.train(
      KgPipeline.taggerTrainingFrame(spark, nConvs = 200))
    assert(graft.functions.CompiledTagger.compile(tagger.model, tagger.labels).isDefined,
      "the LR pipeline must compile (else this test is vacuous)")
    val turns = graft.sources.TranscriptGen.dataset(spark, 400, 7L, 2, 300)
    val cleaned = KgPipeline.cleanTurns(turns)
      .union(Seq(("x", 0, "user", "", "", new java.sql.Timestamp(0), "")) // empty text edge
        .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "text_clean"))
    val a = ml.SectionTagger.predict(tagger, cleaned)
      .select(col("conv_id"), col("turn_idx"), col("category").as("cat_compiled"))
    val b = ml.SectionTagger.predictModel(tagger, cleaned)
      .select(col("conv_id"), col("turn_idx"), col("category").as("cat_model"))
    val diff = a.join(b, Seq("conv_id", "turn_idx"))
      .filter(col("cat_compiled") =!= col("cat_model")).count()
    assert(diff == 0, s"$diff predictions diverge between compiled and PipelineModel serve")
    // the NaiveBayes alternate must NOT compile (falls back to the model path)
    val nb = ml.SectionTagger.train(
      KgPipeline.taggerTrainingFrame(spark, nConvs = 60), algorithm = "nb")
    assert(graft.functions.CompiledTagger.compile(nb.model, nb.labels).isEmpty)
    assert(ml.SectionTagger.predict(nb, cleaned).filter(col("category").isNull).count() == 0)
  }

  test("deserialized CompiledTagger copies share one folded layout and predict identically") {
    // r6: codegen references deserialize per task, so the folded serve
    // layout is shared per-JVM through a uid-keyed cache — two independent
    // Java-serialization round trips must preserve the uid (the cache key)
    // and predict bit-identically to the original instance.
    val tagger = ml.SectionTagger.train(
      KgPipeline.taggerTrainingFrame(spark, nConvs = 120))
    val ct = graft.functions.CompiledTagger.compile(tagger.model, tagger.labels)
      .getOrElse(fail("LR pipeline must compile"))
    def roundTrip(t: graft.functions.CompiledTagger): graft.functions.CompiledTagger = {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos); oos.writeObject(t); oos.close()
      val ois = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bos.toByteArray))
      ois.readObject().asInstanceOf[graft.functions.CompiledTagger]
    }
    val c1 = roundTrip(ct); val c2 = roundTrip(ct)
    assert(c1.uid == ct.uid && c2.uid == ct.uid, "uid must survive serialization")
    val texts = graft.sources.TranscriptGen.dataset(spark, 40, 11L, 1, 50)
      .collect().map(t => graft.rules.Rules.cleanString(t.text)) :+ ""
    texts.foreach { s =>
      val p = ct.predict(s)
      assert(c1.predict(s) == p && c2.predict(s) == p, s"divergent prediction on '$s'")
    }
  }

  test("per-class report (M12) matches hand-computed precision/recall") {
    import spark.implicits._
    // a: 2 true, 1 predicted-as-a correct; b: 1 true predicted b; one a→b error
    val df = Seq(("a", "a"), ("a", "b"), ("b", "b")).toDF("category", "category_pred")
    val rep = SectionTagger.classificationReport(df).map(r => r.category -> r).toMap
    assert(rep("a").precision == 1.0 && rep("a").recall == 0.5 && rep("a").support == 2)
    assert(rep("b").precision == 0.5 && rep("b").recall == 1.0 && rep("b").support == 1)
    assert(math.abs(rep("a").f1 - 2.0 / 3.0) < 1e-12)
    // weightedF1 must be the support-weighted mean of the report f1s
    val expected = (rep("a").f1 * 2 + rep("b").f1 * 1) / 3.0
    assert(math.abs(SectionTagger.weightedF1(df) - expected) < 1e-12)
  }
}
