package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.ml.classification.{LogisticRegression, NaiveBayes}
import org.apache.spark.ml.feature._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.NerProxyFast
import graft.functions.Kernels.{letter_runs, ner_proxy_counts}

/** S2 — section tagger as a Spark ML Pipeline (SURVEY §2.4 M1-M13):
  * letter-run tokens → 1-gram + 2-gram CountVectorizers (minDF=2, mirrors
  * sklearn ngram_range=(1,2) min_df=2, ClassificationModelGeneration.py:85-101)
  * → digit/non-digit token-ratio features (F10) → NER-proxy pattern-hit
  * counts (SURVEY §7.4's substitution for the reference's spaCy POS/NER
  * count features M3/M4: the extraction rule bank's own gazetteer/
  * currency/time/degree/employment hit counts per turn) →
  * LogisticRegression (default) or NaiveBayes (M9 alternate,
  * ClassificationModelGeneration.py:232-236).
  * The fitted PipelineModel replaces the reference's pickled model + saved
  * feature-name CSVs: vocab and feature order are carried structurally, so
  * the train/serve alignment hazards of SURVEY §1.3 cannot occur.
  */
object SectionTagger {

  /** Tokenization (M1) + ratio features (ClassifyUsingSavedModel.py:
    * 191-193) + NER-proxy hit counts — codegen'd regex-free expressions,
    * applied both at train and serve time. Tokenizing here (instead of a
    * RegexTokenizer stage) keeps java.util.regex off the per-turn hot path
    * while the persisted PipelineModel keeps only standard stages.
    */
  def prepare(df: DataFrame): DataFrame = {
    val withCounts = df
      .withColumn("tokens", letter_runs(col("text_clean")))
      .withColumn("ner_counts", ner_proxy_counts(col("text_clean")))
    NerProxyFast.names.zipWithIndex.foldLeft(withCounts) { case (acc, (name, i)) =>
      acc.withColumn(name, element_at(col("ner_counts"), i + 1))
    }.drop("ner_counts")
  }

  private val extraFeatureCols: Array[String] = NerProxyFast.names.toArray

  /** M5/A6 — rare-feature pruning, the reference's column-sum filter over
    * the POS/NER count frames (ClassificationModelGeneration.py:166-167,
    * threshold 0.2) applied to their NER-proxy substitutes: a feature
    * column whose TRAIN-corpus sum ≤ 0.2 is excluded from the assembler.
    * The fitted VectorAssembler persists the selection, so serve-side
    * alignment is automatic (the reference needed a zero-fill dance,
    * ClassifyUsingSavedModel.py:224-234).
    */
  def prunedFeatureCols(prepared: DataFrame, threshold: Double = 0.2): Array[String] = {
    val sums = prepared
      .select(extraFeatureCols.map(n => sum(col(n)).cast("double").as(n)).toIndexedSeq: _*)
      .first()
    extraFeatureCols.zipWithIndex.collect {
      case (n, i) if !sums.isNullAt(i) && sums.getDouble(i) > threshold => n
    }
  }

  /** RandomOverSampler re-expression (M8): upsample every class to the
    * majority count with replacement — ONE pass emitting each row plus
    * Poisson(classFraction) extra copies, the same estimator Spark's own
    * sample(withReplacement=true) uses, instead of a per-class
    * filter+sample+union fold (2·|classes| scans and a deep union plan).
    */
  def oversample(df: DataFrame, labelCol: String, seed: Long = 42L): DataFrame = {
    val counts = df.groupBy(labelCol).count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val maxC = counts.values.max
    val fractions = counts.map { case (cls, cnt) => cls -> (maxC - cnt).toDouble / cnt }
    val labelIdx = df.schema.fieldNames.indexOf(labelCol)
    val enc = org.apache.spark.sql.Encoders.row(df.schema)
    df.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val rnd = new java.util.Random(seed * 31 + pid)
      // Knuth draw, split into <=300 chunks for large lambda (Poisson is
      // additive over independent draws; exp(-lambda) underflows past ~745,
      // which would silently cap extreme class imbalances)
      def knuth(lambda: Double): Int = {
        val limit = math.exp(-lambda)
        var k = 0
        var p = 1.0
        while ({ p *= rnd.nextDouble(); p > limit }) k += 1
        k
      }
      def poisson(lambda: Double): Int = {
        if (lambda <= 0.0) return 0
        var remaining = lambda
        var k = 0
        while (remaining > 300.0) { k += knuth(300.0); remaining -= 300.0 }
        k + knuth(remaining)
      }
      it.flatMap { r =>
        val extra = poisson(fractions(r.getString(labelIdx)))
        Iterator.fill(1 + extra)(r)
      }
    }(enc)
  }

  final case class Trained(model: PipelineModel, labels: Array[String])

  /** M13 — explicit label munging before training (the reference's two
    * relabel ops: drop the `job_fields` class,
    * ClassificationModelGeneration.py:53-54, and fold `qualifications`
    * into `skills`, PrepareTrainData.py:253). A no-op on corpora that do
    * not carry those labels, so generator-labeled training frames are
    * unchanged.
    */
  def relabel(labeled: DataFrame, labelCol: String = "category"): DataFrame =
    labeled.filter(col(labelCol) =!= "job_fields")
      .withColumn(labelCol,
        when(col(labelCol) === "qualifications", "skills").otherwise(col(labelCol)))

  /** labeled(text_clean, category) -> fitted tagger. 75/25 eval split and
    * seed 42 mirror the reference (ClassificationModelGeneration.py:225).
    * `algorithm`: "lr" (default) or "nb" — the reference ships commented
    * MultinomialNB/LinearSVC alternates (:232-236, README.md:28).
    */
  def train(labeledRaw: DataFrame, seed: Long = 42L, algorithm: String = "lr"): Trained = {
    val labeled = relabel(labeledRaw) // M13
    val si = new StringIndexer().setInputCol("category").setOutputCol("label")
    val siModel = si.fit(labeled)
    // tokens column comes from prepare() (regex-free letter_runs expression)
    val ng = new NGram().setN(2).setInputCol("tokens").setOutputCol("bigrams")
    val cv1 = new CountVectorizer().setInputCol("tokens").setOutputCol("f_uni").setMinDF(2)
    val cv2 = new CountVectorizer().setInputCol("bigrams").setOutputCol("f_bi").setMinDF(2)
    val prepared = prepare(labeled)
    val va = new VectorAssembler()
      .setInputCols(Array("f_uni", "f_bi") ++ prunedFeatureCols(prepared)) // M5/A6
      .setOutputCol("features")
    val clf: PipelineStage = algorithm match {
      case "lr" => new LogisticRegression().setMaxIter(100).setLabelCol("label")
      case "nb" => new NaiveBayes().setSmoothing(1.0).setLabelCol("label")
      case other => throw new IllegalArgumentException(s"unknown tagger algorithm: $other")
    }
    val pipe = new Pipeline().setStages(
      Array[PipelineStage](siModel, ng, cv1, cv2, va, clf))
    val balanced = oversample(prepared, "category", seed)
    Trained(pipe.fit(balanced), siModel.labelsArray(0))
  }

  /** M7 + M12 — the reference's in-frame train/eval protocol
    * (ClassificationModelGeneration.py:225,245): randomSplit 75/25 at
    * seed 42 over the labeled frame (the re-expression of sklearn
    * train_test_split(test_size=.25, random_state=42)), fit on the 75%,
    * score the held-out 25%, return the fitted tagger with the per-class
    * classification report.
    */
  def trainEval(labeledRaw: DataFrame, seed: Long = 42L,
      algorithm: String = "lr"): (Trained, Seq[ClassReport]) = {
    // M13 relabel BEFORE the split (the reference relabels upstream of
    // train_test_split): otherwise the eval side keeps raw labels the
    // model can no longer emit and the report deflates
    val labeled = relabel(labeledRaw)
    val Array(tr, te) = labeled.randomSplit(Array(0.75, 0.25), seed)
    val tagger = train(tr, seed, algorithm)
    val scored = predict(tagger, te.withColumnRenamed("category", "category_true"))
      .withColumnRenamed("category", "category_pred")
      .withColumnRenamed("category_true", "category")
    (tagger, classificationReport(scored))
  }

  /** Adds a string `category` column (model prediction). LR pipelines
    * serve through the compiled single-expression path (one codegen'd
    * projection, no per-turn ML-vector plumbing — TaggerServe.scala);
    * other shapes (NaiveBayes alternate, loaded foreign models) fall back
    * to the PipelineModel twin. TaggerSpec pins the two paths
    * prediction-identical over the corpus.
    */
  def predict(t: Trained, df: DataFrame): DataFrame =
    graft.functions.CompiledTagger.compile(t.model, t.labels) match {
      case Some(compiled) =>
        df.withColumn("category",
          graft.functions.TaggerServeFunctions.tagger_predict(col("text_clean"), compiled))
      case None => predictModel(t, df)
    }

  /** PipelineModel serve path — the differential twin of the compiled
    * expression (and the fallback for non-LR models).
    */
  def predictModel(t: Trained, df: DataFrame): DataFrame = {
    val withPred = t.model.transform(prepare(df))
    val its = new IndexToString().setInputCol("prediction").setOutputCol("category")
      .setLabels(t.labels)
    its.transform(withPred)
      .drop(Seq("tokens", "bigrams", "f_uni", "f_bi", "features", "rawPrediction",
        "probability", "prediction", "label") ++ extraFeatureCols: _*)
  }

  /** Per-class precision/recall/f1/support (M12 — the reference's
    * sklearn `classification_report`, ClassificationModelGeneration.py:245).
    */
  final case class ClassReport(category: String, precision: Double, recall: Double,
      f1: Double, support: Long)

  def classificationReport(labeledPred: DataFrame): Seq[ClassReport] = {
    val rows = labeledPred.groupBy("category", "category_pred").count().collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val classes = rows.keys.flatMap(k => Seq(k._1, k._2)).toSeq.distinct.sorted
    classes.map { c =>
      val tp = rows.getOrElse((c, c), 0L).toDouble
      val support = rows.collect { case ((a, _), n) if a == c => n }.sum
      val predicted = rows.collect { case ((_, p), n) if p == c => n }.sum.toDouble
      val prec = if (predicted > 0) tp / predicted else 0.0
      val rec = if (support > 0) tp / support else 0.0
      val f1 = if (prec + rec > 0) 2 * prec * rec / (prec + rec) else 0.0
      ClassReport(c, prec, rec, f1, support)
    }
  }

  /** Weighted f1 over a (category, category_pred) frame — M12 eval. */
  def weightedF1(labeledPred: DataFrame): Double = {
    val report = classificationReport(labeledPred)
    val total = report.map(_.support).sum.toDouble
    report.map(r => r.f1 * r.support / total).sum
  }
}
