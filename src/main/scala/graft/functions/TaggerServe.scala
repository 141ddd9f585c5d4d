package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled LR serve path for the section tagger (M11 at scale).
  *
  * `PipelineModel.transform` evaluates the serve side as five chained ML
  * stages (NGram → 2×CountVectorizerModel → VectorAssembler → LR), each a
  * non-codegen UDF building intermediate arrays and ML vectors per turn —
  * the single biggest stage of the KG pipeline (s2_tag in the bench's
  * per-stage split). This class folds the FITTED model into one native
  * expression: tokenize (shared letter-runs scanner) → count vocab hits
  * directly into sparse (index, value) pairs → margins via the same
  * accumulation order MLlib's sparse gemv uses (intercept first, then
  * ascending feature index, per class) → argmax (first-max tie-break,
  * matching Vector.argmax) → label string. Bit-identical predictions are
  * pinned against the PipelineModel twin in TaggerSpec, and the flagship
  * goldens (q23/q31) freeze the equivalence at driver level.
  *
  * Only the LR pipeline shape compiles; anything else (e.g. the
  * NaiveBayes alternate) falls back to the PipelineModel path.
  *
  * The serial version is declared, so a tagger shipped to executors (it
  * travels inside every task's codegen references) deserializes by field
  * layout, not by a compiler-derived hash that any added member changes.
  */
@SerialVersionUID(1L)
final class CompiledTagger(
    val vocab1: java.util.HashMap[String, Integer],
    val vocab2: java.util.HashMap[String, Integer],
    val v1Size: Int,
    val v2Size: Int,
    val extraSel: Array[Int], // selected indices into NerProxyFast.names layout
    val coef: Array[Double], // k rows × n cols, row-major
    val intercept: Array[Double],
    val labels: Array[String],
    val binomial: Boolean) extends Serializable {

  private val k = intercept.length
  private val n = v1Size + v2Size + extraSel.length

  /** Stable identity across task deserializations: codegen references are
    * re-deserialized PER TASK (each of the tag stage's tasks got its own
    * CompiledTagger copy, so the instance-local lazy folds re-ran 32× per
    * stage — coefT$lzycompute showed up in kg thread-dump samples). All
    * copies of one compiled model now share one per-JVM folded layout via
    * [[CompiledTagger.foldedFor]]. A Java-serialized field survives the
    * round trip (the constructor is not re-run on deserialization).
    */
  val uid: String = java.util.UUID.randomUUID().toString

  // serve-path layout folded once per JVM per model (shared through the
  // companion's uid-keyed cache, never serialized with the expression):
  //  - coefT: index-major transpose of `coef`, so each active feature reads
  //    its k class weights contiguously instead of k strided loads;
  //  - vocab2Nested: bigram vocab as tok1 -> (tok2 -> idx), killing the
  //    per-bigram "tok1 tok2" concat+hash (NGram separator is a single
  //    space and letter-run tokens cannot contain one, so the nested
  //    lookup accepts exactly the pairs the flat key accepted);
  //  - scratch: per-thread dense (values, touched) arrays replacing the
  //    boxed TreeMap (profiling: TreeMap.getEntry was the hottest tag
  //    frame). Ascending-index accumulation order — and therefore the
  //    float result — is preserved by sorting the touched list, and counts
  //    are exact small integers so gather order cannot change them.
  private[functions] def buildFolded(): CompiledTagger.Folded = {
    val t = new Array[Double](n * k)
    var c = 0
    while (c < k) {
      var j = 0
      while (j < n) { t(j * k + c) = coef(c * n + j); j += 1 }
      c += 1
    }
    val m = new java.util.HashMap[String, java.util.HashMap[String, Integer]]()
    val it = vocab2.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val key = e.getKey
      val sp = key.indexOf(' ')
      if (sp > 0) {
        val first = key.substring(0, sp)
        val second = key.substring(sp + 1)
        var inner = m.get(first)
        if (inner == null) { inner = new java.util.HashMap[String, Integer](); m.put(first, inner) }
        inner.put(second, e.getValue)
      }
    }
    CompiledTagger.Folded(t, m,
      ThreadLocal.withInitial(() => (new Array[Double](n), new Array[Int](n))))
  }

  @transient private lazy val folded: CompiledTagger.Folded =
    CompiledTagger.foldedFor(this)

  def predict(text: String): String = {
    val fd = folded
    val coefT = fd.coefT
    val vocab2Nested = fd.vocab2Nested
    val (vals, touched) = fd.scratch.get()
    var m = 0
    try {
      val toks = TokenizeEvals.letterRunsStr(text)
      var i = 0
    while (i < toks.length) {
      val idx = vocab1.get(toks(i))
      if (idx != null) {
        val j = idx.intValue()
        if (vals(j) == 0.0) { touched(m) = j; m += 1 }
        vals(j) += 1.0
      }
      i += 1
    }
    i = 0
    while (i < toks.length - 1) {
      val inner = vocab2Nested.get(toks(i))
      if (inner != null) {
        val idx = inner.get(toks(i + 1))
        if (idx != null) {
          val j = idx.intValue() + v1Size
          if (vals(j) == 0.0) { touched(m) = j; m += 1 }
          vals(j) += 1.0
        }
      }
      i += 1
    }
    if (extraSel.length > 0) {
      val extras = NerProxyFast.rawCounts(text)
      var e = 0
      while (e < extraSel.length) {
        val v = extras(extraSel(e))
        if (v != 0.0) {
          val j = v1Size + v2Size + e
          touched(m) = j; m += 1 // extra indices are distinct and unseen
          vals(j) = v
        }
        e += 1
      }
    }
    // margins = intercept + W * x (per class: intercept first, ascending idx)
    java.util.Arrays.sort(touched, 0, m)
    val margins = java.util.Arrays.copyOf(intercept, k)
    var t = 0
    while (t < m) {
      val idx = touched(t)
      val v = vals(idx)
      vals(idx) = 0.0 // reset for the thread's next call
      val base = idx * k
      var c = 0
      while (c < k) {
        margins(c) += coefT(base + c) * v
        c += 1
      }
      t += 1
    }
    val cls =
      if (binomial) { if (margins(0) > 0.0) 1 else 0 }
      else {
        var best = 0
        var c = 1
        while (c < k) {
          if (margins(c) > margins(best)) best = c
          c += 1
        }
        best
      }
    labels(cls)
    } catch {
      case e: Throwable => // never leak scratch residue into the next call
        var x = 0
        while (x < m) { vals(touched(x)) = 0.0; x += 1 }
        throw e
    }
  }
}

object CompiledTagger {

  /** Per-JVM folded serve layout shared by every deserialized copy of one
    * compiled model (keyed by [[CompiledTagger.uid]]). Arrays and maps are
    * write-once before publication and read-only after, so cross-task
    * sharing is safe; access-ordered LRU bounded at 32 models (a dropped
    * entry only costs a rebuild, never correctness).
    */
  private[functions] final case class Folded(
      coefT: Array[Double],
      vocab2Nested: java.util.HashMap[String, java.util.HashMap[String, Integer]],
      scratch: ThreadLocal[(Array[Double], Array[Int])])

  private val foldCacheMax = 32
  private val foldCache = new java.util.LinkedHashMap[String, Folded](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Folded]): Boolean =
      size() > foldCacheMax
  }

  /** The lock guards only the map: a first-touch build runs outside it, so
    * it never blocks tasks serving another model. Two tasks racing on the
    * same new model may both build; the first insert wins.
    */
  private[functions] def foldedFor(t: CompiledTagger): Folded = {
    val hit = foldCache.synchronized(foldCache.get(t.uid))
    if (hit != null) hit
    else {
      val built = t.buildFolded()
      foldCache.synchronized(Option(foldCache.putIfAbsent(t.uid, built)).getOrElse(built))
    }
  }

  import org.apache.spark.ml.PipelineModel
  import org.apache.spark.ml.classification.LogisticRegressionModel
  import org.apache.spark.ml.feature.{CountVectorizerModel, VectorAssembler}

  /** Fold a fitted LR tagger pipeline into a CompiledTagger; None when the
    * stage shapes do not match (non-LR classifier, unexpected assembler
    * layout, non-default threshold) so callers fall back to the
    * PipelineModel path.
    */
  def compile(model: PipelineModel, labels: Array[String]): Option[CompiledTagger] = {
    import org.apache.spark.ml.feature.NGram
    val cvs = model.stages.collect { case c: CountVectorizerModel => c }
    val ngrams = model.stages.collect { case n: NGram => n }
    val va = model.stages.collectFirst { case v: VectorAssembler => v }
    val lr = model.stages.collectFirst { case l: LogisticRegressionModel => l }
    // getThreshold THROWS (rather than defaulting) when a thresholds array
    // is set on a multinomial model — treat that as "shape doesn't
    // compile", not an error
    def defaultThreshold(l: LogisticRegressionModel): Boolean =
      scala.util.Try(l.getThreshold == 0.5).getOrElse(false)
    (cvs, ngrams, va, lr) match {
      case (Array(cv1, cv2), Array(ng), Some(assembler), Some(lrm))
          if ng.getN == 2 && ng.getInputCol == "tokens" && ng.getOutputCol == "bigrams" &&
            cv1.getInputCol == "tokens" && cv1.getOutputCol == "f_uni" &&
            cv2.getInputCol == "bigrams" && cv2.getOutputCol == "f_bi" &&
            assembler.getInputCols.take(2).sameElements(Array("f_uni", "f_bi")) &&
            !cv1.getBinary && !cv2.getBinary &&
            cv1.getMinTF == 1.0 && cv2.getMinTF == 1.0 &&
            defaultThreshold(lrm) =>
        def toMap(vocab: Array[String]): java.util.HashMap[String, Integer] = {
          val m = new java.util.HashMap[String, Integer](vocab.length * 2)
          vocab.zipWithIndex.foreach { case (t, i) => m.put(t, i) }
          m
        }
        val extraNames = assembler.getInputCols.drop(2)
        val layout = NerProxyFast.names.toArray
        if (!extraNames.forall(layout.contains(_))) return None
        val extraSel = extraNames.map(layout.indexOf(_))
        val cm = lrm.coefficientMatrix
        val k = cm.numRows
        val n = cm.numCols
        // the serve path indexes coef(c*n + idx) with n = vocab1 + vocab2
        // + extras — any other assembled width must fall back to the
        // PipelineModel twin instead of silently reading wrong strides
        if (n != cv1.vocabulary.length + cv2.vocabulary.length + extraSel.length) return None
        val coef = new Array[Double](k * n)
        cm.foreachActive { case (r, c, v) => coef(r * n + c) = v }
        Some(new CompiledTagger(
          toMap(cv1.vocabulary), toMap(cv2.vocabulary),
          cv1.vocabulary.length, cv2.vocabulary.length,
          extraSel,
          coef,
          lrm.interceptVector.toArray,
          labels,
          binomial = k == 1))
      case _ => None
    }
  }
}

case class TaggerPredictExpr(child: Expression, model: CompiledTagger)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "tagger_predict"
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(model.predict(input.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("compiledTagger", model,
      classOf[CompiledTagger].getName)
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.unsafe.types.UTF8String.fromString($ref.predict($c.toString()))")
  }
  override protected def withNewChildInternal(newChild: Expression): TaggerPredictExpr =
    copy(child = newChild)
}

object TaggerServeFunctions {
  def tagger_predict(c: Column, model: CompiledTagger): Column =
    Bridge.column(TaggerPredictExpr(Bridge.expression(c), model))
}
