package graft.functions

import java.lang.reflect.{InvocationTargetException, Method, Modifier}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** One per-row kernel as a Catalyst expression: `fn` names the kernel and
  * the static evaluator that both the generated code and the interpreted
  * `eval` call, so a kernel is one [[Kernel.Fn]] declaration (see
  * [[Kernels]]), not an Expression class of its own.
  *
  * `children` are the per-row inputs; `consts` are trailing constant
  * arguments (MinHash bands/rows/seed, shingle k, LSH planes), passed to
  * the evaluator as they are. They are plain values, not literal children:
  * Int/Long constants are spliced into the generated call as Java literals
  * and anything else (the planes array) goes through `references`, with
  * no per-row conversion and no fresh variables; the SQL name lists only
  * the inputs (`word_shingles(text)`) and the plan string shows the
  * constants too (`minhash_bands(sh, 12, 2, 42)`).
  *
  * Generated code follows Spark's own templates — UnaryExpression's for
  * one input, BinaryExpression's nesting for more — so a kernel's static
  * call sits in the whole-stage span exactly as a hand-written
  * UnaryExpression/BinaryExpression would put it.
  */
case class Kernel(fn: Kernel.Fn, children: Seq[Expression], consts: Seq[Any] = Nil)
    extends Expression {
  import Kernel._

  override def dataType: DataType = fn.dataType
  override def prettyName: String = fn.name
  override def nullable: Boolean = fn.nulls match {
    case Propagate => children.exists(_.nullable)
    case Recheck => true
    case NeverNull => false
  }
  override def foldable: Boolean = children.forall(_.foldable)
  override protected def stringArgs: Iterator[Any] = (children ++ consts).iterator

  override def checkInputDataTypes(): TypeCheckResult = fn.accepts match {
    case Some(want) => (children.head.dataType, want) match {
      // NullType: a null literal / all-null CASE branch evaluates to null,
      // like every builtin function
      case (NullType, _) => TypeCheckResult.TypeCheckSuccess
      case (ArrayType(got, _), ArrayType(w, _)) if got == w => TypeCheckResult.TypeCheckSuccess
      case (got, _) if got == want => TypeCheckResult.TypeCheckSuccess
      case (got, _) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects ${want.simpleString}, got ${got.simpleString}")
    }
    case None => TypeCheckResult.TypeCheckSuccess
  }

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.length + consts.length)
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v == null && fn.nulls != NeverNull) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    consts.foreach { c => args(i) = c.asInstanceOf[AnyRef]; i += 1 }
    try fn.method.invoke(null, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val constArgs = consts.map {
      case i: Int => i.toString
      case l: Long => s"${l}L"
      case other => ctx.addReferenceObj("const", other)
    }
    val gens = children.map(_.genCode(ctx))
    val inputCode = gens.map(_.code.toString).mkString("\n")
    val javaType = CodeGenerator.javaType(dataType)
    val default = CodeGenerator.defaultValue(dataType)
    def call(args: Seq[String]): String = s"${fn.evaluator}(${(args ++ constArgs).mkString(", ")})"

    if (fn.nulls == NeverNull) {
      // the evaluator takes null inputs itself and never returns null
      val args = gens.map(g => s"${g.isNull} ? null : ${g.value}")
      ev.copy(code = code"""
        $inputCode
        $javaType ${ev.value} =
          ${call(args)};""", isNull = FalseLiteral)
    } else {
      val result = call(gens.map(_.value.toString))
      val resultCode =
        if (fn.nulls == Propagate) s"${ev.value} = $result;"
        else if (CodeGenerator.isPrimitiveType(dataType)) {
          // a primitive result comes back boxed so that null can re-check
          val res = ctx.freshName("res")
          s"""
            ${CodeGenerator.boxedType(dataType)} $res = $result;
            ${ev.isNull} = ($res == null);
            ${ev.value} = ${ev.isNull} ? $default : $res.${javaType}Value();
          """
        } else s"""
            ${ev.value} = $result;
            ${ev.isNull} = (${ev.value} == null);
          """
      if (!nullable) ev.copy(code = code"""
        $inputCode
        $javaType ${ev.value} = $default;
        $resultCode""", isNull = FalseLiteral)
      else if (gens.length == 1) {
        val in = gens.head
        ev.copy(code = code"""
          ${in.code}
          boolean ${ev.isNull} = ${in.isNull};
          $javaType ${ev.value} = $default;
          ${ctx.nullSafeExec(children.head.nullable, in.isNull.toString)(resultCode)}
        """)
      } else {
        val nested = gens.zip(children).foldRight(s"""
              ${ev.isNull} = false; // resultCode could change nullability.
              $resultCode
            """) { case ((g, c), body) => g.code.toString + ctx.nullSafeExec(c.nullable, g.isNull.toString)(body) }
        ev.copy(code = code"""
          boolean ${ev.isNull} = true;
          $javaType ${ev.value} = $default;
          $nested
        """)
      }
    }
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Kernel =
    copy(children = newChildren)
}

object Kernel {

  /** How a kernel treats null. */
  sealed trait Nulls
  /** A null input yields null without calling the evaluator. */
  case object Propagate extends Nulls
  /** As [[Propagate]], and the evaluator may return null too (salary's
    * closed gate, cosine's dimension mismatch).
    */
  case object Recheck extends Nulls
  /** The evaluator takes null inputs and never returns null (employment). */
  case object NeverNull extends Nulls

  /** One kernel's declaration.
    *
    * @param name      the SQL/plan name (`prettyName`)
    * @param evaluator fully qualified static method, e.g.
    *                  `graft.functions.MentionEvals.orgs`; its parameters
    *                  are the inputs followed by the constants
    * @param accepts   the first input's required type, checked at analysis
    *                  (string or array<string>; NullType always passes)
    */
  final case class Fn(name: String, dataType: DataType, evaluator: String,
      nulls: Nulls = Propagate, accepts: Option[DataType] = None) {

    def apply(inputs: Column*): Column = withConsts()(inputs: _*)

    def withConsts(consts: Any*)(inputs: Column*): Column =
      Bridge.column(Kernel(this, inputs.map(Bridge.expression), consts))

    @transient private[functions] lazy val method: Method = {
      val dot = evaluator.lastIndexOf('.')
      val static = evaluator.substring(dot + 1)
      Class.forName(evaluator.substring(0, dot)).getMethods
        .filter(m => m.getName == static && Modifier.isStatic(m.getModifiers)) match {
        case Array(m) => m
        case ms => throw new IllegalStateException(
          s"$evaluator: expected one static method, found ${ms.length}")
      }
    }
  }
}

/** Every per-row kernel, one declaration each; call as
  * `Kernels.extract_orgs(col("text"))`, constants first when there are
  * any: `Kernels.word_shingles.withConsts(k)(col("text"))`.
  */
object Kernels {
  import Kernel.{Fn, NeverNull, Recheck}

  private val strings = ArrayType(StringType, containsNull = false)
  private val longs = ArrayType(LongType, containsNull = false)

  // S1 clean and the tagger's features
  val clean_text = Fn("clean_text", StringType, "graft.functions.CleanFast.cleanUTF8",
    accepts = Some(StringType))
  val nfkd_normalize = Fn("nfkd_normalize", StringType, "graft.functions.NfkdNormalize.normalize")
  val letter_runs = Fn("letter_runs", strings, "graft.functions.TokenizeEvals.letterRuns")
  val ner_proxy_counts = Fn("ner_proxy_counts", ArrayType(DoubleType, containsNull = false),
    "graft.functions.NerProxyFast.counts")

  // S3 extraction
  val extract_locations = Fn("extract_locations", strings, "graft.functions.MentionEvals.locations")
  val extract_orgs = Fn("extract_orgs", strings, "graft.functions.MentionEvals.orgs")
  val extract_dates = Fn("extract_dates", strings, "graft.functions.MentionEvals.dates")
  val extract_employment = Fn("extract_employment", strings,
    "graft.functions.MentionEvals.employment", nulls = NeverNull)
  val extract_education = Fn("extract_education", strings, "graft.functions.ExtractEvals.education")
  val extract_salary = Fn("extract_salary", ExtractEvals.salarySchema,
    "graft.functions.ExtractEvals.salary", nulls = Recheck)

  // full-corpus scans
  val has_cjk = Fn("has_cjk", BooleanType, "graft.functions.TextEvals.hasCjk")
  val lang_id = Fn("lang_id", StringType, "graft.functions.LangEvals.langId")
  val lang_id_trigram = Fn("lang_id_trigram", StringType, "graft.functions.LangEvals.langIdTrigram")
  val quality_score = Fn("quality_score", DoubleType, "graft.functions.LangEvals.qualityScore")
  val ws_token_count = Fn("ws_token_count", IntegerType, "graft.functions.ScanEvals.wsTokenCount")
  val bpe_token_count = Fn("bpe_token_count", IntegerType, "graft.functions.ScanEvals.bpeTokenCount")
  val collapse_ws = Fn("collapse_ws", StringType, "graft.functions.ScanEvals.collapseWs")
  val ascii_normalize = Fn("ascii_normalize", StringType, "graft.functions.ScanEvals.asciiNormalize")
  val repetition_stats = Fn("repetition_stats", RepetitionEvals.schema,
    "graft.functions.RepetitionEvals.stats")
  val redact_pii = Fn("redact_pii", StringType, "graft.functions.PiiScan.redactUTF8",
    accepts = Some(StringType))

  // dedup, similarity and translation; constants: shingle k; MinHash
  // bands, rows per band, seed; LSH planes (flattened), bands, bits per band
  val word_shingles = Fn("word_shingles", strings, "graft.functions.ShingleFast.shingles",
    accepts = Some(StringType))
  val minhash_bands = Fn("minhash_bands", longs, "graft.functions.MinHashFast.bandBuckets")
  val filter_skills_dbscan = Fn("filter_skills_dbscan", strings,
    "graft.functions.SkillClusterEvals.filterSkills", accepts = Some(ArrayType(StringType)))
  val cosine_f = Fn("cosine_f", DoubleType, "graft.functions.VectorEvals.cosineF", nulls = Recheck)
  val lsh_buckets = Fn("lsh_buckets", longs, "graft.functions.VectorEvals.lshBuckets")
  val translate_chunks = Fn("translate_chunks", strings, "graft.operators.Translate.evalStub")
}
