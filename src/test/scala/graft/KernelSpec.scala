package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.{Kernel, Kernels}
import graft.sources.TranscriptGen

/** Every [[Kernels]] declaration, one table row each: the codegen'd
  * whole-stage projection and the interpreted `Kernel.eval` (whole-stage
  * codegen off, `NO_CODEGEN` projection factory) must give the same rows on
  * 2,000 generated turns plus a null and an empty one, and the kernel's
  * name must show in the executed plan inside a codegen span.
  */
class KernelSpec extends SparkSpec {

  private val txt = col("text")
  private val cl = col("text_clean")
  private val vec = when(cl.isNotNull, array(length(cl).cast("float"), lit(1.0f)))
  private val planes = Array(Array(1.0, -0.5), Array(-0.25, 1.0), Array(0.5, 0.5), Array(-1.0, 0.1))

  /** kernel -> its call over the turns frame (text, text_clean) */
  private val table: Seq[(Kernel.Fn, Column)] = Seq(
    Kernels.clean_text -> Kernels.clean_text(txt),
    Kernels.nfkd_normalize -> Kernels.nfkd_normalize(txt),
    Kernels.letter_runs -> Kernels.letter_runs(cl),
    Kernels.ner_proxy_counts -> Kernels.ner_proxy_counts(cl),
    Kernels.extract_locations -> Kernels.extract_locations(cl),
    Kernels.extract_orgs -> Kernels.extract_orgs(txt),
    Kernels.extract_dates -> Kernels.extract_dates(cl),
    Kernels.extract_employment -> Kernels.extract_employment(cl),
    Kernels.extract_education -> Kernels.extract_education(cl),
    Kernels.extract_salary -> Kernels.extract_salary(cl),
    Kernels.has_cjk -> Kernels.has_cjk(txt),
    Kernels.lang_id -> Kernels.lang_id(lower(txt)),
    Kernels.lang_id_trigram -> Kernels.lang_id_trigram(lower(txt)),
    Kernels.quality_score -> Kernels.quality_score(lower(txt)),
    Kernels.ws_token_count -> Kernels.ws_token_count(txt),
    Kernels.bpe_token_count -> Kernels.bpe_token_count(txt),
    Kernels.collapse_ws -> Kernels.collapse_ws(lower(txt)),
    Kernels.ascii_normalize -> Kernels.ascii_normalize(lower(txt)),
    Kernels.repetition_stats -> Kernels.repetition_stats(txt),
    Kernels.redact_pii -> Kernels.redact_pii(txt),
    Kernels.word_shingles -> Kernels.word_shingles.withConsts(3)(cl),
    Kernels.minhash_bands ->
      Kernels.minhash_bands.withConsts(4, 2, 7L)(Kernels.word_shingles.withConsts(2)(cl)),
    Kernels.filter_skills_dbscan -> Kernels.filter_skills_dbscan(split(cl, " ")),
    // odd-length turns mismatch dims and re-check to null
    Kernels.cosine_f -> Kernels.cosine_f(vec, when(length(cl) % 2 === 0, array(lit(2.0f), lit(1.0f)))
      .otherwise(array(lit(2.0f), lit(1.0f), lit(0.5f)))),
    Kernels.lsh_buckets -> Kernels.lsh_buckets.withConsts(planes.flatten, 2, 2)(vec),
    Kernels.translate_chunks -> Kernels.translate_chunks(split(txt, "\\. "), lit("es")))

  /** 2,000 generated turns plus a null and an empty one, as an RDD scan so
    * the projection over it is codegen'd (a local Seq would be folded by
    * the optimizer, interpreted).
    */
  private lazy val rows: Seq[Row] = {
    val turns = KgPipeline.cleanTurns(TranscriptGen.dataset(spark, 200, 42L))
      .select("text", "text_clean").limit(2000).collect().toSeq
    assert(turns.length == 2000)
    turns ++ Seq(Row(null, null), Row("", ""))
  }

  private def frame(session: SparkSession): DataFrame =
    session.createDataFrame(session.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("text", StringType), StructField("text_clean", StringType))))

  private lazy val interpreted: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    s
  }

  test("the table covers every declared kernel") {
    val declared = Kernels.getClass.getMethods
      .filter(m => m.getParameterCount == 0 && m.getReturnType == classOf[Kernel.Fn])
      .map(_.invoke(Kernels).asInstanceOf[Kernel.Fn].name).toSet
    assert(declared.size == 26)
    assert(table.map(_._1.name).toSet == declared)
  }

  table.foreach { case (fn, call) =>
    test(s"${fn.name}: interpreted eval == codegen'd projection, name in the plan") {
      val compiled = frame(spark).select(call.as("k"))
      val plan = compiled.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains(fn.name)), plan)
      val viaEval = frame(interpreted).select(call.as("k"))
      assert(!viaEval.queryExecution.executedPlan.toString.contains("*("))

      val want = compiled.collect().toSeq
      val got = viaEval.collect().toSeq
      assert(want.length == rows.length)
      rows.indices.foreach { i =>
        assert(got(i) == want(i), s"row $i: ${rows(i)}")
      }
      // the null turn: null out, except for a kernel that is never null
      assert(want(rows.length - 2).isNullAt(0) == (fn.nulls != Kernel.NeverNull))
    }
  }
}
