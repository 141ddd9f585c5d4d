package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.functions.{Kernel, Kernels}
import graft.sources.{Dims, TranscriptGen}

/** The typedlit + filter/transform Column chain X9 ran as before it
  * became the native `extract_employment` expression — the differential
  * twin [[EmploymentSpec]] pins it to. Spark evaluates its lambdas
  * interpreted.
  */
object EmploymentHof {
  def employmentGroupsCol(clean: Column): Column = {
    val surfaceToGroup =
      typedlit(Dims.employmentGroups.flatMap { case (g, ss) => ss.map(_ -> g) }.toMap)
    array_distinct(
      transform(
        filter(typedlit(Dims.employmentKeywords), k => clean.contains(k)),
        k => element_at(surfaceToGroup, k)))
  }
}

class EmploymentSpec extends SparkSpec {

  private def assertTwins(texts: Seq[String]): Unit = {
    import spark.implicits._
    val got = texts.toDF("t").select(col("t"),
      Kernels.extract_employment(col("t")).as("native"),
      EmploymentHof.employmentGroupsCol(col("t")).as("hof"))
      .as[(String, Seq[String], Seq[String])].collect()
    assert(got.length == texts.length)
    got.foreach { case (t, n, h) => assert(n == h, s"input: $t") }
  }

  test("native employment groups == HOF twin on the cleaned corpus") {
    import spark.implicits._
    val cleaned = KgPipeline.cleanTurns(TranscriptGen.dataset(spark, 200, 42L))
      .select(col("text_clean")).as[String].collect().toSeq
    assert(cleaned.exists(_.contains("internship")) || cleaned.exists(_.contains("full time")),
      "corpus holds no employment keyword")
    assertTwins(cleaned)
  }

  test("native employment groups == HOF twin on adversarial strings") {
    assertTwins(Seq(
      "", " ", "no keyword here",
      // overlapping keywords: one surface contains another
      "apprenticeship", "apprentices", "freelancer", "freelancing freelance",
      "fulltime and full time", "traineeship trainee",
      // repeated keywords and groups
      "internship internship internee", "part time part time parttime",
      // group order: text order is not group order
      "zero hour then freelance then internship then part time then full time",
      "mini job casual job fixed term", "zero hourfull time",
      // case and spacing: containment is exact
      "Full Time", "full  time", "fixedcontract"))
    assertTwins(Seq(null))
  }

  test("the expression is never null and evaluates the same interpreted") {
    import spark.implicits._
    val row = Seq[String](null).toDF("t")
      .select(Kernels.extract_employment(col("t")).as("g")).head()
    assert(!row.isNullAt(0) && row.getSeq[String](0).isEmpty)
    def interpreted(s: String): Seq[String] = {
      val a = Kernel(Kernels.extract_employment, Seq(Literal.create(s, StringType))).eval()
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
    }
    assert(interpreted(null).isEmpty)
    assert(interpreted("zero hour then full time then trainee") ==
      Seq("full-time", "internship", "zero-hour"))
  }
}
