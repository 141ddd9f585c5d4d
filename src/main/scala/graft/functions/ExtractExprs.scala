package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Salary (X6/X7) and education (X10) extraction as native kernels
  * (`Kernels.extract_salary` / `extract_education`).
  *
  * These were typed `Dataset.map` parsers behind Column gates; on this
  * host every object-encoder boundary costs a full row materialization, so
  * the per-turn path is now end-to-end Tungsten: the generated projection
  * calls the static evaluators below and the gated `when()` keeps the
  * expensive branch lazy.
  */
object ExtractEvals {
  private def strArray(xs: Seq[String]): ArrayData =
    new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])
  private def dblArray(xs: Seq[Double]): ArrayData =
    new GenericArrayData(xs.toArray[Any])

  val salarySchema: StructType = StructType(Seq(
    StructField("values", ArrayType(DoubleType, containsNull = false)),
    StructField("currencies", ArrayType(StringType, containsNull = false)),
    StructField("cur_assoc", ArrayType(DoubleType, containsNull = false)),
    StructField("sw_kw", BooleanType, nullable = false)))

  /** -> [[salarySchema]] struct(values, currencies, cur_assoc, sw_kw) or null. */
  def salary(s: UTF8String): InternalRow = {
    if (s == null) return null
    graft.rules.Rules.extractSalary(s.toString) match {
      case Some(h) =>
        val swKw = h.surrounding.split("[\\s,]+")
          .exists(graft.sources.Dims.salaryCommonKeywords.contains)
        InternalRow(dblArray(h.values), strArray(h.currencies),
          dblArray(h.currencyAssociated), swKw)
      case None => null
    }
  }

  def education(s: UTF8String): ArrayData =
    if (s == null) new GenericArrayData(Array.empty[Any])
    else strArray(graft.rules.Rules.extractEducation(s.toString))
}
