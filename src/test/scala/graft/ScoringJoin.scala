package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Triple
import graft.operators.{ConvExtract, Scoring, TripleEmit}

/** The S5–S6 join chain, kept as the reference the map-side
  * [[KgPipeline.emitTriples]] is pinned against: [[Scoring.sectorAndIsco]]
  * over the exploded skills, then si ⟕ convLoc ⟕ broadcast
  * [[Scoring.estimateDim]], then [[TripleEmit.runEnriched]]'s conv-keyed
  * left join.
  */
object ScoringJoin {

  /** (conv_id, sector, isco3) over the exploded skills. */
  def scores(convs: Dataset[ConvExtract])(implicit spark: SparkSession): DataFrame =
    Scoring.sectorAndIsco(convs.select(col("conv_id"), explode(col("skills")).as("skill")))

  /** (conv_id, sector, estimated_salary) resolved against `si` in one
    * conv-scale join chain. A missed location or dim key just leaves
    * estimated_salary null, so the left joins keep exactly the estimates
    * an inner join would find.
    */
  def enrichScores(si: DataFrame, convs: DataFrame)(implicit spark: SparkSession): DataFrame = {
    val convLoc = convs.select(col("conv_id"), col("location"))
      .filter(col("location").isNotNull)
    si.select(col("conv_id"), col("sector"), col("isco3"))
      .join(convLoc, Seq("conv_id"), "left")
      .join(broadcast(Scoring.estimateDim), Seq("location", "isco3"), "left")
      .select(col("conv_id"), col("sector"), col("estimated_salary"))
  }

  def emitTriples(convs: Dataset[ConvExtract], si: DataFrame, orgCanonical: DataFrame)(
      implicit spark: SparkSession): Dataset[Triple] =
    TripleEmit.runEnriched(convs, enrichScores(si, convs.toDF()), orgCanonical)
}
