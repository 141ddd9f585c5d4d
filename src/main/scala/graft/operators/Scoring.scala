package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.rules.DictRules
import graft.sources.Dims

/** Taxonomy scoring (X15 sector, X16 ISCO walk + salary estimate). The
  * reference walks in-memory trees per posting (utilities.py:678-742); here
  * the propagated trees are precomputed weight tables (A8/A9 rollup).
  *
  * The pipeline scores with [[enrich]]: one conversation at a time, against
  * the weight rows and salary dims held in every executor's JVM, so S5 adds
  * no job and no exchange. The broadcast-join forms below ([[sectors]],
  * [[isco3]], [[sectorAndIsco]], [[estimateDim]]) are the reference twins
  * the per-conversation path is pinned against (MapSideEmitSpec, q50).
  */
object Scoring {

  def naceWeightDf(implicit spark: SparkSession): DataFrame =
    spark.createDataFrame(DictRules.naceWeightRows).toDF("node", "skill", "w")

  def iscoWeightDf(implicit spark: SparkSession): DataFrame =
    spark.createDataFrame(DictRules.iscoWeightRows).toDF("level", "node", "skill", "w")

  /** argmax node per conv with the reference's first-max tie-break
    * (node order = ascending code; utilities.py:698 score.index(max)).
    */
  private def argmax(scores: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy(desc("score"), asc("node"))
    scores.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** A7 distributed twin — skill popularity + ambiguous-surface resolution
    * (utilities.py:363-380, 843-857): popularity = relation-row count per
    * skill (map-side-combined groupBy over the occupation-skill relation
    * table), broadcast into an argmax by (popularity desc, candidate order
    * asc) per surface. At ESCO scale both sides are dim-sized (~13k
    * surfaces, ~100k relations) so the join broadcasts; mention rows never
    * enter — the resolved dict ships to executors as a broadcast map.
    *
    * relations(occ, skill); candidates(surface, cand, cand_idx) ->
    * (surface, preferred). Pinned equal to Dims.skillSurfaceToPreferred.
    */
  def resolveSkillSurfaces(relations: DataFrame, candidates: DataFrame)(
      implicit spark: SparkSession): DataFrame = {
    val pop = relations.groupBy("skill").agg(count(lit(1)).as("pop"))
    candidates
      .join(broadcast(pop), candidates("cand") === pop("skill"), "left")
      .na.fill(0L, Seq("pop"))
      .groupBy("surface")
      // strict first-max in candidate order (the reference's `popv > count`)
      .agg(expr("max_by(cand, struct(pop, -cand_idx))").as("preferred"))
  }

  /** convSkills(conv_id, skill) -> (conv_id, sector). */
  def sectors(convSkills: DataFrame)(implicit spark: SparkSession): DataFrame = {
    val scored = convSkills
      .join(broadcast(naceWeightDf), "skill")
      .groupBy("conv_id", "node").agg(sum("w").as("score"))
    argmax(scored)
      .select(col("conv_id"),
        element_at(typedlit(Dims.naceName), col("node")).as("sector"))
  }

  /** convSkills -> (conv_id, isco3) via the 3-level prefix-constrained walk. */
  def isco3(convSkills: DataFrame)(implicit spark: SparkSession): DataFrame = {
    val scored = convSkills
      .join(broadcast(iscoWeightDf), "skill")
      .groupBy("conv_id", "level", "node").agg(sum("w").as("score"))
      .cache()
    var chosen = argmax(scored.filter(col("level") === 1))
      .select(col("conv_id"), col("node").as("prefix"))
    Seq(2, 3).foreach { lvl =>
      val lvlScores = scored.filter(col("level") === lvl)
        .join(chosen, "conv_id")
        .filter(col("node").startsWith(col("prefix")))
        .select("conv_id", "node", "score")
      chosen = argmax(lvlScores).select(col("conv_id"), col("node").as("prefix"))
    }
    chosen.select(col("conv_id"), col("prefix").as("isco3"))
  }

  /** Salary-estimate dim: every (country, isco3) pair with the final
    * EUR-converted, int-truncated yearly estimate (utilities.py:729-740).
    */
  def estimateDim(implicit spark: SparkSession): DataFrame = {
    val rows = for {
      c <- Dims.countries
      o <- Dims.occupations
    } yield (c.name, o.isco3,
      (Dims.monthlySalary(c.iso2, o.isco3) * 12 * Dims.fxToEur(c.currency)).toInt)
    spark.createDataFrame(rows).toDF("location", "isco3", "estimated_salary")
  }

  /** Single-pass join twin: ONE broadcast join + ONE partial-aggregated
    * shuffle + ONE mapGroups computes the NACE sector argmax and the whole
    * 3-level ISCO walk together. The per-op functions above are the
    * readable reference implementations (the differential spec pins this
    * path against them). Kept as the distributed reference for
    * [[sectorIscoPure]]; the pipeline scores with [[enrich]].
    * Returns (conv_id, sector, isco3).
    */
  def sectorAndIsco(convSkills: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val weights = {
      val nace = DictRules.naceWeightRows.map { case (node, skill, w) => (0, node, skill, w) }
      val isco = DictRules.iscoWeightRows.map { case (l, node, skill, w) => (l, node, skill, w) }
      spark.createDataFrame(nace ++ isco).toDF("level", "node", "skill", "w")
    }
    val naceNameMap = Dims.naceName
    convSkills
      .join(broadcast(weights), "skill")
      .groupBy(col("conv_id"), col("level"), col("node"))
      .agg(sum("w").as("score"))
      .select(col("conv_id"), col("level"), col("node"), col("score"))
      .as[(String, Int, String, Double)]
      .groupByKey(_._1)
      .mapGroups { (convId, it) =>
        val rows = it.toArray
        // first-max-in-node-order argmax (node codes ascending)
        def argmax(level: Int, prefix: String): Option[String] = {
          val cand = rows.filter(r => r._2 == level && r._3.startsWith(prefix)).sortBy(_._3)
          if (cand.isEmpty) None
          else {
            var best = cand.head
            cand.tail.foreach(c => if (c._4 > best._4) best = c)
            Some(best._3)
          }
        }
        val sector = argmax(0, "").map(naceNameMap).getOrElse("")
        var prefix = ""
        (1 to 3).foreach(l => prefix = argmax(l, prefix).getOrElse(prefix))
        (convId, sector, prefix)
      }
      .toDF("conv_id", "sector", "isco3")
  }

  private lazy val weightRowsBySkill: Map[String, Seq[(Int, String, Double)]] =
    (DictRules.naceWeightRows.map { case (n, s, w) => (s, (0, n, w)) } ++
      DictRules.iscoWeightRows.map { case (l, n, s, w) => (s, (l, n, w)) })
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  /** Pure per-conversation twin of [[sectorAndIsco]] with ITS exact
    * inner-join edge semantics: a conversation whose skills match NO
    * weight row yields None (the join produces no rows, so the batch path
    * emits no sector/estimate triples for it — unlike DictRules.sector,
    * which scores every node and returns the head on an all-zero match).
    * [[enrich]] scores every conversation with it, batch and streaming.
    */
  def sectorIscoPure(skills: Seq[String]): Option[(String, String)] = {
    val acc = scala.collection.mutable.HashMap.empty[(Int, String), Double]
    skills.foreach { s =>
      weightRowsBySkill.getOrElse(s, Nil).foreach { case (l, n, w) =>
        acc((l, n)) = acc.getOrElse((l, n), 0.0) + w
      }
    }
    if (acc.isEmpty) None
    else {
      def argmax(level: Int, prefix: String): Option[String] = {
        val cand = acc.toSeq
          .collect { case ((l, n), sc) if l == level && n.startsWith(prefix) => (n, sc) }
          .sortBy(_._1)
        if (cand.isEmpty) None
        else {
          var best = cand.head
          cand.tail.foreach(c => if (c._2 > best._2) best = c)
          Some(best._1)
        }
      }
      val sector = argmax(0, "").map(Dims.naceName).getOrElse("")
      var prefix = ""
      (1 to 3).foreach(l => prefix = argmax(l, prefix).getOrElse(prefix))
      Some((sector, prefix))
    }
  }

  /** Pure twin of the left joins onto [[estimateDim]] by (location, isco3):
    * None unless the walked isco3 is a real occupation code AND the
    * location names a dim country.
    */
  def estimatePure(isco3: String, location: Option[String]): Option[Int] =
    for {
      loc <- location
      country <- Dims.countryByName.get(loc)
      if Dims.occupationByIsco.contains(isco3)
    } yield (Dims.monthlySalary(country.iso2, isco3) * 12 *
      Dims.fxToEur(country.currency)).toInt

  /** S5 for one conversation: sector and salary estimate from its own
    * skills and location, with the join twins' edge semantics — no sector
    * and no estimate when no skill carries taxonomy mass (the inner join
    * finds no row), no estimate unless the walk reaches a real occupation
    * code and the location names a dim country.
    */
  def enrich(c: ConvExtract): ConvFull = enrich(c, sectorIscoPure(c.skills))

  /** [[enrich]] from a given (sector, isco3) score, the shape one
    * [[sectorAndIsco]] row carries.
    */
  def enrich(c: ConvExtract, si: Option[(String, String)]): ConvFull =
    ConvFull(c.conv_id, c.title, c.skills, c.employment, c.location,
      c.education, c.sal_values, c.currencies, c.work_hours, c.tools,
      c.start_dates, c.deadline_dates,
      sector = si.map(_._1),
      estimated_salary = si.flatMap { case (_, code) => estimatePure(code, c.location) })
}
