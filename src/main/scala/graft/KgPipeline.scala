package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ml.SectionTagger
import graft.model.{Triple, Turn}
import graft.operators._
import graft.sources.TranscriptGen

/** End-to-end dataflow S0→S6 (SURVEY §7.1). Stage functions are pure
  * Dataset transforms so the checkpointing driver (graft.PipelineMain) can
  * materialize any prefix and resume from it.
  */
object KgPipeline {

  /** S1 — canonical clean chain as one codegen'd projection (the
    * precompiled clean_text expression; the pure-Column chain it is pinned
    * against lives in operators.CleanText). Any frame with a `text` column:
    * batch turns, the turn stream and the tagger's training frame all
    * clean through this one expression.
    */
  def cleanTurns(turns: Dataset[_]): DataFrame =
    turns.toDF().withColumn("text_clean",
      graft.functions.Kernels.clean_text(col("text")))

  /** Training frame for the tagger: generator-labeled turns from a conv-id
    * region disjoint from any evaluation range (the reference trains on a
    * separate annotated corpus, SURVEY §2.5).
    */
  def taggerTrainingFrame(spark: SparkSession, nConvs: Int = 300,
      firstConv: Long = 1000000L, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    val labeled = spark.range(firstConv, firstConv + nConvs)
      .flatMap(i => TranscriptGen.labeledTurnsFor(i, seed).map { case (t, c) => (t.text, c) })
      .toDF("text", "category")
    cleanTurns(labeled).select("text_clean", "category")
      // pin partition assignment AND in-partition order so model fitting
      // (treeAggregate fold order, per-partition sampling) is bit-identical
      // across parallelism levels — the q23/q31 golden oracles rely on it
      .repartition(8, col("text_clean"))
      .sortWithinPartitions("text_clean", "category")
  }

  /** S1-S6 from raw turns to triples: the fused composition of the stage
    * functions below, the same ones the checkpointing driver and the
    * stage bench call. `extractDates` is the X5 flag (reference ships it
    * disabled — ExtractInfo.py:131-132).
    *
    * S4 resolves conversations via [[ConvFinalize.runClustered]]: inputs
    * here are usually conv-clustered and turn-sorted (transcript tables
    * sorted by (conv_id, turn_idx), the generator), so each conversation
    * resolves in the partition that scans it and only the conversations
    * that straddle a partition boundary take the salted path. Any other
    * order with unique (conv_id, turn_idx) resolves on the salted path
    * whole; a repeated turn throws, never corrupts. Its boundary pass is a
    * job run by this call, over `turns` with S1–S3 pruned to the key
    * columns; `turns` that come out of an uncached shuffle skip it.
    *
    * The resolved conversations are persisted as objects (an RDD, so no
    * encoder round trip and no CacheManager entry; the ContextCleaner
    * drops the blocks once the returned Dataset is gone). S5 linking
    * counts their org surfaces in one job ([[Linking.link]]) that also
    * fills that persist; the triples come from one map-side pass over it
    * ([[emitLinked]]).
    */
  def computeTriples(turns: Dataset[Turn], tagger: SectionTagger.Trained,
      extractDates: Boolean = false)(implicit spark: SparkSession): Dataset[Triple] = {
    val tagged = SectionTagger.predict(tagger, cleanTurns(turns))
    val extracted = TurnExtract.extract(tagged, extractDates)
    val convs = ConvFinalize.runClustered(extracted).rdd.persist(StorageLevel.MEMORY_AND_DISK)
    emitLinked(convs, Linking.link(convs.flatMap(_.orgs)))
  }

  /** S5 linking input — one `surface` row per org mention. */
  def orgMentions(convs: Dataset[ConvExtract]): DataFrame =
    convs.toDF().select(explode(col("orgs")).as("surface"))

  /** S5 scoring + S6 emit, given the canonical org table — the landed
    * `s5_entities` in the checkpointing driver. A table the driver can
    * hold ([[Linking.linkedTable]]) emits map-side ([[emitLinked]]); a
    * larger one is joined. `convs` hold one row per conv_id, as S4
    * writes them.
    */
  def emitTriples(convs: Dataset[ConvExtract], orgCanonical: DataFrame)(
      implicit spark: SparkSession): Dataset[Triple] =
    emitLinked(convs.rdd, Linking.linkedTable(orgCanonical))

  /** S5 scoring + S6 emit. A conversation's sector, ISCO code and salary
    * estimate depend only on its own skills and location (the reference
    * scores each posting on its own, extractor.py:95-128), so both run
    * map-side over the convs: [[Scoring.enrich]] against the weight and
    * salary tables every executor already holds, then
    * [[TripleEmit.convTriples]]. With a driver-sized canonical map the org
    * triples come out of the same pass ([[TripleEmit.orgTriplesOf]] over
    * the broadcast map): one flatMap, no join, no exchange. That is exact
    * because `convs` hold one row per conv_id, so per-conversation
    * distinct is the global one. A canonical table keeps the org triples'
    * join ([[TripleEmit.orgTriples]]).
    */
  def emitLinked(convs: RDD[ConvExtract], canonical: Linking.Linked)(
      implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    canonical match {
      case Right(m) =>
        val canon = spark.sparkContext.broadcast(m)
        spark.createDataset(convs.flatMap(c => TripleEmit.convTriples(Scoring.enrich(c)) ++
          TripleEmit.orgTriplesOf(c.conv_id, c.orgs, s => canon.value.getOrElse(s, s))))
      case Left(table) =>
        spark.createDataset(convs.flatMap(c => TripleEmit.convTriples(Scoring.enrich(c))))
          .union(TripleEmit.orgTriples(spark.createDataset(convs), table))
    }
  }
}
