package graft

import org.apache.spark.sql.SparkSession

import graft.ml.SectionTagger
import graft.obs.StageMetrics
import graft.sources.TranscriptGen

/** The 100x scale anchor (VERDICT r4 item 8): ONE recorded end-to-end
  * kg-pipeline leg at >= 100M turns — an order of magnitude above the
  * 12.6M-turn round-3 best — with per-stage wall seconds and shuffle
  * bytes, proving the stage shapes (clustered conv aggregation, banded
  * dedup, broadcast dims) hold as data grows, not just that sf0.1
  * finishes. The stage decomposition is [[Bench.kgStages]] (eager-
  * unpersist mode), which composes the same KgPipeline stage functions
  * as the fused run and PipelineMain — so the anchor, the driver bench
  * and the shipped driver measure one S4-S6 plan (the one-join emit).
  * A [[StageMetrics]] collector started AFTER generation
  * and tagger training folds only the PIPELINE stages' shuffle
  * read/write into totals and a peak, so the artifact shows where the
  * exchange pressure actually lands.
  *
  * Run via direct java with a large heap (the turn set no longer fits
  * an 8g bench heap; stage caches spill via MEMORY_AND_DISK):
  * `SPARK_GRAFT_CONVS=6400000 java -Xmx90g ... graft.AnchorScale`.
  */
object AnchorScale {

  def main(args: Array[String]): Unit = {
    // 6.4M convs ≈ 101M turns at the bench generator's ~15.8 turns/conv
    val nConvs = sys.env.getOrElse("SPARK_GRAFT_CONVS", "6400000").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local(cpus, appName = "graft-anchor-scale")
    spark.sparkContext.setLogLevel("WARN")
    implicit val s: SparkSession = spark

    val tagger = SectionTagger.train(
      KgPipeline.taggerTrainingFrame(spark, nConvs = 200))
    // generation is outside the pipeline account but timed for context;
    // the turn set is PERSISTED before the timed region (as in
    // Bench.kgPipeline) so s1_clean measures cleaning, not a second
    // generation pass
    val turns = TranscriptGen.dataset(spark, nConvs, seed = 42L,
        skewConvs = 4, skewTurns = 800)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (nTurns, genSec) = Bench.time(turns.count())

    // the tally sees ONLY the pipeline stages: generation, persist and
    // tagger training have all completed, and start() drains their
    // listener events before it begins counting
    val metrics = StageMetrics.attach(spark.sparkContext)
    metrics.start()
    val ((stages, nTriples), totalSec) =
      Bench.time(Bench.kgStages(spark, tagger, turns, unpersistEagerly = true))
    turns.unpersist()
    val rows = metrics.report()
    val writeTotal = rows.map(_.shuffleWriteBytes).sum
    val readTotal = rows.map(_.shuffleReadBytes).sum
    val peak = rows.filter(_.shuffleWriteBytes > 0).maxByOption(_.shuffleWriteBytes)
    // keep the fragment JSON-safe: stage names embed plan text that may
    // carry quotes/backslashes
    val peakStage = peak.fold("")(r => s"${r.stageId}:${r.name}".take(64)
      .map(c => if (c == '"' || c == '\\') '_' else c))

    def jmap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + f"""\":$v%.1f""" }.mkString("{", ",", "}")
    println(
      f"""{"metric":"anchor_100x","convs":$nConvs,"turns":$nTurns,"triples":$nTriples,"gen_sec":$genSec%.1f,"pipeline_sec":$totalSec%.1f,"turns_per_sec":${nTurns / totalSec}%.1f,"stages":${jmap(stages)},"shuffle_write_gb":${writeTotal / 1e9}%.2f,"shuffle_read_gb":${readTotal / 1e9}%.2f,"peak_stage_write_gb":${peak.fold(0L)(_.shuffleWriteBytes) / 1e9}%.2f,"peak_stage":"$peakStage","cores":$cpus}""")
    spark.stop()
  }
}
