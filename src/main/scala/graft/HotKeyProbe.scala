package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ml.SectionTagger
import graft.obs.StageMetrics
import graft.operators.{ConvFinalize, Dedup, TurnExtract}
import graft.sources.TranscriptGen

/** Adversarial hot-key stress for the two skew-guarded shuffles
  * (VERDICT r3 item 6): evidence that the salted conv aggregation and
  * the LSH bucket caps hold the shuffle BOUNDED when one key dominates.
  *
  *  - Conv path: ONE conversation carries ~10% of all turns
  *    (skewConvs=1 with skewTurns ≈ 0.1 × total). Both the salted
  *    two-level path and the clustered map-side path run under a
  *    [[StageMetrics]] collector; the report includes per-pass seconds
  *    and the straggler ratio (max task duration / median) of the
  *    heaviest stage — the number that explodes when a hot key
  *    serializes one reducer.
  *  - Linking path: a 30k-surface vocabulary where ONE boilerplate
  *    family of 5k near-identical surfaces shares its shingle sets (the
  *    all-pairs bucket would be ~12.5M pairs); bandedMinHashPairs must
  *    star-sample it to ~family-size pairs, and the audit frame reports
  *    the trade (n_oversized_buckets / n_star_pairs) instead of hiding
  *    it. One mention surface also covers ~10% of the mention BAG —
  *    absorbed by the distinct-surface collapse before any pairwise
  *    work, which is the design claim worth demonstrating.
  *
  * One JSON line; recorded in BENCH_SCALING.md.
  */
object HotKeyProbe {

  def main(args: Array[String]): Unit = {
    val nConvs = sys.env.getOrElse("SPARK_GRAFT_CONVS", "100000").toLong
    implicit val spark: SparkSession = Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, appName = "graft-hotkey")
    spark.sparkContext.setLogLevel("WARN")
    val metrics = StageMetrics.attach(spark.sparkContext)

    // ---- conv path: one conversation ≈ 10% of all turns ----------------
    // baseline avg ≈ 15.8 turns/conv, so skewTurns ≈ 1.75 × nConvs puts
    // the hot conversation at ~10% of the total bag
    val skewTurns = (nConvs * 1.75).toInt
    val tagger = SectionTagger.train(KgPipeline.taggerTrainingFrame(spark, nConvs = 200))
    val turns = TranscriptGen.dataset(spark, nConvs, 42L,
      skewConvs = 1, skewTurns = skewTurns).cache()
    val nTurns = turns.count()
    val extracted = TurnExtract.extract(
      SectionTagger.predict(tagger, KgPipeline.cleanTurns(turns))).cache()
    extracted.count()
    val hotShare = extracted.filter(col("conv_id") === "conv-00000000").count().toDouble / nTurns
    def pass(label: String, f: => Long): (Double, Double, Long) = {
      metrics.start()
      val t0 = System.nanoTime()
      val n = f
      val sec = (System.nanoTime() - t0) / 1e9
      val (rat, _) = metrics.heaviestStageStraggler()
      (sec, rat, n)
    }
    // warm-up, then measured passes of both paths
    ConvFinalize.run(extracted).count()
    val (saltSec, saltRat, nc1) = pass("salted", ConvFinalize.run(extracted).count())
    val (clusSec, clusRat, nc2) = pass("clustered", ConvFinalize.runClustered(extracted).count())
    require(nc1 == nc2, s"paths disagree under skew: $nc1 vs $nc2")
    turns.unpersist(); extracted.unpersist()

    // ---- linking path: one 5k near-dup family in a 30k vocabulary ------
    import spark.implicits._
    val surfaces = spark.range(0, 25000)
      .select(concat(lit("org "), md5(col("id").cast("string"))).as("surface"))
      .unionAll(spark.range(0, 5000)
        .select(concat(lit("hub family corp"), lit(" "),
          (col("id") % 5).cast("string")).as("surface"))) // 5 distinct × 1000
      .unionAll(spark.range(0, 5000)
        .select(concat(lit("hubco shared boilerplate entry number "),
          col("id")).as("surface"))) // 5k DISTINCT sharing most shingles
    val nodes = surfaces.distinct()
      .withColumn("id", monotonically_increasing_id())
      .withColumn("shingles",
        array_distinct(transform(
          sequence(lit(0), greatest(length(lower(col("surface"))) - 3, lit(0))),
          i => lower(col("surface")).substr(i + 1, lit(3)))))
      .select("id", "shingles").localCheckpoint()
    val t0 = System.nanoTime()
    val (pairs, audit) = Dedup.bandedMinHashPairsAudited(nodes, bucketCap = 2000)
    val nPairs = pairs.count()
    val lshSec = (System.nanoTime() - t0) / 1e9
    val m = audit.as[(String, Long)].collect().toMap
    spark.stop()
    println(
      f"""{"metric":"hotkey_stress","convs":$nConvs,"turns":$nTurns,"hot_conv_share":$hotShare%.3f,"salted_sec":$saltSec%.2f,"salted_straggler":$saltRat%.2f,"clustered_sec":$clusSec%.2f,"clustered_straggler":$clusRat%.2f,"lsh_pairs":$nPairs,"lsh_sec":$lshSec%.2f,"n_oversized_buckets":${m("n_oversized_buckets")},"n_star_pairs":${m("n_star_pairs")},"max_bucket":${m("max_bucket_size")}}""")
  }
}
