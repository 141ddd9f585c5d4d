package graft

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ml.SectionTagger
import graft.operators._
import graft.sources.TranscriptGen

/** Driver-run benchmark: headline queries on SPARK_GRAFT_SF_DIR plus the
  * KG-pipeline throughput (turns/sec), one JSON line on stdout.
  *
  * The KG section is self-evidencing against host interference (this
  * sandbox is a shared-hypervisor VM whose steal time swings 0-50% on a
  * minutes scale — see BENCH_SCALING.md "host noise"):
  *   - `kg_stages`  per-stage wall seconds (S1 clean .. S6 emit), so a slow
  *     total is attributable to a stage rather than opaque;
  *   - `kg_runs`    every end-to-end wall time measured (min is reported as
  *     `kg_pipeline`; a second run is skipped only if the first blew a 120 s
  *     budget, to bound worst-case bench wall time);
  *   - `kg_cpu_sec` JVM process CPU seconds consumed by the best run — CPU
  *     throughput (`turns_per_cpu_sec`) is steal-independent, so
  *     wall-vs-CPU divergence separates "engine got slower" from "VM did
  *     not get its cores";
  *   - `steal_pct`  hypervisor steal share of all host jiffies during the
  *     best run (from /proc/stat), the direct evidence of interference.
  */
object Bench {

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** (steal, total) jiffies from the aggregate `cpu` line of /proc/stat. */
  def stealTicks(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        src.getLines().find(_.startsWith("cpu ")).map { l =>
          val f = l.trim.split("\\s+").drop(1).map(_.toLong)
          // fields: user nice system idle iowait irq softirq steal ...
          (if (f.length > 7) f(7) else 0L, f.sum)
        }
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  def processCpuSec(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => -1.0
  }

  /** One timed measurement wrapped with CPU + steal accounting. */
  final case class Measured(sec: Double, cpuSec: Double, stealPct: Double)

  def measure[A](f: => A): (A, Measured) = {
    val st0 = stealTicks()
    val cpu0 = processCpuSec()
    val (r, sec) = time(f)
    val cpu = processCpuSec() - cpu0
    val steal = (for {
      (s0, t0) <- st0
      (s1, t1) <- stealTicks()
      if t1 > t0
    } yield 100.0 * (s1 - s0) / (t1 - t0)).getOrElse(-1.0)
    (r, Measured(sec, cpu, steal))
  }

  /** Stage-attributed wall times: the KgPipeline stage functions that the
    * fused run composes, each materialized (cache + count) so the deltas
    * isolate one stage; `s6_emit` times the fused run's map-side S5
    * scoring and S6 emit, which have no Spark stage of their own. The
    * sum slightly exceeds a fused end-to-end run (caching overhead), which
    * is why the headline `kg_pipeline` number comes from the un-instrumented
    * runs instead. Every stage cache is unpersisted at the end.
    */
  def kgStages(spark: SparkSession, tagger: SectionTagger.Trained,
      turns: org.apache.spark.sql.Dataset[graft.model.Turn]): Seq[(String, Double)] = {
    implicit val s: SparkSession = spark
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def phase[A](name: String)(f: => A): A = {
      val (r, sec) = time(f)
      out += (name -> sec)
      r
    }
    val cleaned = KgPipeline.cleanTurns(turns).cache()
    phase("s1_clean")(cleaned.count())
    val tagged = SectionTagger.predict(tagger, cleaned).cache()
    phase("s2_tag")(tagged.count())
    val extracted = TurnExtract.extract(tagged).cache()
    phase("s3_extract")(extracted.count())
    // runClustered runs its boundary pass when called: time it with s4
    val convs = phase("s4_conv") {
      val c = ConvFinalize.runClustered(extracted).rdd.persist(StorageLevel.MEMORY_AND_DISK)
      c.count(); c
    }
    // a canonical table (the LSH path) is materialized inside the phase
    val canon = phase("s5_linking")(Linking.link(convs.flatMap(_.orgs)) match {
      case Left(c) => c.cache().count(); Left(c)
      case local => local
    })
    phase("s6_emit")(KgPipeline.emitLinked(convs, canon).count())
    Seq(cleaned, tagged, extracted).foreach(_.unpersist())
    convs.unpersist()
    canon.swap.foreach(_.unpersist())
    out.toSeq
  }

  final case class KgResult(nTurns: Long, nTriples: Long, runs: Seq[Measured],
      stages: Seq[(String, Double)], anomaly: Boolean, cpuFloor: Double)

  /** Quiet-host turns-per-CPU-second floor for the kg pipeline, recorded
    * across rounds 3-4 (BENCH_SCALING.md: best 6,692, typical quiet window
    * 6.3-6.7k at 633k turns). CPU throughput is steal-independent, so a
    * best-run reading far below this floor means the host was contended in
    * a way /proc/stat steal accounting cannot see (CPU-stall inflation —
    * exactly what made BENCH_r04 report 3.5x slower than the same binary
    * on a quiet host: kg_cpu_sec 319.8 vs 94.6, steal 0.4%). The anomaly
    * trigger fires at 60% of the floor. Only meaningful at the default
    * bench size (fixed overhead dominates small runs), so callers gate it
    * on nTurns.
    */
  val kgCpuFloor: Double = 6500.0

  /** Full S1-S6 pipeline over freshly generated turns. The tagger is
    * trained outside the timed region (a persisted model in production).
    *
    * Storm-adaptive repetition: this host's hypervisor steal arrives in
    * sustained multi-minute bursts (BENCH_SCALING.md) and a bench whose
    * only runs land inside one measures the hypervisor, not the engine.
    * So after the mandatory two runs, keep re-running (up to `maxRuns`,
    * within `budgetSec` total measured time) while EVERY run so far saw
    * steal > 3% — each extra run is another chance to catch a quiet
    * window, and all runs stay visible in `kg_runs` with the best run's
    * steal in `steal_pct`.
    */
  def kgPipeline(spark: SparkSession, nConvs: Long, budgetSec: Double = 150.0,
      maxRuns: Int = 6): KgResult = {
    implicit val s: SparkSession = spark
    val tagger = SectionTagger.train(KgPipeline.taggerTrainingFrame(spark, nConvs = 200))
    val turns = TranscriptGen.dataset(spark, nConvs, seed = 42L, skewConvs = 4, skewTurns = 800).cache()
    val nTurns = turns.count()
    val (nTriples, m1) = measure(KgPipeline.computeTriples(turns, tagger).count())
    val runs = scala.collection.mutable.ArrayBuffer(m1)
    def spent = runs.map(_.sec).sum
    // unknown steal (-1, /proc/stat unreadable) counts as quiet: without
    // the signal the extra runs can never terminate early on it
    def allStormy = runs.forall(_.stealPct > 3.0)
    // steal-independent contention detector (the BENCH_r04 failure mode:
    // 3.5x wall + 3.4x CPU inflation at steal 0.4%): the BEST run so far
    // is anomalous while its CPU throughput sits below 60% of the recorded
    // quiet-host floor. Gated on nTurns so small smoke runs (where fixed
    // overhead legitimately dominates CPU-sec) never trip it.
    val floorGate = nTurns >= 500000
    def bestCpuRate = {
      val b = runs.minBy(_.sec)
      if (b.cpuSec > 0) nTurns / b.cpuSec else Double.MaxValue
    }
    def anomalous = floorGate && bestCpuRate < 0.6 * kgCpuFloor
    // run 2 is unconditional unless run 1 itself blew the budget (the
    // pre-adaptive contract) — gating it on projected cost would drop the
    // second sample exactly when a storm inflates the first; only the
    // adaptive runs 3+ pay the projected-cost check
    def more = if (runs.length < 2) runs.head.sec <= budgetSec
               else (allStormy || anomalous) && spent + runs.map(_.sec).min <= budgetSec
    while (runs.length < maxRuns && more) {
      val (_, m) = measure(KgPipeline.computeTriples(turns, tagger).count())
      runs += m
    }
    val stages = kgStages(spark, tagger, turns)
    turns.unpersist()
    KgResult(nTurns, nTriples, runs.toSeq, stages, anomaly = anomalous, cpuFloor = kgCpuFloor)
  }

  /** Single untimed-train + timed end-to-end run — the measurement unit
    * ScalingBench interleaves across parallelism levels.
    */
  def kgOnce(spark: SparkSession, nConvs: Long): (Long, Long, Double) = {
    implicit val s: SparkSession = spark
    val tagger = SectionTagger.train(KgPipeline.taggerTrainingFrame(spark, nConvs = 200))
    val turns = TranscriptGen.dataset(spark, nConvs, seed = 42L, skewConvs = 4, skewTurns = 800).cache()
    val nTurns = turns.count()
    val (nTriples, sec) = time(KgPipeline.computeTriples(turns, tagger).count())
    turns.unpersist()
    (nTurns, nTriples, sec)
  }

  val headline = Seq("q01_pricing_summary", "q02_revenue_by_nation", "q03_top_orders",
    "q04_supplier_first_shipments", "q09_sessionize", "q11_token_counts",
    "q13_quality_score", "q15_exact_dedup", "q17_ann_brute_force",
    "q19_minhash_dedup", "q21_ann_lsh", "q22_multimodal_features")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // 40k convs ≈ 633k turns: big enough that the measured window is
    // dominated by per-turn work, not stage-launch overhead (3k convs ran
    // in the SAME ~10 s wall — all fixed cost)
    val nConvs = sys.env.getOrElse("SPARK_GRAFT_CONVS", "40000").toLong
    val spark = Sessions.local(cpus, appName = "graft-bench")
    spark.sparkContext.setLogLevel("WARN")

    // Untimed warm-up pass over the whole headline set first: this JVM's
    // JIT tier-up window is ~15-20 s (BENCH_SCALING.md), so without it the
    // first heavy queries pay C2 compilation of the shared scan/agg/codegen
    // paths and measure 2x their steady state (observed: q01 1.50 s cold vs
    // 0.68 s steady). One full pass amortizes that across the set.
    headline.foreach(name => SparkEntry.queries.get(name).foreach(fn => fn(spark, sfDir).count()))

    // min-of-QREPS per query with per-query steal tracking: r03's driver
    // artifact showed q21/q22 3x their quiet-host numbers inside a run
    // whose kg-stage steal read 0.1% — the storm hit the HEADLINE segment
    // only, and min-of-2 wasn't enough to duck it. headline_steal_pct
    // makes that segment's interference visible in the artifact itself.
    val qReps = sys.env.getOrElse("SPARK_GRAFT_QREPS", "3").toInt
    var headlineSteal = -1.0
    val qTimes = headline.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        val runs = (1 to qReps).map { _ =>
          val (_, m) = measure(fn(spark, sfDir).count())
          headlineSteal = math.max(headlineSteal, m.stealPct)
          m.sec
        }
        name -> runs.min
      }
    }

    val kg = kgPipeline(spark, nConvs)
    val best = kg.runs.minBy(_.sec)
    val turnsPerSec = kg.nTurns / best.sec
    val turnsPerCpuSec = if (best.cpuSec > 0) kg.nTurns / best.cpuSec else -1.0

    // ANN quality alongside speed: recall@5 of the LSH path vs the exact
    // brute-force baseline on the same queries
    val annRecall = {
      import spark.implicits._
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 20)
      implicit val s: SparkSession = spark
      val brute = graft.operators.SimilaritySearch.bruteForceTopK(q, e, 5)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val lsh = graft.operators.SimilaritySearch.lshTopK(q, e, 5)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (brute intersect lsh).size.toDouble / math.max(brute.size, 1)
    }

    val all = qTimes :+ ("kg_pipeline" -> best.sec)
    def jmap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }.mkString("{", ",", "}")
    val total = all.map(_._2).sum
    val runsJson = kg.runs.map(m => f"${m.sec}%.3f").mkString("[", ",", "]")
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${jmap(all)},"sf":"$sfDir","kg_turns":${kg.nTurns},"kg_triples":${kg.nTriples},"turns_per_sec":$turnsPerSec%.1f,"kg_stages":${jmap(kg.stages)},"kg_runs":$runsJson,"kg_cpu_sec":${best.cpuSec}%.1f,"turns_per_cpu_sec":$turnsPerCpuSec%.1f,"cpu_floor":${kg.cpuFloor}%.1f,"anomaly":${kg.anomaly},"steal_pct":${best.stealPct}%.1f,"headline_steal_pct":$headlineSteal%.1f,"ann_recall_at_5":$annRecall%.3f,"cores":$cpus}""")
    spark.stop()
  }
}
