package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.ml.SectionTagger
import graft.obs.{StageMetrics, StageRow}
import graft.sources.TranscriptGen

/** Stage-level profiler for the fused kg pipeline and any SparkEntry query
  * (diagnostic only; the benchmark is perfbench).
  *
  * Each target runs `reps` times, the earlier ones warming the JIT. Every
  * rep prints wall, process CPU-s and host steal ([[Bench.measure]]); the
  * last one runs under a [[StageMetrics]] collector, whose job count and
  * stage table (wall, task time, task p50/max, shuffle bytes) follow.
  *
  *  - `kg` counts `KgPipeline.computeTriples` over SPARK_GRAFT_CONVS
  *    generated conversations (default 40000, plus 4 planted 800-turn hot
  *    conversations);
  *  - any other target names a `SparkEntry.queries` entry over the tables
  *    in SPARK_GRAFT_SF_DIR.
  *
  * With SPARK_GRAFT_PLANS set, each target's formatted physical plan is
  * written to `$SPARK_GRAFT_PLANS/<target>.txt` first.
  *
  * Usage: runMain graft.Prof <target>... [reps]   (default 3 reps)
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val (targets, reps) = args.lastOption.flatMap(_.toIntOption) match {
      case Some(n) => (args.init.toSeq, n)
      case None => (args.toSeq, 3)
    }
    require(targets.nonEmpty, "usage: graft.Prof <kg | query name>... [reps]")
    implicit val spark: SparkSession = Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, appName = "graft-prof")
    spark.sparkContext.setLogLevel("WARN")
    try run(targets, reps, sys.env.getOrElse("SPARK_GRAFT_CONVS", "40000").toLong,
      sys.env.get("SPARK_GRAFT_PLANS"))
    finally spark.stop()
  }

  /** Profiles each target in turn; returns its last rep's stage rows. */
  def run(targets: Seq[String], reps: Int, nConvs: Long, planDir: Option[String])(
      implicit spark: SparkSession): Seq[(String, Seq[StageRow])] = {
    lazy val kg: () => DataFrame = {
      val tagger = SectionTagger.train(KgPipeline.taggerTrainingFrame(spark, nConvs = 200))
      val turns = TranscriptGen.dataset(spark, nConvs, seed = 42L,
        skewConvs = 4, skewTurns = 800).cache()
      println(s"[prof] kg turns=${turns.count()}")
      () => KgPipeline.computeTriples(turns, tagger).toDF()
    }
    lazy val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("query targets read their tables from SPARK_GRAFT_SF_DIR"))
    targets.map { t =>
      val frame: () => DataFrame =
        if (t == "kg") kg
        else { val fn = SparkEntry.queries(t); () => fn(spark, sfDir) }
      t -> profile(t, frame, reps, planDir)
    }
  }

  private def profile(target: String, frame: () => DataFrame, reps: Int,
      planDir: Option[String])(implicit spark: SparkSession): Seq[StageRow] = {
    val sc = spark.sparkContext
    planDir.foreach { dir =>
      Files.createDirectories(Paths.get(dir))
      Files.write(Paths.get(dir, s"$target.txt"),
        frame().queryExecution.explainString(FormattedMode).getBytes("UTF-8"))
    }
    val group = s"graft-prof-$target"
    val metrics = StageMetrics.attach(sc, Some(group))
    sc.setJobGroup(group, target)
    try {
      (1 to reps).foreach { i =>
        // entry() memoizes per session; drop it so every rep re-runs the
        // pipeline instead of scanning checkpoint blocks
        SparkEntry.clearEntryCache()
        if (i == reps) metrics.start()
        val (n, m) = Bench.measure(frame().count())
        println(f"[prof] $target run $i rows=$n wall=${m.sec}%.3f s " +
          f"cpu=${m.cpuSec}%.1f s steal=${m.stealPct}%.1f%%")
      }
      val rows = metrics.report()
      println(s"[prof] $target jobs=${metrics.jobs} stages=${rows.size}")
      StageMetrics.table(rows).foreach(l => println(s"[prof] $l"))
      rows
    } finally {
      sc.clearJobGroup()
      metrics.detach()
    }
  }
}
