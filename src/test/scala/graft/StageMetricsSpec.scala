package graft

import java.nio.file.Files

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.obs.StageMetrics

/** The stage-metrics collector on the shared session. Every case runs its
  * jobs under its own job group and scopes the collector to it, so stages
  * of other suites cannot leak in; the status tracker is the reference for
  * which stages ran.
  */
class StageMetricsSpec extends SparkSpec {

  private def sc: SparkContext = spark.sparkContext

  private def inGroup[A](group: String)(f: => A): A = {
    sc.setJobGroup(group, "StageMetricsSpec")
    try f finally sc.clearJobGroup()
  }

  /** Stages of the group's jobs that ran tasks (skipped stages ran none);
    * current once the listener bus is drained. */
  private def stagesRun(group: String): Map[Int, Int] = {
    val st = sc.statusTracker
    st.getJobIdsForGroup(group).toSeq.flatMap(st.getJobInfo).flatMap(_.stageIds)
      .flatMap(st.getStageInfo).filter(_.numCompletedTasks > 0)
      .map(s => s.stageId -> s.numTasks).toMap
  }

  private def withMetrics[A](group: String)(f: StageMetrics => A): A = {
    val m = StageMetrics.attach(sc, Some(group))
    try f(m) finally m.detach()
  }

  test("repartition(4) + groupBy: a row per stage run, tasks = partitions, shuffle writes") {
    val g = "stage-metrics-rows"
    withMetrics(g) { m =>
      m.start()
      val groups = inGroup(g) {
        spark.range(0, 20000, 1, 2).repartition(4)
          .groupBy(col("id") % 7).count().collect()
      }
      assert(groups.length == 7)
      val rows = m.report()
      assert(rows.map(r => r.stageId -> r.tasks).toMap == stagesRun(g))
      assert(rows.forall(_.jobGroup.contains(g)))
      assert(rows.forall(r => r.taskDurs.size == r.tasks && r.maxMs >= r.p50Ms))
      // the 2-partition range scan and the 4 repartitioned partitions both
      // feed a shuffle
      assert(rows.exists(r => r.tasks == 2 && r.shuffleWriteBytes > 0), rows)
      assert(rows.exists(r => r.tasks == 4 && r.shuffleWriteBytes > 0), rows)
      assert(rows.map(_.shuffleReadBytes).sum > 0)
      assert(m.jobs >= 1)
    }
  }

  test("work finished before start is excluded, work finished just before report included") {
    val g = "stage-metrics-drain"
    // a listener that holds the shared bus queue up on every task end, long
    // enough that a job's later stage submissions and completions are still
    // queued when the job returns: without a drain in start() they would
    // leak into the count, without one in report() they would be missing
    val slowBus = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(200)
    }
    sc.addSparkListener(slowBus)
    try withMetrics(g) { m =>
      def job(): Long = inGroup(g)(spark.range(0, 1000, 1, 3).repartition(3).count())
      job()
      m.start()
      val before = stagesRun(g).keySet
      job()
      val rows = m.report()
      val after = stagesRun(g).keySet -- before
      assert(before.nonEmpty && after.nonEmpty)
      assert(rows.map(_.stageId).toSet == after)
    } finally sc.removeSparkListener(slowBus)
  }

  test("heaviestStageStraggler keeps HotKeyProbe's definition") {
    // the formula HotKeyProbe computed over its per-stage task durations
    def hotKeyProbe(byStage: Map[Int, Seq[Long]]): (Double, Int) = {
      val stages = byStage.toSeq.map { case (sid, q) => (sid, q.sorted) }.filter(_._2.size >= 4)
      if (stages.isEmpty) (-1.0, 0)
      else {
        val (_, durs) = stages.maxBy(_._2.sum)
        val median = durs(durs.size / 2).toDouble
        (if (median > 0) durs.last / median else -1.0, durs.size)
      }
    }
    val byStage = Map(
      1 -> Seq(500L, 1L, 3L), // heaviest, but too few tasks to count
      2 -> Seq(90L, 10L, 10L, 12L, 10L), // sum 132: the heaviest counted stage
      3 -> Seq(60L, 2L, 4L, 6L, 8L, 40L)) // sum 120
    assert(StageMetrics.heaviestStageStraggler(byStage.values.toSeq) == hotKeyProbe(byStage))
    assert(StageMetrics.heaviestStageStraggler(byStage.values.toSeq) == ((9.0, 5)))
    val zeroMedian = Map(1 -> Seq(0L, 0L, 0L, 7L))
    assert(StageMetrics.heaviestStageStraggler(zeroMedian.values.toSeq) == hotKeyProbe(zeroMedian))
    assert(StageMetrics.heaviestStageStraggler(Seq(Seq(1L, 2L))) == ((-1.0, 0)))
  }

  test("Prof kg at 20 conversations, 1 rep: stage rows and the formatted plan") {
    val plans = Files.createTempDirectory("graft-prof-plans").toString
    val Seq((target, rows)) = Prof.run(Seq("kg"), reps = 1, nConvs = 20, planDir = Some(plans))
    assert(target == "kg")
    assert(rows.nonEmpty)
    assert(rows.forall(_.jobGroup.contains("graft-prof-kg")))
    val plan = new String(Files.readAllBytes(java.nio.file.Paths.get(plans, "kg.txt")), "UTF-8")
    assert(plan.contains("== Physical Plan =="))
  }
}
