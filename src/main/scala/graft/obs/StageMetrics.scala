package graft.obs

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.graft.ListenerBus

/** One completed Spark stage. `taskDurs` holds the durations of the
  * stage's successful tasks, sorted ascending.
  */
final case class StageRow(stageId: Int, name: String, jobGroup: Option[String],
    submitted: Long, completed: Long, tasks: Int, runTimeMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, taskDurs: Vector[Long]) {
  def wallMs: Long = completed - submitted
  def p50Ms: Long = if (taskDurs.isEmpty) 0L else taskDurs(taskDurs.size / 2)
  def maxMs: Long = taskDurs.lastOption.getOrElse(0L)
}

/** The engine's one stage-metrics listener: a row per completed stage
  * between [[start]] and [[report]], plus the number of jobs started.
  *
  * Spark delivers listener events asynchronously, so both ends drain the
  * listener bus: events of work finished before `start` are discarded, and
  * events of work finished before `report` are counted.
  *
  * With `jobGroup` set, only jobs, stages and tasks submitted under that
  * group (`SparkContext.setJobGroup`) are recorded.
  */
final class StageMetrics private (sc: SparkContext, jobGroup: Option[String])
    extends SparkListener {

  import StageMetrics.Done

  private val groupOf = mutable.HashMap.empty[Int, Option[String]]
  private val durs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val done = mutable.ArrayBuffer.empty[Done]
  private var nJobs = 0

  private def groupIn(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  private def wanted(group: Option[String]): Boolean = jobGroup.forall(group.contains)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (wanted(groupIn(e.properties))) nJobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = groupIn(e.properties)
    if (wanted(g)) groupOf(e.stageInfo.stageId) = g
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (groupOf.contains(e.stageId) && e.taskInfo != null && e.taskInfo.successful)
      durs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    if (groupOf.contains(si.stageId)) {
      val m = si.taskMetrics
      done += Done(si.stageId, si.name.takeWhile(_ != '\n'),
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L), si.numTasks,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Forgets everything recorded so far, after the bus has delivered the
    * events of all work already finished. */
  def start(): Unit = {
    ListenerBus.drain(sc)
    synchronized { groupOf.clear(); durs.clear(); done.clear(); nJobs = 0 }
  }

  /** The stages completed since [[start]], in completion order. */
  def report(): Seq[StageRow] = {
    ListenerBus.drain(sc)
    synchronized {
      done.toVector.map { d =>
        StageRow(d.stageId, d.name, groupOf(d.stageId), d.submitted, d.completed, d.tasks,
          d.runTimeMs, d.shRead, d.shWrite,
          durs.get(d.stageId).map(_.toVector.sorted).getOrElse(Vector.empty))
      }
    }
  }

  /** Jobs started since [[start]]; call after [[report]]. */
  def jobs: Int = synchronized(nJobs)

  /** [[StageMetrics.heaviestStageStraggler]] over the stages since [[start]]. */
  def heaviestStageStraggler(): (Double, Int) =
    StageMetrics.heaviestStageStraggler(report().map(_.taskDurs))

  def detach(): Unit = sc.removeSparkListener(this)
}

object StageMetrics {
  private final case class Done(stageId: Int, name: String, submitted: Long,
      completed: Long, tasks: Int, runTimeMs: Long, shRead: Long, shWrite: Long)

  /** A collector registered on `sc`; call [[StageMetrics.start]] before the
    * work to measure. */
  def attach(sc: SparkContext, jobGroup: Option[String] = None): StageMetrics = {
    val m = new StageMetrics(sc, jobGroup)
    sc.addSparkListener(m)
    m
  }

  /** (max / median task duration, task count) of the stage with the
    * largest total task time, among stages of at least 4 tasks (the ratio
    * means nothing on tiny stages): the stage a hot key would serialize.
    * (-1.0, 0) when no stage qualifies; the ratio is -1.0 for a zero
    * median.
    */
  def heaviestStageStraggler(stageDurations: Seq[Seq[Long]]): (Double, Int) = {
    val stages = stageDurations.map(_.sorted).filter(_.size >= 4)
    if (stages.isEmpty) return (-1.0, 0)
    val durs = stages.maxBy(_.sum)
    val median = durs(durs.size / 2).toDouble
    (if (median > 0) durs.last / median else -1.0, durs.size)
  }

  /** One line per stage in submission order. */
  def table(rows: Seq[StageRow]): Seq[String] =
    rows.sortBy(r => (r.submitted, r.stageId)).map { r =>
      f"stage ${r.stageId}%4d wall=${r.wallMs}%5d ms tasks=${r.tasks}%3d " +
        f"taskTime=${r.runTimeMs}%6d ms p50=${r.p50Ms}%5d max=${r.maxMs}%5d ms " +
        f"shR=${r.shuffleReadBytes}%9d shW=${r.shuffleWriteBytes}%9d  ${r.name}"
    }
}
