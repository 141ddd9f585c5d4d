package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.CommandResult
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded by the benchmark around its calls into the engine.
  *
  * A span has a name, start and end, and the span that opened it; all spans
  * of one run share a trace id. They stay in memory and are written out
  * once, when the run ends. Spark work is attributed to the open span: each
  * span sets a job group, and [[TaskListener]] / [[PlanListener]] fold the
  * task metrics and executed plans of that group into the span's [[Tally]].
  */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  val GroupPrefix = "graftbench-span-"

  private val done = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0
  /** Span the listeners charge work to when a job carries no group of ours
    * (sessions the engine creates itself, e.g. inside PipelineMain.main). */
  @volatile var current: Int = -1

  /** Runs `f` inside a span. Listener events are drained before the span
    * closes, so everything `f` submitted is charged to it.
    */
  def span[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, name, System.nanoTime()) :: stack
    val outer = current
    current = id
    val sc = SparkSession.getActiveSession.map(_.sparkContext)
    sc.foreach(_.setJobGroup(GroupPrefix + id, name))
    try f
    finally {
      SparkSession.getActiveSession.foreach(s => org.apache.spark.graftbench.Bus.drain(s.sparkContext))
      val (_, _, t0) = stack.head
      stack = stack.tail
      done += Span(id, parent, name, t0, System.nanoTime())
      current = outer
      SparkSession.getActiveSession.foreach { s =>
        if (outer >= 0) s.sparkContext.setJobGroup(GroupPrefix + outer, "")
        else s.sparkContext.clearJobGroup()
      }
    }
  }

  def byName(name: String): Span =
    done.find(_.name == name).getOrElse(sys.error(s"no span named $name"))

  /** Span duration minus the part of its interval that child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = done.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var reach = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, reach)
      val hi = math.min(b, s.endNs)
      if (hi > lo) { covered += hi - lo; reach = hi }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  def toJson(traceId: String): String =
    done.sortBy(_.id).map { s =>
      f"""{"trace":"$traceId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}%.6f}"""
    }.mkString("[\n", ",\n", "\n]\n")
}

/** Work counted at one span's boundary. */
final class Tally {
  var jobs = 0
  var stages = 0
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  val taskRunMs = ArrayBuffer.empty[Long]
  var exchanges = 0
  var sortMergeJoins = 0
  /** (output path, exchanges, sort-merge joins) of each file write. */
  val writes = ArrayBuffer.empty[(String, Int, Int)]
  /** Cached plans already counted, so a cache read twice counts once. */
  val seenCached = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())

  def taskMaxOverMedian: Double =
    if (taskRunMs.isEmpty) 0.0
    else {
      val s = taskRunMs.sorted
      s.last.toDouble / math.max(s(s.length / 2), 1L)
    }
}

object Tally {
  private val bySpan = new ConcurrentHashMap[Int, Tally]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  def of(span: Int): Tally = bySpan.computeIfAbsent(span, _ => new Tally)
  def apply(spanName: String): Tally = of(Trace.byName(spanName).id)
  /** Removes and returns a span's tally (a fresh one if it had none). */
  def take(span: Int): Tally = Option(bySpan.remove(span)).getOrElse(new Tally)

  private[graftbench] def spanOfJob(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Trace.GroupPrefix))
      .map(_.stripPrefix(Trace.GroupPrefix).toInt)
      .getOrElse(Trace.current)

  private[graftbench] def bindStage(stageId: Int, span: Int): Unit = stageSpan.put(stageId, span)
  private[graftbench] def spanOfStage(stageId: Int): Int =
    stageSpan.getOrDefault(stageId, Trace.current)

  /** Exchanges and sort-merge joins of an executed plan, descending into
    * adaptive query stages and into the plans of cached relations.
    */
  def countPlan(plan: SparkPlan, t: Tally): (Int, Int) = {
    var ex = 0
    var smj = 0
    def visit(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
      case c: CommandResultExec => visit(c.commandPhysicalPlan)
      case q: QueryStageExec => visit(q.plan)
      case _: ReusedExchangeExec => ()
      case s: InMemoryTableScanExec =>
        val cached = s.relation.cachedPlan
        if (t.seenCached.add(cached)) visit(cached)
      case _ =>
        p match {
          case _: ShuffleExchangeLike => ex += 1
          case _: SortMergeJoinExec => smj += 1
          case _ =>
        }
        p.children.foreach(visit)
        p.subqueries.foreach(visit)
    }
    visit(plan)
    (ex, smj)
  }
}

/** Registered through `spark.extraListeners`, so every session the engine
  * creates (PipelineMain.main builds and stops its own) reports here.
  */
class TaskListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Tally.spanOfJob(e.properties)
    e.stageIds.foreach(Tally.bindStage(_, span))
    Tally.of(span).synchronized { Tally.of(span).jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (e.stageInfo.failureReason.isEmpty) {
      val t = Tally.of(Tally.spanOfStage(e.stageInfo.stageId))
      t.synchronized { t.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val t = Tally.of(Tally.spanOfStage(e.stageId))
      t.synchronized {
        t.taskCpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        t.spillBytes += m.diskBytesSpilled
        t.taskRunMs += m.executorRunTime
      }
    }
  }
}

/** Registered through `spark.sql.queryExecutionListeners`: counts plan
  * shapes of every query the open span runs.
  */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val t = Tally.of(Trace.current)
    t.synchronized {
      val (ex, smj) = Tally.countPlan(qe.executedPlan, t)
      t.exchanges += ex
      t.sortMergeJoins += smj
      val written = qe.analyzed.collectFirst {
        case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString
        case CommandResult(_, w: InsertIntoHadoopFsRelationCommand, _, _) => w.outputPath.toString
      }
      written
        .foreach(p => t.writes += ((p, ex, smj)))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
