package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region. `parent` is the index of the enclosing span (-1 at
  * the top); spans of one operation share `op`. */
final case class Span(name: String, start: Long, end: Long, parent: Int,
    op: Int) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. When disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Int]()
  private var op = -1

  def operation[T](id: Int)(body: => T): T = {
    op = id
    try body finally op = -1
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.size
      spans += Span(name, System.nanoTime(), 0L,
        open.headOption.getOrElse(-1), op)
      open.push(idx)
      try body
      finally {
        open.pop()
        spans(idx) = spans(idx).copy(end = System.nanoTime())
      }
    }

  /** Total seconds per span name. */
  def total: Map[String, Double] =
    spans.groupBy(_.name).view.mapValues(_.map(_.seconds).sum).toMap

  /** Total self seconds per span name: span time minus the time of its
    * direct children. */
  def self: Map[String, Double] = {
    val child = new Array[Double](spans.size)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.seconds)
    spans.indices.groupBy(i => spans(i).name).view
      .mapValues(_.map(i => spans(i).seconds - child(i)).sum).toMap
  }

  /** Writes every span as one JSON line. */
  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val lines = spans.map(s => Json.Obj("name" -> s.name,
      "start_ns" -> (s.start - t0), "end_ns" -> (s.end - t0),
      "parent" -> s.parent, "op" -> s.op).render)
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }
}

/** Engine counters from the Spark listener bus: jobs, stages, tasks and
  * their run, CPU, GC, wait, shuffle and spill totals; and, from the
  * executed (final adaptive) plan of every query that succeeded, the
  * joins run as shuffle joins and as broadcast joins. */
final class SparkCounters extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  @volatile var jobs, stages, tasks, failedTasks = 0L
  @volatile var runNs, cpuNs, gcNs, waitNs = 0L
  @volatile var shuffleWrite, shuffleRead, spill = 0L
  @volatile var shuffleJoins, broadcastJoins = 0L
  private val stageSubmit = mutable.Map[(Int, Int), Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      stageSubmit((i.stageId, i.attemptNumber())) =
        i.submissionTime.getOrElse(System.currentTimeMillis())
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages += 1
      stageSubmit.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (!e.taskInfo.successful) failedTasks += 1
    stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { t =>
      waitNs += math.max(0L, e.taskInfo.launchTime - t) * 1000000L
    }
    val m = e.taskMetrics
    if (m != null) {
      runNs += m.executorRunTime * 1000000L
      cpuNs += m.executorCpuTime
      gcNs += m.jvmGCTime * 1000000L
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val joins = collectWithSubqueries(qe.executedPlan) {
      case _: SortMergeJoinExec | _: ShuffledHashJoinExec => true
      case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => false
    }
    synchronized {
      shuffleJoins += joins.count(identity)
      broadcastJoins += joins.count(!_)
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}
