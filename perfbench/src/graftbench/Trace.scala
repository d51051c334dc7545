package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A call into a layer: its parent span (-1 for none) and the timed op it
  * belongs to (-1 outside timed ops). */
final case class Span(id: Int, parent: Int, op: Long, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory spans around the benchmark's calls into each layer. With
  * tracing off, `span` only runs its body. */
final class Tracer(val on: Boolean) {

  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** Id of the op the next spans belong to; -1 outside timed ops. */
  var op: Long = -1

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        done += Span(id, parent, op, layer, name, t0, System.nanoTime())
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Durations (ms) of the timed-op spans called `name`. */
  def durations(name: String): Seq[Double] =
    done.iterator.filter(s => s.name == name && s.op >= 0).map(_.ms).toSeq

  /** Per layer: total span time minus the time its child spans cover,
    * over timed ops. Spans nest and run on one thread, so the children
    * of a span never overlap. */
  def selfMs: Map[String, Double] = {
    val timed = done.filter(_.op >= 0)
    val childMs = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    timed.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.ms)
    timed.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.ms - childMs(s.id)).sum
    }
  }
}

/** Spark-side counts for the traced run, fed by Spark's own listener
  * interfaces. All callbacks run on the listener-bus thread; readers
  * drain the bus first. */
final class SparkCounters extends SparkListener {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskWaitMs, shuffleWriteB, fetchWaitMs, spillB = 0L
  private val submitted = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stages += 1
    submitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    submitted.remove(e.stageInfo.stageId)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    submitted.get(e.stageId).foreach(t0 =>
      taskWaitMs += math.max(0L, e.taskInfo.launchTime - t0))
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Numbers read from each executed plan: rows and partitions of the
  * Pinot scans, and rows out of join nodes. */
final class PlanCounters extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  var scanRowsOut, inputPartitions, pinotScans, joinRowsOut = 0L

  private def rows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val nodes = collectWithSubqueries(qe.executedPlan) { case p => p }
    nodes.foreach {
      case b: BatchScanExec if b.scan.getClass.getName.startsWith("graft.sources.pinot") =>
        pinotScans += 1
        scanRowsOut += rows(b)
        inputPartitions += b.inputPartitions.size
      case j: BaseJoinExec => joinRowsOut += rows(j)
      case _ =>
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Sums of `StreamingQueryProgress.durationMs` over micro-batch triggers. */
final class StreamCounters extends StreamingQueryListener {
  import StreamingQueryListener._
  var triggers = 0L
  val durationMs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    triggers += 1
    e.progress.durationMs.asScala.foreach { case (k, v) => durationMs(k) += v.longValue }
  }
}

/** JVM-wide totals read at the edges of the timed phase. */
final case class JvmSnapshot(gcMs: Long, rchar: Long, codegen: Long)

object JvmSnapshot {
  def take(): JvmSnapshot = JvmSnapshot(
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum,
    Util.readChars,
    org.apache.spark.BenchHooks.codegenCompiles)
}
