package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of the benchmark driver: a query, a build or execute
  * phase, a pipeline batch, a checkpoint stage, an upsert wave, a kernel.
  * `op` is the attempted-op id the span belongs to; `timed` marks spans
  * inside the measured window (warm-up and check work is traced too but
  * never counted). */
final class Span(val id: Long, val name: String, val layer: String, val parent: Long,
                 val op: Long, val startNs: Long, val timed: Boolean) {
  var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder, driven from the benchmark's single driver
  * thread. Disabled (untraced runs) it only runs the bodies. While a span
  * is open its id is the Spark local property [[Tracer.Prop]], so jobs and
  * stages submitted inside it — by this thread or by the threads Spark SQL
  * forks for broadcasts and subqueries — are attributed to it. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private val stack = ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var nextOp = 1L
  var timed = false
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  /** Span clock (nanoTime) → epoch ms, the clock of Spark's events. */
  def epochMs(ns: Long): Double = ns / 1e6 + epochOffsetMs

  def newOp(): Long = { nextOp += 1; nextOp - 1 }

  def open(name: String, layer: String, op: Long = -1L): Span = {
    if (!enabled) return null
    val parent = stack.lastOption
    val s = new Span(nextId, name, layer, parent.map(_.id).getOrElse(0L),
      if (op >= 0) op else parent.map(_.op).getOrElse(0L), System.nanoTime(), timed)
    nextId += 1
    spans += s
    stack += s
    setProp(s.id.toString)
    s
  }

  def close(s: Span): Unit = if (s != null) {
    s.endNs = System.nanoTime()
    val i = stack.lastIndexWhere(_ eq s)
    if (i >= 0) stack.remove(i)
    setProp(stack.lastOption.map(_.id.toString).orNull)
  }

  def span[T](name: String, layer: String, op: Long = -1L)(body: => T): T = {
    val s = open(name, layer, op)
    try body finally close(s)
  }

  private def setProp(v: String): Unit =
    SparkSession.getActiveSession.foreach(_.sparkContext.setLocalProperty(Tracer.Prop, v))

  /** Span id → the ids of it and all its ancestors. */
  def chains: Map[Long, List[Long]] = {
    val byId = spans.map(s => s.id -> s).toMap
    def chain(id: Long): List[Long] =
      if (id == 0L || !byId.contains(id)) Nil else id :: chain(byId(id).parent)
    spans.map(s => s.id -> chain(s.id)).toMap
  }

  /** Self time per layer over the given spans: a span's duration minus
    * the durations of its direct children. */
  def selfSeconds(pick: Span => Boolean): Map[String, Double] = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.filter(pick).groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)).sum
    }
  }
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Per-stage totals collected from task-end events. */
final class StageRec(val stageId: Int, val span: Long) {
  var submittedMs = 0L
  var completedMs = 0L
  var numTasks = 0
  val taskMs = ArrayBuffer.empty[Long]
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  def seconds: Double = math.max(0L, completedMs - submittedMs) / 1e3
}

/** SparkListener + QueryExecutionListener registered only in traced runs.
  * Every record carries the benchmark span that was open when Spark
  * submitted the job or stage. Events arrive on the listener bus thread;
  * readers call [[org.apache.spark.perfbench.BusDrain]] first. */
final class SparkStats extends SparkListener with QueryExecutionListener {
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val jobs = new ConcurrentHashMap[Int, java.lang.Long]()
  /** (phase start epoch ms, analysis + optimization + planning ms). */
  val plans = new ConcurrentLinkedQueue[(Long, Long)]()

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Prop))).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, spanOf(e.properties))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.putIfAbsent(e.stageInfo.stageId, new StageRec(e.stageInfo.stageId, spanOf(e.properties)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val r = stages.get(e.stageId)
    if (r != null && e.taskInfo != null && e.taskInfo.successful) r.synchronized {
      r.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val r = stages.get(i.stageId)
    if (r != null) r.synchronized {
      r.submittedMs = i.submissionTime.getOrElse(0L)
      r.completedMs = i.completionTime.getOrElse(r.submittedMs)
      r.numTasks = i.numTasks
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) plans.add((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def stageList: Seq[StageRec] = stages.values.asScala.toSeq.sortBy(_.stageId)
  def jobList: Seq[(Int, Long)] = jobs.asScala.toSeq.map { case (j, s) => (j.intValue, s.longValue) }
}
