package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval around one call into a layer. Times are nanoseconds on
  * the System.nanoTime clock; spans of one operation share `op`. */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** Counts one operation produced, read from Spark's listener events and the
  * executed plans' SQL metrics after the operation ended. */
final class OpCounters {
  var jobs, stages, tasks, builderJobs, optimizationJobs = 0L
  var taskCpuNs, shuffleWrite, shuffleRead, spill = 0L
  var writeTasks = 0L
  var analysisNs, optimizationNs, physicalNs = 0L
  var candidatePairs, indexOutputRows, joinOutputRows = 0L
  var generateIn, generateOut = 0L
  var filesRead, filesTotal, bytesRead, scanRows = 0L
  var filesWritten = 0L
  var pinned = 0L
}

/** Collects Spark events and completed QueryExecutions for the traced run.
  * Jobs and stages carry the layer that submitted them as a local property. */
final class TraceListener extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, time: Long, layer: String, stageIds: Seq[Int])
  val jobs = new ConcurrentLinkedQueue[Job]()
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val stages = new ConcurrentLinkedQueue[StageInfo]()
  val writingTasks = new java.util.concurrent.atomic.AtomicLong()
  val executions = new ConcurrentLinkedQueue[QueryExecution]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val layer = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.LayerProperty))).getOrElse("")
    jobs.add(Job(e.jobId, e.time, layer, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null && e.taskMetrics.outputMetrics.recordsWritten > 0)
      writingTasks.incrementAndGet()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    executions.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def clear(): Unit = {
    jobs.clear(); jobEnds.clear(); stages.clear(); writingTasks.set(0); executions.clear()
  }
}

/** Spans and counters for the traced run. With `enabled = false` every
  * method runs its body and records nothing, so workloads call the same
  * code in both modes. */
final class Tracer(spark: SparkSession, val enabled: Boolean) extends AdaptiveSparkPlanHelper {
  import Tracer._

  val spans = ArrayBuffer[Span]()
  val counters = ArrayBuffer[OpCounters]()
  private val listener = new TraceListener
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var opIndex = -1
  private val msToNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** An epoch-millisecond time (Spark's event clocks) on the span clock. */
  def fromEpochMs(ms: Long): Long = ms * 1000000L + msToNs

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)
  }

  def close(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(listener)
  }

  private def record(layer: String, name: String, start: Long, end: Long,
      parent: Int): Int = {
    val id = nextId
    nextId += 1
    spans += Span(id, parent, opIndex, layer, name, start, end)
    id
  }

  /** Runs `body` inside a span; jobs it submits are tagged with `layer`. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val prevLayer = sc.getLocalProperty(LayerProperty)
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(LayerProperty, layer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, opIndex, layer, name, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(LayerProperty, prevLayer)
      }
    }

  /** Plans `df` inside a `plans` span, then collects it inside an `exec`
    * span, so planning time and planning-time jobs are not charged to the
    * action. */
  def collect(df: DataFrame): Array[Row] = {
    span("plans", "plan")(df.queryExecution.executedPlan)
    span("exec", "action")(df.collect())
  }

  /** Starts an operation; returns its root span's body result. */
  def op[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      opIndex += 1
      org.apache.spark.perfbench.ListenerBusSync.drain(spark.sparkContext)
      listener.clear()
      span("bench", name)(body)
    }

  /** Called after an operation ended: waits for its listener events, turns
    * planning phases and jobs into spans, and records its counters. */
  def finishOp(): Unit = if (enabled) {
    val c = new OpCounters
    org.apache.spark.perfbench.ListenerBusSync.drain(spark.sparkContext)
    val optWindows = ArrayBuffer[(Long, Long)]()
    val seen = mutable.Set[Long]()
    listener.executions.asScala.foreach { qe =>
      if (seen.add(qe.id)) {
        qe.tracker.phases.foreach { case (phase, s) =>
          val (a, b) = (fromEpochMs(s.startTimeMs), fromEpochMs(s.endTimeMs))
          val ns = (s.endTimeMs - s.startTimeMs) * 1000000L
          phase match {
            case "optimization" => c.optimizationNs += ns; optWindows += ((a, b))
            case "planning" => c.physicalNs += ns
            case _ => c.analysisNs += ns // parsing and analysis
          }
          addContained("plans", phase, a, b)
        }
        planCounters(qe.executedPlan, c)
      }
    }
    val jobs = listener.jobs.asScala.toSeq
    val jobStages = jobs.flatMap(_.stageIds).toSet
    jobs.foreach { j =>
      c.jobs += 1
      if (j.layer == "operators") c.builderJobs += 1
      val t = fromEpochMs(j.time)
      if (optWindows.exists { case (a, b) => t >= a - 1000000L && t <= b + 1000000L })
        c.optimizationJobs += 1
      Option(listener.jobEnds.get(j.id)).foreach { end =>
        addContained("exec", s"job ${j.id}", t, fromEpochMs(end))
      }
    }
    listener.stages.asScala.filter(s => jobStages.contains(s.stageId)).foreach { s =>
      c.stages += 1
      c.tasks += s.numTasks
      val m = s.taskMetrics
      c.taskCpuNs += m.executorCpuTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
    }
    c.writeTasks = listener.writingTasks.get()
    c.pinned = graft.CacheRegistry.pinnedCount
    counters += c
  }

  /** Records a span from another clock's interval, parented to the
    * innermost recorded span of this operation that contains it. */
  private def addContained(layer: String, name: String, a: Long, b: Long): Unit = {
    val tol = 1000000L
    val candidates = spans.filter(s => s.op == opIndex && s.start - tol <= a && b <= s.end + tol)
    val parent = if (candidates.isEmpty) spans.filter(_.op == opIndex).minBy(_.start)
      else candidates.minBy(_.dur)
    record(layer, name, math.max(a, parent.start), math.min(math.max(b, a), parent.end),
      parent.id)
  }

  /** Adds a span with explicit bounds under `parent` (streaming batches,
    * whose phases come from StreamingQueryProgress). */
  def addSpan(layer: String, name: String, a: Long, b: Long, parent: Int): Int =
    if (enabled) record(layer, name, a, b, parent) else -1

  def currentSpan: Int = stack.headOption.getOrElse(-1)

  private def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)

  private def planCounters(plan: SparkPlan, c: OpCounters): Unit = foreach(plan) { p =>
    p.nodeName match {
      case n if n.startsWith("BroadcastIndexSpatialJoin") =>
        c.candidatePairs += metric(p, "candidatePairs")
        c.indexOutputRows += metric(p, "numOutputRows")
        c.joinOutputRows += metric(p, "numOutputRows")
      case n if n.contains("Join") =>
        c.joinOutputRows += metric(p, "numOutputRows")
      case "Generate" if p.toString.contains("sd_gridcells") =>
        c.generateOut += metric(p, "numOutputRows")
        c.generateIn += rowsBelow(p.children.head)
      case n if n.startsWith("Scan") && p.metrics.contains("numFiles") =>
        c.filesRead += metric(p, "numFiles")
        c.bytesRead += metric(p, "filesSize")
        c.scanRows += metric(p, "numOutputRows")
        c.filesTotal += (p match {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.inputFiles.length.toLong
          case _ => 0L
        })
      case "Execute InsertIntoHadoopFsRelationCommand" =>
        c.filesWritten += metric(p, "numFiles")
      case _ => ()
    }
  }

  /** Output rows of the nearest node at or below `p` that counts them. */
  private def rowsBelow(p: SparkPlan): Long =
    if (p.metrics.contains("numOutputRows")) metric(p, "numOutputRows")
    else p.children.headOption.map(rowsBelow).getOrElse(0L)

  /** Sum over layers of span self time: the span's duration minus the part
    * of it that its children cover. */
  def selfTimeByLayer: Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, hi), (a, b)) =>
          val from = math.max(a, hi)
          (sum + math.max(0L, b - from), math.max(hi, b))
        }._1
      s.layer -> math.max(0L, s.dur - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Writes every span as one JSON object per line. */
  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}

object Tracer {
  val LayerProperty = "perfbench.layer"
}
