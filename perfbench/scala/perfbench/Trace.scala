package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans of one request share `req`; `parent`
  * names the enclosing span ("" for the request span itself).
  */
final case class Span(req: Long, name: String, parent: String, startNs: Long, endNs: Long)

/** Spark work attributed to one (request, phase) tag. */
final class Work {
  var jobs = 0
  var tasks = 0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var scanRows = 0L
}

/** The traced run's instruments: in-memory spans, a SparkListener that
  * folds jobs, tasks, shuffle and spill into the (request, phase) tag
  * the job was submitted under, and a QueryExecutionListener that sums
  * scan-node output rows from every executed plan. Everything stays in
  * memory until [[Tracer.spansJsonl]] is written at the end of the run.
  *
  * When `enabled` is false every method is a no-op apart from running
  * the body, so timed runs pay nothing but two `nanoTime` calls.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val TagKey = "perfbench.tag"
  val spans = ArrayBuffer.empty[Span]
  private val work = new ConcurrentHashMap[String, Work]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
  private var active = false

  private def acc(tag: String): Work = work.computeIfAbsent(tag, _ => new Work)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).map(_.getProperty(TagKey)).orNull
      if (tag != null) {
        val w = acc(tag)
        w.synchronized(w.jobs += 1)
        e.stageIds.foreach(stageTag.put(_, tag))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val tag = stageTag.get(e.stageId)
      if (tag != null && e.taskMetrics != null) {
        val w = acc(tag)
        val m = e.taskMetrics
        w.synchronized {
          w.tasks += 1
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Attach (or detach) the listeners; the traced run toggles them per
    * block to measure the tracing overhead against untraced blocks.
    */
  def setActive(on: Boolean): Unit = if (enabled && on != active) {
    if (on) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    } else {
      drain()
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    active = on
  }

  def isActive: Boolean = active

  /** Run `body` as span `name` of request `req`, tagging the Spark jobs
    * it submits with `req/name`. */
  def span[T](req: Long, name: String, parent: String)(body: => T): T =
    if (!active) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(TagKey)
      sc.setLocalProperty(TagKey, s"$req/$name")
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(req, name, parent, t0, System.nanoTime())
        sc.setLocalProperty(TagKey, prev)
      }
    }

  /** Record a span measured elsewhere (the request span wraps phases
    * that are timed in both modes). */
  def record(req: Long, name: String, parent: String, t0: Long, t1: Long): Unit =
    if (active) spans += Span(req, name, parent, t0, t1)

  private def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Wait for the listener bus, then fold the request's scan rows into
    * its tags and return per-phase work (phase name → Work). */
  def collect(req: Long): Map[String, Work] =
    if (!active) Map.empty
    else {
      drain()
      val prefix = s"$req/"
      var rows = 0L
      var qe = plans.poll()
      while (qe != null) { rows += Tracer.scanRows(qe.executedPlan); qe = plans.poll() }
      val out = scala.collection.mutable.Map.empty[String, Work]
      val it = work.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.startsWith(prefix)) {
          out(e.getKey.stripPrefix(prefix)) = e.getValue
          it.remove()
        }
      }
      val total = out.getOrElseUpdate("_scan", new Work)
      total.scanRows += rows
      stageTag.entrySet().removeIf(e => e.getValue.startsWith(prefix))
      out.toMap
    }

  def spansJsonl: String = spans.iterator.map { s =>
    s"""{"req":${s.req},"name":"${s.name}","parent":"${s.parent}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("", "\n", "\n")
}

object Tracer extends AdaptiveSparkPlanHelper {
  /** Output rows of every scan leaf in an executed plan (file, cached
    * relation and DataSource V2 scans), descending into AQE stages. */
  def scanRows(plan: SparkPlan): Long =
    collect(plan) {
      case s: FileSourceScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case s: InMemoryTableScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case s: BatchScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
}
