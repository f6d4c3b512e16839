package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run. Every timestamp is epoch
  * milliseconds with a sub-millisecond fraction, taken from one
  * monotonic clock, so spans line up with Spark's listener times. When
  * tracing is off, `span` runs its body and records nothing.
  */
object Trace {
  @volatile var on = false
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6
  def toMs(nano: Long): Double = baseMs + (nano - baseNano) / 1e6

  final case class Span(id: Long, name: String, start: Double, end: Double,
      parent: Long, attrs: Map[String, Any])

  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val stack = new ThreadLocal[List[Long]] { override def initialValue: List[Long] = Nil }

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val s = nowMs
      try body
      finally {
        stack.set(stack.get.tail)
        spans.add(Span(id, name, s, nowMs, parent, attrs))
      }
    }

  /** Tag the Spark jobs `body` starts on this thread with `layer`, so
    * the job records can be told apart by who started them.
    */
  def layer[T](spark: SparkSession, layer: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(LayerKey)
      sc.setLocalProperty(LayerKey, layer)
      try body finally sc.setLocalProperty(LayerKey, prev)
    }
  val LayerKey = "perfbench.layer"

  /** A span timed by the caller (e.g. from stamps taken on other threads). */
  def record(name: String, start: Double, end: Double, attrs: Map[String, Any] = Map.empty): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), name, start, end,
      stack.get.headOption.getOrElse(0L), attrs))

  def spanList: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_.start).map { s =>
    Map("id" -> s.id, "name" -> s.name, "start" -> s.start, "end" -> s.end,
      "parent" -> s.parent, "attrs" -> s.attrs)
  }
}

/** Spark-side counts for the traced run: one record per job (with its
  * task count and shuffle bytes) and one per executed query (plan
  * phases and file-scan nodes). Both buses deliver asynchronously, so
  * `drain` waits until every started job has ended and the counts have
  * stopped moving.
  */
final class SparkTrace(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private final class Job(val id: Int, val start: Double, val stages: Int, val layer: String) {
    @volatile var end = 0.0
    val tasks = new AtomicLong
    val shuffleBytes = new AtomicLong
  }
  private val jobs = TrieMap.empty[Int, Job]
  private val stageJob = TrieMap.empty[Int, Int]
  private val queries = new ConcurrentLinkedQueue[Map[String, Any]]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      val layer = Option(e.properties).map(_.getProperty(Trace.LayerKey)).orNull
      jobs.put(e.jobId, new Job(e.jobId, e.time.toDouble, e.stageIds.size, layer))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks.incrementAndGet()
        if (e.taskMetrics != null)
          j.shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      val start = if (phases.isEmpty) Trace.nowMs - durationNs / 1e6
        else phases.values.map(_.startTimeMs).min.toDouble
      val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }.size
      queries.add(Map("func" -> funcName, "start" -> start, "plan_ms" -> planMs,
        "exec_ms" -> durationNs / 1e6, "scans" -> scans))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qel)

  def drain(): Unit = {
    var last = -1L
    var stable = 0
    val deadline = System.currentTimeMillis() + 10000
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val sig = jobs.size.toLong * 1000003L + jobs.values.count(_.end > 0) +
        jobs.values.map(_.tasks.get).sum + queries.size * 7919L
      val open = jobs.values.exists(_.end == 0.0)
      if (sig == last && !open) stable += 1 else stable = 0
      last = sig
    }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
  }

  def jobList: Seq[Map[String, Any]] = jobs.values.toSeq.sortBy(_.id).map { j =>
    Map("id" -> j.id, "start" -> j.start, "end" -> j.end, "stages" -> j.stages, "layer" -> j.layer,
      "tasks" -> j.tasks.get, "shuffle_bytes" -> j.shuffleBytes.get)
  }

  def queryList: Seq[Map[String, Any]] = queries.asScala.toSeq
}
