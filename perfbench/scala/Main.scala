package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark program: runs one workload against graft's public API and
  * writes what it measured, what it counted and what the checker needs
  * as one JSON file. `perfbench/run.py` builds this, makes the inputs,
  * runs it and checks its outputs.
  *
  * Usage: perfbench.Main <workload> <workDir> <seconds> <trace 0|1> <seed> <out.json> <cpus>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, work, secondsArg, traceArg, seedArg, out, cpus) = args
    Trace.on = traceArg == "1"
    val ctx = new Ctx(work, secondsArg.toDouble, seedArg.toLong, cpus.toInt)
    val result =
      try {
        workload match {
          case "backlog_replay" => Backlog.run(ctx)
          case "live_tail" => LiveTail.run(ctx)
          case "analytics_mix" => Mix.run(ctx)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        ctx.finish()
      } finally ctx.shutdown()
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(out), result)
    // the gRPC server and Spark leave non-daemon threads behind
    System.exit(0)
  }
}

/** State shared by the workloads: the session, the op counters, the
  * measured values, the check artifacts and (traced) the Spark trace.
  */
final class Ctx(val work: String, val seconds: Double, val seed: Long, val cpus: Int) {
  val jvmStartMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  var spark: SparkSession = _
  private var sparkTrace: Option[SparkTrace] = None
  val pool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(cpus, (r: Runnable) => {
      val t = new Thread(r, "perfbench-worker"); t.setDaemon(true); t
    })
  implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val values = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.LinkedHashMap.empty[String, Any]
  val errors = mutable.ArrayBuffer.empty[String]

  /** Graft.session in a fresh SparkContext; the old one is stopped. */
  def newSession(): SparkSession = {
    if (spark != null) spark.stop()
    spark = graft.Graft.session("perfbench", s"local[$cpus]", Map(
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/warehouse"))
    spark
  }

  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetUps = 4

  /** `SetUps` set-ups, each a fresh session plus `build(spark, rep)`.
    * Records `setup_s`, their median, and `setup_first_s`, the first,
    * which is counted from JVM start; returns each build's seconds.
    */
  def setUp(build: (SparkSession, Int) => Unit): Seq[Double] = {
    val reps = (0 until SetUps).map { rep =>
      val t0 = if (rep == 0) jvmStartMs else Trace.nowMs
      newSession()
      val tb = Trace.nowMs
      build(spark, rep)
      val te = Trace.nowMs
      ((te - t0) / 1000.0, (te - tb) / 1000.0)
    }
    values("setup_s") = Stats.median(reps.map(_._1))
    values("setup_first_s") = reps.head._1
    reps.map(_._2)
  }

  /** Start listening; called once set-up is over, before the timed phases. */
  def startTrace(): Unit = if (Trace.on) sparkTrace = Some(new SparkTrace(spark))

  /** One counted operation: failure is recorded, never timed. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$name: $e at ${e.getStackTrace.take(6).mkString(" < ")}"
        None
    }
  }

  /** Run `body` on the pool with a wall bound; a wedged call becomes an
    * exception instead of a hung run.
    */
  def bounded[T](limit: FiniteDuration)(body: => T): T =
    Await.result(Future(body)(watchdog), limit)
  private val watchdog = ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newCachedThreadPool((r: Runnable) => {
      val t = new Thread(r, "perfbench-bounded"); t.setDaemon(true); t
    }))

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    if (!ok) errors += s"$name${if (detail.nonEmpty) s": $detail" else ""}"

  def finish(): Map[String, Any] = {
    values("peak_rss_mb") = peakRssMb
    val trace = sparkTrace.map { st =>
      st.drain()
      Map("spans" -> Trace.spanList, "jobs" -> st.jobList, "queries" -> st.queryList)
    }
    Map("attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
      "errors" -> errors.toSeq, "values" -> values.toMap, "checks" -> checks.toMap,
      "trace" -> trace.getOrElse(Map.empty))
  }

  def shutdown(): Unit = {
    sparkTrace.foreach(_.close())
    try if (spark != null) spark.stop() catch { case NonFatal(_) => () }
    pool.shutdownNow()
    watchdog.shutdownNow()
  }

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Ctx {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole JVM, all threads, ns. */
  def cpuNs: Long = os.getProcessCpuTime
}

object Stats {
  /** Linear-interpolated quantile, q in [0,1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
