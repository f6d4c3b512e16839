package perfbench

import scala.collection.mutable
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.events.{Consumer, CursorStore, Event, EventFilter, FileCursorStore, MemCursorStore, Runner, Spec}
import graft.sources.EventsTable

/** A cursor store that records each commit (and, traced, times it). */
final class WatchedStore(inner: CursorStore) extends CursorStore {
  private val last = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
  def get(name: String): Option[Long] = inner.get(name)
  def set(name: String, cursor: Long): Unit = Trace.span("cursor.set", Map("consumer" -> name)) {
    inner.set(name, cursor)
    last.put(name, cursor)
  }
  def committed(name: String): Long = Option(last.get(name)).map(_.longValue).getOrElse(-1L)
}

/** What one consumer saw in one batch: the cursor committed before the
  * call, the call's start, and per-type (count, foreign-id sum) plus id
  * count, min, max, sum and sum of squares.
  */
final case class BatchSeen(before: Long, startNano: Long, n: Long, minId: Long, maxId: Long,
    sumId: Long, sumSq: Long, types: Map[String, (Long, Long)])

final class Recorder {
  val seen = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[BatchSeen]]

  /** A consumer that reduces each batch with one collect. Under
    * `runParallel(…, shards)` every shard runs this same function, so the
    * batch's shard is read from its rows (the runner's own shard
    * expression) to name the shard's cursor and record.
    */
  def consumer(name: String, store: WatchedStore, shards: Int = 0): Consumer =
    Consumer(name, (df: DataFrame) => {
      val t0 = System.nanoTime()
      val shardCol = if (shards > 0) EventFilter.shardId(shards) else lit(-1)
      val rows = Trace.layer(df.sparkSession, "consumer") {
        df.groupBy(col("eventType"), shardCol.as("shard")).agg(count(lit(1)), sum("foreignId"),
          min("id"), max("id"), sum("id"), sum(col("id") * col("id"))).collect()
      }
      val t1 = System.nanoTime()
      val shardIds = rows.map(_.getInt(1)).distinct
      val who = if (shards > 0 && shardIds.length == 1) s"${name}_${shardIds(0) + 1}_of_$shards"
        else if (shards > 0) s"$name-mixed-shards" else name
      val b = BatchSeen(store.committed(who), t0, rows.map(_.getLong(2)).sum,
        rows.map(_.getLong(4)).min, rows.map(_.getLong(5)).max, rows.map(_.getLong(6)).sum,
        rows.map(_.getLong(7)).sum,
        rows.groupBy(_.getString(0)).map { case (t, rs) =>
          t -> (rs.map(_.getLong(2)).sum, rs.map(_.getLong(3)).sum) })
      synchronized { seen.getOrElseUpdate(who, mutable.ArrayBuffer.empty) += b }
      Trace.record("consumer.fn", Trace.toMs(t0), Trace.toMs(t1),
        Map("consumer" -> who, "shards" -> shards))
    })

  def all: Seq[BatchSeen] = synchronized(seen.values.flatten.toSeq)

  def types: Map[String, Seq[Long]] = all.flatMap(_.types.toSeq).groupBy(_._1).map {
    case (t, xs) => t -> Seq(xs.map(_._2._1).sum, xs.map(_._2._2).sum)
  }
}

/** backlog_replay: `runToHead` and `runParallel(…, 4)` over an
  * EventsTable log built from the seeded events.
  */
object Backlog {
  val Shards = 4
  /** Rounds are repeated until the run's seconds are spent, at least
    * this many; the rates are medians over rounds.
    */
  val MinRounds = 2

  /** An EventsTable log at `dir` built with one insert of the seeded
    * events.
    */
  def buildLog(spark: SparkSession, raw: String, dir: String): EventsTable = {
    val table = new EventsTable(spark, dir)
    val src = Event.project(spark.read.parquet(raw))
      .select("eventType", "foreignId", "ts", "value", "metadata")
    Trace.span("insert", Map("phase" -> "log_build")) { table.insert(src) }
    table
  }

  /** Set-up: a fresh session plus a log build, `SetUps` times; the
    * last log is the one replayed.
    */
  def setUpLogs(ctx: Ctx, raw: String): String = {
    val builds = ctx.setUp { (spark, rep) =>
      Trace.span("log_build") { buildLog(spark, raw, s"${ctx.work}/log_$rep") }
    }
    ctx.values("log_build_s") = Stats.median(builds)
    s"${ctx.work}/log_${ctx.SetUps - 1}"
  }

  def run(ctx: Ctx): Unit = {
    import ctx._
    val raw = s"$work/input/events.parquet"
    val logDir = setUpLogs(ctx, raw)
    val table = new EventsTable(spark, logDir)
    val head = table.head
    val total = head + 1

    // untimed warm-up: one replay of the same log by both paths (the CPU
    // time of a replay keeps falling over the first replays of a log; the
    // first took about a quarter more than the second)
    Trace.span("warmup") {
      val warm = new Recorder
      val warmStore = new WatchedStore(new MemCursorStore())
      Runner.runToHead(Spec(table.log, warmStore, warm.consumer("warmup", warmStore)))
      Runner.runParallel(Spec(table.log, warmStore, warm.consumer("warmup", warmStore, Shards)),
        Shards)
    }

    startTrace()
    val t0 = System.nanoTime()
    var rounds = 0
    // events per wall second and per CPU second of the JVM, per round
    val replayRates, parRates, replayCpuRates, parCpuRates = mutable.ArrayBuffer.empty[Double]
    val intervals = mutable.ArrayBuffer.empty[Double]
    val typeSets = mutable.ArrayBuffer.empty[Map[String, Seq[Long]]]
    var stop = false
    while (!stop && (rounds < MinRounds || System.nanoTime() - t0 < seconds * 1e9)) {
      val log = table.log
      // runToHead with a fresh durable cursor
      val rec = new Recorder
      val store = new WatchedStore(new FileCursorStore(s"$work/cursors/$rounds/replay"))
      val tIn = System.nanoTime()
      val cIn = Ctx.cpuNs
      val res = op("replay") {
        bounded(150.seconds) {
          Trace.span("runToHead", Map("round" -> rounds)) {
            Runner.runToHead(Spec(log, store, rec.consumer("replay", store)))
          }
        }
      }
      val tOut = System.nanoTime()
      val cOut = Ctx.cpuNs
      res match {
        case Some(r) =>
          replayRates += r.consumed / ((tOut - tIn) / 1e9)
          replayCpuRates += r.consumed / ((cOut - cIn) / 1e9)
          val bs = rec.seen.getOrElse("replay", mutable.ArrayBuffer.empty).toSeq
          intervals ++= gaps(bs)
          verifyReplay(ctx, "replay", bs, total, store.get("replay"), head)
          typeSets += rec.types
        case None => stop = true
      }
      // runParallel over the same log with fresh cursors
      if (!stop) {
        val prec = new Recorder
        val pstore = new WatchedStore(new FileCursorStore(s"$work/cursors/$rounds/parallel"))
        val pIn = System.nanoTime()
        val pcIn = Ctx.cpuNs
        val pres = op("parallel") {
          bounded(150.seconds) {
            Trace.span("runParallel", Map("round" -> rounds)) {
              Runner.runParallel(Spec(log, pstore, prec.consumer("replay", pstore, Shards)), Shards)
            }
          }
        }
        val pOut = System.nanoTime()
        val pcOut = Ctx.cpuNs
        pres match {
          case Some(rs) =>
            parRates += rs.map(_.consumed).sum / ((pOut - pIn) / 1e9)
            parCpuRates += rs.map(_.consumed).sum / ((pcOut - pcIn) / 1e9)
            verifyParallel(ctx, prec, pstore, total, head)
            typeSets += prec.types
          case None => stop = true
        }
      }
      rounds += 1
    }
    check("rounds", rounds >= MinRounds)
    check("same per-type sums in every phase", typeSets.distinct.size <= 1,
      typeSets.distinct.mkString(" vs "))
    checks("events") = total
    checks("types") = typeSets.headOption.getOrElse(Map.empty)
    values("rounds") = rounds
    values("replay_rates") = replayRates.toSeq
    values("parallel_rates") = parRates.toSeq
    values("replay_cpu_rates") = replayCpuRates.toSeq
    values("parallel_cpu_rates") = parCpuRates.toSeq
    values("primary_per_cpu_s") = Stats.median(replayCpuRates.toSeq)
    values("secondary_per_cpu_s") = Stats.median(parCpuRates.toSeq)
    // the gaps between runToHead's batches; the shards' gaps, a population
    // of their own, are parallel.batch_ms_p50 in the traced run
    values("batch_gap_ms") = Stats.median(intervals.toSeq)
  }

  /** Milliseconds between one consumer's consecutive batch calls. */
  private def gaps(bs: Seq[BatchSeen]): Seq[Double] =
    bs.zip(bs.drop(1)).map { case (a, b) => (b.startNano - a.startNano) / 1e6 }

  /** Exactly-once over ids 0..total-1 by count, sum and sum of squares;
    * each batch above the cursor committed before it.
    */
  private def verifyIds(ctx: Ctx, what: String, bs: Seq[BatchSeen], total: Long): Unit = {
    val sumId = total * (total - 1) / 2
    val sumSq = (total - 1) * total * (2 * total - 1) / 6
    ctx.check(s"$what: event count", bs.map(_.n).sum == total, s"${bs.map(_.n).sum} != $total")
    ctx.check(s"$what: id sum", bs.map(_.sumId).sum == sumId)
    ctx.check(s"$what: id square sum", bs.map(_.sumSq).sum == sumSq)
    ctx.check(s"$what: id range", bs.nonEmpty && bs.map(_.minId).min == 0 &&
      bs.map(_.maxId).max == total - 1)
    ctx.check(s"$what: batch above committed cursor", bs.forall(b => b.minId > b.before),
      bs.filter(b => b.minId <= b.before).take(3).mkString(","))
  }

  private def verifyReplay(ctx: Ctx, what: String, bs: Seq[BatchSeen], total: Long,
      cursor: Option[Long], head: Long): Unit = {
    verifyIds(ctx, what, bs, total)
    ctx.check(s"$what: committed cursor is the head", cursor.contains(head), s"$cursor != $head")
  }

  private def verifyParallel(ctx: Ctx, rec: Recorder, store: WatchedStore, total: Long,
      head: Long): Unit = {
    verifyIds(ctx, "parallel", rec.all, total)
    ctx.check("parallel: every batch within one shard", rec.seen.keySet.forall(_.contains("_of_")),
      rec.seen.keySet.mkString(","))
    (1 to Shards).foreach { m =>
      val name = s"replay_${m}_of_$Shards"
      ctx.check(s"parallel: $name cursor is the head", store.get(name).contains(head),
        s"${store.get(name)} != $head")
    }
  }
}
