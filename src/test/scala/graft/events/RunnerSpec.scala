package graft.events

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import java.util.concurrent.atomic.AtomicLong
import scala.concurrent.ExecutionContext
import scala.util.{Failure, Success, Try}
import graft.TestSpark

class RunnerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val log = EventLog(spark, TestSpark.sf) // ids 0..999

  test("runToHead consumes every event once, in batches, committing the cursor") {
    val store = new MemCursorStore()
    val seen = new AtomicLong()
    val spec = Spec(log, store, Consumer("c-all", b => { seen.addAndGet(b.count()); () }),
      batchSize = 300)
    val res = Runner.runToHead(spec)
    assert(res.consumed === 1000L)
    assert(seen.get() === 1000L)
    assert(res.batches === 4) // 300+300+300+100
    assert(res.finalCursor === 999L)
    assert(store.get("c-all") === Some(999L))
    // re-run: nothing new
    val res2 = Runner.runToHead(spec)
    assert(res2.consumed === 0L)
  }

  test("after forget of the newest entity, the last window still closes at the pinned head") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-forget-newest")
      .resolve("log").toString
    val table = new graft.sources.EventsTable(spark, dir)
    // ids 0..24; entity 9 owns the newest three
    table.insert((0 until 25).map(i => ("click", if (i >= 22) 9L else (i % 4).toLong,
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0, "{}"))
      .toDF("eventType", "foreignId", "ts", "value", "metadata"))
    assert(table.forget(9L) === 24L)
    assert(table.head === 24L)
    val remaining = (0L to 21L)
    def ids(b: DataFrame): Seq[Long] = b.select("id").collect().map(_.getLong(0)).toSeq

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val store = new MemCursorStore()
    val res = Runner.runToHead(Spec(table.log, store,
      Consumer("c-forgot", b => ids(b).foreach(seen.add)), batchSize = 10))
    assert(seen.toArray.toSeq.map(_.asInstanceOf[Long]).sorted === remaining)
    assert(res.consumed === 22L)
    assert(res.finalCursor === 24L)
    assert(store.get("c-forgot") === Some(24L))

    implicit val ec: ExecutionContext = ExecutionContext.global
    val shardSeen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val pres = Runner.runParallel(Spec(table.log, new MemCursorStore(),
      Consumer("c-forgot-par", b => ids(b).foreach(shardSeen.add)), batchSize = 10), 4)
    assert(shardSeen.toArray.toSeq.map(_.asInstanceOf[Long]).sorted === remaining)
    assert(pres.map(_.consumed).sum === 22L)
    assert(pres.forall(_.finalCursor === 24L), pres.toString)
  }

  test("filters advance the cursor past filtered-out events (reflex semantics)") {
    val store = new MemCursorStore()
    var n = 0L
    val spec = Spec(log, store, Consumer("c-filt", b => { n += b.count(); () }),
      filter = Some(EventFilter.ofType("purchase")), batchSize = 500)
    Runner.runToHead(spec)
    assert(store.get("c-filt") === Some(999L)) // cursor at head despite filter
    assert(n > 0L && n < 1000L)
  }

  test("FailFast leaves the cursor so a re-run resumes (at-least-once)") {
    val store = new MemCursorStore()
    var calls = 0
    val failing = Consumer("c-fail", _ => {
      calls += 1
      if (calls == 2) throw new RuntimeException("boom")
    })
    val spec = Spec(log, store, failing, batchSize = 400)
    intercept[RuntimeException] { Runner.runToHead(spec) }
    // first batch committed, second failed → cursor after batch 1 only
    assert(store.get("c-fail") === Some(399L))
    // re-run completes from there, replaying the failed batch
    val res = Runner.runToHead(spec)
    assert(res.finalCursor === 999L)
    assert(store.get("c-fail") === Some(999L))
  }

  test("BestEffort skips a poison batch after retries and continues") {
    val store = new MemCursorStore()
    var attempts = 0
    val consumer = Consumer("c-be", b => {
      if (b.filter("id = 450").count() > 0) { attempts += 1; throw new RuntimeException("poison") }
    }, errorMode = BestEffort(retries = 2))
    val res = Runner.runToHead(Spec(log, store, consumer, batchSize = 300))
    assert(res.finalCursor === 999L)
    assert(attempts === 3)      // 1 + 2 retries
    assert(res.skipped === 300L)
    assert(res.consumed === 700L)
  }

  test("DeadLetter records the failure and continues") {
    val store = new MemCursorStore()
    val errors = new MemErrorStore()
    val consumer = Consumer("c-dl", b => {
      if (b.filter("id = 100").count() > 0) throw new RuntimeException("poison-100")
    }, errorMode = DeadLetter(retries = 0, errors))
    val res = Runner.runToHead(Spec(log, store, consumer, batchSize = 250))
    assert(res.finalCursor === 999L)
    val recorded = errors.list("c-dl")
    assert(recorded.size === 1)
    assert(recorded.head._2 === "poison-100")
  }

  test("runParallel shards cover all events exactly once with per-shard cursors") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val store = new MemCursorStore()
    val seen = new AtomicLong()
    val spec = Spec(log, store, Consumer("c-par", b => { seen.addAndGet(b.count()); () }),
      batchSize = 400)
    val results = Runner.runParallel(spec, 4)
    assert(seen.get() === 1000L)
    assert(results.map(_.consumed).sum === 1000L)
    (1 to 4).foreach { m => assert(store.get(s"c-par_${m}_of_4") === Some(999L)) }
  }

  test("recover function can eliminate an error (batch counts as consumed)") {
    val store = new MemCursorStore()
    var recovered = 0
    val consumer = Consumer("c-rec", b => {
      if (b.filter("id = 450").count() > 0) throw new RuntimeException("flaky")
    }, recover = Some((e, _) => { recovered += 1; None })) // swallow
    val res = Runner.runToHead(Spec(log, store, consumer, batchSize = 300))
    assert(res.finalCursor === 999L)
    assert(recovered === 1)
    assert(res.skipped === 0L) // recovered, not skipped
  }

  test("lag reports events and event-time seconds behind the head") {
    val store = new MemCursorStore(Map("c-lag" -> 499L))
    val (events, secs) = Runner.lag(log, store, "c-lag")
    assert(events === 500L)
    assert(secs > 0L)
    store.set("c-lag", 999L)
    assert(Runner.lag(log, store, "c-lag") === ((0L, 0L)))
  }

  test("AckConsumer commits exactly what the consumer acks") {
    val store = new MemCursorStore()
    val seenUpTo = new AtomicLong(-1)
    // ack only the first half of each batch — simulating partial progress
    val consumer = AckConsumer("c-ack", store, ab => {
      val ids = ab.df.select("id").collect().map(_.getLong(0))
      val mid = ids(ids.length / 2)
      ab.ack(mid)
      seenUpTo.set(mid)
    })
    // run ONE batch manually (batchSize = whole log) then inspect the ack
    val spec = Spec(log, store, consumer, batchSize = 1000)
    Runner.runToHead(spec)
    // runToHead's own commit lands at head; the mid-batch ack happened first
    assert(seenUpTo.get() === 500L)
  }

  test("noop-range cursor override skips gap-filled ranges without scanning them") {
    // log fabricated through the public test harness (graft.testkit)
    // ids 0-9 real, 10-99 noops (a filled gap), 100-109 real
    val streamer = graft.testkit.TestStreamer(spark)
    (0L until 10L).foreach(i => streamer.insertEvent(i, "click", i % 3, ts(i), 1.0, "{}"))
    (10L until 100L).foreach(i => streamer.insertEvent(i, "noop", -1L, ts(i), 0.0, "{}"))
    (100L until 110L).foreach(i => streamer.insertEvent(i, "click", i % 3, ts(i), 1.0, "{}"))
    val noopLog = streamer.log

    // the loader derives the ranges from the log itself
    val ranges = Patterns.noopRanges(noopLog.df)
    assert(ranges === Seq((10L, 99L)))

    val store = new MemCursorStore()
    var sawNoop = false
    var batchCount = 0
    val spec = Spec(noopLog, store, Consumer("c-noop", b => {
      batchCount += 1
      if (b.filter("eventType = 'noop'").count() > 0) sawNoop = true
    }), batchSize = 10, noopRanges = Some(ranges))
    val res = Runner.runToHead(spec)
    assert(res.finalCursor === 109L)
    assert(res.consumed === 20L)
    assert(!sawNoop, "consumer saw a noop event despite the cursor override")
    assert(batchCount === 2, s"expected 2 batches (range skipped), got $batchCount")
    assert(store.get("c-noop") === Some(109L))
  }

  private def ts(i: Long): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 00:${i % 60}%02d:00")

  test("consumer metrics update per batch: processed, batches, cursor") {
    Metrics.reset("c-metrics")
    val store = new MemCursorStore()
    Runner.runToHead(Spec(log, store, Consumer("c-metrics", _ => ()), batchSize = 300))
    val m = Metrics.get("c-metrics")
    assert(m.batches === 4L)
    assert(m.processed === 1000L)
    assert(m.errors === 0L)
    assert(m.skipped === 0L)
    assert(m.lastCursor === 999L)
  }

  test("activity gauge: active within TTL, inactive beyond it, negative TTL disables") {
    Metrics.reset("c-activity")
    // unknown consumer: inactive (never ticked)
    assert(!Metrics.active("c-activity", ttlMs = 60000L))
    Runner.runToHead(Spec(log, new MemCursorStore(), Consumer("c-activity", _ => ())))
    val tick = Metrics.get("c-activity").lastActivityMillis
    assert(tick > 0L)
    assert(Metrics.active("c-activity", ttlMs = 60000L))
    // beyond the TTL the gauge reports inactive (consumer stalled)
    assert(!Metrics.active("c-activity", ttlMs = 60000L, nowMs = tick + 60001L))
    // reference WithoutConsumerActivityTTL: negative TTL = always active
    assert(Metrics.active("c-activity", ttlMs = -1L, nowMs = tick + 999999999L))
  }

  test("consumer metrics count errors and skips through the retry machinery") {
    Metrics.reset("c-metrics-err")
    val consumer = Consumer("c-metrics-err", b => {
      if (b.filter("id = 450").count() > 0) throw new RuntimeException("poison")
    }, errorMode = BestEffort(retries = 1))
    Runner.runToHead(Spec(log, new MemCursorStore(), consumer, batchSize = 300))
    val m = Metrics.get("c-metrics-err")
    assert(m.errors === 2L) // first attempt + 1 retry
    assert(m.skipped === 300L)
    assert(m.processed === 700L)
    assert(m.batches === 4L)
  }

  test("cachedTail serves the same data as the cold log") {
    val hot = log.cachedTail(100)
    assert(hot.df.count() === 1000L)
    assert(hot.after(990L).count() === log.after(990L).count())
    assert(hot.head() === 999L)
  }

  test("await finds the first matching event after the cursor") {
    val first = Runner.await(log, cursor = -1L, fid = 12L, "signup")
    assert(first === Some(1L)) // known from the seeded data
    val none = Runner.await(log, cursor = 999L, fid = 12L, "signup")
    assert(none === None)
  }

  test("batchBoundaries streams lazily across id blocks with exact global ranks") {
    import spark.implicits._
    // 96 ids spread across THREE 2^20-id blocks (sparse, like a
    // gap-filled log) — forces multi-group iteration with carry-over
    // ranks between blocks
    val ids = (0 until 96).map(i => i.toLong * (1L << 15) * 3L)
    val df = ids.toDF("id")
    val head = ids.max
    val bounds = Runner.batchBoundaries(df, -1L, head, batchSize = 10,
      blocksPerGroup = 1)
    // lazy: pulling the FIRST boundary must not require later groups
    assert(bounds.hasNext)
    val sorted = ids.sorted
    val expected = (sorted.indices.collect {
      case i if (i + 1) % 10 == 0 => sorted(i)
    } :+ head).distinct
    assert(bounds.toSeq === expected)
    // every event lands in exactly one batch when consumed through them
    val store = new MemCursorStore()
    var n = 0L
    val res = Runner.runToHead(Spec(new EventLog(
      df.select(col("id"), lit("t").as("eventType"), lit(1L).as("foreignId"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"),
        lit(1.0).as("value"), lit("{}").as("metadata"))),
      store, Consumer("c-bounds", b => { n += b.count(); () }), batchSize = 10))
    assert(n === 96L)
    assert(res.finalCursor === head)
  }

  test("lagPartitioned probes newest date partitions only, matching full-scan lag") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-lagpart")
      .resolve("log").toString
    val table = new graft.sources.EventsTable(spark, dir, partitionByDate = true)
    table.insert((0 until 30).map { i =>
      ("click", (i % 3).toLong,
        java.sql.Timestamp.valueOf(f"2024-01-0${i / 10 + 1}%d 00:${i % 60}%02d:00"), 1.0, "{}")
    }.toDF("eventType", "foreignId", "ts", "value", "metadata"))

    // cursor in the NEWEST partition: one-probe path
    val store = new MemCursorStore(Map("c-lp" -> 25L))
    assert(Runner.lagPartitioned(table.raw, store, "c-lp") ===
      Runner.lag(table.log, store, "c-lp"))
    // cursor in the middle partition: probes days 3, then 2, stops
    store.set("c-lp", 15L)
    assert(Runner.lagPartitioned(table.raw, store, "c-lp") ===
      Runner.lag(table.log, store, "c-lp"))
    // forgotten cursor row: monotone-id early stop, secLag 0
    table.forget(1L) // removes ids ≡ 1 mod 3, incl. 16
    store.set("c-lp", 16L)
    assert(Runner.lagPartitioned(table.raw, store, "c-lp") ===
      Runner.lag(table.log, store, "c-lp"))
    // unset cursor
    val fresh = new MemCursorStore()
    assert(Runner.lagPartitioned(table.raw, fresh, "c-none")._2 === 0L)
  }

  test("runForever consumes new events across rounds, backs off on failures, stops cleanly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-forever")
      .resolve("log").toString
    val table = new graft.sources.EventsTable(spark, dir)
    def insert(n: Int, fidBase: Long): Unit =
      table.insert((0 until n).map { i =>
        ("click", fidBase + i, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0, "{}")
      }.toDF("eventType", "foreignId", "ts", "value", "metadata"))
    insert(5, 0L)
    val store = new MemCursorStore()
    val seen = new AtomicLong()
    val failures = new AtomicLong()
    val poison = new java.util.concurrent.atomic.AtomicBoolean(false)
    val consumer = Consumer("c-forever", b => {
      if (poison.get()) { poison.set(false); throw new RuntimeException("transient") }
      seen.addAndGet(b.count()); ()
    })
    val handle = Runner.runForever(
      () => Spec(table.log, store, consumer, batchSize = 100),
      idleMs = 50L, maxBackoffMs = 200L,
      onError = (_, _) => { failures.incrementAndGet(); () })
    def waitFor(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!cond && System.nanoTime() < deadline) Thread.sleep(50)
      assert(cond)
    }
    try {
      waitFor(seen.get() === 5L) // first round drains to head
      insert(3, 100L) // events landing AFTER the head: picked up next round
      waitFor(seen.get() === 8L)
      // transient failure: supervisor reports it, backs off, recovers
      poison.set(true)
      insert(2, 200L)
      waitFor(seen.get() === 10L)
      assert(failures.get() >= 1L)
      // the cursor commit lands after processing — under load it can
      // trail the seen counter briefly, so wait, don't assert-once
      waitFor(store.get("c-forever") === Some(9L))
    } finally handle.stop()
    assert(!handle.isRunning)
    // stop is idempotent
    handle.stop()
  }

  test("runForever with a notifier wakes on insert without waiting out the idle park") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-notify")
      .resolve("log").toString
    val notifier = new InMemNotifier
    val table = new graft.sources.EventsTable(spark, dir, notifier = Some(notifier))
    def insert(n: Int, fidBase: Long): Unit =
      table.insert((0 until n).map { i =>
        ("click", fidBase + i, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0, "{}")
      }.toDF("eventType", "foreignId", "ts", "value", "metadata"))
    insert(2, 0L)
    val store = new MemCursorStore()
    val seen = new AtomicLong()
    val consumer = Consumer("c-notify", b => { seen.addAndGet(b.count()); () })
    // idleMs = 60 s: without the wake-on-insert seam the second batch
    // would not be seen for a minute; with it, within a poll round.
    val handle = Runner.runForever(
      () => Spec(table.log, store, consumer, batchSize = 100),
      idleMs = 60000L, maxBackoffMs = 60000L,
      watcher = Some(table.watcher))
    def waitFor(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!cond && System.nanoTime() < deadline) Thread.sleep(50)
      assert(cond)
    }
    try {
      waitFor(seen.get() === 2L)
      val t0 = System.nanoTime()
      insert(3, 100L) // post-commit notify must wake the parked loop
      waitFor(seen.get() === 5L)
      val wakeMs = (System.nanoTime() - t0) / 1000000L
      assert(wakeMs < 30000L,
        s"consumer took ${wakeMs}ms to see the insert — notify did not wake the 60s park")
    } finally handle.stop()
    assert(!handle.isRunning)
  }

  test("lagPartitioned detects a backdated event (id/date overlap) and falls back to exact lag") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-lagback")
      .resolve("log").toString
    val table = new graft.sources.EventsTable(spark, dir, partitionByDate = true)
    table.insert((0 until 30).map { i =>
      ("click", (i % 3).toLong,
        java.sql.Timestamp.valueOf(f"2024-01-0${i / 10 + 1}%d 00:${i % 60}%02d:00"), 1.0, "{}")
    }.toDF("eventType", "foreignId", "ts", "value", "metadata"))
    // a producer backdates ONE event: the newest id (30) lands in the
    // OLDEST date partition, breaking the id↔date monotonicity the
    // pruned probe relies on
    table.insert(Seq(("click", 0L,
      java.sql.Timestamp.valueOf("2024-01-01 23:59:00"), 1.0, "{}"))
      .toDF("eventType", "foreignId", "ts", "value", "metadata"))
    // cursor in the oldest partition forces the probe down to day 1,
    // where day1.max(id)=30 ≥ day2.min(id) trips the watchdog → the
    // exact full-scan result, not the silently under-reported one
    val store = new MemCursorStore(Map("c-bd" -> 5L))
    val full = Runner.lag(table.log, store, "c-bd")
    assert(full._1 === 25L) // true head IS the backdated id 30
    assert(Runner.lagPartitioned(table.raw, store, "c-bd") === full)
  }

  test("WithCursorSetCounter: ticks once per durable cursor write (default metric)") {
    Metrics.reset("c-csc")
    val store = CursorStore.withSetCounter(new MemCursorStore())
    val spec = Spec(log, store, Consumer("c-csc", _ => ()), batchSize = 250)
    Runner.runToHead(spec)
    assert(Metrics.get("c-csc").cursorSets === 4L) // one write per batch
    // custom counter hook (the reference's f func()) sees the same count
    var ticks = 0
    val custom = CursorStore.withSetCounter(new MemCursorStore(), _ => ticks += 1)
    Runner.runToHead(Spec(log, custom, Consumer("c-csc2", _ => ()), batchSize = 500))
    assert(ticks === 2)
  }

  test("WithErrorCounter: ticks only when an error survives recovery (consumer.go:196-200)") {
    var ticks = 0
    val counter = Some(() => { ticks += 1; () })
    // recovered error: counter must NOT tick
    val store = new MemCursorStore()
    Runner.runToHead(Spec(log, store,
      Consumer("c-ec1", _ => throw new RuntimeException("x"),
        recover = Some((_, _) => None), errorCounter = counter),
      batchSize = 1000))
    assert(ticks === 0)
    // unrecovered (passed-through) error: ticks once per failed attempt
    intercept[RuntimeException] {
      Runner.runToHead(Spec(log, new MemCursorStore(),
        Consumer("c-ec2", _ => throw new RuntimeException("y"),
          recover = Some((e, _) => Some(e)), errorCounter = counter),
        batchSize = 1000))
    }
    assert(ticks === 1)
    // no recover fn + BestEffort retries: every failed attempt ticks
    Runner.runToHead(Spec(log, new MemCursorStore(),
      Consumer("c-ec3", _ => throw new RuntimeException("z"),
        errorMode = BestEffort(retries = 2), errorCounter = counter),
      batchSize = 1000))
    assert(ticks === 1 + 3) // initial + 2 retries
  }

  /** A consumer fn that records the ids it sees by shard (under
    * `runParallel(…, n)`'s hash), checking each batch is one shard's.
    */
  private final class ShardIds(n: Int) {
    private var seen = Map.empty[Int, Set[Long]]
    val fn: DataFrame => Unit = b => {
      val rows = b.select(EventFilter.shardId(n), col("id")).collect()
      val shards = rows.map(_.getInt(0)).distinct
      assert(shards.length === 1, s"one batch spans shards ${shards.mkString(",")}")
      synchronized {
        seen += shards(0) -> (seen.getOrElse(shards(0), Set.empty[Long]) ++ rows.map(_.getLong(1)))
      }
    }
    def ids: Map[Int, Set[Long]] = synchronized(seen)
  }

  test("runParallel gives the same results as n filtered runToHeads (user filter, noop ranges)") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val n = 4
    val noopLog = new EventLog(log.df.withColumn("eventType",
      org.apache.spark.sql.functions.when(col("id").between(300, 599), lit("noop"))
        .otherwise(col("eventType"))))
    val ranges = Patterns.noopRanges(noopLog.df)
    assert(ranges === Seq((300L, 599L)))
    val user = !EventFilter.ofType("purchase")
    def spec(name: String, rec: ShardIds, store: CursorStore) =
      Spec(noopLog, store, Consumer(name, rec.fn), filter = Some(user), batchSize = 300,
        noopRanges = Some(ranges))

    val newRec = new ShardIds(n)
    val newStore = new MemCursorStore()
    val shared = Runner.runParallel(spec("par-new", newRec, newStore), n)

    val oldRec = new ShardIds(n)
    val oldStore = new MemCursorStore()
    val base = spec("par-old", oldRec, oldStore)
    val separate = (0 until n).map { m =>
      Runner.runToHead(base.copy(
        consumer = base.consumer.copy(name = s"par-old_${m + 1}_of_$n"),
        filter = Some(user && EventFilter.shardMofN(m, n))))
    }

    assert(shared === separate)
    assert(shared.map(_.batches).distinct === Seq(3)) // (-1,299], noop jump, (599,899], (899,999]
    assert(newRec.ids === oldRec.ids)
    assert(newRec.ids.values.flatten.forall(id => id < 300L || id > 599L))
    (1 to n).foreach { m =>
      assert(newStore.get(s"par-new_${m}_of_$n") === oldStore.get(s"par-old_${m}_of_$n"))
      assert(newStore.get(s"par-new_${m}_of_$n") === Some(999L))
    }
  }

  test("runParallel throws only after every shard has stopped: the others run on to the head") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val store = new MemCursorStore()
    val returned = new java.util.concurrent.atomic.AtomicBoolean(false)
    val late = new AtomicLong()
    val firstShardCalls = new AtomicLong()
    val spec = Spec(log, store, Consumer("c-par-fail", b => {
      if (returned.get()) late.incrementAndGet()
      val shards = b.select(EventFilter.shardId(4)).distinct().collect().map(_.getInt(0))
      if (shards.sameElements(Array(0)) && firstShardCalls.incrementAndGet() == 2)
        throw new RuntimeException("first shard fails on its 2nd window")
      Thread.sleep(100)
    }), batchSize = 100)
    val e = intercept[RuntimeException] { Runner.runParallel(spec, 4) }
    returned.set(true)
    assert(e.getMessage === "first shard fails on its 2nd window")
    assert(store.get("c-par-fail_1_of_4") === Some(99L))
    (2 to 4).foreach { m => assert(store.get(s"c-par-fail_${m}_of_4") === Some(999L)) }
    Thread.sleep(500)
    assert(late.get() === 0L, "a shard fn ran after runParallel had thrown")
  }

  test("runParallel under injected faults: at-least-once per shard across uneven restarts") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val n = 4
    def shardName(m: Int) = s"c-par-faults_${m + 1}_of_$n"
    val shardOf = log.df.select(col("id"), EventFilter.shardId(n)).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ids = shardOf.keys.toVector.sorted
    // uneven starting cursors: ids at or below them were seen by an earlier run
    val initial = Map(0 -> -1L, 1 -> 137L, 2 -> 402L, 3 -> 58L)
    // seeded fault points, each firing once: fn throws on the batch that
    // holds one; store.set throws on the commit that passes one
    val rnd = new scala.util.Random(20261019L)
    def faults(k: Int) = {
      val s = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      rnd.shuffle(ids.filter(id => id > initial(shardOf(id)))).take(k).foreach(s.add(_))
      s
    }
    val fnFaults = faults(2)
    val setFaults = faults(2)

    val lock = new Object
    val delivered = Array.tabulate(n)(m => ids.filter(id => shardOf(id) == m && id <= initial(m)).toSet)
    val lastBatch = Array.fill(n)(Set.empty[Long])
    var thisRun = Array.fill(n)(Vector.empty[Set[Long]])
    val consumer = Consumer("c-par-faults", b => {
      val got = b.select(col("id")).collect().map(_.getLong(0)).toSet
      val m = shardOf(got.head)
      lock.synchronized { thisRun(m) :+= got }
      if (got.exists(fnFaults.remove)) throw new RuntimeException("injected fn fault")
    })
    val mem = new MemCursorStore(initial.map { case (m, c) => shardName(m) -> c })
    val store = new CursorStore {
      def get(name: String): Option[Long] = mem.get(name)
      def set(name: String, cursor: Long): Unit = {
        val prev = mem.get(name).getOrElse(-1L)
        val passes = (id: Long) => id > prev && id <= cursor && shardName(shardOf(id)) == name
        if (ids.exists(id => passes(id) && setFaults.remove(id)))
          throw new RuntimeException("injected set fault")
        mem.set(name, cursor)
      }
    }
    val spec = Spec(log, store, consumer, batchSize = 250)

    var runs = 0
    var done = false
    while (!done) {
      runs += 1
      assert(runs <= 8, "faults did not converge")
      thisRun = Array.fill(n)(Vector.empty)
      Try(Await.result(Future(Runner.runParallel(spec, n)), 60.seconds)) match {
        case Success(_) => done = true
        case Failure(e) => assert(e.getMessage.startsWith("injected"), e.toString)
      }
      (0 until n).foreach { m =>
        val got = thisRun(m)
        // a crash replays at most the one window the shard had in flight
        val replayed = got.flatten.toSet.intersect(delivered(m))
        assert(replayed.subsetOf(lastBatch(m)),
          s"run $runs shard $m replayed ${(replayed -- lastBatch(m)).toSeq.sorted.take(5)}")
        delivered(m) ++= got.flatten
        if (got.nonEmpty) lastBatch(m) = got.last
        // no cursor passes an event its shard never saw
        val cursor = store.get(shardName(m)).getOrElse(-1L)
        val unseen = ids.filter(id => shardOf(id) == m && id <= cursor && !delivered(m)(id))
        assert(unseen.isEmpty, s"run $runs shard $m cursor $cursor passed unseen ${unseen.take(5)}")
      }
    }
    assert(runs > 1 && fnFaults.isEmpty && setFaults.isEmpty, s"faults left after $runs runs")
    // every event reached its shard at least once
    ids.foreach { id => assert(delivered(shardOf(id))(id), s"event $id never reached its shard") }
    (0 until n).foreach { m => assert(store.get(shardName(m)) === Some(999L)) }
  }

  /** Queries the runner runs for one `run(batchSize)` call whose
    * consumers run none, so every query counted is the runner's.
    */
  private def runnerQueries(run: Int => Unit)(batchSize: Int): Long = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val queries = new AtomicLong()
    val marked = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = tally(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = tally(qe)
      private def tally(qe: QueryExecution): Unit =
        if (qe.logical.toString.contains("scan-count-marker")) marked.set(true)
        else { queries.incrementAndGet(); () }
    }
    spark.listenerManager.register(listener)
    try {
      run(batchSize)
      // listener events arrive in order: once the marker is in, so is the rest
      spark.range(1).select(lit("scan-count-marker")).collect()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!marked.get() && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marked.get(), "query listener did not drain")
    } finally spark.listenerManager.unregister(listener)
    queries.get()
  }

  /** 4 windows, then 10: one query per window (a shard walk would add 4
    * per window), plus head() and the boundary pass.
    */
  private def assertQueriesGrowWithWindows(what: String, run: Int => Unit): Unit = {
    val four = runnerQueries(run)(250)
    val ten = runnerQueries(run)(100)
    assert(ten - four <= 6L + 2L, s"$what: 4 windows: $four queries, 10 windows: $ten")
    assert(ten <= 10L + 5L, s"$what: 10 windows: $ten queries")
  }

  test("runParallel's own queries grow with the windows, not with windows x shards") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    assertQueriesGrowWithWindows("runParallel", batchSize =>
      Runner.runParallel(Spec(log, new MemCursorStore(), Consumer("c-scans", _ => ()),
        batchSize = batchSize), 4))
  }

  test("Parallel.run's own queries grow with the windows, not with windows x shards") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    assertQueriesGrowWithWindows("Parallel.run(specs)", batchSize =>
      Parallel.run(Parallel.specs(log, new MemCursorStore(), "c-scans-specs", 4, _ => (),
        batchSize = batchSize)))
    assertQueriesGrowWithWindows("Parallel.run(ackSpecs)", batchSize =>
      Parallel.run(Parallel.ackSpecs(log, new MemCursorStore(), "c-scans-acks", 4, _ => (),
        batchSize = batchSize)))
  }
}
