package graft.events

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import scala.concurrent.ExecutionContext
import graft.TestSpark

/** rpatterns/parallel.go parity beyond the minimal Runner.runParallel:
  * ConsumerShards naming + WithNameFormatter, hash-option routing
  * (disjoint-and-complete by event id; whole-type routing by type),
  * ParallelAck (each shard an AckConsumer whose cursor moves ONLY on
  * explicit acks — parallel_test.go's ack flow), and
  * WithConsumerSpecificOpts (per-shard consumer options keyed by the
  * formatted shard name).
  */
class ParallelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val log = EventLog(spark, TestSpark.sf) // ids 0..999
  private implicit val ec: ExecutionContext = ExecutionContext.global

  test("ConsumerShards: default appendMofN names; WithNameFormatter overrides") {
    val names = Parallel.consumerShards("test", 3).map(_.name)
    assert(names === Seq("test_1_of_3", "test_2_of_3", "test_3_of_3"))
    val custom = Parallel.consumerShards("test", 2,
      Parallel.Options(fmtName = (b, m, n) => s"$b/$m:$n")).map(_.name)
    assert(custom === Seq("test/0:2", "test/1:2"))
  }

  test("shards are disjoint and complete: every event matches exactly one filter") {
    val shards = Parallel.consumerShards("p", 4) // default ByEventId
    val counts = shards.map(sh => log.df.filter(sh.filter.toColumn).count())
    assert(counts.sum === 1000L)
    assert(counts.forall(_ > 0L), s"degenerate distribution: $counts")
    // pairwise disjoint: summing per-event match counts never exceeds 1
    val matchCols = shards.map(sh => sh.filter.toColumn.cast("int"))
    val overlap = log.df
      .filter(matchCols.reduce(_ + _) =!= 1)
      .count()
    assert(overlap === 0L)
  }

  test("HashOptionEventType: each type routes wholly to one shard (order by type)") {
    val shards = Parallel.consumerShards("t", 3,
      Parallel.Options(hashBy = Parallel.ByEventType))
    val types = log.df.select("eventType").distinct().collect().map(_.getString(0))
    types.foreach { t =>
      val hits = shards.count { sh =>
        log.df.filter(col("eventType") === t && sh.filter.toColumn).count() > 0L
      }
      assert(hits === 1, s"type $t visible to $hits shards")
    }
  }

  test("ParallelAck: shard cursors move ONLY on explicit acks; re-run replays unacked tail") {
    val store = new MemCursorStore()
    // ack only the FIRST event of each shard's batch — the rest of the
    // batch is processed but unacknowledged (partial-progress shape)
    val specs = Parallel.ackSpecs(log, store, "pack", 2, ab => {
      val ids = ab.df.select(col("id")).orderBy("id").collect().map(_.getLong(0))
      if (ids.nonEmpty) ab.ack(ids.head)
    }, batchSize = 1000)
    val res = Parallel.run(specs)
    assert(res.map(_.consumed).sum === 1000L)
    // runner auto-commit DROPPED: cursor = first acked id, not head
    val c1 = store.get("pack_1_of_2")
    val c2 = store.get("pack_2_of_2")
    assert(c1.isDefined && c1.get < 999L, s"shard 1 cursor $c1 should be its first id, not head")
    assert(c2.isDefined && c2.get < 999L, s"shard 2 cursor $c2 should be its first id, not head")
    // at-least-once: a re-run resumes from the ACKED cursor and
    // replays everything after it for that shard
    val replayed = new java.util.concurrent.atomic.AtomicLong()
    val specs2 = Parallel.ackSpecs(log, store, "pack", 2, ab => {
      replayed.addAndGet(ab.df.count()); ()
    }, batchSize = 1000)
    Parallel.run(specs2)
    // each shard replays (its ~500 events) minus the single acked head event
    assert(replayed.get() === 1000L - 2L)
  }

  test("WithConsumerSpecificOpts: per-shard options keyed by formatted shard name") {
    val store = new MemCursorStore()
    val opts = Parallel.Options(
      shardConsumerOpts = {
        case "opt_1_of_2" => (c: Consumer) => c.copy(errorMode = BestEffort(retries = 7))
        case _ => identity[Consumer] _
      })
    val specs = Parallel.specs(log, store, "opt", 2, _ => (), opts = opts)
    assert(specs.map(_.consumer.name) === Seq("opt_1_of_2", "opt_2_of_2"))
    assert(specs(0).consumer.errorMode === BestEffort(7))
    assert(specs(1).consumer.errorMode === FailFast)
    // and the tuned option is live: a poison consume on shard 1 is
    // retried then skipped (BestEffort), while shard 2 keeps FailFast
    var attempts = 0
    val poisonOpts = Parallel.Options(
      shardConsumerOpts = {
        case "be_1_of_2" => (c: Consumer) => c.copy(errorMode = BestEffort(retries = 2))
        case _ => identity[Consumer] _
      })
    val beSpec = Parallel.specs(log, store, "be", 2, _ => {
      attempts += 1; throw new RuntimeException("poison")
    }, batchSize = 1000, opts = poisonOpts).head
    val r = Runner.runToHead(beSpec) // shard 1 alone: skips after retries
    assert(attempts === 3) // initial try + 2 retries (besteffort.go)
    assert(r.skipped > 0L)
  }

  test("AckConsumer.spec (NewAckSpec): single-consumer ack semantics share the same path") {
    val store = new MemCursorStore()
    val sp = AckConsumer.spec(log, store, "single-ack", ab => {
      // ack up to the 250th event only
      val ids = ab.df.select(col("id")).orderBy("id").collect().map(_.getLong(0))
      ab.ack(ids(math.min(249, ids.length - 1)))
    }, batchSize = 1000)
    Runner.runToHead(sp)
    assert(store.get("single-ack") === Some(249L))
  }

  test("Parallel.run throws only after every shard has stopped: the others run on to the head") {
    val store = new MemCursorStore()
    val returned = new java.util.concurrent.atomic.AtomicBoolean(false)
    val late = new java.util.concurrent.atomic.AtomicLong()
    val firstShardCalls = new java.util.concurrent.atomic.AtomicLong()
    // default ByEventId: a batch's shard is the hash of its ids
    val specs = Parallel.specs(log, store, "prun-fail", 4, b => {
      if (returned.get()) late.incrementAndGet()
      val shards = b.select(EventFilter.shardIdOf(4, col("id"))).distinct().collect()
        .map(_.getInt(0))
      if (shards.sameElements(Array(0)) && firstShardCalls.incrementAndGet() == 2)
        throw new RuntimeException("first shard fails on its 2nd window")
      Thread.sleep(100)
    }, batchSize = 100)
    val e = intercept[RuntimeException] { Parallel.run(specs) }
    returned.set(true)
    assert(e.getMessage === "first shard fails on its 2nd window")
    (2 to 4).foreach { m => assert(store.get(s"prun-fail_${m}_of_4") === Some(999L)) }
    Thread.sleep(500)
    assert(late.get() === 0L, "a shard fn ran after Parallel.run had thrown")
  }

  test("Parallel.run by foreign id matches each spec's own runToHead: ids, cursors, results") {
    val n = 3
    val opts = Parallel.Options(hashBy = Parallel.ByForeignId)
    /** the ids each batch brings, by shard; every batch is one shard's */
    final class Seen {
      private var ids = Map.empty[Int, Set[Long]]
      val fn: DataFrame => Unit = b => {
        val rows = b.select(EventFilter.shardIdOf(n, col("foreignId")), col("id")).collect()
        val shards = rows.map(_.getInt(0)).distinct
        assert(shards.length === 1, s"one batch spans shards ${shards.mkString(",")}")
        synchronized {
          ids += shards(0) -> (ids.getOrElse(shards(0), Set.empty[Long]) ++ rows.map(_.getLong(1)))
        }
      }
      def byShard: Map[Int, Set[Long]] = synchronized(ids)
    }
    val shared = new Seen
    val sharedStore = new MemCursorStore()
    val together = Parallel.run(Parallel.specs(log, sharedStore, "fid", n, shared.fn,
      batchSize = 300, opts = opts))
    val alone = new Seen
    val aloneStore = new MemCursorStore()
    val apart = Parallel.specs(log, aloneStore, "fid", n, alone.fn, batchSize = 300, opts = opts)
      .map(Runner.runToHead)

    assert(together === apart)
    assert(together.map(_.batches).distinct === Seq(4)) // 300+300+300+100
    assert(shared.byShard === alone.byShard)
    assert(shared.byShard.values.map(_.size).sum === 1000)
    (1 to n).foreach { m =>
      assert(sharedStore.get(s"fid_${m}_of_$n") === aloneStore.get(s"fid_${m}_of_$n"))
      assert(sharedStore.get(s"fid_${m}_of_$n") === Some(999L))
    }
  }

  test("Parallel.run rejects specs over two different logs before consuming anything") {
    val store = new MemCursorStore()
    val calls = new java.util.concurrent.atomic.AtomicLong()
    val fn: DataFrame => Unit = _ => { calls.incrementAndGet(); () }
    val other = new EventLog(log.df)
    val e = intercept[IllegalArgumentException] {
      Parallel.run(Parallel.specs(log, store, "two-logs", 2, fn).take(1) ++
        Parallel.specs(other, store, "two-logs", 2, fn).drop(1))
    }
    assert(e.getMessage.contains("one EventLog"))
    assert(calls.get() === 0L)
    assert(store.get("two-logs_1_of_2") === None && store.get("two-logs_2_of_2") === None)
  }
}
