package graft.events

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import scala.concurrent.ExecutionContext

/** The full parallel-consumption option surface (reference:
  * rpatterns/parallel.go). `Runner.runParallel` is the minimal m-of-n
  * form; this object adds the reference's configurable pieces —
  * ConsumerShards, ParallelSpecs, ParallelAck, WithHashOption /
  * WithHashFn, WithNameFormatter and WithConsumerSpecificOpts — so a
  * user porting an ack-based parallel consumer with per-shard options
  * lands on a 1:1 API.
  *
  * Scale note: each shard's filter is a Catalyst predicate over a
  * portable hash of the chosen key. `run` reads each window of the log
  * once for all the specs, through the same loop as `Runner.runToHead`
  * and `Runner.runParallel`; each spec's `fn` gets its shard's view of
  * that window.
  */
object Parallel {

  /** parallel.go HashOption: which event field feeds the shard hash. */
  sealed trait HashBy { private[events] def key: Column }
  /** HashOptionEventID (the reference default): most even
    * distribution, no ordering guarantee. */
  case object ByEventId extends HashBy {
    private[events] def key: Column = col("id")
  }
  /** HashOptionEventType: probably uneven (few types), but guarantees
    * processing order BY TYPE. */
  case object ByEventType extends HashBy {
    private[events] def key: Column = col("eventType")
  }
  /** HashOptionEventForeignID: good distribution + per-entity order. */
  case object ByForeignId extends HashBy {
    private[events] def key: Column = col("foreignId")
  }
  /** WithHashFn: custom key — any Column over the event projection. */
  final case class ByCustom(c: Column) extends HashBy {
    private[events] def key: Column = c
  }

  /** parallel.go appendMofN (the default name formatter). Shard names
    * key the cursors, so changing n resets them — the reference's
    * documented behavior. */
  def appendMofN(base: String, m: Int, n: Int): String = s"${base}_${m + 1}_of_$n"

  /** The folded parallelConfig (the ParallelOption list):
    *  - `hashBy`      — WithHashOption / WithHashFn
    *  - `fmtName`     — WithNameFormatter
    *  - `shardConsumerOpts` — WithConsumerSpecificOpts
    *    (parallel.go:280): per-shard consumer options keyed by the
    *    FORMATTED shard name. Reflex consumer options are functional
    *    opts over the consumer struct; here the options ARE the
    *    Consumer's fields (errorMode, recover), so the hook is a
    *    Consumer transformer.
    */
  final case class Options(
      hashBy: HashBy = ByEventId,
      fmtName: (String, Int, Int) => String = appendMofN,
      shardConsumerOpts: String => Consumer => Consumer = _ => identity)

  /** parallel.go ConsumerShard: formatted name + the unique m-of-n
    * EventFilter + this shard's consumer opts. Shards are disjoint and
    * complete: every event hashes to exactly one shard. */
  final case class ConsumerShard(name: String, filter: EventFilter,
      tune: Consumer => Consumer)

  /** parallel.go ConsumerShards. */
  def consumerShards(name: String, n: Int, opts: Options = Options()): Seq[ConsumerShard] =
    (0 until n).map { m =>
      val shardName = opts.fmtName(name, m, n)
      ConsumerShard(
        shardName,
        EventFilter.Raw(EventFilter.shardIdOf(n, opts.hashBy.key) === m),
        opts.shardConsumerOpts(shardName))
    }

  /** parallel.go ParallelSpecs: n runnable Specs sharing one log,
    * store and consume fn — the common case. */
  def specs(log: EventLog, store: CursorStore, name: String, n: Int,
      consume: DataFrame => Unit, batchSize: Int = 1000,
      opts: Options = Options()): Seq[Spec] =
    consumerShards(name, n, opts).map { sh =>
      Spec(log, store, sh.tune(Consumer(sh.name, consume)),
        filter = Some(sh.filter), batchSize = batchSize)
    }

  /** parallel.go ParallelAckConsumer + ParallelAck (the r15 verdict's
    * last rpatterns delta): every shard runs an ACK consumer — the
    * runner's automatic per-batch commit is dropped (ack.go
    * noSetStore) and ONLY the consumer's explicit acks move that
    * shard's cursor, so a crash after an unacked batch replays it
    * per shard independently. */
  def ackSpecs(log: EventLog, store: CursorStore, name: String, n: Int,
      consume: AckConsumer.AckBatch => Unit, batchSize: Int = 1000,
      opts: Options = Options()): Seq[Spec] =
    consumerShards(name, n, opts).map { sh =>
      Spec(log, new AckConsumer.NoSetStore(store),
        sh.tune(AckConsumer(sh.name, store, consume)),
        filter = Some(sh.filter), batchSize = batchSize)
    }

  /** parallel.go Parallel / ParallelAck run loop, bounded form: all
    * shards run to head together, one read of each window serving every
    * spec (the reference go-routines each spec through RunForever; the
    * supervised continuous form composes the same specs with
    * Runner.runForever). The specs must share one `EventLog` instance,
    * batch size and noop ranges, as `specs` and `ackSpecs` make them;
    * each spec's filter picks its part of every window. A shard's
    * failure is rethrown only once every shard has stopped, so no shard
    * is still consuming or committing when the caller sees it. */
  def run(specList: Seq[Spec])(implicit ec: ExecutionContext): Seq[Runner.RunResult] =
    specList.headOption.fold(Seq.empty[Runner.RunResult]) { first =>
      require(specList.forall(sp => (sp.log eq first.log) && sp.batchSize == first.batchSize &&
        sp.noopRanges == first.noopRanges),
        "Parallel.run: specs must share one EventLog, batchSize and noopRanges")
      Runner.consumeWindows(first.copy(filter = None), specList.map { sp =>
        new Runner.Shard(sp.consumer, sp.store, sp.filter.map(_.toColumn))
      })
    }
}
