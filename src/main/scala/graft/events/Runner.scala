package graft.events

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

/** The consume loop (reference: run.go reflex.Run), in two forms:
  *
  *  1. Bounded (StreamToHead semantics): `runToHead`, `runParallel` and
  *     `Parallel.run` are one loop, `consumeWindows`, over different
  *     lists of consumers. The log after the smallest cursor is cut
  *     into id-ordered windows; each window is read once for every
  *     consumer of it, and each consumer's cursor commits after its
  *     successful batch. At-least-once: a crash between `fn` and `set`
  *     replays the batch.
  *
  *  2. `runStream` — live Structured Streaming over the event-log
  *     directory with `foreachBatch`; the same cursor protocol guards
  *     against source duplicates (exactly-once effect when `fn` is
  *     idempotent on id).
  */
object Runner {

  final case class RunResult(batches: Int, consumed: Long, finalCursor: Long, skipped: Long)

  /** Bounded replay to the head-at-start snapshot: `consumeWindows`
    * with one consumer that takes every event the spec's filter
    * passes. Its `fn` runs on the calling thread.
    */
  def runToHead(spec: Spec): RunResult = // a lone shard never reaches the executor
    consumeWindows(spec, Seq(new Shard(spec.consumer, spec.store, None)))(
      ExecutionContext.parasitic).head

  /** Ids that close each batch of `batchSize` events in (cursor, head]
    * — every batchSize-th id by global rank, then the head when events
    * follow the last of those (even if no event has id == head, as
    * after `forget` of the newest entity) — streamed
    * LAZILY: boundaries are fetched one block-group at a time, so the
    * driver never holds O(batches) longs (10^12 events / batchSize
    * 10^3 would be 8 GB collected eagerly). Live driver state is the
    * block index (one (blk, count) pair per 2^20-id block — the same
    * order as the file listing) plus ONE group's boundaries
    * (`blocksPerGroup`·2^20/batchSize longs, ~256 KB at defaults).
    * Rank is still two-level — block-local row_number + driver-summed
    * block offsets — so no partition ever sorts more than one block,
    * and each group's job reads a PUSHED-DOWN id range only.
    */
  private[events] def batchBoundaries(df: DataFrame, cursor: Long, head: Long,
      batchSize: Int, blocksPerGroup: Int = 32): Iterator[Long] = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val t = df.filter(col("id") > cursor && col("id") <= head).select(col("id"))
      .withColumn("blk", call_function("div", col("id"), lit(1L << 20)))
    // block index, collected once: O(idRange / 2^20)
    val blocks = t.groupBy("blk").agg(count(lit(1)).as("bn"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offsets = blocks.scanLeft(0L) { case (acc, (_, bn)) => acc + bn }
    val cuts = blocks.zip(offsets).grouped(blocksPerGroup).flatMap { group =>
      val loId = math.max(cursor + 1, group.head._1._1 * (1L << 20))
      val hiId = math.min(head, (group.last._1._1 + 1) * (1L << 20) - 1)
      val offDf = broadcast(
        group.map { case ((blk, _), off) => (blk, off) }.toSeq.toDF("blk", "off"))
      val local = Window.partitionBy("blk").orderBy("id")
      t.filter(col("id") >= loId && col("id") <= hiId)
        .withColumn("lrk", row_number().over(local).cast("long"))
        .join(offDf, "blk")
        .filter((col("lrk") + col("off")) % batchSize === 0)
        .select("id").distinct()
        .collect().map(_.getLong(0)).sorted.iterator
    }
    cuts ++ Option.when(offsets.last % batchSize != 0)(head)
  }

  /** Materializing a batch evaluates the event FILTER; a failure there
    * means no consumer ever saw the batch, so it is wrapped as a
    * filter error (reference consumer.go:177 asFilterErr) and raised
    * BEFORE the error-mode machinery: filter errors are never retried,
    * skipped or dead-lettered — BestEffort/DeadLetter eating a filter
    * bug would silently drop events no consumer attempted (errors.go
    * IsFilterErr contract). `cache()` is covered too: over a
    * LocalRelation (testkit logs) the optimizer's ConvertToLocalRelation
    * evaluates the filter at planning time, so the error can surface
    * before the count. The wrap is NARROW — only failures whose cause
    * chain carries a filter-evaluation marker classify
    * (Errors.isFilterOriginated); a transient read/fetch error flows
    * on unwrapped, like the reference.
    */
  private def wrapFilterErr[T](filtered: Boolean)(body: => T): T =
    try body
    catch {
      case NonFatal(e) if filtered && Errors.isFilterOriginated(e) =>
        throw new Errors.FilterException(e)
    }

  /** Hands a materialized batch of `n` events to the consumer under
    * its error mode.
    * @return (consumed, skipped)
    */
  private def consume(consumer: Consumer, batch: DataFrame, n: Long,
      cursor: Long): (Long, Long) = {
    def tryOnce(): Unit =
      try consumer.fn(batch)
      catch {
        case NonFatal(e) =>
          Metrics.recordError(consumer.name)
          consumer.recover match {
            case Some(r) => r(e, batch).foreach { unrecovered =>
              // consumer.go:196-200: the custom error counter ticks
              // only when recovery did NOT eliminate the error
              consumer.errorCounter.foreach(_.apply())
              throw unrecovered
            } // None → recovered
            case None =>
              consumer.errorCounter.foreach(_.apply())
              throw e
          }
      }
    consumer.errorMode match {
      case FailFast =>
        tryOnce(); (n, 0L)
      case BestEffort(retries) =>
        retry(retries)(tryOnce()) match {
          case None => (n, 0L)
          case Some(_) => (0L, n)
        }
      case DeadLetter(retries, errors) =>
        retry(retries)(tryOnce()) match {
          case None => (n, 0L)
          case Some(e) =>
            errors.record(consumer.name, cursor, e.getMessage)
            (0L, n)
        }
    }
  }

  /** @return None on success, Some(error) after exhausting retries. */
  private def retry(retries: Int)(body: => Unit): Option[Throwable] = {
    var last: Option[Throwable] = None
    var i = 0
    while (i <= retries) {
      try { body; return None } catch { case NonFatal(e) => last = Some(e) }
      i += 1
    }
    last
  }

  /** Supervised continuous consumption (reference: rpatterns/run.go
    * `RunForever` + errors.go's expected-error taxonomy). Each round is
    * a bounded `runToHead`; draining to the head is the EXPECTED end
    * of a round (ErrHeadReached in the reference), so the loop idles
    * `idleMs` and re-runs — no error, no backoff. Unexpected errors
    * report through `onError`, back off exponentially (doubling to
    * `maxBackoffMs`, reset on any clean round), and re-enter; the
    * cursor protocol makes re-entry safe (at-least-once, resume from
    * the last committed batch). `handle.stop()` is the ErrStopped
    * path: graceful, idempotent, interrupts an in-flight sleep and
    * joins the loop thread. Driver-side control plane only — each
    * round's data work is the same distributed runToHead.
    */
  final class ForeverHandle private[events] (
      thread: Thread,
      flag: java.util.concurrent.atomic.AtomicBoolean) {
    def stop(joinMs: Long = 30000L): Unit = {
      flag.set(true)
      thread.interrupt()
      thread.join(joinMs)
    }
    def isRunning: Boolean = thread.isAlive
  }

  /** @param freshSpec evaluated once per round — the reference's
    * StreamFunc re-queries its source on every stream call, and the
    * Spark analogue is re-resolving the log (a held DataFrame pins its
    * file listing, so events appended after it would stay invisible).
    */
  def runForever(
      freshSpec: () => Spec,
      idleMs: Long = 100L,
      maxBackoffMs: Long = 5000L,
      onError: (Throwable, Long) => Unit = (e, b) =>
        System.err.println(s"[run-forever] backing off ${b}ms after: $e"),
      /** wake-on-insert seam (reference rsql/eventstable.go:556): pass
        * the log's `EventsTable.watcher` and an idle round parks on it
        * instead of sleeping — an insert wakes the loop immediately.
        * The epoch is captured before runToHead, so an insert landing
        * mid-round re-enters without waiting at all.
        */
      watcher: Option[StreamWatcher] = None): ForeverHandle = {
    val stopped = new java.util.concurrent.atomic.AtomicBoolean(false)
    val name = freshSpec().consumer.name
    val t = new Thread(() => {
      var backoff = idleMs
      while (!stopped.get()) {
        try {
          val preEpoch = watcher.fold(0L)(_.epoch)
          runToHead(freshSpec())
          backoff = idleMs // clean round: reset the backoff ladder
          watcher match {
            case Some(w) => w.awaitNotify(preEpoch, idleMs)
            case None => Thread.sleep(idleMs)
          }
        } catch {
          case _: InterruptedException => () // stop(): loop condition exits
          case NonFatal(e) if !stopped.get() =>
            onError(e, backoff)
            try Thread.sleep(backoff) catch { case _: InterruptedException => () }
            backoff = math.min(backoff * 2, maxBackoffMs)
          case NonFatal(_) => () // failure racing a stop(): exit quietly
        }
      }
    }, s"run-forever-$name")
    t.setDaemon(true)
    t.start()
    new ForeverHandle(t, stopped)
  }

  /** rpatterns/parallel.go: n hash-sharded consumers, each with its own
    * cursor (`name_m_of_n`), over ONE pass of the log: `consumeWindows`
    * with shard m taking `shardId(n) === m` of each window the user
    * filter passes. The shards of one window run concurrently on `ec`.
    */
  def runParallel(spec: Spec, n: Int)(implicit ec: ExecutionContext): Seq[RunResult] = {
    val shardId = EventFilter.shardId(n)
    consumeWindows(spec, (0 until n).map { m =>
      new Shard(spec.consumer.copy(name = Parallel.appendMofN(spec.consumer.name, m, n)),
        spec.store, Some(shardId === m))
    })
  }

  /** One consumer of `consumeWindows`: its consumer, its cursor store
    * and, when it takes part of each window only, its predicate.
    */
  private[events] final class Shard(val consumer: Consumer, store: CursorStore,
      val pick: Option[Column]) {
    var cursor = store.get(consumer.name).getOrElse(-1L)
    var batches = 0
    var consumed = 0L
    var skipped = 0L
    var failure: Option[Throwable] = None
    def commit(c: Long): Unit = { store.set(consumer.name, c); cursor = c }
    /** Runs `body` unless the shard has failed; a failure stops the shard. */
    def guard(body: => Unit): Unit = if (failure.isEmpty) failure = Try(body).failed.toOption
  }

  /** The bounded consume loop. `spec` gives the log, the user filter,
    * the batch size and the noop ranges; its consumer and store are
    * unused, each shard brings its own.
    *
    * One `head()` and one boundary pass on the unfiltered log, from the
    * smallest shard cursor, serve every shard. Batch windows are cut on
    * the UNFILTERED log, so cursors advance past filtered-out events too
    * (reflex filters advance cursors — filter.go). Each window is read
    * once: the user filter applied, cached, and materialized by one
    * query that also counts each live shard's rows. Every live shard's
    * `fn` then gets the cached window, or a view of it under the
    * shard's predicate. The view carries no per-window literal, so its
    * generated code is compiled once per shard rather than once per
    * window; only a shard whose cursor sits inside the window (a resume
    * after uneven progress) adds `id > cursor`.
    *
    * A lone live shard runs on the calling thread; several run
    * concurrently on `ec`, and the next window starts when all of them
    * have returned. Error modes, noop-range jumps, cursor commits and
    * Metrics are per shard. A shard whose batch fails stops there, its
    * cursor at its last committed window, while the other shards run
    * on to the head; the call then rethrows the failure of the first
    * failed shard in `shards`, so no shard is still running when it
    * throws.
    */
  private[events] def consumeWindows(spec: Spec, shards: Seq[Shard])(
      implicit ec: ExecutionContext): Seq[RunResult] = {
    val head = spec.log.head()
    val base = spec.filter.fold(spec.log.df)(f => spec.log.df.filter(f.toColumn))
    val filtered = spec.filter.isDefined || shards.exists(_.pick.isDefined)
    val from = shards.map(_.cursor).minOption.getOrElse(head)
    val bounds = if (from < head) batchBoundaries(spec.log.df, from, head, spec.batchSize)
      else Iterator.empty
    // failures checked first: a stopped run fetches no further boundaries
    while (shards.exists(_.failure.isEmpty) && bounds.hasNext) {
      val upper = bounds.next()
      val live = shards.filter { s =>
        // Noop-range cursor override (rsql/loader.go): resuming into a
        // gap-filled range jumps straight past it — no scan, no fn call.
        spec.noopRanges.foreach(ranges => s.guard {
          val jumped = Patterns.skipNoops(ranges, s.cursor)
          if (jumped > s.cursor) s.commit(jumped)
        })
        s.failure.isEmpty && upper > s.cursor
      }
      if (live.nonEmpty) {
        val t0 = System.nanoTime()
        val lo = live.map(_.cursor).min
        val window = base.filter(col("id") > lo && col("id") <= upper)
        def batch(s: Shard, counted: Long): Unit = {
          val inside = s.cursor > lo
          val view = (s.pick ++ Option.when(inside)(col("id") > s.cursor))
            .reduceOption(_ && _).fold(window)(window.filter)
          val got = if (inside) view.count() else counted
          val (ok, skip) = if (got == 0) (0L, 0L) else consume(s.consumer, view, got, s.cursor)
          s.commit(upper)
          s.batches += 1
          s.consumed += ok
          s.skipped += skip
          Metrics.recordBatch(s.consumer.name, ok, skip,
            (System.nanoTime() - t0) / 1000000L, upper)
        }
        try {
          val counts = live.map(_.pick.fold(count(lit(1)))(p => count(when(p, lit(1)))))
          Try(wrapFilterErr(filtered)(window.cache().agg(counts.head, counts.tail: _*)
              .collect()(0))) match {
            case Failure(e) => live.foreach(_.failure = Some(e))
            case Success(row) if live.size == 1 => live.head.guard(batch(live.head, row.getLong(0)))
            case Success(row) =>
              val outcomes = awaitAll(live.zipWithIndex.map { case (s, i) =>
                Future(s.guard(batch(s, row.getLong(i))))
              })
              live.zip(outcomes).foreach { case (s, o) => o.failed.foreach(e => s.failure = Some(e)) }
          }
        } finally window.unpersist()
      }
    }
    // e.g. the whole remainder was a noop range
    shards.foreach(s => s.guard(if (s.cursor < head) s.commit(head)))
    shards.flatMap(_.failure).headOption.foreach(e => throw e)
    shards.map(s => RunResult(s.batches, s.consumed, s.cursor, s.skipped))
  }

  /** Waits for EVERY future, failed or not, so a caller that sees an
    * error knows no task is still running.
    */
  private[events] def awaitAll[T](fs: Seq[Future[T]])(
      implicit ec: ExecutionContext): Seq[Try[T]] =
    Await.result(Future.sequence(fs.map(_.transform(Success(_)))), Duration.Inf)

  /** Consumer-lag monitoring (reference: consumer.go
    * WithConsumerLagAlert + internal/metrics): how far behind the head
    * the committed cursor is, in events and in seconds of event time.
    */
  def lag(log: EventLog, store: CursorStore, consumerName: String): (Long, Long) =
    lagFullScan(log.df, store.get(consumerName).getOrElse(-1L))

  private def lagFullScan(df: DataFrame, cursor: Long): (Long, Long) = {
    val r = df.agg(max("id"), max(unix_timestamp(col("ts")))).collect()(0)
    if (r.isNullAt(0)) return (0L, 0L)
    val head = r.getLong(0)
    val headTs = r.getLong(1)
    val behindTs = df.filter(col("id") === cursor)
      .agg(max(unix_timestamp(col("ts")))).collect()(0)
    val secLag = if (cursor < 0 || behindTs.isNullAt(0)) 0L else headTs - behindTs.getLong(0)
    (math.max(head - cursor, 0L), math.max(secLag, 0L))
  }

  /** Partition-pruned lag probe for a date-partitioned log (`raw` =
    * the frame WITH its `date` partition column): instead of scanning
    * the whole log for the cursor row, probe date partitions newest →
    * oldest — each probe is one PartitionFilters-pruned scan of a
    * single date. EventsTable appends make ids monotone with dates, so
    * the loop stops at the first partition whose min(id) ≤ cursor: a
    * healthy consumer's cursor sits in the newest partition and the
    * probe reads exactly one date of a 100 TB log, never all of it.
    */
  def lagPartitioned(raw: DataFrame, store: CursorStore,
      consumerName: String): (Long, Long) = {
    val cursor = store.get(consumerName).getOrElse(-1L)
    // O(#partitions) listing — the same metadata any planner listing holds
    val dates = raw.select("date").distinct().orderBy(col("date").desc)
      .collect().map(_.getDate(0))
    // ONE newest→oldest loop computes head AND the cursor timestamp:
    // ids are monotone with dates, so the first non-empty partition
    // holds the head, and a healthy consumer's cursor sits in that
    // same partition — the whole probe is then a single pruned scan.
    // (The old shape ran a separate max(id), max(ts) over the full
    // log first, which at 100 TB is a full scan per monitoring call.)
    var head = -1L
    var headTs = 0L
    var secLag = 0L
    var i = 0
    var stop = false
    // Monotonicity watchdog: `date` is the producer-supplied event
    // time, so one backdated event puts large ids in an old partition
    // and the pruned probe would silently under-report. Each probed
    // partition's max(id) must sit strictly below the min(id) of the
    // newer partition probed before it; on violation fall back to the
    // exact full-scan lag. (Detection covers the partitions actually
    // probed — the healthy single-partition fast path cannot see an
    // overlap buried deeper, which is the price of not scanning.)
    var prevMin = Long.MaxValue
    while (i < dates.length && !stop) {
      val p = raw.filter(col("date") === dates(i))
        .agg(max("id"), max(unix_timestamp(col("ts"))), min("id"),
          max(when(col("id") === cursor, unix_timestamp(col("ts"))))).collect()(0)
      if (!p.isNullAt(0)) {
        if (p.getLong(0) >= prevMin) return lagFullScan(raw, cursor)
        prevMin = p.getLong(2)
        if (head < 0) { head = p.getLong(0); headTs = p.getLong(1) }
        if (cursor < 0) stop = true
        else if (!p.isNullAt(3)) {
          secLag = math.max(headTs - p.getLong(3), 0L)
          stop = true
        } else if (p.getLong(2) <= cursor) {
          // older partitions hold smaller ids only — the cursor row
          // does not exist (gap/forgotten)
          stop = true
        }
      }
      i += 1
    }
    if (head < 0) (0L, 0L) else (math.max(head - cursor, 0L), secLag)
  }

  /** rpatterns/await.go: first event after `cursor` matching the
    * foreign id + types, if any has arrived.
    */
  def await(log: EventLog, cursor: Long, fid: Long, types: String*): Option[Long] = {
    val f = EventFilter.foreignId(fid) &&
      (if (types.isEmpty) EventFilter.Raw(lit(true)) else EventFilter.ofAnyType(types: _*))
    val r = log.after(cursor).filter(f.toColumn).agg(min("id")).collect()(0)
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  /** Incrementally maintained current-state table — THE reference use
    * case (doc.go: events are pointers to state changes; consumers
    * materialize state). Each micro-batch MERGE-upserts its
    * latest-per-entity rows into a bucket-partitioned state table
    * (graft.sources.StateTable): only the foreignId-buckets the batch
    * touches are read and rewritten, so per-batch cost is O(batch key
    * spread), not O(state). Each rewritten bucket swaps atomically —
    * the partition-granular commit a Delta/Iceberg MERGE would make.
    */
  def materializeLatestState(
      spark: SparkSession,
      logDir: String,
      stateDir: String,
      checkpointDir: String,
      nBuckets: Int = 64): org.apache.spark.sql.streaming.StreamingQuery = {
    val table = new graft.sources.StateTable(spark, stateDir, nBuckets)
    val schema = spark.read.parquet(logDir).schema
    val stream = Event.project(spark.readStream.schema(schema).parquet(logDir))
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        table.upsert(batch)
        ()
      }
      .start()
  }

  /** Live tail via Structured Streaming (reference: run.go in its
    * long-poll mode). The event-log directory is consumed as a file
    * stream with two complementary delivery guards:
    *
    *  - WITHIN a run (and on restart from an intact checkpoint) the
    *    file-source offset log guarantees each file is delivered
    *    exactly once, so NO id-based filtering happens between
    *    micro-batches — a batch split that delivers smaller ids after
    *    larger ones (FileStreamSource orders by mod-time, not id) is
    *    processed, never skipped.
    *  - When the stream starts on a FRESH checkpoint (reflex-style
    *    resume-from-cursor: the offset log is gone but the cursor
    *    store survived), the whole directory is re-delivered and the
    *    cursor prunes already-consumed events. This path assumes ids
    *    are monotone with file order, which EventsTable appends
    *    satisfy; out-of-order producers should resume from the intact
    *    checkpoint or wrap `fn` with StreamOps.exactlyOnceIds.
    *
    * The cursor itself only ever advances (monotonic max), making it a
    * restart/lag watermark rather than a per-batch delivery filter.
    */
  def runStream(
      spark: SparkSession,
      logDir: String,
      spec: Spec,
      checkpointDir: String,
      availableNow: Boolean = true,
      /** backpressure: bound files ingested per micro-batch (the
        * maxInFlight analog of rpatterns/concurrent.go).
        */
      maxFilesPerTrigger: Option[Int] = None,
      commitPolicy: CommitPolicy = CommitPolicy.PerBatch): StreamingQuery = {
    val schema = spark.read.parquet(logDir).schema
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    runStreamFrom(Event.project(reader.parquet(logDir)), spec, checkpointDir,
      availableNow, commitPolicy)
  }

  /** When the durable cursor is allowed to advance during a streaming
    * run. The cursor is only consulted on a FRESH-checkpoint restart
    * (runStreamFrom), so the policy decides what such a restart can
    * skip — i.e. it is the at-least-once contract for crashes that
    * also lose the checkpoint.
    */
  sealed trait CommitPolicy
  object CommitPolicy {
    /** Commit cursor = max(id) after every micro-batch — correct when
      * ids are monotone with delivery order (EventsTable file appends:
      * monotone ids AND mod-times). Disorder — a batch whose min(id)
      * is at or below an already-delivered id — is detected at
      * runtime: it freezes further durable advances for the rest of
      * the run (processing continues) and bumps the consumer's
      * `disorder` metric, so a later fresh-checkpoint restart replays
      * from the pre-disorder cursor instead of skipping the
      * out-of-order slice. The freeze cannot retro-protect a crash
      * that happens BEFORE the disorder becomes visible; sources
      * without an order guarantee should use OnStop.
      */
    case object PerBatch extends CommitPolicy
    /** Never advance the durable cursor mid-run; commit max seen id
      * once on graceful termination (StreamingQueryListener). A crash
      * at ANY point replays from the previous graceful stop —
      * duplicates possible, skips impossible, with no ordering
      * assumption on the source at all.
      */
    case object OnStop extends CommitPolicy
  }

  /** Source-agnostic consume loop: ANY streaming DataFrame in the
    * canonical event projection — file log, socket/bus feed
    * (graft.sources.SocketEventSource), rate source, Kafka when a
    * broker exists — drives the same cursor protocol (reference:
    * server.go/client.go stream the log cross-service; the consumer
    * side is identical regardless of transport). The cursor prunes
    * already-consumed events when the checkpoint is fresh and advances
    * monotonically, exactly as in the file-log form.
    */
  def runStreamFrom(
      stream: DataFrame,
      spec: Spec,
      checkpointDir: String,
      availableNow: Boolean = true,
      commitPolicy: CommitPolicy = CommitPolicy.PerBatch): StreamingQuery = {
    val filtered = spec.filter.fold(stream)(f => stream.filter(f.toColumn))
    // fresh checkpoint ⇒ the source replays every file ⇒ prune by the
    // durable cursor; intact checkpoint ⇒ trust its offset log.
    val offsets = new java.io.File(checkpointDir, "offsets")
    val freshCheckpoint = !offsets.exists() || offsets.list().isEmpty
    val startCursor =
      if (freshCheckpoint) spec.store.get(spec.consumer.name).getOrElse(-1L)
      else -1L
    // foreachBatch runs serially per query; @volatile for the listener
    @volatile var maxSeen = startCursor
    @volatile var frozen = false
    val writer = filtered.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val fresh = batch.filter(col("id") > startCursor).cache()
        val t0 = System.nanoTime()
        try {
          if (!fresh.isEmpty) {
            val r = fresh.agg(count(lit(1)), min("id"), max("id")).collect()(0)
            val (n, mn, mx) = (r.getLong(0), r.getLong(1), r.getLong(2))
            spec.consumer.fn(fresh.orderBy("id"))
            if (mn <= maxSeen && !frozen) {
              frozen = true
              Metrics.recordDisorder(spec.consumer.name)
            }
            maxSeen = math.max(maxSeen, mx)
            val prev = spec.store.get(spec.consumer.name).getOrElse(-1L)
            val durable = commitPolicy match {
              case CommitPolicy.PerBatch if !frozen => mx
              case _ => prev
            }
            if (durable > prev) spec.store.set(spec.consumer.name, durable)
            Metrics.recordBatch(spec.consumer.name, n, 0L,
              (System.nanoTime() - t0) / 1000000L, math.max(durable, prev))
          }
        } catch {
          case NonFatal(e) => Metrics.recordError(spec.consumer.name); throw e
        } finally fresh.unpersist()
        ()
      }
    val query =
      (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
    // graceful termination: everything delivered was processed, so
    // maxSeen is safe under EITHER policy (it also heals a PerBatch
    // disorder freeze).
    val session = stream.sparkSession
    session.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
        if (e.runId == query.runId) {
          if (e.exception.isEmpty) {
            val prev = spec.store.get(spec.consumer.name).getOrElse(-1L)
            if (maxSeen > prev) spec.store.set(spec.consumer.name, maxSeen)
          }
          session.streams.removeListener(this)
        }
      }
    })
    query
  }
}
