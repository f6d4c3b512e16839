package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

import graft.events.InMemNotifier
import graft.sources.{EventsTable, GrpcEventClient, GrpcEventServer}

/** live_tail: a pre-filled log served over gRPC with the table's
  * watcher. One client stream reads from cursor -1 to the pre-filled
  * head (catch-up), then stays open while an open-loop generator feeds
  * one producer thread that inserts whatever is queued (tail).
  */
object LiveTail {
  /** Generator rate, events/s: above what one insert at a time drains,
    * so the producer inserts back to back and each insert carries the
    * events queued during the one before.
    */
  val Rate = 40.0
  val Types: Array[String] = Array("click", "view", "purchase", "signup", "error")

  /** A generated event; `created` is when it was due, so a stalled
    * generator's lateness counts in the delivery time.
    */
  final case class Gen(seq: Int, eventType: String, foreignId: Long, value: Double,
      metadata: String, created: Long)
  final case class Cycle(first: Int, n: Int, start: Long, end: Long)

  private val insertSchema = StructType(Seq(
    StructField("eventType", StringType), StructField("foreignId", LongType),
    StructField("ts", TimestampType), StructField("value", DoubleType),
    StructField("metadata", StringType)))

  def run(ctx: Ctx): Unit = {
    import ctx._
    val raw = s"$work/input/events.parquet"
    val logDir = Backlog.setUpLogs(ctx, raw)
    val notifier = new InMemNotifier
    val table = new EventsTable(spark, logDir, notifier = Some(notifier))
    val prefilled = table.head + 1
    val server = new GrpcEventServer(() => table.log.df, watcher = Some(table.watcher))
    try {
      // untimed warm-up of the serve path
      (0 until WarmCatchUps).foreach(_ => catchUp(ctx, server.boundPort, prefilled, "warmup"))
      startTrace()
      // bounded catch-ups, each from cursor -1 to the pre-filled head
      val cpuRates = (0 until CatchUps).flatMap { _ =>
        op("catchup") { catchUp(ctx, server.boundPort, prefilled, "catchup") }
      }
      serve(ctx, table, server.boundPort, prefilled, cpuRates)
    } finally server.close()
  }

  /** Bounded catch-ups before the live stream: untimed ones first (the
    * CPU time a catch-up takes kept falling over the first three), then
    * timed ones, whose median is the catch-up rate.
    */
  val WarmCatchUps = 3
  val CatchUps = 4

  /** One `toHead` stream from -1: checks ids 0..n-1 once each in order;
    * returns events per CPU second of the JVM (server and client).
    */
  private def catchUp(ctx: Ctx, port: Int, n: Long, span: String): Double = {
    var next = 0L
    val c0 = Ctx.cpuNs
    val res = Trace.span(span) {
      GrpcEventClient.stream("localhost", port, after = -1, toHead = true) { e =>
        if (e.id == next) next += 1 else next = -1
        true
      }
    }
    val c1 = Ctx.cpuNs
    if (res.grpcStatus != 0 || next != n)
      throw new RuntimeException(s"catch-up: status ${res.grpcStatus}, ${next} of $n in order")
    n / ((c1 - c0) / 1e9)
  }

  private def serve(ctx: Ctx, table: EventsTable, port: Int, prefilled: Long,
      cpuRates: Seq[Double]): Unit = {
    import ctx._
    val rnd = new java.util.SplittableRandom(seed)
    val gens = new java.util.concurrent.ConcurrentHashMap[Int, Gen]()
    val queue = new ConcurrentLinkedQueue[Gen]()
    val receipts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val cycles = new ConcurrentLinkedQueue[Cycle]()
    val catchupTypes = mutable.Map.empty[String, Long]
    val orderErrors = new AtomicLong
    val fieldErrors = new AtomicLong
    val caughtUp = new CountDownLatch(1)
    val generated = new AtomicLong
    val genDone = new AtomicBoolean(false)
    var lastId = -1L
    var wireBytes = 0L
    @volatile var lateMs = 0.0
    @volatile var sock: java.net.Socket = null

    // one stream: catch-up from -1, then the tail
    val streamStart = System.nanoTime()
    val client = new Thread(() => {
      try GrpcEventClient.stream("localhost", port, after = -1, onOpen = s => sock = s) { e =>
        val now = System.nanoTime()
        if (e.id != lastId + 1) orderErrors.incrementAndGet()
        lastId = e.id
        if (e.id < prefilled) {
          if (Trace.on) wireBytes += 5 + graft.events.ReflexPb.encodeEvent(e.id, e.eventType,
            e.foreignId, e.tsMs, e.value, e.metadata, e.trace).length
          catchupTypes(e.eventType) = catchupTypes.getOrElse(e.eventType, 0L) + 1
          if (e.id == prefilled - 1) {
            Trace.record("catchup", Trace.toMs(streamStart), Trace.toMs(now))
            caughtUp.countDown()
          }
        } else {
          val seq = (e.id - prefilled).toInt
          val g = gens.get(seq)
          if (g == null || g.eventType != e.eventType || g.foreignId != e.foreignId ||
              g.metadata != e.metadata) fieldErrors.incrementAndGet()
          if (receipts.putIfAbsent(seq, now) != null) orderErrors.incrementAndGet()
        }
        true
      } catch { case NonFatal(_) => () } // the socket is closed to end the stream
    }, "perfbench-client")
    client.setDaemon(true)
    client.start()
    val catchupOk = op("catchup") {
      if (!caughtUp.await(120, TimeUnit.SECONDS)) throw new RuntimeException("catch-up timed out")
    }.isDefined
    if (catchupOk) {
      values("catchup_cpu_rates") = cpuRates
      values("primary_per_cpu_s") = Stats.median(cpuRates)
      checks("catchup_types") = catchupTypes.toMap
      checks("events") = prefilled
      values("bytes_per_event") = wireBytes.toDouble / prefilled
    }

    // open-loop generator: event k is created at tail start + k / Rate
    val tailStart = System.nanoTime()
    val tailCpu = Ctx.cpuNs
    val tailNs = (seconds * 1e9).toLong
    val generator = new Thread(() => {
      var k = 0
      while (System.nanoTime() - tailStart < tailNs) {
        val due = tailStart + (k / Rate * 1e9).toLong
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        else lateMs = math.max(lateMs, -wait / 1e6)
        val t = Types(rnd.nextInt(Types.length))
        val g = Gen(k, t, rnd.nextLong(1000L), rnd.nextInt(100000) / 100.0,
          s"""{"seq": $k, "k": ${rnd.nextInt(100)}}""", due)
        gens.put(k, g)
        queue.add(g)
        generated.incrementAndGet()
        k += 1
      }
      genDone.set(true)
    }, "perfbench-generator")
    generator.setDaemon(true)

    // one producer: ids are read from the head and then appended, so a
    // second producer would race for the same ids
    val producer = new Thread(() => {
      val batch = mutable.ArrayBuffer.empty[Gen]
      var stop = false
      while (!stop) {
        var g = queue.poll()
        while (g != null) { batch += g; g = queue.poll() }
        if (batch.isEmpty) {
          if (genDone.get() && queue.isEmpty) stop = true else Thread.sleep(1)
        } else {
          val rows = batch.map(g => Row(g.eventType, g.foreignId,
            new java.sql.Timestamp(1704067200000L + g.seq * 1000L), g.value, g.metadata))
          val start = System.nanoTime()
          try {
            Trace.span("insert", Map("phase" -> "tail", "events" -> batch.size)) {
              Trace.layer(spark, "insert") {
              // one partition, so one file: a multi-file insert is not
              // atomic to a concurrent reader (see CHANGES.md)
              table.insert(spark.createDataFrame(
                java.util.Arrays.asList(rows.toSeq: _*), insertSchema).coalesce(1))
            }}
            cycles.add(Cycle(batch.head.seq, batch.size, start, System.nanoTime()))
          } catch { case NonFatal(e) => errors += s"insert: $e"; stop = true }
          batch.clear()
        }
      }
    }, "perfbench-producer")
    producer.setDaemon(true)
    if (catchupOk) {
      generator.start()
      producer.start()
      generator.join()
      producer.join(60000)
      // wait (bounded) for the stream to deliver everything generated
      val deadline = System.nanoTime() + 30000000000L
      while (receipts.size < generated.get && System.nanoTime() < deadline) Thread.sleep(5)
    }
    val tailCpuS = (Ctx.cpuNs - tailCpu) / 1e9
    Trace.record("tail", Trace.toMs(tailStart), Trace.nowMs)
    Option(sock).foreach(s => try s.close() catch { case NonFatal(_) => () })
    client.join(10000)

    // one op per insert cycle: delivered whole, in order, as generated
    val cs = scala.jdk.CollectionConverters.CollectionHasAsScala(cycles).asScala.toSeq.sortBy(_.first)
    val delays = mutable.ArrayBuffer.empty[Double]
    val waits = mutable.ArrayBuffer.empty[Double]
    val wakes = mutable.ArrayBuffer.empty[Double]
    var delivered = 0
    cs.foreach { c =>
      val ok = op("tail_cycle") {
        (c.first until c.first + c.n).foreach { s =>
          if (!receipts.containsKey(s)) throw new RuntimeException(s"event $s not delivered")
        }
      }.isDefined
      if (ok) delivered += 1
      if (ok) (c.first until c.first + c.n).foreach { s =>
        val g = gens.get(s)
        val r: Long = receipts.get(s)
        delays += (r - g.created) / 1e6
        waits += (c.start - g.created) / 1e6
        wakes += (r - c.end) / 1e6
        Trace.record("delivery", Trace.toMs(g.created), Trace.toMs(r),
          Map("queue_wait_ms" -> (c.start - g.created) / 1e6,
            "wake_to_receipt_ms" -> (r - c.end) / 1e6))
      }
    }
    check("tail: events generated", generated.get > 0)
    check("tail: every generated event delivered once", receipts.size == generated.get,
      s"${receipts.size} of ${generated.get}")
    check("tail: every generated event inserted", cs.map(_.n).sum == generated.get)
    check("stream: ids in order, once each", orderErrors.get == 0, s"${orderErrors.get} out of order")
    check("tail: fields equal the generator's record", fieldErrors.get == 0,
      s"${fieldErrors.get} mismatched")
    values("tail_cycles") = cs.size
    values("generator_late_ms") = lateMs
    values("tail_events") = generated.get
    values("insert_per_s") = 1e9 / Stats.median(cs.map(c => (c.end - c.start).toDouble))
    // insert commits delivered per CPU second of the tail (insert, serve
    // and receive all run in this JVM)
    values("secondary_per_cpu_s") = delivered / tailCpuS
    values("delivery_ms") = Stats.quantile(delays.toSeq, 0.5)
  }
}
