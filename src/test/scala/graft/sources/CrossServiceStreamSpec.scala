package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import graft.TestSpark
import graft.events.{Consumer, MemCursorStore, ReflexPb, Runner, Spec}
import graft.util.ProtoWire

/** Cross-service streaming parity (reference: server.go serves
  * StreamFunc over gRPC, client.go consumes with its own cursor,
  * grpctest/stream asserts resume): service A SERVES its events table,
  * service B consumes it over the wire with B's own cursor store, and
  * a reconnect resumes mid-stream without the server re-shipping the
  * consumed prefix.
  */
class CrossServiceStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def mkTable(n: Int, dir: String =
      Files.createTempDirectory("graft-xsvc").resolve("log").toString): EventsTable = {
    val table = new EventsTable(spark, dir)
    insert(table, n)
    table
  }

  private def insert(table: EventsTable, n: Int,
      ts: Int => java.sql.Timestamp = i =>
        java.sql.Timestamp.valueOf(f"2024-01-01 00:${i % 60}%02d:00")): Unit = {
    import spark.implicits._
    table.insert((0 until n).map(i => ("click", (i % 3).toLong, ts(i), 1.0, "{}"))
      .toDF("eventType", "foreignId", "ts", "value", "metadata"))
    ()
  }

  /** Bound on every blocking read of a stream in these specs. */
  private val WaitMs = 20000

  /** One transport: a server over `log` (chunk 2, so a stream takes
    * several chunks) and a client that reads ids in arrival order, at
    * most `max` of them, plus the end status (gRPC's; 0 for a socket).
    */
  private case class Transport(name: String,
      serve: (() => DataFrame) => (AutoCloseable, Int),
      read: (Int, ReflexPb.PbStreamRequest, Int) => (Seq[Long], Int))

  private def req(after: Long, toHead: Boolean = false, fromHead: Boolean = false,
      lagMs: Long = 0L) = ReflexPb.PbStreamRequest(after, toHead, fromHead, lagMs)

  private def onSocket(port: Int)(io: java.net.Socket => Seq[Long]): (Seq[Long], Int) = {
    val sock = new java.net.Socket("localhost", port)
    sock.setSoTimeout(WaitMs)
    try (io(sock), 0) finally sock.close()
  }

  private val lineT = Transport("line",
    log => { val s = new EventStreamServer(log, pollMs = 20L, chunk = 2); (s, s.boundPort) },
    (port, r, max) => onSocket(port) { sock =>
      new java.io.PrintWriter(sock.getOutputStream, true)
        .println(s"""{"after":${r.after},"toHead":${r.toHead}}""")
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
      Iterator.continually(in.readLine()).takeWhile(_ != null).take(max)
        .map(l => """"id":(\d+)""".r.findFirstMatchIn(l).get.group(1).toLong).toSeq
    })

  private val pbT = Transport("reflexpb",
    log => {
      val s = new EventStreamServer(log, pollMs = 20L, chunk = 2, binary = true)
      (s, s.boundPort)
    },
    (port, r, max) => onSocket(port) { sock =>
      ProtoWire.writeDelimited(sock.getOutputStream, ReflexPb.encodeStreamRequest(
        r.after, toHead = r.toHead, fromHead = r.fromHead, lagMs = r.lagMs))
      sock.getOutputStream.flush()
      Iterator.continually(ReflexPb.readEventFrom(sock.getInputStream))
        .takeWhile(_.nonEmpty).take(max).map(_.get.id).toSeq
    })

  private val grpcT = Transport("gRPC",
    log => { val s = new GrpcEventServer(log, pollMs = 20L, chunk = 2); (s, s.boundPort) },
    (port, r, max) => {
      val ids = Seq.newBuilder[Long]
      var n = 0
      val res = GrpcEventClient.stream("localhost", port, r.after, toHead = r.toHead,
          fromHead = r.fromHead, lagMs = r.lagMs, onOpen = _.setSoTimeout(WaitMs)) { e =>
        ids += e.id
        n += 1
        n < max
      }
      (ids.result(), res.grpcStatus)
    })

  private def serving[T](t: Transport, log: () => DataFrame)(f: Int => T): T = {
    val (server, port) = t.serve(log)
    try f(port) finally server.close()
  }

  /** `table.log.df` that runs `sideEffect` once, on read number `at`
    * (read 1 is the server's head snapshot), after that read has listed
    * the log — so the effect shows from the next read on.
    */
  private def effectOnRead(table: EventsTable, at: Int)(sideEffect: => Unit): () => DataFrame = {
    val reads = new java.util.concurrent.atomic.AtomicInteger
    () => {
      val df = table.log.df
      if (reads.incrementAndGet() == at) sideEffect
      df
    }
  }

  test("wire protocol: Stream(after, toHead) serves only events past the cursor, in id order") {
    val table = mkTable(10)
    val server = new EventStreamServer(() => table.log.df)
    try {
      val sock = new java.net.Socket("localhost", server.boundPort)
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      out.println("""{"after":3,"toHead":true}""")
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
      val ids = Iterator.continually(in.readLine()).takeWhile(_ != null)
        .map { line => """"id":(\d+)""".r.findFirstMatchIn(line).get.group(1).toLong }
        .toSeq
      sock.close()
      // server-side cursor filtering: 0..3 never cross the wire
      assert(ids === (4L to 9L))
    } finally server.close()
  }

  test("null event fields cross the wire as JSON null and round-trip through from_json") {
    val dir = Files.createTempDirectory("graft-xsvc-null").resolve("log").toString
    val table = new EventsTable(spark, dir)
    import spark.implicits._
    // eventType / foreignId / value / metadata all null on the middle event
    table.insert(Seq(
      (Some("click"), Some(1L), java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), Some(1.0), Some("{}")),
      (None, None, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), None, None),
      (Some("click"), Some(3L), java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), Some(3.0), Some("{}")))
      .toDF("eventType", "foreignId", "ts", "value", "metadata"))
    for (t <- Seq(lineT, pbT, grpcT)) {
      val (ids, status) = serving(t, () => table.log.df) {
        t.read(_, req(-1L, toHead = true), Int.MaxValue)
      }
      assert(ids === Seq(0L, 1L, 2L), s"${t.name}: a null-field event must not end the stream")
      assert(status === 0, t.name)
    }
    val server = new EventStreamServer(() => table.log.df)
    try {
      val sock = new java.net.Socket("localhost", server.boundPort)
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      out.println("""{"after":-1,"toHead":true}""")
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
      val lines = Iterator.continually(in.readLine()).takeWhile(_ != null).toSeq
      sock.close()
      assert(lines.size === 3, lines)
      // round-trip: the null-field line parses to a row with nulls, id intact
      val parsed = Seq(lines(1)).toDF("value")
        .select(org.apache.spark.sql.functions.from_json(
          org.apache.spark.sql.functions.col("value"),
          SocketEventSource.wireSchema).as("e"))
        .select("e.id", "e.eventType", "e.value", "e.metadata", "e.foreignId").collect()(0)
      assert(parsed.getLong(0) === 1L)
      assert((1 to 4).forall(parsed.isNullAt))
    } finally server.close()
  }

  test("stream options over reflexpb and gRPC: fromHead, toHead, lagMs") {
    for (t <- Seq(pbT, grpcT)) {
      val table = mkTable(5) // ids 0..4
      // fromHead: the log is skipped; two events inserted after the head
      // snapshot arrive
      val fromHead = serving(t, effectOnRead(table, 2)(insert(table, 2))) {
        t.read(_, req(-1L, fromHead = true), 2)._1
      }
      assert(fromHead === Seq(5L, 6L), t.name)
      // toHead: the stream ends at the head as it was at connect, though
      // two more events land while it runs
      val (toHead, status) = serving(t, effectOnRead(table, 2)(insert(table, 2))) {
        t.read(_, req(-1L, toHead = true), Int.MaxValue)
      }
      assert(toHead === (0L to 6L), t.name)
      assert(status === 0, t.name)
      assert(table.head === 8L)
      // lagMs: events younger than the lag are held back
      insert(table, 2, _ => new java.sql.Timestamp(System.currentTimeMillis()))
      val lagged = serving(t, () => table.log.df) {
        t.read(_, req(-1L, toHead = true, lagMs = 3600000L), Int.MaxValue)._1
      }
      assert(lagged === (0L to 8L), t.name)
    }
  }

  test("an insert caught mid-commit stays invisible until its head marker is written") {
    val dir = Files.createTempDirectory("graft-xsvc-midcommit").resolve("log").toString
    val table = mkTable(5, dir) // ids 0..4, committed head 4
    // a later insert half-way through: its parquet file (ids 5..7) is in
    // the log directory, its committed-head marker not yet written
    val staged = Files.createTempDirectory("graft-xsvc-staged").resolve("part").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 01:00:00")
    spark.createDataFrame(java.util.Arrays.asList((5L to 7L).map(i =>
      Row(i, "late", 9L, ts, 1.0, "{}", null)): _*), table.schema)
      .coalesce(1).write.parquet(staged)
    Files.list(Paths.get(staged)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(f => Files.move(f, Paths.get(dir, f.getFileName.toString)))

    val store = new MemCursorStore()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def drain(): Runner.RunResult = Runner.runToHead(Spec(table.log, store,
      Consumer("mid-commit", b => b.select("id").collect().foreach(r => seen.add(r.getLong(0))))))
    def served(after: Long): Seq[(String, Seq[Long])] = Seq(lineT, pbT, grpcT).map { t =>
      t.name -> serving(t, () => table.log.df)(t.read(_, req(after, toHead = true), Int.MaxValue)._1)
    }

    assert(drain().finalCursor === 4L)
    assert(seen.asScala.toSeq.sorted === (0L to 4L))
    assert(store.get("mid-commit") === Some(4L))
    assert(Runner.lag(table.log, store, "mid-commit")._1 === 0L)
    served(-1L).foreach { case (name, ids) => assert(ids === (0L to 4L), name) }

    // the insert commits
    Files.writeString(Paths.get(dir, "_graft_head"), "7")
    assert(Runner.lag(table.log, store, "mid-commit")._1 === 3L)
    assert(drain().finalCursor === 7L)
    assert(seen.asScala.toSeq.sorted === (0L to 7L), "each event exactly once")
    served(4L).foreach { case (name, ids) => assert(ids === (5L to 7L), name) }
  }

  test("watched server wakes a head-parked connection on insert, not pollMs later") {
    // reference rsql/eventstable.go:556 — the notifier is the server's
    // StreamWatcher: with pollMs=60s, a connected client at head only
    // receives a fresh insert promptly if notifyInsert() wakes the park.
    val dir = Files.createTempDirectory("graft-xsvc-notify").resolve("log").toString
    val notifier = new graft.events.InMemNotifier
    val table = new EventsTable(spark, dir, notifier = Some(notifier))
    import spark.implicits._
    table.insert(Seq(("click", 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0, "{}"))
      .toDF("eventType", "foreignId", "ts", "value", "metadata"))
    val server = new EventStreamServer(() => table.log.df,
      pollMs = 60000L, watcher = Some(table.watcher))
    try {
      val sock = new java.net.Socket("localhost", server.boundPort)
      sock.setSoTimeout(45000)
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      out.println("""{"after":0,"toHead":false}""") // at head (id 0) → server parks
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
      Thread.sleep(500) // let the handler reach the park
      val t0 = System.nanoTime()
      table.insert(Seq(("tail", 2L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 2.0, "{}"))
        .toDF("eventType", "foreignId", "ts", "value", "metadata"))
      val line = in.readLine() // blocks until the server ships the event
      val wakeMs = (System.nanoTime() - t0) / 1000000L
      sock.close()
      assert(line != null && line.contains("\"id\":1") && line.contains("tail"))
      assert(wakeMs < 30000L,
        s"event took ${wakeMs}ms to arrive — insert did not wake the 60s poll park")
    } finally server.close()
  }

  test("server detects client disconnect during a long poll and frees the handler") {
    val table = mkTable(3)
    val server = new EventStreamServer(() => table.log.df, pollMs = 50L)
    def handlers: Int = {
      val all = new Array[Thread](Thread.activeCount() + 16)
      Thread.enumerate(all)
      all.count(t => t != null && t.getName == s"event-stream-handler-${server.boundPort}" && t.isAlive)
    }
    try {
      val sock = new java.net.Socket("localhost", server.boundPort)
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      out.println("""{"after":100,"toHead":false}""") // past head → long poll
      val deadline0 = System.currentTimeMillis() + 10000
      while (handlers < 1 && System.currentTimeMillis() < deadline0) Thread.sleep(20)
      assert(handlers === 1)
      sock.close() // client goes away mid-poll
      // the peer-watcher read() returns EOF and closes the socket,
      // which the poll loop sees — without it this thread would spin
      // Spark jobs forever
      val deadline = System.currentTimeMillis() + 15000
      while (handlers > 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(handlers === 0, "handler thread must exit after peer disconnect")
    } finally server.close()
  }

  test("remote consumer resumes from its own cursor; reconnect continues mid-stream") {
    val table = mkTable(10)
    val server = new EventStreamServer(() => table.log.df, pollMs = 50L)
    val store = new MemCursorStore(Map("remote" -> 3L))
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val spec = Spec(null, store, Consumer("remote",
      b => b.select("id").collect().foreach(r => seen.add(r.getLong(0)))))
    try {
      // --- connection 1: resume from cursor 3, then follow live appends
      val ckpt1 = Files.createTempDirectory("graft-xsvc-ckpt1").toString
      val (q1, close1) = EventStreamClient.consume(
        spark, "localhost", server.boundPort, spec, ckpt1)
      try {
        val deadline = System.currentTimeMillis() + 60000
        while (seen.size < 6 && System.currentTimeMillis() < deadline) {
          q1.processAllAvailable(); Thread.sleep(100)
        }
        assert(seen.asScala.toSet === (4L to 9L).toSet,
          s"server must start after the presented cursor, got ${seen.asScala.toSet}")
        assert(store.get("remote") === Some(9L))
        // producer appends while the consumer is live (long-poll path)
        import spark.implicits._
        table.insert((0 until 3).map { i =>
          ("tail", 1L, java.sql.Timestamp.valueOf(f"2024-01-01 01:0$i%d:00"), 1.0, "{}")
        }.toDF("eventType", "foreignId", "ts", "value", "metadata"))
        while (seen.size < 9 && System.currentTimeMillis() < deadline) {
          q1.processAllAvailable(); Thread.sleep(100)
        }
        assert(seen.asScala.toSet === (4L to 12L).toSet)
        assert(store.get("remote") === Some(12L))
      } finally { q1.stop(); close1() }

      // --- connection 2: a fresh transport + checkpoint presents the
      // committed cursor; only genuinely new events arrive
      seen.clear()
      import spark.implicits._
      table.insert((0 until 2).map { i =>
        ("late", 2L, java.sql.Timestamp.valueOf(f"2024-01-01 02:0$i%d:00"), 1.0, "{}")
      }.toDF("eventType", "foreignId", "ts", "value", "metadata"))
      val ckpt2 = Files.createTempDirectory("graft-xsvc-ckpt2").toString
      val (q2, close2) = EventStreamClient.consume(
        spark, "localhost", server.boundPort, spec, ckpt2)
      try {
        val deadline = System.currentTimeMillis() + 60000
        while (seen.size < 2 && System.currentTimeMillis() < deadline) {
          q2.processAllAvailable(); Thread.sleep(100)
        }
        assert(seen.asScala.toSet === Set(13L, 14L))
        assert(store.get("remote") === Some(14L))
      } finally { q2.stop(); close2() }
    } finally server.close()
  }

  test("relay survives local reconnects, resuming from the last forwarded id") {
    val table = mkTable(10)
    val server = new EventStreamServer(() => table.log.df)
    def readIds(port: Int): Seq[Long] = {
      val sock = new java.net.Socket("localhost", port)
      try {
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
        Iterator.continually(in.readLine()).takeWhile(_ != null)
          .map(l => """"id":(\d+)""".r.findFirstMatchIn(l).get.group(1).toLong)
          .toSeq
      } finally sock.close()
    }
    val (port, closeRelay) = EventStreamClient.relay(
      "localhost", server.boundPort, after = -1L, toHead = true)
    try {
      // first connection drains to the head, then EOFs (toHead)
      assert(readIds(port) === (0L to 9L))
      import spark.implicits._
      table.insert((0 until 4).map { i =>
        ("click", 0L, java.sql.Timestamp.valueOf(f"2024-01-02 00:0$i%d:00"), 1.0, "{}")
      }.toDF("eventType", "foreignId", "ts", "value", "metadata"))
      // a query restart reconnects to the SAME relay port: the relay
      // re-requests from its last forwarded id — the consumed prefix
      // (0..9) must not cross the wire again
      assert(readIds(port) === (10L to 13L))
    } finally { closeRelay(); server.close() }
  }
}
