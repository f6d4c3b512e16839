package graft.sources

import java.net.{ServerSocket, Socket}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal
import graft.events.{EventLog, StreamWatcher}
import graft.events.ReflexPb.PbStreamRequest

/** The serving half of the stream contract (reference server.go
  * `StreamFunc`), written once for every transport: a client presents
  * a cursor and receives every event after it, in id order, under the
  * reflexpb StreamOptions — `fromHead` starts after the head at
  * connect, `toHead` closes at the head at connect, `lagMs` holds back
  * events younger than the lag (options.go WithStreamLag).
  *
  * Each chunk is one pushed-down `id > cursor AND id <= head` range
  * scan + `limit chunk`, so a serve from a late cursor never rescans
  * the whole log and the per-connection state is one long. At the head
  * the loop parks on the watcher (wake-on-insert) or, unwatched, sleeps
  * out `pollMs`. A transport supplies only the parsed request and a
  * sink for encoded chunks.
  */
private[sources] final class ServeLoop(log: () => DataFrame, pollMs: Long, chunk: Int,
    watcher: Option[StreamWatcher]) {

  private val wake = watcher.getOrElse(StreamWatcher.sleeper)

  /** Serve `req` until the head at connect (toHead), until `open` turns
    * false, or until `sink` — handed one chunk of `framing`-encoded
    * events at a time — returns false because the peer is gone.
    * @return false when the sink failed
    */
  def serve(req: PbStreamRequest, framing: WireFraming, open: => Boolean)(
      sink: Array[Array[Byte]] => Boolean): Boolean = {
    var cursor = if (req.fromHead) head() else req.after
    val last = if (req.toHead) head() else Long.MaxValue
    while (open && cursor < last) {
      // captured before the scan, so an insert during it is not lost
      val epoch = wake.epoch
      val rows = chunkAfter(cursor, last, req.lagMs)
      if (rows.nonEmpty) {
        if (!sink(rows.map(framing.encode))) return false
        cursor = rows.last.getLong(0)
      } else if (req.toHead) return true
      else wake.awaitNotify(epoch, pollMs)
    }
    true
  }

  private def head(): Long = new EventLog(log()).head()

  /** (id, eventType, foreignId, ts_ms, value, metadata[, trace]) rows
    * of the next chunk in (cursor, last].
    */
  private def chunkAfter(cursor: Long, last: Long, lagMs: Long): Array[Row] = {
    val frame = log()
    val range = frame.filter(col("id") > cursor && col("id") <= last)
    val visible =
      if (lagMs > 0) range.filter(unix_millis(col("ts")) <= System.currentTimeMillis() - lagMs)
      else range
    val trace = if (frame.columns.contains("trace")) Seq(col("trace")) else Nil
    visible.orderBy("id").limit(chunk)
      .select(Seq(col("id"), col("eventType"), col("foreignId"),
        unix_millis(col("ts")).as("ts_ms"), col("value"), col("metadata")) ++ trace: _*)
      .collect()
  }
}

private[sources] object ServeLoop {

  def daemon(name: String)(body: => Unit): Unit = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
  }

  def closeQuietly(c: AutoCloseable): Unit =
    try c.close() catch { case NonFatal(_) => () }

  /** Accept on `server` while `running`, one daemon thread per
    * connection (`<name>-handler-<port>`).
    */
  def accept(server: ServerSocket, name: String, running: => Boolean)(
      handle: Socket => Unit): Unit = {
    val port = server.getLocalPort
    daemon(s"$name-server-$port") {
      while (running) {
        try {
          val sock = server.accept()
          daemon(s"$name-handler-$port")(handle(sock))
        } catch { case NonFatal(_) => () } // closed
      }
    }
  }

  /** Close `sock` when its peer goes away. `isClosed` sees only local
    * closes and a write to a dropped long-poll peer may not fail for a
    * while, so without this a handler would run Spark jobs forever.
    * After its one request the client sends nothing, so a blocking
    * read returns only at EOF or reset.
    */
  def watchPeer(sock: Socket): Unit =
    daemon("event-stream-peer-watch") {
      try sock.getInputStream.read() catch { case NonFatal(_) => () }
      closeQuietly(sock)
    }
}
