package graft.sources

import java.io.{BufferedOutputStream, BufferedReader, InputStreamReader, IOException,
  OutputStreamWriter, PrintWriter}
import java.net.{InetAddress, ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.DataFrame
import scala.util.control.NonFatal
import graft.events.ReflexPb
import graft.util.ProtoWire
import ServeLoop.closeQuietly

/** Cross-service event streaming over a plain socket — the serving
  * half (reference: server.go `reflex.NewServer` + `StreamFunc`;
  * client.go consumes it; grpctest/stream exercises resume). The stream
  * contract and its serving loop are [[ServeLoop]]'s, shared with
  * [[GrpcEventServer]]; this class only parses the request and writes
  * the events, in one of two socket protocols:
  *
  *  - lines (default): the client sends ONE line
  *    `{"after": N, "toHead": B}` and gets one wire-format event per
  *    line (SocketEventSource.wireSchema), so the consuming side stays
  *    the stock Spark socket source;
  *  - `binary = true`: the reference's message format — the client
  *    sends ONE varint-delimited reflexpb.StreamRequest (with the
  *    StreamOptions fromHead / toHead / lag) and gets varint-delimited
  *    reflexpb.Event frames (graft.events.ReflexPb, byte-compatible with
  *    the reference's generated code).
  *
  * `watcher` is the wake-on-insert seam (reference
  * rsql/eventstable.go:556): pass the served table's
  * `EventsTable.watcher` and a head-parked connection wakes the instant
  * an event is inserted instead of sleeping out `pollMs`.
  */
class EventStreamServer(
    log: () => DataFrame,
    port: Int = 0,
    pollMs: Long = 100L,
    chunk: Int = 1024,
    binary: Boolean = false,
    watcher: Option[graft.events.StreamWatcher] = None) extends AutoCloseable {

  private val server = new ServerSocket(port, 16, InetAddress.getLoopbackAddress)
  @volatile private var running = true
  private val loop = new ServeLoop(log, pollMs, chunk, watcher)

  /** Bound port (for port=0 ephemeral binds). */
  def boundPort: Int = server.getLocalPort

  private val AfterRe = """"after"\s*:\s*(-?\d+)""".r.unanchored
  private val ToHeadRe = """"toHead"\s*:\s*true""".r.unanchored

  ServeLoop.accept(server, "event-stream", running)(handle)

  private def handle(sock: Socket): Unit =
    try {
      val in = sock.getInputStream
      val req =
        if (binary) ProtoWire.readDelimited(in).flatMap(ReflexPb.decodeStreamRequest)
        else Option(new BufferedReader(new InputStreamReader(in, UTF_8)).readLine()).map { l =>
          val after = l match { case AfterRe(n) => n.toLong; case _ => -1L }
          ReflexPb.PbStreamRequest(after, ToHeadRe.matches(l), fromHead = false, lagMs = 0L)
        }
      req.foreach { r =>
        ServeLoop.watchPeer(sock)
        val out = new BufferedOutputStream(sock.getOutputStream)
        val framing = if (binary) WireFraming.Pb else WireFraming.LineJson
        loop.serve(r, framing, running && !sock.isClosed) { events =>
          try {
            events.foreach { e =>
              if (binary) ProtoWire.writeDelimited(out, e)
              else { out.write(e); out.write('\n') }
            }
            out.flush()
            true
          } catch { case _: IOException => false }
        }
      }
    } catch {
      case NonFatal(_) | _: InterruptedException => ()
    } finally closeQuietly(sock)

  override def close(): Unit = {
    running = false
    server.close()
  }
}

/** The consuming half (reference client.go `StreamClient`): present
  * the consumer's durable cursor to a remote server, then drive the
  * standard transport-blind consume loop over what arrives.
  *
  * The Spark socket source is read-only, so the request is sent by a
  * thin relay: open the remote stream with `after`, forward its events
  * as wire lines to a loopback port, and point the socket source
  * there. Everything downstream — parsing, filtering, the cursor
  * protocol in Runner.runStreamFrom — is byte-identical to the
  * local-bus path; the only new semantics is that filtering now ALSO
  * happens server-side, so a resume never re-ships the consumed prefix
  * (the property that matters when the log is 100 TB and the pipe is a
  * network).
  */
object EventStreamClient {

  private val IdRe = """"id"\s*:\s*(\d+)""".r.unanchored

  /** Open `Stream(after)` against a remote line-protocol
    * [[EventStreamServer]] and expose it on a loopback port for the
    * Spark socket source.
    * @return (local port, closer)
    */
  def relay(host: String, port: Int, after: Long,
      toHead: Boolean = false): (Int, () => Unit) =
    pump("event-stream-relay", after) { (cursor, onOpen, forward) =>
      remote(host, port, onOpen) { sock =>
        new PrintWriter(new OutputStreamWriter(sock.getOutputStream, UTF_8), true)
          .println(s"""{"after":$cursor,"toHead":$toHead}""")
        val in = new BufferedReader(new InputStreamReader(sock.getInputStream, UTF_8))
        Iterator.continually(in.readLine()).takeWhile(_ != null).forall { l =>
          forward(l match { case IdRe(n) => n.toLong; case _ => cursor }, l)
        }
      }
    }

  /** `relay` over the reflexpb transport — the moral equivalent of
    * protocp.go streamClientFromProto: Recv varint-delimited
    * reflexpb.Event frames from a `binary = true` EventStreamServer (or
    * any reference-compatible peer) and re-emit each as a wire line.
    * The line hop drops the trace payload (wireSchema has no trace
    * column); consumers that need spans read the log table, not the
    * live relay.
    */
  def relayPb(host: String, port: Int, after: Long,
      toHead: Boolean = false): (Int, () => Unit) =
    pump("event-stream-relay-pb", after) { (cursor, onOpen, forward) =>
      remote(host, port, onOpen) { sock =>
        val out = sock.getOutputStream
        ProtoWire.writeDelimited(out, ReflexPb.encodeStreamRequest(cursor, toHead = toHead))
        out.flush()
        val in = sock.getInputStream
        Iterator.continually(ReflexPb.readEventFrom(in)).takeWhile(_.nonEmpty)
          .forall(e => forward(e.get.id, wire(e.get)))
      }
    }

  /** `relay` over the gRPC transport: Recv events from a
    * [[GrpcEventServer]] (or any reference-compatible gRPC peer) over
    * real HTTP/2 framing via [[GrpcEventClient]].
    */
  def relayGrpc(host: String, port: Int, after: Long,
      toHead: Boolean = false): (Int, () => Unit) =
    pump("event-stream-relay-grpc", after) { (cursor, onOpen, forward) =>
      GrpcEventClient.stream(host, port, cursor, toHead = toHead, onOpen = onOpen) { e =>
        forward(e.id, wire(e))
      }
      ()
    }

  private def wire(e: ReflexPb.PbEvent): String =
    SocketEventSource.toWire(e.id, e.eventType, e.foreignId, e.tsMs, e.value, e.metadata)

  private def remote(host: String, port: Int, onOpen: Socket => Unit)(
      body: Socket => Unit): Unit = {
    val sock = new Socket(host, port)
    onOpen(sock)
    try body(sock) finally closeQuietly(sock)
  }

  /** The relay every transport shares. It accepts in a loop, not once:
    * the Spark socket source reconnects on query restart or task
    * retry, and a dead relay would stall the stream silently. Each
    * local connection gets a fresh remote stream from the last event
    * id already forwarded, so a reconnect resumes mid-stream without
    * re-shipping the prefix. `stream(cursor, onOpen, forward)` opens
    * the transport's stream after `cursor`, hands its socket to
    * `onOpen` (the closer aborts a long poll through it) and calls
    * `forward(id, wireLine)` per event until that returns false.
    */
  private def pump(name: String, after: Long)(
      stream: (Long, Socket => Unit, (Long, String) => Boolean) => Unit): (Int, () => Unit) = {
    val local = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
    @volatile var closed = false
    @volatile var liveRemote: Socket = null
    ServeLoop.daemon(name) {
      var cursor = after
      try {
        while (!closed) {
          val sock = local.accept()
          try {
            val out = new PrintWriter(new OutputStreamWriter(sock.getOutputStream, UTF_8), false)
            stream(cursor, liveRemote = _, { (id, line) =>
              out.println(line)
              out.flush()
              if (out.checkError() || closed) false // local side hung up
              else { cursor = math.max(cursor, id); true }
            })
          } catch {
            case NonFatal(_) if closed => ()
          } finally {
            liveRemote = null
            closeQuietly(sock)
          }
        }
      } catch {
        case _: InterruptedException | _: SocketException => ()
        case NonFatal(e) => if (!closed) System.err.println(s"[$name] pump exited: $e")
      }
    }
    (local.getLocalPort, () => {
      closed = true
      Option(liveRemote).foreach(closeQuietly)
      closeQuietly(local)
    })
  }

  /** Consume a remote line-protocol event stream with this consumer's
    * own cursor store, resuming from the committed cursor (mid-stream,
    * mid-log — wherever it points). Returns the running query and a
    * closer that tears the transport down.
    */
  def consume(
      spark: org.apache.spark.sql.SparkSession,
      host: String,
      port: Int,
      spec: graft.events.Spec,
      checkpointDir: String): (org.apache.spark.sql.streaming.StreamingQuery, () => Unit) =
    consumeVia(relay(host, port, _), spark, spec, checkpointDir)

  /** `consume` over the gRPC transport: the full client.go shape over
    * the reference's actual transport.
    */
  def consumeGrpc(
      spark: org.apache.spark.sql.SparkSession,
      host: String,
      port: Int,
      spec: graft.events.Spec,
      checkpointDir: String): (org.apache.spark.sql.streaming.StreamingQuery, () => Unit) =
    consumeVia(relayGrpc(host, port, _), spark, spec, checkpointDir)

  private def consumeVia(relay: Long => (Int, () => Unit),
      spark: org.apache.spark.sql.SparkSession, spec: graft.events.Spec,
      checkpointDir: String): (org.apache.spark.sql.streaming.StreamingQuery, () => Unit) = {
    val (localPort, closeRelay) = relay(spec.store.get(spec.consumer.name).getOrElse(-1L))
    val q = graft.events.Runner.runStreamFrom(
      SocketEventSource.stream(spark, "localhost", localPort), spec, checkpointDir,
      availableNow = false)
    (q, closeRelay)
  }
}
