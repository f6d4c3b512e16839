package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket, SocketException}
import org.apache.spark.sql.DataFrame
import scala.collection.mutable
import scala.util.control.NonFatal
import graft.util.{Hpack, Http2}
import graft.events.ReflexPb

/** gRPC server-streaming endpoint for `reflexpb.Reflex/Stream` over
  * real HTTP/2 — the reference's transport (server.go `NewServer` +
  * reflexpb/reflex.proto `rpc Stream(StreamRequest) returns (stream
  * Event)`), implemented directly on the public wire specs: RFC 7540
  * framing + RFC 7541 HPACK ([[graft.util.Http2]]/[[graft.util.Hpack]])
  * and the gRPC HTTP/2 protocol mapping (5-octet length-prefixed
  * messages in DATA, `:status 200` + `content-type: application/grpc`
  * response headers, `grpc-status` trailers). Cleartext h2c with prior
  * knowledge — the mode `grpc.Dial` uses for an insecure address — so
  * a stock gRPC client's bytes are understood natively: preface,
  * SETTINGS handshake, HPACK-compressed HEADERS (incl. Huffman and
  * CONTINUATION), flow-controlled DATA, PING, RST_STREAM cancel.
  *
  * The stream itself — cursor, StreamOptions fromHead/toHead/lag,
  * chunked range scans, parking at the head — is [[ServeLoop]]'s, the
  * same loop [[EventStreamServer]] runs; this class supplies the HTTP/2
  * connection, the StreamRequest from the stream's DATA, and a sink that
  * sends each chunk of gRPC-framed reflexpb.Events as one flow-controlled
  * DATA write, then `grpc-status` trailers. Scale note: the data plane
  * stays per-event-small and driver/control-plane by nature (one
  * process serving its own log, as in the reference); the 100 TB path
  * is consumers resuming from durable cursors so the log is never
  * re-shipped.
  */
class GrpcEventServer(
    log: () => DataFrame,
    port: Int = 0,
    pollMs: Long = 100L,
    chunk: Int = 1024,
    /** TLS mode: serve HTTP/2 over TLS with ALPN "h2" — what
      * `grpc.Dial` with transport credentials negotiates. Build a
      * context from a keystore via [[GrpcTls]]. None = cleartext h2c
      * prior knowledge.
      */
    sslContext: Option[javax.net.ssl.SSLContext] = None,
    /** wake-on-insert seam (reference rsql/eventstable.go:556): pass
      * the served table's `EventsTable.watcher` and a head-parked
      * stream wakes the instant an event is inserted instead of
      * sleeping out `pollMs`.
      */
    watcher: Option[graft.events.StreamWatcher] = None) extends AutoCloseable {

  private val server: ServerSocket = sslContext match {
    case None => new ServerSocket(port, 16, InetAddress.getLoopbackAddress)
    case Some(ctx) =>
      val ss = ctx.getServerSocketFactory
        .createServerSocket(port, 16, InetAddress.getLoopbackAddress)
        .asInstanceOf[javax.net.ssl.SSLServerSocket]
      val params = ss.getSSLParameters
      params.setApplicationProtocols(Array("h2")) // ALPN (RFC 7301)
      ss.setSSLParameters(params)
      ss
  }
  @volatile private var running = true
  private val loop = new ServeLoop(log, pollMs, chunk, watcher)

  def boundPort: Int = server.getLocalPort

  ServeLoop.accept(server, "grpc", running)(handleConn)

  /** Per-stream state. Flow-control fields are guarded by the owning
    * connection's `flow` lock.
    */
  private final class StreamState(val id: Int) {
    val reqBuf = new ByteArrayOutputStream(64)
    var window: Int = Http2.DefaultWindow
    @volatile var cancelled = false
    var started = false
  }

  private final class Conn(sock: Socket, out: OutputStream) {
    val flow = new Object // guards windows; signalled on WINDOW_UPDATE
    var connWindow: Int = Http2.DefaultWindow
    var maxFrame: Int = Http2.DefaultMaxFrame
    var initialWindow: Int = Http2.DefaultWindow
    val streams = mutable.Map.empty[Int, StreamState]
    @volatile var closed = false

    private val writeLock = new Object
    def write(tpe: Int, flags: Int, sid: Int, payload: Array[Byte] = Array.emptyByteArray): Unit =
      writeLock.synchronized {
        Http2.writeFrame(out, tpe, flags, sid, payload)
        out.flush()
      }

    def shutdown(): Unit = {
      closed = true
      flow.synchronized { flow.notifyAll() }
      try sock.close() catch { case NonFatal(_) => () }
    }
  }

  private def handleConn(sock: Socket): Unit = {
    try {
      val in = new BufferedInputStream(sock.getInputStream)
      if (!Http2.readPreface(in)) { sock.close(); return }
      val out = new BufferedOutputStream(sock.getOutputStream)
      val conn = new Conn(sock, out)
      conn.write(Http2.Settings, 0, 0, Http2.settingsPayload(Nil))
      val hpackIn = new Hpack.Decoder()
      // CONTINUATION accumulation state (header blocks are contiguous
      // on the connection per RFC 7540 §4.3 — no interleaving)
      var pendingSid = 0
      var pendingEndStream = false
      val pendingBlock = new ByteArrayOutputStream(256)
      var inHeaders = false

      def dispatchHeaders(sid: Int, endStream: Boolean, block: Array[Byte]): Unit =
        hpackIn.decode(block) match {
          case None =>
            conn.write(Http2.GoAway, 0, 0, Http2.goAwayPayload(sid, Http2.ErrCompression))
            conn.shutdown()
          case Some(headers) =>
            val st = conn.flow.synchronized {
              val s = new StreamState(sid)
              s.window = conn.initialWindow
              conn.streams(sid) = s
              s
            }
            val path = headers.collectFirst { case (":path", p) => p }.getOrElse("")
            if (path != "/reflexpb.Reflex/Stream") {
              // gRPC maps unknown methods to status 12 UNIMPLEMENTED in
              // trailers (transport-level 200 stays)
              respondStatus(conn, sid, 12, "unknown method")
              conn.flow.synchronized { conn.streams.remove(sid); () }
            } else if (endStream) {
              // no request message: INTERNAL
              respondStatus(conn, sid, 13, "missing StreamRequest")
              conn.flow.synchronized { conn.streams.remove(sid); () }
            } // else: wait for the DATA frame carrying the StreamRequest
        }

      var frame = Http2.readFrame(in, conn.maxFrame)
      while (running && !conn.closed && frame.nonEmpty) {
        val f = frame.get
        f.tpe match {
          case Http2.Settings =>
            if (!f.has(Http2.FlagAck)) {
              val s = Http2.parseSettings(f.payload)
              conn.flow.synchronized {
                s.get(Http2.SettingsMaxFrameSize).foreach(v => conn.maxFrame = v.toInt)
                s.get(Http2.SettingsInitialWindowSize).foreach { v =>
                  val delta = v.toInt - conn.initialWindow
                  conn.initialWindow = v.toInt
                  conn.streams.values.foreach(_.window += delta)
                }
                conn.flow.notifyAll()
              }
              conn.write(Http2.Settings, Http2.FlagAck, 0)
            }
          case Http2.Ping =>
            if (!f.has(Http2.FlagAck)) conn.write(Http2.Ping, Http2.FlagAck, 0, f.payload)
          case Http2.WindowUpdate =>
            val inc = Http2.parseWindowUpdate(f.payload)
            conn.flow.synchronized {
              if (f.streamId == 0) conn.connWindow += inc
              else conn.streams.get(f.streamId).foreach(_.window += inc)
              conn.flow.notifyAll()
            }
          case Http2.Headers =>
            pendingSid = f.streamId
            pendingEndStream = f.has(Http2.FlagEndStream)
            pendingBlock.reset()
            pendingBlock.write(Http2.unpad(f))
            if (f.has(Http2.FlagEndHeaders))
              dispatchHeaders(pendingSid, pendingEndStream, pendingBlock.toByteArray)
            else inHeaders = true
          case Http2.Continuation if inHeaders && f.streamId == pendingSid =>
            pendingBlock.write(f.payload)
            if (f.has(Http2.FlagEndHeaders)) {
              inHeaders = false
              dispatchHeaders(pendingSid, pendingEndStream, pendingBlock.toByteArray)
            }
          case Http2.Data =>
            val body = Http2.unpad(f)
            // connection-level receive window: replenish what the peer
            // spent so long-lived connections never stall on stream N
            if (f.payload.length > 0)
              conn.write(Http2.WindowUpdate, 0, 0, Http2.windowUpdatePayload(f.payload.length))
            conn.flow.synchronized(conn.streams.get(f.streamId)) match {
              case Some(st) if !st.started =>
                st.reqBuf.write(body)
                GrpcMessage.next(st.reqBuf.toByteArray, 0).foreach { msg =>
                  st.started = true
                  ServeLoop.daemon(s"grpc-stream-${f.streamId}")(serveStream(conn, st, msg))
                }
              case _ => () // late DATA on a finished/cancelled stream
            }
          case Http2.RstStream =>
            conn.flow.synchronized {
              conn.streams.get(f.streamId).foreach(_.cancelled = true)
              conn.flow.notifyAll()
            }
          case Http2.GoAway =>
            conn.shutdown()
          case _ => () // PRIORITY, PUSH_PROMISE (never valid from client), unknown: ignore
        }
        if (!conn.closed) frame = Http2.readFrame(in, conn.maxFrame)
      }
      conn.shutdown()
    } catch {
      case _: SocketException | _: InterruptedException => ()
      case NonFatal(_) => try sock.close() catch { case NonFatal(_) => () }
    }
  }

  /** Send DATA respecting both flow-control windows, fragmenting to
    * the peer's max frame size. Returns false if the stream was
    * cancelled or the connection died while waiting for window.
    */
  private def sendData(conn: Conn, st: StreamState, data: Array[Byte]): Boolean = {
    var off = 0
    while (off < data.length) {
      var n = 0
      conn.flow.synchronized {
        while (!conn.closed && !st.cancelled &&
            (conn.connWindow <= 0 || st.window <= 0))
          conn.flow.wait(1000)
        if (conn.closed || st.cancelled) return false
        n = math.min(math.min(data.length - off, conn.maxFrame),
          math.min(conn.connWindow, st.window))
        conn.connWindow -= n
        st.window -= n
      }
      conn.write(Http2.Data, 0, st.id,
        java.util.Arrays.copyOfRange(data, off, off + n))
      off += n
    }
    true
  }

  private def respHeaders(conn: Conn, sid: Int): Unit =
    conn.write(Http2.Headers, Http2.FlagEndHeaders, sid,
      Hpack.encode(Seq(":status" -> "200", "content-type" -> "application/grpc")))

  private def trailers(conn: Conn, sid: Int, status: Int, msg: String = ""): Unit = {
    val hs = Seq("grpc-status" -> status.toString) ++
      (if (msg.nonEmpty) Seq("grpc-message" -> msg) else Nil)
    conn.write(Http2.Headers, Http2.FlagEndHeaders | Http2.FlagEndStream, sid,
      Hpack.encode(hs))
  }

  private def respondStatus(conn: Conn, sid: Int, status: Int, msg: String): Unit = {
    respHeaders(conn, sid)
    trailers(conn, sid, status, msg)
  }

  private def serveStream(conn: Conn, st: StreamState, reqMsg: Array[Byte]): Unit = {
    try {
      ReflexPb.decodeStreamRequest(reqMsg) match {
        case None =>
          respondStatus(conn, st.id, 3, "malformed StreamRequest") // INVALID_ARGUMENT
        case Some(req) =>
          respHeaders(conn, st.id)
          // one DATA write per chunk, not per event
          val ok = loop.serve(req, WireFraming.Pb, running && !conn.closed && !st.cancelled) {
            events =>
              val batch = new ByteArrayOutputStream(events.length * 64)
              events.foreach(GrpcMessage.write(batch, _))
              sendData(conn, st, batch.toByteArray)
          }
          if (ok && !conn.closed && !st.cancelled) trailers(conn, st.id, 0)
      }
    } catch {
      case _: InterruptedException | _: SocketException => ()
      case NonFatal(_) =>
        try trailers(conn, st.id, 13, "internal") catch { case NonFatal(_) => () }
    } finally {
      conn.flow.synchronized { conn.streams.remove(st.id); () }
    }
  }

  override def close(): Unit = {
    running = false
    server.close()
  }
}

/** gRPC message framing (the gRPC HTTP/2 protocol's
  * Length-Prefixed-Message): a compressed-flag octet (always 0 here),
  * a 4-octet big-endian length, then the message.
  */
private[sources] object GrpcMessage {

  def write(out: OutputStream, msg: Array[Byte]): Unit = {
    out.write(0)
    out.write(java.nio.ByteBuffer.allocate(4).putInt(msg.length).array())
    out.write(msg)
  }

  /** The message framed at `off` in `buf`, or None while it is incomplete. */
  def next(buf: Array[Byte], off: Int): Option[Array[Byte]] =
    if (buf.length - off < 5) None
    else {
      val len = java.nio.ByteBuffer.wrap(buf).getInt(off + 1)
      if (buf.length - off - 5 < len) None
      else Some(java.util.Arrays.copyOfRange(buf, off + 5, off + 5 + len))
    }
}

/** Minimal gRPC client for `Reflex/Stream` over h2c prior-knowledge —
  * the consuming half a stock client performs (client.go
  * `StreamClient`), written against the same public wire specs. One
  * call per connection, synchronous: the pattern of a reflex consumer,
  * which holds one long-lived stream and processes events in order.
  */
object GrpcEventClient {

  final case class Result(grpcStatus: Int, grpcMessage: String)

  /** Open `Stream(after, ...)` and invoke `f` per event until the
    * server closes (trailers) or `f` returns false (client cancel —
    * sends RST_STREAM like a stock client's context cancel).
    * `onOpen` hands the caller the live socket so an external closer
    * can abort a long-poll (the blocking-read equivalent of context
    * cancellation).
    */
  def stream(host: String, port: Int, after: Long, toHead: Boolean = false,
      fromHead: Boolean = false, lagMs: Long = 0L,
      onOpen: Socket => Unit = _ => (),
      /** TLS mode: negotiate ALPN "h2" before speaking HTTP/2 (the
        * credentials-bearing `grpc.Dial`); None = h2c prior knowledge.
        */
      sslContext: Option[javax.net.ssl.SSLContext] = None)
      (f: ReflexPb.PbEvent => Boolean): Result = {
    val sock = sslContext match {
      case None => new Socket(host, port)
      case Some(ctx) =>
        val s = ctx.getSocketFactory.createSocket(host, port)
          .asInstanceOf[javax.net.ssl.SSLSocket]
        val params = s.getSSLParameters
        params.setApplicationProtocols(Array("h2"))
        s.setSSLParameters(params)
        s.startHandshake()
        require(s.getApplicationProtocol == "h2",
          s"ALPN negotiated '${s.getApplicationProtocol}', expected h2")
        s
    }
    onOpen(sock)
    try {
      val out = new BufferedOutputStream(sock.getOutputStream)
      val in = new BufferedInputStream(sock.getInputStream)
      out.write(Http2.Preface)
      Http2.writeFrame(out, Http2.Settings, 0, 0, Http2.settingsPayload(Nil))
      Http2.writeFrame(out, Http2.Headers, Http2.FlagEndHeaders, 1, Hpack.encode(Seq(
        ":method" -> "POST", ":scheme" -> "http",
        ":path" -> "/reflexpb.Reflex/Stream", ":authority" -> s"$host:$port",
        "content-type" -> "application/grpc", "te" -> "trailers")))
      val framed = new ByteArrayOutputStream()
      GrpcMessage.write(framed, ReflexPb.encodeStreamRequest(after, toHead = toHead,
        fromHead = fromHead, lagMs = lagMs))
      Http2.writeFrame(out, Http2.Data, Http2.FlagEndStream, 1, framed.toByteArray)
      out.flush()

      val hpackIn = new Hpack.Decoder()
      val msgBuf = new ByteArrayOutputStream(1024)
      var status = -1
      var message = ""
      var sawResponseHeaders = false
      var open = true
      while (open) {
        Http2.readFrame(in) match {
          case None => open = false // EOF without trailers
          case Some(fr) => fr.tpe match {
            case Http2.Settings =>
              if (!fr.has(Http2.FlagAck)) {
                Http2.writeFrame(out, Http2.Settings, Http2.FlagAck, 0)
                out.flush()
              }
            case Http2.Ping =>
              if (!fr.has(Http2.FlagAck)) {
                Http2.writeFrame(out, Http2.Ping, Http2.FlagAck, 0, fr.payload)
                out.flush()
              }
            case Http2.Headers if fr.streamId == 1 =>
              // single-frame header blocks from our server; a general
              // peer would need CONTINUATION handling like the server's
              hpackIn.decode(Http2.unpad(fr)).foreach { hs =>
                hs.foreach {
                  case ("grpc-status", v) => status = v.toInt
                  case ("grpc-message", v) => message = v
                  case (":status", v) if !sawResponseHeaders =>
                    sawResponseHeaders = true
                    if (v != "200") { status = 13; message = s"http status $v"; open = false }
                  case _ => ()
                }
              }
              if (fr.has(Http2.FlagEndStream)) open = false // trailers
            case Http2.Data if fr.streamId == 1 =>
              val body = Http2.unpad(fr)
              msgBuf.write(body)
              // replenish receive windows so the server never stalls
              if (fr.payload.length > 0) {
                Http2.writeFrame(out, Http2.WindowUpdate, 0, 0,
                  Http2.windowUpdatePayload(fr.payload.length))
                Http2.writeFrame(out, Http2.WindowUpdate, 0, 1,
                  Http2.windowUpdatePayload(fr.payload.length))
                out.flush()
              }
              // de-frame complete gRPC messages
              val buf = msgBuf.toByteArray
              var consumed = 0
              var msg = GrpcMessage.next(buf, consumed)
              while (msg.nonEmpty) {
                consumed += 5 + msg.get.length
                if (ReflexPb.decodeEvent(msg.get).exists(e => !f(e))) { // caller cancel
                  Http2.writeFrame(out, Http2.RstStream, 0, 1,
                    Http2.rstPayload(Http2.ErrCancel))
                  out.flush()
                  return Result(0, "cancelled by caller")
                }
                msg = GrpcMessage.next(buf, consumed)
              }
              if (consumed > 0) {
                msgBuf.reset()
                msgBuf.write(buf, consumed, buf.length - consumed)
              }
              if (fr.has(Http2.FlagEndStream)) open = false
            case Http2.GoAway | Http2.RstStream => open = false
            case _ => ()
          }
        }
      }
      Result(status, message)
    } finally {
      try sock.close() catch { case NonFatal(_) => () }
    }
  }
}
