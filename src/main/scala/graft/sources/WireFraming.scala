package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The transport/format seam for networked event feeds (reference:
  * client.go consumes protobuf over gRPC; this library's socket
  * transport carries JSON lines — same stream contract, different
  * wire). A framing maps a transport's per-record payload to the
  * canonical event columns and an event row back to a payload; the
  * TRANSPORT (socket lines, a varint-delimited byte stream, a Kafka
  * topic) only carries discrete payloads and never sees fields.
  *
  * `Runner.runStreamFrom` and the whole cursor protocol sit strictly
  * above this seam — FramingSpec proves it by driving the runtime
  * through a third framing no transport in this repo uses
  * (Kafka-shaped length-prefixed binary records). A real Kafka
  * source drops in as
  * `spark.readStream.format("kafka")…select("value")` piped through
  * `decode` — nothing downstream changes.
  */
trait WireFraming extends Serializable {
  def name: String

  /** transport frame (`value` column: STRING for line transports,
    * BINARY for record transports) → canonical
    * (id, eventType, foreignId, ts, value, metadata). Malformed
    * payloads drop instead of killing the stream.
    */
  def decode(raw: DataFrame): DataFrame

  /** producer side: one canonical (id, eventType, foreignId, ts_ms,
    * value, metadata) row → payload record. A framing that carries
    * traces also reads a seventh `trace` column when the row has one. */
  def encode(r: Row): Array[Byte]
}

object WireFraming {

  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  /** shared tail: a JSON `value` column (STRING, or BINARY as a
    * Kafka source delivers it — cast is UTF-8 decode) → canonical
    * columns (the from_json chain every JSON framing reduces to). */
  private[sources] def fromJsonValue(js: DataFrame): DataFrame =
    js.select(from_json(col("value").cast("string"),
        SocketEventSource.wireSchema).as("e"))
      .select(
        col("e.id").as("id"),
        col("e.eventType").as("eventType"),
        col("e.foreignId").as("foreignId"),
        timestamp_millis(col("e.ts_ms")).as("ts"),
        col("e.value").as("value"),
        col("e.metadata").as("metadata"))
      .filter(col("id").isNotNull)

  /** Line-delimited JSON — the socket transport's framing
    * (SocketEventSource delegates here). */
  object LineJson extends WireFraming {
    val name = "line-json"
    def decode(raw: DataFrame): DataFrame = fromJsonValue(raw)
    def encode(r: Row): Array[Byte] =
      SocketEventSource.toWire(r).getBytes(Utf8)
  }

  /** reflexpb.Event protobuf — the reference's message format
    * (graft.events.ReflexPb, byte-compatible with its generated
    * code). The payload is ONE bare Event message; the varint
    * delimiting of the byte-stream transport stays in ProtoWire
    * where it belongs. Type codes outside EventType.Known decode to
    * their numeric string (same boundary as EventType.codeColumn).
    */
  object Pb extends WireFraming {
    val name = "reflexpb"
    def decode(raw: DataFrame): DataFrame = {
      val s = raw.sparkSession
      import s.implicits._
      raw.select(col("value").cast("binary")).as[Array[Byte]]
        .flatMap(b => graft.events.ReflexPb.decodeEvent(b)
          .map(e => (e.id, e.eventType, e.foreignId, e.tsMs, e.value,
            e.metadata)))
        .toDF("id", "eventType", "foreignId", "ts_ms", "value", "metadata")
        .select(col("id"), col("eventType"), col("foreignId"),
          timestamp_millis(col("ts_ms")).as("ts"), col("value"),
          col("metadata"))
    }
    def encode(r: Row): Array[Byte] =
      graft.events.ReflexPb.encodeEvent(
        r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) 0L else r.getLong(2),
        if (r.isNullAt(3)) 0L else r.getLong(3),
        if (r.isNullAt(4)) 0.0 else r.getDouble(4),
        if (r.isNullAt(5)) null else r.getString(5),
        if (r.length > 6 && !r.isNullAt(6)) r.getAs[Array[Byte]](6) else null)
  }

  /** Length-prefixed JSON — a Kafka-shaped RECORD framing: each
    * payload is a 4-byte big-endian length header + UTF-8 JSON body
    * (the self-describing record a framed producer writes to a
    * topic). Exists to prove the seam: no transport in this repo
    * emits it, yet FramingSpec runs the full cursor protocol over
    * it unchanged. Decode validates the header and drops records
    * whose length disagrees — a torn record must not kill the
    * stream.
    */
  object LengthPrefixedJson extends WireFraming {
    val name = "length-prefixed-json"
    def decode(raw: DataFrame): DataFrame = {
      val s = raw.sparkSession
      import s.implicits._
      val lines = raw.select(col("value").cast("binary")).as[Array[Byte]]
        .flatMap { b =>
          if (b == null || b.length < 4) None
          else {
            val n = java.nio.ByteBuffer.wrap(b, 0, 4).getInt
            if (n != b.length - 4) None
            else Some(new String(b, 4, n, Utf8))
          }
        }
        .toDF("value")
      fromJsonValue(lines)
    }
    def encode(r: Row): Array[Byte] = {
      val body = SocketEventSource.toWire(r).getBytes(Utf8)
      java.nio.ByteBuffer.allocate(4 + body.length)
        .putInt(body.length).put(body).array()
    }
  }
}
