package graft.events

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The graft event — re-expression of the reference's event model
  * (reference: api.go:14-22 `Event{ID, Type, ForeignID, Timestamp,
  * MetaData, Trace}`). Events are immutable state-change
  * notifications; the log is ordered by monotonically increasing
  * `id`, which doubles as the consumer cursor. `trace` is the opaque
  * tracing payload (api.go:18 `Trace []byte`) — carried through
  * untouched, null when the producer attached none.
  */
final case class Event(
    id: Long,
    eventType: String,
    foreignId: Long,
    ts: Timestamp,
    value: Double,
    metadata: String,
    trace: Array[Byte] = null)

object Event {
  /** Canonical projection from the raw `events` table to the event
    * model. Kept as pure Column expressions so Catalyst prunes the
    * parquet scan to exactly these columns.
    *
    * The physical `ts` type varies by producer and must always
    * normalize to session-TZ TIMESTAMP:
    *  - TIMESTAMP(NANOS) parquet → Spark reads a nanos-since-epoch
    *    LONG (`spark.sql.legacy.parquet.nanosAsLong` in Graft.session);
    *    integer-division to µs keeps full precision (a double
    *    roundtrip would lose it — ns epochs exceed 2^53).
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) → Spark ≥3.4 infers
    *    TIMESTAMP_NTZ; cast to TimestampType interprets the wall-clock
    *    value in the session zone (UTC for graft sessions), matching
    *    the producer's epoch semantics.
    *  - TIMESTAMP(MICROS/MILLIS, UTC) → already TimestampType.
    */
  def project(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val tsCol = df.schema("ts").dataType match {
      case LongType => expr("timestamp_micros(ts div 1000)").as("ts")
      case TimestampNTZType => col("ts").cast("timestamp").as("ts")
      case _ => col("ts")
    }
    // trace passes through when the source carries one, else null
    val traceCol =
      if (df.columns.contains("trace")) col("trace")
      else lit(null).cast("binary").as("trace")
    // idempotent: EventsTable logs are already canonical
    if (df.columns.contains("id") && df.columns.contains("eventType"))
      df.select(col("id"), col("eventType"), col("foreignId"), tsCol,
        col("value"), col("metadata"), traceCol)
    else
      df.select(
        col("event_id").as("id"),
        col("event_type").as("eventType"),
        col("user_id").as("foreignId"),
        tsCol,
        col("value"),
        col("props").as("metadata"),
        traceCol)
  }

  def dataset(df: DataFrame): Dataset[Event] = {
    val spark = df.sparkSession
    import spark.implicits._
    project(df).as[Event]
  }
}

/** Batch view of an ordered event log with the reference's stream
  * options re-expressed as Catalyst predicates (reference:
  * options.go — Lag / StreamFromHead / StreamToHead; api.go Spec).
  *
  * All slicing is pushed down: `id > cursor` and the lag bound reach
  * the parquet reader as row-group-prunable filters, so replaying
  * from a recent cursor on a 100 TB log touches only the tail
  * partitions. At scale the log directory is expected to be
  * partitioned by date(ts), making the lag/cursor prune a partition
  * prune.
  */
final class EventLog(val df: DataFrame,
    /** per-poll row bound (reference rsql/eventstable.go:105
      * WithEventLookupLimit, default 1000 there): the most events one
      * `poll` returns. The logical stream (`after`/`toHead`) stays
      * unbounded — the limit belongs to the LOADER's slice size, not
      * the stream contract, exactly like the reference's loader
      * `LIMIT ?`. Unbounded unless the owning EventsTable sets it.
      */
    val lookupLimit: Int = Int.MaxValue) {

  /** Events strictly after the cursor — the core StreamFunc contract. */
  def after(cursor: Long): DataFrame =
    df.filter(col("id") > cursor).orderBy("id")

  /** One loader poll: the at-most-`lookupLimit` lowest-id events
    * after the cursor (rsql/eventstable.go loader semantics — a
    * consumer loops polls until it reaches the head; the bound caps
    * per-poll memory/latency, not total progress). The id-ordered
    * limit compiles to a TakeOrdered — no global sort materializes.
    */
  def poll(cursor: Long): DataFrame =
    if (lookupLimit == Int.MaxValue) after(cursor)
    else after(cursor).limit(lookupLimit)

  /** Current head, or -1 for an empty log: the committed head, with no
    * job, when `df` is an unfiltered EventsTable read; else max(id).
    */
  def head(): Long = graft.sources.EventsTable.committedHead(df).getOrElse {
    val r = df.agg(max("id")).collect()(0)
    if (r.isNullAt(0)) -1L else r.getLong(0)
  }

  /** StreamFromHead: only events after the current head snapshot
    * (reference: options.go:27). On a static batch view this is the
    * empty tail; the streaming runtime uses the head snapshot as the
    * starting cursor.
    */
  def fromHead(): DataFrame = after(head())

  /** StreamToHead: bounded replay [cursor+1, head-at-snapshot]
    * (reference: options.go:34) — used for backfills/tests.
    */
  def toHead(cursor: Long): DataFrame = {
    val h = head()
    df.filter(col("id") > cursor && col("id") <= h).orderBy("id")
  }

  /** StreamLag: only events older than `lagSeconds` relative to the
    * watermark `now` (reference: options.go:42).
    */
  def withLag(lagSeconds: Long, now: Column): DataFrame =
    df.filter(col("ts") <= now - expr(s"INTERVAL $lagSeconds SECONDS"))

  def where(f: EventFilter): EventLog = new EventLog(df.filter(f.toColumn), lookupLimit)

  /** rsql/rcache.go: read-through cache of the log's head — the hot
    * tail every live consumer re-reads. Returns a log whose last
    * `n` events are pinned in memory; older slices still stream from
    * storage.
    */
  def cachedTail(n: Long): EventLog = {
    val h = head()
    val tail = df.filter(col("id") > h - n).cache()
    val cold = df.filter(col("id") <= h - n)
    new EventLog(cold.unionByName(tail), lookupLimit)
  }
}

object EventLog {
  def apply(spark: SparkSession, sfDir: String): EventLog =
    new EventLog(Event.project(spark.read.parquet(s"$sfDir/events.parquet")))
}
