package graft.events

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Declarative re-expressions of the reference's consumption patterns
  * (reference: the rpatterns package). Each takes/returns a DataFrame in the
  * canonical event projection (Event.project) so they compose with
  * EventFilter and the streaming runtime.
  */
object Patterns {

  /** rpatterns/deadletter.go + rsql/errorstable.go: the error
    * side-output. In the batch view, "poison" events are routed to a
    * dead-letter frame instead of blocking the stream; the healthy
    * complement continues.
    */
  def deadLetters(events: DataFrame, isPoison: EventFilter = EventFilter.ofType("error")): DataFrame =
    events.filter(isPoison.toColumn)

  def healthy(events: DataFrame, isPoison: EventFilter = EventFilter.ofType("error")): DataFrame =
    events.filter(!isPoison.toColumn)

  /** rpatterns/parallel.go: split the log into n co-located shards by
    * portable hash of the foreign id. Returned frame carries `shard`;
    * repartitioning by it co-locates each shard's events without a
    * second shuffle downstream.
    */
  def shards(events: DataFrame, n: Int): DataFrame =
    events.withColumn("shard", EventFilter.shardId(n))

  /** rpatterns/batch.go: assign monotone batch numbers of size
    * `batchSize` in id order. The global window is intentional for the
    * bounded replay/test path; at scale call per shard (compose with
    * `shards`, window partitioned by shard).
    */
  def assignBatches(events: DataFrame, batchSize: Int): DataFrame = {
    val w = Window.orderBy("id")
    events.withColumn("batch_no", ((row_number().over(w) - 1) / batchSize).cast("long"))
  }

  /** Per-shard batch assignment — the scale form of `assignBatches`:
    * the window partitions on the shard id, so no global sort exists
    * anywhere in the plan.
    */
  def assignBatchesPerShard(events: DataFrame, nShards: Int, batchSize: Int): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("id")
    shards(events, nShards)
      .withColumn("batch_no", ((row_number().over(w) - 1) / batchSize).cast("long"))
  }

  /** rsql/gapfill.go: detect id gaps (candidates for noop fill).
    * Two-level, like every corpus-sized ordered pass here: in-block
    * gaps come from a window PARTITIONED by coarse id block;
    * cross-block gaps from the exclusive prefix MAX over the (block,
    * max-id) frame — ids partition by block in order, so the running
    * max over earlier blocks IS the previous non-empty block's max id
    * (what the r15 `lag` computed), and Prefix.cumExcl keeps that
    * frame (corpus/4096 rows) off a single partition when it outgrows
    * the checked bound. Empty blocks fall inside those boundary gaps
    * naturally. No single partition ever sorts the full id set.
    */
  def gaps(events: DataFrame, cacheKey: Option[(String, DataFrame)] = None): DataFrame = {
    val s = events.sparkSession
    val t = events.select(col("id"))
      .withColumn("blk", call_function("div", col("id"), lit(4096L)))
    val local = Window.partitionBy("blk").orderBy("id")
    val inBlock = t
      .withColumn("prev", lag("id", 1).over(local))
      .filter(col("prev").isNotNull && col("id") - col("prev") > 1)
      .select((col("prev") + 1).as("gap_start"), (col("id") - 1).as("gap_end"))
    val bAgg = t.groupBy("blk").agg(min("id").as("mn"), max("id").as("mx"))
    val (pfx, small) = graft.util.Prefix.cumExcl(
      s, bAgg.select("blk", "mx"), "blk", "mx", "max", cacheKey)
    val pmx0 = pfx.select(col("blk"), col("prefix").as("pmx"))
    val pmx = if (small) broadcast(pmx0) else pmx0.hint("SHUFFLE_HASH")
    val between = bAgg.join(pmx, "blk")
      .filter(col("pmx").isNotNull && col("mn") - col("pmx") > 1)
      .select((col("pmx") + 1).as("gap_start"), (col("mn") - 1).as("gap_end"))
    inBlock.unionByName(between)
  }

  /** rsql/gapfill.go makeFill: materialize the noop events that would
    * close every gap (idempotent fill set).
    */
  def gapFillNoops(events: DataFrame): DataFrame =
    gaps(events)
      .select(explode(sequence(col("gap_start"), col("gap_end"))).as("id"))
      .withColumn("eventType", lit("noop"))

  /** Contiguous noop id ranges of a gap-filled log (reference:
    * rsql/loader.go filterLoader — the loader knows which ranges are
    * pure noops so consumers can skip them by cursor override instead
    * of scanning them). The ranges are exactly the gaps of the
    * non-noop view; |ranges| is tiny relative to the log, so a
    * driver-side list is the right shape.
    */
  def noopRanges(events: DataFrame): Seq[(Long, Long)] =
    gaps(events.filter(col("eventType") =!= "noop"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  /** Cursor override (rsql/loader.go:20): if `cursor + 1` lands inside
    * (or at the start of) a noop range, jump to the range end — the
    * consumer never reads the noops. Chained ranges collapse in one
    * pass over the sorted list.
    */
  def skipNoops(ranges: Seq[(Long, Long)], cursor: Long): Long = {
    var c = cursor
    ranges.foreach { case (s, e) => if (s <= c + 1 && c < e) c = e }
    c
  }

  /** Latest event per foreign id — the event-notification → current
    * state materialization implied by doc.go. Ordered by id (insertion
    * order), not timestamp, matching the reference's cursor semantics.
    */
  def latestState(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("foreignId").orderBy(col("id").desc)
    events.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Sessionization with an inactivity gap, per foreign id. Emits one
    * row per (fid, session): event count and duration in whole
    * seconds. Windows partition on the high-cardinality foreign id.
    */
  def sessionize(events: DataFrame, gapSeconds: Long): DataFrame = {
    val byUser = Window.partitionBy("foreignId").orderBy("id")
    val cum = Window.partitionBy("foreignId").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("sec", unix_timestamp(col("ts")))
      .withColumn("new_sess",
        when(lag("id", 1).over(byUser).isNull ||
             col("sec") - lag("sec", 1).over(byUser) > gapSeconds, 1).otherwise(0))
      .withColumn("sess_seq", sum("new_sess").over(cum))
      .groupBy(col("foreignId").as("fid"), col("sess_seq"))
      .agg(count(lit(1)).as("n_events"), (max("sec") - min("sec")).as("dur_s"))
  }

  /** rpatterns/ack.go batch-cursor semantics: the cursor to commit for
    * a consumed frame = max id (only safe once every prior event
    * succeeded — the runtime enforces that).
    */
  def commitCursor(events: DataFrame): Long = {
    val r = events.agg(max("id")).collect()(0)
    if (r.isNullAt(0)) -1L else r.getLong(0)
  }
}
