package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Exclusive prefix scans (sum / max) over (key, value) frames — the
  * machinery behind every "running total / frontier over per-block
  * aggregates" pattern in the engine. An unpartitioned
  * `Window.orderBy(k)` executes as ONE partition, which is only
  * acceptable when the frame is provably small; the frames these
  * serve (per-4096-id blocks, per-value histograms) TRACK the corpus,
  * so `cumExcl` measures the size and picks the window form (bound
  * verified) or the range-partitioned two-pass scan. The range forms
  * follow Queries.centsCumHist: checkpoint, range-exchange +
  * in-partition sort on the key, collect 32 per-partition partials,
  * broadcast the exclusive driver scan back.
  */
object Prefix {

  /** Smallness verdict of the frame named `name` over `input`, kept in
    * the SessionCache: the measure job is a fixed per-execution tax
    * (+0.08 to +0.11 s per query at sf0.1; ev_rfm_segments 8.1x at
    * sf1), paid once per session while `input`'s files are unchanged.
    * The verdict is only a path CHOICE — both prefix forms are exact.
    * The configured row bound is part of the name, so a conf flip
    * (PrefixSpec forcing the range path) re-measures instead of
    * reading a verdict taken under a different bound.
    */
  def memoSmall(s: SparkSession, name: String, input: DataFrame)(
      measure: => Boolean): Boolean = {
    val bound = graft.GraftConf.getLong(s, graft.GraftConf.PrefixBroadcastMaxRows)
    SessionCache(s, s"$name#$bound", Seq(input))(measure)
  }

  /** Checked-bounded EXCLUSIVE prefix aggregate over a (key, value)
    * frame with unique keys — THE entry point for every per-id-block
    * / per-value-histogram prefix in the engine. The frame's row
    * count is MEASURED (one small job on the checkpointed frame):
    * at or under spark.graft.prefix.broadcastMaxRows it keeps the
    * window form — a single-partition exchange of a frame whose
    * bound is now verified, not assumed — and above it takes the
    * range-partitioned two-pass scan. Returns the (k, v, prefix)
    * frame plus the smallness verdict so callers broadcast the
    * join-back only when the check passed. `prefix` is 0 for the
    * first key under "sum" and null under "max".
    *
    * `cacheKey`: (query name, the base read `df` derives from). The
    * verdict is then memoized through `memoSmall`, and a hit skips
    * the measure job. `df` itself cannot key the entry: it often sits
    * on a fresh checkpoint and has no stable hash.
    */
  def cumExcl(s: SparkSession, df: DataFrame, kCol: String, vCol: String,
      op: String, cacheKey: Option[(String, DataFrame)] = None): (DataFrame, Boolean) = {
    def windowForm(in: DataFrame): DataFrame = {
      val w = Window.orderBy(kCol).rowsBetween(Window.unboundedPreceding, -1)
      val pfx = op match {
        case "sum" => coalesce(sum(vCol).over(w), lit(0L))
        case "max" => max(vCol).over(w)
        case other => throw new IllegalArgumentException(s"op $other")
      }
      in.withColumn("prefix", pfx)
    }
    def rangeForm(in: DataFrame): DataFrame = op match {
      case "sum" =>
        val (cum, _, _) = rangeCumHist(s, in, kCol, vCol)
        cum.withColumnRenamed("cum_excl", "prefix")
      case "max" => rangeCumMax(s, in, kCol, vCol)
      case other => throw new IllegalArgumentException(s"op $other")
    }
    // the checkpoint stays on BOTH the miss and hit paths — the hit
    // saves the measure (count) job only. Skipping it on a hit would
    // make the executed plan depend on cache state (the frame's
    // aggregation would inline into the consumer plan), which breaks
    // PlanShapeSpec's order-independence and re-runs the frame per
    // downstream consumer.
    val ck = df.select(col(kCol).cast("long"), col(vCol).cast("long"))
      .localCheckpoint()
    def measure = ck.count() <=
      graft.GraftConf.getLong(s, graft.GraftConf.PrefixBroadcastMaxRows)
    val small = cacheKey.fold(measure) { case (name, input) =>
      memoSmall(s, name, input)(measure)
    }
    (if (small) windowForm(ck) else rangeForm(ck), small)
  }

  /** Range-partitioned EXCLUSIVE prefix sum over a (value, count)
    * histogram — the scale path of `cumExcl("sum")`, public because
    * some callers also want the two free scalars. Same two-pass
    * shape as Queries.centsCumHist, generalized: checkpoint the
    * histogram (RangePartitioning samples its child, then shuffles
    * it — unmaterialized, the aggregation would run twice), range-
    * exchange + in-partition sort on the value, collect the 32
    * per-partition count totals, broadcast the scan offsets back.
    * Returns (v | cnt | cum_excl frame, Σcnt, #distinct values).
    */
  def rangeCumHist(s: SparkSession, hist: DataFrame, vCol: String,
      cntCol: String): (DataFrame, Long, Long) = {
    import s.implicits._
    val ds = hist
      .select(col(vCol).cast("long"), col(cntCol).cast("long"))
      .as[(Long, Long)]
      .localCheckpoint()
      .repartitionByRange(32, col(vCol))
      .sortWithinPartitions(vCol)
      .localCheckpoint()
    val partStats = ds.mapPartitions { it =>
      var acc = 0L; var rows = 0L
      it.foreach { p => acc += p._2; rows += 1L }
      Iterator((org.apache.spark.TaskContext.getPartitionId(), acc, rows))
    }.collect().sortBy(_._1)
    val offsets = partStats.map(_._2).scanLeft(0L)(_ + _)
    val bc = s.sparkContext.broadcast(offsets)
    val out = ds.mapPartitions { it =>
      var run = bc.value(org.apache.spark.TaskContext.getPartitionId())
      it.map { case (v, c) => val e = run; run += c; (v, c, e) }
    }.toDF(vCol, cntCol, "cum_excl")
    (out, offsets.last, partStats.map(_._3).sum)
  }

  /** Range-partitioned exclusive prefix MAX. "No predecessor" is
    * tracked with an explicit seen flag through both the per-partition
    * pass and the driver scan (r16 advice: a MinValue sentinel would
    * conflate a genuine v = Long.MinValue with "empty"), so the full
    * Long domain round-trips.
    */
  def rangeCumMax(s: SparkSession, df: DataFrame, kCol: String,
      vCol: String): DataFrame = {
    import s.implicits._
    val ds = df.select(col(kCol).cast("long"), col(vCol).cast("long"))
      .as[(Long, Long)]
      .localCheckpoint()
      .repartitionByRange(32, col(kCol))
      .sortWithinPartitions(kCol)
      .localCheckpoint()
    val partMax = ds.mapPartitions { it =>
      var m = Long.MinValue; var seen = false
      it.foreach { p => if (!seen || p._2 > m) m = p._2; seen = true }
      Iterator((org.apache.spark.TaskContext.getPartitionId(), m, seen))
    }.collect().sortBy(_._1)
    val scans: Array[Option[Long]] = partMax
      .scanLeft(Option.empty[Long]) { case (acc, (_, m, seen)) =>
        if (!seen) acc else Some(acc.fold(m)(math.max(m, _)))
      }.init // exclusive: partition i sees the max of partitions < i
    val bc = s.sparkContext.broadcast(scans)
    ds.mapPartitions { it =>
      var run = bc.value(org.apache.spark.TaskContext.getPartitionId())
      it.map { case (k, v) =>
        val e = run
        run = Some(run.fold(v)(math.max(v, _)))
        (k, v, e)
      }
    }.toDF(kCol, vCol, "prefix")
  }
}
