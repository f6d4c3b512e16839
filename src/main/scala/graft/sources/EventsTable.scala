package graft.sources

import java.nio.file.{Files, NoSuchFileException, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.events.EventLog

/** Append-only event table (reference: rsql/eventstable.go — events
  * inserted transactionally with monotonically increasing ids;
  * rsql/eventstableint.go for int foreign ids).
  *
  * Spark-first mapping: the log is a parquet directory; an insert is
  * one append job. Ids are reserved as head+1..head+n and assigned with
  * zipWithIndex — per-partition offsets, no global sort, so an insert
  * of 10^9 rows assigns ids with one count and no shuffle.
  *
  * The append commits its parquet files one rename at a time, so a
  * listing can catch an insert half-committed. After the append the
  * insert therefore writes the committed head to a marker file in the
  * table root (`_`-prefixed, which Spark's file index skips; written
  * and renamed into place atomically), and readers take the marker
  * BEFORE they list the directory and see only `id <= committed head`
  * — never a partial batch (the role the reference's SQL transaction
  * plays). The marker is also the head, so ids are never reused after
  * `forget` drops the newest events. A log without a marker (written
  * before it existed) reads every file and takes max(id) as its head.
  */
final class EventsTable(spark: SparkSession, dir: String,
    /** partition the log by event date — at 100 TB this is what makes
      * cursor/lag slicing a partition prune instead of a full scan
      * (SURVEY.md §5); consumers near the head only open the newest
      * date partitions.
      */
    partitionByDate: Boolean = false,
    /** canonical → physical column names (reference:
      * rsql/eventstable.go WithEventIDField / WithEventTimeField /
      * WithEventTypeField / WithEventForeignIDField /
      * WithEventMetadataField / WithEventTraceField). The storage
      * layer reads/writes the physical names; everything above it —
      * EventLog slices, filters, Runner, StateTable — stays on the
      * canonical projection, exactly like the reference keeps
      * reflex.Event stable while the SQL schema varies.
      */
    fieldMap: Map[String, String] = Map.empty,
    /** typed metadata projections materialized AT WRITE TIME: each
      * entry extracts a JSON path from `metadata` into its own typed
      * physical column on insert, so recurring readers filter on a
      * plain (min/max-prunable, dictionary-encoded) parquet column
      * instead of re-parsing the JSON payload per row per query —
      * the scale-safe form of ev_filter_meta (SURVEY §5; at 100 TB a
      * per-row get_json_object on every consumer read is the single
      * biggest avoidable CPU sink in the log path). The JSON-parse
      * read path stays available for logs written without this.
      */
    metaColumns: Seq[MetaColumn] = Nil,
    /** wake-on-insert hook (reference: rsql/eventstable.go:122
      * WithEventsNotifier / :134 WithEventsInMemNotifier): when set,
      * every committed insert calls `notifyInsert()`, and co-located
      * poll loops (Poller / Runner.runForever / the serving watcher
      * threads) park on `watcher` instead of sleeping out their
      * backoff — an idle consumer wakes the instant an event lands.
      */
    notifier: Option[graft.events.EventsNotifier] = None,
    /** per-poll row bound (reference rsql/eventstable.go:105
      * WithEventLookupLimit, same default 1000): EventLog.poll slices
      * at most this many events per lookup. The Go memory concern
      * mostly doesn't transfer — foreachBatch consumes distributed
      * and the serve paths already chunk — but the option bounds
      * per-poll latency/memory for driver-side consumers the same
      * way the reference's loader `LIMIT ?` does.
      */
    lookupLimit: Int = 1000) {
  require(lookupLimit > 0, "lookupLimit must be positive")

  /** The table's watcher for consumer loops (the reference passes the
    * notifier as the default StreamWatcher of every stream() client —
    * rsql/eventstable.go:556). Sleeper fallback when no notifier is
    * configured, preserving plain long-poll behavior.
    */
  def watcher: graft.events.StreamWatcher =
    notifier.getOrElse(graft.events.StreamWatcher.sleeper)

  private val canonicalNames =
    Seq("id", "eventType", "foreignId", "ts", "value", "metadata", "trace")
  require(fieldMap.keySet.subsetOf(canonicalNames.toSet),
    s"fieldMap keys must be canonical names: ${fieldMap.keySet -- canonicalNames}")
  // Physical names must be unique and must not collide with any
  // canonical name (other than their own, a no-op mapping): a
  // collision yields duplicate schema columns and makes the
  // rename folds order-dependent (withColumnRenamed over a Map).
  require(fieldMap.values.toSeq.distinct.size == fieldMap.size,
    s"fieldMap physical names must be unique: ${
      fieldMap.values.groupBy(identity).collect { case (v, g) if g.size > 1 => v }.mkString(",")}")
  private val renamed = fieldMap.filter { case (c, p) => c != p }
  require(renamed.values.forall(p => !canonicalNames.contains(p)),
    s"fieldMap physical names must not shadow canonical columns: ${
      renamed.values.filter(canonicalNames.contains).mkString(",")}")
  require(!partitionByDate || !fieldMap.values.exists(_ == "date"),
    "fieldMap physical names must not collide with the `date` partition column")
  private def physical(c: String): String = fieldMap.getOrElse(c, c)

  require(metaColumns.map(_.name).distinct.size == metaColumns.size &&
    metaColumns.forall(m => !canonicalNames.contains(m.name) &&
      !fieldMap.values.exists(_ == m.name)),
    "metaColumns names must be unique and distinct from event columns")

  val schema: StructType = StructType(Seq(
    StructField(physical("id"), LongType, nullable = false),
    StructField(physical("eventType"), StringType),
    StructField(physical("foreignId"), LongType),
    StructField(physical("ts"), TimestampType),
    StructField(physical("value"), DoubleType),
    StructField(physical("metadata"), StringType),
    // api.go:18 Trace []byte — opaque tracing payload, null when absent
    StructField(physical("trace"), BinaryType)))

  /** storage schema incl. the typed metadata projections. */
  val fullSchema: StructType =
    StructType(schema.fields ++ metaColumns.map(m =>
      StructField(m.name, m.dataType, nullable = true)))

  /** physical → canonical projection of a stored frame. */
  private def canonicalize(df: DataFrame): DataFrame =
    fieldMap.foldLeft(df) { case (d, (canon, phys)) => d.withColumnRenamed(phys, canon) }

  /** canonical → physical rename before hitting storage. */
  private def physicalize(df: DataFrame): DataFrame =
    fieldMap.foldLeft(df) { case (d, (canon, phys)) => d.withColumnRenamed(canon, phys) }

  def exists: Boolean = new java.io.File(dir).exists()

  /** Committed-head marker in the table root (see the class comment). */
  private val HeadMarker = "_graft_head"

  /** The committed head, or None for a log without a marker. */
  private def committedHead: Option[Long] =
    try Some(Files.readString(Paths.get(dir, HeadMarker)).trim.toLong)
    catch { case _: NoSuchFileException => None }

  /** Atomically (re)write the committed-head marker of the table rooted
    * at `root`.
    */
  private def writeHead(head: Long, root: String = dir): Unit = {
    val tmp = Paths.get(root, HeadMarker + ".tmp")
    Files.writeString(tmp, head.toString)
    Files.move(tmp, Paths.get(root, HeadMarker), StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Copy the marker into a staging directory that is about to replace
    * the table root, so the swap keeps it.
    */
  private def carryHead(staging: String): Unit = committedHead.foreach(writeHead(_, staging))

  /** The committed events with their canonical names. The schema is
    * explicit on every path: a typed metadata projection added mid-log
    * means old files lack the column, and schema inference would
    * surface whichever file's footer Spark samples, while an explicit
    * schema reads every file with the merged shape (absent columns come
    * back null until `evolve()` backfills them). The date partition
    * column is named in the schema so partitioned reads stay prunable.
    */
  private def read(keepDate: Boolean): DataFrame = {
    val committed = committedHead // before the read lists the files
    val df = canonicalize(
      if (partitionByDate)
        spark.read.schema(StructType(fullSchema.fields :+
          StructField("date", DateType))).parquet(dir)
      else spark.read.schema(fullSchema).parquet(dir))
    val visible = committed.fold(df)(h => df.filter(col("id") <= h))
    if (partitionByDate && !keepDate) visible.drop("date") else visible
  }

  def log: EventLog = new EventLog(read(keepDate = false), lookupLimit)

  /** Raw frame incl. the partition column (canonical event names) —
    * filter on `date` to see PartitionFilters pruning in the plan.
    */
  def raw: DataFrame = read(keepDate = true)

  /** The committed head: the marker, else max(id); -1 for no log. */
  def head: Long = committedHead.getOrElse(if (!exists) -1L else log.head())

  /** Right-to-be-forgotten compaction: rewrite the log without the
    * entity's events. Remaining ids are untouched (monotonicity
    * preserved; the resulting id gaps are exactly what the gap-fill
    * machinery tolerates — rsql/gapfill.go semantics).
    *
    * On a date-partitioned log only the partitions that actually
    * contain the entity's events are rewritten and atomically swapped
    * — O(entity's date spread), not O(log). Untouched partitions are
    * never read or written (the date IN-list prunes the scan).
    * Unpartitioned logs fall back to a whole-directory atomic swap.
    * Concurrent readers see each partition old-or-new, never partial.
    * Returns the head, which does not move.
    */
  def forget(foreignId: Long): Long = {
    // Pinned before the rewrite: when the entity owns the newest events,
    // max(id) drops, and a head read from it would hand their ids to the
    // next insert — past the cursor of a consumer that already saw them.
    val pinned = head
    if (partitionByDate) {
      val touched = raw.filter(col("foreignId") === foreignId)
        .select("date").distinct().collect().map(_.getDate(0)).toSeq
      if (touched.isEmpty) return pinned
      writeHead(pinned)
      val remaining = raw
        .filter(col("date").isin(touched: _*) && col("foreignId") =!= foreignId)
      val staging = dir + ".staging"
      graft.util.AtomicDir.deleteRec(staging)
      physicalize(remaining).write.partitionBy("date").parquet(staging)
      touched.foreach { d =>
        val src = java.nio.file.Paths.get(staging, s"date=$d")
        val dst = java.nio.file.Paths.get(dir, s"date=$d")
        // a partition whose every row belonged to the entity is absent
        // from staging → remove it from the live log
        if (java.nio.file.Files.exists(src)) graft.util.AtomicDir.replace(src, dst)
        else graft.util.AtomicDir.remove(dst)
      }
      graft.util.AtomicDir.deleteRec(staging)
    } else {
      val remaining = log.df.filter(col("id").isNotNull && col("foreignId") =!= foreignId)
      val tmp = dir + ".tmp"
      graft.util.AtomicDir.deleteRec(tmp)
      physicalize(remaining).write.mode(SaveMode.Overwrite).parquet(tmp)
      writeHead(pinned, tmp)
      graft.util.AtomicDir.replace(tmp, dir)
    }
    pinned
  }

  /** Small-file compaction (the OPTIMIZE step a streaming ingest needs
    * forever: every micro-batch append is its own parquet file, so an
    * uncompacted log's file count grows without bound and every read
    * pays O(batches) footer opens). Each partition (date dirs on a
    * partitioned log; the whole directory otherwise) whose file count
    * exceeds ceil(bytes/targetBytes) is rewritten into that many
    * id-range-partitioned, id-sorted files and atomically swapped —
    * the same old-or-new discipline as `forget`/StateTable.merge, at
    * the same partition granularity a table format would commit.
    *
    * Rows, ids, and the head are untouched (content-preserving
    * rewrite); sorting by id makes each output file a disjoint id
    * range, so footer min/max zone maps turn cursor reads
    * (`id > cursor`) into file skips — after compaction a consumer
    * near the head opens O(1) files per partition, not O(batches).
    * Returns the number of partitions rewritten.
    */
  def compact(targetBytes: Long = 128L << 20): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return 0
    // Stage OUTSIDE the table root (sibling <root>.compacting/date=X):
    // a staging dir inside the root would be picked up by Spark
    // partition discovery as just another partition, so a concurrent
    // reader during the write→swap window — or any reader after a
    // crash that leaves it behind — would see the partition's rows
    // twice. Leftovers from a crashed run are swept up front.
    val stagingRoot = new org.apache.hadoop.fs.Path(root.toString + ".compacting")
    graft.util.AtomicDir.deleteRec(stagingRoot.toUri.getPath)
    val parts: Seq[org.apache.hadoop.fs.Path] =
      if (partitionByDate)
        fs.listStatus(root).filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("date=")).map(_.getPath).toSeq
      else Seq(root)
    var rewritten = 0
    parts.foreach { p =>
      val files = fs.listStatus(p).filter(st => st.isFile &&
        st.getPath.getName.endsWith(".parquet"))
      val bytes = files.map(_.getLen).sum
      val want = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      if (files.length > want) {
        val idCol = col(physical("id"))
        val staging =
          if (partitionByDate) new org.apache.hadoop.fs.Path(stagingRoot, p.getName)
          else stagingRoot
        graft.util.AtomicDir.deleteRec(staging.toUri.getPath)
        spark.read.parquet(p.toString)
          .repartitionByRange(want, idCol)
          .sortWithinPartitions(idCol)
          .write.parquet(staging.toString)
        // drop the _SUCCESS marker so the swapped dir holds data files
        // only, like the append-written partitions it replaces
        fs.delete(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"), false)
        if (!partitionByDate) carryHead(staging.toUri.getPath)
        graft.util.AtomicDir.replace(staging.toUri.getPath, p.toUri.getPath)
        rewritten += 1
      }
    }
    graft.util.AtomicDir.deleteRec(stagingRoot.toUri.getPath)
    rewritten
  }

  /** Schema evolution (reference intent: rsql/eventstable.go:67–120
    * custom field mapping — the schema is the table's, not the
    * file's): backfill typed metadata projections (`metaColumns`)
    * that were added AFTER part of the log was written. Old files
    * lack the physical column and read as null through the explicit
    * merged schema; evolve rewrites exactly the partitions containing
    * such files — recomputing every projection from the metadata JSON
    * with the same expression `insert` uses, so backfilled values are
    * bit-identical to write-time ones — and atomically swaps each
    * partition under the same old-or-new discipline as
    * `compact`/`forget`. After evolve, every file carries the typed
    * column with real parquet min/max stats, so filters on it prune
    * files instead of re-parsing JSON. Untouched partitions are never
    * read or written. Returns the number of partitions rewritten.
    */
  def evolve(): Int = {
    if (!exists || metaColumns.isEmpty) return 0
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val stagingRoot = new org.apache.hadoop.fs.Path(root.toString + ".evolving")
    graft.util.AtomicDir.deleteRec(stagingRoot.toUri.getPath)
    val parts: Seq[org.apache.hadoop.fs.Path] =
      if (partitionByDate)
        fs.listStatus(root).filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("date=")).map(_.getPath).toSeq
      else Seq(root)
    var rewritten = 0
    parts.foreach { p =>
      val files = fs.listStatus(p).filter(st => st.isFile &&
        st.getPath.getName.endsWith(".parquet")).map(_.getPath)
      // footer check per file: does any file miss a projection column?
      val needs = files.exists { f =>
        val have = spark.read.parquet(f.toString).schema.fieldNames.toSet
        metaColumns.exists(m => !have.contains(m.name))
      }
      if (needs) {
        val base = spark.read.schema(fullSchema).parquet(p.toString)
        val df = metaColumns.foldLeft(base) { (acc, m) =>
          acc.withColumn(m.name,
            get_json_object(col(physical("metadata")), m.jsonPath).cast(m.dataType))
        }
        val staging =
          if (partitionByDate) new org.apache.hadoop.fs.Path(stagingRoot, p.getName)
          else stagingRoot
        graft.util.AtomicDir.deleteRec(staging.toUri.getPath)
        df.write.parquet(staging.toString)
        fs.delete(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"), false)
        if (!partitionByDate) carryHead(staging.toUri.getPath)
        graft.util.AtomicDir.replace(staging.toUri.getPath, p.toUri.getPath)
        rewritten += 1
      }
    }
    graft.util.AtomicDir.deleteRec(stagingRoot.toUri.getPath)
    rewritten
  }

  /** Insert a batch of events (columns: eventType, foreignId, ts,
    * value, metadata, optional trace), assigning the next id range.
    * Returns the new head.
    */
  def insert(events: DataFrame): Long = {
    val base = head
    val cols = Seq("eventType", "foreignId", "ts", "value", "metadata")
    val traceCol =
      if (events.columns.contains("trace")) col("trace").cast("binary")
      else lit(null).cast("binary")
    val src = events.select(cols.map(col) :+ traceCol.as("trace"): _*)
    val rdd = src.rdd.zipWithIndex()
    val withIds = rdd.map { case (r, i) =>
      Row.fromSeq((base + 1 + i) +: r.toSeq)
    }
    val df0 = spark.createDataFrame(withIds, schema)
    // typed metadata projections: parse the JSON ONCE here at write,
    // never again on any read
    val df = metaColumns.foldLeft(df0) { (acc, m) =>
      acc.withColumn(m.name,
        get_json_object(col(physical("metadata")), m.jsonPath).cast(m.dataType))
    }
    val writer =
      if (partitionByDate)
        df.withColumn("date", to_date(col(physical("ts")))).write.partitionBy("date")
      else df.write
    writer.mode(SaveMode.Append).parquet(dir)
    // new head = base + batch size; O(batch), not a re-scan of the
    // whole log (which made every single-row append O(log size)).
    val newHead = base + rdd.count()
    writeHead(newHead) // the commit point
    // post-commit notify (the reference returns a NotifyFunc to call
    // after tx commit — rsql/eventstable.go:245)
    notifier.foreach(_.notifyInsert())
    newHead
  }
}

/** A typed metadata projection: JSON path `jsonPath` of the event
  * metadata, materialized at write time as physical column `name` of
  * `dataType` (rsql/eventstable.go's custom-field machinery extended
  * to derived columns).
  */
final case class MetaColumn(name: String, jsonPath: String,
    dataType: org.apache.spark.sql.types.DataType)

/** String-foreign-id surface over the int64-physical EventsTable —
  * the exact mirror of the reference's typed wrapper
  * (rsql/eventstableint.go: base table stores strings, the Int
  * wrapper formats int64 → string on insert). Here the base table
  * stores int64 (the native type of the `events` test schema), so
  * the typed wrapper PARSES string ids on insert — strictly, the
  * whole column, fail-fast: a non-numeric foreign id raises at
  * insert time instead of corrupting the log (the inverse direction,
  * FormatInt, cannot fail; ParseInt can, and so can this).
  */
final class EventsTableStr(val inner: EventsTable) {

  /** Insert with a STRING foreignId column; every value must parse as
    * int64 (strconv.ParseInt semantics — fail the batch, not the row).
    * Strict: a decimal string like "3.7" is rejected, not truncated —
    * Spark's non-ANSI string→long cast would accept it, ParseInt does
    * not, so shape is checked with an integer regex and the cast's
    * null only guards int64 overflow.
    */
  def insert(events: DataFrame): Long = {
    val bad = events.filter(col("foreignId").isNotNull &&
      (!col("foreignId").rlike("^[+-]?\\d+$") ||
        col("foreignId").cast("long").isNull)).limit(1).collect()
    require(bad.isEmpty,
      s"non-integer foreignId: ${bad.headOption.map(_.toString).getOrElse("")}")
    inner.insert(events.withColumn("foreignId", col("foreignId").cast("long")))
  }

  /** Canonical log with foreignId projected back to string (reflex
    * Event.ForeignID is a string — api.go Event).
    */
  def log: DataFrame =
    inner.log.df.withColumn("foreignId", col("foreignId").cast("string"))

  def head: Long = inner.head
}
