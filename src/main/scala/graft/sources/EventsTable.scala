package graft.sources

import java.nio.file.{Files, NoSuchFileException, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference,
  BinaryComparison, BoundReference, ExprId, Expression, Literal, Or, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata,
  HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.events.EventLog

/** Append-only event table (reference: rsql/eventstable.go — events
  * inserted transactionally with monotonically increasing ids;
  * rsql/eventstableint.go for int foreign ids).
  *
  * Spark-first mapping: the log is a parquet directory plus a small
  * committed manifest in its root (`_graft_manifest`, which Spark's
  * listing skips). The manifest holds the head and, per committed file,
  * its path, length, mtime, row count, id range and `date` partition.
  * Every change writes its files first and then replaces the manifest
  * with a temp file and one atomic rename; that rename is the commit
  * (the role the reference's SQL transaction plays), so a reader sees
  * a whole insert, compaction or forget, or none of it.
  *
  *  - Reads never list the directory: `log` and `raw` scan one manifest
  *    snapshot, and a scan opens only the files whose id range can
  *    match its pushed `id` bounds and whose date its partition filters
  *    keep, so a read past a cursor opens only the newest files.
  *  - `head` is the manifest's, so it runs no job, and it never moves
  *    back when `forget` drops the newest events: ids are never reused.
  *  - An insert runs one job, the write. Ids are reserved as
  *    head+1..head+n and assigned with zipWithIndex — per-partition
  *    offsets, no global sort and no shuffle; the new files' row counts
  *    and id ranges come from their footers.
  *
  * Changes to one log are serialized within a JVM: inserts commit one
  * at a time, and compact, forget and evolve run one at a time, each
  * committing from a fresh read of the manifest. A log has one writing
  * process; readers may be anywhere. A change that crashes leaves only
  * files no manifest names (a staging directory beside the root, data
  * files moved into the root but not committed, or replaced files not
  * yet deleted); the next compact, forget or evolve deletes them.
  *
  * A log without a manifest (written before it existed) is listed on
  * every read and cut at its `_graft_head` marker when it has one; its
  * first insert, compaction, forget or evolve first commits a manifest
  * built from one listing and the files' footers.
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

  /** The table root; the manifest's paths resolve against it. */
  private val rootDir = Paths.get(dir).toAbsolutePath.normalize
  private val root = new Path("file", null, rootDir.toString)
  private val locks = EventsTable.locksOf(rootDir)

  /** The committed-head marker of a log written before the manifest
    * existed; read only on such logs.
    */
  private def legacyMarker: Option[Long] =
    try Some(Files.readString(Paths.get(dir, "_graft_head")).trim.toLong)
    catch { case _: NoSuchFileException => None }

  /** The physical frame over the files of `m`. */
  private def frame(m: Manifest): DataFrame = {
    val index = new ManifestIndex(root, m, physical("id"), partitionByDate)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema, fullSchema,
      None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** The committed events with their canonical names. The schema is
    * explicit on every path: a typed metadata projection added mid-log
    * means old files lack the column, and schema inference would
    * surface whichever file's footer Spark samples, while an explicit
    * schema reads every file with the merged shape (absent columns come
    * back null until `evolve()` backfills them). A log without a
    * manifest is listed, and cut at its marker when it has one.
    */
  private def read(keepDate: Boolean): DataFrame = {
    val df = Manifest.read(dir) match {
      case Some(m) => canonicalize(frame(m))
      case None =>
        val marker = legacyMarker // before the read lists the files
        val listed = canonicalize(spark.read.schema(
          if (partitionByDate) StructType(fullSchema.fields :+ StructField("date", DateType))
          else fullSchema).parquet(dir))
        marker.fold(listed)(h => listed.filter(col("id") <= h))
    }
    if (partitionByDate && !keepDate) df.drop("date") else df
  }

  def log: EventLog = new EventLog(read(keepDate = false), lookupLimit)

  /** Raw frame incl. the partition column (canonical event names) —
    * filter on `date` to see PartitionFilters pruning in the plan.
    */
  def raw: DataFrame = read(keepDate = true)

  /** The committed head: the manifest's; on a log without one, its
    * marker, else max(id); -1 for no log.
    */
  def head: Long = Manifest.read(dir).map(_.head)
    .getOrElse(legacyMarker.getOrElse(if (!exists) -1L else log.head()))

  /** The committed manifest, read with the commit lock held. A log
    * without one is adopted from one listing and its files' footers,
    * with the larger of its marker and its largest id as the head, and
    * that manifest is committed before the change writes anything: what
    * the change leaves if it crashes is then debris `sweep` can tell.
    */
  private def snapshot(): Manifest = Manifest.read(dir).getOrElse {
    val files = dataFiles(rootDir).map(rel => describe(rootDir.resolve(rel), rel)).filter(_.rows > 0)
    val m = Manifest((legacyMarker.toSeq ++ files.map(_.maxId)).maxOption.getOrElse(-1L), files)
    if (Files.isDirectory(rootDir)) Manifest.write(dir, m)
    m
  }

  /** Relative paths of the parquet files under `base` that Spark's
    * listing would read: no `_`- or `.`-prefixed name on the way.
    */
  private def dataFiles(base: java.nio.file.Path): Vector[String] =
    if (!Files.isDirectory(base)) Vector.empty
    else Using.resource(Files.walk(base)) { paths =>
      paths.iterator.asScala.map(base.relativize).filter { rel =>
        rel.toString.endsWith(".parquet") && Files.isRegularFile(base.resolve(rel)) &&
          rel.iterator.asScala.forall(n => !n.toString.startsWith("_") && !n.toString.startsWith("."))
      }.map(_.toString).toVector
    }

  private def footer(file: java.nio.file.Path): ParquetMetadata =
    Using.resource(ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(file.toUri), spark.sparkContext.hadoopConfiguration)))(_.getFooter)

  /** The manifest entry of `file`, to be committed at `rel`: row count
    * and id range from its footer, `date` from its partition directory.
    */
  private def describe(file: java.nio.file.Path, rel: String): LogFile = {
    val blocks = footer(file).getBlocks.asScala.filter(_.getRowCount > 0)
    val ids = blocks.map(_.getColumns.asScala.find(_.getPath.toDotString == physical("id"))
      .map(_.getStatistics).filter(_.hasNonNullValue)
      .getOrElse(throw new IllegalStateException(s"$file: no id statistics in its footer")))
    def bound(s: Statistics[_], max: Boolean): Long =
      (if (max) s.genericGetMax else s.genericGetMin).asInstanceOf[java.lang.Long].longValue
    LogFile(rel, Files.size(file), Files.getLastModifiedTime(file).toMillis,
      blocks.map(_.getRowCount).sum, ids.map(bound(_, max = false)).minOption.getOrElse(0L),
      ids.map(bound(_, max = true)).maxOption.getOrElse(-1L),
      Option.when(partitionByDate)(rel.takeWhile(_ != '/').stripPrefix("date=")))
  }

  /** Writes `df` (with its `date` column on a partitioned log) to a
    * staging directory beside the root, moves its non-empty files into
    * the table's layout and returns their entries. Nothing is
    * committed: no reader sees the files until a manifest names them.
    */
  private def stage(df: DataFrame): Seq[LogFile] = {
    val staging = rootDir.resolveSibling(s"${rootDir.getFileName}.staging-${java.util.UUID.randomUUID}")
    (if (partitionByDate) df.write.partitionBy("date") else df.write).parquet(staging.toString)
    try dataFiles(staging).map(rel => describe(staging.resolve(rel), rel))
      .filter(_.rows > 0).map { f =>
        val dst = Paths.get(dir, f.path)
        Files.createDirectories(dst.getParent)
        Files.move(staging.resolve(f.path), dst, StandardCopyOption.ATOMIC_MOVE)
        f
      }
    finally graft.util.AtomicDir.deleteRec(staging)
  }

  /** Deletes the data file at `rel` under the root and its checksum. */
  private def remove(rel: String): Unit = {
    val p = rootDir.resolve(rel)
    Files.deleteIfExists(p)
    Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    ()
  }

  /** Deletes what a crashed change left: staging directories beside the
    * root, manifest temp files, and data files under the root that `m`
    * does not name. Runs with both locks held, so no change of this JVM
    * is between writing its files and committing them.
    */
  private def sweep(m: Manifest): Unit = {
    val parent = rootDir.getParent
    val staging = s"${rootDir.getFileName}.staging-"
    if (Files.isDirectory(parent))
      Using.resource(Files.list(parent))(_.iterator.asScala
        .filter(_.getFileName.toString.startsWith(staging)).toVector)
        .foreach(graft.util.AtomicDir.deleteRec)
    if (Files.isDirectory(rootDir)) {
      Using.resource(Files.list(rootDir))(_.iterator.asScala
        .filter(p => Manifest.isTemp(p.getFileName.toString)).toVector)
        .foreach(Files.deleteIfExists)
      val named = m.files.map(_.path).toSet
      dataFiles(rootDir).filterNot(named).foreach(remove)
    }
  }

  /** Runs a rewrite (compact, forget, evolve) on the committed manifest:
    * one rewrite at a time per log in this JVM, after sweeping what a
    * crashed change left.
    */
  private def rewrite[T](body: Manifest => T): T = locks.rewrite.synchronized {
    body(locks.commit.synchronized { val m = snapshot(); sweep(m); m })
  }

  /** Commits the files `gone` replaced by `added`, then deletes `gone`:
    * a reader sees the old files or the new ones, never a mix. The
    * manifest is re-read and replaced under the commit lock, so an
    * insert either commits wholly before (and stays in it) or reads the
    * manifest after (and keeps `added`).
    */
  private def swap(gone: Seq[LogFile], added: Seq[LogFile]): Unit = {
    val drop = gone.map(_.path).toSet
    locks.commit.synchronized {
      val now = Manifest.read(dir).getOrElse(
        throw new IllegalStateException(s"$dir: no manifest to commit a rewrite to"))
      Manifest.write(dir, now.copy(files = now.files.filterNot(f => drop(f.path)) ++ added))
    }
    gone.foreach(f => remove(f.path))
  }

  /** `df` with every typed metadata projection computed from its JSON:
    * insert, compact and evolve share it, so a rewritten value is
    * bit-identical to the write-time one.
    */
  private def withMetas(df: DataFrame): DataFrame = metaColumns.foldLeft(df) { (acc, m) =>
    acc.withColumn(m.name, get_json_object(col(physical("metadata")), m.jsonPath).cast(m.dataType))
  }

  /** Right-to-be-forgotten compaction: rewrite the log without the
    * entity's events. Remaining ids are untouched (monotonicity
    * preserved; the resulting id gaps are exactly what the gap-fill
    * machinery tolerates — rsql/gapfill.go semantics).
    *
    * One scan finds the files that hold the entity's events; only those
    * are rewritten, so the cost is O(entity's file spread), not O(log).
    * The rewritten files replace them in one manifest commit, so a
    * reader sees the log before or after, never partial. Returns the
    * head, which does not move: when the entity owns the newest events,
    * their ids are still never handed to a later insert.
    */
  def forget(foreignId: Long): Long = rewrite { m =>
    val entity = col("foreignId") <=> foreignId
    val hit = canonicalize(frame(m)).filter(entity).select(input_file_name())
      .distinct().collect().map(r => Paths.get(new java.net.URI(r.getString(0)))).toSet
    val gone = m.files.filter(f => hit(rootDir.resolve(f.path)))
    if (gone.nonEmpty)
      swap(gone, stage(physicalize(canonicalize(frame(m.copy(files = gone))).filter(!entity))))
    m.head
  }

  /** Small-file compaction (the OPTIMIZE step a streaming ingest needs
    * forever: every micro-batch append is its own parquet file, so an
    * uncompacted log's file count grows without bound). Each partition
    * (date on a partitioned log; the whole log otherwise) whose file
    * count exceeds ceil(bytes/targetBytes) is rewritten into that many
    * id-range-partitioned, id-sorted files, and all rewritten
    * partitions replace their files in one manifest commit.
    *
    * Rows, ids, and the head are untouched (content-preserving
    * rewrite); sorting by id makes each output file a disjoint id
    * range, so cursor reads (`id > cursor`) skip files by the
    * manifest's id ranges — after compaction a consumer near the head
    * opens O(1) files per partition, not O(batches). Returns the number
    * of partitions rewritten.
    */
  def compact(targetBytes: Long = 128L << 20): Int = {
    if (!exists) return 0
    rewrite { m =>
      val idCol = col(physical("id"))
      val order = (if (partitionByDate) Seq(col("date")) else Nil) :+ idCol
      val rewrites = m.files.groupBy(_.date).values.toSeq.flatMap { files =>
        val want = math.max(1L, (files.map(_.length).sum + targetBytes - 1) / targetBytes).toInt
        Option.when(files.size > want)(files -> stage(withMetas(frame(m.copy(files = files)))
          .repartitionByRange(want, idCol).sortWithinPartitions(order: _*)))
      }
      if (rewrites.nonEmpty) swap(rewrites.flatMap(_._1), rewrites.flatMap(_._2))
      rewrites.size
    }
  }

  /** Schema evolution (reference intent: rsql/eventstable.go:67–120
    * custom field mapping — the schema is the table's, not the
    * file's): backfill typed metadata projections (`metaColumns`)
    * that were added AFTER part of the log was written. Old files
    * lack the physical column and read as null through the explicit
    * merged schema; evolve rewrites exactly the files whose footer
    * lacks a projection — recomputing every projection from the
    * metadata JSON with the same expression `insert` uses — and
    * replaces them in one manifest commit. After evolve, every file
    * carries the typed column with real parquet min/max stats, so
    * filters on it prune files instead of re-parsing JSON. Returns the
    * number of partitions rewritten.
    */
  def evolve(): Int = {
    if (!exists || metaColumns.isEmpty) return 0
    rewrite { m =>
      val stale = m.files.filter { f =>
        val have = footer(Paths.get(dir, f.path)).getFileMetaData.getSchema.getFields.asScala
          .map(_.getName).toSet
        metaColumns.exists(c => !have(c.name))
      }
      if (stale.nonEmpty) swap(stale, stage(withMetas(frame(m.copy(files = stale)))))
      stale.map(_.date).distinct.size
    }
  }

  /** Insert a batch of events (columns: eventType, foreignId, ts,
    * value, metadata, optional trace), assigning the next id range.
    * Returns the new head.
    *
    * The only job is the write (plus zipWithIndex's count of the
    * partitions, for a frame with more than one). The new files' row
    * counts and id ranges come from their footers, and the commit point
    * is the manifest that adds them: a reader sees all of the insert or
    * none of it (the role the reference's SQL transaction plays). The
    * commit lock is held from reading the head to the commit, so inserts
    * in one JVM take disjoint id ranges and a rewrite's commit never
    * lands between an insert's read and its commit.
    */
  def insert(events: DataFrame): Long = {
    val newHead = locks.commit.synchronized {
      val m = snapshot()
      val cols = Seq("eventType", "foreignId", "ts", "value", "metadata")
      val traceCol =
        if (events.columns.contains("trace")) col("trace").cast("binary")
        else lit(null).cast("binary")
      val src = events.select(cols.map(col) :+ traceCol.as("trace"): _*)
      val withIds = src.rdd.zipWithIndex().map { case (r, i) =>
        Row.fromSeq((m.head + 1 + i) +: r.toSeq)
      }
      // typed metadata projections: parse the JSON ONCE here at write,
      // never again on any read
      val df = withMetas(spark.createDataFrame(withIds, schema))
      val added = stage(
        if (partitionByDate) df.withColumn("date", to_date(col(physical("ts")))) else df)
      val head = m.head + added.map(_.rows).sum
      Manifest.write(dir, Manifest(head, m.files ++ added)) // the commit point
      head
    }
    // post-commit notify (the reference returns a NotifyFunc to call
    // after tx commit — rsql/eventstable.go:245)
    notifier.foreach(_.notifyInsert())
    newHead
  }
}

object EventsTable {

  /** The locks of one log: `commit` guards each step from reading the
    * manifest to committing it; `rewrite` keeps compact, forget and
    * evolve to one at a time.
    */
  private final class Locks {
    val commit = new Object
    val rewrite = new Object
  }

  private val locks = new java.util.concurrent.ConcurrentHashMap[java.nio.file.Path, Locks]()

  private def locksOf(root: java.nio.file.Path): Locks = locks.computeIfAbsent(root, _ => new Locks)

  /** The committed head of `df` when it is an unfiltered manifest-backed
    * read — a manifest scan under projections that pass `id` through —
    * without running a job; None for any other frame.
    */
  def committedHead(df: DataFrame): Option[Long] = {
    def trace(plan: LogicalPlan, id: ExprId): Option[Long] = plan match {
      case Project(list, child) => list.collectFirst {
        case a: Attribute if a.exprId == id => a.exprId
        case a @ Alias(from: Attribute, _) if a.exprId == id => from.exprId
      }.flatMap(trace(child, _))
      case LogicalRelation(r: HadoopFsRelation, out, _, _, _) => r.location match {
        case m: ManifestIndex if out.exists(a => a.exprId == id && a.name == m.idName) =>
          Some(m.manifest.head)
        case _ => None
      }
      case _ => None
    }
    val plan = df.queryExecution.analyzed
    plan.output.find(_.name == "id").flatMap(a => trace(plan, a.exprId))
  }
}

/** One committed data file of a manifest-backed log: its path under the
  * table root, length, mtime, row count, id range and, on a
  * date-partitioned log, its `date` partition value.
  */
private[sources] final case class LogFile(path: String, length: Long, mtime: Long,
    rows: Long, minId: Long, maxId: Long, date: Option[String])

/** A committed snapshot of a log: its head, the highest id ever
  * assigned (which `forget` never lowers), and the files of its events.
  */
private[sources] final case class Manifest(head: Long, files: Seq[LogFile])

private[sources] object Manifest {
  private val Name = "_graft_manifest"
  private val Version = "graft-manifest 1"

  /** The manifest of the table rooted at `dir`; None when it has none. */
  def read(dir: String): Option[Manifest] =
    try {
      val lines = Files.readAllLines(Paths.get(dir, Name)).asScala
      require(lines.headOption.contains(Version), s"unknown manifest format in $dir")
      Some(Manifest(lines(1).stripPrefix("head\t").toLong, lines.drop(2).map { l =>
        val f = l.split('\t')
        LogFile(f(0), f(1).toLong, f(2).toLong, f(3).toLong, f(4).toLong, f(5).toLong,
          Option.when(f(6) != "-")(f(6)))
      }.toVector))
    } catch { case _: NoSuchFileException => None }

  /** Whether `name` is a manifest temp file, left by a crashed `write`. */
  def isTemp(name: String): Boolean = name.startsWith(s"$Name.") && name.endsWith(".tmp")

  /** Atomically replaces the manifest of the table rooted at `dir`. */
  def write(dir: String, m: Manifest): Unit = {
    val lines = Seq(Version, s"head\t${m.head}") ++ m.files.map(f =>
      Seq(f.path, f.length, f.mtime, f.rows, f.minId, f.maxId, f.date.getOrElse("-")).mkString("\t"))
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, s"$Name.${java.util.UUID.randomUUID}.tmp")
    Files.writeString(tmp, lines.mkString("", "\n", "\n"))
    Files.move(tmp, Paths.get(dir, Name), StandardCopyOption.ATOMIC_MOVE)
    ()
  }
}

/** Spark's view of one manifest snapshot. `listFiles` never lists the
  * directory: it returns the snapshot's files minus those whose id
  * range no pushed `id` comparison can match, grouped into the `date`
  * partitions the partition filters keep. Equality includes the
  * snapshot, so Spark's CacheManager never serves one snapshot's cached
  * data for another's.
  */
private[sources] final class ManifestIndex(root: Path, val manifest: Manifest,
    val idName: String, partitioned: Boolean) extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(root)

  override val partitionSchema: StructType =
    if (partitioned) StructType(Seq(StructField("date", DateType))) else new StructType()

  override def inputFiles: Array[String] =
    manifest.files.map(f => new Path(root, f.path).toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = manifest.files.map(_.length).sum

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    def status(f: LogFile) = FileStatusWithMetadata(
      new FileStatus(f.length, false, 1, 32L << 20, f.mtime, new Path(root, f.path)))
    val files = manifest.files.filter(f => dataFilters.forall(mayHold(_, f.minId, f.maxId)))
    if (!partitioned) Seq(PartitionDirectory(InternalRow.empty, files.map(status)))
    else {
      val keep = partitionFilters.reduceOption(And).map(p => Predicate.createInterpreted(
        p.transform { case _: AttributeReference => BoundReference(0, DateType, nullable = true) }))
      files.groupBy(_.date).toSeq.map { case (d, fs) =>
        val day = d.filter(_ != "__HIVE_DEFAULT_PARTITION__")
          .map(v => java.time.LocalDate.parse(v).toEpochDay.toInt)
        PartitionDirectory(InternalRow(day.orNull), fs.map(status))
      }.filter(p => keep.forall(_.eval(p.values)))
    }
  }

  /** Whether a file whose ids span [lo, hi] may hold a row passing `e`:
    * false only when `e` compares `id` with a literal in a way no id in
    * the span satisfies.
    */
  private def mayHold(e: Expression, lo: Long, hi: Long): Boolean = {
    def isId(x: Expression) = x match {
      case a: AttributeReference => a.name == idName
      case _ => false
    }
    def admits(op: String, v: Long) = op match {
      case ">" => hi > v
      case ">=" => hi >= v
      case "<" => lo < v
      case "<=" => lo <= v
      case "=" | "<=>" => lo <= v && v <= hi
      case _ => true
    }
    val flip = Map(">" -> "<", ">=" -> "<=", "<" -> ">", "<=" -> ">=")
    e match {
      case And(l, r) => mayHold(l, lo, hi) && mayHold(r, lo, hi)
      case Or(l, r) => mayHold(l, lo, hi) || mayHold(r, lo, hi)
      case c: BinaryComparison => (c.left, c.right) match {
        case (x, Literal(v: Long, LongType)) if isId(x) => admits(c.symbol, v)
        case (Literal(v: Long, LongType), x) if isId(x) =>
          admits(flip.getOrElse(c.symbol, c.symbol), v)
        case _ => true
      }
      case _ => true
    }
  }

  override def equals(o: Any): Boolean = o match {
    case m: ManifestIndex => m.rootPaths == rootPaths && m.manifest == manifest &&
      m.idName == idName && m.partitionSchema == partitionSchema
    case _ => false
  }

  override def hashCode: Int = (root, manifest).hashCode
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
