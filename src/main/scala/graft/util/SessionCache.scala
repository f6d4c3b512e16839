package graft.util

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation, PartitioningAwareFileIndex}

/** The one memo for work a session reuses across query invocations
  * (signature frames, candidate-pair tables, prefix-path verdicts).
  * An entry is keyed on the session, a name (carrying any parameter
  * the value depends on, e.g. the banding) and a snapshot of the
  * input frames the caller passes, normally its base reads
  * (`Tables.listing` where it has none of its own, so a hit costs one
  * listing): each frame's analyzed-plan `semanticHash` (non-file
  * leaves such as `LocalRelation` data, file relations' root paths)
  * plus the sorted (path, length, modification time) of every file
  * its file relations have listed.
  *
  * Invalidation: an entry is served only while its inputs' files are
  * unchanged. A lookup matching an entry's session, name and plans but
  * not its files (an append, an in-place rewrite) releases the entry
  * (unpersist, drop a view) and rebuilds it in its place, so growing
  * inputs never add entries. Other sessions' stale entries for the
  * same name and plans are released too: Spark's CacheManager is
  * shared and matches file relations by root path alone, so the
  * rebuild's `persist()` would otherwise pick up their frames. A
  * same-length rewrite within the file system's timestamp resolution
  * is not seen.
  */
object SessionCache {
  private final case class Key(session: String, name: String, plans: Seq[Int])
  private final class Entry(val files: Seq[(String, Long, Long)], val value: Any,
      val release: () => Unit)

  private val entries = TrieMap.empty[Key, Entry]

  /** `build`'s value for (session, `name`, snapshot of `inputs`). */
  def apply[T](s: SparkSession, name: String, inputs: Seq[DataFrame])(build: => T): T =
    withRelease[T](s, name, inputs, _ => ())(build)

  /** `apply`, with `release` run on the value when its entry is replaced. */
  def withRelease[T](s: SparkSession, name: String, inputs: Seq[DataFrame],
      release: T => Unit)(build: => T): T = {
    val key = Key(org.apache.spark.sql.GraftSqlBridge.sessionUUID(s), name,
      inputs.map(_.queryExecution.analyzed.semanticHash()))
    val files = inputs.flatMap(listedFiles).distinct.sorted
    entries.get(key) match {
      case Some(e) if e.files == files => e.value.asInstanceOf[T]
      case _ =>
        // release before building, so the rebuild neither picks up the
        // stale cached frame nor loses a view name the release drops
        entries.foreach { case (k, e) =>
          if (k.name == name && k.plans == key.plans && e.files != files &&
              entries.remove(k, e)) e.release()
        }
        val v = build
        entries.put(key, new Entry(files, v, () => release(v)))
        v
    }
  }

  /** One persisted frame, unpersisted when its entry is replaced. */
  def frame(s: SparkSession, name: String, inputs: Seq[DataFrame])(
      build: => DataFrame): DataFrame =
    withRelease[DataFrame](s, name, inputs, _.unpersist())(build)

  /** Entries currently held for `s` under `name`. */
  private[graft] def size(s: SparkSession, name: String): Int = {
    val id = org.apache.spark.sql.GraftSqlBridge.sessionUUID(s)
    entries.keys.count(k => k.session == id && k.name == name)
  }

  private def listedFiles(df: DataFrame): Seq[(String, Long, Long)] =
    df.queryExecution.analyzed.collectWithSubqueries {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location
    }.flatMap {
      case idx: PartitioningAwareFileIndex =>
        idx.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      case _ => Nil
    }
}
