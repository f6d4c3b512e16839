package graft.sources

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** EventsTable.compact: streaming ingest writes one parquet file per
  * micro-batch forever; compaction bounds the file count without
  * changing a single row, id, or the head — and a consumer replaying
  * across the swap sees the identical post-cursor stream.
  */
class CompactionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkBatch(ts0: String, n: Int, typ: String) =
    (1 to n).map(i => (typ, i.toLong, java.sql.Timestamp.valueOf(ts0), i * 1.0,
      s"""{"i":$i}"""))
      .toDF("eventType", "foreignId", "ts", "value", "metadata")

  private def parquetFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir))
  }

  test("compact merges small files, preserves rows/ids/head, keeps the cursor valid") {
    val dir = Files.createTempDirectory("graft-compact").resolve("log").toString
    val table = new EventsTable(spark, dir)
    // 8 micro-batch appends → ≥8 files
    (1 to 8).foreach(b => table.insert(mkBatch("2024-01-01 00:00:00", 5, s"t$b")))
    val before = table.log.df.collect().toSet
    val headBefore = table.head
    assert(parquetFiles(dir).size >= 8)
    // a consumer mid-stream: cursor after the first 3 batches
    val cursor = 15L
    val tailBefore = table.log.after(cursor).orderBy("id").collect().toSeq

    val n = table.compact(targetBytes = 1L << 30) // everything fits one file
    assert(n === 1)
    assert(parquetFiles(dir).size === 1)
    assert(table.head === headBefore)
    // the rewrite is committed by the manifest
    assert(new java.io.File(dir, "_graft_manifest").exists)
    assert(table.log.df.collect().toSet === before)
    // replay across the swap: identical post-cursor stream
    assert(table.log.after(cursor).orderBy("id").collect().toSeq === tailBefore)
    // idempotent: already compact → no-op
    assert(table.compact(targetBytes = 1L << 30) === 0)
  }

  test("date-partitioned compact rewrites per partition with disjoint id zones") {
    val dir = Files.createTempDirectory("graft-compact-p").resolve("log").toString
    val table = new EventsTable(spark, dir, partitionByDate = true)
    // 3 days × 4 batches each: every date partition accumulates 4 files
    for (b <- 1 to 4; day <- Seq("2024-01-01", "2024-01-02", "2024-01-03"))
      table.insert(mkBatch(s"$day 12:00:00", 3, s"b$b"))
    val before = table.log.df.collect().toSet
    val dateDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("date=")).map(_.toString).sorted
    assert(dateDirs.length === 3)
    dateDirs.foreach(d => assert(parquetFiles(d).size >= 4))

    // target = half a partition's bytes → 2 files per partition, each
    // a DISJOINT id range (sorted rewrite): zone maps then prune
    // cursor reads
    val partBytes = parquetFiles(dateDirs.head).map(_.length).sum
    val n = table.compact(targetBytes = (partBytes + 1) / 2)
    assert(n === 3)
    assert(table.log.df.collect().toSet === before)
    dateDirs.foreach { d =>
      val zones = graft.analytics.Layout.fileZones(spark, d, Seq("id"))
      assert(zones.nonEmpty)
      val ranges = zones.map(_._2("id")).sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, max1), (min2, _)) => assert(max1 < min2,
          s"overlapping id zones in $d: $ranges")
        case _ => ()
      }
    }
    // partition pruning still works on the rewritten log
    val pruned = table.raw.filter(col("date") === "2024-01-02")
    assert(pruned.count() === before.size / 3)
  }

  test("compact stages OUTSIDE the table root; crash leftovers never duplicate a reader's rows") {
    val dir = Files.createTempDirectory("graft-compact-s").resolve("log").toString
    val table = new EventsTable(spark, dir, partitionByDate = true)
    for (b <- 1 to 3) table.insert(mkBatch("2024-02-01 12:00:00", 4, s"b$b"))
    val before = table.log.df.collect().toSet

    // Simulate a change that crashed mid-flight: a full duplicate of
    // the partition in a staging directory beside the root, where
    // changes stage their writes, and a data file moved into the root
    // that no manifest names (an uncommitted insert, or a file a
    // rewrite replaced but had not deleted yet). A reader of the root
    // must NOT see those rows (the old in-root <root>/date=X.compacting
    // staging made every row appear twice and corrupted the date
    // column).
    val stagingRoot = new java.io.File(dir + ".staging-crashed")
    val stagedPart = new java.io.File(stagingRoot, "date=2024-02-01")
    spark.read.parquet(s"$dir/date=2024-02-01")
      .write.parquet(stagedPart.toString)
    val orphan = new java.io.File(s"$dir/date=2024-02-01", "part-crashed.parquet")
    Files.copy(parquetFiles(dir).head.toPath, orphan.toPath)
    assert(table.log.df.collect().toSet === before,
      "crash leftover staging dir leaked into partition discovery")
    assert(table.log.df.count() === before.size)

    // compact() sweeps the leftovers up front and completes cleanly
    val n = table.compact(targetBytes = 1L << 30)
    assert(n === 1)
    assert(!stagingRoot.exists(), "staging root not swept after compact")
    assert(!orphan.exists(), "uncommitted data file not swept after compact")
    val staged = new java.io.File(dir).getParentFile.list().filter(_.startsWith("log.staging"))
    assert(staged.isEmpty, s"staging dirs left after compact: ${staged.mkString(",")}")
    assert(table.log.df.collect().toSet === before)
    assert(Manifest.read(dir).get.files.map(_.path) ===
      parquetFiles(dir).map(f => new java.io.File(dir).toURI.relativize(f.toURI).getPath))
    // nothing named *.compacting (or any non-partition dir) inside the root
    val strays = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && !f.getName.startsWith("date="))
    assert(strays.isEmpty, s"stray dirs inside table root: ${strays.mkString(",")}")
  }
}
