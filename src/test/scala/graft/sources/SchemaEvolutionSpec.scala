package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** r13 (r12 verdict item 8): a typed metadata column added MID-LOG —
  * old parquet files lack it, new files carry it. The merged-schema
  * reader must surface both eras (nulls for the old files until
  * backfill), and `evolve()` must rewrite exactly the partitions
  * containing pre-column files, atomically, after which the typed
  * column equals the JSON parse on every row and every file carries
  * it with real footer stats (the prunable form).
  */
class SchemaEvolutionSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private def batch(ids: Seq[Long], day: String, plan: String) =
    ids.map(i => ("signup", i, java.sql.Timestamp.valueOf(s"$day 10:0${i % 10}:00"),
      i.toDouble, s"""{"plan":"$plan","n":$i}"""))
      .toDF("eventType", "foreignId", "ts", "value", "metadata")

  private val planCol = MetaColumn("meta_plan", "$.plan", StringType)

  test("mixed-file log: merged read, evolve backfill, typed==JSON") {
    val dir = java.nio.file.Files.createTempDirectory("graft-evolve").toString + "/log"
    val v0 = new EventsTable(spark, dir) // no projection yet
    v0.insert(batch(1L to 20L, "2024-01-01", "pro"))
    val v1 = new EventsTable(spark, dir, metaColumns = Seq(planCol))
    v1.insert(batch(21L to 40L, "2024-01-02", "free"))

    // pre-evolve: both eras visible; the typed column is null exactly
    // for the pre-column files
    val pre = v1.log.df
    assert(pre.count() === 40)
    assert(pre.filter(col("meta_plan").isNull).count() === 20)
    assert(pre.filter(col("meta_plan") === "free").count() === 20)

    // evolve: the single (unpartitioned) "partition" is rewritten once
    assert(v1.evolve() === 1)
    assert(v1.evolve() === 0) // idempotent: nothing left to backfill

    // post-evolve: typed column equals the JSON parse on EVERY row,
    // and the head/ids/rows are untouched
    val post = v1.log.df
    assert(post.count() === 40)
    assert(v1.head === 39L) // ids 0..39: genesis head is -1
    assert(new java.io.File(dir, "_graft_head").exists) // kept by the swap
    assert(post.filter(col("meta_plan") =!=
      get_json_object(col("metadata"), "$.plan")).count() === 0)
    assert(post.filter(col("meta_plan") === "pro").count() === 20)

    // every file now carries the column (the prunable form: each
    // footer has it, with stats a reader's min/max skip consults)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.foreach { f =>
      assert(spark.read.parquet(f.getPath.toString)
        .schema.fieldNames.contains("meta_plan"), f.getPath.getName)
    }
    // and the filter is pushed to the scan, beside the read's
    // committed-head bound (id <= 39)
    val plan = post.filter(col("meta_plan") === "pro")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), IsNotNull(meta_plan), " +
      "LessThanOrEqual(id,39), EqualTo(meta_plan,pro)]"), plan.take(600))
  }

  test("date-partitioned log: evolve rewrites ONLY the pre-column partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-evolve-p").toString + "/log"
    val v0 = new EventsTable(spark, dir, partitionByDate = true)
    v0.insert(batch(1L to 10L, "2024-01-01", "pro"))
    v0.insert(batch(11L to 20L, "2024-01-02", "pro"))
    val v1 = new EventsTable(spark, dir, partitionByDate = true,
      metaColumns = Seq(planCol))
    v1.insert(batch(21L to 30L, "2024-01-03", "free"))

    // exactly the two pre-column date partitions get rewritten; the
    // post-column one is never touched
    assert(v1.evolve() === 2)
    assert(v1.evolve() === 0)
    val post = v1.log.df
    assert(post.count() === 30)
    assert(post.filter(col("meta_plan") =!=
      get_json_object(col("metadata"), "$.plan")).count() === 0)
    // partition pruning on date still works alongside the new column
    val pruned = v1.raw.filter(col("date") === "2024-01-02")
    assert(pruned.count() === 10)
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters"), planStr.take(400))
  }
}
