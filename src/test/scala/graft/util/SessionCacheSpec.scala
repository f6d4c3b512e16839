package graft.util

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Cached work must follow its inputs: a file appended to (or
  * rewritten in) an input directory invalidates every SessionCache
  * entry built over it, so a query re-run in the same session answers
  * over the new files, as a fresh session does.
  */
class SessionCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tempDir(): Path = Files.createTempDirectory("graft-session-cache")

  /** `df` as one parquet file at `target` (replacing any file there). */
  private def writeOne(df: DataFrame, target: Path): Unit = {
    val staging = tempDir().resolve("out")
    df.coalesce(1).write.parquet(staging.toString)
    val part = Files.list(staging).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get
    Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
  }

  private def copyDir(from: Path, to: Path): Unit = {
    val paths = Files.walk(from)
    try paths.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally paths.close()
  }

  test("a re-run after documents are appended answers over the new files") {
    val dir = tempDir().resolve("sf")
    Files.createDirectories(dir)
    Files.list(java.nio.file.Paths.get(TestSpark.sf)).forEach { f =>
      val name = f.getFileName.toString
      if (name == "documents.parquet") {
        Files.createDirectories(dir.resolve(name))
        Files.copy(f, dir.resolve(name).resolve("part-0.parquet"))
      } else Files.copy(f, dir.resolve(name))
    }
    // ev_rfm_segments reads only events, which do not change: its
    // answer before the append is its oracle after it
    val docKeys = Seq("dd_minhash_planted", "dd_winnow_pairs", "pipeline_doremi_mix",
      "tx_bloom_decontaminate")
    val keys = docKeys :+ "ev_rfm_segments"
    def run(s: org.apache.spark.sql.SparkSession, d: Path,
        ks: Seq[String] = keys): Map[String, Seq[String]] =
      ks.map(k => k -> graft.SparkEntry.queries(k)(s, d.toString)
        .collect().map(_.toString).toSeq.sorted).toMap

    val before = run(spark, dir)
    // clones of the first 40 documents (they include the bench docs
    // tx_bloom_decontaminate compares against) under fresh ids
    val docs = spark.read.parquet(dir.resolve("documents.parquet").toString)
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    writeOne(docs.filter(col("doc_id") < 40).withColumn("doc_id", col("doc_id") + (maxId + 1)),
      dir.resolve("documents.parquet").resolve("clones.parquet"))
    val after = run(spark, dir)

    // the oracle reads a copy of the changed directory under another
    // path: Spark's CacheManager is shared by sessions and matches file
    // relations by root path, so only a new path is fully independent
    val copy = tempDir().resolve("sf")
    copyDir(dir, copy)
    val fresh = run(spark.newSession(), copy, docKeys) +
      ("ev_rfm_segments" -> before("ev_rfm_segments"))
    assert(keys.filter(k => after(k) != fresh(k)) === Nil, "keys served a stale result")
    assert(docKeys.filter(k => before(k) == after(k)) === Nil,
      "the append changes every documents-based answer")
  }

  test("hit on unchanged input, miss and one live entry after an in-place rewrite") {
    import spark.implicits._
    val dir = tempDir()
    val file = dir.resolve("t.parquet")
    writeOne(Seq(1L, 2L, 3L).toDF("x"), file)
    var builds = 0
    var released = 0
    def lookup(): Int = SessionCache.withRelease[Int](spark, "spec-counted",
        Seq(spark.read.parquet(dir.toString)), _ => released += 1) {
      builds += 1; builds
    }
    assert(lookup() === 1)
    assert(lookup() === 1, "unchanged input must hit")
    writeOne(Seq(4L, 5L, 6L, 7L, 8L).toDF("x"), file)
    assert(lookup() === 2, "a rewritten file must miss")
    assert(lookup() === 2)
    assert(builds === 2)
    assert(released === 1)
    assert(SessionCache.size(spark, "spec-counted") === 1)
  }
}
