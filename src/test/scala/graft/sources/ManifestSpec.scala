package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** EventsTable's committed manifest: reads open only the files their id
  * bounds can match, the head and the manifest-backed `EventLog.head()`
  * run no job, an insert runs one, and every rewrite leaves a manifest
  * that names exactly the files on disk.
  */
class ManifestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def events(n: Int, day: String = "2024-01-01", typ: String = "click",
      fid: Int => Long = i => (i % 3).toLong): DataFrame =
    (0 until n).map(i => (typ, fid(i), java.sql.Timestamp.valueOf(s"$day 00:00:00"), i * 1.0,
      s"""{"plan":"p${i % 2}"}""")).toDF("eventType", "foreignId", "ts", "value", "metadata")

  private def tmpLog(name: String): String =
    Files.createTempDirectory(name).resolve("log").toString

  /** Relative paths of the parquet files a fresh listing of `dir` finds. */
  private def listed(dir: String): Set[String] = {
    val base = Paths.get(dir)
    Files.walk(base).iterator().asScala.map(base.relativize(_).toString)
      .filter(p => p.endsWith(".parquet") && !p.split('/').exists(_.startsWith("."))).toSet
  }

  /** Spark jobs `body` starts, counted by a listener drained with a
    * marker job (the bus delivers events in order).
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger()
    val marked = new AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.rddInfos.exists(_.name == "manifest-spec-marker"))) marked.set(true)
        else { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      spark.sparkContext.parallelize(Seq(1), 1).setName("manifest-spec-marker").count()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!marked.get() && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marked.get(), "listener did not drain")
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a read past a cursor scans only the newest file; head and inserts run no extra job") {
    val dir = tmpLog("graft-manifest-prune")
    val table = new EventsTable(spark, dir)
    (0 until 20).foreach(i => table.insert(events(1, fid = _ => i.toLong)))
    assert(listed(dir).size === 20)

    val past = table.log.df.filter(col("id") > 18L)
    assert(past.collect().map(_.getLong(0)).toSeq === Seq(19L))
    val scanned = past.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }
    assert(scanned === Seq(1L))

    val (head, headJobs) = jobsDuring((table.head, table.log.head()))
    assert(head === ((19L, 19L)))
    assert(headJobs === 0)
    // a filtered frame is not the committed snapshot: max(id) it is
    assert(new graft.events.EventLog(table.log.df.filter(col("id") < 5L)).head() === 4L)

    val (newHead, insertJobs) = jobsDuring(table.insert(events(3).coalesce(1)))
    assert(newHead === 22L)
    assert(insertJobs === 1, "an insert is one job: the write")
  }

  test("compact, forget and evolve leave a manifest naming exactly the listed files") {
    val plan = MetaColumn("meta_plan", "$.plan", StringType)
    for (partitioned <- Seq(false, true)) {
      val dir = tmpLog("graft-manifest-rewrite")
      val v0 = new EventsTable(spark, dir, partitionByDate = partitioned)
      Seq("2024-01-01", "2024-01-02").foreach(d => (0 until 3).foreach(_ => v0.insert(events(4, d))))
      val table = new EventsTable(spark, dir, partitionByDate = partitioned,
        metaColumns = Seq(plan))
      table.insert(events(4, "2024-01-02", fid = _ => 7L))
      val rows = table.log.df.drop("meta_plan").collect().toSet
      def agrees(what: String, head: Long): Unit = {
        val m = Manifest.read(dir).get
        assert(m.files.map(_.path).toSet === listed(dir), s"$what, partitioned=$partitioned")
        assert(m.head === head, s"$what, partitioned=$partitioned")
        m.files.foreach(f => assert(Files.size(Paths.get(dir, f.path)) === f.length, f.path))
      }
      agrees("insert", 27L)

      assert(table.compact(targetBytes = 1L << 30) === (if (partitioned) 2 else 1))
      agrees("compact", 27L)
      assert(table.log.df.drop("meta_plan").collect().toSet === rows)

      assert(table.forget(7L) === 27L)
      agrees("forget", 27L)
      assert(table.log.df.drop("meta_plan").collect().toSet ===
        rows.filter(_.getAs[Long]("foreignId") != 7L))

      // compact backfilled the projection, so a log with pre-column files
      // is needed to give evolve work
      val dir2 = tmpLog("graft-manifest-evolve")
      new EventsTable(spark, dir2, partitionByDate = partitioned).insert(events(4))
      val v1 = new EventsTable(spark, dir2, partitionByDate = partitioned, metaColumns = Seq(plan))
      v1.insert(events(4, "2024-01-02"))
      assert(v1.evolve() === 1)
      val m2 = Manifest.read(dir2).get
      assert(m2.files.map(_.path).toSet === listed(dir2), s"evolve, partitioned=$partitioned")
      assert(m2.head === 7L)
      assert(v1.log.df.filter(col("meta_plan").isNull).isEmpty)
    }
  }

  test("a log without a manifest reads by listing; its first insert writes one") {
    val dir = tmpLog("graft-manifest-legacy")
    val table = new EventsTable(spark, dir)
    spark.createDataFrame(events(5).rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(i +: r.toSeq :+ null)
    }, table.schema).coalesce(1).write.parquet(dir)
    // a marker from before the manifest: ids above it are uncommitted
    Files.writeString(Paths.get(dir, "_graft_head"), "3")
    assert(table.log.df.select("id").collect().map(_.getLong(0)).sorted.toSeq === (0L to 3L))
    assert(table.head === 3L)
    assert(Manifest.read(dir).isEmpty, "reads write no manifest")

    // adoption takes max(marker, max id) as the head
    assert(table.insert(events(2)) === 6L)
    val m = Manifest.read(dir).get
    assert(m.head === 6L)
    assert(m.files.map(_.path).toSet === listed(dir))
    assert(table.log.df.select("id").collect().map(_.getLong(0)).sorted.toSeq === (0L to 6L))
  }

  test("inserts beside compact and forget keep every commit, and the log stays readable") {
    val dir = tmpLog("graft-manifest-race")
    val table = new EventsTable(spark, dir)
    (0 until 4).foreach(_ => table.insert(events(5, fid = _ => 1L)))
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() =>
      try (0 until 8).foreach(i => table.insert(events(5, fid = _ => 100L + i)))
      catch { case e: Throwable => failure.set(e) })
    writer.start()
    try (0 until 3).foreach { _ => table.compact(targetBytes = 1L << 30); table.forget(1L) }
    finally writer.join(120000)
    assert(!writer.isAlive, "inserts did not finish")
    assert(failure.get() === null)
    // a rewrite's commit never drops a racing insert's files, and an
    // insert's commit never brings back the files a rewrite replaced
    val m = Manifest.read(dir).get
    assert(m.files.map(_.path).toSet === listed(dir))
    assert(m.head === 59L)
    assert(table.log.df.select("id").collect().map(_.getLong(0)).sorted.toSeq === (20L to 59L))
  }

  test("a reader never sees part of a multi-partition insert") {
    val dir = tmpLog("graft-manifest-atomic")
    val table = new EventsTable(spark, dir)
    val per = 40
    val done = new AtomicBoolean(false)
    val torn = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new AtomicInteger()
    val reader = new Thread(() => {
      while (!done.get()) {
        try {
          val ids = table.log.df.select("id").collect().map(_.getLong(0)).sorted.toSeq
          if (ids.size % per != 0 || ids != ids.indices.map(_.toLong)) torn.add(ids.mkString(","))
        } catch { case e: Exception => torn.add(e.toString) }
        reads.incrementAndGet()
      }
    })
    table.insert(events(per).repartition(4))
    reader.start()
    try (1 until 6).foreach(_ => table.insert(events(per).repartition(4)))
    finally { done.set(true); reader.join(60000) }
    assert(torn.isEmpty, torn.asScala.headOption.getOrElse(""))
    assert(reads.get() > 0)
    assert(listed(dir).size > 6, "the inserts wrote several files each")
    assert(table.head === 6L * per - 1)
  }
}
