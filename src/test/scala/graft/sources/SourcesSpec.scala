package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import graft.TestSpark
import graft.events.{Consumer, MemCursorStore, Runner, Spec}

class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("JsonBlobSource reads a directory of JSON blobs in key order as an event log") {
    val dir = Files.createTempDirectory("graft-blobs")
    // two blobs; keys sort lexicographically (reference streams in key order)
    Files.write(dir.resolve("blob-a.json"), Seq(
      """{"etype":"signup","uid":1,"at":"2024-01-01T00:00:00Z"}""",
      """{"etype":"click","uid":1,"at":"2024-01-01T00:01:00Z"}""").mkString("\n").getBytes)
    Files.write(dir.resolve("blob-b.json"), Seq(
      """{"etype":"purchase","uid":2,"at":"2024-01-01T00:02:00Z"}""").mkString("\n").getBytes)

    val log = JsonBlobSource.asEventLog(spark, dir.toString, "etype", "uid", "at")
    val rows = log.orderBy("id").collect()
    assert(rows.length === 3)
    // ids are (blob ordinal, offset) packed — monotone in (key, record)
    // order, NOT dense: blob-a gets (0,0) (0,1), blob-b gets (1,0)
    val ids = rows.map(_.getAs[Long]("id")).toSeq
    assert(ids === ids.sorted && ids.distinct === ids)
    assert(ids === Seq(0L, 1L, 1L << JsonBlobSource.OffsetBits))
    assert(rows.head.getAs[String]("eventType") === "signup")
    assert(rows.last.getAs[String]("eventType") === "purchase")
    assert(rows.last.getAs[String]("metadata").contains("blob-b"))

    // no single-partition exchange anywhere: the offset window is
    // partitioned by blob key, ordinals broadcast back
    val plan = log.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), plan)
    assert(plan.contains("hashpartitioning(blob_key"), plan)
  }

  test("JsonBlobSource reads scheme-qualified URIs through the hadoop-fs layer") {
    // the reference's rblob backends are go-cloud buckets (file/s3/gcs);
    // here the equivalent portability is Hadoop's FileSystem resolver:
    // a scheme-qualified file:// URI must read identically to a bare
    // path, which is the same code path an s3a:// URI would take on a
    // cluster with the S3 connector on the classpath. One blob is
    // .json.gz so the extension-driven codec chain is exercised too.
    val dir = Files.createTempDirectory("graft-blobs-uri")
    Files.write(dir.resolve("blob-a.json"),
      """{"etype":"signup","uid":1,"at":"2024-01-01T00:00:00Z"}""".getBytes)
    val gz = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(dir.resolve("blob-b.json.gz")))
    gz.write("""{"etype":"purchase","uid":2,"at":"2024-01-01T00:02:00Z"}""".getBytes)
    gz.close()

    val viaUri = JsonBlobSource.asEventLog(
      spark, dir.toUri.toString, "etype", "uid", "at")
    val viaPath = JsonBlobSource.asEventLog(
      spark, dir.toString, "etype", "uid", "at")
    assert(dir.toUri.toString.startsWith("file://"))
    val a = viaUri.select("id", "eventType", "foreignId").orderBy("id").collect().toSeq
    val b = viaPath.select("id", "eventType", "foreignId").orderBy("id").collect().toSeq
    assert(a === b)
    assert(a.map(_.getAs[String]("eventType")) === Seq("signup", "purchase"))
  }

  test("JsonBlobSource cursor resumes mid-blob (reference rblob (key, offset) semantics)") {
    val dir = Files.createTempDirectory("graft-blobs-resume")
    Files.write(dir.resolve("blob-a.json"), Seq(
      """{"etype":"e0","uid":1,"at":"2024-01-01T00:00:00Z"}""",
      """{"etype":"e1","uid":1,"at":"2024-01-01T00:01:00Z"}""",
      """{"etype":"e2","uid":1,"at":"2024-01-01T00:02:00Z"}""").mkString("\n").getBytes)
    Files.write(dir.resolve("blob-b.json"), Seq(
      """{"etype":"e3","uid":2,"at":"2024-01-01T00:03:00Z"}""",
      """{"etype":"e4","uid":2,"at":"2024-01-01T00:04:00Z"}""").mkString("\n").getBytes)

    val log = new graft.events.EventLog(
      JsonBlobSource.asEventLog(spark, dir.toString, "etype", "uid", "at"))
    // cursor = first record of blob-a → resume must deliver the REST of
    // blob-a (offsets 1,2) then all of blob-b
    val resumed = log.after(0L).collect()
    assert(resumed.map(_.getAs[String]("eventType")).toSeq === Seq("e1", "e2", "e3", "e4"))
    // decoded cursor components round-trip
    val decoded = log.after(0L)
      .select(JsonBlobSource.blobOrdinal(col("id")).as("ord"),
        JsonBlobSource.blobOffset(col("id")).as("off")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(decoded === Seq((0L, 1L), (0L, 2L), (1L, 0L), (1L, 1L)))
    // a consumer drains from the mid-blob cursor and commits the head
    val store = new MemCursorStore(Map("blob-consumer" -> 0L))
    val res = Runner.runToHead(Spec(log, store, Consumer("blob-consumer", _ => ())))
    assert(res.consumed === 4L)
    assert(store.get("blob-consumer") === Some((1L << JsonBlobSource.OffsetBits) + 1L))
  }

  test("reference-format blobs: gzip + bucket prefixes + concatenated JSON, mid-blob resume") {
    // mirrors rblob/blob_test.go: date-prefixed keys (2019/12/31/...),
    // blobs of CONCATENATED json values (no newline framing), one
    // empty blob that must be skipped, resume from a mid-blob cursor
    val dir = Files.createTempDirectory("graft-rblob")
    val d1 = Files.createDirectories(dir.resolve("2019").resolve("12").resolve("31"))
    val d2 = Files.createDirectories(dir.resolve("2020").resolve("01").resolve("01"))
    def rec(i: Int) = s"""{"etype":"e$i","uid":$i,"at":"2024-01-01T00:00:0${i % 10}Z"}"""
    def gz(p: java.nio.file.Path, s: String): Unit = {
      val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(p))
      out.write(s.getBytes("UTF-8")); out.close()
    }
    gz(d1.resolve("Test-2019-1to3.json.gz"), rec(1) + rec(2) + rec(3))
    Files.write(d1.resolve("Test-2019-empty.json"), Array.emptyByteArray)
    Files.write(d2.resolve("Test-2020-4to6.json"), (rec(4) + rec(5) + rec(6)).getBytes("UTF-8"))

    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("etype", StringType),
      StructField("uid", LongType), StructField("at", StringType)))
    val log = JsonBlobSource.asEventLogConcat(
      spark, dir.toString, schema, "etype", "uid", "at")
    val rows = log.orderBy("id").collect()
    // all 6 records, gzip decoded, key order across prefixes, decode
    // order within a blob. Ordinal basis (r14): ids are a pure
    // function of the directory LISTING — the record-less empty blob
    // consumes ordinal 1 (its key sorts between the two data blobs)
    // without producing events, exactly as the reference's bucket
    // iterator walks every listed key and an empty blob yields zero
    // decodes
    assert(rows.map(_.getAs[String]("eventType")).toSeq ===
      (1 to 6).map(i => s"e$i"))
    val decoded = rows.map { r =>
      val id = r.getAs[Long]("id")
      (id >> JsonBlobSource.OffsetBits, id & ((1L << JsonBlobSource.OffsetBits) - 1))
    }.toSeq
    assert(decoded === Seq((0L, 0L), (0L, 1L), (0L, 2L), (2L, 0L), (2L, 1L), (2L, 2L)))

    // mid-blob resume — the reference's "all after mid jan 1" case
    // (cursor 2020/01/01/...|0): only the REST of that blob arrives
    val midCursor = (2L << JsonBlobSource.OffsetBits) | 0L
    val resumed = new graft.events.EventLog(log).after(midCursor).collect()
    assert(resumed.map(_.getAs[String]("eventType")).toSeq === Seq("e5", "e6"))
    // eof resume — reference "all after 2019 ... |eof": all of 2020
    val eofCursor = (0L << JsonBlobSource.OffsetBits) | 2L
    val afterEof = new graft.events.EventLog(log).after(eofCursor)
      .collect().map(_.getAs[String]("eventType")).toSeq
    assert(afterEof === Seq("e4", "e5", "e6"))
    // a consumer drains from the mid-blob cursor and commits the head
    val store = new MemCursorStore(Map("rblob" -> midCursor))
    val res = Runner.runToHead(Spec(new graft.events.EventLog(log), store,
      Consumer("rblob", _ => ())))
    assert(res.consumed === 2L)
    assert(store.get("rblob") === Some((2L << JsonBlobSource.OffsetBits) | 2L))
  }

  test("storage seam: gzip + concat + mid-blob resume through file:// and a registered non-default FS") {
    // the reference's rblob takes any go-cloud bucket (file/s3/gcs/mem,
    // rblob/blob.go:69 + s3_test.go); the Spark seam is Hadoop's
    // FileSystem resolver. Run the reference-format suite (gzipped
    // concatenated-JSON blobs under date prefixes, mid-blob cursor)
    // through (a) a file:// URI and (b) graftfs://, a RawLocalFileSystem
    // subclass registered under its own scheme — the exact registration
    // shape an s3a:// connector uses on a cluster.
    val dir = Files.createTempDirectory("graft-rblob-fs")
    val d1 = Files.createDirectories(dir.resolve("2019").resolve("12").resolve("31"))
    val d2 = Files.createDirectories(dir.resolve("2020").resolve("01").resolve("01"))
    def rec(i: Int) = s"""{"etype":"e$i","uid":$i,"at":"2024-01-01T00:00:0${i % 10}Z"}"""
    val out = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(d1.resolve("Test-2019.json.gz")))
    out.write((rec(1) + rec(2) + rec(3)).getBytes("UTF-8")); out.close()
    Files.write(d2.resolve("Test-2020.json"), (rec(4) + rec(5)).getBytes("UTF-8"))

    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("etype", StringType),
      StructField("uid", LongType), StructField("at", StringType)))
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val midCursor = 1L << JsonBlobSource.OffsetBits // (blob 2, off 0) consumed → e4 seen
    def run(uri: String): (Seq[String], Seq[String]) = {
      val log = JsonBlobSource.asEventLogConcat(spark, uri, schema, "etype", "uid", "at")
      val all = log.orderBy("id").collect().map(_.getAs[String]("eventType")).toSeq
      val resumed = new graft.events.EventLog(log).after(midCursor)
        .collect().map(_.getAs[String]("eventType")).toSeq
      (all, resumed)
    }
    val fileUri = dir.toUri.toString
    assert(fileUri.startsWith("file://"))
    val graftUri = "graftfs://" + dir.toString
    for (uri <- Seq(fileUri, graftUri)) {
      val (all, resumed) = run(uri)
      assert(all === (1 to 5).map(i => s"e$i"), s"full read via $uri")
      assert(resumed === Seq("e5"), s"mid-blob resume via $uri")
    }
    // and the blob keys really came through the non-default scheme
    val keys = JsonBlobSource.readConcat(spark, graftUri)
      .select("blob_key").distinct().collect().map(_.getString(0))
    assert(keys.nonEmpty && keys.forall(_.startsWith("graftfs://")), keys.mkString(","))
  }

  test("splitConcatJson handles nesting, strings with braces, and escapes") {
    val vals = JsonBlobSource.splitConcatJson(
      """{"a":"x{y}z","n":{"b":[1,2]}}[1,{"c":"\"}"}]{"d":"\\"}""")
    assert(vals === Seq("""{"a":"x{y}z","n":{"b":[1,2]}}""",
      """[1,{"c":"\"}"}]""", """{"d":"\\"}"""))
  }

  test("forget removes an entity's events, keeps ids monotone with gaps") {
    val dir = Files.createTempDirectory("graft-forget").resolve("log").toString
    val table = new EventsTable(spark, dir)
    import spark.implicits._
    val batch = (0 until 30).map { i =>
      ("click", (i % 3).toLong, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00"), 1.0, "{}")
    }.toDF("eventType", "foreignId", "ts", "value", "metadata")
    table.insert(batch)
    assert(table.head === 29L)

    table.forget(1L)
    val remaining = table.log.df
    assert(remaining.filter(col("foreignId") === 1L).isEmpty)
    assert(remaining.count() === 20L)
    // surviving ids are unchanged (gaps where user 1's events were)
    val ids = remaining.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (0 until 30).filter(_ % 3 != 1).map(_.toLong))
    // the gap detector sees exactly those holes
    val gaps = graft.events.Patterns.gaps(remaining).count()
    assert(gaps > 0)
    // a consumer replays the compacted log cleanly
    val store = new MemCursorStore()
    val res = Runner.runToHead(graft.events.Spec(table.log, store,
      Consumer("post-forget", _ => ())))
    assert(res.finalCursor === 29L)
  }

  test("forget of the newest entity keeps the head: ids are never reused") {
    import spark.implicits._
    def events(fids: Long*) = fids.map(f =>
      ("click", f, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0, "{}"))
      .toDF("eventType", "foreignId", "ts", "value", "metadata")
    for (partitioned <- Seq(false, true)) {
      val dir = Files.createTempDirectory("graft-forget-head").resolve("log").toString
      val table = new EventsTable(spark, dir, partitionByDate = partitioned)
      table.insert(events(1L, 2L, 3L)) // ids 0..2
      val store = new MemCursorStore()
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      def drain(): Unit = {
        Runner.runToHead(graft.events.Spec(table.log, store, Consumer("at-head",
          b => seen ++= b.select("foreignId").collect().map(_.getLong(0)))))
        ()
      }
      drain()
      assert(store.get("at-head") === Some(2L))
      assert(table.forget(3L) === 2L, s"partitioned=$partitioned")
      assert(table.insert(events(4L)) === 3L)
      drain() // the consumer at the old head receives the new event
      assert(seen.sorted.toSeq === Seq(1L, 2L, 3L, 4L), s"partitioned=$partitioned")
      assert(store.get("at-head") === Some(3L))
    }
  }

  test("WithEventLookupLimit: poll returns at most `limit` lowest-id events per lookup") {
    val dir = Files.createTempDirectory("graft-lookuplim").resolve("log").toString
    // reference eventstable_test.go:492 uses limit 10 on a larger log
    val table = new EventsTable(spark, dir, lookupLimit = 10)
    import spark.implicits._
    val batch = (0 until 35).map { i =>
      ("click", i.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00"), 1.0, "{}")
    }.toDF("eventType", "foreignId", "ts", "value", "metadata")
    table.insert(batch)
    val log = table.log
    // first poll: the 10 LOWEST ids after the cursor, in id order
    val p1 = log.poll(-1L).collect().map(_.getAs[Long]("id")).toSeq
    assert(p1 === (0L to 9L))
    // a consumer loop advances poll by poll to the head
    var cursor = -1L
    var polls = 0
    var seen = 0L
    while (cursor < table.head) {
      val rows = log.poll(cursor).collect()
      assert(rows.length <= 10)
      seen += rows.length
      cursor = rows.map(_.getAs[Long]("id")).max
      polls += 1
    }
    assert(seen === 35L && polls === 4) // 10+10+10+5
    // the bound survives filter composition
    val filtered = log.where(graft.events.EventFilter.ofType("click"))
    assert(filtered.poll(-1L).count() === 10L)
    // default tables poll 1000-row slices (the reference default,
    // rsql/options.go); Runner's batchSize is the runner-side bound,
    // this option is the loader-side one
    val dflt = new EventsTable(spark, dir)
    assert(dflt.log.lookupLimit === 1000)
    assert(dflt.log.poll(-1L).count() === 35L)
  }

  test("metaColumns materialize typed JSON projections at write; reads skip the parse") {
    val dir = Files.createTempDirectory("graft-typedmeta").resolve("log").toString
    val table = new EventsTable(spark, dir, metaColumns = Seq(
      MetaColumn("meta_k", "$.k", org.apache.spark.sql.types.IntegerType),
      MetaColumn("meta_tag", "$.tag", org.apache.spark.sql.types.StringType)))
    import spark.implicits._
    val batch = Seq(
      ("click", 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0, """{"k": 7, "tag": "a"}"""),
      ("click", 2L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 2.0, """{"k": 40}"""),
      ("error", 3L, java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), 3.0, "not json"))
      .toDF("eventType", "foreignId", "ts", "value", "metadata")
    table.insert(batch)

    val df = table.log.df.orderBy("id")
    // typed columns come straight off parquet — no json function in the plan
    val filtered = df.filter(col("meta_k") === 40)
    assert(!filtered.queryExecution.executedPlan.toString.contains("get_json_object"))
    assert(filtered.select("foreignId").collect().map(_.getLong(0)).toSeq === Seq(2L))
    val rows = df.select("meta_k", "meta_tag").collect()
    assert(rows.map(r => Option(r.get(0))).toSeq === Seq(Some(7), Some(40), None))
    assert(rows.map(r => Option(r.get(1))).toSeq === Seq(Some("a"), None, None))
    // raw metadata is still stored untouched for the fallback path
    assert(df.select("metadata").collect().map(_.getString(0)).last === "not json")
  }

  test("forget on a date-partitioned log rewrites only the touched date partitions") {
    val dir = Files.createTempDirectory("graft-forget-part").resolve("log").toString
    val table = new EventsTable(spark, dir, partitionByDate = true)
    import spark.implicits._
    // 3 days of events; user 7 appears ONLY on day 2
    val batch = (0 until 30).map { i =>
      val day = i / 10 + 1
      val fid = if (day == 2 && i % 10 == 3) 7L else (i % 5).toLong
      ("click", fid, java.sql.Timestamp.valueOf(f"2024-01-0$day%d 00:${i % 60}%02d:00"), 1.0, "{}")
    }.toDF("eventType", "foreignId", "ts", "value", "metadata")
    table.insert(batch)

    def partFiles(name: String): Set[(String, Long)] = {
      val d = new java.io.File(dir, name)
      d.listFiles().map(f => (f.getName, f.length())).toSet
    }
    val before = Seq("date=2024-01-01", "date=2024-01-02", "date=2024-01-03")
      .map(p => p -> partFiles(p)).toMap

    table.forget(7L)
    assert(table.log.df.filter(col("foreignId") === 7L).isEmpty)
    assert(table.log.df.count() === 29L)
    // days 1 and 3 were never read or rewritten — identical file sets
    assert(partFiles("date=2024-01-01") === before("date=2024-01-01"))
    assert(partFiles("date=2024-01-03") === before("date=2024-01-03"))
    assert(partFiles("date=2024-01-02") !== before("date=2024-01-02"))
  }

  test("date-partitioned EventsTable prunes partitions on date filters") {
    val dir = Files.createTempDirectory("graft-etable-part").resolve("log").toString
    val table = new EventsTable(spark, dir, partitionByDate = true)
    import spark.implicits._
    val batch = (0 until 48).map { h =>
      ("click", (h % 5).toLong,
        java.sql.Timestamp.valueOf(f"2024-01-${h / 24 + 1}%02d ${h % 24}%02d:00:00"), 1.0, "{}")
    }.toDF("eventType", "foreignId", "ts", "value", "metadata")
    table.insert(batch)
    assert(table.head === 47L)
    // two date partitions on disk
    val parts = new java.io.File(dir).listFiles().filter(_.getName.startsWith("date=")).map(_.getName).sorted
    assert(parts.toSeq === Seq("date=2024-01-01", "date=2024-01-02"))
    // a date filter becomes a PartitionFilter, not a data filter
    val plan = table.raw.filter(col("date") === "2024-01-02")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("2024-01-02"))
    assert(table.raw.filter(col("date") === "2024-01-02").count() === 24L)
  }

  test("dynamic partition pruning: a dim-side filter prunes log partitions at runtime") {
    val base = Files.createTempDirectory("graft-dpp")
    val dir = base.resolve("log").toString
    val table = new EventsTable(spark, dir, partitionByDate = true)
    import spark.implicits._
    val batch = (0 until 48).map { h =>
      ("click", (h % 5).toLong,
        java.sql.Timestamp.valueOf(f"2024-01-${h / 24 + 1}%02d ${h % 24}%02d:00:00"), 1.0, "{}")
    }.toDF("eventType", "foreignId", "ts", "value", "metadata")
    table.insert(batch)
    // dim side must be a real scan (not a LocalRelation) for the
    // optimizer to plant a DPP subquery on the partitioned fact scan
    val dimPath = base.resolve("dim").toString
    Seq(("2024-01-01", "stale"), ("2024-01-02", "active"))
      .toDF("date", "status").write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("status") === "active")
    val joined = table.raw.join(dim, Seq("date"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruning expression on the fact scan:\n$plan")
    assert(joined.count() === 24L)
  }

  test("live tail: a running stream consumes EventsTable appends as they land") {
    val dir = Files.createTempDirectory("graft-live").resolve("log").toString
    val ckpt = Files.createTempDirectory("graft-live-ckpt").toString
    val table = new EventsTable(spark, dir)
    import spark.implicits._
    def batch(ids: Range) = ids.map { i =>
      ("click", (i % 3).toLong, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i % 60}%02d:00"), 1.0, "{}")
    }.toDF("eventType", "foreignId", "ts", "value", "metadata")

    table.insert(batch(0 until 10))
    val store = new MemCursorStore()
    // at-least-once: a batch MAY be redelivered — assert on the
    // distinct-id set and the committed cursor, not on row counts
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val spec = Spec(null, store, Consumer("live", b =>
      b.select("id").collect().foreach(r => seen.add(r.getLong(0)))))
    val q = Runner.runStream(spark, dir, spec, ckpt, availableNow = false)
    try {
      q.processAllAvailable()
      assert(seen.size === 10)
      assert(store.get("live") === Some(9L))
      // producer appends while the consumer is live
      table.insert(batch(0 until 5))
      q.processAllAvailable()
      assert(seen.size === 15)
      assert(store.get("live") === Some(14L))
    } finally q.stop()
  }

  test("Event.Trace round-trips through EventsTable; absent trace reads null") {
    val dir = Files.createTempDirectory("graft-trace").resolve("log").toString
    val table = new EventsTable(spark, dir)
    import spark.implicits._
    // producer attaches a trace payload (api.go Trace []byte)
    val traced = Seq(
      ("signup", 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0, "{}",
        "trace-ctx-0".getBytes("UTF-8")))
      .toDF("eventType", "foreignId", "ts", "value", "metadata", "trace")
    table.insert(traced)
    // another producer attaches none
    val plain = Seq(
      ("click", 2L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 2.0, "{}"))
      .toDF("eventType", "foreignId", "ts", "value", "metadata")
    table.insert(plain)

    val events = graft.events.Event.dataset(table.log.df).collect().sortBy(_.id)
    assert(new String(events(0).trace, "UTF-8") === "trace-ctx-0")
    assert(events(1).trace === null)
  }

  test("custom physical field names (rsql WithEvent*Field): storage renamed, API canonical") {
    val dir = Files.createTempDirectory("graft-etable-fields").resolve("log").toString
    // reference-style schema customization: the SQL table calls them
    // event_seq / kind / entity_id / created_at
    val table = new EventsTable(spark, dir, fieldMap = Map(
      "id" -> "event_seq", "eventType" -> "kind",
      "foreignId" -> "entity_id", "ts" -> "created_at"))
    import spark.implicits._
    table.insert(Seq(
      ("signup", 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0, "{}"),
      ("click", 2L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 2.0, "{}"))
      .toDF("eventType", "foreignId", "ts", "value", "metadata"))

    // on disk: physical names only
    val physCols = spark.read.parquet(dir).columns.toSet
    assert(physCols.contains("event_seq") && physCols.contains("kind") &&
      physCols.contains("entity_id") && physCols.contains("created_at"))
    assert(!physCols.contains("id") && !physCols.contains("eventType"))
    // through the API: canonical names, same consumer loop as ever
    val store = new MemCursorStore()
    var seen = 0L
    Runner.runToHead(Spec(table.log, store,
      Consumer("fields-consumer", b => { seen += b.count(); () })))
    assert(seen === 2L)
    assert(store.get("fields-consumer") === Some(1L))
    // compaction round-trips the rename (write path physicalizes)
    table.forget(1L)
    assert(table.log.df.count() === 1L)
    assert(table.log.df.select("eventType").collect()(0).getString(0) === "click")
    assert(spark.read.parquet(dir).columns.toSet.contains("event_seq"))
  }

  test("fieldMap rejects colliding physical names at construction") {
    val dir = Files.createTempDirectory("graft-etable-badmap").resolve("log").toString
    // duplicate physical name
    intercept[IllegalArgumentException] {
      new EventsTable(spark, dir, fieldMap = Map("id" -> "x", "eventType" -> "x"))
    }
    // physical name shadows another canonical column
    intercept[IllegalArgumentException] {
      new EventsTable(spark, dir, fieldMap = Map("eventType" -> "metadata"))
    }
    // physical name collides with the date partition column
    intercept[IllegalArgumentException] {
      new EventsTable(spark, dir, partitionByDate = true, fieldMap = Map("ts" -> "date"))
    }
    // identity mapping is a harmless no-op
    new EventsTable(spark, dir, fieldMap = Map("id" -> "id"))
  }

  test("EventsTable assigns monotone ids across appends and feeds the consumer loop") {
    val dir = Files.createTempDirectory("graft-etable").resolve("log").toString
    val table = new EventsTable(spark, dir)
    assert(table.head === -1L)

    import spark.implicits._
    val batch1 = Seq(
      ("signup", 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0, "{}"),
      ("click", 1L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 2.0, "{}"))
      .toDF("eventType", "foreignId", "ts", "value", "metadata")
    assert(table.insert(batch1) === 1L)

    val batch2 = Seq(
      ("purchase", 2L, java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), 9.0, "{}"))
      .toDF("eventType", "foreignId", "ts", "value", "metadata")
    assert(table.insert(batch2) === 2L)

    // ids are the insertion order, gap-free
    val ids = table.log.after(-1L).select("id").collect().map(_.getLong(0))
    assert(ids.toSeq === Seq(0L, 1L, 2L))

    // a reflex-style consumer drains the table
    val store = new MemCursorStore()
    var seen = 0L
    Runner.runToHead(Spec(table.log, store,
      Consumer("etable-consumer", b => { seen += b.count(); () })))
    assert(seen === 3L)
    assert(store.get("etable-consumer") === Some(2L))
  }

  test("EventsTableStr: string foreign ids parse on insert, read back as strings, reject junk") {
    val dir = Files.createTempDirectory("graft-etstr").resolve("log").toString
    val table = new EventsTableStr(new EventsTable(spark, dir))

    import spark.implicits._
    val ok = Seq(
      ("signup", "41", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0, "{}"),
      ("click", "-7", java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 2.0, "{}"))
      .toDF("eventType", "foreignId", "ts", "value", "metadata")
    assert(table.insert(ok) === 1L)

    // physical storage is int64; the typed surface reads strings back
    assert(table.inner.log.df.schema("foreignId").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(table.log.orderBy("id").select("foreignId").collect().map(_.getString(0)).toSeq
      === Seq("41", "-7"))

    // ParseInt failure semantics: the batch fails, nothing is appended
    val bad = Seq(
      ("signup", "user-9", java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), 3.0, "{}"))
      .toDF("eventType", "foreignId", "ts", "value", "metadata")
    intercept[IllegalArgumentException](table.insert(bad))
    assert(table.head === 1L)

    // strict shape: '3.7' would survive Spark's lenient string→long
    // cast (truncating to 3); ParseInt rejects it, so must we
    val decimal = Seq(
      ("signup", "3.7", java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), 4.0, "{}"))
      .toDF("eventType", "foreignId", "ts", "value", "metadata")
    intercept[IllegalArgumentException](table.insert(decimal))

    // int64 overflow also fails the batch (ParseInt range error)
    val overflow = Seq(
      ("signup", "99999999999999999999", java.sql.Timestamp.valueOf("2024-01-01 00:04:00"), 5.0, "{}"))
      .toDF("eventType", "foreignId", "ts", "value", "metadata")
    intercept[IllegalArgumentException](table.insert(overflow))
    assert(table.head === 1L)
  }

  test("rblob WithBackoff: per-source poll delay is FIXED, not a ladder, and resets nothing") {
    // rblob/blob.go:32 — the bucket re-list delay is a constant
    // duration (default one minute). The source's poll seam must park
    // exactly backoffMs between idle polls: no doubling (that's the
    // rpatterns ladder, a different knob), custom value observed.
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val consumedAt = Iterator(0L, 0L, 5L, 0L)
    val stats = JsonBlobSource.poll(
      backoffMs = 250L,
      stop = st => st.polls >= 4,
      sleep = ms => sleeps += ms)(() => consumedAt.next())
    assert(stats.polls === 4 && stats.consumed === 5L && stats.idlePolls === 3)
    // parked after polls 1, 2 (idle) and NOT after poll 3 (productive);
    // every park is exactly the configured fixed delay
    assert(sleeps.toSeq === Seq(250L, 250L))

    // CsvBlobSource shares the wiring
    val sleeps2 = scala.collection.mutable.ArrayBuffer.empty[Long]
    CsvBlobSource.poll(backoffMs = 40L, stop = _.polls >= 3,
      sleep = ms => sleeps2 += ms)(() => 0L)
    assert(sleeps2.toSeq === Seq(40L, 40L))
  }
}
