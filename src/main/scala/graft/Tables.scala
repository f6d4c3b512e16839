package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog of the test tables under a scale-factor directory.
  *
  * Every reader is a plain parquet scan — column pruning and filter
  * pushdown happen in Catalyst, so callers `select`/`filter` freely
  * and only the needed columns/row groups are read.
  */
object Tables {
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The table's files, freshly listed, as a column-less frame — no
    * schema inference job: a cheap SessionCache input. */
  def listing(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(new org.apache.spark.sql.types.StructType()).parquet(s"$dir/$name.parquet")

  /** A parquet file written as a single (or few) row groups caps scan
    * parallelism at its row-group count — this generator writes
    * single-row-group files for documents/events/embeddings, so any
    * heavy per-row stage downstream (tokenize kernels, JSON parsing,
    * vector math) would run on that many cores no matter the session
    * size. When the planned scan has fewer partitions than the
    * session's parallelism, redistribute once after the scan; filters
    * still push through the Repartition to the scan (verified in the
    * plan audit), and at real scale — thousands of row groups — the
    * condition is false and this is the bare scan.
    *
    * Applied to documents and embeddings only: their consumers run
    * expensive per-row kernels (tokenize/signatures/vector math)
    * where the one-time shuffle pays for itself 3–6× (measured at
    * sf1); events consumers are scan-light aggregations where the
    * same shuffle measured as pure overhead (ev_gaps 0.6→1.6 s), so
    * the event log reads bare and relies on its natural row-group
    * parallelism at scale.
    */
  def scaled(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  def region(s: SparkSession, d: String): DataFrame    = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = read(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = read(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = scaled(read(s, d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame = scaled(read(s, d, "embeddings"))

  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
}
