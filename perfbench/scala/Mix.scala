package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

/** analytics_mix: a fixed set of `SparkEntry.queries` keys, each run
  * once cold in a fresh session and then in warm passes, every run
  * fully materialized by writing its result as parquet for the checker
  * (so every timed run is also a checked run). Then a batch of document
  * clones is appended to the input directory and the memo-holding keys
  * are re-run in the same session; the checker compares those re-runs
  * with DuckDB over the appended files.
  */
object Mix {
  private def lines(path: String): Seq[String] =
    scala.io.Source.fromFile(path).getLines().map(_.trim).filter(_.nonEmpty).toSeq

  /** A fixed number of warm passes, so that every run attempts the same
    * operations whatever its speed; each key's warm time is its median
    * over them.
    */
  def warmPasses(seconds: Double): Int = math.max(2, math.round(seconds / 5).toInt)

  def run(ctx: Ctx): Unit = {
    import ctx._
    // the key lists are chosen in run.py, which also checks the results
    val keys = lines(s"$work/keys.txt")
    val restale = lines(s"$work/restale.txt")
    // set-up: a fresh session plus a private copy of the inputs; the
    // last copy is the one queried and appended to
    setUp((_, rep) => copyTree(Paths.get(s"$work/input"), Paths.get(s"$work/inputs/$rep")))
    val main = s"$work/inputs/${SetUps - 1}"
    val qs = graft.SparkEntry.queries
    checks("oracle") = graft.SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
    startTrace()

    // wall and CPU seconds of each key's cold run and of its warm runs,
    // successful ones only
    val cold, coldCpu = mutable.LinkedHashMap.empty[String, Double]
    val warm, warmCpu = mutable.LinkedHashMap(keys.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    // results written for the checker, as "<phase>/<key>" (warm: "warm/<pass>/<key>")
    val written = mutable.ArrayBuffer.empty[String]
    def save(df: DataFrame, phase: String, k: String): Unit = {
      df.write.mode("overwrite").parquet(s"$work/out/$phase/$k")
      written += s"$phase/$k"
    }
    val passes = 1 + warmPasses(seconds)
    (0 until passes).foreach { pass =>
      keys.foreach { k =>
        op(s"$k#$pass") {
          val s = System.nanoTime()
          val c = Ctx.cpuNs
          Trace.span("query", Map("key" -> k, "pass" -> pass)) {
            val df = Trace.span("build", Map("key" -> k)) { qs(k)(spark, main) }
            save(df, if (pass == 0) "cold" else s"warm/$pass", k)
          }
          val t = (System.nanoTime() - s) / 1e9
          val cpu = (Ctx.cpuNs - c) / 1e9
          if (pass == 0) { cold(k) = t; coldCpu(k) = cpu } else { warm(k) += t; warmCpu(k) += cpu }
        }
      }
    }
    // append clones to the documents directory, then re-run the memo holders
    Trace.span("stale.append") {
      Files.copy(Paths.get(s"$work/clones.parquet"),
        Paths.get(s"$main/documents.parquet/clones.parquet"))
    }
    restale.foreach { k =>
      op(s"stale:$k") {
        Trace.span("stale.rerun", Map("key" -> k)) { save(qs(k)(spark, main), "stale", k) }
      }
    }
    values("passes") = passes
    checks("cold_s") = cold
    checks("cold_cpu_s") = coldCpu
    checks("warm_s") = warm.map { case (k, v) => k -> v.toSeq }
    checks("warm_cpu_s") = warmCpu.map { case (k, v) => k -> v.toSeq }
    checks("written") = written.toSeq
    checks("keys") = keys
    checks("restale") = restale
  }

  private def copyTree(from: Path, to: Path): Unit = {
    Files.createDirectories(to.getParent)
    val paths = Files.walk(from)
    try paths.forEach(p => Files.copy(p, to.resolve(from.relativize(p))))
    finally paths.close()
  }
}
