package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact's pure pieces: the summary line's top-N queries
  * fill and the by-design row annotations.
  */
class BenchSpec extends AnyFunSuite {

  private val results = Map("slowest" -> 9.0, "a_rather_long_query_name" -> 5.0, "x" -> 1.0)
  private val slowest = "\"slowest\":9.0"
  private val long = "\"a_rather_long_query_name\":5.0"
  private val fast = "\"x\":1.0"

  test("summary fill is strictly top-N: it stops at the first row that does not fit") {
    // room for the slowest row and the short fast one, not the long middle one
    val budget = slowest.length + 1 + fast.length + 1
    assert(Bench.slowestThatFit(results, budget) === Seq(slowest))
    val all = slowest.length + long.length + fast.length + 3
    assert(Bench.slowestThatFit(results, all) === Seq(slowest, long, fast))
    assert(Bench.slowestThatFit(results, all - 1) === Seq(slowest, long))
    assert(Bench.slowestThatFit(results, slowest.length) === Seq.empty)
    assert(Bench.slowestThatFit(Map.empty, 100) === Seq.empty)
  }

  test("every by_design key is a SparkEntry.queries key, once") {
    val keys = Bench.byDesign.map(_._1)
    assert(keys.filterNot(SparkEntry.queries.contains) === Seq.empty)
    assert(keys.distinct === keys)
    val shared = Bench.byDesign.collect {
      case (k, v) if v.startsWith("shared_memoized_pair_frame:") => k
    }
    assert(shared.toSet ===
      Set("dd_winnow_pairs", "dd_containment", "dd_split_leakage", "dd_cluster_keep_best"))
  }
}
