package graft.ann

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver-side replicas AnnOps uses to build bounded
  * probe-side frames (ann_ivf_pq's probe lists) to the SQL expressions
  * they replace: cosineSimLocal must be bit-identical to the codegen
  * cosine_sim, and round4Local to round(_, 4) on doubles — including
  * the HALF_UP boundary and the ±0.0 cases the PQ tiebreak can see.
  */
class CosineRound4ParitySpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  test("cosineSimLocal + round4Local match round(cosine_sim(a, b), 4) bitwise") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(7)
    def vec(dim: Int): Seq[Double] = Seq.fill(dim)(rnd.nextDouble() * 2 - 1)
    val pairs = (0 until 500).map { i =>
      val dim = if (i % 11 == 0) 8 else 64
      (vec(dim), vec(dim))
    } ++ Seq(
      (Seq(1.0, 0.0), Seq(0.0, 1.0)),   // exact 0 cosine
      (Seq(1.0, 1.0), Seq(1.0, 1.0)),   // exact 1
      (Seq(1.0, 0.0), Seq(-1.0, 1e-9)), // near −1
      (Seq(1e-300, 0.0), Seq(1e-300, 1e-320)), // denormal norms
      (Seq(0.0, 0.0), Seq(1.0, 2.0)))   // zero norm: 0/0 = NaN
    val df = pairs.toDF("a", "b")
    val got = df.select(
      round(call_function("cosine_sim", col("a"), col("b")), 4).as("expr"),
      col("a"), col("b")).collect()
    got.foreach { r =>
      val a = r.getSeq[Double](1); val b = r.getSeq[Double](2)
      val local = AnnOps.round4Local(AnnOps.cosineSimLocal(a, b))
      val e = r.getDouble(0)
      assert(java.lang.Double.doubleToLongBits(local) ===
        java.lang.Double.doubleToLongBits(e),
        s"mismatch: expr=$e local=$local a=$a b=$b")
    }
  }

  test("probeOrder sorts (cid, score) like SQL ORDER BY score DESC, cid ASC") {
    import spark.implicits._
    val rows = Seq((3L, 0.5), (1L, Double.NaN), (0L, 0.0), (2L, -0.0),
      (4L, 0.5), (5L, Double.NaN), (6L, -1.0), (7L, 1.0))
    val sql = rows.toDF("cid", "score").orderBy(col("score").desc, col("cid").asc)
      .collect().map(_.getLong(0)).toSeq
    assert(rows.sorted(AnnOps.probeOrder).map(_._1) === sql)
    assert(sql === Seq(1L, 5L, 7L, 3L, 4L, 0L, 2L, 6L))
  }

  test("round4Local matches round(_, 4) on HALF_UP boundaries and specials") {
    import spark.implicits._
    val vals = Seq(0.00005, -0.00005, 0.12345, -0.12345, 0.99995, -0.99995,
      1.0, -1.0, 0.0, -0.0, 1e-9, -1e-9, 0.5, 0.123449999, 4.9e-5,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val rows = vals.toDF("d").select(col("d"), round(col("d"), 4).as("r")).collect()
    rows.foreach { r =>
      val d = r.getDouble(0)
      val e = r.getDouble(1)
      val local = AnnOps.round4Local(d)
      assert(java.lang.Double.doubleToLongBits(local) ===
        java.lang.Double.doubleToLongBits(e), s"mismatch at $d: expr=$e local=$local")
    }
  }
}
