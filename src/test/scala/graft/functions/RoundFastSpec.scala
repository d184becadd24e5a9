package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** RoundFastD must be BIT-IDENTICAL to Spark's round() on DoubleType for
  * every input — it replaces round() inside hot pair-scoring paths whose
  * results are oracle-hashed, so even a single ULP of divergence on one
  * adversarial value is a correctness bug, not noise. Exercised through
  * DataFrames (codegen path) AND via direct eval (interpreted path).
  */
class RoundFastSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def adversarial: Seq[Double] = {
    val base = Seq(
      0.0, -0.0, 1.0, -1.0, 0.5, -0.5, 0.9999995, -0.9999995,
      0.49999949999, 0.4999995, 0.50000049999, 0.0000005, -0.0000005,
      0.0000004999999, 0.00000050000001, 1.0000005, -1.0000005,
      0.1234565, 0.12345650000000001, 0.1234575, -0.1234565,
      123.4567895, -123.4567895, 1e-7, -1e-7, 1e-9, 4.9e15, -4.9e15,
      5e9, 5.0000005e3, Double.MinPositiveValue, Double.MaxValue,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    // the exact representable neighborhoods of decimal ties
    val nearTies = (0 until 2000).flatMap { i =>
      val t = (i - 1000) * 1e-6 + 5e-7
      Seq(t, Math.nextUp(t), Math.nextDown(t), -t, Math.nextUp(-t),
        Math.nextDown(-t))
    }
    base ++ nearTies
  }

  private def sparkRound(xs: Seq[Double], s: Int): Seq[Double] = {
    import spark.implicits._
    xs.toDF("x").select(round(col("x"), s).as("r"))
      .collect().map(_.getDouble(0)).toSeq
  }

  private def fastRound(xs: Seq[Double], s: Int): Seq[Double] = {
    import spark.implicits._
    xs.toDF("x").selectExpr(s"round_f(x, $s) AS r")
      .collect().map(_.getDouble(0)).toSeq
  }

  private def cmp(xs: Seq[Double], s: Int): Unit = {
    val a = sparkRound(xs, s)
    val b = fastRound(xs, s)
    val p = math.pow(10.0, s)
    xs.indices.foreach { i =>
      assert(java.lang.Double.doubleToRawLongBits(a(i)) ==
        java.lang.Double.doubleToRawLongBits(b(i)) ||
        (a(i).isNaN && b(i).isNaN),
        s"mismatch at x=${xs(i)} scale=$s: spark=${a(i)} fast=${b(i)}")
      // interpreted path too
      val e = RoundFast.eval(xs(i), p)
      assert(java.lang.Double.doubleToRawLongBits(a(i)) ==
        java.lang.Double.doubleToRawLongBits(e) ||
        (a(i).isNaN && e.isNaN),
        s"interpreted mismatch at x=${xs(i)} scale=$s: spark=${a(i)} fast=$e")
    }
  }

  test("round_f equals Spark round on adversarial values (scales 4 and 6)") {
    cmp(adversarial, 6)
    cmp(adversarial, 4)
  }

  test("round_f equals Spark round on 200k random cosines and magnitudes") {
    val rnd = new scala.util.Random(20260819L)
    val xs = Seq.fill(100000)(rnd.nextDouble() * 2 - 1) ++
      Seq.fill(50000)(rnd.nextGaussian() * 1000) ++
      Seq.fill(50000)(java.lang.Double.longBitsToDouble(rnd.nextLong()))
        .filter(d => !d.isNaN && math.abs(d) < 1e18)
    cmp(xs, 6)
  }
}
