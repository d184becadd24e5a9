package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The native-expression path must be indistinguishable from the raw
  * kernels for ANY input that can reach it — including non-ASCII (the
  * UTF8String→String round trip inside the generated code) and the
  * empty string — in BOTH evaluation modes: whole-stage codegen and
  * interpreted (the fallback Spark uses when codegen is disabled or a
  * stage fails to compile).
  */
class TextExpressionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val fixtures = Seq(
    "", " ", "a", "plain ascii words here",
    "café naïve soufflé déjà vu",          // latin-1 range
    "数据 管理 系统 大规模 训练",            // BMP CJK
    "emoji 🚀 in 🌍 text",                  // surrogate pairs
    "trailing space ", "  double  spaces", "tab\tand\nnewline")

  private def run(): Seq[(String, Long, Seq[String], Long, Long)] = {
    fixtures.toDF("t")
      .select(col("t"), expr("tok_hash(t)"), expr("shingle_set(t)"),
        expr("shingle_min(t)"), expr("simhash32(t)"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2),
        r.getLong(3), r.getLong(4)))
  }

  private def check(rows: Seq[(String, Long, Seq[String], Long, Long)]): Unit =
    rows.foreach { case (t, th, shs, sm, sh32) =>
      assert(th == TextHash.tokenHash(t), s"tok_hash('$t')")
      assert(shs == TextHash.shingleSet(t).toSeq, s"shingle_set('$t')")
      assert(sm == TextHash.shingleMin(t), s"shingle_min('$t')")
      assert(sh32 == TextHash.simhash32(t), s"simhash32('$t')")
    }

  test("expression results equal the raw kernels under codegen") {
    check(run())
  }

  test("expression results equal the raw kernels interpreted (codegen off)") {
    val key = "spark.sql.codegen.wholeStage"
    val prev = spark.conf.get(key)
    try { spark.conf.set(key, "false"); check(run()) }
    finally spark.conf.set(key, prev)
  }

  test("null in, null out — matching the oracle twins' CASE semantics") {
    val r = Seq(Option.empty[String]).toDF("t")
      .select(expr("tok_hash(t)"), expr("shingle_set(t)")).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }
}
