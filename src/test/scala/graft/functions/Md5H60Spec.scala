package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins the Md5H60 kernel bit-equal to the SQL chain it replaced in the
  * sketch family's h60 —
  * `conv(substring(md5(CAST(x AS STRING)), 1, 15), 16, 10)::long` —
  * on random and structured strings, in both codegen and interpreted
  * evaluation. The DuckDB oracles spell the same chain, so this equality
  * IS the oracle-portability proof for the kernel.
  */
class Md5H60Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def inputs: Seq[String] = {
    val rnd = new scala.util.Random(7)
    val structured = Seq(
      "", "0", "1:42", "3:999983", "rsv_1", "strat_500", "bj0_key",
      "a" * 200, "0:0", "müller:éé", "line\nbreak", "tab\tsep")
    val randoms = (1 to 2000).map(_ =>
      rnd.alphanumeric.take(rnd.nextInt(40) + 1).mkString)
    val numbers = (1 to 2000).map(_ => rnd.nextLong().toString)
    structured ++ randoms ++ numbers
  }

  private def compare(codegen: Boolean): Unit = {
    val mode = if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"
    spark.conf.set("spark.sql.codegen.factoryMode", mode)
    try {
      import spark.implicits._
      val df = inputs.toDF("x")
      val rows = df.select(
        conv(substring(md5(col("x").cast("string")), 1, 15), 16, 10)
          .cast("long").as("chain"),
        call_function("h60_f", col("x").cast("string")).as("kernel"))
        .collect()
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"chain=${r.getLong(0)} kernel=${r.getLong(1)}"))
    } finally spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("kernel equals the md5/substring/conv chain (codegen)") {
    compare(codegen = true)
  }

  test("kernel equals the md5/substring/conv chain (interpreted)") {
    compare(codegen = false)
  }

  test("static kernel matches on raw utf8 bytes") {
    inputs.foreach { s =>
      val hex = org.apache.commons.codec.digest.DigestUtils
        .md5Hex(s.getBytes("UTF-8")).substring(0, 15)
      val expected = java.lang.Long.parseLong(hex, 16)
      assert(TextHash.md5H60(s.getBytes("UTF-8")) == expected, s"input=$s")
    }
  }
}
