package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class VectorExpressionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def df(rows: Seq[(Array[Float], Array[Float])]) = {
    val schema = StructType(Seq(
      StructField("a", ArrayType(FloatType)),
      StructField("b", ArrayType(FloatType))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2))), schema)
  }

  test("dot_f computes the double-accumulated dot product") {
    val out = df(Seq((Array(1f, 2f, 3f), Array(4f, 5f, 6f))))
      .select(expr("dot_f(a, b)")).head.getDouble(0)
    assert(out == 1.0 * 4 + 2.0 * 5 + 3.0 * 6)
  }

  test("dot_f truncates to the shorter array; empty arrays give 0") {
    val out = df(Seq((Array(1f, 2f, 3f), Array(10f)), (Array[Float](), Array[Float]())))
      .select(expr("dot_f(a, b)")).collect().map(_.getDouble(0)).toSeq
    assert(out == Seq(10.0, 0.0))
  }

  test("dot_f / norm_f are null-safe") {
    val schema = StructType(Seq(StructField("a", ArrayType(FloatType))))
    val d = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(null))), schema)
    val r = d.select(expr("dot_f(a, a)"), expr("norm_f(a)")).head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("norm_f(v) equals sqrt(dot_f(v, v)) and matches hand computation") {
    val r = df(Seq((Array(3f, 4f), Array(3f, 4f))))
      .select(expr("norm_f(a)"), expr("dot_f(a, b)")).head
    assert(r.getDouble(0) == 5.0)
    assert(r.getDouble(0) == math.sqrt(r.getDouble(1)))
  }

  test("codegen and interpreted paths agree") {
    val rows = Seq(
      (Array(0.1f, -0.5f, 2.25f, 7.5f), Array(1.5f, 0.25f, -3.5f, 0f)),
      (Array.tabulate(64)(i => (i * 0.37f) - 8f), Array.tabulate(64)(i => 1f / (i + 1))))
    val base = df(rows)
    val on = base.select(expr("dot_f(a,b)"), expr("norm_f(a)")).collect()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val off = base.select(expr("dot_f(a,b)"), expr("norm_f(a)")).collect()
      assert(on.map(r => (r.getDouble(0), r.getDouble(1))).toSeq ==
        off.map(r => (r.getDouble(0), r.getDouble(1))).toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("srp_buckets equals the per-band HOF formulation on real " +
    "embeddings, in both codegen and interpreted paths") {
    import org.apache.spark.sql.functions.{col, expr}
    val emb = graft.Tables.embeddings(spark, graft.TestSpark.Sf0001)
      .select(col("vec_id"), col("embedding"))
    // reference formulation: the documented per-(band, plane) HOF folds
    val hof = emb.select(col("vec_id") +:
        (0 until graft.queries.Dedup.EmbBands).map { b =>
          graft.queries.SimilaritySearch.bandBucket(col("embedding"), b)
            .as(s"b$b")
        }: _*)
      .collect()
      .map(r => r.getLong(0) ->
        (1 to graft.queries.Dedup.EmbBands).map(r.getLong(_)).toSeq).toMap
    def fused(): Map[Long, Seq[Long]] =
      emb.select(col("vec_id"), expr("srp_buckets(embedding)").as("bks"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(fused() == hof)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(fused() == hof)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}
