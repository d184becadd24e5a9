package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._
import graft.functions.VectorExpressions.{SrpBands, SrpPlanes}

class GraftExtensionsSpec extends AnyFunSuite {

  private val vf = Literal.create(Seq(0.5f, -1.25f, 2f, 3f), ArrayType(FloatType))
  private val wf = Literal.create(Seq(1.5f, 0.25f, -3.5f, 0f), ArrayType(FloatType))
  private val vd = Literal.create(Seq(0.5, -1.25, 2.0), ArrayType(DoubleType))
  private val wd = Literal.create(Seq(1.5, 0.25, -3.5), ArrayType(DoubleType))
  private val pool = Literal.create(
    Seq(Row(1L, 10L, 0.9, Seq(1f, 0f), 1.0), Row(2L, 11L, 0.1, Seq(0.6f, 0.8f), 1.0)),
    ArrayType(new StructType().add("rk0", LongType).add("dst", LongType)
      .add("cos", DoubleType).add("de", ArrayType(FloatType))
      .add("dn", DoubleType)))
  private val text = Literal("the quick brown fox jumps over the lazy dog")

  private val vfSql = "array(0.5F, -1.25F, 2F, 3F)"
  private val wfSql = "array(1.5F, 0.25F, -3.5F, 0F)"
  private val vdSql = "array(0.5D, -1.25D, 2D)"
  private val wdSql = "array(1.5D, 0.25D, -3.5D)"
  private val poolSql =
    "array(named_struct('rk0', 1L, 'dst', 10L, 'cos', 0.9D, 'de', array(1F, 0F), 'dn', 1D), " +
      "named_struct('rk0', 2L, 'dst', 11L, 'cos', 0.1D, 'de', array(0.6F, 0.8F), 'dn', 1D))"
  private val textSql = s"'${text.value}'"

  /** Every catalog kernel: its SQL call, and the same call on the Scala
    * kernel (the expression's interpreted eval over literal inputs).
    */
  private val kernels: Seq[(String, String, Expression)] = Seq(
    ("dot_f", s"dot_f($vfSql, $wfSql)", DotProductF(vf, wf)),
    ("norm_f", s"norm_f($vfSql)", NormF(vf)),
    ("srp_buckets", s"srp_buckets($vfSql)", SrpBucketsF(vf, SrpBands, SrpPlanes)),
    ("srp_buckets_p", s"srp_buckets_p($vfSql, 5)", SrpBucketsF(vf, SrpBands, 5)),
    ("dot_d", s"dot_d($vdSql, $wdSql)", DotD(vd, wd)),
    ("sqdist_d", s"sqdist_d($vdSql, $wdSql)", SqDistD(vd, wd)),
    ("sub_scale_d", s"sub_scale_d($vdSql, $wdSql, 0.5D)", SubScaleD(vd, wd, Literal(0.5))),
    ("occ_max_d", s"occ_max_d($poolSql)", OccMaxD(pool)),
    ("round_f", "round_f(2.0004999D, 3)", RoundFastD(Literal(2.0004999), 3)),
    ("tok_hash", s"tok_hash($textSql)", TokHash(text)),
    ("shingle_min", s"shingle_min($textSql)", ShingleMin(text)),
    ("simhash32", s"simhash32($textSql)", SimHash32(text)),
    ("shingle_set", s"shingle_set($textSql)", ShingleSet(text)),
    ("h60_f", s"h60_f($textSql)", Md5H60(text)))

  /** Evaluate every kernel's SQL call as a projection of `df` (one row)
    * and compare each with its Scala kernel's value.
    */
  private def assertKernels(df: DataFrame, where: String): Unit = {
    val row = df.selectExpr(kernels.map(_._2): _*).head()
    kernels.zipWithIndex.foreach { case ((name, _, kernel), i) =>
      val want = CatalystTypeConverters.convertToScala(kernel.eval(), kernel.dataType)
      assert(row.get(i) == want, s"$name on $where")
    }
  }

  /** Run `body` on a NEW session (same SparkContext) from `build`: the
    * shared one is cleared first, or getOrCreate would return it.
    */
  private def withNewSession(build: => SparkSession)(body: SparkSession => Unit): Unit = {
    val base = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = build
      assert(s ne base)
      body(s)
    } finally {
      // do NOT stop s — it shares base's SparkContext
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  private def withFreshSession(body: SparkSession => Unit): Unit =
    withNewSession(GraftSession.build(master = "local[2]", cores = 2))(body)

  test("extensions inject dot_f/norm_f as catalog functions usable from SQL") {
    withNewSession(SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()) { s =>
      val r = s.sql(
        """SELECT dot_f(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)),
          |             array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) AS d,
          |       norm_f(array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) AS n
          |""".stripMargin).head
      assert(r.getDouble(0) == 11.0)
      assert(r.getDouble(1) == 5.0)
    }
  }

  test("GraftSession.build produces a scale-configured session") {
    withFreshSession { s =>
      assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      // the catalog holds exactly the table's kernels, before any query
      assert(GraftExtensions.kernels.map(_._1).sorted == kernels.map(_._1).sorted)
      kernels.foreach { case (name, _, _) =>
        assert(s.catalog.functionExists(name), name)
      }
      assertKernels(s.range(1).toDF(), "a fresh GraftSession.build session")
    }
  }

  test("every kernel resolves on newSession()") {
    withFreshSession { s =>
      assertKernels(s.newSession().range(1).toDF(), "newSession()")
    }
  }

  test("every kernel resolves in a foreachBatch micro-batch session") {
    withFreshSession { s =>
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val input = MemoryStream[Int]
      input.addData(1)
      @volatile var checked = false
      val ckpt = Scratch.dir("ext_kernels_ckpt")
      try {
        val q = input.toDF().writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            if (!batch.isEmpty) {
              assert(batch.sparkSession ne s) // the micro-batch clone
              assertKernels(batch, "a foreachBatch micro-batch session")
              checked = true
            }
          }
          .start()
        try q.processAllAvailable()
        finally q.stop()
      } finally Scratch.delete(ckpt)
      assert(checked)
    }
  }
}
