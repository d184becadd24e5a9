package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** The reference pipeline's flagship computation, re-hosted on the
  * `embeddings` table (SURVEY.md §7.3): for each target vector, the
  * top-10 most similar source vectors, with the reference's
  * tie-at-the-cutoff flag (SURVEY.md §7.4; /root/reference/dags/modules/
  * datamart.py:28-47).
  *
  * Reference shape: iterrows() cross join + per-pair Python Tanimoto
  * (tanimoto.py:124-147), then per-target pandas sort/head(10)
  * (datamart.py:28-47). Spark shape: one declarative plan —
  * BroadcastNestedLoopJoin (targets broadcast) -> codegen'd similarity
  * kernel -> window top-k. At cluster scale the small target side stays
  * broadcast, the big source side streams partition-parallel, and the
  * window shuffles only (target_id, source_id, sim) — never the vectors.
  */
object SimilarityPipeline {

  val TopK = 10
  val Tol  = 1e-9 // float-tolerance tie compare, readme.MD:63

  /** (target_id, source_id, sim) pairs: every label=0 vector scored
    * against every label<>0 vector, cosine similarity rounded to 6
    * decimals for cross-engine determinism (SURVEY.md §5).
    */
  def pairs(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val targets = emb.filter(col("label") === 0)
      .select(col("vec_id").as("target_id"), col("embedding").as("t_emb"))
      .withColumn("t_norm", expr("norm_f(t_emb)"))
    val sources = emb.filter(col("label") =!= 0)
      .select(col("vec_id").as("source_id"), col("embedding").as("s_emb"))
      .withColumn("s_norm", expr("norm_f(s_emb)"))
    sources.crossJoin(broadcast(targets))
      .filter(col("target_id") =!= col("source_id")) // P7 self-pair filter
      .withColumn("sim",
        round(expr("dot_f(t_emb, s_emb)") / (col("t_norm") * col("s_norm")), 6))
      .select("target_id", "source_id", "sim")
  }

  /** W1 top-k + A4 cutoff + A5/W2 tie flag, deterministic ORDER BY. */
  def topkTieFlag(spark: SparkSession, dir: String): DataFrame =
    tieFlagOverPairs(pairs(spark, dir))

  /** The windowed tie-flag computation over any (target_id, source_id,
    * sim) relation — factored out so the semantics (SURVEY.md §7.4) are
    * unit-testable on literal data.
    */
  def tieFlagOverPairs(pairs: DataFrame): DataFrame =
    tieFlagUnordered(pairs).orderBy("target_id", "rn")

  /** [[tieFlagOverPairs]] without the output ORDER BY — for composed
    * pipelines that consume the facts mid-plan, where the global sort
    * would pay a range exchange Catalyst does not remove (observed in
    * pipeline_e2e_medallion: one extra rangepartitioning per consumer).
    */
  def tieFlagUnordered(pairs: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("target_id")
      .orderBy(col("sim").desc, col("source_id").asc)
    val wAll = Window.partitionBy("target_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val atCutoff = abs(col("sim") - col("cutoff")) < Tol
    pairs
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("cutoff", max(when(col("rn") === TopK, col("sim"))).over(wAll))
      .withColumn("ties_total", count(when(atCutoff, 1)).over(wAll))
      .withColumn("ties_top", count(when(atCutoff && col("rn") <= TopK, 1)).over(wAll))
      .filter(col("rn") <= TopK)
      .withColumn("tie_flag",
        when(atCutoff && col("ties_total") > col("ties_top"), col("ties_total"))
          .otherwise(lit(0L)))
      .select(col("target_id"), col("source_id"), col("sim"),
        col("rn").cast("long").as("rn"), col("tie_flag"))
  }

  /** Shared t/s CTE prefix (targets and sources with norms). */
  private val sidesSqlCte: String = """t AS (
  SELECT vec_id AS target_id, embedding::DOUBLE[] AS e,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS nrm
  FROM embeddings WHERE label = 0
), s AS (
  SELECT vec_id AS source_id, embedding::DOUBLE[] AS e,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS nrm
  FROM embeddings WHERE label <> 0
)"""

  /** Tie-flag window suffix over a CTE named `p` holding (target_id,
    * source_id, sim) — shared by the cross-join and LSH oracles.
    */
  private val tieFlagSqlTail: String = """r AS (
  SELECT *, row_number() OVER (PARTITION BY target_id ORDER BY sim DESC, source_id ASC) AS rn FROM p
), c AS (
  SELECT *, max(CASE WHEN rn = 10 THEN sim END) OVER (PARTITION BY target_id) AS cutoff FROM r
), c2 AS (
  SELECT *, count(CASE WHEN abs(sim - cutoff) < 1e-9 THEN 1 END) OVER (PARTITION BY target_id) AS ties_total,
            count(CASE WHEN abs(sim - cutoff) < 1e-9 AND rn <= 10 THEN 1 END) OVER (PARTITION BY target_id) AS ties_top
  FROM c
)
SELECT target_id, source_id, sim, rn,
  CASE WHEN abs(sim - cutoff) < 1e-9 AND ties_total > ties_top THEN ties_total ELSE 0 END AS tie_flag
FROM c2 WHERE rn <= 10 ORDER BY target_id, rn"""

  /** DuckDB twin of [[topkTieFlag]] (validated against duckdb v1.0.0). */
  val topkTieFlagSql: String = s"""
WITH $sidesSqlCte, p AS (
  SELECT t.target_id, s.source_id,
         round(list_sum(list_transform(range(1, len(t.e)+1), i -> t.e[i] * s.e[i])) / (t.nrm * s.nrm), 6) AS sim
  FROM t CROSS JOIN s WHERE t.target_id <> s.source_id
), $tieFlagSqlTail
""".trim

  /** LSH-bucketed variant of [[pairs]] — the beyond-broadcast shape.
    * When the target side outgrows broadcast, candidate pairs come from
    * an equi-join on multi-band sign-random-projection buckets
    * ([[SimilaritySearch.bandBucket]] × [[Dedup.EmbBands]] bands)
    * instead of a cross join: shuffle is proportional to bucket
    * collisions, never |targets|×|sources|. Recall < 1 by LSH design —
    * measured on sf0.01: 82.4% of the exact flagship's top-k rows
    * survive (412/500, consistent with the ≈0.83 measured pair recall
    * of the same band family in dedup_embedding_cosine). The oracle
    * mirrors the bucket arithmetic exactly, so the output is
    * deterministic and hash-checkable; widen bands/planes per the
    * [[SimilaritySearch.BandPlanes]] recall math as targets grow.
    */
  def lshPairs(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val targets = emb.filter(col("label") === 0)
      .select(col("vec_id").as("target_id"), col("embedding").as("t_emb"))
      .withColumn("t_norm", expr("norm_f(t_emb)"))
    val sources = emb.filter(col("label") =!= 0)
      .select(col("vec_id").as("source_id"), col("embedding").as("s_emb"))
      .withColumn("s_norm", expr("norm_f(s_emb)"))
    def banded(df: DataFrame, id: String, e: String): DataFrame = {
      // fused codegen banding — one dim loop for all 24 projections,
      // bit-identical to the per-band HOF the oracle mirrors; family is
      // shared by definition via the VectorExpressions constants
      df.select(col(id),
        posexplode(expr(s"srp_buckets($e)")).as(Seq("band", "bkt")))
    }
    val cand = banded(targets, "target_id", "t_emb")
      .join(banded(sources, "source_id", "s_emb"), Seq("band", "bkt"))
      .filter(col("target_id") =!= col("source_id"))
      .select("target_id", "source_id").distinct()
    cand.join(targets, Seq("target_id")).join(sources, Seq("source_id"))
      .withColumn("sim",
        round(expr("dot_f(t_emb, s_emb)") / (col("t_norm") * col("s_norm")), 6))
      .select("target_id", "source_id", "sim")
  }

  /** DuckDB twin of the LSH flagship (same bucket arithmetic). */
  val topkTieFlagLshSql: String = {
    val tb = (0 until Dedup.EmbBands).map { b =>
      s"SELECT target_id, $b AS band, ${SimilaritySearch.sqlBandBucket("e", b)} AS bkt FROM t"
    }.mkString("\nUNION ALL\n")
    val sb = (0 until Dedup.EmbBands).map { b =>
      s"SELECT source_id, $b AS band, ${SimilaritySearch.sqlBandBucket("e", b)} AS bkt FROM s"
    }.mkString("\nUNION ALL\n")
    s"""
WITH $sidesSqlCte, tb AS ($tb), sb AS ($sb),
cand AS (SELECT DISTINCT tb.target_id, sb.source_id
         FROM tb JOIN sb ON tb.band = sb.band AND tb.bkt = sb.bkt
         WHERE tb.target_id <> sb.source_id),
p AS (SELECT cand.target_id, cand.source_id,
             round(list_sum(list_transform(range(1, len(t.e)+1), i -> t.e[i] * s.e[i])) / (t.nrm * s.nrm), 6) AS sim
      FROM cand JOIN t ON cand.target_id = t.target_id
                JOIN s ON cand.source_id = s.source_id),
$tieFlagSqlTail
""".trim
  }
}
