package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: the Spark DataFrame program plus (optionally)
  * its DuckDB oracle twin. Every SQL-expressible operator carries an
  * oracle so the driver's hash-compare gate covers it (SURVEY.md §5).
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Registry {
  /** All registered queries, grouped by the SURVEY.md §2 category they
    * cover. Populated incrementally as operators land.
    */
  def groups: Seq[Seq[Q]] = Seq(
    Seq(
      Q("pipeline_topk_tieflag",
        SimilarityPipeline.topkTieFlag,
        Some(SimilarityPipeline.topkTieFlagSql)),
      // the beyond-broadcast contingency as running code: same top-k +
      // tie flag, candidates from banded LSH buckets, no cross join
      Q("pipeline_topk_tieflag_lsh",
        (s, d) => SimilarityPipeline.tieFlagOverPairs(
          SimilarityPipeline.lshPairs(s, d)),
        Some(SimilarityPipeline.topkTieFlagLshSql))
    ),
    Sources.qs,
    Filters.qs,
    Joins.qs,
    Aggregates.qs,
    SqlShapes.qs,
    Sketches.qs,
    WindowsSorts.qs,
    Functions.qs,
    Views.qs,
    Incremental.qs,
    TextAnalysis.qs,
    TextIndex.qs,
    Curation.qs,
    Dedup.qs,
    SimilaritySearch.qs,
    Embeddings.qs,
    Events.qs,
    StreamingQueries.qs,
    Multimodal.qs,
    Graph.qs,
    Bpe.qs
  )

  lazy val all: Seq[Q] = groups.flatten

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  lazy val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
