package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}
import org.apache.spark.sql.types._

/** Streaming DOCUMENT ingestion: near-dup detection on an unbounded
  * corpus stream (st15) — the streaming twin of the batch MinHash+LSH
  * pipeline (graft.queries.Dedup) and the online counterpart of the
  * persisted [[graft.queries.DedupIndex]].
  *
  * Design: each arriving document computes its 8-slot MinHash signature
  * ROW-LOCALLY (shingle_set + tok_hash + array_min over the same
  * universal-hash family as the batch pipeline — no shuffle, no
  * per-batch aggregation), explodes into its 4 LSH band keys, and the
  * stream is keyed by (band, key): one [[MapState]] per bucket holds
  * doc_id → signature for every member seen so far. A new arrival
  * compares signatures against its bucket's members (estimated Jaccard
  * = matching slots / 8, threshold ≥ 1/2) and emits (dup_id, orig_id)
  * evidence for each match — always flagging the HIGHER doc id, so a
  * pair meets exactly once however the stream is sliced into
  * micro-batches (earlier member in state, or earlier position in the
  * same sorted batch). StreamingSpec pins slicing-invariance; the
  * declared query's oracle recomputes the same signatures, co-bucket
  * pairs, and slot-match estimate relationally in DuckDB.
  *
  * vs the batch pipeline: no global df-cap (a stream cannot know
  * corpus-wide document frequency up front — the batch DfCap+rescue
  * needs the whole corpus), and verification is by SIGNATURE estimate
  * rather than exact Jaccard (state stores 8 longs per member, never
  * the shingle sets — bounded, checkpointable). At 100 TB the same
  * hot-bucket discipline as batch applies: a mass-dup bucket is the
  * pathological case, and production caps bucket membership the way
  * [[graft.queries.Dedup.SaltCap]] bounds the batch pair expansion
  * (members beyond the cap are dups of the retained ones with
  * overwhelming probability).
  */
object DocsStream extends Serializable {

  /** Canonical staged-document schema — exactly the fixture layout, so
    * staging a corpus file into a stream input dir is a plain copy.
    */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def readDocs(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(docSchema)
      .option("pathGlobFilter", "*.parquet")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(dir)
  }

  /** (dup_id, orig_id) near-dup evidence pairs from the stream; a pair
    * may appear once per shared band — consumers `distinct()` before
    * aggregating (the declared query does).
    */
  def nearDupPairs(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val P = graft.functions.TextHash.P
    // shingle + hash ONCE per doc (r15): the previous per-slot
    // expression re-ran shingle_set AND tok_hash once per signature
    // slot — 8× the only text-processing work of the stream (the batch
    // pipeline hashes once in rawPostings; this is the streaming
    // equivalent). Each slot is the same (h·a + b) % P fold over the
    // shared hashed array, so every min is bit-identical. The hs
    // projection stays in its own select; CollapseProject does not
    // inline non-cheap aliases referenced 8 times.
    val sigCols = graft.queries.Dedup.MinHashAB.zipWithIndex.map {
      case ((a, b), i) =>
        expr(s"array_min(transform(hs, h -> (h * ${a}L + ${b}L) % ${P}L))")
          .as(s"m$i")
    }
    val sig = docs
      .select(col("doc_id"),
        expr("transform(shingle_set(text), sh -> tok_hash(sh))").as("hs"))
      .select(col("doc_id") +: sigCols: _*)
    val banded = sig.select(
      col("doc_id"),
      concat_ws("_", (0 until 8).map(i => col(s"m$i")): _*).as("sig"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          concat_ws("_", col(s"m${2 * b}"), col(s"m${2 * b + 1}")).as("key"))
      }: _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"),
        col("doc_id"), col("sig"))
    banded.as[(Int, String, Long, String)]
      .groupByKey(r => (r._1, r._2))
      .transformWithState(new LshBucketProcessor(),
        TimeMode.None(), OutputMode.Update())
      .toDF("dup_id", "orig_id")
  }

  /** Per-bucket membership state machine. Batch rows are folded in
    * ascending doc_id order so in-batch pairs flag the higher id, same
    * as cross-batch pairs — the slicing-invariance contract. A
    * re-delivered document overwrites its own state entry and never
    * self-pairs.
    */
  private class LshBucketProcessor
      extends StatefulProcessor[(Int, String), (Int, String, Long, String), (Long, Long)] {
    @transient private var members: MapState[Long, String] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getMapState[Long, String]("members",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.STRING, TTLConfig.NONE)
    override def handleInputRows(key: (Int, String),
        rows: Iterator[(Int, String, Long, String)],
        timerValues: TimerValues): Iterator[(Long, Long)] = {
      val batch = rows.map(r => (r._3, r._4)).toIndexedSeq.sortBy(_._1)
      val existing = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Long]]
      members.iterator().foreach { case (id, s) =>
        existing.update(id, s.split('_').map(_.toLong))
      }
      val out = Seq.newBuilder[(Long, Long)]
      batch.foreach { case (id, sigStr) =>
        val sig = sigStr.split('_').map(_.toLong)
        existing.foreach { case (oid, osig) =>
          if (oid != id) {
            var eq = 0
            var k = 0
            while (k < sig.length) { if (sig(k) == osig(k)) eq += 1; k += 1 }
            if (eq * 2 >= sig.length)
              out += ((math.max(id, oid), math.min(id, oid)))
          }
        }
        existing.update(id, sig)
        members.updateValue(id, sigStr)
      }
      out.result().iterator
    }
  }

  /** Per-source admission totals of the classifier quality gate over a
    * document stream: stateless per-row scoring (the exact arithmetic
    * of graft.queries.TextAnalysis.classifierScored — integer weight
    * sums, sigmoid absorbed by round(·,4)) folded into one streaming
    * aggregate. The avg ships as an exact scaled-integer sum so totals
    * are arrival-order- and slicing-independent; the only state is
    * |sources| rows.
    */
  def qualityGateTotals(docs: DataFrame): DataFrame = {
    // the scoring columns come from the ONE shared model builder —
    // stream and batch cannot diverge by construction
    graft.queries.TextAnalysis.withClassifierScore(docs)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("score") >= 0.5).cast("long")).as("n_kept"),
        sum(expr("CAST(round(score * 10000, 0) AS BIGINT)")).as("sx4"))
  }

  /** Streaming reservoir-sample candidates — the streaming twin of
    * `curation_reservoir_sample`: the k smallest salted md5 draws seen
    * so far, folded in mapGroupsWithState. The draw is row-local map
    * work; docs shard into [[RsvSalts]] salt groups so per-group
    * traffic (and state) is bounded — each group keeps ITS k smallest
    * in a ≤k-entry sorted vector, and the consumer merges the groups'
    * candidates and takes the global k smallest, which the min-k merge
    * law (CurationSpec) proves equals sampling the whole corpus in one
    * pass. The fold DEDUPES by doc_id before trimming, so redelivery
    * is a no-op by construction (min-k of a set is idempotent under
    * re-insertion) — at-least-once delivery needs no further fencing.
    * State per group: ≤k (draw, doc_id) pairs at any stream length.
    */
  def reservoirCandidates(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val k = RsvK
    val drawn = docs.select(
      pmod(col("doc_id"), lit(RsvSalts.toLong)).cast("int").as("salt"),
      graft.queries.Sketches.h60(
        concat(lit("rsv_"), col("doc_id").cast("string"))).as("draw"),
      col("doc_id")).as[(Int, Long, Long)]
    drawn.groupByKey(_._1)
      .mapGroupsWithState[(Long, Seq[(Long, Long)]),
        (Int, Long, Seq[(Long, Long)])](GroupStateTimeout.NoTimeout) {
        case (salt, rows, state) =>
          val (updates, prev) =
            state.getOption.getOrElse((0L, Seq.empty[(Long, Long)]))
          val next = (prev ++ rows.map(r => (r._2, r._3)))
            .distinct.sorted.take(k)
          state.update((updates + 1, next))
          (salt, updates + 1, next)
      }
      .toDF("salt", "updates", "entries")
  }

  val RsvK = 100
  val RsvSalts = 8
}
