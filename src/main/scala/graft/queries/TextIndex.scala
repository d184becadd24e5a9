package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextHash

/** Persisted inverted index for lexical (BM25) serving — the third
  * durable-state subsystem next to [[AnnIndex]] (vectors) and
  * [[DedupIndex]] (MinHash signatures): build once, append deltas,
  * query forever without touching the corpus.
  *
  * State layout under `stateDir`:
  *  - `post/` — postings (term, doc_id, tf, dl), written
  *    `partitionBy("bucket")` where bucket = tok_hash(term) mod
  *    [[NBuckets]]. A query's terms hash to a handful of buckets, so
  *    serving reads ONLY those directories — partition pruning is the
  *    index lookup (the same trick AnnIndex plays with IVF cells).
  *  - `stats/` — one row (n_docs, sum_dl), the only global state.
  *
  * Two denormalizations make the index append-only and join-free:
  *  - document length `dl` rides ON the posting row (Lucene's norm),
  *    so scoring never joins a doc-side table;
  *  - per-term document frequency `df` is NOT stored — it is counted
  *    at query time from the pruned postings (3 terms → 3-row
  *    aggregate). Updating an index therefore never rewrites df state:
  *    appending a batch = append its postings + add two numbers into
  *    `stats/`. O(delta) I/O, no read-modify-write of postings, and
  *    incremental == rebuild EXACTLY (spec-pinned, and the
  *    `text_bm25_indexed_incremental` oracle scores the full corpus).
  *
  * At 100 TB: postings shard by bucket, `stats/` is 16 bytes, and a
  * query costs |terms| directory scans + one doc_id-keyed aggregate
  * over matching postings only. Resharding caveat: with
  * `bucket = hash mod NBuckets`, growing NBuckets arbitrarily
  * reassigns terms across ALL old buckets; only power-of-two doubling
  * (16 → 32) is clean — each old bucket b splits into exactly
  * {b, b + NBuckets}, so a reshard rewrites each old bucket once and
  * touches nothing else (the split law is pinned in TextIndexSpec).
  * BM25 has no analog in the reference pipeline — it is one of the
  * beyond-reference LLM-data-curation operators this engine adds.
  */
object TextIndex {

  /** Posting-list shards; a term's postings live in exactly one. */
  val NBuckets = 16

  /** The fixed demo query (shared with text_bm25_topk / hybrid RRF). */
  val Terms: Seq[String] = Seq("vector", "stream", "merge")

  private def bucketOf(term: String): Long = {
    val h = TextHash.tokenHash(term) % NBuckets
    (h + NBuckets) % NBuckets
  }

  /** (bucket, term, doc_id, tf, dl) postings for `docs` (doc_id, text).
    * One shuffle (the per-(term,doc) count); tf > 0 rows only, which is
    * what lets query-time df = postings-row count per term.
    */
  private def postings(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy("term", "doc_id", "dl").agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(expr("tok_hash(term)"), lit(NBuckets.toLong)))
  }

  /** Build the index from scratch over `docs` (doc_id, text). */
  def build(s: SparkSession, docs: DataFrame, stateDir: String): Unit = {
    postings(docs).write.mode("overwrite")
      .partitionBy("bucket").parquet(s"$stateDir/post")
    docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long")
        .as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      .write.mode("overwrite").parquet(s"$stateDir/stats")
  }

  /** Append a delta batch: postings append into their buckets, stats
    * fold additively (the 1-row read is bounded by construction). No
    * existing posting file is rewritten — O(delta) I/O.
    */
  def append(s: SparkSession, newDocs: DataFrame, stateDir: String): Unit = {
    postings(newDocs).write.mode("append")
      .partitionBy("bucket").parquet(s"$stateDir/post")
    val old = s.read.parquet(s"$stateDir/stats").head()
    val delta = newDocs
      .select(size(split(col("text"), " ")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl")).head()
    val merged = Seq((old.getLong(0) + delta.getLong(0),
      old.getLong(1) + delta.getLong(1)))
    s.createDataFrame(merged).toDF("n_docs", "sum_dl")
      .write.mode("overwrite").parquet(s"$stateDir/stats")
    s.catalog.refreshByPath(s"$stateDir/stats")
  }

  /** Idempotent tagged append — the streaming-maintenance form of
    * [[append]] (the AnnIndex.appendBatch idea on the text index):
    * the batch's postings land under their own `ingest=<tag>` partition
    * level via dynamic partition overwrite, and the batch's stats row
    * lands under `statsp/ingest=<tag>` the same way, so a foreachBatch
    * retry or a drain replayed from the checkpoint REPLACES its own
    * partitions instead of duplicating postings or double-folding the
    * additive stats — exactly-once index state from at-least-once
    * delivery. [[append]]'s in-place stats fold stays the batch path
    * (one fewer read at serve time); this layout derives the totals by
    * summing the per-ingest rows at serve time instead.
    */
  def appendBatch(s: SparkSession, newDocs: DataFrame, stateDir: String,
      tag: String): Unit = {
    StateStore.appendTagged(s, postings(newDocs),
      s"$stateDir/post", tag, Seq("bucket"))
    StateStore.appendTagged(s,
      newDocs.select(size(split(col("text"), " ")).cast("long").as("dl"))
        .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl")),
      s"$stateDir/statsp", tag)
  }

  /** Serve from tagged-append state: totals are the sum of the
    * per-ingest stats rows (each ingest partition owns its own row, so
    * the sum is replay-stable); postings pruning is unchanged — bucket
    * stays a partition column one level down.
    */
  def queryStreamed(s: SparkSession, stateDir: String, k: Int): DataFrame = {
    val stats = s.read.parquet(s"$stateDir/statsp")
      .agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))
    serve(prunedPostings(s, stateDir, Terms), stats, k)
  }

  /** The pruned postings scan for `terms` — exposed so the spec can
    * assert the bucket partition pruning on the exact serving plan.
    */
  private[queries] def prunedPostings(s: SparkSession, stateDir: String,
      terms: Seq[String]): DataFrame = {
    val buckets = terms.map(bucketOf).distinct
    s.read.parquet(s"$stateDir/post")
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
  }

  /** Serve the fixed 3-term BM25 query from the persisted index:
    * pruned postings → per-term df (broadcast) → per-doc term pivot in
    * FIXED column order → the exact [[TextAnalysis.bm25Scored]]
    * expression tree, so the score doubles are bit-identical to the
    * inline scorer and the full-corpus oracle applies unchanged. Only
    * docs holding at least one query term are scored (a no-term doc
    * scores exactly 0 inline, and every matching doc scores > 0 since
    * idf > 0, so any top-k that inline fills with matches is equal).
    */
  def query(s: SparkSession, stateDir: String, k: Int): DataFrame =
    serve(prunedPostings(s, stateDir, Terms),
      s.read.parquet(s"$stateDir/stats"), k)

  /** Scoring body shared by the batch and streamed serve paths:
    * `stats` is one (n_docs, sum_dl) row however the layout stores it.
    */
  private def serve(post: DataFrame, stats: DataFrame, k: Int): DataFrame = {
    val dfCols = Terms.zipWithIndex.map { case (t, i) =>
      coalesce(max(when(col("term") === t, col("df"))), lit(0L))
        .as(s"df${i + 1}")
    }
    val dfRow = post.groupBy("term").agg(count(lit(1)).as("df"))
      .agg(dfCols.head, dfCols.tail: _*)
    val fCols = Terms.zipWithIndex.map { case (t, i) =>
      coalesce(sum(when(col("term") === t, col("tf"))), lit(0L))
        .as(s"f${i + 1}")
    }
    val perDoc = post.groupBy("doc_id")
      .agg(max("dl").as("dl"), fCols: _*)
    def idf(dfc: Column) =
      log((col("n_docs") - dfc + lit(0.5)) / (dfc + lit(0.5)) + lit(1.0))
    def wgt(f: Column) =
      f.cast("double") * lit(2.2) /
        (f.cast("double") +
          lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val scored = perDoc
      .crossJoin(broadcast(stats)).crossJoin(broadcast(dfRow))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("score", round(
        idf(col("df1")) * wgt(col("f1")) +
          idf(col("df2")) * wgt(col("f2")) +
          idf(col("df3")) * wgt(col("f3")), 4))
      .select("doc_id", "score")
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .orderBy("rn")
  }

  private[queries] val topkOracle = s"""
WITH ${TextAnalysis.bm25ScoredSql}
SELECT doc_id, score, rn FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
  FROM sc)
WHERE rn <= 10 ORDER BY rn"""

  // ── Index lifecycle stage queries ──────────────────────────────────
  // Mirrors the dedup-index treatment (Dedup.scala bootstrapDir/
  // fullStateDir): the bootstrap and steady states are process-cached
  // per sf dir so each stage's bench line times ONLY its own work —
  // append never re-pays the 80% build, cold serve never pays either.

  private val bootstrapCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Durable 80%-corpus index (docs with doc_id % 5 ≠ 0) per sf dir,
    * built once per process — the base state the append stage copies.
    */
  /** Classes whose recompilation must invalidate cached BM25 warm
    * state (index layout + tokenization semantics).
    */
  private def warmClasses: Seq[Class[_]] =
    Seq(TextIndex.getClass, TextAnalysis.getClass,
      graft.functions.TextHash.getClass)

  private def bootstrapStateDir(s: SparkSession, d: String): String =
    bootstrapCache.computeIfAbsent(d, _ =>
      graft.WarmCache.getOrBuild("bm25idx_v1", d, warmClasses, dir =>
        build(s, Tables.documents(s, d).select("doc_id", "text")
          .filter(col("doc_id") % 5 =!= 0), dir)))

  private val fullCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Full-corpus steady state (bootstrap copy + the % 5 = 0 delta
    * appended) per sf dir — what the cold-serve stage reads.
    */
  private def fullStateDir(s: SparkSession, d: String): String =
    fullCache.computeIfAbsent(d, _ =>
      graft.WarmCache.getOrBuild("bm25idx_v2", d, warmClasses, dir => {
        // WarmCache hands over an EMPTY dir, so append() starts from
        // exactly the bootstrap copy
        copyState(bootstrapStateDir(s, d), dir)
        append(s, Tables.documents(s, d).select("doc_id", "text")
          .filter(col("doc_id") % 5 === 0), dir)
      }))

  /** Build the process-cached states eagerly — called by Bench outside
    * the timed region (same attribution rule as Dedup.warmSharedState).
    */
  def warmSharedState(s: SparkSession, d: String): Unit = {
    fullStateDir(s, d); ()
  }

  /** Recursive file copy of an index state dir — the append stage must
    * not mutate the shared bootstrap (parquet append adds files in
    * place), so it works on its own copy. O(index size), not O(corpus).
    */
  private def copyState(from: String, to: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(from)
    val dst = Paths.get(to)
    val stream = Files.walk(src)
    try stream.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
    } finally stream.close()
  }

  /** Deterministic state summary the oracle can recompute from the raw
    * corpus: per-bucket posting count, distinct terms, total tf. Any
    * build/append defect (lost postings, double-counted delta, wrong
    * bucket routing) shifts at least one row. Bucket is a partition
    * column (path-inferred int) — cast back to long for the typed hash.
    */
  private def bucketSummary(s: SparkSession, stateDir: String): DataFrame =
    s.read.parquet(s"$stateDir/post")
      .groupBy(col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_postings"),
        countDistinct(col("term")).as("n_terms"),
        sum("tf").cast("long").as("sum_tf"))
      .orderBy("bucket")

  /** Oracle twin of [[bucketSummary]] over docs passing `filter`:
    * re-derives the postings (term, doc, tf) from documents and routes
    * terms through the same portable token hash (TextHash.sqlTokenHash)
    * into NBuckets shards.
    */
  private def bucketSummarySql(filter: String): String = s"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents WHERE $filter),
post AS (
  SELECT term, doc_id, count(*)::BIGINT AS tf
  FROM toks GROUP BY term, doc_id),
bk AS (
  SELECT (${graft.functions.TextHash.sqlTokenHash("term")}) % $NBuckets
           AS bucket, term, tf
  FROM post)
SELECT bucket, count(*) AS n_postings, count(DISTINCT term) AS n_terms,
       sum(tf)::BIGINT AS sum_tf
FROM bk GROUP BY bucket ORDER BY bucket"""

  def qs: Seq[Q] = Seq(
    // Build the persisted index, serve the top-10 from it. The oracle
    // is the INLINE full-corpus scorer's SQL — index serving must be
    // indistinguishable from scoring the corpus directly.
    Q("text_bm25_indexed",
      (s, d) => graft.Scratch.withDir(s, "textidx") { dir =>
        build(s, Tables.documents(s, d).select("doc_id", "text"), dir)
        query(s, dir, 10)
      },
      Some(topkOracle)),

    // Bootstrap on 80% of the corpus, append the rest as a delta batch
    // (pure postings append + additive stats fold — no df state, no
    // rewrite), then serve. The oracle still scores the FULL corpus
    // inline: incremental maintenance must be exactly equivalent to a
    // from-scratch build.
    Q("text_bm25_indexed_incremental",
      (s, d) => graft.Scratch.withDir(s, "textidxinc") { dir =>
        val docs = Tables.documents(s, d).select("doc_id", "text")
        build(s, docs.filter(col("doc_id") % 5 =!= 0), dir)
        append(s, docs.filter(col("doc_id") % 5 === 0), dir)
        query(s, dir, 10)
      },
      Some(topkOracle)),

    // ── Lifecycle stages, each timed for its own work only ──────────
    // Stage 1: from-scratch 80% build; the summary proves the postings
    // shards hold exactly the corpus-derived (term, doc, tf) set.
    Q("text_index_bootstrap",
      (s, d) => graft.Scratch.withDir(s, "bm25boot") { dir =>
        build(s, Tables.documents(s, d).select("doc_id", "text")
          .filter(col("doc_id") % 5 =!= 0), dir)
        bucketSummary(s, dir)
      },
      Some(bucketSummarySql("doc_id % 5 <> 0"))),

    // Stage 2: O(delta) append onto a COPY of the process-cached
    // bootstrap (never re-pays the 80% build — that cost lives in the
    // warm line / stage 1). The full-corpus summary proves base and
    // delta merged without loss or double count.
    Q("text_index_append",
      (s, d) => graft.Scratch.withDir(s, "bm25app") { dir =>
        copyState(bootstrapStateDir(s, d), dir)
        append(s, Tables.documents(s, d).select("doc_id", "text")
          .filter(col("doc_id") % 5 === 0), dir)
        bucketSummary(s, dir)
      },
      Some(bucketSummarySql("TRUE"))),

    // Stage 3: serving alone, from the process-cached steady state —
    // the latency line a user of the index actually sees. The oracle
    // still scores the FULL corpus inline: cold serving from
    // incrementally-maintained state must be indistinguishable from
    // scoring the corpus directly.
    Q("text_index_serve_cold",
      (s, d) => query(s, fullStateDir(s, d), 10),
      Some(topkOracle))
  )
}
