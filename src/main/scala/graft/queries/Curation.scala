package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextHash

/** Training-set curation operators — the selection/assembly stage a
  * large-scale pipeline runs AFTER text analysis and dedup: train/test
  * decontamination, deterministic stratified sampling, reproducible
  * shuffle-sharding, and per-shard token-budget packing.
  *
  * All randomness is the engine-portable [[TextHash]] rolling hash of a
  * salted key, never `rand()`: every operator is a pure function of the
  * input tables, so results are reproducible run-to-run, engine-to-
  * engine (the DuckDB oracles mirror the arithmetic exactly), and —
  * the property that matters operationally — stable under cluster
  * resizing, task retries, and partition reordering.
  */
object Curation {

  /** Salt for sampling/shuffle keys; changing it draws an independent
    * deterministic sample/order.
    */
  val Salt = "graft_seed_42_"

  /** Shards for shuffle/packing: in production ≈ number of training
    * readers; each shard's rows arrive in deterministic hash order.
    */
  val Shards = 8

  private def hkeyExpr: String =
    s"tok_hash(concat('$Salt', cast(doc_id as string)))"

  private def sqlHkey: String =
    TextHash.sqlTokenHash(s"'$Salt' || doc_id::VARCHAR")

  /** Engine paths of the two total-order curation queries BEFORE the
    * output materialize-and-release wrapper — exposed package-private
    * so PlanQualitySpec can assert the two-phase-rank plan shape (the
    * registered queries return a released checkpoint scan, whose plan
    * would make those assertions vacuous). `pins` receives each
    * globalRowNumber call's ranked-frame pin; the caller owns release.
    */
  private[queries] def negativePairsUnreleased(
      s: org.apache.spark.sql.SparkSession, d: String,
      pins: scala.collection.mutable.Buffer[org.apache.spark.sql.DataFrame])
      : org.apache.spark.sql.DataFrame = {
    val n1 = Tables.documents(s, d).agg(count(lit(1)).as("n"))
    val ring = WindowsSorts.globalRowNumber(s,
        Tables.documents(s, d).withColumn("hkey", Sketches.h60(
          concat(lit("ring_"), col("doc_id").cast("string")))),
        "pos1", 8, pins, col("hkey").asc, col("doc_id").asc)
      .withColumn("pos", col("pos1") - 1)
      .crossJoin(broadcast(n1))
      .select("doc_id", "source", "pos", "n")
    val anchors = ring.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id").as("anchor_id"),
        col("source").as("a_source"), col("pos"), col("n"))
      .withColumn("j0", explode(expr("sequence(1, 4)")))
      .withColumn("j", col("j0").cast("long")).drop("j0")
      .withColumn("npos", (col("pos") + col("j") * 17) % col("n"))
    val negs = ring.select(col("pos").as("npos"),
      col("doc_id").as("neg_id"), col("source").as("n_source"))
    anchors.join(negs, "npos")
      .select(col("anchor_id"), col("j"), col("neg_id"),
        (col("a_source") =!= col("n_source")).as("cross_source"))
      .orderBy("anchor_id", "j")
  }

  private[queries] def curriculumOrderUnreleased(
      s: org.apache.spark.sql.SparkSession, d: String,
      pins: scala.collection.mutable.Buffer[org.apache.spark.sql.DataFrame])
      : org.apache.spark.sql.DataFrame = {
    val q = TextAnalysis.qualityScored(s, d)
      .select(col("doc_id"), col("quality"))
    val n1 = q.agg(count(lit(1)).as("n"))
    val staged = WindowsSorts.globalRowNumber(s, q, "rn", 8, pins,
        col("quality").desc, col("doc_id").asc)
      .crossJoin(broadcast(n1))
      .withColumn("stage", expr("((rn - 1) * 4) div n + 1"))
      .withColumn("hkey", expr(hkeyExpr))
    WindowsSorts.globalRowNumber(s, staged, "curriculum_rank", 8, pins,
        col("stage").asc, col("hkey").asc, col("doc_id").asc)
      .select("doc_id", "quality", "stage", "curriculum_rank")
      .orderBy("curriculum_rank")
  }

  def qs: Seq[Q] = Seq(
    // Train/test decontamination: flag training documents sharing >= 2
    // distinct shingles with any held-out (source = 'src3') document.
    // Inverted-index equi-join on shingle — shuffle proportional to
    // shared-shingle postings, never |train| x |test| — with the
    // boilerplate df-cap on the held-out side (a shingle in more than
    // DfCap eval docs is template noise, not contamination signal).
    Q("curation_decontam_overlap",
      (s, d) => {
        // materialize the exploded postings ONCE: three consumers
        // (test postings, train postings, hot-shingle df count) would
        // otherwise each re-run the scan + shingle + explode — 3× the
        // allocation churn of the whole corpus's shingles, which is
        // exactly the kind of short-lived-object storm that turned
        // into multi-second GC pauses when neighboring bench queries
        // had already pressured the heap (r8's 1.06–5.63 s pass spread)
        val post = graft.Caching.materialize(s,
          Dedup.docShingles(s, d)
            .select(col("doc_id"), col("source"),
              explode(col("shs")).as("sh")))
        val tpost = post.filter(col("source") === "src3")
          .select(col("doc_id").as("test_id"), col("sh"))
        val trpost = post.filter(col("source") =!= "src3")
          .select(col("doc_id").as("train_id"), col("sh"))
        val hot = tpost.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > Dedup.DfCap).select("sh")
        val tp = tpost.join(hot, Seq("sh"), "left_anti")
        trpost.join(tp, Seq("sh"))
          .groupBy("train_id", "test_id").agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2)
          .groupBy("train_id")
          .agg(count(lit(1)).as("n_test_docs"), max("n_shared").as("max_shared"))
          .orderBy("train_id")
      },
      Some(s"""
WITH d AS (SELECT doc_id, source, ${Dedup.sqlShingles("text")} AS shs FROM documents),
tpost AS (SELECT doc_id AS test_id, unnest(shs) AS sh FROM d WHERE source = 'src3'),
trpost AS (SELECT doc_id AS train_id, unnest(shs) AS sh FROM d WHERE source <> 'src3'),
dfreq AS (SELECT sh, count(*) AS df FROM tpost GROUP BY sh),
tp AS (SELECT test_id, tpost.sh AS sh FROM tpost JOIN dfreq ON tpost.sh = dfreq.sh
       WHERE dfreq.df <= ${Dedup.DfCap}),
shared AS (SELECT train_id, test_id, count(*) AS n_shared
           FROM trpost JOIN tp ON trpost.sh = tp.sh
           GROUP BY train_id, test_id HAVING count(*) >= 2)
SELECT train_id, count(*) AS n_test_docs, max(n_shared) AS max_shared
FROM shared GROUP BY train_id ORDER BY train_id""")),

    // Deterministic stratified sample: 10% per language stratum, chosen
    // by salted-hash order (not rand()) so the sample is reproducible
    // and stable under any physical reordering. One shuffle on the
    // stratum key; per-stratum windows run partition-parallel.
    Q("curation_stratified_sample",
      (s, d) => {
        val w = Window.partitionBy("lang")
          .orderBy(col("hkey").asc, col("doc_id").asc)
        val wAll = Window.partitionBy("lang")
        Tables.documents(s, d)
          .withColumn("hkey", expr(hkeyExpr))
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(wAll))
          .filter(col("rn") <= ceil(col("n") * 0.1))
          .select("doc_id", "lang", "hkey")
          .orderBy("doc_id")
      },
      Some(s"""
WITH h AS (SELECT doc_id, lang, $sqlHkey AS hkey FROM documents),
r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY hkey ASC, doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM h)
SELECT doc_id, lang, hkey FROM r WHERE rn <= ceil(n * 0.1) ORDER BY doc_id""")),

    // Importance-weighted Bernoulli sample: each document is kept with
    // probability proportional to its own integer weight (a
    // length-derived permille here; any bounded integer signal works),
    // decided by comparing a salted portable hash of the doc id against
    // the weight — the per-doc analog of the quota-driven domain mix.
    // The draw uses the md5-based 60-bit hash (the KMV/CMS one), NOT
    // the rolling tok_hash: the rolling hash of sequential ids is
    // affine in the id, so its residues are consecutive — fine for
    // the ORDER BY sampling above (rank statistics only need relative
    // order), catastrophic for a fixed-threshold Bernoulli draw.
    // Map-only and a pure function of (salt, doc_id, weight): stable
    // under resharding, retries, and engine choice, so the sampled SET
    // itself is oracle-checked, not just its size. At 100 TB this is a
    // scan with zero shuffles; changing the temperature of the mix is
    // a constant edit, not a re-randomization.
    Q("curation_weighted_sample",
      (s, d) => {
        Tables.documents(s, d)
          .withColumn("weight_pm",
            least(lit(900L), greatest(lit(100L), expr("n_chars div 4"))))
          .withColumn("draw",
            pmod(Sketches.h60(
              concat(lit("wsample_"), col("doc_id").cast("string"))),
              lit(1000L)))
          .filter(col("draw") < col("weight_pm"))
          .select("doc_id", "source", "weight_pm", "draw")
          .orderBy("doc_id")
      },
      Some(s"""
WITH w AS (
  SELECT doc_id, source,
         least(900, greatest(100, n_chars // 4)) AS weight_pm,
         CAST(('0x' || substr(md5('wsample_' || doc_id::VARCHAR), 1, 15)) AS BIGINT) % 1000 AS draw
  FROM documents)
SELECT doc_id, source, weight_pm, draw FROM w
WHERE draw < weight_pm ORDER BY doc_id""")),

    // URL structure extraction — the web-corpus curation primitive
    // (domain-level dedup keys, per-site mixing quotas, tracking-param
    // scrubbing all start here). URLs are synthesized from document
    // rows, parsed with Spark's parse_url (host / path / one query
    // param), then rolled up per host. The oracle re-parses with
    // DuckDB regexps — a genuinely different implementation — so the
    // differential catches parser quirks instead of sharing them.
    // Map-only until the one host-keyed rollup shuffle.
    Q("curation_url_domain",
      (s, d) => {
        Tables.documents(s, d)
          .withColumn("url", format_string(
            "https://%s.site-%d.example.com/docs/%d/view?ref=feed&page=%d",
            col("source"), pmod(col("doc_id"), lit(7L)), col("doc_id"),
            pmod(col("doc_id"), lit(13L))))
          .withColumn("host", expr("parse_url(url, 'HOST')"))
          .withColumn("path", expr("parse_url(url, 'PATH')"))
          .withColumn("page",
            expr("cast(parse_url(url, 'QUERY', 'page') as bigint)"))
          .groupBy("host")
          .agg(count(lit(1)).as("n_docs"), sum("page").as("page_sum"),
            max("path").as("max_path"))
          .orderBy("host")
      },
      Some("""
WITH u AS (
  SELECT doc_id,
         'https://' || source || '.site-' || (doc_id % 7)::VARCHAR ||
         '.example.com/docs/' || doc_id::VARCHAR || '/view?ref=feed&page=' ||
         (doc_id % 13)::VARCHAR AS url
  FROM documents),
p AS (
  SELECT regexp_extract(url, 'https?://([^/]+)', 1) AS host,
         regexp_extract(url, '://[^/]+(/[^?]*)', 1) AS path,
         CAST(regexp_extract(url, '[?&]page=([0-9]+)', 1) AS BIGINT) AS page
  FROM u)
SELECT host, count(*)::BIGINT AS n_docs,
       CAST(sum(page) AS BIGINT) AS page_sum, max(path) AS max_path
FROM p GROUP BY host ORDER BY host""")),

    // Reproducible corpus shuffle + sharding: global training order =
    // ORDER BY salted hash (a distributed range-partitioned sort — no
    // single-task stage), shard = hash mod Shards so each of N readers
    // consumes a deterministic, disjoint, hash-uniform slice.
    Q("curation_reproducible_shuffle",
      (s, d) => {
        Tables.documents(s, d)
          .withColumn("hkey", expr(hkeyExpr))
          .withColumn("shard", pmod(col("hkey"), lit(Shards.toLong)))
          .select("doc_id", "shard", "hkey")
          .orderBy("hkey", "doc_id")
      },
      Some(s"""
SELECT doc_id, $sqlHkey % $Shards AS shard, $sqlHkey AS hkey
FROM documents ORDER BY hkey, doc_id""")),

    // Per-shard token-budget packing: within each shard, take documents
    // in deterministic hash order while the running token total stays
    // under the shard budget — the assembly step that cuts a corpus to
    // a target token count. The running sum is windowed PER SHARD
    // (never a global single-task window); total budget = Shards x
    // per-shard budget.
    Q("curation_token_budget_pack",
      (s, d) => {
        val w = Window.partitionBy("shard")
          .orderBy(col("hkey").asc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, 0)
        Tables.documents(s, d)
          .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
          .withColumn("hkey", expr(hkeyExpr))
          .withColumn("shard", pmod(col("hkey"), lit(Shards.toLong)))
          .withColumn("cum_tokens", sum("n_tokens").over(w))
          .filter(col("cum_tokens") <= 3000)
          .select("doc_id", "shard", "n_tokens", "cum_tokens")
          .orderBy("shard", "cum_tokens", "doc_id")
      },
      Some(s"""
WITH h AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens,
                  $sqlHkey AS hkey, $sqlHkey % $Shards AS shard
           FROM documents),
c AS (SELECT doc_id, shard, n_tokens,
             -- DuckDB windowed sum over BIGINT yields HUGEINT (lands as
             -- float64 in the compare); CAST pins it to int64 to match
             -- Spark's long cum_tokens.
             CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY hkey ASC, doc_id ASC
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_tokens
      FROM h)
SELECT doc_id, shard, n_tokens, cum_tokens FROM c
WHERE cum_tokens <= 3000 ORDER BY shard, cum_tokens, doc_id""")),

    // Concatenate-and-chop sequence packing — the training-sequence
    // assembly step (GPT-style): within each shard the token stream is
    // the docs in salted-hash order laid end to end, chopped into
    // fixed 2048-token bins; each doc is annotated with the bin it
    // starts in, its offset there, and how many bins it spans. One
    // windowed running sum PER SHARD (never global); bin/offset are
    // pure arithmetic on the running sum (division by 2^11 — exact in
    // both engines), so readers can seek independently.
    Q("curation_seq_pack",
      (s, d) => {
        val binTokens = 2048L
        val w = Window.partitionBy("shard")
          .orderBy(col("hkey").asc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, 0)
        Tables.documents(s, d)
          .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
          .withColumn("hkey", expr(hkeyExpr))
          .withColumn("shard", pmod(col("hkey"), lit(Shards.toLong)))
          .withColumn("start", sum("n_tokens").over(w) - col("n_tokens"))
          .withColumn("bin", floor(col("start") / binTokens).cast("long"))
          .withColumn("off", pmod(col("start"), lit(binTokens)))
          .withColumn("n_bins",
            (floor((col("start") + col("n_tokens") - 1) / binTokens)
              .cast("long") - col("bin") + 1L))
          .select("doc_id", "shard", "n_tokens", "bin", "off", "n_bins")
          .orderBy("shard", "bin", "off", "doc_id")
      },
      Some(s"""
WITH h AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens,
                  $sqlHkey AS hkey, $sqlHkey % $Shards AS shard
           FROM documents),
c AS (SELECT doc_id, shard, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY hkey ASC, doc_id ASC
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) - n_tokens AS start
      FROM h)
SELECT doc_id, shard, n_tokens,
       CAST(floor(start / 2048.0) AS BIGINT) AS bin,
       start % 2048 AS off,
       CAST(floor((start + n_tokens - 1) / 2048.0) AS BIGINT)
         - CAST(floor(start / 2048.0) AS BIGINT) + 1 AS n_bins
FROM c ORDER BY shard, bin, off, doc_id""")),

    // The whole assembly line as ONE declarative plan — quality floor →
    // exact-dedup survivors → decontamination against the held-out
    // source → mixture quotas → sequence packing. Each stage is proven
    // individually above; composing them in one DataFrame expression is
    // the point: Catalyst sees the entire lineage (pushes the quality
    // filter into the scan, prunes columns across all five stages) and
    // the pipeline needs no intermediate materialization at all. At
    // 100 TB each stage keeps its own scale shape (inverted-index
    // decontam, per-source windows, per-shard packing) — composition
    // adds no new shuffle beyond the stages' own.
    Q("curation_e2e_pipeline",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        // 1: quality floor (token count)
        val q = docs
          .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
          .filter(col("n_tokens") >= 10)
        // 2: exact-dedup survivor per text
        val surv = q.withColumn("rn", row_number().over(
            Window.partitionBy("text").orderBy("doc_id")))
          .filter(col("rn") === 1).drop("rn")
        // 3: decontamination — drop train docs sharing >= 2 uncapped
        // shingles with any held-out (src3) doc
        val sh = Dedup.docShingles(s, d)
        val tpost = sh.filter(col("source") === "src3")
          .select(col("doc_id").as("test_id"), explode(col("shs")).as("sh"))
        val hot = tpost.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > Dedup.DfCap).select("sh")
        val tp = tpost.join(hot, Seq("sh"), "left_anti")
        val trpost = sh.join(surv.select("doc_id"), Seq("doc_id"), "left_semi")
          .filter(col("source") =!= "src3")
          .select(col("doc_id").as("train_id"), explode(col("shs")).as("sh"))
        val flagged = trpost.join(tp, Seq("sh"))
          .groupBy("train_id", "test_id").agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2)
          .select("train_id").distinct()
        val kept = surv.filter(col("source") =!= "src3")
          .join(flagged.select(col("train_id").as("doc_id")),
            Seq("doc_id"), "left_anti")
        // 4: mixture quotas over the clean pool
        val weights = Seq(("src0", 0.4), ("src1", 0.3), ("src2", 0.2))
          .toDF("source", "wt")
        val wmix = Window.partitionBy("source")
          .orderBy(col("hkey").asc, col("doc_id").asc)
        val sel = kept.withColumn("hkey", expr(hkeyExpr))
          .join(broadcast(weights), Seq("source"))
          .withColumn("rnq", row_number().over(wmix))
          .filter(col("rnq") <= ceil(col("wt") * 200))
        // 5: sequence packing of the selection
        val wpack = Window.partitionBy("shard")
          .orderBy(col("hkey").asc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, 0)
        sel.withColumn("shard", pmod(col("hkey"), lit(Shards.toLong)))
          .withColumn("start", sum("n_tokens").over(wpack) - col("n_tokens"))
          .withColumn("bin", floor(col("start") / 2048L).cast("long"))
          .withColumn("off", pmod(col("start"), lit(2048L)))
          .select("doc_id", "source", "shard", "n_tokens", "bin", "off")
          .orderBy("shard", "bin", "off", "doc_id")
      },
      Some(s"""
WITH q AS (SELECT doc_id, text, source,
                  len(string_split(text, ' '))::BIGINT AS n_tokens
           FROM documents WHERE len(string_split(text, ' ')) >= 10),
s1 AS (SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM q),
surv AS (SELECT doc_id, text, source, n_tokens FROM s1 WHERE rn = 1),
d AS (SELECT doc_id, source, ${Dedup.sqlShingles("text")} AS shs FROM documents),
tpost AS (SELECT doc_id AS test_id, unnest(shs) AS sh FROM d WHERE source = 'src3'),
dfreq AS (SELECT sh, count(*) AS df FROM tpost GROUP BY sh),
tp AS (SELECT test_id, tpost.sh AS sh FROM tpost JOIN dfreq ON tpost.sh = dfreq.sh
       WHERE dfreq.df <= ${Dedup.DfCap}),
trpost AS (SELECT d.doc_id AS train_id, unnest(d.shs) AS sh FROM d
           JOIN surv ON d.doc_id = surv.doc_id WHERE d.source <> 'src3'),
flagged AS (SELECT DISTINCT train_id FROM (
    SELECT train_id, test_id FROM trpost JOIN tp ON trpost.sh = tp.sh
    GROUP BY train_id, test_id HAVING count(*) >= 2)),
kept AS (SELECT surv.* FROM surv
         WHERE surv.source <> 'src3'
           AND NOT EXISTS (SELECT 1 FROM flagged WHERE flagged.train_id = surv.doc_id)),
w(source, wt) AS (VALUES ('src0', 0.4), ('src1', 0.3), ('src2', 0.2)),
h AS (SELECT kept.*, $sqlHkey AS hkey FROM kept),
r AS (SELECT h.*, wt, row_number() OVER (PARTITION BY h.source ORDER BY hkey ASC, doc_id ASC) AS rnq
      FROM h JOIN w ON h.source = w.source),
sel AS (SELECT doc_id, source, n_tokens, hkey, hkey % $Shards AS shard
        FROM r WHERE rnq <= ceil(wt * 200)),
c AS (SELECT doc_id, source, shard, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY hkey ASC, doc_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS start
      FROM sel)
SELECT doc_id, source, shard, n_tokens,
       CAST(floor(start / 2048.0) AS BIGINT) AS bin, start % 2048 AS off
FROM c ORDER BY shard, bin, off, doc_id""")),

    // The README's promise as ONE runnable plan: the reference's
    // MEDALLION datamart (broadcast cross-join similarity → per-target
    // top-k + tie flag — the silver fact) feeding the modern curation
    // tail — exact-dedup survivors of the datamart's document
    // population → one salted md5 draw per doc for the 8/1/1 split →
    // per-(split, shard) sequence packing. Five subsystems, one
    // DataFrame expression: Catalyst prunes columns across the whole
    // lineage and no stage materializes an intermediate. Plan budget
    // pinned in PlanQualitySpec: the similarity side stays a broadcast
    // (zero shuffle), and the tail pays one exchange per repartitioning
    // stage only — composition adds no shuffle beyond the stages' own.
    Q("pipeline_e2e_medallion",
      (s, d) => {
        // 1: medallion silver — the datamart's document population.
        // Unordered facts (the ORDER BY would pay a mid-plan range
        // exchange), and ONE pass: both id roles explode out of the
        // same fact subtree instead of a self-union that plans the
        // whole similarity stage twice.
        val fact = SimilarityPipeline.tieFlagUnordered(
          SimilarityPipeline.pairs(s, d))
        val pop = fact
          .select(explode(array(col("target_id"), col("source_id"))).as("doc_id"))
          .distinct()
        // 2: exact-dedup survivors within that population
        val surv = Tables.documents(s, d)
          .join(pop, Seq("doc_id"), "left_semi")
          .withColumn("rn", row_number().over(
            Window.partitionBy("text").orderBy("doc_id")))
          .filter(col("rn") === 1)
          .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        // 3: one salted draw per doc decides its split (8/1/1) — no
        // global rank, so the split is embarrassingly parallel
        val assigned = surv
          .withColumn("draw", pmod(Sketches.h60(
            concat(lit("esplit_"), col("doc_id").cast("string"))), lit(10L)))
          .withColumn("split",
            when(col("draw") < 8, "train")
              .when(col("draw") === 8, "val")
              .otherwise("test"))
        // 4: per-(split, shard) sequence packing
        val wpack = Window.partitionBy("split", "shard")
          .orderBy(col("hkey").asc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, 0)
        assigned
          .withColumn("hkey", expr(hkeyExpr))
          .withColumn("shard", pmod(col("hkey"), lit(Shards.toLong)))
          .withColumn("start", sum("n_tokens").over(wpack) - col("n_tokens"))
          .withColumn("bin", floor(col("start") / 2048L).cast("long"))
          .withColumn("off", pmod(col("start"), lit(2048L)))
          .select("doc_id", "split", "shard", "n_tokens", "bin", "off")
          .orderBy("doc_id")
      },
      Some(s"""
WITH fact AS (SELECT * FROM (${SimilarityPipeline.topkTieFlagSql})),
pop AS (SELECT DISTINCT doc_id FROM (
  SELECT target_id AS doc_id FROM fact
  UNION ALL SELECT source_id AS doc_id FROM fact)),
docs AS (SELECT d.doc_id, d.text FROM documents d JOIN pop USING (doc_id)),
s1 AS (SELECT doc_id, text,
              row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
       FROM docs),
surv AS (SELECT doc_id, text,
                len(string_split(text, ' '))::BIGINT AS n_tokens
         FROM s1 WHERE rn = 1),
a AS (SELECT *, CAST(('0x' || substr(md5('esplit_' || doc_id::VARCHAR), 1, 15))
                AS BIGINT) % 10 AS draw
      FROM surv),
sp AS (SELECT doc_id, n_tokens,
              CASE WHEN draw < 8 THEN 'train'
                   WHEN draw = 8 THEN 'val'
                   ELSE 'test' END AS split,
              $sqlHkey AS hkey
       FROM a),
sh AS (SELECT *, hkey % $Shards AS shard FROM sp),
c AS (SELECT doc_id, split, shard, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY split, shard
                    ORDER BY hkey ASC, doc_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) - n_tokens AS start
      FROM sh)
SELECT doc_id, split, shard, n_tokens,
       CAST(floor(start / 2048.0) AS BIGINT) AS bin, start % 2048 AS off
FROM c ORDER BY doc_id""")),

    // Paragraph-level dedup (the CCNet/RefinedWeb within-corpus shape):
    // documents are cut into fixed 16-token chunks by pure ARRAY
    // expressions (transform+slice — codegen'd, no shuffle until the
    // chunk-hash aggregation), each chunk owned by the smallest doc_id
    // carrying it, and every other occurrence is dropped. Run over the
    // re-ingest corpus (every 10th doc re-arrives under a new id) so
    // redelivered documents lose all their chunks to the original. One
    // shuffle on chunk hash; cost ∝ corpus token count, never pairwise.
    Q("curation_paragraph_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val corpus = docs.union(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
        corpus
          .withColumn("toks", split(col("text"), " "))
          .withColumn("nch",
            greatest(ceil(size(col("toks")) / 16.0).cast("int"), lit(1)))
          .withColumn("chunk", explode(expr(
            "transform(sequence(0, nch - 1), i -> concat_ws(' ', slice(toks, i*16 + 1, 16)))")))
          .withColumn("h", expr("tok_hash(chunk)"))
          .withColumn("owner", min("doc_id").over(Window.partitionBy("h")))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("owner") =!= col("doc_id"), 1L).otherwise(0L))
              .as("n_dropped"))
          .orderBy("doc_id")
      },
      Some(s"""
WITH docs AS (SELECT doc_id, text FROM documents UNION ALL
              SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0),
t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM docs),
n AS (SELECT doc_id, toks,
             greatest(CAST(ceil(len(toks) / 16.0) AS BIGINT), 1) AS nch FROM t),
ch AS (SELECT doc_id,
              unnest(list_transform(range(0, nch),
                i -> array_to_string(toks[(i*16 + 1):(i*16 + 16)], ' '))) AS chunk
       FROM n),
h AS (SELECT doc_id, ${TextHash.sqlTokenHash("chunk")} AS hh FROM ch),
o AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY hh) AS owner FROM h)
SELECT doc_id, count(*) AS n_chunks,
       CAST(sum(CASE WHEN owner <> doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM o GROUP BY doc_id ORDER BY doc_id""")),

    // PII redaction: map-only regex scrub (emails, phone numbers) with
    // per-doc match counts — entirely inside whole-stage codegen, no
    // shuffle at all until the final presentation sort. The synthetic
    // corpus contains no organic PII, so a deterministic enrichment
    // stage plants one email per doc_id%7 doc and one phone per
    // doc_id%11 doc first; the scrub must then find exactly those.
    Q("curation_pii_redact",
      (s, d) => {
        val email = "[a-z0-9._]+@[a-z0-9.]+"
        val phone = "555-[0-9]{4}"
        Tables.documents(s, d)
          .withColumn("t", concat(col("text"),
            when(col("doc_id") % 7 === 0,
              concat(lit(" contact user"), col("doc_id").cast("string"),
                lit("@mail.example.com now"))).otherwise(lit("")),
            when(col("doc_id") % 11 === 0,
              concat(lit(" call 555-"),
                lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
                lit(" soon"))).otherwise(lit(""))))
          .select(col("doc_id"),
            size(regexp_extract_all(col("t"), lit(email), lit(0)))
              .cast("long").as("n_emails"),
            size(regexp_extract_all(col("t"), lit(phone), lit(0)))
              .cast("long").as("n_phones"),
            regexp_replace(regexp_replace(col("t"), email, "<EMAIL>"),
              phone, "<PHONE>").as("redacted"))
          .orderBy("doc_id")
      },
      Some("""
WITH e AS (SELECT doc_id,
  text || CASE WHEN doc_id % 7 = 0
               THEN ' contact user' || doc_id::VARCHAR || '@mail.example.com now'
               ELSE '' END
       || CASE WHEN doc_id % 11 = 0
               THEN ' call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' soon'
               ELSE '' END AS t
  FROM documents)
SELECT doc_id,
       len(regexp_extract_all(t, '[a-z0-9._]+@[a-z0-9.]+')) AS n_emails,
       len(regexp_extract_all(t, '555-[0-9]{4}')) AS n_phones,
       regexp_replace(regexp_replace(t, '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
                      '555-[0-9]{4}', '<PHONE>', 'g') AS redacted
FROM e ORDER BY doc_id""")),

    // Data-mixture assembly: target per-source weights (the "40% web,
    // 30% books…" recipe every training set is mixed to) turned into
    // per-source quotas over a fixed document budget, filled in salted-
    // hash order. The weights table is broadcast (it is always tiny);
    // one shuffle on source; per-source windows run partition-parallel;
    // a short source simply contributes everything it has.
    Q("curation_domain_mix",
      (s, d) => {
        import s.implicits._
        val weights = Seq(("src0", 0.4), ("src1", 0.3), ("src2", 0.2),
          ("src3", 0.1)).toDF("source", "wt")
        val w = Window.partitionBy("source")
          .orderBy(col("hkey").asc, col("doc_id").asc)
        Tables.documents(s, d)
          .withColumn("hkey", expr(hkeyExpr))
          .join(broadcast(weights), Seq("source"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= ceil(col("wt") * 200))
          .select("doc_id", "source", "rn")
          .orderBy("doc_id")
      },
      Some(s"""
WITH w(source, wt) AS (VALUES ('src0', 0.4), ('src1', 0.3), ('src2', 0.2), ('src3', 0.1)),
h AS (SELECT doc_id, source, $sqlHkey AS hkey FROM documents),
r AS (SELECT doc_id, h.source AS source, wt,
             row_number() OVER (PARTITION BY h.source ORDER BY hkey ASC, doc_id ASC) AS rn
      FROM h JOIN w ON h.source = w.source)
SELECT doc_id, source, rn FROM r WHERE rn <= ceil(wt * 200) ORDER BY doc_id""")),

    // Temperature-scaled mixture sampling — the multilingual/source
    // rebalancing knob (p_i ∝ share_i^(1/T)): T=1 keeps natural
    // proportions, T→∞ approaches uniform; T=2 here, so quotas follow
    // sqrt(corpus share), up-weighting tail sources the way
    // multilingual pretraining mixes do. Unlike curation_domain_mix's
    // FIXED weights, the quotas derive from the corpus itself: one
    // tiny per-source count aggregate → sqrt-share quota (rounded to
    // 6dp before ceil so the two engines' float sums cannot straddle
    // the integer boundary) → broadcast back → per-source hash-order
    // prefix. At 100 TB: the counts aggregate is map-side partial, the
    // quota table is |sources| rows, selection is the same per-source
    // window every sampler here uses — no global rank anywhere.
    Q("curation_temperature_mix",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val counts = docs.groupBy("source").agg(count(lit(1)).as("n"))
        val tot = counts.agg(sum(sqrt(col("n"))).as("z"))
        val quotas = counts.crossJoin(tot)
          .withColumn("quota",
            ceil(round(sqrt(col("n")) / col("z") * 200, 6)).cast("long"))
          .select("source", "quota")
        val w = Window.partitionBy("source")
          .orderBy(col("hkey").asc, col("doc_id").asc)
        docs.withColumn("hkey", expr(hkeyExpr))
          .join(broadcast(quotas), Seq("source"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= col("quota"))
          .select("doc_id", "source", "rn", "quota")
          .orderBy("doc_id")
      },
      Some(s"""
WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
z AS (SELECT sum(sqrt(n)) AS z FROM c),
q AS (SELECT source, CAST(ceil(round(sqrt(n) / z.z * 200, 6)) AS BIGINT) AS quota
      FROM c, z),
h AS (SELECT doc_id, source, $sqlHkey AS hkey FROM documents),
r AS (SELECT doc_id, h.source AS source, quota,
             CAST(row_number() OVER (PARTITION BY h.source
                    ORDER BY hkey ASC, doc_id ASC) AS BIGINT) AS rn
      FROM h JOIN q ON h.source = q.source)
SELECT doc_id, source, rn, quota FROM r WHERE rn <= quota ORDER BY doc_id""")),

    // Multi-epoch upsampling — the data-constrained mixing knob
    // (repeat high-value sources ~N epochs, Muennighoff-style) as a
    // deterministic fan-out: per-source epoch factors with FRACTIONAL
    // parts (src1 = 2.5 epochs), whole epochs explode per doc, and the
    // fractional epoch admits exactly the docs whose uniform md5 draw
    // falls under the fraction — a pure function of doc_id, so the
    // repeated SET (not just its size) is oracle-checked, stable under
    // retries, and a factor edit never re-randomizes other sources.
    // Each emitted copy's shard is the doc's uniform base shard ROTATED
    // by its epoch ((h + epoch) mod Shards) — with reps ≤ factor < 8,
    // the copies of one document PROVABLY land on distinct shards
    // (independent per-copy draws would collide ~1/8 per pair), the
    // property that stops epoch repetition from turning into
    // per-partition duplicate hotspots downstream. At 100 TB:
    // broadcast factor table, map-only explode, zero shuffles.
    Q("curation_epoch_upsample",
      (s, d) => {
        import s.implicits._
        val f = Seq(("src0", 1L, 0L), ("src1", 2L, 500L),
          ("src2", 2L, 0L), ("src3", 3L, 250L))
          .toDF("source", "whole", "frac_pm")
        Tables.documents(s, d)
          .join(broadcast(f), Seq("source"))
          .withColumn("draw", pmod(Sketches.h60(
            concat(lit("epoch_"), col("doc_id").cast("string"))),
            lit(1000L)))
          .withColumn("reps",
            col("whole") + (col("draw") < col("frac_pm")).cast("long"))
          .select(col("doc_id"), col("source"),
            explode(sequence(lit(0L), col("reps") - 1L)).as("epoch"))
          .withColumn("shard", pmod(Sketches.h60(
            concat(lit("eposh_"), col("doc_id").cast("string")))
            + col("epoch"), lit(8L)))
          .orderBy("doc_id", "epoch")
      },
      Some("""
WITH f(source, whole, frac_pm) AS (
  VALUES ('src0', 1, 0), ('src1', 2, 500), ('src2', 2, 0), ('src3', 3, 250)),
r AS (
  SELECT doc_id, d.source AS source,
    whole + CASE WHEN CAST(('0x' || substr(md5('epoch_' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < frac_pm
            THEN 1 ELSE 0 END AS reps
  FROM documents d JOIN f ON d.source = f.source),
e AS (
  SELECT doc_id, source, CAST(ep AS BIGINT) AS epoch
  FROM r, UNNEST(range(0, reps)) AS u(ep))
SELECT doc_id, source, epoch,
  (CAST(('0x' || substr(md5('eposh_' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + epoch) % 8 AS shard
FROM e ORDER BY doc_id, epoch""")),

    // Quality filter STACK — the gate order a production curation
    // pipeline actually runs (cheapest-first, each stage seeing only
    // survivors-in-spirit): surface heuristics, then bigram-LM
    // perplexity, then the model classifier. drop_reason records the
    // FIRST failing gate (fixed precedence, so the report is
    // deterministic and the per-gate attrition is one groupBy away);
    // docs too short to have bigrams pass the LM gate by definition
    // (NULL comparison is false — both engines). All three signals are
    // the registered operators' own exposed subtrees, so this query is
    // pure composition: the only new work is two doc-keyed joins. At
    // 100 TB the heuristic+classifier sides are map-only and the LM
    // side is the text_ngram_lm_score plan — nothing here adds a
    // shuffle beyond the joins' doc_id exchanges.
    Q("curation_quality_ensemble",
      (s, d) => {
        val heur = TextAnalysis.qualityScored(s, d)
          .select(col("doc_id"), col("quality"))
        val lm = TextAnalysis.lmScored(s, d)
          .select(col("doc_id"), col("lm_score"))
        val cls = TextAnalysis.classifierScored(s, d)
          .select(col("doc_id"), col("score").as("cls_score"))
        heur.join(lm, Seq("doc_id"), "left")
          .join(cls, Seq("doc_id"), "left")
          .withColumn("drop_reason",
            when(col("quality") < 0.33, "heuristic")
              .when(col("lm_score") < -3.47, "lm")
              .when(col("cls_score") < 0.52, "classifier"))
          .withColumn("keep", col("drop_reason").isNull)
          .select(col("doc_id"), col("quality"), col("lm_score"),
            col("cls_score"), col("keep"), col("drop_reason"))
          .orderBy("doc_id")
      },
      Some(s"""
WITH ${TextAnalysis.sqlLmScored},
${TextAnalysis.sqlClassifierScored},
heur AS (${TextAnalysis.sqlQualityScored}),
j AS (SELECT h.doc_id, h.quality, lm.lm_score, cls.score AS cls_score
      FROM heur h LEFT JOIN lm ON h.doc_id = lm.doc_id
      LEFT JOIN cls ON h.doc_id = cls.doc_id),
g AS (SELECT doc_id, quality, lm_score, cls_score,
        CASE WHEN quality < 0.33 THEN 'heuristic'
             WHEN lm_score < -3.47 THEN 'lm'
             WHEN cls_score < 0.52 THEN 'classifier' END AS drop_reason
      FROM j)
SELECT doc_id, quality, lm_score, cls_score,
       drop_reason IS NULL AS keep, drop_reason
FROM g ORDER BY doc_id""")),

    // Dataset card — the per-source datasheet a curated corpus ships
    // with (docs/tokens/chars, language share, quality quartiles,
    // classifier keep-rate), assembled as ONE report query from the
    // registered operators' own subtrees. Quartiles are exact
    // nearest-rank (the winsorize/m6 rule — no interpolation, no
    // engine-private percentile), ranked under the total (quality,
    // doc_id) order. At 100 TB everything here is a per-source
    // aggregate: one scan for counts, one window+rollup for quartiles,
    // the map-only classifier — report cost is O(corpus), output is
    // |sources| rows.
    Q("curation_dataset_card",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val base = docs.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).cast("long").as("n_tokens"),
          sum("n_chars").as("n_chars"),
          sum((col("lang") === "en").cast("long")).as("n_en"))
        val w = Window.partitionBy("source").orderBy("quality", "doc_id")
        val quart = TextAnalysis.qualityScored(s, d)
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
          .groupBy("source").agg(
            max(when(col("rn") === ceil(col("n") * 0.25), col("quality")))
              .as("q25"),
            max(when(col("rn") === ceil(col("n") * 0.50), col("quality")))
              .as("q50"),
            max(when(col("rn") === ceil(col("n") * 0.75), col("quality")))
              .as("q75"))
        val keep = TextAnalysis.classifierScored(s, d)
          .join(docs.select("doc_id", "source"), "doc_id")
          .groupBy("source")
          .agg(sum((col("score") >= 0.5).cast("long")).as("n_keep"))
        base.join(quart, "source").join(keep, "source")
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("n_chars"),
            round(col("n_en") / col("n_docs"), 6).as("pct_en"),
            col("q25"), col("q50"), col("q75"),
            round(col("n_keep") / col("n_docs"), 6).as("keep_rate"))
          .orderBy("source")
      },
      Some(s"""
WITH ${TextAnalysis.sqlClassifierScored},
hq AS (${TextAnalysis.sqlQualityScored}),
base AS (
  SELECT source, count(*) AS n_docs,
         sum(len(string_split(text, ' '))) AS n_tokens,
         sum(n_chars) AS n_chars,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_en
  FROM documents GROUP BY source),
r AS (SELECT source, quality,
        row_number() OVER (PARTITION BY source ORDER BY quality, doc_id) AS rn,
        count(*) OVER (PARTITION BY source) AS n
      FROM hq),
quart AS (SELECT source,
    max(CASE WHEN rn = ceil(n * 0.25) THEN quality END) AS q25,
    max(CASE WHEN rn = ceil(n * 0.50) THEN quality END) AS q50,
    max(CASE WHEN rn = ceil(n * 0.75) THEN quality END) AS q75
  FROM r GROUP BY source),
keep AS (SELECT d.source AS source,
           sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS n_keep
         FROM cls JOIN documents d ON cls.doc_id = d.doc_id
         GROUP BY d.source)
SELECT base.source AS source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(base.n_chars AS BIGINT) AS n_chars,
       round(n_en / n_docs, 6) AS pct_en, q25, q50, q75,
       round(n_keep / n_docs, 6) AS keep_rate
FROM base JOIN quart ON base.source = quart.source
JOIN keep ON base.source = keep.source
ORDER BY source""")),

    // Bloom-style decontamination: the held-out (source='src3') shingle
    // set is compressed to the SET BITS of a k=3, m=4096 Bloom filter —
    // a table of at most m rows that broadcasts trivially, where the
    // full held-out shingle dictionary would not at 100 TB. A training
    // shingle is flagged iff ALL k of its bit positions are set (the
    // standard Bloom false-positive semantics, deterministically
    // mirrored by the oracle). The flagged set is a SUPERSET of true
    // overlaps — the cheap first pass whose hits feed the exact
    // verification join (curation_decontam_overlap) over a corpus
    // fraction instead of the whole corpus.
    Q("curation_bloom_decontam",
      (s, d) => {
        val m = 4096
        val seeds = 0 until 3
        val docs = Dedup.docShingles(s, d)
        val held = docs.filter(col("source") === "src3")
          .select(explode(col("shs")).as("sh")).distinct()
        val bits = held.select(explode(array(seeds.map(k =>
            pmod(expr(s"tok_hash(concat('bloom${k}_', sh))"), lit(m.toLong)))
          : _*)).as("bit")).distinct()
        val trpost = docs.filter(col("source") =!= "src3")
          .select(col("doc_id").as("train_id"), explode(col("shs")).as("sh"))
          .distinct()
        val cand = trpost.select(col("train_id"), col("sh"),
          explode(array(seeds.map(k => struct(lit(k).as("k"),
            pmod(expr(s"tok_hash(concat('bloom${k}_', sh))"), lit(m.toLong))
              .as("bit"))): _*)).as("kb"))
          .select(col("train_id"), col("sh"), col("kb.k"), col("kb.bit"))
        cand.join(broadcast(bits), Seq("bit"), "left_semi")
          .groupBy("train_id", "sh").agg(count(lit(1)).as("n_set"))
          .filter(col("n_set") === seeds.size)
          .groupBy("train_id").agg(count(lit(1)).as("n_flagged"))
          .orderBy("train_id")
      },
      Some(s"""
WITH d AS (SELECT doc_id, source, ${Dedup.sqlShingles("text")} AS shs FROM documents),
held AS (SELECT DISTINCT unnest(shs) AS sh FROM d WHERE source = 'src3'),
seeds(k) AS (VALUES (0), (1), (2)),
bits AS (SELECT DISTINCT ${TextHash.sqlTokenHash("'bloom' || k::VARCHAR || '_' || sh")} % 4096 AS bit
         FROM held CROSS JOIN seeds),
trp0 AS (SELECT doc_id AS train_id, unnest(shs) AS sh FROM d WHERE source <> 'src3'),
trp AS (SELECT DISTINCT train_id, sh FROM trp0),
cand AS (SELECT train_id, sh, k,
                ${TextHash.sqlTokenHash("'bloom' || k::VARCHAR || '_' || sh")} % 4096 AS bit
         FROM trp CROSS JOIN seeds),
hit AS (SELECT train_id, sh FROM cand JOIN bits USING (bit)
        GROUP BY train_id, sh HAVING count(*) = 3)
SELECT train_id, count(*) AS n_flagged FROM hit GROUP BY train_id ORDER BY train_id""")),

    // Per-domain quality gate: keep documents at or above their OWN
    // source's median quality — the standard curation move when corpus
    // quality varies by provenance (a web-crawl source's median is not
    // a books source's). Exact rank-based percentile (the a13 pattern:
    // row_number vs ceil(n*q) — identical in both engines, unlike
    // engine-specific interpolation); thresholds collapse to ONE ROW
    // PER SOURCE and broadcast back, so the gate itself is map-side.
    // The rank window shuffles by source once — at 100 TB with a
    // mega-source, swap the exact rank for a t-digest/approx quantile
    // sketch (same one-row-per-source output, no full sort); the gate
    // plan is unchanged.
    Q("curation_quality_percentile_filter",
      (s, d) => {
        val scored = TextAnalysis.qualityScored(s, d)
        val w = Window.partitionBy("source")
          .orderBy(col("quality").asc, col("doc_id").asc)
        val wAll = Window.partitionBy("source")
        val thr = scored
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(wAll))
          .groupBy("source")
          .agg(min(when(col("rn") === ceil(col("n") * 0.5), col("quality")))
            .as("q50"))
        scored.join(broadcast(thr), Seq("source"))
          .filter(col("quality") >= col("q50"))
          .select("doc_id", "source", "quality", "q50")
          .orderBy("doc_id")
      },
      Some(s"""
WITH sc AS (${TextAnalysis.sqlQualityScored}),
r AS (SELECT doc_id, source, quality,
        row_number() OVER (PARTITION BY source
                           ORDER BY quality ASC, doc_id ASC) AS rn,
        count(*) OVER (PARTITION BY source) AS n
      FROM sc),
thr AS (SELECT source,
          min(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN quality END) AS q50
        FROM r GROUP BY source)
SELECT sc.doc_id, sc.source, sc.quality, thr.q50
FROM sc JOIN thr ON sc.source = thr.source
WHERE sc.quality >= thr.q50
ORDER BY sc.doc_id""")),

    // Deterministic stratified train/val/test split — 80/10/10 WITHIN
    // each source, assignment by salted-hash rank (never rand()): the
    // same corpus always splits identically, adding a source never
    // reshuffles another source's split, and eval contamination by
    // provenance imbalance is ruled out by construction. Rank
    // thresholds give exact per-source proportions (a pure mod-hash
    // split only approximates them); one shuffle on source, the rest
    // is a per-stratum window.
    Q("curation_train_val_test_split",
      (s, d) => {
        val w = Window.partitionBy("source")
          .orderBy(col("hkey").asc, col("doc_id").asc)
        val wAll = Window.partitionBy("source")
        Tables.documents(s, d)
          .withColumn("hkey", expr(hkeyExpr))
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(wAll))
          .withColumn("split",
            when(col("rn") <= ceil(col("n") * 0.8), "train")
              .when(col("rn") <= ceil(col("n") * 0.9), "val")
              .otherwise("test"))
          .select("doc_id", "source", "split")
          .orderBy("doc_id")
      },
      Some(s"""
WITH h AS (SELECT doc_id, source, $sqlHkey AS hkey FROM documents),
r AS (SELECT doc_id, source,
        row_number() OVER (PARTITION BY source ORDER BY hkey ASC, doc_id ASC) AS rn,
        count(*) OVER (PARTITION BY source) AS n
      FROM h)
SELECT doc_id, source,
       CASE WHEN rn <= ceil(n * 0.8) THEN 'train'
            WHEN rn <= ceil(n * 0.9) THEN 'val'
            ELSE 'test' END AS split
FROM r ORDER BY doc_id""")),

    // Leakage-safe split — the eval-integrity fix the plain split
    // cannot provide: if two near-duplicate documents land on opposite
    // sides of a train/test boundary, the model is scored on its own
    // training data. Assignment is therefore per NEAR-DUP CLUSTER, not
    // per document: verified MinHash pairs → connected components →
    // one md5-hash draw per cluster id decides the whole cluster's
    // split (8/1/1), so a cluster cannot straddle splits BY
    // CONSTRUCTION. The draw is the same salted-md5 uniform hash the
    // weighted sampler uses (mod-hash, not a global rank — at corpus
    // scale a rank over every cluster is a global sort for proportions
    // that concentrate anyway; singleton clusters dominate, so doc
    // proportions track cluster proportions). Cost on top of the
    // clustering: one distinct + map-side hash + one join back on the
    // cluster key. The oracle recomputes the identical clustering via
    // recursive CTE and the identical draw in DuckDB's md5.
    Q("curation_leakage_safe_split",
      (s, d) => {
        val clusters = Dedup.labelPropagation(s,
          Dedup.minhashVerifiedPairs(s, d).select("i", "j"),
          Tables.documents(s, d))
        val assign = clusters.select("cluster").distinct()
          .withColumn("draw",
            pmod(Sketches.h60(
              concat(lit("lsplit_"), col("cluster").cast("string"))),
              lit(10L)))
          .withColumn("split",
            when(col("draw") < 8, "train")
              .when(col("draw") === 8, "val")
              .otherwise("test"))
          .select("cluster", "split")
        clusters.join(assign, "cluster")
          .select("doc_id", "cluster", "split")
          .orderBy("doc_id")
      },
      Some("WITH RECURSIVE " + Dedup.minhashCtesBody + """,
und AS (SELECT i AS a, j AS b FROM verified
        UNION ALL SELECT j AS a, i AS b FROM verified),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.id, und.b FROM reach JOIN und ON reach.r = und.a
),
clusters AS (SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id),
assign AS (
  SELECT cluster,
         CAST(('0x' || substr(md5('lsplit_' || cluster::VARCHAR), 1, 15))
              AS BIGINT) % 10 AS draw
  FROM (SELECT DISTINCT cluster FROM clusters))
SELECT c.doc_id, c.cluster,
       CASE WHEN a.draw < 8 THEN 'train'
            WHEN a.draw = 8 THEN 'val'
            ELSE 'test' END AS split
FROM clusters c JOIN assign a ON c.cluster = a.cluster
ORDER BY c.doc_id""")),

    // Negative sampling for contrastive training — every embedding
    // model's data prep needs (anchor, negative) pairs that are
    // deterministic (reproducible epochs), collision-free (a doc never
    // draws itself), and cheap at corpus scale. The classic trick,
    // re-expressed declaratively: arrange the corpus on a salted-hash
    // RING (random order, but a fixed permutation), and give each
    // anchor its j·17-th ring successors — one equi-join on ring
    // position, no rand(), no rejection loop. Distinct strides mod n
    // make the 4 draws distinct; the hash ring makes them
    // pseudo-random. cross_source flags the (majority) draws that
    // cross provenance — the consumer's hard/easy negative split.
    // The ring position IS the o5 two-phase offset rank
    // (globalRowNumber — no corpus-sized single-task window), and the
    // join co-partitions on position.
    Q("curation_negative_pairs",
      (s, d) => {
        val pins = scala.collection.mutable
          .Buffer.empty[org.apache.spark.sql.DataFrame]
        val out = negativePairsUnreleased(s, d, pins)
        graft.Caching.releasing(s, pins.toSeq: _*)(out)
      },
      Some("""
WITH ring AS (
  SELECT doc_id, source,
         row_number() OVER (
           ORDER BY CAST(('0x' || substr(md5('ring_' || doc_id::VARCHAR), 1, 15))
                         AS BIGINT) ASC, doc_id ASC) - 1 AS pos,
         count(*) OVER () AS n
  FROM documents),
a AS (SELECT doc_id AS anchor_id, source AS a_source, pos, n, j
      FROM ring CROSS JOIN generate_series(1, 4) AS t(j)
      WHERE doc_id % 20 = 0)
SELECT a.anchor_id, a.j, r2.doc_id AS neg_id,
       (a.a_source <> r2.source) AS cross_source
FROM a JOIN ring r2 ON (a.pos + a.j * 17) % a.n = r2.pos
ORDER BY anchor_id, j""")),

    // Normalization-aware exact dedup: lowercase, strip punctuation,
    // collapse whitespace, THEN group — catches the trivially-
    // obfuscated exact dups (case flips, punctuation edits, double
    // spaces) that byte-exact dedup misses while staying one
    // hash-groupBy shuffle, no pair generation. The fixture is the
    // dedup family's re-ingest scenario with the obfuscation applied:
    // every 10th document re-arrives under a new id UPPERCASED with
    // trailing punctuation — invisible to dedup_exact's byte-equality,
    // caught here by construction. The normalized string never leaves
    // the aggregation key; survivors keep the min doc_id (the same
    // canonical rule as the near-dup survivor selection).
    Q("curation_exact_dedup_normalized",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val corpus = docs.union(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 200000).as("doc_id"),
            concat(upper(col("text")), lit(" !!")).as("text")))
        corpus
          .withColumn("norm", trim(
            regexp_replace(
              regexp_replace(lower(col("text")), "[.!?,;:]", ""),
              " +", " ")))
          .groupBy("norm")
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .filter(col("n_copies") > 1)
          .select("keep_id", "n_copies")
          .orderBy("keep_id")
      },
      Some("""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, upper(text) || ' !!' AS text
  FROM documents WHERE doc_id % 10 = 0),
n AS (SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[.!?,;:]', '', 'g'),
                                 ' +', ' ', 'g')) AS norm
      FROM corpus)
SELECT min(doc_id) AS keep_id, count(*) AS n_copies
FROM n GROUP BY norm HAVING count(*) > 1 ORDER BY keep_id""")),

    // Winsorization (beyond the ∅-list): clamp outliers at exact
    // per-group nearest-rank percentiles (p05/p95 via a13's technique)
    // instead of dropping them — the robust-statistics cleaning step
    // for value columns feeding training. Thresholds are one tiny
    // broadcast; the clamp is map-only; the report is an exact decimal
    // checksum per group so the oracle pins every clamped value.
    Q("curation_winsorize",
      (s, d) => {
        val ev = graft.Tables.events(s, d)
        val w = Window.partitionBy("event_type")
          .orderBy(col("value").asc, col("event_id").asc)
        val wAll = Window.partitionBy("event_type")
        val thr = ev
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(wAll))
          .groupBy("event_type")
          .agg(
            min(when(col("rn") === ceil(col("n") * 0.05), col("value")))
              .as("p05"),
            min(when(col("rn") === ceil(col("n") * 0.95), col("value")))
              .as("p95"))
        ev.join(broadcast(thr), "event_type")
          .withColumn("clamped",
            least(greatest(col("value"), col("p05")), col("p95")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            count(when(col("value") < col("p05") ||
              col("value") > col("p95"), 1)).as("n_clamped"),
            sum(col("clamped").cast("decimal(18,2)")).cast("double")
              .as("clamped_sum"))
          .orderBy("event_type")
      },
      Some("""
WITH r AS (SELECT event_type, event_id, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value ASC, event_id ASC) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM events),
thr AS (SELECT event_type,
          min(CASE WHEN rn = CAST(ceil(n * 0.05) AS BIGINT) THEN value END) AS p05,
          min(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT) THEN value END) AS p95
        FROM r GROUP BY event_type)
SELECT event_type, count(*) AS n,
       count(CASE WHEN value < p05 OR value > p95 THEN 1 END) AS n_clamped,
       CAST(sum(CAST(least(greatest(value, p05), p95) AS DECIMAL(18,2)))
            AS DOUBLE) AS clamped_sum
FROM events JOIN thr USING (event_type)
GROUP BY event_type ORDER BY event_type""")),

    // Overlapping document chunking — the context-window prep step
    // (RAG indexing, long-doc training): each document splits into
    // 50-token chunks on a 40-token stride (10 tokens of overlap so no
    // boundary loses context). Pure map-side fan-out: tokenize once,
    // explode the stride grid, slice — no shuffle at all until the
    // presentation sort, so at 100 TB this is a single pass that
    // parallelizes per input split. Chunks are identified by
    // (doc_id, chunk_idx) and content-addressed with the portable
    // rolling hash, ready to feed the dedup/embedding stages.
    Q("curation_chunk_overlap",
      (s, d) => {
        val C = 50
        val S = 40
        Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .withColumn("n_tokens", size(col("toks")).cast("long"))
          .withColumn("start",
            explode(sequence(lit(0),
              greatest(col("n_tokens") - 1, lit(0L)).cast("int"), lit(S))))
          .withColumn("chunk",
            array_join(slice(col("toks"), col("start") + 1, lit(C)), " "))
          .select(col("doc_id"),
            expr(s"start div $S").cast("long").as("chunk_idx"),
            least(col("n_tokens") - col("start"), lit(C.toLong))
              .as("chunk_tokens"),
            expr("tok_hash(chunk)").as("chunk_hash"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some(s"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
x AS (SELECT doc_id, toks, len(toks)::BIGINT AS n,
             unnest(range(0, greatest(len(toks), 1), 40)) AS start
      FROM t)
SELECT doc_id, (start // 40)::BIGINT AS chunk_idx,
       least(n - start, 50)::BIGINT AS chunk_tokens,
       ${TextHash.sqlTokenHash("array_to_string(toks[start+1:start+50], ' ')")} AS chunk_hash
FROM x ORDER BY doc_id, chunk_idx""")),

    // Curriculum ordering — the training-schedule operator: documents
    // serve easy-to-hard (quality-descending quartile STAGES), shuffled
    // WITHIN each stage by the salted reproducible-shuffle hash so a
    // stage never replays in corpus order. Stage boundaries are exact
    // integer rank arithmetic (((rn-1)*4) div n + 1 — no percentile
    // interpolation), the within-stage order is the md5-family hkey,
    // and curriculum_rank is the global serve position. The output IS
    // a total order — and BOTH ranks run through globalRowNumber (the
    // o5 two-phase offset rank: range-repartition, number within
    // partitions, add broadcast offsets), so no corpus-sized window
    // ever lands in one task; the oracle keeps the plain window form,
    // which is rank-identical because the sort keys are total orders.
    Q("curation_curriculum_order",
      (s, d) => {
        val pins = scala.collection.mutable
          .Buffer.empty[org.apache.spark.sql.DataFrame]
        val out = curriculumOrderUnreleased(s, d, pins)
        graft.Caching.releasing(s, pins.toSeq: _*)(out)
      },
      Some(s"""
WITH q AS (${TextAnalysis.sqlQualityScored}),
nn AS (SELECT count(*) AS n FROM q),
r AS (SELECT doc_id, quality,
             row_number() OVER (ORDER BY quality DESC, doc_id ASC) AS rn
      FROM q),
st AS (SELECT doc_id, quality,
              CAST(((rn - 1) * 4) // nn.n + 1 AS BIGINT) AS stage,
              $sqlHkey AS hkey
       FROM r, nn)
SELECT doc_id, quality, stage,
       CAST(row_number() OVER (ORDER BY stage ASC, hkey ASC, doc_id ASC)
            AS BIGINT) AS curriculum_rank
FROM st ORDER BY curriculum_rank""")),

    // Reservoir sample — a fixed-size uniform sample (k=100) without
    // replacement, as the order statistics of a salted md5 draw: keep
    // the k SMALLEST draws. Distribution-identical to reservoir
    // sampling but deterministic and MERGEABLE — each partition keeps
    // its local k smallest, the driver merges (TakeOrderedAndProject:
    // no global sort, no full shuffle), and two corpus halves' samples
    // merge into the whole corpus' sample by the same rule, which is
    // what makes the operator streamable and union-friendly at 100 TB.
    // The final rank window runs over exactly k rows.
    Q("curation_reservoir_sample",
      (s, d) => {
        val k = 100
        val wr = Window.orderBy(col("draw").asc, col("doc_id").asc)
        Tables.documents(s, d)
          .withColumn("draw",
            Sketches.h60(concat(lit("rsv_"), col("doc_id").cast("string"))))
          .select("doc_id", "source", "draw")
          .orderBy(col("draw").asc, col("doc_id").asc)
          .limit(k)
          .withColumn("sample_rank", row_number().over(wr).cast("long"))
      },
      Some("""
WITH drawn AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5('rsv_' || doc_id::VARCHAR), 1, 15))
              AS BIGINT) AS draw
  FROM documents)
SELECT doc_id, source, draw,
       CAST(row_number() OVER (ORDER BY draw ASC, doc_id ASC) AS BIGINT)
         AS sample_rank
FROM drawn ORDER BY draw ASC, doc_id ASC LIMIT 100""")),

    // Per-source QUOTA sample — the balanced-eval-set operator neither
    // the global reservoir nor the fractional language-stratified
    // sample gives (a uniform corpus draw under-samples tail sources;
    // a 10% fraction over-samples giant ones): EXACTLY k docs per
    // source, as the k smallest salted md5 draws WITHIN each source —
    // per-stratum reservoir distribution, deterministic, and MERGEABLE
    // per stratum (min-k of a union = min-k of the halves' min-k's;
    // CurationSpec pins the law on corpus halves). One shuffle by
    // source; the only wide op is the per-stratum rank, bounded by the
    // largest source — at deployment scale a draw-threshold prefilter
    // (keep draws under a quantile chosen so expected survivors per
    // source ≫ k) bounds the ranked set first, the same trick as the
    // IVF probe cut; the exact form ships here because the fixture
    // strata are small.
    Q("curation_quota_sample",
      (s, d) => {
        val k = 20
        val wsrc = Window.partitionBy("source")
          .orderBy(col("draw").asc, col("doc_id").asc)
        Tables.documents(s, d)
          .withColumn("draw",
            Sketches.h60(concat(lit("strat_"), col("doc_id").cast("string"))))
          .select("doc_id", "source", "draw")
          .withColumn("sample_rank", row_number().over(wsrc).cast("long"))
          .filter(col("sample_rank") <= k)
          .orderBy("source", "sample_rank")
      },
      Some("""
WITH drawn AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5('strat_' || doc_id::VARCHAR), 1, 15))
              AS BIGINT) AS draw
  FROM documents)
SELECT doc_id, source, draw, sample_rank FROM (
  SELECT doc_id, source, draw,
         CAST(row_number() OVER (PARTITION BY source
           ORDER BY draw ASC, doc_id ASC) AS BIGINT) AS sample_rank
  FROM drawn)
WHERE sample_rank <= 20 ORDER BY source, sample_rank""")),

    // 13-gram span decontamination — the GPT-3/PaLM-style benchmark
    // scrub at SPAN grain: curation_decontam_overlap flags whole
    // documents; this one locates the exact contaminated windows so a
    // mostly-clean doc is trimmed, not discarded. Every 13-token gram
    // of the held-out set (source='src3') becomes a full 128-bit md5
    // key (same equi-join plan as a truncated key, and at 100 TB the
    // train-gram x benchmark-gram probe count makes 64-bit collisions
    // expected while 128-bit stays negligible — a collision here is a
    // false contamination span that can flip a clean doc to 'drop');
    // train docs mark positions whose gram hits that set; marked
    // positions stitch into maximal spans by the substring-span
    // gaps-and-islands rule (gap ≤ K merges). Output = one row per
    // span + per-doc contamination fraction + the drop-vs-trim verdict
    // (drop past 20% contaminated). Scale shape: the benchmark gram
    // set is benchmark-sized, BROADCAST against the train corpus — the
    // train side never shuffles for the probe; the only wide ops are
    // the distinct on the (small) test grams and the per-doc window
    // over MATCHED positions only (hits, not the corpus).
    Q("curation_ngram_decontam_spans",
      (s, d) => {
        val K = 13
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            split(col("text"), " ").as("toks"))
          .withColumn("n", size(col("toks")))
        def grams(df: DataFrame) = df
          .filter(col("n") >= K)
          .select(col("doc_id"),
            explode(sequence(lit(0), col("n") - K)).as("i"), col("toks"))
          .withColumn("gkey", md5(concat_ws(" ",
            slice(col("toks"), col("i") + 1, lit(K)))))
          .select("doc_id", "i", "gkey")
        val testKeys = grams(docs.filter(col("source") === "src3"))
          .select("gkey").distinct()
        val covered = grams(docs.filter(col("source") =!= "src3"))
          .join(broadcast(testKeys), "gkey")
          .select("doc_id", "i")
        val w = Window.partitionBy("doc_id").orderBy("i")
        val spans = covered
          .withColumn("brk",
            when(col("i") - lag("i", 1).over(w) <= K, 0).otherwise(1))
          .withColumn("sid", sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("doc_id", "sid")
          .agg(min("i").as("st"), (max("i") + K - 1).as("en"))
        val perDoc = spans.groupBy("doc_id")
          .agg(sum(col("en") - col("st") + 1).cast("long").as("contam_tokens"))
        spans.join(perDoc, "doc_id")
          .join(docs.select(col("doc_id"), col("n").cast("long").as("n_tokens")),
            "doc_id")
          .withColumn("contam_frac",
            round(col("contam_tokens").cast("double") / col("n_tokens"), 6))
          .withColumn("action",
            when(col("contam_frac") > 0.2, lit("drop")).otherwise(lit("trim_span")))
          .select(col("doc_id"), col("st").cast("long").as("span_start"),
            col("en").cast("long").as("span_end"), col("contam_tokens"),
            col("n_tokens"), col("contam_frac"), col("action"))
          .orderBy("doc_id", "span_start")
      },
      Some("""
WITH dn AS (SELECT doc_id, source, string_split(text, ' ') AS t,
                   len(string_split(text, ' ')) AS n
            FROM documents),
testg AS (SELECT DISTINCT md5(list_aggregate(t[i+1:i+13],
                 'string_agg', ' ')) AS gkey
          FROM dn, unnest(range(0, n - 12)) AS u(i)
          WHERE source = 'src3' AND n >= 13),
traing AS (SELECT doc_id, i, md5(list_aggregate(t[i+1:i+13],
                  'string_agg', ' ')) AS gkey
           FROM dn, unnest(range(0, n - 12)) AS u(i)
           WHERE source <> 'src3' AND n >= 13),
cov AS (SELECT doc_id, i FROM traing JOIN testg USING (gkey)),
brk AS (SELECT doc_id, i,
               CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 13
                    THEN 0 ELSE 1 END AS brk
        FROM cov),
sid AS (SELECT doc_id, i,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS sid
        FROM brk),
spans AS (SELECT doc_id, sid, min(i) AS st, max(i) + 12 AS en
          FROM sid GROUP BY doc_id, sid),
perdoc AS (SELECT doc_id, sum(en - st + 1) AS contam_tokens
           FROM spans GROUP BY doc_id)
SELECT s.doc_id AS doc_id, CAST(s.st AS BIGINT) AS span_start,
       CAST(s.en AS BIGINT) AS span_end,
       CAST(p.contam_tokens AS BIGINT) AS contam_tokens,
       CAST(dn.n AS BIGINT) AS n_tokens,
       round(p.contam_tokens::DOUBLE / dn.n, 6) AS contam_frac,
       CASE WHEN round(p.contam_tokens::DOUBLE / dn.n, 6) > 0.2
            THEN 'drop' ELSE 'trim_span' END AS action
FROM spans s JOIN perdoc p ON s.doc_id = p.doc_id
             JOIN dn ON s.doc_id = dn.doc_id
ORDER BY doc_id, span_start""")),

    // Cluster-safe k-fold cross-validation — curation_leakage_safe_split
    // generalized from one 8/1/1 draw to a 5-fold ROTATION: the fold id
    // is one md5 draw per NEAR-DUP CLUSTER (verified MinHash pairs →
    // connected components), so in every rotation r (train = folds ≠ r,
    // eval = fold r) a near-dup pair still cannot straddle the
    // boundary — the leakage guarantee CV inherits by assigning at
    // cluster grain, which per-doc fold hashing silently loses. Same
    // scale shape as the split: the expensive part is the pair
    // verification the dedup family already runs; folding is one draw
    // per cluster broadcast back.
    Q("curation_crossval_folds",
      (s, d) => {
        val clusters = Dedup.labelPropagation(s,
          Dedup.minhashVerifiedPairs(s, d).select("i", "j"),
          Tables.documents(s, d))
        val assign = clusters.select("cluster").distinct()
          .withColumn("fold",
            pmod(Sketches.h60(
              concat(lit("cvfold_"), col("cluster").cast("string"))),
              lit(5L)))
          .select("cluster", "fold")
        clusters.join(assign, "cluster")
          .select("doc_id", "cluster", "fold")
          .orderBy("doc_id")
      },
      Some("WITH RECURSIVE " + Dedup.minhashCtesBody + """,
und AS (SELECT i AS a, j AS b FROM verified
        UNION ALL SELECT j AS a, i AS b FROM verified),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.id, und.b FROM reach JOIN und ON reach.r = und.a
),
clusters AS (SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id),
assign AS (
  SELECT cluster,
         CAST(('0x' || substr(md5('cvfold_' || cluster::VARCHAR), 1, 15))
              AS BIGINT) % 5 AS fold
  FROM (SELECT DISTINCT cluster FROM clusters))
SELECT c.doc_id, c.cluster, a.fold
FROM clusters c JOIN assign a ON c.cluster = a.cluster
ORDER BY c.doc_id"""))
  )
}
