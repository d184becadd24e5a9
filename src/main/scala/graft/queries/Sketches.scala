package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Sketch aggregates (beyond the reference's ∅-list, SURVEY.md §2.4
  * extension): distinct-count and frequency estimation as ONE-PASS,
  * mergeable summaries — the shapes that replace exact DISTINCT /
  * per-key counts when 100 TB makes exactness a shuffle you can't
  * afford.
  *
  * Both sketches are DETERMINISTIC: every hash is a 60-bit integer
  * from an md5 prefix (portable across engines — DuckDB computes the
  * identical value), so unlike approx_count_distinct / approx
  * percentile the estimates themselves go through the driver's
  * hash-compare oracle gate. Spark's own HLL++ (approx_count_distinct)
  * is the production default; KMV here demonstrates the sketch
  * contract (bounded state, mergeable, error ~1/sqrt(k)) in
  * oracle-checkable form.
  *
  * Scale notes: both are classic map-side-combinable aggregates — the
  * shuffle carries at most (groups × k) hash values for KMV and
  * (d × w) counters for CMS, independent of input row count. That
  * boundedness is the entire point at 100 TB.
  */
object Sketches {

  /** 60-bit portable hash: md5 hex prefix → BIGINT. Identical in
    * DuckDB as CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT).
    */
  private[graft] def h60(c: Column): Column = {
    // the Md5H60 kernel: first 60 md5 bits straight to a long,
    // bit-equal to conv(substring(md5(s),1,15),16,10)::long (pinned by
    // Md5H60Spec) without the hex string, the substring copy, or
    // conv's per-row base-16 string parse — the top CPU item of the
    // sketch family's hashing passes.
    call_function("h60_f", c.cast("string"))
  }

  /** DuckDB spelling of [[h60]]. */
  private def h60Sql(expr: String): String =
    s"CAST(('0x' || substr(md5(CAST($expr AS VARCHAR)), 1, 15)) AS BIGINT)"

  private[graft] val K = 64 // KMV sketch size: ~12.5% standard error
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 256

  /** Count-min sketch of a `key` column: d×w counter cells. Additive in
    * the input — sketch(A ⊎ B) = sketch(A) + sketch(B) cell-wise
    * (SketchSpec proves it), which is what makes it map-side
    * combinable and cross-shard mergeable.
    */
  private[graft] def cmsSketch(items: DataFrame): DataFrame =
    cmsCells(items).groupBy("j", "bucket").agg(count(lit(1)).as("cnt"))

  /** The (key, j, bucket) hash cells behind [[cmsSketch]]. */
  private[graft] def cmsCells(items: DataFrame): DataFrame =
    items
      .select(col("key"), explode(sequence(lit(0), lit(CmsDepth - 1))).as("j"))
      .withColumn("bucket",
        pmod(h60(concat_ws(":", col("j"), col("key"))), lit(CmsWidth)))

  /** Sparse HLL register table for a (`source`, `key`) input: low 6
    * hash bits pick one of 64 registers, rho = leading zeros of the
    * remaining 54 bits + 1 (computed as position of the first '1' in
    * the zero-padded binary string — bin/lpad/instr behave identically
    * in DuckDB), register keeps the max rho. Sparse: buckets no key
    * hashed into are absent (callers scaffold zeros when estimating).
    * Merge law — regs(A ⊎ B) = per-bucket max of regs(A), regs(B) —
    * is pinned by SketchSpec.
    */
  private[graft] def hllRegs(keyed: DataFrame): DataFrame = {
    def rho(rest: Column): Column =
      when(rest === 0, lit(55))
        .otherwise(instr(lpad(bin(rest), 54, "0"), "1"))
    keyed
      .select(col("source"), h60(col("key")).as("h"))
      .select(col("source"),
        pmod(col("h"), lit(64L)).as("bucket"),
        shiftrightunsigned(col("h"), 6).as("rest"))
      .groupBy("source", "bucket")
      .agg(max(rho(col("rest"))).cast("long").as("rho"))
  }

  /** KMV state per group: the ≤ K smallest DISTINCT key hashes, ranked.
    * Merging two groups' states = the K smallest of their union
    * (SketchSpec proves it) — state is bounded by K per group at any
    * input size.
    */
  private[graft] def kmvState(grouped: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("grp").orderBy("h")
    grouped
      .select(col("grp"), h60(col("key")).as("h"))
      .distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
  }

  def qs: Seq[Q] = Seq(

    // KMV (k-minimum-values) distinct-count sketch, per group: keep
    // the k smallest distinct hash values; if the k-th smallest
    // normalized hash is u, the distinct count estimates to
    // (k-1) / u. Exact count alongside shows the error honestly.
    // Groups with fewer than k distinct values fall back to the exact
    // hash count (the sketch IS exact below saturation).
    Q("a15_kmv_distinct_sketch",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val ranked = kmvState(li
          .select(col("l_returnflag").as("grp"), col("l_partkey").as("key")))
        val est = ranked.groupBy("grp").agg(
          count(lit(1)).as("n_kept"),
          max(when(col("rn") === K, col("h"))).as("hk"))
          .select(col("grp"), col("n_kept"),
            round(when(col("n_kept") < K, col("n_kept").cast("double"))
              .otherwise(lit((K - 1).toDouble) * pow(lit(2.0), 60)
                / col("hk").cast("double")), 3).as("est_distinct"))
        val exact = li.groupBy(col("l_returnflag").as("grp"))
          .agg(countDistinct("l_partkey").as("exact_distinct"))
        est.join(exact, "grp").orderBy("grp")
      },
      Some(s"""
WITH hashed AS (
  SELECT DISTINCT l_returnflag AS grp, ${h60Sql("l_partkey")} AS h
  FROM lineitem),
ranked AS (
  SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
  FROM hashed),
est AS (
  SELECT grp, count(*) AS n_kept,
         round(CASE WHEN count(*) < $K THEN CAST(count(*) AS DOUBLE)
                    ELSE ${K - 1}.0 * pow(2.0, 60)
                         / CAST(max(CASE WHEN rn = $K THEN h END) AS DOUBLE)
               END, 3) AS est_distinct
  FROM ranked WHERE rn <= $K GROUP BY grp),
exact AS (
  SELECT l_returnflag AS grp, count(DISTINCT l_partkey) AS exact_distinct
  FROM lineitem GROUP BY l_returnflag)
SELECT est.grp AS grp, n_kept, est_distinct, exact_distinct
FROM est JOIN exact ON est.grp = exact.grp ORDER BY grp""")),

    // Count-min sketch: d=4 hash rows × w=256 counters, built in one
    // aggregate pass (explode the 4 row ids, hash (row:key), count per
    // cell). The frequency estimate for a key is the MIN over its 4
    // cells — always >= the true count, never under. Probing the
    // distinct supplier keys against the sketch alongside their exact
    // counts makes the overestimate visible and oracle-checked.
    Q("a16_countmin_sketch",
      (s, d) => {
        // hashing is map-side work on a narrow derived column: parquet
        // split count would cap its parallelism far below the cluster's,
        // so round-robin to the session's parallelism first
        val li = Tables.lineitem(s, d).select(col("l_suppkey").as("key"))
          .repartition(s.sparkContext.defaultParallelism)
        // ONE hashing pass (r14): the md5 cells used to be evaluated
        // twice (sketch groupBy + probes distinct) and the exact counts
        // re-scanned the input. Per-(key, j, bucket) counts give all
        // three — the sketch is their (j, bucket) roll-up (sum of
        // counts == count of rows), the probe set is their key side,
        // and a key's j=0 cell count IS its exact count (every row
        // contributes exactly one cell per hash row j).
        val cellCounts = cmsCells(li)
          .groupBy("key", "j", "bucket").agg(count(lit(1)).as("kc"))
        val sketch = cellCounts.groupBy("j", "bucket")
          .agg(sum("kc").as("cnt"))
        val estim = cellCounts
          .join(sketch, Seq("j", "bucket"))
          .groupBy("key").agg(min("cnt").as("cms_est"))
        val exact = cellCounts.filter(col("j") === 0)
          .select(col("key"), col("kc").as("exact_cnt"))
        estim.join(exact, "key")
          .select(col("key"), col("cms_est"), col("exact_cnt"),
            (col("cms_est") - col("exact_cnt")).as("overcount"))
          .orderBy("key")
      },
      Some(s"""
WITH items AS (SELECT l_suppkey AS key FROM lineitem),
cells AS (
  SELECT key, j,
         ${h60Sql("j || ':' || key")} % 256 AS bucket
  FROM items, UNNEST(range(0, 4)) AS t(j)),
sketch AS (SELECT j, bucket, count(*) AS cnt FROM cells GROUP BY j, bucket),
probes AS (
  SELECT DISTINCT key, j,
         ${h60Sql("j || ':' || key")} % 256 AS bucket
  FROM items, UNNEST(range(0, 4)) AS t(j)),
estim AS (
  SELECT key, min(cnt) AS cms_est
  FROM probes JOIN sketch USING (j, bucket) GROUP BY key),
exact AS (SELECT key, count(*) AS exact_cnt FROM items GROUP BY key)
SELECT key, cms_est, exact_cnt, cms_est - exact_cnt AS overcount
FROM estim JOIN exact USING (key) ORDER BY key""")),

    // Quantiles over a deterministic hash sample — the scale answer to
    // "exact percentiles need a per-group sort of everything" (a13):
    // keep rows whose portable 60-bit key hash lands under 20%, take
    // DISCRETE quantiles of the sample. The sample predicate is
    // row-local and engine-portable, so the sketch is trivially
    // MERGEABLE (sample(A ∪ B) = sample(A) ∪ sample(B) — a row-level
    // filter commutes with union, unlike a quantile) and stable under
    // resharding/retries; at 100 TB the sort shrinks 5×, and the rate
    // dials accuracy against cost. Estimates are oracle-hash-checked
    // exactly, like the KMV/CMS family above.
    Q("a19_sampled_quantiles",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("event_type")
          .orderBy(col("value").asc, col("event_id").asc)
        val wAll = Window.partitionBy("event_type")
        Tables.events(s, d)
          .filter(pmod(h60(col("event_id")), lit(100L)) < 20)
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(wAll))
          .groupBy("event_type")
          .agg(max("n").as("n_sample"),
            min(when(col("rn") === ceil(col("n") * 0.5), col("value"))).as("p50"),
            min(when(col("rn") === ceil(col("n") * 0.9), col("value"))).as("p90"),
            max("value").as("p100"))
          .orderBy("event_type")
      },
      Some(s"""
WITH smp AS (
  SELECT event_type, event_id, value FROM events
  WHERE ${h60Sql("event_id")} % 100 < 20),
r AS (SELECT event_type, value,
        row_number() OVER (PARTITION BY event_type
                           ORDER BY value ASC, event_id ASC) AS rn,
        count(*) OVER (PARTITION BY event_type) AS n
      FROM smp)
SELECT event_type, max(n) AS n_sample,
       min(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN value END) AS p50,
       min(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN value END) AS p90,
       max(value) AS p100
FROM r GROUP BY event_type ORDER BY event_type""")),

    // Heavy hitters by candidate-generation + verification: a bounded
    // Misra-Gries summary per partition nominates candidates, then ONE
    // semi-joined aggregation computes exact counts for just those
    // candidates. The guarantee makes the approximate stage invisible
    // in the answer: a token absent from partition i's summary has
    // local frequency <= n_i/(MgK+1), so a token absent from EVERY
    // summary has global frequency <= n/(MgK+1) < n/64 — the candidate
    // union is a proven superset of the true heavy hitters, and the
    // exact verification pass makes the final set exact (and therefore
    // oracle-checkable against plain GROUP BY/HAVING SQL). At 100 TB:
    // no full-vocabulary shuffle ever happens — the sketch pass is
    // map-only with <= MgK state per task, candidates (<= partitions x
    // MgK) broadcast back, and the count shuffle carries only rows
    // matching a candidate.
    Q("a20_heavy_hitters",
      (s, d) => {
        import s.implicits._
        val toks = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("token"))
        val cands = toks.as[String]
          .mapPartitions(it => misraGries(it, MgK))
          .toDF("token").distinct()
        val tot = toks.agg(count(lit(1)).as("n"))
        toks.join(broadcast(cands), Seq("token"))
          .groupBy("token").agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(tot))
          .filter(col("cnt") * 64 > col("n"))
          .select(col("token"), col("cnt"))
          .orderBy(desc("cnt"), col("token"))
      },
      Some("""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks)
SELECT token, CAST(count(*) AS BIGINT) AS cnt
FROM toks CROSS JOIN tot
GROUP BY token, tot.n
HAVING CAST(count(*) AS BIGINT) * 64 > tot.n
ORDER BY cnt DESC, token""")),

    // HyperLogLog register table, built portably: 60-bit md5 hash →
    // low 6 bits pick one of 64 registers, the remaining 54 bits'
    // leading-zero count (+1) is the rank, the register keeps the MAX
    // rank seen. Registers are the canonical mergeable distinct-count
    // state — merge(A, B) = per-register max, which the ALL row
    // demonstrates by merging the per-source registers (NOT re-scanning
    // the input; SketchSpec pins merged == direct). The estimate is the
    // standard alpha_64 * m^2 / sum(2^-r), carried in exact integer
    // form (denominator scaled by 2^55) so the oracle gate covers it;
    // the one double division is a single IEEE op, bit-identical across
    // engines. Spark's own approx_count_distinct is the production
    // default (same algorithm, tuned); this makes the state itself
    // oracle-checkable. At 100 TB the shuffle carries at most
    // (groups × 64) registers — input-size-independent, like KMV/CMS.
    Q("a22_hll_registers",
      (s, d) => {
        val m = 64
        val regs = hllRegs(Tables.documents(s, d)
          .select(col("source"), col("text").as("key")))
        // scaffold all 64 registers per source (empty register = 0 —
        // it still contributes 2^0 to the harmonic denominator)
        val scaffold = Tables.documents(s, d).select("source").distinct()
          .select(col("source"),
            explode(sequence(lit(0L), lit((m - 1).toLong))).as("bucket"))
        val full = scaffold.join(regs, Seq("source", "bucket"), "left")
          .withColumn("rho", coalesce(col("rho"), lit(0L)))
        // merged registers: per-bucket max ACROSS sources — the sketch
        // merge operation, never a rescan of the input
        val merged = full.groupBy("bucket")
          .agg(max("rho").as("rho"))
          .select(lit("ALL").as("source"), col("bucket"), col("rho"))
        val est = full.unionByName(merged)
          .groupBy("source")
          .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 55 - rho)")).as("denom_scaled"),
            sum(when(col("rho") > 0, 1L).otherwise(0L)).as("n_filled"))
          .withColumn("est_raw",
            expr("CAST(floor(0.709 * 4096 * 36028797018963968 / CAST(denom_scaled AS DOUBLE)) AS BIGINT)"))
          // small-range (linear counting) correction, per the HLL
          // paper: when the raw estimate is under 2.5m and empty
          // registers remain, m * ln(m / V) with V = empty registers
          // is the better estimator (the raw one overshoots badly for
          // n << m). ln() is the one libm call — same glibc in both
          // engines here; floor keeps the output integral.
          .withColumn("est_distinct", expr(
            """CASE WHEN est_raw <= 160 AND n_filled < 64
               THEN CAST(floor(64 * ln(64.0 / (64 - n_filled))) AS BIGINT)
               ELSE est_raw END"""))
        // exact comparison side: ONE scan (source and ALL rows via a
        // 2-element explode), and distinct over the md5 digest — the
        // distinct shuffle carries 32-hex keys, not document bodies
        val exact = Tables.documents(s, d)
          .select(explode(array(col("source"), lit("ALL"))).as("source"),
            md5(col("text")).as("k"))
          .groupBy("source").agg(countDistinct("k").as("exact_distinct"))
        est.join(exact, "source")
          .select("source", "n_filled", "denom_scaled", "est_distinct",
            "exact_distinct")
          .orderBy("source")
      },
      Some(s"""
WITH cells AS (
  SELECT source, ${h60Sql("text")} % 64 AS bucket,
         ${h60Sql("text")} >> 6 AS rest
  FROM documents),
regs AS (
  SELECT source, bucket,
         CAST(max(CASE WHEN rest = 0 THEN 55
                       ELSE strpos(lpad(bin(rest), 54, '0'), '1')
                  END) AS BIGINT) AS rho
  FROM cells GROUP BY source, bucket),
scaffold AS (
  SELECT s.source, g.bucket
  FROM (SELECT DISTINCT source FROM documents) s
  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bucket) g),
fullr AS (
  SELECT scaffold.source, scaffold.bucket, coalesce(regs.rho, 0) AS rho
  FROM scaffold LEFT JOIN regs
    ON scaffold.source = regs.source AND scaffold.bucket = regs.bucket),
withall AS (
  SELECT source, bucket, rho FROM fullr
  UNION ALL
  SELECT 'ALL' AS source, bucket, max(rho) AS rho FROM fullr GROUP BY bucket),
est AS (
  SELECT source,
         CAST(sum(CAST(1 AS BIGINT) << CAST(55 - rho AS INTEGER)) AS BIGINT)
           AS denom_scaled,
         CAST(sum(CASE WHEN rho > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_filled
  FROM withall GROUP BY source),
exact AS (
  SELECT s.source, count(DISTINCT md5(text)) AS exact_distinct
  FROM documents, UNNEST([documents.source, 'ALL']) AS s(source)
  GROUP BY s.source),
raw AS (
  SELECT source, n_filled, denom_scaled,
         CAST(floor(0.709 * 4096 * 36028797018963968
                    / CAST(denom_scaled AS DOUBLE)) AS BIGINT) AS est_raw
  FROM est)
SELECT raw.source AS source, n_filled, denom_scaled,
       CASE WHEN est_raw <= 160 AND n_filled < 64
            THEN CAST(floor(64 * ln(64.0 / (64 - n_filled))) AS BIGINT)
            ELSE est_raw END AS est_distinct,
       exact_distinct
FROM raw JOIN exact ON raw.source = exact.source ORDER BY source""")),

    // Join-size estimation from the count-min sketch — the optimizer's
    // cardinality estimator surfaced as a query. |A ⋈_k A| = Σ_k n_k²
    // (the F2 moment / self-join size on o_custkey here), estimated
    // WITHOUT grouping the keys: for each of the 4 sketch rows, sum
    // the squared cell counts; take the min across rows. Collisions
    // only ADD cross terms, so every row's estimate is an upper bound
    // and the min is still ≥ truth — `overcount >= 0` is a theorem,
    // spec'd in SketchSpec and visible in the output next to the exact
    // value. At 100 TB the sketch is a map-side fold to 4×256 cells
    // (merge = cell-wise add, same law as a16): the join's size is
    // known from one narrow pass long before any join runs — the
    // broadcast-vs-shuffle planning input, never a wrong empty-ish
    // estimate from stale table stats.
    Q("a24_cm_selfjoin_size",
      (s, d) => {
        val keys = Tables.orders(s, d).select(col("o_custkey").as("key"))
          .repartition(s.sparkContext.defaultParallelism)
        val cells = cmsCells(keys)
        val est = cells.groupBy("j", "bucket").agg(count(lit(1)).as("cnt"))
          .groupBy("j").agg(sum(col("cnt") * col("cnt")).as("row_est"))
          .agg(min("row_est").as("cm_est"))
        val exact = keys.groupBy("key").agg(count(lit(1)).as("n"))
          .agg(sum(col("n") * col("n")).as("exact_sjs"))
        est.crossJoin(exact)
          .select(col("cm_est"), col("exact_sjs"),
            (col("cm_est") - col("exact_sjs")).as("overcount"))
      },
      Some(s"""
WITH items AS (SELECT o_custkey AS key FROM orders),
cells AS (
  SELECT key, j,
         ${h60Sql("j || ':' || key")} % 256 AS bucket
  FROM items, UNNEST(range(0, 4)) AS t(j)),
sketch AS (SELECT j, bucket, count(*) AS cnt FROM cells GROUP BY j, bucket),
est AS (SELECT min(row_est) AS cm_est FROM (
          SELECT j, CAST(sum(cnt * cnt) AS BIGINT) AS row_est
          FROM sketch GROUP BY j)),
exact AS (SELECT CAST(sum(n * n) AS BIGINT) AS exact_sjs FROM (
            SELECT key, count(*) AS n FROM items GROUP BY key))
SELECT cm_est, exact_sjs, cm_est - exact_sjs AS overcount
FROM est, exact""")),

    // KMV set algebra — the property that makes KMV more than a
    // distinct counter: two groups' sketches COMPOSE. The union sketch
    // is the K smallest of the two sketches' pooled hashes (the min-k
    // merge law: identical to sketching A∪B directly), the Jaccard
    // estimate is the fraction of the union sketch present in BOTH
    // input sketches (ρ = m/K — a uniform sample of A∪B probed for
    // membership), and |A∩B| ≈ ρ·|A∪B|. This is how a catalog answers
    // "how much do these two partitions/datasets overlap" from
    // kilobyte summaries without rescanning either side — the exact
    // sides ride along to show the error honestly. All arithmetic is
    // exact-integer until the two display divisions.
    Q("a25_kmv_set_algebra",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val li = Tables.lineitem(s, d)
        def sk(flag: String) = kmvState(
          li.filter(col("l_returnflag") === flag)
            .select(lit(flag).as("grp"), col("l_orderkey").as("key")))
          .select(col("h"))
        val ska = sk("A")
        val skb = sk("R")
        val wu = Window.orderBy("h")
        val uk = ska.union(skb).distinct()
          .withColumn("rn", row_number().over(wu)).filter(col("rn") <= K)
        val m = uk.select("h").intersect(ska).intersect(skb)
          .agg(count(lit(1)).as("m"))
        val u = uk.agg(count(lit(1)).as("n_u"),
          max(when(col("rn") === K, col("h"))).as("hk"))
          .withColumn("est_u",
            when(col("n_u") < K, col("n_u").cast("double"))
              .otherwise(lit((K - 1).toDouble) * pow(lit(2.0), 60)
                / col("hk").cast("double")))
        val exact = li.filter(col("l_returnflag").isin("A", "R"))
          .select("l_returnflag", "l_orderkey").distinct()
          .groupBy("l_orderkey").agg(count(lit(1)).as("nf"))
          .agg(count(lit(1)).as("exact_union"),
            sum((col("nf") === 2).cast("long")).as("exact_inter"))
        m.crossJoin(u).crossJoin(exact)
          .select(col("n_u"), col("m"),
            round(col("m").cast("double") / col("n_u"), 6).as("est_jaccard"),
            round(col("est_u"), 3).as("est_union"),
            round(col("est_u") * col("m") / col("n_u"), 3).as("est_inter"),
            col("exact_union"), col("exact_inter"),
            round(col("exact_inter").cast("double") / col("exact_union"), 6)
              .as("exact_jaccard"))
      },
      Some(s"""
WITH ha AS (
  SELECT h FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
      SELECT DISTINCT ${h60Sql("l_orderkey")} AS h
      FROM lineitem WHERE l_returnflag = 'A'))
  WHERE rn <= $K),
hb AS (
  SELECT h FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
      SELECT DISTINCT ${h60Sql("l_orderkey")} AS h
      FROM lineitem WHERE l_returnflag = 'R'))
  WHERE rn <= $K),
uk AS (
  SELECT h, rn FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
      SELECT h FROM ha UNION SELECT h FROM hb))
  WHERE rn <= $K),
mm AS (SELECT count(*) AS m FROM
        (SELECT h FROM uk INTERSECT SELECT h FROM ha
         INTERSECT SELECT h FROM hb)),
uu AS (
  SELECT n_u, CASE WHEN n_u < $K THEN CAST(n_u AS DOUBLE)
                   ELSE ${K - 1}.0 * pow(2.0, 60) / CAST(hk AS DOUBLE)
              END AS est_u
  FROM (SELECT count(*) AS n_u,
               max(CASE WHEN rn = $K THEN h END) AS hk
        FROM uk)),
ex AS (
  SELECT count(*) AS exact_union,
         CAST(sum(CASE WHEN nf = 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS exact_inter
  FROM (SELECT l_orderkey, count(*) AS nf FROM (
          SELECT DISTINCT l_returnflag, l_orderkey FROM lineitem
          WHERE l_returnflag IN ('A', 'R'))
        GROUP BY l_orderkey))
SELECT n_u, m,
       round(CAST(m AS DOUBLE) / n_u, 6) AS est_jaccard,
       round(est_u, 3) AS est_union,
       round(est_u * m / n_u, 3) AS est_inter,
       exact_union, exact_inter,
       round(CAST(exact_inter AS DOUBLE) / exact_union, 6) AS exact_jaccard
FROM mm, uu, ex"""))
  )

  private[graft] val MgK = 256 // Misra-Gries capacity: 4x the 1/64 bar

  /** Misra-Gries frequent-items fold: at most `k` counters; when a new
    * item arrives at capacity, ALL counters drop by one (each decrement
    * cancels one prior increment, so the scan is amortized O(1) per
    * item) and zeroed entries free their slot. Survivors satisfy
    * count(t) >= freq(t) - n/(k+1); contrapositive: anything frequent
    * enough survives. Memory is <= k entries no matter the input size.
    * Taking `init` makes the fold RESUMABLE — folding batch-by-batch
    * with carried state equals one fold over the concatenation
    * (SketchSpec pins it), which is exactly what the streaming twin
    * (EventsStream.heavyHitterCandidates) relies on across
    * micro-batches.
    */
  private[graft] def misraGriesFold[T](init: Map[T, Long],
      it: Iterator[T], k: Int): Map[T, Long] = {
    val m = scala.collection.mutable.HashMap.from(init)
    val dead = scala.collection.mutable.ArrayBuffer.empty[T]
    for (t <- it) {
      m.get(t) match {
        case Some(c) => m.update(t, c + 1)
        case None if m.size < k => m.update(t, 1L)
        case None =>
          dead.clear()
          for ((key, c) <- m)
            if (c == 1L) dead += key else m.update(key, c - 1)
          dead.foreach(m.remove)
      }
    }
    m.toMap
  }

  /** One-partition candidate summary over string tokens (a20). */
  private[graft] def misraGries(it: Iterator[String], k: Int)
      : Iterator[String] =
    misraGriesFold(Map.empty[String, Long], it, k).keysIterator
}
