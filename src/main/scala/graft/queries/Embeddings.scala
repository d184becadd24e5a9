package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Embedding-column preprocessing for the training-data pipeline:
  * unit-normalization (before cosine ANN the dot product IS the cosine)
  * and symmetric int8 quantization (4× storage cut for 100 TB embedding
  * stores). Results are verified value-by-value: each vector explodes to
  * (vec_id, idx, value) rows so the oracle hash-compares every
  * component, not a summary.
  *
  * Quantization rounds via floor(x + 0.5) — identical semantics in both
  * engines, unlike round-half-up vs round-half-even ambiguity.
  */
object Embeddings {

  def qs: Seq[Q] = Seq(
    Q("emb_normalize",
      (s, d) => {
        Tables.embeddings(s, d)
          .withColumn("nrm", expr("norm_f(embedding)"))
          .select(col("vec_id"), col("nrm"),
            posexplode(col("embedding").cast("array<double>")))
          .select(col("vec_id"), col("pos").cast("long").as("idx"),
            round(col("col") / col("nrm"), 6).as("val"))
          .orderBy("vec_id", "idx")
      },
      Some("""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS nrm
           FROM embeddings)
SELECT vec_id, idx, val FROM (
  SELECT vec_id, unnest(list_transform(range(1, len(v) + 1),
           i -> {'idx': i - 1, 'val': round(v[i] / nrm, 6)}), recursive := true)
  FROM e)
ORDER BY vec_id, idx""")),

    Q("emb_quantize_int8",
      (s, d) => {
        val dv = col("embedding").cast("array<double>")
        Tables.embeddings(s, d)
          .withColumn("scale", array_max(transform(dv, x => abs(x))) / 127.0)
          .select(col("vec_id"), col("scale"), posexplode(dv))
          .select(col("vec_id"), col("pos").cast("long").as("idx"),
            when(col("scale") === 0.0, 0L)
              .otherwise(floor(col("col") / col("scale") + 0.5).cast("long"))
              .as("q"))
          .orderBy("vec_id", "idx")
      },
      Some("""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS scale
           FROM embeddings)
SELECT vec_id, idx, q FROM (
  SELECT vec_id, unnest(list_transform(range(1, len(v) + 1),
           i -> {'idx': i - 1,
                 'q': CASE WHEN scale = 0 THEN 0
                           ELSE CAST(floor(v[i] / scale + 0.5) AS BIGINT) END}),
         recursive := true)
  FROM e)
ORDER BY vec_id, idx""")),

    // Matryoshka truncation — serve a cheaper retrieval tier from the
    // PREFIX of each embedding (the nesting property MRL-style models
    // train for): keep the first 16 dims and re-unit-normalize, so
    // the truncated dot product is again a cosine. Map-only at any
    // scale; the 4× dim cut compounds with int8 quantization for the
    // coarse tier that PQ/IVF then re-ranks. Verified component-wise
    // like emb_normalize (float→double is exact, so both engines see
    // identical inputs).
    Q("emb_matryoshka_truncate",
      (s, d) => {
        Tables.embeddings(s, d)
          .withColumn("tr", slice(col("embedding"), 1, 16))
          .withColumn("nrm", expr("norm_f(tr)"))
          .select(col("vec_id"), col("nrm"),
            posexplode(col("tr").cast("array<double>")))
          .select(col("vec_id"), col("pos").cast("long").as("idx"),
            round(col("col") / col("nrm"), 6).as("val"))
          .orderBy("vec_id", "idx")
      },
      Some("""
WITH e AS (SELECT vec_id, (embedding::DOUBLE[])[1:16] AS v,
                  sqrt(list_sum(list_transform((embedding::DOUBLE[])[1:16], x -> x*x))) AS nrm
           FROM embeddings)
SELECT vec_id, idx, val FROM (
  SELECT vec_id, unnest(list_transform(range(1, len(v) + 1),
           i -> {'idx': i - 1, 'val': round(v[i] / nrm, 6)}), recursive := true)
  FROM e)
ORDER BY vec_id, idx""")),

    // Mean-centering + re-normalization — step 1 of all-but-the-top
    // embedding postprocessing (Mu & Viswanath 2018): pretrained
    // embedding spaces share a large common mean vector that washes out
    // cosine contrast; removing it (then re-unit-norming) measurably
    // sharpens retrieval. Engine-exact: the per-dim mean sums as
    // DECIMAL(38,15) (order-independent, the K-means centroid rule),
    // divides once in double, and every row-level step (zip_with
    // subtract, left-fold norm) is row-local IEEE arithmetic — rounding
    // only at the output edge. Step 2 of ABTT (dominant-direction
    // removal) would reuse exactly this mean machinery plus a power
    // iteration over the same decimal sums. At 100 TB: the mean is one
    // narrow shuffle (dim-keyed, map-side partial over 32 groups)
    // collected as an O(dim) driver array, and centering is a pure
    // codegen map with the mean inlined.
    Q("emb_mean_center",
      (s, d) => centeredLit(s, d, meanVector(s, d))
        .withColumn("nrm", sqrt(call_function("dot_d", col("cv"), col("cv"))))
        .select(col("vec_id"), col("nrm"), posexplode(col("cv")))
        .select(col("vec_id"), col("pos").cast("long").as("idx"),
          round(col("col") / col("nrm"), 6).as("val"))
        .orderBy("vec_id", "idx"),
      Some(s"""
WITH $sqlCenteredChain,
n AS (SELECT vec_id, cv,
        sqrt(list_sum(list_transform(cv, y -> y * y))) AS nrm FROM c)
SELECT vec_id, idx, val FROM (
  SELECT vec_id, unnest(list_transform(range(1, len(cv) + 1),
           i -> {'idx': i - 1, 'val': round(cv[i] / nrm, 6)}), recursive := true)
  FROM n)
ORDER BY vec_id, idx""")),

    // Dominant principal component by power iteration — all-but-the-top
    // step 2 (the common-direction removal that, with mean-centering,
    // restores isotropy to pretrained embedding spaces). Three unrolled
    // iterations v → normalize(Σᵢ cᵢ (cᵢ·v)) over the MEAN-CENTERED
    // corpus, v₀ = the uniform unit vector. Linear algebra as
    // aggregation, engine-exact end-to-end: row-local dot-product
    // folds; the one cross-row reduction per iteration (the per-dim sum
    // of cᵢⱼ·sᵢ) rounds each term to a scaled integer (·10¹², the
    // LM-score rule) and sums as DECIMAL(38,0) — exact at any row
    // count, no float-summation order anywhere. λ (the covariance
    // eigenvalue estimate ‖y‖/n) rides along. At 100 TB: each
    // iteration is ONE narrow dim-keyed shuffle (map-side partials
    // over 32 groups) collected as an O(dim) driver array (the MLlib
    // iteration pattern) and inlined into the next scan — power
    // iteration costs 3 scans with no broadcast builds and no
    // materialized corpus copy (centering re-derives per scan as a
    // codegen map; guide §5's recompute-when-cheap rule).
    Q("emb_pca_top_component",
      (s, d) => {
        val mu = meanVector(s, d)
        val (v, yNrm) = powerIterateLit(centeredLit(s, d, mu), 3, mu.length)
        // n from the memoized immutable-fixture table stat (the
        // rowCount convention) — the centered frame has one row per
        // embedding by construction, so the count is the same number
        val n = graft.Tables.rowCount(s, d, "embeddings")
        import s.implicits._
        v.toSeq.zipWithIndex
          .map { case (x, i) => (i.toLong, x, yNrm / n) }
          .toDF("idx", "v0", "l0")
          .select(col("idx"), round(col("v0"), 6).as("val"),
            round(col("l0"), 6).as("lam"))
          .orderBy("idx")
      },
      Some(s"""
WITH ${sqlPcaChain(3)},
nn AS (SELECT count(*) AS n FROM c)
SELECT idx, val, lam FROM (
  SELECT unnest(list_transform(range(1, len(v) + 1),
           i -> {'idx': i - 1, 'val': round(v[i], 6)}), recursive := true),
         round(y_nrm / n, 6) AS lam
  FROM v3, nn)
ORDER BY idx""")),

    // Second principal component by DEFLATION — power iteration over
    // the ABTT residuals (the corpus with component 1 projected out),
    // exactly how ABTT-D removes D directions in sequence. Because the
    // residuals carry no component along u by construction, the
    // iteration stays in u's orthogonal complement to float precision
    // and converges to component 2; λ₂ ≤ λ₁ by the spectral order
    // (both laws spec-pinned). Same engine-exact machinery as
    // component 1 — scaled-integer DECIMAL(38,0) cross-row sums,
    // row-local folds — run over a different (vec_id, cv) frame; the
    // oracle reuses the same power-step CTE generator with a `d`
    // prefix over the residual chain. Cost: one more materialized
    // subtree + 3 narrow dim-keyed shuffles.
    Q("emb_pca_deflated_component",
      (s, d) => {
        val (res, dim) = abttResiduals(s, d)
        val r = res.select(col("vec_id"), col("r").as("cv"))
        val (v, yNrm) = powerIterateLit(r, 3, dim)
        val n = graft.Tables.rowCount(s, d, "embeddings")
        import s.implicits._
        v.toSeq.zipWithIndex
          .map { case (x, i) => (i.toLong, x, yNrm / n) }
          .toDF("idx", "v0", "l0")
          .select(col("idx"), round(col("v0"), 6).as("val"),
            round(col("l0"), 6).as("lam"))
          .orderBy("idx")
      },
      Some(s"""
WITH ${sqlPcaChain(3)},
$sqlAbttResiduals,
rc AS (SELECT vec_id, rv AS cv FROM rr),
${sqlPowerSteps("rc", "d", 3)},
nn AS (SELECT count(*) AS n FROM rc)
SELECT idx, val, lam FROM (
  SELECT unnest(list_transform(range(1, len(v) + 1),
           i -> {'idx': i - 1, 'val': round(v[i], 6)}), recursive := true),
         round(y_nrm / n, 6) AS lam
  FROM dv3, nn)
ORDER BY idx""")),

    // The full ABTT transform: x' = normalize(c − (c·u)u) — centered
    // vectors with their projection on the dominant direction removed,
    // re-unit-normalized; the postprocessed embedding column a
    // retrieval pipeline would store. Given (mean, u) this is a pure
    // map — the broadcast carries 2×dim doubles regardless of corpus
    // size. Component-wise verification like emb_normalize.
    Q("emb_abtt_transform",
      (s, d) => abttResiduals(s, d)._1
        .select(col("vec_id"), col("nrm"), posexplode(col("r")))
        .select(col("vec_id"), col("pos").cast("long").as("idx"),
          round(col("col") / col("nrm"), 6).as("val"))
        .orderBy("vec_id", "idx"),
      Some(s"""
WITH ${sqlPcaChain(3)},
$sqlAbttResiduals,
nr AS (SELECT vec_id, rv,
         sqrt(list_sum(list_transform(rv, y -> y * y))) AS nrm FROM rr)
SELECT vec_id, idx, val FROM (
  SELECT vec_id, unnest(list_transform(range(1, len(rv) + 1),
           i -> {'idx': i - 1, 'val': round(rv[i] / nrm, 6)}), recursive := true)
  FROM nr)
ORDER BY vec_id, idx""")),

    // Isotropy report — the before/after measurement that justifies
    // ABTT: mean pairwise cosine of the unit-normalized corpus,
    // computed WITHOUT any pairwise work via the sum-vector identity
    // Σᵢ≠ⱼ xᵢ·xⱼ = ‖Σx‖² − Σ‖xᵢ‖² (for unit vectors, = ‖S‖² − N). An
    // isotropic space scores ≈ 0; real pretrained spaces score well
    // above (the common-direction bias ABTT removes), while this
    // synthetic gaussian fixture is already near 0 and the centered
    // output lands slightly NEGATIVE (mean removal forces Σx' ≈ 0, so
    // the pairwise mean sits at ≈ −1/(N−1)) — the report measures, it
    // does not assume a fixture. Two rows: raw unit-normalized vs the
    // ABTT output. Engine-exact:
    // per-dim DECIMAL(38,15) sums of the unit components, a row-local
    // fold for ‖S‖², one division. At 100 TB each stage is one narrow
    // dim-keyed aggregate — O(N·dim) total for a statistic whose naive
    // form is O(N²·dim).
    Q("emb_isotropy_report",
      (s, d) => {
        val raw = Tables.embeddings(s, d)
          .withColumn("nrm", expr("norm_f(embedding)"))
          .select(posexplode(col("embedding").cast("array<double>"))
            .as(Seq("pos", "c0")), col("nrm"))
          .select(lit("raw").as("stage"), col("pos"),
            (col("c0") / col("nrm")).as("c"))
        // the "after" arm measures EXACTLY the shipped transform — the
        // residuals come from the same helper emb_abtt_transform dumps
        val abtt = abttResiduals(s, d)._1
          .select(posexplode(col("r")).as(Seq("pos", "c0")), col("nrm"))
          .select(lit("abtt").as("stage"), col("pos"),
            (col("c0") / col("nrm")).as("c"))
        // both arms in ONE stage-keyed aggregation (r14): per-stage sums
        // are the same order-independent DECIMAL folds the two separate
        // jobs computed, so the report is unchanged while one barrier
        // replaces two
        raw.unionAll(abtt)
          .groupBy("stage", "pos")
          .agg(sum(col("c").cast("decimal(38,15)")).as("sj"),
            count(lit(1)).as("nj"))
          .groupBy("stage")
          .agg(transform(array_sort(collect_list(struct(col("pos"),
              col("sj").cast("double").as("sd")))),
            t => t.getField("sd")).as("sv"),
            max("nj").as("n"))
          .select(col("stage"),
            round((aggregate(col("sv"), lit(0.0),
              (a, z) => a + z * z) - col("n")) /
              (col("n") * (col("n") - 1)), 6).as("avg_cos"))
          .orderBy("stage")
      },
      Some(s"""
WITH ${sqlPcaChain(3)},
$sqlAbttResiduals,
ab AS (SELECT vec_id, pos, cu / nrm AS c FROM (
         SELECT vec_id,
           sqrt(list_sum(list_transform(rv, y -> y * y))) AS nrm,
           unnest(list_transform(range(1, len(rv) + 1),
             i -> {'pos': i - 1, 'cu': rv[i]}), recursive := true)
         FROM rr)),
rw AS (SELECT vec_id, pos, cu / nrm AS c FROM (
         SELECT vec_id,
           sqrt(list_sum(list_transform(x, y -> y * y))) AS nrm,
           unnest(list_transform(range(1, len(x) + 1),
             i -> {'pos': i - 1, 'cu': x[i]}), recursive := true)
         FROM e)),
rep AS (
  SELECT 'raw' AS stage, pos, CAST(sum(CAST(c AS DECIMAL(38,15))) AS DOUBLE) AS sd,
         count(*) AS nj
  FROM rw GROUP BY pos
  UNION ALL
  SELECT 'abtt', pos, CAST(sum(CAST(c AS DECIMAL(38,15))) AS DOUBLE), count(*)
  FROM ab GROUP BY pos),
agg AS (
  SELECT stage, list(sd ORDER BY pos) AS sv, max(nj) AS n
  FROM rep GROUP BY stage)
SELECT stage,
       round((list_sum(list_transform(sv, z -> z * z)) - n) /
             (n * (n - 1)), 6) AS avg_cos
FROM agg ORDER BY stage""")),

    // K-means over the embedding column (K=4, two unrolled Lloyd
    // iterations, seeds = the K lowest vec_ids) — the semantic-
    // clustering primitive behind diversity sampling, semantic dedup,
    // and topic-balanced mixes. Engine-exact across both engines by
    // construction, no feature any SQL engine lacks:
    //   * distances are ROW-LOCAL left folds over the dim axis
    //     (zip_with+aggregate here, list_reduce in DuckDB — same
    //     association, so the doubles are bit-identical);
    //   * argmin is min(struct(dist, cid)): total order, ties to the
    //     lowest cluster id;
    //   * centroid means sum per-dim as DECIMAL(38,15) — exact and
    //     shuffle-order-independent, unlike a double sum — and divide
    //     once in double.
    // 100 TB shape: centroids are K×dim (broadcast, always tiny); each
    // iteration is one broadcast cross join (map-side, K× row
    // amplification) + partial-agg min on vec_id + partial-agg decimal
    // sum on (cid, dim) — two narrow shuffles per iteration,
    // independent of K, no driver-side centroid collect anywhere.
    Q("emb_kmeans_centroids",
      (s, d) => kmeans(s, d)._2
        .select(col("cid").as("cluster_id"),
          col("pos").cast("long").as("idx"),
          round(col("comp"), 6).as("val"), col("n").as("n_vecs"))
        .orderBy("cluster_id", "idx"),
      Some(s"""
WITH $kmeansSql
SELECT cid AS cluster_id, CAST(idx AS BIGINT) AS idx, round(comp, 6) AS val,
       n AS n_vecs
FROM s2 ORDER BY cluster_id, idx""")),

    // Final cluster assignment (vec → nearest updated-once centroid,
    // squared distance kept): the per-document cluster label the
    // downstream mix/dedup stages key on. dist is to the iteration-1
    // centroid the final assignment used — identical arithmetic both
    // engines (row-local fold), rounded only at the output edge.
    Q("emb_kmeans_assign",
      (s, d) => kmeans(s, d)._1
        .select(col("vec_id"), col("cid").as("cluster_id"),
          round(col("dist"), 6).as("dist"))
        .orderBy("vec_id"),
      Some(s"""
WITH $kmeansSql
SELECT vec_id, cid AS cluster_id, round(dist, 6) AS dist
FROM a2 ORDER BY vec_id""")),

    // Diversity sampling: the m vectors CLOSEST to each centroid — a
    // cluster-stratified subset that preserves topic coverage at a
    // fraction of the corpus (the embedding-space analog of the
    // domain-mix sampler). Rank inside each cluster is (dist, vec_id):
    // total order, no ties. One extra narrow shuffle (cluster key) on
    // top of the assignment.
    Q("emb_diversity_sample",
      (s, d) => {
        val m = 8
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("cid").orderBy(col("dist"), col("vec_id"))
        kmeans(s, d)._1
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= m)
          .select(col("cid").as("cluster_id"), col("rk"),
            col("vec_id"), round(col("dist"), 6).as("dist"))
          .orderBy("cluster_id", "rk")
      },
      Some(s"""
WITH $kmeansSql
SELECT cid AS cluster_id, rk, vec_id, round(dist, 6) AS dist
FROM (SELECT cid, vec_id, dist,
             CAST(row_number() OVER (PARTITION BY cid
                    ORDER BY dist, vec_id) AS BIGINT) AS rk
      FROM a2)
WHERE rk <= 8 ORDER BY cluster_id, rk""")),

    // The quality-seeded twin of emb_kmeans_assign: same two Lloyd
    // iterations, but seeds come from deterministic greedy
    // farthest-point (k-means++ with argmax instead of the random
    // draw) rather than the K lowest vec_ids. Deterministic by
    // construction, so the oracle can unroll the K-1 picks as CTEs
    // and the hash gate still covers it. K-1 extra corpus passes at
    // build time, each a broadcast of one row — still no N×N anywhere.
    Q("emb_kmeans_seeded_assign",
      (s, d) => kmeansIterations(s, d, farthest = true).last._2
        .select(col("vec_id"), col("cid").as("cluster_id"),
          round(col("dist"), 6).as("dist"))
        .orderBy("vec_id"),
      Some(s"""
WITH $kmeansSeededSql
SELECT vec_id, cid AS cluster_id, round(dist, 6) AS dist
FROM a2 ORDER BY vec_id""")),

    // Top-R principal directions by SEQUENTIAL DEFLATION (ABTT-D with
    // D=4): direction k is the power-iteration result over the residual
    // corpus with directions 1..k-1 projected out, so the returned
    // directions are pairwise orthogonal to float precision (deflation
    // removes each direction EXACTLY, convergence quality
    // notwithstanding). Each direction's eigenvalue is its EXACT
    // Rayleigh quotient against the original centered corpus —
    // λ = (1/n)Σᵢ(cᵢ·v)², not the power step's ‖y‖ by-product — and the
    // output orders components by (λ desc, deflation step asc), the
    // standard end-of-algorithm eigenpair sort: on a near-flat spectrum
    // (this fixture's top eigen-gaps are ~2%, so power iteration's
    // convergence rate is ~0.98/step) the deflation ORDER is not
    // guaranteed to match the quotient order at any affordable
    // iteration count, while the quotient itself is exact for whatever
    // direction was found. Spec-pinned in EmbeddingOpsSpec: pairwise
    // orthogonality, descending λ, every λ a true quotient of its own
    // vector, and Σλ bounded by the covariance trace. Engine-exact like
    // the single-component queries: every cross-row sum is a
    // scaled-integer DECIMAL(38,0) aggregate, every row-local fold has
    // one association; the sort key is the 6dp-rounded λ so both
    // engines rank identically. 100 TB shape per component: 3 narrow
    // dim-keyed shuffles (the power steps), each collected as an O(dim)
    // driver array and inlined into the next scan; all R Rayleigh
    // quotients land in ONE corpus pass (R aggregate columns); the
    // deflation chain is a per-scan codegen map, so peak footprint is
    // ZERO pinned corpus copies regardless of R (r14 — previously one
    // materialized centered corpus + one residual).
    Q("emb_pca_topr",
      (s, d) => {
        val R = 4
        val mu = meanVector(s, d)
        val c0 = centeredLit(s, d, mu)
        val n = graft.Tables.rowCount(s, d, "embeddings")
        // deflation chain with driver-resident directions (r14): each
        // residual is a pure map over the previous one, fused into the
        // next power step's scan — no materialized corpus copies, no
        // broadcast-build jobs, 3 jobs per component instead of ~18
        var frame = c0
        val vs = (1 to R).map { k =>
          val (v, _) = powerIterateLit(frame, 3, mu.length)
          if (k < R) frame = deflateLit(frame, v)
          v
        }
        // all R exact Rayleigh quotients in ONE corpus pass: the same
        // scaled-integer DECIMAL(38,0) sums, R aggregate columns
        val lamAggs = vs.zipWithIndex.map { case (v, i) =>
          val sc = call_function("dot_d", col("cv"), typedLit(v.toSeq))
          (sum(round(sc * sc * lit(1000000000000.0), 0)
            .cast("decimal(38,0)"))
            .cast("double") / lit(1e12) / lit(n.toDouble)).as(s"lam$i")
        }
        val lamRow = c0.agg(lamAggs.head, lamAggs.tail: _*).head()
        import s.implicits._
        val rows = for {
          k <- 1 to R
          (x, i) <- vs(k - 1).zipWithIndex
        } yield (k.toLong, lamRow.getDouble(k - 1), i.toLong, x)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("lam").desc, col("step").asc)
        rows.toDF("step", "lam0", "idx", "v0")
          .select(col("step"), round(col("lam0"), 6).as("lam"),
            col("idx"), round(col("v0"), 6).as("val"))
          .withColumn("comp", dense_rank().over(w).cast("long"))
          .select(col("comp"), col("idx"), col("val"), col("lam"))
          .orderBy("comp", "idx")
      },
      Some {
        // residual/power chains for steps 2..4, prefixed so all coexist
        // in one WITH; step 1 is the unprefixed v3 chain. Each step k
        // also gets l$k — the exact Rayleigh quotient of its direction
        // against the ORIGINAL centered corpus c.
        val chains = (2 to 4).map { k =>
          val src = if (k == 2) "c" else s"g${k - 1}rr"
          val vc = if (k == 2) "v3" else s"g${k - 1}v3"
          sqlDeflate(src, vc, s"g$k") + ",\n" +
            sqlPowerSteps(s"g${k}rr", s"g$k", 3)
        }.mkString(",\n")
        val lams = (1 to 4).map { k =>
          val vc = if (k == 1) "v3" else s"g${k}v3"
          s"""l$k AS (SELECT CAST(sum(CAST(round(sc * sc * 1000000000000.0, 0)
             AS DECIMAL(38,0))) AS DOUBLE) / 1000000000000.0 / nn.n AS lam0
      FROM (SELECT list_sum(list_transform(range(1, len(cv) + 1),
              i -> cv[i] * v[i])) AS sc FROM c, $vc), nn
      GROUP BY nn.n)"""
        }.mkString(",\n")
        val arms = (1 to 4).map { k =>
          val vc = if (k == 1) "v3" else s"g${k}v3"
          s"""SELECT CAST($k AS BIGINT) AS step, round(lam0, 6) AS lam,
       unnest(list_transform(range(1, len(v) + 1),
         i -> {'idx': i - 1, 'val': round(v[i], 6)}), recursive := true)
FROM $vc, l$k"""
        }.mkString("\nUNION ALL\n")
        s"""
WITH ${sqlPcaChain(3)},
$chains,
nn AS (SELECT count(*) AS n FROM c),
$lams
SELECT CAST(dense_rank() OVER (ORDER BY lam DESC, step ASC) AS BIGINT) AS comp,
       idx, val, lam
FROM ($arms)
ORDER BY comp, idx"""
      }),

    // PCA whitening over the top-2 components: each vector's whitened
    // coordinate z_k = (c·v_k)/√λ_k — the decorrelate-and-rescale step
    // retrieval stacks apply before product quantization or linear
    // probes (unit variance per retained direction by construction:
    // λ_k IS the mean of (c·v_k)², so var(z_k)=1 up to rounding — the
    // law EmbeddingOpsSpec pins along with cross-component
    // decorrelation). Long format (vec_id, comp, z): one broadcast of
    // each (v_k, λ_k) pair onto the centered corpus, a row-local fold
    // per coordinate — two map passes, zero new shuffle shapes beyond
    // the PCA chain it reuses. λ rounds to 6dp BEFORE the √ on both
    // engines so the divisor is bit-identical; the z division is then
    // IEEE-exact on identical inputs.
    Q("emb_whitening",
      (s, d) => {
        val R = 2
        val mu = meanVector(s, d)
        val c0 = centeredLit(s, d, mu)
        val n = graft.Tables.rowCount(s, d, "embeddings")
        var frame = c0
        val vs = (1 to R).map { k =>
          val (v, _) = powerIterateLit(frame, 3, mu.length)
          if (k < R) frame = deflateLit(frame, v)
          v
        }
        // both λ's in one corpus pass (same 6dp-rounded divisors as the
        // per-component jobs produced), then z is a single map over the
        // corpus emitting both components per vector — zero broadcasts,
        // zero materialized copies
        val lamAggs = vs.zipWithIndex.map { case (v, i) =>
          val sc = call_function("dot_d", col("cv"), typedLit(v.toSeq))
          round(sum(round(sc * sc * lit(1000000000000.0), 0)
            .cast("decimal(38,0)"))
            .cast("double") / lit(1e12) / lit(n.toDouble), 6).as(s"lam$i")
        }
        val lamRow = c0.agg(lamAggs.head, lamAggs.tail: _*).head()
        val zStructs = vs.zipWithIndex.map { case (v, i) =>
          val sc = call_function("dot_d", col("cv"), typedLit(v.toSeq))
          struct(lit((i + 1).toLong).as("comp"),
            round(sc / sqrt(lit(lamRow.getDouble(i))), 6).as("z"))
        }
        c0.select(col("vec_id"), explode(array(zStructs: _*)).as("e"))
          .select(col("vec_id"), col("e.comp").as("comp"),
            col("e.z").as("z"))
          .orderBy("vec_id", "comp")
      },
      Some {
        val deflate2 = sqlDeflate("c", "v3", "g2") + ",\n" +
          sqlPowerSteps("g2rr", "g2", 3)
        val lams = Seq(1 -> "v3", 2 -> "g2v3").map { case (k, vc) =>
          s"""wl$k AS (SELECT round(CAST(sum(CAST(round(sc * sc * 1000000000000.0, 0)
             AS DECIMAL(38,0))) AS DOUBLE) / 1000000000000.0 / nn.n, 6) AS lam
      FROM (SELECT list_sum(list_transform(range(1, len(cv) + 1),
              i -> cv[i] * v[i])) AS sc FROM c, $vc), nn
      GROUP BY nn.n)"""
        }.mkString(",\n")
        val arms = Seq(1 -> "v3", 2 -> "g2v3").map { case (k, vc) =>
          s"""SELECT vec_id, CAST($k AS BIGINT) AS comp,
       round(list_sum(list_transform(range(1, len(cv) + 1),
         i -> cv[i] * v[i])) / sqrt(lam), 6) AS z
FROM c, $vc, wl$k"""
        }.mkString("\nUNION ALL\n")
        s"""
WITH ${sqlPcaChain(3)},
$deflate2,
nn AS (SELECT count(*) AS n FROM c),
$lams
SELECT vec_id, comp, z FROM ($arms)
ORDER BY vec_id, comp"""
      })
  )

  /** Row-local squared Euclidean distance: a left fold over the dim
    * axis — the same association as DuckDB's list_reduce, so the
    * doubles are bit-identical across engines.
    */
  /** Per-dim DECIMAL(38,15) corpus mean, collected to the driver as an
    * O(dim) array (r14: the MLlib-iteration pattern — a 64-double
    * model-sized scalar, NOT data; same bounded-collect class as the
    * 5-integer knee reads). Inlining it as a literal makes centering a
    * pure map with no broadcast-build job, which at 100 TB removes one
    * exchange-and-broadcast barrier per consumer and keeps the centered
    * corpus recomputable instead of materialized (centering is a map —
    * re-deriving it per scan is cheaper than writing a second corpus
    * copy; guide §5's cache-only-when-recompute-is-expensive rule).
    */
  private def meanVector(s: org.apache.spark.sql.SparkSession,
      d: String): Array[Double] =
    Tables.embeddings(s, d)
      .select(posexplode(col("embedding").cast("array<double>")))
      .groupBy("pos")
      .agg((sum(col("col").cast("decimal(38,15)")).cast("double") /
        count(lit(1))).as("mu"))
      .collect().sortBy(_.getInt(0)).map(_.getDouble(1))

  /** Mean-centered vectors (vec_id, cv) with the driver-collected mean
    * inlined — a pure map over the scan (no broadcast, no pinned copy);
    * shared by emb_mean_center, the PCA power iteration, and the ABTT
    * transform. Arithmetic is unchanged from the broadcast form: the
    * same per-dim doubles subtract element-wise.
    */
  private def centeredLit(s: org.apache.spark.sql.SparkSession,
      d: String, mu: Array[Double]): org.apache.spark.sql.DataFrame = {
    // sub_scale_d with p = 1: a − 1.0·b ≡ a − b in IEEE arithmetic, and
    // the centering runs as a codegen primitive loop instead of an
    // interpreted zip_with lambda (guide §4)
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        call_function("sub_scale_d",
          col("embedding").cast("array<double>"),
          typedLit(mu.toSeq), lit(1.0)).as("cv"))
  }

  /** One power-iteration step v → y = Σᵢ cᵢ (cᵢ·v) with v a literal,
    * returning the UNNORMALIZED per-dim sums as an O(dim) driver array
    * (one Spark job: map + dim-keyed partial aggregation + a 64-row
    * collect). Engine-exact: the per-row dot product is a row-local
    * left fold; the CROSS-ROW per-dim sum of cᵢⱼ·sᵢ rounds each term to
    * a scaled integer (·10¹², the LM-score rule) and sums as
    * DECIMAL(38,0) — exact, order-independent, and overflow-free past
    * int64 row counts; the scale-back division happens in-plan exactly
    * as before, so the collected doubles are the broadcast form's
    * doubles bit-for-bit.
    */
  private def pcaStepLit(c: org.apache.spark.sql.DataFrame,
      v: Array[Double]): Array[Double] = {
    // r15: the posexplode form shuffled N·dim (pos, term) rows through
    // a dim-keyed exchange per power step; DimTermSumAgg folds the SAME
    // scaled-integer terms into one O(dim) buffer per map task (exact —
    // see its doc), so the exchange carries 64 longs per partition
    // regardless of corpus size. Same round/cast/divide arithmetic,
    // bit-identical collected doubles (EmbeddingOpsSpec pins equality
    // against the explode form).
    val fn = udaf(new graft.functions.DimTermSumAgg(v.length),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Seq[Double], Double)]())
    c.withColumn("s", call_function("dot_d", col("cv"), typedLit(v.toSeq)))
      .agg(fn(col("cv"), col("s")).as("ys"))
      .head().getSeq[Double](0).toArray
  }

  /** (vec_id, r, nrm): centered vectors with their projection on the
    * dominant direction removed, plus the residual norm — the ABTT
    * output, shared by emb_abtt_transform (which dumps it
    * component-wise) and emb_isotropy_report's "after" arm (which
    * measures it), so the report can never measure a different
    * transform than the one shipped.
    */
  private def abttResiduals(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame, Int) = {
    val mu = meanVector(s, d)
    val c = centeredLit(s, d, mu)
    val (v, _) = powerIterateLit(c, 3, mu.length)
    val vl = typedLit(v.toSeq)
    // codegen kernels end-to-end: the interpreted zip_with form paid a
    // ×dim per-element re-evaluation of the inlined projection even in
    // the broadcast-era code; dot_d/sub_scale_d evaluate the scalar
    // once and run as primitive loops. Same fold order → same doubles.
    (c.select(col("vec_id"), call_function("sub_scale_d", col("cv"), vl,
      call_function("dot_d", col("cv"), vl)).as("r"))
      .select(col("vec_id"), col("r"),
        sqrt(call_function("dot_d", col("r"), col("r"))).as("nrm")),
      mu.length)
  }

  /** DuckDB CTE chain mirroring [[pcaTop]]: mean-centering (e/u0/m/mv/c)
    * then `iters` power steps, each sk → yk → yvk → vk; ends with
    * `v<iters>(v, y_nrm)`. Usable after `WITH `.
    */
  /** DuckDB twin of [[abttResiduals]] — `pr`/`rr` over sqlPcaChain(3)'s
    * `c` and `v3`, ending in `rr(vec_id, rv)`. Shared by the
    * abtt-transform, isotropy, and deflated-component oracles.
    */
  private def sqlAbttResiduals: String = """pr AS (SELECT vec_id, cv, v,
         list_sum(list_transform(range(1, len(cv) + 1),
           i -> cv[i] * v[i])) AS proj
       FROM c, v3),
rr AS (SELECT vec_id, list_transform(range(1, len(cv) + 1),
         i -> cv[i] - proj * v[i]) AS rv FROM pr)"""

  /** Parametrized deflation step for the top-R chain: project the
    * direction in `$vcte(v)` out of `$src(vec_id, cv)`, emitting
    * `${p}rr(vec_id, cv)` so [[sqlPowerSteps]] can consume it as a
    * source directly — the generalization of [[sqlAbttResiduals]]
    * (which keeps its `rv` name for its three existing consumers).
    * The residual corpus is MATERIALIZED: each downstream power chain
    * references it 3 times, so without the hint DuckDB's CTE inlining
    * re-evaluates every upstream chain per reference — exponential in
    * the number of deflation levels (measured: the R=4 oracle ran
    * minutes inlined, sub-second materialized).
    */
  private def sqlDeflate(src: String, vcte: String, p: String): String =
    s"""${p}pr AS (SELECT vec_id, cv, v,
         list_sum(list_transform(range(1, len(cv) + 1),
           i -> cv[i] * v[i])) AS proj
       FROM $src, $vcte),
${p}rr AS MATERIALIZED (SELECT vec_id, list_transform(range(1, len(cv) + 1),
         i -> cv[i] - proj * v[i]) AS cv FROM ${p}pr)"""

  /** DuckDB CTE chain for [[centeredVectors]], ending in
    * `c(vec_id, cv)` — shared by the mean-center oracle and
    * [[sqlPcaChain]], mirroring the Scala-side helper reuse.
    */
  private def sqlCenteredChain: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
u0 AS (SELECT vec_id, unnest(list_transform(range(1, len(x) + 1),
         i -> {'pos': i - 1, 'val': x[i]}), recursive := true) FROM e),
m AS (SELECT pos, CAST(sum(CAST(val AS DECIMAL(38,15))) AS DOUBLE) / count(*) AS mu
      FROM u0 GROUP BY pos),
mv AS (SELECT list(mu ORDER BY pos) AS muv FROM m),
c AS (SELECT vec_id, list_transform(range(1, len(x) + 1),
        i -> x[i] - muv[i]) AS cv FROM e, mv)"""

  /** Power-iteration CTE steps over any `src(vec_id, cv)` CTE, names
    * prefixed with `p` (so two chains can coexist in one WITH);
    * ends in `${p}v<iters>(v, y_nrm)`.
    */
  private def sqlPowerSteps(src: String, p: String, iters: Int): String = {
    val v0 = s"""${p}v0 AS (SELECT list_transform(cv, q -> 1.0 / sqrt(len(cv))) AS v
       FROM $src LIMIT 1)"""
    val steps = (1 to iters).map { k =>
      s"""${p}s$k AS (SELECT vec_id, cv,
        list_sum(list_transform(range(1, len(cv) + 1),
          i -> cv[i] * v[i])) AS s
      FROM $src, ${p}v${k - 1}),
${p}y$k AS (SELECT pos,
         CAST(sum(CAST(round(cvi * s * 1000000000000.0, 0) AS DECIMAL(38,0))) AS DOUBLE)
           / 1000000000000.0 AS yd
       FROM (SELECT s, unnest(list_transform(range(1, len(cv) + 1),
               i -> {'pos': i - 1, 'cvi': cv[i]}), recursive := true)
             FROM ${p}s$k)
       GROUP BY pos),
${p}yv$k AS (SELECT list(yd ORDER BY pos) AS yv FROM ${p}y$k),
${p}v$k AS (SELECT list_transform(yv, z -> z /
           sqrt(list_sum(list_transform(yv, w -> w * w)))) AS v,
         sqrt(list_sum(list_transform(yv, w -> w * w))) AS y_nrm
       FROM ${p}yv$k)"""
    }
    (v0 +: steps).mkString(",\n")
  }

  private def sqlPcaChain(iters: Int): String =
    sqlCenteredChain + ",\n" + sqlPowerSteps("c", "", iters)

  /** `iters` power steps over a (possibly lazy) `(vec_id, cv)` frame,
    * v₀ = the uniform unit vector 1/√dim. Returns (v, ‖y‖) as driver
    * arrays — one Spark job per step, the normalize/renorm arithmetic
    * replicated on the driver with the SAME left-fold association the
    * in-plan form used (foldLeft over pos order == aggregate() over the
    * pos-sorted array), so every double is bit-identical to the old
    * broadcast-chain form. Shared by component 1 (over the centered
    * corpus), the deflated component-2 query (over the ABTT residuals)
    * and the top-R deflation chain.
    */
  private def powerIterateLit(c: org.apache.spark.sql.DataFrame,
      iters: Int, dim: Int): (Array[Double], Double) = {
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var yNrm = 0.0
    for (_ <- 1 to iters) {
      val yv = pcaStepLit(c, v)
      yNrm = math.sqrt(yv.foldLeft(0.0)((a, w) => a + w * w))
      v = yv.map(_ / yNrm)
    }
    (v, yNrm)
  }

  /** Project literal direction `v` out of `(vec_id, cv)` — a pure map
    * (deflation with a driver-resident direction needs no broadcast and
    * no materialized residual copy: each downstream scan re-derives the
    * chain level-by-level as nested codegen kernels. An interpreted
    * zip_with formulation is NOT equivalent here: CollapseProject
    * inlines the projection scalar into the lambda, which the
    * interpreter then re-evaluates per array element — a ×dim blow-up
    * per nesting level, observed as a pinned-CPU ZipWith/ArrayAggregate
    * eval stack. The primitive-loop kernels evaluate their scalar
    * argument once and cost O(dim) per level per reference.)
    */
  private def deflateLit(c: org.apache.spark.sql.DataFrame,
      v: Array[Double]): org.apache.spark.sql.DataFrame = {
    val vl = typedLit(v.toSeq)
    c.select(col("vec_id"), call_function("sub_scale_d", col("cv"), vl,
      call_function("dot_d", col("cv"), vl)).as("cv"))
  }

  private def sqDist(x: org.apache.spark.sql.Column,
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    call_function("sqdist_d", x, c) // codegen twin of the zip_with fold

  /** Shared K-means machinery with the default declared-query shape
    * (K=4, two Lloyd iterations, seeds = the K lowest vec_ids).
    * Returns the final iteration's (assignment with its squared
    * distance, per-(cid, dim) centroid stats). See
    * emb_kmeans_centroids scaladoc for the determinism contract.
    */
  private def kmeans(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val it = kmeansIterations(s, d)
    (it.last._2, it.last._3)
  }

  /** All per-iteration (input centroids, assignment, stats) triples —
    * exposed to the spec so Lloyd's monotonicity law (objective never
    * increases between iterations) and the argmin law (each assignment
    * beats EVERY input centroid under the (dist, cid) order) can be
    * asserted on the REAL pipeline, not a replica.
    *
    * `k` and `iters` drive the model size; the declared queries pin
    * (4, 2) because their DuckDB oracle CTE chain unrolls exactly two
    * iterations, but the machinery itself is generic (the K=16 / 3-iter
    * convergence spec runs through this same code).
    *
    * Seeding. `farthest = false` seeds on the K lowest vec_ids:
    * deterministic and literally mirrored in the oracle SQL — the
    * oracle-parity choice for the fixed-seed query family.
    * `farthest = true` is the quality path: greedy farthest-point
    * (k-means++ with argmax replacing the random draw — deterministic,
    * so there is no RNG to keep in sync across engines, and still
    * oracle-expressible by unrolling the K-1 picks).
    */
  private[queries] def kmeansIterations(
      s: org.apache.spark.sql.SparkSession, d: String,
      k: Int = 4, iters: Int = 2, farthest: Boolean = false)
      : Seq[(org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)] = {
    require(k >= 1 && iters >= 1, s"kmeans needs k>=1, iters>=1; got k=$k iters=$iters")
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("x"))
    var centroids =
      if (farthest) farthestSeeds(v, k)
      else {
        val seedW = org.apache.spark.sql.expressions.Window.orderBy("vec_id")
        v.orderBy("vec_id").limit(k)
          .select((row_number().over(seedW) - 1).cast("long").as("cid"),
            col("x").as("c"))
      }
    val out = Seq.newBuilder[(org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)]
    for (_ <- 1 to iters) {
      val cIn = centroids
      val assigned = v.crossJoin(broadcast(cIn))
        .withColumn("dist", sqDist(col("x"), col("c")))
        .groupBy("vec_id")
        .agg(min(struct(col("dist"), col("cid"), col("x"))).as("m"))
        .select(col("vec_id"), col("m.dist").as("dist"),
          col("m.cid").as("cid"), col("m.x").as("x"))
      val stats = assigned
        .select(col("cid"), posexplode(col("x")))
        .groupBy("cid", "pos")
        .agg(sum(col("col").cast("decimal(38,15)")).as("sm"),
          count(lit(1)).as("n"))
        .withColumn("comp", col("sm").cast("double") / col("n"))
      centroids = stats.groupBy("cid")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("comp")))),
          t => t.getField("comp")).as("c"))
      out += ((cIn, assigned, stats))
    }
    out.result()
  }

  /** Deterministic greedy farthest-point seeds: seed 0 = the lowest
    * vec_id's vector; seed j = the vector maximizing the running
    * minimum squared distance to the already-chosen seeds (ties →
    * lowest vec_id). K-1 corpus passes, each one broadcast of a single
    * picked row + one global argmax — no RNG, no driver collect; the
    * deterministic stand-in for k-means‖'s sampled oversampling, and
    * exactly what the seeded query's oracle unrolls in SQL.
    */
  private def farthestSeeds(v: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    val first = v.orderBy("vec_id").limit(1).select(col("x").as("c"))
    var seeds = first.select(lit(0L).as("cid"), col("c"))
    if (k == 1) return seeds
    var scored = v.crossJoin(broadcast(first))
      .select(col("vec_id"), col("x"), sqDist(col("x"), col("c")).as("m"))
    for (j <- 1 until k) {
      val pick = scored
        .agg(max(struct(col("m"), (-col("vec_id")).as("nv"), col("x"))).as("p"))
        .select(col("p.x").as("c"))
      seeds = seeds.unionAll(pick.select(lit(j.toLong).as("cid"), col("c")))
      if (j < k - 1)
        scored = scored.crossJoin(broadcast(pick))
          .select(col("vec_id"), col("x"),
            least(col("m"), sqDist(col("x"), col("c"))).as("m"))
    }
    seeds
  }

  /** DuckDB CTE chain for [[kmeans]]: seeds c0 → assign a1 (dist kept)
    * → decimal-mean stats s1 → centroids c1 → assign a2 → stats s2.
    * Split into (v, c0) + [[lloydSql]] so the seeded variant swaps only
    * the c0 stage.
    */
  private val vSql: String = """v AS (
  SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings)"""

  /** Two unrolled Lloyd iterations over whatever `c0` holds. */
  private val lloydSql: String = """d1 AS (SELECT v.vec_id, v.x, c0.cid,
              list_reduce(list_transform(range(1, len(v.x) + 1),
                i -> (v.x[i] - c0.c[i]) * (v.x[i] - c0.c[i])),
                (a, b) -> a + b) AS dist
       FROM v CROSS JOIN c0),
a1 AS (SELECT vec_id, x, cid, dist FROM
        (SELECT vec_id, x, cid, dist,
                row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         FROM d1)
       WHERE rn = 1),
e1 AS (SELECT cid, unnest(list_transform(range(1, len(x) + 1),
         i -> {'idx': i - 1, 'val': x[i]}), recursive := true)
       FROM a1),
s1 AS (SELECT cid, idx,
              CAST(sum(CAST(val AS DECIMAL(38,15))) AS DOUBLE) / count(*) AS comp,
              count(*) AS n
       FROM e1 GROUP BY cid, idx),
c1 AS (SELECT cid, list(comp ORDER BY idx) AS c FROM s1 GROUP BY cid),
d2 AS (SELECT v.vec_id, v.x, c1.cid,
              list_reduce(list_transform(range(1, len(v.x) + 1),
                i -> (v.x[i] - c1.c[i]) * (v.x[i] - c1.c[i])),
                (a, b) -> a + b) AS dist
       FROM v CROSS JOIN c1),
a2 AS (SELECT vec_id, x, cid, dist FROM
        (SELECT vec_id, x, cid, dist,
                row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         FROM d2)
       WHERE rn = 1),
e2 AS (SELECT cid, unnest(list_transform(range(1, len(x) + 1),
         i -> {'idx': i - 1, 'val': x[i]}), recursive := true)
       FROM a2),
s2 AS (SELECT cid, idx,
              CAST(sum(CAST(val AS DECIMAL(38,15))) AS DOUBLE) / count(*) AS comp,
              count(*) AS n
       FROM e2 GROUP BY cid, idx)"""

  private val kmeansSql: String = vSql + """,
c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
              x AS c
       FROM (SELECT * FROM v ORDER BY vec_id LIMIT 4)),
""" + lloydSql

  /** Farthest-point seeding unrolled for K=4: p0 = lowest vec_id, then
    * three (running-min distance → argmax) picks — the SQL twin of
    * [[farthestSeeds]], incremental `least` chain and all, so the
    * doubles match Spark bit-for-bit.
    */
  private val kmeansSeededSql: String = vSql + """,
p0 AS (SELECT vec_id, x FROM v ORDER BY vec_id LIMIT 1),
g1 AS (SELECT v.vec_id, v.x,
              list_reduce(list_transform(range(1, len(v.x) + 1),
                i -> (v.x[i] - p0.x[i]) * (v.x[i] - p0.x[i])),
                (a, b) -> a + b) AS m
       FROM v CROSS JOIN p0),
p1 AS (SELECT vec_id, x FROM g1 ORDER BY m DESC, vec_id LIMIT 1),
g2 AS (SELECT g1.vec_id, g1.x,
              least(g1.m,
                list_reduce(list_transform(range(1, len(g1.x) + 1),
                  i -> (g1.x[i] - p1.x[i]) * (g1.x[i] - p1.x[i])),
                  (a, b) -> a + b)) AS m
       FROM g1 CROSS JOIN p1),
p2 AS (SELECT vec_id, x FROM g2 ORDER BY m DESC, vec_id LIMIT 1),
g3 AS (SELECT g2.vec_id, g2.x,
              least(g2.m,
                list_reduce(list_transform(range(1, len(g2.x) + 1),
                  i -> (g2.x[i] - p2.x[i]) * (g2.x[i] - p2.x[i])),
                  (a, b) -> a + b)) AS m
       FROM g2 CROSS JOIN p2),
p3 AS (SELECT vec_id, x FROM g3 ORDER BY m DESC, vec_id LIMIT 1),
c0 AS (SELECT CAST(0 AS BIGINT) AS cid, x AS c FROM p0
       UNION ALL SELECT CAST(1 AS BIGINT), x FROM p1
       UNION ALL SELECT CAST(2 AS BIGINT), x FROM p2
       UNION ALL SELECT CAST(3 AS BIGINT), x FROM p3),
""" + lloydSql
}
