package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorExpressions

/** Approximate-nearest-neighbor search over the embedding column.
  *
  * Two paths:
  *  - brute-force top-k (the exactness baseline): broadcast the query
  *    set, stream the candidates, codegen'd cosine kernel, window top-k.
  *    O(Q*N) compute but only one pass over the big side — correct
  *    shape when Q is small;
  *  - sign-random-projection LSH buckets (the 100 TB path): each vector
  *    maps to a small bucket id from deterministic +/-1 hyperplanes;
  *    search only joins query buckets to candidate buckets (equi-join,
  *    shuffle ~ bucket-collision size), then exact re-rank inside the
  *    bucket. Recall < 1 by design; the oracle mirrors the same
  *    algorithm, so results are deterministic and checkable.
  */
object SimilaritySearch {

  /** `round(c, 6)` through [[graft.functions.RoundFastD]] — BIT-
    * IDENTICAL to Spark's round (RoundFastSpec pins it) without the
    * per-value BigDecimal/Double.toString allocation, which a thread
    * dump showed as the largest CPU item of the pair-scoring stages
    * (r15, guide §1.2 per-task work).
    */
  private def r6(c: Column): Column = call_function("round_f", c, lit(6))

  val NumPlanes = 4

  /** Deterministic pseudo-random +/-1 hyperplane sign for (plane, dim). */
  private def signExpr(plane: Int, dim: Column): Column =
    when(((lit(plane) * 131 + dim * 137) % 2) === 0, lit(-1.0)).otherwise(lit(1.0))

  /** Sign-random-projection bucket id over an array<float> column. */
  def bucket(v: Column): Column = {
    val dv = v.cast("array<double>")
    (0 until NumPlanes).map { j =>
      val proj = aggregate(
        zip_with(dv, sequence(lit(0), size(dv) - 1),
          (x, i) => x * signExpr(j, i)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** DuckDB twin of [[bucket]] over a DOUBLE[] expression (1-based i). */
  def sqlBucket(v: String): String =
    (0 until NumPlanes).map { j =>
      s"""CASE WHEN list_sum(list_transform(range(1, len($v)+1),
            i -> $v[i] * (CASE WHEN (($j * 131 + (i-1) * 137) % 2) = 0
                          THEN -1.0 ELSE 1.0 END))) > 0
          THEN ${1L << j} ELSE 0 END"""
    }.mkString("(", " + ", ")")

  /** Planes per band for the multi-band family below. 3 planes (not 4):
    * for sign-random-projection LSH the per-plane collision probability
    * at cosine θ is 1 - θ/π, ≈ 0.63 at the dedup threshold cos ≥ 0.4,
    * so band recall is 1-(1-p^k)^B — k=4/B=6 gives ≈0.65 (and measured
    * 56% on sf0.01), while k=3/B=8 gives ≈0.90 at the SAME total
    * projection cost (24 plane-projections per vector). At 1000×, grow
    * planes with log(N) to hold bucket population constant and add
    * bands to restore recall. Aliases
    * [[graft.functions.VectorExpressions.SrpPlanes]] — the one place the
    * family lives, shared with the srp_buckets registration.
    */
  val BandPlanes: Int = graft.functions.VectorExpressions.SrpPlanes

  /** Deterministic ±1 hyperplane sign for (band, plane, dim).
    *
    * Unlike [[signExpr]] (whose parity of a linear form makes planes
    * with the same parity collinear), this squares a per-(band, plane,
    * dim) integer before reducing mod 2, so every (band, plane) pair is
    * a genuinely distinct hyperplane — required for multi-band LSH,
    * where recall comes from bands being independent. All arithmetic is
    * exact 64-bit integer: h = (band*101+plane)*1000003 + dim + 1, so
    * with band ≤ 7, plane ≤ 2 and dim < 1e6, h < 7.1e8 and h*h < 5.1e17
    * — inside Long (and DuckDB BIGINT), enforced by the require below
    * for anyone widening the family.
    */
  private def bandSign(band: Int, plane: Int, dim: Column): Column = {
    val base = (band * 101 + plane).toLong * 1000003L
    // h = base + dim + 1 must square within Long (dim headroom 1e6);
    // floor(sqrt(Long.MaxValue)) = 3037000499
    require(base + 1000001L <= 3037000499L,
      s"bandSign base $base too large: h*h would overflow Long")
    val h = lit(base) + dim.cast("long") + lit(1L)
    when(pmod(h * h, lit(1013L)) % 2 === 0, lit(-1.0)).otherwise(lit(1.0))
  }

  /** Sign-random-projection bucket id for one band of a multi-band LSH
    * family: [[BandPlanes]] independent hyperplanes per band, bands made
    * independent by the band index entering the plane hash. A pair of
    * vectors collides when SOME band agrees on all its planes — the
    * union over bands is what buys recall without widening any single
    * band's buckets.
    *
    * This HOF formulation is the REFERENCE implementation: production
    * queries call the fused codegen kernel
    * [[graft.functions.SrpBucketsF]] (`srp_buckets`, all bands in one
    * dim loop), and `VectorExpressionsSpec` pins the two bit-identical
    * on real embeddings — keep both in lockstep with [[sqlBandBucket]].
    */
  def bandBucket(v: Column, band: Int): Column = {
    val dv = v.cast("array<double>")
    (0 until BandPlanes).map { j =>
      val proj = aggregate(
        zip_with(dv, sequence(lit(0), size(dv) - 1),
          (x, i) => x * bandSign(band, j, i)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** DuckDB twin of [[bandBucket]] (1-based i, so dim+1 == i). */
  def sqlBandBucket(v: String, band: Int): String =
    (0 until BandPlanes).map { j =>
      val base = (band * 101 + j).toLong * 1000003L
      s"""CASE WHEN list_sum(list_transform(range(1, len($v)+1),
            i -> $v[i] * (CASE WHEN ((($base + i) * ($base + i)) % 1013) % 2 = 0
                          THEN -1.0 ELSE 1.0 END))) > 0
          THEN ${1L << j} ELSE 0 END"""
    }.mkString("(", " + ", ")")

  /** k-means coarse-quantizer centroids for the IVF index: deterministic
    * init (every-100th vector) refined by ONE Lloyd iteration, all as
    * DataFrame aggregations — assignment is a broadcast cross join +
    * per-vector top-1 window; the new centroid is the per-dimension mean
    * of the assigned vectors. Cells that lose every member drop out
    * (standard k-means), keeping their init vector's id as the label.
    *
    * Engine-exactness (the oracle mirrors every step): the mean is a
    * SEQUENTIAL fold over the per-dimension values SORTED ascending
    * (cross-row float addition is otherwise partition-order-dependent),
    * rounded to 6 dp, and the centroid is cast to float32 so both
    * engines hold bit-identical values. A production build would use a
    * plain `avg` over a few iterations — same plan shape, one shuffle
    * per iteration, centroid count small enough to broadcast.
    */
  def kmeansCents(emb: DataFrame): DataFrame = {
    val init = emb.filter(col("vec_id") % 100 === 10)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos_c").desc, col("cent_id").asc)
    val asg1 = emb.crossJoin(broadcast(init))
      .withColumn("cos_c",
        r6(expr("dot_f(embedding, c_emb)") / (col("nrm") * col("c_nrm"))))
      .withColumn("rnc", row_number().over(w))
      .filter(col("rnc") === 1)
      .select(col("cent_id").as("cell"), col("embedding"))
    val expl = asg1.select(col("cell"),
      posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "val")))
    val dimMean = expl.groupBy("cell", "pos")
      .agg(aggregate(sort_array(collect_list(col("val"))), lit(0.0),
        (a, x) => a + x).as("sm"), count(lit(1)).as("cnt"))
      .withColumn("m", r6(col("sm") / col("cnt")))
    dimMean.groupBy("cell")
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).cast("array<float>").as("c_emb"))
      .select(col("cell").as("cent_id"), col("c_emb"),
        expr("norm_f(c_emb)").as("c_nrm"))
  }

  /** Production quantizer: the same IVF training loop with plain
    * per-dimension `avg` and multiple Lloyd iterations. NOT oracle-exact
    * (cross-row float addition is partition-order-dependent in the last
    * ulp), so it backs non-oracled builds and is held to a recall floor
    * (SimilaritySearchSpec) instead of a hash: [[kmeansCents]]'s
    * sort_array(collect_list(...)) fold exists only for bit-exact oracle
    * parity and materializes a cell's whole population per (cell, dim) —
    * a memory risk at a 100 TB training set — while `avg` is a
    * partial-aggregating shuffle of (cell, pos) pairs, safe at any
    * scale. (The final per-cell collect_list here gathers one value per
    * DIMENSION, bounded by the embedding width, never by corpus size.)
    * Each iteration costs one broadcast-assign pass + one avg shuffle;
    * intermediate centroid sets are materialized and released so the
    * loop never nests crossJoin lineage.
    */
  def kmeansCentsAvg(emb: DataFrame, iters: Int = 3): DataFrame = {
    val s = emb.sparkSession
    var cents = graft.Caching.materialize(s,
      emb.filter(col("vec_id") % 100 === 10)
        .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"),
          col("nrm").as("c_nrm")))
    for (_ <- 1 to iters) {
      val w = Window.partitionBy("vec_id")
        .orderBy(col("cos_c").desc, col("cent_id").asc)
      val asg = emb.crossJoin(broadcast(cents))
        .withColumn("cos_c",
          expr("dot_f(embedding, c_emb)") / (col("nrm") * col("c_nrm")))
        .withColumn("rnc", row_number().over(w))
        .filter(col("rnc") === 1)
        .select(col("cent_id").as("cell"), col("embedding"))
      val expl = asg.select(col("cell"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "val")))
      val next = expl.groupBy("cell", "pos").agg(avg("val").as("m"))
        .groupBy("cell")
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).cast("array<float>").as("c_emb"))
        .select(col("cell").as("cent_id"), col("c_emb"),
          expr("norm_f(c_emb)").as("c_nrm"))
      val prev = cents
      cents = graft.Caching.materialize(s, next)
      graft.Caching.release(prev)
    }
    cents
  }

  /** DuckDB twin of [[kmeansCents]]: CTE list ending in `cent`
    * (cent_id, c_v DOUBLE[], c_nrm), assuming `e` (vec_id, v, nrm)
    * is already defined.
    */
  val sqlKmeansCtes: String = s"""
cent0 AS (SELECT vec_id AS cent_id, v AS c_v, nrm AS c_nrm FROM e WHERE vec_id % 100 = 10),
asg1 AS (SELECT cell, v FROM (
    SELECT e.vec_id, e.v, cent0.cent_id AS cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_sum(list_transform(range(1, len(e.v)+1),
                        i -> e.v[i] * cent0.c_v[i])) / (e.nrm * cent0.c_nrm), 6) DESC,
             cent0.cent_id ASC) AS rnc
    FROM e CROSS JOIN cent0)
  WHERE rnc = 1),
expl AS (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM asg1),
dimmean AS (SELECT cell, pos,
              round(list_reduce(list_sort(list(val)), (a, b) -> a + b) / count(*), 6) AS m
            FROM expl GROUP BY cell, pos),
cent AS (SELECT cell AS cent_id, list(m ORDER BY pos)::FLOAT[]::DOUBLE[] AS c_v,
                sqrt(list_sum(list_transform(list(m ORDER BY pos)::FLOAT[]::DOUBLE[],
                     x -> x*x))) AS c_nrm
         FROM dimmean GROUP BY cell)"""

  /** Parametrized DuckDB twin of [[kmeansCents]] + full-corpus top-1
    * assignment, with all CTE names prefixed by `p` so two instances
    * (e.g. the two PQ subspace codebooks) can coexist in one query.
    * Input CTE `$e` must provide (vec_id, v DOUBLE[], nrm). Emits
    * `${p}_cent` (cent_id, c_v, c_nrm) and `${p}_asg`
    * (vec_id, cell) — the assignment of EVERY vector of `$e`.
    */
  def sqlKmeansCtesFor(p: String, e: String): String = s"""
${p}_c0 AS (SELECT vec_id AS cent_id, v AS c_v, nrm AS c_nrm FROM $e WHERE vec_id % 100 = 10),
${p}_a1 AS (SELECT cell, v FROM (
    SELECT $e.vec_id, $e.v, ${p}_c0.cent_id AS cell,
           row_number() OVER (PARTITION BY $e.vec_id
             ORDER BY round(list_sum(list_transform(range(1, len($e.v)+1),
                        i -> $e.v[i] * ${p}_c0.c_v[i])) / ($e.nrm * ${p}_c0.c_nrm), 6) DESC,
             ${p}_c0.cent_id ASC) AS rnc
    FROM $e CROSS JOIN ${p}_c0)
  WHERE rnc = 1),
${p}_ex AS (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM ${p}_a1),
${p}_dm AS (SELECT cell, pos,
              round(list_reduce(list_sort(list(val)), (a, b) -> a + b) / count(*), 6) AS m
            FROM ${p}_ex GROUP BY cell, pos),
${p}_cent AS (SELECT cell AS cent_id, list(m ORDER BY pos)::FLOAT[]::DOUBLE[] AS c_v,
                sqrt(list_sum(list_transform(list(m ORDER BY pos)::FLOAT[]::DOUBLE[],
                     x -> x*x))) AS c_nrm
         FROM ${p}_dm GROUP BY cell),
${p}_asg AS (SELECT vec_id, cent_id AS cell FROM (
    SELECT $e.vec_id, ${p}_cent.cent_id,
           row_number() OVER (PARTITION BY $e.vec_id
             ORDER BY round(list_sum(list_transform(range(1, len($e.v)+1),
                        i -> $e.v[i] * ${p}_cent.c_v[i])) / ($e.nrm * ${p}_cent.c_nrm), 6) DESC,
             ${p}_cent.cent_id ASC) AS rnc
    FROM $e CROSS JOIN ${p}_cent)
  WHERE rnc = 1)"""

  /** One coherence CTE for the retrain-decision oracle: global average
    * top-1 assignment cosine of `$corpus(vec_id, v, nrm)` against
    * `$cents(cent_id, c_v, c_nrm)`, micro-unit exact like
    * simsearch_cell_quality, emitted as `(stage, n_vecs, avg_cos)`.
    */
  private def sqlCoherence(name: String, stage: String, corpus: String,
      cents: String): String = s"""
$name AS (
  SELECT '$stage' AS stage, CAST(count(*) AS BIGINT) AS n_vecs,
         round(CAST(sum(CAST(round(cos_c * 1000000) AS BIGINT)) AS DOUBLE)
               / (count(*) * 1000000), 6) AS avg_cos
  FROM (SELECT vec_id, cos_c,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY cos_c DESC, cent_id ASC) AS rnc
        FROM (SELECT $corpus.vec_id, $cents.cent_id,
                     round(list_sum(list_transform(range(1, len($corpus.v)+1),
                              i -> $corpus.v[i] * $cents.c_v[i]))
                           / ($corpus.nrm * $cents.c_nrm), 6) AS cos_c
              FROM $corpus CROSS JOIN $cents))
  WHERE rnc = 1)"""

  /** IVF nprobe=1 top-5 oracle text — also the approximate arm of
    * simsearch_recall_report.
    */
  private def ivfNprobe1Sql: String = s"""
WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
e AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e0),$sqlKmeansCtes,
asg AS (
  SELECT vec_id, v, nrm, cent_id AS cell FROM (
    SELECT e.vec_id, e.v, e.nrm, cent.cent_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_sum(list_transform(range(1, len(e.v)+1),
                        i -> e.v[i] * cent.c_v[i])) / (e.nrm * cent.c_nrm), 6) DESC,
             cent.cent_id ASC) AS rnc
    FROM e CROSS JOIN cent)
  WHERE rnc = 1),
q AS (SELECT vec_id AS q_id, v, nrm, cell FROM asg WHERE vec_id < 10),
c AS (SELECT vec_id AS c_id, v, nrm, cell FROM asg WHERE vec_id >= 10),
p AS (SELECT q.q_id, c.c_id, q.cell,
             round(list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i] * c.v[i])) /
                   (q.nrm * c.nrm), 6) AS cos
      FROM q JOIN c ON q.cell = c.cell),
r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn FROM p)
SELECT q_id, c_id, cell, cos, rn FROM r WHERE rn <= 5 ORDER BY q_id, rn"""

  /** Brute-force top-5 oracle text — also the ground-truth arm of
    * simsearch_recall_report.
    */
  private val bruteTopkSql: String = """
WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS v,
                  sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS nrm
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS v,
             sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS nrm
      FROM embeddings WHERE vec_id >= 10),
p AS (SELECT q.q_id, c.c_id,
             round(list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i] * c.v[i])) /
                   (q.nrm * c.nrm), 6) AS cos
      FROM q CROSS JOIN c),
r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn FROM p)
SELECT q_id, c_id, cos, rn FROM r WHERE rn <= 5 ORDER BY q_id, rn"""

  def qs: Seq[Q] = Seq(
    // Brute-force cosine top-k: exact kNN baseline
    Q("simsearch_bruteforce_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
          .withColumn("q_norm", expr("norm_f(q_emb)"))
        val cands = emb.filter(col("vec_id") >= 10)
          .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
          .withColumn("c_norm", expr("norm_f(c_emb)"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("c_id").asc)
        cands.crossJoin(broadcast(queries))
          .withColumn("cos",
            r6(expr("dot_f(q_emb, c_emb)") / (col("q_norm") * col("c_norm"))))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("c_id"), col("cos"),
            col("rn").cast("long").as("rn"))
          .orderBy("q_id", "rn")
      },
      Some(bruteTopkSql)),

    // LSH-bucketed ANN: candidates restricted to the query's bucket,
    // exact cosine re-rank inside it
    Q("simsearch_lsh_bucketed",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .withColumn("bkt", bucket(col("embedding")))
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            col("bkt"))
          .withColumn("q_norm", expr("norm_f(q_emb)"))
        val cands = emb.filter(col("vec_id") >= 10)
          .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
            col("bkt"))
          .withColumn("c_norm", expr("norm_f(c_emb)"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("c_id").asc)
        cands.join(queries, Seq("bkt"))
          .withColumn("cos",
            r6(expr("dot_f(q_emb, c_emb)") / (col("q_norm") * col("c_norm"))))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("c_id"), col("bkt"), col("cos"),
            col("rn").cast("long").as("rn"))
          .orderBy("q_id", "rn")
      },
      Some(s"""
WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
e AS (SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm,
             CAST(${sqlBucket("v")} AS BIGINT) AS bkt
      FROM e0),
q AS (SELECT vec_id AS q_id, v, nrm, bkt FROM e WHERE vec_id < 10),
c AS (SELECT vec_id AS c_id, v, nrm, bkt FROM e WHERE vec_id >= 10),
p AS (SELECT q.q_id, c.c_id, q.bkt,
             round(list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i] * c.v[i])) /
                   (q.nrm * c.nrm), 6) AS cos
      FROM q JOIN c ON q.bkt = c.bkt),
r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn FROM p)
SELECT q_id, c_id, bkt, cos, rn FROM r WHERE rn <= 5 ORDER BY q_id, rn""")),

    // IVF-style ANN: coarse quantization to the nearest of a small
    // k-means centroid set ([[kmeansCents]] — deterministic init + one
    // Lloyd iteration), then candidate generation by shared cell
    // (nprobe=1) and exact re-rank inside it. The centroid set
    // broadcasts; the big side is scanned once for assignment and
    // shuffles only by cell id. Recall improves by probing more cells —
    // cost scales with cells probed, never |N| — and k-means cells fit
    // the data distribution where the former every-100th-vector rule
    // did not (measured recall@5 vs brute force on sf0.01: 0.24 → see
    // SimilaritySearchSpec bound).
    Q("simsearch_ivf_bucketed",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding"),
            expr("norm_f(embedding)").as("nrm"))
        val cents = kmeansCents(emb)
        def assign(df: DataFrame): DataFrame = {
          val w = Window.partitionBy("vec_id")
            .orderBy(col("cos_c").desc, col("cent_id").asc)
          df.crossJoin(broadcast(cents))
            .withColumn("cos_c",
              r6(expr("dot_f(embedding, c_emb)") / (col("nrm") * col("c_nrm"))))
            .withColumn("rnc", row_number().over(w))
            .filter(col("rnc") === 1)
            .select(col("vec_id"), col("embedding"), col("nrm"),
              col("cent_id").as("cell"))
        }
        val q = assign(emb.filter(col("vec_id") < 10))
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            col("nrm").as("q_norm"), col("cell"))
        val c = assign(emb.filter(col("vec_id") >= 10))
          .select(col("vec_id").as("c_id"), col("embedding").as("c_emb2"),
            col("nrm").as("c_norm"), col("cell"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("c_id").asc)
        c.join(q, Seq("cell"))
          .withColumn("cos",
            r6(expr("dot_f(q_emb, c_emb2)") / (col("q_norm") * col("c_norm"))))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("c_id"), col("cell"), col("cos"),
            col("rn").cast("long").as("rn"))
          .orderBy("q_id", "rn")
      },
      Some(ivfNprobe1Sql)),

    // IVF multi-probe: same index, nprobe=2 — queries search their TWO
    // nearest cells while the candidate side stays assigned to one.
    // This is the recall dial in action: cost scales with cells probed
    // (2× the nprobe=1 candidate volume), never with |N|. The big side
    // is never reassigned or re-scanned — only the query set fans out.
    Q("simsearch_ivf_multiprobe",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding"),
            expr("norm_f(embedding)").as("nrm"))
        val cents = kmeansCents(emb)
        def assign(df: DataFrame, nprobe: Int): DataFrame = {
          val w = Window.partitionBy("vec_id")
            .orderBy(col("cos_c").desc, col("cent_id").asc)
          df.crossJoin(broadcast(cents))
            .withColumn("cos_c",
              r6(expr("dot_f(embedding, c_emb)") / (col("nrm") * col("c_nrm"))))
            .withColumn("rnc", row_number().over(w))
            .filter(col("rnc") <= nprobe)
            .select(col("vec_id"), col("embedding"), col("nrm"),
              col("cent_id").as("cell"))
        }
        val q = assign(emb.filter(col("vec_id") < 10), nprobe = 2)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            col("nrm").as("q_norm"), col("cell"))
        val c = assign(emb.filter(col("vec_id") >= 10), nprobe = 1)
          .select(col("vec_id").as("c_id"), col("embedding").as("c_emb2"),
            col("nrm").as("c_norm"), col("cell"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("c_id").asc)
        c.join(q, Seq("cell"))
          .withColumn("cos",
            r6(expr("dot_f(q_emb, c_emb2)") / (col("q_norm") * col("c_norm"))))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("c_id"), col("cos"),
            col("rn").cast("long").as("rn"))
          .orderBy("q_id", "rn")
      },
      Some(sqlIvfNprobe2)),

    // Persistent IVF index ([[AnnIndex]]): quantizer + cell-partitioned
    // posting lists built ONCE into parquet state, queried with
    // nprobe=2 — identical semantics (and oracle) to the multiprobe
    // query above, but the clustering never runs at query time and the
    // cell-partitioned layout turns probing into partition pruning.
    Q("simsearch_ivf_persisted",
      (s, d) => graft.Scratch.withDir(s, "annidx") { root =>
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding"),
            expr("norm_f(embedding)").as("nrm"))
        // oracle-gated build: the DuckDB twin mirrors the single-Lloyd
        // quantizer bit-for-bit, so pass it explicitly (the build
        // default is the production avg quantizer)
        AnnIndex.build(s, train = emb,
          vecs = emb.filter(col("vec_id") >= 10), stateDir = root,
          quantizer = kmeansCents)
        AnnIndex.query(s, emb.filter(col("vec_id") < 10), root,
          topK = 5, nprobe = 2)
      },
      Some(sqlIvfNprobe2)),

    // Filtered ANN — vector search under a metadata predicate (the
    // serving-stack staple: "nearest neighbours WITH label = 1"),
    // served from the PERSISTED index: [[AnnIndex.build]] carries the
    // label column into the cell-partitioned posting lists, and the
    // query applies the predicate directly on the state scan, where
    // parquet pushes it down — so selectivity cuts candidate volume
    // BEFORE the cell join (pre-filter; post-filtering top-k would
    // return fewer than k rows when the predicate thins a
    // neighbourhood), and cell probing stays partition pruning.
    // AnnIndexSpec asserts both pushdowns in the executed plan. The
    // oracle is unchanged from the inline formulation: per-vector cell
    // assignment is independent of the predicate, so filtering at the
    // scan equals filtering before assignment.
    Q("simsearch_filtered_ann",
      (s, d) => graft.Scratch.withDir(s, "annidxf") { root =>
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"), col("embedding"),
            expr("norm_f(embedding)").as("nrm"))
        AnnIndex.build(s, train = emb.drop("label"),
          vecs = emb.filter(col("vec_id") >= 10), stateDir = root,
          quantizer = kmeansCents) // bit-exact oracle twin below
        AnnIndex.query(s, emb.filter(col("vec_id") < 10).drop("label"), root,
          topK = 5, nprobe = 2, candidateFilter = Some(col("label") === 1))
      },
      Some(s"""
WITH e0 AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
e AS (SELECT vec_id, label, v,
             sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e0),$sqlKmeansCtes,
ranked AS (
  SELECT e.vec_id, e.label, e.v, e.nrm, cent.cent_id,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY round(list_sum(list_transform(range(1, len(e.v)+1),
                      i -> e.v[i] * cent.c_v[i])) / (e.nrm * cent.c_nrm), 6) DESC,
           cent.cent_id ASC) AS rnc
  FROM e CROSS JOIN cent),
q AS (SELECT vec_id AS q_id, v, nrm, cent_id AS cell FROM ranked
      WHERE vec_id < 10 AND rnc <= 2),
c AS (SELECT vec_id AS c_id, v, nrm, cent_id AS cell FROM ranked
      WHERE vec_id >= 10 AND label = 1 AND rnc = 1),
p AS (SELECT q.q_id, c.c_id,
             round(list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i] * c.v[i])) /
                   (q.nrm * c.nrm), 6) AS cos
      FROM q JOIN c ON q.cell = c.cell),
r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn FROM p)
SELECT q_id, c_id, cos, rn FROM r WHERE rn <= 5 ORDER BY q_id, rn""")),

    // Product quantization with asymmetric distance computation and
    // exact re-rank — the memory-bound regime's ANN: each candidate is
    // stored as M=4 codes (nearest codeword per 16-dim subspace, K≈N/20
    // codewords per codebook from the same deterministic k-means), the
    // ADC pass scores every candidate WITHOUT touching its vector
    // (query stays exact, candidate is its codeword reconstruction:
    // dot(q,x) ≈ Σₘ dot(qₘ, cbₘ[codeₘ])), and only the top-R=50
    // shortlist gets its full vectors fetched for the exact top-5
    // re-rank — the standard two-stage serving stack. At 100 TB the
    // ADC scan reads 4 ints/candidate instead of 64 floats (16× less
    // I/O), codebooks broadcast, and the exact fetch touches R rows
    // per query, never N. ADC-only recall on near-uniform synthetic
    // embeddings is poor (measured 0.08 — quantization error swamps
    // signal at this K), which is exactly why the production shape IS
    // shortlist+rerank: measured recall@5 = 0.52, on par with IVF
    // nprobe=2 (floor-asserted in SimilaritySearchSpec). The oracle
    // mirrors codebook training, code assignment, ADC scoring, and the
    // re-rank exactly.
    Q("simsearch_pq_rerank",
      (s, d) => {
        val M = 4
        val dsub = 16
        val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        def sub(m: Int): DataFrame = emb.select(col("vec_id"),
          slice(col("embedding"), m * dsub + 1, dsub).as("embedding"))
          .withColumn("nrm", expr("norm_f(embedding)"))
        def assign(df: DataFrame, cb: DataFrame): DataFrame = {
          val w = Window.partitionBy("vec_id")
            .orderBy(col("cos_c").desc, col("cent_id").asc)
          df.crossJoin(broadcast(cb))
            .withColumn("cos_c",
              r6(expr("dot_f(embedding, c_emb)") / (col("nrm") * col("c_nrm"))))
            .withColumn("rnc", row_number().over(w))
            .filter(col("rnc") === 1)
            .select(col("vec_id"), col("cent_id").as("cell"))
        }
        // K≈25 codebooks: every-20th-vector init (vs every-100th for
        // IVF) — PQ needs resolution, IVF needs few coarse cells. The
        // ×5 id scaling reuses kmeansCents' %100==10 init rule as a
        // %20==2 rule without forking the quantizer; centroid labels
        // stay consistent across engines because both scale the same
        // way.
        val cbs = (0 until M).map(m => kmeansCents(
          sub(m).withColumn("vec_id", col("vec_id") * 5)))
        val codes = (0 until M).map { m =>
          assign(sub(m), cbs(m)).withColumnRenamed("cell", s"code$m")
        }.reduce(_.join(_, "vec_id"))
          .filter(col("vec_id") >= 10)
          .select(col("vec_id").as("c_id") +: (0 until M).map(m => col(s"code$m")): _*)
        val q = emb.filter(col("vec_id") < 10)
          .select(Seq(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            expr("norm_f(embedding)").as("q_norm")) ++
            (0 until M).map(m =>
              slice(col("embedding"), m * dsub + 1, dsub).as(s"q$m")): _*)
        val joined = (0 until M).foldLeft(codes) { (acc, m) =>
          acc.join(broadcast(cbs(m).select(col("cent_id").as(s"code$m"),
            col("c_emb").as(s"c${m}_emb"), col("c_nrm").as(s"c${m}_nrm"))), s"code$m")
        }
        val adcNum = (0 until M).map(m => expr(s"dot_f(q$m, c${m}_emb)"))
          .reduce(_ + _)
        val recNrm2 = (0 until M).map(m => col(s"c${m}_nrm") * col(s"c${m}_nrm"))
          .reduce(_ + _)
        val wShort = Window.partitionBy("q_id")
          .orderBy(col("adc").desc, col("c_id").asc)
        val shortlist = joined.crossJoin(broadcast(q))
          .withColumn("adc", r6(adcNum / (col("q_norm") * sqrt(recNrm2))))
          .withColumn("rs", row_number().over(wShort))
          .filter(col("rs") <= 50)
          .select("q_id", "c_id", "q_emb", "q_norm")
        // exact re-rank: fetch full vectors for the R-shortlist only
        val wTop = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("c_id").asc)
        shortlist
          .join(emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb2"))
            .withColumn("c_norm", expr("norm_f(c_emb2)")), "c_id")
          .withColumn("cos",
            r6(expr("dot_f(q_emb, c_emb2)") / (col("q_norm") * col("c_norm"))))
          .withColumn("rn", row_number().over(wTop))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("c_id"), col("cos"),
            col("rn").cast("long").as("rn"))
          .orderBy("q_id", "rn")
      },
      Some(s"""
WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
e AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e0),
${(0 until 4).map(m => s"s$m AS (SELECT vec_id * 5 AS vec_id, v[${m * 16 + 1}:${(m + 1) * 16}] AS v, sqrt(list_sum(list_transform(v[${m * 16 + 1}:${(m + 1) * 16}], x -> x*x))) AS nrm FROM e0)").mkString(",\n")},
${(0 until 4).map(m => sqlKmeansCtesFor(s"pq$m", s"s$m")).mkString(",\n")},
codes AS (SELECT a0.vec_id // 5 AS c_id, a0.cell AS code0, a1.cell AS code1,
                 a2.cell AS code2, a3.cell AS code3
          FROM pq0_asg a0 JOIN pq1_asg a1 ON a0.vec_id = a1.vec_id
          JOIN pq2_asg a2 ON a0.vec_id = a2.vec_id
          JOIN pq3_asg a3 ON a0.vec_id = a3.vec_id
          WHERE a0.vec_id // 5 >= 10),
q AS (SELECT vec_id AS q_id, v, nrm,
             ${(0 until 4).map(m => s"v[${m * 16 + 1}:${(m + 1) * 16}] AS q$m").mkString(", ")}
      FROM e WHERE vec_id < 10),
adc AS (SELECT q.q_id, codes.c_id, q.v AS qv, q.nrm AS qnrm,
             round((${(0 until 4).map(m => s"list_sum(list_transform(range(1, 17), i -> q.q$m[i] * cb$m.c_v[i]))").mkString("\n                    + ")}) /
                   (q.nrm * sqrt(${(0 until 4).map(m => s"cb$m.c_nrm * cb$m.c_nrm").mkString(" + ")})), 6) AS adc
      FROM codes
      ${(0 until 4).map(m => s"JOIN pq${m}_cent cb$m ON codes.code$m = cb$m.cent_id").mkString("\n      ")}
      CROSS JOIN q),
shortlist AS (SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, c_id ASC) AS rs
    FROM adc) WHERE rs <= 50),
rr AS (SELECT sl.q_id, sl.c_id,
              round(list_sum(list_transform(range(1, 65), i -> sl.qv[i] * c.v[i])) /
                    (sl.qnrm * c.nrm), 6) AS cos
       FROM shortlist sl JOIN e c ON sl.c_id = c.vec_id),
r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn FROM rr)
SELECT q_id, c_id, cos, rn FROM r WHERE rn <= 5 ORDER BY q_id, rn""")),

    // Hybrid retrieval — reciprocal-rank fusion of the lexical (BM25)
    // and semantic (embedding-cosine) rankings, the standard way a
    // production search stack combines the two signal families without
    // calibrating their incomparable scores. Each arm ranks its own
    // top-20 (TakeOrdered — only k rows ever cross a stage boundary),
    // the arms FULL-OUTER join on the doc id (docs found by only one
    // arm keep that arm's contribution), and rrf = Σ 1/(60 + rank) is
    // summed over exactly two fixed-order terms — rank integers in,
    // deterministic double out, so the fused list is hash-gateable.
    // At scale each arm is its own bounded plan (BM25: one corpus-stat
    // broadcast; cosine: map-side kernel vs a broadcast query vector)
    // and the fusion joins two k-row lists — negligible at any corpus
    // size.
    Q("simsearch_hybrid_rrf",
      (s, d) => {
        // each arm cuts to top-20 via orderBy+limit FIRST (TakeOrdered
        // — distributed, k rows cross the stage) and only then ranks
        // with a window: a global row_number over the full scored
        // corpus would funnel every doc through one task
        val wLex = Window.orderBy(col("score").desc, col("doc_id").asc)
        val lex = TextAnalysis.bm25Scored(s, d)
          .orderBy(col("score").desc, col("doc_id").asc).limit(20)
          .withColumn("lex_rn", row_number().over(wLex).cast("long"))
          .select("doc_id", "lex_rn")
        val emb = Tables.embeddings(s, d)
        val qv = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_emb"))
          .withColumn("q_norm", expr("norm_f(q_emb)"))
        val wSem = Window.orderBy(col("cos").desc, col("doc_id").asc)
        val sem = emb.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(qv))
          .select(col("vec_id").as("doc_id"),
            r6(expr("dot_f(q_emb, embedding)") /
              (col("q_norm") * expr("norm_f(embedding)"))).as("cos"))
          .orderBy(col("cos").desc, col("doc_id").asc).limit(20)
          .withColumn("sem_rn", row_number().over(wSem).cast("long"))
          .select("doc_id", "sem_rn")
        val wOut = Window.orderBy(col("rrf").desc, col("doc_id").asc)
        lex.join(sem, Seq("doc_id"), "full_outer")
          .withColumn("rrf", r6(
            coalesce(lit(1.0) / (lit(60L) + col("lex_rn")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60L) + col("sem_rn")), lit(0.0))))
          .withColumn("rn", row_number().over(wOut).cast("long"))
          .filter(col("rn") <= 10)
          .select("doc_id", "lex_rn", "sem_rn", "rrf", "rn")
          .orderBy("rn")
      },
      Some(s"""
WITH ${TextAnalysis.bm25ScoredSql},
lex AS (SELECT doc_id, lex_rn FROM (
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS lex_rn
    FROM sc) WHERE lex_rn <= 20),
e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qv AS (SELECT v AS qv, sqrt(list_sum(list_transform(v, x -> x*x))) AS qnrm
       FROM e0 WHERE vec_id = 0),
cosd AS (SELECT vec_id AS doc_id,
                round(list_sum(list_transform(range(1, len(v)+1), i -> qv[i] * v[i])) /
                      (qnrm * sqrt(list_sum(list_transform(v, x -> x*x)))), 6) AS cos
         FROM e0 CROSS JOIN qv WHERE vec_id <> 0),
sem AS (SELECT doc_id, sem_rn FROM (
    SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS sem_rn
    FROM cosd) WHERE sem_rn <= 20),
fused AS (
  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id, lex_rn, sem_rn,
         round(coalesce(1.0::DOUBLE / (60 + lex_rn), 0.0)
             + coalesce(1.0::DOUBLE / (60 + sem_rn), 0.0), 6) AS rrf
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
SELECT doc_id, lex_rn, sem_rn, rrf, rn FROM (
  SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS rn FROM fused)
WHERE rn <= 10 ORDER BY rn""")),

    // ANN evaluation as a first-class data op: recall@5 of the IVF
    // nprobe=1 arm against the brute-force ground truth, per query.
    // The quality dial of every approximate index (nprobe, bands,
    // quantizer) needs a continuously-computable recall number — at
    // scale this runs on a sampled query set right after index build,
    // the same shape as here. Both arms are the registered queries
    // themselves (one k-row list each), so the report joins 2×k rows
    // per query; recall is an exact integer count over k with one
    // final division. The spec-level recall FLOORS stay in
    // SimilaritySearchSpec; this query makes the measurement itself
    // reproducible and oracle-checked.
    Q("simsearch_recall_report",
      (s, d) => {
        def arm(n: String) = qs.find(_.name == n).get.fn(s, d)
        val brute = arm("simsearch_bruteforce_topk")
          .select(col("q_id"), col("c_id"))
        val ivf = arm("simsearch_ivf_bucketed")
          .select(col("q_id").as("iq"), col("c_id").as("ic"))
        brute.join(ivf,
          col("q_id") === col("iq") && col("c_id") === col("ic"), "left")
          .groupBy("q_id")
          .agg(count(col("ic")).as("n_match"))
          .select(col("q_id"), col("n_match"),
            (col("n_match").cast("double") / lit(5.0)).as("recall_at_5"))
          .orderBy("q_id")
      },
      Some(s"""
WITH brute AS ($bruteTopkSql),
ivf AS ($ivfNprobe1Sql)
SELECT brute.q_id, CAST(count(ivf.c_id) AS BIGINT) AS n_match,
       CAST(count(ivf.c_id) AS DOUBLE) / 5.0 AS recall_at_5
FROM brute LEFT JOIN ivf
  ON brute.q_id = ivf.q_id AND brute.c_id = ivf.c_id
GROUP BY brute.q_id ORDER BY brute.q_id""")),

    // IVF index-health report — the operational twin of the recall
    // report: per cell, how many vectors it holds (balance — probe
    // cost variance at serve time) and how coherent they are (avg /
    // worst cosine to the assigned centroid — when coherence drops,
    // the corpus has drifted from the quantizer and it's time to
    // retrain, the trigger AnnIndex's scaladoc points at). One
    // broadcast-assign pass + one 〈cells〉-row aggregate; the per-member
    // cosines are fixed to 6 dp and summed as exact bigint micro-units
    // (the w11 lesson: cross-row double accumulation is
    // partition-order-dependent, integers are not), with one final
    // deterministic division.
    Q("simsearch_cell_quality",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding"),
            expr("norm_f(embedding)").as("nrm"))
        val cents = kmeansCents(emb)
        val w = Window.partitionBy("vec_id")
          .orderBy(col("cos_c").desc, col("cent_id").asc)
        emb.crossJoin(broadcast(cents))
          .withColumn("cos_c",
            r6(expr("dot_f(embedding, c_emb)") / (col("nrm") * col("c_nrm"))))
          .withColumn("rnc", row_number().over(w))
          .filter(col("rnc") === 1)
          .withColumn("micro",
            expr("CAST(round(cos_c * 1000000) AS BIGINT)"))
          .groupBy(col("cent_id").as("cell"))
          .agg(count(lit(1)).as("n_members"),
            expr("round(CAST(sum(micro) AS DOUBLE) / (count(*) * 1000000), 6)")
              .as("avg_cos"),
            min("cos_c").as("min_cos"))
          .orderBy("cell")
      },
      Some(s"""
WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
e AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e0),$sqlKmeansCtes,
asgc AS (
  SELECT cell, cos FROM (
    SELECT e.vec_id, cent.cent_id AS cell,
           round(list_sum(list_transform(range(1, len(e.v)+1),
                    i -> e.v[i] * cent.c_v[i])) / (e.nrm * cent.c_nrm), 6) AS cos,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_sum(list_transform(range(1, len(e.v)+1),
                        i -> e.v[i] * cent.c_v[i])) / (e.nrm * cent.c_nrm), 6) DESC,
             cent.cent_id ASC) AS rnc
    FROM e CROSS JOIN cent)
  WHERE rnc = 1)
SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
       round(CAST(sum(CAST(round(cos * 1000000) AS BIGINT)) AS DOUBLE)
             / (count(*) * 1000000), 6) AS avg_cos,
       min(cos) AS min_cos
FROM asgc GROUP BY cell ORDER BY cell""")),

    // The nprobe tuning curve — the third operational report next to
    // recall_report (one arm) and cell_quality (index health): recall@5
    // AND scan cost, measured together across nprobe ∈ {1,2,4} against
    // the brute-force truth, so the recall-per-candidate trade the IVF
    // dial buys is a table, not folklore. Cost axis n_scored counts the
    // exact (query, candidate) pairs each arm scores — ∝ probed-cell
    // population, the number a capacity planner multiplies by corpus
    // size. One candidate-assignment pass is shared by all arms (only
    // the 10-query side re-assigns per arm), so the report costs barely
    // more than its widest arm. Recall is n_match over the brute-force
    // truth SIZE (computed, not a literal, so it tracks the query set)
    // — one IEEE division of exact integers per row.
    Q("simsearch_probe_curve",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding"),
            expr("norm_f(embedding)").as("nrm"))
        val cents = kmeansCents(emb)
        def assign(df: DataFrame, nprobe: Int,
            keepRnc: Boolean = false): DataFrame = {
          val w = Window.partitionBy("vec_id")
            .orderBy(col("cos_c").desc, col("cent_id").asc)
          val base = df.crossJoin(broadcast(cents))
            .withColumn("cos_c",
              r6(expr("dot_f(embedding, c_emb)") / (col("nrm") * col("c_nrm"))))
            .withColumn("rnc", row_number().over(w))
            .filter(col("rnc") <= nprobe)
          val cols = Seq(col("vec_id"), col("embedding"), col("nrm"),
            col("cent_id").as("cell")) ++
            (if (keepRnc) Seq(col("rnc")) else Nil)
          base.select(cols: _*)
        }
        val cands = graft.Caching.materialize(s,
          assign(emb.filter(col("vec_id") >= 10), 1)
            .select(col("vec_id").as("c_id"), col("embedding").as("c_emb2"),
              col("nrm").as("c_norm"), col("cell")))
        val bt = graft.Caching.materialize(s,
          qs.find(_.name == "simsearch_bruteforce_topk").get.fn(s, d)
            .select("q_id", "c_id"))
        // recall denominator = the brute-force truth SIZE, not a
        // literal: if the query-set predicate or k ever changes, the
        // denominator follows in both engines instead of silently
        // going stale
        val truth = bt.agg(count(lit(1)).as("n_truth"))
        // r14: the three arms share ONE scored frame. nprobe ∈ {1,2,4}
        // probe NESTED cell prefixes of the same (cos_c desc, cent_id)
        // ranking, and a candidate lives in exactly one cell, so arm
        // np's scored set is precisely the rnc ≤ np slice of the
        // nprobe=4 join — one materialization instead of three, the
        // match counts one tagged join instead of three subplans, and
        // the per-arm n_scored three conditional sums in one pass.
        val q4 = assign(emb.filter(col("vec_id") < 10), 4, keepRnc = true)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            col("nrm").as("q_norm"), col("cell"), col("rnc"))
        val scored4 = graft.Caching.materialize(s,
          cands.join(q4, Seq("cell"))
            .withColumn("cos", r6(expr("dot_f(q_emb, c_emb2)") /
              (col("q_norm") * col("c_norm"))))
            .select("q_id", "c_id", "cos", "rnc"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("c_id").asc)
        val topAll = Seq(1, 2, 4).map { np =>
          scored4.filter(col("rnc") <= np)
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") <= 5)
            .select(lit(np.toLong).as("nprobe"), col("q_id"), col("c_id"))
        }.reduce(_.unionAll(_))
        val mAll = bt.join(topAll.select(col("nprobe"),
            col("q_id").as("tq"), col("c_id").as("tc")),
            col("q_id") === col("tq") && col("c_id") === col("tc"))
          .groupBy("nprobe").agg(count(lit(1)).as("n_match"))
        val nsc = scored4.agg(
          coalesce(sum(when(col("rnc") <= 1, 1L)), lit(0L)).as("ns1"),
          coalesce(sum(when(col("rnc") <= 2, 1L)), lit(0L)).as("ns2"),
          count(lit(1)).as("ns4"))
        import s.implicits._
        val out = Seq(1L, 2L, 4L).toDF("nprobe")
          .join(mAll, Seq("nprobe"), "left")
          .crossJoin(broadcast(nsc))
          .crossJoin(broadcast(truth))
          .select(col("nprobe"),
            when(col("nprobe") === 1, col("ns1"))
              .when(col("nprobe") === 2, col("ns2"))
              .otherwise(col("ns4")).as("n_scored"),
            coalesce(col("n_match"), lit(0L)).as("n_match"),
            (coalesce(col("n_match"), lit(0L)).cast("double") /
              col("n_truth")).as("recall_at_5"))
          .orderBy("nprobe")
        graft.Caching.releasing(s, cands, bt, scored4)(out)
      },
      Some {
        def qAssign(np: Int): String = s"""
aq$np AS (SELECT vec_id AS q_id, v, nrm, cell FROM (
    SELECT e.vec_id, e.v, e.nrm, cent.cent_id AS cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_sum(list_transform(range(1, len(e.v)+1),
                        i -> e.v[i] * cent.c_v[i])) / (e.nrm * cent.c_nrm), 6) DESC,
             cent.cent_id ASC) AS rnc
    FROM e CROSS JOIN cent WHERE e.vec_id < 10)
  WHERE rnc <= $np),
ap$np AS (SELECT q.q_id, c.c_id,
             round(list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i] * c.v[i])) /
                   (q.nrm * c.nrm), 6) AS cos
          FROM aq$np q JOIN cq c ON q.cell = c.cell),
ar$np AS (SELECT q_id, c_id,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn
          FROM ap$np),
am$np AS (SELECT CAST($np AS BIGINT) AS nprobe,
                 (SELECT CAST(count(*) AS BIGINT) FROM ap$np) AS n_scored,
                 CAST(count(t.c_id) AS BIGINT) AS n_match
          FROM bt LEFT JOIN (SELECT q_id, c_id FROM ar$np WHERE rn <= 5) t
            ON bt.q_id = t.q_id AND bt.c_id = t.c_id)"""
        s"""
WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
e AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e0),$sqlKmeansCtes,
cq AS (SELECT vec_id AS c_id, v, nrm, cell FROM (
    SELECT e.vec_id, e.v, e.nrm, cent.cent_id AS cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_sum(list_transform(range(1, len(e.v)+1),
                        i -> e.v[i] * cent.c_v[i])) / (e.nrm * cent.c_nrm), 6) DESC,
             cent.cent_id ASC) AS rnc
    FROM e CROSS JOIN cent WHERE e.vec_id >= 10)
  WHERE rnc = 1),
btp AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               round(list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i] * c.v[i])) /
                     (q.nrm * c.nrm), 6) AS cos
        FROM e q CROSS JOIN e c WHERE q.vec_id < 10 AND c.vec_id >= 10),
bt AS (SELECT q_id, c_id FROM (
         SELECT q_id, c_id,
                row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn
         FROM btp) WHERE rn <= 5),
${qAssign(1)},
${qAssign(2)},
${qAssign(4)}
SELECT nprobe, n_scored, n_match,
       CAST(n_match AS DOUBLE) / (SELECT count(*) FROM bt) AS recall_at_5
FROM (SELECT * FROM am1 UNION ALL SELECT * FROM am2 UNION ALL SELECT * FROM am4)
ORDER BY nprobe"""
      }),

    // k-NN graph construction — every vector's top-3 neighbors among
    // its SRP band-collision candidates, both directions of each pair.
    // The batch primitive under graph-based ANN serving (HNSW/NSG build
    // starts from exactly this), semantic-dedup clustering, and
    // label-propagation over embeddings. Same candidate machinery as
    // dedup_embedding_cosine (equi-join on (band, bucket), union over
    // bands, exact re-rank on candidates only — shuffle ∝ bucket
    // collisions, never N²); the difference is per-NODE top-k instead
    // of a global threshold, so isolated vectors simply have no edges
    // and hubs keep only their 3 best. Rank order (cos DESC, dst ASC)
    // is total — deterministic under any partitioning. At 100 TB the
    // src-partitioned window is bounded by each node's candidate count
    // (band buckets are population-bounded by plane growth, see
    // BandPlanes scaladoc), not by corpus size.
    Q("simsearch_knn_graph",
      (s, d) => knnEdges(s, d).orderBy("src", "rk"),
      Some(s"""
WITH $sqlKnnEdges
SELECT src, rk, dst, cos FROM kg ORDER BY src, rk""")),

    // One NN-descent refinement round over the k-NN graph — the
    // iteration HNSW-free graph builders (NN-Descent, Efanna) run to
    // convergence: a node's neighbors' neighbors are likely neighbors,
    // so the 2-hop expansion of the current graph is a candidate set
    // that recovers pairs the LSH bands missed. Candidates = current
    // edges ∪ (src → dst-of-dst, self excluded), exact re-rank, same
    // per-node (cos DESC, dst ASC) top-3. Monotone by construction:
    // the old edges compete in the re-rank, so per-node recall vs the
    // brute-force truth can only improve (spec-asserted). At 100 TB
    // the expansion is one self-equi-join of a 3·N-row edge list on
    // dst — degree-bounded (≤ k² candidates per node), shuffle ∝ edge
    // count, never N².
    Q("simsearch_knn_refine",
      (s, d) => {
        val g = graft.Caching.materialize(s,
          knnEdges(s, d).select("src", "dst"))
        refineRound(g, normedEmb(s, d)).orderBy("src", "rk")
      },
      Some(s"""
WITH $sqlKnnEdges,
g AS (SELECT src, dst FROM kg),
${sqlRefineRound("g", "g2")}
SELECT src, rk, dst, cos FROM g2 ORDER BY src, rk""")),

    // NN-descent run to CONVERGENCE — the full iteration graph builders
    // (NN-Descent, Efanna) actually execute: repeat the 2-hop
    // expand-and-re-rank round until the edge set reaches a fixed point
    // (a round adds candidates and keeps per-node bests, so the graph
    // is monotone in the per-node (cos desc, dst asc) order and recall
    // vs brute-force truth can only improve round over round — both
    // laws spec-pinned in EmbeddingOpsSpec, plus converged > round-1).
    // Each round's graph is materialized with the PREVIOUS round
    // released (the connected-components per-round discipline), so
    // lineage and memory stay bounded by one round. The fixed-point
    // check is two set-differences over a 3·N-row edge list — cheap,
    // and it lets the engine stop early while the oracle unrolls the
    // full MaxRefineRounds: past the fixed point every further round is
    // a no-op, so the results agree by construction. At 100 TB each
    // round is one degree-bounded self-join (≤ k² candidates per node)
    // + a per-node window — shuffle ∝ edges, never N²; rounds to
    // convergence is a data property (small-world graphs: ~3-4).
    Q("simsearch_knn_converged",
      (s, d) => {
        val emb = normedEmb(s, d)
        var g = graft.Caching.materialize(s, knnEdges(s, d))
        var r = 0
        var converged = false
        while (r < MaxRefineRounds && !converged) {
          // a round only moves per-node lists up the (cos desc, dst)
          // order, so next ⊆ prev as an edge SET implies equality.
          // Set-minus as a left join marking edges absent from the
          // previous round (r14 replaced EXCEPT with an anti-join; r15
          // fuses the check into the round's own materialization —
          // Caching.materializeCounting counts the new-edge flags in
          // the checkpoint job, so the fixed-point check costs zero
          // extra jobs instead of one join job per round). (src, dst)
          // is unique in both frames, so new == 0 ⟺ next ⊆ prev.
          val (next, newEdges) = graft.Caching.materializeCounting(s,
            refineRound(g, emb)
              .join(g.select(col("src"), col("dst"), lit(1).as("seen")),
                Seq("src", "dst"), "left")
              .select(col("src"), col("rk"), col("dst"), col("cos"),
                col("seen").isNull.as("isnew")), "isnew")
          r += 1
          converged = newEdges == 0L
          graft.Caching.release(g)
          g = next.select("src", "rk", "dst", "cos")
        }
        g.orderBy("src", "rk")
      },
      Some {
        val rounds = (1 to MaxRefineRounds).map { k =>
          sqlRefineRound(s"cg${k - 1}", s"cg$k")
        }.mkString(",\n")
        s"""
WITH $sqlKnnEdges,
cg0 AS MATERIALIZED (SELECT src, dst FROM kg),
$rounds
SELECT src, rk, dst, cos FROM cg$MaxRefineRounds ORDER BY src, rk"""
      }),

    // IVF index-maintenance DECISION — the consumer simsearch_cell_quality
    // was missing: appends cannot move centroids (AnnIndex.append's
    // documented staleness trade), so an append-heavy index needs an
    // operational trigger for the rebuild. This query runs the full
    // loop on a deterministic drift scenario derived from the fixture
    // (the corpus re-appended shifted by +0.5 per dimension — a mean
    // shift the stale quantizer cannot represent): global assignment
    // coherence of the base corpus under the base quantizer (before),
    // of the grown corpus under the SAME quantizer (after_append), and
    // under a retrained quantizer (retrained); the decision column
    // flags 'rebuild' when after_append coherence falls more than 5%
    // relative to before (measured here: ~13% drop, retrain nearly
    // triples coherence — the seeds rule picks up drifted-region
    // centroids because the shifted ids keep vec_id % 100). All
    // arithmetic is the cell_quality pattern: 6dp cosines summed as
    // exact bigint micro-units, one final division; the drift transform
    // itself is float32 addition in BOTH engines so the widened doubles
    // agree bit-for-bit. At 100 TB: three broadcast-assign passes + two
    // quantizer trainings over sampled corpora — the decision costs a
    // monitoring pass, never an index rebuild, which is exactly its
    // point. SimilaritySearchSpec pins the flip (undrifted append →
    // keep) and that the rebuild restores the recall floor.
    Q("simsearch_ivf_retrain_decision",
      (s, d) => {
        val e = normedEmb(s, d)
        val delta = Tables.embeddings(s, d)
          .select((col("vec_id") + lit(1000000L)).as("vec_id"),
            transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
          .withColumn("nrm", expr("norm_f(embedding)"))
        val grown = e.unionAll(delta)
        // train each quantizer ONCE (r15, guide §2.4): left lazy, the
        // centroid pipeline (N·K assignment + two aggregations) re-ran
        // inside every coherence pass that broadcast it — centsBase
        // twice. The materialized frame is K rows (~N/100), the same
        // bounded class as the serve-graph pins. The two trainings are
        // independent, so they materialize in PARALLEL futures, as do
        // the three coherence passes below (guide §2.6 — actions are
        // only sequential because the driver calls them sequentially).
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        def par2[A, B](fa: => A, fb: => B): (A, B) = {
          val (f1, f2) = (Future(fa), Future(fb))
          (Await.result(f1, Duration.Inf), Await.result(f2, Duration.Inf))
        }
        val (centsBase, centsNew) = par2(
          graft.Caching.materialize(s, kmeansCents(e)),
          graft.Caching.materialize(s, kmeansCents(grown)))
        def coherence(corpus: DataFrame, cents: DataFrame,
            stage: String): DataFrame = {
          val w = Window.partitionBy("vec_id")
            .orderBy(col("cos_c").desc, col("cent_id").asc)
          graft.Caching.materialize(s, corpus.crossJoin(broadcast(cents))
            .withColumn("cos_c",
              r6(expr("dot_f(embedding, c_emb)") /
                (col("nrm") * col("c_nrm"))))
            .withColumn("rnc", row_number().over(w))
            .filter(col("rnc") === 1)
            .withColumn("micro",
              expr("CAST(round(cos_c * 1000000) AS BIGINT)"))
            .agg(count(lit(1)).as("n_vecs"),
              expr("round(CAST(sum(micro) AS DOUBLE) / (count(*) * 1000000), 6)")
                .as("avg_cos"))
            .select(lit(stage).as("stage"), col("n_vecs"), col("avg_cos")))
        }
        val (before, (after, retr)) = par2(
          coherence(e, centsBase, "1_before"),
          par2(coherence(grown, centsBase, "2_after_append"),
            coherence(grown, centsNew, "3_retrained")))
        // the coherence passes are checkpointed — the centroid blocks
        // are dead from here on
        graft.Caching.release(centsBase)
        graft.Caching.release(centsNew)
        before.unionAll(after).unionAll(retr)
          .crossJoin(broadcast(before.select(col("avg_cos").as("cb"))))
          .crossJoin(broadcast(after.select(col("avg_cos").as("ca"))))
          .withColumn("decision",
            when(col("stage") === "2_after_append",
              when(col("ca") < col("cb") * lit(0.95), lit("rebuild"))
                .otherwise(lit("keep")))
              .otherwise(lit(null).cast("string")))
          .select(col("stage"), col("n_vecs"), col("avg_cos"), col("decision"))
          .orderBy("stage")
      },
      Some(s"""
WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
e AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e0),
d0 AS (SELECT vec_id + 1000000 AS vec_id,
              list_transform(embedding::FLOAT[], x -> x + 0.5::FLOAT)::DOUBLE[] AS v
       FROM embeddings),
ec AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM d0
       UNION ALL SELECT vec_id, v, nrm FROM e),$sqlKmeansCtes,
${sqlKmeansCtesFor("rt", "ec")},
${sqlCoherence("cohb", "1_before", "e", "cent")},
${sqlCoherence("coha", "2_after_append", "ec", "cent")},
${sqlCoherence("cohr", "3_retrained", "ec", "rt_cent")}
SELECT stage, n_vecs, avg_cos,
       CASE WHEN stage = '2_after_append'
            THEN (CASE WHEN (SELECT avg_cos FROM coha) <
                            (SELECT avg_cos FROM cohb) * 0.95
                  THEN 'rebuild' ELSE 'keep' END)
            ELSE NULL END AS decision
FROM (SELECT * FROM cohb UNION ALL SELECT * FROM coha
      UNION ALL SELECT * FROM cohr)
ORDER BY stage""")),

    // Depth-retrain DECISION — simsearch_ivf_retrain_decision's loop
    // for the r12 serve dial: the hop-curve knee is PINNED at
    // bootstrap (meta.json) and appends never re-measure it, so a
    // grown corpus needs an operational trigger for re-pinning exactly
    // like the IVF quantizer needs one for retraining. This query runs
    // that trigger on the same deterministic drift scenario (the
    // corpus re-appended shifted +0.5 per dimension under new ids —
    // the growth the stale dial cannot see): measure the knee of the
    // base corpus's serve graph (what bootstrap pinned), then of the
    // grown corpus's serve graph built under the SAME pinned band
    // family (appends never re-band — the family moves only via the
    // IVF-style retrain loop), and flag 'repin' when the knees differ.
    // Both knees come from the shared walk (kneeOver Spark-side, the
    // sqlWalkCtes + sqlKneeCtes generators oracle-side) — integer
    // match counts, so the engines cannot disagree. At 100 TB the
    // decision costs two knee walks (O(N·panel) truth + constant-cost
    // hops each) plus one serve-graph build over the grown corpus — a
    // monitoring pass, never a serving outage; the measured knee is
    // what a re-pin would write into meta. The graph builds and the
    // per-depth counts are distributed; only the two knee SCALARS
    // come to the driver (the same 5-integer collect the bootstrap
    // performs).
    Q("simsearch_depth_retrain_decision",
      (s, d) => {
        import s.implicits._
        val base = normedEmb(s, d)
        val delta = Tables.embeddings(s, d)
          .select((col("vec_id") + lit(1000000L)).as("vec_id"),
            transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
          .withColumn("nrm", expr("norm_f(embedding)"))
        val grown = base.unionAll(delta)
        val planes = graft.functions.VectorExpressions
          .adaptiveSrpPlanes(graft.Tables.rowCount(s, d, "embeddings"))
        val pins = scala.collection.mutable.Buffer.empty[DataFrame]
        def mat(df: DataFrame): DataFrame = {
          val m = graft.Caching.materialize(s, df); pins += m; m
        }
        // the walk reads the edge list once per hop per depth — an
        // unmaterialized graph would re-derive the band join each time.
        // ONE recipe with the warm serve graph (serveEdgesOverEmb), so
        // the trigger always measures the graph the deployment serves
        def serveOver(embC: DataFrame): DataFrame =
          mat(serveEdgesOverEmb(embC, planes, mat))
        // the pinned stage IS the serving dial: read it from the warm
        // serve graph's meta (the bootstrap measured it there over
        // this exact corpus — SimilaritySearchSpec pins the equality
        // with an in-query re-measurement) instead of rebuilding the
        // base graph the deployment already serves from. Only the
        // GROWN corpus pays a graph build + knee walk here.
        val kBase = serveMeta(s, d).depth
        val nBase = graft.Tables.rowCount(s, d, "embeddings")
        val embGrown = mat(grown)
        val nGrown = embGrown.count()
        val (kGrown, _) = kneeOver(s, embGrown, serveOver(embGrown))
        val out = Seq(
          ("1_pinned", nBase, kBase.toLong, Option.empty[String]),
          ("2_grown", nGrown, kGrown.toLong,
            Some(if (kGrown != kBase) "repin" else "keep")))
          .toDF("stage", "n_vecs", "depth", "decision")
          .orderBy("stage")
        pins.foreach(graft.Caching.release)
        out
      },
      Some(s"""
WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
e AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e0),
d0 AS (SELECT vec_id + 1000000 AS vec_id,
              list_transform(embedding::FLOAT[], x -> x + 0.5::FLOAT)::DOUBLE[] AS v
       FROM embeddings),
g AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM d0
      UNION ALL SELECT vec_id, v, nrm FROM e),
${sqlServeEdgesOver("bg_", "e")},
${sqlServeEdgesOver("gg_", "g")},
${sqlEntryLayerAs("b_l1", "e")},
${sqlEvalPanelAs("b_q", "e")},
${sqlWalkCtes("b_", 3, withTruth = true, eCte = "e", sgCte = "bg_sg",
        l1Cte = "b_l1")},
${sqlKneeCtes("b_")},
${sqlEntryLayerAs("g_l1", "g")},
${sqlEvalPanelAs("g_q", "g")},
${sqlWalkCtes("g_", 3, withTruth = true, eCte = "g", sgCte = "gg_sg",
        l1Cte = "g_l1")},
${sqlKneeCtes("g_")}
SELECT stage, n_vecs, depth, decision FROM (
  SELECT '1_pinned' AS stage, (SELECT count(*) FROM e) AS n_vecs,
         (SELECT CAST(kd AS BIGINT) FROM b_knee) AS depth,
         CAST(NULL AS VARCHAR) AS decision
  UNION ALL
  SELECT '2_grown', (SELECT count(*) FROM g),
         (SELECT CAST(kd AS BIGINT) FROM g_knee),
         CASE WHEN (SELECT kd FROM g_knee) <> (SELECT kd FROM b_knee)
              THEN 'repin' ELSE 'keep' END)
ORDER BY stage""")),

    // Band-family retrain DECISION — the retrain loop for the THIRD
    // pinned dial: adaptiveSrpPlanes' plane count is chosen from N at
    // bootstrap so the expected SRP bucket population lands in
    // (32, 64], and appends never re-band (the index's partition
    // layout IS the family) — so after enough growth the population
    // leaves the envelope and band-collision candidate pairs
    // (∝ Σ pop² per band) drift super-linear until a re-pin, exactly
    // the failure mode the r11 ladder caught statically when the count
    // was fixed. Mirror of simsearch_depth_retrain_decision on the
    // same deterministic drift scenario: MEASURE the bucket-population
    // distribution of the base and the 2×-grown corpus under the
    // PINNED family (mean occupied-bucket population — total banded
    // rows / distinct (band, bucket), an integer ratio both engines
    // round identically) and flag 'reband' when the grown mean departs
    // the (32, 64] target envelope. planes_fresh carries what a
    // from-scratch bootstrap would choose, so the report shows the
    // re-pin target next to the trigger. Cost: two O(N·bands)
    // explode-and-count aggregates and four scalars — no pair join,
    // no graph build, the cheapest of the three retrain monitors.
    Q("simsearch_band_retrain_decision",
      (s, d) => {
        val baseE = Tables.embeddings(s, d).select("vec_id", "embedding")
        val delta = Tables.embeddings(s, d)
          .select((col("vec_id") + lit(1000000L)).as("vec_id"),
            transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
        val grown = baseE.unionAll(delta)
        val nBase = graft.Tables.rowCount(s, d, "embeddings")
        val p0 = graft.functions.VectorExpressions.adaptiveSrpPlanes(nBase)
        val pFresh = graft.functions.VectorExpressions
          .adaptiveSrpPlanes(2 * nBase)
        def meanPop(corpus: DataFrame): DataFrame = corpus
          .select(posexplode(expr(s"srp_buckets_p(embedding, $p0)"))
            .as(Seq("band", "bkt")))
          .groupBy("band", "bkt").agg(count(lit(1)).as("pop"))
          .agg(r6(sum("pop").cast("double") / count(lit(1)))
            .as("mean_pop"))
        val mb = meanPop(baseE).withColumnRenamed("mean_pop", "mp_b")
        val mg = meanPop(grown).withColumnRenamed("mean_pop", "mp_g")
        mb.crossJoin(mg).select(explode(array(
            struct(lit("1_pinned").as("stage"), lit(nBase).as("n_vecs"),
              lit(p0.toLong).as("planes_pinned"),
              lit(p0.toLong).as("planes_fresh"),
              col("mp_b").as("mean_pop"),
              lit(null).cast("string").as("decision")),
            struct(lit("2_grown").as("stage"), lit(2 * nBase).as("n_vecs"),
              lit(p0.toLong).as("planes_pinned"),
              lit(pFresh.toLong).as("planes_fresh"),
              col("mp_g").as("mean_pop"),
              when(col("mp_g") > 64.0 || col("mp_g") <= 32.0,
                lit("reband")).otherwise(lit("keep")).as("decision"))))
            .as("r"))
          .select(col("r.stage").as("stage"), col("r.n_vecs").as("n_vecs"),
            col("r.planes_pinned").as("planes_pinned"),
            col("r.planes_fresh").as("planes_fresh"),
            col("r.mean_pop").as("mean_pop"),
            col("r.decision").as("decision"))
          .orderBy("stage")
      },
      Some {
        def bandCounts(name: String, src: String): String = {
          val sel = (0 until Dedup.EmbBands).map { bnd =>
            s"SELECT vec_id, $bnd AS band, ${sqlBandBucket("v", bnd)} AS bkt FROM $src"
          }.mkString("\nUNION ALL\n")
          s"""${name}_b AS ($sel),
$name AS (SELECT round(CAST(sum(pop) AS DOUBLE) / count(*), 6) AS mp FROM (
  SELECT band, bkt, count(*) AS pop FROM ${name}_b GROUP BY band, bkt))"""
        }
        s"""
WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
d0 AS (SELECT vec_id + 1000000 AS vec_id,
              list_transform(embedding::FLOAT[], x -> x + 0.5::FLOAT)::DOUBLE[] AS v
       FROM embeddings),
g AS (SELECT vec_id, v FROM e0 UNION ALL SELECT vec_id, v FROM d0),
n AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM e0),
${bandCounts("mb", "e0")},
${bandCounts("mg", "g")}
SELECT stage, n_vecs, planes_pinned, planes_fresh, mean_pop, decision FROM (
  SELECT '1_pinned' AS stage, (SELECT nb FROM n) AS n_vecs,
         CAST(${VectorExpressions.SrpPlanes} AS BIGINT) AS planes_pinned,
         CAST(${VectorExpressions.SrpPlanes} AS BIGINT) AS planes_fresh,
         (SELECT mp FROM mb) AS mean_pop,
         CAST(NULL AS VARCHAR) AS decision
  UNION ALL
  SELECT '2_grown', (SELECT 2 * nb FROM n),
         CAST(${VectorExpressions.SrpPlanes} AS BIGINT),
         GREATEST(CAST(${VectorExpressions.SrpPlanes} AS BIGINT),
                  (SELECT CAST(CASE WHEN ((2 * nb + 63) // 64) <= 1 THEN 0
                               ELSE length(bin(((2 * nb + 63) // 64) - 1))
                               END AS BIGINT) FROM n)),
         (SELECT mp FROM mg),
         CASE WHEN (SELECT mp FROM mg) > 64.0 OR (SELECT mp FROM mg) <= 32.0
              THEN 'reband' ELSE 'keep' END)
ORDER BY stage"""
      }),

    // Semantic dedup (the SemDeDup recipe: cluster the embedding
    // corpus, then look for near-duplicates ONLY inside each cluster —
    // the curation-scale move that turns corpus-wide cosine dedup into
    // per-cell work). Every vector lands in its top-1 k-means cell
    // (broadcast centroids + one per-vector window), candidate pairs
    // come from a cell-keyed self-equi-join — shuffle ∝ Σ|cell|²,
    // bounded by the quantizer's balance, never N² — and a vector is
    // DROPPED when a lower-id cell-mate sits at cos ≥ 0.4, partner
    // recorded under the deterministic (cos desc, id asc) order. One
    // row per vector: cell, verdict, evicting partner. vs the LSH-band
    // dedup (dedup_embedding_cosine): exact within a cell, blind to
    // pairs straddling a cell boundary — the documented SemDeDup
    // recall trade; DedupSpec pins the dropped pairs as a subset of
    // the exact baseline's and measures what the cells retain.
    Q("dedup_semantic_kmeans",
      (s, d) => {
        val e = normedEmb(s, d)
        val cents = kmeansCents(e)
        val w = Window.partitionBy("vec_id")
          .orderBy(col("cos_c").desc, col("cent_id").asc)
        val asg = e.crossJoin(broadcast(cents))
          .withColumn("cos_c",
            r6(expr("dot_f(embedding, c_emb)") /
              (col("nrm") * col("c_nrm"))))
          .withColumn("rnc", row_number().over(w))
          .filter(col("rnc") === 1)
          .select(col("vec_id"), col("cent_id").as("cell"),
            col("embedding"), col("nrm"))
        val a = asg.select(col("cell"), col("vec_id").as("i"),
          col("embedding").as("e_a"), col("nrm").as("n_a"))
        val b = asg.select(col("cell"), col("vec_id").as("j"),
          col("embedding").as("e_b"), col("nrm").as("n_b"))
        val dupPairs = a.join(b, "cell").filter(col("i") < col("j"))
          .withColumn("cos",
            r6(expr("dot_f(e_a, e_b)") / (col("n_a") * col("n_b"))))
          .filter(col("cos") >= 0.4)
        val wp = Window.partitionBy("j")
          .orderBy(col("cos").desc, col("i").asc)
        val evict = dupPairs.withColumn("rp", row_number().over(wp))
          .filter(col("rp") === 1)
          .select(col("j").as("vec_id"), col("i").as("dup_of"),
            col("cos").as("dup_cos"))
        asg.select("vec_id", "cell")
          .join(evict, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cell"),
            col("dup_of").isNull.as("kept"), col("dup_of"), col("dup_cos"))
          .orderBy("vec_id")
      },
      Some(s"""
WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
e AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e0),
${sqlKmeansCtesFor("sd", "e")},
m AS (SELECT sd_asg.vec_id, sd_asg.cell, e.v, e.nrm
      FROM sd_asg JOIN e ON sd_asg.vec_id = e.vec_id),
pr AS (SELECT a.vec_id AS i, b.vec_id AS j,
              round(list_sum(list_transform(range(1, len(a.v)+1), k -> a.v[k] * b.v[k])) /
                    (a.nrm * b.nrm), 6) AS cos
       FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id),
ev AS (SELECT j AS vec_id, i AS dup_of, cos AS dup_cos FROM (
         SELECT *, row_number() OVER (PARTITION BY j ORDER BY cos DESC, i ASC) AS rp
         FROM pr WHERE cos >= 0.4)
       WHERE rp = 1)
SELECT m.vec_id, m.cell, ev.dup_of IS NULL AS kept, ev.dup_of, ev.dup_cos
FROM m LEFT JOIN ev ON m.vec_id = ev.vec_id
ORDER BY m.vec_id""")),

    // Graph-routed ANN serve — the HNSW-shaped query path over the
    // k-NN graph the builder family (knn_graph → refine → converged)
    // maintains: a FIXED-SIZE entry layer ([[EntryCap]] = 64 vectors,
    // chosen by a deterministic hash order — HNSW's constant-sized top
    // layer) is scanned brute-force to pick each query's entry
    // points, then GREEDY HOPS expand along graph edges (entry beam →
    // its top-[[ServeDegree]] neighbors, re-rank to beam 3, repeat);
    // the UNROLLED DEPTH is the per-corpus dial the bootstrap pins in
    // the serve graph's meta.json — the measured hop-curve knee
    // (smallest depth reaching 95% of the achievable recall plateau,
    // in integer match counts both engines compare identically) — so
    // the route pays hops only where the corpus still buys recall with
    // them (measured: 1 hop at 500 vectors, 3 at 2000; ~log N at
    // deployment scale, each round the same constant-cost join). The
    // answer is the top-5 of everything visited. Per query the route
    // scores EntryCap + ≤ depth·beam·ServeDegree candidates — a
    // CONSTANT at every stage, independent of corpus size (the earlier
    // fixed-RATE vec_id % 16 sample made the entry scan ∝ N/16 and the
    // stage asymptotically quadratic; a capped entry set removes
    // that). Every hop is a relational join both engines unroll
    // identically (greedy argmax per hop = one window, ties to min
    // id). At 100 TB: the entry layer broadcasts (it IS the index's
    // top layer, built once by a distributed hash-order top-k, never a
    // single-partition window), each hop is an equi-join against the
    // edge list partitioned by src, and queries batch through the same
    // plan — no per-query driver loop. The % 97 query panel models
    // serving VOLUME (∝ N queries at constant per-query cost); note
    // the broadcast candidate/beam frames grow with the panel in
    // aggregate, so a deployment batches its query stream into
    // bounded-size micro-batches through this same plan rather than
    // broadcasting an unbounded backlog — the per-batch broadcast is
    // batch_size × (beam·ServeDegree) rows, a config bound, never ∝
    // corpus. SimilaritySearchSpec measures routed recall@1 against
    // brute force and pins the visited-set bound.
    Q("simsearch_graph_route",
      (s, d) => {
        val emb = normedEmb(s, d)
        val queries = emb.filter(col("vec_id") % 97 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"),
            col("nrm").as("qn"))
        def wq = Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("cid").asc)
        val entry = entryPoints(entryScores(queries, entryLayer(emb)))
        // the serve graph builds ONCE (checkpoint) — without it the
        // three beam rounds each re-derive the SRP band join and the
        // served plan carries 38 exchanges; with it, every hop is the
        // edge list joined against a BROADCAST beam and every rescore
        // is one emb scan probed by a broadcast candidate set — the
        // corpus never shuffles (plan budget pinned in PlanQualitySpec)
        val kg = s.read.parquet(s"${serveGraphDir(s, d)}/edges")
          .select("src", "dst")
        def rescore(cand: DataFrame): DataFrame =
          rescoreAgainst(emb, queries)(cand)
        val c1 = entry.select(col("qid"), col("entry").as("cid"))
          .union(kg.join(broadcast(entry), col("entry") === col("src"))
            .select(col("qid"), col("dst").as("cid")))
          .distinct()
        def expand(cand: DataFrame): DataFrame = {
          val beam = rescore(cand)
            .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 3)
            .select(col("qid"), col("cid").as("b"))
          cand
            .union(kg.join(broadcast(beam), col("b") === col("src"))
              .select(col("qid"), col("dst").as("cid")))
            .distinct()
        }
        // the unrolled hop count is the per-corpus DIAL, not a code
        // constant: the bootstrap measures the hop-curve knee on the
        // fixed eval panel and pins it in the serve graph's meta.json
        // (like the IVF quantizer's centroids); the route unrolls
        // exactly that many expand-and-re-rank rounds
        var routed = c1
        for (_ <- 1 to serveMeta(s, d).depth) routed = expand(routed)
        graft.Caching.releasing(s)(
          rescore(routed)
            .withColumn("rk", row_number().over(wq)).filter(col("rk") <= 5)
            .select(col("qid"), col("rk").cast("long").as("rk"), col("cid"),
              col("cos"))
            .orderBy("qid", "rk"))
      },
      Some(sqlGraphRoute)),

    // The (beam, degree) operating-point curve for the graph-routed
    // serve — probe_curve's treatment for simsearch_graph_route:
    // routed recall@1/@5 AND candidates-scored, measured together for
    // beam ∈ {1,3,5} at the serving degree 32 and degree ∈ {8,16,32}
    // at the serving beam 3, against the brute-force truth on the
    // FIXED [[QueryPanel]]-sized hash-order eval panel — so truth is
    // O(N·panel), every broadcast is constant-sized, and the cost/
    // recall trade behind the chosen (beam 3, M=32) point is a table,
    // not folklore (SCALE.md carries the sf0.1 numbers). One SRP
    // candidate pass builds ONE degree-32
    // ranked edge list; each arm's serve graph is a rank cut (rk ≤ M)
    // of it, the entry scan and the brute truth are shared across
    // arms, and every per-arm stage is the serve path's own arithmetic
    // (same rounding, same tie order). n_scored counts the exact
    // (query, candidate) cosine evaluations an arm pays — entry scan +
    // every hop rescore — the number a capacity planner multiplies by
    // query volume; recall denominators are the truth sizes, computed
    // not hardcoded.
    Q("simsearch_beam_curve",
      (s, d) => {
        import s.implicits._
        val emb = normedEmb(s, d)
        val queries = evalPanel(emb)
        val layer1 = entryLayer(emb)
        // ONE chain for all 5 arms, tagged by an `arm` column: the r11
        // formulation ran a chain PER ARM (21 materialized frames +
        // per-arm count jobs — 14.5 s of scheduler overhead at sf0.1,
        // the suite's slowest query); windows partitioned by
        // (arm, qid) compute the identical per-arm beam cuts in one
        // job per hop, and the per-arm rank cut (rk <= deg) rides the
        // hop join condition. Output is row-identical (the oracle is
        // unchanged and still unrolls per-arm chains).
        val arms = BeamCurveArms.zipWithIndex
          .map { case ((b, m), i) => (i.toLong, b.toLong, m.toLong) }
          .toDF("arm", "beam", "deg")
        def wa = Window.partitionBy("arm", "qid")
          .orderBy(col("cos").desc, col("cid").asc)
        val pins = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.DataFrame]
        def mat(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
          val m = graft.Caching.materialize(s, df); pins += m; m
        }
        val es = mat(entryScores(queries, layer1))
        val entry = entryPoints(es)
        val kgAll = s.read.parquet(s"${serveGraphDir(s, d)}/edges")
          .select("src", "dst", "rk")
        val truth = mat(bruteTruth(emb, queries))
        val den5 = truth.agg(count(lit(1)).as("n_truth5"))
        val den1 = truth.filter(col("rn") === 1)
          .agg(count(lit(1)).as("n_truth1"))
        def rescore(cand: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
          rescoreAgainst(emb, queries, keep = Seq("arm"))(cand)
        val entryA = entry.crossJoin(broadcast(arms.select("arm", "deg")))
        var cand = entryA.select(col("arm"), col("qid"),
            col("entry").as("cid"))
          .union(kgAll.join(broadcast(entryA),
              col("entry") === col("src") && col("rk") <= col("deg"))
            .select(col("arm"), col("qid"), col("dst").as("cid")))
          .distinct()
        // each hop's scored frame is MATERIALIZED: it feeds both the
        // n_scored count and the beam cut, and a lazy formulation
        // doubles the candidate tree per hop (measured 15.9 s -> 35.7
        // s when these were left lazy — the emb_pca_topr lesson)
        val scoredFrames =
          scala.collection.mutable.Buffer.empty[org.apache.spark.sql.DataFrame]
        for (_ <- 1 to 3) {
          val sc = mat(rescore(cand))
          scoredFrames += sc
          val beamDf = sc.join(broadcast(arms), "arm")
            .withColumn("rn", row_number().over(wa))
            .filter(col("rn") <= col("beam"))
            .select(col("arm"), col("qid"), col("cid").as("b"), col("deg"))
          cand = cand
            .union(kgAll.join(broadcast(beamDf),
                col("b") === col("src") && col("rk") <= col("deg"))
              .select(col("arm"), col("qid"), col("dst").as("cid")))
            .distinct()
        }
        val scFinal = mat(rescore(cand))
        scoredFrames += scFinal
        // per-arm candidates-scored: the shared entry scan (arm-free)
        // plus each hop frame's per-arm rows — the same sums the
        // per-arm formulation produced
        val esCount = es.agg(count(lit(1)).as("es_n"))
        // one grouped count over the union of the checkpointed hop
        // frames instead of a groupBy per frame re-aggregated (the
        // hop-curve treatment, r15); same per-arm sums
        val hopCounts = scoredFrames
          .map(_.select("arm")).reduce(_.unionAll(_))
          .groupBy("arm").agg(count(lit(1)).as("hop_n"))
        val top = scFinal.withColumn("rn", row_number().over(wa))
          .filter(col("rn") <= 5).select("arm", "qid", "cid", "rn")
        val m5 = truth.join(top.select(col("arm"), col("qid").as("tq"),
            col("cid").as("tc")),
            col("qid") === col("tq") && col("cid") === col("tc"))
          .groupBy("arm").agg(count(lit(1)).as("n_match5"))
        val m1 = truth.filter(col("rn") === 1)
          .join(top.filter(col("rn") === 1)
            .select(col("arm"), col("qid").as("tq"), col("cid").as("tc")),
            col("qid") === col("tq") && col("cid") === col("tc"))
          .groupBy("arm").agg(count(lit(1)).as("n_match1"))
        val out = arms
          .join(hopCounts, Seq("arm"), "left")
          .join(m5, Seq("arm"), "left")
          .join(m1, Seq("arm"), "left")
          .crossJoin(broadcast(esCount))
          .crossJoin(broadcast(den5)).crossJoin(broadcast(den1))
          .select(col("beam"), col("deg"),
            (col("es_n") + coalesce(col("hop_n"), lit(0L))).as("n_scored"),
            coalesce(col("n_match5"), lit(0L)).as("n_match5"),
            (coalesce(col("n_match5"), lit(0L)).cast("double") /
              col("n_truth5")).as("recall_at_5"),
            coalesce(col("n_match1"), lit(0L)).as("n_match1"),
            (coalesce(col("n_match1"), lit(0L)).cast("double") /
              col("n_truth1")).as("recall_at_1"))
          .orderBy("beam", "deg")
        graft.Caching.releasing(s, pins.toSeq: _*)(out)
      },
      Some(sqlBeamCurve)),

    // The HOP-COUNT curve — the third serve-tuning report, and the one
    // that evidences the DEPLOYMENT dial: at the chosen (beam 3, M=32)
    // operating point, recall@1/@5 and cumulative candidates-scored at
    // every greedy depth 0..4 (depth d = entry scan + d
    // expand-and-re-rank rounds; the serve path ships the knee the
    // bootstrap pins in meta.json — this curve is where that knee is
    // read from). ONE chain
    // computes all depths — depth d's scored set is a prefix of depth
    // d+1's work — so the report costs a single deepest serve, not
    // five. As the corpus outgrows a fixed depth's reachable set,
    // recall falls and THIS curve says how many more rounds buy it
    // back, each round the same constant-cost join: the log(N)
    // schedule a 100 TB deployment would pin per corpus.
    Q("simsearch_hop_curve",
      (s, d) => {
        val emb = normedEmb(s, d)
        val queries = evalPanel(emb)
        val layer1 = entryLayer(emb)
        def wq = Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("cid").asc)
        val pins = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.DataFrame]
        def mat(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
          val m = graft.Caching.materialize(s, df); pins += m; m
        }
        val es = mat(entryScores(queries, layer1))
        val entry = entryPoints(es)
        val kg = s.read.parquet(s"${serveGraphDir(s, d)}/edges")
          .select("src", "dst")
        val truth = mat(bruteTruth(emb, queries))
        val den5 = truth.agg(count(lit(1)).as("n_truth5"))
        val den1 = truth.filter(col("rn") === 1)
          .agg(count(lit(1)).as("n_truth1"))
        def rescore(cand: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
          rescoreAgainst(emb, queries)(cand)
        var cand = entry.select(col("qid"), col("entry").as("cid"))
          .union(kg.join(broadcast(entry), col("entry") === col("src"))
            .select(col("qid"), col("dst").as("cid")))
          .distinct()
        // The loop only EVOLVES the candidate set (depth d+1's frontier
        // is depth d's top-3 — inherently sequential); every depth's
        // report row assembles AFTER the loop from the depth-tagged
        // union of the materialized scored frames — ONE window + one
        // truth join + one groupBy instead of 5 × (count ⨯ crossJoin ⨯
        // 2 singleton aggregates), the knee-walk treatment (r14) that
        // cut the per-depth exchange fan-out. Row-identical: the window
        // partitions by (hops, qid), so each depth's top-5 is computed
        // over exactly its own scored frame, and n_scored(d) is the
        // same es + Σ_{i≤d} |sc_i| cumulative sum.
        val scs = (0 to MaxServeDepth).map { depth =>
          val sc = mat(rescore(cand))
          if (depth < MaxServeDepth) {
            val beamDf = sc.withColumn("rn", row_number().over(wq))
              .filter(col("rn") <= 3).select(col("qid"), col("cid").as("b"))
            cand = cand
              .union(kg.join(broadcast(beamDf), col("b") === col("src"))
                .select(col("qid"), col("dst").as("cid")))
              .distinct()
          }
          sc
        }
        val tagged = scs.zipWithIndex.map { case (sc, i) =>
          sc.select(lit(i.toLong).as("hops"), col("qid"), col("cid"),
            col("cos"))
        }.reduce(_.unionAll(_))
        val esN = es.agg(count(lit(1)).as("es_n"))
        val wcum = Window.orderBy("hops")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val perDepth = tagged.groupBy("hops").agg(count(lit(1)).as("c"))
          .withColumn("sc_cum", sum("c").over(wcum))
        val wtop = Window.partitionBy("hops", "qid")
          .orderBy(col("cos").desc, col("cid").asc)
        // materialized: m5 and m1 both read it, and the window sorts the
        // full tagged union — twice without the checkpoint
        val top = mat(tagged.withColumn("rn", row_number().over(wtop))
          .filter(col("rn") <= 5).select("hops", "qid", "cid", "rn"))
        val m5 = truth.join(top.select(col("hops"), col("qid").as("tq"),
            col("cid").as("tc")),
            col("qid") === col("tq") && col("cid") === col("tc"))
          .groupBy("hops").agg(count(lit(1)).as("n_match5"))
        val m1 = truth.filter(col("rn") === 1)
          .join(top.filter(col("rn") === 1)
            .select(col("hops"), col("qid").as("tq"), col("cid").as("tc")),
            col("qid") === col("tq") && col("cid") === col("tc"))
          .groupBy("hops").agg(count(lit(1)).as("n_match1"))
        val out = perDepth
          .join(m5, Seq("hops"), "left")
          .join(m1, Seq("hops"), "left")
          .crossJoin(broadcast(esN))
          .crossJoin(broadcast(den5)).crossJoin(broadcast(den1))
          .select(col("hops"),
            (col("es_n") + col("sc_cum")).as("n_scored"),
            coalesce(col("n_match5"), lit(0L)).as("n_match5"),
            (coalesce(col("n_match5"), lit(0L)).cast("double") /
              col("n_truth5")).as("recall_at_5"),
            coalesce(col("n_match1"), lit(0L)).as("n_match1"),
            (coalesce(col("n_match1"), lit(0L)).cast("double") /
              col("n_truth1")).as("recall_at_1"))
        graft.Caching.releasing(s, pins.toSeq: _*)(out.orderBy("hops"))
      },
      Some(sqlHopCurve))
  )

  /** The SERVE graph (src, rk, dst, cos) behind simsearch_graph_route
    * and simsearch_beam_curve: the degree-[[ServeDegree]] LSH-seeded
    * k-NN graph expanded by [[ServeRefineRounds]] NN-descent rounds
    * whose selection is [[diversifyRound]]'s HNSW-style occlusion
    * pruning (r13 — a plain top-M cut strips the medium-range links
    * greedy routing needs; see [[ServeRefineRounds]] for the measured
    * history). The rounds are what keep edge quality independent of
    * corpus size: the band family caps bucket populations
    * (adaptiveSrpPlanes), which keeps the BUILD linear but thins
    * per-pair band recall as N grows — each 2-hop expand-and-re-rank
    * recovers exactly the neighbors the sparser bands miss
    * (NN-Descent's candidate rule), at O(N·M²) degree-bounded cost per
    * round plus the O(N·pool²) occlusion stage, shuffle ∝ edges, never
    * N². Each round's input is MATERIALIZED before the next expands
    * it — left lazy, the expansion's references re-derive the whole
    * SRP band join per reference (the emb_pca_topr lesson).
    */
  private[queries] def serveEdges(s: SparkSession, d: String): DataFrame = {
    val emb = normedEmb(s, d)
    val planes = graft.functions.VectorExpressions
      .adaptiveSrpPlanes(graft.Tables.rowCount(s, d, "embeddings"))
    val pins = scala.collection.mutable.Buffer.empty[DataFrame]
    val g = serveEdgesOverEmb(emb, planes, df => {
      val m = graft.Caching.materialize(s, df); pins += m; m
    })
    graft.Caching.releasing(s, pins.toSeq: _*)(g)
  }

  /** [[serveEdges]] over an explicit `(vec_id, embedding, nrm)` frame at
    * an explicit plane count — ONE builder for the warm serve graph and
    * the depth-retrain decision's grown-corpus graph (before this the
    * retrain query re-derived the recipe inline, and a recipe change
    * could silently desync the trigger from the graph it monitors).
    * `mat` materializes each round's input (the expand join reads its
    * predecessor several times; left lazy, every reference re-derives
    * the whole SRP band join — the emb_pca_topr lesson).
    */
  private[queries] def serveEdgesOverEmb(embC: DataFrame, planes: Int,
      mat: DataFrame => DataFrame): DataFrame = {
    var g: DataFrame = edgesOver(embC, planes, ServeDegree)
    for (_ <- 1 to ServeRefineRounds)
      g = diversifyRound(mat(g).select("src", "dst"), embC,
        ServeDegree, ServePool)
    g
  }

  private val serveGraphCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Durable serve graph per sf dir — the ANN index BUILD, shared by
    * the route and beam-curve queries and hoisted out of their timed
    * lines exactly like the dedup-index bootstrap (the r7 convention:
    * a serve deployment queries a built index; charging one consumer
    * the shared build mis-attributes it). WarmCache fingerprints the
    * builder classes + fixture, so a semantics change rebuilds.
    */
  private[queries] def serveGraphDir(s: SparkSession, d: String): String =
    serveGraphCache.computeIfAbsent(d, _ =>
      graft.WarmCache.getOrBuild("servegraph_v1", d,
        Seq(SimilaritySearch.getClass,
          graft.functions.VectorExpressions.getClass,
          classOf[graft.functions.SrpBucketsF]),
        dir => {
          serveEdges(s, d)
            .write.mode("overwrite").parquet(s"$dir/edges")
          // pin the serve DIAL next to the index it tunes: the measured
          // hop-curve knee (and the per-depth match counts behind it)
          val (knee, m5s) = measuredKnee(s, d, s"$dir/edges")
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$dir/meta.json"),
            (s"""{"depth":$knee,"maxDepth":$MaxServeDepth,""" +
              s""""panel":$QueryPanel,"m5":[${m5s.mkString(",")}]}""")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }))

  /** The serve dial pinned at bootstrap. `depth` = unrolled greedy
    * hops simsearch_graph_route runs for this corpus; `m5` = the
    * per-depth eval-panel match counts the knee was derived from
    * (kept in meta so the dial is auditable against the hop-curve
    * report — SimilaritySearchSpec pins the equality).
    */
  private[queries] final case class ServeMeta(depth: Int, m5: Seq[Long])

  private[queries] def serveMeta(s: SparkSession, d: String): ServeMeta = {
    val path = s"${serveGraphDir(s, d)}/meta.json"
    // the likeliest corruption is the file being absent entirely —
    // surface the same delete-to-rebuild hint instead of a raw
    // NoSuchFileException that never reaches the depth check below
    require(java.nio.file.Files.exists(java.nio.file.Paths.get(path)),
      s"missing $path — the serve-graph warm dir is corrupt (edited " +
        "outside the _WARM_COMPLETE protocol?); delete the dir to " +
        "force a rebuild")
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    val depth = """"depth":(\d+)""".r.findFirstMatchIn(txt)
    require(depth.isDefined,
      s"no \"depth\" in $path — the serve-graph warm dir is corrupt " +
        "(edited outside the _WARM_COMPLETE protocol?); delete the dir " +
        "to force a rebuild")
    val m5 = """"m5":\[([0-9,]*)\]""".r.findFirstMatchIn(txt)
      .map(_.group(1).split(",").filter(_.nonEmpty).map(_.toLong).toSeq)
      .getOrElse(Seq.empty)
    ServeMeta(depth.get.group(1).toInt, m5)
  }

  /** Deepest hop count the knee measurement (and the oracle's unrolled
    * chain) considers — the budget the dial is chosen within. ~log N at
    * deployment scale; 4 covers every test corpus (the sf0.1 curve is
    * flat past depth 3).
    */
  private[queries] val MaxServeDepth = 4

  /** Measure the hop-curve knee for the serve graph at `edgesDir`: per
    * depth 0..[[MaxServeDepth]], how many of the fixed eval panel's
    * brute-force top-5 the routed top-5 recovers (n_match5, an INTEGER
    * — exactly portable to the DuckDB twin, unlike a float recall);
    * knee = smallest depth reaching 95% of the achievable plateau
    * (20·m5 ≥ 19·max, integer arithmetic both engines evaluate
    * identically). Runs once per bootstrap, O(N·panel) truth +
    * constant-cost hops, never in a timed serve line.
    */
  private def measuredKnee(s: SparkSession, d: String,
      edgesDir: String): (Int, Seq[Long]) =
    kneeOver(s, normedEmb(s, d),
      s.read.parquet(edgesDir).select("src", "dst"))

  /** [[measuredKnee]] over explicit (corpus, edge-list) frames — the
    * depth-retrain decision measures the knee of a candidate corpus
    * without writing its serve graph anywhere.
    */
  private def kneeOver(s: SparkSession, emb: DataFrame,
      kgIn: DataFrame): (Int, Seq[Long]) = {
    // r15 restructure (guide §5 driver barriers, §2.4): the walk's
    // bookkeeping state is CONFIG-bounded — panel(32) × beam(3) ×
    // degree × depth candidate ids, top-5s, truth top-5s — never ∝ N,
    // so it lives on the driver as bounded collects (the same class as
    // the documented 5-integer knee reads and the O(dim) PCA vectors).
    // Before, `cand` was a lazily GROWING union/distinct lineage that
    // every depth's broadcast build re-executed (O(depth²) subtree
    // re-runs), each depth paid a distinct + window micro-shuffle at
    // the static partition width, and the per-depth frames were
    // localCheckpointed — a thread dump showed the tasks blocked on
    // shuffle-file create/mmap/unmap, not compute. Now each depth is
    // exactly two bounded jobs: ONE distributed corpus re-score (the
    // only O(N) stage, same count of corpus passes as before) whose
    // top-5-per-query is collected (≤ 5·panel rows), and ONE kg probe
    // for the beam expansion (≤ beam·panel·degree rows). All arithmetic
    // (round-6 cosines, (cos desc, cid asc) ranks, integer m5 counts)
    // is unchanged and still computed in-plan, so the knee and m5s are
    // bit-identical.
    import s.implicits._
    // the panel is O(panel·dim) floats — collect once, re-broadcast as
    // a LocalRelation so per-depth rescore broadcasts stop re-running
    // the TakeOrdered panel subtree
    val qRows: Seq[(Long, Seq[Float], Double)] = evalPanel(emb).collect()
      .toSeq.map(r => (r.getLong(0),
        r.getSeq[Float](1).toSeq, r.getDouble(2)))
    val queries = qRows.toDF("qid", "qe", "qn")
    val kg = kgIn.select("src", "dst")
    val truth: Set[(Long, Long)] = bruteTruth(emb, queries)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val entry: Seq[(Long, Long)] = entryPoints(
      entryScores(queries, entryLayer(emb)))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    val entryDf = entry.toDF("qid", "entry")
    val neigh0: Seq[(Long, Long)] =
      kg.join(broadcast(entryDf), col("entry") === col("src"))
        .select(col("qid"), col("dst")).collect()
        .toSeq.map(r => (r.getLong(0), r.getLong(1)))
    var cand: Set[(Long, Long)] = entry.toSet ++ neigh0
    val wq = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("cid").asc)
    val m5s = (0 to MaxServeDepth).map { depth =>
      val candDf = cand.toSeq.sorted.toDF("qid", "cid")
      // one job: corpus re-score → per-query top-5 (collected, ≤ 160
      // rows). The beam (top-3) is a PREFIX of the collected top-5, so
      // the old second window job is free.
      val top5: Seq[(Long, Long, Int)] =
        rescoreAgainst(emb, queries)(candDf)
          .withColumn("rn", row_number().over(wq))
          .filter(col("rn") <= 5)
          .select(col("qid"), col("cid"), col("rn"))
          .collect().toSeq
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      if (depth < MaxServeDepth) {
        val beamDf = top5.filter(_._3 <= 3).map(t => (t._1, t._2))
          .toDF("qid", "b")
        val grow = kg.join(broadcast(beamDf), col("b") === col("src"))
          .select(col("qid"), col("dst")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        cand = cand ++ grow
      }
      top5.count(t => truth.contains((t._1, t._2))).toLong
    }
    val best = m5s.max
    val knee = m5s.indexWhere(m5 => 20L * m5 >= 19L * best)
    (knee, m5s)
  }

  /** Build the serve graph eagerly — Bench's warm hook. */
  def warmServeGraph(s: SparkSession, d: String): Unit = {
    serveGraphDir(s, d); ()
  }

  /** DuckDB twin of [[serveEdges]], ending in `sg(src, rk, dst, cos)`;
    * leaves `e(vec_id, v, nrm)` in scope like [[sqlKnnEdges]].
    */
  private[queries] def sqlServeEdges: String =
    s"""e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
e AS (SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm
      FROM e0),
${sqlServeEdgesOver("", "e")}"""

  /** [[sqlServeEdges]]'s core over an arbitrary corpus CTE
    * `src(vec_id, v, nrm)`, every emitted CTE prefixed `p` and the
    * final serve graph named `${p}sg` — the twin of
    * [[serveEdgesOverEmb]] and the ONE recipe generator: the route/
    * beam/hop oracles AND the depth-retrain decision's base/grown
    * graphs all come from here, with every refine round generated from
    * [[ServeRefineRounds]] (the retrain oracle used to hand-unroll
    * exactly one round, so raising the dial would have desynced the
    * twins far from the dial).
    */
  private[queries] def sqlServeEdgesOver(p: String, src: String): String = {
    val rounds = (1 to ServeRefineRounds).map { r =>
      sqlDiversifyRound(s"${p}sg${r - 1}",
        if (r == ServeRefineRounds) s"${p}sg" else s"${p}sg$r",
        ServeDegree, ServePool, eCte = src)
    }.mkString(",\n")
    s"""${sqlKnnEdgesOver(p, src, ServeDegree)},
${p}sg0 AS (SELECT src, dst FROM ${p}kg),
$rounds"""
  }

  /** Fixed size of simsearch_graph_route's entry layer (HNSW's
    * constant-sized top layer): the 64 corpus vectors first in a
    * deterministic hash order ((vec_id·131 + 7) mod 1009, ties to
    * vec_id — the same arithmetic in both engines), selected by a
    * distributed top-k (TakeOrdered — no global window). A fixed CAP,
    * not a fixed RATE: the per-query entry scan stays 64 dot products
    * at any corpus size, which is what keeps the serve cost constant
    * per query end-to-end.
    */
  private[queries] val EntryCap = 64

  /** Fixed size of the serve-tuning reports' eval panel
    * (simsearch_beam_curve / simsearch_hop_curve, and the knee
    * measurement the serve-graph bootstrap records): 32 corpus vectors
    * first in a deterministic hash order ((vec_id·257 + 13) mod 1013 —
    * a different family than the entry layer's so the panel and the
    * entry points don't correlate), selected by a distributed top-k. A
    * fixed CAP like [[EntryCap]], not the fixed-RATE `% 97` sample the
    * r11 curves shipped with: the brute-force truth is the one stage of
    * a tuning report that cannot be approximated, and a ∝N panel made
    * it O(N²/97) with ∝N broadcasts — a capped panel keeps truth
    * O(N·panel) and every broadcast constant-sized at any corpus size
    * (the probe_curve convention, which pins its 10-query panel).
    */
  private[queries] val QueryPanel = 32

  /** The eval-panel frame (qid, qe, qn) over a normed embedding frame —
    * ONE definition for the two curve queries and the bootstrap's knee
    * measurement, so the reports and the recorded dial can't drift.
    */
  private def evalPanel(emb: DataFrame): DataFrame = emb
    .orderBy(expr("pmod(vec_id * 257 + 13, 1013)").asc, col("vec_id").asc)
    .limit(QueryPanel)
    .select(col("vec_id").as("qid"), col("embedding").as("qe"),
      col("nrm").as("qn"))

  /** The [[EntryCap]] hash-order entry layer (cid, ce, cn) — the
    * Spark twin of [[sqlEntryLayer]] and the ONE definition for
    * route/beam/hop and the knee measurement, so the serve walk's
    * arithmetic and tie order cannot drift between the pinned dial and
    * its consumers (sqlWalkCtes plays this role on the oracle side).
    */
  private def entryLayer(emb: DataFrame): DataFrame = emb
    .orderBy(expr("pmod(vec_id * 131 + 7, 1009)").asc, col("vec_id").asc)
    .limit(EntryCap)
    .select(col("vec_id").as("cid"), col("embedding").as("ce"),
      col("nrm").as("cn"))

  /** Entry-scan scores (qid, cid, cos) of a panel against the layer. */
  private def entryScores(queries: DataFrame, layer1: DataFrame): DataFrame =
    queries.join(broadcast(layer1), col("qid") =!= col("cid"))
      .withColumn("cos",
        r6(expr("dot_f(qe, ce)") / (col("qn") * col("cn"))))
      .select("qid", "cid", "cos")

  /** Top-6 entry points (qid, entry) from an entry-scan frame. */
  private def entryPoints(es: DataFrame): DataFrame =
    es.withColumn("rn", row_number().over(Window.partitionBy("qid")
        .orderBy(col("cos").desc, col("cid").asc)))
      .filter(col("rn") <= 6).select(col("qid"), col("cid").as("entry"))

  /** Exact re-rank of a broadcast candidate set against the corpus:
    * one emb scan probed by the candidates, `keep` ++ (qid, cid, cos)
    * out (beam_curve keeps its `arm` tag through here).
    */
  private def rescoreAgainst(emb: DataFrame, queries: DataFrame,
      keep: Seq[String] = Seq.empty)(cand: DataFrame): DataFrame =
    emb.join(broadcast(cand), col("vec_id") === col("cid"))
      .join(broadcast(queries), "qid")
      .filter(col("cid") =!= col("qid"))
      .withColumn("cos",
        r6(expr("dot_f(qe, embedding)") / (col("qn") * col("nrm"))))
      .select((keep ++ Seq("qid", "cid", "cos")).map(col): _*)

  /** The panel's brute-force top-5 (qid, cid, rn) — a tuning report's
    * truth stage; O(N·panel) when the panel is the fixed [[evalPanel]].
    */
  private def bruteTruth(emb: DataFrame, queries: DataFrame): DataFrame =
    emb.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .withColumn("cos",
        r6(expr("dot_f(qe, embedding)") / (col("qn") * col("nrm"))))
      .select(col("qid"), col("vec_id").as("cid"), col("cos"))
      .withColumn("rn", row_number().over(Window.partitionBy("qid")
        .orderBy(col("cos").desc, col("cid").asc)))
      .filter(col("rn") <= 5)
      .select("qid", "cid", "rn")

  /** DuckDB twin of [[evalPanel]], as the CTE `name(qid, qe, qn)`
    * over the corpus CTE `src(vec_id, v, nrm)`. */
  private def sqlEvalPanelAs(name: String, src: String = "e"): String =
    s"""$name AS (SELECT vec_id AS qid, v AS qe, nrm AS qn FROM $src
       ORDER BY (vec_id * 257 + 13) % 1013 ASC, vec_id ASC LIMIT $QueryPanel)"""

  /** [[sqlEvalPanelAs]] under the conventional name `q`. */
  private def sqlEvalPanel: String = sqlEvalPanelAs("q")

  /** The (beam, out-degree) grid simsearch_beam_curve measures: the
    * beam sweep at the serving degree and the degree sweep at the
    * serving beam — a cross, not a full grid, so the report costs
    * 5 arms instead of 9 while still isolating each dial.
    */
  private[queries] val BeamCurveArms: Seq[(Int, Int)] =
    Seq((1, 32), (3, 8), (3, 16), (3, 32), (5, 32))

  /** DuckDB twin of simsearch_beam_curve: shared e/kg(32)/q/l1/es/
    * entry/truth CTEs + one unrolled hop chain per arm, each stage the
    * serve oracle's own arithmetic.
    */
  private def sqlBeamCurve: String = {
    def hopChain(i: Int, beam: Int, deg: Int): String = {
      def score(inC: String, outC: String): String =
        s"""$outC AS (SELECT $inC.qid, $inC.cid,
           |  round(list_sum(list_transform(range(1, len(q.qe)+1),
           |          k -> q.qe[k] * e2.v[k])) / (q.qn * e2.nrm), 6) AS cos
           |FROM $inC JOIN q ON $inC.qid = q.qid
           |          JOIN e e2 ON $inC.cid = e2.vec_id
           |WHERE $inC.cid <> $inC.qid)""".stripMargin
      def beamCut(inS: String, outB: String): String =
        s"""$outB AS (SELECT qid, cid AS b FROM (
           |  SELECT qid, cid,
           |         row_number() OVER (PARTITION BY qid
           |           ORDER BY cos DESC, cid ASC) AS rn
           |  FROM $inS) WHERE rn <= $beam)""".stripMargin
      def hop(inC: String, inB: String, outC: String): String =
        s"""$outC AS (SELECT qid, cid FROM $inC
           |UNION
           |SELECT $inB.qid, sg.dst FROM $inB
           |JOIN sg ON $inB.b = sg.src AND sg.rk <= $deg)""".stripMargin
      val p = s"a$i"
      Seq(
        s"""${p}_c1 AS (SELECT qid, entry AS cid FROM entry
           |UNION
           |SELECT entry.qid, sg.dst FROM entry
           |JOIN sg ON entry.entry = sg.src AND sg.rk <= $deg)""".stripMargin,
        score(s"${p}_c1", s"${p}_c1s"),
        beamCut(s"${p}_c1s", s"${p}_b1"),
        hop(s"${p}_c1", s"${p}_b1", s"${p}_c2"),
        score(s"${p}_c2", s"${p}_c2s"),
        beamCut(s"${p}_c2s", s"${p}_b2"),
        hop(s"${p}_c2", s"${p}_b2", s"${p}_c3"),
        score(s"${p}_c3", s"${p}_c3s"),
        beamCut(s"${p}_c3s", s"${p}_b3"),
        hop(s"${p}_c3", s"${p}_b3", s"${p}_c4"),
        score(s"${p}_c4", s"${p}_c4s"),
        s"""${p}_top AS (SELECT qid, cid, rn FROM (
           |  SELECT qid, cid,
           |         row_number() OVER (PARTITION BY qid
           |           ORDER BY cos DESC, cid ASC) AS rn
           |  FROM ${p}_c4s) WHERE rn <= 5)""".stripMargin,
        s"""${p}_row AS (SELECT CAST($beam AS BIGINT) AS beam,
           |  CAST($deg AS BIGINT) AS deg,
           |  (SELECT count(*) FROM es) + (SELECT count(*) FROM ${p}_c1s)
           |    + (SELECT count(*) FROM ${p}_c2s)
           |    + (SELECT count(*) FROM ${p}_c3s)
           |    + (SELECT count(*) FROM ${p}_c4s) AS n_scored,
           |  (SELECT CAST(count(*) AS BIGINT) FROM bt
           |   JOIN ${p}_top t ON bt.qid = t.qid AND bt.cid = t.cid)
           |    AS n_match5,
           |  (SELECT CAST(count(*) AS BIGINT) FROM bt
           |   JOIN ${p}_top t ON bt.qid = t.qid AND bt.cid = t.cid
           |   WHERE bt.rn = 1 AND t.rn = 1) AS n_match1)""".stripMargin
      ).mkString(",\n")
    }
    val arms = BeamCurveArms.zipWithIndex
      .map { case ((b, m), i) => hopChain(i, b, m) }.mkString(",\n")
    val rows = BeamCurveArms.indices
      .map(i => s"SELECT * FROM a${i}_row").mkString("\nUNION ALL\n")
    s"""
WITH $sqlServeEdges,
$sqlEvalPanel,
$sqlEntryLayer,
es AS (SELECT qid, cid,
         round(list_sum(list_transform(range(1, len(qe)+1),
                 k -> qe[k] * ce[k])) / (qn * cn), 6) AS cos
       FROM q CROSS JOIN l1 WHERE qid <> cid),
entry AS (SELECT qid, cid AS entry FROM (
  SELECT qid, cid,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rn
  FROM es) WHERE rn <= 6),
btp AS (SELECT q.qid, c.vec_id AS cid,
          round(list_sum(list_transform(range(1, len(q.qe)+1),
                  k -> q.qe[k] * c.v[k])) / (q.qn * c.nrm), 6) AS cos
        FROM q JOIN e c ON c.vec_id <> q.qid),
bt AS (SELECT qid, cid, rn FROM (
  SELECT qid, cid,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rn
  FROM btp) WHERE rn <= 5),
$arms
SELECT beam, deg, n_scored, n_match5,
       CAST(n_match5 AS DOUBLE) / (SELECT count(*) FROM bt) AS recall_at_5,
       n_match1,
       CAST(n_match1 AS DOUBLE) / (SELECT count(*) FROM bt WHERE rn = 1)
         AS recall_at_1
FROM ($rows)
ORDER BY beam, deg"""
  }

  /** DuckDB twin of simsearch_hop_curve: ONE walk chain (the shared
    * [[sqlWalkCtes]] generator, prefix `h_`) over the refined serve
    * graph on the fixed eval panel, a report row per depth.
    */
  private def sqlHopCurve: String = {
    def rowFor(depth: Int): String = {
      val scored = (1 to depth + 1).map(i => s"(SELECT count(*) FROM h_c${i}s)")
        .mkString(" + ")
      s"""SELECT CAST($depth AS BIGINT) AS hops,
         |  (SELECT count(*) FROM h_es) + $scored AS n_scored,
         |  (SELECT CAST(count(*) AS BIGINT) FROM h_bt
         |   JOIN h_t${depth + 1} t ON h_bt.qid = t.qid AND h_bt.cid = t.cid)
         |    AS n_match5,
         |  (SELECT CAST(count(*) AS BIGINT) FROM h_bt
         |   JOIN h_t${depth + 1} t ON h_bt.qid = t.qid AND h_bt.cid = t.cid
         |   WHERE h_bt.rn = 1 AND t.rn = 1) AS n_match1""".stripMargin
    }
    val rows = (0 to MaxServeDepth).map(rowFor).mkString("\nUNION ALL\n")
    s"""
WITH $sqlServeEdges,
$sqlEntryLayer,
${sqlEvalPanelAs("h_q")},
${sqlWalkCtes("h_", 3, withTruth = true)}
SELECT hops, n_scored, n_match5,
       CAST(n_match5 AS DOUBLE) / (SELECT count(*) FROM h_bt) AS recall_at_5,
       n_match1,
       CAST(n_match1 AS DOUBLE) / (SELECT count(*) FROM h_bt WHERE rn = 1)
         AS recall_at_1
FROM ($rows)
ORDER BY hops"""
  }

  /** The EntryCap hash-order entry layer as the CTE `l1(cid, ce, cn)`. */
  private def sqlEntryLayer: String = sqlEntryLayerAs("l1", "e")

  /** [[sqlEntryLayer]] with the CTE name and corpus CTE parameterized. */
  private def sqlEntryLayerAs(name: String, src: String): String =
    s"""$name AS (SELECT vec_id AS cid, v AS ce, nrm AS cn FROM $src
       ORDER BY (vec_id * 131 + 7) % 1009 ASC, vec_id ASC LIMIT $EntryCap)"""

  /** One greedy serve walk over `sg` as a CTE chain prefixed `p`: the
    * panel `${p}q(qid, qe, qn)` must already be defined; emits the
    * entry-scan scores `${p}es`, entry points `${p}entry`, candidate
    * sets `${p}c1..c{MaxServeDepth+1}` with scored twins `${p}c{i}s`
    * (beam cut at `beam` between hops), per-depth routed top-5
    * `${p}t{i}` (depth d's answer is t{d+1}), and — when `withTruth` —
    * the panel's brute-force top-5 `${p}bt`. Assumes `e`, `sg`, `l1`
    * in scope; no trailing comma. ONE generator feeds the hop-curve
    * report, the route oracle's knee derivation, AND its serving
    * chain, so the three cannot drift.
    */
  private def sqlWalkCtes(p: String, beam: Int, withTruth: Boolean,
      eCte: String = "e", sgCte: String = "sg", l1Cte: String = "l1"): String = {
    def score(i: Int): String =
      s"""${p}c${i}s AS (SELECT c.qid, c.cid,
         |  round(list_sum(list_transform(range(1, len(q.qe)+1),
         |          k -> q.qe[k] * e2.v[k])) / (q.qn * e2.nrm), 6) AS cos
         |FROM ${p}c$i c JOIN ${p}q q ON c.qid = q.qid
         |          JOIN $eCte e2 ON c.cid = e2.vec_id
         |WHERE c.cid <> c.qid)""".stripMargin
    def beamCut(i: Int): String =
      s"""${p}b$i AS (SELECT qid, cid AS b FROM (
         |  SELECT qid, cid,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY cos DESC, cid ASC) AS rn
         |  FROM ${p}c${i}s) WHERE rn <= $beam)""".stripMargin
    def hop(i: Int): String =
      s"""${p}c${i + 1} AS (SELECT qid, cid FROM ${p}c$i
         |UNION
         |SELECT b.qid, sg.dst FROM ${p}b$i b JOIN $sgCte sg ON b.b = sg.src)"""
        .stripMargin
    def top(i: Int): String =
      s"""${p}t$i AS (SELECT qid, cid, cos, rn FROM (
         |  SELECT qid, cid, cos,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY cos DESC, cid ASC) AS rn
         |  FROM ${p}c${i}s) WHERE rn <= 5)""".stripMargin
    val head = Seq(
      s"""${p}es AS (SELECT qid, cid,
         |         round(list_sum(list_transform(range(1, len(qe)+1),
         |                 k -> qe[k] * ce[k])) / (qn * cn), 6) AS cos
         |       FROM ${p}q CROSS JOIN $l1Cte WHERE qid <> cid)""".stripMargin,
      s"""${p}entry AS (SELECT qid, cid AS entry FROM (
         |  SELECT qid, cid,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY cos DESC, cid ASC) AS rn
         |  FROM ${p}es) WHERE rn <= 6)""".stripMargin,
      s"""${p}c1 AS (SELECT qid, entry AS cid FROM ${p}entry
         |UNION
         |SELECT en.qid, sg.dst FROM ${p}entry en
         |JOIN $sgCte sg ON en.entry = sg.src)""".stripMargin)
    val truth = if (!withTruth) Seq.empty[String] else Seq(
      s"""${p}btp AS (SELECT q.qid, c.vec_id AS cid,
         |          round(list_sum(list_transform(range(1, len(q.qe)+1),
         |                  k -> q.qe[k] * c.v[k])) / (q.qn * c.nrm), 6) AS cos
         |        FROM ${p}q q JOIN $eCte c ON c.vec_id <> q.qid)""".stripMargin,
      s"""${p}bt AS (SELECT qid, cid, rn FROM (
         |  SELECT qid, cid,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY cos DESC, cid ASC) AS rn
         |  FROM ${p}btp) WHERE rn <= 5)""".stripMargin)
    val chain = (1 to MaxServeDepth)
      .flatMap(i => Seq(score(i), beamCut(i), hop(i))) :+
      score(MaxServeDepth + 1)
    val tops = (1 to MaxServeDepth + 1).map(top)
    (head ++ truth ++ chain ++ tops).mkString(",\n")
  }

  /** DuckDB twin of simsearch_graph_route: derives the SERVED DEPTH
    * exactly as the bootstrap pins it in meta.json — a knee chain over
    * the fixed eval panel (smallest depth with 20·m5 ≥ 19·max, the
    * integer 95%-of-plateau rule) — then serves the % 97 panel with
    * one walk unrolled to [[MaxServeDepth]], keeping each depth's
    * routed top-5 and answering with the knee's. Both chains come from
    * [[sqlWalkCtes]], the same generator the hop-curve oracle uses.
    */
  /** The per-depth m5 table `${p}m5(hops, m5)` and the knee scalar
    * `${p}knee(kd)` over a [[sqlWalkCtes]] chain with prefix `p` (its
    * withTruth CTEs must exist) — the oracle half of the 95%-of-plateau
    * rule, shared by the route oracle and the depth-retrain decision.
    */
  private def sqlKneeCtes(p: String): String = {
    val m5rows = (0 to MaxServeDepth).map { d =>
      s"""SELECT CAST($d AS BIGINT) AS hops,
         |  (SELECT CAST(count(*) AS BIGINT) FROM ${p}bt
         |   JOIN ${p}t${d + 1} t ON ${p}bt.qid = t.qid AND ${p}bt.cid = t.cid)
         |    AS m5""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""${p}m5 AS ($m5rows),
${p}knee AS (SELECT min(hops) AS kd FROM ${p}m5
         WHERE 20 * m5 >= 19 * (SELECT max(m5) FROM ${p}m5))"""
  }

  private def sqlGraphRoute: String = {
    val served = (0 to MaxServeDepth).map { d =>
      s"SELECT CAST($d AS BIGINT) AS hops, qid, cid, cos, rn FROM s_t${d + 1}"
    }.mkString("\nUNION ALL\n")
    s"""
WITH $sqlServeEdges,
$sqlEntryLayer,
${sqlEvalPanelAs("k_q")},
${sqlWalkCtes("k_", 3, withTruth = true)},
${sqlKneeCtes("k_")},
s_q AS (SELECT vec_id AS qid, v AS qe, nrm AS qn FROM e WHERE vec_id % 97 = 0),
${sqlWalkCtes("s_", 3, withTruth = false)}
SELECT qid, CAST(rn AS BIGINT) AS rk, cid, cos FROM (
$served)
WHERE hops = (SELECT kd FROM k_knee) ORDER BY qid, rk"""
  }

  /** Serve-graph out-degree for simsearch_graph_route (HNSW's M): the
    * build graph keeps top-3, but greedy routing on a 3-degree graph
    * strands in local optima (measured 1/6 routed top-1 agreement on
    * the fixture). simsearch_beam_curve picks the operating point with
    * data: on the r13 diversified serve graph at sf0.1, beam 3 × M=16
    * routes only 0.23 recall@5 while M=32 holds 0.5125 recall@5 / 0.50
    * recall@1 at ~1059 scored candidates per query — still a CONSTANT
    * at any corpus size (the beam sweep shows beam buys less than
    * degree at equal cost). Recall at a FIXED hop count decays as the
    * corpus outgrows the reachable set; the deployment dial is the
    * unrolled hop count (~log N), each hop the same constant-cost join.
    */
  private[queries] val ServeDegree = 32

  /** Expand-and-select rounds in the serve-graph BUILD (warm-cached,
    * never in a timed serve line). The r11 curves suggested edge
    * quality — not search width — bounds routed recall (degree 16→32
    * bought +0.29 recall@5 where beam 3→5 bought +0.09), so r12
    * measured a SECOND plain NN-descent round on the fixed eval panel
    * at sf0.1: routed recall fell at every operating point (beam3/M32
    * recall@5 0.4875 → 0.4500) because NN-descent monotonically
    * tightens every neighbor list toward the true k-NN, stripping the
    * medium-range LSH-seed edges greedy routing TRAVERSES (the
    * navigability problem HNSW solves with heuristic neighbor
    * selection, not more refinement). r13 acted on that mechanism:
    * the round's selection is now [[diversifyRound]]'s occlusion
    * pruning (HNSW's select-neighbors heuristic), which lifted the
    * serving arm 0.4875 → 0.5125 recall@5 at unchanged per-query cost.
    * A SECOND diversified round was then measured and is STILL
    * negative (beam3/M32 recall@5 0.5125 → 0.4813, beam5/M32
    * 0.6438 → 0.5813 at sf0.1): the second 2-hop expansion floods each
    * pool with so many near neighbors that even occlusion pruning
    * cannot retain the seed diversity. One round is the measured
    * optimum; the loop + SQL generator stay generalized so the dial is
    * a one-line change per corpus.
    */
  private[queries] val ServeRefineRounds = 1

  /** Refinement rounds an engine run may need before the k-NN graph's
    * edge set stops changing on any of the test fixtures — the oracle
    * unrolls exactly this many; the engine stops at the fixed point
    * (measured: 2 rounds on sf0.01, 3 on sf0.1; past it, rounds are
    * no-ops, so engine and oracle agree at any early-exit point).
    */
  val MaxRefineRounds = 4

  /** (vec_id, embedding, nrm) over the fixture — the re-rank side every
    * knn/refine consumer joins against.
    */
  private def normedEmb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        expr("norm_f(embedding)").as("nrm"))

  /** One NN-descent round over `g(src, dst, ...)`: candidates = current
    * edges ∪ 2-hop expansion (self excluded), exact cosine re-rank
    * against `emb`, per-node (cos desc, dst asc) top-3. The old edges
    * compete in the re-rank, so the per-node neighbor list is monotone
    * non-degrading — the property behind both the convergence loop and
    * the monotone-recall law.
    */
  private def refineRound(g: DataFrame, emb: DataFrame,
      k: Int = 3): DataFrame = {
    val ge = g.select("src", "dst")
    val hop2 = ge.select(col("src"), col("dst").as("mid"))
      .join(ge.select(col("src").as("mid"), col("dst").as("dst2")), "mid")
      .filter(col("src") =!= col("dst2"))
      .select(col("src"), col("dst2").as("dst"))
    val cand = ge.union(hop2).distinct()
    val scored = cand
      .join(emb.select(col("vec_id").as("src"),
        col("embedding").as("e_a"), col("nrm").as("n_a")), "src")
      .join(emb.select(col("vec_id").as("dst"),
        col("embedding").as("e_b"), col("nrm").as("n_b")), "dst")
      .withColumn("cos",
        r6(expr("dot_f(e_a, e_b)") / (col("n_a") * col("n_b"))))
      .select("src", "dst", "cos")
    // bounded top-k aggregate instead of a full-sort window — see
    // [[topKEdges]] (r15)
    topKEdges(scored, k)
  }

  /** Candidate pool the serve build's diversified selection prunes
    * from: the per-node top-[[ServePool]] of (seed ∪ 2-hop expansion)
    * by cosine. 2× [[ServeDegree]] — wide enough that occlusion
    * pruning has spare candidates to promote past the pruned ones
    * (with pool == M the heuristic could only reorder, never
    * diversify), while bounding the per-node occlusion join at
    * pool² = 4096 pairs — a CONSTANT, so the pruning stage stays
    * O(N·pool²) at any corpus size.
    */
  private[queries] val ServePool = 2 * ServeDegree

  /** One serve-build round: NN-descent expansion (candidates = current
    * edges ∪ 2-hop, exact cosine re-rank — [[refineRound]]'s rule) but
    * with HNSW-style DIVERSIFIED neighbor selection instead of a plain
    * top-M cut. The r12 negative result showed why: a second plain
    * refine round LOWERED routed recall (0.488→0.450 @5 at beam3/M32)
    * because tightening every list toward the true k-NN strips the
    * medium-range links greedy routing traverses. The heuristic keeps
    * them: scanning each node's top-[[ServePool]] candidates in (cos
    * desc, dst asc) order, a candidate is OCCLUDED when some
    * higher-ranked candidate k sits closer to it than the node itself
    * does (round-6 cosines both engines compare identically:
    * cos(k, c) > cos(node, c)) — the relational form of HNSW's
    * select-neighbors heuristic (occlusion against every higher-ranked
    * candidate rather than only kept ones: the standard set-once
    * relaxation, deterministic and engine-portable where the exact
    * sequential scan would need per-node iteration). Selection keeps
    * non-occluded candidates first (rank order), then backfills with
    * occluded ones to degree M — HNSW's keepPrunedConnections. Cost:
    * the expansion is [[refineRound]]'s O(edges) 2-hop join; the
    * occlusion stage is one per-node kernel over the collected pool
    * ([[graft.functions.OccMaxD]], r15 — bounded at pool²/2 dot
    * products per node with an exactness-preserving early exit), so
    * the stage stays O(N·pool²) CPU but shuffles N pool-rows instead
    * of N·pool²/2 pair rows. No internal materialization remains —
    * every intermediate is referenced exactly once (callers still
    * materialize each round's INPUT).
    */
  private def diversifyRound(g: DataFrame, emb: DataFrame,
      m: Int, pool: Int): DataFrame = {
    val ge = g.select("src", "dst")
    val hop2 = ge.select(col("src"), col("dst").as("mid"))
      .join(ge.select(col("src").as("mid"), col("dst").as("dst2")), "mid")
      .filter(col("src") =!= col("dst2"))
      .select(col("src"), col("dst2").as("dst"))
    val cand = ge.union(hop2).distinct()
    val scored = cand
      .join(emb.select(col("vec_id").as("src"),
        col("embedding").as("e_a"), col("nrm").as("n_a")), "src")
      .join(emb.select(col("vec_id").as("dst"),
        col("embedding").as("e_b"), col("nrm").as("n_b")), "dst")
      .withColumn("cos",
        r6(expr("dot_f(e_a, e_b)") / (col("n_a") * col("n_b"))))
    // pool cut through the bounded top-k aggregate, not a full-sort
    // window — see [[topKEdges]] (r15)
    val pooled = topKEdges(scored.select("src", "dst", "cos"), pool, "rk0")
    // Occlusion flags per node in ONE bounded kernel call over its
    // sorted pool (r15, guide §2.3/§2.4): the previous shape was a
    // pool²/2-pairs-per-node self-join — ~8M rows each carrying two
    // 64-float embeddings through an exchange, then an 8M-row hash
    // aggregate, to compute one boolean per pool entry. Now the pool
    // (≤ pool rows/node) is collected per src (rk0-sorted; rk0 is
    // unique per src so sort_array is a total order) and [[graft
    // .functions.OccMaxD]] computes each candidate's max co-candidate
    // cosine in a primitive loop with an exactness-preserving early
    // exit. round is monotone, so round(mk,6) > cos ⟺ the original
    // max_k [round(kc,6) > cos] — flags identical, including the
    // rk0 = 1 row (mk = −2 sentinel ⟺ the old left-join miss → 0).
    // With the pair join gone, pooled is referenced exactly once, so
    // the pool materialization is gone too.
    val pe = pooled.join(emb.select(col("vec_id").as("dst"),
      col("embedding").as("de"), col("nrm").as("dn")), "dst")
    val flat = pe.groupBy("src")
      .agg(sort_array(collect_list(struct(
        col("rk0"), col("dst"), col("cos"), col("de"), col("dn")))).as("lst"))
      .withColumn("mk", expr("occ_max_d(lst)"))
      .select(col("src"), explode(arrays_zip(col("lst"), col("mk"))).as("z"))
      .select(col("src"), col("z.lst.rk0").as("rk0"),
        col("z.lst.dst").as("dst"), col("z.lst.cos").as("cos"),
        when(r6(col("z.mk")) > col("z.lst.cos"), 1).otherwise(0).as("o"))
    val w2 = Window.partitionBy("src")
      .orderBy(col("o").asc, col("rk0").asc)
    flat
      .withColumn("rk", row_number().over(w2).cast("long"))
      .filter(col("rk") <= m)
      .select(col("src"), col("rk"), col("dst"), col("cos"))
  }

  /** DuckDB twin of [[diversifyRound]]: [[sqlRefineRound]]'s
    * expand-and-score CTEs, then the pool cut, the occlusion pair
    * join, and the diversity-first selection — identical arithmetic
    * (round-6 cosines, strict `>` occlusion, non-occluded-first rank).
    */
  private def sqlDiversifyRound(in: String, out: String,
      m: Int, pool: Int, eCte: String = "e"): String = s"""
${out}_h AS (SELECT a.src, b.dst AS dst
       FROM $in a JOIN $in b ON a.dst = b.src WHERE a.src <> b.dst),
${out}_c AS (SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM $in UNION ALL SELECT src, dst FROM ${out}_h)),
${out}_s AS (
  SELECT ${out}_c.src, ${out}_c.dst,
         round(list_sum(list_transform(range(1, len(a.v)+1), k -> a.v[k] * c.v[k])) /
               (a.nrm * c.nrm), 6) AS cos
  FROM ${out}_c JOIN $eCte a ON ${out}_c.src = a.vec_id
  JOIN $eCte c ON ${out}_c.dst = c.vec_id),
${out}_p AS MATERIALIZED (SELECT src, dst, cos, rk0 FROM (
  SELECT src, dst, cos,
         CAST(row_number() OVER (PARTITION BY src
                ORDER BY cos DESC, dst ASC) AS BIGINT) AS rk0
  FROM ${out}_s) WHERE rk0 <= $pool),
${out}_o AS (
  SELECT c.src, c.dst,
         max(CASE WHEN round(list_sum(list_transform(range(1, len(a.v)+1),
                     i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) > c.cos
                  THEN 1 ELSE 0 END) AS occ
  FROM ${out}_p c JOIN ${out}_p k ON c.src = k.src AND k.rk0 < c.rk0
  JOIN $eCte a ON k.dst = a.vec_id
  JOIN $eCte b ON c.dst = b.vec_id
  GROUP BY c.src, c.dst),
$out AS MATERIALIZED (SELECT src, rk, dst, cos FROM (
  SELECT p.src, p.dst, p.cos,
         CAST(row_number() OVER (PARTITION BY p.src
                ORDER BY COALESCE(o.occ, 0) ASC, p.rk0 ASC) AS BIGINT) AS rk
  FROM ${out}_p p LEFT JOIN ${out}_o o ON p.src = o.src AND p.dst = o.dst)
  WHERE rk <= $m)"""

  /** Every round's graph, round 0 = the LSH-seeded graph, each
    * materialized with its predecessor kept alive — the spec hook for
    * the per-round monotone-recall law (the caller releases).
    */
  private[queries] def knnRounds(s: SparkSession, d: String,
      rounds: Int): Seq[DataFrame] = {
    val emb = normedEmb(s, d)
    val out = Seq.newBuilder[DataFrame]
    var g = graft.Caching.materialize(s, knnEdges(s, d))
    out += g
    for (_ <- 1 to rounds) {
      g = graft.Caching.materialize(s, refineRound(g, emb))
      out += g
    }
    out.result()
  }

  /** DuckDB twin of [[refineRound]]: one expand-and-re-rank round from
    * `$in(src, dst)` to `$out(src, rk, dst, cos)`, assuming `e`
    * (vec_id, v, nrm) in scope. `$out` is MATERIALIZED — each
    * successive round references its predecessor three times, and CTE
    * inlining would re-evaluate the whole chain per reference
    * (exponential in rounds; the emb_pca_topr lesson).
    */
  private def sqlRefineRound(in: String, out: String,
      k: Int = 3, eCte: String = "e"): String = s"""
${out}_h AS (SELECT a.src, b.dst AS dst
       FROM $in a JOIN $in b ON a.dst = b.src WHERE a.src <> b.dst),
${out}_c AS (SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM $in UNION ALL SELECT src, dst FROM ${out}_h)),
${out}_s AS (
  SELECT ${out}_c.src, ${out}_c.dst,
         round(list_sum(list_transform(range(1, len(a.v)+1), k -> a.v[k] * c.v[k])) /
               (a.nrm * c.nrm), 6) AS cos
  FROM ${out}_c JOIN $eCte a ON ${out}_c.src = a.vec_id
  JOIN $eCte c ON ${out}_c.dst = c.vec_id),
$out AS MATERIALIZED (SELECT src, dst, cos, rk FROM (
  SELECT src, dst, cos,
         CAST(row_number() OVER (PARTITION BY src
                ORDER BY cos DESC, dst ASC) AS BIGINT) AS rk
  FROM ${out}_s) WHERE rk <= $k)"""

  /** The k-NN graph (src, rk, dst, cos): per-node top-3 over SRP
    * band-collision candidates, both directions of each pair — shared
    * by simsearch_knn_graph and the NN-descent refinement. Both edge
    * directions explode from ONE pass over the scored subtree — a
    * self-union would plan the candidate join + re-rank twice (the
    * same tax the medallion pipeline's population stage paid before
    * exploding both id roles from a single fact subtree).
    */
  private[queries] def knnEdges(s: SparkSession, d: String,
      k: Int = 3): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        expr("norm_f(embedding)").as("nrm"))
    // the band family shares the registered srp_buckets arithmetic by
    // definition (EmbBands/BandPlanes alias VectorExpressions
    // constants); the PLANE COUNT adapts to corpus size so bucket
    // populations stay capped (~64) and candidates stay ∝ N — equal to
    // the oracle-pinned family on every oracle-checked fixture. The
    // size comes from the memoized table stat, not a per-build count job
    val planes = graft.functions.VectorExpressions
      .adaptiveSrpPlanes(graft.Tables.rowCount(s, d, "embeddings"))
    edgesOver(emb, planes, k)
  }

  /** [[knnEdges]] over an explicit `(vec_id, embedding, nrm)` frame at
    * an explicit plane count — the from-scratch builder KnnGraphIndex
    * bootstraps with and the one place the band→candidate→re-rank
    * arithmetic lives, so the streamed graph and the batch graph
    * cannot drift.
    */
  private[queries] def edgesOver(emb: DataFrame, planes: Int,
      k: Int): DataFrame = {
    val banded = emb.select(col("vec_id"),
      posexplode(expr(s"srp_buckets_p(embedding, $planes)"))
        .as(Seq("band", "bkt")))
    val cand = banded.select(col("vec_id").as("i"), col("band"), col("bkt"))
      .join(banded.select(col("vec_id").as("j"), col("band"), col("bkt")),
        Seq("band", "bkt"))
      .filter(col("i") < col("j"))
      .select("i", "j").distinct()
    val scored = cand
      .join(emb.select(col("vec_id").as("i"), col("embedding").as("e_a"),
        col("nrm").as("n_a")), "i")
      .join(emb.select(col("vec_id").as("j"), col("embedding").as("e_b"),
        col("nrm").as("n_b")), "j")
      .withColumn("cos",
        r6(expr("dot_f(e_a, e_b)") / (col("n_a") * col("n_b"))))
      .select("i", "j", "cos")
    val directed = scored
      .select(explode(array(
        struct(col("i").as("src"), col("j").as("dst"), col("cos")),
        struct(col("j").as("src"), col("i").as("dst"), col("cos"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.cos").as("cos"))
    // top-k per node via the bounded TopKAgg aggregate (r15, guide
    // §2.3): the row_number window shuffled and FULLY SORTED every
    // scored pair before discarding all but k — a thread dump showed
    // the sort comparator as the build's top CPU item. The aggregate
    // keeps ≤ k rows per node per map task (map-side partial combine),
    // so the exchange carries ≤ k·N rows at any candidate volume. Same
    // (cos desc, dst asc) comparator, same rank numbering — the
    // w1_topk_partial_agg precedent, whose oracle pins the equality.
    topKEdges(directed, k)
  }

  /** (src, rk, dst, cos) = per-src top-k of `directed(src, dst, cos)`
    * by (cos desc, dst asc) through [[graft.functions.TopKAgg]] — ONE
    * definition for the seed graph, the NN-descent re-rank and the
    * diversify pool cut.
    */
  private def topKEdges(directed: DataFrame, k: Int,
      rkName: String = "rk"): DataFrame = {
    val topk = udaf(new graft.functions.TopKAgg(k))
    directed.groupBy("src")
      .agg(topk(col("cos"), col("dst")).as("top"))
      .select(col("src"), posexplode(col("top")))
      .select(col("src"), (col("pos") + 1).cast("long").as(rkName),
        col("col.id").as("dst"), col("col.score").as("cos"))
  }

  /** DuckDB CTE chain for [[knnEdges]], ending in
    * `kg(src, rk, dst, cos)`; also leaves `e(vec_id, v, nrm)` in scope
    * for consumers that re-rank against the embeddings.
    */
  private[queries] val sqlKnnEdges: String = sqlKnnEdgesK(3)

  /** [[sqlKnnEdges]] at an arbitrary per-node degree `k` — the serve
    * graph (simsearch_graph_route) keeps more edges than the build
    * graph because greedy routing needs the extra out-degree to stay
    * navigable (HNSW's M); one generator, so the band family and
    * re-rank arithmetic cannot drift between the two.
    */
  private[queries] def sqlKnnEdgesK(k: Int): String =
    s"""e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
e AS (SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm
      FROM e0),
${sqlKnnEdgesOver("", "e", k)}"""

  /** [[sqlKnnEdgesK]]'s core over an arbitrary corpus CTE
    * `src(vec_id, v, nrm)`, every emitted CTE prefixed `p` and the
    * final graph named `${p}kg` — the generator the depth-retrain
    * oracle builds its base/grown serve graphs with (same band
    * family, same re-rank arithmetic, different corpus).
    */
  private[queries] def sqlKnnEdgesOver(p: String, src: String,
      k: Int): String = {
    val bandSelects = (0 until Dedup.EmbBands).map { bnd =>
      s"SELECT vec_id, $bnd AS band, ${sqlBandBucket("v", bnd)} AS bkt FROM $src"
    }.mkString("\nUNION ALL\n")
    s"""${p}b AS ($bandSelects),
${p}cand AS (SELECT DISTINCT x.vec_id AS i, y.vec_id AS j
         FROM ${p}b x JOIN ${p}b y
           ON x.band = y.band AND x.bkt = y.bkt AND x.vec_id < y.vec_id),
${p}sc AS (
  SELECT i, j,
         round(list_sum(list_transform(range(1, len(a.v)+1), k -> a.v[k] * c.v[k])) /
               (a.nrm * c.nrm), 6) AS cos
  FROM ${p}cand JOIN $src a ON ${p}cand.i = a.vec_id
  JOIN $src c ON ${p}cand.j = c.vec_id),
${p}dir AS (SELECT i AS src, j AS dst, cos FROM ${p}sc
        UNION ALL
        SELECT j AS src, i AS dst, cos FROM ${p}sc),
${p}r AS (SELECT src, dst, cos,
             CAST(row_number() OVER (PARTITION BY src
                    ORDER BY cos DESC, dst ASC) AS BIGINT) AS rk
      FROM ${p}dir),
${p}kg AS (SELECT src, rk, dst, cos FROM ${p}r WHERE rk <= $k)"""
  }

  /** Shared oracle for the nprobe=2 IVF shape (multiprobe, persisted-
    * index, and the streaming-append st17 formulations all compute
    * identical results).
    */
  private[queries] def sqlIvfNprobe2: String = s"""
WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
e AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e0),$sqlKmeansCtes,
ranked AS (
  SELECT e.vec_id, e.v, e.nrm, cent.cent_id,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY round(list_sum(list_transform(range(1, len(e.v)+1),
                      i -> e.v[i] * cent.c_v[i])) / (e.nrm * cent.c_nrm), 6) DESC,
           cent.cent_id ASC) AS rnc
  FROM e CROSS JOIN cent),
q AS (SELECT vec_id AS q_id, v, nrm, cent_id AS cell FROM ranked
      WHERE vec_id < 10 AND rnc <= 2),
c AS (SELECT vec_id AS c_id, v, nrm, cent_id AS cell FROM ranked
      WHERE vec_id >= 10 AND rnc = 1),
p AS (SELECT q.q_id, c.c_id,
             round(list_sum(list_transform(range(1, len(q.v)+1), i -> q.v[i] * c.v[i])) /
                   (q.nrm * c.nrm), 6) AS cos
      FROM q JOIN c ON q.cell = c.cell),
r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn FROM p)
SELECT q_id, c_id, cos, rn FROM r WHERE rn <= 5 ORDER BY q_id, rn"""
}
