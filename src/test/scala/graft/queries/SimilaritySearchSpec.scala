package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** ANN-family invariants the row-level oracle can't express: probing
  * more cells can only improve (or tie) the quality of every top-k
  * slot, and the exact kernel dominates both.
  */
class SimilaritySearchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def topkByQuery(name: String): Map[Long, Seq[Double]] =
    Registry.queries(name)(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Double]("cos"), r.getAs[Long]("rn")))
      .groupBy(_._1)
      .map { case (q, rows) => q -> rows.sortBy(_._3).map(_._2).toSeq }

  test("k-means IVF recall@5 vs brute force holds its measured floor on sf0.01") {
    // measured after the one-Lloyd-iteration k-means build (round 4):
    // nprobe=1 0.30, nprobe=2 0.42 — vs 0.24/0.34 with the former
    // every-100th-vector centroids. The floor is set just under the
    // measured values so a centroid/assignment edit that silently
    // trashes recall fails here instead of in production.
    def pairs(name: String): Set[(Long, Long)] =
      Registry.queries(name)(spark, TestSpark.Sf001).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
    val gt = pairs("simsearch_bruteforce_topk")
    val r1 = pairs("simsearch_ivf_bucketed").intersect(gt).size.toDouble / gt.size
    val r2 = pairs("simsearch_ivf_multiprobe").intersect(gt).size.toDouble / gt.size
    assert(r1 >= 0.28, s"nprobe=1 recall@5 dropped to $r1")
    assert(r2 >= 0.40, s"nprobe=2 recall@5 dropped to $r2")
    assert(r2 >= r1, "multi-probe must not lose recall vs nprobe=1")
  }

  test("LSH flagship retains >= 0.8 of the exact flagship's top-k rows on sf0.01") {
    // the measured 82.4% top-k retention (SimilarityPipeline.lshPairs
    // doc) asserted as a floor: a band-family edit can't silently
    // trash the beyond-broadcast path's recall
    def rows(name: String): Set[(Long, Long)] =
      Registry.queries(name)(spark, TestSpark.Sf001).collect()
        .map(r => (r.getAs[Long]("target_id"), r.getAs[Long]("source_id"))).toSet
    val exact = rows("pipeline_topk_tieflag")
    val lsh = rows("pipeline_topk_tieflag_lsh")
    val retention = lsh.intersect(exact).size.toDouble / exact.size
    assert(retention >= 0.8, s"LSH flagship top-k retention dropped to $retention")
  }

  test("persisted IVF index: cell-partitioned layout, query equals multiprobe, scan prunes") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_spec").toString
    try {
      val emb = graft.Tables.embeddings(spark, TestSpark.Sf001)
        .select(col("vec_id"), col("embedding"),
          expr("norm_f(embedding)").as("nrm"))
      // oracle-exact quantizer: this test asserts equality against the
      // inline multiprobe query, which trains with kmeansCents
      AnnIndex.build(spark, emb, emb.filter(col("vec_id") >= 10), root,
        quantizer = SimilaritySearch.kmeansCents)
      // the IVF posting lists ARE partition directories
      val cellDirs = new java.io.File(s"$root/vec").listFiles()
        .filter(_.getName.startsWith("cell="))
      assert(cellDirs.length > 1, "vec/ must be partitioned by cell")
      val got = AnnIndex.query(spark, emb.filter(col("vec_id") < 10), root,
        topK = 5, nprobe = 2)
      val viaIndex = got.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      val viaRebuild = Registry.queries("simsearch_ivf_multiprobe")(spark, TestSpark.Sf001)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      assert(viaIndex == viaRebuild, "index-served results diverged from rebuild")
      // probing restricts the vec/ scan to the queries' cells: the
      // partitioned scan must carry a dynamic pruning filter
      val p = got.queryExecution.executedPlan.toString
      assert(p.contains("dynamicpruning"),
        s"no dynamic partition pruning on the vec/ scan:\n${p.take(3000)}")
    } finally graft.Scratch.delete(root)
  }

  test("append folds new vectors in without retraining and matches a full build") {
    import org.apache.spark.sql.functions._
    val r1 = java.nio.file.Files.createTempDirectory("graft_annidx_app1").toString
    val r2 = java.nio.file.Files.createTempDirectory("graft_annidx_app2").toString
    try {
      val emb = graft.Tables.embeddings(spark, TestSpark.Sf001)
        .select(col("vec_id"), col("embedding"),
          expr("norm_f(embedding)").as("nrm"))
      val cands = emb.filter(col("vec_id") >= 10)
      // incremental: build on the even half (quantizer trained on FULL
      // corpus both times so the cell geometry is identical), append odds
      // the two independent trainings must yield bit-identical
      // geometry for the equality below — use the deterministic
      // single-Lloyd quantizer (the avg default is last-ulp
      // partition-order-dependent across runs)
      AnnIndex.build(spark, emb, cands.filter(col("vec_id") % 2 === 0), r1,
        quantizer = SimilaritySearch.kmeansCents)
      AnnIndex.append(spark, cands.filter(col("vec_id") % 2 === 1), r1)
      AnnIndex.build(spark, emb, cands, r2,
        quantizer = SimilaritySearch.kmeansCents)
      val qs = emb.filter(col("vec_id") < 10)
      def run(root: String) =
        AnnIndex.query(spark, qs, root, topK = 5, nprobe = 2).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      assert(run(r1) == run(r2), "append-built index diverged from full build")
    } finally { graft.Scratch.delete(r1); graft.Scratch.delete(r2) }
  }

  test("filtered ANN on the persisted index: label predicate AND cell probe both push into the vec/ scan") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_filt").toString
    try {
      val emb = graft.Tables.embeddings(spark, TestSpark.Sf001)
        .select(col("vec_id"), col("label"), col("embedding"),
          expr("norm_f(embedding)").as("nrm"))
      AnnIndex.build(spark, emb.drop("label"),
        emb.filter(col("vec_id") >= 10), root)
      val got = AnnIndex.query(spark, emb.filter(col("vec_id") < 10).drop("label"),
        root, topK = 5, nprobe = 2, candidateFilter = Some(col("label") === 1))
      // every served neighbour satisfies the predicate (pre-filter, so
      // each query still fills k slots from QUALIFYING vectors)
      val labels = graft.Tables.embeddings(spark, TestSpark.Sf001)
        .select(col("vec_id").as("c_id"), col("label"))
      assert(got.join(labels, Seq("c_id")).filter(col("label") =!= 1).count() == 0)
      // and the plan does the work in the right place: the label
      // predicate is pushed into the parquet scan of the state, and
      // probing still prunes the cell partitions dynamically
      val p = got.queryExecution.executedPlan.toString
      assert(p.contains("dynamicpruning"),
        s"no dynamic partition pruning on the filtered vec/ scan:\n${p.take(3000)}")
      assert(p.contains("PushedFilters: [IsNotNull(label), EqualTo(label,1)]")
        || p.contains("EqualTo(label,1)"),
        s"label predicate not pushed into the vec/ scan:\n${p.take(3000)}")
    } finally graft.Scratch.delete(root)
  }

  test("production avg-quantizer (multi-iteration Lloyd) holds the oracle quantizer's recall floors") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_avgq").toString
    try {
      val emb = graft.Tables.embeddings(spark, TestSpark.Sf001)
        .select(col("vec_id"), col("embedding"),
          expr("norm_f(embedding)").as("nrm"))
      // no quantizer argument: the avg path IS the build default now
      AnnIndex.build(spark, emb, emb.filter(col("vec_id") >= 10), root)
      def pairs(nprobe: Int): Set[(Long, Long)] =
        AnnIndex.query(spark, emb.filter(col("vec_id") < 10), root,
          topK = 5, nprobe = nprobe).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val gt = Registry.queries("simsearch_bruteforce_topk")(spark, TestSpark.Sf001)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
      val r1 = pairs(1).intersect(gt).size.toDouble / gt.size
      val r2 = pairs(2).intersect(gt).size.toDouble / gt.size
      // same floors as the oracle-exact single-Lloyd quantizer: more
      // Lloyd iterations must not cost recall
      assert(r1 >= 0.28, s"avg-quantizer nprobe=1 recall@5 dropped to $r1")
      assert(r2 >= 0.40, s"avg-quantizer nprobe=2 recall@5 dropped to $r2")
      assert(r2 >= r1)
    } finally graft.Scratch.delete(root)
  }

  test("PQ shortlist+rerank recall@5 holds its measured floor on sf0.01") {
    // measured 0.42 in-engine with M=4 subspaces, K≈25 codewords, R=50
    // shortlist (ADC-only was 0.08 on these near-uniform synthetic
    // embeddings — the re-rank stage is what makes PQ serve); floor
    // just under so a codebook/encoding edit that trashes recall fails
    // here
    def pairs(name: String): Set[(Long, Long)] =
      Registry.queries(name)(spark, TestSpark.Sf001).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
    val gt = pairs("simsearch_bruteforce_topk")
    val r = pairs("simsearch_pq_rerank").intersect(gt).size.toDouble / gt.size
    assert(r >= 0.40, s"PQ rerank recall@5 dropped to $r")
  }

  test("build enforces the maxCells cap so purge/compact driver lists stay bounded") {
    import org.apache.spark.sql.functions._
    val root = graft.Scratch.dir("annidx_cap")
    try {
      val emb = graft.Tables.embeddings(spark, TestSpark.Sf001)
        .select(col("vec_id"), col("embedding"),
          expr("norm_f(embedding)").as("nrm"))
      spark.conf.set(AnnIndex.MaxCellsKey, "2")
      val e = intercept[IllegalArgumentException] {
        AnnIndex.build(spark, emb, emb.filter(col("vec_id") >= 10), root)
      }
      assert(e.getMessage.contains(AnnIndex.MaxCellsKey))
    } finally {
      spark.conf.unset(AnnIndex.MaxCellsKey)
      graft.Scratch.delete(root)
    }
  }

  test("cell-quality report: members partition the corpus, coherence ordered sanely") {
    val rows = Registry.queries("simsearch_cell_quality")(spark, TestSpark.Sf001)
      .collect()
    assert(rows.nonEmpty)
    val corpus = graft.Tables.embeddings(spark, TestSpark.Sf001).count()
    // top-1 assignment is a partition of the corpus: every vector in
    // exactly one cell
    assert(rows.map(_.getAs[Long]("n_members")).sum == corpus)
    rows.foreach { r =>
      val avg = r.getAs[Double]("avg_cos")
      val min = r.getAs[Double]("min_cos")
      assert(r.getAs[Long]("n_members") > 0)
      assert(min <= avg + 1e-9, s"cell ${r.getAs[Long]("cell")}: min $min > avg $avg")
      assert(avg <= 1.000001 && min >= -1.000001)
    }
  }

  test("retrain decision: drift flips to rebuild, undrifted append keeps, " +
    "rebuild restores the recall floor") {
    import org.apache.spark.sql.functions._
    // the registered query's drifted scenario must flag the rebuild,
    // and the retrain must actually repair coherence
    val rows = Registry.queries("simsearch_ivf_retrain_decision")(
      spark, TestSpark.Sf001).collect()
    val byStage = rows.map(r => r.getAs[String]("stage") -> r).toMap
    assert(byStage("2_after_append").getAs[String]("decision") == "rebuild",
      "drifted append did not flip the decision")
    assert(byStage("3_retrained").getAs[Double]("avg_cos") >
      byStage("2_after_append").getAs[Double]("avg_cos"),
      "retrain did not improve coherence")
    // control: an append from the SAME distribution (the corpus itself
    // under fresh ids) must NOT flip — each copy lands exactly where
    // its twin does, so coherence is unchanged and the 5% rule keeps
    val emb = graft.Tables.embeddings(spark, TestSpark.Sf001)
      .select(col("vec_id"), col("embedding"),
        expr("norm_f(embedding)").as("nrm"))
    def coherence(corpus: org.apache.spark.sql.DataFrame,
        cents: org.apache.spark.sql.DataFrame): Double = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("cos_c").desc, col("cent_id").asc)
      corpus.crossJoin(broadcast(cents))
        .withColumn("cos_c", round(expr("dot_f(embedding, c_emb)") /
          (col("nrm") * col("c_nrm")), 6))
        .withColumn("rnc", row_number().over(w))
        .filter(col("rnc") === 1)
        .agg(avg("cos_c")).head().getDouble(0)
    }
    val cents = SimilaritySearch.kmeansCents(emb)
    val copies = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"), col("nrm"))
    val before = coherence(emb, cents)
    val afterUndrifted = coherence(emb.unionAll(copies), cents)
    assert(afterUndrifted >= before * 0.95,
      s"undrifted append would wrongly flip: $before -> $afterUndrifted")
    // rebuild restores the serving floor: index the drifted corpus with
    // a RETRAINED quantizer and check recall@5 for drifted queries
    val shifted = graft.Tables.embeddings(spark, TestSpark.Sf001)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
      .withColumn("nrm", expr("norm_f(embedding)"))
    val cands = emb.filter(col("vec_id") >= 10)
      .unionAll(shifted.filter(col("vec_id") >= 1000010L))
    val queries = shifted.filter(col("vec_id") < 1000010L)
    val root = graft.Scratch.dir("annidx_retrain")
    try {
      AnnIndex.build(spark, emb.unionAll(shifted), cands, root,
        quantizer = SimilaritySearch.kmeansCents)
      val got = AnnIndex.query(spark, queries, root, topK = 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // brute-force truth over the same candidate set, driver-side
      def vecs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Array[Double])] =
        df.select("vec_id", "embedding").collect()
          .map(r => r.getLong(0) ->
            r.getSeq[Float](1).map(_.toDouble).toArray).toSeq
      val cs = vecs(cands)
      def cos(a: Array[Double], b: Array[Double]): Double = {
        val d = a.zip(b).map { case (x, y) => x * y }.sum
        d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      }
      val gt = vecs(queries).flatMap { case (q, qv) =>
        cs.map { case (c, cv) => (cos(qv, cv), c) }
          .sortBy(t => (-t._1, t._2)).take(5).map(c => (q, c._2))
      }.toSet
      val recall = got.intersect(gt).size.toDouble / gt.size
      assert(recall >= 0.40,
        s"rebuild did not restore the recall floor: recall@5 = $recall")
    } finally graft.Scratch.delete(root)
  }

  test("IVF nprobe=2 dominates nprobe=1 slot-by-slot; brute force dominates both") {
    val one = topkByQuery("simsearch_ivf_bucketed")
    val two = topkByQuery("simsearch_ivf_multiprobe")
    val exact = topkByQuery("simsearch_bruteforce_topk")
    assert(one.keySet == two.keySet)
    one.foreach { case (q, cos1) =>
      val cos2 = two(q)
      cos1.zip(cos2).zipWithIndex.foreach { case ((c1, c2), k) =>
        assert(c2 >= c1, s"query $q slot $k: nprobe=2 $c2 < nprobe=1 $c1")
      }
      val ce = exact(q)
      cos2.zip(ce).zipWithIndex.foreach { case ((c2, cx), k) =>
        assert(cx >= c2, s"query $q slot $k: exact $cx < nprobe=2 $c2")
      }
    }
  }

  test("probe curve: recall and scan cost are monotone in nprobe, and " +
    "the nprobe=1 arm agrees with the per-query recall report") {
    val curve = Registry.queries("simsearch_probe_curve")(
      spark, graft.TestSpark.Sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(curve.map(_._1).toSeq == Seq(1L, 2L, 4L))
    curve.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 > a._2, s"scan cost not increasing: $a -> $b")
      assert(b._3 >= a._3, s"recall dropped with more probes: $a -> $b")
    }
    curve.foreach { case (np, _, m, rec) =>
      assert(math.abs(rec - m / 50.0) < 1e-12, s"nprobe $np recall wrong")
    }
    // cross-check: the report's per-query matches sum to the curve's
    // nprobe=1 total (same index, same truth, independent formulation)
    val reportTotal = Registry.queries("simsearch_recall_report")(
      spark, graft.TestSpark.Sf001).collect().map(_.getLong(1)).sum
    assert(curve.head._3 == reportTotal,
      s"curve nprobe=1 ${curve.head._3} != recall_report $reportTotal")
  }

  test("graph route: scores are true cosines, ranks contiguous, and " +
    "routed top-1 agrees with brute force on at least half the queries") {
    val emb = graft.Tables.embeddings(spark, graft.TestSpark.Sf0001)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val rows = Registry.queries("simsearch_graph_route")(
      spark, graft.TestSpark.Sf0001).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rk"),
        r.getAs[Long]("cid"), r.getAs[Double]("cos")))
    assert(rows.nonEmpty)
    rows.foreach { case (q, _, c, sc) =>
      assert(q != c, "query returned itself")
      assert(math.abs(sc - cos(emb(q), emb(c))) < 1.5e-6,
        s"score for $q->$c is not the true cosine")
    }
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq,
        s"query $q ranks not contiguous")
      // ranks follow (cos desc, cid asc)
      val ordered = rs.sortBy(_._2)
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3),
            s"query $q rank order violated")
        case _ => ()
      }
    }
    // routed quality floor: top-1 agreement with exact brute force on
    // >= half the queries (measured with the 64-vector capped entry +
    // the NN-descent-refined degree-32 serve graph: 6/6 on sf0.001 and
    // sf0.01, 15/21 on sf0.1 — the beam-curve query carries the full
    // (beam, degree) cost/recall table)
    val queries = rows.map(_._1).distinct
    val agree = queries.count { q =>
      val qe = emb(q)
      val truth = emb.keys.filter(_ != q)
        .map(c => (c, cos(qe, emb(c))))
        .maxBy { case (c, sc) => (sc, -c) }._1
      rows.exists(r => r._1 == q && r._2 == 1L && r._3 == truth)
    }
    assert(agree * 2 >= queries.length,
      s"routed top-1 agreement $agree/${queries.length} below 1/2")
  }

  test("hop curve: scored work strictly accumulates with depth, recall " +
    "never decreases, and depth 3 equals the beam curve's serving arm") {
    // Depth d's candidate set is a prefix of depth d+1's: every extra
    // round rescores a superset, and under the shared (cos desc, cid
    // asc) order a truth member displaced from the serve top-k is only
    // ever displaced by a higher-ranked vector — itself a truth member
    // — so recall@5 and recall@1 are monotone non-decreasing BY
    // CONSTRUCTION. n_scored is cumulative over per-depth frames, so
    // it strictly increases even after the candidate set saturates.
    val rows = Registry.queries("simsearch_hop_curve")(
      spark, graft.TestSpark.Sf0001).collect()
      .sortBy(_.getAs[Long]("hops"))
    assert(rows.map(_.getAs[Long]("hops")).toSeq == (0L to 4L),
      "hop curve must report every depth 0..4 exactly once")
    val scored = rows.map(_.getAs[Long]("n_scored")).toSeq
    assert(scored.sliding(2).forall { case Seq(a, b) => a < b },
      s"cumulative n_scored not strictly increasing: $scored")
    for (c <- Seq("recall_at_5", "recall_at_1")) {
      val r = rows.map(_.getAs[Double](c)).toSeq
      assert(r.forall(v => v >= 0.0 && v <= 1.0), s"$c out of [0,1]: $r")
      assert(r.sliding(2).forall { case Seq(a, b) => b >= a },
        s"$c decreased with depth: $r")
    }
    // The (beam 3, M=32) beam-curve arm and the depth-3 hop-curve row
    // are the SAME serve (entry scan + 3 beam-3 rounds on the degree-32
    // graph) computed by two independent formulations — they must agree
    // exactly, so drift between the two tuning reports cannot hide.
    val arm = Registry.queries("simsearch_beam_curve")(
      spark, graft.TestSpark.Sf0001).collect()
      .find(r => r.getAs[Long]("beam") == 3L && r.getAs[Long]("deg") == 32L)
      .getOrElse(fail("beam curve lost its (3,32) serving arm"))
    val d3 = rows(3)
    for (c <- Seq("n_scored", "n_match5", "n_match1"))
      assert(arm.getAs[Long](c) == d3.getAs[Long](c),
        s"$c: beam-curve (3,32) ${arm.getAs[Long](c)} != " +
          s"hop-curve depth 3 ${d3.getAs[Long](c)}")
    for (c <- Seq("recall_at_5", "recall_at_1"))
      assert(arm.getAs[Double](c) == d3.getAs[Double](c),
        s"$c: beam-curve (3,32) != hop-curve depth 3")
  }

  test("serve meta: the pinned depth IS the hop curve's knee — meta's " +
    "recorded m5 counts equal the report's n_match5 column, and the " +
    "95%-of-plateau rule reproduces the recorded depth") {
    // The bootstrap's knee measurement and the hop-curve report walk
    // the same chain (shared frame builders Spark-side, one
    // sqlWalkCtes generator oracle-side). If either drifts, the DIAL
    // diverges from the REPORT it claims to be derived from — this is
    // the executable form of that contract.
    val meta = SimilaritySearch.serveMeta(spark, graft.TestSpark.Sf0001)
    val rows = Registry.queries("simsearch_hop_curve")(
      spark, graft.TestSpark.Sf0001).collect()
      .sortBy(_.getAs[Long]("hops"))
    val reportM5 = rows.map(_.getAs[Long]("n_match5")).toSeq
    assert(meta.m5 == reportM5,
      s"meta m5 ${meta.m5} != hop-curve n_match5 $reportM5 — the dial " +
        "was pinned from a different walk than the report measures")
    // adding candidates can only displace a truth member with a
    // higher-cos vector, itself a truth member — m5 never decreases
    assert(meta.m5.sliding(2).forall { case Seq(a, b) => b >= a },
      s"m5 decreased with depth: ${meta.m5}")
    val best = meta.m5.max
    val knee = meta.m5.indexWhere(m => 20L * m >= 19L * best)
    assert(meta.depth == knee,
      s"recorded depth ${meta.depth} != 95%-of-plateau knee $knee " +
        s"over m5 ${meta.m5}")
    assert(meta.depth >= 0 && meta.m5.length == 5,
      "meta must record every depth 0..MaxServeDepth")
  }

  test("band retrain decision: the pinned stage sits inside the (32, 64] " +
    "envelope, the grown stage's decision follows the measured mean, and " +
    "reband fires exactly when a from-scratch bootstrap would choose a " +
    "different plane family") {
    val rows = Registry.queries("simsearch_band_retrain_decision")(
      spark, graft.TestSpark.Sf0001).collect()
      .sortBy(_.getAs[String]("stage"))
    assert(rows.length == 2, "decision report must have exactly 2 stages")
    val pinned = rows(0); val grown = rows(1)
    assert(pinned.getAs[String]("decision") == null,
      "the pinned stage carries no decision")
    val nBase = pinned.getAs[Long]("n_vecs")
    assert(grown.getAs[Long]("n_vecs") == 2 * nBase,
      "the drift scenario doubles the corpus")
    // the pinned family IS what the engine's bootstrap would choose
    assert(pinned.getAs[Long]("planes_pinned") ==
      graft.functions.VectorExpressions.adaptiveSrpPlanes(nBase).toLong,
      "planes_pinned must be the engine's own bootstrap choice")
    assert(pinned.getAs[Long]("planes_fresh") ==
      pinned.getAs[Long]("planes_pinned"),
      "from-scratch on the base corpus is the pinned family by definition")
    // the bootstrap chose the family to land in (32, 64] — the base
    // measurement must confirm it (this is the envelope the decision
    // guards)
    val mpBase = pinned.getAs[Double]("mean_pop")
    assert(mpBase > 32.0 && mpBase <= 64.0,
      s"base mean bucket population $mpBase outside the (32, 64] envelope")
    // decision follows the measured mean, by the stated rule
    val mpGrown = grown.getAs[Double]("mean_pop")
    val expect = if (mpGrown > 64.0 || mpGrown <= 32.0) "reband" else "keep"
    assert(grown.getAs[String]("decision") == expect,
      s"decision ${grown.getAs[String]("decision")} does not follow " +
        s"from the measured mean $mpGrown")
    // and agrees with what a from-scratch family choice would do: the
    // fresh plane count differs from the pinned one exactly when the
    // measured population left the envelope (the measured trigger and
    // the N-derived rule are two routes to the same re-pin)
    val freshDiffers = grown.getAs[Long]("planes_fresh") !=
      grown.getAs[Long]("planes_pinned")
    assert(freshDiffers == (expect == "reband"),
      s"measured decision $expect disagrees with the from-scratch " +
        s"family choice (pinned ${grown.getAs[Long]("planes_pinned")}, " +
        s"fresh ${grown.getAs[Long]("planes_fresh")})")
    // the doubled corpus must actually fire the trigger on this fixture
    assert(grown.getAs[String]("decision") == "reband",
      "2x growth under a (32, 64]-tuned family must leave the envelope")
  }

  test("depth retrain decision: the pinned stage reproduces the serving " +
    "meta's dial, and the grown stage flags repin exactly when the " +
    "measured knee departs it") {
    val rows = Registry.queries("simsearch_depth_retrain_decision")(
      spark, graft.TestSpark.Sf0001).collect()
      .sortBy(_.getAs[String]("stage"))
    assert(rows.length == 2, "decision report must have exactly 2 stages")
    val pinned = rows(0); val grown = rows(1)
    assert(pinned.getAs[String]("decision") == null,
      "the pinned stage carries no decision")
    // the in-query base measurement and the bootstrap's meta walk the
    // same chain over the same corpus — they must agree or the trigger
    // would compare against a dial nobody serves
    assert(pinned.getAs[Long]("depth").toInt ==
      SimilaritySearch.serveMeta(spark, graft.TestSpark.Sf0001).depth,
      "pinned stage disagrees with the serving meta's depth")
    assert(grown.getAs[Long]("n_vecs") == 2 * pinned.getAs[Long]("n_vecs"),
      "the drift scenario doubles the corpus")
    val expect =
      if (grown.getAs[Long]("depth") != pinned.getAs[Long]("depth")) "repin"
      else "keep"
    assert(grown.getAs[String]("decision") == expect,
      s"decision ${grown.getAs[String]("decision")} does not follow " +
        "from the measured knees")
  }
}
