package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Measured scaling curves — the evidence behind SCALE.md's complexity
  * claims: runs each family's representative query across the fixture
  * ladder, fits the wall-time scaling exponent against the family's
  * DRIVER-TABLE row count, and FAILS (exit 1) if any family scales
  * worse than its claimed O() cap. Writes `scale_ladder.json`;
  * SCALE.md carries the table.
  *
  * Method notes, so the numbers are read honestly:
  *  - the x-axis is the family's driver-table ROWS at each point, not
  *    the sf label — documents hold 500 rows at BOTH sf0.001 and
  *    sf0.01 (then 5000 at sf0.1) and embeddings 500/500/2000, so a
  *    DERIVED mid point (deterministic subsample of sf0.1: doc_id%10<3
  *    → 1500 docs, vec_id%2=0 → 1000 vectors, built once under
  *    fixtures/mid) gives doc/emb families THREE distinct sizes like
  *    lineitem's. Duplicate sizes keep the min time (same workload
  *    measured twice).
  *  - the fitted exponent is ln(t_hi/t_lo)/ln(n_hi/n_lo) over the two
  *    LARGEST distinct sizes — the pair least polluted by fixed
  *    per-query overhead (scheduler + plan time, ~0.1-0.3 s), which
  *    deflates small-sf denominators and makes the fit CONSERVATIVE
  *    (a true quadratic still lands far above every cap: 10× rows →
  *    100× work swamps any constant floor). All three points are
  *    recorded so exponent stability across steps is inspectable.
  *  - caps are the claimed complexity plus slack for log factors and
  *    constant-floor distortion: 1.4 for map/join-shaped linear
  *    families, 1.6 for iterative families whose round count may grow
  *    with the data (label propagation, Lloyd-style loops).
  *
  * Usage: tools/run.sh graft.Ladder  (SPARK_GRAFT_CPUS to override
  * parallelism; the config is held FIXED across all points so the
  * exponent measures the algorithm, not the cluster).
  */
object Ladder {

  final case class Family(query: String, table: String, cap: Double,
      claim: String, warmDedup: Boolean = false, warmServe: Boolean = false)

  val families: Seq[Family] = Seq(
    Family("dedup_minhash_lsh", "documents", 1.4,
      "inverted shingle postings + band-bucket equi-join: O(N) + collisions"),
    Family("dedup_ngram_jaccard", "documents", 1.4,
      "posting-list intersection over df-capped shingles: O(N) + collisions"),
    Family("dedup_connected_components", "documents", 1.6,
      "min-label propagation: O(E x diameter) with per-round checkpoint"),
    Family("dedup_incremental_minhash", "documents", 1.4,
      "delta x corpus asymmetric banding (delta grows with sf here): O(delta + collisions)",
      warmDedup = true),
    Family("dedup_substring_spans", "documents", 1.4,
      "positional 8-gram inverted index + per-doc span stitching: O(tokens)"),
    Family("dedup_index_update", "documents", 1.4,
      "daily-ingest LSM update against the warm-cached bootstrap: delta " +
        "signatures + asymmetric delta x visible-postings band join, " +
        "O(delta + collisions); the r15 rewrite reads state with " +
        "explicit schemas and folds the single-use affected frame into " +
        "recompute, so the wall is delta-bound, not barrier-bound",
      warmDedup = true),
    Family("dedup_survivors_quality", "documents", 1.6,
      "MinHash verified pairs -> min-label propagation (O(E x diameter), " +
        "per-round checkpoint) -> one argmax-quality window per cluster " +
        "over the cluster-keyed shuffle the join already paid: " +
        "O(N + E x diameter)"),
    Family("dedup_semantic_kmeans", "embeddings", 1.6,
      "K = N/100 seeds keep cell size ~constant, so the cell self-join " +
        "is O(N x cell); the top-1 assignment scans N x K and is the " +
        "known super-linear term a deployment caps with fixed K or a " +
        "coarse-quantizer hierarchy"),
    Family("simsearch_knn_graph", "embeddings", 1.4,
      "SRP band-collision candidates + per-node top-k: O(N + collisions)"),
    Family("simsearch_knn_refine", "embeddings", 1.4,
      "one NN-descent round: degree-bounded 2-hop self-join, O(edges)"),
    Family("emb_pca_top_component", "embeddings", 1.35,
      "3 power steps, each one dim-keyed decimal aggregate: O(N x dim)"),
    Family("emb_isotropy_report", "embeddings", 1.35,
      "sum-vector identity: O(N x dim) for a naively O(N^2 x dim) statistic"),
    Family("text_bpe_merges", "documents", 1.4,
      "pair-count iterations over the token corpus: O(tokens x merges)"),
    Family("text_bpe_encode", "documents", 1.4,
      "longest-match encoding with broadcast vocab: O(tokens)"),
    Family("graph_pagerank", "lineitem", 1.5,
      "5 damped rounds, each one edge-keyed aggregate: O(E x rounds)"),
    Family("curation_leakage_safe_split", "documents", 1.6,
      "verified pairs -> connected components -> one draw per cluster"),
    Family("simsearch_graph_route", "embeddings", 1.6,
      "serve over the warm-cached refined graph (build + knee " +
        "measurement attributed to warm state like the dedup " +
        "bootstrap); per-query cost is constant PER HOP, but the " +
        "unrolled depth is the knee pinned in meta (~log N: measured " +
        "1 hop at 500, 2 at 1000, 3 at 2000) and the % 97 query count " +
        "is ~ N, so time is O(N x knee(N)) — the iterative tier, with " +
        "one-time exponent steps whenever a fixture crosses a knee " +
        "increment (the r12 dial engaging, not a scan regression)",
      warmServe = true),
    Family("graph_link_prediction", "embeddings", 1.4,
      "wedge join over the materialized k-NN edge list: O(N x deg^2)"),
    Family("curation_ngram_decontam_spans", "documents", 1.4,
      "benchmark 13-gram keys broadcast against train positional grams: " +
        "O(tokens) probe, spans stitched over hits only"),
    Family("st17_streaming_ann_append", "embeddings", 1.4,
      "warm-cached quantizer + bootstrap append (copied in as staged " +
        "input) + 2 idempotent tagged appends, each one broadcast " +
        "assign + a write touching only its own partitions: O(batch) " +
        "per batch"),
    Family("st18_streaming_text_index", "documents", 1.4,
      "warm-cached bootstrap postings (copied in as staged input) + 2 " +
        "idempotent postings appends + additive stats rows: O(tokens) " +
        "per batch; serve prunes to query-term buckets"),
    Family("st20_streaming_dedup_index", "documents", 1.4,
      "bootstrap third + 2 O(delta) LSM updates via batch-id versioned " +
        "foreachBatch: delta postings written, asymmetric band join"),
    Family("st21_streaming_knn_graph", "embeddings", 1.4,
      "warm-cached bootstrap third (copied in as staged input) + 2 " +
        "edge-list updates via batch-id versioned foreachBatch: delta x " +
        "visible-postings band join, re-rank bounded by the delta's " +
        "collision neighborhood"),
    Family("simsearch_beam_curve", "embeddings", 1.4,
      "5 arms sharing one entry scan + one brute truth over the FIXED " +
        "32-query eval panel (O(N x panel)); every hop is a constant- " +
        "size broadcast joined against the warm-cached serve edge list",
      warmServe = true),
    Family("simsearch_hop_curve", "embeddings", 1.4,
      "one depth-4 walk, each depth a prefix of the next; truth " +
        "O(N x panel) on the fixed eval panel, hops constant-cost",
      warmServe = true),
    Family("simsearch_depth_retrain_decision", "embeddings", 1.6,
      "one serve-graph build over the 2x-grown corpus (SRP band " +
        "candidates + one diversified refine round, O(N + collisions)) " +
        "+ one knee walk (O(N x panel) truth on the fixed eval panel, " +
        "constant-cost hops per depth); the base knee reads the pinned " +
        "meta, never a rebuild — the iterative tier, since the grown " +
        "walk's depth schedule is the knee(N) dial engaging",
      warmServe = true),
    Family("simsearch_band_retrain_decision", "embeddings", 1.4,
      "two band-population scans (base and 2x-grown corpus) under the " +
        "pinned plane family: O(N x bands) explode + one (band, bkt) " +
        "count aggregate each; the decision compares two scalar " +
        "means — no pair join, no re-band"),
    Family("mm_image_phash", "documents", 1.4,
      "input pinned to doc_id < 100 synthesized BMPs on every fixture, " +
        "so the exponent pins per-image constancy; the scale mechanism " +
        "is the banded Hamming join (4 nibble bands), never all pairs"))

  /** Build the derived mid fixture (deterministic subsample of sf0.1)
    * once; a rebuild overwrites with identical bytes-in-rows, so the
    * ladder is reproducible from a clean checkout.
    */
  private def ensureMid(spark: SparkSession, base: String, mid: String): Unit = {
    // both outputs must be COMPLETE (Spark's _SUCCESS marker) before the
    // rebuild is skipped — a crash between the two writes must not leave
    // a half-built mid dir that later runs treat as done
    val complete = Seq("documents", "embeddings").forall(t =>
      Files.exists(Paths.get(s"$mid/$t.parquet/_SUCCESS")))
    if (!complete) {
      spark.read.parquet(s"$base/sf0.1/documents.parquet")
        .filter("doc_id % 10 < 3")
        .write.mode("overwrite").parquet(s"$mid/documents.parquet")
      spark.read.parquet(s"$base/sf0.1/embeddings.parquet")
        .filter("vec_id % 2 = 0")
        .write.mode("overwrite").parquet(s"$mid/embeddings.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(8)
    val base = sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata")
    val mid = sys.env.getOrElse("SPARK_GRAFT_MID_DIR", "fixtures/mid")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_LADDER_OUT", "scale_ladder.json")
    // dev-loop filter: SPARK_GRAFT_LADDER_ONLY=f1,f2 measures just those
    // families (the committed scale_ladder.json always comes from a FULL
    // run — a filtered run's output is for margin investigation)
    val only = sys.env.get("SPARK_GRAFT_LADDER_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd family name must fail fast, not silently measure nothing
    // and overwrite the committed artifact with an empty run
    only.foreach { names =>
      val known = Ladder.families.map(_.query).toSet
      val unknown = names.diff(known)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_LADDER_ONLY names unknown families: " +
          s"${unknown.mkString(", ")} (known: ${known.toSeq.sorted.mkString(", ")})")
      // a filtered run writes a PARTIAL families map — defaulting it to
      // the committed artifact's path would silently overwrite the full
      // run, so a filtered run must name its own output explicitly
      require(sys.env.contains("SPARK_GRAFT_LADDER_OUT"),
        "SPARK_GRAFT_LADDER_ONLY is set but SPARK_GRAFT_LADDER_OUT is " +
          s"not — a filtered run would overwrite $outPath with a " +
          "partial families map; point SPARK_GRAFT_LADDER_OUT at a " +
          "scratch path")
    }
    val families = Ladder.families.filter(f => only.forall(_(f.query)))
    val spark = GraftSession.build(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")
    ensureMid(spark, base, mid)
    // JIT/codegen warm-up only — a warm-up failure must not mask the
    // real run, but fatal errors (OOM, linkage) still propagate
    try SparkEntry.entry(spark).count()
    catch { case scala.util.control.NonFatal(_) => }

    // the fixture ladder: lineitem families have three real sf points;
    // doc/emb families add the derived mid subsample as a third
    // distinct size
    val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"$base/$sf")
    def dirsFor(f: Family): Seq[String] =
      if (f.table == "lineitem") sfDirs
      else sfDirs.take(2) ++ Seq(mid) :+ sfDirs.last

    // rows per (dir, table) — the x-axis
    val rows: Map[(String, String), Long] = (for {
      f <- families; dir <- dirsFor(f)
    } yield (dir, f.table)).distinct.map { case (dir, t) =>
      (dir, t) -> spark.read.parquet(s"$dir/$t.parquet").count()
    }.toMap

    // timings: min of 2, shared dedup state warmed OUTSIDE the timing
    val secs = scala.collection.mutable.Map.empty[(String, String), Double]
    val allDirs = families.flatMap(dirsFor).distinct
    for (dir <- allDirs) {
      if (families.exists(f => f.warmDedup && dirsFor(f).contains(dir)))
        queries.Dedup.warmSharedState(spark, dir)
      if (families.exists(f => f.warmServe && dirsFor(f).contains(dir)))
        queries.SimilaritySearch.warmServeGraph(spark, dir)
      // boot states the st20/st21 maintenance queries consume are shared
      // per-corpus builds (WarmCache) — warm them like the dedup state so
      // the exponent measures the maintenance, not a one-off build
      if (families.exists(f => f.query == "st20_streaming_dedup_index" &&
          dirsFor(f).contains(dir)))
        queries.StreamingQueries.st20BootstrapDir(spark, dir)
      if (families.exists(f => f.query == "st21_streaming_knn_graph" &&
          dirsFor(f).contains(dir)))
        queries.StreamingQueries.st21BootstrapDir(spark, dir)
      if (families.exists(f => f.query == "st17_streaming_ann_append" &&
          dirsFor(f).contains(dir)))
        queries.StreamingQueries.st17BootstrapDir(spark, dir)
      if (families.exists(f => f.query == "st18_streaming_text_index" &&
          dirsFor(f).contains(dir)))
        queries.StreamingQueries.st18BootstrapDir(spark, dir)
      for (f <- families if dirsFor(f).contains(dir)) {
        def once(): Double = {
          val t0 = System.nanoTime()
          queries.Registry.queries(f.query)(spark, dir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache(); Caching.flush()
          dt
        }
        secs((dir, f.query)) = math.min(once(), once())
        println(f"[ladder] $dir ${f.query}%-32s ${secs((dir, f.query))}%.3f s")
      }
    }

    def r3(d: Double): String = f"$d%.3f"
    val results = families.map { f =>
      // collapse duplicate sizes to the min time, then fit on the two
      // largest distinct sizes
      val pts = dirsFor(f).map(dir => (rows((dir, f.table)), secs((dir, f.query))))
        .groupBy(_._1).view.mapValues(_.map(_._2).min).toSeq.sortBy(_._1)
      val Seq((nLo, tLo), (nHi, tHi)) = pts.takeRight(2)
      val exp = math.log(tHi / tLo) / math.log(nHi.toDouble / nLo)
      val ok = exp <= f.cap
      val ptsJson = pts.map { case (n, t) => s"""{"rows":$n,"sec":${r3(t)}}""" }
        .mkString("[", ",", "]")
      (f, exp, ok,
        s"""\"${f.query}\":{"table":"${f.table}","points":$ptsJson,""" +
          s""""exponent":${r3(exp)},"cap":${f.cap},"ok":$ok,""" +
          s""""claim":"${f.claim}"}""")
    }
    val violations = results.collect { case (f, exp, false, _) =>
      s"${f.query}: exponent ${r3(exp)} > cap ${f.cap}"
    }
    val json = s"""{"dirs":${allDirs.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""cpus":$cpus,"families":{${results.map(_._4).mkString(",")}},""" +
      s""""violations":${violations.map(v => "\"" + v + "\"").mkString("[", ",", "]")}}"""
    Files.write(Paths.get(outPath), json.getBytes(StandardCharsets.UTF_8))
    results.foreach { case (f, exp, ok, _) =>
      println(f"[ladder] ${f.query}%-32s exponent ${r3(exp)}%s cap ${f.cap}%s " +
        (if (ok) "OK" else "VIOLATED"))
    }
    spark.stop()
    if (violations.nonEmpty) {
      violations.foreach(v => System.err.println(s"[ladder] SCALING VIOLATION: $v"))
      sys.exit(1)
    }
  }
}
