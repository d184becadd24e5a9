package graft.queries

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions

/** Streaming-maintained k-NN graph — the FOURTH durable-state
  * subsystem the library keeps fresh under a document/embedding feed
  * (after the IVF posting index, the BM25 inverted index, and the LSM
  * MinHash dedup index): the degree-k edge list that graph-based ANN
  * serving (simsearch_graph_route), NN-descent refinement, label
  * propagation, and link prediction all read. Rebuilding it per batch
  * is O(N·collisions); this index makes each append O(delta's
  * collision neighborhood).
  *
  * State layout under `root`:
  * {{{
  *   meta.json              (planes, k)      — pinned at bootstrap
  *   vec/ingest=<tag>/      (vec_id, embedding, nrm)
  *   post/ingest=<tag>/     (vec_id, band, bkt)
  *   <edges dirs>           (src, rk, dst, cos) — st20's version chain
  * }}}
  *
  * vec/post are append-only FACTS written through dynamic partition
  * overwrite (st17's idempotency: a replayed tag replaces its own
  * partitions, never duplicates). The edge list is NOT append-only —
  * an arriving vector can displace an old node's rank-k edge — so it
  * rides st20's batch-id version chain: each batch derives its edges
  * from the newest version with a smaller batch id and OVERWRITES its
  * own directory on replay.
  *
  * Incremental == from-scratch BY CONSTRUCTION: SRP banding is a
  * deterministic per-vector map, so candidate pair (i, j) is
  * discovered exactly once — when the later of the two arrives (the
  * delta-postings ⋈ accumulated-postings equi-join) — and per-node
  * top-k is an associatively foldable summary:
  * top-k(old top-k ∪ new candidates) = top-k(all candidates), the
  * TopKAgg/min-k law. KnnGraphSpec pins the equality against
  * [[SimilaritySearch.edgesOver]] on the full corpus.
  *
  * The band family (plane count) is pinned at bootstrap exactly like
  * the IVF quantizer's centroids: appends never move it (moving it
  * would silently re-band history), and re-pinning it for a grown
  * corpus is the retrain decision's loop
  * (simsearch_ivf_retrain_decision), costing one rebuild.
  */
object KnnGraphIndex {

  final case class Meta(planes: Int, k: Int)

  private def writeMeta(root: String, m: Meta): Unit = {
    Files.createDirectories(Paths.get(root))
    Files.write(Paths.get(s"$root/meta.json"),
      s"""{"planes":${m.planes},"k":${m.k}}"""
        .getBytes(StandardCharsets.UTF_8))
  }

  def metaOf(root: String): Meta = {
    val txt = new String(Files.readAllBytes(Paths.get(s"$root/meta.json")),
      StandardCharsets.UTF_8)
    def f(name: String): Int =
      s""""$name":(\\d+)""".r.findFirstMatchIn(txt).get.group(1).toInt
    Meta(f("planes"), f("k"))
  }

  private def withNorm(delta: DataFrame): DataFrame =
    delta.select(col("vec_id"), col("embedding"),
      expr("norm_f(embedding)").as("nrm"))

  private def banded(vecs: DataFrame, planes: Int): DataFrame =
    vecs.select(col("vec_id"),
      posexplode(expr(s"srp_buckets_p(embedding, $planes)"))
        .as(Seq("band", "bkt")))

  /** From-scratch build over `delta` (the initial corpus slice): pins
    * the band family in meta, lands the facts under ingest=<tag>, and
    * writes the degree-k edge list to `edgesDir`.
    */
  def bootstrap(s: SparkSession, delta: DataFrame, root: String,
      tag: String, edgesDir: String, planes: Int = VectorExpressions.SrpPlanes,
      k: Int = 3): Unit = {
    require(!tag.matches("b\\d+"),
      s"bootstrap tag must not look like a batch id (got '$tag') — " +
        "update's visibility rule would scope it out of earlier batches' " +
        "candidate sets instead of ranking it -1 (visible to all)")
    writeMeta(root, Meta(planes, k))
    val vecs = withNorm(delta)
    StateStore.appendTagged(s, vecs, s"$root/vec", tag)
    StateStore.appendTagged(s, banded(vecs, planes), s"$root/post", tag)
    SimilaritySearch.edgesOver(s.read.parquet(s"$root/vec")
        .select("vec_id", "embedding", "nrm"), planes, k)
      .write.mode("overwrite").parquet(edgesDir)
  }

  /** Fold one appended batch into the graph: facts land idempotently
    * under ingest=<tag>, then the new edge list derives from
    * `parentEdges` + ONLY the candidate pairs the delta's band
    * collisions introduce. Per-batch cost ∝ |delta| + its collision
    * neighborhood — the parent rows of UNAFFECTED nodes pass through
    * untouched (anti-join), never re-ranked, so the graph is never
    * rebuilt. Parameters come from meta, never the caller (the
    * DedupIndex rule: a family mismatch would silently band the delta
    * under another geometry).
    */
  def update(s: SparkSession, delta: DataFrame, root: String, tag: String,
      parentEdges: String, outEdges: String): Unit = {
    require(tag.matches("b\\d+"),
      s"update tag must be b<batchId> (got '$tag') — the numeric id is " +
        "what scopes fact visibility on replay")
    val myId = tag.stripPrefix("b").toLong
    val m = metaOf(root)
    // Fact visibility is scoped BY BATCH ID, not by what exists on
    // disk: a crash-redelivered batch must recompute against exactly
    // the facts its original run saw, and by redelivery time LATER
    // batches' ingest partitions already exist (the spec's b1-replay-
    // after-b2 scenario — unscoped, the replay gained b2's candidate
    // pairs and rewrote history). Bootstrap tags (non-b<id>) rank -1,
    // so every batch sees them.
    val visId = StateStore.visibleBatchId
    // A vec_id already ingested by an EARLIER batch (or the bootstrap)
    // is dropped from the delta: a cross-batch duplicate delivery would
    // otherwise land the same id under two ingest partitions,
    // multiplying its rows in every allVec join and occupying multiple
    // ranks per neighbor list — first arrival wins, matching the
    // from-scratch build over distinct ids. Same-batch replay is
    // untouched (visId == myId is not < myId), so a redelivered tag
    // still overwrites its own partitions in full.
    val priorIds = s.read.parquet(s"$root/vec")
      .filter(visId < myId).select("vec_id")
    val vecs = withNorm(delta).join(priorIds, Seq("vec_id"), "left_anti")
    StateStore.appendTagged(s, vecs, s"$root/vec", tag)
    StateStore.appendTagged(s, banded(vecs, m.planes), s"$root/post", tag)
    val allPost = s.read.parquet(s"$root/post")
      .filter(visId <= myId)
      .select("vec_id", "band", "bkt")
    val deltaPost = s.read.parquet(s"$root/post")
      .filter(col("ingest") === tag).select("vec_id", "band", "bkt")
    // candidates TOUCHING the delta: this tag's postings against the
    // visible accumulated postings (which include this tag, so
    // delta×delta pairs surface too); i <> j, normalized to i < j,
    // distinct across bands. A pair with both ends pre-existing is
    // never rediscovered (neither end is in the delta) — that is what
    // makes the fold's union with the parent edges duplicate-free.
    val cand = deltaPost.select(col("vec_id").as("a"), col("band"),
        col("bkt"))
      .join(allPost.select(col("vec_id").as("b"), col("band"), col("bkt")),
        Seq("band", "bkt"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("i"),
        greatest(col("a"), col("b")).as("j"))
      .distinct()
    val allVec = s.read.parquet(s"$root/vec")
      .filter(visId <= myId)
      .select("vec_id", "embedding", "nrm")
    val scored = cand
      .join(allVec.select(col("vec_id").as("i"), col("embedding").as("e_a"),
        col("nrm").as("n_a")), "i")
      .join(allVec.select(col("vec_id").as("j"), col("embedding").as("e_b"),
        col("nrm").as("n_b")), "j")
      .withColumn("cos",
        round(expr("dot_f(e_a, e_b)") / (col("n_a") * col("n_b")), 6))
      .select("i", "j", "cos")
    val newDirected = scored
      .select(explode(array(
        struct(col("i").as("src"), col("j").as("dst"), col("cos")),
        struct(col("j").as("src"), col("i").as("dst"), col("cos"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.cos").as("cos"))

    val parent = s.read.parquet(parentEdges)
    val affected = newDirected.select("src").distinct()
    val keep = parent.join(affected, Seq("src"), "left_anti")
    val w = Window.partitionBy("src")
      .orderBy(col("cos").desc, col("dst").asc)
    val reranked = parent.join(affected, Seq("src"), "left_semi")
      .select("src", "dst", "cos")
      .unionByName(newDirected)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= m.k)
      .select(col("src"), col("rk"), col("dst"), col("cos"))
    keep.select("src", "rk", "dst", "cos").unionByName(reranked)
      .write.mode("overwrite").parquet(outEdges)
  }
}
