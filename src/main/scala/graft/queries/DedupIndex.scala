package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructField, StructType}

import graft.Caching

/** Persistent MinHash near-dup index — the reference's incremental
  * contract (tanimoto.py:28-58 keeps a durable `used_input_files` state
  * so a daily run only processes new inputs) re-expressed as parquet
  * state tables with LSM-style batch lineage:
  *
  *  - `rawpost/` (doc_id, sh, h) — raw hashed postings, the output of
  *    the only text-processing stage ([[Dedup.rawPostings]]). Stored as
  *    ONE IMMUTABLE BATCH PER UPDATE: an update writes only the delta's
  *    postings and links the parent batches through `meta/`, so state
  *    write volume is O(delta), never O(corpus) — at 100 TB, rewriting
  *    the posting set per daily batch would dwarf the query itself.
  *  - `df/`      (sh, df)        — shingle document frequencies, also
  *    one batch per update; frequencies are mergeable by summation, so
  *    the current table is a groupBy-sum over the lineage at read time.
  *  - `sig/`     (doc_id, th, n, m0..m7) — MinHash signatures + set
  *    sizes + a content hash (`th`) for the append-only audit. Written
  *    in full each update (one compact row per doc — the small table);
  *    mostly-unchanged rows carry over relationally.
  *  - `meta/`    (df_cap, raw_dirs, df_dirs) — the parameters the index
  *    was built with plus the batch lineage. [[update]] reads them
  *    back, so two state versions can never mix signatures computed
  *    under different caps, and a state version is self-describing.
  *
  * Reads over a long lineage re-aggregate `df/` per update; [[compact]]
  * folds the lineage back into single batches (run it every K updates,
  * the standard LSM compaction trade).
  *
  * [[update]] shingles ONLY documents not yet in the index; everything
  * else is relational algebra over the persisted tables, restricted to
  * delta-proportional subsets: signatures are recomputed only for
  * delta ∪ cap-flip-affected docs, candidate pairs come from an
  * asymmetric delta×corpus band join ([[Dedup.bucketPairsAgainst]] —
  * existing×existing pairs are never even generated), and verification
  * postings are restricted to docs actually appearing in a candidate
  * pair. Results are IDENTICAL to a from-scratch run: the summed df
  * lineage equals the full-corpus df, and documents whose df-cap/rescue
  * status changed because the delta pushed a shingle across
  * [[Dedup.DfCap]] are detected (the `flipped` set) and re-signed along
  * with the delta — the index never serves a stale signature.
  *
  * Each update WRITES NEW FILES ONLY (a new batch dir + a new sig/meta
  * version): safe on object stores (no read-modify-write races, atomic
  * adoption by switching a pointer, trivial rollback), and the previous
  * version remains readable for audits.
  *
  * THE CORPUS CONTRACT IS APPEND-ONLY — the reference's
  * used_input_files semantics (tanimoto.py:28-58): a doc_id, once
  * indexed, is immutable, and deletions are not reflected. A doc_id
  * reused with DIFFERENT text is out of contract: [[update]] would keep
  * serving the original signature. [[assertAppendOnly]] audits exactly
  * that (content hashes are stored per doc), so a pipeline that cannot
  * guarantee immutability upstream can fail loudly instead of serving
  * stale pairs.
  */
object DedupIndex {

  // Explicit schemas for every state read (r15): a schema-less
  // s.read.parquet runs footer schema inference per call, and one
  // update reads state tables 7+ times - on a KB-scale delta chain of
  // ~50 micro-jobs those inference passes are pure per-job overhead.
  // The schemas are the ones bootstrap/update write, pinned here so a
  // drift fails loudly at read time instead of silently re-inferring.
  private val SigSchema = StructType(
    StructField("doc_id", LongType) +: StructField("n", LongType) +:
      (0 until 8).map(i => StructField(s"m$i", LongType)) :+
      StructField("th", LongType))
  private val RawSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("sh", StringType),
    StructField("h", LongType)))
  private val DfSchema = StructType(Seq(
    StructField("sh", StringType), StructField("df", LongType)))
  private val MetaSchema = StructType(Seq(
    StructField("df_cap", IntegerType),
    StructField("raw_dirs", ArrayType(StringType)),
    StructField("df_dirs", ArrayType(StringType))))
  private def readSig(s: SparkSession, dir: String): DataFrame =
    s.read.schema(SigSchema).parquet(dir)
  private def readRaw(s: SparkSession, dirs: Seq[String]): DataFrame =
    s.read.schema(RawSchema).parquet(dirs: _*)
  private def readDf(s: SparkSession, dirs: Seq[String]): DataFrame =
    s.read.schema(DfSchema).parquet(dirs: _*)

  /** What an [[update]] actually did — the delta-proportionality
    * evidence: `nSigsRecomputed == nDelta + nAffected`, where
    * nAffected counts previously-indexed docs whose cap status a
    * flipped shingle changed (zero on a typical day).
    */
  case class UpdateMetrics(nDelta: Long, nAffected: Long, nSigsRecomputed: Long)

  /** `metrics` is LAZY (r14): the declared queries consume only
    * `pairs`, and the two id-set counts were two eager jobs on every
    * update — including inside st20's streaming drains. The counts are
    * computed on first access (the spec path); the id-set frames'
    * lineage survives release, so a late read just recomputes them.
    *
    * `pairs` may also be lazy (r15, `needPairs = false`): st20's
    * streaming maintenance and the warm full-state build consume only
    * the persisted state and discarded the result — yet paid the
    * candidate band join and the restricted-postings materialization
    * eagerly on every update. With needPairs=false those stages run
    * only on first `pairs` access (same result, built from the
    * un-materialized lineage).
    */
  final class UpdateResult(pairsF: () => DataFrame,
      metricsF: () => UpdateMetrics) {
    lazy val pairs: DataFrame = pairsF()
    lazy val metrics: UpdateMetrics = metricsF()
  }

  case class Meta(dfCap: Int, rawDirs: Seq[String], dfDirs: Seq[String])

  /** Content hash stored per indexed doc — the append-only audit key. */
  private def contentHash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), xxhash64(col("text")).as("th"))

  private def writeMeta(s: SparkSession, stateDir: String, m: Meta): Unit = {
    import s.implicits._
    Seq((m.dfCap, m.rawDirs, m.dfDirs))
      .toDF("df_cap", "raw_dirs", "df_dirs").coalesce(1)
      .write.mode("overwrite").parquet(s"$stateDir/meta")
  }

  def metaOf(s: SparkSession, stateDir: String): Meta = {
    val r = s.read.schema(MetaSchema).parquet(s"$stateDir/meta").head()
    // array columns come back as mutable.ArraySeq in 2.13 — convert
    Meta(r.getAs[Int]("df_cap"),
      r.getAs[scala.collection.Seq[String]]("raw_dirs").toSeq,
      r.getAs[scala.collection.Seq[String]]("df_dirs").toSeq)
  }

  /** The dfCap a state version was built with — every [[update]] reads
    * it back instead of trusting a caller-supplied value.
    */
  def dfCapOf(s: SparkSession, stateDir: String): Int = metaOf(s, stateDir).dfCap

  /** All raw postings of a state version — the batch lineage unioned
    * (a multi-path parquet scan; no data is copied to serve it).
    */
  def rawAll(s: SparkSession, stateDir: String): DataFrame =
    readRaw(s, metaOf(s, stateDir).rawDirs)

  /** Current shingle document frequencies — lineage batches summed. */
  def dfAll(s: SparkSession, stateDir: String): DataFrame =
    readDf(s, metaOf(s, stateDir).dfDirs)
      .groupBy("sh").agg(sum("df").as("df"))

  /** Full build of the index state for `docs` (doc_id, text) under
    * `stateDir` — run once, then [[update]] per batch.
    */
  def bootstrap(s: SparkSession, docs: DataFrame, stateDir: String,
      dfCap: Int = Dedup.DfCap): Unit = {
    Dedup.rawPostings(docs)
      .write.mode("overwrite").parquet(s"$stateDir/rawpost")
    // downstream stages derive from the durable copy, never re-shingle
    val raw = readRaw(s, Seq(s"$stateDir/rawpost"))
    Dedup.shingleDf(raw).write.mode("overwrite").parquet(s"$stateDir/df")
    val dfT = readDf(s, Seq(s"$stateDir/df"))
    Dedup.signatures(Dedup.cappedPostings(raw, dfT, dfCap))
      .join(contentHash(docs), Seq("doc_id"))
      .write.mode("overwrite").parquet(s"$stateDir/sig")
    writeMeta(s, stateDir,
      Meta(dfCap, Seq(s"$stateDir/rawpost"), Seq(s"$stateDir/df")))
  }

  /** Fold a long batch lineage back into single rawpost/df batches
    * under `outDir` (sig and cap carry over) — LSM compaction; run
    * every K updates so read-time df aggregation stays bounded.
    */
  def compact(s: SparkSession, inDir: String, outDir: String): Unit = {
    val m = metaOf(s, inDir)
    rawAll(s, inDir).write.mode("overwrite").parquet(s"$outDir/rawpost")
    dfAll(s, inDir).write.mode("overwrite").parquet(s"$outDir/df")
    readSig(s, s"$inDir/sig").write.mode("overwrite").parquet(s"$outDir/sig")
    writeMeta(s, outDir,
      Meta(m.dfCap, Seq(s"$outDir/rawpost"), Seq(s"$outDir/df")))
  }

  /** What a [[purge]] did: docs removed, previously-indexed docs whose
    * signatures went stale because a removal flipped a shingle back
    * under the df cap, and signatures recomputed (= nAffected; purge
    * adds nothing).
    */
  case class PurgeMetrics(nPurged: Long, nAffected: Long, nSigsRecomputed: Long)

  /** Takedown propagation (right-to-be-forgotten): remove `tombstones`
    * (doc_id) from the index, writing a fully-compacted state to
    * `outDir`. The one operation the append-only contract excludes from
    * [[update]] gets its own explicit verb, because deletions are a
    * compliance event, not an ingest event:
    *
    *  - postings and signatures of tombstoned docs are dropped;
    *  - df decrements MERGEABLY (the dead docs' own shingle counts are
    *    subtracted — no rescan of surviving postings);
    *  - shingles whose hot status flips BACK under the cap re-sign the
    *    surviving docs that carry them (the mirror image of [[update]]'s
    *    upward flip) — purged == bootstrap(remaining), always;
    *  - the rewrite doubles as compaction: the new state has a
    *    single-batch lineage.
    *
    * Unlike update, purge rewrites the posting set — O(corpus) I/O.
    * That is inherent (the bytes must physically leave storage for a
    * takedown) and is why purges batch daily/weekly while updates run
    * per-ingest.
    */
  def purge(s: SparkSession, tombstones: DataFrame, inDir: String,
      outDir: String): PurgeMetrics = {
    val meta = metaOf(s, inDir)
    val dfCap = meta.dfCap
    val oldSig = readSig(s, s"$inDir/sig")
    val raw = readRaw(s, meta.rawDirs)
    val dead = Caching.materialize(s, tombstones.select("doc_id").distinct())

    raw.join(dead, Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$outDir/rawpost")
    val keptRaw = readRaw(s, Seq(s"$outDir/rawpost"))

    // df decrement from the dead docs' own postings — mergeable, like
    // update's increment; shingles that reach zero leave the table
    val dfDead = Dedup.shingleDf(raw.join(dead, Seq("doc_id"), "left_semi"))
      .select(col("sh"), col("df").as("df_dead"))
    val dfOld = readDf(s, meta.dfDirs)
      .groupBy("sh").agg(sum("df").as("df_old"))
    val merged = Caching.materialize(s, dfOld
      .join(dfDead, Seq("sh"), "left")
      .select(col("sh"), col("df_old"),
        (col("df_old") - coalesce(col("df_dead"), lit(0L))).as("df")))
    merged.filter(col("df") > 0).select("sh", "df")
      .write.mode("overwrite").parquet(s"$outDir/df")
    val dfT = readDf(s, Seq(s"$outDir/df"))

    // downward cap flips: surviving docs carrying a shingle that just
    // became cold have stale (df-capped) signatures
    val flipped = merged
      .filter((col("df_old") > dfCap) =!= (col("df") > dfCap)).select("sh")
    val affected = Caching.materialize(s,
      keptRaw.join(flipped, Seq("sh")).select("doc_id").distinct())

    val rawRe = keptRaw.join(affected, Seq("doc_id"), "left_semi")
    // content is unchanged by a purge — re-signed docs keep their th
    val sigRe = Dedup.signatures(Dedup.cappedPostings(rawRe, dfT, dfCap))
      .join(oldSig.select(col("doc_id"), col("th")), Seq("doc_id"))
    val sigCols = oldSig.columns.map(col)
    oldSig.join(dead, Seq("doc_id"), "left_anti")
      .join(affected, Seq("doc_id"), "left_anti").select(sigCols: _*)
      .union(sigRe.select(sigCols: _*))
      .write.mode("overwrite").parquet(s"$outDir/sig")
    writeMeta(s, outDir,
      Meta(dfCap, Seq(s"$outDir/rawpost"), Seq(s"$outDir/df")))

    val m = PurgeMetrics(
      nPurged = dead.count(),
      nAffected = affected.count(),
      nSigsRecomputed = affected.count())
    Seq(dead, merged, affected).foreach(Caching.release)
    m
  }

  /** Audit the append-only contract (class doc): throws if any indexed
    * doc_id's current text hash differs from the stored one — the
    * corpus mutated under the index and a [[bootstrap]] rebuild is
    * required. Column-pruned to (doc_id, text); no shingling.
    */
  def assertAppendOnly(s: SparkSession, docs: DataFrame, stateDir: String): Unit = {
    val changed = contentHash(docs)
      .join(readSig(s, s"$stateDir/sig")
        .select(col("doc_id"), col("th").as("th_indexed")), Seq("doc_id"))
      .filter(col("th") =!= col("th_indexed"))
    val n = changed.count()
    if (n > 0) throw new IllegalStateException(
      s"append-only contract violated: $n indexed doc_ids have changed " +
        "content; the index would serve stale signatures — rebootstrap")
  }

  /** Incremental update: fold the APPENDED documents of `docs`
    * (doc_id, text) into the index at `inDir` — doc_ids already indexed
    * are assumed immutable and deletions unreflected (the append-only
    * contract, class doc; audit with [[assertAppendOnly]]) — writing
    * the new state to `outDir`, and return the verified near-dup pairs
    * that TOUCH the recomputed set (delta ∪ flipped-affected) —
    * existing×existing pairs were emitted by previous runs and are
    * never re-verified (nor generated: class doc).
    */
  def update(s: SparkSession, docs: DataFrame, inDir: String,
      outDir: String, needPairs: Boolean = true): UpdateResult = {
    // Parameters come from the state itself, never the caller: a cap
    // mismatch would silently serve signatures built under another cap.
    val meta = metaOf(s, inDir)
    val dfCap = meta.dfCap
    val oldSig = readSig(s, s"$inDir/sig")

    // The durable used-set: anything already signed is never re-read.
    val indexed = oldSig.select("doc_id")
    val delta = docs.join(indexed, Seq("doc_id"), "left_anti")

    // The ONLY text processing of the whole update — and, with sig, the
    // only state WRITES: the new postings/df batches hold the delta
    // alone and join the lineage through meta.
    Dedup.rawPostings(delta)
      .write.mode("overwrite").parquet(s"$outDir/rawpost")
    val deltaRaw = readRaw(s, Seq(s"$outDir/rawpost"))
    Dedup.shingleDf(deltaRaw).write.mode("overwrite").parquet(s"$outDir/df")
    val deltaDf = readDf(s, Seq(s"$outDir/df"))

    val rawDirs = meta.rawDirs :+ s"$outDir/rawpost"
    val dfDirs = meta.dfDirs :+ s"$outDir/df"
    val raw = readRaw(s, rawDirs)

    // df merges by summation — no rescan of old postings. Persisted:
    // the cap filter and the flip detection both read it.
    val dfOld = readDf(s, meta.dfDirs)
      .groupBy("sh").agg(sum("df").as("df_old"))
    // the *Plan frames are the un-materialized lineage: the lazy
    // metrics thunk (below) must survive the checkpoint release at the
    // end of this method, so it reads these, never the materialized
    // handles (a released localCheckpoint is unrecoverable by design)
    val mergedPlan = dfOld
      .join(deltaDf.select(col("sh"), col("df").as("df_delta")), Seq("sh"), "full")
      .select(col("sh"), coalesce(col("df_old"), lit(0L)).as("df_old"),
        (coalesce(col("df_old"), lit(0L)) + coalesce(col("df_delta"), lit(0L)))
          .as("df"))
    val merged = Caching.materialize(s, mergedPlan)
    val dfT = merged.select("sh", "df")

    // Shingles whose hot status the delta changed: every previously-
    // indexed doc carrying one has a stale signature (its kept/rescued
    // posting set changed) and must be re-signed — the correctness
    // guard that makes incremental == from-scratch.
    def flippedOver(m: DataFrame): DataFrame = m
      .filter((col("df_old") > dfCap) =!= (col("df") > dfCap)).select("sh")
    def affectedOver(m: DataFrame): DataFrame =
      raw.join(flippedOver(m), Seq("sh")).select("doc_id").distinct()
        .join(indexed, Seq("doc_id"), "left_semi")
    // `affected` has exactly ONE eager reference (recompute) — fold it
    // in instead of materializing separately (r15: one fewer checkpoint
    // job per update; the lazy metrics thunk reads affectedOver(mergedPlan),
    // never this frame)
    val recompute = Caching.materialize(s,
      affectedOver(merged).union(delta.select("doc_id")).distinct())

    // Sign ONLY the recomputed docs, over postings restricted FIRST —
    // the capped-postings rescue is per-doc, so restricting its input
    // to the recompute set is exact.
    val rawRe = raw.join(recompute, Seq("doc_id"), "left_semi")
    // content hashes: the batch supplies them for genuinely NEW docs;
    // re-signed pre-existing docs (cap flips) take theirs from the old
    // sig table — under the append-only contract the stored hash is
    // authoritative, and it means `docs` may be the DELTA ALONE (the
    // streaming ingest shape) rather than a full corpus snapshot
    val thAll = oldSig.select(col("doc_id"), col("th"))
      .unionByName(contentHash(docs)
        .join(indexed, Seq("doc_id"), "left_anti"))
    val sigRe = Dedup.signatures(Dedup.cappedPostings(rawRe, dfT, dfCap))
      .join(thAll, Seq("doc_id"))
    val sigCols = oldSig.columns.map(col)
    oldSig.join(recompute, Seq("doc_id"), "left_anti").select(sigCols: _*)
      .union(sigRe.select(sigCols: _*))
      .write.mode("overwrite").parquet(s"$outDir/sig")
    val sig = readSig(s, s"$outDir/sig")
    writeMeta(s, outDir, Meta(dfCap, rawDirs, dfDirs))

    // All three metrics come from the two id sets: affected ⊆ indexed
    // and delta ∩ indexed = ∅, so |delta| = |recompute| − |affected|;
    // and every recompute doc has postings, so sigRe has exactly one
    // row per recompute doc. Computed LAZILY on first .metrics access
    // (class doc) — the query path pays zero count jobs.
    val metricsF = () => {
      val affectedPlan = affectedOver(mergedPlan)
      val nAffected = affectedPlan.count()
      val nRecomputed = affectedPlan.union(delta.select("doc_id"))
        .distinct().count()
      UpdateMetrics(
        nDelta = nRecomputed - nAffected,
        nAffected = nAffected,
        nSigsRecomputed = nRecomputed)
    }

    // Candidates from the asymmetric band join: recomputed-side bands
    // against the full index — delta-proportional output, and
    // existing×existing pairs never exist to be filtered away.
    // Verification postings restricted to docs actually in a candidate
    // pair — the full-corpus capped-postings materialization was the
    // last corpus-scale stage of the update path.
    def pairsOver(recomp: DataFrame, dfTable: DataFrame,
        alsoRelease: Seq[DataFrame]): DataFrame = {
      val sigNew = sig.join(recomp, Seq("doc_id"), "left_semi")
      val touching = Caching.materialize(s, Dedup.bucketPairsAgainst(
        Dedup.bandKeys(sigNew), Dedup.bandKeys(sig)))
      val touched = touching.select(col("i").as("doc_id"))
        .union(touching.select(col("j").as("doc_id"))).distinct()
      val postRel = Caching.materialize(s, Dedup.cappedPostings(
        raw.join(touched, Seq("doc_id"), "left_semi"), dfTable, dfCap))
      Caching.releasing(s, Seq(postRel, touching) ++ alsoRelease: _*)(
        Dedup.verifyPairs(touching, postRel, sig))
    }
    if (needPairs) {
      new UpdateResult(() => pairsOver(recompute, dfT, Seq(recompute, merged)),
        metricsF)
    } else {
      // the state writes above were the checkpoints' only eager
      // readers — drop them now; a late `pairs` access rebuilds its own
      // recompute set from the un-materialized lineage (same frames the
      // lazy metrics read), so the result is identical either way
      Caching.release(recompute); Caching.release(merged)
      new UpdateResult(() => {
        val recompute2 = Caching.materialize(s,
          affectedOver(mergedPlan).union(delta.select("doc_id")).distinct())
        pairsOver(recompute2, mergedPlan.select("sh", "df"), Seq(recompute2))
      }, metricsF)
    }
  }
}
