package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persistent IVF ANN index — the similarity-search counterpart of
  * [[DedupIndex]]: quantizer training and corpus assignment happen ONCE
  * at build time and land in parquet state; queries read the state, so
  * serving cost never includes clustering the corpus.
  *
  *  - `cent/` (cent_id, c_emb, c_nrm) — the coarse quantizer
  *    ([[SimilaritySearch.kmeansCents]]: deterministic init + one Lloyd
  *    iteration, oracle-mirrored arithmetic). Tiny; broadcast at query
  *    time.
  *  - `vec/`  (vec_id, embedding, nrm) PARTITIONED BY cell — the IVF
  *    posting lists as partition directories. A query probing nprobe
  *    cells touches only those directories: partition pruning IS the
  *    inverted-file property, expressed in the storage layout instead
  *    of a bespoke file format.
  *
  * At 100 TB the build is one clustering pass + one cell-partitioned
  * write (both corpus-scale, both once); per-query cost is
  * nprobe × (cell size) — never |N| — and the state serves any number
  * of query batches. Rebuild when the corpus drifts from the quantizer
  * (the standard IVF retraining trade).
  */
object AnnIndex {

  /** Top-`nprobe` cell assignment of (vec_id, embedding, nrm, ...) rows
    * against a broadcast centroid set — shared by build (nprobe=1) and
    * query (the recall dial). Metadata columns beyond the vector triple
    * (e.g. a `label`) ride along untouched, so a build can persist them
    * into the cell partitions for filtered search.
    */
  def assignCells(df: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    val keep = df.columns.map(col).toSeq
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos_c").desc, col("cent_id").asc)
    df.crossJoin(broadcast(cents))
      .withColumn("cos_c",
        round(expr("dot_f(embedding, c_emb)") / (col("nrm") * col("c_nrm")), 6))
      .withColumn("rnc", row_number().over(w))
      .filter(col("rnc") <= nprobe)
      .select(keep :+ col("cent_id").as("cell"): _*)
  }

  /** Conf key bounding the quantizer size (centroid count). Everything
    * driver-side in this index — the probed/touched cell-id lists in
    * [[purge]] and the per-cell file census in [[compact]] — is O(K)
    * where K = centroid count, so K must stay driver-sized. The default
    * (1M cells × ~16 bytes/id ≈ 16 MB of driver lists) is far above any
    * sane IVF configuration; a build whose quantizer exceeds it fails
    * loudly instead of deferring the OOM to the first purge.
    */
  val MaxCellsKey = "spark.graft.ann.maxCells"
  val DefaultMaxCells = 1L << 20

  /** Train the quantizer on `train`, assign `vecs` to cells, persist
    * both under `stateDir`. The quantizer is pluggable: the DEFAULT is
    * the production [[SimilaritySearch.kmeansCentsAvg]] (plain `avg`,
    * multi-iteration — a partial-aggregating shuffle with no
    * per-(cell,dim) collect_list, safe at any corpus size); builds that
    * must match a bit-exact DuckDB oracle pass the single-Lloyd
    * [[SimilaritySearch.kmeansCents]] explicitly. Fails if the trained
    * quantizer exceeds [[MaxCellsKey]] cells (see there).
    */
  def build(s: SparkSession, train: DataFrame, vecs: DataFrame,
      stateDir: String,
      quantizer: DataFrame => DataFrame =
        e => SimilaritySearch.kmeansCentsAvg(e)): Unit = {
    quantizer(train)
      .write.mode("overwrite").parquet(s"$stateDir/cent")
    val cents = s.read.parquet(s"$stateDir/cent")
    val ncells = cents.count()
    val cap = s.conf.getOption(MaxCellsKey) match {
      case None => DefaultMaxCells
      case Some(v) => scala.util.Try(v.trim.toLong).getOrElse(
        throw new IllegalArgumentException(
          s"AnnIndex: $MaxCellsKey must be a cell count in plain digits, " +
            s"got '$v' (unset the conf for the default $DefaultMaxCells)"))
    }
    require(ncells <= cap,
      s"AnnIndex: quantizer produced $ncells cells > $MaxCellsKey=$cap; " +
        "driver-side cell lists (purge/compact) are O(cells) — use a " +
        "coarser quantizer or raise the conf deliberately")
    assignCells(vecs, cents, nprobe = 1)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$stateDir/vec")
  }

  /** Fold `newVecs` into the index WITHOUT retraining the quantizer:
    * assign against the persisted centroids and append into the cell
    * partitions — only the touched cell directories gain files, and
    * existing data is never rewritten (delta-proportional, like
    * [[DedupIndex.update]]). Queries pick the new vectors up
    * immediately. Retrain (a fresh [[build]]) when the corpus drifts
    * from the quantizer — appending cannot move centroids, the
    * standard IVF staleness trade.
    */
  def append(s: SparkSession, newVecs: DataFrame, stateDir: String): Unit = {
    val cents = s.read.parquet(s"$stateDir/cent")
    assignCells(newVecs, cents, nprobe = 1)
      .write.mode("append").partitionBy("cell").parquet(s"$stateDir/vec")
  }

  /** IDEMPOTENT tagged append — the streaming-ingest shape: like
    * [[append]], but the write lands under an `ingest=$tag` partition
    * level via DYNAMIC partition overwrite, so redelivering the same
    * batch (a foreachBatch retry after a mid-batch crash, or a whole
    * drain replayed from a checkpoint) REPLACES its own partitions
    * instead of duplicating them — exactly-once state from at-least-once
    * delivery, with the batch id as the natural tag. Partitions of other
    * tags are never touched (delta-proportional, like [[append]]); the
    * two-level `ingest/cell` layout keeps cell probing as partition
    * pruning ([[query]] filters on `cell` regardless of nesting). A
    * long-running stream compacts tags away periodically via
    * [[compact]]'s counterpart on the ingest level — or simply rebuilds,
    * per the retrain trade.
    */
  def appendBatch(s: SparkSession, newVecs: DataFrame, stateDir: String,
      tag: String): Unit = {
    val cents = s.read.parquet(s"$stateDir/cent")
    StateStore.appendTagged(s, assignCells(newVecs, cents, nprobe = 1),
      s"$stateDir/vec", tag, Seq("cell"))
  }

  case class PurgeStats(nPurged: Long, nCellsRewritten: Int, nCellsDeleted: Int)

  /** Takedown propagation for the vector index ([[DedupIndex.purge]]'s
    * counterpart): remove `tombstones` (vec_id) from the index state,
    * rewriting ONLY the cell partitions that contain a tombstoned
    * vector — at 100 TB a takedown touches a handful of cell
    * directories, never the corpus. Centroids are unchanged: they are
    * training statistics, not member content, so removal cannot
    * require re-assignment of surviving vectors (unlike DedupIndex,
    * where a removal can flip a df cap). A cell whose every member is
    * tombstoned is deleted outright (dynamic partition overwrite
    * cannot express an empty partition). purged ≡ build(remaining)
    * with the same quantizer — AnnIndexPurgeSpec asserts it, plus that
    * untouched cell directories keep their exact files (the
    * delta-proportionality evidence).
    */
  def purge(s: SparkSession, tombstones: DataFrame, stateDir: String): PurgeStats = {
    val dead = tombstones.select("vec_id").distinct().persist()
    val vec = s.read.parquet(s"$stateDir/vec")
    // touched cells: bounded by the quantizer size K, which build()
    // caps at MaxCellsKey (default 2^20) — ≤ ~16 MB of ids on the
    // driver, never corpus-proportional; safe to collect
    val touched = vec.join(dead, Seq("vec_id"), "left_semi")
      .select("cell").distinct().collect().map(_.get(0))
    val nPurged = dead.count()
    if (touched.nonEmpty) {
      val touchedVec = vec.filter(col("cell").isInCollection(touched.toSeq))
      // materialize BEFORE writing: the write overwrites the very files
      // the survivor plan would otherwise still be reading from (the
      // touched slice is takedown-sized, so this is cheap)
      val survivors = graft.Caching.materialize(s,
        touchedVec.join(dead, Seq("vec_id"), "left_anti")
          .select(vec.columns.map(col): _*))
      val surviving = survivors.select("cell").distinct().collect().map(_.get(0)).toSet
      val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try survivors.write.mode("overwrite").partitionBy("cell")
        .parquet(s"$stateDir/vec")
      finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      graft.Caching.release(survivors)
      // fully-dead cells: nothing was written over them — drop the dirs
      val deadCells = touched.filterNot(surviving)
      deadCells.foreach(c => graft.Scratch.delete(s"$stateDir/vec/cell=$c"))
      // the session's FileStatusCache still lists the replaced files;
      // without this, the next read of vec/ serves deleted part paths
      s.catalog.refreshByPath(s"$stateDir/vec")
      dead.unpersist(false)
      PurgeStats(nPurged, touched.length - deadCells.length, deadCells.length)
    } else { dead.unpersist(false); PurgeStats(nPurged, 0, 0) }
  }

  case class CompactStats(nCellsCompacted: Int, filesBefore: Long, filesAfter: Long)

  /** Small-files compaction — [[DedupIndex.compact]]'s counterpart for
    * the vector state: every [[append]] adds at least one parquet file
    * per touched cell, so a long append lineage degrades the `vec/` scan
    * into a file-listing + task-scheduling problem (the classic
    * streaming-ingest small-files failure at 100 TB). Compact rewrites
    * ONLY cells holding more than `maxFilesPerCell` files, each into a
    * single file (`repartition(cells, col("cell"))` puts one cell in one
    * task); cells under the threshold keep their exact files, so the
    * cost is proportional to the fragmented slice, not the index.
    * Contents are untouched — AnnIndexCompactSpec asserts query results
    * are byte-identical before/after and the untouched dirs unchanged.
    */
  def compact(s: SparkSession, stateDir: String,
      maxFilesPerCell: Int = 4): CompactStats = {
    import org.apache.hadoop.fs.Path
    val vecPath = new Path(s"$stateDir/vec")
    val fs = vecPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    // per-cell file census: one listing of K cell dirs (K = quantizer
    // size, driver-safe), the same listing any scan of vec/ performs
    val fragmented = fs.listStatus(vecPath).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .map { st =>
        val n = fs.listStatus(st.getPath)
          .count(_.getPath.getName.endsWith(".parquet"))
        (st.getPath.getName.stripPrefix("cell="), n)
      }
      .filter(_._2 > maxFilesPerCell)
    if (fragmented.isEmpty) return CompactStats(0, 0, 0)
    val cells = fragmented.map(_._1)
    val vec = s.read.parquet(s"$stateDir/vec")
    // materialize BEFORE the self-overwrite (same discipline as purge),
    // then one task per cell → one output file per cell
    val slice = graft.Caching.materialize(s,
      vec.filter(col("cell").cast("string").isInCollection(cells))
        .repartition(cells.length, col("cell")))
    val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try slice.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$stateDir/vec")
    finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    graft.Caching.release(slice)
    s.catalog.refreshByPath(s"$stateDir/vec")
    val after = cells.map { c =>
      fs.listStatus(new Path(s"$stateDir/vec/cell=$c"))
        .count(_.getPath.getName.endsWith(".parquet")).toLong
    }.sum
    CompactStats(cells.length, fragmented.map(_._2.toLong).sum, after)
  }

  /** Top-`topK` cosine neighbours for `queries` against the index at
    * `stateDir`, probing each query's `nprobe` nearest cells. The
    * broadcast query-cell set lets dynamic partition pruning restrict
    * the `vec/` scan to probed cell directories.
    *
    * `candidateFilter` is the filtered-ANN hook: a predicate over the
    * metadata columns persisted into `vec/` (e.g. `col("label") === 1`),
    * applied directly on the state scan — parquet pushes it down, so
    * selectivity cuts candidate volume BEFORE the cell join and the
    * re-rank runs among qualifying vectors only (pre-filter, never
    * post-filter top-k).
    */
  def query(s: SparkSession, queries: DataFrame, stateDir: String,
      topK: Int, nprobe: Int,
      candidateFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val cents = s.read.parquet(s"$stateDir/cent")
    val q = assignCells(queries, cents, nprobe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_norm"), col("cell"))
    val scan = s.read.parquet(s"$stateDir/vec")
    val vecs = candidateFilter.fold(scan)(scan.filter)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb2"),
        col("nrm").as("c_norm"), col("cell"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("c_id").asc)
    vecs.join(broadcast(q), Seq("cell"))
      .withColumn("cos",
        round(expr("dot_f(q_emb, c_emb2)") / (col("q_norm") * col("c_norm")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("q_id"), col("c_id"), col("cos"),
        col("rn").cast("long").as("rn"))
      .orderBy("q_id", "rn")
  }
}
