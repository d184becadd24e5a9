package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Small-files compaction contract of the vector index: after an append
  * lineage fragments the cell partitions, compact rewrites ONLY the
  * cells over the file threshold (each to a single file), leaves
  * under-threshold cells' files byte-identical, and serves exactly the
  * same query results afterwards.
  */
class AnnIndexCompactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def listFiles(dir: String): Set[String] = {
    val f = new java.io.File(dir)
    if (!f.exists) Set.empty
    else f.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
  }

  test("compact squashes fragmented cells only and preserves query results") {
    val root = graft.Scratch.dir("anncompact")
    try {
      val emb = graft.Tables.embeddings(spark, TestSpark.Sf001)
        .select(col("vec_id"), col("embedding"),
          expr("norm_f(embedding)").as("nrm"))
      val cands = emb.filter(col("vec_id") >= 10)
      // seed with every 4th candidate, then append the rest in three
      // batches — every touched cell gains a file per append
      AnnIndex.build(spark, emb, cands.filter(col("vec_id") % 4 === 0), root)
      (1 to 3).foreach { r =>
        AnnIndex.append(spark, cands.filter(col("vec_id") % 4 === r), root)
      }
      val cellDirs = new java.io.File(s"$root/vec").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(_.getName.stripPrefix("cell=")).toSeq
      val before = cellDirs.map(c => c -> listFiles(s"$root/vec/cell=$c")).toMap
      val maxFiles = 2
      val over = cellDirs.filter(c => before(c).size > maxFiles)
      val under = cellDirs.filterNot(over.contains)
      assert(over.nonEmpty, "fixture must fragment at least one cell")

      val qs = emb.filter(col("vec_id") < 10)
      def run() = AnnIndex.query(spark, qs, root, topK = 5, nprobe = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSeq
      val want = run()

      val stats = AnnIndex.compact(spark, root, maxFilesPerCell = maxFiles)
      assert(stats.nCellsCompacted == over.size)
      assert(stats.filesBefore == over.map(before(_).size.toLong).sum)
      assert(stats.filesAfter == over.size,
        "each compacted cell must end as exactly one file")
      over.foreach { c =>
        assert(listFiles(s"$root/vec/cell=$c").size == 1, s"cell $c not squashed")
      }
      under.foreach { c =>
        assert(listFiles(s"$root/vec/cell=$c") == before(c),
          s"under-threshold cell $c was rewritten")
      }
      assert(run() == want, "compaction changed query results")
      // idempotent: a second pass finds nothing over the threshold
      assert(AnnIndex.compact(spark, root, maxFilesPerCell = maxFiles)
        == AnnIndex.CompactStats(0, 0, 0))
    } finally graft.Scratch.delete(root)
  }
}
