package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Takedown contract of the vector index: purge removes exactly the
  * tombstoned vectors, rewrites ONLY the touched cell partitions
  * (untouched directories keep their exact files — the
  * delta-proportionality evidence), deletes fully-dead cells, and the
  * purged state serves the same results as a from-scratch build over
  * the surviving corpus.
  */
class AnnIndexPurgeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def listFiles(dir: String): Set[String] = {
    val f = new java.io.File(dir)
    if (!f.exists) Set.empty
    else f.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
  }

  test("purge rewrites touched cells only and equals a build over the survivors") {
    val r1 = graft.Scratch.dir("annpurge1")
    val r2 = graft.Scratch.dir("annpurge2")
    try {
      val emb = graft.Tables.embeddings(spark, TestSpark.Sf001)
        .select(col("vec_id"), col("embedding"),
          expr("norm_f(embedding)").as("nrm"))
      val cands = emb.filter(col("vec_id") >= 10)
      // deterministic quantizer: the purged≡rebuild equality below
      // trains twice and needs bit-identical centroids both times
      AnnIndex.build(spark, emb, cands, r1,
        quantizer = SimilaritySearch.kmeansCents)
      // tombstones: one entire cell (the smallest) + one member of the
      // largest cell — exercises both the rewrite and the delete path
      val sizes = spark.read.parquet(s"$r1/vec").groupBy("cell")
        .agg(count(lit(1)).as("n")).orderBy(col("n").asc, col("cell").asc)
        .collect()
      val smallCell = sizes.head.get(0)
      val bigCell = sizes.last.get(0)
      val wholeSmall = spark.read.parquet(s"$r1/vec")
        .filter(col("cell") === smallCell).select("vec_id")
      val oneOfBig = spark.read.parquet(s"$r1/vec")
        .filter(col("cell") === bigCell).select("vec_id")
        .orderBy("vec_id").limit(1)
      val tomb = wholeSmall.union(oneOfBig)
      val tombIds = tomb.collect().map(_.getLong(0)).toSet
      // untouched cells' files must be byte-identical afterwards
      val untouchedCells = sizes.map(_.get(0))
        .filterNot(c => c == smallCell || c == bigCell)
      val before = untouchedCells.map(c => c -> listFiles(s"$r1/vec/cell=$c")).toMap
      val stats = AnnIndex.purge(spark, tomb, r1)
      assert(stats.nPurged == tombIds.size)
      assert(stats.nCellsDeleted == 1, "the fully-tombstoned cell must be deleted")
      assert(stats.nCellsRewritten == 1, "only the partially-hit cell rewrites")
      untouchedCells.foreach { c =>
        assert(listFiles(s"$r1/vec/cell=$c") == before(c),
          s"untouched cell $c was rewritten")
      }
      assert(!new java.io.File(s"$r1/vec/cell=$smallCell").exists,
        "fully-dead cell directory must be gone")
      // purged index ≡ fresh build over the survivors (same quantizer:
      // trained on the FULL corpus both times, like the append spec).
      // Filter by the COLLECTED ids: the lazy `tomb` plan still roots
      // in r1's pre-purge files, which the purge just replaced.
      AnnIndex.build(spark, emb,
        cands.filter(!col("vec_id").isInCollection(tombIds.toSeq)), r2,
        quantizer = SimilaritySearch.kmeansCents)
      val qs = emb.filter(col("vec_id") < 10)
      def run(root: String) =
        AnnIndex.query(spark, qs, root, topK = 5, nprobe = 2).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      val purged = run(r1)
      assert(purged == run(r2), "purged index diverged from fresh build")
      assert(purged.forall { case (_, cId, _, _) => !tombIds.contains(cId) },
        "a tombstoned vector is still served")
    } finally { graft.Scratch.delete(r1); graft.Scratch.delete(r2) }
  }
}
