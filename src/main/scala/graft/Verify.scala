package graft
import scala.util.control.NonFatal
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)
    val spark = GraftSession.build(s"local[$cpus]", cpus)
    // Pin the clock so f10_state_timestamp (TIMESTAMP DEFAULT
    // current_timestamp semantics) is deterministic and its oracle can
    // embed the same literal. Production runs leave this unset; the
    // value is read at query time, so a runtime set is enough.
    spark.conf.set("spark.graft.now", graft.queries.PinnedClock.Now)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-loop filter: SPARK_GRAFT_ONLY=q1,q2 dumps just those queries
    // (driver never sets it; tools/check.py takes the same names)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    // The DuckDB twins unroll the PINNED (SrpBands, SrpPlanes) band
    // family; the engine's adaptiveSrpPlanes only agrees because every
    // oracle-checked fixture floors to it. Assert that here — the one
    // place that KNOWS it is an oracle run — so a future larger fixture
    // fails loudly with the cause instead of as a remote hash-mismatch.
    // A filtered dump is a DEV loop (the driver never sets
    // SPARK_GRAFT_ONLY) and may legitimately target sf0.1 for timing or
    // inspection, so it warns instead of failing.
    locally {
      val n = Tables.rowCount(spark, sfDir, "embeddings")
      val p = graft.functions.VectorExpressions.adaptiveSrpPlanes(n)
      val msg = s"oracle fixture $sfDir has $n embeddings → " +
        s"adaptiveSrpPlanes = $p, departing the oracle-pinned " +
        s"SrpPlanes = ${graft.functions.VectorExpressions.SrpPlanes}: " +
        "the DuckDB twins unroll the pinned family and every " +
        "band-dependent query would hash-mismatch; shrink the fixture " +
        "or teach the twins the adaptive count"
      if (only.isEmpty) require(p == graft.functions.VectorExpressions.SrpPlanes, msg)
      else if (p != graft.functions.VectorExpressions.SrpPlanes)
        System.err.println(s"[verify] WARNING (dev dump, not compared): $msg")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(
          s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
      finally {
        // release catalog cache AND localCheckpoint blocks between
        // queries (Caching doc) — 100+ queries of dead checkpoint
        // blocks otherwise tax every later query with GC pressure
        spark.catalog.clearCache()
        Caching.flush()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
