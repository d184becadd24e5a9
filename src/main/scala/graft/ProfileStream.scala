package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev tool: per-component micro-batch time breakdown for streaming
  * queries — sums each `durationMs` component (triggerExecution,
  * queryPlanning, walCommit, commitOffsets, addBatch, getBatch,
  * latestOffset) across every batch a query ran, so the drain floor's
  * split (file listing vs WAL vs state commit vs compute) is measured
  * instead of guessed (r14 verdict ask #4). Usage:
  *   SPARK_GRAFT_CPUS=32 tools/run.sh graft.ProfileStream <sfDir> <query...>
  */
object ProfileStream {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))
    val spark = GraftSession.build(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sums = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    @volatile var batches = 0
    @volatile var rows = 0L
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        batches += 1
        rows += e.progress.numInputRows
        e.progress.durationMs.forEach { (k, v) =>
          sums.merge(k, v, (a, b) => a + b)
        }
        val sd = e.progress.stateOperators
        if (sd != null) sd.foreach { so =>
          sums.merge("state.commitTimeMs", so.commitTimeMs, (a, b) => a + b)
        }
      }
    })
    try SparkEntry.entry(spark).count() catch { case NonFatal(_) => }
    try queries.StreamingQueries.warmStagingCaches(spark, sfDir) catch { case NonFatal(_) => }
    for (n <- names) {
      sums.clear(); batches = 0; rows = 0L
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(n)(spark, sfDir).count()
        Thread.sleep(300)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"STREAM $n%-36s wall=$dt%6.2fs batches=$batches rows=$rows")
        import scala.jdk.CollectionConverters._
        sums.asScala.toSeq.sortBy(-_._2).foreach { case (k, v) =>
          println(f"    $k%-28s ${v / 1000.0}%8.2fs")
        }
      } catch { case NonFatal(e) =>
        println(s"STREAM $n FAILED: ${e.getClass.getSimpleName}")
      }
      spark.catalog.clearCache(); Caching.flush()
    }
    spark.stop()
  }
}
