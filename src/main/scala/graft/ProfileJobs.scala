package graft

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev tool: per-job wall time for one query — prints jobId, duration,
  * and the callsite/description so orchestration hot spots are visible.
  * Usage: SPARK_GRAFT_CPUS=32 tools/run.sh graft.ProfileJobs <sfDir> <query>
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))
    val spark = GraftSession.build(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.put(j.jobId, (System.nanoTime(),
          Option(j.properties.getProperty("spark.job.description"))
            .orElse(Option(j.properties.getProperty("callSite.short")))
            .getOrElse("?")))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val st = starts.get(j.jobId)
        if (st != null) {
          val dt = (System.nanoTime() - st._1) / 1e9
          if (dt > 0.02)
            println(f"JOB ${j.jobId}%4d ${dt}%7.3fs  ${st._2.take(120)}")
        }
      }
    })
    try SparkEntry.entry(spark).count() catch { case NonFatal(_) => }
    println(s"=== warmup done, running $name (run 1)")
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir).count()
    println(f"=== run 1 wall ${(System.nanoTime() - t0) / 1e9}%.2fs")
    spark.catalog.clearCache(); Caching.flush()
    println(s"=== running $name (run 2)")
    val t1 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir).count()
    println(f"=== run 2 wall ${(System.nanoTime() - t1) / 1e9}%.2fs")
    spark.stop()
  }
}
