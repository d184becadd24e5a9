package graft

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev profiling tool: run named queries (bench methodology — .count())
  * and report wall seconds, Spark job count, stage count, task count and
  * summed task time. High jobs/stages at low task time = driver
  * orchestration overhead; high task time = real compute. Usage:
  *   SPARK_GRAFT_CPUS=32 tools/run.sh graft.Profile <sfDir> <query> [query...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))
    val spark = GraftSession.build(s"local[$cpus]", cpus)
    // A/B knob: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" for conf experiments
    // (runtime SQL confs only — they are set after the session is built)
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.split("=", 2))
      .foreach(kv => spark.conf.set(kv(0), kv(1)))
    spark.sparkContext.setLogLevel("ERROR")
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += sc.stageInfo.numTasks
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) taskMs += t.taskInfo.duration
    }
    spark.sparkContext.addSparkListener(listener)
    // warmup like Bench
    try SparkEntry.entry(spark).count() catch { case NonFatal(_) => }
    // shared warm state like Bench (dedup/streaming/text/serve), so
    // per-query numbers don't carry once-per-corpus builds
    try queries.Dedup.warmSharedState(spark, sfDir) catch { case NonFatal(_) => }
    try queries.StreamingQueries.warmStagingCaches(spark, sfDir) catch { case NonFatal(_) => }
    try queries.SimilaritySearch.warmServeGraph(spark, sfDir) catch { case NonFatal(_) => }
    try { queries.StreamingQueries.st20BootstrapDir(spark, sfDir); () } catch { case NonFatal(_) => }
    try { queries.StreamingQueries.st21BootstrapDir(spark, sfDir); () } catch { case NonFatal(_) => }
    try { queries.StreamingQueries.st17BootstrapDir(spark, sfDir); () } catch { case NonFatal(_) => }
    try { queries.StreamingQueries.st18BootstrapDir(spark, sfDir); () } catch { case NonFatal(_) => }
    val selected =
      if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names.toSeq
    for (n <- selected) {
      jobs = 0; stages = 0; tasks = 0; taskMs = 0L
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(n)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let listener events drain
        println(f"PROFILE $n%-40s wall=$dt%7.2fs jobs=$jobs%4d stages=$stages%4d tasks=$tasks%6d taskTime=${taskMs / 1000.0}%8.1fs")
      } catch {
        case NonFatal(e) => println(s"PROFILE $n ERROR: ${e.getMessage}")
      }
      spark.catalog.clearCache()
      Caching.flush()
    }
    spark.stop()
  }
}
