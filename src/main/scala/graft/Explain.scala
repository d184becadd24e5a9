package graft

import scala.util.control.NonFatal

/** Plan-audit tool: print the formatted physical plan of named queries
  * (all queries when none named). Usage:
  *   tools/run.sh graft.Explain <sfDir> [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.drop(1)
    val spark = GraftSession.build("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    val selected =
      if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted
      else names.toSeq
    selected.foreach { n =>
      println(s"\n===== $n")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case NonFatal(e) => println(s"ERROR: ${e.getMessage}") }
    }
    spark.stop()
  }
}
