package graft

/** Dev tool behind PlanQualitySpec's shuffle budgets: prints the
  * hash/range/single-partition exchange count of each named query's
  * executed plan at sf0.01 — the number a new budget entry pins.
  *
  * Usage: tools/run.sh graft.CountShuffles <query> [query...]
  */
object CountShuffles {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.01"
    for (n <- args) {
      val p = queries.Registry.queries(n)(spark, sf)
        .queryExecution.executedPlan.toString
      val c = p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") ||
          l.contains("Exchange rangepartitioning") ||
          l.contains("Exchange SinglePartition"))
      println(s"SHUFFLES $n = $c")
    }
    spark.stop()
  }
}
