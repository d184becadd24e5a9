package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (JVM-forked by sbt),
  * built by the shipped factory so specs run its configuration,
  * analyzer rules and function catalog.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.build("local[4]", 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001  = "/root/testdata/sf0.01"
}
