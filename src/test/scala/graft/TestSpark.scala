package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole forked test JVM. */
object TestSpark {
  val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSession.local(4)
}
