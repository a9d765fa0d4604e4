package graft

/** Dev utility: print the formatted physical plan of named declared ops.
  * Usage: runMain graft.Explain <sfDir> <opKey>[,<opKey>...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, keys) = args
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    keys.split(",").foreach { k =>
      println(s"==== $k ====")
      println(SparkEntry.queries(k)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
