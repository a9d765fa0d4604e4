package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-decade measurement harness (r12 verdict #8): times the
  * lineitem⋈supplier dim join + census on a Zipf-keyed tile under five
  * strategies, printing wall seconds + the max shuffle-read task rows
  * proxy (the hot-reducer signature). Not a declared op — a doctrine
  * instrument.
  *
  * Usage: runMain graft.SkewBench <tileDir>
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val s = GraftSession.local(24, 96)
    s.sparkContext.setLogLevel("ERROR")

    def census(j: DataFrame): Long =
      j.groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), sum(col("l_extendedprice")).as("t"))
        .collect().map(_.getLong(1)).sum

    def run(name: String, confs: Map[String, String])(build: SparkSession => DataFrame): Unit = {
      val ss = s.newSession()
      confs.foreach { case (k, v) => ss.conf.set(k, v) }
      val t0 = System.nanoTime()
      val total = census(build(ss))
      println(f"[skew] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  (rows=$total)")
    }

    def li(ss: SparkSession) = ss.read.parquet(s"$d/lineitem.parquet")
      .select("l_suppkey", "l_extendedprice")
    def sup(ss: SparkSession) = ss.read.parquet(s"$d/supplier.parquet")
      .select("s_suppkey", "s_nationkey")

    val noBcast = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")
    // warm the page cache once, untimed
    run("warmup (broadcast)", Map.empty)(ss => li(ss).join(broadcast(sup(ss)), col("l_suppkey") === col("s_suppkey")))

    run("broadcast dim", Map.empty)(ss =>
      li(ss).join(broadcast(sup(ss)), col("l_suppkey") === col("s_suppkey")))
    run("shuffle join, AQE off", noBcast ++ Map("spark.sql.adaptive.enabled" -> "false"))(ss =>
      li(ss).join(sup(ss), col("l_suppkey") === col("s_suppkey")))
    run("shuffle join, AQE defaults", noBcast ++ Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true"))(ss =>
      li(ss).join(sup(ss), col("l_suppkey") === col("s_suppkey")))
    run("shuffle join, AQE 64MB split", noBcast ++ Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "67108864",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "33554432",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true"))(ss =>
      li(ss).join(sup(ss), col("l_suppkey") === col("s_suppkey")))
    run("salted (8 buckets), AQE off", noBcast ++ Map("spark.sql.adaptive.enabled" -> "false"))(ss =>
      Scale.saltedEquiJoin(li(ss), sup(ss), "l_suppkey", "s_suppkey", buckets = 8))
    run("salted (32 buckets), AQE off", noBcast ++ Map("spark.sql.adaptive.enabled" -> "false"))(ss =>
      Scale.saltedEquiJoin(li(ss), sup(ss), "l_suppkey", "s_suppkey", buckets = 32))
    s.stop()
  }
}
