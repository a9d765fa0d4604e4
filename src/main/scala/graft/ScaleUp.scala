package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale-up generator: tiles the sf0.1 tables ×N (default 10 ≈
  * "sf1") with re-keyed ids into a target directory, so the scaling
  * argument in BASELINE.md gets a third datapoint beyond
  * sf0.01 → sf0.1 (r6 verdict #4 — no sf1 data exists on disk).
  *
  * Design:
  *  - Referential integrity is preserved: each key domain gets ONE span
  *    (max+1) computed from its owning table, and every table that carries
  *    the key shifts it by copy·span — copy i of orders references copy i
  *    of customer, copy i of lineitem references copy i of orders/part/
  *    supplier. Fixed dimensions (region, nation) are copied, not tiled:
  *    their cardinality is scale-invariant by the data model.
  *  - `documents.text` is token-tagged per copy (every token suffixed with
  *    the copy index; n_chars recomputed): a verbatim ×10 tiling would make
  *    every doc a 10-clone class and turn the near-dup family into a
  *    quadratic-OUTPUT stress test (that behavior is already measured on
  *    the dup-dense sf0.1 fixture) — the goal here is a THROUGHPUT
  *    datapoint at 10× corpus and ~10× vocab, not a duplication bomb.
  *  - `embeddings` tile with re-keyed vec_id and unchanged vectors (ANN
  *    throughput scales with candidate volume, not vector novelty).
  *  - Events keep their time range (10× density = realistic growth).
  *
  * Usage:  runMain graft.ScaleUp [srcDir] [outDir] [copies]
  * Then:   SPARK_GRAFT_SF_DIR=<outDir> runMain graft.Bench
  * (This writes OUTSIDE the repo — default /tmp/graft_sf1 — and is a
  * tool, not a declared op: no oracle, bench-only.)
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src    = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out    = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    spark.sparkContext.setLogLevel("WARN")
    ScaleUpCore.run(spark, src, out, copies)
    spark.stop()
  }
}

/** The tiling logic, callable from tests (Round7Suite integrity check)
  * as well as the [[ScaleUp]] main. */
object ScaleUpCore {
  def run(spark: SparkSession, src: String, out: String, copies: Int): Unit = {
    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def span(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head.getLong(0) + 1L

    val custSpan = span(read("customer"), "c_custkey")
    val ordSpan  = span(read("orders"), "o_orderkey")
    val partSpan = span(read("part"), "p_partkey")
    val suppSpan = span(read("supplier"), "s_suppkey")
    val evSpan   = span(read("events"), "event_id")
    val userSpan = span(read("events"), "user_id")
    val docSpan  = span(read("documents"), "doc_id")
    val vecSpan  = span(read("embeddings"), "vec_id")

    /** Tile a table ×copies, shifting each listed key by copy·span; `extra`
      * applies a per-copy transform (copy 0 is always the original). */
    def tile(name: String, keys: Map[String, Long], parts: Int,
             extra: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      val base = read(name)
      val tiled = (0 until copies).map { i =>
        val shifted = keys.foldLeft(base) { case (df, (k, sp)) =>
          df.withColumn(k, col(k).cast("long") + lit(i * sp))
        }
        extra(shifted, i)
      }.reduce(_ unionAll _)
      tiled.repartition(parts).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name: x$copies -> $out/$name.parquet")
    }

    // fixed dims: copy through (scale-invariant cardinality)
    Seq("region", "nation").foreach { name =>
      read(name).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name: copied (fixed dimension)")
    }
    tile("customer", Map("c_custkey" -> custSpan), 8)
    tile("supplier", Map("s_suppkey" -> suppSpan), 4)
    tile("part", Map("p_partkey" -> partSpan), 8)
    tile("orders", Map("o_orderkey" -> ordSpan, "o_custkey" -> custSpan), 16)
    tile("lineitem", Map("l_orderkey" -> ordSpan, "l_partkey" -> partSpan,
      "l_suppkey" -> suppSpan), 32)
    tile("events", Map("event_id" -> evSpan, "user_id" -> userSpan), 16)
    tile("documents", Map("doc_id" -> docSpan), 16, (df, i) =>
      if (i == 0) df
      else df
        .withColumn("text",
          expr(s"array_join(transform(split(text, ' '), t -> concat(t, '$i')), ' ')"))
        .withColumn("n_chars", length(col("text")).cast("int")))
    tile("embeddings", Map("vec_id" -> vecSpan), 8)
  }
}
