package graft

import org.apache.spark.sql.functions._

/** Skew-decade tool (r12 verdict #8): re-keys the sf10 tile's lineitem
  * with a Zipf(~1)-distributed l_suppkey so the skew-handling machinery
  * (AQE skew-join split, Scale.saltedEquiJoin) is measured on data whose
  * skew is NOT engineered per-op — the uniform fixtures' near-uniform
  * keys mean the declared skew ops had to synthesize their own hot keys.
  *
  * Key law: u = (xxhash64(orderkey, linenumber) mod 1e6)/1e6 uniform,
  * k = floor(exp(u · ln(N))) ∈ [1, N] — log-uniform, the standard
  * Zipf(s≈1) inverse-CDF shape: P(k) ∝ 1/k, rank-1 key holds ~1/ln(N)
  * of ALL rows (≈8.3% at N=100k — a genuinely hot reducer), deterministic
  * per row (re-runs produce the identical tile).
  *
  * Usage: runMain graft.SkewTile <srcDir> <outDir>
  * (writes lineitem only; hardlink/copy the other tables beside it)
  */
object SkewTile {
  def main(args: Array[String]): Unit = {
    val Array(src, out) = args
    val s = GraftSession.local(24)
    s.sparkContext.setLogLevel("WARN")
    val li = s.read.parquet(s"$src/lineitem.parquet")
    val n = s.read.parquet(s"$src/supplier.parquet").count()
    li.withColumn("u",
        (pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(1000000L)) + 0.5) / 1000000.0)
      .withColumn("l_suppkey",
        least(greatest(floor(exp(col("u") * math.log(n.toDouble))), lit(1L)), lit(n)))
      .drop("u")
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    println(s"[skewtile] wrote $out/lineitem.parquet with Zipf keys over [1, $n]")
    s.stop()
  }
}
