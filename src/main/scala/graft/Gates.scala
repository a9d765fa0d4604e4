package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.storage.StorageLevel

/** Every scale decision the ops make from input size, in one place. Each
  * decision reads one stat, [[bytes]] / file count of a fixture table, so
  * a plan depends only on the table's on-disk size and the core count. */
object Gates {

  // ---------------------------------------------------------------- stat

  /** Identity of the fixture file `<dir>/<table>.parquet` for the
    * process-wide metadata memos (this stat, the schema in [[Tables]]):
    * its path plus the modification time from one `getFileStatus`.
    * Rewriting a table while the process runs moves its mtime, so a memo
    * never serves the old file's metadata. */
  private[graft] final case class FileId(path: String, mtime: Long)
  private[graft] def fileId(s: SparkSession, d: String, table: String): FileId = {
    val p = s"$d/$table.parquet"
    val path = new org.apache.hadoop.fs.Path(p)
    FileId(p, path.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(path).getModificationTime)
  }

  /** (bytes, fileCount) of `<dir>/<table>.parquet`: one filesystem
    * METADATA stat (no scan), cached per [[FileId]]. The cache holds
    * metadata, never query results. */
  private val stats = new Memo[FileId, (Long, Long)]
  private def stat(s: SparkSession, d: String, table: String): (Long, Long) = {
    val id = fileId(s, d, table)
    stats(id) {
      val path = new org.apache.hadoop.fs.Path(id.path)
      val cs = path.getFileSystem(s.sparkContext.hadoopConfiguration).getContentSummary(path)
      (cs.getLength, cs.getFileCount)
    }
  }

  /** Parquet bytes of `<dir>/<table>.parquet`. */
  def bytes(s: SparkSession, d: String, table: String): Long = stat(s, d, table)._1

  // ----------------------------------------------------------- rebalance

  /** Scan-parallelism rebalance. A table shipped as ONE parquet file with
    * ONE row group scans as a single task whatever the core count, because
    * parquet splits cannot cross row groups; a hash repartition on
    * `keys` right after the scan spreads the per-row decode/projection
    * work across cores. Hash, not round-robin: placement stays
    * deterministic under task retries.
    *
    * Opt-in per operator (`par = true` on a loader, or [[spreadBy]]): the
    * exchange costs a flat ~0.1-0.3 s, so it pays only where the stage-1
    * work it spreads is larger (per-op A/B in OPTIMIZATION_r13.md "Scan
    * rebalance" and OPTIMIZATION_r14.md). It is a no-op when
    *  - fileCount >= cores/2: a multi-file dataset already scans with
    *    enough tasks;
    *  - bytes > 256 MiB: large files from a real writer carry many row
    *    groups and split natively;
    *  - bytes < 64 KiB: the exchange costs more than the serial work it
    *    spreads.
    * SPARK_GRAFT_REBALANCE=0 turns it off (forced-off A/B lever). */
  private val rebalanceOn = !sys.env.get("SPARK_GRAFT_REBALANCE").contains("0")
  private val RebalanceCap: Long = 256L << 20
  private val RebalanceFloor: Long = 64L << 10

  /** Keys are chosen by the caller: a loader's own key, or the keys of the
    * NEXT operator (e.g. a histogram's group columns), so one narrow
    * exchange both spreads the scan's CPU-dense stage and satisfies the
    * downstream aggregation's distribution. Apply after the narrow
    * projection. Where the gate no-ops, the plain plan keeps its map-side
    * partial aggregation before its one exchange, the right shape at
    * scale. */
  def spreadBy(s: SparkSession, d: String, table: String, df: DataFrame,
               keys: Seq[String]): DataFrame = {
    if (!rebalanceOn) return df
    val cores = s.sparkContext.defaultParallelism
    val (bytes, files) = stat(s, d, table)
    if (files >= cores / 2 || bytes > RebalanceCap || bytes < RebalanceFloor) df
    else df.repartition(cores, keys.map(col): _*)
  }

  // ----------------------------------------------------------- broadcast

  /** Alias wrapped around every gated build side before its broadcast
    * hint. It survives analysis, where PlanAuditSuite's broadcast sweep
    * inspects ResolvedHint nodes, and the optimizer erases it, so it has no
    * runtime effect. It lets CI tell a hint that drops above a measured
    * cap from an unconditional broadcast() on a frame that grows with
    * scale factor, a latent driver outage at the next decade. Only
    * [[broadcastUnder]] applies it. */
  val BroadcastGateTag = "graft_size_gated"

  /** Dimension tables that grow with scale factor (supplier, part,
    * customer). 256 MiB of parquet inflates ~4× in memory to a ~1 GiB
    * exchange, an order of magnitude under Spark's 8 GB broadcast cap and
    * under driver maxResultSize, while still hinting every dimension a
    * 100 TB fact table would want hash-probed (supplier at sf100 is
    * ~12 MB). Fixed-cardinality dims (region, nation) need no gate. */
  val DimCap: Long = 256L << 20

  /** Node-sized graph frames (degree map, per-iteration rank), gated on
    * documents.parquet bytes: node rows ≈ doc count at ~1 KB/doc, so
    * 16 GiB of corpus ≈ 16M node rows, a few-hundred-MB exchange ~30×
    * under both of Spark's broadcast caps. The hint matters: without it,
    * checkpoint-derived estimates stop auto-broadcasting the node frame at
    * sf10 and every edge⋈node join becomes an edge-frame sort-merge join
    * (measured 29.5× and 62.4× for 10× data). */
  val NodeCap: Long = 16L << 30

  /** Gram/shingle frames, gated on the parquet bytes of the document slice
    * they derive from. A gram frame explodes each document ~8× on top of
    * decompression: llm_decontaminate's 5-gram frame crossed
    * spark.driver.maxResultSize at an 834 MB corpus (1288 MiB of build-side
    * results) and was safe at 58 MB; the cap sits between, nearer the safe
    * point. The widest hinted frame (8-gram, ≈1.6× the 5-gram per-doc
    * bytes) still clears the fatal point by >5× at the cap. A frame that
    * explodes documents more than ~8× needs its own cap. */
  val GramCap: Long = 128L << 20

  /** `df` with a broadcast hint when the measured `bytes` are under `cap`,
    * unhinted otherwise: above the cap the key-partitioned shuffle join
    * takes over, slower but with identical results. */
  def broadcastUnder(df: DataFrame, bytes: Long, cap: Long): DataFrame =
    if (bytes < cap) broadcast(df.alias(BroadcastGateTag)) else df

  // --------------------------------------------------------- corpus tier

  /** documents.parquet under 2 MiB (sf0.1 is 595 KB, sf1 ~6 MB).
    * graph_pagerank_fixed keys two choices on it: below, its edge
    * checkpoint stays MEMORY_AND_DISK (DISK_ONLY cost 0.6-2 s at sf0.1)
    * and the edge frame coalesces to a few partitions (an explicit
    * 32-way spread measured 3.53 s vs 2.31 s); above, the corpus-scale
    * edge block goes DISK_ONLY, since holding it in the unified pool
    * starved concurrent tasks of execution memory at sf1, and keeps its
    * natural partitioning. */
  def smallCorpus(s: SparkSession, d: String): Boolean =
    bytes(s, d, "documents") < (2L << 20)

  /** Storage level of a corpus-linear checkpoint (graph_pagerank_fixed's
    * edge block, ts_downsample_triangle's bucketed points):
    * MEMORY_AND_DISK on a [[smallCorpus]], DISK_ONLY above it. */
  def corpusLevel(s: SparkSession, d: String): StorageLevel =
    if (smallCorpus(s, d)) StorageLevel.MEMORY_AND_DISK else StorageLevel.DISK_ONLY
}
