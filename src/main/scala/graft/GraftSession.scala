package graft

import org.apache.spark.sql.SparkSession

/** The one place a session is configured. Every main and the test JVM
  * build through here, so a query sees the same confs whichever entry
  * point runs it:
  *  - `GraftExtensions`: the graft_* functions and the planner rules;
  *  - session time zone UTC: the `events.ts` cast and every ts-derived
  *    output read the same instant as DuckDB;
  *  - `nanosAsLong`: a parquet `timestamp[ns]` column reads as LONG
  *    (which `Tables.events` converts) instead of failing the scan. Set
  *    per session, never per read: a conf mutated inside a loader is a
  *    global side effect that races Verify's parallel dumps;
  *  - `storageFraction=0.3`: memo checkpoints are MEMORY_AND_DISK and spill
  *    safely, so concurrent tasks' join/aggregation buffers get first claim
  *    on the unified pool (SCALE_TUNING.md headroom rule; without it the
  *    sf1 full suite hit UNABLE_TO_ACQUIRE_MEMORY in graph_pagerank_fixed).
  */
object GraftSession {
  def local(cpus: Int): SparkSession = local(cpus, cpus)

  def local(cpus: Int, shufflePartitions: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.memory.storageFraction", "0.3")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
