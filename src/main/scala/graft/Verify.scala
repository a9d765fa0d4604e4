package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Preflight canary: load + count every table before the sweep. A data
    // regeneration that breaks a loader fails HERE with one table-level
    // diagnosis, instead of as dozens of per-query analysis errors.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { name =>
      try {
        val n = (if (name == "events") Tables.events(spark, sfDir)
                 else Tables.t(spark, sfDir, name)).count()
        require(n > 0, s"table '$name' is empty")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] PREFLIGHT FAILED on table '$name': $e")
        throw e
      }
    }
    // Queries are independent (distinct output dirs, no shared temp state
    // except one uniquely-named view) and SparkContext schedules concurrent
    // jobs safely — 4 parallel dumps roughly halve verify wall-clock.
    // Daemon workers: if a STRICT-mode rethrow (or any exception) escapes
    // main before pool.shutdown(), non-daemon workers would keep the JVM
    // alive forever after DestroyJavaVM — observed as a wedged Verify run.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4,
      (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    // Optional comma-separated key filter for targeted local parity checks
    // while iterating (driver runs with it unset = full dump).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = only.fold(SparkEntry.queries)(ks => SparkEntry.queries.filter(kv => ks(kv._1)))
    val tasks = selected.toSeq.map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            // SPARK_GRAFT_STRICT=1 (local sweeps): rethrow so the first
            // failure stops the run loudly instead of being logged past.
            if (sys.env.get("SPARK_GRAFT_STRICT").contains("1")) throw e
            errors.put(name, e.toString.take(300))
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Crashed queries leave no output dir and hence no correctness row; a
    // visible artifact keeps a repeat of the r5 silent 62-op wipeout
    // impossible (empty object on a clean run).
    import scala.jdk.CollectionConverters._
    val errJson = errors.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), errJson)
    if (!errors.isEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED")
    graft.ops.CacheReuse.release()
    spark.stop()
  }
}
