package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** Scale techniques that don't fit a single SURVEY §2 op key but are part of
  * the 100 TB design surface: skew-salted joins, connected components,
  * and bucketed (shuffle-free) join layouts. Exercised by `ScaleSuite`.
  * Sizing rules for every knob here (salt buckets, bucket counts, CC
  * checkpoint cadence) are centralized in SCALE_TUNING.md.
  */
object Scale {
  /** Equi-join with the large side salted to defeat key skew.
    *
    * Each large-side row gets a deterministic, row-content-derived salt in
    * [0, buckets); the small side is replicated `buckets` times. A hot key's
    * rows then spread over `buckets` reducers instead of one. Semantics are
    * identical to `large.join(small, keyL === keyS)` — every large row meets
    * exactly the one replica carrying its salt.
    *
    * (AQE's skew-join split handles sort-merge skew automatically; explicit
    * salting remains necessary for skewed *aggregations* and for joins that
    * AQE can't split, so the technique is kept first-class and tested.)
    */
  def saltedEquiJoin(large: DataFrame, small: DataFrame,
                     keyL: String, keyS: String, buckets: Int): DataFrame = {
    val saltedLarge = large.withColumn("__salt",
      pmod(xxhash64(struct(large.columns.map(col): _*)), lit(buckets)).cast("int"))
    val replicatedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    saltedLarge.join(replicatedSmall,
        saltedLarge(keyL) === replicatedSmall(keyS) &&
        saltedLarge("__salt") === replicatedSmall("__salt"))
      .drop("__salt")
  }

  /** Connected components of an undirected pair graph, in the two-phase
    * star-contraction shape that scales to edge sets far larger than any
    * node's memory:
    *
    *   1. **min-neighbor star**: ONE aggregation over the undirected pair
    *      set gives every node the minimum of itself and its direct
    *      neighbors (no edges⋈labels join — initial labels are the
    *      identity), plus one node-sized pointer jump.
    *   2. **contraction**: project every edge onto those phase-1 labels and
    *      keep only edges that still cross two labels. On clique-ish graphs
    *      (duplicate clusters) almost every edge collapses here, so the
    *      edge-sized work ends after one aggregation and one projection
    *      join.
    *   3. **hash-min fixpoint on the contracted rep graph** (metadata-sized
    *      for clique-ish graphs; worst case a strictly smaller graph): the
    *      Pregel-style edges⋈labels loop with a pointer jump per round,
    *      lineage truncated per iteration via eager localCheckpoint.
    *   4. every node adopts its representative's final label.
    *
    * The min id of a component is always its own phase-1 label, so the
    * contracted graph retains each component's global minimum and the
    * result equals plain hash-min's: `cluster_rep` = min node id of the
    * component.
    *
    * @param nodes single-column frame of node ids named `doc_id`
    * @param pairs two-column frame (`doc_a`, `doc_b`) of undirected edges
    * @return (doc_id, cluster_rep) for every node (isolated nodes label
    *         themselves)
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    // Phase 1: min over direct neighbors, straight off the pair set.
    val nbMin = pairs.select(col("doc_a").as("doc_id"), col("doc_b").as("nb"))
      .union(pairs.select(col("doc_b").as("doc_id"), col("doc_a").as("nb")))
      .groupBy("doc_id").agg(min("nb").as("nb_min"))
    val l1 = nodes.select(col("doc_id"))
      .join(nbMin, Seq("doc_id"), "left")
      .select(col("doc_id"),
        least(col("doc_id"), coalesce(col("nb_min"), col("doc_id"))).as("lbl"))
    // Node-sized pointer jump: adopt the label OF the label (labels are
    // node ids, monotone non-increasing).
    val lbl1 = l1
      .join(l1.select(col("doc_id").as("pid"), col("lbl").as("plbl")),
        l1("lbl") === col("pid"), "left")
      .select(l1("doc_id"), least(l1("lbl"), coalesce(col("plbl"), l1("lbl"))).as("lbl"))
      .localCheckpoint(true)
    // Phase 2: contract the pair set onto phase-1 labels.
    val contracted = pairs
      .join(lbl1.select(col("doc_id").as("doc_a"), col("lbl").as("la")), "doc_a")
      .join(lbl1.select(col("doc_id").as("doc_b"), col("lbl").as("lb")), "doc_b")
      .filter(col("la") =!= col("lb"))
      .select(least(col("la"), col("lb")).as("doc_a"),
        greatest(col("la"), col("lb")).as("doc_b"))
      .distinct()
      .localCheckpoint(true) // the loop below re-reads it every round
    val edges = contracted.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(contracted.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // Phase 3: hash-min fixpoint over the contracted graph's nodes only.
    // Superseded iterations' checkpoint blocks are reclaimed by Spark's
    // ContextCleaner once the old `labels` reference drops out of scope.
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("lbl")).localCheckpoint(true)
    var changed = if (labels.isEmpty) 0L else 1L
    while (changed > 0) {
      val rMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("lbl").as("nlbl")), "dst")
        .groupBy(col("src")).agg(min("nlbl").as("nb_min"))
      val next0 = labels
        .join(rMin.select(col("src").as("doc_id"), col("nb_min")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("lbl"), coalesce(col("nb_min"), col("lbl"))).as("lbl"))
      val next = next0
        .join(next0.select(col("doc_id").as("pid"), col("lbl").as("plbl")),
          next0("lbl") === col("pid"), "left")
        .select(next0("doc_id"),
          least(next0("lbl"), coalesce(col("plbl"), next0("lbl"))).as("lbl"))
        .localCheckpoint(true)
      changed = next.select(col("doc_id"), col("lbl").as("new_lbl"))
        .join(labels, "doc_id")
        .filter(col("new_lbl") < col("lbl")).count()
      labels = next
    }
    // Phase 4: nodes adopt their representative's final label.
    lbl1.join(labels.select(col("doc_id").as("lbl"), col("lbl").as("flbl")), Seq("lbl"), "left")
      .select(col("doc_id"), coalesce(col("flbl"), col("lbl")).as("cluster_rep"))
  }

  /** Run `tasks` on threads of their own and return once EVERY task has
    * finished. The first failure is thrown only then (the others ride along
    * as suppressed), so no task outlives its caller's failure path. */
  def runAll(tasks: (() => Unit)*): Unit = {
    import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(tasks.size)
    try {
      val running = tasks.map(t => pool.submit(new Callable[Unit] { def call(): Unit = t() }))
      val failures = running.flatMap { f =>
        try { f.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { e => failures.tail.foreach(e.addSuppressed); throw e }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }

  /** Persist `df` bucketed by `key` so equi-joins and aggregations on `key`
    * between co-bucketed tables plan with zero Exchange.
    *
    * The default in-memory catalog forgets tables across JVMs while their
    * warehouse directories persist, and CTAS refuses a pre-existing
    * location — so drop both the catalog entry and any orphaned directory
    * before writing. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    // The orphan cleanup below recursively deletes <warehouse>/<table>, so
    // refuse any name that could resolve outside its own table directory.
    require(
      table.matches("[A-Za-z0-9_]+"),
      s"writeBucketed: table name must be [A-Za-z0-9_]+, got '$table'")
    val s = df.sparkSession
    s.sql(s"DROP TABLE IF EXISTS $table")
    val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(): Unit
    }
    val loc = new java.io.File(wh, table.toLowerCase)
    if (loc.exists) rm(loc)
    df.write.mode("overwrite").bucketBy(buckets, key).sortBy(key).saveAsTable(table)
  }
}
