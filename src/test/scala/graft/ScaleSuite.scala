package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The 100 TB techniques: salting, partition pruning, bucketed joins. */
class ScaleSuite extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val d = TestSpark.sf
  private val tmp = System.getProperty("java.io.tmpdir") + "/graft-scale"

  test("salted join == plain join (semantics preserved under skew spreading)") {
    val orders = Tables.orders(s, d)
    val customer = Tables.customer(s, d)
    val plain = orders.join(customer, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"), sum("o_totalprice").as("t"))
    val salted = Scale.saltedEquiJoin(orders, customer, "o_custkey", "c_custkey", 8)
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"), sum("o_totalprice").as("t"))
    assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty)
  }

  test("salted join spreads a hot key across buckets") {
    val orders = Tables.orders(s, d)
    val customer = Tables.customer(s, d)
    val saltedLarge = orders.withColumn("__salt",
      pmod(xxhash64(struct(orders.columns.map(col): _*)), lit(8)).cast("int"))
    val hot = saltedLarge.groupBy("o_custkey").agg(countDistinct("__salt").as("n_salts"))
      .agg(max("n_salts")).collect().head.getLong(0)
    assert(hot > 1, "salting never split any key's rows")
  }

  test("salted join caps the hot key's reducer input at ~1/buckets (AQE off)") {
    val sp = s; import sp.implicits._
    // Manufactured skew: 40k rows on one key vs ~40 rows per other key.
    // With AQE and broadcast disabled, the plain shuffle join puts every
    // hot-key row through ONE reducer; the salted join must spread them.
    val large = ((0 until 40000).map(i => (1L, i.toLong)) ++
      (0 until 4000).map(i => ((i % 100 + 2).toLong, i.toLong))).toDF("k", "payload")
    val small = (1L to 101L).map(k => (k, s"dim$k")).toDF("dk", "name")
    val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
    val prevBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      // reducer input proxy: per-output-partition row counts of the join
      // (join output partitioning == the shuffle's reducer assignment when
      // AQE can't coalesce or split)
      def partSizes(df: org.apache.spark.sql.DataFrame): Seq[Long] =
        df.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().toSeq
      val plainMax = partSizes(large.join(small, col("k") === col("dk"))).max
      val saltedMax = partSizes(
        Scale.saltedEquiJoin(large, small, "k", "dk", 8)).max
      assert(plainMax >= 40000L,
        s"skew fixture broken: hot key not concentrated (max=$plainMax)")
      assert(saltedMax * 3 <= plainMax,
        s"salting did not defeat the skew: max task $saltedMax vs plain $plainMax")
    } finally {
      s.conf.set("spark.sql.adaptive.enabled", prevAqe)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  test("partitioned layout prunes partitions at the scan") {
    val path = s"$tmp/events_by_type"
    Tables.events(s, d).select("event_id", "user_id", "event_type")
      .write.mode("overwrite").partitionBy("event_type").parquet(path)
    val read = s.read.parquet(path).filter(col("event_type") === "click")
    val plan = read.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") && plan.contains("event_type"),
      s"no partition pruning in:\n${plan.take(1200)}")
    val expected = Tables.events(s, d).filter(col("event_type") === "click").count()
    assert(read.count() == expected)
  }

  test("co-bucketed tables join with zero shuffle") {
    s.conf.set("spark.sql.sources.bucketing.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast path
    try {
      Scale.writeBucketed(Tables.orders(s, d), "orders_b", "o_custkey", 4)
      Scale.writeBucketed(
        Tables.customer(s, d).withColumnRenamed("c_custkey", "o_custkey"), "cust_b", "o_custkey", 4)
      val joined = s.table("orders_b").join(s.table("cust_b"), "o_custkey")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n${plan.take(1500)}")
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      s.sql("DROP TABLE IF EXISTS orders_b")
      s.sql("DROP TABLE IF EXISTS cust_b")
    }
  }

  test("runAll surfaces a failure only after every sibling task has finished") {
    val siblingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Scale.runAll(
        () => throw new IllegalStateException("first task fails at once"),
        () => { Thread.sleep(500); siblingDone.set(true) })
    }
    assert(e.getMessage == "first task fails at once")
    assert(siblingDone.get, "the sibling task outlived the failure it ran beside")
  }

  test("connectedComponents labels chains, cliques, and isolated nodes with the component min") {
    import s.implicits._
    // chain 0-1-2-...-11 (phase-1 star can't merge a long chain in one step,
    // so the contracted graph is non-empty and the phase-3 fixpoint loop
    // must actually iterate), a 4-clique {20..23}, an edge {30,31}, and
    // isolated nodes 40..42
    val chain = (0L until 11L).map(i => (i, i + 1))
    val clique = for (a <- 20L to 23L; b <- (a + 1) to 23L) yield (a, b)
    val pairs = (chain ++ clique :+ ((30L, 31L))).toDF("doc_a", "doc_b")
    val nodes = ((0L to 11L) ++ (20L to 23L) ++ (30L to 31L) ++ (40L to 42L))
      .toDF("doc_id")
    val got = Scale.connectedComponents(nodes, pairs)
      .as[(Long, Long)].collect().toMap
    (0L to 11L).foreach(i => assert(got(i) == 0L, s"chain node $i"))
    (20L to 23L).foreach(i => assert(got(i) == 20L, s"clique node $i"))
    (30L to 31L).foreach(i => assert(got(i) == 30L, s"edge node $i"))
    (40L to 42L).foreach(i => assert(got(i) == i, s"isolated node $i"))
  }

  test("connectedComponents handles reversed-id edges and an all-in-one component") {
    import s.implicits._
    // edges given large-first and a topology whose min is reached only
    // through several contraction-graph hops: star arms meeting at high ids
    val pairs = Seq((9L, 3L), (3L, 7L), (7L, 1L), (8L, 2L), (2L, 6L), (6L, 1L), (5L, 4L), (4L, 1L))
      .toDF("doc_a", "doc_b")
    val nodes = (1L to 9L).toDF("doc_id")
    val got = Scale.connectedComponents(nodes, pairs).as[(Long, Long)].collect().toMap
    (1L to 9L).foreach(i => assert(got(i) == 1L, s"node $i labeled ${got(i)}"))
  }

  test("ANN candidate recall vs exact top-5 is quantified (and below 100% on this corpus)") {
    // The recall accounting behind a design decision (VERDICT r4 item 8):
    // an `llm_sim_topk_ann` op with an EXACT top-k oracle is only honest if
    // the index's candidate set provably contains every true top-5 neighbor.
    // Measured here (and in DuckDB at sf0.01/sf0.1 during round 5): true
    // top-5 cosines sit at 0.26-0.49 (theta 60-75deg), where sign-LSH bit
    // agreement is ~0.6 — 4x4-bit banding recalls 50-56%, and IVF@2-of-8
    // probes 80-90%; even 16-of-32 probes (half the corpus as candidates)
    // missed 4/50 at sf0.01. No selective index reaches 100% here, so the
    // exact-oracle variant does NOT ship; this test pins the measured floors
    // and trips if the corpus ever changes enough to revisit.
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
    val exact = ops.SimKernel.scoreAgainstQueries(s, emb, emb.filter(col("vec_id") < 10))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("vid"))))
      .filter(col("rank") <= 5).select("qid", "vid").cache()
    try {
      val nExact = exact.count()
      assert(nExact == 50L, s"expected 10 queries x top-5, got $nExact")
      // LSH candidates: 16 sign hyperplanes, 4 bands x 4 bits, any-band match
      val hyp = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("hid"), col("v").as("hv"))
      val bands = emb.select(col("vec_id"), col("v").as("vv"))
        .join(broadcast(hyp), lit(true))
        .select(col("vec_id"), expr("CAST(hid div 4 AS INT)").as("band"),
          expr("IF(graft_dot(vv, hv) >= 0.0d, shiftleft(1L, CAST(hid % 4 AS INT)), 0L)").as("bitval"))
        .groupBy("vec_id", "band").agg(sum("bitval").as("bval"))
      val lshCand = bands.select(col("vec_id").as("qid"), col("band"), col("bval"))
        .join(bands.select(col("vec_id").as("vid"), col("band"), col("bval")), Seq("band", "bval"))
        .filter(col("qid") < 10 && col("qid") =!= col("vid"))
        .select("qid", "vid").distinct()
      // IVF candidates: 8 coarse centroids, 2-probe
      val cent = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("v").as("vb"), col("nrm").as("nb"))
      def nearest(src: org.apache.spark.sql.DataFrame, idCol: String, k: Int) = src
        .select(col("vec_id").as(idCol), col("v").as("va"), col("nrm").as("na"))
        .join(broadcast(cent), lit(true))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(idCol)
            .orderBy((expr("graft_dot(va, vb)") / (col("na") * col("nb"))).desc, col("cid"))))
        .filter(col("rn") <= k).select(idCol, "cid")
      val ivfCand = nearest(emb.filter(col("vec_id") < 10), "qid", 2)
        .join(nearest(emb, "vid", 1), "cid")
        .filter(col("qid") =!= col("vid")).select("qid", "vid").distinct()
      val lshHit = exact.intersect(lshCand).count()
      val ivfHit = exact.intersect(ivfCand).count()
      assert(lshHit * 2 >= nExact, s"LSH recall collapsed: $lshHit/$nExact (floor 50%)")
      assert(ivfHit * 5 >= nExact * 4, s"IVF recall collapsed: $ivfHit/$nExact (floor 80%)")
      assert(lshHit < nExact && ivfHit < nExact,
        s"an index reached 100% recall (LSH $lshHit, IVF $ivfHit of $nExact) — " +
          "the exact-oracle llm_sim_topk_ann design is back on the table; revisit VERDICT r4 item 8")
    } finally { exact.unpersist(); () }
  }

  test("coordinate/prefix filtering admits no exact candidate pruning on this corpus (measured)") {
    // r9 verdict item 1 asked whether Fagin/TA top-|coordinate| indexing or
    // Bayardo/PPJoin-style norm/prefix filtering could bound
    // llm_sim_cosine_pairs candidates below 50% of C(n,2) at threshold 0.5
    // WITHOUT cluster geometry (isotropy-immune). Measured on the real
    // corpus, three independent killers — this test pins them so a corpus
    // change that reopens the design trips loudly (same contract as the ANN
    // recall floors above; prose twin in SCALE_TUNING.md):
    //   (a) every embedding is exactly unit-norm → Bayardo norm-range
    //       partitioning has ZERO discrimination;
    //   (b) coordinate mass is FLAT (top-16 of 64 coords hold ~72%, not
    //       Zipf-concentrated) → for a pair sharing no top-16 coordinate the
    //       best exact dot bound √μ_a·√(1−μ_b) + √(1−μ_a) still exceeds the
    //       0.5 threshold, so a shared-top-coordinate filter never certifies
    //       an exclusion;
    //   (c) the single-coordinate pigeonhole condition
    //       max_i a_i·b_i ≥ t/64·‖a‖‖b‖ — NECESSARY for any exactness-
    //       preserving coordinate filter to exclude a pair (if dot ≥ t, some
    //       coordinate product reaches the mean) — fires on ≈100% of pairs.
    // Conclusion: no coordinate/norm/prefix structure on this corpus meets
    // the <50%-candidates bound; the O(n²)-work label on
    // llm_sim_cosine_pairs/llm_sim_knn is proven optimal for exact
    // semantics here, and the SimKernel design (shed the quadratic SHUFFLE,
    // prune ~half the per-pair WORK via prefix+Cauchy–Schwarz) stands as
    // the scale answer.
    val sp = s; import sp.implicits._
    val vecs = ops.Shared.vecs(s, d).select("vec_id", "v", "nrm")
      .as[(Long, Array[Double], Double)].collect().sortBy(_._1)
    val n = vecs.length
    assert(n >= 100, s"fixture corpus unexpectedly small: $n")
    // (a) unit norms
    val nrms = vecs.map(_._3)
    assert(nrms.max - nrms.min < 1e-6,
      f"norm spread ${nrms.max - nrms.min}%.2e — norm partitioning became " +
        "discriminative; revisit the Bayardo norm-range design")
    // (b) flat coordinate mass: mean top-16 |coord|² share, and the implied
    // no-shared-top-coordinate dot bound vs the 0.5 threshold
    val topMass = vecs.map { case (_, v, nrm) =>
      val m = v.map(x => x * x / (nrm * nrm)).sorted(Ordering[Double].reverse)
      m.take(16).sum
    }
    val mu = topMass.sum / n
    val bound = math.sqrt(mu) * math.sqrt(1 - mu) + math.sqrt(1 - mu)
    assert(bound > 0.5 + 0.1,
      f"no-shared-top-16 dot bound $bound%.3f approaches the 0.5 threshold " +
        "— coordinate mass concentrated; a top-coordinate index may now prune")
    // (c) pigeonhole-candidate fraction over a deterministic pair sample
    val t = 0.5
    var cand = 0L; var total = 0L
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val (_, va, na) = vecs(i); val (_, vb, nb) = vecs(j)
        var k = 0; var mx = Double.MinValue
        while (k < va.length) { val p = va(k) * vb(k); if (p > mx) mx = p; k += 1 }
        if (mx >= t / va.length * na * nb) cand += 1
        total += 1
        j += 1
      }
      i += 7 // stride keeps the sample deterministic and the loop fast
    }
    assert(cand.toDouble / total > 0.9,
      f"pigeonhole candidate fraction ${cand.toDouble / total}%.3f — a " +
        "coordinate filter could now exclude >10% of pairs; revisit the " +
        "prefix-filter design for llm_sim_cosine_pairs")
  }

  test("sink_compacted collapses the small-files explosion to 4 files") {
    SparkEntry.queries("sink_compacted")(s, d).collect() // runs both writes
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles((_, n) => n.endsWith(".parquet")).length
    val base = System.getProperty("java.io.tmpdir")
    val tag = Math.abs(d.hashCode)
    val small = parquetFiles(s"$base/graft_smallfiles$tag")
    val packed = parquetFiles(s"$base/graft_compacted$tag")
    assert(small > packed, s"compaction did not reduce file count ($small -> $packed)")
    assert(packed == 4, s"expected 4 compacted files, got $packed")
  }

  test("ts_downsample_triangle: the bucketed-points checkpoint goes DISK_ONLY above the small-corpus tier") {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.storage.StorageLevel
    // Gates.smallCorpus reads only the byte size of documents.parquet, so
    // the real events table beside a 3 MiB documents stand-in puts the op
    // above the tier without a corpus-sized fixture.
    val big = java.nio.file.Files.createTempDirectory("graft_corpus_tier")
    try {
      java.nio.file.Files.copy(java.nio.file.Paths.get(d, "events.parquet"),
        big.resolve("events.parquet"))
      java.nio.file.Files.write(big.resolve("documents.parquet"), new Array[Byte](3 << 20))
      def levels(dir: String): Seq[StorageLevel] =
        SparkEntry.queries("ts_downsample_triangle")(s, dir).queryExecution.logical
          .collect { case r: LogicalRDD => r.rdd.getStorageLevel }.distinct
      assert(Gates.smallCorpus(s, d) && !Gates.smallCorpus(s, big.toString))
      assert(levels(d) == Seq(StorageLevel.MEMORY_AND_DISK))
      assert(levels(big.toString) == Seq(StorageLevel.DISK_ONLY))
    } finally {
      java.nio.file.Files.list(big).forEach(f => java.nio.file.Files.delete(f))
      java.nio.file.Files.delete(big)
    }
  }
}
