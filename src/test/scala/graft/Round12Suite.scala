package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftRangeMicroBatchStream, GraftRangeScanBuilder}

/** Round-12 surface: the V2 streaming SOURCE (MicroBatchStream with
  * offset/commit + restart recovery), the pushdown mutual-exclusion
  * guard, and the streaming-sink ledger's restart-stability contract. */
class Round12Suite extends AnyFunSuite {
  private lazy val sp = TestSpark.spark
  private val sf = TestSpark.sf

  // ------------------------------------------------- streaming source

  test("stream_dsv2_source: multi-epoch stream census == batch census, >=3 epochs, monotonic commits") {
    GraftRangeMicroBatchStream.reset()
    val res = SparkEntry.queries("stream_dsv2_source")(sp, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // batch twin: the same census straight off the batch read path
    val want = sp.read.format("graft.sources.GraftRangeSource")
      .option("rows", "60000").load()
      .groupBy("tag")
      .agg(count(lit(1)).as("n"), sum("val").as("sum_val"),
        min("id").as("min_id"), max("id").as("max_id"))
      .orderBy("tag")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(res.toSeq == want.toSeq, "stream census != batch census")
    // 60000 rows at batchRows=20000 => exactly 3 non-empty admitted spans.
    // The engine may plan the same epoch span more than once (plan
    // construction + execution are separate calls); replanning is
    // idempotent by design, so dedupe before the tiling check.
    val planned = GraftRangeMicroBatchStream.planned.filter(p => p._2 > p._1).distinct
    assert(planned.size >= 3, s"expected >=3 epochs, planned: $planned")
    // spans tile [0, 60000) without gap or overlap
    assert(planned.sortBy(_._1).foldLeft(0L) { case (expect, (a, b)) =>
      assert(a == expect, s"offset gap/overlap at $a (expected $expect)"); b
    } == 60000L)
    // commits arrive in nondecreasing offset order, each one a planned
    // span boundary. The engine commits a source offset when the NEXT
    // batch is constructed, so the FINAL epoch's commit may not fire
    // before an AvailableNow query terminates — all earlier epochs must
    // have committed (the checkpoint's own commit log covers the last).
    val commits = GraftRangeMicroBatchStream.committed
    assert(commits.nonEmpty && commits == commits.sorted, s"non-monotonic commits: $commits")
    assert(commits.forall(c => planned.exists(_._2 == c)), s"commit not on an epoch boundary: $commits")
    assert(commits.last >= 40000L, s"commits stalled at ${commits.last} (planned: $planned)")
  }

  test("stream_dsv2_source: kill between sink and checkpoint commit -> replay is exact (no loss, no dup)") {
    val sink = Files.createTempDirectory("graft_rngsrc_sink").toString + "/sink"
    val chk = Files.createTempDirectory("graft_rngsrc_chk").toString
    val delivered = scala.collection.mutable.ListBuffer[Long]()
    val batchCounts = scala.collection.mutable.Map[Long, Long]()
    def query() = sp.readStream.format("graft.sources.GraftRangeSource")
      .option("rows", "3000").option("slices", "3").option("batchRows", "1000")
      .load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val df = b.toDF()
        delivered.synchronized {
          delivered += id
          batchCounts.get(id) match {
            case Some(prev) =>
              // replay determinism: the re-planned (start, end] span must
              // regenerate the identical row set
              assert(df.count() == prev, s"replayed batch $id changed size")
            case None => batchCounts(id) = df.count()
          }
        }
        graft.ops.Streaming.commitBatchIdempotent(df, id, sink); ()
      }
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .start()
    val q1 = query()
    q1.awaitTermination()
    val run1 = delivered.toList
    assert(run1.distinct.size >= 3, s"need >=3 microbatches in run 1, saw $run1")
    // THE KILL: sink marker durable, Spark's own commit record lost — the
    // restart must RE-DELIVER that batch id from the offset log with the
    // same offsets (offsets/<n> present, commits/<n> absent).
    val commitsDir = new java.io.File(chk, "commits")
    val last = commitsDir.listFiles().map(_.getName).filter(_.forall(_.isDigit))
      .map(_.toLong).max
    assert(new java.io.File(commitsDir, last.toString).delete(), "commit record delete failed")
    new java.io.File(commitsDir, s".$last.crc").delete()
    val q2 = query()
    q2.awaitTermination()
    assert(delivered.count(_ == last) >= 2,
      s"restart did not replay batch $last (delivered: $delivered)")
    // exactly-once across the kill: every id exactly once
    val got = graft.ops.Streaming.readCommittedBatches(sp, sink)
    assert(got.count() == 3000L, s"row count ${got.count()} != 3000 after replay")
    assert(got.select("id").distinct().count() == 3000L, "duplicate ids after replay")
    val sums = got.agg(sum("id"), sum("val")).collect().head
    assert(sums.getLong(0) == 3000L * 2999L / 2, "sum(id) wrong after replay")
  }

  // ------------------------------------------ pushdown mutual exclusion

  test("pushTopN/pushLimit/pushOffset refuse to co-occur (span arithmetic guard)") {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, NullOrdering}
    def sb() = new GraftRangeScanBuilder(1000L, 4)
    val topN = Array(Expressions.sort(Expressions.column("id"), SortDirection.DESCENDING,
      NullOrdering.NULLS_LAST))
    // topN first: limit and offset must then be refused
    val b1 = sb()
    assert(b1.pushTopN(topN, 10))
    assert(!b1.pushLimit(5), "limit accepted after topN — offset/limit would mis-compose")
    assert(!b1.pushOffset(5), "offset accepted after topN")
    // limit first: topN must then be refused
    val b2 = sb()
    assert(b2.pushLimit(5))
    assert(!b2.pushTopN(topN, 10), "topN accepted after limit")
    // offset first: topN must then be refused
    val b3 = sb()
    assert(b3.pushOffset(5))
    assert(!b3.pushTopN(topN, 10), "topN accepted after offset")
    // limit+offset together remain allowed (one page, well-defined order)
    val b4 = sb()
    assert(b4.pushOffset(7) && b4.pushLimit(5))
  }

  // ------------------------------------------- row-level operations (V2)

  test("sink_v2_merge: MERGE INTO plans as ReplaceData and matches the declarative emulation") {
    val s = sp.newSession()
    s.conf.set("spark.sql.catalog.graftmem", "graft.sources.GraftMemCatalog")
    // plan shape: the analyzer must rewrite MERGE into a group-based
    // ReplaceData over the row-level operation's own scan, not fall back
    // to an unsupported-operation error or a delta write
    s.sql("DROP TABLE IF EXISTS graftmem.rlo_plan_t")
    s.range(0, 10).select(col("id").as("k"), (col("id") * 2).as("v"))
      .writeTo("graftmem.rlo_plan_t").createOrReplace()
    s.range(5, 15).select(col("id").as("k"), (col("id") * 3).as("v"))
      .createOrReplaceTempView("rlo_plan_src")
    val planText = s.sql(
      """EXPLAIN EXTENDED MERGE INTO graftmem.rlo_plan_t t USING rlo_plan_src s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET v = s.v
         WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
      .collect().map(_.getString(0)).mkString("\n")
    assert(planText.contains("ReplaceData"),
      s"MERGE did not plan as group-based ReplaceData:\n${planText.take(2000)}")
    // semantics through the declared op: equal to the emulation's census
    val r = SparkEntry.queries("sink_v2_merge")(sp, sf).collect().head
    val base = Tables.customer(sp, sf)
      .select(col("c_custkey").as("k"), graft.Norm.money(col("c_acctbal")).as("bal"))
    val merged = base.filter(col("k") % 13 =!= 0)
      .select(col("k"), when(col("k") % 10 === 0, col("bal") + 10000L).otherwise(col("bal")).as("bal"))
      .unionAll(base.filter(col("k") % 100 === 0)
        .select((-col("k") - 1L).as("k"), lit(0L).as("bal")))
    val w = merged.agg(count(lit(1)), sum("bal"),
      sum(when(col("k") < 0, 1L).otherwise(0L)), min("k"), max("k")).collect().head
    assert((0 to 4).forall(i => r.getLong(i) == w.getLong(i)),
      s"MERGE census $r != emulation census $w")
  }

  test("sink_v2_merge_delta: MERGE on a rowlevel=delta table plans as WriteDelta and equals the group-based result") {
    val s = sp.newSession()
    s.conf.set("spark.sql.catalog.graftmem", "graft.sources.GraftMemCatalog")
    // plan shape: delta strategy → WriteDelta, not ReplaceData
    s.sql("DROP TABLE IF EXISTS graftmem.delta_plan_t")
    s.range(0, 10).select(col("id").as("k"), (col("id") * 2).as("v"))
      .writeTo("graftmem.delta_plan_t").tableProperty("rowlevel", "delta").createOrReplace()
    s.range(5, 15).select(col("id").as("k"), (col("id") * 3).as("v"))
      .createOrReplaceTempView("delta_plan_src")
    val planText = s.sql(
      """EXPLAIN EXTENDED MERGE INTO graftmem.delta_plan_t t USING delta_plan_src s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET v = s.v
         WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
      .collect().map(_.getString(0)).mkString("\n")
    assert(planText.contains("WriteDelta"),
      s"delta-mode MERGE did not plan as WriteDelta:\n${planText.take(2000)}")
    assert(!planText.contains("ReplaceData"), "delta-mode MERGE fell back to group replacement")
    // semantics: the delta strategy must land on the identical census as
    // the group-based strategy on the same changelog
    val delta = SparkEntry.queries("sink_v2_merge_delta")(sp, sf).collect().head
    val group = SparkEntry.queries("sink_v2_merge")(sp, sf).collect().head
    assert((0 to 4).forall(i => delta.getLong(i) == group.getLong(i)),
      s"WriteDelta census $delta != ReplaceData census $group")
  }

  test("delta table: positional DELETE and UPDATE through the changelog path") {
    val s = sp.newSession()
    s.conf.set("spark.sql.catalog.graftmem", "graft.sources.GraftMemCatalog")
    s.sql("DROP TABLE IF EXISTS graftmem.delta_dml_t")
    s.range(0, 100).select(col("id").as("k"), (col("id") % 10).as("v"))
      .writeTo("graftmem.delta_dml_t").tableProperty("rowlevel", "delta").createOrReplace()
    val delPlan = s.sql("EXPLAIN DELETE FROM graftmem.delta_dml_t WHERE v = 3")
      .collect().map(_.getString(0)).mkString("\n")
    assert(delPlan.contains("WriteDelta"), s"delta DELETE not planned as WriteDelta:\n$delPlan")
    s.sql("DELETE FROM graftmem.delta_dml_t WHERE v = 3")
    assert(s.table("graftmem.delta_dml_t").count() == 90L)
    s.sql("UPDATE graftmem.delta_dml_t SET v = v + 100 WHERE k < 10")
    assert(s.table("graftmem.delta_dml_t").filter(col("v") >= 100).count() == 9L)
    assert(s.table("graftmem.delta_dml_t").count() == 90L)
    // untouched rows kept their values — the positional apply didn't smear
    assert(s.table("graftmem.delta_dml_t").filter(col("k") === 57).collect()
      .head.getLong(1) == 7L)
  }

  test("delta apply conflict-aborts when the table changed since the scan planned (optimistic concurrency)") {
    import graft.sources.GraftMemStore
    import org.apache.spark.sql.types._
    val key = "t12cat.cc_probe"
    GraftMemStore.drop(key)
    GraftMemStore.create(key, StructType(Seq(StructField("k", LongType))))
    GraftMemStore.publish(key, StructType(Seq(StructField("k", LongType))),
      Array(Array[Any](1L), Array[Any](2L)), truncate = false)
    val gen = GraftMemStore.generation(key)
    // a concurrent writer publishes between scan planning and delta commit
    GraftMemStore.publish(key, StructType(Seq(StructField("k", LongType))),
      Array(Array[Any](3L)), truncate = false)
    // the stale-positioned delta must abort, not corrupt or drop rows
    intercept[java.util.ConcurrentModificationException] {
      GraftMemStore.applyDelta(key, gen, new java.util.HashSet[Long](),
        new java.util.HashMap[Long, Array[Any]](), Array.empty)
    }
    assert(GraftMemStore.rows(key).length == 3, "conflict abort must leave the table untouched")
    // with the CURRENT generation the apply goes through atomically
    val del = new java.util.HashSet[Long](); del.add(0L)
    GraftMemStore.applyDelta(key, GraftMemStore.generation(key), del,
      new java.util.HashMap[Long, Array[Any]](), Array(Array[Any](9L)))
    assert(GraftMemStore.rows(key).map(_.head).toSeq == Seq(2L, 3L, 9L))
    GraftMemStore.drop(key)
  }

  test("DELETE FROM and UPDATE plan through the same row-level machinery") {
    val s = sp.newSession()
    s.conf.set("spark.sql.catalog.graftmem", "graft.sources.GraftMemCatalog")
    s.sql("DROP TABLE IF EXISTS graftmem.rlo_dml_t")
    s.range(0, 100).select(col("id").as("k"), (col("id") % 10).as("v"))
      .writeTo("graftmem.rlo_dml_t").createOrReplace()
    // DELETE: no metadata-delete support on the table, so the rewrite
    // path (ReplaceData of the survivors) is the only way this works
    val delPlan = s.sql("EXPLAIN DELETE FROM graftmem.rlo_dml_t WHERE v = 3")
      .collect().map(_.getString(0)).mkString("\n")
    assert(delPlan.contains("ReplaceData"), s"DELETE not planned as ReplaceData:\n$delPlan")
    s.sql("DELETE FROM graftmem.rlo_dml_t WHERE v = 3")
    assert(s.table("graftmem.rlo_dml_t").count() == 90L)
    assert(s.table("graftmem.rlo_dml_t").filter(col("v") === 3).count() == 0L)
    // UPDATE
    s.sql("UPDATE graftmem.rlo_dml_t SET v = v + 100 WHERE k < 10")
    val upd = s.table("graftmem.rlo_dml_t").filter(col("v") >= 100)
    assert(upd.count() == 9L, s"expected 9 updated rows (k<10 minus the deleted v=3), got ${upd.count()}")
    assert(s.table("graftmem.rlo_dml_t").count() == 90L, "UPDATE must not change row count")
  }

  // ------------------------------------- MemSink file-backed staging

  test("MemSink staged transport: commit message is O(1) for a corpus-sized task write") {
    import graft.sources._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    val w = new GraftMemWriterFactory(schema).createWriter(0, 0L)
    (0L until 100000L).foreach(i => w.write(new GenericInternalRow(Array[Any](i, i * 3))))
    val m = w.commit().asInstanceOf[GraftMemStagedCommit]
    try {
      assert(m.nRows == 100000L)
      // the manifest itself — what crosses the task→driver channel — must
      // not scale with the rows: serialize it and bound the bytes
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos); oos.writeObject(m); oos.close()
      assert(bos.size() < 1024, s"commit message serialized to ${bos.size()} bytes — payload leaked in")
      // the staged file holds the actual rows and reads back exactly
      val rows = GraftMemStaging.read(m.path, m.nRows)
      assert(rows.length == 100000 && rows(99999).toSeq == Seq(99999L, 299997L))
    } finally GraftMemStaging.delete(m.path)
  }

  test("MemSink staged transport: corpus-sized frame through the catalog write round-trips") {
    val s = sp.newSession()
    s.conf.set("spark.sql.catalog.graftmem", "graft.sources.GraftMemCatalog")
    s.sql("DROP TABLE IF EXISTS graftmem.staged_big")
    s.range(0, 60000).select(col("id"), (col("id") % 97).as("m"))
      .repartition(8)
      .writeTo("graftmem.staged_big").createOrReplace()
    val back = s.table("graftmem.staged_big")
    assert(back.count() == 60000L)
    val agg = back.agg(sum("id"), countDistinct("m")).collect().head
    assert(agg.getLong(0) == 60000L * 59999L / 2 && agg.getLong(1) == 97L)
  }

  // ------------------------------------- win_percent structural bound

  test("win_percent: bucketed two-pass rank == native window functions; per-bucket state value-bounded") {
    import org.apache.spark.sql.expressions.Window
    val res = SparkEntry.queries("win_percent")(sp, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    val w = Window.orderBy("o_totalprice")
    val native = Tables.orders(sp, sf)
      .select(col("o_orderkey"), col("o_totalprice"),
        graft.Norm.d4(percent_rank().over(w)).as("pct_rank"),
        graft.Norm.d4(cume_dist().over(w)).as("cdist"))
      .orderBy("o_totalprice", "o_orderkey").limit(500)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    assert(res.toSeq == native.toSeq, "bucketed rank diverged from the native window form")
    // the structural bound: per-bucket distinct-value cardinality is capped
    // by the cents div 100000 split at 100,000 — independent of how the
    // price distribution concentrates
    val maxPerBucket = Tables.orders(sp, sf)
      .select(graft.Norm.money(col("o_totalprice")).as("cents"))
      .withColumn("bkt", expr("cents div 100000"))
      .groupBy("bkt").agg(countDistinct("cents").as("nv"))
      .agg(max("nv")).collect().head.getLong(0)
    assert(maxPerBucket <= 100000L, s"bucket cardinality $maxPerBucket exceeds the structural cap")
  }

  // --------------------------------- streaming-sink ledger across restart

  test("GraftMemStreamingWrite ledger: restart from existing checkpoint does not double-apply epochs") {
    // r11 advice: exactly-once across a query RESTART depends on
    // LogicalWriteInfo.queryId being the checkpoint-stable query id (not a
    // per-run id). Pin it: run an AvailableNow query, delete Spark's last
    // commit record (the kill window), rerun against the SAME checkpoint —
    // the re-delivered epoch must hit the ledger and add nothing.
    val s = sp.newSession()
    s.conf.set("spark.sql.catalog.graftmem", "graft.sources.GraftMemCatalog")
    val src = Files.createTempDirectory("graft_memsink_restart_src").toString
    val chk = Files.createTempDirectory("graft_memsink_restart_chk").toString
    s.sql("DROP TABLE IF EXISTS graftmem.restart_t")
    s.range(0, 400).select(col("id"), (col("id") % 7).as("v"))
      .repartition(4, col("id"))
      .write.mode("overwrite").json(src)
    def run(): Unit = {
      val q = s.readStream.schema("id LONG, v LONG")
        .option("maxFilesPerTrigger", "1").json(src)
        .writeStream.option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .toTable("graftmem.restart_t")
      q.awaitTermination()
    }
    run()
    assert(s.table("graftmem.restart_t").count() == 400L)
    // kill window: epoch data committed to the sink, Spark's commit record lost
    val commitsDir = new java.io.File(chk, "commits")
    val last = commitsDir.listFiles().map(_.getName).filter(_.forall(_.isDigit))
      .map(_.toLong).max
    assert(new java.io.File(commitsDir, last.toString).delete())
    new java.io.File(commitsDir, s".$last.crc").delete()
    run() // restart: re-delivers epoch `last` under the restored query id
    val t = s.table("graftmem.restart_t")
    assert(t.count() == 400L,
      s"restart double-applied an epoch: ${t.count()} rows (queryId not checkpoint-stable?)")
    assert(t.select("id").distinct().count() == 400L, "duplicate ids after restart")
  }

  // ----------------------- benchmark-gram broadcast sides (sf100 decade)

  test("llm_decontaminate broadcasts the bounded train slice, never the corpus-growing eval side") {
    // The sf100 leg killed the broadcast(eval) shape at driver.maxResultSize
    // (BASELINE r12 fourth decade). The hint must sit on the side bounded
    // BY CONSTRUCTION: doc_id < 400. Pin it in the physical plan — the
    // BroadcastExchange subtree must contain the `< 400` train filter and
    // must NOT contain the `>= 400` eval filter.
    // Under AQE the physical exchange only materializes at execution, so
    // the pin sits on the optimized logical plan's hint placement — which
    // is exactly what the fix changed.
    // (EliminateResolvedHint folds the hint into the Join's JoinHint.)
    val df = SparkEntry.queries("llm_decontaminate")(sp, sf)
    val hinted = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.hint.leftHint.exists(_.strategy.nonEmpty)
            || j.hint.rightHint.exists(_.strategy.nonEmpty) =>
        val side = if (j.hint.leftHint.exists(_.strategy.nonEmpty)) j.left else j.right
        side.toString()
    }
    assert(hinted.nonEmpty, "expected a broadcast-hinted join in llm_decontaminate's plan")
    assert(hinted.exists(_.contains("< 400")),
      s"broadcast side should be the train (< 400) slice:\n${hinted.mkString("\n")}")
    assert(!hinted.exists(_.contains(">= 400")),
      s"the corpus-growing eval (>= 400) side must not be broadcast:\n${hinted.mkString("\n")}")
  }

  test("benchGramBroadcast gates the contamination bench hint by slice bytes") {
    // The contamination bench frame is hinted through Gates.broadcastUnder
    // with the gram cap. Below the cap the hint engages (the oracle-tier
    // fixtures are tiny); the gate itself is pure arithmetic on the slice
    // size, so the above-cap branch is checked directly on the plan's hints.
    val docs = sp.read.parquet(s"$sf/documents.parquet").limit(10)
    val hinted = Gates.broadcastUnder(docs, 1L << 20, Gates.GramCap)
    val unhinted = Gates.broadcastUnder(docs, 1L << 40, Gates.GramCap)
    def hasHint(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.logical.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.UnresolvedHint => h
        case r: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => r
      }.nonEmpty
    assert(hasHint(hinted), "below the cap the bench frame must carry the broadcast hint")
    assert(!hasHint(unhinted), "above the cap the hint must drop (shuffle-join degradation)")
    // and the real op still plans a broadcast at oracle scale
    val p = SparkEntry.queries("llm_contamination")(sp, sf).queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "llm_contamination should broadcast its bench frame at fixture scale")
  }
}
