package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 closures: VERDICT r9 items + ADVICE fixes. */
class Round10Suite extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val d = "/root/testdata/sf0.01"

  test("llm_sample_temperature: floor(1e6·n^0.7) is ulp-flip-proof for every reachable per-source count") {
    // r9 ADVICE (low): exp(0.7·ln n) is two libm calls per engine; a
    // cross-engine divergence can flip floor() only when 1e6·n^0.7 sits
    // within ~|x|·3e-15 of an integer. The harness domain of per-source
    // counts is CLOSED: every sf fixture has uniform sources (25 at
    // sf0.001/sf0.01, 250 at sf0.1) and ScaleUp tiles documents exactly
    // ×copies per source — so {25, 250} × {1, 10, 100, 1000} covers
    // sf0.001 through sf100. Margin demanded: 1e-3 absolute, ≥ 7 orders
    // above the divergence bound at the largest value (~1e-5 at n=250k).
    val reachable = for (base <- Seq(25L, 250L); mult <- Seq(1L, 10L, 100L, 1000L))
      yield base * mult
    reachable.foreach { n =>
      val x = 1e6 * math.exp(0.7 * math.log(n.toDouble))
      val dist = math.abs(x - math.rint(x))
      assert(dist > 1e-3,
        s"n=$n: 1e6·n^0.7 = $x is only $dist from an integer — floor flip risk")
    }
    // And the declared op agrees with the JVM-side weights on the fixture.
    val got = SparkEntry.queries("llm_sample_temperature")(s, d).collect()
      .map(r => r.getAs[Long]("n_docs") -> r.getAs[Long]("weight_u")).toMap
    got.foreach { case (n, w) =>
      assert(w == math.floor(1e6 * math.exp(0.7 * math.log(n.toDouble))).toLong)
    }
    assert(got.values.sum > 0)
  }

  test("ts_downsample_triangle: rebased-time area math is translation-invariant and BIGINT-safe") {
    // r9 ADVICE (low): with raw epoch t (~1.7e9), the Σt_next·n_prev
    // factor wrapped Long at ~1e5-row buckets. The fix rebases tr = t−t0;
    // the triangle area is invariant under time translation, so outputs
    // are unchanged — asserted here against an independent double-space
    // LTTB-mean-anchor reference on the fixture's largest series.
    val rows = SparkEntry.queries("ts_downsample_triangle")(s, d).collect()
    assert(rows.nonEmpty)
    // Interior buckets only: 30 per type (32 minus the two boundary ones).
    val byType = rows.groupBy(_.getString(0))
    byType.foreach { case (t, rs) =>
      assert(rs.length <= 30, s"$t: ${rs.length} selected points > 30 interior buckets")
      val buckets = rs.map(_.getLong(1))
      assert(buckets.distinct.length == buckets.length, s"$t: duplicate bucket selection")
      assert(buckets.forall(b => b >= 1 && b <= 30), s"$t: boundary bucket selected")
    }
    // Factor-magnitude audit: recompute the largest |stn·np| (the r9
    // overflow term) from the fixture under REBASED time and prove the
    // documented BIGINT headroom claim holds with ≥ 1e3 margin at sf0.01.
    import s.implicits._
    val pts = Tables.events(s, d).select(col("event_type"),
      unix_timestamp(Norm.tsec(col("ts"))).as("t"))
    val spn = pts.groupBy("event_type").agg(min("t").as("t0"), max("t").as("t1"))
    val mx = pts.join(broadcast(spn), "event_type")
      .withColumn("bucket", expr("(t - t0) * 32 div (t1 - t0 + 1)"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n"), sum(expr("t - t0")).as("st"))
      .agg(max(expr("abs(st) * n")).as("m")).as[Long].head()
    assert(mx < Long.MaxValue / 1000, s"rebased factor $mx too close to BIGINT wrap")
  }

  test("scan_dsv2_pushdown: id filters narrow the source span; projection drops id from the read schema") {
    val df = SparkEntry.queries("scan_dsv2_pushdown")(s, d)
    val plan = df.queryExecution.executedPlan.toString
    // Filter pushdown: the scan's generated span must be the PUSHED range,
    // not [0, rows) — proof the predicates reached the source and pruned
    // generation (the DSV2 twin of PushedFilters reaching a parquet scan).
    assert(plan.contains("span=[20000,70000)"), s"id range not pushed into the scan:\n$plan")
    assert(plan.contains("IsNotNull(id)") || plan.contains("GreaterThanOrEqual(id,20000)"),
      s"pushed filter list missing from the scan description:\n$plan")
    // Projection pushdown: the aggregate needs bucket/val and the residual
    // tag test — `id` is fully consumed by the pushed filters, so column
    // pruning must remove it from the source's read schema.
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema: struct<"))
      .getOrElse(fail(s"no ReadSchema in scan description:\n$plan"))
    assert(!readSchema.matches(".*struct<[^>]*\\bid\\b[^>]*>.*"),
      s"id survived column pruning:\n$readSchema")
    assert(readSchema.contains("bucket") && readSchema.contains("val") && readSchema.contains("tag"),
      s"required columns missing from read schema:\n$readSchema")
    // The residual (non-id) predicate must stay a Spark-side Filter. Match
    // the residual's own predicate text, not the bare substring "Filter" —
    // the scan description always contains "PushedFilters", which made the
    // old assertion vacuous (r10 ADVICE, low).
    assert(plan.contains("NOT (tag"), s"residual tag filter vanished:\n$plan")
    // Partition planning: the narrowed span splits into the declared
    // slices, each a contiguous sub-span of [20000, 70000).
    import scala.jdk.CollectionConverters._
    val scan = new graft.sources.GraftRangeSource()
      .getTable(null, Array.empty, Map("rows" -> "100000", "slices" -> "8").asJava)
      .asInstanceOf[graft.sources.GraftRangeTable]
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap()))
    val residual = scan.asInstanceOf[graft.sources.GraftRangeScanBuilder].pushFilters(Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 20000L),
      org.apache.spark.sql.sources.LessThan("id", 70000L),
      org.apache.spark.sql.sources.EqualTo("tag", "a")))
    assert(residual.toSeq == Seq(org.apache.spark.sql.sources.EqualTo("tag", "a")))
    val parts = scan.build().toBatch.planInputPartitions()
      .map(_.asInstanceOf[graft.sources.GraftRangePartition])
    assert(parts.length == 8)
    assert(parts.head.start == 20000L && parts.last.end == 70000L)
    assert(parts.sliding(2).forall { case Array(a, b) => a.end == b.start; case _ => true })
    // Statistics reporting reflects the narrowed span (the CBO channel).
    val st = scan.build().asInstanceOf[graft.sources.GraftRangeScan].estimateStatistics()
    assert(st.numRows().getAsLong == 50000L)
  }

  test("join_skew_aqe: AQE actually splits the engineered hot partition; result == salted-strategy twin") {
    val df = SparkEntry.queries("join_skew_aqe")(s, d)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.nonEmpty)
    // The final adaptive plan (available only after execution) must show
    // the sort-merge join flagged as a skew join — proof the engine
    // detected and split the 75%-hot partition rather than running it as
    // one straggler task (r9 verdict #7's plan assertion).
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("skew=true"),
      s"AQE did not split the skewed partition:\n$finalPlan")
    assert(finalPlan.contains("isFinalPlan=true"), s"not the final adaptive plan:\n$finalPlan")
    // Strategy-twin hash match: the manual saltedEquiJoin remedy over the
    // SAME engineered data must produce identical census rows — salting
    // and AQE splitting are interchangeable answers to the same skew.
    val salted = graft.Scale.saltedEquiJoin(
        graft.ops.Joins.skewAqeJoin(s, d).select("hot_key", "l_extendedprice"),
        s.range(0, 97).select(col("id").as("hk2"), (col("id") % 5).as("dim_grp")),
        "hot_key", "hk2", buckets = 8)
      .groupBy("dim_grp")
      .agg(count(lit(1)).as("n"), Norm.moneySum(col("l_extendedprice")).as("total"))
      .orderBy("dim_grp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == salted, s"AQE result diverged from salted twin:\ngot=$got\nsalted=$salted")
    // Hot-key contract: ~75% of the fact stream must actually land on key
    // 0 (the pathology the op claims to remedy).
    val hot = graft.ops.Joins.skewAqeJoin(s, d)
      .groupBy("hot_key").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = hot.values.sum
    assert(hot(0L) * 10 >= total * 7, s"hot key carries ${hot(0L)} of $total rows — not skewed")
  }

  test("graph_pagerank_fixed: edge checkpoint storage level is size-gated") {
    // r9 verdict #5: DISK_ONLY bought sf1 headroom but taxed sf0.1 by
    // +0.6–2 s. The gate keys on documents.parquet bytes (≥2 MB ⇒ sf1+).
    // At the small fixtures the edge frame must be MEMORY_AND_DISK; the
    // result must be identical either way (it is a storage level, not a
    // semantics knob) — the oracle parity run is the semantic check, here
    // we pin the gate's small-side decision and that the op still runs.
    assert(Gates.smallCorpus(s, d),
      s"test fixture unexpectedly large: ${Gates.bytes(s, d, "documents")} bytes")
    val rows = SparkEntry.queries("graph_pagerank_fixed")(s, d).collect()
    assert(rows.nonEmpty)
  }
}
