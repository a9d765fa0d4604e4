package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Norm._
import graft.Tables._
import graft.sources.GraftRangeTable
import graft.Gates

/** SURVEY.md §2.C — joins.
  *
  * Scale notes: dimension tables (region/nation/supplier/part at TPC-H
  * ratios) get explicit `broadcast()` hints so the big fact side never
  * shuffles for them; fact-fact joins (orders ⋈ lineitem) shuffle on the
  * join key and are AQE-eligible (skew-join split, runtime broadcast).
  * The as-of join deliberately avoids a join: it is a single shuffle on
  * user_id + one sorted window pass — the scalable pattern for event-time
  * as-of matching (no per-row range probe, no O(n²) candidate space).
  */
object Joins {
  /** The engineered-skew join shared by `join_skew_aqe`'s declared op and
    * its Round10Suite strategy-twin check: 75% of lineitem on hot_key 0,
    * 97-key generated dimension. Returns the joined frame BEFORE the
    * census agg so the suite can rerun it under a different skew remedy.
    *
    * `mappers > 0` round-robin-repartitions the fact side first. AQE can
    * split a skewed reduce partition ONLY at map-output granularity, and
    * the single-file single-row-group test fixture scans as ONE effective
    * mapper — unsplittable, a fixture artifact (a real fact side arrives
    * from thousands of mappers). The declared AQE op passes 16 to model
    * that reality; the salted twin doesn't need it (salting re-keys the
    * rows themselves, not the partition boundaries). */
  private[graft] def skewAqeJoin(s: SparkSession, d: String, mappers: Int = 0): DataFrame = {
    val fact0 = lineitem(s, d).select(
      expr("CASE WHEN l_orderkey % 4 = 0 THEN l_orderkey % 97 ELSE CAST(0 AS BIGINT) END")
        .as("hot_key"),
      col("l_extendedprice"))
    val fact = if (mappers > 0) fact0.repartition(mappers) else fact0
    val dim = s.range(0, 97).select(col("id").as("hot_key"),
      (col("id") % 5).as("dim_grp"))
    fact.join(dim, "hot_key")
  }

  /** The purchases among the click and purchase events, as (event_id,
    * user_id, event_type, ts_s) plus, per flag, the user's preceding click
    * `last_click_ts` and following click `next_click_ts` in (ts_s,
    * event_id) order. Each flag adds one user_id-partitioned window. */
  private def clickAsof(s: SparkSession, d: String, prev: Boolean, next: Boolean): DataFrame = {
    val ev = events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"), tsec(col("ts")).as("ts_s"))
    val byUser = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    val click = when(col("event_type") === "click", col("ts_s"))
    val withPrev = if (!prev) ev else ev.withColumn("last_click_ts",
      last(click, ignoreNulls = true).over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
    val withNext = if (!next) withPrev else withPrev.withColumn("next_click_ts",
      first(click, ignoreNulls = true).over(byUser.rowsBetween(1, Window.unboundedFollowing)))
    withNext.filter(col("event_type") === "purchase")
  }

  /** DuckDB twin of [[clickAsof]]: a SELECT of the same columns. */
  private def clickAsofSql(prev: Boolean, next: Boolean): String = {
    def click(fn: String, frame: String, as: String): String =
      s"""$fn(CASE WHEN event_type = 'click' THEN ts_s END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts_s, event_id ROWS BETWEEN $frame) AS $as"""
    val clicks = Seq(
      prev -> click("last_value", "UNBOUNDED PRECEDING AND 1 PRECEDING", "last_click_ts"),
      next -> click("first_value", "1 FOLLOWING AND UNBOUNDED FOLLOWING", "next_click_ts"))
      .collect { case (true, c) => s", $c" }.mkString
    s"""SELECT * FROM (
          SELECT event_id, user_id, event_type, ts_s$clicks
          FROM (SELECT event_id, user_id, event_type,
                       CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s
                FROM events WHERE event_type IN ('click','purchase')))
        WHERE event_type = 'purchase'"""
  }

  val ops: Map[String, Q] = Map(
    "join_inner_hash" -> ((s, d) =>
      orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"), "inner")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))
        .orderBy("c_mktsegment")),

    "join_broadcast" -> ((s, d) =>
      nation(s, d)
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name", "r_name")
        .orderBy("n_nationkey")),

    "join_sort_merge" -> ((s, d) =>
      orders(s, d)
        .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
          moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")),

    "join_left_outer" -> ((s, d) =>
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")),

    "join_right_outer" -> ((s, d) =>
      orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"), "right")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")),

    "join_full_outer" -> ((s, d) => {
      val sup = supplier(s, d).select(col("s_suppkey"))
      val li  = lineitem(s, d).select(col("l_suppkey")).distinct()
      sup.join(li, col("s_suppkey") === col("l_suppkey"), "full")
        .select(
          coalesce(col("s_suppkey"), col("l_suppkey")).as("suppkey"),
          col("s_suppkey").isNotNull.as("has_supplier"),
          col("l_suppkey").isNotNull.as("has_lineitem"))
        .orderBy("suppkey")
    }),

    "join_left_semi" -> ((s, d) =>
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    "join_left_anti" -> ((s, d) =>
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    "join_cross" -> ((s, d) =>
      region(s, d).crossJoin(nation(s, d))
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name")),

    // Pure range-band join (NO equi key — the cartesian hazard): clicks ⋈
    // purchases within ±60 s, regardless of user. Planned naively Spark
    // must nested-loop the whole product; instead rows bucket by wall-clock
    // MINUTE and the smaller leg (purchases) explodes to its bucket and
    // both neighbors (band ≤ bucket width ⇒ the three buckets cover every
    // possible match), so the join runs as a plain bucket equi-join + exact
    // band residual — 3× shuffle volume lands on the small side, the big
    // side shuffles once. Each true pair matches in exactly ONE bucket (the
    // click's own), so no dedup shuffle exists. The bucket is derived from
    // wall-clock FIELDS (unix_date/hour/minute on the NTZ value), never
    // unix_timestamp, which would interpret the NTZ wall-clock in the
    // session timezone and could split a true pair across non-adjacent
    // buckets in a DST gap. No-nested-loop shape plan-audited.
    "join_band_bucketed" -> ((s, d) => {
      val ev = events(s, d).select(col("event_id"), tsec(col("ts")).as("ts_s"),
        col("event_type"))
      def minuteOf(c: String) =
        expr(s"CAST(unix_date(CAST($c AS DATE)) AS BIGINT) * 1440 + hour($c) * 60 + minute($c)")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts_s").as("c_ts"))
        .withColumn("bkt", minuteOf("c_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("ts_s").as("p_ts"))
        .withColumn("ub", minuteOf("p_ts"))
        .withColumn("bkt", explode(expr("array(ub - 1, ub, ub + 1)")))
        .drop("ub")
      clicks.join(purchases, Seq("bkt"))
        .filter(col("p_ts") >= col("c_ts") - expr("INTERVAL 1 MINUTE") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 1 MINUTE"))
        .groupBy(col("click_id"), col("c_ts").as("click_sec"))
        .agg(count(lit(1)).as("n_purchases"), min("purchase_id").as("first_purchase"))
        .orderBy("click_id")
    }),

    // Null-safe equality (<=>): NULL keys MATCH each other instead of
    // vanishing — the semantic a plain equi-join cannot express (DuckDB:
    // IS NOT DISTINCT FROM). Each side first reduces to its ≤12 distinct
    // NULLIF'd discount values, so the null-safe join runs on
    // metadata-sized inputs and the NULL×NULL match stays 1×1 — the shape
    // to keep at scale, since null-heavy keys make <=> a skew hazard.
    "join_null_safe" -> ((s, d) => {
      def side(parity: Int) = lineitem(s, d)
        .filter(col("l_orderkey") % 2 === parity)
        .select(nullif(col("l_discount"), lit(0.0)).as("k")).distinct()
      side(0).as("a").join(side(1).as("b"), col("a.k") <=> col("b.k"))
        .groupBy(money(col("a.k")).as("k_cents"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("k_cents").asc_nulls_first)
    }),

    // Equi key + theta residual: the equi part hashes, the theta part is a
    // post-probe filter — no nested-loop explosion.
    // Point-in-interval join through the CUSTOM planner strategy (the §2.K
    // ladder's whole-operator rung, declared as a §2.C join): overlapping
    // price bands probe part retail cents via graft's own
    // LogicalPlan/SparkStrategy/SparkPlan triple
    // (plans/RangeJoin.scala, injected by GraftExtensions). Spark's own
    // planner would hand this keyless range predicate to
    // BroadcastNestedLoopJoin — O(|probe|·|bands|) predicate evaluations;
    // BroadcastRangeJoinExec answers each probe row by binary search +
    // max-length-bounded walk over the lo-sorted broadcast intervals.
    // Round9Suite asserts the exec actually plans AND that it emits
    // bit-identical rows to the nested-loop lowering; the oracle states
    // the BETWEEN-join truth. Scale: probe streams partition-parallel, no
    // shuffle before the band census agg; build side is broadcast-sized
    // by contract (documented in the exec).
    "join_range_strategy" -> ((s, d) => {
      val bands = s.range(0, 40).select(col("id").as("band_id"),
        (lit(90000L) + col("id") * 250L).as("lo"),
        (lit(90500L) + col("id") * 250L).as("hi"))
      val probe = part(s, d).select(money(col("p_retailprice")).as("cents"))
      graft.plans.GraftRangeJoin(probe, bands, "cents", "lo", "hi")
        .groupBy("band_id")
        .agg(count(lit(1)).as("n_parts"), sum("cents").as("sum_cents"))
        .orderBy("band_id")
    }),

    "join_theta" -> ((s, d) =>
      lineitem(s, d)
        .join(Gates.broadcastUnder(part(s, d), Gates.bytes(s, d, "part"), Gates.DimCap),
          col("l_partkey") === col("p_partkey") && col("l_quantity") > col("p_size"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"))
        .orderBy("p_brand")),

    "join_range_interval" -> ((s, d) =>
      lineitem(s, d)
        .join(orders(s, d),
          col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus")),

    // Interval×interval OVERLAP join — the temporal-join family's last
    // shape (asof = point→latest, range_interval = point∈interval, band =
    // value distance; this op: two interval SETS, overlap iff
    // s₁ ≤ e₂ ∧ s₂ ≤ e₁): each order's 30-day fulfillment window vs every
    // OTHER window of the same customer — per order, how many concurrent
    // sibling orders and their total overlap days (exact datediff
    // integers). Scale: the equi key (custkey) bounds the pair space to
    // Σ per-customer C(orders,2) — never orders²; the overlap predicate
    // rides the hash join as a residual. A hot customer salts like any
    // hot join key (Scale.saltedEquiJoin); intervals WITHOUT a grouping
    // key take the join_band_bucketed time-bucket explosion instead.
    "join_interval_overlap" -> ((s, d) => {
      val iv = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").as("st"), date_add(col("o_orderdate"), 30).as("en"))
      val a = iv.toDF("o_orderkey", "cust", "sa", "ea")
      val b = iv.toDF("k_b", "cust_b", "sb", "eb")
      val agg = a.join(b, col("cust") === col("cust_b") &&
          col("o_orderkey") =!= col("k_b") &&
          col("sa") <= col("eb") && col("sb") <= col("ea"))
        .select(col("o_orderkey"),
          (datediff(least(col("ea"), col("eb")), greatest(col("sa"), col("sb"))) + 1)
            .cast("long").as("ov_days"))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_concurrent"), sum("ov_days").as("overlap_days"))
      iv.select("o_orderkey").join(agg, Seq("o_orderkey"), "left")
        .select(col("o_orderkey"),
          coalesce(col("n_concurrent"), lit(0L)).as("n_concurrent"),
          coalesce(col("overlap_days"), lit(0L)).as("overlap_days"))
        .orderBy("o_orderkey")
    }),

    // Event-time as-of: for each purchase, the most recent preceding click by
    // the same user. One shuffle on user_id + ordered window scan; `last(...,
    // ignoreNulls)` carries the latest click timestamp forward.
    "join_asof" -> ((s, d) =>
      clickAsof(s, d, prev = true, next = false)
        .select("user_id", "event_id", "ts_s", "last_click_ts")
        .orderBy("user_id", "event_id")),

    // As-of with TOLERANCE (the pandas merge_asof(tolerance=) / QuestDB
    // semantic): the preceding click only counts if it is within 30
    // minutes — a stale match is as useless as none at a real attribution
    // window. Same single user_id-partitioned window as join_asof; the
    // tolerance is a post-window CASE on integer-second distance, so the
    // variant costs nothing extra at scale.
    "join_asof_tolerance" -> ((s, d) =>
      clickAsof(s, d, prev = true, next = false)
        .select(col("user_id"), col("event_id"), col("ts_s"),
          when(col("last_click_ts") >= col("ts_s") - expr("INTERVAL 30 MINUTES"),
            col("last_click_ts")).as("click_within_ts"),
          when(col("last_click_ts") >= col("ts_s") - expr("INTERVAL 30 MINUTES"),
            expr("timestampdiff(SECOND, last_click_ts, ts_s)")).as("gap_s"))
        .orderBy("user_id", "event_id")),

    // Forward as-of: for each purchase, the NEXT click by the same user
    // (lookahead window mirror of join_asof).
    "join_asof_forward" -> ((s, d) =>
      clickAsof(s, d, prev = false, next = true)
        .select("user_id", "event_id", "ts_s", "next_click_ts")
        .orderBy("user_id", "event_id")),

    // Nearest as-of: for each purchase, the click (either direction) with the
    // smallest time distance; ties resolve to the PRECEDING click. Distance
    // is integer seconds, so no float can disagree between engines.
    "join_asof_nearest" -> ((s, d) =>
      clickAsof(s, d, prev = true, next = true)
        .withColumn("nearest_click_ts",
          when(col("last_click_ts").isNull, col("next_click_ts"))
            .when(col("next_click_ts").isNull, col("last_click_ts"))
            .when(unix_timestamp(col("ts_s")) - unix_timestamp(col("last_click_ts"))
              <= unix_timestamp(col("next_click_ts")) - unix_timestamp(col("ts_s")),
              col("last_click_ts"))
            .otherwise(col("next_click_ts")))
        .withColumn("dist_s",
          abs(unix_timestamp(col("nearest_click_ts")) - unix_timestamp(col("ts_s"))))
        .select("user_id", "event_id", "ts_s", "nearest_click_ts", "dist_s")
        .orderBy("user_id", "event_id")),

    // TPC-H Q5 shape: the three dimension legs are broadcast; only
    // customer⋈orders⋈lineitem shuffles.
    // Null-routed join: rows whose join key is NULL can never match, so
    // they BYPASS the join entirely (no shuffle, no broadcast probe) and
    // re-enter via union — the standard null-skew isolation for fact
    // tables where a null-heavy key would otherwise hash every null row
    // into one reducer (or pay a pointless probe). ~10% of rows carry a
    // synthesized null key; the declared result equals the plain LEFT
    // JOIN (the oracle), proving the route-around is semantics-free.
    "join_null_routed" -> ((s, d) => {
      val fact = orders(s, d).select(
        when(col("o_orderkey") % 10 === 0, lit(null)).otherwise(col("o_custkey")).as("k"),
        money(col("o_totalprice")).as("cents"))
      val dim = customer(s, d).select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
      val matched = fact.filter(col("k").isNotNull)
        .join(Gates.broadcastUnder(dim, Gates.bytes(s, d, "customer"), Gates.DimCap),
          Seq("k"), "left")
      val routed = fact.filter(col("k").isNull)
        .withColumn("seg", lit(null).cast("string"))
      matched.select("seg", "cents").unionByName(routed.select("seg", "cents"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"))
        .orderBy(col("seg").asc_nulls_first)
    }),

    // Role-playing dimension (TPC-H Q7 shape): the SAME nation dim joined
    // twice under different roles — customer nation and supplier nation —
    // producing the nation×nation trade matrix. Both dim subtrees broadcast
    // independently (a role-played dim is still a dim); the fact side flows
    // through one pipeline of broadcast hash joins and collapses in a
    // partial-aggregatable (cust_nation, supp_nation) groupBy. No fact
    // self-join anywhere.
    "join_role_playing" -> ((s, d) => {
      val cn = nation(s, d).select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      val sn = nation(s, d).select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      // par (r14): the probe side runs 4 broadcast joins + the agg in the
      // SCAN stage; on the single-row-group fixture one task carried 1.2 s
      // of that CPU (ProfileOp taskMax≈wall). The gated rebalance spreads
      // the probe; A/B win at 32c AND 8c.
      lineitem(s, d, par = true)
        .join(orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Gates.broadcastUnder(customer(s, d).select("c_custkey", "c_nationkey"),
            Gates.bytes(s, d, "customer"), Gates.DimCap),
          col("o_custkey") === col("c_custkey"))
        .join(Gates.broadcastUnder(supplier(s, d).select("s_suppkey", "s_nationkey"),
            Gates.bytes(s, d, "supplier"), Gates.DimCap),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cn), col("c_nationkey") === col("c_nk"))
        .join(broadcast(sn), col("s_nationkey") === col("s_nk"))
        .filter(col("cust_nation") =!= col("supp_nation"))
        .groupBy("cust_nation", "supp_nation")
        .agg(count(lit(1)).as("n"),
          moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy("cust_nation", "supp_nation")
    }),

    // TPC-H Q5-shaped 6-way join. Two scale lessons are baked into the plan
    // (r12 sf100 decade: 56.4× unadjudicated → fixed here):
    //  1. `broadcast(supplier)` is GATED by measured parquet bytes
    //     (`Gates.DimCap`): supplier grows with SF (10 rows at sf0.01,
    //     100k at sf100, ~1e9 at 100 TB) — the same latent-outage class as
    //     the r12 gram-frame finding. Above the cap the hint drops and the
    //     l_suppkey-keyed shuffle join engages; nation/region stay
    //     unconditionally hinted (fixed 25/5-row cardinality).
    //  2. The ASIA restriction is pushed BELOW the fact joins explicitly:
    //     Catalyst pushes `r_name = 'ASIA'` to the region scan and the date
    //     range to the orders scan, but it CANNOT infer transitively that
    //     `s_nationkey = c_nationkey ∧ supplier ∈ ASIA ⟹ customer ∈ ASIA`,
    //     so without the explicit broadcast semi-join the full customer
    //     table (and 5× the needed orders⋈lineitem rows) flows through the
    //     two big shuffle joins only to be filtered at the top. The 5-row
    //     ASIA nation-key set semi-filters customer and supplier FIRST —
    //     the classic Q5 plan a cost-based optimizer with constraint
    //     propagation would pick.
    //  3. lineitem is the STREAMED side. Spark's static estimate for the
    //     4-column lineitem projection falls under the 10 MB broadcast
    //     threshold while customer⋈orders gets a product-sized estimate,
    //     so left to itself Spark built a hash table over all of lineitem
    //     on the driver in every run (600k rows, 34.7 MB, 0.33 s build on
    //     the 5-copy sf0.1 tile). `co` (ASIA customers ⋈ 1996 orders) is
    //     the build side instead, through the orders-bytes gate.
    "join_multiway" -> ((s, d) => {
      val asia = nation(s, d)
        .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val cust = customer(s, d)
        .join(broadcast(asia.select(col("n_nationkey").as("ank"))),
          col("c_nationkey") === col("ank"), "left_semi")
      val supp = supplier(s, d)
        .join(broadcast(asia), col("s_nationkey") === col("n_nationkey"))
      val co = cust
        .join(orders(s, d)
            .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
                    col("o_orderdate") <  lit("1997-01-01").cast("timestamp_ntz")),
          col("c_custkey") === col("o_custkey"))
        .select("o_orderkey", "c_nationkey")
      // `co` holds about 1/35 of the orders rows (one year of seven, one
      // region of five) in 2 columns: 4,135 rows, 1.3 MB on the tile, and
      // ~400k rows (~7 MB) when orders reach DimCap (~sf10). Above the cap
      // the hint drops and Spark picks the join from its own estimates.
      lineitem(s, d)
        .join(Gates.broadcastUnder(co, Gates.bytes(s, d, "orders"), Gates.DimCap),
          col("l_orderkey") === col("o_orderkey"))
        .join(Gates.broadcastUnder(supp, Gates.bytes(s, d, "supplier"), Gates.DimCap),
          col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
        .groupBy("n_name")
        .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy("n_name")
    }),

    // Skew-defeating equi-join: the fact side carries a deterministic salt,
    // the dimension side is replicated once per salt bucket, so a hot
    // supplier key spreads over 8 reducers instead of one. Semantics are
    // identical to the plain join (Scale.saltedEquiJoin) — the oracle is the
    // unsalted SQL join.
    "join_skew_salted" -> ((s, d) =>
      graft.Scale.saltedEquiJoin(lineitem(s, d), supplier(s, d),
          "l_suppkey", "s_suppkey", buckets = 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("total"))
        .orderBy("s_nationkey")),

    // AQE-native skew handling — join_skew_salted's runtime twin (r9
    // verdict #7): instead of a manual salt column, the ENGINE detects the
    // oversized shuffle partition at stage boundary and splits it
    // (spark.sql.adaptive.skewJoin). The fixture keys are near-uniform, so
    // the skew is engineered deterministically: 75% of lineitem routes to
    // hot_key 0 (the one-hot-reducer pathology), the 97-key dimension is
    // too "large" to broadcast by THIS op's conf. Conf isolation: the op
    // builds against s.newSession() — AQE skew thresholds are lowered so
    // the split actually fires at test scale (64 KB threshold / 2× factor
    // / 32 KB advisory; production keeps the 256 MB defaults and the
    // identical code path), broadcast is disabled to force the
    // sort-merge join AQE's splitter operates on, and NOTHING leaks into
    // the shared session other ops plan under. Semantics are
    // split-invariant (exact integer sums), so the oracle is the plain
    // join; Round10Suite executes the plan and asserts the final adaptive
    // plan shows the skew=true split, hash-matched against the
    // saltedEquiJoin strategy on the same engineered data.
    "join_skew_aqe" -> ((s0, d) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.adaptive.enabled", "true")
      s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
      s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32768")
      s.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      skewAqeJoin(s, d, mappers = 16)
        .groupBy("dim_grp")
        .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("total"))
        .orderBy("dim_grp")
    }),

    // Storage-partitioned join (r11): both sides are GraftRangeSource
    // tables with partitionBy=bucket — one InputPartition per bucket
    // value, each carrying its key via HasPartitionKey, the scan
    // reporting KeyGroupedPartitioning(identity(bucket)). Under
    // spark.sql.sources.v2.bucketing.enabled, EnsureRequirements sees the
    // join keys already co-located BY THE SOURCE and plans the join with
    // ZERO shuffle exchanges on either side — the V2 answer to
    // join_bucketed_colocated's Hive bucketing: at 100 TB, co-location is
    // a property of the table layout, not of a repartition someone
    // remembered to run, and repeated fact-fact joins on the partition
    // key never pay a shuffle. Broadcast is disabled in the isolated
    // session because at THIS fixture scale the dim side would broadcast
    // (also shuffle-free, but proving nothing) — the 100 TB regime this
    // op models is both sides too big to broadcast. Round11Suite asserts
    // the executed plan has no shuffle exchange and both scan nodes carry
    // the bucket partitioning; the oracle is the same join from DuckDB
    // range() twins.
    "join_spj_storage_partitioned" -> ((s0, _) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def src(rows: Long) = s.read.format("graft.sources.GraftRangeSource")
        .option("rows", rows).option("partitionBy", "bucket").load()
      val fact = src(50000L)
      val dim = src(100L).select(col("bucket"),
        col("val").as("dim_val"), col("tag").as("dim_tag"))
      fact.join(dim, Seq("bucket"))
        .groupBy("dim_tag")
        .agg(count(lit(1)).as("n"),
          sum(col("val") + col("dim_val")).as("sum_vals"),
          max("bucket").as("max_bucket"))
        .orderBy("dim_tag")
    }),

    // Bucketed co-located join: both fact tables are persisted bucketed on
    // the join key (Scale.writeBucketed), so the join itself plans with ZERO
    // Exchange — the 100 TB layout for repeated fact-fact joins, where the
    // one-time bucketed write amortizes every later join/aggregation on the
    // key. Plan asserted shuffle-free in PlanAuditSuite.
    "join_bucketed_colocated" -> ((s, d) => {
      val tag = (d.hashCode & 0x7fffffff).toString
      val ot = s"graft_bkt_orders_$tag"
      val lt = s"graft_bkt_lineitem_$tag"
      // par scan (r13): the bucketed WRITE is this op's dominant cost — each
      // pass drops and rewrites both tables, and with the single-row-group
      // fixture the write's sort+encode ran as one task per table. The
      // rebalance spreads it; each task writes its own per-bucket files
      // (bucketed tables allow >1 file per bucket) so the join still plans
      // with zero Exchange (PlanAuditSuite keeps asserting that).
      // The two table writes are independent jobs over disjoint table
      // dirs and catalog names, so they run concurrently and the second
      // write's tasks back-fill the first's sort/encode tail (ProfileOp:
      // 0.3 s + 0.6 s sequential write jobs). writeBucketed's drop, delete
      // and saveAsTable are safe side by side only under the default
      // in-memory catalog, not an embedded Derby metastore.
      graft.Scale.runAll(
        () => graft.Scale.writeBucketed(
          orders(s, d, par = true).select("o_orderkey", "o_orderstatus"),
          ot, "o_orderkey", 8),
        () => graft.Scale.writeBucketed(
          lineitem(s, d, par = true).select("l_orderkey", "l_extendedprice", "l_discount"),
          lt, "l_orderkey", 8))
      s.table(ot).join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy("o_orderstatus")
    }),

    // Fuzzy string join via character-trigram blocking (the pg_trgm shape).
    // Scale design: contract to DISTINCT names FIRST — name cardinality is
    // ≪ row cardinality on any real catalog, so the quadratic part runs on
    // the contracted domain, never the table. Then explode trigrams, self-
    // join on the shared trigram (the blocking key — only pairs sharing ≥ 1
    // trigram ever meet), count distinct shared trigrams per pair, and keep
    // pairs sharing ≥ 2. Similarity is integer basis points of the trigram
    // Jaccard: shared·10⁴ div (|A|+|B|−shared) — positive, so Spark's
    // truncating div and DuckDB's flooring // agree.
    "join_fuzzy_trigram" -> ((s, d) => {
      // length ≥ 3 guard: Spark's sequence(1, n) runs DESCENDING when n < 1
      // (names shorter than a trigram would fabricate substrings), DuckDB's
      // generate_series is empty — the filter removes the divergence class.
      val names = part(s, d).select(lower(col("p_name")).as("nm")).distinct()
        .filter(length(col("nm")) >= 3)
      val tg = names.select(col("nm"),
        explode(expr("transform(sequence(1, char_length(nm) - 2), i -> substr(nm, i, 3))")).as("t"))
        .distinct()
      val sizes = tg.groupBy("nm").agg(count(lit(1)).as("ntg"))
      val a = tg.select(col("nm").as("nm_a"), col("t"))
      val b = tg.select(col("nm").as("nm_b"), col("t"))
      a.join(b, Seq("t")).filter(col("nm_a") < col("nm_b"))
        .groupBy("nm_a", "nm_b").agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 2)
        .join(sizes.select(col("nm").as("nm_a"), col("ntg").as("na")), "nm_a")
        .join(sizes.select(col("nm").as("nm_b"), col("ntg").as("nb")), "nm_b")
        .select(col("nm_a"), col("nm_b"), col("shared"),
          expr("shared * 10000 div (na + nb - shared)").as("jacc_bp"))
        .orderBy("nm_a", "nm_b")
    }),

    // ε-neighborhood self-join via GRID BLOCKING (the spatial-join shape):
    // points in (cents, second-of-day) space; cell width = ε makes the
    // 1-cell neighborhood sound for the L∞ ball; everything is integer,
    // the exact |Δ| ≤ ε check runs post-join.
    // HALF-NEIGHBORHOOD emission (r7, ~2× off the r6 full-3×3 plan): each
    // probe row replicates to only 5 cells — home + the 4 FORWARD
    // neighbors {(0,1),(1,−1),(1,0),(1,1)}, one from each ± pair of the 8
    // — and equi-joins the build side's single home cell. An unordered
    // pair in different cells meets exactly once (exactly one of ±δ is
    // forward); a same-cell pair meets twice, deduped by a<b (which also
    // drops self-pairs). Probe replication drops 9→5 and the join emits
    // each pair once instead of twice; degrees come from symmetrizing the
    // found pairs (each contributes to both endpoints) in a cheap
    // post-ε-filter union.
    "join_spatial_grid" -> ((s, d) => {
      val pts = events(s, d).select(col("event_id"),
        money(col("value")).as("x"),
        (expr("hour(ts) * 3600 + minute(ts) * 60 + second(ts)")).cast("long").as("y"))
        .withColumn("cx", expr("x div 50")).withColumn("cy", expr("y div 50"))
      val probe = pts.select(col("event_id").as("a"), col("x").as("xa"), col("y").as("ya"),
        col("cx").as("hx"), col("cy").as("hy"),
        explode(expr(
          """array(struct(0L AS dx, 0L AS dy), struct(0L AS dx, 1L AS dy),
                   struct(1L AS dx, -1L AS dy), struct(1L AS dx, 0L AS dy),
                   struct(1L AS dx, 1L AS dy))""")).as("f"))
        .select(col("a"), col("xa"), col("ya"),
          (col("hx") + col("f.dx")).as("cx"), (col("hy") + col("f.dy")).as("cy"),
          col("f.dx").as("dx"), col("f.dy").as("dy"))
      val build = pts.select(col("event_id").as("b"), col("x").as("xb"), col("y").as("yb"),
        col("cx"), col("cy"))
      val pairs = probe.join(build, Seq("cx", "cy"))
        .filter(abs(col("xa") - col("xb")) <= 50 && abs(col("ya") - col("yb")) <= 50 &&
          ((col("dx") =!= 0L || col("dy") =!= 0L) || col("a") < col("b")))
        .select("a", "b")
      pairs.select(col("a").as("event_id"))
        .unionAll(pairs.select(col("b").as("event_id")))
        .groupBy("event_id").agg(count(lit(1)).as("n_neighbors"))
        .orderBy("event_id")
    }),

    // Join-STRATEGY control surface: the SHUFFLE_HASH hint forces a shuffled
    // hash join where the planner defaults to sort-merge. At 100 TB this
    // removes BOTH sort passes whenever one side's per-partition slice
    // builds an in-memory hash map — the classic fact⋈fact case where
    // neither side broadcasts but sorting 2×100 TB is the real cost. Result
    // is strategy-invariant (oracle is the plain join); the plan shape
    // itself is asserted in PlanAuditSuite.
    "join_hinted_shuffle_hash" -> ((s, d) =>
      orders(s, d).hint("SHUFFLE_HASH")
        .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("rev"))
        .orderBy("o_orderpriority")),

    // SCD Type-2 point-in-time lookup (the effective-dated dimension join
    // every warehouse runs): a versioned dimension is built from each
    // customer's order-priority history — one version per (custkey, date),
    // ties broken latest-orderkey-wins, validity [eff_from, eff_to) with
    // eff_to = next version's date (NULL = current) — then facts probe it
    // AT a date (order date + 15 days here). Differs from join_asof: the
    // interval CONTAINMENT gives each probe at most one match by
    // construction (half-open intervals partition the timeline), and a
    // probe before the first version legitimately misses (left join keeps
    // it as NULL). Scale: equi-key custkey drives the join (hash/SMJ — the
    // range condition is a post-join filter, never a cartesian); dim
    // versions ≪ facts, so the dim side is the natural broadcast when the
    // key space allows.
    "join_scd2_lookup" -> ((s, d) => {
      val ver = Window.partitionBy("custkey", "eff_from")
        .orderBy(col("o_orderkey").desc)
      val timeline = Window.partitionBy("custkey")
        .orderBy("eff_from")
      val dim = orders(s, d)
        .select(col("o_custkey").as("custkey"),
          col("o_orderdate").cast("date").as("eff_from"),
          col("o_orderpriority").as("prio"), col("o_orderkey"))
        .withColumn("rn", row_number().over(ver))
        .filter(col("rn") === 1).drop("rn", "o_orderkey")
        .withColumn("eff_to", lead("eff_from", 1).over(timeline))
      val fact = orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          date_add(col("o_orderdate").cast("date"), 15).as("probe_date"))
      fact.join(dim,
          fact("o_custkey") === dim("custkey") &&
            col("probe_date") >= col("eff_from") &&
            (col("eff_to").isNull || col("probe_date") < col("eff_to")),
          "left")
        .select(col("o_orderkey"), col("probe_date"),
          col("prio").as("active_prio"))
        .orderBy("o_orderkey")
    }),
  )

  val oracle: Map[String, String] = Map(
    "join_inner_hash" ->
      s"""SELECT c_mktsegment, count(*) AS n, ${moneySumSql("o_totalprice")} AS total
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "join_broadcast" ->
      """SELECT n_nationkey, n_name, r_name
         FROM nation JOIN region ON n_regionkey = r_regionkey ORDER BY n_nationkey""",
    "join_sort_merge" ->
      s"""SELECT o_orderstatus, ${moneySumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
          count(*) AS n
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "join_left_outer" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
    "join_right_outer" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
         FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
    "join_full_outer" ->
      """SELECT coalesce(s_suppkey, l_suppkey) AS suppkey,
                s_suppkey IS NOT NULL AS has_supplier,
                l_suppkey IS NOT NULL AS has_lineitem
         FROM supplier FULL OUTER JOIN (SELECT DISTINCT l_suppkey FROM lineitem) li
           ON s_suppkey = l_suppkey
         ORDER BY suppkey""",
    "join_left_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "join_left_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "join_cross" ->
      "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name",
    // Oracle = the straight inequality join (bucketing is execution
    // strategy only, invisible in the result).
    "join_band_bucketed" ->
      """WITH e AS (SELECT event_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s, event_type
                    FROM events)
         SELECT c.event_id AS click_id, c.ts_s AS click_sec,
                count(*) AS n_purchases, min(p.event_id) AS first_purchase
         FROM e c JOIN e p
           ON c.event_type = 'click' AND p.event_type = 'purchase'
          AND p.ts_s >= c.ts_s - INTERVAL '1 minute' AND p.ts_s <= c.ts_s + INTERVAL '1 minute'
         GROUP BY 1, 2 ORDER BY click_id""",
    "join_null_safe" ->
      s"""WITH a AS (SELECT DISTINCT NULLIF(l_discount, 0.0) AS k FROM lineitem WHERE l_orderkey % 2 = 0),
               b AS (SELECT DISTINCT NULLIF(l_discount, 0.0) AS k FROM lineitem WHERE l_orderkey % 2 = 1)
          SELECT ${moneySql("a.k")} AS k_cents, count(*) AS n
          FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
          GROUP BY 1 ORDER BY k_cents NULLS FIRST""",
    "join_theta" ->
      """SELECT p_brand, count(*) AS n
         FROM lineitem JOIN part ON l_partkey = p_partkey AND l_quantity > p_size
         GROUP BY p_brand ORDER BY p_brand""",
    // The BETWEEN-join truth of the custom-strategy plan: DuckDB evaluates
    // the same half-open interval predicate over the same generated bands.
    "join_range_strategy" ->
      s"""WITH bands AS (SELECT k AS band_id, 90000 + k * 250 AS lo,
                                90500 + k * 250 AS hi
                         FROM range(0, 40) t(k)),
               p AS (SELECT ${moneySql("p_retailprice")} AS cents FROM part)
          SELECT band_id, count(*) AS n_parts, CAST(sum(cents) AS BIGINT) AS sum_cents
          FROM p JOIN bands ON cents >= lo AND cents < hi
          GROUP BY band_id ORDER BY band_id""",
    "join_range_interval" ->
      """SELECT o_orderstatus, count(*) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           AND l_shipdate >= o_orderdate AND l_shipdate <= o_orderdate + INTERVAL '90 days'
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // Same custkey-bounded overlap pair space; overlap days as exact
    // date_diff integers.
    "join_interval_overlap" ->
      """WITH iv AS (SELECT o_orderkey, o_custkey,
                            o_orderdate AS st,
                            o_orderdate + INTERVAL 30 DAY AS en
                     FROM orders),
              ag AS (SELECT a.o_orderkey,
                            count(*) AS n_concurrent,
                            CAST(sum(date_diff('day',
                                     greatest(a.st, b.st),
                                     least(a.en, b.en)) + 1) AS BIGINT) AS overlap_days
                     FROM iv a JOIN iv b
                       ON a.o_custkey = b.o_custkey
                      AND a.o_orderkey <> b.o_orderkey
                      AND a.st <= b.en AND b.st <= a.en
                     GROUP BY 1)
         SELECT i.o_orderkey,
                COALESCE(ag.n_concurrent, 0) AS n_concurrent,
                COALESCE(ag.overlap_days, 0) AS overlap_days
         FROM iv i LEFT JOIN ag ON ag.o_orderkey = i.o_orderkey
         ORDER BY i.o_orderkey""",
    // Same window emulation as the Spark side for semantic identity
    // (SURVEY §2.C join_asof).
    "join_asof" ->
      s"""SELECT user_id, event_id, ts_s, last_click_ts
          FROM (${clickAsofSql(prev = true, next = false)}) ORDER BY user_id, event_id""",
    "join_asof_tolerance" ->
      s"""SELECT user_id, event_id, ts_s,
                 CASE WHEN last_click_ts >= ts_s - INTERVAL '30 minutes'
                      THEN last_click_ts END AS click_within_ts,
                 CASE WHEN last_click_ts >= ts_s - INTERVAL '30 minutes'
                      THEN date_diff('second', last_click_ts, ts_s) END AS gap_s
          FROM (${clickAsofSql(prev = true, next = false)}) ORDER BY user_id, event_id""",
    // Nearest = closer of the two directional as-ofs; ties → preceding.
    // epoch() distances are integral seconds on date_trunc'd timestamps.
    "join_asof_nearest" ->
      s"""SELECT user_id, event_id, ts_s, nearest_click_ts,
                 CAST(abs(epoch(nearest_click_ts) - epoch(ts_s)) AS BIGINT) AS dist_s
          FROM (
            SELECT user_id, event_id, ts_s,
                   CASE WHEN last_click_ts IS NULL THEN next_click_ts
                        WHEN next_click_ts IS NULL THEN last_click_ts
                        WHEN epoch(ts_s) - epoch(last_click_ts)
                             <= epoch(next_click_ts) - epoch(ts_s) THEN last_click_ts
                        ELSE next_click_ts END AS nearest_click_ts
            FROM (${clickAsofSql(prev = true, next = true)}))
          ORDER BY user_id, event_id""",
    "join_asof_forward" ->
      s"""SELECT user_id, event_id, ts_s, next_click_ts
          FROM (${clickAsofSql(prev = false, next = true)}) ORDER BY user_id, event_id""",
    "join_null_routed" ->
      s"""WITH f AS (SELECT CASE WHEN o_orderkey % 10 = 0 THEN NULL
                                 ELSE o_custkey END AS k,
                            ${moneySql("o_totalprice")} AS cents
                     FROM orders)
         SELECT c_mktsegment AS seg, count(*) AS n,
                CAST(sum(cents) AS BIGINT) AS total_cents
         FROM f LEFT JOIN customer ON k = c_custkey
         GROUP BY 1 ORDER BY seg ASC NULLS FIRST""",
    "join_role_playing" ->
      s"""SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
                 count(*) AS n,
                 ${moneySumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation cn ON c_nationkey = cn.n_nationkey
          JOIN nation sn ON s_nationkey = sn.n_nationkey
          WHERE cn.n_name <> sn.n_name
          GROUP BY 1, 2 ORDER BY cust_nation, supp_nation""",
    "join_multiway" ->
      s"""SELECT n_name, ${moneySumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
          FROM customer
          JOIN orders   ON c_custkey = o_custkey
          JOIN lineitem ON o_orderkey = l_orderkey
          JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
          JOIN nation   ON s_nationkey = n_nationkey
          JOIN region   ON n_regionkey = r_regionkey
          WHERE r_name = 'ASIA'
            AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
          GROUP BY n_name ORDER BY n_name""",
    // Salting is execution-strategy only — the oracle is the plain join.
    "join_skew_salted" ->
      s"""SELECT s_nationkey, count(*) AS n, ${moneySumSql("l_extendedprice")} AS total
          FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          GROUP BY s_nationkey ORDER BY s_nationkey""",
    // AQE skew-splitting is execution-strategy only — same doctrine: the
    // oracle is the plain engineered-hot-key join.
    "join_skew_aqe" ->
      s"""WITH fact AS (SELECT CASE WHEN l_orderkey % 4 = 0 THEN l_orderkey % 97
                                    ELSE 0 END AS hot_key, l_extendedprice
                        FROM lineitem),
              dim AS (SELECT range AS hot_key, range % 5 AS dim_grp FROM range(97))
          SELECT dim_grp, count(*) AS n, ${moneySumSql("l_extendedprice")} AS total
          FROM fact JOIN dim USING (hot_key)
          GROUP BY dim_grp ORDER BY dim_grp""",
    // Storage partitioning is layout only — the oracle is the plain join
    // over the same deterministic generated relations.
    "join_spj_storage_partitioned" ->
      s"""WITH fact AS (${GraftRangeTable.sql(50000)}),
              dim AS (SELECT bucket, val AS dim_val, tag AS dim_tag
                      FROM (${GraftRangeTable.sql(100)}))
         SELECT dim_tag, count(*) AS n,
                CAST(sum(val + dim_val) AS BIGINT) AS sum_vals,
                max(bucket) AS max_bucket
         FROM fact JOIN dim USING (bucket)
         GROUP BY dim_tag ORDER BY dim_tag""",
    // Bucketing is storage-layout only — the oracle is the plain join.
    "join_bucketed_colocated" ->
      s"""SELECT o_orderstatus, count(*) AS n,
                 ${moneySumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "join_fuzzy_trigram" ->
      """WITH names AS (SELECT DISTINCT lower(p_name) AS nm FROM part
                        WHERE length(p_name) >= 3),
              tg AS (SELECT DISTINCT nm, substr(nm, CAST(gs AS INT), 3) AS t
                     FROM names, unnest(generate_series(1, length(nm) - 2)) AS u(gs)),
              sizes AS (SELECT nm, count(*) AS ntg FROM tg GROUP BY nm),
              pairs AS (SELECT a.nm AS nm_a, b.nm AS nm_b, count(*) AS shared
                        FROM tg a JOIN tg b ON a.t = b.t AND a.nm < b.nm
                        GROUP BY a.nm, b.nm HAVING count(*) >= 2)
         SELECT nm_a, nm_b, shared,
                shared * 10000 // (sa.ntg + sb.ntg - shared) AS jacc_bp
         FROM pairs
         JOIN sizes sa ON sa.nm = nm_a
         JOIN sizes sb ON sb.nm = nm_b
         ORDER BY nm_a, nm_b""",
    // Oracle is the brute-force ε-join (DuckDB's IEJoin handles the range
    // predicate); grid blocking is plan-shape only, the answer is identical.
    "join_spatial_grid" ->
      """WITH pts AS (SELECT event_id,
                             CAST(ROUND(CAST(value AS DECIMAL(28,10)), 2) * 100 AS BIGINT) AS x,
                             CAST(datepart('hour', ts) * 3600 + datepart('minute', ts) * 60
                                  + datepart('second', ts) AS BIGINT) AS y
                      FROM events)
         SELECT a.event_id, count(*) AS n_neighbors
         FROM pts a JOIN pts b
           ON a.event_id <> b.event_id
          AND b.x BETWEEN a.x - 50 AND a.x + 50
          AND b.y BETWEEN a.y - 50 AND a.y + 50
         GROUP BY a.event_id ORDER BY a.event_id""",
    // The hint is plan-only — the oracle is the plain join.
    "join_hinted_shuffle_hash" ->
      s"""SELECT o_orderpriority, count(*) AS n, ${moneySumSql("l_extendedprice")} AS rev
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "join_scd2_lookup" ->
      """WITH v AS (SELECT o_custkey AS custkey,
                           CAST(o_orderdate AS DATE) AS eff_from,
                           o_orderpriority AS prio,
                           row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                              ORDER BY o_orderkey DESC) AS rn
                    FROM orders),
              dim AS (SELECT custkey, eff_from, prio,
                             lead(eff_from) OVER (PARTITION BY custkey
                                                  ORDER BY eff_from) AS eff_to
                      FROM v WHERE rn = 1),
              fact AS (SELECT o_orderkey, o_custkey,
                              CAST(o_orderdate AS DATE) + 15 AS probe_date
                       FROM orders)
         SELECT f.o_orderkey, f.probe_date, d.prio AS active_prio
         FROM fact f LEFT JOIN dim d
           ON f.o_custkey = d.custkey
          AND f.probe_date >= d.eff_from
          AND (d.eff_to IS NULL OR f.probe_date < d.eff_to)
         ORDER BY f.o_orderkey""",
  )
}
