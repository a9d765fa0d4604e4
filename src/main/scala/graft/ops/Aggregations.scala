package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Norm._
import graft.Tables._
import graft.Gates

/** SURVEY.md §2.D — aggregations.
  *
  * Scale notes: every groupBy here is partial-aggregatable (HashAggregate
  * partial → shuffle on the group keys → final), so the shuffle carries one
  * row per (partition, key), not per input row. `agg_collect_sorted` is the
  * deliberate exception (ObjectHashAggregate buffer) and is kept on a
  * 25-row table. Exact count-distinct goes through Spark's Expand two-phase
  * plan; at 100 TB prefer `agg_approx_distinct` (HLL, constant memory).
  */
object Aggregations {
  /** Closed event-type domain probed by agg_sketch_cms (the fixture's
    * events.event_type values — SURVEY §1.3). */
  private val eventTypesCms = Seq("click", "error", "purchase", "signup", "view")
  /** agg_theil's per-firm term (x/μ)·ln(x/μ), x/μ = r·n/S, both engines. */
  private val TheilTerm =
    "((r * n_firms) / (tot + 0.0)) * ln((r * n_firms) / (tot + 0.0))"

  val ops: Map[String, Q] = Map(
    // Pairwise Pearson correlation MATRIX over four lineitem measures
    // (quantity, price cents, discount bp, tax bp) per returnflag — the
    // feature-correlation screen run before trusting a downsampling or
    // quality model. ONE partial-aggregatable pass computes all 15 moment
    // sums (count + 4 sums + 4 square-sums + 6 cross-sums); the 6 pair rows
    // then explode from the |groups|-row aggregate frame, never from the
    // corpus. Square/cross sums ride DECIMAL(38,0) accumulators (cents² ~
    // 1e14/row overflows BIGINT by sf0.1 — the wide-accumulator rule).
    // The correlation leaves as SIGN + r²·1e18, factored as (1e9·num div
    // dena)·(1e9·num div denb) — each factor ≤ 1e9·√(denb/dena) stays in
    // DECIMAL(38,0) range, the product ≤ 1e18 fits BIGINT, and both
    // engines run the identical two floor-divides, so the quantization is
    // engine-exact (a single 1e18·num²/(dena·denb) would need num² ~ 1e40+
    // — past any 128-bit width). Zero variance → NULL via the CASE guard.
    "agg_corr_matrix" -> ((s, d) => {
      val base = lineitem(s, d, par = true).select(col("l_returnflag").as("flag"),
        col("l_quantity").cast("long").as("q"),
        money(col("l_extendedprice")).as("p"),
        d4(col("l_discount")).as("dc"),
        d4(col("l_tax")).as("tx"))
      val sums = base.groupBy("flag").agg(
        count(lit(1)).as("n"),
        sum("q").as("sq"), sum("p").as("sp"), sum("dc").as("sd"), sum("tx").as("st"),
        sum(expr("CAST(q AS DECIMAL(38,0)) * q")).as("sq2"),
        sum(expr("CAST(p AS DECIMAL(38,0)) * p")).as("sp2"),
        sum(expr("CAST(dc AS DECIMAL(38,0)) * dc")).as("sd2"),
        sum(expr("CAST(tx AS DECIMAL(38,0)) * tx")).as("st2"),
        sum(expr("CAST(q AS DECIMAL(38,0)) * p")).as("sqp"),
        sum(expr("CAST(q AS DECIMAL(38,0)) * dc")).as("sqd"),
        sum(expr("CAST(q AS DECIMAL(38,0)) * tx")).as("sqt"),
        sum(expr("CAST(p AS DECIMAL(38,0)) * dc")).as("spd"),
        sum(expr("CAST(p AS DECIMAL(38,0)) * tx")).as("spt"),
        sum(expr("CAST(dc AS DECIMAL(38,0)) * tx")).as("sdt"))
      val pairRow = (nm: String, a: String, b: String, a2: String, b2: String, ab: String) =>
        struct(lit(nm).as("pair"),
          col(a).cast("decimal(38,0)").as("sa"), col(b).cast("decimal(38,0)").as("sb"),
          col(a2).as("sa2"), col(b2).as("sb2"), col(ab).as("sab"))
      sums.select(col("flag"), col("n"), explode(array(
          pairRow("q_p", "sq", "sp", "sq2", "sp2", "sqp"),
          pairRow("q_dc", "sq", "sd", "sq2", "sd2", "sqd"),
          pairRow("q_tx", "sq", "st", "sq2", "st2", "sqt"),
          pairRow("p_dc", "sp", "sd", "sp2", "sd2", "spd"),
          pairRow("p_tx", "sp", "st", "sp2", "st2", "spt"),
          pairRow("dc_tx", "sd", "st", "sd2", "st2", "sdt"))).as("c"))
        .select(col("flag"), col("n"), col("c.pair").as("pair"),
          expr("CAST(n AS DECIMAL(38,0)) * c.sab - c.sa * c.sb").as("num"),
          expr("CAST(n AS DECIMAL(38,0)) * c.sa2 - c.sa * c.sa").as("dena"),
          expr("CAST(n AS DECIMAL(38,0)) * c.sb2 - c.sb * c.sb").as("denb"))
        .select(col("flag"), col("pair"), col("n"),
          expr("CASE WHEN num > 0 THEN 1L WHEN num < 0 THEN -1L ELSE 0L END").as("r_sign"),
          expr("""CASE WHEN dena = 0 OR denb = 0 THEN NULL
                       ELSE CAST((1000000000 * num div dena) *
                                 (1000000000 * num div denb) AS BIGINT) END""").as("r2_x18"))
        .orderBy("flag", "pair")
    }),

    // Chi-square test of independence over (returnflag × linestatus) —
    // agg_mutual_info's frequentist sibling, the classic categorical-
    // association census, in EXACT integers: the corpus collapses through
    // ONE partial-aggregatable 2-key groupBy to the |R|×|C| cell frame
    // (6 rows here), and every derived quantity is metadata arithmetic —
    // row/col/grand totals as window sums over the CELL frame, expected
    // count exp_micro = (1e6·r·c) div N and the cell's chi-square term
    // term_micro = (1e6·(O·N − r·c)²) div (N·r·c) on DECIMAL(38,0)/HUGEINT
    // (O·N ≈ 3.6e13 at sf1 squares to 1.3e27, and N·r·c ≈ 2.2e20 — both
    // past BIGINT, both comfortably inside width 38; the quotients land
    // back in BIGINT provably: term ≤ 1e6·N). The declared chi2 statistic
    // is the SUM OF FLOORED per-cell terms — defined identically on both
    // engines, so the hash pins the definition, not a float boundary.
    "agg_chi2_independence" -> ((s, d) => {
      val cells = lineitem(s, d)
        .groupBy(col("l_returnflag").as("flag"), col("l_linestatus").as("st"))
        .agg(count(lit(1)).as("obs"))
      val wAll = Window.partitionBy()
      cells
        .withColumn("r_tot", sum("obs").over(Window.partitionBy("flag")))
        .withColumn("c_tot", sum("obs").over(Window.partitionBy("st")))
        .withColumn("n", sum("obs").over(wAll))
        .select(col("flag"), col("st"), col("obs"), col("r_tot"), col("c_tot"),
          expr("CAST((CAST(r_tot AS DECIMAL(38,0)) * c_tot * 1000000) div n AS BIGINT)")
            .as("exp_micro"),
          expr("""CAST((1000000 *
                        (CAST(obs AS DECIMAL(38,0)) * n - CAST(r_tot AS DECIMAL(38,0)) * c_tot) *
                        (CAST(obs AS DECIMAL(38,0)) * n - CAST(r_tot AS DECIMAL(38,0)) * c_tot))
                       div (CAST(n AS DECIMAL(38,0)) * r_tot * c_tot) AS BIGINT)""")
            .as("term_micro"))
        .orderBy("flag", "st")
    }),

    // Two-regressor OLS per return flag (agg_regr's MULTIPLE-regression
    // completion — price-dollars on (quantity, discount-percent) solved
    // EXACTLY by Cramer's rule on the centered 2×2 normal equations):
    // ONE partial-aggregatable pass collects the 9 moment sums on the
    // DECIMAL(38,0)/HUGEINT accumulator rule; centered second moments
    // (n·Sab − Sa·Sb) and the 2×2 determinants stay ≤ ~4e36 at sf1 with
    // the chosen units — dollars and whole percent; cents/bp would push
    // the worst-case determinant products past width 38, where Spark
    // degrades to NULL silently (the agg_corr_matrix overflow mode).
    // Each slope leaves as SIGN + |β|·1e3 via the exact quotient/remainder
    // split floor(1e3·a/den) = 1e3·q + (1e3·r) div den with a = |num|,
    // r = a − q·den < den — the scale factor never multiplies a full-width
    // determinant, so the bound is provable, and milli-resolution is ample
    // for dollar-scale slopes. Collinear groups (den = 0) emit NULL.
    // Scale: one groupBy over 3 groups, map-side combining carries 10
    // numbers per (task, group) — one scan at any corpus size.
    "agg_ols_multi" -> ((s, d) => {
      val base = lineitem(s, d, par = true).select(col("l_returnflag").as("flag"),
        col("l_quantity").cast("long").as("x1"),
        d4(col("l_discount")).as("dbp"),
        money(col("l_extendedprice")).as("yc"))
        .select(col("flag"), col("x1"),
          expr("dbp div 100").as("x2"), expr("yc div 100").as("y"))
      val m = base.groupBy("flag").agg(
        count(lit(1)).as("n"),
        sum("x1").as("s1"), sum("x2").as("s2"), sum("y").as("sy"),
        sum(expr("CAST(x1 AS DECIMAL(38,0)) * x1")).as("s11"),
        sum(expr("CAST(x2 AS DECIMAL(38,0)) * x2")).as("s22"),
        sum(expr("CAST(x1 AS DECIMAL(38,0)) * x2")).as("s12"),
        sum(expr("CAST(x1 AS DECIMAL(38,0)) * y")).as("s1y"),
        sum(expr("CAST(x2 AS DECIMAL(38,0)) * y")).as("s2y"))
      m.select(col("flag"), col("n"),
          expr("CAST(n AS DECIMAL(38,0)) * s11 - CAST(s1 AS DECIMAL(38,0)) * s1").as("c11"),
          expr("CAST(n AS DECIMAL(38,0)) * s22 - CAST(s2 AS DECIMAL(38,0)) * s2").as("c22"),
          expr("CAST(n AS DECIMAL(38,0)) * s12 - CAST(s1 AS DECIMAL(38,0)) * s2").as("c12"),
          expr("CAST(n AS DECIMAL(38,0)) * s1y - CAST(s1 AS DECIMAL(38,0)) * sy").as("c1y"),
          expr("CAST(n AS DECIMAL(38,0)) * s2y - CAST(s2 AS DECIMAL(38,0)) * sy").as("c2y"))
        .select(col("flag"), col("n"),
          expr("c11 * c22 - c12 * c12").as("den"),
          expr("c22 * c1y - c12 * c2y").as("num1"),
          expr("c11 * c2y - c12 * c1y").as("num2"))
        .select(col("flag"), col("n"),
          expr("CASE WHEN num1 > 0 THEN 1L WHEN num1 < 0 THEN -1L ELSE 0L END").as("b1_sign"),
          expr("""CASE WHEN den = 0 THEN NULL ELSE CAST(
                    1000 * (abs(num1) div den)
                    + (1000 * (abs(num1) - (abs(num1) div den) * den)) div den
                  AS BIGINT) END""").as("b1_abs_milli"),
          expr("CASE WHEN num2 > 0 THEN 1L WHEN num2 < 0 THEN -1L ELSE 0L END").as("b2_sign"),
          expr("""CASE WHEN den = 0 THEN NULL ELSE CAST(
                    1000 * (abs(num2) div den)
                    + (1000 * (abs(num2) - (abs(num2) div den) * den)) div den
                  AS BIGINT) END""").as("b2_abs_milli"))
        .orderBy("flag")
    }),

    // Herfindahl–Hirschman concentration index per market segment (the
    // market-concentration report a revenue audit runs): firms = customers,
    // shares = revenue share within the segment. hhi_bp = 10000·Σrᵢ²/(Σrᵢ)²
    // in EXACT integer arithmetic — per-firm revenue is a moneySum
    // (decimal-exact), the square-sum rides a DECIMAL(38,0) accumulator
    // (agg_gini rule: ~1.5e6 firms × (5e7 cents)² ≈ 4e21 ≪ 1e38; ×10000
    // still ≪ 1e38), and the final ratio is ONE integral divide (both
    // engines truncate toward zero). Scale: two stacked
    // partial-aggregatable shuffles — (seg, custkey) then (seg) — with the
    // customer dim broadcast onto orders; nothing corpus-sized is held,
    // sorted, or windowed.
    "agg_hhi" -> ((s, d) =>
      Shared.segRevenue(s, d, col("o_custkey"), "r")
        .groupBy("seg")
        .agg(count(lit(1)).as("n_firms"),
          expr("CAST(sum(r) AS DECIMAL(38,0))").as("t"),
          expr("sum(CAST(r AS DECIMAL(38,0)) * r)").as("sq"))
        .select(col("seg"), col("n_firms"),
          expr("10000 * sq div (t * t)").as("hhi_bp"))
        .orderBy("seg")),

    // Theil T inequality index per market segment — the mean-log-deviation
    // member of the inequality trio (agg_gini: rank-based; agg_hhi:
    // concentration; Theil: decomposable entropy form). T·n = Σ (x/μ)·
    // ln(x/μ) with x/μ = r·n/S; each term is in floored micro-nats
    // (Norm.floorMicro). Emitted as (sum, n): the engine never divides.
    // r·n ≤ ~1.5e15 stays inside double's 2^53 exact-integer range —
    // documented headroom, not luck.
    // Scale: (seg, custkey) partial agg, |segs|-row stats broadcast back,
    // one final partial-aggregatable seg rollup.
    "agg_theil" -> ((s, d) => {
      val rev = Shared.segRevenue(s, d, col("o_custkey"), "r")
      val stats = rev.groupBy("seg")
        .agg(count(lit(1)).as("n_firms"), sum("r").as("tot"))
      rev.join(broadcast(stats), Seq("seg"))
        .withColumn("term", expr(floorMicro(TheilTerm)))
        .groupBy("seg")
        .agg(max("n_firms").as("n_firms"), max("tot").as("total_cents"),
          sum("term").as("theil_micro_sum"))
        .orderBy("seg")
    }),

    // Benford first-digit audit over order totals — the fraud/data-quality
    // screen a finance pipeline runs on every ingested ledger. The digit is
    // taken from the EXACT integer cents (money() BIGINT → string → first
    // char), so both engines see the identical character; the observed
    // share and the Benford expectation log10(1+1/d) are both emitted as
    // integer basis points (one integral divide; Norm.floorBp for the
    // expectation). Scale: one partial-aggregatable 9-group groupBy plus a
    // broadcast 1-row total — nothing corpus-sized held or sorted.
    "agg_benford" -> ((s, d) => {
      // guard digit ∈ '1'..'9' so the op is total over its input domain: a
      // zero/negative amount would yield digit '0'/'-' whose 1/CAST diverges
      // between engines (Spark non-ANSI → NULL/Infinity, DuckDB errors)
      val digits = orders(s, d)
        .select(substring(money(col("o_totalprice")).cast("string"), 1, 1).as("digit"))
        .filter(col("digit").between("1", "9"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val tot = digits.agg(sum("n").as("total"))
      digits.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          expr("10000 * n div total").as("share_bp"),
          expr(floorBp("log10(1.0 + 1.0 / CAST(digit AS DOUBLE))")).as("benford_bp"))
        .orderBy("digit")
    }),

    // Pointwise mutual information between event type and ISO day-of-week —
    // the dependence screen that tells a pipeline whether a categorical
    // pair is worth a composite partition key. Cell/marginal counts are
    // exact partial-aggregatable aggregates; the per-cell
    // pmi = ln(n_xy·N / (n_x·n_y)) is in floored micro-nats
    // (Norm.floorMicro). Scale: one corpus-sized (type, dow) groupBy — 35
    // cells — then metadata-sized re-aggregations and broadcast joins.
    "agg_mutual_info" -> ((s, d) => {
      val cells = events(s, d)
        .select(col("event_type"),
          expr("CAST((dayofweek(ts) + 5) % 7 + 1 AS BIGINT)").as("dow"))
        .groupBy("event_type", "dow").agg(count(lit(1)).as("n_xy"))
      val nx = cells.groupBy("event_type").agg(sum("n_xy").as("n_x"))
      val ny = cells.groupBy("dow").agg(sum("n_xy").as("n_y"))
      val tot = cells.agg(sum("n_xy").as("total"))
      cells.join(broadcast(nx), Seq("event_type")).join(broadcast(ny), Seq("dow"))
        .crossJoin(broadcast(tot))
        .select(col("event_type"), col("dow"), col("n_xy"),
          expr(floorMicro("ln((CAST(n_xy AS DOUBLE) * total) / (CAST(n_x AS DOUBLE) * n_y))"))
            .as("pmi_micro"))
        .orderBy("event_type", "dow")
    }),

    // Exact quartile band report (p25/p50/p75 + IQR) per return flag —
    // the spread profile an outlier policy is calibrated from. All three
    // quartiles resolve in one Shared.bucketedPdiscMulti pass over the
    // shared (flag, cents) histogram.
    "agg_iqr" -> ((s, d) => {
      val hist = Shared.centsHist(s, d)
      Shared.bucketedPdiscMulti(hist, "l_returnflag", "cents", "w",
          Seq((1, 4, "p25"), (1, 2, "p50"), (3, 4, "p75")))
        .select(col("l_returnflag"), col("p25"), col("p50"), col("p75"),
          (col("p75") - col("p25")).as("iqr"))
        .orderBy("l_returnflag")
    }),

    // Exact trimmed mean per return flag: drop values outside [p10, p90]
    // (inclusive) and report the surviving census + integer-cent mean.
    // Cutpoints come from Shared.bucketedPdiscMulti, broadcast back as
    // per-group bounds; the trim itself is one conditional
    // partial-aggregatable re-pass.
    // The robust-location stat an outlier policy reports next to
    // filter_outlier_mad's flag column.
    "agg_trimmed_mean" -> ((s, d) => {
      // The trim census depends only on (flag, cents), so it derives from
      // the same histogram as the cutpoints: n_kept = Σw, sum_kept =
      // Σ cents·w over the [p10, p90] band.
      val hist = Shared.centsHist(s, d)
      val cp = Shared.bucketedPdiscMulti(hist, "l_returnflag", "cents", "w",
        Seq((1, 10, "p10"), (9, 10, "p90")))
      hist.join(broadcast(cp), "l_returnflag")
        .filter(col("cents") >= col("p10") && col("cents") <= col("p90"))
        .groupBy("l_returnflag")
        .agg(sum("w").as("n_kept"), sum(col("cents") * col("w")).as("sum_kept"),
          max("p10").as("p10"), max("p90").as("p90"))
        .withColumn("trimmed_mean_c", expr("sum_kept div n_kept"))
        .orderBy("l_returnflag")
    }),

    // Revenue concentration in the top-10 customers — the "whale share"
    // stat next to agg_gini/agg_hhi. The top-10 rides a TakeOrdered global
    // top-k over the customer-collapsed frame (never a full sort; ties
    // broken by custkey so the limit boundary is engine-stable), totals
    // ride a 1-row broadcast; share is one integral divide.
    "agg_topn_share" -> ((s, d) => {
      val rev = orders(s, d).groupBy("o_custkey")
        .agg(moneySum(col("o_totalprice")).as("r"))
        .localCheckpoint(false)
      val top = rev.orderBy(col("r").desc, col("o_custkey")).limit(10)
      val tot = rev.agg(sum("r").as("total"), count(lit(1)).as("n_cust"))
      top.agg(sum("r").as("top10_cents"), min("r").as("cutoff_cents"))
        .crossJoin(broadcast(tot))
        .select(col("n_cust"), col("total").as("total_cents"), col("top10_cents"),
          col("cutoff_cents"), expr("10000 * top10_cents div total").as("top10_share_bp"))
    }),

    // 2D Pareto frontier (skyline) of customers over (order count, revenue):
    // the non-dominated set — no other customer has strictly more orders AND
    // at least as much revenue. The naive skyline is a corpus-sized
    // single-partition window sort; this decomposes: per-freq max revenue
    // (freq domain is bounded — tens of distinct order counts), then the
    // running max over freq DESC runs on that METADATA-sized frame only.
    // A frontier point is a per-freq maximum that beats every higher-freq
    // maximum. Ties on revenue keep the smallest custkey (engine-stable).
    "agg_pareto_frontier" -> ((s, d) => {
      val rev = orders(s, d).groupBy("o_custkey")
        .agg(count(lit(1)).as("freq"), moneySum(col("o_totalprice")).as("mon"))
      val perF = rev.groupBy("freq")
        .agg(max("mon").as("max_mon"))
      val wDesc = Window.orderBy(col("freq").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val frontierF = perF
        .withColumn("best_higher", max("max_mon").over(wDesc))
        .filter(col("best_higher").isNull || col("max_mon") > col("best_higher"))
        .select(col("freq"), col("max_mon").as("mon"))
      rev.join(broadcast(frontierF), Seq("freq", "mon"))
        .groupBy("freq", "mon").agg(min("o_custkey").as("o_custkey"))
        .select("o_custkey", "freq", "mon")
        .orderBy(col("freq").desc)
    }),

    // TPC-H Q1 pricing summary — the flagship.
    "agg_hash_groupby" -> ((s, d) =>
      lineitem(s, d, par = true)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_base_price"),
          moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          money(avg("l_quantity")).as("avg_qty"),
          money(avg("l_extendedprice")).as("avg_price"),
          d4(avg("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    "agg_global" -> ((s, d) =>
      lineitem(s, d)
        .agg(
          moneySum(col("l_extendedprice")).as("sum_price"),
          moneySum(col("l_quantity")).as("sum_qty"),
          money(avg("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("n_rows"))),

    "agg_count_distinct" -> ((s, d) =>
      orders(s, d)
        .groupBy("o_orderstatus")
        .agg(countDistinct("o_custkey").as("n_custs"))
        .orderBy("o_orderstatus")),

    "agg_multi_distinct" -> ((s, d) =>
      orders(s, d)
        .groupBy("o_orderstatus")
        .agg(
          countDistinct("o_custkey").as("n_custs"),
          countDistinct("o_orderpriority").as("n_prios"),
          moneySum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")),

    // HLL sketch values are engine-specific → oracle omitted (unit test
    // asserts ±5% of exact instead).
    "agg_approx_distinct" -> ((s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct("l_partkey").as("approx_parts"))
        .orderBy("l_returnflag")),

    "agg_grouping_sets" -> ((s, d) =>
      orders(s, d)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_prio"),
          moneySum(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy(
          col("g_status"), col("g_prio"),
          asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))),

    // SQL form: the Dataset `rollup` API trips Spark 4.1's ambiguous-self-join
    // check whenever the grouping columns come from a join (even after a
    // projection); `GROUP BY ROLLUP` through the SQL path resolves cleanly.
    // ROLLUP with GROUPING flags — the subtotal-row disambiguator a report
    // consumer needs when a grouping column is legitimately NULL-able (a
    // bare NULL can't distinguish "subtotal over X" from "X was null");
    // g1/g2 are exact 0/1 integers on both engines. Same temp-view SQL
    // path as agg_rollup (Dataset rollup after a join trips Spark 4.1's
    // ambiguous-self-join check).
    "agg_grouping_id" -> ((s, d) => {
      val src = orders(s, d).select("o_orderstatus", "o_orderpriority")
      withTempViews(s, "gid_src" -> src) { v =>
        s.sql(
          s"""SELECT o_orderstatus, o_orderpriority,
                     CAST(GROUPING(o_orderstatus) AS BIGINT) AS g1,
                     CAST(GROUPING(o_orderpriority) AS BIGINT) AS g2,
                     count(*) AS n
              FROM ${v("gid_src")}
              GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
              ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")
      }
    }),

    "agg_rollup" -> ((s, d) => {
      val src = customer(s, d)
        .join(nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .join(region(s, d), col("n_regionkey") === col("r_regionkey"))
        .select("r_name", "n_name")
      withTempViews(s, "rollup_src" -> src) { v =>
        s.sql(
          s"""SELECT r_name, n_name, count(*) AS n_custs FROM ${v("rollup_src")}
              GROUP BY ROLLUP (r_name, n_name)
              ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""")
      }
    }),

    "agg_cube" -> ((s, d) =>
      orders(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))),

    // Modal value per group (the classic ETL "most frequent" aggregate):
    // count-then-rank with a deterministic (count desc, value asc) tiebreak.
    "agg_mode" -> ((s, d) =>
      orders(s, d)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_orderstatus")
            .orderBy(col("n").desc, col("o_orderpriority"))))
        .filter(col("rn") === 1)
        .select(col("o_orderstatus"), col("o_orderpriority").as("modal_priority"), col("n"))
        .orderBy("o_orderstatus")),

    // Value histogram with FIXED bounds (literals, so bucketing is a pure
    // per-row function — no min/max pre-pass whose float aggregation order
    // could differ between engines). width_bucket returns BIGINT on both.
    "agg_histogram" -> ((s, d) =>
      orders(s, d)
        .select(expr("width_bucket(o_totalprice, 0.0d, 600000.0d, 20)").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"))
        .withColumn("lo", ((col("bucket") - 1) * 30000).cast("long"))
        .withColumn("hi", (col("bucket") * 30000).cast("long"))
        .select("bucket", "lo", "hi", "n")
        .orderBy("bucket")),

    // Deterministic arg-max: ties on acctbal break on the higher custkey via
    // lexicographic struct ordering (same total order as the oracle SQL).
    "agg_minmax_by" -> ((s, d) =>
      customer(s, d)
        .join(nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          max_by(col("c_name"), struct(col("c_acctbal"), col("c_custkey"))).as("top_customer"),
          money(max("c_acctbal")).as("top_acctbal"))
        .orderBy("n_name")),

    // collect_list is a non-partial-able object buffer; sorted then joined to
    // a plain string so the hashed output has no nested types.
    "agg_collect_sorted" -> ((s, d) =>
      nation(s, d)
        .join(region(s, d), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(concat_ws(",", sort_array(collect_list(col("n_name")))).as("nations"))
        .orderBy("r_name")),

    "agg_stats" -> ((s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          d4(stddev_samp("l_extendedprice")).as("sd_price"),
          d4(var_samp("l_quantity")).as("var_qty"),
          d4(corr(col("l_extendedprice"), col("l_quantity"))).as("corr_pq"),
          d4(covar_samp(col("l_extendedprice"), col("l_quantity"))).as("covar_pq"))
        .orderBy("l_returnflag")),

    // Order-independent bitwise/boolean aggregates.
    "agg_bitwise_bool" -> ((s, d) =>
      orders(s, d)
        .groupBy("o_orderstatus")
        .agg(
          bit_and(col("o_orderkey")).as("band"),
          bit_or(col("o_orderkey")).as("bor"),
          bit_xor(col("o_orderkey")).as("bxor"),
          every(col("o_totalprice") > 0).as("all_pos"),
          some(col("o_totalprice") > 400000).as("any_big"))
        .orderBy("o_orderstatus")),

    // t-digest style sketch percentile — engine-specific values, so oracle
    // omitted (rows-only check); GoldenSuite asserts closeness to exact.
    "agg_approx_percentile" -> ((s, d) =>
      lineitem(s, d)
        .groupBy("l_linestatus")
        .agg(
          percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("p50_approx"),
          percentile_approx(col("l_quantity"), lit(0.9), lit(10000)).as("p90_approx"))
        .orderBy("l_linestatus")),

    "agg_percentile" -> ((s, d) =>
      lineitem(s, d)
        .groupBy("l_linestatus")
        .agg(
          d4(percentile(col("l_quantity"), lit(0.5))).as("p50_qty"),
          d4(percentile(col("l_quantity"), lit(0.9))).as("p90_qty"))
        .orderBy("l_linestatus")),

    // Weighted aggregation (revenue-weighted averages — the mixture-stats
    // shape): numerator and denominator are each per-row INTEGER micro-unit
    // conversions summed exactly, and the ratio is one integer division at
    // the end — no double ever crosses a shuffle, so the result is
    // identical at any partition count. Both sums partial-aggregate.
    // The micro-unit sums are accumulated in DECIMAL(38,0) (mirroring
    // DuckDB's HUGEINT sum): at 1e10 µ-units per row a BIGINT accumulator
    // overflows ANSI-fatally past ~9e8 rows per group — sf0.1 already
    // tripped the `10000 ×` headroom. The final integral division is the
    // only narrowing back to BIGINT.
    "agg_weighted" -> ((s, d) =>
      lineitem(s, d, par = true)
        .select(col("l_returnflag"),
          d6(col("l_discount") * col("l_extendedprice")).as("wd_u"),
          d6(col("l_quantity") * col("l_extendedprice")).as("wq_u"),
          d6(col("l_extendedprice")).as("w_u"))
        .groupBy("l_returnflag")
        .agg(
          expr("sum(CAST(wd_u AS DECIMAL(38,0)))").as("swd"),
          expr("sum(CAST(wq_u AS DECIMAL(38,0)))").as("swq"),
          expr("sum(CAST(w_u AS DECIMAL(38,0)))").as("sw"))
        .select(col("l_returnflag"),
          expr("CAST((swd * 10000) div sw AS BIGINT)").as("wavg_disc_bp"),
          expr("CAST((swq * 100) div sw AS BIGINT)").as("wavg_qty_c"))
        .orderBy("l_returnflag")),

    // Mergeable-sketch reaggregation (the DataSketches HLL pattern): build
    // one HLL sketch per group, then UNION THE SKETCHES — not the raw
    // data — into the global distinct estimate. At 100 TB this is how
    // per-partition/per-day sketches roll up to any coarser grain without
    // rescanning: the shuffle carries kilobyte sketch buffers, one per
    // group. Sketch values are engine-specific → oracle omitted (rows-only
    // driver check); Round6Suite asserts ±5% of exact and that the union
    // estimate ≥ each group's (monotonicity under union).
    "agg_sketch_hll" -> ((s, d) => {
      val sk = lineitem(s, d).groupBy("l_returnflag")
        .agg(hll_sketch_agg(col("l_partkey"), lit(12)).as("sk"))
      sk.select(col("l_returnflag"), hll_sketch_estimate(col("sk")).as("approx_parts"))
        .unionAll(sk.agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
          .select(lit("ALL").as("l_returnflag"), col("est").as("approx_parts")))
        .orderBy("l_returnflag")
    }),

    // Count-min sketch heavy-hitter frequencies (the point-query sibling
    // of agg_sketch_hll's cardinality and agg_approx_topk's top-k): the
    // kB-sized CMS is built DISTRIBUTIVELY (per-partition sketches merged
    // by treeAggregate — the same mergeable-state roll-up as the other
    // sketches; only the merged kB sketch ever reaches the driver, never
    // data), then probed for each event type's estimated frequency next to
    // the exact count. CMS guarantees estimate ≥ truth and, at eps=0.001,
    // ≤ truth + 0.001·N w.h.p. — both bounds unit-tested; estimates are
    // hash-seed-specific, so the oracle is omitted like the other
    // sketches. err_bp pins how tight the sketch actually is.
    "agg_sketch_cms" -> ((s, d) => {
      val ev = events(s, d)
      val cms = ev.stat.countMinSketch(col("event_type"), eps = 0.001,
        confidence = 0.99, seed = 42)
      val est = eventTypesCms.map(t => (t, cms.estimateCount(t)))
      val sp = s; import sp.implicits._
      ev.groupBy("event_type").agg(count(lit(1)).as("n_exact"))
        .join(broadcast(est.toDF("event_type", "n_est")), "event_type")
        .select(col("event_type"), col("n_exact"), col("n_est"),
          expr("10000 * (n_est - n_exact) div n_exact").as("err_bp"))
        .orderBy("event_type")
    }),

    // Linear-regression aggregate family (y = price, x = quantity per flag).
    // Like the other moment aggregates these are partial-aggregatable
    // (sum/sum²/sum·xy buffers), so the shuffle stays one row per key.
    "agg_regr" -> ((s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          d4(regr_slope(col("l_extendedprice"), col("l_quantity"))).as("slope"),
          d4(regr_intercept(col("l_extendedprice"), col("l_quantity"))).as("icept"),
          d4(regr_r2(col("l_extendedprice"), col("l_quantity"))).as("r2"),
          regr_count(col("l_extendedprice"), col("l_quantity")).as("n_pairs"))
        .orderBy("l_returnflag")),

    // ANSI FILTER-clause conditional aggregation: one pass computing several
    // differently-filtered aggregates (vs N self-joined scans) — the shape
    // that matters at 100 TB where each extra pass is a full table read.
    "agg_filter_clause" -> ((s, d) =>
      orders(s, d)
        .groupBy("o_orderstatus")
        .agg(
          expr("count(*) FILTER (WHERE o_totalprice > 200000)").as("n_big"),
          moneySum(when(col("o_orderpriority") === "1-URGENT", col("o_totalprice"))).as("urgent_rev"),
          expr("count_if(o_orderpriority IN ('1-URGENT', '2-HIGH'))").as("n_hot"))
        .orderBy("o_orderstatus")),

    // PRODUCT aggregation — Spark has no product() aggregate. The r12 sf100
    // decade measured the previous plan (higher-order fold over
    // collect_list) at 70.7× across sf10→sf100: collect_list allocates a
    // per-group array buffer inside an ObjectHashAggregate, which degrades
    // to sort-based aggregation once the hash map fills (~150M groups at
    // sf100). The bounded-domain rewrite exploits l_linenumber ∈ [1,7]:
    //   product = Π_{v=2..7} v^count_v   (v=1 contributes ×1)
    // Six conditional COUNT counters run in a pure codegen'd HashAggregate
    // (longs only, partial-agg map-side combine, no per-group buffer); the
    // exponentiation is an exact-BIGINT fold over array_repeat applied ONCE
    // per OUTPUT row (≤ 13 multiplications on a ≤13-element array — float-
    // free, so no exp(sum(ln x)) drift and nothing to round). ≤ 13
    // lines/order keeps the product ≪ 2^63, same as before; the oracle SQL
    // (DuckDB's native product()) is unchanged — this is a plan-only
    // rewrite with identical results.
    "agg_product" -> ((s, d) => {
      val cnts = (2 to 7).map(v =>
        count(when(col("l_linenumber") === v, 1)).cast("int").as(s"c$v"))
      val prodCol = (2 to 7).map(v =>
        expr(s"aggregate(array_repeat(CAST($v AS BIGINT), c$v), 1L, (acc, x) -> acc * x)"))
        .reduce(_ * _)
      lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(cnts.head, (cnts.tail :+ count(lit(1)).as("n_lines")): _*)
        .select(col("l_orderkey"), prodCol.as("line_product"), col("n_lines"))
        .orderBy("l_orderkey")
    }),

    // Median absolute deviation (the robust spread statistic): two exact-
    // percentile passes — group median, broadcast back, median of absolute
    // deviations. Both engines interpolate quantiles identically on the
    // exactly-representable quantity values (agg_percentile precedent); the
    // median frame is tiny (one row per group) so the second pass costs one
    // broadcast, not a shuffle.
    "agg_mad" -> ((s, d) => {
      val med = lineitem(s, d).groupBy("l_linestatus")
        .agg(percentile(col("l_quantity"), lit(0.5)).as("med"))
      lineitem(s, d).join(broadcast(med), "l_linestatus")
        .groupBy("l_linestatus")
        .agg(
          d4(percentile(abs(col("l_quantity") - col("med")), lit(0.5))).as("mad_qty"),
          d4(min(col("med"))).as("med_qty"))
        .orderBy("l_linestatus")
    }),

    // DISCRETE percentile (SQL-standard percentile_disc: smallest value
    // whose cume_dist ≥ p) — returns an ACTUAL data value, so applied to
    // integer cents it is exact by construction: no interpolation, no float,
    // nothing to round. The continuous variant (agg_percentile) interpolates;
    // this is the one to use when the answer must be a real observation.
    // Not the builtin percentile_disc, whose per-group value→count map
    // grows with the corpus: the corpus collapses once to the (flag, cents)
    // histogram, and both percentiles and the count n come from one
    // Shared.bucketedPdiscMulti pass over it.
    "agg_percentile_disc" -> ((s, d) =>
      Shared.bucketedPdiscMulti(Shared.centsHist(s, d), "l_returnflag", "cents", "w",
          Seq((1, 2, "p50_cents"), (9, 10, "p90_cents")), total = Some("n"))
        .orderBy("l_returnflag")),

    // Gini coefficient per market segment (spend-inequality analytics),
    // exact: with x ascending and i = rank, G = (2Σi·x − (n+1)Σx)/(n·Σx) —
    // emitted as gini_bp = 10000·num div den via ONE truncating integral
    // divide in DECIMAL(38,0) (both engines truncate toward zero; num ≥ 0).
    // r11 sf10 finding: the earlier (gini_num, gini_den) BIGINT pair output
    // was itself the overflow — num ≈ G·n·Σx reached 7.6e19 at sf10's 15M
    // orders (CAST_OVERFLOW), and n·Σx grows as corpus²; the reduced bp is
    // ≤ 10000 at ANY corpus size while the wide math stays in the decimal
    // accumulators end to end.
    // The 2Σi·x moment decomposes over TIE GROUPS: rows with equal
    // (seg, cents) occupy ranks below+1..below+c regardless of the
    // o_orderkey tiebreak, so Σ 2i·x over the group = x·c·(2·below+c+1) —
    // only the multiplicity c and the count `below` of rows with smaller
    // cents are needed, a Shared.bucketedPrefix over the (seg, cents)
    // collapse. The moment sums run in DECIMAL(38,0) (x·c·(2·below+c+1)
    // ≈ 1e28 at 100 TB would ANSI-overflow BIGINT) before the single
    // narrowing back; the oracle keeps the row_number() definition.
    "agg_gini" -> ((s, d) => {
      val j = orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), money(col("o_totalprice")).as("cents"))
      // Lazy localCheckpoint: the collapsed histogram feeds the offset
      // broadcast subtree AND the probe side — without it each broadcast
      // job recompiles the corpus collapse from the scan (their canonical
      // forms differ by pushed null-filters, so ReuseExchange never fires;
      // measured 3× recompute). Value-bounded frame, so the checkpoint
      // blocks are small at any corpus size; freed by the ContextCleaner
      // when the invocation's plan is dropped.
      val byVal = j.groupBy("seg", "cents").agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      Shared.bucketedPrefix(byVal, Seq("seg"), expr(Shared.valueBucket("cents")),
          Seq(col("cents")), Seq(col("c") -> "below"))
        .groupBy("seg")
        .agg(sum("c").as("n"),
          expr("""sum(CAST(cents AS DECIMAL(38,0)) * c * (2 * below + c + 1))""")
            .as("twice_six"),
          expr("CAST(sum(CAST(cents AS DECIMAL(38,0)) * c) AS BIGINT)").as("sx"))
        .select(col("seg"), col("n"),
          expr("""CAST((10000 * (twice_six - (n + 1) * CAST(sx AS DECIMAL(38,0))))
                       div (CAST(n AS DECIMAL(38,0)) * sx) AS BIGINT)""")
            .as("gini_bp"))
        .orderBy("seg")
    }),

    // LISTAGG (SQL:2016, Spark 4 `listagg … WITHIN GROUP`): ordered string
    // aggregation of a BOUNDED distinct set — per nation, the sorted market
    // segments its customers span. The explicit distinct-before-listagg
    // stage caps the string at |segments| (5) regardless of row count AND
    // partial-aggregates the heavy reduction (an unbounded listagg over raw
    // rows would be the string-typed collect_list anti-pattern). Kept as two
    // stages rather than `listagg(DISTINCT …)` + count(DISTINCT) in one agg:
    // Spark 4.1's ListAgg.withNewChildrenInternal miscasts under the
    // multi-distinct rewrite (Expand reconstructs children as plain
    // attributes where ListAgg expects SortOrder).
    "agg_listagg" -> ((s, d) =>
      customer(s, d)
        .select("c_nationkey", "c_mktsegment").distinct()
        .groupBy("c_nationkey")
        .agg(
          expr("listagg(c_mktsegment, ',') WITHIN GROUP (ORDER BY c_mktsegment)")
            .as("segs"),
          count(lit(1)).as("n_seg"))
        .orderBy("c_nationkey")),

    // Exact central-moment BASIS (skewness/kurtosis without floats): the
    // power sums (n, Σx, Σx², Σx³, Σx⁴) of integer quantities per
    // returnflag. Each is a plain partial-aggregatable SUM — one constant-
    // size buffer per (partition, key) on the shuffle, the same mergeable-
    // moments shape the regr_* family uses internally — and skew/kurtosis
    // derive from them in closed form downstream without a second scan.
    // q ≤ 50 ⇒ q⁴ ≤ 6.25e6 per row, so a BIGINT Σq⁴ holds ~1.5e12 rows per
    // group; beyond that the sums move to the DECIMAL(38,0) accumulator
    // (the agg_weighted overflow rule).
    "agg_central_moments" -> ((s, d) =>
      lineitem(s, d)
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum("q").as("s1"),
          sum(expr("q * q")).as("s2"),
          sum(expr("q * q * q")).as("s3"),
          sum(expr("q * q * q * q")).as("s4"))
        .orderBy("l_returnflag")),

    // Heavy-hitters sketch with MERGEABLE state (Spark 4's
    // approx_top_k_accumulate → _combine → _estimate): per-slice sketches
    // union at kilobyte size — the roll-up-without-rescan shape of
    // agg_sketch_hll, for top-k instead of cardinality. Unlike HLL this op
    // IS oracle-backed: with |event_type| = 5 ≪ maxItemsTracked (10k) the
    // sketch never evicts, so its counts are EXACT — the exactness regime a
    // production top-k monitor relies on (and the boundary the unit test
    // documents). (count desc, item) is a total order, so emission is
    // engine-stable.
    "agg_approx_topk" -> ((s, d) =>
      events(s, d)
        .groupBy((col("user_id") % 8).as("slice"))
        .agg(expr("approx_top_k_accumulate(event_type, 5)").as("sk"))
        .agg(expr("approx_top_k_estimate(approx_top_k_combine(sk), 5)").as("est"))
        .select(explode(col("est")).as("e"))
        .select(col("e.item").as("event_type"), col("e.count").as("n"))
        .orderBy(col("n").desc, col("event_type"))),

    // Exact COUNT DISTINCT via fixed-width bitmap chunks (the bitmap-index
    // trick high-QPS OLAP engines use for integer keys): keys bucket into
    // 32-bit words (key div 32), each partition ORs its local mask, and the
    // shuffle carries ONE BIGINT per (group, word) — a fixed-size combinable
    // state — instead of the raw key stream count(DISTINCT) ships when its
    // partial dedup overflows. popcounts then sum per group. Words are 32
    // bits held in BIGINT lanes: shift ≤ 31 never reaches the sign bit,
    // which DuckDB's checked `<<` rejects at 63 (Spark's shiftleft would
    // silently wrap — same mask, but the oracle engine errors out).
    // Exactly equal to count(DISTINCT) by construction; both emitted so
    // the oracle pins the equality, not just the number.
    "agg_bitmap_distinct" -> ((s, d) =>
      orders(s, d)
        .select(col("o_orderpriority").as("prio"),
          expr("o_custkey div 32").as("word"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(o_custkey % 32 AS INT))").as("bit"))
        .groupBy("prio", "word").agg(bit_or(col("bit")).as("mask"))
        .groupBy("prio")
        .agg(sum(expr("bit_count(mask)")).as("n_distinct"),
          count(lit(1)).as("n_words"))
        .orderBy("prio")),

    // Gini–Simpson diversity index per user (categorical-mix breadth, the
    // engagement-diversity report): 1 − Σp² over the user's event-type
    // distribution. Chosen over Shannon entropy deliberately: 1 − Σp² is
    // RATIONAL, so `10000·(N² − Σc²) div N²` is exact integer arithmetic —
    // an entropy twin would race engine ln() ulp differences. Two stacked
    // partial-aggregatable shuffles, both keyed on user_id. Overflow:
    // 10⁴·N² needs N ≤ 9.6e6 events/user in BIGINT; beyond that the
    // agg_weighted DECIMAL(38,0) accumulator rule applies.
    "agg_diversity_simpson" -> ((s, d) =>
      events(s, d)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
        .groupBy("user_id")
        .agg(sum("c").as("n_events"), count(lit(1)).as("n_types"),
          sum(expr("c * c")).as("s2"))
        .select(col("user_id"), col("n_events"), col("n_types"),
          expr("10000 * (n_events * n_events - s2) div (n_events * n_events)")
            .as("simpson_bp"))
        .orderBy("user_id")),

    // Exact weighted median — the order statistic the percentile family
    // can't express (each row counts with an integer weight): per return
    // flag, the smallest price (cents) whose cumulative quantity weight
    // reaches half the total, tested as 2·cum ≥ W in cross-multiplied
    // integers — no division, no float. One partial-aggregatable
    // (flag, cents) weight-sum shuffle collapses the corpus to the
    // distinct-cents frame, and Shared.bucketedPdisc resolves the median
    // and the total weight over it. Weights are integral by data contract
    // (TPC-H quantity), so the BIGINT cast agrees across engines; the
    // oracle keeps the single-window form as the semantic definition.
    "agg_weighted_median" -> ((s, d) => {
      // Lazy localCheckpoint: the collapsed histogram feeds the crossing
      // broadcast subtree AND the probe side (see agg_gini note on why
      // ReuseExchange can't dedupe the recompute).
      val wByPrice = Gates.spreadBy(s, d, "lineitem",
          lineitem(s, d).select(col("l_returnflag"), money(col("l_extendedprice")).as("cents"),
            col("l_quantity").cast("long").as("w")),
          Seq("l_returnflag", "cents"))
        .groupBy("l_returnflag", "cents").agg(sum("w").as("wc"))
        .localCheckpoint(false)
      Shared.bucketedPdiscMulti(wByPrice, "l_returnflag", "cents", "wc",
          Seq((1, 2, "wmedian_cents")), total = Some("total_weight"))
        .orderBy("l_returnflag")
    }),

    // Shannon diversity — the log-based sibling of agg_diversity_simpson:
    // H = ln N − (Σ c·ln c)/N per user. Each ln is in floored micro-units
    // (Norm.floorMicro), so the weighted sum and the final division are
    // exact integer arithmetic. Same two partial-aggregatable
    // shuffles as simpson: (user, type) then (user); no corpus-sized state.
    "agg_diversity_shannon" -> ((s, d) =>
      events(s, d)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
        .groupBy("user_id")
        .agg(sum("c").as("n_events"), count(lit(1)).as("n_types"),
          sum(expr(s"c * ${floorMicro("ln(CAST(c AS DOUBLE))")}")).as("clnc_u"))
        .select(col("user_id"), col("n_events"), col("n_types"),
          expr(s"""${floorMicro("ln(CAST(n_events AS DOUBLE))")}
                  - clnc_u div n_events""").as("shannon_u"))
        .orderBy("user_id")),
  )

  val oracle: Map[String, String] = Map(
    // Same 15 moment sums in HUGEINT; the 6 pair rows come from a 6-way
    // UNION ALL over the |groups|-row aggregate CTE (SQL's explode), and
    // the r² factorization is the identical pair of floor-divides.
    "agg_corr_matrix" ->
      s"""WITH b AS (SELECT l_returnflag AS flag,
                            CAST(l_quantity AS BIGINT) AS q,
                            ${moneySql("l_extendedprice")} AS p,
                            ${d4Sql("l_discount")} AS dc,
                            ${d4Sql("l_tax")} AS tx
                     FROM lineitem),
              m AS (SELECT flag, count(*) AS n,
                           sum(CAST(q AS HUGEINT)) AS sq, sum(CAST(p AS HUGEINT)) AS sp,
                           sum(CAST(dc AS HUGEINT)) AS sd, sum(CAST(tx AS HUGEINT)) AS st,
                           sum(CAST(q AS HUGEINT) * q) AS sq2, sum(CAST(p AS HUGEINT) * p) AS sp2,
                           sum(CAST(dc AS HUGEINT) * dc) AS sd2, sum(CAST(tx AS HUGEINT) * tx) AS st2,
                           sum(CAST(q AS HUGEINT) * p) AS sqp, sum(CAST(q AS HUGEINT) * dc) AS sqd,
                           sum(CAST(q AS HUGEINT) * tx) AS sqt, sum(CAST(p AS HUGEINT) * dc) AS spd,
                           sum(CAST(p AS HUGEINT) * tx) AS spt, sum(CAST(dc AS HUGEINT) * tx) AS sdt
                    FROM b GROUP BY flag),
              pr AS (SELECT flag, n, 'q_p' AS pair, sq AS sa, sp AS sb, sq2 AS sa2, sp2 AS sb2, sqp AS sab FROM m
                     UNION ALL SELECT flag, n, 'q_dc', sq, sd, sq2, sd2, sqd FROM m
                     UNION ALL SELECT flag, n, 'q_tx', sq, st, sq2, st2, sqt FROM m
                     UNION ALL SELECT flag, n, 'p_dc', sp, sd, sp2, sd2, spd FROM m
                     UNION ALL SELECT flag, n, 'p_tx', sp, st, sp2, st2, spt FROM m
                     UNION ALL SELECT flag, n, 'dc_tx', sd, st, sd2, st2, sdt FROM m),
              c AS (SELECT flag, pair, n,
                           CAST(n AS HUGEINT) * sab - sa * sb AS num,
                           CAST(n AS HUGEINT) * sa2 - sa * sa AS dena,
                           CAST(n AS HUGEINT) * sb2 - sb * sb AS denb
                    FROM pr)
         SELECT flag, pair, n,
                CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END AS BIGINT) AS r_sign,
                CASE WHEN dena = 0 OR denb = 0 THEN NULL
                     ELSE CAST((1000000000 * num // dena) *
                               (1000000000 * num // denb) AS BIGINT) END AS r2_x18
         FROM c ORDER BY flag, pair""",
    // Same cell frame and window totals; HUGEINT carries the same
    // over-BIGINT intermediates and `//` truncates like `div` (all
    // operands nonnegative).
    "agg_chi2_independence" ->
      """WITH cells AS (SELECT l_returnflag AS flag, l_linestatus AS st,
                               count(*) AS obs
                        FROM lineitem GROUP BY 1, 2),
              t AS (SELECT flag, st, obs,
                           sum(obs) OVER (PARTITION BY flag) AS r_tot,
                           sum(obs) OVER (PARTITION BY st) AS c_tot,
                           sum(obs) OVER () AS n
                    FROM cells)
         SELECT flag, st, obs,
                CAST(r_tot AS BIGINT) AS r_tot, CAST(c_tot AS BIGINT) AS c_tot,
                CAST((CAST(r_tot AS HUGEINT) * c_tot * 1000000) // n AS BIGINT) AS exp_micro,
                CAST((1000000 *
                      (CAST(obs AS HUGEINT) * n - CAST(r_tot AS HUGEINT) * c_tot) *
                      (CAST(obs AS HUGEINT) * n - CAST(r_tot AS HUGEINT) * c_tot))
                     // (CAST(n AS HUGEINT) * r_tot * c_tot) AS BIGINT) AS term_micro
         FROM t ORDER BY flag, st""",
    // Same centered normal equations in HUGEINT; all quotient/remainder
    // operands are nonnegative (a = |num|, den > 0), where `//` and `div`
    // agree exactly (both truncate, and truncation = floor on nonnegatives).
    "agg_ols_multi" ->
      s"""WITH b AS (SELECT l_returnflag AS flag,
                            CAST(l_quantity AS BIGINT) AS x1,
                            ${d4Sql("l_discount")} // 100 AS x2,
                            ${moneySql("l_extendedprice")} // 100 AS y
                     FROM lineitem),
              m AS (SELECT flag, count(*) AS n,
                           sum(CAST(x1 AS HUGEINT)) AS s1, sum(CAST(x2 AS HUGEINT)) AS s2,
                           sum(CAST(y AS HUGEINT)) AS sy,
                           sum(CAST(x1 AS HUGEINT) * x1) AS s11,
                           sum(CAST(x2 AS HUGEINT) * x2) AS s22,
                           sum(CAST(x1 AS HUGEINT) * x2) AS s12,
                           sum(CAST(x1 AS HUGEINT) * y) AS s1y,
                           sum(CAST(x2 AS HUGEINT) * y) AS s2y
                    FROM b GROUP BY flag),
              c AS (SELECT flag, n,
                           CAST(n AS HUGEINT) * s11 - s1 * s1 AS c11,
                           CAST(n AS HUGEINT) * s22 - s2 * s2 AS c22,
                           CAST(n AS HUGEINT) * s12 - s1 * s2 AS c12,
                           CAST(n AS HUGEINT) * s1y - s1 * sy AS c1y,
                           CAST(n AS HUGEINT) * s2y - s2 * sy AS c2y
                    FROM m),
              k AS (SELECT flag, n,
                           c11 * c22 - c12 * c12 AS den,
                           c22 * c1y - c12 * c2y AS num1,
                           c11 * c2y - c12 * c1y AS num2
                    FROM c)
         SELECT flag, n,
                CAST(CASE WHEN num1 > 0 THEN 1 WHEN num1 < 0 THEN -1 ELSE 0 END AS BIGINT) AS b1_sign,
                CASE WHEN den = 0 THEN NULL ELSE CAST(
                  1000 * (abs(num1) // den)
                  + (1000 * (abs(num1) - (abs(num1) // den) * den)) // den
                AS BIGINT) END AS b1_abs_milli,
                CAST(CASE WHEN num2 > 0 THEN 1 WHEN num2 < 0 THEN -1 ELSE 0 END AS BIGINT) AS b2_sign,
                CASE WHEN den = 0 THEN NULL ELSE CAST(
                  1000 * (abs(num2) // den)
                  + (1000 * (abs(num2) - (abs(num2) // den) * den)) // den
                AS BIGINT) END AS b2_abs_milli
         FROM k ORDER BY flag""",
    // sum(BIGINT·BIGINT) runs in HUGEINT — DuckDB's DECIMAL(38,0)-width twin;
    // `//` truncates toward zero exactly like Spark's `div`.
    "agg_hhi" ->
      s"""WITH rev AS (${Shared.segRevenueSql("o_custkey", "r")}),
              a AS (SELECT seg, count(*) AS n_firms,
                           CAST(sum(r) AS HUGEINT) AS t,
                           sum(CAST(r AS HUGEINT) * r) AS sq
                    FROM rev GROUP BY seg)
         SELECT seg, n_firms, CAST(10000 * sq // (t * t) AS BIGINT) AS hhi_bp
         FROM a ORDER BY seg""",
    "agg_theil" ->
      s"""WITH rev AS (${Shared.segRevenueSql("o_custkey", "r")}),
              st AS (SELECT seg, count(*) AS n_firms, CAST(sum(r) AS BIGINT) AS tot
                     FROM rev GROUP BY seg)
         SELECT seg, CAST(max(n_firms) AS BIGINT) AS n_firms,
                CAST(max(tot) AS BIGINT) AS total_cents,
                CAST(sum(${floorMicro(TheilTerm)}) AS BIGINT) AS theil_micro_sum
         FROM rev JOIN st USING (seg) GROUP BY seg ORDER BY seg""",
    "agg_grouping_id" ->
      """SELECT o_orderstatus, o_orderpriority,
                CAST(GROUPING(o_orderstatus) AS BIGINT) AS g1,
                CAST(GROUPING(o_orderpriority) AS BIGINT) AS g2,
                count(*) AS n
         FROM orders
         GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "agg_benford" ->
      s"""WITH dg AS (SELECT substr(CAST(${moneySql("o_totalprice")} AS VARCHAR), 1, 1) AS digit,
                             count(*) AS n
                      FROM orders
                      WHERE substr(CAST(${moneySql("o_totalprice")} AS VARCHAR), 1, 1) BETWEEN '1' AND '9'
                      GROUP BY 1)
         SELECT digit, n,
                10000 * n // CAST((SELECT sum(n) FROM dg) AS BIGINT) AS share_bp,
                ${floorBp("log10(1.0 + 1.0 / CAST(digit AS DOUBLE))")} AS benford_bp
         FROM dg ORDER BY digit""",
    "agg_mutual_info" ->
      s"""WITH c AS (SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow, count(*) AS n_xy
                    FROM events GROUP BY 1, 2),
              nx AS (SELECT event_type, CAST(sum(n_xy) AS BIGINT) AS n_x FROM c GROUP BY 1),
              ny AS (SELECT dow, CAST(sum(n_xy) AS BIGINT) AS n_y FROM c GROUP BY 1),
              tt AS (SELECT CAST(sum(n_xy) AS BIGINT) AS total FROM c)
         SELECT event_type, dow, n_xy,
                ${floorMicro("ln((CAST(n_xy AS DOUBLE) * total) / (CAST(n_x AS DOUBLE) * n_y))")} AS pmi_micro
         FROM c JOIN nx USING (event_type) JOIN ny USING (dow) CROSS JOIN tt
         ORDER BY event_type, dow""",
    "agg_iqr" ->
      s"""SELECT l_returnflag,
                 quantile_disc(${moneySql("l_extendedprice")}, 0.25) AS p25,
                 quantile_disc(${moneySql("l_extendedprice")}, 0.5) AS p50,
                 quantile_disc(${moneySql("l_extendedprice")}, 0.75) AS p75,
                 quantile_disc(${moneySql("l_extendedprice")}, 0.75)
                   - quantile_disc(${moneySql("l_extendedprice")}, 0.25) AS iqr
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_trimmed_mean" ->
      s"""WITH v AS (SELECT l_returnflag, ${moneySql("l_extendedprice")} AS cents
                     FROM lineitem),
              cp AS (SELECT l_returnflag,
                            quantile_disc(cents, 0.1) AS p10,
                            quantile_disc(cents, 0.9) AS p90
                     FROM v GROUP BY 1)
         SELECT l_returnflag, count(*) AS n_kept,
                CAST(sum(cents) AS BIGINT) AS sum_kept,
                max(p10) AS p10, max(p90) AS p90,
                CAST(sum(cents) AS BIGINT) // count(*) AS trimmed_mean_c
         FROM v JOIN cp USING (l_returnflag)
         WHERE cents >= p10 AND cents <= p90
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_topn_share" ->
      s"""WITH rev AS (SELECT o_custkey, ${moneySumSql("o_totalprice")} AS r
                       FROM orders GROUP BY 1),
              top AS (SELECT r FROM rev ORDER BY r DESC, o_custkey LIMIT 10),
              tt AS (SELECT CAST(sum(r) AS BIGINT) AS total, count(*) AS n_cust FROM rev)
         SELECT n_cust, total AS total_cents,
                CAST(sum(top.r) AS BIGINT) AS top10_cents,
                CAST(min(top.r) AS BIGINT) AS cutoff_cents,
                10000 * CAST(sum(top.r) AS BIGINT) // total AS top10_share_bp
         FROM top CROSS JOIN tt GROUP BY n_cust, total""",
    "agg_pareto_frontier" ->
      s"""WITH rev AS (SELECT o_custkey, count(*) AS freq,
                              ${moneySumSql("o_totalprice")} AS mon
                       FROM orders GROUP BY 1),
              pf AS (SELECT freq, max(mon) AS mon FROM rev GROUP BY 1),
              fr AS (SELECT freq, mon,
                            max(mon) OVER (ORDER BY freq DESC
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                              AS best_higher
                     FROM pf)
         SELECT min(o_custkey) AS o_custkey, CAST(freq AS BIGINT) AS freq, mon
         FROM rev JOIN (SELECT freq, mon FROM fr
                        WHERE best_higher IS NULL OR mon > best_higher) USING (freq, mon)
         GROUP BY freq, mon ORDER BY freq DESC""",
    "agg_hash_groupby" ->
      s"""SELECT l_returnflag, l_linestatus,
          ${moneySumSql("l_quantity")} AS sum_qty,
          ${moneySumSql("l_extendedprice")} AS sum_base_price,
          ${moneySumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
          ${moneySumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
          ${moneySql("avg(l_quantity)")} AS avg_qty,
          ${moneySql("avg(l_extendedprice)")} AS avg_price,
          ${d4Sql("avg(l_discount)")} AS avg_disc,
          count(*) AS count_order
          FROM lineitem GROUP BY l_returnflag, l_linestatus
          ORDER BY l_returnflag, l_linestatus""",
    "agg_global" ->
      s"""SELECT ${moneySumSql("l_extendedprice")} AS sum_price,
          ${moneySumSql("l_quantity")} AS sum_qty,
          ${moneySql("avg(l_extendedprice)")} AS avg_price,
          count(*) AS n_rows FROM lineitem""",
    "agg_count_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_custs
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "agg_multi_distinct" ->
      s"""SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_custs,
          count(DISTINCT o_orderpriority) AS n_prios,
          ${moneySumSql("o_totalprice")} AS total
          FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "agg_bitwise_bool" ->
      """SELECT o_orderstatus, bit_and(o_orderkey) AS band, bit_or(o_orderkey) AS bor,
                bit_xor(o_orderkey) AS bxor,
                bool_and(o_totalprice > 0) AS all_pos,
                bool_or(o_totalprice > 400000) AS any_big
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // agg_approx_distinct: omitted (sketch values are engine-specific).
    "agg_grouping_sets" ->
      s"""SELECT GROUPING(o_orderstatus) AS g_status, GROUPING(o_orderpriority) AS g_prio,
          ${moneySumSql("o_totalprice")} AS revenue, count(*) AS n,
          o_orderstatus, o_orderpriority
          FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          ORDER BY g_status, g_prio, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "agg_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_custs
         FROM customer JOIN nation ON c_nationkey = n_nationkey
                       JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)
         ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""",
    "agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "agg_mode" ->
      """SELECT o_orderstatus, modal_priority, n FROM (
           SELECT o_orderstatus, o_orderpriority AS modal_priority, count(*) AS n,
                  row_number() OVER (PARTITION BY o_orderstatus
                                     ORDER BY count(*) DESC, o_orderpriority) AS rn
           FROM orders GROUP BY o_orderstatus, o_orderpriority)
         WHERE rn = 1 ORDER BY o_orderstatus""",
    // DuckDB 1.0 has no width_bucket — mirror Spark's WidthBucket
    // (o.a.s.sql.catalyst.expressions.WidthBucket.computeBucketNumber)
    // op-for-op: v < lo → 0,
    // v >= hi → n+1, else floor(n·(v−lo)/(hi−lo)) + 1 — the SAME double
    // expression Spark evaluates, including the range clamps, so any value
    // outside [0, 600000) or within 1 ulp of a boundary buckets identically.
    "agg_histogram" ->
      """SELECT bucket, CAST((bucket - 1) * 30000 AS BIGINT) AS lo,
                CAST(bucket * 30000 AS BIGINT) AS hi, count(*) AS n
         FROM (SELECT CASE WHEN o_totalprice < 0.0 THEN 0
                           WHEN o_totalprice >= 600000.0 THEN 21
                           ELSE CAST(floor(20.0 * (o_totalprice - 0.0) / (600000.0 - 0.0)) AS BIGINT) + 1
                      END AS bucket
               FROM orders)
         GROUP BY bucket ORDER BY bucket""",
    "agg_minmax_by" ->
      s"""SELECT n_name, c_name AS top_customer, ${moneySql("mx")} AS top_acctbal
          FROM (SELECT n_name, c_name, max(c_acctbal) OVER (PARTITION BY n_name) AS mx,
                       row_number() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
                FROM customer JOIN nation ON c_nationkey = n_nationkey)
          WHERE rn = 1 ORDER BY n_name""",
    "agg_collect_sorted" ->
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    "agg_stats" ->
      s"""SELECT l_returnflag,
          ${d4Sql("stddev_samp(l_extendedprice)")} AS sd_price,
          ${d4Sql("var_samp(l_quantity)")} AS var_qty,
          ${d4Sql("corr(l_extendedprice, l_quantity)")} AS corr_pq,
          ${d4Sql("covar_samp(l_extendedprice, l_quantity)")} AS covar_pq
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_percentile" ->
      s"""SELECT l_linestatus,
          ${d4Sql("quantile_cont(l_quantity, 0.5)")} AS p50_qty,
          ${d4Sql("quantile_cont(l_quantity, 0.9)")} AS p90_qty
          FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""",
    // sum(BIGINT) is HUGEINT — the decimal-width twin of the Spark side.
    "agg_weighted" ->
      s"""SELECT l_returnflag,
          CAST((swd * 10000) // sw AS BIGINT) AS wavg_disc_bp,
          CAST((swq * 100) // sw AS BIGINT) AS wavg_qty_c
          FROM (SELECT l_returnflag,
                       sum(${d6Sql("l_discount * l_extendedprice")}) AS swd,
                       sum(${d6Sql("l_quantity * l_extendedprice")}) AS swq,
                       sum(${d6Sql("l_extendedprice")}) AS sw
                FROM lineitem GROUP BY l_returnflag)
          ORDER BY l_returnflag""",
    "agg_regr" ->
      s"""SELECT l_returnflag,
          ${d4Sql("regr_slope(l_extendedprice, l_quantity)")} AS slope,
          ${d4Sql("regr_intercept(l_extendedprice, l_quantity)")} AS icept,
          ${d4Sql("regr_r2(l_extendedprice, l_quantity)")} AS r2,
          regr_count(l_extendedprice, l_quantity) AS n_pairs
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_filter_clause" ->
      s"""SELECT o_orderstatus,
          count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
          ${moneySumSql("CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END")} AS urgent_rev,
          count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS n_hot
          FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // DuckDB's product() aggregates in DOUBLE; products here are ≤ 7^13 ≈
    // 9.7e10 < 2^53, so the double is exact and the BIGINT cast is lossless.
    "agg_product" ->
      """SELECT l_orderkey,
                CAST(product(l_linenumber) AS BIGINT) AS line_product,
                count(*) AS n_lines
         FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""",
    "agg_mad" ->
      s"""WITH m AS (SELECT l_linestatus, quantile_cont(l_quantity, 0.5) AS med
                     FROM lineitem GROUP BY l_linestatus)
          SELECT l.l_linestatus,
                 ${d4Sql("quantile_cont(abs(l.l_quantity - m.med), 0.5)")} AS mad_qty,
                 ${d4Sql("min(m.med)")} AS med_qty
          FROM lineitem l JOIN m ON l.l_linestatus = m.l_linestatus
          GROUP BY l.l_linestatus ORDER BY l.l_linestatus""",
    // quantile_disc is DuckDB's SQL-standard percentile_disc (probed:
    // [1,2,3,4] @ .5 → 2, @ .9 → 4 — first value with cume_dist ≥ p).
    "agg_percentile_disc" ->
      s"""SELECT l_returnflag,
                 quantile_disc(${moneySql("l_extendedprice")}, 0.5) AS p50_cents,
                 quantile_disc(${moneySql("l_extendedprice")}, 0.9) AS p90_cents,
                 count(*) AS n
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // sum(BIGINT) is HUGEINT in DuckDB — the decimal-width accumulator twin.
    "agg_gini" ->
      s"""WITH j AS (SELECT c_mktsegment AS seg, ${moneySql("o_totalprice")} AS cents, o_orderkey
                     FROM orders JOIN customer ON o_custkey = c_custkey),
              r AS (SELECT seg, cents,
                           row_number() OVER (PARTITION BY seg ORDER BY cents, o_orderkey) AS i
                    FROM j),
              a AS (SELECT seg, count(*) AS n,
                           sum(CAST(i AS HUGEINT) * cents) AS six,
                           CAST(sum(cents) AS BIGINT) AS sx
                    FROM r GROUP BY seg)
         SELECT seg, n,
                CAST(10000 * (2 * six - (n + 1) * CAST(sx AS HUGEINT))
                     // (CAST(n AS HUGEINT) * sx) AS BIGINT) AS gini_bp
         FROM a ORDER BY seg""",
    // list(DISTINCT …) + list_sort is DuckDB's deterministic LISTAGG twin
    // (string_agg's ORDER BY + DISTINCT interaction is version-dependent).
    "agg_listagg" ->
      """WITH t AS (SELECT DISTINCT c_nationkey, c_mktsegment FROM customer)
         SELECT c_nationkey,
                array_to_string(list_sort(list(c_mktsegment)), ',') AS segs,
                count(*) AS n_seg
         FROM t GROUP BY c_nationkey ORDER BY c_nationkey""",
    // l_quantity is integral by construction, so DuckDB's round-on-cast and
    // Spark's truncate-on-cast agree exactly.
    "agg_central_moments" ->
      """WITH t AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem)
         SELECT l_returnflag, count(*) AS n,
                CAST(sum(q) AS BIGINT) AS s1,
                CAST(sum(q * q) AS BIGINT) AS s2,
                CAST(sum(q * q * q) AS BIGINT) AS s3,
                CAST(sum(q * q * q * q) AS BIGINT) AS s4
         FROM t GROUP BY l_returnflag ORDER BY l_returnflag""",
    // Exact because the sketch capacity is never exceeded (5 distinct ≪ 10k).
    "agg_approx_topk" ->
      """SELECT event_type, count(*) AS n
         FROM events GROUP BY event_type ORDER BY n DESC, event_type LIMIT 5""",
    "agg_bitmap_distinct" ->
      """WITH m AS (SELECT o_orderpriority AS prio, o_custkey // 32 AS word,
                           bit_or(CAST(1 AS BIGINT) << CAST(o_custkey % 32 AS INTEGER)) AS mask
                    FROM orders GROUP BY 1, 2)
         SELECT prio, CAST(sum(bit_count(mask)) AS BIGINT) AS n_distinct,
                count(*) AS n_words
         FROM m GROUP BY prio ORDER BY prio""",
    "agg_diversity_simpson" ->
      """WITH pt AS (SELECT user_id, event_type, count(*) AS c
                     FROM events GROUP BY 1, 2)
         SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events, count(*) AS n_types,
                CAST(10000 * (sum(c) * sum(c) - sum(c * c))
                     // (sum(c) * sum(c)) AS BIGINT) AS simpson_bp
         FROM pt GROUP BY user_id ORDER BY user_id""",
    "agg_weighted_median" ->
      s"""WITH wp AS (SELECT l_returnflag, ${moneySql("l_extendedprice")} AS cents,
                             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wc
                      FROM lineitem GROUP BY 1, 2),
               c AS (SELECT l_returnflag, cents,
                            sum(wc) OVER (PARTITION BY l_returnflag
                                          ORDER BY cents) AS cum,
                            sum(wc) OVER (PARTITION BY l_returnflag) AS tot
                     FROM wp)
          SELECT l_returnflag, min(cents) AS wmedian_cents,
                 CAST(max(tot) AS BIGINT) AS total_weight
          FROM c WHERE cum * 2 >= tot
          GROUP BY 1 ORDER BY 1""",
    "agg_diversity_shannon" ->
      s"""WITH pt AS (SELECT user_id, event_type, count(*) AS c
                     FROM events GROUP BY 1, 2),
              ag AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
                            count(*) AS n_types,
                            CAST(sum(c * ${floorMicro("ln(CAST(c AS DOUBLE))")}) AS BIGINT) AS clnc_u
                     FROM pt GROUP BY user_id)
         SELECT user_id, n_events, n_types,
                ${floorMicro("ln(CAST(n_events AS DOUBLE))")}
                  - clnc_u // n_events AS shannon_u
         FROM ag ORDER BY user_id""",
  )
}
