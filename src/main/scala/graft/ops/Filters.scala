package graft.ops

import org.apache.spark.sql.functions._
import graft.Norm._
import graft.Tables._
import graft.Gates

/** SURVEY.md §2.B — projection / filter / predicates. */
object Filters {
  val ops: Map[String, Q] = Map(
    "proj_arithmetic" -> ((s, d) =>
      lineitem(s, d)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          money(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          money(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("charge"))
        .orderBy("l_orderkey", "l_linenumber", "revenue", "charge")
        .limit(100)),

    // TPC-H Q6 shape: tight conjunctive filter fully pushable to the scan.
    "filter_conjunctive" -> ((s, d) =>
      lineitem(s, d)
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") <  lit("1997-01-01").cast("timestamp_ntz") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(
          moneySum(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n"))),

    "filter_in_like" -> ((s, d) =>
      orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .filter(
          col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
          col("c_name").like("Customer#00000012%"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority")),

    // Three-valued logic: NULLIF makes a nullable column, then bucket by the
    // truth value of (x > 0.05) — NULL / true / false tally.
    "filter_null_semantics" -> ((s, d) =>
      lineitem(s, d)
        .select(nullif(col("l_discount"), lit(0.0)).as("x"))
        .select(
          when(col("x").isNull, "null")
            .when(col("x") > 0.05, "true")
            .otherwise("false").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")),

    // Dynamic-threshold filter: keep orders above their market segment's
    // mean order value — the "above-average" slice a campaign targets. The
    // per-segment mean never materializes per row: segment stats collapse
    // in one partial-aggregatable pass (exact decimal sums → integer
    // cents), broadcast as a |segments|-row frame, and the filter is an
    // integer cross-multiply (cents·n > total — no division, no float).
    // Output is the kept-slice census per segment.
    // r14 measured-and-REVERTED: deriving both stats and census from a
    // checkpointed (seg, cents, w) histogram (one join evaluation instead
    // of two) read 1.24 s on the full map vs 0.69 s for this form — at
    // this op's size the checkpoint materialization + extra collapse
    // exchange cost more than the second broadcast-join evaluation they
    // save. The two-evaluation shape stays (the histogram variant is the
    // right one only where the join side is the dominant term).
    "filter_above_group_mean" -> ((s, d) => {
      val o = orders(s, d, par = true)
        .join(Gates.broadcastUnder(customer(s, d).select("c_custkey", "c_mktsegment"),
          Gates.bytes(s, d, "customer"), Gates.DimCap),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), money(col("o_totalprice")).as("cents"))
      val stats = o.groupBy("seg")
        .agg(sum("cents").as("total"), count(lit(1)).as("n"))
      o.join(broadcast(stats), Seq("seg"))
        .filter(col("cents") * col("n") > col("total"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n_above"), sum("cents").as("above_cents"),
          max("n").as("n_all"), max("total").as("total_cents"))
        .withColumn("share_bp", expr("10000 * n_above div n_all"))
        .orderBy("seg")
    }),

    // Top-decile filter: keep line items at or above their return flag's
    // p90 cents cutoff (the "hot slice" a priority queue drains first).
    // The cutoff (Shared.bucketedPdisc) broadcasts back onto the
    // histogram; the declared result is the kept census so the
    // corpus-sized kept frame itself never hashes.
    "filter_top_decile" -> ((s, d) => {
      // The kept census depends only on (flag, cents), so it derives from
      // the same histogram as the cutoff: n_kept = Σw, kept_cents =
      // Σ cents·w over values ≥ p90.
      val hist = Shared.centsHist(s, d)
      val cut = Shared.bucketedPdisc(hist, "l_returnflag", "cents", "w", 9, 10, "p90")
      hist.join(broadcast(cut), "l_returnflag")
        .filter(col("cents") >= col("p90"))
        .groupBy("l_returnflag")
        .agg(sum("w").as("n_kept"), sum(col("cents") * col("w")).as("kept_cents"),
          max("p90").as("cutoff_cents"))
        .orderBy("l_returnflag")
    }),

    // Robust outlier filter (data-cleaning gate): flag rows farther than
    // 2·MAD from their group median. Both statistics are DISCRETE
    // percentiles over integer cents — actual data values, so the whole
    // filter is exact integer arithmetic. The corpus is scanned twice but
    // percentile-aggregated never: one partial-aggregatable collapse to the
    // value-bounded (flag, cents) histogram, the median via
    // Shared.bucketedPdisc, and — the key reuse — the MAD's |cents−med|
    // histogram DERIVED from the same cents histogram (sum of wc by ad, a
    // histogram-sized shuffle, no second corpus pass) before the same
    // bucketed resolution. The 3-row stats frame broadcasts back onto the
    // pruned scan for the final filter.
    "filter_outlier_mad" -> ((s, d) => {
      // r14 measured-and-REJECTED: checkpointing the projected 4-column
      // frame to make the final probe read blocks instead of re-scanning
      // (one corpus scan instead of two) ran 4.16 s vs 4.01 s without it
      // (CPUS=32, 3-pass min, same session) — writing + re-reading the
      // corpus-wide blocks costs more than the pruned columnar re-scan at
      // every tier where the checkpoint would fit. The two-scan shape
      // stays; the r14 win here came from reverting the bench-only AQE
      // minPartitionSize floor (5.25 → 3.71 on the full map).
      val li = lineitem(s, d, par = true).select(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), money(col("l_extendedprice")).as("cents"))
      // The histogram feeds med's two subtrees, the ad-histogram
      // derivation and mad's two subtrees; the unique-key rebalance of
      // `li` pays only for the probe pass below.
      val hist = Shared.centsHist(s, d)
      val med = Shared.bucketedPdisc(hist, "l_returnflag", "cents", "w", 1, 2, "med")
      val adHist = hist.join(broadcast(med), "l_returnflag")
        .select(col("l_returnflag"), abs(col("cents") - col("med")).as("ad"), col("w"))
        .groupBy("l_returnflag", "ad").agg(sum("w").as("w"))
      val mad = Shared.bucketedPdisc(adHist, "l_returnflag", "ad", "w", 1, 2, "mad")
      val stats = med.join(broadcast(mad), "l_returnflag")
      li.join(broadcast(stats), "l_returnflag")
        .filter(abs(col("cents") - col("med")) > lit(2L) * col("mad"))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "cents")
        .orderBy("l_orderkey", "l_linenumber")
    }),
  )

  val oracle: Map[String, String] = Map(
    "filter_above_group_mean" ->
      s"""WITH o AS (SELECT c_mktsegment AS seg, ${moneySql("o_totalprice")} AS cents
                     FROM orders JOIN customer ON o_custkey = c_custkey),
              st AS (SELECT seg, CAST(sum(cents) AS BIGINT) AS total, count(*) AS n
                     FROM o GROUP BY 1)
         SELECT seg, count(*) AS n_above, CAST(sum(cents) AS BIGINT) AS above_cents,
                max(n) AS n_all, max(total) AS total_cents,
                10000 * count(*) // max(n) AS share_bp
         FROM o JOIN st USING (seg)
         WHERE cents * n > total
         GROUP BY seg ORDER BY seg""",
    "filter_top_decile" ->
      s"""WITH li AS (SELECT l_returnflag, ${moneySql("l_extendedprice")} AS cents
                      FROM lineitem),
              cut AS (SELECT l_returnflag, quantile_disc(cents, 0.9) AS p90
                      FROM li GROUP BY 1)
         SELECT l_returnflag, count(*) AS n_kept,
                CAST(sum(cents) AS BIGINT) AS kept_cents,
                max(p90) AS cutoff_cents
         FROM li JOIN cut USING (l_returnflag)
         WHERE cents >= p90
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "proj_arithmetic" ->
      s"""SELECT l_orderkey, l_linenumber,
          ${moneySql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
          ${moneySql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS charge
          FROM lineitem ORDER BY l_orderkey, l_linenumber, revenue, charge LIMIT 100""",
    "filter_conjunctive" ->
      s"""SELECT ${moneySumSql("l_extendedprice * l_discount")} AS revenue, count(*) AS n
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
            AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
    "filter_in_like" ->
      s"""SELECT o_orderpriority, count(*) AS n, ${moneySumSql("o_totalprice")} AS total
          FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE o_orderpriority IN ('1-URGENT','2-HIGH') AND c_name LIKE 'Customer#00000012%'
          GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "filter_null_semantics" ->
      """SELECT CASE WHEN x IS NULL THEN 'null' WHEN x > 0.05 THEN 'true' ELSE 'false' END AS bucket,
                count(*) AS n
         FROM (SELECT NULLIF(l_discount, 0.0) AS x FROM lineitem)
         GROUP BY 1 ORDER BY 1""",
    "filter_outlier_mad" ->
      s"""WITH li AS (SELECT l_orderkey, l_linenumber, l_returnflag,
                             ${moneySql("l_extendedprice")} AS cents FROM lineitem),
              med AS (SELECT l_returnflag, quantile_disc(cents, 0.5) AS med
                      FROM li GROUP BY l_returnflag),
              mad AS (SELECT li.l_returnflag,
                             quantile_disc(abs(cents - med), 0.5) AS mad, min(med) AS med
                      FROM li JOIN med USING (l_returnflag) GROUP BY li.l_returnflag)
         SELECT l_orderkey, l_linenumber, li.l_returnflag, cents
         FROM li JOIN mad USING (l_returnflag)
         WHERE abs(cents - mad.med) > 2 * mad.mad
         ORDER BY l_orderkey, l_linenumber""",
  )
}
