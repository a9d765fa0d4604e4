package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Norm._
import graft.Tables._

/** Reshaping / format-conversion ETL family: pivot, unpivot, calendar
  * gap-fill, date formatting, schema'd JSON parsing, base64/hex codecs.
  * (The classic "Hadoop utility script" jobs — log reshaping, report
  * pivots, format conversion — as single declarative operators.)
  */
object Reshape {
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** The 30-day order month since [[Shared.TpchEpoch]]. */
  private def month = expr(s"CAST(${Shared.tpchDay("o_orderdate")} div 30 AS BIGINT)")
  private val monthSql = s"${Shared.tpchDaySql("o_orderdate")} // 30"
  /** ts_seasonality_strength's S²/n term, both engines. */
  private val SeasonMean = "CAST(s_tot AS DOUBLE) * s_tot / n_days"

  val ops: Map[String, Q] = Map(
    // Largest-triangle downsampling per event-type series (the LTTB shape
    // with FIXED bucket-mean anchors — Steinarsson's visualization
    // downsampler made batch-parallel: true LTTB's selected-point anchor
    // is sequential, the mean-anchor variant keeps per-bucket selection
    // independent): each series is cut into 32 equal TIME buckets, and
    // each interior bucket keeps the point maximizing the triangle area
    // against the previous/next bucket MEANS. The area argmax is EXACT
    // integers end-to-end: with anchors as (Σt/n, Σv/n), every candidate's
    // area scales by the same positive n_p²·n_n, so the argmax compares
    // |（t·n_p − Σt_p)(Σv_n·n_p − Σv_p·n_n) − (Σt_n·n_p − Σt_p·n_n)(v·n_p − Σv_p)|.
    // The area is TRANSLATION-INVARIANT in t, so the math runs on the
    // REBASED tr = t − t0 (r9 ADVICE: raw epoch t ~1.7e9 made Σt_n·n_p
    // wrap BIGINT silently at ~1e5-row buckets) — identical output, ~1e9×
    // smaller factors. Honest bounds with tr ≤ 3.2e7 (a year of seconds)
    // and v ≤ 1e7 cents: the BIGINT factors need n ≤ 9.6e5 rows/bucket
    // (v·n² term) and the DECIMAL(38,0)/HUGEINT product needs
    // 3.2e12·n³ ≤ 1e38 ⇒ n ≤ 3e8 — binding limit ~1e6 rows per bucket
    // = 3e7 rows per series, 300× the sf1 stream; past that, widen v's
    // factor to DECIMAL before the inner multiply. Scale: one
    // (type, bucket) partial agg builds the 32·|types|-row anchor frame
    // (lag/lead run THERE); the per-point argmax window partitions by
    // (type, bucket) — the 32-bucket fixed-fanout trade (plan-audit
    // reviewed, the llm_global_shuffle class); output is 30·|types| rows.
    "ts_downsample_triangle" -> ((s, d) => {
      val pts = events(s, d, par = true).select(col("event_type"),
        unix_timestamp(tsec(col("ts"))).as("t"),
        money(col("value")).as("v"), col("event_id"))
      val span = pts.groupBy("event_type").agg(min("t").as("t0"), max("t").as("t1"))
      // r14: bk feeds BOTH the per-bucket context aggregation and the final
      // per-row argmax join — without the checkpoint each consumer re-ran
      // the scan+rebalance+span-join subtree (ProfileOp: two 0.4 s wall /
      // ~12 s taskSum 32-task jobs doing the same work). One lazy
      // localCheckpoint materializes the 6-narrow-column corpus-linear
      // frame once; at scale this halves the corpus reads of the op.
      val bk = pts.join(broadcast(span), "event_type")
        .withColumn("bucket", expr("(t - t0) * 32 div (t1 - t0 + 1)"))
        .withColumn("tr", col("t") - col("t0"))
        .localCheckpoint(false)
      val wA = Window.partitionBy("event_type").orderBy("bucket")
      val ctx = bk.groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"), sum("tr").as("st"), sum("v").as("sv"))
        .withColumn("np", lag("n", 1).over(wA))
        .withColumn("stp", lag("st", 1).over(wA))
        .withColumn("svp", lag("sv", 1).over(wA))
        .withColumn("nn", lead("n", 1).over(wA))
        .withColumn("stn", lead("st", 1).over(wA))
        .withColumn("svn", lead("sv", 1).over(wA))
        .filter(col("np").isNotNull && col("nn").isNotNull)
        .select("event_type", "bucket", "np", "stp", "svp", "nn", "stn", "svn")
      bk.join(broadcast(ctx), Seq("event_type", "bucket"))
        .withColumn("area2", expr(
          """abs(CAST(tr * np - stp AS DECIMAL(38,0)) * CAST(svn * np - svp * nn AS DECIMAL(38,0))
                 - CAST(stn * np - stp * nn AS DECIMAL(38,0)) * CAST(v * np - svp AS DECIMAL(38,0)))"""))
        .withColumn("rk", row_number().over(
          Window.partitionBy("event_type", "bucket")
            .orderBy(col("area2").desc, col("t"), col("event_id"))))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("bucket"), col("t").as("sel_t"),
          col("v").as("sel_cents"))
        .orderBy("event_type", "bucket")
    }),

    // Burstiness report per event type — the Fano factor (variance-to-mean
    // ratio of the daily arrival counts; 1 ⇒ Poisson-like, >1 ⇒ bursty) as
    // an EXACT integer rational: over per-day counts c with n days, S=Σc,
    // Q=Σc², Var/Mean = (n·Q − S²)/(n·S). Numerator and denominator are
    // emitted separately (the ts_autocorr doctrine: the engine never
    // divides, so no float ever reaches the hash). Two stacked
    // partial-aggregatable shuffles — (type, day) count then (type)
    // rollup — the only corpus-sized stage carries one row per (partition,
    // type, day).
    "ts_burstiness" -> ((s, d) =>
      Shared.eventDaily(s, d, count(lit(1)).as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum("c").as("total"),
          sum(expr("c * c")).as("q"))
        .select(col("event_type"), col("n_days"), col("total"),
          (col("n_days") * col("q") - col("total") * col("total")).as("fano_num"),
          (col("n_days") * col("total")).as("fano_den"))
        .orderBy("event_type")),

    // Outage/gap report per event type (the data-freshness audit next to
    // ts_late_arrival_audit's ordering audit): collapse to DISTINCT active
    // days first — the only corpus-sized stage, partial-aggregatable —
    // then lag() over the metadata-sized daily frame gives day-gaps;
    // report gap count ≥2 days, the max gap, and span coverage. The
    // window partitions by event_type over ≤|types|·|days| rows, never
    // the event stream.
    "ts_gap_report" -> ((s, d) => {
      val byT = Window.partitionBy("event_type").orderBy("day")
      events(s, d)
        .select(col("event_type"),
          expr(s"CAST(${Shared.eventDay} AS BIGINT)").as("day"))
        .distinct()
        .withColumn("gap", col("day") - lag("day", 1).over(byT))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(when(col("gap") >= 2, 1L).otherwise(0L)).as("n_gaps_ge2"),
          coalesce(max("gap"), lit(0L)).as("max_gap"),
          (max("day") - min("day") + 1).as("span_days"))
        .orderBy("event_type")
    }),

    // Peak-concurrency sweep per (event type, day): each event opens a
    // 30-minute session, and the declared result is the per-day maximum of
    // concurrently-open sessions plus the count of active minutes. The
    // classic formulation (sort +1/−1 deltas, running sum) is inherently
    // sequential per key — a corpus-sized window. This one decomposes:
    // explode each event into its 30 covered minute indices (a NARROW ×30
    // map, no shuffle), partial-aggregatable count per (type, minute) —
    // concurrency at minute granularity is exactly "intervals covering the
    // minute" — then a metadata-sized (≤ types·1440·days rows) rollup to
    // per-day peaks. No window, no corpus sort, two stacked partial aggs.
    "ts_peak_concurrency" -> ((s, d) =>
      events(s, d)
        .select(col("event_type"),
          expr("unix_timestamp(date_trunc('second', ts)) div 60").as("m0"))
        .select(col("event_type"), explode(expr("sequence(m0, m0 + 29)")).as("minute"))
        .groupBy("event_type", "minute").agg(count(lit(1)).as("n"))
        .groupBy(col("event_type"), expr("minute div 1440").as("day_idx"))
        .agg(max("n").as("peak"), count(lit(1)).as("active_minutes"))
        .orderBy("event_type", "day_idx")),

    // RFM (recency / frequency / monetary) customer quintile scores — the
    // segmentation a marketing pipeline materializes per customer. Each
    // metric's four quintile cutpoints come from Shared.bucketedPdiscMulti
    // over a value-collapsed histogram, then broadcast as a 1-row frame;
    // scores are pure integer comparisons
    // 1 + Σ(v > q_k) — no float anywhere. Recency is scored mechanically
    // on days-since-last-order (high score = stale). Scale: one
    // partial-aggregatable custkey groupBy, three dim-sized histograms,
    // and a broadcast cutpoint row onto the customer-grain frame.
    "ts_rfm_scores" -> ((s, d) => {
      val cust = orders(s, d)
        .select(col("o_custkey"),
          expr(s"CAST(${Shared.tpchDay("o_orderdate")} AS BIGINT)").as("day"),
          money(col("o_totalprice")).as("cents"))
        .groupBy("o_custkey")
        .agg(max("day").as("last_day"), count(lit(1)).as("freq"), sum("cents").as("mon"))
        .localCheckpoint(false)
      val refDay = cust.agg(max("last_day").as("ref_day"))
      val base = cust.crossJoin(broadcast(refDay))
        .select(col("o_custkey"), (col("ref_day") - col("last_day")).as("rec"),
          col("freq"), col("mon"))
        .localCheckpoint(false)
      // ALL 12 cutpoints (3 metrics × 4 quintiles) resolve in ONE stacked
      // multi-cut pass: the three metrics stack as the histogram's GROUP
      // column ((metric, v, w) via a ×3 explode of the customer-grain
      // frame), and the 3-row result pivots to the single broadcast row
      // the scorer reads.
      val hist3 = base.select(explode(array(
          struct(lit("rec").as("m"), col("rec").as("v")),
          struct(lit("freq").as("m"), col("freq").as("v")),
          struct(lit("mon").as("m"), col("mon").as("v")))).as("e"))
        .select(col("e.m").as("m"), col("e.v").as("v"))
        .groupBy("m", "v").agg(count(lit(1)).as("w"))
      val cuts3 = Shared.bucketedPdiscMulti(hist3, "m", "v", "w",
        (1 to 4).map(k => (k, 5, s"q$k")))
      val pivotCols = Seq("rec", "freq", "mon").flatMap(m => (1 to 4).map(k =>
        max(when(col("m") === m, col(s"q$k"))).as(s"${m}_q$k")))
      val cp = cuts3.groupBy().agg(pivotCols.head, pivotCols.tail: _*)
      base.crossJoin(broadcast(cp))
        .select(col("o_custkey"), col("rec"), col("freq"), col("mon"),
          expr("1 + CAST(rec > rec_q1 AS BIGINT) + CAST(rec > rec_q2 AS BIGINT)" +
            " + CAST(rec > rec_q3 AS BIGINT) + CAST(rec > rec_q4 AS BIGINT)").as("r_score"),
          expr("1 + CAST(freq > freq_q1 AS BIGINT) + CAST(freq > freq_q2 AS BIGINT)" +
            " + CAST(freq > freq_q3 AS BIGINT) + CAST(freq > freq_q4 AS BIGINT)").as("f_score"),
          expr("1 + CAST(mon > mon_q1 AS BIGINT) + CAST(mon > mon_q2 AS BIGINT)" +
            " + CAST(mon > mon_q3 AS BIGINT) + CAST(mon > mon_q4 AS BIGINT)").as("m_score"))
        .withColumn("rfm", expr("r_score * 100 + f_score * 10 + m_score"))
        .orderBy("o_custkey")
    }),

    // Day-of-week seasonality strength per event type: the ANOVA-style
    // variance decomposition SSB/SST over daily counts, where
    // SSB = Σ_k S_k²/n_k − S²/n (between-dow) and SST = Q − S²/n. Every
    // division is in floored micro-units (Norm.floorMicro), and the engine
    // never divides SSB by SST — both are emitted. Scale: one corpus-sized
    // (type, day) partial agg, then metadata-sized dow/total rollups.
    "ts_seasonality_strength" -> ((s, d) => {
      val daily = Shared.eventDaily(s, d, count(lit(1)).as("c"))
        .localCheckpoint(false)
      // q_tot and its 1e6 scaling ride DECIMAL(38,0) (agg_gini accumulator
      // rule): BIGINT c² sums wrap silently in non-ANSI Spark at large day
      // counts while DuckDB raises — decimal overflows loudly on both
      val tot = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum("c").as("s_tot"),
          expr("sum(CAST(c AS DECIMAL(38,0)) * c)").as("q_tot"))
      val dw = daily.groupBy(col("event_type"), expr("day % 7").as("dow"))
        .agg(count(lit(1)).as("n_k"), sum("c").as("s_k"))
        .withColumn("term", expr(floorMicro("CAST(s_k AS DOUBLE) * s_k / n_k")))
        .groupBy("event_type").agg(sum("term").as("ssb_terms_micro"))
      tot.join(dw, Seq("event_type"))
        .select(col("event_type"), col("n_days"),
          (col("ssb_terms_micro") - expr(floorMicro(SeasonMean))).as("ssb_micro"),
          expr(s"CAST(1000000 * q_tot - ${floorMicro(SeasonMean)} AS BIGINT)").as("sst_micro"))
        .orderBy("event_type")
    }),

    // Fulfillment lag per order priority: days from order date to the
    // LAST ship date of the order's line items, profiled per priority.
    // The per-order lag collapses in a partial-aggregatable (orderkey) max
    // before any percentile; the lag domain is bounded (0..~122 days), so
    // the exact percentile state is bounded regardless of corpus size —
    // the documented safe case for builtin percentile_disc (agg_percentile
    // rule), unlike cents-grain inputs. Dim side broadcast onto lineitem.
    "ts_fulfillment_lag" -> ((s, d) => {
      val lag = lineitem(s, d)
        .select(col("l_orderkey"),
          expr(s"CAST(${Shared.tpchDay("l_shipdate")} AS BIGINT)").as("sd"))
        .groupBy("l_orderkey").agg(max("sd").as("last_ship"))
        .join(orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
          expr(s"CAST(${Shared.tpchDay("o_orderdate")} AS BIGINT)").as("od")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"), (col("last_ship") - col("od")).as("lag_days"))
      lag.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY lag_days) AS BIGINT)").as("p50_days"),
          expr("CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY lag_days) AS BIGINT)").as("p90_days"),
          max("lag_days").as("max_days"))
        .orderBy("o_orderpriority")
    }),

    // 2D equi-width histogram over (order month, $500 price bucket) — the
    // occupancy grid the util_zorder_key layout decision reads (how many
    // rows would each z-range file hold). Pure integer bucketing, one
    // partial-aggregatable 2-key groupBy; at 100 TB this is the cheapest
    // possible full-table profile (map + metadata-sized shuffle).
    "reshape_histogram2d" -> ((s, d) =>
      orders(s, d)
        .select(
          month.as("month_idx"),
          money(col("o_totalprice")).as("cents"))
        .select(col("month_idx"), expr("cents div 50000").as("price_bucket"))
        .groupBy("month_idx", "price_bucket").agg(count(lit(1)).as("n"))
        .orderBy("month_idx", "price_bucket")),

    // Weekly churn: users active in week w but not w+1 (right-censored
    // at the last week, by construction of the join). Collapses to the
    // DISTINCT (user, week) frame first — the only corpus-sized,
    // partial-aggregatable stage — then a self equi-join on (user, w+1)
    // over that metadata-sized frame; churn share in integer bp.
    "ts_churn_by_week" -> ((s, d) => {
      val um = events(s, d)
        .select(col("user_id"),
          expr(s"CAST(${Shared.eventDay} div 7 AS BIGINT)").as("wk"))
        .distinct()
        .localCheckpoint(false)
      um.as("a")
        .join(um.as("b"),
          col("a.user_id") === col("b.user_id") && col("b.wk") === col("a.wk") + 1,
          "left")
        .groupBy(col("a.wk").as("wk"))
        .agg(count(lit(1)).as("n_active"),
          count(col("b.user_id")).as("n_retained"))
        .withColumn("n_churned", col("n_active") - col("n_retained"))
        .withColumn("churn_bp", expr("10000 * n_churned div n_active"))
        .orderBy("wk")
    }),

    // Month-over-month revenue deltas per market segment — the growth
    // table a finance dashboard reads. Corpus collapses to (seg, month)
    // exact cents in one partial-aggregatable pass; the lag runs on the
    // metadata-sized monthly frame. Deltas stay EXACT INTEGER cents (no
    // growth ratio: Spark's div truncates toward zero while DuckDB's //
    // floors, so a negative-delta ratio would diverge — the engine never
    // divides, the reader does).
    "ts_mom_growth" -> ((s, d) => {
      val bySeg = Window.partitionBy("seg").orderBy("mo")
      Shared.segRevenue(s, d, month.as("mo"), "rev_cents")
        .withColumn("prev_cents", lag("rev_cents", 1).over(bySeg))
        .filter(col("prev_cents").isNotNull)
        .select(col("seg"), col("mo"), col("rev_cents"), col("prev_cents"),
          (col("rev_cents") - col("prev_cents")).as("delta_cents"))
        .orderBy("seg", "mo")
    }),

    // Mann–Kendall trend test per market segment (the nonparametric
    // monotone-trend screen a forecasting pipeline runs before fitting
    // anything — no distributional assumption, outlier-robust): S =
    // Σ_{i<j} sign(y_j − y_i) over the monthly revenue grid, with the
    // normal-approximation significance call at z = 1.96 resolved as ONE
    // exact integer cross-multiplication — (|S|−1)²·45000 > 9604·n(n−1)(2n+5)
    // is z² > 1.96² with 18·Var(S) = n(n−1)(2n+5) kept integral (no-ties
    // variance: exact-decimal money sums over thousands of orders never
    // tie; sign ties would still contribute 0 to S). Scale: the corpus
    // collapses through ONE partial-aggregatable (seg, month) pass; the
    // O(grid²) pair stage runs on the CALENDAR-sized frame (~80 rows per
    // segment, C(80,2) ≈ 3.2k pairs) — constant in corpus size, so the op
    // costs one scan at 100 TB exactly like at sf0.01.
    "ts_trend_mann_kendall" -> ((s, d) => {
      val g = Shared.segRevenue(s, d, month.as("mo"), "rev")
      val pairs = g.select(col("seg"), col("mo").as("mo1"), col("rev").as("r1"))
        .join(g.select(col("seg").as("seg2"), col("mo").as("mo2"), col("rev").as("r2")),
          col("seg") === col("seg2") && col("mo1") < col("mo2"))
        .groupBy("seg")
        .agg(sum(expr("CAST(sign(r2 - r1) AS BIGINT)")).as("s_stat"),
          count(lit(1)).as("n_pairs"))
      pairs.join(g.groupBy("seg").agg(count(lit(1)).as("n")), "seg")
        .select(col("seg"), col("n"), col("n_pairs"), col("s_stat"),
          expr("n * (n - 1) * (2 * n + 5)").as("var18"),
          expr("""CASE WHEN s_stat > 0 AND (abs(s_stat) - 1) * (abs(s_stat) - 1) * 45000
                            > 9604 * (n * (n - 1) * (2 * n + 5)) THEN 'increasing'
                       WHEN s_stat < 0 AND (abs(s_stat) - 1) * (abs(s_stat) - 1) * 45000
                            > 9604 * (n * (n - 1) * (2 * n + 5)) THEN 'decreasing'
                       ELSE 'none' END""").as("trend"))
        .orderBy("seg")
    }),

    // Sen's slope per segment (Mann–Kendall's standard companion — the
    // robust trend MAGNITUDE where M–K gives direction/significance; the
    // pair always ships together in trend reports): the median of all
    // pairwise slopes (y_j − y_i)/(mo_j − mo_i) over the same monthly
    // revenue grid, each slope resolved ONCE to exact micro-cents/month
    // via a truncating divide (both engines truncate toward zero on the
    // signed quotient identically), and the median taken DISCRETELY —
    // the lower median under the (slope, mo1, mo2) total order, so the
    // selection is engine-stable with no float and no interpolation.
    // Scale: same shape as ts_trend_mann_kendall — ONE partial-agg
    // collapse, the O(grid²) pair set is calendar-sized, and the median
    // window runs on those ~3.2k pairs per segment. Constant in corpus.
    "ts_theilsen_slope" -> ((s, d) => {
      val g = Shared.segRevenue(s, d, month.as("mo"), "rev")
      val slopes = g.select(col("seg"), col("mo").as("mo1"), col("rev").as("r1"))
        .join(g.select(col("seg").as("seg2"), col("mo").as("mo2"), col("rev").as("r2")),
          col("seg") === col("seg2") && col("mo1") < col("mo2"))
        .select(col("seg"), col("mo1"), col("mo2"),
          expr("(1000000 * (r2 - r1)) div (mo2 - mo1)").as("slope_micro"))
      val ranked = slopes
        .withColumn("rn", row_number().over(
          Window.partitionBy("seg").orderBy("slope_micro", "mo1", "mo2")))
        .withColumn("np", count(lit(1)).over(Window.partitionBy("seg")))
      ranked.filter(expr("rn = (np + 1) div 2"))
        .select(col("seg"), col("np").as("n_pairs"),
          col("slope_micro").as("sen_slope_micro"))
        .orderBy("seg")
    }),

    // Seasonal-naive forecast evaluation per event type: forecast(t) =
    // value(t−7 days); report Σ|actual − snaive| vs the non-seasonal
    // naive Σ|actual − lag1| — the two MASE ingredients, emitted as exact
    // integer sums (the engine never divides). Daily counts collapse
    // first (the only corpus-sized, partial-aggregatable stage); both
    // lags run on the metadata-sized per-type daily frame.
    "ts_snaive_error" -> ((s, d) => {
      val byT = Window.partitionBy("event_type").orderBy("day")
      Shared.eventDaily(s, d, count(lit(1)).as("c"))
        .withColumn("lag1", lag("c", 1).over(byT))
        .withColumn("lag7", lag("c", 7).over(byT))
        .filter(col("lag7").isNotNull && col("lag1").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("c") - col("lag7"))).as("snaive_abs_err"),
          sum(abs(col("c") - col("lag1"))).as("naive_abs_err"))
        .orderBy("event_type")
    }),

    // SLO error-budget burn report: per hourly window, is the error share
    // over the 5% objective (integer cross-multiply — no ratio computed
    // per window), rolled up per day with the worst window's error bp.
    // The SRE view a 100 TB event pipeline alerts from. Two stacked
    // partial-aggregatable shuffles: (hour) then (day); the only division
    // is the per-hour max_error_bp via integral div.
    "ts_slo_burn" -> ((s, d) =>
      events(s, d)
        .select(expr("unix_timestamp(date_trunc('second', ts)) div 3600").as("h"),
          (col("event_type") === "error").cast("long").as("e"))
        .groupBy("h").agg(count(lit(1)).as("n"), sum("e").as("errs"))
        .select(expr("h div 24").as("day_idx"),
          expr("CAST(errs * 10000 > n * 500 AS BIGINT)").as("burn"),
          expr("10000 * errs div n").as("ebp"))
        .groupBy("day_idx")
        .agg(count(lit(1)).as("n_windows"), sum("burn").as("n_burn"),
          max("ebp").as("max_error_bp"))
        .orderBy("day_idx")),

    // Per-user lifetime profile: first/last active day, distinct active
    // days, event count, span, and activity density in integer bp — the
    // engagement table a retention model trains on. One partial-
    // aggregatable user groupBy (countDistinct day rides Spark's two-phase
    // Expand); all arithmetic integer.
    "ts_active_lifetime" -> ((s, d) =>
      events(s, d)
        .select(col("user_id"),
          expr(s"CAST(${Shared.eventDay} AS BIGINT)").as("day"))
        .groupBy("user_id")
        .agg(min("day").as("first_day"), max("day").as("last_day"),
          countDistinct("day").as("active_days"), count(lit(1)).as("n_events"))
        .withColumn("span_days", col("last_day") - col("first_day") + 1)
        .withColumn("density_bp", expr("10000 * active_days div span_days"))
        .orderBy("user_id")),

    // Wide report: one row per user bucket, one column per event type.
    "reshape_pivot" -> ((s, d) => {
      val base = events(s, d).select(pmod(col("user_id"), lit(5)).as("bucket"), col("event_type"))
        .groupBy("bucket").pivot("event_type", eventTypes).agg(count(lit(1)))
      base.select(col("bucket") +: eventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy("bucket")
    }),

    // Long form: one (metric, value) row per measure column.
    "reshape_unpivot" -> ((s, d) =>
      Shared.lineitemSlice(s, d)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "v")
        .orderBy("l_orderkey", "l_linenumber", "l_extendedprice", "metric")),

    // Calendar gap-fill: every day in each user's active span, zeros filled —
    // the sessionized-log densification job.
    // Lagged cross-correlation between the click and purchase revenue
    // series (the lead-indicator sweep: does click volume predict purchases
    // k buckets later?): both series collapse to a 6-hour-bucket grid
    // through ONE partial-aggregatable pass (conditional sums — corpus
    // never survives the first shuffle), the calendar is gap-filled to 0
    // so lag alignment is positional, and each lag k ∈ 0..5 pairs (x_t,
    // y_{t+k}) via an equi join on the metadata-sized grid. Pearson per
    // lag leaves as SIGN + r²·1e6 from exact moment sums on DECIMAL(38,0)
    // accumulators (n·Σxy ~ 2e19 at sf1 overflows BIGINT — the
    // wide-accumulator rule), factored as (1e3·num div denx)·(1e3·num div
    // deny) — num² alone reaches ~4e41 at sf1, past DECIMAL(38,0), where
    // Spark's non-ANSI overflow degrades to NULL SILENTLY (the
    // agg_corr_matrix factorization rule); zero variance → NULL via the
    // CASE guard. Scale: everything after the first agg is
    // |buckets|×|lags| rows.
    "ts_cross_corr_lags" -> ((s, d) => {
      val per = events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(expr("unix_timestamp(date_trunc('second', ts)) div 21600").as("b"),
          col("event_type").as("t"), money(col("value")).as("v"))
        .groupBy("b").agg(
          sum(when(col("t") === "click", col("v")).otherwise(0L)).as("x"),
          sum(when(col("t") === "purchase", col("v")).otherwise(0L)).as("y"))
      val g = per.agg(min("b").as("b0"), max("b").as("b1"))
        .select(explode(expr("sequence(b0, b1)")).as("b"))
        .join(per, Seq("b"), "left")
        .select(col("b"), coalesce(col("x"), lit(0L)).as("x"),
          coalesce(col("y"), lit(0L)).as("y"))
      val g2 = g.select(col("b").as("b2"), col("y").as("y2"))
      g.crossJoin(broadcast(s.range(0, 6).select(col("id").as("lag"))))
        .join(g2, col("b2") === col("b") + col("lag"))
        .groupBy("lag").agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y2").as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * y2")).as("sxy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sx2"),
          sum(expr("CAST(y2 AS DECIMAL(38,0)) * y2")).as("sy2"))
        .select(col("lag"), col("n"),
          expr("CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy").as("num"),
          expr("CAST(n AS DECIMAL(38,0)) * sx2 - CAST(sx AS DECIMAL(38,0)) * sx").as("denx"),
          expr("CAST(n AS DECIMAL(38,0)) * sy2 - CAST(sy AS DECIMAL(38,0)) * sy").as("deny"))
        .select(col("lag"), col("n"),
          expr("CASE WHEN num > 0 THEN 1L WHEN num < 0 THEN -1L ELSE 0L END").as("r_sign"),
          expr("""CASE WHEN denx = 0 OR deny = 0 THEN NULL
                       ELSE CAST((1000 * num div denx) *
                                 (1000 * num div deny) AS BIGINT)
                  END""").as("r2_micro"))
        .orderBy("lag")
    }),

    "reshape_gapfill" -> ((s, d) => {
      val ev = events(s, d).filter(col("user_id") < 20)
        .select(col("user_id"), date_trunc("day", tsec(col("ts"))).cast("date").as("day"))
      val daily = ev.groupBy("user_id", "day").agg(count(lit(1)).as("n"))
      val cal = ev.groupBy("user_id").agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
      cal.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("user_id", "day")
    }),

    "reshape_date_format" -> ((s, d) =>
      orders(s, d)
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
          date_format(col("o_orderdate"), "dd/MM/yyyy").as("dmy"))
        .orderBy("o_orderkey").limit(50)),

    // Schema'd JSON parsing (from_json → typed struct), not just path extraction.
    "reshape_json_struct" -> ((s, d) =>
      events(s, d)
        .select(col("event_type"),
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).as("j"))
        .groupBy("event_type")
        .agg(count(when(col("j.k") > 50, 1)).as("n_high"), max(col("j.k")).as("mx"))
        .orderBy("event_type")),

    "reshape_base64_hex" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          // Spark base64 chunks output with \r\n every 76 chars (MIME style);
          // strip to match DuckDB's unchunked encoding.
          regexp_replace(base64(encode(col("text"), "UTF-8")), "[\\r\\n]", "").as("b64"),
          lower(hex(col("text"))).substr(1, 16).as("hex16"),
          (decode(unbase64(base64(encode(col("text"), "UTF-8"))), "UTF-8") === col("text")).as("roundtrip"))
        .orderBy("doc_id").limit(50)),

    // Inverse of reshape_json_struct: typed columns serialized back to a
    // compact JSON document (the event-sink export shape). Both engines
    // emit unspaced `{"k":v,...}` in struct-declaration order; fields are
    // integer/string only (float repr would differ) and non-null (Spark's
    // to_json drops null fields where DuckDB emits "k":null).
    "reshape_to_json" -> ((s, d) =>
      events(s, d)
        .select(col("event_id"),
          to_json(struct(
            col("event_id").as("id"),
            col("event_type").as("t"),
            col("user_id").as("uid"),
            get_json_object(col("props"), "$.k").cast("int").as("k"))).as("doc"))
        .orderBy("event_id").limit(100)),

    // Time-series resampling to OHLC bars (the financial downsample job,
    // and the general first/last-in-bucket shape): per (event_type, hour):
    // open = value at the earliest (ts, event_id), close at the latest,
    // high/low = max/min — all in integer cents BEFORE aggregation, and
    // open/close through min_by/max_by over the unique (ts_s, event_id)
    // order so ties cannot exist. One partial-aggregatable shuffle.
    "reshape_ohlc" -> ((s, d) =>
      events(s, d)
        .select(col("event_type"),
          date_trunc("hour", tsec(col("ts"))).as("h"),
          tsec(col("ts")).as("ts_s"), col("event_id"),
          money(col("value")).as("cents"))
        .groupBy("event_type", "h")
        .agg(
          min_by(col("cents"), struct(col("ts_s"), col("event_id"))).as("open"),
          max("cents").as("high"),
          min("cents").as("low"),
          max_by(col("cents"), struct(col("ts_s"), col("event_id"))).as("close"),
          count(lit(1)).as("n_trades"))
        .orderBy("event_type", "h")),

    // Linear interpolation across calendar gaps (gapfill's sibling: fill
    // with the line between neighbors, not zeros). The lerp is emitted as
    // EXACT integers — numerator `pv·(nd−day) + nv·(day−pd)` and denominator
    // `nd−pd` — instead of dividing, because integer division rounds toward
    // zero in Spark but floors in DuckDB (divergent on negative sums), and a
    // double lerp wouldn't hash. Observed days carry (v, 1). Neighbor lookup
    // is IGNORE NULLS navigation over the spine — one user_id shuffle serves
    // the spine join and all four windows.
    "ts_interpolate" -> ((s, d) => {
      val ev = events(s, d).filter(col("user_id") < 20)
        .select(col("user_id"), date_trunc("day", tsec(col("ts"))).cast("date").as("day"),
          col("value"))
      val daily = ev.groupBy("user_id", "day").agg(moneySum(col("value")).as("v"))
      val cal = daily.groupBy("user_id").agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
      val byU  = Window.partitionBy("user_id").orderBy("day")
      val back = byU.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd  = byU.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      cal.join(daily, Seq("user_id", "day"), "left")
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
        .withColumn("pd", last(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(back))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(fwd))
        .withColumn("nd", first(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(fwd))
        .select(col("user_id"), col("day"),
          when(col("v").isNotNull, lit(1L)).otherwise(lit(0L)).as("observed"),
          when(col("v").isNotNull, col("v"))
            .otherwise(col("pv") * datediff(col("nd"), col("day"))
              + col("nv") * datediff(col("day"), col("pd"))).as("interp_num"),
          when(col("v").isNotNull, lit(1L))
            .otherwise(datediff(col("nd"), col("pd")).cast("long")).as("interp_den"))
        .orderBy("user_id", "day")
    }),

    // Lag-1 autocorrelation diagnostics per user over the daily-sum series,
    // kept EXACT: corr² = num²/(den_x·den_y) but num = n·Σxy − Σx·Σy and
    // the dens are emitted as raw integers instead of dividing — the
    // Pearson algebra on integer cents is closed under BIGINT (≪ 2^63 at
    // any plausible per-user scale), so no float moment ever forms. One
    // user shuffle feeds the daily agg, the lead() pairing, and the moment
    // sums.
    "ts_autocorr" -> ((s, d) => {
      val daily = events(s, d)
        .select(col("user_id"), date_trunc("day", tsec(col("ts"))).cast("date").as("day"),
          col("value"))
        .groupBy("user_id", "day").agg(moneySum(col("value")).as("v"))
      val byU = Window.partitionBy("user_id").orderBy("day")
      daily.withColumn("vn", lead(col("v"), 1).over(byU))
        .filter(col("vn").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(col("v") * col("vn")).as("sxy"),
          sum(col("v")).as("sx"), sum(col("vn")).as("sy"),
          sum(col("v") * col("v")).as("sxx"), sum(col("vn") * col("vn")).as("syy"))
        .select(col("user_id"), col("n"),
          (col("n") * col("sxy") - col("sx") * col("sy")).as("corr_num"),
          (col("n") * col("sxx") - col("sx") * col("sx")).as("den_x"),
          (col("n") * col("syy") - col("sy") * col("sy")).as("den_y"))
        .orderBy("user_id")
    }),

    // Late-arrival audit — the out-of-orderness measurement that sizes a
    // stream's watermark delay: within each user's ingestion order
    // (event_id), an event is LATE when its event time sits behind the
    // running maximum so far. Reports per user the late count/fraction and
    // the worst lateness in seconds — the number a watermark must exceed.
    // One (user, event_id-ordered) window for the running max + one user
    // agg on the same partitioning; integer seconds off second-truncated
    // ts both engines.
    "ts_late_arrival_audit" -> ((s, d) => {
      val byU = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_timestamp(tsec(col("ts"))).as("es"))
        .withColumn("mx", max("es").over(byU))
        .withColumn("late_by",
          when(col("mx").isNotNull && col("es") < col("mx"),
            col("mx") - col("es")).otherwise(0L))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("late_by") > 0, 1L).otherwise(0L)).as("n_late"),
          max("late_by").as("max_late_s"))
        .withColumn("late_bp", expr("10000 * n_late div n_events"))
        .orderBy("user_id")
    }),

    // Early-event path mining — the product-analytics "top user journeys"
    // report: each user's first 3 events in the pinned (tss, event_id)
    // total order concatenate into a path string; paths then count and
    // rank. The row_number slice and the per-user path assembly ride ONE
    // user partitioning (collect_list is made order-independent by sorting
    // the (rn, type) structs before the transform — shuffle arrival order
    // never reaches the path); the final count is path-keyed over a frame
    // bounded by |types|³ distinct paths.
    "ts_user_paths" -> ((s, d) => {
      val byU = Window.partitionBy("user_id").orderBy(col("tss"), col("event_id"))
      events(s, d)
        .select(col("user_id"), col("event_id"), tsec(col("ts")).as("tss"),
          col("event_type"))
        .withColumn("rn", row_number().over(byU))
        .filter(col("rn") <= 3)
        .groupBy("user_id")
        .agg(expr("""concat_ws('>',
                       transform(array_sort(collect_list(struct(rn, event_type))),
                                 x -> x.event_type))""").as("path"))
        .groupBy("path")
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path"))
    }),

    // First/last-touch attribution per user — the marketing-attribution
    // primitive: the earliest and latest event's type and value-cents.
    // "First" is pinned to ONE deterministic total order, (tss, event_id),
    // via min_by/max_by over a STRUCT key — never ts alone, whose ties
    // would leave the winner engine-dependent. One user-keyed agg (partial-
    // aggregatable: min_by/max_by merge associatively), no window, no
    // second shuffle; the cheapest attribution plan shape at any scale.
    "ts_attribution_touch" -> ((s, d) =>
      events(s, d)
        .select(col("user_id"), col("event_id"), tsec(col("ts")).as("tss"),
          col("event_type"), money(col("value")).as("cents"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          expr("min_by(event_type, struct(tss, event_id))").as("first_type"),
          expr("min_by(cents, struct(tss, event_id))").as("first_cents"),
          expr("max_by(event_type, struct(tss, event_id))").as("last_type"),
          expr("max_by(cents, struct(tss, event_id))").as("last_cents"))
        .orderBy("user_id")),

    // Day-of-week × hour activity grid (the ops-dashboard heatmap feed):
    // event count and share-of-total bp per (dow, hour) cell. Week-day
    // numbering is pinned engine-neutrally to ISO Monday=1..Sunday=7 —
    // Spark's dayofweek is Sunday=1 and DuckDB's dow is Sunday=0, so the
    // Spark side remaps onto isodow explicitly rather than trusting either
    // default. One partial-aggregatable (dow, hour) shuffle; the 7×24 grid
    // is metadata-sized and the total broadcasts back.
    "ts_dow_hour_profile" -> ((s, d) => {
      val cells = events(s, d)
        .select(expr("CAST((dayofweek(ts) + 5) % 7 + 1 AS BIGINT)").as("dow"),
          hour(col("ts")).cast("long").as("hour"))
        .groupBy("dow", "hour").agg(count(lit(1)).as("n"))
      val tot = cells.agg(sum("n").as("total"))
      cells.crossJoin(broadcast(tot))
        .select(col("dow"), col("hour"), col("n"),
          expr("10000 * n div total").as("share_bp"))
        .orderBy("dow", "hour")
    }),

    // Rolling 7-day active users per day (the WAU-by-day panel): each
    // (user, active-day) pair — already distinct and tiny after the first
    // agg — contributes to the 7 report days it falls inside via a
    // sequence-explode (×7 on the COLLAPSED frame, not the event stream),
    // then one (day) countDistinct. Exact, no window-over-distinct (Spark
    // can't do COUNT(DISTINCT) OVER a moving range); report days span the
    // data's own [min, max] so both engines agree on the frame. At 100 TB
    // the event stream collapses in the first partial-aggregatable shuffle;
    // everything after is (users × 7)-sized.
    "ts_rolling_active" -> ((s, d) => {
      val ud = events(s, d)
        .select(col("user_id"),
          expr(s"CAST(${Shared.eventDay} AS BIGINT)").as("day"))
        .distinct()
      val span = ud.agg(min("day").as("lo"), max("day").as("hi"))
      ud.select(col("user_id"),
          explode(expr("sequence(day, day + 6)")).as("rday"))
        .crossJoin(broadcast(span))
        .filter(col("rday") >= col("lo") && col("rday") <= col("hi"))
        .groupBy("rday")
        .agg(countDistinct("user_id").as("wau"))
        .select(col("rday").as("day"), col("wau"))
        .orderBy("day")
    }),

    // Inter-arrival gap profile per user (the burstiness audit a capacity
    // plan or bot screen runs): consecutive-event gaps in whole seconds off
    // the second-truncated ts (SURVEY §1.4 rule), tie-broken by event_id in
    // both engines, then exact integer stats per user. The median rides the
    // doubled-percentile trick (2·p50 of BIGINTs is integral — the
    // interpolation midpoint of two integers — so the double is exact and
    // the BIGINT cast can't hit the truncate-vs-round divergence). One
    // user-keyed window + one user agg on the same partitioning.
    "ts_interarrival" -> ((s, d) => {
      val byU = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, d)
        .select(col("user_id"), col("event_id"), tsec(col("ts")).as("ts"))
        .withColumn("prev", lag(col("ts"), 1).over(byU))
        .filter(col("prev").isNotNull)
        .select(col("user_id"),
          (unix_timestamp(col("ts")) - unix_timestamp(col("prev"))).as("gap_s"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"), min("gap_s").as("min_s"),
          max("gap_s").as("max_s"), sum("gap_s").as("total_s"),
          expr("CAST(2 * percentile(gap_s, 0.5d) AS BIGINT)").as("median_2x_s"))
        .withColumn("avg_s", expr("total_s div n_gaps"))
        .orderBy("user_id")
    }),

    // Week-over-week delta report (the periodic-comparison job): weeks are
    // explicit 7-day buckets anchored at 2024-01-01 — engine-neutral by
    // construction, no date_trunc('week') week-start convention to agree
    // on. One tiny (type, week) aggregate, then a lag over the
    // metadata-sized report frame; first week's delta is its own count
    // (coalesce 0 baseline).
    "ts_wow_delta" -> ((s, d) => {
      val wk = events(s, d)
        .select(col("event_type"),
          expr(s"CAST(${Shared.eventDay} AS BIGINT) div 7").as("wk"))
        .groupBy("event_type", "wk").agg(count(lit(1)).as("n"))
      wk.withColumn("prev_n",
          lag(col("n"), 1).over(Window.partitionBy("event_type").orderBy("wk")))
        .select(col("event_type"), col("wk"), col("n"),
          (col("n") - coalesce(col("prev_n"), lit(0L))).as("delta"))
        .orderBy("event_type", "wk")
    }),

    // Cohort retention matrix (the product-analytics report): users cohort
    // by first-active week (explicit 7-day buckets anchored 2024-01-01 —
    // the ts_wow_delta convention, engine-neutral), and retention(c, k) =
    // distinct users of cohort c active in week c+k, emitted with basis-
    // point retention against the offset-0 cohort size. Shapes: one
    // (user, week) distinct, one user-keyed min-agg, one join back on
    // user_id — all partial-aggregatable on user-bearing keys; the matrix
    // itself is |weeks|² rows, metadata-sized at any stream size, so the
    // final cohort-size window is free.
    "ts_cohort_retention" -> ((s, d) => {
      val wk = expr(s"CAST(${Shared.eventDay} AS BIGINT) div 7")
      val act = events(s, d).select(col("user_id"), wk.as("wk")).distinct()
      val cohort = act.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      act.join(cohort, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
        .agg(countDistinct("user_id").as("n_active"))
        .withColumn("cohort_size",
          max(when(col("week_offset") === 0, col("n_active")))
            .over(Window.partitionBy("cohort_wk")))
        .select(col("cohort_wk"), col("week_offset"), col("n_active"),
          expr("10000 * n_active div cohort_size").as("retention_bp"))
        .orderBy("cohort_wk", "week_offset")
    }),

    // OUTER generator semantics (posexplode_outer): rows whose array is
    // EMPTY survive with NULLs — an inner explode silently drops them, the
    // classic lost-row bug when flattening optional nested data (106 of 500
    // fixture docs have no >7-char word). The preserved row's position is
    // emitted as the -1 sentinel rather than NULL so the declared (doc_id,
    // pos) output order is NULL-free and engine-neutral (ASC NULL placement
    // differs between Spark and DuckDB). Map-only — generators never
    // shuffle; row count is data-dependent, exactly why outer matters.
    "reshape_explode_outer" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          expr("filter(split(text, ' '), w -> length(w) > 7)").as("arr"))
        .select(col("doc_id"), posexplode_outer(col("arr")))
        .toDF("doc_id", "pos", "w")
        .select(col("doc_id"),
          coalesce(col("pos").cast("long"), lit(-1L)).as("pos"), col("w"))
        .orderBy("doc_id", "pos")),

    // Hour-of-day seasonal index per event type (the load-profile /
    // seasonality report): observed hourly count vs the uniform expectation
    // N/24, as index_bp = 10000·24·n div N (10000 = flat). Exact integers
    // throughout. Scale: ONE partial-aggregatable (type, hour) count is the
    // only corpus-sized shuffle; the per-type total runs as a window over
    // the aggregated ≤ 24·|types|-row frame — metadata-sized at any corpus
    // size, so the unbucketed partition-by-type window is safe here.
    "ts_seasonal_index" -> ((s, d) =>
      events(s, d)
        .select(col("event_type"), hour(tsec(col("ts"))).cast("long").as("hr"))
        .groupBy("event_type", "hr").agg(count(lit(1)).as("n"))
        .withColumn("tot", sum("n").over(Window.partitionBy("event_type")))
        .select(col("event_type"), col("hr"), col("n"),
          expr("10000 * 24 * n div tot").as("index_bp"))
        .orderBy("event_type", "hr")),

    // CUSUM changepoint detection per event type (the level-shift monitor):
    // over daily cents totals x_1..x_n, the classic statistic is the max
    // deviation of the cumulative sum from the proportional line,
    // S_k = Σ_{i≤k} (x_i − T/n). Multiplying through by n keeps it EXACT:
    // S'_k = n·prefix_k − k·T is pure BIGINT (no mean division ever
    // happens), and argmax |S'_k| is the same k. Ties break to the earliest
    // day. Scale: the one corpus-sized stage is the partial-aggregatable
    // (type, day) sum; every window runs over the ≤ |days|·|types|-row
    // daily frame — metadata-sized for any corpus, like ts_seasonal_index.
    "ts_changepoint_cusum" -> ((s, d) => {
      val byType = Window.partitionBy("event_type")
      val scored = Shared.eventDaily(s, d, moneySum(col("value")).as("x"))
        .withColumn("k", row_number().over(byType.orderBy("day")).cast("long"))
        .withColumn("pre", sum("x").over(byType.orderBy("day")))
        .withColumn("n", count(lit(1)).over(byType))
        .withColumn("t", sum("x").over(byType))
        .withColumn("s", col("n") * col("pre") - col("k") * col("t"))
      scored
        .withColumn("rn", row_number().over(
          byType.orderBy(abs(col("s")).desc, col("day"))))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("day").as("cp_day"),
          col("s").as("s_at_cp"), col("n").as("n_days"))
        .orderBy("event_type")
    }),

    // SPC control-limit anomalies (the Shewhart-chart day-level sibling of
    // ts_changepoint_cusum's level-shift statistic): a day is flagged when
    // its daily cents total sits beyond 1.5 population σ of its type's
    // days. The test is EXACT: x − μ > 1.5σ cross-multiplied to
    // 4·(n·x − T)² > 9·(n·Q − T²) so no mean, variance, or square root is
    // ever materialized — all arithmetic in DECIMAL(38,0) (the agg_gini
    // accumulator rule; (n·x−T)² ≈ 9e18 at sf0.1, well inside 38 digits),
    // and only exact BIGINTs leave. Scale: one partial-aggregatable
    // (type, day) sum; the |types|-row moment frame broadcasts back onto
    // the metadata-sized daily frame.
    "ts_anomaly_spc" -> ((s, d) => {
      val daily = Shared.eventDaily(s, d, moneySum(col("value")).as("x"))
      val st = daily.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum("x").as("t"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("q"))
      daily.join(broadcast(st), "event_type")
        .filter(expr(
          """4 * (n * CAST(x AS DECIMAL(38,0)) - t) * (n * CAST(x AS DECIMAL(38,0)) - t)
             > 9 * (n * q - CAST(t AS DECIMAL(38,0)) * t)"""))
        .select(col("event_type"), col("day"), col("x").as("x_cents"),
          col("n").as("n_days"))
        .orderBy("event_type", "day")
    }),
  )

  val oracle: Map[String, String] = Map(
    // Same n_p²·n_n-scaled exact-integer area argmax on the REBASED
    // tr = t − t0 (translation-invariant — r9 ADVICE overflow fix);
    // HUGEINT products are DuckDB's twin of the Spark DECIMAL(38,0) cast.
    "ts_downsample_triangle" ->
      s"""WITH pts AS (SELECT event_type,
                              CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t,
                              ${moneySql("value")} AS v, event_id
                       FROM events),
              span AS (SELECT event_type, min(t) AS t0, max(t) AS t1
                       FROM pts GROUP BY 1),
              bk AS (SELECT p.event_type, p.t, p.v, p.event_id,
                            (p.t - s.t0) * 32 // (s.t1 - s.t0 + 1) AS bucket,
                            p.t - s.t0 AS tr
                     FROM pts p JOIN span s ON s.event_type = p.event_type),
              a AS (SELECT event_type, bucket, count(*) AS n,
                           sum(tr) AS st, sum(v) AS sv
                    FROM bk GROUP BY 1, 2),
              ctx AS (SELECT event_type, bucket,
                             lag(n) OVER w AS np, lag(st) OVER w AS stp,
                             lag(sv) OVER w AS svp,
                             lead(n) OVER w AS nn, lead(st) OVER w AS stn,
                             lead(sv) OVER w AS svn
                      FROM a
                      WINDOW w AS (PARTITION BY event_type ORDER BY bucket)),
              scored AS (SELECT b.event_type, b.bucket, b.t, b.v, b.event_id,
                                abs(CAST(b.tr * c.np - c.stp AS HUGEINT)
                                      * CAST(c.svn * c.np - c.svp * c.nn AS HUGEINT)
                                    - CAST(c.stn * c.np - c.stp * c.nn AS HUGEINT)
                                      * CAST(b.v * c.np - c.svp AS HUGEINT)) AS area2
                         FROM bk b JOIN ctx c
                           ON c.event_type = b.event_type AND c.bucket = b.bucket
                         WHERE c.np IS NOT NULL AND c.nn IS NOT NULL)
          SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
                 t AS sel_t, v AS sel_cents
          FROM (SELECT *, row_number() OVER (PARTITION BY event_type, bucket
                                             ORDER BY area2 DESC, t, event_id) AS rk
                FROM scored)
          WHERE rk = 1 ORDER BY event_type, bucket""",
    "ts_churn_by_week" ->
      s"""WITH um AS (SELECT DISTINCT user_id,
                            ${Shared.eventDaySql} // 7 AS wk
                     FROM events)
         SELECT CAST(a.wk AS BIGINT) AS wk, count(*) AS n_active,
                count(b.user_id) AS n_retained,
                count(*) - count(b.user_id) AS n_churned,
                10000 * (count(*) - count(b.user_id)) // count(*) AS churn_bp
         FROM um a LEFT JOIN um b ON a.user_id = b.user_id AND b.wk = a.wk + 1
         GROUP BY a.wk ORDER BY wk""",
    "ts_mom_growth" ->
      s"""WITH m AS (${Shared.segRevenueSql(s"$monthSql AS mo", "rev_cents")}),
              lg AS (SELECT seg, mo, rev_cents,
                            lag(rev_cents) OVER (PARTITION BY seg ORDER BY mo) AS prev_cents
                     FROM m)
         SELECT seg, CAST(mo AS BIGINT) AS mo, rev_cents, prev_cents,
                rev_cents - prev_cents AS delta_cents
         FROM lg WHERE prev_cents IS NOT NULL
         ORDER BY seg, mo""",
    // Same grid and pair set; `//` truncates toward zero like `div` on the
    // signed slopes, and the lower-median pick is a pure row_number
    // selection under the identical total order.
    "ts_theilsen_slope" ->
      s"""WITH g AS (${Shared.segRevenueSql(s"$monthSql AS mo", "rev")}),
              sl AS (SELECT a.seg, a.mo AS mo1, b.mo AS mo2,
                            CAST((1000000 * (b.rev - a.rev)) // (b.mo - a.mo) AS BIGINT) AS slope_micro
                     FROM g a JOIN g b ON a.seg = b.seg AND a.mo < b.mo),
              r AS (SELECT seg, slope_micro,
                           row_number() OVER (PARTITION BY seg
                                              ORDER BY slope_micro, mo1, mo2) AS rn,
                           count(*) OVER (PARTITION BY seg) AS np
                    FROM sl)
         SELECT seg, CAST(np AS BIGINT) AS n_pairs, slope_micro AS sen_slope_micro
         FROM r WHERE rn = (np + 1) // 2
         ORDER BY seg""",
    // Same grid, same pair algebra; DuckDB sign() is already integral and
    // all cross-multiplied operands are BIGINT-safe (S ≤ C(grid,2) ≈ 3.2k).
    "ts_trend_mann_kendall" ->
      s"""WITH g AS (${Shared.segRevenueSql(s"$monthSql AS mo", "rev")}),
              p AS (SELECT a.seg, CAST(sum(CAST(sign(b.rev - a.rev) AS BIGINT)) AS BIGINT) AS s_stat,
                           count(*) AS n_pairs
                    FROM g a JOIN g b ON a.seg = b.seg AND a.mo < b.mo
                    GROUP BY a.seg),
              ns AS (SELECT seg, count(*) AS n FROM g GROUP BY seg)
         SELECT seg, n, n_pairs, s_stat,
                n * (n - 1) * (2 * n + 5) AS var18,
                CASE WHEN s_stat > 0 AND (abs(s_stat) - 1) * (abs(s_stat) - 1) * 45000
                          > 9604 * (n * (n - 1) * (2 * n + 5)) THEN 'increasing'
                     WHEN s_stat < 0 AND (abs(s_stat) - 1) * (abs(s_stat) - 1) * 45000
                          > 9604 * (n * (n - 1) * (2 * n + 5)) THEN 'decreasing'
                     ELSE 'none' END AS trend
         FROM p JOIN ns USING (seg)
         ORDER BY seg""",
    "ts_snaive_error" ->
      s"""WITH ${Shared.eventDailySql("count(*) AS c")},
              lg AS (SELECT event_type, c,
                            lag(c, 1) OVER (PARTITION BY event_type ORDER BY day) AS lag1,
                            lag(c, 7) OVER (PARTITION BY event_type ORDER BY day) AS lag7
                     FROM daily)
         SELECT event_type, count(*) AS n_days,
                CAST(sum(abs(c - lag7)) AS BIGINT) AS snaive_abs_err,
                CAST(sum(abs(c - lag1)) AS BIGINT) AS naive_abs_err
         FROM lg WHERE lag7 IS NOT NULL AND lag1 IS NOT NULL
         GROUP BY event_type ORDER BY event_type""",
    "ts_slo_burn" ->
      """WITH hr AS (SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600 AS h,
                            count(*) AS n,
                            CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errs
                     FROM events GROUP BY 1)
         SELECT h // 24 AS day_idx, count(*) AS n_windows,
                CAST(sum(CAST(errs * 10000 > n * 500 AS BIGINT)) AS BIGINT) AS n_burn,
                max(10000 * errs // n) AS max_error_bp
         FROM hr GROUP BY 1 ORDER BY day_idx""",
    "ts_active_lifetime" ->
      s"""WITH e AS (SELECT user_id,
                           ${Shared.eventDaySql} AS day
                    FROM events)
         SELECT user_id, CAST(min(day) AS BIGINT) AS first_day,
                CAST(max(day) AS BIGINT) AS last_day,
                count(DISTINCT day) AS active_days, count(*) AS n_events,
                CAST(max(day) - min(day) + 1 AS BIGINT) AS span_days,
                10000 * count(DISTINCT day) // CAST(max(day) - min(day) + 1 AS BIGINT) AS density_bp
         FROM e GROUP BY user_id ORDER BY user_id""",
    "ts_fulfillment_lag" ->
      s"""WITH lag AS (SELECT o_orderpriority,
                             max(${Shared.tpchDaySql("l_shipdate")})
                               - max(${Shared.tpchDaySql("o_orderdate")}) AS lag_days
                      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                      GROUP BY o_orderpriority, l_orderkey)
         SELECT o_orderpriority, count(*) AS n_orders,
                CAST(quantile_disc(lag_days, 0.5) AS BIGINT) AS p50_days,
                CAST(quantile_disc(lag_days, 0.9) AS BIGINT) AS p90_days,
                CAST(max(lag_days) AS BIGINT) AS max_days
         FROM lag GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "reshape_histogram2d" ->
      s"""SELECT $monthSql AS month_idx,
                 ${graft.Norm.moneySql("o_totalprice")} // 50000 AS price_bucket,
                 count(*) AS n
          FROM orders GROUP BY 1, 2 ORDER BY month_idx, price_bucket""",
    "ts_rfm_scores" -> {
      val monSql = s"CAST(sum(${graft.Norm.moneySql("o_totalprice")}) AS BIGINT)"
      s"""WITH cust AS (SELECT o_custkey,
                               max(${Shared.tpchDaySql("o_orderdate")}) AS last_day,
                               count(*) AS freq, $monSql AS mon
                        FROM orders GROUP BY 1),
              base AS (SELECT o_custkey,
                              CAST((SELECT max(last_day) FROM cust) - last_day AS BIGINT) AS rec,
                              freq, mon FROM cust),
              cp AS (SELECT quantile_disc(rec, 0.2) AS rec_q1, quantile_disc(rec, 0.4) AS rec_q2,
                            quantile_disc(rec, 0.6) AS rec_q3, quantile_disc(rec, 0.8) AS rec_q4,
                            quantile_disc(freq, 0.2) AS freq_q1, quantile_disc(freq, 0.4) AS freq_q2,
                            quantile_disc(freq, 0.6) AS freq_q3, quantile_disc(freq, 0.8) AS freq_q4,
                            quantile_disc(mon, 0.2) AS mon_q1, quantile_disc(mon, 0.4) AS mon_q2,
                            quantile_disc(mon, 0.6) AS mon_q3, quantile_disc(mon, 0.8) AS mon_q4
                     FROM base),
              sc AS (SELECT o_custkey, rec, freq, mon,
                            1 + CAST(rec > rec_q1 AS BIGINT) + CAST(rec > rec_q2 AS BIGINT)
                              + CAST(rec > rec_q3 AS BIGINT) + CAST(rec > rec_q4 AS BIGINT) AS r_score,
                            1 + CAST(freq > freq_q1 AS BIGINT) + CAST(freq > freq_q2 AS BIGINT)
                              + CAST(freq > freq_q3 AS BIGINT) + CAST(freq > freq_q4 AS BIGINT) AS f_score,
                            1 + CAST(mon > mon_q1 AS BIGINT) + CAST(mon > mon_q2 AS BIGINT)
                              + CAST(mon > mon_q3 AS BIGINT) + CAST(mon > mon_q4 AS BIGINT) AS m_score
                     FROM base CROSS JOIN cp)
         SELECT o_custkey, rec, CAST(freq AS BIGINT) AS freq, mon,
                r_score, f_score, m_score,
                r_score * 100 + f_score * 10 + m_score AS rfm
         FROM sc ORDER BY o_custkey"""
    },
    "ts_seasonality_strength" ->
      s"""WITH ${Shared.eventDailySql("count(*) AS c")},
              tot AS (SELECT event_type, count(*) AS n_days, CAST(sum(c) AS BIGINT) AS s_tot,
                             sum(c * c) AS q_tot
                      FROM daily GROUP BY 1),
              dw AS (SELECT event_type,
                            CAST(sum(${floorMicro("CAST(s_k AS DOUBLE) * s_k / n_k")}) AS BIGINT) AS ssb_terms_micro
                     FROM (SELECT event_type, day % 7 AS dow, count(*) AS n_k,
                                  CAST(sum(c) AS BIGINT) AS s_k
                           FROM daily GROUP BY 1, 2)
                     GROUP BY 1)
         SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
                ssb_terms_micro - ${floorMicro(SeasonMean)} AS ssb_micro,
                CAST(1000000 * q_tot - ${floorMicro(SeasonMean)} AS BIGINT) AS sst_micro
         FROM tot JOIN dw USING (event_type) ORDER BY event_type""",
    "ts_peak_concurrency" ->
      """WITH occ AS (SELECT event_type,
                             CAST(unnest(generate_series(m0, m0 + 29)) AS BIGINT) AS minute
                      FROM (SELECT event_type,
                                   CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 60 AS m0
                            FROM events)),
              c AS (SELECT event_type, minute, count(*) AS n
                    FROM occ GROUP BY 1, 2)
         SELECT event_type, minute // 1440 AS day_idx, max(n) AS peak,
                count(*) AS active_minutes
         FROM c GROUP BY 1, 2 ORDER BY event_type, day_idx""",
    "ts_gap_report" ->
      s"""WITH daily AS (SELECT DISTINCT event_type,
                               ${Shared.eventDaySql} AS day
                        FROM events),
              g AS (SELECT event_type, day,
                           day - lag(day) OVER (PARTITION BY event_type ORDER BY day) AS gap
                    FROM daily)
         SELECT event_type, count(*) AS n_days,
                CAST(sum(CASE WHEN gap >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps_ge2,
                CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap,
                CAST(max(day) - min(day) + 1 AS BIGINT) AS span_days
         FROM g GROUP BY event_type ORDER BY event_type""",
    "ts_burstiness" ->
      s"""WITH ${Shared.eventDailySql("count(*) AS c")}
         SELECT event_type,
                count(*) AS n_days,
                CAST(sum(c) AS BIGINT) AS total,
                CAST(count(*) * sum(c * c) - sum(c) * sum(c) AS BIGINT) AS fano_num,
                CAST(count(*) * sum(c) AS BIGINT) AS fano_den
         FROM daily GROUP BY event_type ORDER BY event_type""",
    "reshape_pivot" ->
      s"""SELECT user_id % 5 AS bucket,
          ${eventTypes.map(t => s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS $t").mkString(", ")}
          FROM events GROUP BY 1 ORDER BY bucket""",
    "reshape_unpivot" ->
      s"""WITH src AS (SELECT * FROM lineitem ${Shared.lineitemSliceSql})
         SELECT l_orderkey, l_linenumber, l_extendedprice, metric, v FROM (
           SELECT l_orderkey, l_linenumber, l_extendedprice, 'l_quantity' AS metric, l_quantity AS v FROM src
           UNION ALL
           SELECT l_orderkey, l_linenumber, l_extendedprice, 'l_discount', l_discount FROM src
           UNION ALL
           SELECT l_orderkey, l_linenumber, l_extendedprice, 'l_tax', l_tax FROM src)
         ORDER BY l_orderkey, l_linenumber, l_extendedprice, metric""",
    // Same grid/lag algebra in HUGEINT; range() is end-exclusive, hence
    // max(b) + 1 and range(0, 6) for lags 0..5.
    "ts_cross_corr_lags" ->
      s"""WITH e AS (SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 21600 AS b,
                            event_type AS t, ${graft.Norm.moneySql("value")} AS v
                     FROM events WHERE event_type IN ('click', 'purchase')),
              per AS (SELECT b,
                             CAST(sum(CASE WHEN t = 'click' THEN v ELSE 0 END) AS BIGINT) AS x,
                             CAST(sum(CASE WHEN t = 'purchase' THEN v ELSE 0 END) AS BIGINT) AS y
                      FROM e GROUP BY b),
              cal AS (SELECT unnest(range((SELECT min(b) FROM per),
                                          (SELECT max(b) FROM per) + 1)) AS b),
              g AS (SELECT cal.b, coalesce(per.x, 0) AS x, coalesce(per.y, 0) AS y
                    FROM cal LEFT JOIN per ON per.b = cal.b),
              lags AS (SELECT CAST(unnest(range(0, 6)) AS BIGINT) AS lag),
              pr AS (SELECT l.lag, a.x, b.y AS y2
                     FROM g a CROSS JOIN lags l JOIN g b ON b.b = a.b + l.lag),
              m AS (SELECT lag, count(*) AS n,
                           sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y2 AS HUGEINT)) AS sy,
                           sum(CAST(x AS HUGEINT) * y2) AS sxy,
                           sum(CAST(x AS HUGEINT) * x) AS sx2,
                           sum(CAST(y2 AS HUGEINT) * y2) AS sy2
                    FROM pr GROUP BY lag),
              c AS (SELECT lag, n,
                           CAST(n AS HUGEINT) * sxy - sx * sy AS num,
                           CAST(n AS HUGEINT) * sx2 - sx * sx AS denx,
                           CAST(n AS HUGEINT) * sy2 - sy * sy AS deny
                    FROM m)
         SELECT lag, n,
                CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END AS BIGINT) AS r_sign,
                CASE WHEN denx = 0 OR deny = 0 THEN NULL
                     ELSE CAST((1000 * num // denx) * (1000 * num // deny) AS BIGINT)
                END AS r2_micro
         FROM c ORDER BY lag""",
    "reshape_gapfill" ->
      """WITH ev AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
                     FROM events WHERE user_id < 20),
              daily AS (SELECT user_id, day, count(*) AS n FROM ev GROUP BY 1, 2),
              cal AS (SELECT user_id,
                             CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                                                         INTERVAL '1 day')) AS DATE) AS day
                      FROM (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM ev GROUP BY 1))
         SELECT cal.user_id, cal.day, coalesce(daily.n, 0) AS n
         FROM cal LEFT JOIN daily ON cal.user_id = daily.user_id AND cal.day = daily.day
         ORDER BY 1, 2""",
    "reshape_date_format" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS ym,
                strftime(o_orderdate, '%d/%m/%Y') AS dmy
         FROM orders ORDER BY o_orderkey LIMIT 50""",
    "reshape_json_struct" ->
      """SELECT event_type,
                count(CASE WHEN CAST(json_extract(props, '$.k') AS INTEGER) > 50 THEN 1 END) AS n_high,
                max(CAST(json_extract(props, '$.k') AS INTEGER)) AS mx
         FROM events GROUP BY event_type ORDER BY event_type""",
    "reshape_base64_hex" ->
      """SELECT doc_id, to_base64(encode(text)) AS b64,
                substring(lower(hex(encode(text))), 1, 16) AS hex16,
                decode(from_base64(to_base64(encode(text)))) = text AS roundtrip
         FROM documents ORDER BY doc_id LIMIT 50""",
    "reshape_to_json" ->
      """SELECT event_id,
                CAST(to_json(struct_pack(
                  id := event_id, t := event_type, uid := user_id,
                  k := CAST(json_extract(props, '$.k') AS INTEGER))) AS VARCHAR) AS doc
         FROM events ORDER BY event_id LIMIT 100""",
    // open/close via the two mirrored row_numbers (the arg_min/arg_max twin).
    "reshape_ohlc" ->
      s"""WITH e AS (SELECT event_type,
                            date_trunc('hour', CAST(date_trunc('second', ts) AS TIMESTAMP)) AS h,
                            CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s, event_id,
                            ${moneySql("value")} AS cents
                     FROM events),
               w AS (SELECT *,
                            row_number() OVER (PARTITION BY event_type, h ORDER BY ts_s, event_id) AS ra,
                            row_number() OVER (PARTITION BY event_type, h ORDER BY ts_s DESC, event_id DESC) AS rd
                     FROM e)
          SELECT event_type, h,
                 max(CASE WHEN ra = 1 THEN cents END) AS open,
                 max(cents) AS high, min(cents) AS low,
                 max(CASE WHEN rd = 1 THEN cents END) AS close,
                 count(*) AS n_trades
          FROM w GROUP BY 1, 2 ORDER BY 1, 2""",
    "ts_interpolate" ->
      s"""WITH ev AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, value
                      FROM events WHERE user_id < 20),
              daily AS (SELECT user_id, day, ${moneySumSql("value")} AS v
                        FROM ev GROUP BY user_id, day),
              cal AS (SELECT user_id,
                             CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                                                         INTERVAL '1 day')) AS DATE) AS day
                      FROM (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id)),
              sp AS (SELECT cal.user_id, cal.day, daily.v
                     FROM cal LEFT JOIN daily ON cal.user_id = daily.user_id AND cal.day = daily.day),
              f AS (SELECT user_id, day, v,
                           last_value(v IGNORE NULLS) OVER wb AS pv,
                           last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wb AS pd,
                           first_value(v IGNORE NULLS) OVER wf AS nv,
                           first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wf AS nd
                    FROM sp
                    WINDOW wb AS (PARTITION BY user_id ORDER BY day
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                           wf AS (PARTITION BY user_id ORDER BY day
                                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT user_id, day,
                CAST(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS observed,
                CAST(CASE WHEN v IS NOT NULL THEN v
                          ELSE pv * date_diff('day', day, nd) + nv * date_diff('day', pd, day)
                     END AS BIGINT) AS interp_num,
                CAST(CASE WHEN v IS NOT NULL THEN 1
                          ELSE date_diff('day', pd, nd) END AS BIGINT) AS interp_den
         FROM f ORDER BY user_id, day""",
    // DuckDB sums BIGINT into HUGEINT — cast each moment back to BIGINT
    // before the Pearson algebra so types match the Spark side.
    "ts_autocorr" ->
      s"""WITH daily AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                                ${moneySumSql("value")} AS v
                         FROM events GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)),
              p AS (SELECT user_id, v,
                           lead(v, 1) OVER (PARTITION BY user_id ORDER BY day) AS vn
                    FROM daily),
              m AS (SELECT user_id, count(*) AS n,
                           CAST(sum(v * vn) AS BIGINT) AS sxy,
                           CAST(sum(v) AS BIGINT) AS sx, CAST(sum(vn) AS BIGINT) AS sy,
                           CAST(sum(v * v) AS BIGINT) AS sxx, CAST(sum(vn * vn) AS BIGINT) AS syy
                    FROM p WHERE vn IS NOT NULL GROUP BY user_id)
         SELECT user_id, n,
                n * sxy - sx * sy AS corr_num,
                n * sxx - sx * sx AS den_x,
                n * syy - sy * sy AS den_y
         FROM m ORDER BY user_id""",
    "ts_late_arrival_audit" ->
      """WITH e AS (SELECT user_id, event_id,
                           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es
                    FROM events),
              w AS (SELECT user_id, es,
                           max(es) OVER (PARTITION BY user_id ORDER BY event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
                    FROM e),
              l AS (SELECT user_id,
                           CASE WHEN mx IS NOT NULL AND es < mx THEN mx - es ELSE 0 END AS late_by
                    FROM w)
         SELECT user_id, count(*) AS n_events,
                CAST(sum(CASE WHEN late_by > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
                max(late_by) AS max_late_s,
                10000 * CAST(sum(CASE WHEN late_by > 0 THEN 1 ELSE 0 END) AS BIGINT) // count(*) AS late_bp
         FROM l GROUP BY user_id ORDER BY user_id""",
    "ts_user_paths" ->
      """WITH e AS (SELECT user_id, event_type,
                           row_number() OVER (PARTITION BY user_id
                                              ORDER BY date_trunc('second', ts), event_id) AS rn
                    FROM events),
              p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
                    FROM e WHERE rn <= 3 GROUP BY user_id)
         SELECT path, count(*) AS n_users
         FROM p GROUP BY path ORDER BY n_users DESC, path""",
    // Same (tss, event_id) total order via asc/desc row_number windows —
    // DuckDB's arg_min on a composite key is avoided on purpose.
    "ts_attribution_touch" ->
      s"""WITH e AS (SELECT user_id, event_id, date_trunc('second', ts) AS tss,
                            event_type, ${moneySql("value")} AS cents
                     FROM events),
               r AS (SELECT user_id, event_type, cents,
                            row_number() OVER (PARTITION BY user_id
                                               ORDER BY tss, event_id) AS ra,
                            row_number() OVER (PARTITION BY user_id
                                               ORDER BY tss DESC, event_id DESC) AS rd
                     FROM e)
          SELECT user_id, count(*) AS n_events,
                 max(CASE WHEN ra = 1 THEN event_type END) AS first_type,
                 max(CASE WHEN ra = 1 THEN cents END) AS first_cents,
                 max(CASE WHEN rd = 1 THEN event_type END) AS last_type,
                 max(CASE WHEN rd = 1 THEN cents END) AS last_cents
          FROM r GROUP BY user_id ORDER BY user_id""",
    "ts_dow_hour_profile" ->
      """WITH c AS (SELECT CAST(isodow(ts) AS BIGINT) AS dow,
                           CAST(hour(ts) AS BIGINT) AS hour, count(*) AS n
                    FROM events GROUP BY 1, 2)
         SELECT dow, hour, n,
                10000 * n // CAST((SELECT sum(n) FROM c) AS BIGINT) AS share_bp
         FROM c ORDER BY dow, hour""",
    "ts_rolling_active" ->
      s"""WITH ud AS (SELECT DISTINCT user_id,
                            CAST(${Shared.eventDaySql} AS BIGINT) AS day
                     FROM events),
              span AS (SELECT min(day) AS lo, max(day) AS hi FROM ud),
              x AS (SELECT user_id, day + r AS rday
                    FROM ud, (SELECT unnest(range(0, 7)) AS r))
         SELECT rday AS day, count(DISTINCT user_id) AS wau
         FROM x, span WHERE rday BETWEEN lo AND hi
         GROUP BY rday ORDER BY day""",
    "ts_interarrival" ->
      """WITH e AS (SELECT user_id, event_id,
                           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es
                    FROM events),
              g AS (SELECT user_id,
                           es - lag(es) OVER (PARTITION BY user_id
                                              ORDER BY es, event_id) AS gap_s
                    FROM e)
         SELECT user_id, count(*) AS n_gaps, min(gap_s) AS min_s,
                max(gap_s) AS max_s, CAST(sum(gap_s) AS BIGINT) AS total_s,
                CAST(2 * quantile_cont(gap_s, 0.5) AS BIGINT) AS median_2x_s,
                CAST(sum(gap_s) AS BIGINT) // count(*) AS avg_s
         FROM g WHERE gap_s IS NOT NULL
         GROUP BY user_id ORDER BY user_id""",
    "ts_wow_delta" ->
      s"""WITH wk AS (SELECT event_type,
                            ${Shared.eventDaySql} // 7 AS wk,
                            count(*) AS n
                     FROM events GROUP BY 1, 2)
         SELECT event_type, wk, n,
                n - COALESCE(lag(n, 1) OVER (PARTITION BY event_type ORDER BY wk), 0) AS delta
         FROM wk ORDER BY event_type, wk""",
    "ts_cohort_retention" ->
      s"""WITH act AS (SELECT DISTINCT user_id,
                             ${Shared.eventDaySql} // 7 AS wk
                      FROM events),
              coh AS (SELECT user_id, min(wk) AS cohort_wk FROM act GROUP BY user_id),
              m AS (SELECT cohort_wk, wk - cohort_wk AS week_offset,
                           count(DISTINCT a.user_id) AS n_active
                    FROM act a JOIN coh c ON a.user_id = c.user_id
                    GROUP BY 1, 2)
         SELECT cohort_wk, week_offset, n_active,
                CAST(10000 * n_active //
                     (max(CASE WHEN week_offset = 0 THEN n_active END)
                        OVER (PARTITION BY cohort_wk)) AS BIGINT) AS retention_bp
         FROM m ORDER BY cohort_wk, week_offset""",
    // The CASE-to-[-1]/[NULL] lists emulate OUTER unnest; DuckDB's parallel
    // unnests zip positionally (the udtf_generator idiom).
    "reshape_explode_outer" ->
      """WITH a AS (SELECT doc_id,
                           list_filter(string_split(text, ' '), w -> length(w) > 7) AS arr
                    FROM documents)
         SELECT doc_id,
                unnest(CASE WHEN len(arr) = 0 THEN [CAST(-1 AS BIGINT)]
                            ELSE range(len(arr)) END) AS pos,
                unnest(CASE WHEN len(arr) = 0 THEN [CAST(NULL AS VARCHAR)]
                            ELSE arr END) AS w
         FROM a ORDER BY doc_id, pos""",
    "ts_seasonal_index" ->
      """WITH h AS (SELECT event_type,
                           CAST(hour(date_trunc('second', ts)) AS BIGINT) AS hr,
                           count(*) AS n
                    FROM events GROUP BY 1, 2)
         SELECT event_type, hr, n,
                CAST(10000 * 24 * n // (sum(n) OVER (PARTITION BY event_type)) AS BIGINT) AS index_bp
         FROM h ORDER BY event_type, hr""",
    "ts_changepoint_cusum" ->
      s"""WITH ${Shared.eventDailySql(s"${moneySumSql("value")} AS x")},
              sc AS (SELECT event_type, day,
                            count(*) OVER (PARTITION BY event_type)
                              * sum(x) OVER (PARTITION BY event_type ORDER BY day)
                            - row_number() OVER (PARTITION BY event_type ORDER BY day)
                              * sum(x) OVER (PARTITION BY event_type) AS s,
                            count(*) OVER (PARTITION BY event_type) AS n
                     FROM daily)
         SELECT event_type, CAST(day AS BIGINT) AS cp_day, CAST(s AS BIGINT) AS s_at_cp,
                CAST(n AS BIGINT) AS n_days
         FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                            ORDER BY abs(s) DESC, day) AS rn
               FROM sc)
         WHERE rn = 1 ORDER BY event_type""",
    "ts_anomaly_spc" ->
      s"""WITH ${Shared.eventDailySql(s"${moneySumSql("value")} AS x")},
              st AS (SELECT event_type, count(*) AS n, sum(x) AS t,
                            sum(CAST(x AS HUGEINT) * x) AS q
                     FROM daily GROUP BY 1)
         SELECT event_type, CAST(day AS BIGINT) AS day, x AS x_cents,
                CAST(n AS BIGINT) AS n_days
         FROM daily JOIN st USING (event_type)
         WHERE 4 * (n * CAST(x AS HUGEINT) - t) * (n * CAST(x AS HUGEINT) - t)
               > 9 * (n * q - CAST(t AS HUGEINT) * t)
         ORDER BY event_type, day""",
  )
}
