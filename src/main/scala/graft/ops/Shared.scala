package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gates
import graft.Norm.{money, moneySum, moneySumSql}
import graft.Tables._

/** Parking lot for DataFrames an op must `persist()` but cannot itself
  * release (the returned plan stays a cache consumer until the entrypoint's
  * action runs). Entrypoints call `release()` in teardown so the cached
  * blocks don't outlive their last consumer (r6 advice on
  * `util_cache_reuse`). Unpersisting one handle releases the CacheManager
  * entry shared by every same-plan DataFrame, so last-put-wins is enough.
  */
private[graft] object CacheReuse {
  private val parked = new ConcurrentHashMap[Long, DataFrame]
  def park(df: DataFrame): Unit = { parked.put(df.queryExecution.logical.semanticHash().toLong, df); () }
  def release(): Unit = {
    parked.values.forEach(df => { df.unpersist(false); () })
    parked.clear()
  }
}

/** Derivations shared by several declared ops: one Spark builder each,
  * with its DuckDB twin for the oracles beside it. */
private[graft] object Shared {
  import org.apache.spark.sql.expressions.Window

  // The two-phase bucketed shape. A running sum along a corpus-sized order,
  // or a percentile of a few groups, is naively one window partitioned by
  // the group: a few-group window sorts the corpus on a few tasks. Instead
  // each row gets a bucket that never decreases along the order. Phase 1
  // ([[bucketSums]]) sums each (group, bucket) and runs the group's offsets
  // over that |groups|×|buckets|-row frame, the only window whose
  // partitions are the groups. The frame broadcasts back, and phase 2 is a
  // window inside each (group, bucket), bounded by the bucket, not by the
  // corpus. The order is unique within a group, so the in-bucket sums are
  // deterministic.

  /** The value bucket of integral `v`: at most 100,000 distinct values
    * ($1000 of cents) per bucket. `div` truncates toward zero, so bucket 0
    * spans (−100000, 100000) and the bucket still never decreases along v. */
  def valueBucket(v: String): String = s"$v div 100000"

  /** Phase 1 over `framed` (which carries `__bkt`): one row per (group,
    * bucket) with the i-th value's bucket sum `__s<i>` and the sum `__b<i>`
    * of the group's earlier buckets; with `total`, also the group total of
    * the first value, `__tot`. */
  private def bucketSums(framed: DataFrame, grp: Seq[String], vals: Seq[Column],
                         total: Boolean): DataFrame = {
    val group = Window.partitionBy(grp.map(col): _*)
    val earlier = group.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    val sums = vals.zipWithIndex.map { case (v, i) => sum(v).as(s"__s$i") }
    val offs = framed.groupBy((grp :+ "__bkt").map(col): _*).agg(sums.head, sums.tail: _*)
      .select(col("*") +: vals.indices.map(i =>
        coalesce(sum(s"__s$i").over(earlier), lit(0L)).as(s"__b$i")): _*)
    if (total) offs.withColumn("__tot", sum("__s0").over(group)) else offs
  }

  /** Exclusive running sums along `order` within each `grp` group of `df`:
    * for each (value, name) of `sums`, column `name` is the sum of the value
    * over the group's earlier rows. `bucket` never decreases along `order`,
    * and `order` is unique within a group. With `total`, the group total of
    * the first value is added under that name. Returns `df`'s columns, then
    * the sums, then the total. */
  def bucketedPrefix(df: DataFrame, grp: Seq[String], bucket: Column, order: Seq[Column],
                     sums: Seq[(Column, String)], total: Option[String] = None): DataFrame = {
    val framed = df.withColumn("__bkt", bucket)
    val offs = bucketSums(framed, grp, sums.map(_._1), total.isDefined)
    val earlier = Window.partitionBy((grp :+ "__bkt").map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val named = sums.zipWithIndex.map { case ((v, name), i) =>
      (col(s"__b$i") + coalesce(sum(v).over(earlier), lit(0L))).as(name)
    }
    framed.join(broadcast(offs), grp :+ "__bkt")
      .select(df.columns.toSeq.map(col) ++ named ++ total.map(col("__tot").as(_)): _*)
  }

  /** Exact percentile_disc of one or more cuts over a (grp, v: integral,
    * w: non-negative weight) histogram: for cut (num, den, name), with
    * 0 < num/den ≤ 1, the smallest v whose cumulative weight reaches
    * num/den of the group total, tested as den·cum ≥ num·total in
    * integers. Phase 1 finds each cut's crossing bucket, the first whose
    * running sum reaches the cut; phase 2 sums weights inside the crossing
    * buckets only, and one aggregation takes every cut's minimum. Returns
    * one row per group: grp, one column per cut name, and with `total` the
    * group's total weight under that name. */
  def bucketedPdiscMulti(hist: DataFrame, grp: String, v: String, w: String,
                         cuts: Seq[(Int, Int, String)], total: Option[String] = None): DataFrame = {
    val framed = hist.select(col(grp), col(v), col(w)).withColumn("__bkt", expr(valueBucket(v)))
    val fracs = array(cuts.map { case (n, dn, name) =>
      struct(lit(n).as("__num"), lit(dn).as("__den"), lit(name).as("__cut"))
    }: _*)
    def reached(cum: Column): Column = cum * col("__den") >= col("__tot") * col("__num")
    val crossing = bucketSums(framed, Seq(grp), Seq(col(w)), total = true)
      .withColumn("__f", explode(fracs))
      .select(col(grp), col("__bkt"), col("__s0"), col("__b0"), col("__tot"), col("__f.*"))
      .filter(reached(col("__b0") + col("__s0")) && !reached(col("__b0")))
      .drop("__s0")
    val picks = cuts.map { case (_, _, name) => min(when(col("__cut") === name, col(v))).as(name) } ++
      total.map(max("__tot").as(_))
    framed.join(broadcast(crossing), Seq(grp, "__bkt"))
      .withColumn("__cin", sum(w).over(Window.partitionBy(grp, "__cut", "__bkt").orderBy(v)))
      .filter(reached(col("__b0") + col("__cin")))
      .groupBy(grp)
      .agg(picks.head, picks.tail: _*)
  }

  /** One-cut [[bucketedPdiscMulti]]: (grp, out = the num/den percentile). */
  def bucketedPdisc(hist: DataFrame, grp: String, v: String, w: String,
                    num: Int, den: Int, out: String): DataFrame =
    bucketedPdiscMulti(hist, grp, v, w, Seq((num, den, out)))

  /** (l_returnflag, cents, w = row count) histogram of lineitem prices,
    * the value-bounded input of the percentile and census ops. Spread by
    * the histogram key after the narrow projection, so where
    * [[Gates.spreadBy]] fires one 2-column exchange serves both the scan
    * spread and the groupBy. Every call returns a fresh lazy
    * localCheckpoint: each consumer plan reads its collapse once however
    * many subtrees use it. */
  def centsHist(s: SparkSession, d: String): DataFrame =
    Gates.spreadBy(s, d, "lineitem",
        lineitem(s, d).select(col("l_returnflag"), money(col("l_extendedprice")).as("cents")),
        Seq("l_returnflag", "cents"))
      .groupBy("l_returnflag", "cents").agg(count(lit(1)).as("w"))
      .localCheckpoint(false)

  // Day indexes (SURVEY §1.4): every timestamp reduces to whole days since
  // a fixed epoch, so both engines hash the same integers. Events count
  // from EventEpoch after truncating `ts` to the second, TPC-H dates from
  // TpchEpoch. The indexes are INT expression text; each call site keeps
  // its own CAST AS BIGINT and week or month division around them.
  val EventEpoch = "2024-01-01"
  val TpchEpoch = "1995-01-01"

  /** Days from [[EventEpoch]] to the event's `ts`. */
  val eventDay: String =
    s"datediff(CAST(date_trunc('day', date_trunc('second', ts)) AS DATE), DATE'$EventEpoch')"

  /** DuckDB twin of [[eventDay]]. */
  val eventDaySql: String =
    s"date_diff('day', DATE '$EventEpoch', CAST(date_trunc('day', ts) AS DATE))"

  /** Days from [[TpchEpoch]] to the date column `c`. */
  def tpchDay(c: String): String = s"datediff(CAST($c AS DATE), DATE'$TpchEpoch')"

  /** DuckDB twin of [[tpchDay]]. */
  def tpchDaySql(c: String): String = s"date_diff('day', DATE '$TpchEpoch', CAST($c AS DATE))"

  /** The (event_type, day: BIGINT [[eventDay]]) grid of the events with
    * one `measure` per cell. */
  def eventDaily(s: SparkSession, d: String, measure: Column): DataFrame =
    events(s, d).withColumn("day", expr(s"CAST($eventDay AS BIGINT)"))
      .groupBy("event_type", "day").agg(measure)

  /** DuckDB twin of [[eventDaily]]: the CTE `daily`, with the select-list
    * item `measure`. */
  def eventDailySql(measure: String): String =
    s"""daily AS (SELECT event_type, $eventDaySql AS day, $measure
                  FROM events GROUP BY 1, 2)"""

  /** Exact order revenue per (seg = the customer's market segment, `key`),
    * in cents as `rev`. The customer dimension broadcasts under
    * [[Gates.DimCap]]. */
  def segRevenue(s: SparkSession, d: String, key: Column, rev: String): DataFrame =
    orders(s, d)
      .join(Gates.broadcastUnder(customer(s, d).select("c_custkey", "c_mktsegment"),
        Gates.bytes(s, d, "customer"), Gates.DimCap),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"), key)
      .agg(moneySum(col("o_totalprice")).as(rev))

  /** DuckDB twin of [[segRevenue]]: a SELECT over the select-list item
    * `key`. */
  def segRevenueSql(key: String, rev: String): String =
    s"""SELECT c_mktsegment AS seg, $key, ${moneySumSql("o_totalprice")} AS $rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2"""

  /** The `llm_text_quality` composite 0.5·min(n/50, 1) + 0.3·(1 − st/n)
    * + 0.2·(1 − np/len) in integer basis points, exactly, over the columns
    * n (tokens), st (stopword tokens), np (non-alphanumeric chars) and len
    * (chars); `divOp` is `div` (Spark) or `//` (DuckDB). */
  def qualityBp(divOp: String): String =
    s"(100 * (least(n, 50) * n * len + 30 * (n - st) * len + 20 * (len - np) * n)) $divOp (n * len)"

  /** The columns [[qualityBp]] reads, over a frame with `text`. */
  def qualityFeatures: Seq[Column] = Seq(
    size(split(col("text"), " ")).cast("long").as("n"),
    expr("size(filter(split(text, ' '), t -> t IN ('the', 'a')))").cast("long").as("st"),
    length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("long").as("np"),
    length(col("text")).cast("long").as("len"))

  /** DuckDB twin of [[qualityFeatures]]: a select-list fragment over `text`. */
  val qualityFeaturesSql: String =
    """CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
       CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS BIGINT) AS st,
       CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS BIGINT) AS np,
       CAST(length(text) AS BIGINT) AS len"""

  /** The word n-grams of the token-array column `t`: each run of n
    * consecutive tokens joined by single spaces, in order, max(size − n + 1, 0)
    * of them. Total: the greatest(…, 0) guard makes an array shorter than
    * n yield no gram, where a negative slice length would fail the stage.
    * `t` must be a materialized column, not `split(text)`: indexing a split
    * inside the lambda re-splits per element access, O(len²) per doc. No
    * sub-array is allocated per gram, and `concat` of the indexed tokens
    * evaluates faster than `concat_ws` or a per-gram slice. */
  def wordGrams(t: String, n: Int): Column = {
    val rest = (1 until n).map(k => s", ' ', $t[i + $k]").mkString
    expr(s"transform(slice($t, 1, greatest(size($t) - ${n - 1}, 0)), (x, i) -> concat(x$rest))")
  }

  /** DuckDB twin of [[wordGrams]] over the list `t`; `n` is any integer
    * expression, a column too. It is just as total: `range` is end-exclusive,
    * so it is empty when len(t) < n. DuckDB list slices are 1-based and
    * end-inclusive, so t[i:i + n - 1] holds n tokens. */
  def wordGramsSql(t: String, n: String): String =
    s"list_transform(range(1, len($t) - $n + 2), i -> array_to_string($t[i:i + $n - 1], ' '))"

  // (l_orderkey, l_linenumber) is not unique in the synthetic data, so row
  // slices over lineitem sort on this 4-column key, verified unique at sf0.1.
  private val LineitemKey = Seq("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")

  /** The first 50 lineitem rows in [[LineitemKey]] order. */
  def lineitemSlice(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).orderBy(LineitemKey.map(col): _*).limit(50)

  /** DuckDB twin of [[lineitemSlice]]: the clause after `FROM lineitem`. */
  val lineitemSliceSql: String = s"ORDER BY ${LineitemKey.mkString(", ")} LIMIT 50"

  /** Process-lifetime memos of the expensive frames SHARED by several declared
    * ops: the exact word-Jaccard near-dup pair set (`llm_dedup_near`,
    * `llm_dedup_clusters`, `llm_dedup_keep_best`), its connected-component
    * labels (`llm_dedup_clusters`, `llm_dedup_keep_best`), and the normed
    * double-vector frame (every `llm_sim_*` / `llm_dedup_embed` op).
    *
    * Each value is an EAGER `localCheckpoint`: computed once per
    * (SparkContext, sfDir), held as materialized executor blocks, and every
    * consumer plan starts from the scan-free checkpoint. Before this memo the
    * clusters/keep_best/near trio re-derived the same quadratic-output pair
    * computation three times per process (~11.5 s of the r4 bench), and the
    * ANN ops rebuilt the vector subtree 4× inside one plan.
    *
    * At 100 TB this is exactly the "stage result reuse" a production pipeline
    * gets from persisting the dedup pair table once and feeding all downstream
    * consumers from it — the memo makes the declared ops behave like that
    * pipeline while each op stays individually callable (SCALE_TUNING.md,
    * "Shared memo checkpoints").
    */
  private val pairsMemo, labelsMemo, vecsMemo = new graft.Memo[(String, String), DataFrame]

  /** The (applicationId, sfDir) key of the frame memos. */
  private[ops] def memoKey(s: SparkSession, d: String): (String, String) =
    (s.sparkContext.applicationId, d)

  /** Distinct word-token sets per document, sorted so exact verification
    * hits IntersectSize's O(n+m) two-pointer path (cheap; not memoized). */
  def tokenSets(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"),
      sort_array(array_distinct(split(col("text"), " "))).as("toks"))

  /** Exact Jaccard ≥ 4/5 word near-dup pairs (doc_a, doc_b, jaccard_bp),
    * UNORDERED — consumers that need the total order sort the checkpointed
    * frame (a sort of the pair set, paid only where declared). */
  def wordPairs(s: SparkSession, d: String): DataFrame =
    pairsMemo(memoKey(s, d)) {
      // AQE coalesces by bytes and the pair set is byte-light but
      // row-heavy, so without the doc_a hash repartition every consumer's
      // first stage over the checkpoint runs as one task; doc_a is also
      // the key most consumers join or sort on.
      LlmPipeline.nearDupPairs(tokenSets(s, d), sorted = false)
        .repartition(s.sparkContext.defaultParallelism, col("doc_a"))
        .localCheckpoint(true)
    }

  /** (doc_id, cluster_rep) connected-component labels of the word near-dup
    * pair graph, for every document. */
  def ccLabels(s: SparkSession, d: String): DataFrame =
    labelsMemo(memoKey(s, d)) {
      graft.Scale.connectedComponents(
        documents(s, d).select("doc_id"), wordPairs(s, d).select("doc_a", "doc_b"))
        .localCheckpoint(true)
    }

  /** DuckDB twin of [[LlmPipeline.nearDupPairs]]: CTE definitions ending
    * in `out`(doc_a, doc_b, jaccard_bp), the pairs of `src`(doc_id, toks:
    * distinct tokens) with exact Jaccard ≥ num/den. The threshold is tested
    * as den·|A∩B| ≥ num·|A∪B| and the size-ratio join condition (J ≥ num/den
    * forces den·min ≥ num·max) only prunes. Helper CTEs are named `out_*`,
    * so they cannot clash with the caller's. */
  def jaccardPairsSql(out: String, src: String, num: Int, den: Int): String =
    s"""${out}_cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.toks AS ta, b.toks AS tb
                        FROM $src a JOIN $src b ON a.doc_id < b.doc_id
                         AND len(a.toks) * $den >= len(b.toks) * $num
                         AND len(b.toks) * $den >= len(a.toks) * $num),
        ${out}_v AS (SELECT doc_a, doc_b, len(list_intersect(ta, tb)) AS inter,
                            len(ta) + len(tb) AS stot
                     FROM ${out}_cand),
        $out AS (SELECT doc_a, doc_b, (CAST(inter AS BIGINT) * 10000) // (stot - inter) AS jaccard_bp
                 FROM ${out}_v WHERE inter * $den >= (stot - inter) * $num)"""

  /** DuckDB twin of [[wordPairs]] (and, with other thresholds or a
    * document slice `docs`, of [[LlmPipeline.nearDupPairs]] over
    * [[tokenSets]]): the word-token sets as `out_t`, then their
    * [[jaccardPairsSql]] pairs as `out`. */
  def wordPairsSql(out: String, num: Int = 4, den: Int = 5, docs: String = "documents"): String =
    s"""${out}_t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM $docs),
        ${jaccardPairsSql(out, s"${out}_t", num, den)}"""

  /** DuckDB twin of [[ccLabels]]: CTE definitions ending in
    * `out`(doc_id, cluster_rep) for every document, over the (doc_a, doc_b)
    * relation `pairs`. Each label r propagates along edges only onto larger
    * ids (the component minimum still reaches every member), and min(r)
    * per node is its representative. The caller's WITH must be RECURSIVE. */
  def ccLabelsSql(out: String, pairs: String): String =
    s"""${out}_e AS (SELECT doc_a AS a, doc_b AS b FROM $pairs
                     UNION ALL SELECT doc_b, doc_a FROM $pairs),
        ${out}_reach(id, r) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.a, reach.r FROM ${out}_reach reach JOIN ${out}_e e ON e.b = reach.id
          WHERE reach.r < e.a),
        $out AS (SELECT id AS doc_id, min(r) AS cluster_rep FROM ${out}_reach GROUP BY id)"""

  /** Embeddings as (vec_id, v: array<double>, nrm) with the norm through the
    * codegen `graft_dot` (index-order accumulation, bit-identical to the
    * declarative `aggregate` fold the oracle mirrors). */
  def vecs(s: SparkSession, d: String): DataFrame =
    vecsMemo(memoKey(s, d)) {
      embeddings(s, d).select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
        .localCheckpoint(true)
    }

  /** DuckDB twin of the cosine over [[vecs]], operation for operation in
    * double precision (DuckDB's own list_cosine_similarity accumulates in
    * float and drifts ~1e-7). */
  def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"""

  /** Memo-honest bench accounting (r9 VERDICT #2): every process-lifetime
    * memo, forced DETERMINISTICALLY in one place with its build time
    * reported, so no per-op bench line ever absorbs a memo build just
    * because scheduling made that op the first consumer. `Bench` calls
    * this before its warmup pass and emits each build as a separate
    * `memo:<name>` timing in BENCH_FULL_latest.json — the per-op lines are
    * then pure plan cost and reproducible run over run. Calling a getter
    * builds its memo; a second call is a hit. */
  def forceMemos(s: SparkSession, d: String): Seq[(String, Double)] = {
    val builders: Seq[(String, () => Unit)] = Seq(
      "shared.word_pairs" -> (() => { wordPairs(s, d); () }),
      "shared.cc_labels"  -> (() => { ccLabels(s, d); () }),
      "shared.vecs"       -> (() => { vecs(s, d); () }),
      "bpe.trained"       -> (() => LlmCuration.forceBpeMemo(s, d)))
    builders.map { case (n, f) =>
      val t0 = System.nanoTime()
      // A memo that cannot build (e.g. memory pressure at an extreme SF)
      // must not kill the whole bench — record it as -1 and move on; its
      // consumers will retry the build inside their own timed run.
      try {
        f()
        n -> (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] memo:$n FAILED (consumers will rebuild): ${e.toString.take(300)}")
        n -> -1.0
      }
    }
  }
}
