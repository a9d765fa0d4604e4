package graft.ops

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.Norm._
import graft.Tables._
import graft.sources.GraftRangeTable

/** SURVEY.md §2.K — user-defined function surface, public API only.
  *
  * `Aggregator` (public since Spark 3.0) is used for both typed and
  * "imperative sketch-style" UDAFs — no internal TypedImperativeAggregate —
  * and the row-generating UDTF is `Dataset.flatMap`. Scalar UDFs are
  * deliberately the exception in this codebase (everything else is
  * codegen'd built-ins); `udf_scalar` exists to exercise the extension
  * point, with the equivalent CASE expression as its oracle.
  *
  * Scale notes: an `Aggregator` participates in partial aggregation
  * (reduce/merge), so these shuffle one buffer per (partition, key) like any
  * built-in agg. flatMap generators stream per-partition — no state.
  */
object Extensions {
  /** Geometric mean via sum-of-logs: merge-able, constant-size buffer. */
  object GeoMean extends Aggregator[Double, (Double, Long), Double] {
    def zero: (Double, Long) = (0.0, 0L)
    def reduce(b: (Double, Long), x: Double): (Double, Long) = (b._1 + math.log(x), b._2 + 1)
    def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) = (a._1 + b._1, a._2 + b._2)
    def finish(b: (Double, Long)): Double = math.exp(b._1 / b._2)
    def bufferEncoder: Encoder[(Double, Long)] = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Sketch-style packed summary [min, max, count] in one pass. */
  object MinMaxCount extends Aggregator[Double, (Double, Double, Long), (Double, Double, Long)] {
    def zero: (Double, Double, Long) = (Double.MaxValue, Double.MinValue, 0L)
    def reduce(b: (Double, Double, Long), x: Double): (Double, Double, Long) =
      (math.min(b._1, x), math.max(b._2, x), b._3 + 1)
    def merge(a: (Double, Double, Long), b: (Double, Double, Long)): (Double, Double, Long) =
      (math.min(a._1, b._1), math.max(a._2, b._2), a._3 + b._3)
    def finish(b: (Double, Double, Long)): (Double, Double, Long) = b
    def bufferEncoder: Encoder[(Double, Double, Long)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble, Encoders.scalaLong)
    def outputEncoder: Encoder[(Double, Double, Long)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble, Encoders.scalaLong)
  }

  val ops: Map[String, Q] = Map(
    // Typed Dataset pipeline (case-class Encoders end to end): as[T] →
    // typed filter/map → groupByKey → reduceGroups. reduceGroups is a real
    // Aggregate under the hood (partial reduce per partition, merge after
    // the key shuffle — one buffer per (partition, key), same scale shape
    // as a built-in agg; NOT mapGroups, which would buffer whole groups).
    // Money is integer cents BEFORE entering the typed world, so the
    // reduce is exact long addition — order-free.
    "ds_typed_pipeline" -> ((s, d) => {
      val sp = s; import sp.implicits._
      orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          money(col("o_totalprice")).as("cents"))
        .as[(Long, Long, String, Long)]
        .filter(_._3 != "F")
        .map(r => (r._2 % 10, 1L, r._4))
        .groupByKey(_._1)
        .reduceGroups((a, b) => (a._1, a._2 + b._2, a._3 + b._3))
        .map { case (k, (_, n, sum)) => (k, n, sum) }
        .toDF("bucket", "n", "total_cents")
        .orderBy("bucket")
    }),

    // Scala closure UDF: '1-URGENT' → 5 … '5-LOW' → 1, aggregated per status.
    // V2 FunctionCatalog (r11) — catalog-RESOLVED functions, the engine
    // path above session UDFs: the analyzer loads graftmem.graft_tag /
    // graftmem.sum_sq from the catalog plugin and binds them by input
    // schema. graft_tag is a ScalarFunction with the MAGIC method —
    // the plan carries invoke(GraftTagFunction.invoke(id)), a direct
    // (codegen-inlinable) call, not a row-boxed UDF closure. sum_sq is a
    // V2 AggregateFunction — the plan shows partial_v2aggregator /
    // v2aggregator, the SAME partial/final split every built-in agg
    // gets, so it distributes (map-side combine, merge on the reduce
    // side) instead of collecting. At 100 TB that split is the
    // difference between a function and a bottleneck. Both pinned in
    // Round11Suite (magic-dispatch Invoke in the plan, partial/final agg
    // split); oracle re-derives both from DuckDB arithmetic.
    "catalog_v2_function" -> ((s0, _) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.catalog.graftmem", "graft.sources.GraftMemCatalog")
      val rng = s.read.format("graft.sources.GraftRangeSource")
        .option("rows", 50000L).option("slices", 8).load()
      withTempViews(s, "rng_fn" -> rng) { v =>
        s.sql(s"""SELECT graftmem.graft_tag(id) AS tag2, count(*) AS n,
                         graftmem.sum_sq(bucket) AS ssq
                  FROM ${v("rng_fn")} WHERE id >= 1000 AND id < 41000
                  GROUP BY 1 ORDER BY 1""")
      }
    }),

    "udf_scalar" -> ((s, d) => {
      val urgency = udf((p: String) => 6 - p.substring(0, 1).toInt)
      orders(s, d)
        .groupBy("o_orderstatus")
        .agg(d4(avg(urgency(col("o_orderpriority")))).as("avg_urgency"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    }),

    "udaf_aggregator" -> ((s, d) => {
      val geo = udaf(GeoMean)
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(d4(geo(col("l_extendedprice"))).as("geo_price"))
        .orderBy("l_returnflag")
    }),

    "udaf_imperative" -> ((s, d) => {
      val mmc = udaf(MinMaxCount)
      orders(s, d)
        .groupBy("o_orderpriority")
        .agg(mmc(col("o_totalprice")).as("sketch"))
        .select(col("o_orderpriority"),
          money(col("sketch._1")).as("mn"),
          money(col("sketch._2")).as("mx"),
          col("sketch._3").as("n"))
        .orderBy("o_orderpriority")
    }),

    // SQL-defined scalar function (Spark 4 `CREATE FUNCTION … RETURN expr`):
    // unlike udf_scalar's opaque closure, the body is INLINED by the
    // analyzer (ResolveSQLFunctions rewrites each call site to its
    // expression tree), so the plan keeps whole-stage codegen and the
    // optimizer sees through the abstraction — the right way to share
    // business logic at 100 TB. graft_band calling graft_cents also
    // flattens: composition costs nothing at runtime. Inlining (no ScalaUDF
    // node survives) is asserted in Round6Suite. CREATE OR REPLACE is
    // idempotent, so Verify's thread pool re-declaring it is safe.
    "udf_sql_function" -> ((s, d) => {
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_cents(p DOUBLE)
               RETURNS BIGINT
               RETURN CAST(ROUND(CAST(p AS DECIMAL(28,10)), 2) * 100 AS BIGINT)""")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_band(p DOUBLE)
               RETURNS STRING
               RETURN CASE WHEN graft_cents(p) < 5000000 THEN 'low'
                           WHEN graft_cents(p) < 15000000 THEN 'mid'
                           ELSE 'high' END""")
      orders(s, d)
        .select(expr("graft_band(o_totalprice)").as("band"),
          expr("graft_cents(o_totalprice)").as("cents"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .orderBy("band")
    }),

    // Row-exploding generator: char-3-gram shingles with 0-based position.
    "udtf_generator" -> ((s, d) => {
      val sp = s
      import sp.implicits._
      documents(s, d).filter(col("doc_id") < 5)
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          text.sliding(3).filter(_.length == 3).zipWithIndex.map { case (sh, i) => (id, i, sh) }
        }
        .toDF("doc_id", "pos", "shingle")
        .orderBy("doc_id", "pos")
    }),
  )

  val oracle: Map[String, String] = Map(
    "catalog_v2_function" ->
      s"""WITH t AS (SELECT id, bucket, tag AS tag2 FROM (${GraftRangeTable.sql(50000)}))
         SELECT tag2, count(*) AS n, CAST(sum(bucket * bucket) AS BIGINT) AS ssq
         FROM t WHERE id >= 1000 AND id < 41000
         GROUP BY tag2 ORDER BY tag2""",

    "ds_typed_pipeline" ->
      s"""SELECT o_custkey % 10 AS bucket, count(*) AS n,
                 CAST(sum(${moneySql("o_totalprice")}) AS BIGINT) AS total_cents
          FROM orders WHERE o_orderstatus <> 'F'
          GROUP BY 1 ORDER BY 1""",
    "udf_scalar" ->
      s"""SELECT o_orderstatus,
          ${d4Sql("avg(CASE substring(o_orderpriority, 1, 1) WHEN '1' THEN 5 WHEN '2' THEN 4 WHEN '3' THEN 3 WHEN '4' THEN 2 ELSE 1 END)")} AS avg_urgency,
          count(*) AS n
          FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "udaf_aggregator" ->
      s"""SELECT l_returnflag, ${d4Sql("exp(avg(ln(l_extendedprice)))")} AS geo_price
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "udaf_imperative" ->
      s"""SELECT o_orderpriority, ${moneySql("min(o_totalprice)")} AS mn,
          ${moneySql("max(o_totalprice)")} AS mx, count(*) AS n
          FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // The oracle is the hand-inlined body — exactly what Catalyst's rewrite
    // produces, so the parity check doubles as an inlining-semantics check.
    "udf_sql_function" ->
      """WITH t AS (SELECT CAST(ROUND(CAST(o_totalprice AS DECIMAL(28,10)), 2) * 100 AS BIGINT) AS cents
                    FROM orders)
         SELECT CASE WHEN cents < 5000000 THEN 'low'
                     WHEN cents < 15000000 THEN 'mid'
                     ELSE 'high' END AS band,
                count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM t GROUP BY band ORDER BY band""",
    "udtf_generator" ->
      """SELECT doc_id, unnest(range(length(text) - 2)) AS pos,
                unnest(list_transform(range(1, length(text) - 1), i -> substring(text, i, 3))) AS shingle
         FROM documents WHERE doc_id < 5 ORDER BY doc_id, pos""",
  )
}
