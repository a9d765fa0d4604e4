package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Norm._

/** SURVEY.md §2.N — SQL subquery & CTE surface (round-5 continuation).
  *
  * The capability under test is Catalyst DECORRELATION, so each op is
  * declared as SQL text and planned by Catalyst rather than hand-lowered:
  * uncorrelated IN → left semi join, NOT EXISTS → left anti join, a
  * correlated scalar COUNT → aggregate + outer join with the COUNT-bug
  * null→0 patch, scalar aggregates → one-row broadcast subquery reuse.
  * The physical plans are therefore exactly the §2.C join shapes
  * (broadcast- or shuffle-hash), never a per-outer-row re-execution of the
  * inner query — asserted by the plan audit in CurationSuite.
  *
  * Each SQL body is single-sourced in the ANSI subset both engines parse:
  * the Spark side binds `@table` markers to per-invocation temp views
  * (Verify dumps from a thread pool — same pattern as agg_rollup), and the
  * DuckDB oracle receives the identical text with the markers stripped.
  * Numeric outputs follow the Norm doctrine: integer cents via moneySql /
  * moneySumSql; the scalar-average threshold is the exact cross-multiply
  * `price_cents · n > total_cents` so no double division is compared.
  */
object Subqueries {
  /** Analyze `sql` with each `@tbl` marker bound to a temp view of
    * `<d>/<tbl>.parquet`. Whole-marker replacement (word boundary), so one
    * table name being a prefix of another can never corrupt the SQL. */
  private def viaSql(s: SparkSession, d: String, sql: String, tables: String*): DataFrame =
    withTempViews(s, tables.map(t => t -> graft.Tables.t(s, d, t)): _*) { views =>
      s.sql(views.foldLeft(sql) { case (q, (t, vn)) => q.replaceAll(s"@$t\\b", vn) })
    }

  /** Oracle text = the same body with each whole `@table` marker stripped
    * to its bare name (a literal '@' elsewhere in the SQL is untouched). */
  private def stripMarkers(sql: String): String = sql.replaceAll("@(\\w+)", "$1")

  // Orders priced above the corpus mean. The mean compare is exact integer
  // cross-multiply (cents·n > Σcents); the two scalar subqueries plan as
  // one-row broadcast joins over a single shared scan of orders.
  private val SUB_SCALAR =
    s"""SELECT o_orderkey, ${moneySql("o_totalprice")} AS price_c
        FROM @orders
        WHERE ${moneySql("o_totalprice")} * (SELECT count(*) FROM @orders)
              > (SELECT ${moneySumSql("o_totalprice")} FROM @orders)
        ORDER BY o_orderkey LIMIT 100"""

  // Uncorrelated IN — decorrelates to a left semi join on c_custkey.
  private val SUB_IN =
    """SELECT c_custkey, c_name FROM @customer
       WHERE c_custkey IN (SELECT o_custkey FROM @orders WHERE o_totalprice > 300000)
       ORDER BY c_custkey"""

  // Correlated EXISTS — left semi join with the extra inner predicate
  // pushed below the join (qty ≥ 49 prunes lineitem before the shuffle).
  private val SUB_EXISTS =
    """SELECT o_orderkey, o_orderpriority FROM @orders o
       WHERE EXISTS (SELECT 1 FROM @lineitem l
                     WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
       ORDER BY o_orderkey"""

  // Correlated NOT EXISTS — left anti join. The inner predicate keeps the
  // result non-empty at every scale factor (every fixture customer has
  // SOME order, but 1-URGENT coverage has holes: 18 rows at sf0.001).
  private val SUB_NOT_EXISTS =
    """SELECT c_custkey, c_mktsegment FROM @customer c
       WHERE NOT EXISTS (SELECT 1 FROM @orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_orderpriority = '1-URGENT')
       ORDER BY c_custkey"""

  // Correlated scalar COUNT — the classic COUNT-bug shape: orders with no
  // qualifying lineitem must read 0, not NULL, which forces the decorrelated
  // plan to patch the outer join's misses after the aggregate.
  private val SUB_SCALAR_CORR =
    """SELECT o_orderkey,
              (SELECT count(*) FROM @lineitem l
               WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 25) AS n_big_items
       FROM @orders o
       ORDER BY o_orderkey LIMIT 200"""

  // Correlated LATERAL derived table with ORDER BY + LIMIT — top-2
  // lineitems per order. Spark decorrelates the per-order LIMIT into
  // WindowGroupLimit (partial map-side top-k, then final after the
  // l_orderkey shuffle) + one equi-join — the scalable lowering of a
  // per-outer-row subquery. Output columns are deterministic even when the
  // top-2 boundary ties: tied rows agree on every projected column, and
  // the outer ORDER BY carries all three output columns.
  private val SUB_LATERAL =
    """SELECT o.o_orderkey, t.l_linenumber, t.l_quantity
       FROM @orders o, LATERAL (
         SELECT l_linenumber, CAST(l_quantity AS BIGINT) AS l_quantity
         FROM @lineitem l WHERE l.l_orderkey = o.o_orderkey
         ORDER BY l_quantity DESC, l_linenumber LIMIT 2) t
       ORDER BY o.o_orderkey, t.l_linenumber, t.l_quantity LIMIT 500"""

  // Chained CTEs (stats reads per_cust). Deliberately NOT the
  // "one CTE referenced N times" shape: Spark inlines deterministic CTEs
  // into every reference, so a multi-referenced aggregate CTE re-plans per
  // reference (verified on the scalar-subquery variant of this query — 4
  // full orders scans); the chain keeps the whole thing one scan + one
  // aggregation pipeline, which is the plan a user should want.
  private val SUB_CTE_CHAIN =
    s"""WITH per_cust AS (
          SELECT o_custkey, count(*) AS n_orders,
                 ${moneySumSql("o_totalprice")} AS total_c
          FROM @orders GROUP BY o_custkey),
        stats AS (
          SELECT max(n_orders) AS max_orders, min(n_orders) AS min_orders,
                 max(total_c) AS max_total_c, count(*) AS n_cust
          FROM per_cust)
        SELECT max_orders, min_orders, max_total_c, n_cust FROM stats"""

  // NOT IN over a nullable outer key — the NULL-AWARE anti join, a genuinely
  // different operator from NOT EXISTS' plain anti join: three-valued logic
  // drops outer rows whose key is NULL (their membership is unknown), and if
  // the subquery list were empty every row (even NULL-keyed) survives. Spark
  // plans the single-column form as BroadcastHashJoin LeftAnti with
  // isNullAwareAntiJoin=true — the build side MUST broadcast (a null-aware
  // shuffle join can't partition the NULL matches), which is exactly the
  // "NOT IN wants a small list" rule a 100 TB user must know.
  private val SUB_NOT_IN_NULL =
    """SELECT o_orderkey, o_orderstatus
       FROM @orders
       WHERE (CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END)
             NOT IN (SELECT c_custkey FROM @customer WHERE c_acctbal < -500)
       ORDER BY o_orderkey LIMIT 300"""

  // WITH RECURSIVE (Spark 4's recursive CTE — iteration expressed IN SQL):
  // walk the implicit binary-tree hierarchy parent(k) = ⌊k/2⌋ rooted at
  // custkey 0 and report the population per depth. FLOOR(k / 2.0) instead
  // of integer division because `div` vs `//` is the one dialect split the
  // single-sourced text must avoid (k ≥ 0 so floor-of-double is exact).
  // Recursion depth is ⌈log2(maxkey)⌉ ≈ 11-14 per sf — far under Spark's
  // 100-level default limit, and each level is one self-join of the
  // frontier against customer (the same plan a driver-side loop would
  // build, minus the driver round-trips).
  private val SUB_RECURSIVE_CTE =
    """WITH RECURSIVE tree(k, depth) AS (
         SELECT CAST(0 AS BIGINT) AS k, CAST(1 AS BIGINT) AS depth
         UNION ALL
         SELECT c.c_custkey, t.depth + 1
         FROM @customer c JOIN tree t
           ON CAST(FLOOR(c.c_custkey / 2.0) AS BIGINT) = t.k
         WHERE c.c_custkey > 0
       )
       SELECT depth, count(*) AS n_nodes, min(k) AS min_key, max(k) AS max_key
       FROM tree GROUP BY depth ORDER BY depth"""

  // Spark 4 SQL PIPE syntax (|> operators — the linear query-flow surface).
  // NOT single-sourced: DuckDB has no pipe parser, so this one op carries a
  // separate ANSI oracle; the RESULT is dialect-free, only the spelling
  // differs. Pipe AGGREGATE emits grouping keys then aggregates; the
  // driver's name-keyed compare is column-order-insensitive anyway.
  private val SUB_PIPE =
    s"""FROM @orders
        |> WHERE o_orderstatus <> 'F'
        |> AGGREGATE count(*) AS n, ${moneySumSql("o_totalprice")} AS rev
           GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority"""

  private val SUB_PIPE_ORACLE =
    s"""SELECT o_orderpriority, count(*) AS n, ${moneySumSql("o_totalprice")} AS rev
        FROM orders WHERE o_orderstatus <> 'F'
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // Parameterized SQL (Spark 4 named-parameter binding): the text carries
  // `:min_cents` / `:hot1` / `:hot2` placeholders and the values arrive
  // out-of-band — the surface that lets a dashboard re-issue one query text
  // across parameter values (and that ends string-splicing injection).
  // Parameters bind literals only (not table names), so the table still
  // goes through the @marker temp view. The oracle is the same text with
  // the three parameters inlined as literals.
  private val SUB_PARAM =
    s"""SELECT o_orderpriority, count(*) AS n
       FROM @orders
       WHERE ${moneySql("o_totalprice")} > :min_cents
         AND o_orderpriority IN (:hot1, :hot2)
       GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // Inline VALUES table constructor: the literal dimension lives in the
  // query text itself (priority → weight), joins as a broadcast of a 3-row
  // relation — the "small lookup without a table" surface every report
  // query uses. Single-sourced ANSI: both engines parse
  // (VALUES …) AS w(prio, wt).
  private val SUB_VALUES =
    s"""SELECT w.wt AS weight_class, count(*) AS n,
               ${moneySumSql("o.o_totalprice")} AS rev
        FROM @orders o
        JOIN (VALUES ('1-URGENT', 3), ('2-HIGH', 2), ('3-MEDIUM', 1)) AS w(prio, wt)
          ON o.o_orderpriority = w.prio
        GROUP BY w.wt ORDER BY w.wt"""

  // EXISTS under a disjunction — the one subquery position a semi join
  // CANNOT express (a semi join drops non-matching rows, but here a
  // non-matching row may still pass via the other disjunct). Catalyst
  // plans the ExistenceJoin variant: a join that ADDS a boolean
  // exists#… column, consumed by the OR filter above it — still one
  // hash join on l_orderkey, never a per-row re-execution of the inner
  // query. Plan shape asserted in Round6Suite.
  private val SUB_EXISTS_OR =
    """SELECT o_orderkey, o_orderstatus FROM @orders o
       WHERE o_totalprice > 400000
          OR EXISTS (SELECT 1 FROM @lineitem l
                     WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 50)
       ORDER BY o_orderkey"""

  // Multi-column IN — the struct-key membership test `(a, b) IN (SELECT
  // x, y …)`: decorrelates to a left semi join on BOTH columns at once
  // (one shuffle on the composite key — not two nested single-column
  // semis). Keys here: (custkey, orderstatus) pairs that ever placed an
  // urgent order.
  private val SUB_IN_MULTICOL =
    """SELECT o_orderkey, o_custkey, o_orderstatus FROM @orders
       WHERE (o_custkey, o_orderstatus) IN
             (SELECT o_custkey, o_orderstatus FROM @orders
              WHERE o_orderpriority = '1-URGENT')
         AND o_orderpriority = '5-LOW'
       ORDER BY o_orderkey LIMIT 200"""

  // Quantified ALL comparison — customers whose EVERY order totals at least
  // $50k (vacuously including customers with no orders, per ALL-over-empty
  // = true). Spark has no `<= ALL (subq)` surface, so the declared Spark
  // query IS the standard lowering: `x <= ALL S ≡ NOT EXISTS (s ∈ S with
  // s < x)` — identical three-valued logic here because o_totalprice is
  // non-null (a NULL element would make ALL unknown but NOT EXISTS true).
  // DuckDB runs the NATIVE quantified form, so the hash-match PROVES the
  // lowering, not just the plan. Plans as a left anti join (the
  // sub_not_exists shape): one broadcast/shuffle-hash anti join, no
  // per-outer-row re-execution.
  private val SUB_ALL_SPARK =
    s"""SELECT c_custkey, c_mktsegment FROM @customer c
        WHERE NOT EXISTS (SELECT 1 FROM @orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND ${moneySql("o_totalprice")} < 5000000)
        ORDER BY c_custkey"""
  private val SUB_ALL_ORACLE =
    s"""SELECT c_custkey, c_mktsegment FROM customer c
        WHERE 5000000 <= ALL (SELECT ${moneySql("o_totalprice")}
                              FROM orders o WHERE o.o_custkey = c.c_custkey)
        ORDER BY c_custkey"""

  // Quantified ANY — the existential dual: customers with AT LEAST ONE
  // order under $5k (x >= ANY S ≡ EXISTS (s ∈ S with s <= x); empty S →
  // false — exactly EXISTS semantics, no vacuous-truth subtlety this
  // time). Spark runs the EXISTS lowering (one semi join), DuckDB the
  // native `>= ANY` form; together with sub_quantified_all the pair pins
  // both quantifier polarities against native quantified evaluation.
  private val SUB_ANY_SPARK =
    s"""SELECT c_custkey, c_mktsegment FROM @customer c
        WHERE EXISTS (SELECT 1 FROM @orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND ${moneySql("o_totalprice")} <= 500000)
        ORDER BY c_custkey"""
  private val SUB_ANY_ORACLE =
    s"""SELECT c_custkey, c_mktsegment FROM customer c
        WHERE 500000 >= ANY (SELECT ${moneySql("o_totalprice")}
                             FROM orders o WHERE o.o_custkey = c.c_custkey)
        ORDER BY c_custkey"""

  val ops: Map[String, Q] = Map(
    "sub_quantified_all" -> ((s, d) => viaSql(s, d, SUB_ALL_SPARK, "customer", "orders")),
    "sub_quantified_any" -> ((s, d) => viaSql(s, d, SUB_ANY_SPARK, "customer", "orders")),
    "sub_in_multicol" -> ((s, d) => viaSql(s, d, SUB_IN_MULTICOL, "orders")),
    "sub_scalar"      -> ((s, d) => viaSql(s, d, SUB_SCALAR, "orders")),
    "sub_in"          -> ((s, d) => viaSql(s, d, SUB_IN, "customer", "orders")),
    "sub_exists"      -> ((s, d) => viaSql(s, d, SUB_EXISTS, "orders", "lineitem")),
    "sub_not_exists"  -> ((s, d) => viaSql(s, d, SUB_NOT_EXISTS, "customer", "orders")),
    "sub_scalar_corr" -> ((s, d) => viaSql(s, d, SUB_SCALAR_CORR, "orders", "lineitem")),
    "sub_cte_chain"   -> ((s, d) => viaSql(s, d, SUB_CTE_CHAIN, "orders")),
    "sub_lateral"     -> ((s, d) => viaSql(s, d, SUB_LATERAL, "orders", "lineitem")),
    "sub_not_in_null" -> ((s, d) => viaSql(s, d, SUB_NOT_IN_NULL, "orders", "customer")),
    // Row-limit valve sized to the op's PROVEN output (r10 sf10 finding):
    // the key tree emits exactly |customer|+1 rows — every key has one
    // parent chain, UNION-ALL iterations never revisit a key — so the
    // default 1M spark.sql.cteRecursionRowLimit safety valve false-trips
    // at sf10's 1.5M customers. Raised to 1e8 on an ISOLATED newSession
    // (the join_skew_aqe conf pattern — no leak into the shared session's
    // other recursions, where the default valve keeps guarding runaway
    // recursion). Depth stays ~log2 |customer| (22 at sf10), far under
    // the level limit.
    "sub_recursive_cte" -> ((s0, d) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.cteRecursionRowLimit", "100000000")
      viaSql(s, d, SUB_RECURSIVE_CTE, "customer")
    }),
    "sub_pipe_syntax" -> ((s, d) => viaSql(s, d, SUB_PIPE, "orders")),
    "sub_param_sql" -> ((s, d) =>
      withTempViews(s, "orders" -> graft.Tables.t(s, d, "orders")) { v =>
        s.sql(SUB_PARAM.replaceAll("@orders\\b", v("orders")),
          Map("min_cents" -> 10000000L, "hot1" -> "1-URGENT", "hot2" -> "2-HIGH"))
      }),
    "sub_inline_values" -> ((s, d) => viaSql(s, d, SUB_VALUES, "orders")),
    "sub_exists_or"   -> ((s, d) => viaSql(s, d, SUB_EXISTS_OR, "orders", "lineitem")),
  )

  // DuckDB has no tuple-IN (`(a, b) IN (subq)` binds as 1 column), so the
  // oracle uses the EXISTS form — semantically identical here because both
  // key columns are non-null (no three-valued-logic divergence).
  private val SUB_IN_MULTICOL_ORACLE =
    """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders o
       WHERE EXISTS (SELECT 1 FROM orders u
                     WHERE u.o_orderpriority = '1-URGENT'
                       AND u.o_custkey = o.o_custkey
                       AND u.o_orderstatus = o.o_orderstatus)
         AND o_orderpriority = '5-LOW'
       ORDER BY o_orderkey LIMIT 200"""

  val oracle: Map[String, String] = Map(
    "sub_quantified_all" -> SUB_ALL_ORACLE,
    "sub_quantified_any" -> SUB_ANY_ORACLE,
    "sub_in_multicol" -> SUB_IN_MULTICOL_ORACLE,
    "sub_scalar"      -> stripMarkers(SUB_SCALAR),
    "sub_in"          -> stripMarkers(SUB_IN),
    "sub_exists"      -> stripMarkers(SUB_EXISTS),
    "sub_not_exists"  -> stripMarkers(SUB_NOT_EXISTS),
    "sub_scalar_corr" -> stripMarkers(SUB_SCALAR_CORR),
    "sub_cte_chain"   -> stripMarkers(SUB_CTE_CHAIN),
    "sub_lateral"     -> stripMarkers(SUB_LATERAL),
    "sub_not_in_null" -> stripMarkers(SUB_NOT_IN_NULL),
    "sub_recursive_cte" -> stripMarkers(SUB_RECURSIVE_CTE),
    "sub_pipe_syntax" -> SUB_PIPE_ORACLE,
    "sub_param_sql" -> stripMarkers(SUB_PARAM)
      .replace(":min_cents", "10000000")
      .replace(":hot1", "'1-URGENT'").replace(":hot2", "'2-HIGH'"),
    "sub_inline_values" -> stripMarkers(SUB_VALUES),
    "sub_exists_or"   -> stripMarkers(SUB_EXISTS_OR),
  )
}
