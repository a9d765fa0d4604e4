package graft.ops

import org.apache.spark.sql.functions._
import graft.Norm._
import graft.Tables._

/** SURVEY.md §2.H — scalar function families.
  *
  * Each op projects one family over a small key-ordered slice. The oracle SQL
  * encodes the verified dialect bridges (probed against DuckDB 1.0.0):
  *   - Spark `dayofweek` (1=Sunday) = DuckDB `extract(dow ...)` + 1
  *   - Spark `posexplode` (0-based) = DuckDB zipped `unnest(arr), unnest(range(len(arr)))`
  *   - Spark double→int CAST truncates; DuckDB rounds → oracle uses `trunc()`
  *   - Spark `ceil`/`floor` return BIGINT; DuckDB DOUBLE → cast both sides
  *   - Spark `regexp_replace` replaces all; DuckDB needs the 'g' flag
  *   - Spark `unix_timestamp` returns BIGINT; DuckDB `epoch()` DOUBLE → cast
  *   - Spark `sign` returns DOUBLE; DuckDB TINYINT → cast both to INT
  * All codegen'd built-ins — no UDFs in any of these paths.
  */
object Scalars {
  val ops: Map[String, Q] = Map(
    "str_basic" -> ((s, d) =>
      customer(s, d)
        .select(col("c_custkey"),
          upper(col("c_name")).as("up"),
          lower(col("c_mktsegment")).as("lo"),
          trim(col("c_name")).as("tr"),
          ltrim(col("c_name")).as("ltr"),
          substring(col("c_name"), 10, 8).as("sub"),
          length(col("c_name")).as("len"),
          concat_ws("-", col("c_mktsegment"), col("c_name")).as("cw"),
          lpad(col("c_mktsegment"), 12, "*").as("lp"),
          rpad(col("c_mktsegment"), 12, "*").as("rp"),
          regexp_replace(col("c_name"), lit("Customer#"), lit("C")).as("repl"),
          reverse(col("c_mktsegment")).as("rev"))
        .orderBy("c_custkey").limit(50)),

    "str_regexp" -> ((s, d) =>
      part(s, d)
        .select(col("p_partkey"),
          regexp_extract(col("p_type"), "^(\\w+)", 1).as("first_word"),
          regexp_replace(col("p_brand"), "[0-9]", "#").as("masked"),
          col("p_type").rlike("ECONOMY").as("is_economy"))
        .orderBy("p_partkey").limit(50)),

    "str_split_pos" -> ((s, d) =>
      documents(s, d)
        .filter(col("doc_id") < 5)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
        .orderBy("doc_id", "pos")),

    // Edit-distance fuzzy matching (record-linkage primitive). Distance to
    // the previous name within each nation: the window partitions on
    // s_nationkey, so no global sort — and levenshtein is the identical
    // integer DP on both engines, no rounding surface at all.
    // Name distance to the previous supplier within the nation — lag +
    // levenshtein. Plan shape: NOT a bare nation-partitioned window (25
    // nations, supplier corpus-scaled → 25 tasks each sorting 1/25 of the
    // corpus, the agg_gini hazard). Distributed-lag instead: suppkey-range
    // buckets bound each window partition by the bucket WIDTH; the only
    // cross-bucket dependency is each bucket's first row, whose
    // predecessor is the previous bucket's last name — carried via a lag
    // over the metadata-sized (nation, bucket) frame and broadcast back.
    // Identical to the single-window form by construction (the oracle
    // keeps the simple form as the semantic definition).
    "str_levenshtein" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sup = supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"), col("s_name"))
        .withColumn("bkt", expr("s_suppkey div 1000"))
      val carry = sup.groupBy("s_nationkey", "bkt")
        .agg(max_by(col("s_name"), col("s_suppkey")).as("last_name"))
        .withColumn("carry", lag("last_name", 1).over(
          Window.partitionBy("s_nationkey").orderBy("bkt")))
        .select("s_nationkey", "bkt", "carry")
      sup.join(broadcast(carry), Seq("s_nationkey", "bkt"))
        .withColumn("prev_in", lag("s_name", 1).over(
          Window.partitionBy("s_nationkey", "bkt").orderBy("s_suppkey")))
        .select(col("s_suppkey"), col("s_nationkey"),
          coalesce(
            levenshtein(col("s_name"), coalesce(col("prev_in"), col("carry"))),
            lit(-1)).as("dist_prev"))
        .orderBy("s_suppkey")
    }),

    "date_parts" -> ((s, d) =>
      orders(s, d)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("dom"),
          dayofweek(col("o_orderdate")).as("dow"),
          quarter(col("o_orderdate")).as("q"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
          last_day(col("o_orderdate")).as("month_end"),
          expr(Shared.tpchDay("o_orderdate")).as("days_since"),
          date_add(col("o_orderdate").cast("date"), 30).as("plus30"))
        .orderBy("o_orderkey").limit(50)),

    "ts_parts" -> ((s, d) =>
      events(s, d)
        .select(col("event_id"), tsec(col("ts")).as("ts_s"))
        .select(col("event_id"), col("ts_s"),
          hour(col("ts_s")).as("h"),
          minute(col("ts_s")).as("mi"),
          unix_timestamp(col("ts_s")).as("epoch_s"),
          date_trunc("hour", col("ts_s")).as("hour_start"))
        .orderBy("event_id").limit(50)),

    "math_basic" -> ((s, d) =>
      Shared.lineitemSlice(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity"), 1).as("r_qty"),
          abs(col("l_discount") - 0.05).as("abs_d"),
          ceil(col("l_extendedprice")).as("ceil_p"),
          floor(col("l_extendedprice")).as("floor_p"),
          d4(sqrt(col("l_quantity"))).as("sqrt_q"),
          d4(exp(col("l_discount"))).as("exp_d"),
          d4(log(col("l_extendedprice"))).as("ln_p"),
          d4(log10(col("l_extendedprice"))).as("log10_p"),
          pow(col("l_quantity"), 2).as("q2"),
          pmod(col("l_partkey"), lit(7)).as("pm"),
          signum(col("l_discount") - 0.05).cast("int").as("sgn"))),

    "cond_case" -> ((s, d) =>
      Shared.lineitemSlice(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          when(col("l_discount") < 0.03, "low")
            .when(col("l_discount") < 0.07, "mid")
            .otherwise("high").as("disc_band"),
          coalesce(nullif(col("l_returnflag"), lit("N")), lit("none")).as("flag"),
          least(col("l_quantity"), lit(25.0)).as("q_cap"),
          greatest(col("l_tax"), lit(0.05)).as("tax_floor"))),

    "cast_types" -> ((s, d) =>
      Shared.lineitemSlice(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").cast("int").as("price_int"),
          col("l_linenumber").cast("string").as("ln_str"),
          col("l_quantity").cast("string").cast("double").as("qty_roundtrip"),
          col("l_shipdate").cast("date").as("ship_date"),
          // decimal cast exercised, then emitted as its canonical string —
          // scale-2 text ("38.10") is identical on both engines, while a
          // DECIMAL column would hash by float repr ("38.1") and mismatch.
          col("l_extendedprice").cast("decimal(18,2)").cast("string").as("price_dec"))),

    // Error-safe evaluation under ANSI mode (Spark 4 default): try_cast
    // yields NULL on malformed input instead of failing the job, try_divide
    // yields NULL on /0 — the semantics a 100 TB batch needs so one dirty
    // row can't kill a stage. DuckDB twins: TRY_CAST, and plain `/` (DuckDB
    // returns NULL for every division by zero, including doubles).
    "cast_try" -> ((s, d) =>
      events(s, d)
        .orderBy("event_id").limit(50)
        .select(col("event_id"),
          expr("try_cast(event_type AS INT)").as("bad_int"),
          expr("try_cast(CAST(user_id AS STRING) AS BIGINT)").as("roundtrip_id"),
          d4(expr("try_divide(value, 0)")).as("div0"),
          d4(expr("try_divide(value, 4)")).as("quarter"))),

    // Spark 4 collations: grouping under UTF8_LCASE merges case-variant
    // keys AT THE AGGREGATION (not by pre-normalizing) — the input is
    // deterministically mixed-case so without the collation the groups
    // would split. Output is lower()-normalized, which is representative-
    // independent (case-variants of one group lower() identically), so the
    // result stays engine-deterministic. Oracle = lower() grouping.
    "str_collation" -> ((s, d) =>
      customer(s, d)
        .select(expr(
          "CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment) ELSE c_mktsegment END")
          .as("seg_mixed"), col("c_acctbal"))
        .select(expr("collate(seg_mixed, 'UTF8_LCASE')").as("seg"), col("c_acctbal"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n"), moneySum(col("c_acctbal")).as("total_bal"))
        .select(lower(col("seg")).cast("string").as("segment"), col("n"), col("total_bal"))
        .orderBy("segment")),

    // Spark 4 VARIANT for semi-structured data: parse_json → open-schema
    // binary VARIANT, typed field access via variant_get — the
    // schema-on-read path (vs json_extract's string-path get_json_object).
    // At 100 TB VARIANT's binary encoding beats per-row JSON re-parsing for
    // repeated multi-field access. Output buckets k by decade.
    "json_variant" -> ((s, d) =>
      events(s, d)
        .select(expr("variant_get(parse_json(props), '$.k', 'int')").as("k"),
          col("event_type"))
        .groupBy(expr("k div 10").as("k_decade"))
        .agg(count(lit(1)).as("n"), countDistinct("event_type").as("n_types"))
        .orderBy("k_decade")),

    "array_basic" -> ((s, d) =>
      embeddings(s, d)
        .select(col("vec_id"),
          size(col("embedding")).as("n"),
          d4(element_at(col("embedding"), 1).cast("double")).as("e1"),
          d4(element_at(slice(col("embedding"), 1, 4), 4).cast("double")).as("e4"),
          array_contains(slice(col("embedding"), 1, 4), array_max(col("embedding"))).as("max_in_head"),
          d4(array_min(col("embedding")).cast("double")).as("mn"),
          d4(array_max(col("embedding")).cast("double")).as("mx"))
        .orderBy("vec_id").limit(20)),

    // Per-row vector profile over the FULL embeddings table (the
    // feature-health report an embedding pipeline logs before indexing):
    // dim, element sum via the left-to-right aggregate() fold (list_sum's
    // documented twin), extrema, and the L2 norm through the codegen
    // graft_dot — all micro-unit BIGINT outputs. Entirely per-row
    // higher-order functions: map-only, zero shuffle before the
    // presentation sort; at 100 TB the cost is the narrow scan itself.
    "array_reduce_stats" -> ((s, d) =>
      embeddings(s, d)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .select(col("vec_id"),
          expr("size(v)").as("dim"),
          d6(expr("aggregate(v, CAST(0 AS DOUBLE), (acc, x) -> acc + x)")).as("sum_micro"),
          d6(expr("array_min(v)")).as("min_micro"),
          d6(expr("array_max(v)")).as("max_micro"),
          d6(expr("sqrt(graft_dot(v, v))")).as("nrm_micro"))
        .orderBy("vec_id")),

    "array_higher_order" -> ((s, d) =>
      embeddings(s, d)
        .select(col("vec_id"),
          d4(expr("aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * 2), CAST(0 AS DOUBLE), (acc, x) -> acc + x)")).as("sum2x"),
          expr("size(filter(embedding, x -> x > 0))").as("n_pos"))
        .orderBy("vec_id").limit(20)),

    // Map built then exploded to plain rows — no map column reaches output.
    "map_entries" -> ((s, d) =>
      events(s, d)
        .filter(col("event_id") < 25)
        .select(col("event_id"),
          explode(map(
            lit("type"), col("event_type"),
            lit("uid"), col("user_id").cast("string"))).as(Seq("k", "v")))
        .orderBy("event_id", "k")),

    "json_extract" -> ((s, d) =>
      events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("j"))
        .groupBy("event_type")
        .agg(count(col("j")).as("n"),
          sum(col("j")).as("total"),
          d4(avg(col("j"))).as("avg_k"),
          min(col("j")).as("mn"),
          max(col("j")).as("mx"))
        .orderBy("event_type")),

    "hash_funcs" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("h_md5"), sha2(col("text"), 256).as("h_sha"))
        .orderBy("doc_id").limit(50)),

    // URL decomposition (the weblog-ETL staple). Spark's parse_url is
    // java.net.URI-backed; the oracle reconstructs each part from the same
    // source columns, so what's checked is that parse_url really inverts the
    // URL construction — protocol, host, path, query, and keyed query param.
    "str_url" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          concat(lit("https://"), col("source"), lit(".example.com/d/"), col("doc_id"),
            lit("?lang="), col("lang"), lit("&n="), col("n_chars")).as("url"))
        .select(col("doc_id"),
          parse_url(col("url"), lit("PROTOCOL")).as("proto"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          parse_url(col("url"), lit("QUERY")).as("query"),
          parse_url(col("url"), lit("QUERY"), lit("lang")).as("q_lang"))
        .orderBy("doc_id").limit(100)),

    // Scalar bitwise family (flag-field decoding): &, |, xor, shifts,
    // popcount. Pure integer ops — bit-identical on any engine. DuckDB has
    // no infix ^ for xor (it's xor()); Spark shiftleft = DuckDB <<.
    // ANSI overflow-safe arithmetic (try_multiply/try_add/try_divide →
    // NULL instead of error/wraparound — what a robust 100 TB pipeline
    // uses so one poisoned row can't kill a stage). The oracle emulates
    // the exact BIGINT overflow boundaries with CASE (cents·1.87e11
    // overflows iff cents > ⌊(2⁶³−1)/1.87e11⌋ = 49322845; the offset add
    // iff cents > 49400000), so a hash match PROVES Spark nulls at
    // exactly the two's-complement limits. The constants put overflow on
    // ~1% of rows — the realistic poison-row rate — because each Spark
    // overflow takes an exception-based slow path (~20 µs/row measured):
    // try_* is for RARE poison, not bulk saturation arithmetic.
    // Division nulls on % 7 == 0 rows; surviving ratios d4-round before
    // the order-free integer sum.
    // The oracle emulates Spark's overflow boundaries with hardcoded
    // constants (cents > 49322845 / 49400000) that are ONLY valid for
    // cents >= 0; a negative amount would also overflow on the negative
    // side, which the CASE does not model. The filter pins that domain
    // assumption on BOTH engines (fixture-safe: o_totalprice > 0), so a
    // future fixture with negative amounts cannot silently desynchronize.
    "math_try_arithmetic" -> ((s, d) =>
      orders(s, d)
        .select(money(col("o_totalprice")).as("cents"))
        .filter(col("cents") >= 0)
        .select(col("cents"),
          expr("try_multiply(cents, 187000000000L)").as("m"),
          expr("try_add(cents, 9223372036805375807L)").as("a"),
          d4(expr("try_divide(cents, cents % 7)")).as("dv"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("m").isNull, 1L).otherwise(0L)).as("n_mul_overflow"),
          sum(when(col("a").isNull, 1L).otherwise(0L)).as("n_add_overflow"),
          sum(when(col("dv").isNull, 1L).otherwise(0L)).as("n_div_by_zero"),
          sum("dv").as("div_d4_sum"))),

    "math_bitwise" -> ((s, d) =>
      orders(s, d)
        .select(col("o_orderkey"),
          (col("o_orderkey").bitwiseAND(lit(255L))).as("lo8"),
          (col("o_orderkey").bitwiseOR(lit(4096L))).as("or12"),
          (col("o_orderkey").bitwiseXOR(col("o_custkey"))).as("x_cust"),
          expr("shiftleft(o_orderkey, 3)").as("shl3"),
          expr("shiftright(o_orderkey, 2)").as("shr2"),
          expr("bit_count(o_orderkey)").as("pop"))
        .orderBy("o_orderkey").limit(100)),

    // Regex TOKENIZER (regexp_extract_all, group 0): the GPT-style
    // letters|digits|punctuation-run split over the punctuated JSON props
    // strings — the op split(text,' ') can't express. The three character
    // classes are disjoint, so Java-regex (Spark) and RE2 (DuckDB)
    // alternation order cannot diverge. Map-side explode, one partial-
    // aggregatable count, (count, token) total-order cutoff.
    "str_tokenize_regex" -> ((s, d) =>
      events(s, d)
        .select(explode(
          expr("regexp_extract_all(props, '[a-z]+|[0-9]+|[^ a-z0-9]+', 0)")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(50)),
  )

  val oracle: Map[String, String] = Map(
    // list_sum folds left-to-right like Spark's aggregate() (probed — the
    // array_higher_order pairing); the norm twin mirrors graft_dot's
    // index-order accumulation.
    "array_reduce_stats" ->
      s"""WITH v AS (SELECT vec_id,
                            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                     FROM embeddings)
          SELECT vec_id, CAST(len(v) AS INTEGER) AS dim,
                 ${d6Sql("list_sum(v)")} AS sum_micro,
                 ${d6Sql("list_aggregate(v, 'min')")} AS min_micro,
                 ${d6Sql("list_aggregate(v, 'max')")} AS max_micro,
                 ${d6Sql("sqrt(list_sum(list_transform(v, x -> x * x)))")} AS nrm_micro
          FROM v ORDER BY vec_id""",
    "str_basic" ->
      """SELECT c_custkey, upper(c_name) AS up, lower(c_mktsegment) AS lo,
                trim(c_name) AS tr, ltrim(c_name) AS ltr,
                substring(c_name, 10, 8) AS sub, length(c_name) AS len,
                concat_ws('-', c_mktsegment, c_name) AS cw,
                lpad(c_mktsegment, 12, '*') AS lp, rpad(c_mktsegment, 12, '*') AS rp,
                replace(c_name, 'Customer#', 'C') AS repl,
                reverse(c_mktsegment) AS rev
         FROM customer ORDER BY c_custkey LIMIT 50""",
    "str_regexp" ->
      """SELECT p_partkey, regexp_extract(p_type, '^(\w+)', 1) AS first_word,
                regexp_replace(p_brand, '[0-9]', '#', 'g') AS masked,
                regexp_matches(p_type, 'ECONOMY') AS is_economy
         FROM part ORDER BY p_partkey LIMIT 50""",
    "str_levenshtein" ->
      """SELECT s_suppkey, s_nationkey,
                coalesce(levenshtein(s_name,
                    lag(s_name) OVER (PARTITION BY s_nationkey ORDER BY s_suppkey)), -1) AS dist_prev
         FROM supplier ORDER BY s_suppkey""",
    "str_split_pos" ->
      """SELECT doc_id, unnest(range(len(string_split(text, ' ')))) AS pos,
                unnest(string_split(text, ' ')) AS token
         FROM documents WHERE doc_id < 5 ORDER BY doc_id, pos""",
    "date_parts" ->
      s"""SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m,
                dayofmonth(o_orderdate) AS dom,
                CAST(extract(dow FROM o_orderdate) + 1 AS INTEGER) AS dow,
                quarter(o_orderdate) AS q,
                CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
                last_day(o_orderdate) AS month_end,
                ${Shared.tpchDaySql("o_orderdate")} AS days_since,
                CAST(o_orderdate AS DATE) + 30 AS plus30
         FROM orders ORDER BY o_orderkey LIMIT 50""",
    "ts_parts" ->
      """SELECT event_id, ts_s, hour(ts_s) AS h, minute(ts_s) AS mi,
                CAST(epoch(ts_s) AS BIGINT) AS epoch_s,
                date_trunc('hour', ts_s) AS hour_start
         FROM (SELECT event_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s FROM events)
         ORDER BY event_id LIMIT 50""",
    "math_basic" ->
      s"""SELECT l_orderkey, l_linenumber,
          round(l_quantity, 1) AS r_qty,
          abs(l_discount - 0.05) AS abs_d,
          CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_p,
          CAST(floor(l_extendedprice) AS BIGINT) AS floor_p,
          ${d4Sql("sqrt(l_quantity)")} AS sqrt_q,
          ${d4Sql("exp(l_discount)")} AS exp_d,
          ${d4Sql("ln(l_extendedprice)")} AS ln_p,
          ${d4Sql("log10(l_extendedprice)")} AS log10_p,
          pow(l_quantity, 2) AS q2,
          l_partkey % 7 AS pm,
          CAST(sign(l_discount - 0.05) AS INTEGER) AS sgn
          FROM lineitem ${Shared.lineitemSliceSql}""",
    "cond_case" ->
      s"""SELECT l_orderkey, l_linenumber,
                CASE WHEN l_discount < 0.03 THEN 'low'
                     WHEN l_discount < 0.07 THEN 'mid' ELSE 'high' END AS disc_band,
                coalesce(nullif(l_returnflag, 'N'), 'none') AS flag,
                least(l_quantity, 25.0) AS q_cap,
                greatest(l_tax, 0.05) AS tax_floor
         FROM lineitem ${Shared.lineitemSliceSql}""",
    "cast_types" ->
      s"""SELECT l_orderkey, l_linenumber,
                CAST(trunc(l_extendedprice) AS INTEGER) AS price_int,
                CAST(l_linenumber AS VARCHAR) AS ln_str,
                CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE) AS qty_roundtrip,
                CAST(l_shipdate AS DATE) AS ship_date,
                CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS price_dec
         FROM lineitem ${Shared.lineitemSliceSql}""",
    "str_collation" ->
      s"""SELECT lower(seg_mixed) AS segment, count(*) AS n,
                 ${moneySumSql("c_acctbal")} AS total_bal
          FROM (SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
                            ELSE c_mktsegment END AS seg_mixed, c_acctbal
                FROM customer)
          GROUP BY 1 ORDER BY 1""",
    "json_variant" ->
      """SELECT CAST(CAST(json_extract(props, '$.k') AS INTEGER) // 10 AS BIGINT) AS k_decade,
                count(*) AS n, count(DISTINCT event_type) AS n_types
         FROM events GROUP BY 1 ORDER BY 1""",
    "cast_try" ->
      s"""SELECT event_id,
                 TRY_CAST(event_type AS INTEGER) AS bad_int,
                 TRY_CAST(CAST(user_id AS VARCHAR) AS BIGINT) AS roundtrip_id,
                 ${d4Sql("value / 0")} AS div0,
                 ${d4Sql("value / 4")} AS quarter
          FROM events ORDER BY event_id LIMIT 50""",
    "array_basic" ->
      s"""SELECT vec_id, len(embedding) AS n,
          ${d4Sql("CAST(embedding[1] AS DOUBLE)")} AS e1,
          ${d4Sql("CAST(embedding[1:4][4] AS DOUBLE)")} AS e4,
          list_contains(embedding[1:4], list_max(embedding)) AS max_in_head,
          ${d4Sql("CAST(list_min(embedding) AS DOUBLE)")} AS mn,
          ${d4Sql("CAST(list_max(embedding) AS DOUBLE)")} AS mx
          FROM embeddings ORDER BY vec_id LIMIT 20""",
    "array_higher_order" ->
      s"""SELECT vec_id,
          ${d4Sql("list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * 2))")} AS sum2x,
          len(list_filter(embedding, x -> x > 0)) AS n_pos
          FROM embeddings ORDER BY vec_id LIMIT 20""",
    "map_entries" ->
      """SELECT event_id, k, v FROM (
           SELECT event_id, 'type' AS k, event_type AS v FROM events WHERE event_id < 25
           UNION ALL
           SELECT event_id, 'uid' AS k, CAST(user_id AS VARCHAR) AS v FROM events WHERE event_id < 25)
         ORDER BY event_id, k""",
    "json_extract" ->
      s"""SELECT event_type, count(j) AS n, CAST(sum(j) AS BIGINT) AS total,
          ${d4Sql("avg(j)")} AS avg_k, min(j) AS mn, max(j) AS mx
          FROM (SELECT event_type, CAST(json_extract(props, '$$.k') AS INTEGER) AS j FROM events)
          GROUP BY event_type ORDER BY event_type""",
    "hash_funcs" ->
      """SELECT doc_id, md5(text) AS h_md5, sha256(text) AS h_sha
         FROM documents ORDER BY doc_id LIMIT 50""",
    // Truth reconstructed from the source columns, not re-parsed.
    "str_url" ->
      """SELECT doc_id, 'https' AS proto,
                source || '.example.com' AS host,
                '/d/' || doc_id AS path,
                'lang=' || lang || '&n=' || n_chars AS query,
                lang AS q_lang
         FROM documents ORDER BY doc_id LIMIT 100""",
    "math_try_arithmetic" ->
      s"""WITH c AS (SELECT ${moneySql("o_totalprice")} AS cents FROM orders
                     WHERE ${moneySql("o_totalprice")} >= 0)
         SELECT count(*) AS n,
                CAST(sum(CASE WHEN cents > 49322845 THEN 1 ELSE 0 END) AS BIGINT) AS n_mul_overflow,
                CAST(sum(CASE WHEN cents > 49400000 THEN 1 ELSE 0 END) AS BIGINT) AS n_add_overflow,
                CAST(sum(CASE WHEN cents % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_div_by_zero,
                CAST(sum(CASE WHEN cents % 7 = 0 THEN NULL
                              ELSE ${d4Sql("cents / (cents % 7)")} END) AS BIGINT) AS div_d4_sum
         FROM c""",
    "math_bitwise" ->
      """SELECT o_orderkey,
                o_orderkey & 255 AS lo8,
                o_orderkey | 4096 AS or12,
                xor(o_orderkey, o_custkey) AS x_cust,
                o_orderkey << 3 AS shl3,
                o_orderkey >> 2 AS shr2,
                CAST(bit_count(o_orderkey) AS INTEGER) AS pop
         FROM orders ORDER BY o_orderkey LIMIT 100""",
    "str_tokenize_regex" ->
      """WITH t AS (SELECT unnest(regexp_extract_all(props, '[a-z]+|[0-9]+|[^ a-z0-9]+')) AS tok
                    FROM events)
         SELECT tok, count(*) AS n FROM t GROUP BY tok
         ORDER BY n DESC, tok LIMIT 50""",
  )
}
