package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Cross-engine determinism helpers (SURVEY.md §1.4 / §2 global rules).
  *
  * Round-2 encoding rule: NO non-integer numeric ever reaches a hashed output
  * column. Every money/stat/score double is rounded in EXACT DECIMAL
  * arithmetic (absorbing last-ulp parallel-summation drift) and then scaled
  * to an integer — cents for money, 1e4 "basis points" for stats/scores,
  * 1e6 micro-units for tf-idf magnitudes — emitted as BIGINT. Integer and
  * string outputs are the only classes that hash identically across engines
  * regardless of how a harness canonicalizes values (CORRECTNESS_r01: every
  * DECIMAL-emitting query whose value had a trailing zero, e.g. 38.10,
  * hash-failed; every integer/string output passed). `events.ts` is parquet
  * timestamp[ns] (Spark truncates to µs, DuckDB keeps ns) so any ts-derived
  * output is truncated to whole seconds on both engines.
  *
  * Two scaled-integer encodings, each with a Spark builder and a DuckDB
  * twin below:
  *   - ROUNDED (`money`/`d4`/`d6` and the `…Sum` forms): a double that is
  *     itself the output, rounded in exact decimal arithmetic then scaled.
  *   - FLOORED (`floorBp`/`floorMicro`): a per-row transcendental term
  *     (ln, log10, exp, a ratio) that is SUMMED or differenced afterwards.
  *     It is floored to 10⁴/10⁶ units BEFORE the sum, so the sum is exact
  *     BIGINT arithmetic, immune to shuffle arrival order; both engines
  *     floor the same IEEE double because the SQL text is the same on
  *     both. The floor comes BEFORE the cast because the casts differ:
  *     Spark truncates toward zero, DuckDB rounds to nearest
  *     (`CAST(1000000 * ln(0.3) AS BIGINT)` is −1203972 in Spark and
  *     −1203973 in DuckDB 1.0.0), so a bare cast diverges on negative
  *     log-probabilities.
  *
  * Determinism of the decimal round (probed against DuckDB 1.0.0):
  *   - double → DECIMAL(28,10) rounds the binary value to 10 decimals on
  *     both engines; a divergence needs the shortest-repr to land exactly on
  *     a ...5 boundary at the 10th decimal — not observed on the fixtures.
  *   - ROUND(DECIMAL, k) is HALF_UP (away from zero) on both engines,
  *     including negatives (-2.675 → -2.68) and binary-unrepresentable ties
  *     (0.125 → 0.13), because the tie is exact in decimal.
  *   - The scaled value is integral by construction, so the final cast to
  *     BIGINT cannot hit the Spark-truncates vs DuckDB-rounds divergence.
  * Small-denominator ratios (ratios of small counts) still prefer pure
  * integer arithmetic (`x * 10000 div y`, thresholds via cross-multiply) so
  * no double is involved at all — see LlmPipeline/LlmExtras.
  */
object Norm {
  /** Money/measure doubles → integer cents as BIGINT (decimal-exact round
    * at 2 places, then ×100). */
  def money(c: Column): Column =
    (round(c.cast(DecimalType(28, 10)), 2) * lit(100)).cast(LongType)
  /** Exact money SUM → cents BIGINT: each element cast to DECIMAL(28,10)
    * (deterministic per-element rounding), summed in exact decimal
    * arithmetic — independent of shuffle arrival order on the Spark side —
    * then rounded to cents. Use for every groupBy/global money sum; window
    * sums run over sorted frames and don't need the decimal widening. */
  def moneySum(c: Column): Column =
    (round(sum(c.cast(DecimalType(28, 10))), 2) * lit(100)).cast(LongType)
  /** Similarity scores / stats → integer basis points (×1e4) as BIGINT. */
  def d4(c: Column): Column =
    (round(c.cast(DecimalType(28, 10)), 4) * lit(10000)).cast(LongType)
  /** tf-idf-style small magnitudes → integer micro-units (×1e6) as BIGINT. */
  def d6(c: Column): Column =
    (round(c.cast(DecimalType(28, 10)), 6) * lit(1000000)).cast(LongType)
  /** Exact micro-unit SUM: the [[moneySum]] shape at 6 places. */
  def d6Sum(c: Column): Column =
    (round(sum(c.cast(DecimalType(28, 10))), 6) * lit(1000000)).cast(LongType)
  /** Event-time columns: truncate to whole seconds (ns vs µs parity). */
  def tsec(c: Column): Column = date_trunc("second", c)

  // DuckDB-side twins for the oracle SQL strings. ROUND(DECIMAL(28,10), k)
  // is DECIMAL(28,k) in DuckDB; the ×scale product stays far below width 38.
  def moneySql(e: String): String =
    s"CAST(ROUND(CAST(($e) AS DECIMAL(28,10)), 2) * 100 AS BIGINT)"
  def moneySumSql(e: String): String =
    s"CAST(CAST(ROUND(sum(CAST(($e) AS DECIMAL(28,10))), 2) AS DECIMAL(28,2)) * 100 AS BIGINT)"
  def d4Sql(e: String): String =
    s"CAST(ROUND(CAST(($e) AS DECIMAL(28,10)), 4) * 10000 AS BIGINT)"
  def d6Sql(e: String): String =
    s"CAST(ROUND(CAST(($e) AS DECIMAL(28,10)), 6) * 1000000 AS BIGINT)"
  def d6SumSql(e: String): String =
    s"CAST(CAST(ROUND(sum(CAST(($e) AS DECIMAL(28,10))), 6) AS DECIMAL(28,6)) * 1000000 AS BIGINT)"

  /** Floored fixed point (see the object doc): SQL text that Spark `expr`
    * and DuckDB parse alike, so one string serves both engines. Callers
    * keep their own `sum(…)` and outer `CAST … AS BIGINT`. */
  def floorBp(e: String): String = floorScaled(10000, e)
  def floorMicro(e: String): String = floorScaled(1000000, e)
  private def floorScaled(k: Int, e: String): String =
    s"CAST(floor($k * ($e)) AS BIGINT)"
}
