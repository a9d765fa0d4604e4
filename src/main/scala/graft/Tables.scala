package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed loaders for the driver-generated parquet tables at
  * `<sfDir>/<table>.parquet` (TESTDATA.md:13-15; schemas in FIXTURES.md).
  *
  * Schema memo: inferring a parquet schema runs one Spark job per load
  * (62-92 ms a table on a 4-vCPU host), so [[t]] infers and validates
  * each fixture file once and later loads declare the memoised schema.
  * The memo is keyed by [[Gates.FileId]] (path and mtime), so a table
  * rewritten in-process is inferred and validated afresh; a load that
  * fails validation is not memoised. It holds metadata only: every call
  * still builds a new relation with fresh expression ids, lists the files
  * and scans the parquet.
  *
  * Scale note: each loader is a plain parquet scan, so on a real cluster the
  * same code picks up splittable multi-file datasets, partition pruning, and
  * vectorized reads for free — nothing here assumes single-file inputs.
  */
object Tables {
  import org.apache.spark.sql.types._

  /** Fail-fast schema validation (SURVEY §1.2): expected column names and the
    * dtype sets each may legitimately arrive as across data generations. A
    * drift outside this contract raises ONE loud error naming
    * table/column/got/expected — instead of surfacing later as dozens of
    * per-query analysis exceptions (the r5 incident mode). Only columns the
    * engine depends on are pinned; extra columns are allowed (additive drift
    * is not an error).
    */
  private val expected: Map[String, Map[String, Set[Class[_]]]] = {
    val ts: Set[Class[_]] =
      Set(classOf[LongType], classOf[TimestampNTZType], classOf[TimestampType])
    val i = Set[Class[_]](classOf[IntegerType], classOf[LongType])
    val d = Set[Class[_]](classOf[DoubleType], classOf[DecimalType])
    val s = Set[Class[_]](classOf[StringType])
    // Date-like columns currently ship as timestamp[us]; accept DATE too in
    // case a future generation tightens them.
    val dl = ts + classOf[DateType]
    val vec = Set[Class[_]](classOf[ArrayType])
    Map(
      "region"   -> Map("r_regionkey" -> i, "r_name" -> s),
      "nation"   -> Map("n_nationkey" -> i, "n_name" -> s, "n_regionkey" -> i),
      "customer" -> Map("c_custkey" -> i, "c_name" -> s, "c_nationkey" -> i,
                        "c_acctbal" -> d, "c_mktsegment" -> s),
      "supplier" -> Map("s_suppkey" -> i, "s_name" -> s, "s_nationkey" -> i,
                        "s_acctbal" -> d),
      "part"     -> Map("p_partkey" -> i, "p_name" -> s, "p_brand" -> s,
                        "p_type" -> s, "p_size" -> i, "p_retailprice" -> d),
      "orders"   -> Map("o_orderkey" -> i, "o_custkey" -> i,
                        "o_orderstatus" -> s, "o_totalprice" -> d,
                        "o_orderdate" -> dl, "o_orderpriority" -> s),
      "lineitem" -> Map("l_orderkey" -> i, "l_partkey" -> i, "l_suppkey" -> i,
                        "l_linenumber" -> i, "l_quantity" -> d,
                        "l_extendedprice" -> d, "l_discount" -> d,
                        "l_tax" -> d, "l_returnflag" -> s,
                        "l_linestatus" -> s, "l_shipdate" -> dl),
      "events"     -> Map("event_id" -> i, "ts" -> ts, "user_id" -> i,
                          "event_type" -> s, "value" -> d, "props" -> s),
      "documents"  -> Map("doc_id" -> i, "text" -> s, "lang" -> s,
                          "source" -> s, "n_chars" -> i),
      "embeddings" -> Map("vec_id" -> i, "embedding" -> vec, "label" -> i)
    )
  }

  private def validate(name: String, df: DataFrame): DataFrame = {
    expected.get(name).foreach { cols =>
      val have = df.schema.map(f => f.name -> f.dataType).toMap
      cols.foreach { case (col, okTypes) =>
        have.get(col) match {
          case None =>
            throw new IllegalStateException(
              s"[Tables] schema drift: table '$name' is missing column '$col'" +
              s" (have: ${df.schema.fieldNames.mkString(", ")})")
          case Some(got) if !okTypes.exists(_.isInstance(got)) =>
            throw new IllegalStateException(
              s"[Tables] schema drift: table '$name' column '$col' read as " +
              s"$got, expected one of ${okTypes.map(_.getSimpleName).mkString("/")}")
          case _ => ()
        }
      }
    }
    df
  }

  private val schemas = new Memo[Gates.FileId, StructType]

  // `nanosAsLong` and the UTC time zone are session confs (GraftSession),
  // never set per read.
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val id = Gates.fileId(spark, dir, name)
    spark.read.schema(schemas(id)(validate(name, spark.read.parquet(id.path)).schema))
      .parquet(id.path)
  }

  def region(s: SparkSession, d: String): DataFrame     = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = t(s, d, "part")
  def orders(s: SparkSession, d: String, par: Boolean = false): DataFrame = {
    val df = t(s, d, "orders")
    if (par) Gates.spreadBy(s, d, "orders", df, Seq("o_orderkey")) else df
  }
  def lineitem(s: SparkSession, d: String, par: Boolean = false): DataFrame = {
    val df = t(s, d, "lineitem")
    if (par) Gates.spreadBy(s, d, "lineitem", df, Seq("l_orderkey", "l_linenumber")) else df
  }
  /** `events.ts` has shipped as parquet `timestamp[ns]` (which Spark 4 only
    * reads via `nanosAsLong`) in some data generations and `timestamp[us]`
    * (read natively as TIMESTAMP_NTZ when isAdjustedToUTC=false) in others.
    * Branch on the concrete read dtype so the loader survives either
    * generation — the r5 regression was exactly this assumption going stale:
    *  - LongType         → raw nanos; integral `div 1000` to µs (not `/` —
    *                       double division loses precision at ~1.7e18 ns).
    *  - TimestampNTZType → already the canonical type; pass through.
    *  - TimestampType    → isAdjustedToUTC=true data; cast to NTZ. The cast
    *                       reads the instant in the session time zone,
    *                       which GraftSession pins to UTC to keep it
    *                       deterministic and DuckDB-consistent.
    * All ts-derived query output still goes through `date_trunc('second',…)`
    * on both Spark and DuckDB sides (SURVEY §1.4), so sub-second precision
    * differences between generations never reach the hash compare.
    */
  def events(s: SparkSession, d: String, par: Boolean = false): DataFrame = {
    val raw0 = t(s, d, "events")
    val raw = if (par) Gates.spreadBy(s, d, "events", raw0, Seq("event_id")) else raw0
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn(
          "ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case org.apache.spark.sql.types.TimestampNTZType => raw
      case _ => raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }
  def documents(s: SparkSession, d: String, par: Boolean = false): DataFrame = {
    val df = t(s, d, "documents")
    if (par) Gates.spreadBy(s, d, "documents", df, Seq("doc_id")) else df
  }
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
