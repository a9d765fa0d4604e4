package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The codegen `graft_dot` Expression must be bit-identical to the declared
  * fold and must stay inside whole-stage codegen. */
class DotProductSuite extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  test("graft_dot == declarative fold, bit for bit") {
    val df = Tables.embeddings(s, TestSpark.sf)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .select(col("vec_id"),
        expr("graft_dot(v, v)").as("native"),
        expr("aggregate(zip_with(v, v, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, x) -> acc + x)").as("fold"))
    val bad = df.filter(col("native") =!= col("fold"))
    assert(bad.isEmpty, s"mismatch rows: ${bad.count()}")
  }

  test("graft_dot null semantics: null array -> null") {
    val r = s.sql("SELECT graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d))").collect().head
    assert(r.isNullAt(0))
  }

  test("graft_dot stays in whole-stage codegen") {
    val df = Tables.embeddings(s, TestSpark.sf)
      .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .select(expr("graft_dot(v, v)").as("d"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("*("), s"graft_dot fell out of codegen:\n${plan.take(1200)}")
  }

  test("graft_dot null semantics: unequal lengths -> null (zip_with parity)") {
    val r = s.sql("SELECT graft_dot(array(1.0d, 2.0d), array(1.0d))").collect().head
    assert(r.isNullAt(0), "length mismatch must be NULL like the zip_with fold")
  }

  test("SimKernel.dot fails loudly on unequal lengths (where graft_dot returns null)") {
    assert(graft.ops.SimKernel.dot(Array(1.0, 2.0), Array(3.0, 4.0)) == 11.0)
    val e = intercept[IllegalArgumentException] {
      graft.ops.SimKernel.dot(Array(1.0, 2.0), Array(1.0))
    }
    assert(e.getMessage.contains("unequal length"), e.getMessage)
  }

  test("graft_rolling_hash == declarative HOF fold, including multi-byte text") {
    val sp = s; import sp.implicits._
    val docs = Tables.documents(s, TestSpark.sf).select(col("text"))
      .union(Seq("h\u00e9llo w\u00f6rld", "", "a", "\u4f60\u597d \u4e16\u754c").toDF("text"))
    val df = docs.select(
      expr("graft_rolling_hash(text)").as("native"),
      expr("""aggregate(transform(sequence(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)),
                        CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + c) % 1000000007)""").as("fold"))
    val bad = df.filter(col("native") =!= col("fold"))
    assert(bad.isEmpty, s"mismatch rows: ${bad.collect().mkString(";")}")
  }
}
