package graft

import org.scalatest.funsuite.AnyFunSuite

/** The fixture loaders' schema memo: a repeat load launches no schema
  * inference job, a rewritten table is re-inferred, and a failed
  * validation is never memoised. */
class TablesSuite extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  /** Spark jobs launched while `body` runs, counted after the listener bus
    * has drained. */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.GraftTestBus.flush(s.sparkContext)
    s.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.GraftTestBus.flush(s.sparkContext) }
    finally s.sparkContext.removeSparkListener(l)
    jobs.get
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a repeat load declares the memoised schema: no inference job") {
    // a copy under a fresh path, so no earlier suite has loaded it
    val dir = tmpDir("memo")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"${TestSpark.sf}/lineitem.parquet"),
      java.nio.file.Paths.get(s"$dir/lineitem.parquet"))
    var first, again: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { first = Tables.lineitem(s, dir) } == 1, "a first load infers the schema")
    assert(jobsDuring { again = Tables.lineitem(s, dir) } == 0, "a repeat load must not infer")
    assert(again.schema == first.schema)
    // metadata only: each load is its own relation with its own ids, and
    // both still scan the file
    assert(again.queryExecution.analyzed.output.map(_.exprId).toSet
      .intersect(first.queryExecution.analyzed.output.map(_.exprId).toSet).isEmpty)
    assert(again.count() == first.count() && first.count() > 0)
  }

  test("a table rewritten in-process reloads with its new schema and size") {
    import s.implicits._
    val dir = tmpDir("rewrite")
    Seq((1L, "a b", "en", "src0", 3L)).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    assert(!Tables.documents(s, dir).columns.contains("extra"))
    val before = Gates.bytes(s, dir, "documents")
    // additive drift is allowed by validation; the memo must not hide it
    (1L to 50L).map(i => (i, "a b " * i.toInt, "en", "src0", 3L, "x" * i.toInt))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "extra")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val after = Tables.documents(s, dir)
    assert(after.columns.contains("extra"), s"stale schema: ${after.columns.mkString(",")}")
    assert(after.count() == 50L)
    assert(Gates.bytes(s, dir, "documents") != before, "stale size stat after a rewrite")
  }

  test("a schema-drift failure is not memoised: fixing the file lets the reload succeed") {
    import s.implicits._
    val dir = tmpDir("drift-fix")
    Seq((1L, "en")).toDF("doc_id", "lang").write.parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalStateException](Tables.documents(s, dir))
    assert(e.getMessage.contains("missing column"))
    Seq((1L, "a b", "en", "src0", 3L)).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Tables.documents(s, dir).count() == 1L)
  }
}
