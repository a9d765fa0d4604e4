package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The injected optimizer rule must rewrite size∘array_intersect into the
  * allocation-free IntersectSize, with identical results. */
class IntersectSizeSuite extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private def tokens = Tables.documents(s, TestSpark.sf).limit(40)
    .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))

  test("optimizer rewrites size(array_intersect) to intersect_size") {
    val a = tokens.select(col("doc_id").as("da"), col("toks").as("ta"))
    val b = tokens.select(col("doc_id").as("db"), col("toks").as("tb"))
    val df = a.join(b, col("da") < col("db"))
      .select(size(array_intersect(col("ta"), col("tb"))).as("n"))
    val opt = df.queryExecution.optimizedPlan.toString()
    assert(opt.contains("intersect_size"), s"rule did not fire:\n${opt.take(800)}")
  }

  test("intersect_size == size(array_intersect) on real token sets") {
    val a = tokens.select(col("doc_id").as("da"), col("toks").as("ta"))
    val b = tokens.select(col("doc_id").as("db"), col("toks").as("tb"))
    // expr("...") builds ArrayIntersect inside an alias the rule rewrites;
    // compare against a rule-proof reference built from explode + join
    val viaRule = a.join(b, col("da") < col("db"))
      .select(col("da"), col("db"), size(array_intersect(col("ta"), col("tb"))).as("n"))
    val reference = {
      val ea = tokens.select(col("doc_id").as("da"), explode(col("toks")).as("t"))
      val eb = tokens.select(col("doc_id").as("db"), explode(col("toks")).as("t"))
      ea.join(eb, Seq("t")).filter(col("da") < col("db"))
        .groupBy("da", "db").agg(count(lit(1)).cast("int").as("n"))
    }
    val mism = viaRule.join(reference, Seq("da", "db"), "full")
      .filter(coalesce(viaRule("n"), lit(0)) =!= coalesce(reference("n"), lit(0)))
    assert(mism.isEmpty, s"mismatches: ${mism.count()}")
  }

  test("intersect_size handles duplicate left elements (distinct semantics)") {
    val sp = s; import sp.implicits._
    val df = Seq((Seq("a", "a", "b", "c"), Seq("a", "c", "d"))).toDF("x", "y")
      .select(expr("size(array_intersect(x, y))").as("n"))
    assert(df.collect().head.getInt(0) == 2)
  }

  /** (case, left, right) over small ints; the string table maps n to the
    * letter 'a' + n, so both element types keep each case's order. */
  private val cases: Seq[(String, Seq[Int], Seq[Int])] = Seq(
    ("sorted-unique", Seq(1, 3, 5, 9), Seq(3, 9, 11)),
    ("unsorted", Seq(5, 1, 3), Seq(3, 7, 1)),
    ("duplicate left elements", Seq(2, 2, 4, 7, 4), Seq(2, 4, 4)),
    ("empty left", Seq(), Seq(1)),
    ("empty right", Seq(7), Seq()))

  test("intersect_size(_long) matches a Scala set count, codegen on and off") {
    for ((elem, fn, lit) <- Seq[(String, String, Int => String)](
           ("bigint", "intersect_size_long", n => s"${n}L"),
           ("string", "intersect_size", n => s"'${('a' + n).toChar}'"));
         codegen <- Seq(true, false)) {
      val f = s.newSession()
      if (!codegen) {
        f.conf.set("spark.sql.codegen.wholeStage", "false")
        f.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      }
      // array() of non-null literals is array<T> without null elements,
      // the only input the rule rewrites; slice of it is the empty array
      def arr(xs: Seq[Int]): String =
        if (xs.isEmpty) s"slice(array(${lit(0)}), 1, 0)" else xs.map(lit).mkString("array(", ", ", ")")
      def pick(side: ((String, Seq[Int], Seq[Int])) => Seq[Int]): String =
        cases.zipWithIndex.map { case (c, i) => s"WHEN $i THEN ${arr(side(c))}" }
          .mkString("CASE CAST(id AS INT) ", " ", " END")
      // over a range() leaf, not VALUES: ConvertToLocalRelation would fold
      // a local relation's projection away before the rule could fire
      val q = f.range(0, cases.size)
        .select(col("id"), expr(pick(_._2)).as("a"), expr(pick(_._3)).as("b"))
        .select(col("id"), size(array_intersect(col("a"), col("b"))).as("n"))
      val mode = s"array<$elem>, codegen=$codegen"
      val opt = q.queryExecution.optimizedPlan.toString()
      assert(opt.contains(s"$fn(") && !opt.contains("array_intersect"),
        s"$mode: rule must rewrite to $fn:\n$opt")
      val sorted = q.orderBy("id")
      val got = sorted.collect().map(_.getInt(1)).toSeq
      // a whole-stage codegen stage prints as "*(n) Project"
      assert("""\*\(\d+\) Project""".r.findFirstIn(sorted.queryExecution.executedPlan.toString)
        .isDefined == codegen, s"$mode:\n${sorted.queryExecution.executedPlan}")
      cases.zip(got).foreach { case ((name, a, b), n) =>
        assert(n == a.distinct.intersect(b).size, s"$mode, $name: $a ∩ $b")
      }
    }
  }
}
