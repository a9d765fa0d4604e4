package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, BinaryExpression, ExpectsInputTypes, Expression, Size}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** `|A ∩ B|` over two `array<string>` or two `array<bigint>` inputs
  * WITHOUT materializing the intersection array — replaces the
  * `size(array_intersect(a, b))` pattern, which builds an intermediate
  * ArrayData per row only to count it. Distinct-element semantics match
  * ArrayIntersect: each distinct left element counts once if present in
  * the right side. The element type comes from the input; it only picks
  * how one element is read and compared (a primitive `getLong` and long
  * compare for bigint, a UTF8String `compareTo` for string), so both types
  * run the same algorithm, chosen per row with an O(n) probe:
  *   - both inputs strictly increasing (the layout `sort_array ∘
  *     array_distinct` produces) → two-pointer merge count, O(n + m);
  *   - otherwise → nested loop with left-side dedup, O(n·m), zero
  *     allocation.
  */
case class IntersectSize(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  @transient private lazy val isLong = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def inputTypes: Seq[DataType] = {
    val t = ArrayType(if (isLong) LongType else StringType)
    Seq(t, t)
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = if (isLong) "intersect_size_long" else "intersect_size"

  /** Three-way compare of x(i) with y(j) in the element type's order. */
  private def cmp(x: ArrayData, i: Int, y: ArrayData, j: Int): Int =
    if (isLong) java.lang.Long.compare(x.getLong(i), y.getLong(j))
    else x.getUTF8String(i).compareTo(y.getUTF8String(j))

  private def strictlyIncreasing(x: ArrayData): Boolean =
    (1 until x.numElements()).forall(i => cmp(x, i - 1, x, i) < 0)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var cnt = 0
    if (strictlyIncreasing(x) && strictlyIncreasing(y)) {
      var i = 0; var j = 0
      while (i < x.numElements() && j < y.numElements()) {
        val c = cmp(x, i, y, j)
        if (c == 0) { cnt += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
    } else {
      for (i <- 0 until x.numElements()
           if !(0 until i).exists(k => cmp(x, k, x, i) == 0)
           if (0 until y.numElements()).exists(j => cmp(x, i, y, j) == 0))
        cnt += 1
    }
    cnt
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (jt, get, compare, equal) =
      if (isLong) ("long", "getLong",
        (p: String, q: String) => s"Long.compare($p, $q)", (p: String, q: String) => s"$p == $q")
      else ("UTF8String", "getUTF8String",
        (p: String, q: String) => s"$p.compareTo($q)", (p: String, q: String) => s"$p.equals($q)")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j"); val k = ctx.freshName("k")
      val cnt = ctx.freshName("cnt"); val xi = ctx.freshName("xi")
      val yj = ctx.freshName("yj"); val c = ctx.freshName("c")
      val seen = ctx.freshName("seen"); val found = ctx.freshName("found")
      val sorted = ctx.freshName("sorted")
      s"""
         |int $cnt = 0;
         |boolean $sorted = true;
         |for (int $i = 1; $sorted && $i < $a.numElements(); $i++) {
         |  if (${compare(s"$a.$get($i - 1)", s"$a.$get($i)")} >= 0) $sorted = false;
         |}
         |for (int $i = 1; $sorted && $i < $b.numElements(); $i++) {
         |  if (${compare(s"$b.$get($i - 1)", s"$b.$get($i)")} >= 0) $sorted = false;
         |}
         |if ($sorted) {
         |  int $i = 0; int $j = 0;
         |  while ($i < $a.numElements() && $j < $b.numElements()) {
         |    $jt $xi = $a.$get($i); $jt $yj = $b.$get($j);
         |    int $c = ${compare(xi, yj)};
         |    if ($c == 0) { $cnt++; $i++; $j++; }
         |    else if ($c < 0) { $i++; } else { $j++; }
         |  }
         |} else {
         |  for (int $i = 0; $i < $a.numElements(); $i++) {
         |    $jt $xi = $a.$get($i);
         |    boolean $seen = false;
         |    for (int $k = 0; $k < $i && !$seen; $k++) {
         |      if (${equal(s"$a.$get($k)", xi)}) $seen = true;
         |    }
         |    if (!$seen) {
         |      boolean $found = false;
         |      for (int $j = 0; $j < $b.numElements() && !$found; $j++) {
         |        if (${equal(s"$b.$get($j)", xi)}) $found = true;
         |      }
         |      if ($found) $cnt++;
         |    }
         |  }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): IntersectSize =
    copy(left = newLeft, right = newRight)
}

/** Injected optimizer rule (`injectOptimizerRule` in [[GraftExtensions]]):
  * rewrites `size(array_intersect(a, b))` on two non-null-element string
  * or bigint arrays into [[IntersectSize]] so the intersection array is
  * never built. Only fires when `legacySizeOfNull` is false: under
  * `spark.sql.legacy.sizeOfNull=true`, `size(NULL)` is -1 while the
  * null-safe IntersectSize would return NULL — a silent semantics change. */
object RewriteIntersectSize extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case s @ Size(ArrayIntersect(a, b), false)
        if a.dataType == b.dataType && s.dataType == IntegerType &&
           (a.dataType == ArrayType(StringType, containsNull = false) ||
            a.dataType == ArrayType(LongType, containsNull = false)) =>
      IntersectSize(a, b)
  }
}
