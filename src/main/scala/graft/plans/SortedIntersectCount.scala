package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftsql.Bridge
import org.apache.spark.sql.types.{DataType, IntegerType}

/** |A ∩ B| for two SORTED distinct ARRAY<LONG> columns — a zero-allocation
  * merge loop instead of `size(array_intersect(a, b))`, which builds a
  * boxed hash set per row. Sortedness is a graft-side invariant (the
  * shingle-hash arrays are produced by `array_sort(array_distinct(...))`)
  * that Catalyst cannot know about — exactly the situation where a custom
  * expression beats the built-in (SURVEY §7.3 preference (b)). This is the
  * per-candidate-pair inner loop of exact n-gram Jaccard verification.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < nx && j < ny) {
      val xi = x.getLong(i); val yj = y.getLong(j)
      if (xi == yj) { c += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // every local takes a fresh name: the generated method around this
      // code declares its own (an UnsafeProjection's `apply(InternalRow
      // i)`, another instance of this kernel), and Java forbids a local
      // that redeclares or shadows one — Janino's compile error would
      // silently fall back to the interpreted projection
      val Seq(nx, ny, i, j, c, xi, yj) =
        Seq("nx", "ny", "i", "j", "c", "xi", "yj").map(ctx.freshName)
      s"""
         |int $nx = $a.numElements(), $ny = $b.numElements();
         |int $i = 0, $j = 0, $c = 0;
         |while ($i < $nx && $j < $ny) {
         |  long $xi = $a.getLong($i); long $yj = $b.getLong($j);
         |  if ($xi == $yj) { $c++; $i++; $j++; }
         |  else if ($xi < $yj) $i++;
         |  else $j++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  def sortedIntersectCount(a: Column, b: Column): Column =
    Bridge.toColumn(SortedIntersectCount(Bridge.toExpression(a), Bridge.toExpression(b)))
}
