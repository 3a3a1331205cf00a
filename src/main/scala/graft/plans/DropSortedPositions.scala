package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftsql.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}

/** The elements of `tokens` whose 1-based position is NOT in `cut`, where
  * `cut` is a SORTED ascending ARRAY<INT> of positions — one merge walk,
  * O(n + k) per row, replacing the `filter(tokens, (_, i) =>
  * !array_contains(cut, i+1))` fold whose inner `array_contains` scan made
  * the span-cut text rebuild O(n·k) per document (worst-case quadratic on
  * a long heavily-duplicated doc: a 1M-token page with near-full coverage
  * is ~10¹² comparisons on ONE task — a straggler at 100 TB even though
  * the sf0.1 bench never feels it). Sortedness is a graft-side invariant
  * (the cut arrays are produced by `sort_array(collect_set(...))`) that
  * Catalyst cannot know about — the same custom-expression-over-builtin
  * situation as [[SortedIntersectCount]] (SURVEY §7.3 preference (b)).
  *
  * This is the per-doc rebuild kernel of the span-level dedup/decontam
  * operators ([[graft.functions.SubstringDedup.dedupSpansRemoved]],
  * [[graft.functions.Contamination.removeContaminatedSpans]]); callers
  * finish with the codegen'd `array_join(…, " ")`. Cut positions outside
  * [1, n] are skipped by the merge (never match a real position), and
  * duplicate cut entries are harmless — the walk only ever advances.
  */
case class DropSortedPositions(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "drop_sorted_positions"

  override def nullSafeEval(t: Any, c: Any): Any = {
    val toks = t.asInstanceOf[ArrayData]
    val cut = c.asInstanceOf[ArrayData]
    val n = toks.numElements(); val k = cut.numElements()
    val kept = new Array[AnyRef](n)
    var i = 0; var j = 0; var m = 0
    while (i < n) {
      val pos = i + 1
      while (j < k && cut.getInt(j) < pos) j += 1
      if (j < k && cut.getInt(j) == pos) j += 1
      else {
        kept(m) = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
        m += 1
      }
      i += 1
    }
    new GenericArrayData(
      if (m == n) kept else java.util.Arrays.copyOf(kept, m))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, c) => {
      val arrayData = classOf[GenericArrayData].getName
      // fresh local names: see SortedIntersectCount
      val Seq(n, k, kept, j, m, i, pos) =
        Seq("n", "k", "kept", "j", "m", "i", "pos").map(ctx.freshName)
      s"""
         |int $n = $t.numElements(), $k = $c.numElements();
         |Object[] $kept = new Object[$n];
         |int $j = 0, $m = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  int $pos = $i + 1;
         |  while ($j < $k && $c.getInt($j) < $pos) $j++;
         |  if ($j < $k && $c.getInt($j) == $pos) { $j++; }
         |  else {
         |    $kept[$m++] = $t.isNullAt($i) ? null : $t.getUTF8String($i);
         |  }
         |}
         |${ev.value} = new $arrayData(
         |  $m == $n ? $kept : java.util.Arrays.copyOf($kept, $m));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DropSortedPositions {
  /** Column-API entry point: `tokens` ARRAY<STRING>, `cut` a sorted
    * ascending ARRAY<INT> of 1-based positions to drop (NOT nullable —
    * coalesce a left-join miss to an empty array at the call site). */
  def dropSortedPositions(tokens: Column, cut: Column): Column =
    Bridge.toColumn(DropSortedPositions(
      Bridge.toExpression(tokens), Bridge.toExpression(cut)))
}
