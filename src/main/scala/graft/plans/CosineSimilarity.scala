package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftsql.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native codegen'd cosine similarity over two `ARRAY<DOUBLE>` columns.
  *
  * Semantically identical — bit-for-bit — to the HOF composition
  * `aggregate(zip_with(a,b,*),0.0,+) / (sqrt(Σa²)·sqrt(Σb²))`
  * (`graft.functions.Similarity.cosine`): all three accumulators fold in
  * element order, so results stay reproducible across engines and
  * partitionings. The difference is mechanical: one fused loop over the
  * unsafe array data inside whole-stage codegen, versus three interpreted
  * higher-order traversals with per-element closure dispatch. This is the
  * hot kernel of every candidate-verify step (ANN re-rank, embedding
  * near-dup), i.e. the inner loop of a 100 TB similarity pass.
  *
  * Custom-Expression preference order per SURVEY §7.3: built-ins first —
  * this is the one scalar where the built-in composition measurably drags.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // Inputs must already be ARRAY<DOUBLE> — graft call sites cast explicitly
  // (Similarity.asDouble); no implicit-coercion surface on purpose.
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  // null on MISMATCHED lengths even when both inputs are present — the
  // HOF composition this kernel mirrors returns null there (zip_with
  // pads the shorter side with nulls), and silently truncating to the
  // common prefix would hide a corrupt/mixed-dimension embedding behind
  // a plausible similarity
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // fresh local names: see SortedIntersectCount
      val Seq(n, dot, na, nb, i, xi, yi) =
        Seq("n", "dot", "na", "nb", "i", "xi", "yi").map(ctx.freshName)
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = $a.getDouble($i);
         |    double $yi = $b.getDouble($i);
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  ${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Column-API entry point. */
  def cosineNative(a: Column, b: Column): Column =
    Bridge.toColumn(CosineSimilarity(Bridge.toExpression(a), Bridge.toExpression(b)))
}
