package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftsql.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** All sign-LSH bucket keys of a vector in ONE pass: for each of
  * `nTables` hash tables, the bit-packed signs of `nPlanes` hyperplane
  * dot products. Returns `ARRAY<LONG>` of length nTables.
  *
  * Replaces nTables×nPlanes interpreted HOF dot products per row
  * (`aggregate(zip_with(...))` is CodegenFallback — per-element closure
  * dispatch) with a fused codegen'd triple loop over the unsafe array
  * data; the plane matrix rides along as a codegen reference object.
  * Semantics identical to the HOF composition (`Similarity.lshBucket` per
  * table): same dot-product fold order, `>= 0` sign convention, bit i set
  * for plane i.
  */
case class SignLshBuckets(
    child: Expression,
    planes: Array[Array[Array[Double]]] // [table][plane][dim]
) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sign_lsh_buckets"

  @transient private lazy val nTables = planes.length

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      val table = planes(t)
      var bucket = 0L
      var p = 0
      while (p < table.length) {
        val plane = table(p)
        if (plane.length != x.numElements()) {
          throw new IllegalArgumentException(
            s"sign_lsh_buckets: hyperplane dim ${plane.length} != vector dim " +
              s"${x.numElements()} — derive the plane dim from the corpus")
        }
        var dot = 0.0
        var i = 0
        while (i < plane.length) { dot += x.getDouble(i) * plane(i); i += 1 }
        if (dot >= 0) bucket |= (1L << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val planesRef = ctx.addReferenceObj("planes", planes, "double[][][]")
      val arrayData = classOf[GenericArrayData].getName
      // fresh local names: see SortedIntersectCount
      val Seq(tables, out, t, bucket, p, plane, dot, i) =
        Seq("tables", "out", "t", "bucket", "p", "plane", "dot", "i").map(ctx.freshName)
      s"""
         |double[][][] $tables = $planesRef;
         |long[] $out = new long[$tables.length];
         |for (int $t = 0; $t < $tables.length; $t++) {
         |  long $bucket = 0L;
         |  for (int $p = 0; $p < $tables[$t].length; $p++) {
         |    double[] $plane = $tables[$t][$p];
         |    if ($plane.length != $v.numElements()) {
         |      throw new IllegalArgumentException(
         |        "sign_lsh_buckets: hyperplane dim " + $plane.length +
         |        " != vector dim " + $v.numElements());
         |    }
         |    double $dot = 0.0;
         |    for (int $i = 0; $i < $plane.length; $i++) $dot += $v.getDouble($i) * $plane[$i];
         |    if ($dot >= 0) $bucket |= (1L << $p);
         |  }
         |  $out[$t] = $bucket;
         |}
         |${ev.value} = new $arrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SignLshBuckets {
  /** Column-API entry point: vec must be ARRAY<DOUBLE>. */
  def lshBucketsNative(vec: Column, planes: Seq[Seq[Array[Double]]]): Column =
    Bridge.toColumn(SignLshBuckets(
      Bridge.toExpression(vec),
      planes.map(_.toArray).toArray))
}
