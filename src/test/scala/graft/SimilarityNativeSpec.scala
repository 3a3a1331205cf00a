package graft

import org.apache.spark.sql.functions._
import graft.functions.Similarity

/** The native CosineSimilarity expression must be bit-identical to the HOF
  * composition (same fold order over the same doubles) — this is what
  * keeps the DuckDB oracle and cross-cluster reproducibility intact after
  * swapping in the fast kernel. */
class SimilarityNativeSpec extends SparkSpec {
  import spark.implicits._

  test("native cosine == HOF cosine, bit-for-bit, on all sf0.001 pairs") {
    val e = Tables.embeddings(spark, sf0001).limit(200)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        Similarity.cosine(col("a.v"), col("b.v")).as("native"),
        Similarity.cosineHof(col("a.v"), col("b.v")).as("hof"))
    val diff = pairs
      .filter(col("native") =!= col("hof")) // exact double comparison
      .count()
    assert(diff == 0L, s"$diff pairs differ between native and HOF cosine")
  }

  test("mismatched-dimension vectors yield null, matching the HOF composition") {
    // zip_with pads the shorter side with nulls → the HOF cosine is null;
    // truncating to the common prefix would hide a corrupt embedding
    // behind a plausible similarity
    val df = Seq((Array(1.0, 2.0, 3.0), Array(1.0, 2.0))).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("native"),
        Similarity.cosineHof(col("a"), col("b")).as("hof"))
    val r = df.collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1),
      s"expected null/null, got ${r.get(0)} / ${r.get(1)}")
  }

  test("native cosine of identical vectors is exactly 1-ish and self-consistent") {
    val v = Seq((1L, Array(0.6, 0.8)), (2L, Array(3.0, 4.0))).toDF("id", "v")
    val got = v.as("a").join(v.as("b"), col("a.id") <= col("b.id"))
      .select(Similarity.cosine(col("a.v"), col("b.v")).as("c"))
      .as[Double].collect()
    assert(got.forall(c => math.abs(c - 1.0) < 1e-12)) // colinear vectors
  }

  test("native LSH bucket tags == HOF tags on all sf0.001 embeddings") {
    val tables = (0 until 8).map(t => Similarity.hyperplanes(4, 64, seed = 42L + t))
    val e = Tables.embeddings(spark, sf0001)
    val cmp = e.select(
      Similarity.lshTags(col("embedding"), tables).as("native"),
      Similarity.lshTagsHof(col("embedding"), tables).as("hof"))
    assert(cmp.filter(col("native") =!= col("hof")).count() == 0L)
  }

  test("sorted intersect count == size(array_intersect) on random sorted arrays") {
    import graft.plans.SortedIntersectCount.sortedIntersectCount
    val rnd = new scala.util.Random(7)
    val data = Seq.fill(300)((
      rnd.shuffle((0L to 60L).toList).take(rnd.nextInt(40) + 1).sorted.toArray,
      rnd.shuffle((0L to 60L).toList).take(rnd.nextInt(40) + 1).sorted.toArray))
    val df = data.toDF("a", "b")
    val bad = df.select(
      sortedIntersectCount(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(bad == 0L)
    // edge cases: empty overlap, identical, containment
    val edges = Seq(
      (Array(1L, 2L), Array(3L, 4L), 0),
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L), 3),
      (Array(1L, 2L, 3L), Array(2L), 1),
      (Array.empty[Long], Array(1L), 0))
    val got = edges.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .select(sortedIntersectCount(col("a"), col("b"))).as[Int].collect().toSeq
    assert(got == edges.map(_._3))
  }

  test("native cosine survives whole-stage codegen (no fallback)") {
    val e = Tables.embeddings(spark, sf0001).limit(10)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    val df = e.select(Similarity.cosine(col("v"), col("v")).as("c"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("*("), s"expression fell out of codegen:\n$p")
  }

  test("inline-Java kernels compile in a projection and under whole-stage codegen") {
    // CODEGEN_ONLY and no whole-stage fallback: a kernel whose generated
    // Java does not compile throws here, instead of Spark silently
    // running the interpreted projection (the kernels' scratch locals
    // once collided with an UnsafeProjection's `InternalRow i`)
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.graftsql.Bridge
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val planes = Array(Array(Array(1.0, 0.0), Array(0.0, -1.0)))
    def kernels(longs: Expression, dbls: Expression, strs: Expression, ints: Expression) = Seq(
      plans.SortedIntersectCount(longs, longs), plans.CosineSimilarity(dbls, dbls),
      plans.SignLshBuckets(dbls, planes), plans.DropSortedPositions(strs, ints))
    val confs = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // a projection over nullable inputs, each kernel twice
      val ks = kernels(BoundReference(0, ArrayType(LongType), nullable = true),
        BoundReference(1, ArrayType(DoubleType), nullable = true),
        BoundReference(2, ArrayType(StringType), nullable = true),
        BoundReference(3, ArrayType(IntegerType), nullable = true))
      val out = UnsafeProjection.create(ks ++ ks).apply(InternalRow(
        new GenericArrayData(Array(1L, 2L, 3L)), new GenericArrayData(Array(3.0, 4.0)),
        new GenericArrayData(Array[Any](UTF8String.fromString("a"), UTF8String.fromString("b"))),
        new GenericArrayData(Array(1))))
      for (o <- Seq(0, 4)) {
        assert(out.getInt(o) == 3)
        assert(out.getDouble(o + 1) == 1.0)
        assert(out.getArray(o + 2).toLongArray().toSeq == Seq(1L))
        assert(out.getArray(o + 3).getUTF8String(0).toString == "b" &&
          out.getArray(o + 3).numElements() == 1)
      }
      // whole-stage codegen over a range scan, each kernel twice
      val in = spark.range(3).select(
        array(col("id"), col("id") + 1).as("l"),
        array(col("id").cast("double") + 3.0, lit(4.0)).as("d"),
        array(col("id").cast("string"), lit("x")).as("s"),
        array(lit(1)).as("c"))
      val Seq(l, d, s, c) = Seq("l", "d", "s", "c").map(n => Bridge.toExpression(col(n)))
      val cols = kernels(l, d, s, c).map(Bridge.toColumn)
      val df = in.select((cols ++ cols).zipWithIndex.map { case (c, i) => c.as(s"k$i") }: _*)
      val got = df.collect()
      assert(got.length == 3 && got.forall(r => r.getInt(0) == 2 && r.getInt(4) == 2 &&
        r.getSeq[String](3) == Seq("x") && r.getSeq[String](7) == Seq("x")))
      val p = df.queryExecution.executedPlan.toString()
      assert(p.contains("*("), s"kernels fell out of whole-stage codegen:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bruteForceTopKCached REFUSES an unbounded query slate (corpus-as-queries)") {
    // the exact-reference collect is only bounded by the slate contract;
    // passing a query side wider than MaxQuerySlate must throw loudly
    // instead of silently becoming a corpus-sized driver collect
    val wide = spark.range(Similarity.MaxQuerySlate + 1L)
      .select(col("id").as("vec_id"),
        array(col("id").cast("double"), lit(1.0)).as("embedding"))
    val err = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopKCached(wide, wide, "vec_id", "embedding", k = 2)
    }
    assert(err.getMessage.contains("bounded query slate"))
    // at the cap it still serves
    val ok = Similarity.bruteForceTopKCached(
      wide.limit(5), wide.limit(3), "vec_id", "embedding", k = 2)
    assert(ok.count() > 0)
  }
}
