package graft

import graft.functions.Clustering

/** Deterministic Lloyd's k-means ([[graft.functions.Clustering
  * .kmeansAssign]]) — convergence, tie-breaking, the empty-cluster
  * branch, and layout invariance. Oracle parity at sf is `embed_kmeans`
  * in CORRECTNESS. */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  test("well-separated clusters converge to the obvious assignment") {
    // ids 1,3 near the origin; 2,4 near (10,10) — init seeds clusters
    // from ids 1 and 2, so each group already holds one seed
    val df = Seq(
      (1L, Seq(0f, 0f)), (2L, Seq(10f, 10f)),
      (3L, Seq(0f, 1f)), (4L, Seq(10f, 9f))
    ).toDF("vec_id", "embedding")
    val got = Clustering.kmeansAssign(df, "vec_id", "embedding", k = 2, iters = 2)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toSeq
    assert(got === Seq((1L, 0), (2L, 1), (3L, 0), (4L, 1)))
  }

  test("identical seeds: ties go to the smaller cluster, empty cluster keeps its centroid") {
    // seeds (ids 1,2) are IDENTICAL vectors → iteration 1 assigns every
    // point to cluster 0 (tie-break), cluster 1 goes empty and must keep
    // centroid (0,0); iteration 2 then reclaims the origin points for it
    val df = Seq(
      (1L, Seq(0f, 0f)), (2L, Seq(0f, 0f)), (3L, Seq(1f, 0f))
    ).toDF("vec_id", "embedding")
    val got = Clustering.kmeansAssign(df, "vec_id", "embedding", k = 2, iters = 2)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toSeq
    // after iter2: c0 = mean({3}) = (1,0), c1 = mean({1,2}) = (0,0)
    assert(got === Seq((1L, 1), (2L, 1), (3L, 0)))
  }

  test("iters = 0 assigns against the raw seeds") {
    val df = Seq(
      (1L, Seq(0f, 0f)), (2L, Seq(4f, 0f)), (3L, Seq(3f, 0f))
    ).toDF("vec_id", "embedding")
    val got = Clustering.kmeansAssign(df, "vec_id", "embedding", k = 2, iters = 0)
      .select("vec_id", "cluster", "dist")
      .as[(Long, Int, Double)].collect().toSeq
    assert(got === Seq((1L, 0, 0.0), (2L, 1, 0.0), (3L, 1, 1.0)))
  }

  test("assignments are partition-invariant (fixed-point sums)") {
    val df = (1L to 60L).map(i =>
      (i, Seq((i % 7).toFloat * 0.37f, (i % 11).toFloat * 0.13f,
        (i % 5).toFloat * 0.71f)))
      .toDF("vec_id", "embedding")
    val a = Clustering.kmeansAssign(df.repartition(1), "vec_id", "embedding", 4, 3)
      .collect().map(_.toSeq)
    val b = Clustering.kmeansAssign(df.repartition(13), "vec_id", "embedding", 4, 3)
      .collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("fewer rows than k fails loudly") {
    val df = Seq((1L, Seq(0f, 0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Clustering.kmeansAssign(df, "vec_id", "embedding", k = 3, iters = 1)
    }
    assert(e.getMessage.contains("need at least"))
  }

  test("centroidOutliers: planted outlier ranks first, exact scaled distance") {
    // label 0: three vectors near (1,0), one far at (9,9) — the outlier;
    // label 1: two identical vectors — both distance 0, rank by vec_id
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(1.0f, 0.2f), 0),
      (3L, Seq(0.8f, 0.0f), 0), (4L, Seq(9.0f, 9.0f), 0),
      (5L, Seq(2.0f, 2.0f), 1), (6L, Seq(2.0f, 2.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Clustering.centroidOutliers(df, "vec_id", "embedding", "label",
        dim = 2, topK = 2)
      .collect().map(r => (r.getInt(0), r.getInt(2)) -> ((r.getLong(1), r.getDouble(3))))
      .toMap
    assert(got((0, 1))._1 == 4L)
    // exact distance: xs scaled 1e7, n=4, sx=(118e6, 92e6);
    // diff for vec 4 = (9e7*4-118e6, 9e7*4-92e6) = (242e6, 268e6);
    // expected = the EXACT integer cast to double ONCE (the engine's
    // single-rounding contract — a stepwise double product would drift)
    val exact = (BigDecimal(242000000L).pow(2) + BigDecimal(268000000L).pow(2)).toDouble
    assert(got((0, 1))._2 == exact)
    assert(got((1, 1)) == ((5L, 0.0)) && got((1, 2)) == ((6L, 0.0)))
  }
}
