package graft.functions

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the k-means
  * counterpart to sign-LSH bucketing (EXT tier; the "IVF or LSH-bucketed
  * variant" scale path). Train a coarse quantizer (k-means, mllib,
  * seeded → deterministic), assign every corpus vector to its nearest
  * centroid cell, probe each query's `nProbe` closest cells, and re-rank
  * exactly (native cosine kernel) within the probed cells only.
  *
  * Scale shape: training samples the corpus (mllib handles it), centroids
  * are O(nCells·dim) driver-side literals (like the LSH planes), cell
  * assignment is a per-row expression, candidate generation is a hash join
  * on the cell id — cost n/nCells·nProbe per query instead of n. The
  * centroid argmax uses the identity argmax(v·c − |c|²/2) =
  * argmin |v−c|², so assignment needs only dot products against literal
  * arrays.
  */
object Ivf {

  /** struct(cell, score) array for a vector against all centroid literals. */
  private def cellScores(v: Column, centroids: Array[Array[Double]]): Column =
    array(centroids.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      val cl = array(c.map(lit).toIndexedSeq: _*)
      struct(
        (Similarity.dot(v, cl) - lit(c.map(x => x * x).sum / 2)).as("score"),
        lit(i).as("cell"))
    }: _*)

  /** Top-`nProbe` cells by score, descending, ties by cell id — the native
    * kernel ([[graft.plans.CellProbe]]: one expression node, fused loop).
    * [[probeCellsHof]] is the HOF reference form (bit-equivalence asserted
    * in PqSpec); as a tree it is O(nCells·dim) literals re-optimized per
    * query. */
  private[functions] def probeCellsCol(
      v: Column, centroids: Array[Array[Double]], nProbe: Int): Column =
    graft.plans.PqNative.probeCellsNative(v, centroids, nProbe)

  /** Nearest-centroid cell id for a vector — the build-time assignment. */
  private[functions] def assignCellCol(
      v: Column, centroids: Array[Array[Double]]): Column =
    element_at(probeCellsCol(v, centroids, 1), 1)

  private[graft] def probeCellsHof(v: Column, centroids: Array[Array[Double]], nProbe: Int): Column = {
    val scored = cellScores(v, centroids)
    val sorted = array_sort(scored, (l, r) =>
      when(l.getField("score") > r.getField("score"), -1)
        .when(l.getField("score") < r.getField("score"), 1)
        .otherwise((l.getField("cell") - r.getField("cell")).cast("int")))
    transform(slice(sorted, 1, nProbe), s => s.getField("cell"))
  }

  /** Cached centroid matrices, keyed by the corpus plan's canonicalized
    * semantic hash + quantizer config: training runs ONCE per (corpus,
    * config) per JVM and every later query batch reuses the centroids —
    * the production shape (train offline on a sample, serve many probes).
    * Centroid payload is O(nCells·dim) doubles, so the cache stays tiny.
    * Durable: a trained quantizer is an offline-built artifact
    * (build-once-serve-many), not a shared query intermediate. */
  private val centroidCache =
    new graft.PlanCache[Array[Array[Double]]](capacity = 32, durable = true)

  /** Train the coarse quantizer on a SAMPLE of the corpus; returns the
    * centroid matrix. Few iterations — a COARSE quantizer only partitions
    * space, it doesn't need converged clusters — and a seeded Bernoulli
    * sample capped at `maxTrainRows`: k-means cell shape stabilizes at a
    * few hundred points per cell, so scanning the full corpus (the whole
    * 100 TB table!) into the trainer buys nothing. */
  def trainCentroids(
      corpus: DataFrame, vecCol: String, nCells: Int, seed: Long = 42L,
      sampleFraction: Double = 0.5, maxTrainRows: Int = 50000
  ): Array[Array[Double]] = {
    val feats = corpus
      .sample(withReplacement = false, sampleFraction, seed)
      .limit(maxTrainRows)
      .select(array_to_vector(Similarity.asDouble(col(vecCol))).as("features"))
    new KMeans().setK(nCells).setSeed(seed).setMaxIter(5)
      .setFeaturesCol("features")
      .fit(feats).clusterCenters.map(_.toArray)
  }

  /** [[trainCentroids]] through the per-JVM cache. */
  def centroidsFor(
      corpus: DataFrame, vecCol: String, nCells: Int, seed: Long = 42L
  ): Array[Array[Double]] = {
    centroidCache.getOrCompute(
      graft.PlanCache.keyOf(corpus, vecCol, nCells, seed),
      graft.BuildTimer.timed("ivf_centroids")(
        trainCentroids(corpus, vecCol, nCells, seed)))
  }

  /** IVF top-k: probe the query's nearest `nProbe` cells, exact cosine
    * re-rank within them. */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4
  ): DataFrame = {
    val centroids = centroidsFor(corpus, vecCol, nCells)
    val c = NearDup.fanOut(corpus).select(
      col(idCol).as("nid"), Similarity.asDouble(col(vecCol)).as("nv"))
      .withColumn("cell",
        assignCellCol(col("nv"), centroids))
    val q = queries.select(
      col(idCol).as("qid"), Similarity.asDouble(col(vecCol)).as("qv"))
      .withColumn("cell", explode(probeCellsCol(col("qv"), centroids, nProbe)))
    val sims = c.join(broadcast(q), "cell")
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        Similarity.cosine(col("qv"), col("nv")).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    sims.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("qid"), col("nid"), round(col("sim"), 6).as("sim"))
      .orderBy(col("qid"), col("nid"))
  }
}
