package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (IVF-PQ) approximate nearest neighbor — the
  * compressed-domain scale path beyond sign-LSH and plain IVF.
  *
  * Shape (the standard IVF-PQ pipeline, e.g. Jégou et al. 2011, "Product
  * Quantization for Nearest Neighbor Search" — public method):
  *  - unit-normalize vectors (L2² = 2 − 2·cos on the unit sphere, so
  *    L2-quantization order agrees with cosine order);
  *  - split the `dim` dims into `m` subspaces, train a k-means codebook of
  *    `k` centroids per subspace on a driver-side SAMPLE (seeded Lloyd's —
  *    the codebook is O(m·k·subDim) doubles, a literal like the LSH
  *    planes);
  *  - encode every corpus vector as `m` small codes (nearest sub-centroid
  *    per subspace): dim floats → m code ints, a ~32× compression at
  *    (m,k) = (8,16) over 64 float dims;
  *  - per query, precompute the asymmetric-distance LUT: exact squared
  *    distance from the query's sub-vector to EVERY codebook entry
  *    (m·k doubles, computed once per query, not per pair);
  *  - candidate generation rides the IVF cell equi-join (never a cross
  *    product); the ADC score of a candidate is m LUT lookups — no float
  *    math against the raw vector;
  *  - exact cosine re-rank of the per-query ADC shortlist
  *    (`rerank·kNeighbors` rows) only.
  *
  * At 100 TB the win is the scan: probed cells are read as m-byte codes
  * (RAM-resident at billions of rows), the full float vectors are touched
  * only for the shortlist. Encoding happens ONCE, at [[IvfIndex.build]]
  * time with the native kernel ([[graft.plans.PqEncode]]), and the codes
  * are PERSISTED in the cell-partitioned layout — the serve path scans
  * them from disk instead of re-encoding the corpus per query. The HOF
  * forms below ([[encodeCol]]/[[lutCol]]) are the bit-equivalence oracle
  * for the kernels (asserted in PqSpec), not the production path.
  */
object Pq {

  /** codebooks(mi)(ki) = centroid vector of subspace `mi`, code `ki`. */
  type Codebooks = Array[Array[Array[Double]]]

  /** Deterministic driver-side Lloyd's: seeded distinct-point init, mean
    * update, empty clusters keep their previous centroid. */
  private[graft] def lloyd(
      pts: Array[Array[Double]], k: Int, iters: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val n = pts.length
    var centers = rnd.shuffle(pts.indices.toVector).take(math.min(k, n))
      .map(pts(_).clone).toArray
    if (centers.length < k) // tiny corpus: pad with repeats, harmless
      centers = Array.tabulate(k)(i => centers(i % centers.length).clone)
    val d = pts.head.length
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < d) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    for (_ <- 0 until iters) {
      val sums = Array.fill(k, d)(0.0)
      val cnts = Array.fill(k)(0L)
      pts.foreach { p =>
        var best = 0; var bestD = Double.MaxValue; var ki = 0
        while (ki < k) {
          val dd = sq(p, centers(ki))
          if (dd < bestD) { bestD = dd; best = ki }
          ki += 1
        }
        cnts(best) += 1
        var i = 0; while (i < d) { sums(best)(i) += p(i); i += 1 }
      }
      for (ki <- 0 until k if cnts(ki) > 0; i <- 0 until d)
        centers(ki)(i) = sums(ki)(i) / cnts(ki)
    }
    centers
  }

  private def normalized(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n > 0) v.map(_ / n) else v
  }

  /** Train per-subspace codebooks on a seeded sample (driver-side: the
    * sample is O(maxRows·dim) doubles — the same budget as IVF training). */
  def trainCodebooks(
      corpus: DataFrame, vecCol: String, m: Int, k: Int,
      seed: Long = 42L, maxRows: Int = 2000): Codebooks = {
    val sample = corpus
      .sample(withReplacement = false, 0.5, seed).limit(maxRows)
      .select(Similarity.asDouble(col(vecCol)).as("v"))
      .collect().map(r => normalized(r.getSeq[Double](0).toArray))
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    Array.tabulate(m) { mi =>
      lloyd(sample.map(_.slice(mi * subDim, (mi + 1) * subDim)), k,
        iters = 8, seed = seed + mi)
    }
  }

  private def litArr(a: Array[Double]): Column =
    array(a.map(lit).toIndexedSeq: _*)

  /** Squared L2 between a (bound) sub-vector column and a literal. */
  private def sqDist(sub: Column, c: Array[Double]): Column =
    aggregate(zip_with(sub, litArr(c), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** HOF REFERENCE form of PQ encode (bit-equivalence with the native
    * kernel [[graft.plans.PqEncode]] asserted in PqSpec): array<int>,
    * length m. Per subspace: argmin over the k codebook entries —
    * array_min on (dist, code) structs gives (lowest dist, lowest code)
    * determinism. Takes an already-normalized vector; the native kernel
    * normalizes internally. */
  def encodeCol(vNorm: Column, cb: Codebooks): Column = {
    val subDim = cb(0)(0).length
    array(cb.zipWithIndex.map { case (book, mi) =>
      val sub = slice(vNorm, mi * subDim + 1, subDim)
      val scored = array(book.zipWithIndex.map { case (c, ki) =>
        struct(sqDist(sub, c).as("d"), lit(ki).as("code"))
      }.toIndexedSeq: _*)
      array_min(scored).getField("code")
    }.toIndexedSeq: _*)
  }

  /** HOF REFERENCE form of the per-query ADC lookup table (native kernel:
    * [[graft.plans.PqLut]]): exact squared distance from the query's
    * sub-vector to every codebook entry, flattened m-major
    * (index = mi·k + ki), so a candidate's score is m element_at's. */
  def lutCol(qNorm: Column, cb: Codebooks): Column = {
    val subDim = cb(0)(0).length
    array(cb.zipWithIndex.flatMap { case (book, mi) =>
      val sub = slice(qNorm, mi * subDim + 1, subDim)
      book.map(c => sqDist(sub, c))
    }.toIndexedSeq: _*)
  }

  /** IVF-PQ top-k: IVF cell candidates → ADC shortlist → exact re-rank,
    * served from the PERSISTED [[IvfIndex]] (codes encoded once at build
    * time and stored in the cell-partitioned layout — the compressed-domain
    * scan reads `(id, codes)` and never touches the raw-vector pages;
    * [[IvfIndex.pqTopK]] holds the serve-path plan). The per-JVM index
    * cache means one build per (corpus, quantizer config) and every later
    * query batch hits the on-disk codes — the serve-many-probes shape. */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      kNeighbors: Int,
      m: Int = 8,
      kCodes: Int = 16,
      nCells: Int = 16,
      nProbe: Int = 4,
      rerank: Int = 4
  ): DataFrame =
    IvfIndex.cachedFor(corpus, idCol, vecCol, nCells, m, kCodes)
      .pqTopK(queries, idCol, vecCol, kNeighbors, nProbe, rerank)
}
