package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * arXiv:2302.03169): score every raw document by how target-like its
  * hashed n-gram feature distribution is, then keep the highest-
  * importance docs. The published recipe for steering a 100 TB crawl
  * toward a small high-quality target corpus without training anything:
  * fit two bag-of-hashed-ngrams multinomials (target and raw), and each
  * doc's log importance weight is `Σ_b tf(b) · ln(p_target(b) /
  * p_raw(b))` over its hashed feature buckets.
  *
  * Feature hashing here is the first md5 hex byte of each unigram and
  * bigram — 256 buckets, engine-portable (both Spark and DuckDB emit
  * lowercase md5 hex, the same cross-engine determinism trick as
  * `sample_det`), no seed, no vocabulary. The target corpus defaults to
  * the Gopher-rule-passed subset ([[Text.gopherRules]]), keeping the
  * pipeline closed over the input and SQL-checkable; production swaps
  * any target corpus in via [[train]].
  *
  * The reference has no sampling/selection surface at all; this is
  * LLM-pipeline tier ([[Sampling]] holds the unweighted cousins).
  *
  * Scale shape: the model is TWO 256-row bucket tables folded into one
  * 256-row log-ratio table — broadcast by construction, never a
  * shuffled join. Training is one feature pass over each corpus
  * (map-side-combined bucket counts); scoring is one feature pass with
  * a map-side combine on (doc, bucket) — ≤256 rows per doc into the
  * shuffle — a broadcast join, and a per-doc sum. Selection is a
  * TakeOrdered top-k, never a global sort. Integer counts throughout;
  * the one log ratio is rounded to 6 decimals, the float-oracle
  * convention ([[LangModel]]).
  */
object Dsir {

  /** Feature-hash bucket count: md5's first hex byte. Fixed and small
    * ON PURPOSE — the model must stay broadcastable at any corpus size;
    * the paper's quality/selection results hold from 1e4 buckets down
    * (§4.2 ablation), and 256 keeps the DuckDB oracle a 2-char
    * substring compare. */
  val Buckets = 256

  /** A trained DSIR model: the 256-row (bucket, log_ratio) table.
    * `log_ratio(b) = ln((n_t(b)+1)/(N_t+256)) - ln((n_r(b)+1)/(N_r+256))`
    * — add-one smoothed so buckets absent from either corpus score
    * smoothing mass (the frozen-model contract for stream scoring). */
  final case class DsirModel(bucketLogRatio: DataFrame)

  /** (doc_id, b): one row per unigram AND bigram occurrence of each
    * doc, hashed to its md5-prefix bucket. Token array bound to an
    * attribute first (per-element re-eval caveat, [[NearDup.shinglesOf]]). */
  def features(docs: DataFrame): DataFrame = {
    val toks = NearDup.fanOut(docs)
      .select(col("doc_id"), Text.tokens(col("text")).as("_t"))
    val bigrams = transform(
      slice(col("_t"), lit(1), greatest(size(col("_t")) - 1, lit(0))),
      (w, i) => concat(w, lit(" "), element_at(col("_t"), i + lit(2))))
    toks
      .select(col("doc_id"),
        explode(concat(col("_t"), bigrams)).as("_f"))
      .select(col("doc_id"), substring(md5(col("_f")), 1, 2).as("b"))
  }

  /** Per-bucket occurrence counts of a corpus — a ≤256-row frame. */
  private def bucketCounts(docs: DataFrame): DataFrame =
    features(docs).groupBy(col("b")).agg(count(lit(1)).as("n"))

  /** Fit the importance model: bucket counts of `target` and `raw`,
    * folded to the 256-row log-ratio table. Each count table is a
    * bounded ≤256-row collect (the model is driver-metadata-sized BY
    * CONSTRUCTION — [[Buckets]]). */
  def train(raw: DataFrame, target: DataFrame): DsirModel =
    trainFromCounts(raw.sparkSession,
      collectCounts(bucketCounts(raw)),
      collectCounts(bucketCounts(target)))

  /** One bounded collect of a ≤256-row (b, count) frame. */
  private def collectCounts(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** [[train]] over COLLECTED bucket-count maps. Collecting the two
    * ≤256-row tables once (bounded driver metadata, like a codebook) is
    * deliberate: as uncollected frames, every consumer of the model
    * table re-aggregated the feature relation — the scalar-total
    * collects AND the two broadcast builds of the log-ratio join each
    * re-ran the bucket aggregate over the cached features (the r18
    * probe showed the same partial-aggregate stage 2× per count table;
    * guide §1.2 "don't compute things twice"). The log-ratio arithmetic
    * is the identical IEEE op chain the in-plan fold computed
    * (long→double cast, one divide, `java.lang.Math.log`, one
    * subtract), so the model values are bit-identical. */
  private def trainFromCounts(
      s: SparkSession,
      rawN: Map[String, Long], tgtN: Map[String, Long]): DsirModel = {
    val totR = rawN.values.sum
    val totT = tgtN.values.sum
    // an empty corpus yields no rows — fail loudly (an all-smoothing
    // model silently ranks everything equal, which reads as "selection
    // ran" while selecting nothing)
    require(totR > 0, "DSIR raw corpus produced no features")
    require(totT > 0,
      "DSIR target corpus produced no features — empty or unmatched target")
    // DENSIFY over all 256 buckets: buckets unseen in raw or target carry
    // add-one smoothing mass, the frozen-model contract for scoring docs
    // whose features the training corpora never covered.
    def logP(n: Long, total: Long): Double =
      math.log((n + 1L).toDouble / (total + Buckets).toDouble)
    import s.implicits._
    DsirModel(
      (0 until Buckets).map { i =>
        val b = f"$i%02x"
        (b, logP(tgtN.getOrElse(b, 0L), totT) - logP(rawN.getOrElse(b, 0L), totR))
      }.toDF("b", "log_ratio"))
  }

  /** Score `docs` under a frozen model: (doc_id, n_feats, logw) with
    * `logw = Σ_occurrences log_ratio(bucket)` rounded to 6 decimals.
    * The model join is a hard `broadcast` — the table is ≤256 rows by
    * construction, the one case where an unconditional hint is correct
    * at any scale. ONE aggregation on purpose: the broadcast join is
    * narrow, per-doc partial sums fold map-side before the doc_id
    * shuffle, and the single-stateful-operator shape lets
    * [[graft.streaming.StreamOps.dsirStream]] run this same plan in
    * update mode. */
  def scoreWith(m: DsirModel, docs: DataFrame): DataFrame =
    scoreFeatures(m, features(docs))

  /** [[scoreWith]] over a precomputed (doc_id, b) feature relation. */
  private def scoreFeatures(m: DsirModel, feats: DataFrame): DataFrame =
    feats
      .join(broadcast(m.bucketLogRatio), Seq("b"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_feats"),
        round(sum(coalesce(col("log_ratio"), lit(0.0))), 6).as("logw"))

  /** Self-contained weights over one corpus: target = its Gopher-passed
    * subset, raw = the whole corpus. The per-doc importance ranking the
    * selection step and the monitoring dashboards read.
    *
    * ONE feature pass (guide §1.2 "don't compute things twice"): the
    * hashed (doc_id, bucket) relation is persisted and shared by the raw
    * counts, the target counts (the Gopher-passed subset restricted by a
    * doc_id join — identical rows to re-featurizing the subset, since
    * weak labels are one row per doc), and the scoring join. The md5
    * feature hash of every unigram+bigram occurrence is the pipeline's
    * dominant per-row cost; the naive train+score composition paid it
    * three times per corpus. */
  def weights(docs: DataFrame): DataFrame = {
    val d = docs.persist()
    val feats = features(d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val passedIds =
      QualityClassifier.weakLabels(d).filter(col("pass")).select("doc_id")
    // two bounded ≤256-row collects; the first job also materializes the
    // feats cache the target count and the scoring join then read
    val rawN = collectCounts(
      feats.groupBy(col("b")).agg(count(lit(1)).as("n")))
    val tgtN = collectCounts(
      feats.join(passedIds, Seq("doc_id"))
        .groupBy(col("b")).agg(count(lit(1)).as("n")))
    val m = trainFromCounts(d.sparkSession, rawN, tgtN)
    graft.AutoUnpersist.afterFirstUse(scoreFeatures(m, feats), d, feats)
  }

  /** Deterministic top-`n` selection by importance weight — ordered by
    * the ROUNDED logw descending, doc_id tie-break, so both engines cut
    * the same set. (The paper resamples with Gumbel noise; the
    * deterministic top-k is the reproducible variant — equivalent at
    * temperature→0 — matching this engine's no-rand() convention,
    * see [[Sampling]].) */
  def select(docs: DataFrame, n: Int): DataFrame =
    weights(docs).orderBy(col("logw").desc, col("doc_id")).limit(n)
}
