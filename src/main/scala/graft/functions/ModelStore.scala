package graft.functions

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Durable artifacts for the trained models — train once, PUBLISH, score
  * everywhere: the missing piece between the in-JVM frozen-model contract
  * (every `train`/`scoreWith` pair in [[LangModel]], [[QualityClassifier]],
  * [[Dsir]], [[graft.plans.Bpe]]) and a production topology where the
  * trainer, the batch scorers, and the streaming scorers are DIFFERENT
  * jobs on different machines. The reference has no model surface at all
  * (its scalar tier is user lambdas, `/root/reference/source/koalas/
  * dataframe.d:238-262`); this is the LLM-pipeline artifact tier, the
  * model-sized sibling of [[PairStore]] / [[SignatureStore]] /
  * [[IvfIndex]].
  *
  * '''Layout & crash model''' (the store tier's convention, data-first /
  * manifest-last): each publish stages its model tables under a SALTED
  * per-publish subdir `t<nonce>/<table>/` that no other attempt can
  * collide with, then commits the `dir/_MODEL` manifest (scalars, the
  * model kind, the `tables` pointer, the nonce) through the store tier's
  * one publish ([[StoreCommit.publish]]: tmp write, referenced-path
  * check, atomic create-exclusive move, nonce read-back). Two publishers
  * racing one dir therefore resolve to exactly one winner WHOSE OWN
  * tables the winning manifest references —
  * the loser's staging is unreferenced garbage, never a torn mix (the
  * round-13 layout staged tables at fixed names, where a loser could
  * rewrite a winner's tables between its table writes and its manifest
  * commit). A crash before the manifest leaves no `_MODEL`; loads refuse
  * the dir loudly, a RETRIED publish stages a fresh salted subdir and
  * converges, and [[vacuumOrphans]] (run only with no publisher live)
  * reaps the leftovers. Published models are immutable — republishing to
  * a published dir refuses before writing anything.
  *
  * Model tables are vocabulary-/bucket-bounded by construction — the
  * artifacts are MBs, not corpus-sized; the parquet detour costs one
  * columnar scan at load and buys cross-job, cross-engine reuse.
  * Loaded frames come straight off parquet (no persist — the scans are
  * pruned and cheap; callers scoring many batches may persist). */
object ModelStore {

  private val Store = "ModelStore"

  /** Published models are immutable: refuse a publish into a dir that
    * already holds a committed `_MODEL`. */
  private def requireUnpublished(fs: FileSystem, dir: String): Unit =
    if (fs.exists(new Path(s"$dir/_MODEL")))
      throw new java.util.ConcurrentModificationException(
        s"$Store: $dir/_MODEL already exists — published models are " +
          "immutable; publish to a fresh path or delete the dir first")

  /** Stage-then-commit shared by every save*: allocate the publish nonce,
    * let `writeTables` stage under the salted `t<nonce>` subdir, then
    * publish the manifest referencing it. The publish re-verifies the
    * staged subdir right before its exclusive move: a vacuum racing
    * this publish saw t<nonce> as an unreferenced orphan (on a first
    * publish there is no _MODEL for its manifest recheck to see move),
    * so a reaped staging dir aborts loudly and the caller republishes
    * instead of committing a manifest that references deleted tables.
    * That narrows the reap window to the single move call; the store
    * tier's no-writer-live-during-vacuum rule covers the rest. Exactly
    * one of N same-dir publishers returns; the rest throw with the
    * winner's model intact. */
  private def publish(
      spark: SparkSession, dir: String, kind: String,
      scalars: Seq[String])(writeTables: String => Unit): Unit = {
    val fs = StoreCommit.fsOf(spark, dir)
    requireUnpublished(fs, dir)
    val nonce = java.util.concurrent.ThreadLocalRandom.current()
      .nextLong(1L, Long.MaxValue)
    writeTables(s"$dir/t$nonce")
    StoreCommit.publish(fs, new Path(s"$dir/_MODEL"), nonce,
      (s"kind $kind" +: scalars) :+ s"tables t$nonce", Store,
      referenced = Seq(new Path(s"$dir/t$nonce")))
  }

  /** [[readManifest]] without the kind check — the [[list]] probe. */
  private def readRawManifest(
      fs: FileSystem, dir: String): Map[String, String] =
    StoreCommit.readLines(fs, new Path(s"$dir/_MODEL")).flatMap { l =>
      val i = l.indexOf(' ')
      if (i > 0) Some(l.substring(0, i) -> l.substring(i + 1)) else None
    }.toMap

  /** Parse `dir/_MODEL`, verifying the `kind` line — a missing manifest
    * is an unpublished (crashed or foreign) dir and fails loudly. */
  private def readManifest(
      spark: SparkSession, dir: String, kind: String): Map[String, String] = {
    val fs = StoreCommit.fsOf(spark, dir)
    val p = new Path(s"$dir/_MODEL")
    if (!fs.exists(p))
      throw new IllegalStateException(
        s"$Store: $dir has no _MODEL manifest — not a committed " +
          "model dir (crashed publish leftovers are safe to delete)")
    val kv = readRawManifest(fs, dir)
    require(kv.get("kind").contains(kind),
      s"$Store: $dir holds kind '${kv.getOrElse("kind", "?")}', " +
        s"expected '$kind'")
    kv
  }

  /** The committed table root of a parsed manifest: the salted staging
    * subdir it references (or the dir itself for round-13 flat-layout
    * manifests without a `tables` line). */
  private def tableRoot(dir: String, m: Map[String, String]): String =
    m.get("tables").map(t => s"$dir/$t").getOrElse(dir)

  /** Enumerate the COMMITTED models under `root`: one (path, kind,
    * publish nonce) row per child dir holding a `_MODEL` manifest,
    * path-sorted. Crashed publishes (no manifest) are invisible — the
    * ops verb for the artifact tier ("what models exist here?"), and
    * the safe way to discover dirs without knowing each name. */
  def list(spark: SparkSession, root: String): Seq[(String, String, Long)] = {
    val fs = StoreCommit.fsOf(spark, root)
    val r = new Path(root)
    if (!fs.exists(r)) return Seq.empty
    fs.listStatus(r).toSeq.filter(_.isDirectory).flatMap { s =>
      val d = s.getPath.toString
      if (!fs.exists(new Path(s"$d/_MODEL"))) None
      else {
        val m = readRawManifest(fs, d)
        Some((d, m.getOrElse("kind", "?"),
          m.get("nonce").map(_.toLong).getOrElse(0L)))
      }
    }.sortBy(_._1)
  }

  /** Reap a model dir's unreferenced leftovers: stale `.tmp_MODEL_*`
    * files and `t<nonce>` staging dirs the committed manifest does not
    * reference (crashed or losing publishes), or ALL of them when the
    * dir has no manifest at all. Run only when no publisher is live —
    * the store tier's vacuum rule (a reap can race an in-flight publish
    * into a loud abort). */
  def vacuumOrphans(spark: SparkSession, dir: String): Unit = {
    val fs = StoreCommit.fsOf(spark, dir)
    val root = new Path(dir)
    if (!fs.exists(root)) return
    def liveRef: Option[String] =
      if (!fs.exists(new Path(s"$dir/_MODEL"))) None
      else readRawManifest(fs, dir).get("tables")
    val live = liveRef
    val victims = fs.listStatus(root).toSeq.filter { s =>
      val n = s.getPath.getName
      n.startsWith(".tmp_MODEL_") ||
        (n.startsWith("t") && n.drop(1).forall(_.isDigit) && !live.contains(n))
    }
    if (victims.isEmpty) return
    // publish-race guard (the store tier's vacuum rule, detector form —
    // see StoreCommit.assertVersionsUnchanged): a publish that COMMITS
    // between the victim scan and this recheck moves the manifest's
    // `tables` reference — abort with nothing deleted. The other
    // interleave (vacuum reaps a staged t<nonce> BEFORE its publish
    // commits) is closed from the writer's side: publish() verifies its
    // staging dir still exists immediately before committing.
    StoreCommit.onBeforeReap()
    if (liveRef != live)
      throw new java.util.ConcurrentModificationException(
        s"$Store vacuum of $dir aborted: the committed manifest changed " +
          "while the orphan set was being computed — a publisher is live; " +
          "nothing was deleted, re-run once publishers are quiesced")
    victims.foreach(s => StoreCommit.deleteOrThrow(fs, s.getPath, Store))
  }

  // Doubles round-trip exactly through java.lang.Double.toString/parse —
  // the manifest never loses precision on discount/prior scalars.
  private def d2s(d: Double): String = java.lang.Double.toString(d)

  /** Publish an interpolated Kneser-Ney bigram LM
    * ([[LangModel.trainKn]]). */
  def saveKn(lm: LangModel.KnLm, dir: String): Unit =
    publish(lm.counts.sparkSession, dir, "kn_bigram", Seq(
      s"types ${lm.bigramTypes}",
      s"vocab ${lm.vocab}",
      s"discount ${d2s(lm.discount)}")) { t =>
      lm.counts.write.mode("errorifexists").parquet(s"$t/counts")
      lm.contexts.write.mode("errorifexists").parquet(s"$t/contexts")
      lm.cont.write.mode("errorifexists").parquet(s"$t/cont")
    }

  /** Load a published KN model; [[LangModel.scoreWithKn]] on the result
    * equals scoring under the in-JVM original ([[ModelStoreSpec]] pins
    * it; the `kn_perplexity_served` oracle pins it cross-engine). */
  def loadKn(spark: SparkSession, dir: String): LangModel.KnLm = {
    val m = readManifest(spark, dir, "kn_bigram")
    val t = tableRoot(dir, m)
    LangModel.KnLm(
      spark.read.parquet(s"$t/counts"),
      spark.read.parquet(s"$t/contexts"),
      spark.read.parquet(s"$t/cont"),
      m("types").toLong, m("vocab").toLong, m("discount").toDouble)
  }

  /** Publish an add-one bigram LM ([[LangModel.train]]). */
  def saveBigram(lm: LangModel.BigramLm, dir: String): Unit =
    publish(lm.counts.sparkSession, dir, "addone_bigram",
      Seq(s"vocab ${lm.vocab}")) { t =>
      lm.counts.write.mode("errorifexists").parquet(s"$t/counts")
      lm.contexts.write.mode("errorifexists").parquet(s"$t/contexts")
    }

  def loadBigram(spark: SparkSession, dir: String): LangModel.BigramLm = {
    val m = readManifest(spark, dir, "addone_bigram")
    val t = tableRoot(dir, m)
    LangModel.BigramLm(
      spark.read.parquet(s"$t/counts"),
      spark.read.parquet(s"$t/contexts"),
      m("vocab").toLong)
  }

  /** Publish an NB quality classifier ([[QualityClassifier.train]]). */
  def saveNb(m: QualityClassifier.NbModel, dir: String): Unit =
    publish(m.tokenCounts.sparkSession, dir, "nb_quality", Seq(
      s"n_pos ${m.nPos}",
      s"n_neg ${m.nNeg}",
      s"vocab ${m.vocab}",
      s"prior_log_odds ${d2s(m.priorLogOdds)}")) { t =>
      m.tokenCounts.write.mode("errorifexists").parquet(s"$t/token_counts")
    }

  def loadNb(spark: SparkSession, dir: String): QualityClassifier.NbModel = {
    val m = readManifest(spark, dir, "nb_quality")
    QualityClassifier.NbModel(
      spark.read.parquet(s"${tableRoot(dir, m)}/token_counts"),
      m("n_pos").toLong, m("n_neg").toLong, m("vocab").toLong,
      m("prior_log_odds").toDouble)
  }

  /** Publish a DSIR importance model ([[Dsir.train]]) — the 256-row
    * log-ratio table. */
  def saveDsir(m: Dsir.DsirModel, dir: String): Unit =
    publish(m.bucketLogRatio.sparkSession, dir, "dsir", Seq.empty) { t =>
      m.bucketLogRatio.write.mode("errorifexists").parquet(s"$t/log_ratio")
    }

  def loadDsir(spark: SparkSession, dir: String): Dsir.DsirModel = {
    val m = readManifest(spark, dir, "dsir")
    Dsir.DsirModel(spark.read.parquet(s"${tableRoot(dir, m)}/log_ratio"))
  }

  /** Publish a BPE merge table ([[graft.plans.BpeTrain]] output) as
    * (rank, left, right) parquet — rank is the merge order, the only
    * state encode/decode need. */
  def saveBpeMerges(
      spark: SparkSession, merges: Seq[(String, String)], dir: String): Unit = {
    import spark.implicits._
    publish(spark, dir, "bpe_merges", Seq(s"n ${merges.size}")) { t =>
      merges.zipWithIndex.map { case ((a, b), r) => (r, a, b) }
        .toDF("rank", "left", "right")
        .coalesce(1).write.mode("errorifexists").parquet(s"$t/merges")
    }
  }

  def loadBpeMerges(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val m = readManifest(spark, dir, "bpe_merges")
    val rows = spark.read.parquet(s"${tableRoot(dir, m)}/merges")
      .orderBy(col("rank"))
      .select(col("left"), col("right"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    require(rows.size == m("n").toInt,
      s"$Store: $dir merges table has ${rows.size} rows, manifest says ${m("n")}")
    rows
  }

  /** Publish a unigram-LM piece table ([[graft.plans.Unigram]] trainer
    * output) as (ord, piece, prob) parquet — the trainer's sequence
    * order is preserved exactly (tie-breaks in the encode DP follow
    * it). */
  def saveUnigramPieces(
      spark: SparkSession, pieces: Seq[(String, Double)], dir: String): Unit = {
    import spark.implicits._
    publish(spark, dir, "unigram_pieces", Seq(s"n ${pieces.size}")) { t =>
      pieces.zipWithIndex.map { case ((p, pr), i) => (i, p, pr) }
        .toDF("ord", "piece", "prob")
        .coalesce(1).write.mode("errorifexists").parquet(s"$t/pieces")
    }
  }

  def loadUnigramPieces(
      spark: SparkSession, dir: String): Seq[(String, Double)] = {
    val m = readManifest(spark, dir, "unigram_pieces")
    val rows = spark.read.parquet(s"${tableRoot(dir, m)}/pieces")
      .orderBy(col("ord"))
      .select(col("piece"), col("prob"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    require(rows.size == m("n").toInt,
      s"$Store: $dir pieces table has ${rows.size} rows, manifest says ${m("n")}")
    rows
  }
}
