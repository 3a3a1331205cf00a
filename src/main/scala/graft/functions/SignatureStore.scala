package graft.functions

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Persisted dedup signature store — the [[IvfIndex]] of text dedup: the
  * per-document signatures (exact content hash + sorted n-gram hash
  * array) are computed ONCE at ingest time and written as parquet; every
  * future batch screens against the STORE, never against re-shingled
  * corpus text. At 100 TB this is the difference between a batch-sized
  * job and re-reading the corpus per ingest:
  *
  *   - the store row is (doc_id, exact_h, arr, n_shingles) — tens of
  *     bytes of hashes per doc instead of the document body;
  *   - screening reads only the columns it needs (exact_h for the
  *     anti-join, arr/n_shingles for the prefix-filter candidates), both
  *     column-pruned at the parquet scan;
  *   - accepted batches [[append]] their signatures — batch-sized
  *     writes, no compaction of history required.
  *
  * Screening semantics match the `dedup_incremental` contract: a batch
  * doc survives iff it is its batch exact-group's keeper, its exact hash
  * is not already ingested, and it has no ≥threshold near-dup in the
  * store or earlier in the batch.
  *
  * '''Layout & write contract''' ([[StoreCommit]]'s one layout, shared
  * with [[PairStore]] and [[IvfIndex]]): signature rows live in
  * immutable salted `data_g<v>.<salt>/` generation dirs;
  * `history/v<N>` manifests list the
  * LIVE files of each committed version; readers resolve every path
  * through the current manifest, so uncommitted and superseded files are
  * invisible. [[append]] writes its generation completely, then
  * CAS-commits — of N writers racing an append, EXACTLY ONE commits and
  * the rest throw `ConcurrentModificationException` with the store
  * unharmed (replaying the loser's batch converges: its docs either
  * re-screen out or re-append fresh rows). Note what the CAS does and
  * does not give: it SERIALIZES commits (no lost or torn writes), but
  * screening stays a caller-side read — two INDEPENDENT ingest streams
  * sharing one store can each accept a doc that near-dups the other's
  * in-flight batch, because neither screen saw the other's uncommitted
  * rows. Screening SEMANTICS therefore keep the single-ingest-stream
  * contract ([[graft.streaming.StreamOps.ingestDedupStream]]'s serial
  * foreachBatch); the CAS makes the multi-writer case safe, not
  * duplicate-proof. [[delete]] is file-pruned copy-on-write at the
  * manifest level ([[StoreCommit.copyOnWrite]]): survivor rows of the
  * dead files land in a new generation and the dead files leave the
  * manifest — superseded files stay on disk for concurrent readers until
  * [[vacuum]]. A crash before any commit leaves unreferenced garbage
  * only. */
object SignatureStore {

  private val Store = "SignatureStore"

  /** Signature frame for a doc table: (doc_id, exact_h, arr, n_shingles).
    * Docs shorter than `w` tokens get an empty array (they can never be
    * near-dups but still screen exactly). */
  def signatures(docs: DataFrame, w: Int = 3): DataFrame = {
    val arrs = NearDup.shingleHashArrays(docs, w)
      .select(col("doc_id"), col("arr"), col("n_shingles"))
    docs.select(col("doc_id"), md5(lower(trim(col("text")))).as("exact_h"))
      .join(arrs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_h"),
        coalesce(col("arr"), array().cast("array<bigint>")).as("arr"),
        coalesce(col("n_shingles"), lit(0)).as("n_shingles"))
  }

  /** Build (overwrite) the store from an initial corpus: the store's
    * history starts over at manifest v0. */
  def build(docs: DataFrame, dir: String, w: Int = 3): Unit = {
    val fs = StoreCommit.fsOf(docs.sparkSession, dir)
    StoreCommit.reset(fs, dir, Store)
    commit(fs, dir, 0L, StoreCommit.writeGeneration(signatures(docs, w), dir, "data", 0L).paths)
  }

  /** Append a batch's signatures (call after [[screenBatch]] accepts):
    * write a complete salted generation, then CAS-commit the grown file
    * list; a batch without rows commits nothing. A loser of a
    * concurrent-append race throws with the store unharmed; replaying
    * its batch (screen + append) converges. */
  def append(docs: DataFrame, dir: String, w: Int = 3): Unit = {
    val fs = StoreCommit.fsOf(docs.sparkSession, dir)
    val (v, live) = liveFiles(fs, dir)
    val fresh = StoreCommit.writeGeneration(signatures(docs, w), dir, "data", v + 1)
    if (fresh.hasRows) commit(fs, dir, v + 1, live ++ fresh.paths)
  }

  /** Delete signatures by doc id — the retention pass: once a document
    * is forgotten, future batches must stop being screened against it
    * (a new doc that matches only a deleted one must now be ACCEPTED).
    * File-pruned copy-on-write at the MANIFEST level
    * ([[StoreCommit.copyOnWrite]]): one columnar `doc_id` scan of the
    * live files tags those holding deleted ids (the signature arrays'
    * pages are never read), their survivor rows are written as a new
    * salted generation, and the CAS commit swaps the dead files for the
    * new ones. Superseded files stay on disk for racing readers until
    * [[vacuum]]; a crash before the commit leaves only an unreferenced
    * generation. Replaying a completed delete is a no-op
    * (already-deleted ids match no live file). Ids of the store's
    * `doc_id` type go through [[StoreCommit.withIds]]' driver-local
    * choice; others are broadcast-joined. */
  def delete(spark: SparkSession, ids: DataFrame, dir: String): Unit = {
    val fs = StoreCommit.fsOf(spark, dir)
    val (v, live) = liveFiles(fs, dir)
    val idCol = ids.select(col(ids.columns.head))
    val store = readFiles(spark, dir, live)
    StoreCommit.withIds(idCol, idCol.schema.head.dataType == store.schema("doc_id").dataType) { del =>
      StoreCommit.copyOnWrite(spark, dir, "data", v + 1, live, del, Seq("doc_id"))
        .foreach(commit(fs, dir, v + 1, _))
    }
  }

  /** Fold the live signature files into ~`targetFileBytes` outputs as a
    * new committed version ([[StoreCommit.compact]]) — the small-files
    * compaction a long micro-batch ingest history needs (every
    * [[append]] adds a generation). Logical content identical;
    * superseded files stay for pinned readers until [[vacuum]].
    * Explicit, never auto-triggered ([[PairStore]]'s auto-compaction
    * folds edge-sized pair files; the signature table carries the full
    * shingle-hash arrays, so this rewrite is signature-corpus-sized and
    * an ingest loop schedules it). */
  def compact(
      spark: SparkSession, dir: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    val fs = StoreCommit.fsOf(spark, dir)
    val (v, live) = liveFiles(fs, dir)
    val gen =
      StoreCommit.compact(readFiles(spark, dir, live), live, dir, "data", v + 1, targetFileBytes)
    commit(fs, dir, v + 1, gen.paths)
  }

  /** Retire manifests older than the newest `keepLast` and delete the
    * data files no retained manifest references — superseded delete
    * targets, crashed appends' orphans, and losing racers' generations
    * ([[StoreCommit.vacuum]]). Run it only when no writer is live: a
    * reap can race a not-yet-committed generation into a loud commit
    * abort. */
  def vacuum(spark: SparkSession, dir: String, keepLast: Int = 2): Unit = {
    val fs = StoreCommit.fsOf(spark, dir)
    StoreCommit.vacuum(fs, dir, Store, keepLast)(v => liveFiles(fs, dir, Some(v))._2)
  }

  /** The stored signature table at committed version `at` — the CURRENT
    * one when None: a consistent snapshot that stays valid while
    * appends/deletes race ahead (until [[vacuum]] retires it). A pin is
    * what makes "screen this batch against the store AS OF version V"
    * reproducible after the store has moved on, as a [[PairStore]]
    * snapshot or an [[IvfIndex.at]] handle is. Throws if `at` was never
    * committed or has been vacuumed past retention. */
  def stored(spark: SparkSession, dir: String, at: Option[Long] = None): DataFrame =
    readFiles(spark, dir, liveFiles(StoreCommit.fsOf(spark, dir), dir, at)._2)

  /** Committed versions, ascending (the audit/ops verb). */
  def versions(spark: SparkSession, dir: String): Seq[Long] =
    StoreCommit.committedVersions(StoreCommit.fsOf(spark, dir), dir).sorted

  /** Surviving doc ids of a new batch screened against the store:
    * batch-exact-keeper ∧ exact hash unseen ∧ no near-dup vs store ∧ no
    * near-dup vs smaller batch id, in `doc_id` order.
    *
    * A batch with integral doc ids whose signatures fit the driver-local
    * row bound ([[StoreCommit.localRows]]; signatures are collected
    * exploded, one row per shingle hash, so the bound counts hashes, not
    * documents) is screened on the driver: the exact-hash keepers and
    * the batch-internal near-dups are computed in memory, and ONE
    * column-pruned store scan keeps the rows whose `exact_h` is a batch
    * hash or whose PPJoin prefix shares a hash with a batch prefix —
    * lossless for Jaccard ≥ `threshold`, as in
    * [[NearDup.ngramJaccardPairs]] — collected under the same bound and
    * verified exactly on the driver. The result is a local frame.
    * Otherwise every join is distributed and batch-sized on one side,
    * over the same cached batch signatures; the store side is touched
    * via column-pruned scans and the prefix hash join only. */
  def screenBatch(
      spark: SparkSession, batch: DataFrame, dir: String,
      threshold: Double, w: Int = 3): DataFrame = {
    val store = stored(spark, dir)
    val batchSigs = signatures(batch, w).persist()
    localScreen(spark, store, batchSigs, threshold) match {
      case Some(survivors) =>
        batchSigs.unpersist(blocking = false)
        survivors
      case None =>
        val keepers = batchSigs.groupBy(col("exact_h"))
          .agg(min(col("doc_id")).as("doc_id"))
        val afterExact = keepers
          .join(store.select(col("exact_h")).distinct(), Seq("exact_h"), "left_anti")
          .select(col("doc_id"))
        val storeArrs = store
          .select(col("doc_id"), col("arr"), col("n_shingles"))
          .filter(col("n_shingles") > 0)
        val batchArrs = batchSigs
          .select(col("doc_id"), col("arr"), col("n_shingles"))
          .filter(col("n_shingles") > 0)
        val ndStore = NearDup
          .acrossArrays(batchArrs, storeArrs, threshold)
          .select(col("id_a").as("doc_id")).distinct()
        val ndBatch = NearDup.ngramJaccardPairs(batch, threshold, w)
          .select(col("id_b").as("doc_id")).distinct()
        // batchSigs released once the survivor set is first materialized —
        // an ingest loop screens many batches and must not accumulate one
        // cached signature table per call
        graft.AutoUnpersist.afterFirstUse(
          afterExact
            .join(ndStore, Seq("doc_id"), "left_anti")
            .join(ndBatch, Seq("doc_id"), "left_anti")
            .orderBy(col("doc_id")),
          batchSigs)
    }
  }

  /** One signature on the driver. */
  private final case class Sig(id: Long, exactH: String, arr: Array[Long])

  /** [[screenBatch]] on the driver, or None when the batch's or its
    * store candidates' signatures exceed the driver-local row bound, or
    * the doc ids are null or not integral. Candidate pairs are the
    * distributed path's — rows sharing a hash within both PPJoin
    * prefixes ([[NearDup.prefixLenCol]]) — and each is verified with the
    * same exact Jaccard. */
  private def localScreen(
      spark: SparkSession, store: DataFrame, batchSigs: DataFrame,
      threshold: Double): Option[DataFrame] = {
    val idType = batchSigs.schema("doc_id").dataType
    if (!StoreCommit.isIntegral(idType)) return None
    // signatures collected exploded — one row per hash, its position
    // first (an empty array yields one null-position row) — and regrouped
    // in collect order: a signature's rows arrive consecutively and in
    // array order, so each position 0 (or null) starts the next one
    def exploded(sigs: DataFrame): DataFrame = sigs.select(col("doc_id"), col("exact_h"),
      posexplode_outer(col("arr")).as(Seq("pos", "h")))
    def sigsOf(rows: Array[Row]): Seq[Sig] = {
      val starts = rows.indices.filter(i => rows(i).isNullAt(2) || rows(i).getInt(2) == 0)
      (starts :+ rows.length).sliding(2).collect { case Seq(lo, hi) =>
        val r = rows(lo)
        Sig(r.get(0).asInstanceOf[Number].longValue, r.getString(1),
          rows.slice(lo, hi).filterNot(_.isNullAt(3)).map(_.getLong(3)))
      }.toSeq
    }
    // sized by one aggregate before anything is collected; it also fills
    // the signature cache the distributed path reads when this is over
    // the bound
    val sized = batchSigs.agg(count(lit(1)), count(col("doc_id")),
      coalesce(sum(greatest(size(col("arr")), lit(1))), lit(0L))).head
    if (sized.getLong(0) != sized.getLong(1)) return None // a null doc id
    if (!StoreCommit.fitsLocal(sized.getLong(2))) return None
    val batchRows = exploded(batchSigs).collect()
    val batch = sigsOf(batchRows)
    def prefix(s: Sig): Array[Long] = {
      val n = s.arr.length
      s.arr.take((n - math.ceil(threshold * n - 1e-9).toLong + 1).toInt)
    }
    val arrs = batch.filter(_.arr.nonEmpty)
    val byPrefix: Map[Long, Seq[Sig]] =
      arrs.flatMap(s => prefix(s).map(_ -> s)).groupMap(_._1)(_._2)
    def nearDup(a: Sig, b: Sig): Boolean = {
      var i = 0; var j = 0; var inter = 0
      while (i < a.arr.length && j < b.arr.length) {
        if (a.arr(i) == b.arr(j)) { inter += 1; i += 1; j += 1 }
        else if (a.arr(i) < b.arr(j)) i += 1
        else j += 1
      }
      inter.toDouble / (a.arr.length + b.arr.length - inter) >= threshold
    }
    def partners(s: Sig): Seq[Sig] = prefix(s).toSeq.flatMap(byPrefix.getOrElse(_, Nil))
    // ONE store scan: rows sharing an exact hash or a prefix hash
    val hashes = batch.flatMap(s => Option(s.exactH)).distinct
    val prefixHashes = byPrefix.keys.toSeq
    val candidates =
      if (hashes.isEmpty && prefixHashes.isEmpty) Seq.empty[Sig]
      else sigsOf(StoreCommit.localRows(exploded(store.filter(
          StoreCommit.inSet(col("exact_h"), hashes) ||
            (col("n_shingles") > 0 && exists(
              slice(col("arr"), lit(1), NearDup.prefixLenCol(col("n_shingles"), threshold)),
              h => StoreCommit.inSet(h, prefixHashes))))))
        .getOrElse(return None))
    val storeHashes = candidates.flatMap(s => Option(s.exactH)).toSet
    val ndStore = candidates.filter(_.arr.nonEmpty)
      .flatMap(c => partners(c).filter(nearDup(_, c)).map(_.id)).toSet
    val ndBatch = arrs
      .flatMap(b => partners(b).filter(a => a.id < b.id && nearDup(a, b)).map(_ => b.id)).toSet
    val survivors = batch.groupBy(s => Option(s.exactH)).toSeq
      .collect { case (h, group) if !h.exists(storeHashes) => group.map(_.id).min }
      .filterNot(id => ndStore(id) || ndBatch(id))
      .sorted
    Some(StoreCommit.localFrame(spark, StructType(Seq(StructField("doc_id", idType))),
      survivors.map(id => Row(StoreCommit.boxAs(idType)(id)))))
  }

  // ------------------------------------------------------------------ //

  /** CAS-commit `files` (relative to `dir`) as version `v`. */
  private def commit(fs: FileSystem, dir: String, v: Long, files: Seq[String]): Unit =
    StoreCommit.commitManifest(fs, dir, v, files.sorted.map(f => s"file $f"),
      Store, files)

  /** Committed version `at` — the head when None — and its live files
    * ([[StoreCommit.pinned]]). */
  private def liveFiles(
      fs: FileSystem, dir: String, at: Option[Long] = None): (Long, Seq[String]) = {
    val files = Seq.newBuilder[String]
    val v = StoreCommit.pinned(fs, dir, Store, at) { case Array("file", f) => files += f }
    (v, files.result())
  }

  private def readFiles(
      spark: SparkSession, dir: String, files: Seq[String]): DataFrame = {
    require(files.nonEmpty,
      s"$Store $dir manifest lists no files — corrupt store?")
    StoreCommit.readParquet(spark, files.map(f => s"$dir/$f"))
  }
}
