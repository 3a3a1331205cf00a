package graft.functions

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Persisted near-dup pair + cluster-label store — the build-once-serve-
  * many artifact for the whole dedup family. Pair finding (shingle/LSH/
  * deletion-key joins) and the connected-components closure are the
  * expensive shared prefix of EVERY keep-one-per-cluster consumer
  * (collapse, keep-best, per-source report, entity resolution, cluster
  * audits); at 100 TB nobody recomputes MinHash pairs per downstream
  * query — the pair table and the labels are written ONCE at ingest and
  * every consumer reads parquet. The per-JVM [[graft.PlanCache]] sharing
  * covers one warm process; this store is the durable cross-job form,
  * the text-dedup analog of [[IvfIndex]] (persisted index) and
  * [[SignatureStore]] (persisted signatures).
  *
  * Layout under `dir` — [[StoreCommit]]'s one layout, IMMUTABLE data +
  * versioned manifests:
  *   - `pairs_g<v>.<salt>/` — salted pair generations holding parquet
  *     pair rows exactly as produced by the finder (e.g. `(id_a, id_b,
  *     jaccard)`); tens of bytes per EDGE, never corpus text. [[build]]
  *     and every [[append]] write one; [[delete]] rewrites survivors into
  *     one; [[compactPairs]] folds the live files into one
  *     (auto-triggered past `maxPairFiles`).
  *   - `labels_g<v>.<salt>/cbucket=<b>/` — salted label generations
  *     holding `(nodeCol, cluster_id)` rows node-sorted, one leaf per
  *     cluster-residue bucket `b = pmod(hash(cluster_id), modulus)`: the
  *     rows of cluster `c` live only in bucket `pmod(hash(c), modulus)`.
  *     A bucket is a list of leaves — a base leaf plus DELTA leaves. An
  *     [[append]] or [[delete]] writes only the rows whose label changed,
  *     as one delta generation, on the driver-local and the distributed
  *     path alike. Readers address the live leaves directly, as
  *     [[IvfIndex]] reads its cells, so the bucket column never reaches
  *     them.
  *   - TOMBSTONES `(cluster_id, version)`, kept in the manifest: a row in
  *     a leaf of generation `g` is live unless its `cluster_id` carries a
  *     tombstone newer than `g`. A verb that relabels a cluster's rows
  *     tombstones the old label and writes the rows again under their new
  *     labels, so no bucket is read or rewritten for it. A tombstone is
  *     versioned because a label can come back: a delete may
  *     re-canonicalize survivors onto a label tombstoned earlier, and
  *     those rows are newer than that tombstone. Readers apply the
  *     tombstones as one `InSet` of tombstoned labels and one map from
  *     label to tombstone version, in the filter of one scan (no join, no
  *     shuffle).
  *   - the FOLD, the one whole-bucket rewrite: a commit that would leave
  *     a bucket with more than [[MaxLeaves]] leaves, or more than
  *     [[MaxTombstones]] tombstones, rewrites that bucket into one leaf in
  *     the same version, amortized over [[MaxLeaves]] deltas as the pair
  *     files' `maxPairFiles` compaction is. Tombstones too many to collect
  *     under the row bound, or of non-integral labels, never reach the
  *     manifest: the commit folds every bucket they touch instead. A
  *     tombstone leaves the manifest once its bucket holds no leaf older
  *     than it.
  *   - `history/v<N>` — the version-N MANIFEST: the residue modulus
  *     (fixed at [[build]]), the complete bucket→leaves map, the live
  *     tombstones and the complete pair-file list. Publishing it through
  *     [[StoreCommit.commitManifest]] IS the commit: readers resolve every
  *     path through it. A manifest written before delta leaves existed
  *     (one `bucket` line per bucket, no tombstone) reads as single-leaf
  *     buckets.
  *
  * '''Crash model.''' The manifest publish is the single commit point.
  * Data staged for an uncommitted version is unreachable garbage — no
  * manifest references it — so [[recover]] deletes the generations
  * staged above the last committed manifest and [[vacuum]] every
  * unreferenced one; there is no journal replay. Tombstones live only in
  * the manifest, so they commit atomically with the delta leaves that
  * carry the rows they hide: a crash leaves neither visible. [[append]]
  * is idempotent under whole-batch replay, including replay after a crash
  * at ANY point (in a folding commit too): the quotient edges derive
  * from the FULL delivered batch lifted onto current labels
  * (already-merged pairs lift to `label == label` and drop out), and a
  * crashed delivery's pair and label generations are in no manifest, so
  * the replay converges to the same store as a clean run.
  *
  * '''Snapshots.''' Because data files are immutable and manifests are
  * self-contained, [[snapshot]] pins a consistent (pairs, labels) view
  * that stays valid while appends and compactions race ahead — the
  * concurrent-reader contract a bare swap protocol cannot give.
  * [[vacuum]] retires manifests older than `keepLast` and deletes the
  * data only they referenced (plus unreferenced orphans, e.g. a losing
  * concurrent writer's generations); readers need no coordination beyond
  * vacuum retention.
  *
  * '''Concurrent writers.''' Commits are serialized by the manifest
  * compare-and-swap of [[StoreCommit.commitManifest]], not by
  * convention: it (1) fails if any version ≥ its own was committed since
  * its manifest was read, (2) verifies every label leaf and pair file it
  * references still exists, and (3) publishes the manifest
  * create-exclusive and read-back-verifies it. Of N writers racing an
  * append, EXACTLY ONE commits; the rest throw
  * `ConcurrentModificationException` with the store unharmed, and
  * replaying their batches converges (append/delete are idempotent under
  * whole-batch replay). The one residual rule: don't run
  * [[recover]]/[[vacuum]] concurrently with a live append — they may
  * reap its in-flight generations, which downgrades that append to a
  * loud commit-time abort (never corruption).
  *
  * The closure is computed FROM the stored pair parquet (read back, not
  * from the live pair plan), so the pair pipeline executes exactly once
  * per build even though both artifacts derive from it. Incremental
  * growth composes with [[SignatureStore]]: screen a batch against the
  * signature store, append accepted signatures, and find pairs only for
  * the batch — batch-sized work, never a corpus rescan.
  */
object PairStore {

  private val Store = "PairStore"

  /** Partition column of the label generations (no leading underscore —
    * Spark's listing hides `_` paths). */
  private val BucketCol = "cbucket"

  /** The fold threshold: the most leaves a bucket keeps after a commit.
    * Past it the commit rewrites the bucket into one leaf, so a reader
    * opens at most this many leaves per bucket. Set from measured read
    * and append times (SCALING.md): the labels read of a 200,000-node,
    * 16-bucket store took 290–370 ms at 2–4 leaves a bucket, 400–430 ms
    * at 8 and 620 ms at 16 (4 CPUs), while its appends measured the same
    * from 2 to 8. At 2, a read of a
    * store with the default 16 buckets opens at most 32 leaves, the most
    * Spark lists on the driver: past 32 paths it lists them with a Spark
    * job on every read. */
  private[graft] val MaxLeaves = 2

  /** The most tombstones a bucket keeps after a commit, past which the
    * commit folds it as past [[MaxLeaves]]: it bounds the manifest and
    * the readers' tombstone filter. Held apart from [[MaxLeaves]]
    * because one append can tombstone several clusters of a bucket: at
    * 2, ScalingSpec's append gate (50 merges over 64 buckets) folded
    * buckets and read 3.03× against its 3× bound; at 4 it folds none. */
  private[graft] val MaxTombstones = 4

  /** A pinned, immutable view of the store at one committed version:
    * `pairs` and `labels` resolve to the exact files that version's
    * manifest listed, so the view stays consistent while later appends,
    * compactions, and bucket rewrites land (until [[vacuum]] passes the
    * pinned version out of retention). */
  final case class Snapshot(version: Long, pairs: DataFrame, labels: DataFrame)

  /** The complete state of one committed version. `buckets` maps each
    * live cluster-residue bucket to its label generations, oldest first
    * (one leaf each); `tombstones` maps a cluster id to its bucket and
    * the version that tombstoned it; `pairFiles` is the full pair-file
    * list (paths relative to the store root). Small by construction: at
    * most [[MaxLeaves]] leaf lines and [[MaxTombstones]] tombstone lines
    * per bucket plus one line per pair file (compaction keeps that
    * bounded). */
  private final case class Manifest(
      version: Long, modulus: Int, buckets: Map[Int, Seq[String]],
      tombstones: Map[Long, (Int, Long)], pairFiles: Seq[String]) {
    def leaves(bk: Int): Seq[String] =
      buckets.getOrElse(bk, Seq.empty).map(g => s"$g/$BucketCol=$bk")
    /** Everything this version reads — what its commit verifies and what
      * vacuum keeps while it is retained. */
    def paths: Seq[String] = buckets.keys.toSeq.sorted.flatMap(leaves) ++ pairFiles
    def lines: Seq[String] = s"modulus $modulus" +:
      (buckets.toSeq.sortBy(_._1).flatMap { case (bk, gs) => gs.map(g => s"bucket $bk $g") } ++
        tombstones.toSeq.sorted.map { case (c, (bk, w)) => s"tombstone $bk $c $w" } ++
        pairFiles.sorted.map(f => s"pairfile $f"))
  }

  // ------------------------------------------------------------------ //
  // build / append / compact / vacuum (the writers' API — CAS-committed)
  // ------------------------------------------------------------------ //

  /** Build (overwrite) the store: persist the verified `pairs`, then the
    * connected-components labels of `nodes` under those pairs, and
    * commit manifest v0.
    *
    * @param nodes    one row per node (the full id universe — isolated
    *                 nodes become singleton clusters)
    * @param pairs    verified pair rows; direction/duplicates don't matter
    * @param shortcut pointer-jumping mode for chain-shaped graphs (typo
    *                 chains) — see [[Clusters.connectedComponents]]
    * @param buckets  cluster-residue modulus: one bucket ≈ one
    *                 comfortable fold unit (at 100 TB / 10^11 docs,
    *                 1024 buckets ≈ 1.6 GB of label rows each). Fixed
    *                 for the store's lifetime.
    */
  def build(
      nodes: DataFrame,
      pairs: DataFrame,
      dir: String,
      nodeCol: String,
      srcCol: String,
      dstCol: String,
      shortcut: Boolean = false,
      buckets: Int = 16): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val spark = nodes.sparkSession
    val fs = StoreCommit.fsOf(spark, dir)
    StoreCommit.reset(fs, dir, Store)
    val pairFiles = StoreCommit.writeGeneration(pairs, dir, "pairs", 0L).paths
    val labels = Clusters.connectedComponents(
      nodes.select(col(nodeCol)), readPairs(spark, dir, pairFiles),
      nodeCol, srcCol, dstCol, shortcut = shortcut)
    val man = Manifest(0L, buckets,
      writeLabels(dir, labels, buckets, 0L).map { case (bk, g) => bk -> Seq(g) },
      Map.empty, pairFiles)
    StoreCommit.commitManifest(fs, dir, 0L, man.lines, Store, man.paths)
  }

  /** Incrementally extend the store with a batch: append the batch's
    * verified pairs and commit the changed labels WITHOUT recomputing the
    * closure over the full corpus. Existing clusters collapse to
    * SUPER-NODES: each delivered pair (a, b) becomes an edge between the
    * CURRENT labels of a and b (new nodes label themselves), so the
    * quotient graph has one node per touched cluster or new doc and one
    * edge per new pair — connected components over it costs O(batch
    * pairs), not O(corpus pairs). Because every label is its cluster's
    * MINIMUM member id, the min label of a merged super-node set is the
    * merged cluster's true minimum member — the canonical-id invariant
    * survives, and the result is row-identical to a full rebuild (pinned
    * by PairStoreSpec and the `dedup_clusters_incr` oracle).
    *
    * A batch with integral ids within the driver-local row bound
    * ([[StoreCommit.localRows]]) runs on the driver: the batch pairs and
    * nodes are collected once, one filtered scan each of the stored pairs
    * and labels yields the fresh pairs, the fresh nodes and the endpoint
    * labels, a union-find closes the quotient graph, and one
    * bucket-addressed read collects the members of the stored clusters
    * merged away. Above the bound (the batch, or the members it merges),
    * or for other id types, the same steps run distributed
    * (broadcast-semi probes and [[Clusters.connectedComponents]]). Either
    * way the commit writes the fresh pairs, ONE delta generation holding
    * the fresh nodes and the relabelled members, and tombstones for the
    * merged-away labels — writes proportional to the rows whose label
    * changed, whatever the bucket sizes, until a fold. A full replay of a
    * completed batch commits nothing on either path.
    *
    * The one O(corpus) cost left is the label SCAN that lifts batch pair
    * endpoints onto current labels — a filtered scan, no corpus shuffle
    * (a node-keyed secondary index would remove even the scan; out of
    * scope here).
    *
    * @param newNodes     one row per NEW node (already-stored ids are
    *                     ignored)
    * @param newPairs     verified pairs touching the batch
    *                     (batch-internal and batch-vs-corpus, e.g. from
    *                     [[NearDup.ngramJaccardAcross]] or a
    *                     [[SignatureStore]] screen); old-old pairs are
    *                     also legal and merge their clusters
    * @param maxPairFiles auto-compaction trigger: past this many live
    *                     pair files the commit folds them into a
    *                     `pairs_g<v>` generation (edge-sized IO,
    *                     amortized over ~maxPairFiles batches)
    */
  def append(
      newNodes: DataFrame,
      newPairs: DataFrame,
      dir: String,
      nodeCol: String,
      srcCol: String,
      dstCol: String,
      shortcut: Boolean = false,
      maxPairFiles: Int = 64): Unit = {
    val spark = newNodes.sparkSession
    // NO automatic recover here: recover() reaps every generation newer
    // than the last committed manifest, which under concurrent writers
    // is exactly the OTHER writer's in-flight salted staging — an
    // implicit recover would let writer B destroy writer A's uncommitted
    // dirs and turn the documented one-winner CAS race into a
    // both-writers-abort. Crash-replay convergence never needed it
    // (salted staging paths are unique per attempt, readers resolve
    // through the manifest, and replays are idempotent); crashed
    // leftovers are unreferenced garbage for an EXPLICIT
    // recover()/vacuum() run when no writer is live.
    val fs = StoreCommit.fsOf(spark, dir)
    val man = manifest(fs, dir)
    val change =
      localAppend(spark, dir, man, newNodes, newPairs, nodeCol, srcCol, dstCol)
        .getOrElse(distributedAppend(spark, dir, man, newNodes, newPairs,
          nodeCol, srcCol, dstCol, shortcut))
    commitChange(spark, fs, dir, man, change, maxPairFiles)
  }

  /** [[append]]'s change computed on the driver — or, before anything is
    * written, None when an id is not integral or the batch or the stored
    * rows it touches exceed the driver-local row bound
    * ([[StoreCommit.localRows]]). */
  private def localAppend(
      spark: SparkSession, dir: String, man: Manifest,
      newNodes: DataFrame, newPairs: DataFrame, nodeCol: String, srcCol: String,
      dstCol: String): Option[Change] = {
    val labels = readLabels(spark, dir, man, man.buckets.keySet.toSeq)
      .select(col(nodeCol), col("cluster_id"))
    val pairs = readPairs(spark, dir, man.pairFiles)
    val t = labels.schema(nodeCol).dataType
    if (!sameIntegral(t, labels, pairs.select(col(srcCol), col(dstCol)),
        newNodes.select(col(nodeCol)), newPairs.select(col(srcCol), col(dstCol)))) return None
    val box = StoreCommit.boxAs(t) _
    val batch = StoreCommit.localRows(newPairs).getOrElse(return None).toSeq
    val nodes = StoreCommit.localRows(newNodes.select(col(nodeCol)))
      .getOrElse(return None).toSeq.filterNot(_.isNullAt(0)).map(idAt(_, 0)).distinct
    val (si, di) = (newPairs.schema.fieldIndex(srcCol), newPairs.schema.fieldIndex(dstCol))
    val ends = batch.map(r => (end(r, si), end(r, di)))
    // fresh-pair screen: the stored pairs whose src is a batch src (one
    // filtered scan). Only the pairs-file append is screened — the label
    // merge below uses the full batch, so a replay whose pairs landed
    // before a crash still re-derives its merges
    val srcs = ends.flatMap(_._1).distinct
    val stored =
      if (srcs.isEmpty) Set.empty[(Long, Long)]
      else StoreCommit.localRows(pairs.select(col(srcCol), col(dstCol))
          .filter(StoreCommit.inSet(col(srcCol), srcs.map(box))))
        .getOrElse(return None).toSeq
        .flatMap(r => for (s <- end(r, 0); d <- end(r, 1)) yield (s, d)).toSet
    val freshPairs = batch.zip(ends).collect {
      case (r, (s, d)) if !(s.isDefined && d.isDefined && stored((s.get, d.get))) => r }
    // the batch nodes' and endpoints' current labels (one filtered scan):
    // the fresh-node screen and the lift onto labels in one
    val ask = (nodes ++ ends.flatMap { case (s, d) => s ++ d }).distinct
    val current =
      if (ask.isEmpty) Map.empty[Long, Long]
      else StoreCommit.localRows(labels.filter(StoreCommit.inSet(col(nodeCol), ask.map(box))))
        .getOrElse(return None).map(r => idAt(r, 0) -> idAt(r, 1)).toMap
    val freshNodes = nodes.filterNot(current.contains)
    val label = current ++ freshNodes.map(n => n -> n)
    // the quotient edges: pairs already inside one cluster lift to
    // label == label and drop out, which is what makes replay a no-op
    val qEdges = ends.flatMap { case (s, d) =>
      for (a <- s; b <- d; la <- label.get(a); lb <- label.get(b) if la != lb) yield (la, lb) }
    val merged = minLabels(Seq.empty, qEdges).filter { case (q, m) => q != m }
    // stored clusters merged away: tombstoned, their members relabelled
    // (one bucket-addressed read)
    val gone = StoreCommit.residues(spark, t, man.modulus,
      merged.keys.toSeq.filterNot(freshNodes.toSet).sorted)
    val members =
      if (gone.isEmpty) Seq.empty[(Long, Long)]
      else StoreCommit.localRows(readLabels(spark, dir, man, gone.values.toSeq.distinct)
          .select(col(nodeCol), col("cluster_id"))
          .filter(StoreCommit.inSet(col("cluster_id"), gone.keys.toSeq.map(box))))
        .getOrElse(return None).toSeq.map(r => idAt(r, 0) -> idAt(r, 1))
    val delta = freshNodes.map(n => n -> merged.getOrElse(n, n)) ++
      members.map { case (n, q) => n -> merged(q) }
    // the fresh pairs land in this attempt's own salted generation, in
    // the distributed path's column order, so a crashed earlier
    // delivery's files stay out of every manifest — replays never
    // double-count pair rows
    val appended =
      if (freshPairs.isEmpty) Seq.empty[String]
      else StoreCommit.writeGeneration(StoreCommit.localFrame(spark, newPairs.schema, freshPairs)
        .select((srcCol +: dstCol +: newPairs.columns.filterNot(Set(srcCol, dstCol)).toSeq)
          .map(col): _*).coalesce(1), dir, "pairs", man.version + 1).paths
    Some(Change(man.pairFiles ++ appended, () => labelFrame(spark, nodeCol, t, delta),
      StoreCommit.residues(spark, t, man.modulus, delta.map(_._2)).values.toSeq.distinct,
      idFrame(spark, "cluster_id", t, gone.keys.toSeq), gone.values.toSeq.distinct))
  }

  /** [[append]]'s change computed distributed — any batch size, any id
    * type: the screens and the quotient closure as broadcast-batch
    * joins; the delta and tombstones are [[localAppend]]'s. */
  private def distributedAppend(
      spark: SparkSession, dir: String, man: Manifest,
      newNodes: DataFrame, newPairs: DataFrame, nodeCol: String,
      srcCol: String, dstCol: String, shortcut: Boolean): Change = {
    // Eager localCheckpoint: the batch is read several times across the
    // screens and writes below, and each read must see the same rows and
    // start from a leaf plan. Batch-sized by contract.
    val batch = newPairs.localCheckpoint(true)
    // Screen ONLY the pairs-file append on already-stored rows — the
    // label merge below deliberately uses the full batch, so a replay
    // whose pairs landed before a crash still re-derives its merges.
    // Shape: the store side is first semi-reduced by a BROADCAST of the
    // batch's endpoints (a stored row can only collide with a replayed
    // pair if its src is a batch endpoint), so the anti-join's store
    // side is batch-sized — the store is scanned, never shuffled.
    val batchSrc = batch.select(col(srcCol)).distinct()
    val storedTouching = readPairs(spark, dir, man.pairFiles)
      .select(col(srcCol), col(dstCol))
      .join(broadcast(batchSrc), Seq(srcCol), "left_semi")
    val freshPairs = batch
      .join(storedTouching, Seq(srcCol, dstCol), "left_anti")
      .localCheckpoint(true)
    // the fresh pairs land in this attempt's own salted generation, so
    // a crashed earlier delivery's files stay out of every manifest —
    // replays never double-count pair rows. A fully-screened (replayed)
    // batch skips the write, which would masquerade as a pairs-only
    // commit
    val appended =
      if (freshPairs.isEmpty) Seq.empty[String]
      else StoreCommit.writeGeneration(freshPairs, dir, "pairs", man.version + 1).paths

    val old = readLabels(spark, dir, man, man.buckets.keySet.toSeq)
      .select(col(nodeCol), col("cluster_id"))
    // Fresh-node screen, same broadcast-batch shape as the pair screen:
    // semi-reduce the corpus label table by the batch's node ids first,
    // then anti-join two batch-sized frames — corpus scanned, not
    // shuffled.
    val batchNodes = newNodes.select(col(nodeCol)).distinct()
    val storedBatchNodes = old.select(col(nodeCol))
      .join(broadcast(batchNodes), Seq(nodeCol), "left_semi")
    val freshNodes = batchNodes
      .join(storedBatchNodes, Seq(nodeCol), "left_anti")
      .localCheckpoint(true)
    // lift each delivered pair onto current labels — the quotient edge
    // list. Pairs already inside one cluster lift to _ls === _ld and
    // drop out, which is exactly what makes replay a no-op. The batch
    // side is broadcast: the corpus-sized label table streams through a
    // map-side semi probe and contributes no shuffle.
    val lab = old
      .unionByName(freshNodes.select(col(nodeCol), col(nodeCol).as("cluster_id")))
      .select(col(nodeCol).as("_n"), col("cluster_id").as("_l"))
    val endLabels = lab
      .join(broadcast(batch.select(col(srcCol).as("_n"))
        .union(batch.select(col(dstCol).as("_n"))).distinct()),
        Seq("_n"), "left_semi")
      .localCheckpoint(true)
    val qEdges = batch
      .select(col(srcCol).as("_s"), col(dstCol).as("_d"))
      .join(endLabels.select(col("_n").as("_s"), col("_l").as("_ls")), "_s")
      .join(endLabels.select(col("_n").as("_d"), col("_l").as("_ld")), "_d")
      .select(col("_ls"), col("_ld"))
      .filter(col("_ls") =!= col("_ld"))
    val qNodes = qEdges.select(col("_ls").as("_q"))
      .union(qEdges.select(col("_ld").as("_q"))).distinct()
    // CC over the touched super-nodes only: (old label -> merged label),
    // identity rows dropped so the delta and tombstones stay merge-sized
    val merged = Clusters
      .connectedComponents(qNodes, qEdges, "_q", "_ls", "_ld",
        shortcut = shortcut)
      .select(col("_q"), col("cluster_id").as("_merged"))
      .filter(col("_q") =!= col("_merged"))
      .localCheckpoint(true)

    // stored clusters merged away: tombstoned, their members relabelled
    // (one bucket-addressed read); the fresh nodes land under their final
    // labels
    val gone = merged.join(freshNodes.select(col(nodeCol).as("_q")), Seq("_q"), "left_anti")
    val fresh = freshNodes.join(broadcast(merged), col(nodeCol) === col("_q"), "left")
      .select(col(nodeCol), coalesce(col("_merged"), col(nodeCol)).as("cluster_id"))
    val goneBk = bucketsOf(gone, "_q", man.modulus)
    val members = readLabels(spark, dir, man, goneBk)
      .join(broadcast(gone), col("cluster_id") === col("_q"))
      .select(col(nodeCol), col("_merged").as("cluster_id"))
    Change(man.pairFiles ++ appended, () => fresh.unionByName(members),
      bucketsOf(fresh.select(col("cluster_id")).union(gone.select(col("_merged"))), "cluster_id",
        man.modulus),
      gone.select(col("_q").as("cluster_id")), goneBk,
      () => Seq(merged, endLabels, freshNodes, freshPairs, batch)
        .foreach(_.unpersist(blocking = false)))
  }

  /** Remove nodes from the store — the retention / right-to-be-forgotten
    * path. Copy-on-write at FILE granularity
    * ([[StoreCommit.copyOnWrite]]), the same shape engines like Delta
    * use for DELETE: one columnar scan of the live pair files finds
    * those holding a pair that touches a deleted id, and ONLY those
    * files are rewritten (survivor rows into this attempt's
    * salted pair generation); untouched files keep their manifest
    * entries, and the superseded ones stay on disk for pinned snapshots
    * until [[vacuum]].
    *
    * Labels are recomputed for the AFFECTED COMPONENTS only: deleting a
    * bridge node must SPLIT its cluster, and deleting a cluster's
    * minimum id must re-canonicalize the survivors, so the closure is
    * re-run — but only over the members of clusters that lost a node
    * (their rows all live in the clusters' residue buckets, so the
    * member read is bucket-addressed, never a corpus scan) and the pairs
    * among the survivors. The min-label invariant holds: the new label
    * of each surviving component is its minimum surviving member.
    *
    * Cost model per delete batch: one O(corpus) label scan to locate
    * the deleted ids and one O(live pairs) columnar scan for file
    * pruning (neither shuffled), then component-sized rewrite/closure
    * work. A batch with integral ids within the driver-local row bound
    * does that work on the driver: the deleted ids are collected once
    * ([[StoreCommit.withIds]]), the label scan finds their clusters,
    * one bucket-addressed read collects those clusters' members, the ONE
    * pair scan yields both the dead files and the pairs among the
    * members, and a union-find closes the survivors. Above the bound, or
    * for other id types, the same steps run distributed (broadcast-semi
    * probes and [[Clusters.connectedComponents]]). Either way the writes
    * are the survivor pairs of the dead files and ONE delta generation
    * holding the survivors' new labels, with the affected clusters
    * tombstoned — component-sized, whatever the bucket sizes; only a
    * fold rewrites a label bucket. When the batch fits but the affected
    * clusters' members or pairs do not (a delete from a cluster larger
    * than the bound), the distributed path starts from the deleted ids
    * and clusters already found, so that fallback repeats only the
    * bucket-addressed member read and the pair scan. The merge-on-read
    * upgrade for PAIRS (deletion vectors applied at read time, folded in
    * at compaction) would trade the pair scan for reader-side work;
    * file-level copy-on-write is the simpler contract and keeps every
    * pair reader untouched.
    *
    * Idempotent under whole-batch replay at any crash point: already-
    * deleted ids have no label row and no surviving pair, so a replay
    * finds nothing to rewrite and commits nothing. Deleting an id that
    * was never stored is a no-op; a deleted id may be re-ingested later
    * via [[append]] (delete is removal, not a forward blocklist — its
    * old pairs are physically gone, so re-ingest starts clean). */
  def delete(
      deletedNodes: DataFrame,
      dir: String,
      nodeCol: String,
      srcCol: String,
      dstCol: String,
      shortcut: Boolean = false): Unit = {
    val spark = deletedNodes.sparkSession
    // no automatic recover — same concurrent-writer hazard as append
    val fs = StoreCommit.fsOf(spark, dir)
    val man = manifest(fs, dir)
    val labels = readLabels(spark, dir, man, man.buckets.keySet.toSeq)
      .select(col(nodeCol), col("cluster_id"))
    val pairs = readPairs(spark, dir, man.pairFiles)
    val t = labels.schema(nodeCol).dataType
    val batch = deletedNodes.select(col(nodeCol))
    StoreCommit.withIds(batch,
        sameIntegral(t, labels, pairs.select(col(srcCol), col(dstCol)), batch)) { ids =>
      // a collected batch with no id touches nothing: nothing to commit
      if (!ids.isEmpty) {
        val change =
          (if (ids.values.isEmpty) Left(None)
          else localDelete(spark, dir, man, labels, pairs, t, ids, nodeCol, srcCol, dstCol)) match {
            case Right(c) => c
            case Left(affected) => distributedDelete(spark, dir, man, ids, affected,
              nodeCol, srcCol, dstCol, shortcut)
          }
        commitChange(spark, fs, dir, man, change, Int.MaxValue)
      }
    }
  }

  /** [[delete]]'s change computed on the driver from the collected ids —
    * or, before anything is written, Left when the stored rows they touch
    * exceed the driver-local row bound ([[StoreCommit.localRows]]). Left
    * carries the deleted ids' clusters as a local frame when already
    * found, so the distributed path does not scan the labels for them
    * again. */
  private def localDelete(
      spark: SparkSession, dir: String, man: Manifest, labels: DataFrame, pairs: DataFrame,
      t: DataType, ids: StoreCommit.Ids, nodeCol: String, srcCol: String,
      dstCol: String): Either[Option[DataFrame], Change] = {
    val box = StoreCommit.boxAs(t) _
    val del = ids.values.get.map(_.asInstanceOf[Number].longValue)
    // the deleted ids' clusters (one labels scan; replayed or never-stored
    // ids drop out here), then those clusters' members (one
    // bucket-addressed read)
    val affected = StoreCommit.localRows(ids.matching(labels, nodeCol))
      .getOrElse(return Left(None)).toSeq.map(idAt(_, 1)).distinct
    val affFrame = idFrame(spark, "cluster_id", t, affected)
    val found = Left(Some(affFrame))
    val affBk = StoreCommit.residues(spark, t, man.modulus, affected)
    val members =
      if (affected.isEmpty) Seq.empty[Long]
      else StoreCommit.localRows(readLabels(spark, dir, man, affBk.values.toSeq.distinct)
          .select(col(nodeCol), col("cluster_id"))
          .filter(StoreCommit.inSet(col("cluster_id"), affected.map(box))))
        .getOrElse(return found).toSeq.map(idAt(_, 0)).distinct
    // ONE pair scan yields both the files holding a dead pair and the
    // pairs among the affected clusters
    val reach = (members ++ del).distinct.map(box)
    val hits = StoreCommit.localRows(pairs
        .select(input_file_name().as("_file"), col(srcCol), col(dstCol))
        .filter(StoreCommit.inSet(col(srcCol), reach) || StoreCommit.inSet(col(dstCol), reach)))
      .getOrElse(return found).toSeq
    val dead = del.toSet
    val deadAbs = hits.filter(r => end(r, 1).exists(dead) || end(r, 2).exists(dead))
      .map(_.getString(0)).distinct
    val deadFiles = man.pairFiles.filter(f => deadAbs.exists(_.endsWith("/" + f))).toSet
    // the closure over the surviving members, on edges with both ends
    // among them (the node-set restriction Clusters applies)
    val survivors = members.filterNot(dead)
    val alive = survivors.toSet
    val cc = minLabels(survivors, hits.flatMap(r =>
      for (s <- end(r, 1); d <- end(r, 2) if alive(s) && alive(d)) yield (s, d))).toSeq
    // the affected clusters are tombstoned and every survivor is written
    // again under its new label — one delta, no bucket rewritten; only
    // the dead files' pairs are rewritten
    Right(Change(StoreCommit.copyOnWrite(spark, dir, "pairs", man.version + 1, man.pairFiles,
        ids, Seq(srcCol, dstCol), Some(deadFiles)).getOrElse(man.pairFiles),
      () => labelFrame(spark, nodeCol, t, cc),
      StoreCommit.residues(spark, t, man.modulus, cc.map(_._2)).values.toSeq.distinct, affFrame,
      affBk.values.toSeq.distinct))
  }

  /** [[delete]]'s change computed distributed — any batch size, any id
    * type; the delta and tombstones are [[localDelete]]'s. `found`: the
    * deleted ids' clusters, when [[localDelete]] already found them. */
  private def distributedDelete(
      spark: SparkSession, dir: String, man: Manifest, ids: StoreCommit.Ids,
      found: Option[DataFrame], nodeCol: String, srcCol: String, dstCol: String,
      shortcut: Boolean): Change = {
    // the clusters of the deleted ids actually stored — batch-sized;
    // replayed or never-stored ids drop out here (corpus scanned via a
    // broadcast semi probe, not shuffled)
    val affLabels = found.getOrElse(
      ids.matching(readLabels(spark, dir, man, man.buckets.keySet.toSeq), nodeCol)
        .select(col("cluster_id")).distinct()
        .localCheckpoint(true))
    // file pruning ([[StoreCommit.copyOnWrite]]): one columnar pass over
    // the live pair files tags each file holding a pair that touches a
    // deleted id, and only those files' survivors are rewritten
    val pairFiles = StoreCommit.copyOnWrite(spark, dir, "pairs", man.version + 1,
      man.pairFiles, ids, Seq(srcCol, dstCol)).getOrElse(man.pairFiles)
    // affected-component closure: members of the clusters that lost a
    // node (bucket-addressed read + broadcast label semi), minus the
    // deleted ids, over the already-rewritten pair set
    val affBk = bucketsOf(affLabels, "cluster_id", man.modulus)
    val members = readLabels(spark, dir, man, affBk)
      .join(broadcast(affLabels), Seq("cluster_id"), "left_semi")
      .select(col(nodeCol))
      .localCheckpoint(true)
    val survivors = ids.survivors(members, Seq(nodeCol))
    val affPairs = readPairs(spark, dir, pairFiles)
      .join(members.select(col(nodeCol).as(srcCol)), Seq(srcCol), "left_semi")
    // the survivors under their new labels are the delta, and the
    // affected clusters are tombstoned
    val cc = Clusters.connectedComponents(
        survivors, affPairs, nodeCol, srcCol, dstCol, shortcut = shortcut)
      .localCheckpoint(true)
    Change(pairFiles, () => cc, bucketsOf(cc, "cluster_id", man.modulus), affLabels, affBk,
      () => Seq(cc, members, affLabels).foreach(_.unpersist(blocking = false)))
  }

  /** Delete the data staged for versions above the last committed
    * manifest — crashed writers' pair and label generations — and
    * manifest tmp files ([[StoreCommit.recover]]). Generations at or
    * below the head are unreferenced-or-live garbage for [[vacuum]].
    * Safe on a healthy store — pure listing checks. Run it ONLY when no
    * writer is live: it reaps every generation newer than the last
    * committed manifest, which includes a concurrent writer's in-flight
    * staging (the reason the writers do NOT call it implicitly — a
    * restarted ingest loop needs no recover to converge; replays are
    * idempotent and crashed leftovers are invisible
    * manifest-unreferenced garbage until this explicit pass). */
  def recover(spark: SparkSession, dir: String): Unit =
    StoreCommit.recover(StoreCommit.fsOf(spark, dir), dir, Store)

  /** Fold the live pair files into ~`targetFileBytes` outputs as a new
    * committed version (labels unchanged; [[StoreCommit.compact]]). Old
    * files stay for pinned readers until [[vacuum]]. */
  def compactPairs(
      spark: SparkSession,
      dir: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    // no automatic recover — same concurrent-writer hazard as append
    val fs = StoreCommit.fsOf(spark, dir)
    val man = manifest(fs, dir)
    val v = man.version + 1
    val next = man.copy(version = v,
      pairFiles = compactInto(spark, dir, man.pairFiles, v, targetFileBytes))
    StoreCommit.commitManifest(fs, dir, v, next.lines, Store, next.paths)
  }

  /** Retire manifests older than the newest `keepLast` and delete the
    * label leaves and pair files no retained manifest references —
    * including orphans from crashed appends ([[StoreCommit.vacuum]]).
    * Snapshots pinned inside the retention window stay valid; older pins
    * fail loudly on read. */
  def vacuum(spark: SparkSession, dir: String, keepLast: Int = 2): Unit = {
    val fs = StoreCommit.fsOf(spark, dir)
    StoreCommit.vacuum(fs, dir, Store, keepLast)(v => manifest(fs, dir, Some(v)).paths)
  }

  // ------------------------------------------------------------------ //
  // readers
  // ------------------------------------------------------------------ //

  /** Pin committed version `at` — the CURRENT one when None — as an
    * immutable view, valid across racing appends/compactions until
    * [[vacuum]] retires it. Throws if `at` was never committed or has
    * been vacuumed past retention. */
  def snapshot(spark: SparkSession, dir: String, at: Option[Long] = None): Snapshot = {
    val man = manifest(StoreCommit.fsOf(spark, dir), dir, at)
    Snapshot(man.version, readPairs(spark, dir, man.pairFiles),
      readLabels(spark, dir, man, man.buckets.keySet.toSeq))
  }

  /** The stored verified pair table (current version's view). */
  def pairs(spark: SparkSession, dir: String): DataFrame =
    snapshot(spark, dir).pairs

  /** The stored `(nodeCol, cluster_id)` label table (current version's
    * view; every node, incl. singletons). */
  def labels(spark: SparkSession, dir: String): DataFrame =
    snapshot(spark, dir).labels

  // ------------------------------------------------------------------ //

  /** What one [[append]] or [[delete]] changes: the complete pair-file
    * list it commits (its own pair generation already written); the
    * delta — the label rows it writes (read when written), one leaf in
    * each of the `delta` buckets; the clusters it tombstones, a
    * `cluster_id` frame built from checkpointed or driver-local frames,
    * and their buckets `tombBuckets`; and the release of its cached
    * intermediates. */
  private final case class Change(
      pairFiles: Seq[String], rows: () => DataFrame, delta: Seq[Int], tombs: DataFrame,
      tombBuckets: Seq[Int], release: () => Unit = () => ())

  /** The shared tail of [[append]] and [[delete]]: write the change's
    * delta as ONE label generation, with the buckets it folds rewritten
    * into one leaf each, fold the pair files past `maxPairFiles`, and
    * commit; or commit nothing when the change is empty (a fully-applied
    * replay, or a batch touching nothing stored), the fast path that
    * makes restarted loops cheap. The tombstones are chosen once
    * ([[StoreCommit.withIds]]): collected, they become manifest lines,
    * and a bucket the commit pushes past [[MaxLeaves]] leaves or
    * [[MaxTombstones]] tombstones folds; as a frame (above the row bound,
    * or non-integral ids), every bucket they touch folds. The fold — the
    * one whole-bucket rewrite — reads the bucket's live leaves, drops the
    * tombstoned clusters' rows and adds the delta's. */
  private def commitChange(
      spark: SparkSession, fs: FileSystem, dir: String, man: Manifest,
      c: Change, maxPairFiles: Int): Unit =
    try if (c.delta.nonEmpty || c.tombBuckets.nonEmpty || c.pairFiles != man.pairFiles) {
      val t = c.tombs.schema("cluster_id").dataType
      StoreCommit.withIds(c.tombs, StoreCommit.isIntegral(t), checkpointed = true) { ids =>
        val v = man.version + 1
        val (added, hit) = ids.values match {
          case Some(vs) => (StoreCommit.residues(spark, t, man.modulus,
              vs.map(_.asInstanceOf[Number].longValue)).map { case (cl, bk) => cl -> (bk, v) },
            Set.empty[Int])
          case None => (Map.empty[Long, (Int, Long)], c.tombBuckets.toSet)
        }
        val tombs = liveTombstones(man.tombstones ++ added, man.buckets)
        val fold = (man.buckets.keySet ++ c.delta).toSeq.sorted.filter { bk =>
          hit(bk) || man.buckets.getOrElse(bk, Seq.empty).size +
            (if (c.delta.contains(bk)) 1 else 0) > MaxLeaves ||
            tombs.values.count(_._1 == bk) > MaxTombstones
        }
        val written =
          if (fold.isEmpty && c.delta.isEmpty) Map.empty[Int, String]
          else writeLabels(dir,
            if (fold.isEmpty) c.rows()
            else c.rows().unionByName(
              ids.survivors(readLabels(spark, dir, man, fold), Seq("cluster_id"))),
            man.modulus, v)
        val buckets = written.foldLeft(man.buckets -- fold) { case (m, (bk, g)) =>
          m.updated(bk, m.getOrElse(bk, Seq.empty) :+ g) }
        val pairFiles =
          if (c.pairFiles.size > maxPairFiles) compactInto(spark, dir, c.pairFiles, v)
          else c.pairFiles
        val next = Manifest(v, man.modulus, buckets, liveTombstones(tombs, buckets), pairFiles)
        StoreCommit.commitManifest(fs, dir, v, next.lines, Store, next.paths)
      }
    } finally c.release()

  /** The tombstones that can still hide a row: those whose bucket holds a
    * leaf staged before them. */
  private def liveTombstones(
      tombs: Map[Long, (Int, Long)], buckets: Map[Int, Seq[String]]): Map[Long, (Int, Long)] =
    tombs.filter { case (_, (bk, w)) => buckets.getOrElse(bk, Seq.empty).exists(genOf(_) < w) }

  /** The version a label generation `labels_g<v>.<salt>` was staged for. */
  private def genOf(g: String): Long = StoreCommit.genVersion(g).get

  /** Connected components over `nodes` plus the endpoints of `edges`, on
    * the driver: a union-find where the smaller root always wins, so
    * every node maps to its component's minimum id — the fixpoint
    * [[Clusters.connectedComponents]] computes distributed. */
  private def minLabels(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    nodes.foreach(find)
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  /** A driver-local one-column frame of `ids`, of integral type `t`. */
  private def idFrame(
      spark: SparkSession, name: String, t: DataType, ids: Seq[Long]): DataFrame =
    StoreCommit.localFrame(spark, StructType(Seq(StructField(name, t))),
      ids.map(x => Row(StoreCommit.boxAs(t)(x))))

  /** A driver-local `(nodeCol, cluster_id)` frame of integral type `t`. */
  private def labelFrame(
      spark: SparkSession, nodeCol: String, t: DataType,
      rows: Seq[(Long, Long)]): DataFrame =
    StoreCommit.localFrame(spark,
      StructType(Seq(StructField(nodeCol, t), StructField("cluster_id", t))),
      rows.map { case (n, l) => Row(StoreCommit.boxAs(t)(n), StoreCommit.boxAs(t)(l)) })

  /** Whether `t` is integral and every column of `frames` has type `t` —
    * the driver-local paths' precondition. */
  private def sameIntegral(t: DataType, frames: DataFrame*): Boolean =
    StoreCommit.isIntegral(t) && frames.forall(_.schema.forall(_.dataType == t))

  /** The distinct buckets `pmod(hash(c), modulus)` of `df`'s column `c`:
    * one job, at most `modulus` ints collected. */
  private def bucketsOf(df: DataFrame, c: String, modulus: Int): Seq[Int] =
    df.select(pmod(hash(col(c)), lit(modulus))).distinct().collect().map(_.getInt(0)).toSeq.sorted

  private def idAt(r: Row, i: Int): Long = r.get(i).asInstanceOf[Number].longValue

  /** Field `i` of `r` as an id, None when null. */
  private def end(r: Row, i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(idAt(r, i))

  /** Write `labels` as a fresh salted label generation for version `v`,
    * one node-sorted leaf per cluster-residue bucket; returns the
    * buckets that produced output, mapped to the generation. */
  private def writeLabels(
      dir: String, labels: DataFrame, modulus: Int, v: Long): Map[Int, String] = {
    val gen = StoreCommit.writeGeneration(labels
      .withColumn(BucketCol, pmod(hash(col("cluster_id")), lit(modulus)))
      .repartition(col(BucketCol))
      .sortWithinPartitions(col(BucketCol), col(labels.columns.head)),
      dir, "labels", v, Some(BucketCol))
    gen.values.map(_ -> gen.name).toMap
  }

  /** Fold `files` into one fresh pair generation for version `v`
    * ([[StoreCommit.compact]]: pair rows have no order to restore, so
    * nothing is shuffled); returns its file list. */
  private def compactInto(
      spark: SparkSession, dir: String, files: Seq[String],
      v: Long, targetFileBytes: Long = 128L << 20): Seq[String] =
    StoreCommit.compact(readPairs(spark, dir, files), files, dir, "pairs", v, targetFileBytes).paths

  /** Read a manifest's bucket selection by direct leaf addressing (no
    * listing, no partition discovery, a memoized schema —
    * [[StoreCommit.readParquet]]) in ONE scan; buckets the manifest does
    * not hold are skipped. The tombstones of the selected buckets filter
    * that scan: a row is dropped when its `cluster_id` has a tombstone
    * version newer than the generation of the row's file (read from
    * `_metadata.file_path`, and only for the rows whose `cluster_id` is
    * in the `InSet` of tombstoned labels). A selection with no live leaf
    * reads as a zero-row frame whose schema comes from any label file on
    * disk — or fails loudly on a store that never held one. */
  private def readLabels(
      spark: SparkSession, dir: String, man: Manifest,
      buckets: Seq[Int]): DataFrame = {
    val sel = buckets.distinct.sorted
    val paths = sel.flatMap(man.leaves).map(l => s"$dir/$l")
    if (paths.nonEmpty) {
      val df = StoreCommit.readParquet(spark, paths)
      val tombs = man.tombstones.collect { case (c, (bk, w)) if sel.contains(bk) => c -> w }
      if (tombs.isEmpty) df
      else {
        // the tombstones enter the generated code as two objects, a hash
        // set and a map literal, and never as inline literals, so a new
        // tombstone set reuses the compiled filter. A row's tombstone
        // version is looked up, and the generation of its file read, only
        // for the rows whose cluster_id is in the set
        val cid = col("cluster_id").cast(LongType)
        val newer = element_at(typedLit(tombs), cid) >
          StoreCommit.genVersionOf(col("_metadata.file_path"), "labels")
        df.filter(!coalesce(when(StoreCommit.inSet(cid, tombs.keys.toSeq), newer), lit(false)))
          .select(df.columns.map(col): _*)
      }
    } else {
      val fs = StoreCommit.fsOf(spark, dir)
      val any = Option(fs.globStatus(new Path(s"$dir/labels_g*/$BucketCol=*/part-*")))
        .toSeq.flatten.headOption.getOrElse(throw new IllegalStateException(
          s"$Store $dir has no label generation to derive a schema from"))
      StoreCommit.readParquet(spark, Seq(any.getPath.toString)).where(lit(false))
    }
  }

  /** Read an explicit pair-file list (never empty: see
    * [[StoreCommit.writeGeneration]]). */
  private def readPairs(
      spark: SparkSession, dir: String, files: Seq[String]): DataFrame =
    StoreCommit.readParquet(spark, files.map(f => s"$dir/$f"))

  /** The manifest of committed version `at`, the head when None
    * ([[StoreCommit.pinned]]). */
  private def manifest(fs: FileSystem, dir: String, at: Option[Long] = None): Manifest = {
    var modulus = 0
    val leaves = Seq.newBuilder[(Int, String)]
    val tombs = Map.newBuilder[Long, (Int, Long)]
    val files = Seq.newBuilder[String]
    val v = StoreCommit.pinned(fs, dir, Store, at) {
      case Array("modulus", m)              => modulus = m.toInt
      case Array("bucket", bk, g)           => leaves += (bk.toInt -> g)
      case Array("tombstone", bk, c, w)     => tombs += (c.toLong -> (bk.toInt -> w.toLong))
      case Array("pairfile", f)             => files += f
    }
    Manifest(v, modulus,
      leaves.result().groupMap(_._1)(_._2).map { case (bk, gs) => bk -> gs.sortBy(g => (genOf(g), g)) },
      tombs.result(), files.result())
  }
}
