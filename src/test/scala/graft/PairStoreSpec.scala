package graft

import org.apache.spark.sql.functions._
import graft.functions.{Clusters, Fuzzy, NearDup, PairStore, StoreCommit}

/** Durable pair/cluster store ([[graft.functions.PairStore]]): the
  * persisted pairs and labels must equal a live recompute exactly (the
  * build-once-serve-many contract), singletons must label themselves,
  * and a rebuild must overwrite cleanly. Oracle parity at sf is the
  * `dedup_*_store` / `entity_resolve_store` family in CORRECTNESS. */
class PairStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_pairstore_spec").toString

  // Two 3-gram near-dup clusters ({1,2}, {3,4}) + singletons 5, 6.
  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "spark catalyst optimizer rewrites logical plans fast"),
    (4L, "spark catalyst optimizer rewrites logical plans slow"),
    (5L, "completely unrelated content lives here alone"),
    (6L, "short")).toDF("doc_id", "text")

  test("stored pairs and labels equal the live recompute") {
    val dir = tmpDir()
    val livePairs = NearDup.ngramJaccardPairs(docs, threshold = 0.5)
    PairStore.build(docs.select(col("doc_id")), livePairs, dir,
      "doc_id", "id_a", "id_b")

    val storedPairs = PairStore.pairs(spark, dir)
      .as[(Long, Long, Double)].collect().toSet
    assert(storedPairs == livePairs.as[(Long, Long, Double)].collect().toSet)
    assert(storedPairs.map(p => (p._1, p._2)) == Set((1L, 2L), (3L, 4L)))

    val storedLabels = PairStore.labels(spark, dir)
      .as[(Long, Long)].collect().toMap
    val liveLabels = Clusters.connectedComponents(
        docs.select(col("doc_id")), livePairs, "doc_id", "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(storedLabels == liveLabels)
    // every node present, singletons label themselves
    assert(storedLabels == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L,
      5L -> 5L, 6L -> 6L))
  }

  test("rebuild overwrites; label files are node-sorted and 2-column") {
    val dir = tmpDir()
    val pairs = NearDup.ngramJaccardPairs(docs, threshold = 0.5)
    PairStore.build(docs.select(col("doc_id")), pairs, dir,
      "doc_id", "id_a", "id_b")
    // second build on a SHRUNK corpus must fully replace the first
    val less = docs.filter(col("doc_id") <= 2L)
    PairStore.build(less.select(col("doc_id")),
      NearDup.ngramJaccardPairs(less, threshold = 0.5), dir,
      "doc_id", "id_a", "id_b")
    assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
      == Map(1L -> 1L, 2L -> 1L))
    assert(PairStore.labels(spark, dir).columns.toSeq
      == Seq("doc_id", "cluster_id"))
  }

  test("append == full rebuild, including a batch edge that MERGES old clusters") {
    val dir = tmpDir()
    // old corpus: clusters {1,2} and {3,4}, singleton 5
    val oldNodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val oldPairs = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    PairStore.build(oldNodes, oldPairs, dir, "id", "id_a", "id_b")
    // batch: 6 joins {3,4}; 7 is a singleton; and pair (2,3) MERGES the
    // two old clusters through the quotient graph — the hard case
    val newNodes = Seq(6L, 7L).toDF("id")
    val newPairs = Seq((6L, 4L), (2L, 3L)).toDF("id_a", "id_b")
    PairStore.append(newNodes, newPairs, dir, "id", "id_a", "id_b")

    val incr = PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
    assert(incr == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L,
      6L -> 1L, 7L -> 7L))
    // row-identical to a from-scratch closure over the union
    val full = graft.functions.Clusters.connectedComponents(
        oldNodes.union(newNodes), oldPairs.union(newPairs),
        "id", "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(incr == full)
    // stored pairs accumulated both generations
    assert(PairStore.pairs(spark, dir).as[(Long, Long)].collect().toSet
      == Set((1L, 2L), (3L, 4L), (6L, 4L), (2L, 3L)))
    // a second append with NO merging edges (pure growth) also matches
    PairStore.append(Seq(8L, 9L).toDF("id"),
      Seq((8L, 9L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
      == incr ++ Map(8L -> 8L, 9L -> 8L))
  }

  test("append is idempotent under replay: re-delivering a batch changes nothing") {
    val dir = tmpDir()
    PairStore.build(Seq(1L, 2L, 3L).toDF("id"),
      Seq((1L, 2L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    val nodes = Seq(4L, 5L).toDF("id")
    val batchPairs = Seq((4L, 5L), (2L, 3L)).toDF("id_a", "id_b")
    PairStore.append(nodes, batchPairs, dir, "id", "id_a", "id_b")
    val labels1 = PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
    val pairs1 = PairStore.pairs(spark, dir).as[(Long, Long)].collect()
    // a restarted ingest loop re-delivers the identical batch
    PairStore.append(nodes, batchPairs, dir, "id", "id_a", "id_b")
    assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
      == labels1)
    val pairs2 = PairStore.pairs(spark, dir).as[(Long, Long)].collect()
    assert(pairs2.sorted.toSeq == pairs1.sorted.toSeq,
      "replay must not duplicate pair rows")
    assert(labels1 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("append with an empty or pair-free batch is the identity on labels") {
    val dir = tmpDir()
    val oldNodes = Seq(1L, 2L, 3L).toDF("id")
    PairStore.build(oldNodes, Seq((1L, 2L)).toDF("id_a", "id_b"), dir,
      "id", "id_a", "id_b")
    val before = PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
    // batch with new nodes but zero near-dup pairs: pure growth
    PairStore.append(Seq(4L).toDF("id"),
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
      == before + (4L -> 4L))
    // fully empty batch: labels unchanged
    PairStore.append(Seq.empty[Long].toDF("id"),
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
      == before + (4L -> 4L))
  }

  test("entity store round-trip: fuzzy chain closure with pointer jumping") {
    val dir = tmpDir()
    val terms = Seq("acmee", "acme", "acmees", "bolt", "bolts", "zed")
      .toDF("term")
    PairStore.build(terms, Fuzzy.fuzzyPairs(terms, "term", 1), dir,
      "term", "term_a", "term_b", shortcut = true)
    assert(PairStore.labels(spark, dir).as[(String, String)].collect().toMap
      == Map("acme" -> "acme", "acmee" -> "acme", "acmees" -> "acme",
        "bolt" -> "bolt", "bolts" -> "bolt", "zed" -> "zed"))
    // string ids append and delete through the distributed path: a new
    // variant joins "acme", then deleting "acme" splits the variant off
    // and re-canonicalizes the rest
    val more = Seq("acme", "acmx").toDF("term")
    PairStore.append(Seq("acmx").toDF("term"), Fuzzy.fuzzyPairs(more, "term", 1), dir,
      "term", "term_a", "term_b", shortcut = true)
    assert(PairStore.labels(spark, dir).as[(String, String)].collect().toMap
      .apply("acmx") == "acme")
    PairStore.delete(Seq("acme").toDF("term"), dir, "term", "term_a", "term_b",
      shortcut = true)
    assert(PairStore.labels(spark, dir).as[(String, String)].collect().toMap
      == Map("acmee" -> "acmee", "acmees" -> "acmee", "acmx" -> "acmx",
        "bolt" -> "bolt", "bolts" -> "bolt", "zed" -> "zed"))
  }

  // ---- crash / replay durability ------------------------------------

  private def fs = new org.apache.hadoop.fs.Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def p(s: String) = new org.apache.hadoop.fs.Path(s)
  /** The store's cluster-residue bucket of a value, computed with the
    * same Catalyst hash the store uses. */
  private def bucketOf(v: Long, buckets: Int = 16): Int =
    Seq(v).toDF("x").select(pmod(hash(col("x")), lit(buckets)).as("b"))
      .collect().head.getInt(0)

  test("replay after a crash between the pairs append and the manifest commit still merges") {
    val dir = tmpDir()
    PairStore.build(Seq(1L, 2L, 3L).toDF("id"),
      Seq((1L, 2L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    // the crashed half-delivery: the batch's pair files reached pairs/
    // but the process died before committing — exactly the ADVICE window
    val batchPairs = Seq((3L, 4L), (2L, 3L)).toDF("id_a", "id_b")
    batchPairs.write.parquet(s"$dir/pairs_g1.4242")
    assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
      == Map(1L -> 1L, 2L -> 1L, 3L -> 3L), "precondition: labels still stale")
    assert(PairStore.pairs(spark, dir).count() == 1L,
      "precondition: orphan files are invisible (manifest-addressed reads)")
    // the restarted ingest loop re-delivers the identical batch
    PairStore.append(Seq(4L).toDF("id"), batchPairs, dir, "id", "id_a", "id_b")
    assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
      == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L),
      "the batch's merges must survive replay — not be anti-joined away")
    assert(PairStore.pairs(spark, dir).as[(Long, Long)].collect().sorted.toSeq
      == Seq((1L, 2L), (2L, 3L), (3L, 4L)), "and pair rows must not duplicate")
    // vacuum reaps the crashed delivery's orphan files from disk
    PairStore.vacuum(spark, dir, keepLast = 1)
    val onDisk = fs.globStatus(p(s"$dir/pairs_g*/part-*"))
      .count(s => s.isFile && s.getPath.getName.startsWith("part-"))
    val referenced = PairStore.pairs(spark, dir).inputFiles.length
    assert(onDisk == referenced,
      s"vacuum must reap orphans: $onDisk on disk vs $referenced referenced")
  }

  test("recover: uncommitted generations and staging are invisible and removed") {
    val dir = tmpDir()
    PairStore.build(Seq(1L, 2L).toDF("id"),
      Seq((1L, 2L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    val before = PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
    // crash mid-commit: a staged write and a renamed-but-never-committed
    // generation dir (manifest v1 was never published)
    Seq((1L, 99L, 0)).toDF("id", "cluster_id", "cbucket")
      .write.partitionBy("cbucket").parquet(s"$dir/labels_g1.4242")
    Seq((2L, 99L)).toDF("id", "cluster_id")
      .write.parquet(s"$dir/labels_g1.4243/cbucket=0")
    // even BEFORE recover, readers resolve through the committed
    // manifest and never see the garbage
    assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap == before)
    PairStore.recover(spark, dir)
    assert(!fs.exists(p(s"$dir/labels_g1.4242")))
    assert(!fs.exists(p(s"$dir/labels_g1.4243")))
    assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap == before)
    // recover on the healthy store is a no-op
    PairStore.recover(spark, dir)
    assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap == before)
  }

  test("recover: an uncommitted pairs compaction generation is removed; a committed one serves") {
    val dir = tmpDir()
    PairStore.build(Seq(1L, 2L, 3L).toDF("id"),
      Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    val expected = PairStore.pairs(spark, dir).as[(Long, Long)].collect().sorted.toSeq
    // crash mid-compaction: pairs_g1 written but manifest v1 never landed
    PairStore.pairs(spark, dir).repartition(1)
      .write.parquet(s"$dir/pairs_g1.4242")
    assert(PairStore.pairs(spark, dir).as[(Long, Long)].collect().sorted.toSeq
      == expected, "uncommitted compaction must be invisible")
    PairStore.recover(spark, dir)
    assert(!fs.exists(p(s"$dir/pairs_g1.4242")))
    // a COMMITTED compaction serves the same rows from the new generation
    PairStore.compactPairs(spark, dir)
    assert(PairStore.pairs(spark, dir).as[(Long, Long)].collect().sorted.toSeq
      == expected)
    assert(PairStore.pairs(spark, dir).inputFiles
      .forall(_.contains("pairs_g")), "compacted view must read the generation dir")
  }

  storeTest("append writes ONLY the touched label buckets as a new generation") {
    val dir = tmpDir()
    val nodes = (1L to 40L).toDF("id")
    PairStore.build(nodes, Seq((1L, 2L), (10L, 11L)).toDF("id_a", "id_b"),
      dir, "id", "id_a", "id_b")
    def genDirs(): Set[String] =
      fs.globStatus(p(s"$dir/labels_g*/cbucket=*")).map(_.getPath)
        .map(l => s"${l.getParent.getName}/${l.getName}").toSet
    val before = genDirs()
    // pure-growth singleton: only its own residue bucket gets a new gen
    val nv = 101L
    PairStore.append(Seq(nv).toDF("id"),
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    val added = genDirs() -- before
    // generations are salted: labels_g<version>.<salt>/cbucket=<bucket>
    assert(added.size == 1 &&
      added.head.matches(s"labels_g1\\.\\d+/cbucket=${bucketOf(nv)}"),
      s"expected one new v1 generation for the fresh node's bucket, got $added")
    assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
      .apply(nv) == nv)
    // a fresh node joining a stored cluster whose bucket is not its own:
    // its row lands in the cluster's bucket, and nothing else is written
    val joiner = (103L to 200L).find(bucketOf(_) != bucketOf(10L)).get
    val before2 = genDirs()
    PairStore.append(Seq(joiner).toDF("id"),
      Seq((joiner, 11L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    val added2 = genDirs() -- before2
    assert(added2.size == 1 &&
      added2.head.matches(s"labels_g2\\.\\d+/cbucket=${bucketOf(10L)}"),
      s"expected one new v2 leaf in cluster 10's bucket, got $added2")
    assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
      .apply(joiner) == 10L)
    // every write verb stages only under salted generation names — no
    // fixed path two same-version writers could share (a delete's
    // survivor rewrite included)
    PairStore.append(Seq(102L).toDF("id"),
      Seq((101L, 102L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    PairStore.delete(Seq(2L).toDF("id"), dir, "id", "id_a", "id_b")
    PairStore.compactPairs(spark, dir)
    val staged = fs.listStatus(p(dir)).map(_.getPath.getName)
      .filterNot(_ == "history").toSeq
    assert(staged.forall(_.matches("(pairs|labels)_g\\d+\\.\\d+")),
      s"unsalted staging path under the store root: $staged")
  }

  test("append with no effect (full replay of a completed batch) commits nothing") {
    val dir = tmpDir()
    PairStore.build(Seq(1L, 2L, 3L).toDF("id"),
      Seq((1L, 2L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    val nodes = Seq(4L).toDF("id")
    val batch = Seq((3L, 4L)).toDF("id_a", "id_b")
    PairStore.append(nodes, batch, dir, "id", "id_a", "id_b")
    def state(): (Set[String], Set[String]) = (
      fs.listStatus(p(s"$dir/history")).map(_.getPath.getName).toSet,
      fs.listStatus(p(dir)).map(_.getPath.getName).toSet)
    val s1 = state()
    PairStore.append(nodes, batch, dir, "id", "id_a", "id_b")
    assert(state() == s1,
      "a fully-applied replay must take the identity fast path — no new version")
  }

  test("auto-compaction bounds the live pair-file count without changing rows") {
    val dir = tmpDir()
    PairStore.build(Seq(1L, 2L).toDF("id"),
      Seq((1L, 2L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    for (i <- 3L to 6L)
      PairStore.append(Seq(i).toDF("id"),
        Seq((i - 1L, i)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b",
        maxPairFiles = 2)
    val live = PairStore.pairs(spark, dir).inputFiles.length
    assert(live <= 2, s"compaction must bound the live file count, got $live")
    assert(PairStore.pairs(spark, dir).as[(Long, Long)].collect().sorted.toSeq
      == (2L to 6L).map(i => (i - 1L, i)))
    assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
      == (1L to 6L).map(_ -> 1L).toMap)
    // vacuum then bounds the on-disk count too
    PairStore.vacuum(spark, dir, keepLast = 1)
    val onDisk = fs.globStatus(p(s"$dir/pairs_g*/part-*"))
      .count(s => s.isFile && s.getPath.getName.startsWith("part-"))
    assert(onDisk <= live, s"superseded pair files must be reaped, got $onDisk")
  }

  test("snapshot: a pinned version stays consistent across racing append + compaction") {
    val dir = tmpDir()
    PairStore.build(Seq(1L, 2L, 3L, 4L).toDF("id"),
      Seq((1L, 2L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    val snap = PairStore.snapshot(spark, dir)
    val labels0 = snap.labels.as[(Long, Long)].collect().toMap
    val pairs0 = snap.pairs.as[(Long, Long)].collect().toSet
    // a concurrent reader pinned v0; now the writer merges 3 and 4 into
    // cluster 1 (rewriting several buckets) and compacts the pair files
    PairStore.append(Seq(5L).toDF("id"),
      Seq((2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b"),
      dir, "id", "id_a", "id_b")
    PairStore.compactPairs(spark, dir)
    // the pinned view is bit-stable: same rows as before the race
    assert(snap.labels.as[(Long, Long)].collect().toMap == labels0)
    assert(snap.pairs.as[(Long, Long)].collect().toSet == pairs0)
    // while the live view moved on
    assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
      == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
    // retention: vacuuming past the pin makes a NEW pin of v0 fail
    // loudly instead of reading half-deleted files — while the LIVE view
    // survives vacuum intact (regression: the live-generation set must
    // be computed per (gen, bucket) PAIR; collapsing it per generation
    // once deleted most of the current version's buckets)
    PairStore.vacuum(spark, dir, keepLast = 1)
    assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
      == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
    val err = intercept[IllegalArgumentException] {
      PairStore.snapshot(spark, dir, Some(snap.version))
    }
    assert(err.getMessage.contains("vacuumed") ||
      err.getMessage.contains("no committed version"))
  }

  // ---- delete (retention / right-to-be-forgotten) ---------------------

  test("delete splits a bridged cluster and re-canonicalizes survivors") {
    val dir = tmpDir()
    // one chain cluster 1-2-3 (2 is the bridge) and one pair {4,5}
    PairStore.build((1L to 6L).toDF("id"),
      Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b"),
      dir, "id", "id_a", "id_b")
    PairStore.delete(Seq(2L).toDF("id"), dir, "id", "id_a", "id_b")
    // the bridge is gone: 1 and 3 must SPLIT into singletons
    assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
      == Map(1L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
    assert(PairStore.pairs(spark, dir).as[(Long, Long)].collect().toSet
      == Set((4L, 5L)), "pairs touching the deleted id are physically gone")
    // deleting a cluster's MINIMUM re-canonicalizes the survivor's label
    PairStore.delete(Seq(4L).toDF("id"), dir, "id", "id_a", "id_b")
    assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
      == Map(1L -> 1L, 3L -> 3L, 5L -> 5L, 6L -> 6L))
    assert(PairStore.pairs(spark, dir).count() == 0L)
  }

  test("delete rewrites ONLY the pair files holding a dead pair") {
    val dir = tmpDir()
    PairStore.build(Seq(1L, 2L).toDF("id"),
      Seq((1L, 2L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    // second pair file arrives via append; store now has ≥2 pair files
    PairStore.append(Seq(3L, 4L).toDF("id"),
      Seq((3L, 4L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    val filesBefore = PairStore.pairs(spark, dir).inputFiles.toSet
    PairStore.delete(Seq(4L).toDF("id"), dir, "id", "id_a", "id_b")
    val filesAfter = PairStore.pairs(spark, dir).inputFiles.toSet
    // the file holding (1,2) is untouched — same physical path survives
    assert(filesBefore.intersect(filesAfter).nonEmpty,
      "files without dead pairs must keep their manifest entries")
    assert(PairStore.pairs(spark, dir).as[(Long, Long)].collect().toSet
      == Set((1L, 2L)))
    assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
      == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("delete == full rebuild on the remaining corpus (and replay commits nothing)") {
    val dir = tmpDir()
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L))
      .toDF("id_a", "id_b")
    PairStore.build((1L to 8L).toDF("id"), pairs, dir, "id", "id_a", "id_b")
    val dead = Seq(3L, 6L, 99L) // 99 was never stored — must be a no-op
    PairStore.delete(dead.toDF("id"), dir, "id", "id_a", "id_b")
    val got = PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
    val keepPairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val want = Clusters.connectedComponents(
        Seq(1L, 2L, 4L, 5L, 7L, 8L).toDF("id"), keepPairs,
        "id", "id_a", "id_b").as[(Long, Long)].collect().toMap
    assert(got == want)
    // replay of the same delete batch: identity fast path, no new version
    def state(): (Set[String], Set[String]) = (
      fs.listStatus(p(s"$dir/history")).map(_.getPath.getName).toSet,
      fs.listStatus(p(dir)).map(_.getPath.getName).toSet)
    val s1 = state()
    PairStore.delete(dead.toDF("id"), dir, "id", "id_a", "id_b")
    assert(state() == s1, "replayed delete must commit nothing")
    assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap == got)
  }

  test("a deleted id can be re-ingested cleanly: old pairs never resurrect") {
    val dir = tmpDir()
    PairStore.build(Seq(1L, 2L, 3L).toDF("id"),
      Seq((1L, 2L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    PairStore.delete(Seq(2L).toDF("id"), dir, "id", "id_a", "id_b")
    // the id returns in a later batch, now near-dup with 3 instead of 1
    PairStore.append(Seq(2L).toDF("id"),
      Seq((2L, 3L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
      == Map(1L -> 1L, 2L -> 2L, 3L -> 2L),
      "the pre-delete pair (1,2) must not re-link the re-ingested id")
    assert(PairStore.pairs(spark, dir).as[(Long, Long)].collect().toSet
      == Set((2L, 3L)))
  }

  test("delete: a pinned snapshot keeps the pre-delete view until vacuumed") {
    val dir = tmpDir()
    PairStore.build(Seq(1L, 2L, 3L).toDF("id"),
      Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    val snap = PairStore.snapshot(spark, dir)
    PairStore.delete(Seq(2L).toDF("id"), dir, "id", "id_a", "id_b")
    assert(snap.labels.as[(Long, Long)].collect().toMap
      == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), "pinned reader is isolated")
    assert(snap.pairs.as[(Long, Long)].collect().toSet
      == Set((1L, 2L), (2L, 3L)))
    assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
      == Map(1L -> 1L, 3L -> 3L))
    // vacuum retires v0 and reaps the superseded pair file from disk
    PairStore.vacuum(spark, dir, keepLast = 1)
    val onDisk = fs.listStatus(p(dir)).toSeq
        .filter(_.getPath.getName.startsWith("pairs_g"))
        .flatMap(s => fs.listStatus(s.getPath).toSeq)
      .count(s => s.isFile && s.getPath.getName.startsWith("part-"))
    assert(onDisk == PairStore.pairs(spark, dir).inputFiles.length,
      "vacuum must reap the pre-delete pair files")
  }

  // ---- randomized invariants (round-11 verdict item 7) ----------------

  test("property: N random appends == full rebuild, and cluster_id is the component min") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = for {
      n     <- Gen.choose(12, 30)
      edges <- Gen.listOfN(25,
        Gen.zip(Gen.choose(1L, 30L), Gen.choose(1L, 30L)))
      cuts  <- Gen.listOfN(2, Gen.choose(2, 28))
    } yield (n.toLong, edges, cuts)
    for (seed <- 1 to 6) {
      val (n, rawEdges, cuts) =
        gen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val universe = (1L to n).toVector
      // pairs must only touch ingested nodes: assign each pair to the
      // batch of its LATEST endpoint (ingest order = id order here)
      val edges = rawEdges.map { case (a, b) => (a.min(n).min(b.min(n)), a.min(n).max(b.min(n))) }
        .filter { case (a, b) => a != b }.distinct
      val bounds = (cuts.map(_.toLong.min(n)).sorted :+ n).distinct
      val batches = (0L +: bounds).distinct.sorted.sliding(2).toSeq.collect {
        case Seq(lo, hi) if hi > lo =>
          (universe.filter(x => x > lo && x <= hi),
            edges.filter { case (a, b) => a.max(b) > lo && a.max(b) <= hi })
      }
      val dir = tmpDir()
      val (n0, e0) = batches.head
      PairStore.build(n0.toDF("id"), e0.toDF("id_a", "id_b"), dir,
        "id", "id_a", "id_b")
      for ((bn, be) <- batches.tail)
        PairStore.append(bn.toDF("id"), be.toDF("id_a", "id_b"), dir,
          "id", "id_a", "id_b")
      val incr = PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
      val full = Clusters.connectedComponents(
          universe.toDF("id"), edges.toDF("id_a", "id_b"), "id", "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
      assert(incr == full, s"seed $seed: incremental != rebuild")
      // canonical-id invariant: every label is its cluster's minimum member
      incr.groupBy(_._2).foreach { case (cid, members) =>
        assert(members.keys.min == cid,
          s"seed $seed: cluster $cid label is not the component min")
      }
    }
  }

  storeTest("property: interleaved appends, deletes, and replays == closure over the survivors") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = for {
      edges <- Gen.listOfN(40,
        Gen.zip(Gen.choose(1L, 24L), Gen.choose(1L, 24L)))
      dels  <- Gen.listOfN(3, Gen.listOfN(3, Gen.choose(1L, 24L)))
    } yield (edges, dels)
    // 3 seeds: each runs 3 append(+replay)+delete rounds with 4 closure
    // recomputes — wall-clock-bounded while still exercising merge,
    // split, re-canonicalization, and replay across random graphs
    for (seed <- 1 to 3) {
      val (rawEdges, delPicks) =
        gen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val edges = rawEdges.map { case (a, b) => (a.min(b), a.max(b)) }
        .filter { case (a, b) => a != b }.distinct
      // batches by id range: (0,8], (8,16], (16,24]; a batch carries the
      // edges whose LATEST endpoint it ingests, restricted to endpoints
      // alive at append time (deletes are removal, not a blocklist — the
      // store's contract filters dead-endpoint pairs out of the closure)
      val batches = Seq((0L, 8L), (8L, 16L), (16L, 24L))
      val dir = tmpDir()
      var alive = Set.empty[Long]
      var liveEdges = Seq.empty[(Long, Long)]
      batches.zipWithIndex.foreach { case ((lo, hi), k) =>
        val nodes = ((lo + 1) to hi).toSeq
        alive ++= nodes
        val be = edges.filter { case (a, b) =>
          a.max(b) > lo && a.max(b) <= hi && alive(a) && alive(b) }
        liveEdges ++= be
        if (k == 0)
          PairStore.build(nodes.toDF("id"), be.toDF("id_a", "id_b"), dir,
            "id", "id_a", "id_b")
        else {
          PairStore.append(nodes.toDF("id"), be.toDF("id_a", "id_b"), dir,
            "id", "id_a", "id_b")
          // whole-batch replay must commit nothing and change nothing
          val before = PairStore.labels(spark, dir)
            .as[(Long, Long)].collect().toMap
          PairStore.append(nodes.toDF("id"), be.toDF("id_a", "id_b"), dir,
            "id", "id_a", "id_b")
          assert(PairStore.labels(spark, dir)
            .as[(Long, Long)].collect().toMap == before,
            s"seed $seed batch $k: replay changed the store")
        }
        val del = delPicks(k).filter(alive).distinct
        if (del.nonEmpty) {
          PairStore.delete(del.toDF("id"), dir, "id", "id_a", "id_b")
          alive --= del
          liveEdges = liveEdges.filter { case (a, b) => alive(a) && alive(b) }
        }
        val got = PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
        val want = Clusters.connectedComponents(
            alive.toSeq.toDF("id"), liveEdges.toDF("id_a", "id_b"),
            "id", "id_a", "id_b")
          .as[(Long, Long)].collect().toMap
        assert(got == want, s"seed $seed after batch $k: store != rebuild")
      }
    }
  }

  // ---- concurrent writers (manifest CAS) ----------------------------

  test("interleaved appenders: exactly one commits, the loser fails loudly, " +
      "its replay converges") {
    val dir = tmpDir()
    PairStore.build((1L to 6L).toDF("id"),
      Seq((1L, 2L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    // Appender A reads the v0 manifest and stages its data; at A's CAS
    // window the hook runs appender B's ENTIRE append (which commits
    // v1). A must then abort without touching B's committed state.
    val err = try {
      StoreCommit.onBeforeCommit = () => {
        StoreCommit.onBeforeCommit = () => () // B must not recurse
        PairStore.append(Seq(8L).toDF("id"),
          Seq((5L, 8L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
      }
      intercept[java.util.ConcurrentModificationException] {
        PairStore.append(Seq(7L).toDF("id"),
          Seq((3L, 7L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
      }
    } finally StoreCommit.onBeforeCommit = () => ()
    assert(err.getMessage.contains("concurrent writer"), err.getMessage)
    // exactly B's commit landed: history = {v0, v1}, state = B-only
    assert(fs.listStatus(p(s"$dir/history")).map(_.getPath.getName).toSet
      == Set("v0", "v1"))
    val afterB = PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
    assert(afterB == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L,
      5L -> 5L, 6L -> 6L, 8L -> 5L), s"winner's state damaged: $afterB")
    // the loser replays its whole batch against the new head → converges
    PairStore.append(Seq(7L).toDF("id"),
      Seq((3L, 7L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    val afterA = PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
    assert(afterA == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L,
      5L -> 5L, 6L -> 6L, 7L -> 3L, 8L -> 5L), s"replay diverged: $afterA")
    val pairs = PairStore.pairs(spark, dir).as[(Long, Long)]
      .collect().sorted.toSeq
    assert(pairs == Seq((1L, 2L), (3L, 7L), (5L, 8L)),
      s"pair table wrong after the race + replay: $pairs")
  }

  test("commit CAS: a version published mid-append aborts the commit " +
      "with the store unharmed") {
    val dir = tmpDir()
    PairStore.build(Seq(1L, 2L, 3L).toDF("id"),
      Seq((1L, 2L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    val before = PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
    val v0 = {
      val in = fs.open(p(s"$dir/history/v0"))
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    }
    val err = try {
      StoreCommit.onBeforeCommit = () => {
        // a competing writer publishes v1 (same content, new version)
        // right inside A's CAS window — the narrowest possible race
        val out = fs.create(p(s"$dir/history/v1"), true)
        try out.write(v0.replace("version 0", "version 1").getBytes("UTF-8"))
        finally out.close()
      }
      intercept[java.util.ConcurrentModificationException] {
        PairStore.append(Seq(4L).toDF("id"),
          Seq((3L, 4L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
      }
    } finally StoreCommit.onBeforeCommit = () => ()
    assert(err.getMessage.contains("committed by a concurrent writer"),
      err.getMessage)
    assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
      == before, "aborted commit must leave the committed state untouched")
  }

  test("a losing writer's orphan generation survives recover (same-version) " +
      "and is reaped by vacuum") {
    val dir = tmpDir()
    PairStore.build(Seq(1L, 2L).toDF("id"),
      Seq((1L, 2L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    PairStore.append(Seq(3L).toDF("id"),
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    // fabricate a losing v1 attempt's salted generation: same version
    // as the committed head, unreferenced by any manifest
    val orphan = s"$dir/labels_g1.99999/cbucket=0"
    Seq((42L, 42L)).toDF("id", "cluster_id").write.parquet(orphan)
    val before = PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
    PairStore.recover(spark, dir)
    assert(fs.exists(p(orphan)),
      "recover must not reap a same-version generation (it cannot tell a " +
        "loser's orphan from a LIVE writer's in-flight data)")
    PairStore.vacuum(spark, dir, keepLast = 2)
    assert(!fs.exists(p(orphan)), "vacuum must reap unreferenced generations")
    assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
      == before, "orphan lifecycle must never leak into the served labels")
  }

  test("an in-flight writer's NEXT-version staging survives a concurrent " +
      "append (writers never auto-recover)") {
    val dir = tmpDir()
    PairStore.build(Seq(1L, 2L).toDF("id"),
      Seq((1L, 2L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    // writer A mid-flight at version 1: salted staging root, a renamed
    // salted generation, and a tmp manifest — none committed yet
    val staged = s"$dir/labels_g2.7777"
    val gen = s"$dir/labels_g1.7777/cbucket=0"
    val tmpMan = s"$dir/history/.tmp_v1_7777"
    Seq((9L, 9L, 0)).toDF("id", "cluster_id", "cbucket")
      .write.partitionBy("cbucket").parquet(staged)
    Seq((9L, 9L)).toDF("id", "cluster_id").write.parquet(gen)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(tmpMan), "version 1\n")
    // writer B's whole append runs to a successful commit meanwhile —
    // it must NOT reap A's in-flight state (the old implicit recover
    // did exactly that, turning the one-winner CAS into both-abort)
    PairStore.append(Seq(3L).toDF("id"),
      Seq((2L, 3L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    assert(fs.exists(p(staged)) && fs.exists(p(gen)) && fs.exists(p(tmpMan)),
      "a concurrent append must leave another writer's in-flight data alone")
    assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
      == Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      "B's append must commit normally around A's staging")
    // A's commit now loses the CAS (version 1 was taken by B) — its
    // leftovers become garbage for the EXPLICIT maintenance pass
    PairStore.recover(spark, dir)
    assert(!fs.exists(p(staged)) && !fs.exists(p(tmpMan)),
      "explicit recover (no writer live) reaps staging and tmp manifests")
  }

  storeTest("randomized kill-replay: writes killed in the pre-commit window " +
      "(generations staged, manifest unpublished) replay to convergence; " +
      "recover+vacuum reap the crashed staging with served state unchanged") {
    // three appends + a delete — the verb mix [[StoreCommit.onBeforeCommit]]
    // covers (the seam fires inside commitManifest for every write verb)
    val appends = Seq(
      (Seq(3L, 4L), Seq((2L, 3L), (3L, 4L))),
      (Seq(5L, 6L), Seq((5L, 6L))),
      (Seq(7L), Seq((1L, 7L))))
    val delIds = Seq(4L)

    def runStore(kills: Seq[Boolean]): String = {
      val dir = tmpDir()
      PairStore.build(Seq(1L, 2L).toDF("id"),
        Seq((1L, 2L)).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
      def guarded(kill: Boolean)(op: => Unit): Unit =
        if (!kill) op
        else {
          val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
          StoreCommit.onBeforeCommit = () =>
            if (armed.getAndSet(false))
              throw new RuntimeException("injected crash: pre-commit")
          try intercept[RuntimeException](op)
          finally StoreCommit.onBeforeCommit = () => ()
          // the caller's at-least-once redelivery: replay the whole verb
          op
        }
      appends.zipWithIndex.foreach { case ((ns, es), i) =>
        guarded(kills(i))(PairStore.append(ns.toDF("id"),
          es.toDF("id_a", "id_b"), dir, "id", "id_a", "id_b"))
      }
      guarded(kills(3))(
        PairStore.delete(delIds.toDF("id"), dir, "id", "id_a", "id_b"))
      dir
    }
    def labelsOf(dir: String): Map[Long, Long] =
      PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap
    def pairsOf(dir: String): Seq[(Long, Long)] =
      PairStore.pairs(spark, dir).as[(Long, Long)].collect().sorted.toSeq
    def genDirs(dir: String): Int =
      fs.globStatus(p(s"$dir/labels_g*/cbucket=*")).length

    // uninterrupted reference run, taken through the same maintenance
    val ref = runStore(Seq(false, false, false, false))
    val refLabels = labelsOf(ref)
    val refPairs = pairsOf(ref)
    PairStore.recover(spark, ref)
    PairStore.vacuum(spark, ref, keepLast = 1)
    val refGens = genDirs(ref)

    val rnd = new scala.util.Random(0xBADC0DE)
    for (scenario <- 1 to 3) {
      var kills = Seq.fill(4)(rnd.nextBoolean())
      if (!kills.exists(identity)) kills = kills.updated(scenario % 4, true)
      val dir = runStore(kills)
      assert(labelsOf(dir) == refLabels,
        s"scenario $scenario (kills=$kills): labels diverged after replay")
      assert(pairsOf(dir) == refPairs,
        s"scenario $scenario (kills=$kills): pair table diverged")
      // killed attempts left staged-but-unreferenced generations behind;
      // the explicit maintenance pass (no writer live) reaps them all —
      // the store's physical layout returns to the uninterrupted run's
      PairStore.recover(spark, dir)
      PairStore.vacuum(spark, dir, keepLast = 1)
      assert(labelsOf(dir) == refLabels && pairsOf(dir) == refPairs,
        s"scenario $scenario: recover+vacuum changed the served state")
      assert(genDirs(dir) == refGens,
        s"scenario $scenario (kills=$kills): crashed staging survived " +
          s"recover+vacuum (${genDirs(dir)} label generations vs $refGens)")
    }
  }

  // ---- delta leaves, tombstones and the fold --------------------------

  /** The lines of the store's newest committed manifest. */
  private def headManifest(dir: String): Seq[String] = {
    val v = fs.listStatus(p(s"$dir/history")).map(_.getPath.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong).max
    val in = fs.open(p(s"$dir/history/v$v"))
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    finally in.close()
  }

  /** How many manifest lines of `kind` (`bucket` leaves or `tombstone`s)
    * each bucket has. */
  private def perBucket(lines: Seq[String], kind: String): Map[Int, Int] =
    lines.map(_.split(" ")).filter(_.head == kind)
      .groupBy(_(1).toInt).map { case (bk, ls) => bk -> ls.size }

  /** Connected components of `alive` under the edges among them, each
    * node labelled with its component's minimum — the closure the store
    * must hold. */
  private def closure(alive: Set[Long], edges: Set[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { val q = parent.getOrElseUpdate(x, x); if (q == x) x else find(q) }
    alive.foreach(find)
    edges.foreach { case (a, b) =>
      if (alive(a) && alive(b)) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra.max(rb)) = ra.min(rb)
      }
    }
    alive.map(x => x -> find(x)).toMap
  }

  storeTest("long run: 30 interleaved appends and deletes keep labels == closure over " +
      "the survivors, bounded leaves, tombstones and manifest lines, and a flat labels plan") {
    val dir = tmpDir()
    val modulus = 4
    val maxPairFiles = 8
    var alive = (1L to 20L).toSet
    var edges = Set((1L, 2L), (2L, 3L), (6L, 7L), (9L, 12L), (15L, 16L))
    PairStore.build(alive.toSeq.toDF("id"), edges.toSeq.toDF("id_a", "id_b"), dir,
      "id", "id_a", "id_b", buckets = modulus)
    def plan(): (Int, Int) = {
      val qe = PairStore.labels(spark, dir).queryExecution
      (qe.optimizedPlan.collect { case n => n }.size,
        qe.explainString(org.apache.spark.sql.execution.ExtendedMode).length)
    }
    val (nodes0, chars0) = plan()
    val rnd = new scala.util.Random(20261018L)
    var next = 100L
    val sizes = Seq.newBuilder[(Int, Int)]
    for (op <- 1 to 30) {
      val what =
        if (op == 1) {
          // two stored singletons 4 < 5 merge through a fresh node: 5 is
          // tombstoned into 4's cluster...
          val add = Seq((4L, next), (5L, next))
          PairStore.append(Seq(next).toDF("id"), add.toDF("id_a", "id_b"), dir,
            "id", "id_a", "id_b", maxPairFiles = maxPairFiles)
          alive += next
          edges ++= add
          next += 1
          "merge 5 into 4"
        } else if (op == 2) {
          // ...and deleting 4 makes 5 a label again
          PairStore.delete(Seq(4L).toDF("id"), dir, "id", "id_a", "id_b")
          alive -= 4L
          "delete 4"
        } else if (op % 3 == 0) {
          val del = rnd.shuffle(alive.toSeq.sorted).take(1 + rnd.nextInt(2))
          PairStore.delete(del.toDF("id"), dir, "id", "id_a", "id_b")
          alive --= del
          s"delete $del"
        } else {
          val fresh = (next until next + 1 + rnd.nextInt(3)).toSeq
          next += fresh.size
          val pool = (alive.toSeq.sorted ++ fresh).toVector
          val add = fresh.flatMap { f =>
            Seq.fill(1 + rnd.nextInt(2))(pool(rnd.nextInt(pool.size))).filter(_ != f).map((_, f)) }
          PairStore.append(fresh.toDF("id"), add.toDF("id_a", "id_b"), dir,
            "id", "id_a", "id_b", maxPairFiles = maxPairFiles)
          alive ++= fresh
          edges ++= add
          s"append $fresh with $add"
        }
      // deleted nodes' pairs are gone for good
      edges = edges.filter { case (a, b) => alive(a) && alive(b) }
      assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap == closure(alive, edges),
        s"op $op ($what): labels != closure over the survivors")
      val man = headManifest(dir)
      assert(perBucket(man, "bucket").values.forall(_ <= PairStore.MaxLeaves),
        s"op $op: leaves per bucket ${perBucket(man, "bucket")}")
      assert(perBucket(man, "tombstone").values.forall(_ <= PairStore.MaxTombstones),
        s"op $op: tombstones per bucket ${perBucket(man, "tombstone")}")
      // nonce, version, modulus, ≤ MaxLeaves + MaxTombstones lines per
      // bucket, pair files
      val maxLines =
        3 + (PairStore.MaxLeaves + PairStore.MaxTombstones) * modulus + maxPairFiles + 1
      assert(man.size <= maxLines, s"op $op: ${man.size} manifest lines > $maxLines")
      // the tombstone filter adds a Filter and a Project, and its explain
      // lists the live tombstones, which the fold bounds
      val (n, c) = plan()
      sizes += ((n, c))
      assert(n <= 3 * nodes0 && c <= 8 * chars0,
        s"op $op: labels plan $n nodes / $c explain chars vs $nodes0 / $chars0 after build")
    }
    info(s"labels plan after build: $nodes0 nodes, $chars0 explain chars; after each op: " +
      sizes.result().map { case (n, c) => s"$n/$c" }.mkString(" "))
  }

  test("above the row bound, append writes a delta and tombstones, not whole buckets") {
    withLocalRows(16) {
      val dir = tmpDir()
      // 3,000 stored nodes in 2 buckets (each holds well over 1,000 rows)
      // and 3 small stored clusters, {1010, 1011}, {1020, 1021}, {1030, 1031}
      val stored = (1001L to 4000L).toSet
      val storedEdges = Set((1010L, 1011L), (1020L, 1021L), (1030L, 1031L))
      PairStore.build(stored.toSeq.toDF("id"), storedEdges.toSeq.toDF("id_a", "id_b"), dir,
        "id", "id_a", "id_b", buckets = 2)
      val base = headManifest(dir)
      assert(perBucket(base, "bucket").values.toSeq.sorted == Seq(1, 1))
      assert(PairStore.labels(spark, dir).groupBy(pmod(hash(col("cluster_id")), lit(2)))
        .count().collect().forall(_.getLong(1) >= 1000L), "a bucket holds under 1,000 rows")
      // a 40-pair batch (over the bound) of 20 fresh nodes 1..20, whose
      // chain bridges all 3 stored clusters under the fresh label 1
      val fresh = (1L to 20L).toSet
      val batch = (1L until 20L).map(a => (a, a + 1)) ++ (1L until 19L).map(a => (a, a + 2)) ++
        Seq((1L, 1010L), (10L, 1020L), (20L, 1030L))
      assert(batch.size == 40)
      PairStore.append(fresh.toSeq.toDF("id"), batch.toDF("id_a", "id_b"), dir,
        "id", "id_a", "id_b")
      val man = headManifest(dir)
      // the new label generation holds exactly the changed rows: the
      // fresh nodes and the merged-away clusters' members, under label 1
      val newLeaves = man.map(_.split(" ")).collect {
        case Array("bucket", bk, g) if g.startsWith("labels_g1.") => s"$dir/$g/cbucket=$bk" }
      assert(newLeaves.nonEmpty, man.mkString("\n"))
      val written = spark.read.parquet(newLeaves: _*).as[(Long, Long)].collect().toSet
      assert(written == (fresh ++ storedEdges.flatMap { case (a, b) => Seq(a, b) }).map(_ -> 1L))
      // every base leaf is still referenced, and the 3 merged-away
      // clusters are tombstoned
      val baseLeaves = base.filter(_.startsWith("bucket "))
      assert(baseLeaves.forall(man.contains), man.mkString("\n"))
      assert(man.filter(_.startsWith("tombstone ")).map(_.split(" ")(2).toLong).sorted ==
        Seq(1010L, 1020L, 1030L), man.mkString("\n"))
      assert(PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap ==
        closure(stored ++ fresh, storedEdges ++ batch))
    }
  }

  test("kill-replay: a crash in a commit that folds a bucket replays to convergence") {
    // one bucket, so every delta lands in it and the fold comes within
    // MaxLeaves appends; each append merges two stored clusters, so the
    // folded bucket carries tombstones too
    val steps = PairStore.MaxLeaves + 2
    def append(dir: String, i: Int): Unit =
      PairStore.append(Seq(100L + i).toDF("id"),
        Seq((i.toLong, 100L + i), (i + 1L, 100L + i)).toDF("id_a", "id_b"), dir,
        "id", "id_a", "id_b")
    def leaves(dir: String): Int = perBucket(headManifest(dir), "bucket").values.sum
    def runStore(kill: Option[Int]): (String, Seq[Int]) = {
      val dir = tmpDir()
      PairStore.build((1L to 20L).toDF("id"), Seq.empty[(Long, Long)].toDF("id_a", "id_b"),
        dir, "id", "id_a", "id_b", buckets = 1)
      val counts = (1 to steps).map { i =>
        if (kill.contains(i)) {
          StoreCommit.onBeforeCommit = () =>
            throw new RuntimeException("injected crash: pre-commit")
          try intercept[RuntimeException](append(dir, i))
          finally StoreCommit.onBeforeCommit = () => ()
        }
        append(dir, i)
        leaves(dir)
      }
      (dir, counts)
    }
    def state(dir: String) = (
      PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap,
      PairStore.pairs(spark, dir).as[(Long, Long)].collect().sorted.toSeq)
    val (ref, counts) = runStore(None)
    // the first append whose commit left the bucket with one leaf folded
    val foldStep = counts.indexWhere(_ == 1) + 1
    assert(foldStep > 1, s"no fold within $steps appends: leaves after each $counts")
    val (dir, crashedCounts) = runStore(Some(foldStep))
    assert(crashedCounts == counts, "the replayed fold committed a different layout")
    assert(state(dir) == state(ref), s"a crash in the folding commit (step $foldStep) diverged")
    assert(state(dir)._1 == closure((1L to 20L).toSet ++ (1 to steps).map(100L + _),
      (1 to steps).flatMap(i => Seq((i.toLong, 100L + i), (i + 1L, 100L + i))).toSet))
    for (d <- Seq(ref, dir)) {
      PairStore.recover(spark, d)
      PairStore.vacuum(spark, d, keepLast = 1)
    }
    assert(state(dir) == state(ref), "recover+vacuum changed the served state")
    assert(fs.globStatus(p(s"$dir/labels_g*/cbucket=*")).length ==
      fs.globStatus(p(s"$ref/labels_g*/cbucket=*")).length,
      "the crashed fold's staging survived recover+vacuum")
  }
}
