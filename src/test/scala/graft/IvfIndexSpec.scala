package graft

import org.apache.spark.sql.functions._

import graft.functions.{IvfIndex, Similarity, StoreCommit}

/** Persisted IVF index: exactness at full probe, partition pruning at the
  * scan, and recall at partial probe. */
class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val e = Tables.embeddings(spark, sf0001)
  private lazy val q = e.filter(col("vec_id") < 10)
  private lazy val index =
    IvfIndex.cachedFor(e, "vec_id", "embedding", nCells = 16)

  /** Every FileSourceScanExec in the (possibly adaptive) physical plan —
    * the direct-API pruning check the string `contains("PartitionFilters")`
    * assert could not give (that string prints, possibly `[]`, for every
    * partitioned scan). */
  private def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      fileScans(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      fileScans(s.plan)
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(fileScans)
  }

  /** Assert the plan's cell-layout scans carry a NON-EMPTY partition
    * filter naming `cell` — a pushdown regression that silently scans
    * all cells fails here, not in a vacuous string match. */
  private def assertCellPruned(df: org.apache.spark.sql.DataFrame): Unit = {
    val scans = fileScans(df.queryExecution.executedPlan)
      .filter(_.output.exists(_.name == "cell"))
    assert(scans.nonEmpty, "no cell-layout scans in plan:\n" +
      df.queryExecution.executedPlan.toString.take(3000))
    scans.foreach { s =>
      assert(s.partitionFilters.nonEmpty &&
        s.partitionFilters.exists(_.references.exists(_.name == "cell")),
        s"cell scan has no cell partition filter (scans all cells): $s")
    }
  }

  test("full probe through the index equals exact brute force bit-for-bit") {
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
    val full = index.topK(q, "vec_id", "embedding", k = 5, nProbe = 16)
    assert(rows(full) == rows(exact))
  }

  test("partial probe prunes cell partitions at the parquet scan") {
    // direct FileSourceScanExec.partitionFilters check: the isin-over-
    // cached-union rewrite must still push a non-empty In(cell, …)
    // predicate into every cells scan
    assertCellPruned(index.topK(q, "vec_id", "embedding", k = 5, nProbe = 4))
  }

  test("repeat probes of one generation build the cell relation once " +
    "(genFrameCache memo hit — no re-listing of leaf dirs)") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_memo").toString
    val idx = IvfIndex.build(e, "vec_id", "embedding", nCells = 8, dir)
    // warm: the first probe pays the one relation build (leaf-dir listing)
    idx.topK(q, "vec_id", "embedding", k = 3, nProbe = 2).collect()
    val before = IvfIndex.genRelationBuilds.get()
    // different probe subsets, same generation: the memo key is the
    // (path, generation, live-cell-set), NOT the probed subset
    idx.topK(q, "vec_id", "embedding", k = 3, nProbe = 4).collect()
    idx.topK(q, "vec_id", "embedding", k = 3, nProbe = 8).collect()
    assert(IvfIndex.genRelationBuilds.get() == before,
      "a repeat probe re-built the generation's cell relation (re-listed " +
        "leaf dirs) instead of hitting genFrameCache")
    // and the memoized relation still prunes at the scan
    assertCellPruned(idx.topK(q, "vec_id", "embedding", k = 3, nProbe = 2))
  }

  test("genFrameCache staleness: rebuild serves only new-generation rows; " +
    "a vacuumed generation's cached frame fails loudly, never silently empty") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_stale").toString
    val corpus = e.filter(col("vec_id") < 400)
    val idx = IvfIndex.build(e.filter(col("vec_id") < 300),
      "vec_id", "embedding", nCells = 4, dir)
    idx.appendBatch(
      e.filter(col("vec_id") >= 300 && col("vec_id") < 400),
      "vec_id", "embedding")
    // warm the relation cache across BOTH pre-rebuild generations, and
    // keep a frame bound to them
    val staleFrame = idx.cells
    assert(staleFrame.count() == 400)
    idx.rebuild()
    // post-rebuild serve: exact over the SAME corpus through NEW
    // generation keys only (old cached frames are keyed by retired gens)
    val exact = Similarity.bruteForceTopK(corpus, q, "vec_id", "embedding", 5)
    assert(rows(idx.topK(q, "vec_id", "embedding", k = 5, nProbe = 4))
      == rows(exact))
    idx.vacuum(keepLast = 1)
    // the vacuum reaped the pre-rebuild generations; executing the frame
    // cached over them must THROW (missing files), not shrink to empty —
    // the pinned-reader contract c92eed3's scaladoc claims
    intercept[Throwable] { staleFrame.count() }
    // and the post-vacuum serve path is unharmed
    assert(rows(idx.topK(q, "vec_id", "embedding", k = 5, nProbe = 4))
      == rows(exact))
  }

  test("partial-probe recall vs brute force") {
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ann = index.topK(q, "vec_id", "embedding", k = 5, nProbe = 4)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (exact & ann).size.toDouble / exact.size
    // same regime as the in-query IVF test: random near-orthogonal
    // embeddings are the hard case for a coarse quantizer
    assert(recall >= 0.4, s"indexed ivf recall $recall too low")
  }

  test("load() round-trips the persisted centroids") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_rt").toString
    IvfIndex.build(e, "vec_id", "embedding", nCells = 8, dir)
    val loaded = IvfIndex.load(spark, dir)
    assert(loaded.nCells == 8)
    assert(loaded.centroids.forall(_.nonEmpty))
    // loaded index answers queries identically to the built one at full probe
    val built = IvfIndex.build(e, "vec_id", "embedding", nCells = 8,
      java.nio.file.Files.createTempDirectory("ivf_rt2").toString)
    assert(rows(loaded.topK(q, "vec_id", "embedding", 3, 8))
      == rows(built.topK(q, "vec_id", "embedding", 3, 8)))
  }

  test("pq serve path scans persisted codes, not raw vectors") {
    val plan = index.pqTopK(q, "vec_id", "embedding", k = 5,
      nProbe = 4, rerank = 4)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.filter(_.contains("FileScan")).toSeq
    // the ADC scan projects (id, codes): its ReadSchema must not carry the
    // raw-vector column — the compressed-domain win reaches the scan
    val codeScans = scans.filter(_.contains("codes:array<int>"))
    assert(codeScans.nonEmpty, s"no codes-projection scan:\n${scans.mkString("\n")}")
    assert(codeScans.forall(!_.contains("v:array")),
      s"codes scan also reads raw vectors:\n${codeScans.mkString("\n")}")
    // and the index scans prune cell partitions (direct-API check)
    assertCellPruned(index.pqTopK(q, "vec_id", "embedding", k = 5,
      nProbe = 4, rerank = 4))
  }

  test("pq full probe + full rerank through the persisted codes is exact") {
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
    val full = index.pqTopK(q, "vec_id", "embedding", k = 5,
      nProbe = 16, rerank = 1000)
    assert(rows(full) == rows(exact))
  }

  test("appendBatch: incremental ingest serves like a full build, batch-sized cost") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_app").toString
    val old = e.filter(col("vec_id") < 400)
    val fresh = e.filter(col("vec_id") >= 400)
    val idx = IvfIndex.build(old, "vec_id", "embedding", nCells = 8, dir)
    idx.appendBatch(fresh, "vec_id", "embedding")
    // the appended layout holds the whole corpus, still cell-partitioned
    assert(idx.cells.count() == e.count())
    assert(idx.cells.select("cell").distinct().count() <= 8)
    // full probe over the grown index is exact over the UNION corpus
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
    assert(rows(idx.topK(q, "vec_id", "embedding", 5, nProbe = 8)) == rows(exact))
    // the PQ path sees appended codes too (full probe + big rerank = exact)
    assert(rows(idx.pqTopK(q, "vec_id", "embedding", 5, nProbe = 8,
      rerank = 1000)) == rows(exact))
    // appended rows landed INSIDE existing cell directories (no new cells,
    // no rewrite of the quantizer): a reload answers identically
    val reloaded = IvfIndex.load(spark, dir)
    assert(rows(reloaded.topK(q, "vec_id", "embedding", 5, nProbe = 8))
      == rows(exact))
  }

  storeTest("delete: cell-pruned rewrite, exact serve over the remainder, idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_del").toString
    val idx = IvfIndex.build(e, "vec_id", "embedding", nCells = 8, dir)
    val delIds = e.filter(pmod(col("vec_id"), lit(4)) === 1).select(col("vec_id"))
    val deadSet = delIds.select(col("vec_id").cast("long")).as[Long].collect().toSet
    // untouched cells must keep their physical files across the delete
    val deadCells = idx.cells.select(col("id"), col("cell"))
      .join(delIds.withColumnRenamed("vec_id", "id"), Seq("id"), "left_semi")
      .select("cell").distinct().as[Int].collect().toSet
    val untouchedBefore = idx.cells.inputFiles
      .filterNot(f => deadCells.exists(c => f.contains(s"cell=$c/"))).toSet
    idx.delete(delIds, "vec_id")
    val untouchedAfter = idx.cells.inputFiles
      .filterNot(f => deadCells.exists(c => f.contains(s"cell=$c/"))).toSet
    assert(untouchedBefore == untouchedAfter,
      "cells without deleted ids must not be rewritten")
    // deleted ids are gone; survivors intact
    val remaining = idx.cells.select(col("id").cast("long")).as[Long].collect().toSet
    val expected = e.select(col("vec_id").cast("long")).as[Long]
      .collect().toSet -- deadSet
    assert(remaining == expected)
    // full probe over the remainder equals brute force over the remainder
    val rem = e.join(delIds, Seq("vec_id"), "left_anti")
    val qRem = rem.filter(col("vec_id") < 12)
    val exact = Similarity.bruteForceTopK(rem, qRem, "vec_id", "embedding", 5)
    val served = idx.topK(qRem, "vec_id", "embedding", k = 5, nProbe = 8)
    assert(rows(served) == rows(exact))
    // replaying the same delete converges to the same state
    idx.delete(delIds, "vec_id")
    assert(idx.cells.select(col("id").cast("long")).as[Long].collect().toSet
      == expected)
  }

  storeTest("delete: a fully-emptied cell leaves the manifest, stays probeable, " +
      "and vacuum reaps its superseded data") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_del_all").toString
    val idx = IvfIndex.build(e, "vec_id", "embedding", nCells = 4, dir)
    // wipe one whole cell (victim ids collected FIRST — a lazy plan over
    // the cells layout would re-list the deleted state afterwards)
    val cellToKill = idx.cells.select("cell").distinct().as[Int].collect().min
    val victims = idx.cells.filter(col("cell") === cellToKill)
      .select(col("id").cast("long")).as[Long].collect().toSeq
      .toDF("vec_id")
    idx.delete(victims, "vec_id")
    assert(!idx.cells.select("cell").distinct().as[Int].collect()
      .contains(cellToKill),
      "an emptied cell must leave the committed manifest")
    // probing everything still serves (the empty cell is a valid target)
    val rem = e.join(victims, Seq("vec_id"), "left_anti")
    val served = idx.topK(rem.filter(col("vec_id") < 8),
      "vec_id", "embedding", k = 3, nProbe = 4)
    val exact = Similarity.bruteForceTopK(rem,
      rem.filter(col("vec_id") < 8), "vec_id", "embedding", 3)
    assert(rows(served) == rows(exact))
    // vacuum to the current version only: the superseded cell data (and
    // the pre-delete manifest) disappear, serving is unchanged
    idx.vacuum(keepLast = 1)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leaves = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .filter(_.getPath.getName.startsWith("cells_g"))
      .flatMap(g => fs.listStatus(g.getPath).toSeq.map(_.getPath.getName))
      .filter(_.startsWith("cell="))
    assert(!leaves.contains(s"cell=$cellToKill"),
      s"vacuum must reap the emptied cell's superseded data: $leaves")
    assert(rows(idx.topK(rem.filter(col("vec_id") < 8),
      "vec_id", "embedding", k = 3, nProbe = 4)) == rows(exact))
  }

  test("interleaved appenders: exactly one commits, the loser fails loudly, " +
      "its idempotent replay appends only the missing remainder") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_race").toString
    val idx = IvfIndex.build(e.filter(col("vec_id") < 400),
      "vec_id", "embedding", nCells = 8, dir)
    // A and B race OVERLAPPING id ranges — the screen-then-append TOCTOU:
    // both screens pass before either writes; the manifest CAS must still
    // admit exactly one, and the loser's replay appends only what's missing
    val batchA = e.filter(col("vec_id") >= 400 && col("vec_id") < 460)
    val batchB = e.filter(col("vec_id") >= 430 && col("vec_id") < 480)
    val err = try {
      StoreCommit.onBeforeCommit = () => {
        StoreCommit.onBeforeCommit = () => () // B must not recurse
        idx.appendBatchIdempotent(batchB, "vec_id", "embedding")
      }
      intercept[java.util.ConcurrentModificationException] {
        idx.appendBatchIdempotent(batchA, "vec_id", "embedding")
      }
    } finally StoreCommit.onBeforeCommit = () => ()
    assert(err.getMessage.contains("concurrent writer"), err.getMessage)
    // exactly B's commit landed — no duplicate ids, no A rows
    val afterB = idx.cells.select(col("id")).as[Long].collect().toSeq
    assert(afterB.distinct.size == afterB.size, "duplicate ids after the race")
    assert(afterB.toSet ==
      e.filter(col("vec_id") < 400 || (col("vec_id") >= 430 && col("vec_id") < 480))
        .select(col("vec_id").cast("long")).as[Long].collect().toSet)
    // the loser replays: only [400,430) is genuinely new now
    val appended = idx.appendBatchIdempotent(batchA, "vec_id", "embedding")
    assert(appended == batchA.join(batchB, Seq("vec_id"), "left_anti").count(),
      s"replay must append only the missing remainder, appended $appended")
    val ids = idx.cells.select(col("id")).as[Long].collect().toSeq
    assert(ids.distinct.size == ids.size, "duplicate ids after the replay")
    // and the union serves exactly
    val live = e.filter(col("vec_id") < 480)
    val exact = Similarity.bruteForceTopK(live, q, "vec_id", "embedding", 5)
    assert(rows(idx.topK(q, "vec_id", "embedding", 5, nProbe = 8)) == rows(exact))
  }

  test("at(v): pinned reads serve the old version across mutations; writes refuse") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_pin").toString
    val old = e.filter(col("vec_id") < 300)
    val idx = IvfIndex.build(old, "vec_id", "embedding", nCells = 8, dir)
    val v0 = idx.version
    val want = rows(idx.topK(q, "vec_id", "embedding", 5, nProbe = 8))
    idx.appendBatch(e.filter(col("vec_id") >= 300), "vec_id", "embedding")
    idx.delete(Seq(5L).toDF("vec_id"), "vec_id")
    // the unpinned handle sees the mutations; the pin still serves v0
    assert(rows(idx.topK(q, "vec_id", "embedding", 5, nProbe = 8)) != want)
    val pinned = idx.at(v0)
    assert(pinned.pinnedVersion.contains(v0))
    assert(rows(pinned.topK(q, "vec_id", "embedding", 5, nProbe = 8)) == want,
      "a pinned handle must serve exactly the pinned version")
    assert(pinned.cells.count() == old.count())
    // writes refuse on a pin
    val err = intercept[IllegalArgumentException](
      pinned.delete(Seq(1L).toDF("vec_id"), "vec_id"))
    assert(err.getMessage.contains("pinned"), err.getMessage)
    intercept[IllegalArgumentException](pinned.rebuild())
    // vacuum past retention makes the pin fail loudly, not serve a mix
    idx.vacuum(keepLast = 1)
    val gone = intercept[IllegalArgumentException](pinned.cells)
    assert(gone.getMessage.contains("vacuumed"), gone.getMessage)
  }

  test("compact: generations fold to one, serving bit-identical, vacuum reaps") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_compact").toString
    val idx = IvfIndex.build(e.filter(col("vec_id") < 200),
      "vec_id", "embedding", nCells = 8, dir)
    idx.appendBatch(e.filter(col("vec_id") >= 200 && col("vec_id") < 350),
      "vec_id", "embedding")
    idx.appendBatch(e.filter(col("vec_id") >= 350), "vec_id", "embedding")
    val before = rows(idx.topK(q, "vec_id", "embedding", 5, nProbe = 8))
    val gensBefore = idx.cells.inputFiles
      .map(_.split("/cells_g")(1).split("/")(0)).distinct.length
    assert(gensBefore == 3, s"fixture expects 3 generations, got $gensBefore")
    idx.compact()
    assert(idx.cells.inputFiles
      .map(_.split("/cells_g")(1).split("/")(0)).distinct.length == 1,
      "compact must fold to one generation")
    assert(rows(idx.topK(q, "vec_id", "embedding", 5, nProbe = 8)) == before,
      "compaction must not change served results")
    // a second compact is a no-op (already one generation)
    val v = idx.version
    idx.compact()
    assert(idx.version == v)
    // vacuum reaps the superseded generations' files
    idx.vacuum(keepLast = 1)
    assert(rows(idx.topK(q, "vec_id", "embedding", 5, nProbe = 8)) == before)
  }

  test("same-id race: one snapshot spans screen AND commit, so a duplicate " +
      "id can never stack on an interloper") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_sameid").toString
    val idx = IvfIndex.build(e.filter(col("vec_id") < 100),
      "vec_id", "embedding", nCells = 4, dir)
    val batch = e.filter(col("vec_id") >= 100 && col("vec_id") < 120)
    // B lands the IDENTICAL batch inside A's screen-to-commit window: A
    // must CAS-abort (its screen is stale), never commit a second copy
    val err = try {
      StoreCommit.onBeforeCommit = () => {
        StoreCommit.onBeforeCommit = () => ()
        idx.appendBatchIdempotent(batch, "vec_id", "embedding")
      }
      intercept[java.util.ConcurrentModificationException] {
        idx.appendBatchIdempotent(batch, "vec_id", "embedding")
      }
    } finally StoreCommit.onBeforeCommit = () => ()
    assert(err.getMessage.contains("concurrent writer"), err.getMessage)
    // A's replay against the new head appends nothing — B landed it all
    assert(idx.appendBatchIdempotent(batch, "vec_id", "embedding") == 0L)
    val ids = idx.cells.select(col("id")).as[Long].collect().toSeq
    assert(ids.distinct.size == ids.size, "duplicate ids reached the index")
    assert(ids.size == 120)
  }

  test("in-batch duplicate ids collapse to one row before the append") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_dupb").toString
    val idx = IvfIndex.build(e.filter(col("vec_id") < 100),
      "vec_id", "embedding", nCells = 4, dir)
    val batch = e.filter(col("vec_id") >= 100 && col("vec_id") < 110)
    val n = idx.appendBatchIdempotent(batch.unionAll(batch), "vec_id", "embedding")
    assert(n == 10, s"self-duplicating batch must insert each id once, got $n")
    val ids = idx.cells.select(col("id")).as[Long].collect().toSeq
    assert(ids.distinct.size == ids.size, "duplicate rows reached the index")
  }

  test("blue-green rebuild: atomic swap, exactness invariant, drifted recall restored") {
    // Provable drift fixture: two well-separated training clusters A, B;
    // the appended cluster C sits exactly BETWEEN their centroids, so the
    // frozen quantizer splits C's members ~half/half across the two cells
    // by noise sign. A C query probing 1 cell then finds only its half of
    // C (recall ~0.5) — the drift regime appendBatch's frozen-quantizer
    // contract defers to. rebuild(nCells = 3) gives C its own cell and
    // restores recall to ~1.
    def cluster(cx: Double, cy: Double, idBase: Long, seed: Int) = {
      val rnd = new scala.util.Random(seed)
      (0 until 20).map { i =>
        (idBase + i, Seq(cx + rnd.nextDouble() - 0.5,
          cy + rnd.nextDouble() - 0.5, rnd.nextDouble() - 0.5,
          rnd.nextDouble() - 0.5))
      }
    }
    val a = cluster(10, 0, 0L, 1)
    val b = cluster(0, 10, 100L, 2)
    val c = cluster(5, 5, 200L, 3)
    val trained = (a ++ b).toDF("vec_id", "embedding")
    val all = (a ++ b ++ c).toDF("vec_id", "embedding")
    val cq = c.take(6).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf_rebuild").toString
    val idx = IvfIndex.build(trained, "vec_id", "embedding", nCells = 2, dir,
      m = 2, kCodes = 8) // dim-4 fixture: 2 PQ subspaces of 2 dims
    idx.appendBatch(c.toDF("vec_id", "embedding"), "vec_id", "embedding")
    val v1 = idx.version
    def recallAt1: Double = {
      val exact = Similarity.bruteForceTopK(all, cq, "vec_id", "embedding", 5)
        .select("qid", "nid").as[(Long, Long)].collect().toSet
      val ann = idx.topK(cq, "vec_id", "embedding", 5, nProbe = 1)
        .select("qid", "nid").as[(Long, Long)].collect().toSet
      (exact & ann).size.toDouble / exact.size
    }
    val drifted = recallAt1
    assert(drifted <= 0.85,
      s"fixture must actually drift (C split across cells), got recall $drifted")
    idx.rebuild(nCells = 3)
    assert(idx.version == v1 + 1, "rebuild must commit exactly one version")
    // full-probe exactness is invariant under rebuild (both serve paths)
    val exact = Similarity.bruteForceTopK(all, cq, "vec_id", "embedding", 5)
    assert(rows(idx.topK(cq, "vec_id", "embedding", 5, nProbe = 3)) == rows(exact))
    assert(rows(idx.pqTopK(cq, "vec_id", "embedding", 5, nProbe = 3,
      rerank = 1000)) == rows(exact))
    // the retrained quantizer gives C its own cell — recall restored
    val rebuilt = recallAt1
    assert(rebuilt >= 0.95 && rebuilt > drifted,
      s"rebuild must restore recall: drifted $drifted -> rebuilt $rebuilt")
    // the rebuilt index contains every id exactly once
    val ids = idx.cells.select(col("id")).as[Long].collect().toSeq
    assert(ids.distinct.size == ids.size && ids.size == all.count())
    // a racing writer hitting the rebuild's commit window loses loudly
    // and the committed delete survives the aborted rebuild
    val err = try {
      StoreCommit.onBeforeCommit = () => {
        StoreCommit.onBeforeCommit = () => ()
        idx.delete(Seq(7L).toDF("vec_id"), "vec_id")
      }
      intercept[java.util.ConcurrentModificationException](idx.rebuild())
    } finally StoreCommit.onBeforeCommit = () => ()
    assert(err.getMessage.contains("concurrent writer"), err.getMessage)
    assert(!idx.cells.select(col("id")).as[Long].collect().contains(7L),
      "the racing delete's committed state must stand")
  }

  test("load() round-trips the persisted codebooks") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_cb").toString
    val built = IvfIndex.build(e, "vec_id", "embedding", nCells = 8, dir)
    val loaded = IvfIndex.load(spark, dir)
    assert(loaded.codebooks.map(_.map(_.toSeq).toSeq).toSeq
      == built.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    assert(rows(loaded.pqTopK(q, "vec_id", "embedding", 3, 8, 1000))
      == rows(built.pqTopK(q, "vec_id", "embedding", 3, 8, 1000)))
  }

  test("property: random CONCURRENT op scripts (append/delete racing at the " +
      "CAS window, losers replayed) converge to the sequential reference") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // Each step is an op that may be AMBUSHED: a second full op runs
    // inside its commit window (the onBeforeCommit seam), so the outer
    // op loses the CAS and is replayed — the documented contended-ingest
    // flow. The surviving-id set must equal applying the ambush first,
    // then the replayed op (which is what replay-after-loss means), and
    // full-probe serving must stay exact over the survivors.
    val ranges = Vector((100L, 140L), (140L, 180L), (180L, 220L), (220L, 260L))
    val gen = Gen.listOfN(3, Gen.zip(
      Gen.choose(0, 3), Gen.choose(0, 3), Gen.oneOf(true, false)))
    for (seed <- 1 to 2) {
      val script = gen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val dir = java.nio.file.Files
        .createTempDirectory(s"ivf_race_prop$seed").toString
      val idx = IvfIndex.build(e.filter(col("vec_id") < 100),
        "vec_id", "embedding", nCells = 8, dir)
      var live = (0L until 100L).toSet
      def batchOf(r: Int) = {
        val (lo, hi) = ranges(r)
        e.filter(col("vec_id") >= lo && col("vec_id") < hi)
      }
      def applyOp(isAppend: Boolean, r: Int): Unit = {
        val (lo, hi) = ranges(r)
        if (isAppend) {
          idx.appendBatchIdempotent(batchOf(r), "vec_id", "embedding")
          live ++= (lo until hi)
        } else {
          val ids = live.filter(i => i >= lo && i < hi)
          if (ids.nonEmpty) idx.delete(ids.toSeq.toDF("vec_id"), "vec_id")
          live --= ids
        }
      }
      script.zipWithIndex.foreach { case ((rOuter, rAmbush, outerIsAppend), k) =>
        // the ambush op commits first (inside the outer's CAS window)
        var ambushed = false
        try {
          StoreCommit.onBeforeCommit = () => {
            StoreCommit.onBeforeCommit = () => ()
            ambushed = true
            applyOp(!outerIsAppend, rAmbush) // opposite kind, full op
          }
          applyOp(outerIsAppend, rOuter)
          // no commit window was reached (e.g. replay/no-op): clear seam
          StoreCommit.onBeforeCommit = () => ()
        } catch {
          case _: java.util.ConcurrentModificationException =>
            StoreCommit.onBeforeCommit = () => ()
            applyOp(outerIsAppend, rOuter) // the loser replays
        }
        val got = idx.cells.select(col("id")).as[Long].collect().toSeq
        assert(got.distinct.size == got.size,
          s"seed $seed step $k: duplicate ids (ambushed=$ambushed)")
        assert(got.toSet == live,
          s"seed $seed step $k: ids diverged (ambushed=$ambushed)")
        val liveDf = e.filter(col("vec_id").isin(live.toSeq: _*))
        val qs = liveDf.orderBy(col("vec_id")).limit(5)
        assert(rows(idx.topK(qs, "vec_id", "embedding", 4, nProbe = 8)) ==
          rows(Similarity.bruteForceTopK(liveDf, qs, "vec_id", "embedding", 4)),
          s"seed $seed step $k: serve != brute force over survivors")
      }
    }
  }

  storeTest("property: random append/delete interleavings stay exact at full probe") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // a random op script over vec_id ranges: the index must serve
    // bit-exactly like brute force over the SURVIVING corpus after every
    // mutation (the frozen quantizer only affects recall at partial
    // probe, never full-probe exactness)
    val gen = for {
      cut1 <- Gen.choose(200L, 350L)
      cut2 <- Gen.choose(360L, 480L)
      mods <- Gen.listOfN(2, Gen.choose(3, 9))
      offs <- Gen.listOfN(2, Gen.choose(0, 2))
    } yield (cut1, cut2, mods.zip(offs))
    for (seed <- 1 to 3) {
      val (cut1, cut2, delRules) =
        gen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val dir = java.nio.file.Files
        .createTempDirectory(s"ivf_prop$seed").toString
      val idx = IvfIndex.build(e.filter(col("vec_id") < cut1),
        "vec_id", "embedding", nCells = 8, dir)
      var live = e.filter(col("vec_id") < cut1)
      val steps: Seq[() => Unit] = Seq(
        () => { idx.appendBatch(
            e.filter(col("vec_id") >= cut1 && col("vec_id") < cut2),
            "vec_id", "embedding")
          live = e.filter(col("vec_id") < cut2) },
        () => { val (m, o) = delRules.head
          val del = live.filter(pmod(col("vec_id"), lit(m)) === o)
            .select("vec_id")
          idx.delete(del, "vec_id")
          live = live.filter(pmod(col("vec_id"), lit(m)) =!= o) },
        () => { idx.appendBatch(e.filter(col("vec_id") >= cut2),
            "vec_id", "embedding")
          live = live.unionAll(e.filter(col("vec_id") >= cut2)) },
        () => { val (m, o) = delRules(1)
          val del = live.filter(pmod(col("vec_id"), lit(m)) === o)
            .select("vec_id")
          idx.delete(del, "vec_id")
          live = live.filter(pmod(col("vec_id"), lit(m)) =!= o) })
      steps.zipWithIndex.foreach { case (step, k) =>
        step()
        val qs = live.orderBy(col("vec_id")).limit(6)
        val exact = Similarity.bruteForceTopK(live, qs, "vec_id", "embedding", 4)
        val served = idx.topK(qs, "vec_id", "embedding", k = 4, nProbe = 8)
        assert(rows(served) == rows(exact),
          s"seed $seed step $k: full-probe serve != brute force over survivors")
      }
    }
  }
}
