package graft

import org.apache.spark.sql.DataFrame
import graft.functions.{IvfIndex, PairStore, SignatureStore, StoreCommit}

/** The store tier's SHARED commit protocol ([[graft.functions.StoreCommit]])
  * exercised across stores at once: the serve-path manifest memo (pinned
  * reads pay the manifest open once per JVM, rebuilds invalidate), the
  * vacuum-vs-publish guard from BOTH ends (vacuum aborts when a publish
  * lands inside its reap window; a publish aborts when a vacuum reaped its
  * staged generation), and a randomized cross-store interleave pinning that
  * racing writers + vacuums on sibling stores under one root never
  * cross-talk through StoreCommit's JVM-level state and never commit a
  * manifest referencing deleted paths. Every write verb of every
  * versioned store is killed at the one pre-commit seam and replayed,
  * and the signature store's read plan is gated over a long run. */
class StoreCommitSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docsRange(lo: Int, hi: Int): DataFrame =
    (lo until hi).map(i => (i.toLong,
      s"tok${i}a tok${i}b tok${i}c tok${i}d tok${i}e tok${i}f"))
      .toDF("doc_id", "text")

  private def vecsRange(lo: Int, hi: Int): DataFrame =
    (lo until hi).map(i => (i.toLong,
      Array(i * 1.0, (i % 7) * 1.0, (i % 3) * 1.0, 1.0,
        (i % 5) * 1.0, (i % 2) * 1.0, (i % 11) * 1.0, 2.0)))
      .toDF("id", "v")

  // ------------------------------------------------------------ memo

  test("pinned-version serve reads hit the manifest memo: no second " +
    "physical open of history/vN") {
    val dir = tmp("sc_memo_ivf")
    IvfIndex.build(vecsRange(0, 40), "id", "v", nCells = 2, dir)
    val pinned = IvfIndex.load(spark, dir).at(0L)
    val q = vecsRange(0, 2)
    // warm: first read pays the one physical manifest open
    pinned.topK(q, "id", "v", k = 2, nProbe = 2).collect()
    val before = StoreCommit.manifestFileReads.get()
    pinned.topK(q, "id", "v", k = 2, nProbe = 2).collect()
    assert(StoreCommit.manifestFileReads.get() == before,
      "a pinned-version serve read re-opened history/vN — the manifest " +
        "memo is not being hit")
    // same contract for the signature store's pinned reader
    val sdir = tmp("sc_memo_sig")
    SignatureStore.build(docsRange(0, 10), sdir)
    SignatureStore.stored(spark, sdir, Some(0L)).count()
    val before2 = StoreCommit.manifestFileReads.get()
    SignatureStore.stored(spark, sdir, Some(0L)).count()
    assert(StoreCommit.manifestFileReads.get() == before2,
      "a pinned SignatureStore read re-opened history/vN")
  }

  test("a rebuild at the same dir invalidates the memo: readers see the " +
    "new v0, never the pre-rebuild content") {
    val dir = tmp("sc_memo_inval")
    SignatureStore.build(docsRange(0, 5), dir)
    assert(SignatureStore.stored(spark, dir).count() == 5)
    // same dir, same version number (history restarts at v0), new content
    SignatureStore.build(docsRange(0, 12), dir)
    assert(SignatureStore.stored(spark, dir).count() == 12,
      "the manifest memo served stale pre-rebuild lines for (dir, v0)")
  }

  test("a CROSS-JVM rebuild (out-of-band manifest replacement) is detected " +
    "by the memo's file-status validation — no permanent stale serve") {
    val dir = tmp("sc_memo_xjvm")
    SignatureStore.build(docsRange(0, 5), dir)
    val fs = StoreCommit.fsOf(spark, dir)
    // warm the memo for (dir, v0)
    val warm = StoreCommit.readManifestLinesCached(fs, dir, 0L)
    assert(warm.exists(_.startsWith("file ")))
    // simulate ANOTHER PROCESS'S rebuild: replace history/v0 via raw file
    // ops, bypassing commitManifest — this JVM's memo is never invalidated
    val v0 = java.nio.file.Paths.get(s"$dir/history/v0")
    val replacement = "version 0\nfile data_gX/part-replaced.parquet\n" +
      "nonce 12345\n"
    java.nio.file.Files.delete(v0)
    // the real rebuild writes through the Hadoop FS, which refreshes the
    // checksum sidecar — drop the stale one so the re-read sees the new bytes
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/history/.v0.crc"))
    java.nio.file.Files.write(v0, replacement.getBytes("UTF-8"))
    // the hit-validation (length/mtime) must force a re-read
    val after = StoreCommit.readManifestLinesCached(fs, dir, 0L)
    assert(after.contains("file data_gX/part-replaced.parquet"),
      s"memo served pre-replacement lines after an out-of-band rewrite: $after")
  }

  test("LruMap: bounded, access-ordered eviction; removeIf; get marks hot") {
    val m = new StoreCommit.LruMap[String, Int](2)
    m.put("a", 1); m.put("b", 2)
    assert(m.get("a").contains(1)) // touch a: b is now the coldest
    m.put("c", 3)                  // overflow evicts ONLY the coldest (b)
    assert(m.keys == Set("a", "c"), m.keys)
    assert(m.get("b").isEmpty && m.get("a").contains(1) && m.get("c").contains(3))
    // the line above touched a then c, so a is now the coldest → a evicts
    m.put("d", 4)
    assert(m.keys == Set("c", "d"), m.keys)
    m.removeIf(_ == "c")
    assert(m.keys == Set("d") && m.size == 1)
    intercept[IllegalArgumentException](new StoreCommit.LruMap[String, Int](0))
  }

  test("publish strategy is per-scheme: hard link locally, rename on " +
    "HDFS-family, LOUD refusal on copy+delete object stores") {
    import graft.functions.StoreCommit.{publishStrategy, HardLink, AtomicRename, Unsupported}
    assert(publishStrategy("file") == HardLink)
    assert(publishStrategy(null) == HardLink) // no-scheme Path → local
    for (s <- Seq("hdfs", "viewfs", "webhdfs", "swebhdfs", "ofs", "o3fs",
        "alluxio"))
      assert(publishStrategy(s) == AtomicRename, s)
    for (s <- Seq("s3a", "s3", "s3n", "gs", "wasb", "wasbs", "abfs",
        "abfss", "oss", "cos", "swift", "S3A"))
      assert(publishStrategy(s) == Unsupported, s)
    // an UNKNOWN scheme's rename semantics are unprovable — refused, not
    // trusted (the r16 ADVICE finding: generation-data publishes have no
    // read-back verify to arbitrate a replace-on-rename filesystem)
    assert(publishStrategy("weirdfs") == Unsupported)
    // and the refusal actually fires before any filesystem mutation
    val fake = new org.apache.hadoop.fs.LocalFileSystem {
      override def getUri: java.net.URI = java.net.URI.create("s3a://bucket")
    }
    val e = intercept[UnsupportedOperationException] {
      StoreCommit.exclusiveMoveFile(fake,
        new org.apache.hadoop.fs.Path("/tmp/never_src"),
        new org.apache.hadoop.fs.Path("/tmp/never_dst"), "TestStore")
    }
    assert(e.getMessage.contains("external coordination") ||
      e.getMessage.contains("single-writer"), e.getMessage)
  }

  test("publish strategy opt-ins: conditional-put upgrades object stores; " +
    "trust-rename upgrades a deployer-asserted scheme; file stays hard-link") {
    import graft.functions.StoreCommit.{publishStrategy, HardLink,
      AtomicRename, ConditionalPut, Unsupported}
    for (s <- Seq("s3a", "s3", "gs", "abfs", "abfss", "wasb", "oss"))
      assert(publishStrategy(s, conditionalPut = true, Set.empty)
        == ConditionalPut, s)
    // the opt-in is an object-store statement — it never downgrades the
    // strictly-stronger local/HDFS guarantees, and never blesses an
    // unknown scheme (whose connector semantics the flag says nothing of)
    assert(publishStrategy("file", conditionalPut = true, Set.empty)
      == HardLink)
    assert(publishStrategy("hdfs", conditionalPut = true, Set.empty)
      == AtomicRename)
    assert(publishStrategy("weirdfs", conditionalPut = true, Set.empty)
      == Unsupported)
    assert(publishStrategy("weirdfs", conditionalPut = false, Set("weirdfs"))
      == AtomicRename)
  }

  test("conditional-put publish: exactly-one semantics through " +
    "createFile(overwrite=false) — content lands, staging reclaimed, a " +
    "second same-destination publish maps to the replay signal") {
    import org.apache.hadoop.fs.Path
    val root = tmp("sc_condput")
    // an object-store-scheme FS whose conf opts in to conditional put,
    // backed by the local FS (whose overwrite=false create also refuses
    // an existing destination — the precondition the flag asserts)
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.setBoolean(StoreCommit.ConditionalPutKey, true)
    val fake = new org.apache.hadoop.fs.LocalFileSystem {
      override def getUri: java.net.URI = java.net.URI.create("s3a://bucket")
    }
    fake.initialize(java.net.URI.create("file:///"), conf)
    def stage(name: String, content: String): Path = {
      val p = new Path(s"$root/$name")
      val out = fake.create(p, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      p
    }
    val dst = new Path(s"$root/history/v0")
    fake.mkdirs(new Path(s"$root/history"))
    val src1 = stage(".tmp_v0_1", "nonce 1\nfile a\n")
    StoreCommit.exclusiveMoveFile(fake, src1, dst, "TestStore")
    assert(!fake.exists(src1), "staging tmp not reclaimed after publish")
    val in = fake.open(dst)
    val got = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    assert(got == "nonce 1\nfile a\n")
    // second publisher racing the same version loses LOUDLY as a replay
    val src2 = stage(".tmp_v0_2", "nonce 2\nfile b\n")
    intercept[java.util.ConcurrentModificationException](
      StoreCommit.exclusiveMoveFile(fake, src2, dst, "TestStore"))
    // the loser never clobbered the committed content
    val in2 = fake.open(dst)
    val still = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in2), "UTF-8")
      finally in2.close()
    assert(still == "nonce 1\nfile a\n")
  }

  test("cross-JVM rebuild aliasing: a SAME-length SAME-mtime manifest " +
    "rewrite is still detected — the positional nonce check re-reads " +
    "where a (length, mtime) stat compare would serve stale lines") {
    val dir = tmp("sc_memo_alias")
    SignatureStore.build(docsRange(0, 5), dir)
    val fs = StoreCommit.fsOf(spark, dir)
    val warm = StoreCommit.readManifestLinesCached(fs, dir, 0L)
    val oldNonce = warm.head
    assert(oldNonce.startsWith("nonce "), s"nonce must lead: $warm")
    // simulate ANOTHER PROCESS'S rebuild landing a manifest of IDENTICAL
    // length within the same mtime tick (raw file ops — this JVM's memo
    // is never invalidated): only the nonce digits differ, exactly the
    // aliasing shape the r16 verdict flagged
    val v0 = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(s"$dir/history/v0"))
    val newNonce = "nonce " + oldNonce.drop(6)
      .map(c => (((c - '0') + 1) % 10 + '0').toChar)
    assert(newNonce != oldNonce && newNonce.length == oldNonce.length)
    val p = java.nio.file.Paths.get(s"$dir/history/v0")
    val mtime = java.nio.file.Files.getLastModifiedTime(p)
    java.nio.file.Files.delete(p)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/history/.v0.crc"))
    val replaced = v0.toArray.map(_.toString)
      .map(l => if (l == oldNonce) newNonce else l)
    java.nio.file.Files.write(p,
      (replaced.mkString("\n") + "\n").getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(p, mtime) // force the alias
    assert(java.nio.file.Files.size(p) ==
      (v0.toArray.mkString("\n") + "\n").getBytes("UTF-8").length.toLong)
    // a second FileSystem handle (the "other process's" reader view)
    val fs2 = org.apache.hadoop.fs.FileSystem.newInstance(
      java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    try {
      val after = StoreCommit.readManifestLinesCached(fs2, dir, 0L)
      assert(after.head == newNonce,
        s"memo served pre-rebuild lines under a same-length same-mtime " +
          s"alias: $after")
    } finally fs2.close()
  }

  // ------------------------------------------------- vacuum vs publish

  test("vacuum aborts with NOTHING deleted when a publish lands after its " +
    "reap set is computed (SignatureStore)") {
    val dir = tmp("sc_vac_sig")
    SignatureStore.build(docsRange(0, 10), dir)
    SignatureStore.append(docsRange(10, 20), dir) // v1
    StoreCommit.onBeforeReap = () => {
      StoreCommit.onBeforeReap = () => () // fire once
      SignatureStore.append(docsRange(20, 30), dir) // v2 lands in the window
    }
    try
      intercept[java.util.ConcurrentModificationException](
        SignatureStore.vacuum(spark, dir, keepLast = 1))
    finally StoreCommit.onBeforeReap = () => ()
    // invariant: no retained manifest references a deleted path, and the
    // store serves the union of all three batches
    assert(SignatureStore.versions(spark, dir) == Seq(0L, 1L, 2L))
    assert(SignatureStore.stored(spark, dir).count() == 30)
  }

  test("vacuum aborts with NOTHING deleted when a publish lands after its " +
    "reap set is computed (IvfIndex)") {
    val dir = tmp("sc_vac_ivf")
    IvfIndex.build(vecsRange(0, 30), "id", "v", nCells = 2, dir)
    val ix = IvfIndex.load(spark, dir)
    ix.appendBatch(vecsRange(30, 40), "id", "v") // v1
    StoreCommit.onBeforeReap = () => {
      StoreCommit.onBeforeReap = () => ()
      ix.appendBatch(vecsRange(40, 50), "id", "v") // v2 lands in the window
    }
    try
      intercept[java.util.ConcurrentModificationException](
        ix.vacuum(keepLast = 1))
    finally StoreCommit.onBeforeReap = () => ()
    assert(ix.version == 2L)
    assert(ix.cells.count() == 50,
      "an aborted vacuum must leave every committed generation intact")
  }

  test("a publish whose staged generation was vacuumed aborts loudly " +
    "instead of committing a manifest that references deleted paths") {
    val dir = tmp("sc_pub_vac")
    SignatureStore.build(docsRange(0, 10), dir)
    SignatureStore.append(docsRange(10, 20), dir) // v1 — gives vacuum work
    // interleave a vacuum at exactly the CAS window: the appender's
    // staged generation is unreferenced at that instant, so the reap
    // deletes it — the commit's referenced-data verify must catch that
    StoreCommit.onBeforeCommit = () => {
      StoreCommit.onBeforeCommit = () => ()
      SignatureStore.vacuum(spark, dir, keepLast = 1)
    }
    try
      intercept[java.util.ConcurrentModificationException](
        SignatureStore.append(docsRange(20, 30), dir))
    finally StoreCommit.onBeforeCommit = () => ()
    // the store is unharmed and the loser's replay converges
    assert(SignatureStore.stored(spark, dir).count() == 20)
    SignatureStore.append(docsRange(20, 30), dir)
    assert(SignatureStore.stored(spark, dir).count() == 30)

    // PairStore: an append whose pair already lies inside one cluster
    // stages ONLY a pair file (no label generation), so the commit must
    // verify pair files, not just label dirs
    val pdir = tmp("sc_pub_vac_pairs")
    PairStore.build((1L to 3L).toDF("id"),
      Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b"), pdir, "id", "id_a", "id_b")
    def appendPair(): Unit = PairStore.append(Seq.empty[Long].toDF("id"),
      Seq((1L, 3L)).toDF("id_a", "id_b"), pdir, "id", "id_a", "id_b")
    StoreCommit.onBeforeCommit = () => {
      StoreCommit.onBeforeCommit = () => ()
      PairStore.vacuum(spark, pdir, keepLast = 1)
    }
    try intercept[java.util.ConcurrentModificationException](appendPair())
    finally StoreCommit.onBeforeCommit = () => ()
    assert(PairStore.snapshot(spark, pdir).version == 0L)
    assert(PairStore.pairs(spark, pdir).as[(Long, Long)].collect().sorted.toSeq
      == Seq((1L, 2L), (2L, 3L)), "v0 must still be served")
    appendPair()
    assert(PairStore.pairs(spark, pdir).as[(Long, Long)].collect().sorted.toSeq
      == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(PairStore.labels(spark, pdir).as[(Long, Long)].collect().toMap
      == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  // ------------------------------------------- cross-store interleave

  test("property: PairStore appends, IVF appends, and vacuums racing on " +
    "sibling stores under one root keep each manifest chain independent " +
    "and never reference deleted paths") {
    val root = tmp("sc_cross")
    val pairDir = s"$root/pairs"
    val ivfDir = s"$root/ivf"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(pairDir))
    // seed both stores
    PairStore.build(
      nodes = (0L until 10L).toDF("id"),
      pairs = Seq((0L, 1L), (2L, 3L)).toDF("id_a", "id_b"),
      pairDir, "id", "id_a", "id_b")
    IvfIndex.build(vecsRange(0, 30), "id", "v", nCells = 2, ivfDir)

    // A writer racing a vacuum can lose in several shapes, all of which
    // mean "replay the batch": the CAS/referenced-path CME, or a Spark
    // job failure when the vacuum reaped the staged dir MID-WRITE (the
    // documented no-writer-live rule — this test races them anyway to
    // pin that every loss is loud and replayable, never silent
    // corruption). Retry on any of them; only the final-state asserts
    // decide the test.
    def replayable(t: Throwable): Boolean = t match {
      case null => false
      case _: java.util.ConcurrentModificationException => true
      case _: java.io.FileNotFoundException => true
      case e => replayable(e.getCause)
    }
    def retrying(n: Int)(body: => Unit): Unit = {
      var left = n
      while (left > 0)
        try { body; left = 0 }
        catch {
          case e: Throwable if left > 1 && (replayable(e) ||
              e.isInstanceOf[org.apache.spark.SparkException] ||
              e.isInstanceOf[IllegalStateException]) =>
            left -= 1
        }
    }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def thread(body: => Unit): Thread = {
      val t = new Thread(() =>
        try body catch { case e: Throwable => errs.add(e) })
      t.start(); t
    }
    val rnd = new scala.util.Random(42)
    val sleeps = Seq.fill(8)(rnd.nextInt(40))
    val ts = Seq(
      thread {
        for (b <- 0 until 3) {
          Thread.sleep(sleeps(b).toLong)
          val lo = 10 + b * 5
          retrying(5)(PairStore.append(
            (lo.toLong until (lo + 5).toLong).toDF("id"),
            Seq((lo.toLong, lo + 1L)).toDF("id_a", "id_b"),
            pairDir, "id", "id_a", "id_b"))
        }
      },
      thread {
        for (b <- 0 until 3) {
          Thread.sleep(sleeps(3 + b).toLong)
          val lo = 30 + b * 10
          retrying(5)(IvfIndex.load(spark, ivfDir)
            .appendBatchIdempotent(vecsRange(lo, lo + 10), "id", "v"))
        }
      },
      thread {
        for (b <- 0 until 2) {
          Thread.sleep(sleeps(6 + b).toLong)
          // racing vacuums may legitimately abort on the publish guard
          // or trip over a writer's in-flight staging — the property is
          // that they never corrupt, not that they win
          try PairStore.vacuum(spark, pairDir, keepLast = 2)
          catch {
            case _: java.util.ConcurrentModificationException => ()
            case _: java.io.FileNotFoundException => ()
            case _: IllegalStateException => ()
          }
          try IvfIndex.load(spark, ivfDir).vacuum(keepLast = 2)
          catch {
            case _: java.util.ConcurrentModificationException => ()
            case _: java.io.FileNotFoundException => ()
            case _: IllegalStateException => ()
          }
        }
      })
    ts.foreach(_.join(120000))
    assert(errs.isEmpty, s"unexpected failure in race: ${errs.peek()}")

    // each chain advanced independently: exactly its own commits
    assert(PairStore.snapshot(spark, pairDir).version == 3L,
      "PairStore chain gained/lost a version from a sibling store's commits")
    assert(IvfIndex.load(spark, ivfDir).version == 3L,
      "IvfIndex chain gained/lost a version from a sibling store's commits")
    // no committed manifest references a deleted path, and content is
    // exactly the union of the committed batches
    val labels = PairStore.labels(spark, pairDir)
    assert(labels.count() == 25, "PairStore lost or duplicated label rows")
    val ivf = IvfIndex.load(spark, ivfDir)
    assert(ivf.cells.count() == 60, "IvfIndex lost or duplicated rows")
    // full-probe read of the final state must succeed end-to-end (every
    // manifest-referenced cell dir exists and scans)
    assert(ivf.topK(vecsRange(0, 2), "id", "v", k = 3, nProbe = 2)
      .count() > 0)
  }

  // ------------------------------------------- kill-replay at the one seam

  /** Runs `verbs` in order on a store built by `build` and on a fresh
    * twin built the same way. On the first store each verb is killed once
    * at the one pre-commit seam ([[StoreCommit.onBeforeCommit]]): it must
    * throw with the head version and the `served` rows unchanged. Its
    * replay must then equal the twin's uninterrupted run, and `maintain`
    * (vacuum, and recover) must leave the served rows as they are. */
  private def killReplay(store: String, build: String => Unit, head: String => Long,
      served: String => Any, maintain: String => Unit)(
      verbs: (String, String => Unit)*): Unit = {
    val (dir, twin) = (tmp(s"sc_kill_$store"), tmp(s"sc_twin_$store"))
    build(dir)
    build(twin)
    verbs.foreach { case (name, verb) =>
      val (v0, rows0) = (head(dir), served(dir))
      val crash = s"injected crash: $store.$name pre-commit"
      val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
      StoreCommit.onBeforeCommit = () =>
        if (armed.getAndSet(false)) throw new RuntimeException(crash)
      val err = try withClue(s"$store.$name: ")(intercept[RuntimeException](verb(dir)))
        finally StoreCommit.onBeforeCommit = () => ()
      assert(err.getMessage == crash, s"$store.$name failed elsewhere: $err")
      assert(head(dir) == v0, s"$store.$name: a killed verb moved the head")
      assert(served(dir) == rows0, s"$store.$name: a killed verb changed the served rows")
      verb(dir)
      verb(twin)
      val want = served(twin)
      assert(head(dir) == head(twin), s"$store.$name: replay committed another version count")
      assert(served(dir) == want, s"$store.$name: replay != an uninterrupted run")
      maintain(dir)
      assert(served(dir) == want, s"$store.$name: maintenance changed the served rows")
    }
  }

  storeTest("kill-replay: every write verb of every store, killed at the one pre-commit " +
      "seam, leaves the head and the served rows unchanged, replays to an uninterrupted " +
      "run's result, and survives vacuum (and recover)") {
    killReplay("PairStore",
      dir => PairStore.build((1L to 12L).toDF("id"),
        Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L)).toDF("id_a", "id_b"), dir,
        "id", "id_a", "id_b", buckets = 4),
      PairStore.snapshot(spark, _).version,
      dir => (PairStore.labels(spark, dir).as[(Long, Long)].collect().toMap,
        PairStore.pairs(spark, dir).as[(Long, Long)].collect().sorted.toSeq),
      dir => { PairStore.vacuum(spark, dir, keepLast = 1); PairStore.recover(spark, dir) })(
      ("append", PairStore.append((13L to 14L).toDF("id"),
        Seq((3L, 13L), (6L, 13L), (9L, 14L)).toDF("id_a", "id_b"), _, "id", "id_a", "id_b")),
      ("delete", PairStore.delete(Seq(2L, 14L).toDF("id"), _, "id", "id_a", "id_b")),
      ("compactPairs", PairStore.compactPairs(spark, _)))

    def sigVersion(dir: String) = SignatureStore.versions(spark, dir).max
    killReplay("SignatureStore", SignatureStore.build(docsRange(0, 10), _), sigVersion,
      dir => rows(SignatureStore.stored(spark, dir).orderBy("doc_id")),
      SignatureStore.vacuum(spark, _, keepLast = 1))(
      ("append", SignatureStore.append(docsRange(10, 15), _)),
      ("delete", SignatureStore.delete(spark, Seq(3L, 12L).toDF("doc_id"), _)),
      ("compact", SignatureStore.compact(spark, _)))

    // ids and full-probe top-k: exact whatever the quantizer a rebuild trains
    val q = vecsRange(0, 3)
    killReplay("IvfIndex", dir => IvfIndex.build(vecsRange(0, 40), "id", "v", 2, dir),
      IvfIndex.load(spark, _).version,
      dir => {
        val ix = IvfIndex.load(spark, dir)
        (ix.cells.select("id").as[Long].collect().sorted.toSeq,
          rows(ix.topK(q, "id", "v", k = 3, nProbe = 2)))
      },
      IvfIndex.load(spark, _).vacuum(keepLast = 1))(
      ("appendBatch", IvfIndex.load(spark, _).appendBatch(vecsRange(40, 50), "id", "v")),
      // before the delete, which may rewrite every cell into one generation
      ("compact", IvfIndex.load(spark, _).compact()),
      ("delete", IvfIndex.load(spark, _).delete(Seq(1L, 45L).toDF("id"), "id")),
      ("rebuild", IvfIndex.load(spark, _).rebuild()))
  }

  // ------------------------------------------- read-plan gates

  storeTest("plan gate: 30 alternating SignatureStore appends and deletes keep the " +
      "stored() plan within 3x the nodes and 8x the explain chars of its plan after build") {
    val dir = tmp("sc_sig_plan")
    SignatureStore.build(docsRange(0, 20), dir)
    def plan(): (Int, Int) = {
      val qe = SignatureStore.stored(spark, dir).queryExecution
      (qe.optimizedPlan.collect { case n => n }.size,
        qe.explainString(org.apache.spark.sql.execution.ExtendedMode).length)
    }
    val (nodes0, chars0) = plan()
    var live = (0L until 20L).toSet
    var next = 20
    val rnd = new scala.util.Random(20261021L)
    val sizes = Seq.newBuilder[(Int, Int)]
    for (op <- 1 to 30) {
      if (op % 2 == 1) {
        SignatureStore.append(docsRange(next, next + 3), dir)
        live ++= (next until next + 3).map(_.toLong)
        next += 3
      } else {
        val del = rnd.shuffle(live.toSeq.sorted).take(2)
        SignatureStore.delete(spark, del.toDF("doc_id"), dir)
        live --= del
      }
      assert(SignatureStore.stored(spark, dir).select("doc_id").as[Long].collect().toSet == live,
        s"op $op: stored ids != the survivors")
      val (n, c) = plan()
      sizes += ((n, c))
      assert(n <= 3 * nodes0 && c <= 8 * chars0,
        s"op $op: stored plan $n nodes / $c explain chars vs $nodes0 / $chars0 after build")
    }
    info(s"stored plan after build: $nodes0 nodes, $chars0 explain chars; after each op: " +
      sizes.result().map { case (n, c) => s"$n/$c" }.mkString(" "))
  }
}
