package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{NearDup, SignatureStore, StoreCommit}

/** Persisted signature store ([[graft.functions.SignatureStore]]) — the
  * store round-trip must be invisible: screening against parquet
  * signatures equals screening against re-shingled text, including after
  * incremental appends. Oracle parity at sf is `dedup_incremental_store`
  * (same SQL as `dedup_incremental`). */
class SignatureStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_sigstore_test").toString

  /** recompute-from-text reference: the dedup_incremental composition */
  private def reference(existing: DataFrame, incoming: DataFrame): Seq[Long] = {
    val exKeys = existing.select(md5(lower(trim(col("text")))).as("h")).distinct()
    val keepers = incoming
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("h"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
    val afterExact = keepers.join(exKeys, Seq("h"), "left_anti")
    val ndOld = NearDup.ngramJaccardAcross(incoming, existing, 0.5)
      .select(col("id_a").as("doc_id")).distinct()
    val ndNew = NearDup.ngramJaccardPairs(incoming, 0.5)
      .select(col("id_b").as("doc_id")).distinct()
    afterExact.select(col("doc_id"))
      .join(ndOld, Seq("doc_id"), "left_anti")
      .join(ndNew, Seq("doc_id"), "left_anti")
      .as[Long].collect().sorted.toSeq
  }

  private def docs(sf: String) = Tables.documents(spark, sf)

  storeTest("store-backed screen equals the recompute-from-text reference") {
    val existing = docs(sf0001).filter(col("doc_id") < 30)
    val incoming = docs(sf0001).filter(col("doc_id") >= 30)
    val dir = tmp()
    SignatureStore.build(existing, dir)
    val got = SignatureStore.screenBatch(spark, incoming, dir, 0.5)
      .as[Long].collect().sorted.toSeq
    val want = reference(existing, incoming)
    assert(want.nonEmpty && got == want)
  }

  storeTest("append grows the store batch-by-batch (second batch sees the first)") {
    val base = docs(sf0001).filter(col("doc_id") < 20)
    val b1 = docs(sf0001).filter(col("doc_id") >= 20 && col("doc_id") < 35)
    val b2 = docs(sf0001).filter(col("doc_id") >= 35)
    val dir = tmp()
    SignatureStore.build(base, dir)
    SignatureStore.append(b1, dir)
    val got = SignatureStore.screenBatch(spark, b2, dir, 0.5)
      .as[Long].collect().sorted.toSeq
    val want = reference(base.unionAll(b1), b2)
    assert(got == want)
  }

  storeTest("short docs (< w tokens) screen exactly via the empty-array row") {
    val existing = Seq((1L, "x y"), (2L, "a b c d e")).toDF("doc_id", "text")
    val incoming = Seq((10L, "x y"), (11L, "q r"), (12L, "a b c d e f"))
      .toDF("doc_id", "text")
    val dir = tmp()
    SignatureStore.build(existing, dir)
    val got = SignatureStore.screenBatch(spark, incoming, dir, 0.5)
      .as[Long].collect().sorted.toSeq
    // 10 is an exact dup of 1 (short docs still hash); 12 is a near-dup
    // of 2 (jaccard 4/6 >= 0.5); only 11 survives
    assert(got == Seq(11L))
  }

  storeTest("delete: a batch doc matching ONLY a forgotten doc is now accepted") {
    val keep = Seq((1L, "alpha beta gamma delta epsilon"))
    val forget = Seq((2L, "one two three four five six"))
    val existing = (keep ++ forget).toDF("doc_id", "text")
    // 10 near-dups the forgotten doc; 11 near-dups the kept doc; 12 clean
    val incoming = Seq(
      (10L, "one two three four five seven"),
      (11L, "alpha beta gamma delta zeta"),
      (12L, "unrelated content entirely here")).toDF("doc_id", "text")
    val dir = tmp()
    SignatureStore.build(existing, dir)
    assert(SignatureStore.screenBatch(spark, incoming, dir, 0.5)
      .as[Long].collect().sorted.toSeq == Seq(12L), "precondition")
    SignatureStore.delete(spark, Seq(2L).toDF("doc_id"), dir)
    val got = SignatureStore.screenBatch(spark, incoming, dir, 0.5)
      .as[Long].collect().sorted.toSeq
    assert(got == Seq(10L, 12L),
      "screening must behave as if the deleted doc was never ingested")
    // equals the recompute reference over the surviving corpus
    assert(got == reference(keep.toDF("doc_id", "text"), incoming))
    // replay converges; deleting a never-stored id is a no-op
    SignatureStore.delete(spark, Seq(2L, 999L).toDF("doc_id"), dir)
    assert(SignatureStore.screenBatch(spark, incoming, dir, 0.5)
      .as[Long].collect().sorted.toSeq == Seq(10L, 12L))
  }

  storeTest("delete keeps co-located survivors: same-file rows not deleted survive") {
    // one build writes few files; delete doc 1 but doc 2 may share its file
    val existing = Seq(
      (1L, "a b c d e f"), (2L, "g h i j k l"), (3L, "m n o p q r"))
      .toDF("doc_id", "text").coalesce(1)
    val dir = tmp()
    SignatureStore.build(existing, dir)
    SignatureStore.delete(spark, Seq(1L).toDF("doc_id"), dir)
    val left = SignatureStore.stored(spark, dir).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(left == Seq(2L, 3L),
      "survivor rows sharing a rewritten file must be preserved")
  }

  test("an empty append commits nothing: versions and live files unchanged") {
    // an all-rejected micro-batch reaches append as an empty frame, and
    // Spark writes one schema-only part file for it
    val dir = tmp()
    SignatureStore.build(docs(sf0001).filter(col("doc_id") < 10), dir)
    val empty = docs(sf0001).filter(lit(false))
    val versions = SignatureStore.versions(spark, dir)
    val files = SignatureStore.stored(spark, dir).inputFiles.toSeq.sorted
    SignatureStore.append(empty, dir)
    SignatureStore.append(empty, dir)
    assert(SignatureStore.versions(spark, dir) == versions)
    assert(SignatureStore.stored(spark, dir).inputFiles.toSeq.sorted == files)
  }

  test("interleaved appenders: exactly one commits, the loser fails loudly, " +
      "its replayed screen+append converges") {
    val a = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val bA = Seq((10L, "one two three four")).toDF("doc_id", "text")
    val bB = Seq((20L, "five six seven eight")).toDF("doc_id", "text")
    val dir = tmp()
    SignatureStore.build(a, dir)
    // Appender A stages its generation; at A's CAS window the hook runs
    // appender B's ENTIRE append (committing the next version). A must
    // abort without touching B's committed state.
    val err = try {
      StoreCommit.onBeforeCommit = () => {
        StoreCommit.onBeforeCommit = () => () // B must not recurse
        SignatureStore.append(bB, dir)
      }
      intercept[java.util.ConcurrentModificationException] {
        SignatureStore.append(bA, dir)
      }
    } finally StoreCommit.onBeforeCommit = () => ()
    assert(err.getMessage.contains("concurrent writer"), err.getMessage)
    // exactly B's commit landed
    assert(SignatureStore.stored(spark, dir).select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 20L))
    // the loser replays (screen + append) against the new head → converges
    val accepted = SignatureStore.screenBatch(spark, bA, dir, 0.5)
      .as[Long].collect().toSeq
    assert(accepted == Seq(10L))
    SignatureStore.append(bA, dir)
    assert(SignatureStore.stored(spark, dir).select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 10L, 20L))
    // vacuum reaps the loser's orphan generation without disturbing state
    SignatureStore.vacuum(spark, dir, keepLast = 1)
    assert(SignatureStore.stored(spark, dir).select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 10L, 20L))
  }

  test("append/delete race a competing delete: CAS aborts, state unharmed") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"), (2L, "one two three four"),
      (3L, "five six seven eight")).toDF("doc_id", "text")
    val dir = tmp()
    SignatureStore.build(docs, dir)
    val err = try {
      StoreCommit.onBeforeCommit = () => {
        StoreCommit.onBeforeCommit = () => ()
        SignatureStore.delete(spark, Seq(3L).toDF("doc_id"), dir)
      }
      intercept[java.util.ConcurrentModificationException] {
        SignatureStore.delete(spark, Seq(2L).toDF("doc_id"), dir)
      }
    } finally StoreCommit.onBeforeCommit = () => ()
    assert(err.getMessage.contains("concurrent writer"), err.getMessage)
    assert(SignatureStore.stored(spark, dir).select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L),
      "only the inner delete may have committed")
    // replaying the losing delete converges
    SignatureStore.delete(spark, Seq(2L).toDF("doc_id"), dir)
    assert(SignatureStore.stored(spark, dir).select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(1L))
  }

  test("storedAt: pinned snapshot unchanged across append+delete; vacuum past " +
      "retention fails it loudly") {
    val base = docs(sf0001).filter(col("doc_id") < 20)
    val b1 = docs(sf0001).filter(col("doc_id") >= 20 && col("doc_id") < 30)
    val dir = tmp()
    SignatureStore.build(base, dir)
    val v0 = SignatureStore.versions(spark, dir).max
    val want = SignatureStore.stored(spark, dir, Some(v0))
      .select("doc_id").as[Long].collect().sorted.toSeq
    SignatureStore.append(b1, dir)
    SignatureStore.delete(spark, Seq(3L).toDF("doc_id"), dir)
    assert(SignatureStore.stored(spark, dir, Some(v0))
      .select("doc_id").as[Long].collect().sorted.toSeq == want,
      "the pinned version must not see later appends/deletes")
    assert(SignatureStore.stored(spark, dir)
      .select("doc_id").as[Long].collect().sorted.toSeq != want)
    assert(SignatureStore.versions(spark, dir).size == 3)
    SignatureStore.vacuum(spark, dir, keepLast = 1)
    val gone = intercept[IllegalArgumentException](
      SignatureStore.stored(spark, dir, Some(v0)))
    assert(gone.getMessage.contains("vacuumed"), gone.getMessage)
  }

  storeTest("compact: files fold, screening identical, vacuum reaps the old files") {
    val base = docs(sf0001).filter(col("doc_id") < 20)
    val b1 = docs(sf0001).filter(col("doc_id") >= 20 && col("doc_id") < 35)
    val b2 = docs(sf0001).filter(col("doc_id") >= 35 && col("doc_id") < 50)
    val probe = docs(sf0001).filter(col("doc_id") >= 50)
    val dir = tmp()
    SignatureStore.build(base, dir)
    SignatureStore.append(b1, dir)
    SignatureStore.append(b2, dir)
    val before = SignatureStore.screenBatch(spark, probe, dir, 0.5)
      .as[Long].collect().toSeq
    val filesBefore = SignatureStore.stored(spark, dir).inputFiles.length
    SignatureStore.compact(spark, dir)
    val filesAfter = SignatureStore.stored(spark, dir).inputFiles.length
    assert(filesAfter < filesBefore && filesAfter >= 1,
      s"compact must fold files: $filesBefore -> $filesAfter")
    assert(SignatureStore.screenBatch(spark, probe, dir, 0.5)
      .as[Long].collect().toSeq == before,
      "compaction must not change screening")
    SignatureStore.vacuum(spark, dir, keepLast = 1)
    assert(SignatureStore.screenBatch(spark, probe, dir, 0.5)
      .as[Long].collect().toSeq == before)
  }

  test("vacuum reaps orphaned manifest tmp files, committed manifests untouched") {
    val dir = tmp()
    SignatureStore.build(docs(sf0001).filter(col("doc_id") < 20), dir)
    SignatureStore.append(
      docs(sf0001).filter(col("doc_id") >= 20 && col("doc_id") < 30), dir)
    // a crashed publisher's leftover: staged but never moved onto v<N>
    val orphan = java.nio.file.Paths.get(dir, "history", ".tmp_v9_12345")
    java.nio.file.Files.writeString(orphan, "v 9\nnonce 12345\n")
    SignatureStore.vacuum(spark, dir, keepLast = 1)
    assert(!java.nio.file.Files.exists(orphan),
      "vacuum must reap history/.tmp_* orphans")
    // the retained manifest still serves
    assert(SignatureStore.stored(spark, dir).count() > 0)
  }

  storeTest("property: random append/delete interleavings screen like the surviving corpus") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // 12-token pool over 5-token docs: exact and near dups occur often
    val pool = Vector("a", "b", "c", "d", "e", "f", "g", "h", "i", "j", "k", "l")
    val genDoc = Gen.listOfN(5, Gen.choose(0, pool.size - 1))
      .map(_.map(pool).mkString(" "))
    val gen = for {
      texts <- Gen.listOfN(24, genDoc)
      probe <- Gen.listOfN(6, genDoc)
      dels  <- Gen.listOfN(2, Gen.listOfN(3, Gen.choose(0, 23)))
    } yield (texts, probe, dels)
    for (seed <- 1 to 3) {
      val (texts, probeT, dels) =
        gen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val batches = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.grouped(8).toSeq
      val probe = probeT.zipWithIndex
        .map { case (t, i) => ((100 + i).toLong, t) }.toDF("doc_id", "text")
      val dir = tmp()
      var corpus = Seq.empty[(Long, String)]
      batches.zipWithIndex.foreach { case (b, k) =>
        if (k == 0) SignatureStore.build(b.toDF("doc_id", "text"), dir)
        else SignatureStore.append(b.toDF("doc_id", "text"), dir)
        corpus ++= b
        if (k < dels.size) {
          val ids = corpus.map(_._1).toSet
          val del = dels(k).map(_.toLong).distinct.filter(ids)
          if (del.nonEmpty) {
            SignatureStore.delete(spark, del.toDF("doc_id"), dir)
            corpus = corpus.filterNot(c => del.contains(c._1))
          }
        }
        val got = SignatureStore.screenBatch(spark, probe, dir, 0.5)
          .as[Long].collect().sorted.toSeq
        val want = reference(corpus.toDF("doc_id", "text"), probe)
        assert(got == want,
          s"seed $seed after batch $k: store screen != surviving-corpus screen")
      }
    }
  }
}
