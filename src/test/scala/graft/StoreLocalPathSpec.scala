package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{NearDup, PairStore, SignatureStore, StoreCommit}

/** The store verbs' driver-local path ([[StoreCommit.localRows]]): a
  * batch within the row bound must leave exactly the store the
  * distributed path leaves, in fewer Spark jobs; a batch or touched set
  * above it must fall back to the same result; and a store's readers
  * start no job at all. */
class StoreLocalPathSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_store_local_spec").toString

  private def distributed[T](body: => T): T = withLocalRows(0)(body)

  private def pairsFor(batch: DataFrame, ingested: DataFrame): DataFrame =
    NearDup.ngramJaccardAcross(batch, ingested, 0.5)
      .unionByName(NearDup.ngramJaccardPairs(batch, 0.5))

  // every verb takes a distinct path on the two stores: the driver-local
  // append against the distributed one (both write delta leaves, the
  // distributed one folding every bucket its uncollected tombstones
  // touch), and likewise delete and screenBatch
  test("one seeded op sequence on two stores, one per setting: identical labels, " +
      "pairs and screens after every op") {
    // a 10-token pool over 5-token docs: exact and near dups are common
    val rnd = new scala.util.Random(20261018L)
    val pool = Vector("a", "b", "c", "d", "e", "f", "g", "h", "i", "j")
    def doc(): String = Seq.fill(5)(pool(rnd.nextInt(pool.size))).mkString(" ")
    val corpus = (0L until 42L).map(i => (i, doc()))
    val probe = (100L until 108L).map(i => (i, doc())).toDF("doc_id", "text")
    def docs(ids: Seq[Long]): DataFrame =
      corpus.filter(d => ids.contains(d._1)).toDF("doc_id", "text")

    val (local, dist) = ((tmpDir(), tmpDir()), (tmpDir(), tmpDir()))
    def both(op: ((String, String)) => Unit): Unit = { op(local); distributed(op(dist)) }
    def state(s: (String, String)): (Seq[(Long, Long)], Seq[(Long, Long)], Seq[Long]) = (
      PairStore.labels(spark, s._1).as[(Long, Long)].collect().sorted.toSeq,
      PairStore.pairs(spark, s._1).select("id_a", "id_b").as[(Long, Long)]
        .collect().sorted.toSeq,
      SignatureStore.screenBatch(spark, probe, s._2, 0.5).as[Long].collect().toSeq)
    def check(step: String): Unit = {
      val (l, d) = (state(local), distributed(state(dist)))
      assert(l == d, s"after $step: driver-local store != distributed store")
    }

    var live = (0L until 12L).toVector
    both { s =>
      val d = docs(live)
      PairStore.build(d.select(col("doc_id")), NearDup.ngramJaccardPairs(d, 0.5),
        s._1, "doc_id", "id_a", "id_b")
      SignatureStore.build(d, s._2)
    }
    check("build")
    var next = 12L
    for (round <- 1 to 3) {
      val add = (next until next + 10L).toVector
      next += 10L
      val (batch, ingested) = (docs(add), docs(live))
      both { s =>
        PairStore.append(batch.select(col("doc_id")), pairsFor(batch, ingested),
          s._1, "doc_id", "id_a", "id_b")
        SignatureStore.append(batch, s._2)
      }
      check(s"round $round append")
      if (round == 2) {
        // a whole-batch replay must commit nothing on either path
        both { s =>
          PairStore.append(batch.select(col("doc_id")), pairsFor(batch, ingested),
            s._1, "doc_id", "id_a", "id_b")
        }
        check(s"round $round replayed append")
      }
      live ++= add
      val del = rnd.shuffle(live).take(3) :+ 999L // 999 was never stored
      both { s =>
        PairStore.delete(del.toDF("doc_id"), s._1, "doc_id", "id_a", "id_b")
        SignatureStore.delete(spark, del.toDF("doc_id"), s._2)
      }
      live = live.filterNot(del.contains)
      check(s"round $round delete")
    }
  }

  // append is measured too, under the test's original name
  test("delete and screenBatch at the production bound start at most half " +
      "the Spark jobs of the distributed path") {
    val docs = Tables.documents(spark, sf0001)
    def slice(lo: Long, hi: Long) = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
    val (base, batch, probe) = (slice(0, 60), slice(60, 70), slice(70, 90))
    def jobs(): Map[String, Int] = {
      val (pairDir, sigDir) = (tmpDir(), tmpDir())
      PairStore.build(base.select(col("doc_id")), NearDup.ngramJaccardPairs(base, 0.5),
        pairDir, "doc_id", "id_a", "id_b")
      SignatureStore.build(base, sigDir)
      // the batch's pairs are found first, so the count is append's own work
      val found = pairsFor(batch, base)
      val pairs = StoreCommit.localFrame(spark, found.schema, found.collect().toSeq)
      Map(
        "append" -> jobsDuring(PairStore.append(batch.select(col("doc_id")), pairs,
          pairDir, "doc_id", "id_a", "id_b")),
        "delete" -> jobsDuring(PairStore.delete(Seq(3L, 61L, 65L).toDF("doc_id"),
          pairDir, "doc_id", "id_a", "id_b")),
        "screenBatch" -> jobsDuring(
          SignatureStore.screenBatch(spark, probe, sigDir, 0.5).collect()))
    }
    // the local setting runs first, so warm caches can only favour the
    // distributed side
    val local = jobs()
    val dist = distributed(jobs())
    info(s"Spark jobs, driver-local vs distributed: $local vs $dist")
    for (verb <- Seq("append", "delete", "screenBatch"))
      assert(2 * local(verb) <= dist(verb),
        s"$verb: ${local(verb)} jobs driver-local vs ${dist(verb)} distributed")
  }

  test("on a warm store, constructing PairStore.labels, PairStore.pairs and " +
      "SignatureStore.stored starts no Spark job (nor on a cold one)") {
    val (pairDir, sigDir) = (tmpDir(), tmpDir())
    val d = Tables.documents(spark, sf0001).filter(col("doc_id") < 40)
    PairStore.build(d.select(col("doc_id")), NearDup.ngramJaccardPairs(d, 0.5),
      pairDir, "doc_id", "id_a", "id_b")
    SignatureStore.build(d, sigDir)
    def readers(): Unit = {
      PairStore.labels(spark, pairDir)
      PairStore.pairs(spark, pairDir)
      SignatureStore.stored(spark, sigDir)
    }
    assert(jobsDuring(readers()) == 0, "cold")
    assert(jobsDuring(readers()) == 0, "warm")
    // the schema read from a footer on the driver is the one Spark infers
    for (df <- Seq(PairStore.labels(spark, pairDir), PairStore.pairs(spark, pairDir),
        SignatureStore.stored(spark, sigDir)))
      assert(df.schema == spark.read.parquet(df.inputFiles.head).schema)
  }

  // append is covered too, under the test's original name
  test("above the bound, delete and screenBatch fall back to the distributed " +
      "path's result") {
    def sameAsDistributed[T](what: String)(op: => T): Unit = {
      val (small, dist) = (withLocalRows(8)(op), distributed(op))
      assert(small == dist, s"$what: bound-8 result != distributed result")
    }
    // a 30-member star (hub 0, two extra leaf pairs) and a 6-clique
    // (40..45, 15 pairs): deleting the hub fits the bound but its
    // cluster's members do not; deleting a clique node fits members but
    // not the pairs among them
    val nodes = (0L until 46L).toDF("id")
    val star = (1L until 30L).map((0L, _)) ++ Seq((1L, 2L), (3L, 4L))
    val clique = for (a <- 40L to 45L; b <- a + 1 to 45L) yield (a, b)
    val dirs = Seq(tmpDir(), tmpDir())
    def pairStore(dir: String): (Seq[(Long, Long)], Seq[(Long, Long)]) = (
      PairStore.labels(spark, dir).as[(Long, Long)].collect().sorted.toSeq,
      PairStore.pairs(spark, dir).select("id_a", "id_b").as[(Long, Long)]
        .collect().sorted.toSeq)
    for (dir <- dirs)
      PairStore.build(nodes, (star ++ clique).toDF("id_a", "id_b"), dir, "id", "id_a", "id_b")
    for (del <- Seq(Seq(0L), Seq(41L))) {
      withLocalRows(8)(PairStore.delete(del.toDF("id"), dirs(0), "id", "id_a", "id_b"))
      distributed(PairStore.delete(del.toDF("id"), dirs(1), "id", "id_a", "id_b"))
      assert(pairStore(dirs(0)) == pairStore(dirs(1)), s"after deleting $del")
    }
    // an append whose batch fits but which merges the chain 80..89 (10
    // members, over the bound) into the chain 60..79: it falls back whole
    val chains = (60L until 79L).map(a => (a, a + 1)) ++ (80L until 89L).map(a => (a, a + 1))
    for (dir <- dirs)
      PairStore.build((60L until 90L).toDF("id"), chains.toDF("id_a", "id_b"), dir,
        "id", "id_a", "id_b")
    // the store lines (buckets, tombstones, pair files) of manifest v
    def manifest(v: Long): Seq[String] =
      scala.io.Source.fromFile(s"${dirs(0)}/history/v$v").getLines().toSeq
        .filterNot(l => l.startsWith("nonce") || l.startsWith("version"))
    val (bridge, bridgePairs) = (Seq(100L).toDF("id"), Seq((70L, 100L), (85L, 100L)).toDF("id_a", "id_b"))
    withLocalRows(8)(PairStore.append(bridge, bridgePairs, dirs(0), "id", "id_a", "id_b"))
    distributed(PairStore.append(bridge, bridgePairs, dirs(1), "id", "id_a", "id_b"))
    assert(pairStore(dirs(0)) == pairStore(dirs(1)), "after the merging append")
    assert(pairStore(dirs(0))._1.map(_._2).distinct == Seq(60L))
    // the fallback writes a delta and a tombstone, as the driver path
    // does: one tombstone line for cluster 80 in 80's bucket, and one new
    // leaf in 60's bucket; no other bucket line changes
    def bucketOf(v: Long): Int =
      Seq(v).toDF("x").select(pmod(hash(col("x")), lit(16))).as[Int].collect().head
    val (before, after) = (manifest(0), manifest(1))
    assert(after.filter(_.startsWith("tombstone ")) == Seq(s"tombstone ${bucketOf(80L)} 80 1"),
      after.mkString("\n"))
    val added = after.filter(_.startsWith("bucket ")).diff(before)
    assert(added.size == 1 && added.head.startsWith(s"bucket ${bucketOf(60L)} labels_g1."),
      after.mkString("\n"))
    assert(before.filter(_.startsWith("bucket ")).forall(after.contains), after.mkString("\n"))
    // screens: a 4-doc batch (12 hashes) over the bound, and a 1-doc batch
    // whose 20 exact-duplicate store candidates (40 rows) are over it
    val sigDir = tmpDir()
    SignatureStore.build(
      ((0L until 20L).map((_, "a b c d")) ++ Seq((20L, "p q r s"))).toDF("doc_id", "text"),
      sigDir)
    val wide = Seq((100L, "a b c d e"), (101L, "p q r s t"), (102L, "u v w x y"),
      (103L, "u v w x z")).toDF("doc_id", "text")
    val dup = Seq((200L, "a b c d")).toDF("doc_id", "text")
    for ((name, batch) <- Seq("wide batch" -> wide, "duplicated candidates" -> dup))
      sameAsDistributed(name)(
        SignatureStore.screenBatch(spark, batch, sigDir, 0.5).as[Long].collect().toSeq)
  }

  test("localRows: a frame is returned up to the bound, never above it or at 0") {
    val df = spark.range(5).toDF("x")
    assert(withLocalRows(5)(StoreCommit.localRows(df)).map(_.length).contains(5))
    assert(withLocalRows(4)(StoreCommit.localRows(df)).isEmpty)
    assert(distributed(StoreCommit.localRows(df)).isEmpty)
    assert(StoreCommit.localRowsBound == StoreCommit.LocalRows)
  }
}
