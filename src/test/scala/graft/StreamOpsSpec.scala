package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamOps

final case class Doc(doc_id: Long, text: String, ts: Timestamp)

/** Streaming dedup + windowed aggregation over MemoryStreams. */
class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

  test("dedupWithinWatermark drops repeated keys across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val q = StreamOps.dedupWithinWatermark(
      mem.toDF(), Seq("text"), "ts", watermark = "2 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      mem.addData(Doc(0, "same content", ts(0)), Doc(1, "other content", ts(1)))
      q.processAllAvailable()
      mem.addData(Doc(2, "same content", ts(5)), Doc(3, "third content", ts(6)))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("doc_id")
        .as[Long].collect().toSet
      assert(ids == Set(0L, 1L, 3L), s"got $ids") // doc 2 is a dup of doc 0
    } finally q.stop()
  }

  test("ingestDedupStream: store-backed screening accumulates exactly like sequential batch ingest") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val storeDir = java.nio.file.Files
      .createTempDirectory("graft_ingest_stream").toString
    // words long enough that 3-token shingles exist; doc 20 is an exact
    // dup of ingested doc 1, doc 21 a near-dup of doc 2 (>= 0.5), doc 22
    // fresh, doc 23 a within-batch dup of 22, doc 24 a near-dup of the
    // batch-2-accepted doc 22 arriving in batch 3
    val ingested = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    graft.functions.SignatureStore.build(ingested, storeDir)
    val b1 = Seq(Doc(20L, "alpha beta gamma delta epsilon zeta", ts(1)),
      Doc(21L, "one two three four five six seven nine", ts(2)))
    val b2 = Seq(Doc(22L, "fresh words entirely new content here", ts(3)),
      Doc(23L, "fresh words entirely new content here", ts(4)))
    val b3 = Seq(Doc(24L, "fresh words entirely new content there", ts(5)))

    val mem = MemoryStream[Doc]
    val acceptedIds = scala.collection.mutable.Set.empty[Long]
    val q = StreamOps.ingestDedupStream(
      mem.toDF().select(col("doc_id"), col("text")), storeDir, threshold = 0.5) {
      accepted => acceptedIds ++= accepted.select("doc_id").as[Long].collect()
    }
    try {
      Seq(b1, b2, b3).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    // 20 exact-dup, 21 near-dup of store, 23 dup-of-22 in batch, 24
    // near-dup of the APPENDED 22 — only 22 survives
    assert(acceptedIds.toSet == Set(22L), s"got $acceptedIds")
    // the store grew by exactly the accepted doc's signatures
    assert(graft.functions.SignatureStore // 2 ingested + doc 22
      .stored(spark, storeDir)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 22L))
    // sequential batch-mode reference over the same three batches
    val storeDir2 = java.nio.file.Files
      .createTempDirectory("graft_ingest_batch").toString
    graft.functions.SignatureStore.build(ingested, storeDir2)
    val seqAccepted = Seq(b1, b2, b3).flatMap { b =>
      val df = b.map(d => (d.doc_id, d.text)).toDF("doc_id", "text")
      val ok = graft.functions.SignatureStore
        .screenBatch(spark, df, storeDir2, threshold = 0.5)
        .as[Long].collect().toSeq
      graft.functions.SignatureStore.append(
        df.join(ok.toDF("doc_id"), "doc_id"), storeDir2)
      ok
    }.toSet
    assert(acceptedIds.toSet == seqAccepted)
  }

  test("ingestCleanStream: four-screen loop == sequential batch composition, rejected docs leave no state") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val storeDir = java.nio.file.Files
      .createTempDirectory("graft_cleanstream").toString
    val ingested = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    graft.functions.SignatureStore.build(ingested, storeDir)
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val phrases = Seq("bad phrase here").toDF("phrase")
    // b1: 30 low-quality, 31 blocklisted, 32 contaminated, 33 clean
    val b1 = Seq(
      Doc(30L, "9999 8888 7777 6666 5555", ts(1)),
      Doc(31L, "bad phrase here and the words of the day are good", ts(2)),
      Doc(32L, "alpha beta gamma and the rest of these words are fine", ts(3)),
      Doc(33L, "it was the best of times it was the worst of times", ts(4)))
    // b2: 34 exact dup of accepted 33; 35 is a NEAR-DUP OF REJECTED 31
    // (J≈0.89) with the phrase removed — must be ACCEPTED, proving
    // rejected docs leave no signature state behind
    val b2 = Seq(
      Doc(34L, "it was the best of times it was the worst of times", ts(5)),
      Doc(35L, "phrase here and the words of the day are good", ts(6)))
    // b3: 36 near-dups the APPENDED 33 -> rejected; 37 clean
    val b3 = Seq(
      Doc(36L, "it was the best of times it was the worst of life", ts(7)),
      Doc(37L, "to be or not to be that is the question and more", ts(8)))

    val mem = MemoryStream[Doc]
    val acceptedIds = scala.collection.mutable.Set.empty[Long]
    val q = StreamOps.ingestCleanStream(
      mem.toDF().select(col("doc_id"), col("text")),
      bench, phrases, "phrase", storeDir) {
      accepted => acceptedIds ++= accepted.select("doc_id").as[Long].collect()
    }
    try {
      Seq(b1, b2, b3).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    assert(acceptedIds.toSet == Set(33L, 35L, 37L), s"got $acceptedIds")
    // the store grew by exactly the accepted docs' signatures
    assert(graft.functions.SignatureStore.stored(spark, storeDir)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 33L, 35L, 37L))
    // sequential batch-mode reference: same four screens per batch
    val storeDir2 = java.nio.file.Files
      .createTempDirectory("graft_cleanbatch").toString
    graft.functions.SignatureStore.build(ingested, storeDir2)
    val seqAccepted = Seq(b1, b2, b3).flatMap { b =>
      val df = b.map(d => (d.doc_id, d.text)).toDF("doc_id", "text")
      val screened = df
        .join(graft.functions.Text.qualityScore(df)
          .filter(col("quality") >= 0.3).select("doc_id"), Seq("doc_id"), "left_semi")
        .join(graft.functions.Blocklist.phraseHits(df, phrases, "phrase")
          .filter(col("flagged")).select("doc_id"), Seq("doc_id"), "left_anti")
        .join(graft.functions.Contamination.report(df, bench)
          .select("doc_id"), Seq("doc_id"), "left_anti")
      val ok = graft.functions.SignatureStore
        .screenBatch(spark, screened, storeDir2, threshold = 0.5)
        .as[Long].collect().toSeq
      graft.functions.SignatureStore.append(
        df.join(ok.toDF("doc_id"), "doc_id"), storeDir2)
      ok
    }.toSet
    assert(acceptedIds.toSet == seqAccepted)
  }

  test("ingestCleanStream crash-replay: micro-batches killed at randomized " +
    "points leave no ghost state; replay converges to the uninterrupted run") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val phrases = Seq("bad phrase here").toDF("phrase")
    val seedDocs = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    // the SAME three-batch fixture as the composition test: quality /
    // blocklist / contamination rejects, cross-batch near-dups both of
    // accepted and of rejected docs — the interesting state surfaces
    val batches = Seq(
      Seq(Doc(30L, "9999 8888 7777 6666 5555", ts(1)),
        Doc(31L, "bad phrase here and the words of the day are good", ts(2)),
        Doc(32L, "alpha beta gamma and the rest of these words are fine", ts(3)),
        Doc(33L, "it was the best of times it was the worst of times", ts(4))),
      Seq(Doc(34L, "it was the best of times it was the worst of times", ts(5)),
        Doc(35L, "phrase here and the words of the day are good", ts(6))),
      Seq(Doc(36L, "it was the best of times it was the worst of life", ts(7)),
        Doc(37L, "to be or not to be that is the question and more", ts(8))))

    /** Deliver ONE micro-batch through a fresh query; `kill` arms an
      * injected crash either in the downstream callback (before the
      * store append) or at the store's pre-commit window (data staged,
      * manifest not yet published). Returns whether the batch landed. */
    def attempt(storeDir: String, batch: Seq[Doc], kill: Option[String],
        sink: scala.collection.mutable.Set[Long]): Boolean = {
      val mem = MemoryStream[Doc]
      val armed = new java.util.concurrent.atomic.AtomicBoolean(kill.isDefined)
      if (kill.contains("precommit"))
        graft.functions.StoreCommit.onBeforeCommit = () =>
          if (armed.getAndSet(false))
            throw new RuntimeException("injected crash: pre-commit")
      val q = StreamOps.ingestCleanStream(
        mem.toDF().select(col("doc_id"), col("text")),
        bench, phrases, "phrase", storeDir) { accepted =>
        if (kill.contains("onAccepted") && armed.getAndSet(false))
          throw new RuntimeException("injected crash: downstream consumer")
        sink ++= accepted.select("doc_id").as[Long].collect()
      }
      try { mem.addData(batch: _*); q.processAllAvailable(); true }
      catch { case _: Throwable => false }
      finally {
        q.stop()
        graft.functions.StoreCommit.onBeforeCommit = () => ()
      }
    }

    def freshStore(): String = {
      val d = java.nio.file.Files
        .createTempDirectory("graft_killreplay").toString
      graft.functions.SignatureStore.build(seedDocs, d)
      d
    }

    // uninterrupted reference run
    val refStore = freshStore()
    val refAccepted = scala.collection.mutable.Set.empty[Long]
    batches.foreach(b => assert(attempt(refStore, b, None, refAccepted)))
    val refStored = graft.functions.SignatureStore.stored(spark, refStore)
      .select("doc_id").as[Long].collect().toSet

    // randomized kill scenarios (seeded — reproducible): each batch draws
    // a kill point; every scenario kills at least once
    val rnd = new scala.util.Random(0xC0FFEE)
    val points = Seq(None, Some("onAccepted"), Some("precommit"))
    for (scenario <- 1 to 4) {
      var kills = batches.map(_ => points(rnd.nextInt(points.size)))
      if (kills.forall(_.isEmpty)) kills = kills.updated(0, Some("precommit"))
      val dir = freshStore()
      val got = scala.collection.mutable.Set.empty[Long]
      batches.zip(kills).foreach { case (b, kill) =>
        val landed = attempt(dir, b, kill, got)
        assert(landed == kill.isEmpty,
          s"scenario $scenario: kill=$kill landed=$landed")
        // an at-least-once source redelivers the crashed batch: the
        // replay must land and converge
        if (!landed) assert(attempt(dir, b, None, got),
          s"scenario $scenario: replay of killed batch failed")
      }
      assert(got.toSet == refAccepted.toSet,
        s"scenario $scenario (kills=$kills): accepted union diverged")
      assert(graft.functions.SignatureStore.stored(spark, dir)
        .select("doc_id").as[Long].collect().toSet == refStored,
        s"scenario $scenario (kills=$kills): store state diverged — " +
          "a crashed micro-batch left ghost signature state")
      // crashed pre-commit attempts stage orphan generations: vacuum
      // reaps them and the served state is unchanged
      graft.functions.SignatureStore.vacuum(spark, dir)
      assert(graft.functions.SignatureStore.stored(spark, dir)
        .select("doc_id").as[Long].collect().toSet == refStored,
        s"scenario $scenario: vacuum after crash-replay changed served state")
    }
  }

  test("dedupAgainstStatic anti-joins the ingested key set per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val ingested = Seq("same content").toDF("text")
    val mem = MemoryStream[Doc]
    val q = StreamOps.dedupAgainstStatic(mem.toDF(), ingested, "text")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_static_out").start()
    try {
      mem.addData(Doc(0, "same content", ts(0)), Doc(1, "fresh content", ts(1)))
      q.processAllAvailable()
      mem.addData(Doc(2, "same content", ts(5)))
      q.processAllAvailable()
      val ids = spark.table("dedup_static_out").select("doc_id")
        .as[Long].collect().toSet
      // 0 and 2 match history; only the genuinely new doc passes
      assert(ids == Set(1L), s"got $ids")
    } finally q.stop()
  }

  test("windowedEventCounts aggregates per tumbling window (streaming)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(0, ts(1), 1, 10.0), Ev(1, ts(2), 2, 5.0),   // window 00:00
      Ev(2, ts(7), 1, 2.0))                           // window 00:05
    val q = StreamOps.windowedEventCounts(
      mem.toDF().withColumn("event_type",
        org.apache.spark.sql.functions.lit("click")), windowMinutes = 5)
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("win_out").orderBy("window_start")
      assert(rows(got) == Seq(
        Seq(ts(0), "click", 2L, 15.0),
        Seq(ts(5), "click", 1L, 2.0)))
    } finally q.stop()
  }

  test("mapGroupsWithState carries running totals across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamOps.runningUserTotals(mem.toDF())
      .writeStream.outputMode("update")
      .format("memory").queryName("totals_out").start()
    try {
      mem.addData(Ev(0, ts(1), 1, 10.0), Ev(1, ts(2), 1, 5.0))
      q.processAllAvailable()
      mem.addData(Ev(2, ts(3), 1, 1.0), Ev(3, ts(4), 2, 7.0))
      q.processAllAvailable()
      // latest update per user reflects accumulated state
      val last = spark.table("totals_out")
        .groupBy("user_id")
        .agg(org.apache.spark.sql.functions.max("n_events").as("n"),
          org.apache.spark.sql.functions.max("sum_value").as("s"))
        .orderBy("user_id")
      assert(rows(last) == Seq(Seq(1L, 3L, 16.0), Seq(2L, 1L, 7.0)))
    } finally q.stop()
  }

  test("stream-stream interval join pairs events within the window") {
    implicit val sqlCtx = spark.sqlContext
    val lmem = MemoryStream[Ev]
    val rmem = MemoryStream[Ev]
    val q = StreamOps.intervalJoin(lmem.toDF(), rmem.toDF(), "user_id",
      windowMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("ij_out").start()
    try {
      rmem.addData(Ev(100, ts(0), 1, 0.0), Ev(101, ts(40), 1, 0.0),
        Ev(102, ts(5), 2, 0.0))
      lmem.addData(Ev(0, ts(20), 1, 1.0),  // matches right 100 (20m prior)
        Ev(1, ts(50), 1, 1.0),             // matches right 101 (10m prior), not 100 (50m)
        Ev(2, ts(1), 2, 1.0))              // right 102 is AFTER left -> no match
      q.processAllAvailable()
      val got = spark.table("ij_out")
        .select("l_event_id", "r_event_id").as[(Long, Long)].collect().toSet
      assert(got == Set((0L, 100L), (1L, 101L)), s"got $got")
    } finally q.stop()
  }

  test("windowed agg append mode: watermark finalizes windows, drops late rows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamOps.windowedEventCounts(
      mem.toDF().withColumn("event_type",
        org.apache.spark.sql.functions.lit("click")),
      windowMinutes = 5, watermark = "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      mem.addData(Ev(0, ts(1), 1, 10.0), Ev(1, ts(7), 1, 5.0))
      q.processAllAvailable() // watermark still 0 — nothing finalized
      mem.addData(Ev(2, ts(30), 1, 1.0))
      q.processAllAvailable() // after this batch the watermark is 00:20
      // LATE: event-time 00:02 is far below the 00:20 watermark → dropped;
      // this batch also finalizes+emits the two closed windows
      mem.addData(Ev(3, ts(2), 1, 100.0))
      q.processAllAvailable()
      val got = rows(spark.table("late_out").orderBy("window_start")
        .select("window_start", "n_events", "sum_value"))
      // on-time rows only: the late 100.0 never lands in window [00:00,00:05)
      assert(got == Seq(Seq(ts(0), 1L, 10.0), Seq(ts(5), 1L, 5.0)), s"got $got")
    } finally q.stop()
  }

  test("interval join: state evicted past the watermark ignores late matches") {
    implicit val sqlCtx = spark.sqlContext
    val lmem = MemoryStream[Ev]
    val rmem = MemoryStream[Ev]
    val q = StreamOps.intervalJoin(lmem.toDF(), rmem.toDF(), "user_id",
      windowMinutes = 30, watermark = "30 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("ij_late").start()
    try {
      rmem.addData(Ev(100, ts(0), 1, 0.0))
      lmem.addData(Ev(0, ts(20), 1, 1.0))
      q.processAllAvailable() // on-time pair (0,100) joins
      // jump event time on BOTH sides → global watermark passes 00:20 state
      lmem.addData(Ev(1, ts(200), 9, 0.0))
      rmem.addData(Ev(101, ts(200), 9, 0.0))
      q.processAllAvailable()
      // late right event that WOULD pair with left 0 — but left 0's
      // buffered state is gone and the row is below the watermark
      rmem.addData(Ev(102, ts(10), 1, 0.0))
      q.processAllAvailable()
      val got = spark.table("ij_late")
        .select("l_event_id", "r_event_id").as[(Long, Long)].collect().toSet
      assert(got == Set((0L, 100L), (1L, 101L)), s"got $got")
    } finally q.stop()
  }

  test("flatMapGroupsWithState event-time timeout emits closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamOps.sessionTotalsWithTimeout(
      mem.toDF(), gapMinutes = 30, watermark = "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      mem.addData(Ev(0, ts(1), 1, 10.0), Ev(1, ts(5), 1, 2.5))
      q.processAllAvailable() // open session for user 1, nothing emitted
      assert(spark.table("sess_out").count() == 0)
      // jump event time: after this batch the watermark is 01:50, far past
      // user 1's last event + 30-min gap → timeout pending
      mem.addData(Ev(2, ts(120), 2, 1.0))
      q.processAllAvailable()
      // next batch processes the fired timeout and emits the closed session
      mem.addData(Ev(3, ts(125), 2, 1.0))
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      assert(rows(got) == Seq(Seq(1L, ts(1), ts(5), 2L, 12.5)), s"got ${rows(got)}")
    } finally q.stop()
  }

  test("file streaming source/sink: landed files become micro-batches, sink is batch-readable") {
    import org.apache.spark.sql.types._
    val src = java.nio.file.Files.createTempDirectory("graft_ssrc").toString
    val out = java.nio.file.Files.createTempDirectory("graft_sout").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_scp").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("value", DoubleType)))

    def land(batch: Seq[(Long, Long, Double)], name: String): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("graft_stage").toString
      batch.toDF("event_id", "user_id", "value").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(src, s"$name.parquet"))
    }

    land(Seq((0L, 1L, 1.0), (1L, 2L, 2.0)), "b0")
    val stream = graft.sources.StreamIo.readParquetStream(
      spark, src, schema, maxFilesPerTrigger = 1)
    assert(stream.isStreaming)
    val q = graft.sources.StreamIo.writeParquetStream(
      stream.filter(org.apache.spark.sql.functions.col("value") > 0), out, cp)
    try {
      q.processAllAvailable()
      land(Seq((2L, 1L, 3.0)), "b1") // second file = second micro-batch
      q.processAllAvailable()
      val sunk = spark.read.schema(schema).parquet(out)
      assert(sunk.count() == 3)
      assert(sunk.select("event_id").as[Long].collect().toSet == Set(0L, 1L, 2L))
    } finally q.stop()
  }

  test("windowedEventCounts runs in batch mode on the events table") {
    val got = StreamOps.windowedEventCounts(Tables.events(spark, sf0001))
    assert(got.count() > 0)
    assert(got.columns.toSeq ==
      Seq("window_start", "event_type", "n_events", "sum_value"))
  }

  test("hash samplers are streaming-safe and batch-identical (stateless filters)") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    // membership is a pure function of the key → the streaming result must
    // equal the batch filter over the same rows, micro-batching and all
    val q = graft.functions.Sampling.mixtureSample(
        mem.toDF(), stratum = col("text"), key = col("doc_id").cast("string"),
        rates = Map("keep half" -> 0.5), defaultRate = 0.25)
      .writeStream.outputMode("append")
      .format("memory").queryName("mix_out").start()
    val docs = (1L to 200L).map(i =>
      Doc(i, if (i % 2 == 0) "keep half" else "other", ts((i % 50).toInt)))
    try {
      mem.addData(docs.take(100): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(100): _*)
      q.processAllAvailable()
      val streamed = spark.table("mix_out").select("doc_id").as[Long].collect().sorted
      val batch = graft.functions.Sampling.mixtureSample(
          docs.toDF(), col("text"), col("doc_id").cast("string"),
          Map("keep half" -> 0.5), 0.25)
        .select("doc_id").as[Long].collect().sorted
      assert(streamed.toSeq == batch.toSeq)
      assert(batch.nonEmpty && batch.length < 200)
    } finally q.stop()
  }

  test("streamingFunnel matches the batch funnel under out-of-order arrivals") {
    implicit val sqlCtx = spark.sqlContext
    final case class E(user_id: Long, ts: Timestamp, event_type: String, event_id: Long)
    val all = Seq(
      E(1L, ts(20), "click", 1), E(1L, ts(30), "purchase", 2), // batch 1
      E(2L, ts(10), "view", 3), E(2L, ts(15), "click", 4),
      E(1L, ts(10), "view", 5),  // LATE: user 1's view arrives after its click
      E(2L, ts(5), "click", 6),  // late click BEFORE user 2's view: must not count
      E(3L, ts(1), "purchase", 7) // never viewed
    )
    val mem = MemoryStream[(Long, Timestamp, String, Long)]
    val q = StreamOps.streamingFunnel(
        mem.toDF().toDF("user_id", "ts", "event_type", "event_id"),
        Seq("view", "click", "purchase"))
      .writeStream.outputMode("update")
      .format("memory").queryName("funnel_out").start()
    try {
      mem.addData(all.take(4).map(e => (e.user_id, e.ts, e.event_type, e.event_id)): _*)
      q.processAllAvailable()
      mem.addData(all.drop(4).map(e => (e.user_id, e.ts, e.event_type, e.event_id)): _*)
      q.processAllAvailable()
      // latest update per user ≡ the batch funnel over the full history
      val latest = spark.table("funnel_out")
        .groupByKey((r: org.apache.spark.sql.Row) => r.getLong(0))
        .mapGroups((u: Long, rs: Iterator[org.apache.spark.sql.Row]) => {
          val r = rs.toSeq.maxBy(_.getInt(1)) // reached only grows per user
          (u, r.getInt(1), r.getSeq[Timestamp](2).toList)
        }).collect().toSeq.sortBy(_._1)
        // batch funnel emits only FUNNEL ENTRANTS; streaming also reports
        // reached=0 for users with later-stage-only activity — drop those
        .filter(_._2 > 0)
      val batch = graft.operators.Funnel.funnel(
          all.map(e => (e.user_id, e.ts, e.event_type)).toDF("user_id", "ts", "event_type"),
          Seq("view", "click", "purchase"))
        .collect().map { r =>
          val stamps = Seq(1, 2, 3).map(r.getTimestamp).takeWhile(_ != null).toList
          (r.getLong(0), stamps.size, stamps)
        }.toSeq.sortBy(_._1)
      assert(latest == batch)
      // and the revision is real: user 1 converts only once the late view lands
      assert(latest.find(_._1 == 1L).get._2 == 3)
    } finally q.stop()
  }

  test("gopher rules, weighted sample, and chunking are streaming-safe (stateless)") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    // stateless per-row ops must produce the batch result under
    // micro-batching, with no state store involved
    def chunks(df: org.apache.spark.sql.DataFrame) =
      graft.functions.Text.chunkDocs(
        graft.functions.Sampling.weightedSample(
          df, col("doc_id").cast("string"), lit(0.7)),
        sizeTokens = 4, strideTokens = 3)
    def rules(df: org.apache.spark.sql.DataFrame) =
      graft.functions.Text.gopherRules(df,
          minTokens = 2, maxTokens = 50, minMeanLen = 1.0, maxMeanLen = 10.0,
          minAlphaFrac = 0.5, minStopHits = 1)
        .filter(col("pass")).select("doc_id", "n_tokens", "n_stop_hits")
    val q1 = chunks(mem.toDF()).writeStream.outputMode("append")
      .format("memory").queryName("chunks_out").start()
    val q2 = rules(mem.toDF()).writeStream.outputMode("append")
      .format("memory").queryName("rules_out").start()
    val docs = (1L to 120L).map(i =>
      Doc(i, "the word w" + i + " x y z a b c", ts((i % 30).toInt)))
    try {
      mem.addData(docs.take(60): _*)
      q1.processAllAvailable(); q2.processAllAvailable()
      mem.addData(docs.drop(60): _*)
      q1.processAllAvailable(); q2.processAllAvailable()
      val streamedChunks = spark.table("chunks_out")
        .select("doc_id", "chunk_id", "chunk_text")
        .as[(Long, Int, String)].collect().sorted
      val batchChunks = chunks(docs.toDF())
        .select("doc_id", "chunk_id", "chunk_text")
        .as[(Long, Int, String)].collect().sorted
      assert(streamedChunks.toSeq == batchChunks.toSeq)
      assert(batchChunks.nonEmpty)
      val streamedRules = spark.table("rules_out")
        .as[(Long, Int, Int)].collect().sorted
      val batchRules = rules(docs.toDF())
        .as[(Long, Int, Int)].collect().sorted
      assert(streamedRules.toSeq == batchRules.toSeq)
      assert(batchRules.nonEmpty)
    } finally { q1.stop(); q2.stop() }
  }

  test("windowedHeavyHitters: streaming sketch == batch sketch per window") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // window 00:00 — 'a'×3, 'b'×1; window 00:05 — 'b'×2 (typed via value)
    val evs = Seq(
      Ev(0, ts(1), 1, 0), Ev(1, ts(2), 1, 0), Ev(2, ts(3), 1, 0),
      Ev(3, ts(4), 2, 0), Ev(4, ts(6), 2, 0), Ev(5, ts(8), 2, 0))
    def shaped(df: org.apache.spark.sql.DataFrame) =
      StreamOps.windowedHeavyHitters(
        df.withColumn("item",
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("u"),
            org.apache.spark.sql.functions.col("user_id"))),
        "item", windowMinutes = 5, capacity = 8)
    val q = shaped(mem.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("hh_out").start()
    try {
      mem.addData(evs.take(3): _*); q.processAllAvailable()
      mem.addData(evs.drop(3): _*); q.processAllAvailable()
      val streamed = spark.table("hh_out").orderBy("window_start")
        .collect().map(r => r.getTimestamp(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(x => (x.getString(0), x.getLong(1))).toSet)
      val batch = shaped(evs.toDF()).orderBy("window_start")
        .collect().map(r => r.getTimestamp(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(x => (x.getString(0), x.getLong(1))).toSet)
      assert(streamed.toSeq == batch.toSeq)
      // exact regime (capacity > distinct items): counts are exact
      assert(streamed(0)._2 == Set(("u1", 3L), ("u2", 1L)))
      assert(streamed(1)._2 == Set(("u2", 2L)))
    } finally q.stop()
  }

  test("applyChangesStream: latest state per key == batch applyChanges") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Double)]
    val q = StreamOps.applyChangesStream(
        mem.toDF().toDF("id", "seq", "op", "val"),
        keyCol = "id", orderCol = "seq", opCol = "op")
      .writeStream.outputMode("update")
      .format("memory").queryName("cdc_out").start()
    val batch1 = Seq(
      (1L, 1L, "I", 10.0), (2L, 1L, "I", 20.0), (3L, 1L, "I", 30.0))
    val batch2 = Seq(
      (1L, 3L, "U", 11.0),  // update wins over insert
      (2L, 2L, "D", 0.0),   // tombstone
      (3L, 0L, "U", 99.0),  // LATE change with older seq: must lose
      (4L, 1L, "I", 40.0))
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      val emissions = spark.table("cdc_out")
        .select("id", "seq", "op", "val", "_cdc_order", "_cdc_deleted")
        .collect()
      // consumer contract: keep the last update per key (max _cdc_order),
      // drop tombstones
      val current = emissions.groupBy(_.getLong(0)).map { case (_, rs) =>
        rs.maxBy(_.getLong(4))
      }.filter(!_.getBoolean(5))
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
        .toSet

      val all = (batch1 ++ batch2).toDF("id", "seq", "op", "val")
      val expected = graft.operators.Cdc.applyChanges(
          all.filter(org.apache.spark.sql.functions.lit(false)), all,
          keyCol = "id", orderCol = "seq", opCol = "op")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
        .toSet
      assert(current == expected, s"stream=$current batch=$expected")
      assert(current == Set(
        (1L, 3L, "U", 11.0), (3L, 1L, "I", 30.0), (4L, 1L, "I", 40.0)))
      // the emitted state carries the WINNING change's order, late loser ignored
      val k3 = emissions.filter(_.getLong(0) == 3L).map(_.getLong(4)).max
      assert(k3 == 1L)
    } finally q.stop()
  }

  test("applyChangesStream throws on an order collision at the latest value") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Double)]
    val q = StreamOps.applyChangesStream(
        mem.toDF().toDF("id", "seq", "op", "val"),
        keyCol = "id", orderCol = "seq", opCol = "op")
      .writeStream.outputMode("update")
      .format("memory").queryName("cdc_collide_out").start()
    try {
      mem.addData((1L, 5L, "I", 1.0)); q.processAllAvailable()
      mem.addData((1L, 5L, "U", 2.0))
      val e = intercept[Exception] { q.processAllAvailable() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("order collision")),
        messages(e).mkString(" | "))
    } finally q.stop()
  }

  test("applyChangesStream: a verbatim redelivery of the WINNING change is " +
    "an idempotent no-op (only payload-divergent ties throw)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Double)]
    val q = StreamOps.applyChangesStream(
        mem.toDF().toDF("id", "seq", "op", "val"),
        keyCol = "id", orderCol = "seq", opCol = "op")
      .writeStream.outputMode("update")
      .format("memory").queryName("cdc_redeliver_out").start()
    try {
      mem.addData((1L, 5L, "U", 2.0)); q.processAllAvailable()
      // an at-least-once source replays the SAME record in a later
      // micro-batch — identical (op, payload) at the stored winning order
      // must not kill the query
      mem.addData((1L, 5L, "U", 2.0)); q.processAllAvailable()
      // ...and again alongside a genuinely newer change
      mem.addData((1L, 5L, "U", 2.0), (1L, 6L, "U", 3.0))
      q.processAllAvailable()
      val latest = spark.table("cdc_redeliver_out")
        .collect().maxBy(_.getLong(4)) // _cdc_order
      assert(latest.getLong(1) == 6L && latest.getDouble(3) == 3.0,
        s"newest change must win after redeliveries: $latest")
    } finally q.stop()
  }

  test("asofAgainstStatic == batch asofJoinWithin across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    // Static signup snapshot: per-user signup timestamps (user 3 has none;
    // user 1 has several — only the latest prior one may attach).
    val signups = Seq(
      (1L, ts(0)), (1L, ts(4)), (1L, ts(20)),
      (2L, ts(2))).toDF("user_id", "ts")
    // Purchases, including an equal-timestamp tie (inclusive match), a
    // pre-signup purchase (null), an unknown user (null), and a late
    // arrival in a second micro-batch.
    val batch1 = Seq(
      Ev(0, ts(5), 1, 1.0),   // matches signup ts(4)
      Ev(1, ts(4), 1, 1.0),   // tie: inclusive -> ts(4)
      Ev(2, ts(1), 2, 1.0),   // before user 2's signup -> null
      Ev(3, ts(9), 3, 1.0))   // unknown user -> null
    val batch2 = Seq(
      Ev(4, ts(30), 1, 1.0),  // matches ts(20), but > tolerance -> null
      Ev(5, ts(3), 2, 1.0))   // late arrival: still resolves to ts(2)
    val tolSec = 6L * 60L

    val mem = MemoryStream[Ev]
    val q = StreamOps.asofAgainstStatic(
        mem.toDF(), signups, "user_id", "ts", "signup_ts", Some(tolSec))
      .writeStream.outputMode("append")
      .format("memory").queryName("asof_out").start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      val streamed = spark.table("asof_out")
        .select("event_id", "signup_ts")
        .collect().map(r => r.getLong(0) -> Option(r.getTimestamp(1))).toMap

      val batchResult = graft.operators.Joins.asofJoinWithin(
          (batch1 ++ batch2).toDF().select("user_id", "ts", "event_id", "value"),
          signups, "user_id", "ts", "signup_ts", tolSec)
        .select("event_id", "signup_ts")
        .collect().map(r => r.getLong(0) -> Option(r.getTimestamp(1))).toMap

      assert(streamed == batchResult, s"streamed=$streamed batch=$batchResult")
      // and the hand-derivable rows behave as documented
      assert(streamed(0L) == Some(ts(4)))
      assert(streamed(1L) == Some(ts(4)))
      assert(streamed(2L).isEmpty)
      assert(streamed(3L).isEmpty)
      assert(streamed(4L).isEmpty)   // tolerance null-out
      assert(streamed(5L) == Some(ts(2)))
    } finally q.stop()
  }

  test("resampleLocfStream: accumulated grid == batch resampleLocf") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[LocfEv]
    val q = StreamOps.resampleLocfStream(mem.toDF(), bucketMinutes = 10)
      .writeStream.outputMode("update")
      .format("memory").queryName("locf_out").start()
    // user 1: events at minutes 5 (v=1), 7 (v=2, same bucket), 35 (v=9) —
    // buckets 0 (2 obs, last 2.0), 10 (gap→2.0), 20 (gap→2.0), 30 (1 obs)
    // user 2: single event (bucket 0 only); batch split mid-gap
    val batch1 = Seq(LocfEv(0, ts(5), 1, 1.0), LocfEv(1, ts(7), 1, 2.0),
      LocfEv(2, ts(3), 2, 7.0))
    val batch2 = Seq(LocfEv(3, ts(35), 1, 9.0))
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.table("locf_out")
        .groupBy("user_id", "bucket_us")
        .agg(org.apache.spark.sql.functions.max("n_obs").as("n"),
          org.apache.spark.sql.functions
            .max_by(org.apache.spark.sql.functions.col("value_locf"),
              org.apache.spark.sql.functions.col("n_obs")).as("v"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
        .toMap
      val batch = graft.operators.Resample.resampleLocf(
          (batch1 ++ batch2).toDF().withColumn("event_type",
            org.apache.spark.sql.functions.lit("x")), bucketMinutes = 10)
        .selectExpr("user_id", "unix_micros(bucket) AS b", "n_obs", "value_locf")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
        .toMap
      assert(streamed == batch)
      assert(batch.size == 5) // 4 buckets for user 1, 1 for user 2
    } finally q.stop()
  }

  test("categoryDriftStream: windowed counts vs baseline, late revision, new-category Infinity") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[CadEv]
    val baseline = Map("view" -> 0.5, "click" -> 0.5)
    val q = StreamOps.categoryDriftStream(mem.toDF(), windowMinutes = 10, baseline)
      .writeStream.outputMode("update")
      .format("memory").queryName("drift_out").start()
    // window [0,10): 3 view + 1 click across two batches; batch 2 also
    // brings a category the baseline has never seen
    val batch1 = Seq(CadEv(0, ts(1), 1, "view"), CadEv(1, ts(2), 1, "view"),
      CadEv(2, ts(3), 2, "click"))
    val batch2 = Seq(CadEv(3, ts(4), 2, "view"), CadEv(4, ts(5), 1, "weird"))
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      // last update per (window, category) = the final cell state
      val rows = spark.table("drift_out")
        .groupBy("window_start_us", "category")
        .agg(org.apache.spark.sql.functions.max("n_obs").as("n"),
          org.apache.spark.sql.functions.max("n_window").as("t"),
          org.apache.spark.sql.functions
            .max_by(org.apache.spark.sql.functions.col("chi2_term"),
              org.apache.spark.sql.functions.col("n_window")).as("chi"))
        .collect().map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3), r.getDouble(4))))
        .toMap
      // final window: 5 events — view 3, click 1, weird 1
      assert(rows("view")._1 == 3L && rows("view")._2 == 5L)
      assert(rows("view")._3 == (3.0 - 2.5) * (3.0 - 2.5) / 2.5)
      assert(rows("click")._3 == (1.0 - 2.5) * (1.0 - 2.5) / 2.5)
      assert(rows("weird")._3.isPosInfinity)

      // Eviction: advance the watermark far past window [0,10)'s end
      // (default lag 30m → watermark ts(60)-30m = ts(30) > ts(10)), then
      // send a straggler into the dead window. Its state is gone and the
      // row is older than the watermark, so NO revision may appear — the
      // bounded-state contract (and the late-drop contract) in one.
      mem.addData(CadEv(5, new Timestamp(ts(0).getTime + 3600000L), 3, "view"))
      q.processAllAvailable()
      mem.addData(CadEv(6, ts(6), 1, "view"))
      q.processAllAvailable()
      val win0us = ts(0).getTime * 1000L
      val win0 = spark.table("drift_out")
        .filter(org.apache.spark.sql.functions.col("window_start_us") === win0us)
        .agg(org.apache.spark.sql.functions.max("n_window")).collect()(0).getLong(0)
      assert(win0 == 5L, s"evicted window revised: n_window grew to $win0")
    } finally q.stop()
  }

  test("attributionStream: emitted conversions == batch lastTouchAttribution") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[CadEv]
    val q = StreamOps.attributionStream(mem.toDF(), "purchase", Seq("click", "view"))
      .writeStream.outputMode("update")
      .format("memory").queryName("attr_out").start()
    // user 1: click@1, purchase@3 (→click), view@5 | batch 2: purchase@9 (→view@5)
    // user 2: purchase@2 organic, then click@4 (must not attribute back)
    val batch1 = Seq(
      CadEv(0, ts(1), 1, "click"), CadEv(1, ts(3), 1, "purchase"),
      CadEv(2, ts(5), 1, "view"), CadEv(3, ts(2), 2, "purchase"))
    val batch2 = Seq(CadEv(4, ts(9), 1, "purchase"), CadEv(5, ts(4), 2, "click"))
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.table("attr_out")
        .select("conv_id", "touch_id", "touch_type", "lag_us")
        .collect().map(r => r.getLong(0) -> ((
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getString(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
      val batch = graft.functions.EventStats.lastTouchAttribution(
          (batch1 ++ batch2).toDF(), "user_id", "event_type", "ts", "event_id",
          "purchase", Seq("click", "view"))
        .select("conv_id", "touch_id", "touch_type", "lag_us")
        .collect().map(r => r.getLong(0) -> ((
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getString(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
      assert(streamed == batch)
      assert(streamed(3L) == ((None, None, None))) // organic stays organic
      assert(streamed(4L)._2 == Some("view"))      // cross-batch state carried
    } finally q.stop()
  }

  test("interArrivalStream: running gap stats == batch lag-window gaps") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[CadEv]
    val q = StreamOps.interArrivalStream(mem.toDF())
      .writeStream.outputMode("update")
      .format("memory").queryName("cadence_out").start()
    // user 1 "a": minutes 1, 3, 10 (gaps 120s, 420s); user 1 "b": minute 2
    // (no gap); user 2 "a": minutes 5, 6 split ACROSS batches (gap 60s).
    val batch1 = Seq(CadEv(0, ts(1), 1, "a"), CadEv(1, ts(3), 1, "a"),
      CadEv(2, ts(2), 1, "b"), CadEv(3, ts(5), 2, "a"))
    val batch2 = Seq(CadEv(4, ts(10), 1, "a"), CadEv(5, ts(6), 2, "a"))
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      // latest update per key is the accumulated state
      val got = spark.table("cadence_out")
        .groupBy("user_id", "event_type")
        .agg(org.apache.spark.sql.functions.max("n_gaps").as("n"),
          org.apache.spark.sql.functions.max("sum_gap_us").as("s"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      assert(got((1L, "a")) == ((2L, (120L + 420L) * 1000000L)))
      assert(got((1L, "b")) == ((0L, 0L)))
      assert(got((2L, "a")) == ((1L, 60L * 1000000L)))
      // per-type rollup of streaming sums == batch operator's exact stats
      val batchStats = graft.functions.EventStats.interArrivalStats(
          (batch1 ++ batch2).toDF(), "user_id", "event_type", "ts", "event_id")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val rolled = spark.table("cadence_out")
        .groupBy("user_id", "event_type")
        .agg(org.apache.spark.sql.functions.max("n_gaps").as("n"),
          org.apache.spark.sql.functions.max("sum_gap_us").as("s"))
        .groupBy("event_type")
        .agg(org.apache.spark.sql.functions.sum("n").as("n"),
          org.apache.spark.sql.functions.sum("s").as("s"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      batchStats.foreach { case (tpe, (n, mean)) =>
        val (sn, ss) = rolled(tpe)
        assert(sn == n, s"$tpe gap count")
        assert((ss.toDouble / sn) / 1000000.0 == mean, s"$tpe mean")
      }
    } finally q.stop()
  }

  test("blocklistStream: micro-batch union == batch phraseHits flagged set") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val phrases = Seq("quick brown", "fox", "naps all day").toDF("phrase")
    val b1 = Seq(Doc(1L, "the quick brown fox jumps", ts(1)),
      Doc(2L, "slow red fox naps all day", ts(2)))
    val b2 = Seq(Doc(3L, "quick brown quick brown quick", ts(3)),
      Doc(4L, "nothing to see", ts(4)))
    val mem = MemoryStream[Doc]
    val q = StreamOps.blocklistStream(
        mem.toDF().select(col("doc_id"), col("text")), phrases, "phrase")
      .writeStream.outputMode("update")
      .format("memory").queryName("blocklist_out").start()
    try {
      Seq(b1, b2).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val got = spark.table("blocklist_out")
        .as[(Long, Long, Boolean)].collect().toSet
      val batchFlagged = graft.functions.Blocklist.phraseHits(
          (b1 ++ b2).map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
          phrases, "phrase")
        .filter(col("flagged"))
        .as[(Long, Long, Boolean)].collect().toSet
      assert(got == batchFlagged, s"stream $got != batch $batchFlagged")
      assert(!got.exists(_._1 == 4L), "clean doc must emit no update")
    } finally q.stop()
  }

  test("perplexityStream: micro-batch union == batch scoreWith under the frozen LM") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq((100L, "a b a b c"), (101L, "a b c a")).toDF("doc_id", "text")
    // batch 2's doc 3 is pure drift: every bigram unseen at train time
    val b1 = Seq(Doc(1L, "a b a", ts(1)), Doc(2L, "c a b", ts(2)))
    val b2 = Seq(Doc(3L, "x y z", ts(3)), Doc(4L, "a", ts(4)))
    val mem = MemoryStream[Doc]
    val q = StreamOps.perplexityStream(
        mem.toDF().select(col("doc_id"), col("text")), ref)
      .writeStream.outputMode("update")
      .format("memory").queryName("ppl_out").start()
    try {
      Seq(b1, b2).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val got = spark.table("ppl_out")
        .as[(Long, Long, Double)].collect().toSet
      val batch = graft.functions.LangModel.scoreWith(
          graft.functions.LangModel.train(ref),
          (b1 ++ b2).map(d => (d.doc_id, d.text)).toDF("doc_id", "text"))
        .as[(Long, Long, Double)].collect().toSet
      assert(got == batch, s"stream $got != batch $batch")
      // the drifted doc scores the pure-smoothing ceiling: ppl == V
      assert(got.find(_._1 == 3L).get._3 == 3.0,
        "all-unseen bigrams must score 1/V each (V=3 here)")
      assert(!got.exists(_._1 == 4L), "a one-token doc carries no LM evidence")
    } finally q.stop()
  }

  test("knPerplexityStream: micro-batch union == batch scoreWithKn, " +
      "drift backs off to continuation mass") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq((100L, "a b a b c"), (101L, "a b c a")).toDF("doc_id", "text")
    val b1 = Seq(Doc(1L, "a b a", ts(1)), Doc(2L, "c a b", ts(2)))
    val b2 = Seq(Doc(3L, "x y z", ts(3)), Doc(4L, "a", ts(4)))
    val mem = MemoryStream[Doc]
    val q = StreamOps.knPerplexityStream(
        mem.toDF().select(col("doc_id"), col("text")), ref)
      .writeStream.outputMode("update")
      .format("memory").queryName("kn_ppl_out").start()
    try {
      Seq(b1, b2).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val got = spark.table("kn_ppl_out")
        .as[(Long, Long, Double)].collect().toSet
      val lm = graft.functions.LangModel.trainKn(ref)
      val batch = graft.functions.LangModel.scoreWithKn(lm,
          (b1 ++ b2).map(d => (d.doc_id, d.text)).toDF("doc_id", "text"))
        .as[(Long, Long, Double)].collect().toSet
      lm.unpersist()
      // ref types: (a,b) (b,a) (b,c) (c,a) -> T=4, V=3 — all-unseen
      // bigrams back off to Pcont' = (0+1)/(4+3) = 1/7, so drift scores 7
      assert(got == batch, s"stream $got != batch $batch")
      assert(got.find(_._1 == 3L).get._3 == 7.0,
        "all-unseen drift must score the continuation-floor ceiling")
      assert(!got.exists(_._1 == 4L), "a one-token doc carries no LM evidence")
    } finally q.stop()
  }

  test("decontaminateStream: micro-batch union == batch Contamination.report") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // bench doc shares the "one two three four five" shingle run with
    // train docs 1 and 3; train doc 2 is clean
    val bench = Seq((100L, "one two three four five")).toDF("doc_id", "text")
    val b1 = Seq(Doc(1L, "one two three four five six seven", ts(1)),
      Doc(2L, "alpha beta gamma delta epsilon zeta", ts(2)))
    val b2 = Seq(Doc(3L, "zero one two three four five", ts(3)))
    val mem = MemoryStream[Doc]
    val q = StreamOps.decontaminateStream(
        mem.toDF().select(col("doc_id"), col("text")), bench, w = 3)
      .writeStream.outputMode("update")
      .format("memory").queryName("decontam_out").start()
    try {
      Seq(b1, b2).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val got = spark.table("decontam_out")
        .as[(Long, Long, Long, Double)].collect().toSet
      val batch = graft.functions.Contamination.report(
          (b1 ++ b2).map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
          bench, w = 3)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(got == batch, s"stream $got != batch $batch")
      assert(!got.exists(_._1 == 2L), "uncontaminated doc must emit no update")
    } finally q.stop()
  }

  test("nbQualityStream: micro-batch union == batch scoreWith under the frozen NB model") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // ref corpus with a clean Gopher split: quality docs carry stopwords,
    // spam docs are stopword-free (fail the n_stop_hits rule)
    val ref = ((1L to 4L).map(i =>
        (100L + i, s"the a of item$i " + (1 to 12).map(j => s"good$j").mkString(" "))) ++
      (5L to 8L).map(i =>
        (100L + i, (1 to 16).map(j => s"spam$j").mkString(" "))))
      .toDF("doc_id", "text")
    val b1 = Seq(Doc(1L, "good1 good2 the a", ts(1)), Doc(2L, "spam1 spam2 spam3", ts(2)))
    // batch 2's doc 3 is pure drift: every token unseen at train time
    val b2 = Seq(Doc(3L, "novel tokens entirely", ts(3)))
    val mem = MemoryStream[Doc]
    val q = StreamOps.nbQualityStream(
        mem.toDF().select(col("doc_id"), col("text")), ref)
      .writeStream.outputMode("update")
      .format("memory").queryName("nbq_out").start()
    try {
      Seq(b1, b2).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val got = spark.table("nbq_out")
        .as[(Long, Long, Double, Boolean)].collect().toSet
      val batch = graft.functions.QualityClassifier.scoreWith(
          graft.functions.QualityClassifier.train(ref),
          (b1 ++ b2).map(d => (d.doc_id, d.text)).toDF("doc_id", "text"))
        .as[(Long, Long, Double, Boolean)].collect().toSet
      assert(got == batch, s"stream $got != batch $batch")
      assert(got.find(_._1 == 1L).get._4, "stopword-bearing doc scores quality")
      assert(!got.find(_._1 == 2L).get._4, "spam-vocab doc scores spam")
    } finally q.stop()
  }

  test("dsirStream: micro-batch union == batch scoreWith under the frozen DSIR model") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val target = (1L to 3L).map(i =>
      (200L + i, (1 to 10).map(j => s"alpha$j").mkString(" "))).toDF("doc_id", "text")
    val raw = target.union((4L to 6L).map(i =>
      (200L + i, (1 to 10).map(j => s"beta$j").mkString(" "))).toDF("doc_id", "text"))
    val b1 = Seq(Doc(1L, "alpha1 alpha2 alpha3", ts(1)), Doc(2L, "beta1 beta2 beta3", ts(2)))
    val b2 = Seq(Doc(3L, "alpha4 beta4", ts(3)))
    val mem = MemoryStream[Doc]
    val q = StreamOps.dsirStream(
        mem.toDF().select(col("doc_id"), col("text")), raw, target)
      .writeStream.outputMode("update")
      .format("memory").queryName("dsir_out").start()
    try {
      Seq(b1, b2).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val got = spark.table("dsir_out")
        .as[(Long, Long, Double)].collect().toSet
      val batch = graft.functions.Dsir.scoreWith(
          graft.functions.Dsir.train(raw, target),
          (b1 ++ b2).map(d => (d.doc_id, d.text)).toDF("doc_id", "text"))
        .as[(Long, Long, Double)].collect().toSet
      assert(got == batch, s"stream $got != batch $batch")
      // target-vocab doc outranks off-target doc in the same stream
      val w = got.map(r => r._1 -> r._3).toMap
      assert(w(1L) > w(2L), "alpha-vocab doc must outrank beta-vocab doc")
    } finally q.stop()
  }

  test("ingestIvfStream: N micro-batch appends (incl. a replay) equal one " +
      "batch appendBatch") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    def vec(id: Long): Seq[Double] =
      (0 until 8).map(j => ((id * 7 + j * 13) % 10).toDouble)
    val base = (1L to 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val newRows = (41L to 52L).map(i => Vec(i, vec(i + 100)))

    val dirS = java.nio.file.Files.createTempDirectory("graft_ivf_stream").toString
    val idxS = graft.functions.IvfIndex.build(
      base, "vec_id", "embedding", nCells = 4, s"$dirS/idx", m = 4)
    val mem = MemoryStream[Vec]
    val indexedIds = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q = StreamOps.ingestIvfStream(mem.toDF(), idxS, "vec_id", "embedding") {
      fresh => indexedIds += fresh.select("vec_id").as[Long].collect().toSet
    }
    try {
      val b1 = newRows.take(4); val b2 = newRows.slice(4, 8); val b3 = newRows.drop(8)
      Seq(b1, b2, b3).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      // a crashed-and-replayed delivery: the SAME rows as b2 arrive again
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // onIndexed saw each row exactly once; the replay delivered nothing
    assert(indexedIds.map(_.size).toSeq == Seq(4, 4, 4, 0),
      s"per-batch indexed ids: $indexedIds")
    assert(indexedIds.flatten.toSet == (41L to 52L).toSet)

    // reference: one big batch append on an identically-built index
    val dirB = java.nio.file.Files.createTempDirectory("graft_ivf_batch").toString
    val idxB = graft.functions.IvfIndex.build(
      base, "vec_id", "embedding", nCells = 4, s"$dirB/idx", m = 4)
    idxB.appendBatch(
      newRows.map(v => (v.vec_id, v.embedding)).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    def state(i: graft.functions.IvfIndex): Set[(Long, Int, Seq[Int])] =
      i.cells.select(col("id"), col("cell"), col("codes"))
        .as[(Long, Int, Seq[Int])].collect().toSet
    assert(state(idxS) == state(idxB),
      "streamed index layout must equal the one-shot batch append")
  }

  test("ingestIvfStream crash-replay: micro-batches killed at randomized " +
    "points (downstream consumer AND the index's pre-commit window — data " +
    "generation staged, manifest unpublished) replay to a converged index; " +
    "vacuum reaps the orphaned staging") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    def vec(id: Long): Seq[Double] =
      (0 until 8).map(j => ((id * 7 + j * 13) % 10).toDouble)
    val base = (1L to 30L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    // b2 re-delivers one of b1's rows (cross-batch dup on top of the
    // crash replays — both idempotence layers exercised together)
    val batches = Seq(
      (31L to 36L).map(i => Vec(i, vec(i + 100))),
      Vec(31L, vec(131L)) +: (37L to 40L).map(i => Vec(i, vec(i + 100))),
      (41L to 45L).map(i => Vec(i, vec(i + 100))))

    /** Deliver ONE micro-batch through a fresh query against the index
      * at `dir`; `kill` arms an injected crash either in the downstream
      * onIndexed consumer (before the sink write) or at the index's
      * pre-commit window. Returns whether the batch landed. */
    def attempt(dir: String, batch: Seq[Vec], kill: Option[String],
        sink: scala.collection.mutable.Set[Long]): Boolean = {
      val mem = MemoryStream[Vec]
      val armed = new java.util.concurrent.atomic.AtomicBoolean(kill.isDefined)
      if (kill.contains("precommit"))
        graft.functions.StoreCommit.onBeforeCommit = () =>
          if (armed.getAndSet(false))
            throw new RuntimeException("injected crash: pre-commit")
      val ix = graft.functions.IvfIndex.load(spark, s"$dir/idx")
      val q = StreamOps.ingestIvfStream(mem.toDF(), ix, "vec_id", "embedding") {
        fresh =>
          if (kill.contains("onIndexed") && armed.getAndSet(false))
            throw new RuntimeException("injected crash: downstream consumer")
          sink ++= fresh.select("vec_id").as[Long].collect()
      }
      try { mem.addData(batch: _*); q.processAllAvailable(); true }
      catch { case _: Throwable => false }
      finally {
        q.stop()
        graft.functions.StoreCommit.onBeforeCommit = () => ()
      }
    }

    def freshIndex(): String = {
      val d = java.nio.file.Files
        .createTempDirectory("graft_ivf_killreplay").toString
      graft.functions.IvfIndex.build(
        base, "vec_id", "embedding", nCells = 4, s"$d/idx", m = 4)
      d
    }
    def state(dir: String): Set[(Long, Int, Seq[Int])] =
      graft.functions.IvfIndex.load(spark, s"$dir/idx").cells
        .select(col("id"), col("cell"), col("codes"))
        .as[(Long, Int, Seq[Int])].collect().toSet

    // uninterrupted reference run
    val refDir = freshIndex()
    val refSink = scala.collection.mutable.Set.empty[Long]
    batches.foreach(b => assert(attempt(refDir, b, None, refSink)))
    val refState = state(refDir)
    assert(refState.map(_._1) == (1L to 45L).toSet)

    // randomized kill scenarios (seeded — reproducible): each batch
    // draws a kill point; every scenario kills at least once
    val rnd = new scala.util.Random(0x5EED)
    val points = Seq(None, Some("onIndexed"), Some("precommit"))
    for (scenario <- 1 to 4) {
      var kills = batches.map(_ => points(rnd.nextInt(points.size)))
      if (kills.forall(_.isEmpty)) kills = kills.updated(0, Some("precommit"))
      val dir = freshIndex()
      val got = scala.collection.mutable.Set.empty[Long]
      batches.zip(kills).foreach { case (b, kill) =>
        val landed = attempt(dir, b, kill, got)
        assert(landed == kill.isEmpty,
          s"scenario $scenario: kill=$kill landed=$landed")
        // an at-least-once source redelivers the crashed batch: the
        // replay must land and converge (rows already appended by a
        // crashed-downstream attempt screen out as already indexed)
        if (!landed) assert(attempt(dir, b, None, got),
          s"scenario $scenario: replay of killed batch failed")
      }
      assert(got.toSet == refSink.toSet,
        s"scenario $scenario (kills=$kills): onIndexed union diverged")
      assert(state(dir) == refState,
        s"scenario $scenario (kills=$kills): index state diverged — a " +
          "crashed micro-batch double-appended or left ghost rows")
      // crashed pre-commit attempts stage orphan generations: vacuum
      // reaps them and the served state is unchanged
      graft.functions.IvfIndex.load(spark, s"$dir/idx").vacuum(keepLast = 1)
      assert(state(dir) == refState,
        s"scenario $scenario: vacuum after crash-replay changed the index")
    }
  }
}

final case class Vec(vec_id: Long, embedding: Seq[Double])

final case class CadEv(event_id: Long, ts: Timestamp, user_id: Long, event_type: String)

/** Regression tests for the streaming self-review fixes: order-column
  * precision and tie semantics in the CDC twin, backward out-of-order
  * events in the custom-state session op, NaN-free cadence rollups,
  * disappearance cells in the drift monitor, and the loud-precondition
  * parity of the funnel/as-of twins. */
class StreamOpsFixesSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

  test("applyChangesStream orders timestamps at full precision (100ms apart is not a collision)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val q = StreamOps.applyChangesStream(
        mem.toDF().toDF("id", "seq", "op", "val"),
        keyCol = "id", orderCol = "seq", opCol = "op")
      .writeStream.outputMode("update")
      .format("memory").queryName("cdc_ts_out").start()
    val t0 = ts(1)
    val t1 = new Timestamp(t0.getTime + 100) // same second, 100ms later
    try {
      mem.addData((1L, t0, "I", 1.0)); q.processAllAvailable()
      mem.addData((1L, t1, "U", 2.0)); q.processAllAvailable()
      val last = spark.table("cdc_ts_out")
        .orderBy(org.apache.spark.sql.functions.col("_cdc_order").desc)
        .select("val").as[Double].head()
      assert(last == 2.0, "the 100ms-later update must win, not collide")
    } finally q.stop()
  }

  test("applyChangesStream: an in-batch superseded tie resolves to the winner") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Double)]
    val q = StreamOps.applyChangesStream(
        mem.toDF().toDF("id", "seq", "op", "val"),
        keyCol = "id", orderCol = "seq", opCol = "op")
      .writeStream.outputMode("update")
      .format("memory").queryName("cdc_tie_out").start()
    try {
      // {5, 5, 7} in ONE batch: the tie at 5 is superseded by 7 — the
      // batch operator accepts this multiset (no tie at the final max),
      // so the stream must too, in every iterator order
      mem.addData((1L, 5L, "I", 1.0), (1L, 5L, "U", 2.0), (1L, 7L, "U", 3.0))
      q.processAllAvailable()
      val got = spark.table("cdc_tie_out")
        .select("seq", "val").as[(Long, Double)].collect().toSet
      assert(got == Set((7L, 3.0)), s"got $got")
    } finally q.stop()
  }

  test("applyChangesStream refuses a non-orderable orderCol type loudly") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, Double)]
    val e = intercept[IllegalArgumentException] {
      StreamOps.applyChangesStream(
        mem.toDF().toDF("id", "seq", "op", "val"),
        keyCol = "id", orderCol = "seq", opCol = "op")
    }
    assert(e.getMessage.contains("orderCol"), e.getMessage)
  }

  test("sessionTotalsWithTimeout: a backward out-of-order event beyond the gap " +
      "closes as its own session instead of stretching the open one") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamOps.sessionTotalsWithTimeout(
        mem.toDF(), gapMinutes = 30, watermark = "2 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_back_out").start()
    try {
      mem.addData(Ev(0, ts(50), 1, 1.0)); q.processAllAvailable()
      // 49 minutes EARLIER than the open session's start (> 30-min gap),
      // still inside the 2h watermark so it reaches the state function
      mem.addData(Ev(1, ts(1), 1, 5.0)); q.processAllAvailable()
      val got = rows(spark.table("sess_back_out")
        .select("user_id", "session_start", "session_end", "n_events", "sum_value"))
      assert(got == Seq(Seq(1L, ts(1), ts(1), 1L, 5.0)),
        s"the late lone event must close as its own session, got $got")
    } finally q.stop()
  }

  test("interArrivalStream: gapless keys emit null min/max, and rollups ignore them") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[CadEv]
    val q = StreamOps.interArrivalStream(mem.toDF())
      .writeStream.outputMode("update")
      .format("memory").queryName("cad_null_out").start()
    try {
      mem.addData(CadEv(0, ts(1), 1, "a"), CadEv(1, ts(3), 1, "a"),
        CadEv(2, ts(2), 1, "b"))
      q.processAllAvailable()
      val gapless = spark.table("cad_null_out")
        .filter(org.apache.spark.sql.functions.col("event_type") === "b")
        .select("min_gap_s", "max_gap_s").collect()(0)
      assert(gapless.isNullAt(0) && gapless.isNullAt(1),
        "gapless key must emit nulls (NaN would poison max rollups)")
      val rolledMax = spark.table("cad_null_out")
        .agg(org.apache.spark.sql.functions.max("max_gap_s"))
        .collect()(0).getDouble(0)
      assert(rolledMax == 120.0, s"rollup must ignore gapless keys, got $rolledMax")
    } finally q.stop()
  }

  test("categoryDriftStream emits a disappearance cell for an unobserved baseline category") {
    implicit val sqlCtx = spark.sqlContext
    val baseline = Map("view" -> 0.5, "click" -> 0.5)
    val mem = MemoryStream[CadEv]
    val q = StreamOps.categoryDriftStream(mem.toDF(), windowMinutes = 10, baseline)
      .writeStream.outputMode("update")
      .format("memory").queryName("drift_zero_out").start()
    try {
      // the click feed is dead: 4 view events, zero click
      mem.addData((0 to 3).map(i => CadEv(i, ts(i + 1), 1, "view")): _*)
      q.processAllAvailable()
      val click = spark.table("drift_zero_out")
        .filter(org.apache.spark.sql.functions.col("category") === "click")
        .select("n_obs", "expected", "chi2_term")
        .as[(Long, Double, Double)].collect()
      assert(click.nonEmpty, "a dead baseline category must still emit its cell")
      assert(click.head == ((0L, 2.0, 2.0)), s"got ${click.head}")
    } finally q.stop()
  }

  test("streamingFunnel and asofAgainstStatic enforce the batch twins' preconditions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[CadEv]
    intercept[IllegalArgumentException] {
      StreamOps.streamingFunnel(mem.toDF(), Seq("view", "view"))
    }
    intercept[IllegalArgumentException] {
      StreamOps.streamingFunnel(mem.toDF(), Seq("view"))
    }
    val stream = Seq((1L, ts(1))).toDF("user_id", "ts")
    val dim = Seq((1L, ts(0))).toDF("user_id", "ts")
    intercept[IllegalArgumentException] {
      StreamOps.asofAgainstStatic(stream, dim, "user_id", "ts", asofCol = "ts")
    }
  }
}

final case class LocfEv(event_id: Long, ts: Timestamp, user_id: Long, value: Double)
