package graft

import org.apache.spark.sql.functions._
import graft.functions.Multimodal

/** Multimodal plumbing + REAL PNG decode: schema, partition-wise batch
  * shape, codec-backed dimensions/features/resize. Video rides the GVID
  * container (real structural demux of real PNG frames; only the
  * commercial codec layer is out of scope — no H.264 decoder in the JDK). */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val media = Multimodal.syntheticMedia(spark, 40).cache()

  test("synthetic media conforms to the canonical schema") {
    assert(media.schema == Multimodal.mediaSchema)
    assert(media.count() == 40)
  }

  test("real decode: PNG dimensions match the metadata struct") {
    val decoded = Multimodal.decodeInfo(media)
      .toDF("asset_id", "w", "h", "decoded")
    val mismatches = decoded.join(media, "asset_id")
      .filter(!col("decoded")
        || col("w") =!= col("meta.width") || col("h") =!= col("meta.height"))
      .count()
    assert(mismatches == 0, "decoded dims diverge from meta")
  }

  test("feature extraction: real histogram, stable across recomputation") {
    val f1 = Multimodal.extractFeatures(media, dim = 16)
    val first = f1.head()
    assert(first.feature.length == 16)
    // a luminance histogram is L1-normalized
    assert(math.abs(first.feature.map(_.toDouble).sum - 1.0) < 1e-4)
    val a = f1.collect().map(m => m.asset_id -> m.feature.toSeq).toMap
    val b = Multimodal.extractFeatures(media, dim = 16)
      .collect().map(m => m.asset_id -> m.feature.toSeq).toMap
    assert(a == b)
  }

  test("feature extraction composes with Similarity search") {
    val feats = Multimodal.extractFeatures(media, dim = 16)
      .toDF("vec_id", "embedding")
    val topk = graft.functions.Similarity.bruteForceTopK(
      feats, feats.filter(col("vec_id") < 3), "vec_id", "embedding", 2)
    assert(topk.count() == 6) // 3 queries x top-2
  }

  test("frame sampling: every n-th chunk, typed binary frames") {
    val lens = media.select(col("asset_id"), length(col("media")).as("len"))
      .as[(Long, Int)].collect().toMap
    val frames = Multimodal.sampleFrames(media, everyN = 4, frameSize = 256)
    frames.collect().foreach { f =>
      val nChunks = (lens(f.asset_id) + 255) / 256
      val expected = (nChunks + 3) / 4 // every 4th chunk, starting at 0
      assert(f.frames.length == expected)
      assert(f.frames.head.length <= 256 && f.frames.head.length > 0)
    }
  }

  test("real audio decode: WAV PCM round-trips rate/frames/RMS") {
    val audio = Multimodal.syntheticAudio(spark, 20,
      seconds = 0.1, sampleRate = 8000).cache()
    assert(audio.schema == Multimodal.audioSchema)
    val infos = Multimodal.decodeAudioInfo(audio).collect()
    assert(infos.length == 20)
    infos.foreach { a =>
      assert(a.decoded, s"asset ${a.asset_id} failed to decode")
      assert(a.sample_rate == 8000 && a.channels == 1)
      assert(a.n_frames == 800)
      assert(math.abs(a.duration_s - 0.1) < 1e-9)
      // a 0.5-amplitude sine has RMS 0.5/sqrt(2) ~= 0.3536
      assert(math.abs(a.rms - 0.3536) < 0.01, s"rms ${a.rms}")
    }
    // non-audio bytes degrade gracefully
    val bad = Multimodal.decodeAudioInfo(
      media.select(col("asset_id"), col("media"))).collect()
    assert(bad.forall(!_.decoded))
  }

  test("real resize: re-encoded bytes decode at the new dimensions") {
    val resized = Multimodal.resize(media, 16, 16).cache()
    assert(resized.schema == Multimodal.mediaSchema)
    val m = resized.select(col("meta.width"), col("meta.height")).head()
    assert(m.getInt(0) == 16 && m.getInt(1) == 16)
    // the BYTES are really 16x16 now, not just the metadata
    val redecoded = Multimodal.decodeInfo(resized)
      .filter(i => !(i.decoded && i.width == 16 && i.height == 16))
    assert(redecoded.count() == 0)
  }

  private lazy val video =
    Multimodal.syntheticVideo(spark, 8, nFrames = 24, fps = 12f).cache()

  test("video: GVID demux samples every n-th frame with real timestamps") {
    assert(video.schema == Multimodal.videoSchema)
    val frames = Multimodal.sampleVideoFrames(video, everyN = 4).cache()
    // 24 frames, every 4th -> indices 0,4,...,20 = 6 per asset
    assert(frames.count() == 8 * 6)
    val f = frames.filter(f => f.asset_id == 3L && f.frame_idx == 4).head()
    assert(math.abs(f.ts_s - 4 / 12.0) < 1e-9)
    // sampled frames are REAL decodable PNGs at the asset's dimensions
    val w = 24 + 3 % 16
    val h = 16 + 3 % 12
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(f.frame))
    assert(img.getWidth == w && img.getHeight == h)
  }

  test("video: non-GVID bytes contribute zero rows, not failures") {
    val junk = media.select(col("asset_id"), col("media")) // PNGs, not GVID
    assert(Multimodal.sampleVideoFrames(junk, 2).count() == 0)
  }

  test("phash: exactly invariant under uniform brightness shift, through the codec") {
    val dups = Multimodal.syntheticMediaDups(spark, 12)
    val hashes = Multimodal.phashTable(dups)
      .as[(Long, Long)].collect().toMap
    assert(hashes.size == 24, "every rendered PNG must decode and hash")
    for (i <- 0L until 12L)
      assert(hashes(i) == hashes(i + 12),
        s"asset $i and its +17-brightness twin must hash identically")
    // unrelated noise images sit FAR apart — nowhere near the gate
    val dists = for {
      i <- 0L until 12L; j <- (i + 1) until 12L
    } yield java.lang.Long.bitCount(hashes(i) ^ hashes(j))
    assert(dists.min > 8,
      s"independent noise hashes must be distant, got min ${dists.min}")
  }

  test("phash pairs: banded join equals brute force (pigeonhole) and finds only twins") {
    val dups = Multimodal.syntheticMediaDups(spark, 12)
    val got = Multimodal.phashPairs(dups, maxHamming = 2, bands = 4)
      .as[(Long, Long, Int)].collect().toSeq
    assert(got == (0L until 12L).map(i => (i, i + 12, 0)))
    // brute-force reference over the hash table confirms banding lost nothing
    val hs = Multimodal.phashTable(dups).as[(Long, Long)].collect()
    val brute = for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 2
    } yield (a, b, d)
    assert(got.toSet == brute.toSet)
  }

  test("audio fingerprint: gain-shifted and resampled twins recovered through " +
      "the real WAV codec, unrelated recordings distant") {
    val n = 6
    // same seeded band-mix CONTENT per (id % 100): base at gain 0.5/8 kHz,
    // a 0.25-gain twin, and an 11025 Hz resampled twin
    val base = Multimodal.syntheticBandMixAudio(spark, n)
    val gained = Multimodal.syntheticBandMixAudio(spark, n,
      gain = 0.25, idOffset = 100L)
    val resampled = Multimodal.syntheticBandMixAudio(spark, n,
      sampleRate = 11025, idOffset = 200L)
    val all = base.unionByName(gained).unionByName(resampled)
    val fps = Multimodal.audioFingerprintTable(all)
      .as[(Long, Long)].collect().toMap
    assert(fps.size == 3 * n, "every rendered WAV must decode and fingerprint")
    // gain shift is exact (power-of-two gain scales every band power
    // proportionally); resampling may wobble a few delta bits
    for (i <- 0L until n) {
      assert(java.lang.Long.bitCount(fps(i) ^ fps(i + 100)) <= 2,
        s"asset $i vs its gain twin: ${java.lang.Long.bitCount(fps(i) ^ fps(i + 100))} bits")
      assert(java.lang.Long.bitCount(fps(i) ^ fps(i + 200)) <= 6,
        s"asset $i vs its resampled twin: ${java.lang.Long.bitCount(fps(i) ^ fps(i + 200))} bits")
    }
    val dists = for { i <- 0L until n; j <- (i + 1) until n }
      yield java.lang.Long.bitCount(fps(i) ^ fps(j))
    assert(dists.min > 12,
      s"independent band mixes must be distant, got min ${dists.min}")
    // the banded pair join recovers exactly the same-content pairs
    val pairs = Multimodal.audioFingerprintPairs(all, maxHamming = 6, bands = 8)
      .as[(Long, Long, Int)].collect().toSeq
    assert(pairs.forall { case (a, b, _) => a % 100 == b % 100 },
      s"cross-content pair leaked: $pairs")
    val want = (0L until n).flatMap(i =>
      Seq((i, i + 100), (i, i + 200), (i + 100, i + 200))).toSet
    assert(pairs.map(p => (p._1, p._2)).toSet == want,
      s"missing twin pairs: ${want -- pairs.map(p => (p._1, p._2)).toSet}")
  }

  test("corrupt GVID containers quarantine instead of crashing the task") {
    val good = Multimodal.syntheticVideo(spark, 1, nFrames = 2)
      .select("media").as[Array[Byte]].head()
    def corrupt(patch: (java.nio.ByteBuffer) => Unit): Array[Byte] = {
      val b = good.clone(); patch(java.nio.ByteBuffer.wrap(b)); b
    }
    val negLen = corrupt(_.putInt(12, -1))          // first frame length -1
    val hugeLen = corrupt(_.putInt(12, Int.MaxValue)) // 2 GB "frame"
    val zeroFps = corrupt(_.putInt(8, 0))           // fps 0 → Infinity ts
    val truncated = good.take(good.length / 2)
    for ((bad, what) <- Seq(negLen -> "negative frame length",
        hugeLen -> "huge frame length", zeroFps -> "zero fps",
        truncated -> "truncated container")) {
      val rows = Multimodal.sampleVideoFrames(
        Seq((9L, bad)).toDF("asset_id", "media"), everyN = 1).count()
      assert(rows == 0L, s"$what must quarantine (zero rows), got $rows")
    }
    // end-to-end: one corrupt row alongside a good one → only the good
    // asset's frames come out, no task failure
    val mixed = Seq((0L, good), (1L, negLen)).toDF("asset_id", "media")
    val ids = Multimodal.sampleVideoFrames(mixed, everyN = 1)
      .select("asset_id").as[Long].collect().toSet
    assert(ids == Set(0L), s"corrupt asset leaked or crashed: $ids")
    intercept[IllegalArgumentException] {
      Multimodal.sampleVideoFrames(mixed, everyN = 0)
    }
  }

  test("resize keeps original metadata on undecodable rows (no self-contradiction)") {
    import org.apache.spark.sql.Row
    val junk = Array[Byte](1, 2, 3, 4)
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(7L, junk, Row("webp", 640, 480))),
      Multimodal.mediaSchema)
    val out = Multimodal.resize(df, 16, 16).collect()(0)
    val meta = out.getStruct(2)
    assert(out.getAs[Array[Byte]](1).sameElements(junk))
    assert((meta.getString(0), meta.getInt(1), meta.getInt(2)) ==
      (("webp", 640, 480)),
      "undecodable row's metadata must stay the original, not the target dims")
  }

  test("band-mix rendering clamps at full scale — loud gain twins still collide") {
    // gain 2.0 drives peaks past 16-bit full scale; wrap-around would
    // distort the band powers and break the twin collision
    val base = Multimodal.syntheticBandMixAudio(spark, 2)
    val loud = Multimodal.syntheticBandMixAudio(spark, 2,
      gain = 2.0, idOffset = 100L)
    val fps = Multimodal.audioFingerprintTable(base.unionByName(loud))
      .as[(Long, Long)].collect().toMap
    for (i <- 0L until 2L)
      assert(java.lang.Long.bitCount(fps(i) ^ fps(i + 100)) <= 6,
        s"asset $i vs clipped-gain twin: ${java.lang.Long.bitCount(fps(i) ^ fps(i + 100))} bits")
  }

  test("video features: mean of real per-frame histograms, L1-normalized") {
    val feats = Multimodal.videoFeatures(video, everyN = 4, dim = 16).cache()
    assert(feats.count() == 8)
    val f = feats.head()
    assert(f.n_frames_used == 6)
    assert(f.feature.length == 16)
    // mean of L1-normalized histograms is L1-normalized
    assert(math.abs(f.feature.map(_.toDouble).sum - 1.0) < 1e-4)
    // deterministic across recomputation
    val a = feats.collect().map(v => v.asset_id -> v.feature.toSeq).toMap
    val b = Multimodal.videoFeatures(video, everyN = 4, dim = 16)
      .collect().map(v => v.asset_id -> v.feature.toSeq).toMap
    assert(a == b)
  }
}
