package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.EventStats

/** EventStats operators vs brute-force definitions on random data. */
class EventStatsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(day: Int, min: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-${day}%02d 00:$min%02d:00")

  private val evGen = Gen.listOfN(60,
    Gen.zip(Gen.choose(1L, 8L), Gen.choose(1, 9), Gen.choose(0, 59),
      Gen.oneOf("a", "b", "c")))

  storeTest("runningSum == sequential cumsum for random values and sparse keys") {
    for (seed <- 1 to 6) {
      val data = Gen.listOfN(50, Gen.zip(Gen.choose(-1000L, 1000L), Gen.choose(0L, 50L)))
        .pureApply(Gen.Parameters.default, Seed(seed.toLong))
        .map(_._1).distinct.zipWithIndex
        .map { case (k, i) => (k, (i % 7).toLong) }
      val df = data.toDF("k", "v")
      val got = EventStats.runningSum(df, col("k"), col("v"), "cum", nBuckets = 8)
        .select("k", "cum").as[(Long, Long)].collect().toMap
      var acc = 0L
      val expected = data.sortBy(_._1).map { case (k, v) => acc += v; k -> acc }.toMap
      assert(got == expected, s"seed=$seed")
    }
  }

  storeTest("runningSum on empty input yields null column, not a crash") {
    val df = Seq.empty[(Long, Long)].toDF("k", "v")
    assert(EventStats.runningSum(df, col("k"), col("v"), "cum").count() == 0L)
  }

  storeTest("runningSum refuses a partially-null order key with an actionable error") {
    val df = Seq((Some(1L), 1L), (None, 2L), (Some(3L), 3L)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      EventStats.runningSum(df, col("k"), col("v"), "cum").count()
    }
    assert(e.getMessage.contains("orderKey is null"), e.getMessage)
  }

  storeTest("runningSum skips null values per bucket, as sum over the bucket window does") {
    // nBuckets 3 over keys 0..8: width 3, buckets {0,1,2} {3,4,5} {6,7,8}.
    // Bucket 1 is all null (contributes 0 to later prefixes), bucket 2
    // leads with a null: a row is null until its bucket has summed a value
    val vals = Seq(Some(1L), None, Some(2L), None, None, None, None, Some(5L), None)
    val df = vals.zipWithIndex.map { case (v, k) => (k.toLong, v) }.toDF("k", "v")
    val got = EventStats.runningSum(df, col("k"), col("v"), "cum", nBuckets = 3)
      .select("k", "cum").as[(Long, Option[Long])].collect().toMap
    val expected = Map(0L -> Some(1L), 1L -> Some(1L), 2L -> Some(3L),
      3L -> None, 4L -> None, 5L -> None, 6L -> None, 7L -> Some(8L), 8L -> Some(8L))
    assert(got == expected)
  }

  storeTest("runningSum keeps the input's columns and replaces an existing outCol in place") {
    val df = Seq((2L, 10L, "b", 0L), (1L, 5L, "a", 0L)).toDF("k", "v", "tag", "cum")
    val out = EventStats.runningSum(df, col("k"), col("v"), "cum")
    assert(out.columns.toSeq == Seq("k", "v", "tag", "cum"))
    assert(out.schema("cum").dataType == org.apache.spark.sql.types.LongType)
    assert(out.orderBy("k").as[(Long, Long, String, Long)].collect().toSeq ==
      Seq((1L, 5L, "a", 5L), (2L, 10L, "b", 15L)))
  }

  test("dailyChurn keeps interior 100%-churn days across calendar gaps") {
    // events on Jan 1 and Jan 5 only: Jan 1 is a full-churn day (nobody
    // returns on Jan 2) and a LATER event day exists — it must be a row,
    // not silently vanish because Jan 2 itself has no events
    val df = Seq(
      (1L, ts(1, 0)), (2L, ts(1, 5)), (1L, ts(5, 0))
    ).toDF("user_id", "ts")
    val got = EventStats.dailyChurn(df, "user_id", "ts")
      .orderBy("day")
      .select("day", "actives", "retained", "churned")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("2024-01-01", 2L, 0L, 2L)),
      s"got ${got.toSeq}")
  }

  test("abTestZ buckets negative user ids into real arms (pmod, not %)") {
    val df = Seq(
      (-1L, "purchase", 200.0), (-2L, "purchase", 100.0),
      (3L, "view", 0.0), (4L, "purchase", 160.0)
    ).toDF("user_id", "event_type", "value")
    val r = EventStats.abTestZ(df, "user_id", "event_type", "value",
      "purchase", 150.0).collect()(0)
    // arms: pmod(-1)=1, pmod(-2)=0, pmod(3)=1, pmod(4)=0 → n0=n1=2, every
    // user is counted in exactly one arm
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L,
      s"n0=${r.getLong(0)} n1=${r.getLong(1)} — negative ids dropped?")
    assert(r.getLong(2) + r.getLong(3) == 2L) // conversions: -1 and 4
  }

  storeTest("cumulativeDistinctUsers == brute-force distinct recount per day") {
    for (seed <- 1 to 6) {
      val evs = evGen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
        .map { case (u, day, min, _) => (u, ts(day, min)) }
      val df = evs.toDF("user_id", "ts")
      val got = EventStats.cumulativeDistinctUsers(df, "user_id", "ts")
        .orderBy("day")
        .select(col("day").cast("string"), col("new_users"), col("cum_users"))
        .as[(String, Long, Long)].collect().toSeq

      val days = evs.map(_._2.toLocalDateTime.toLocalDate).distinct.sorted
      val expected = days.map { d =>
        val until = evs.filter(!_._2.toLocalDateTime.toLocalDate.isAfter(d)).map(_._1).toSet
        val before = evs.filter(_._2.toLocalDateTime.toLocalDate.isBefore(d)).map(_._1).toSet
        (d.toString, (until -- before).size.toLong, until.size.toLong)
      }
      assert(got == expected, s"seed=$seed")
      // cumulative column is monotone and ends at the total distinct count
      assert(got.last._3 == evs.map(_._1).distinct.size.toLong)
    }
  }

  test("rollingActiveUsers == brute-force trailing-window recount") {
    for ((seed, win) <- Seq((1, 1), (2, 3), (3, 7), (4, 30))) {
      val evs = evGen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
        .map { case (u, day, min, _) => (u, ts(day, min)) }
      val df = evs.toDF("user_id", "ts")
      val got = EventStats.rollingActiveUsers(df, "user_id", "ts", win)
        .orderBy("day")
        .select(col("day").cast("string"), col("active_users"))
        .as[(String, Long)].collect().toSeq

      val days = evs.map(_._2.toLocalDateTime.toLocalDate).distinct.sorted
      val expected = days.map { d =>
        val lo = d.minusDays(win - 1L)
        val active = evs.filter { case (_, t) =>
          val ed = t.toLocalDateTime.toLocalDate
          !ed.isBefore(lo) && !ed.isAfter(d)
        }.map(_._1).toSet
        (d.toString, active.size.toLong)
      }
      assert(got == expected, s"seed=$seed win=$win")
    }
  }

  test("topPaths == brute-force sliding trigram counts with tie-break") {
    for (seed <- 1 to 5) {
      val evs = evGen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
        .zipWithIndex
        .map { case ((u, day, min, t), i) => (i.toLong, u, ts(day, min), t) }
      val df = evs.toDF("event_id", "user_id", "ts", "event_type")
      val got = EventStats
        .topPaths(df, "user_id", "event_type", "ts", "event_id", len = 3, k = 5)
        .as[(String, Long)].collect().toSeq

      val counts = evs.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(r => (r._3.getTime, r._1)).map(_._4).sliding(3)
          .filter(_.size == 3).map(_.mkString(">"))
      }.groupBy(identity).map { case (p, v) => p -> v.size.toLong }
      val expected = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(5)
      assert(got == expected, s"seed=$seed")
    }
  }

  test("groupQuantilesDisc == rank-ceil(q*n) brute force") {
    import graft.functions.Quantiles
    for (seed <- 1 to 5) {
      val data = Gen.listOfN(80,
        Gen.zip(Gen.oneOf("g1", "g2", "g3"), Gen.choose(-100.0, 100.0)))
        .pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val df = data.toDF("g", "v")
      val qs = Seq(0.25, 0.5, 0.9, 1.0)
      val got = Quantiles.groupQuantilesDisc(df, "g", "v", qs)
        .orderBy("g")
        .as[(String, Double, Double, Double, Double)].collect().toSeq
      val expected = data.groupBy(_._1).toSeq.sortBy(_._1).map { case (g, rows) =>
        val sorted = rows.map(_._2).sorted
        def disc(q: Double) = sorted(math.ceil(q * sorted.size).toInt - 1)
        (g, disc(0.25), disc(0.5), disc(0.9), disc(1.0))
      }
      assert(got == expected, s"seed=$seed")
    }
  }

  test("madOutliers == brute-force disc-median / MAD / cutoff count") {
    import graft.functions.Quantiles
    for (seed <- 1 to 5) {
      val data = Gen.listOfN(70,
        Gen.zip(Gen.oneOf("g1", "g2"), Gen.choose(-50.0, 50.0)))
        .pureApply(Gen.Parameters.default, Seed(seed.toLong))
      // plant an extreme outlier per group so the cutoff bites
      val planted = data ++ Seq(("g1", 1e6), ("g2", -1e6))
      val df = planted.toDF("g", "v")
      val got = Quantiles.madOutliers(df, "g", "v", cutoff = 3.0)
        .orderBy("g")
        .as[(String, Long, Double, Double, Long)].collect().toSeq
      val expected = planted.groupBy(_._1).toSeq.sortBy(_._1).map { case (g, rows) =>
        val vs = rows.map(_._2)
        def disc(xs: Seq[Double]) = {
          val s = xs.sorted; s(math.ceil(0.5 * s.size).toInt - 1)
        }
        val m = disc(vs)
        val devs = vs.map(v => math.abs(v - m))
        val mad = disc(devs)
        (g, vs.size.toLong, m, mad, devs.count(_ > 3.0 * mad).toLong)
      }
      assert(got == expected, s"seed=$seed")
      got.foreach { case (_, _, _, _, nOut) => assert(nOut >= 1L) }
    }
  }

  test("transitionCounts == brute-force adjacent pairs per user") {
    for (seed <- 1 to 6) {
      val evs = evGen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
        .zipWithIndex
        .map { case ((u, day, min, t), i) => (i.toLong, u, ts(day, min), t) }
      val df = evs.toDF("event_id", "user_id", "ts", "event_type")
      val got = EventStats
        .transitionCounts(df, "user_id", "event_type", "ts", "event_id")
        .as[(String, String, Long)].collect()
        .map { case (a, b, n) => (a, b) -> n }.toMap

      val expected = evs.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(r => (r._3.getTime, r._1)).map(_._4).sliding(2).collect {
          case Seq(a, b) => (a, b)
        }
      }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(got == expected, s"seed=$seed")
      // total transitions = total events minus one per active user
      assert(got.values.sum ==
        evs.length - evs.map(_._2).distinct.size)
    }
  }
}
